"""Date/time derivations.

Reference behaviors covered:
  * string -> timestamp cast of the funnel file's ``timestamp`` column
    (README.md:124)  -> :func:`to_ts`
  * deriving ``year``/``month`` columns for partitioned parquet output
    (README.md:87, 124, 166)  -> :func:`with_year_month`

The trailing-3-month incremental extract window (README.md:60, 147) is a
scalar-broadcast cutoff inside the query (plans/queries.q5_incremental_window).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def to_ts(col: str | Column, fmt: str | None = None) -> Column:
    """String -> timestamp (README.md:124). ``fmt=None`` accepts ISO-8601."""
    c = F.col(col) if isinstance(col, str) else col
    return F.to_timestamp(c, fmt) if fmt else F.to_timestamp(c)


def with_year_month(df: DataFrame, ts_col: str) -> DataFrame:
    """Add ``year``/``month`` partition columns from a timestamp column —
    the funnel job's derived-projection step (README.md:87, 166). These are
    the partition keys of the parquet sink, so partition pruning on
    year/month predicates is automatic downstream."""
    return df.withColumn("year", F.year(ts_col)).withColumn("month", F.month(ts_col))

