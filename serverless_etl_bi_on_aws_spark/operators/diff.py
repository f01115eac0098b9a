"""Table diff — keyed comparison of two table versions (the data-diff /
reconciliation step every migration or backfill ships with: "what did
the merge actually change?"). The reference's pipeline re-loads whole
windows and trusts the merge (README.md:67-70,128); this operator is the
audit that trust rests on.

``table_diff_summary`` classifies every key as added / removed /
changed / unchanged in ONE full-outer join on the key columns:
presence flags + a null-safe struct equality on the compared columns
(``eqNullSafe`` over ``struct(...)`` — NULLs compare equal, engine-exact,
no row hashing so the same semantics re-express in ANSI SQL as
``IS DISTINCT FROM`` for the oracle). ``changed_column_counts`` drills
into the changed class: one row per compared column with the count of
keys whose value differs — the "which column drifted" question asked
right after "how many rows".

Scale shape: one keyed shuffle (the join) sized by the two tables; the
summary is a 4-row aggregate of it, the drill-down a |columns|-row
aggregate of the changed subset (conditional sums in one pass, no
per-column jobs). Broadcast never applies — both sides are data-sized —
but AQE's skew handling does.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from serverless_etl_bi_on_aws_spark.util import local_frame


def _classified(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    l = left.select(
        *keys,
        F.lit(1).alias("__in_l"),
        F.struct(*[F.col(c).alias(c) for c in compare_cols]).alias("__l"),
    )
    r = right.select(
        *keys,
        F.lit(1).alias("__in_r"),
        F.struct(*[F.col(c).alias(c) for c in compare_cols]).alias("__r"),
    )
    joined = l.join(r, list(keys), "full_outer")
    return joined.withColumn(
        "status",
        F.when(F.col("__in_l").isNull(), F.lit("added"))
        .when(F.col("__in_r").isNull(), F.lit("removed"))
        .when(F.col("__l").eqNullSafe(F.col("__r")), F.lit("unchanged"))
        .otherwise(F.lit("changed")),
    )


def table_diff_summary(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """``status, n_rows`` over {added, removed, changed, unchanged} —
    always all four rows (zero-filled), so the report schema is stable."""
    if compare_cols is None:
        compare_cols = [c for c in left.columns if c not in keys]
    counted = (
        _classified(left, right, keys, compare_cols)
        .groupBy("status")
        .agg(F.count("*").alias("n_rows"))
    )
    statuses = local_frame(
        left.sparkSession,
        [("added",), ("removed",), ("changed",), ("unchanged",)],
        "status string",
    )
    return (
        statuses.join(counted, "status", "left")
        .select("status", F.coalesce("n_rows", F.lit(0)).alias("n_rows"))
        .orderBy("status")
    )


def changed_column_counts(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """``col, n_changed`` — for keys present on both sides, how many have
    a differing value per column. One conditional-sum pass over the
    joined rows (no per-column jobs)."""
    if compare_cols is None:
        compare_cols = [c for c in left.columns if c not in keys]
    both = _classified(left, right, keys, compare_cols).filter(
        F.col("__in_l").isNotNull() & F.col("__in_r").isNotNull()
    )
    row = both.agg(
        *[
            F.sum(
                (~F.col(f"__l.{c}").eqNullSafe(F.col(f"__r.{c}"))).cast("long")
            ).alias(f"_c{i}")
            for i, c in enumerate(compare_cols)
        ]
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"), F.col(f"_c{i}").alias("n_changed")
            )
            for i, c in enumerate(compare_cols)
        ]
    )
    return (
        row.select(F.explode(entries).alias("r"))
        .select("r.col", "r.n_changed")
        .orderBy("col")
    )
