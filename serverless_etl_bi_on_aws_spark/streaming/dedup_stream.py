"""Streaming deduplication + session windows.

ST4/ST5 generalized: the reference dedups by re-extracting a 3-month window
and key-merging (README.md:60, 67-70, 120). In a true stream the same
guarantee is `dropDuplicatesWithinWatermark` — state holds each key only
until the watermark passes it, so memory is bounded by keys-per-watermark
rather than stream history. Session windows replace the batch gap-window
algebra (operators/sessionize.py) with native event-time sessions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from serverless_etl_bi_on_aws_spark.streaming.launch import read_landing_zone


def stream_dedup(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    keys: Sequence[str],
    watermark_col: str = "ts",
    delay: str = "1 hour",
    fmt: str = "parquet",
) -> DataFrame:
    """Exactly-once-per-key stream within the watermark horizon: duplicates
    of a key arriving within ``delay`` of each other are dropped (the
    streaming analog of the staging key-merge; late re-sends inside the
    horizon are absorbed exactly like the reference's window rewrite)."""
    stream = read_landing_zone(spark, source_dir, schema, fmt)
    return stream.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_session_windows(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    user_col: str = "user_id",
    watermark: str = "1 day",
    fmt: str = "parquet",
) -> DataFrame:
    """Native event-time session windows (gap-based), per user: the
    streaming twin of operators/sessionize.sessionize — same gap semantics,
    but sessions close when the watermark passes the gap, so state is
    bounded. Returns one row per closed session."""
    stream = read_landing_zone(spark, source_dir, schema, fmt)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("sw"), F.col(user_col))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col(user_col),
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
