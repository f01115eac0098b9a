"""Transactional-table format gate (Delta Lake), with a parquet fallback.

The reference's merge protocol is staging-table + delete-matching + insert
(README.md:67-70) because Redshift gives it transactions. On Spark, the
first-class equivalent is a lakehouse table format (Delta/Iceberg) whose
``MERGE INTO`` is atomic via the transaction log. This container image
ships neither the delta-spark package nor its jars, so the engine gates the
format behind an import-try and falls back to the engine's own parquet
merge into a generation store (streaming/incremental.py) — same
delete-matching semantics, a pointer-marker commit instead of a log. Read
a fallback target with ``read_generation_target``.

Nothing else in the engine imports delta; this module is the single seam
where a deployment with the jars present upgrades the merge path.
"""

from __future__ import annotations

import importlib.util
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from serverless_etl_bi_on_aws_spark.streaming.incremental import (
    merge_into_generation_target,
)


def delta_available() -> bool:
    """True iff the delta-spark python package is importable. (The matching
    io.delta jars must also be on the session classpath — configured at
    session build time via ``configure_spark_with_delta_pip`` when the
    package exists.)"""
    return importlib.util.find_spec("delta") is not None


def merge_upsert_target(
    spark: SparkSession,
    staging: DataFrame,
    target_path: str,
    keys: Sequence[str],
) -> str:
    """Upsert ``staging`` into the table at ``target_path`` by ``keys``.

    Uses Delta ``MERGE INTO`` (whenMatched update / whenNotMatched insert)
    when the format is available; otherwise the engine's idempotent
    anti-join + union merge into a parquet generation store. Returns which path ran
    ("delta" | "parquet") so callers/tests can see the gate's decision.
    """
    if delta_available():  # pragma: no cover - jars absent in this image
        from delta.tables import DeltaTable

        if not DeltaTable.isDeltaTable(spark, target_path):
            staging.write.format("delta").mode("overwrite").save(target_path)
            return "delta"
        target = DeltaTable.forPath(spark, target_path)
        cond = " AND ".join(f"t.`{k}` = s.`{k}`" for k in keys)
        (
            target.alias("t")
            .merge(staging.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return "delta"

    merge_into_generation_target(spark, staging, target_path, keys)
    return "parquet"
