"""Streaming takedown queue: right-to-be-forgotten as a continuously
drained pipeline stage (round 12).

Takedown requests arrive the way everything else in the reference's
world arrives — files landing in a bucket (README.md:57-66's
object-created trigger pattern): each landed file carries a batch of
ids to forget. This query watches the request directory with the same
checkpointed file source as the ingest loops and applies each
micro-batch as ONE atomic snapshot transition over the curation family
(operators/snapshot.mutate_snapshot via forget_documents_versioned), so
readers resolving through the manifest see every takedown as a single
consistent flip across corpus + text index + IVF index.

Replay semantics — why this needs NO applied-markers, unlike the
additive rollup: a takedown is idempotent on ids. Re-delivering a
request batch (foreachBatch at-least-once, or a wiped checkpoint
re-delivering EVERY past request) re-runs removals whose targets are
already gone — the semi-joins match nothing, zero rows rewrite, and the
only cost is one extra (content-identical) snapshot generation. State
converges to the same place under any delivery history.

At 100 TB: requests are id-lists (KBs); each drained batch pays only
the partitions its targets live in (forget.py's pruned discovery +
one-pass partition rewrites), serialized behind in-flight ingest
appends by the family writer lease.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import LongType, StructField, StructType

from serverless_etl_bi_on_aws_spark.streaming.launch import (
    read_landing_zone,
    start_foreach_batch,
)


def start_takedown_stream(
    spark: SparkSession,
    request_dir: str,
    family_root: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    schema: StructType | None = None,
    available_now: bool = True,
    processing_time: str = "1 hour",
    fmt: str = "parquet",
    keep_n: int = 2,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Watch ``request_dir`` for takedown-request files and forget each
    micro-batch's ids from every artifact in the snapshot family.
    ``schema`` defaults to one bigint ``id_col`` column; pass the real
    request schema when requests carry more (extra columns are
    ignored — the first projection keeps ``id_col`` only).
    ``available_now=True`` = drain-then-stop (run from any scheduler);
    False = stay up on a processing-time trigger. ``keep_n`` is the
    snapshot retention depth this queue commits with — it commits once
    per micro-batch, so at the default depth 2 a reader can outlive its
    snapshot in seconds; size keep_n to (reader duration / takedown
    cadence) + 1 (see operators/snapshot.mutate_snapshot)."""
    from serverless_etl_bi_on_aws_spark.operators.forget import (
        forget_documents_versioned,
    )

    if schema is None:
        schema = StructType([StructField(id_col, LongType(), False)])

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        forget_documents_versioned(
            spark,
            family_root,
            batch_df.select(id_col).dropDuplicates(),
            id_col=id_col,
            keep_n=keep_n,
        )

    # max_files_per_trigger=1: one request FILE per micro-batch = one
    # snapshot commit per request — the cadence keep_n is sized to
    return start_foreach_batch(
        read_landing_zone(spark, request_dir, schema, fmt, max_files_per_trigger),
        apply_batch,
        checkpoint_dir,
        available_now,
        processing_time,
    )
