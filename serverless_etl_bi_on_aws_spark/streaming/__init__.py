"""Incremental/streaming engine: the Spark re-expression of the reference's
Data Pipeline + Lambda + Glue orchestration (SURVEY.md §2.9 ST1-ST5)."""

from serverless_etl_bi_on_aws_spark.streaming.incremental import (  # noqa: F401
    merge_into_generation_target,
    read_generation_target,
    start_incremental_merge,
    start_denorm_maintenance,
    start_rollup_maintenance,
)
from serverless_etl_bi_on_aws_spark.streaming.ingest_dedup import (  # noqa: F401
    apply_curation_batch,
    apply_dedup_batch,
    apply_embedding_dedup_batch,
    apply_hash_dedup_batch,
    start_incremental_curation,
    start_incremental_dedup,
)
from serverless_etl_bi_on_aws_spark.streaming.funnel import (  # noqa: F401
    stream_funnel_window_counts,
)
