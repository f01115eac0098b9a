"""Relational + pipeline operators that go beyond a single DataFrame call:
the staging->final merge-upsert (the reference's 4-step Redshift load), the
dedup family, similarity search, and sessionization."""

from serverless_etl_bi_on_aws_spark.operators.merge import merge_upsert  # noqa: F401
from serverless_etl_bi_on_aws_spark.operators.dedup import (  # noqa: F401
    dedup_exact,
    dedup_latest_by_key,
    neardup_jaccard_pairs,
    minhash_signatures,
    neardup_minhash_lsh,
    simhash64,
)
from serverless_etl_bi_on_aws_spark.operators.similarity import (  # noqa: F401
    build_ivf_index,
    compact_ivf_index,
    dedup_embeddings_against_index,
    ivf_drift_status,
    ivf_probe_topk,
    pairwise_topk_blocked,
    retrain_ivf_index,
    topk_cosine_bruteforce,
    topk_cosine_ivf,
    topk_cosine_lsh,
    update_ivf_index,
)
from serverless_etl_bi_on_aws_spark.operators.semantic_dedup import (  # noqa: F401
    cluster_assignments,
    exact_and_clustered_pairs,
    semantic_dedup,
    semantic_neardup_pairs,
)
from serverless_etl_bi_on_aws_spark.operators.curation import (  # noqa: F401
    curation_report,
    curation_stages,
    semantic_curation_stage,
)
from serverless_etl_bi_on_aws_spark.operators.sessionize import sessionize  # noqa: F401
from serverless_etl_bi_on_aws_spark.operators.asof import asof_join  # noqa: F401
from serverless_etl_bi_on_aws_spark.operators.range_join import (  # noqa: F401
    range_join_binned,
)
from serverless_etl_bi_on_aws_spark.operators.skew import salted_join  # noqa: F401
from serverless_etl_bi_on_aws_spark.operators.bucketed import (  # noqa: F401
    append_to_bucketed_table,
    colocated_join,
    write_bucketed_table,
)
from serverless_etl_bi_on_aws_spark.operators.sampling import (  # noqa: F401
    deterministic_split,
    split_bucket,
    stratified_sample,
)
from serverless_etl_bi_on_aws_spark.operators.packing import (  # noqa: F401
    pack_sequential,
)
from serverless_etl_bi_on_aws_spark.operators.chunking import (  # noqa: F401
    chunk_documents,
)
