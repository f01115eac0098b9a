"""Semantic (cluster-pruned) embedding dedup — the SemDeDup recipe on
Spark (north-star X2/X3 intersection; SURVEY.md §2.10).

The exact embedding dedup (:func:`~serverless_etl_bi_on_aws_spark.
operators.similarity.dedup_by_cosine`) is quadratic by construction:
every block pair of the corpus meets in one matmul tile. The standard
subquadratic move for training corpora (Abbas et al., "SemDeDup:
Data-efficient learning at web-scale through semantic deduplication",
arXiv:2303.09540) is to k-means-partition the embedding space first and
search for duplicates ONLY within a cluster: pair cost drops from
O((N/B)^2) tiles to O(K * (N/K/B)^2) — with cluster count K scaled so
cluster size stays ~constant, the total work is linear in N with a
per-cluster constant.

What the pruning trades away is CROSS-cluster pairs: two vectors over
the threshold that k-means separated are not examined, so the dropped
set is a SUBSET of the exact rule's. q80 exports exactly that contract
to the driver: dropped ⊆ exact-dropped (expected-TRUE), plus a measured
capture-ratio floor — the same honest-calibration discipline as q13's
LSH recall booleans.

The INCREMENTAL twin of this operator is the persisted-IVF loop:
``dedup_embeddings_against_index`` + ``update_ivf_index``
(operators/similarity.py) probe a new batch against cluster-partitioned
parquet with the same centroid-pruning idea, and
``streaming/ingest_dedup.apply_embedding_dedup_batch`` runs it as an
ingest pipeline — use THIS operator for one-shot corpus dedup and the
index loop when batches arrive continuously.

Measured A/B (git show 663bcd2:tools/ab_semantic_tiles.py, replicated sf0.1 corpus,
cluster size held constant): at N=96k the pruned tiling runs 3.4-3.6x
faster than the exact path and grows ~linearly where exact grows with
its quadratic tile count; NEAR-DUPLICATE capture is 100% at both
tested sizes (every planted replica pair co-clusters), while
moderate-similarity (0.4) capture sits at ~63-64% — the trade the
threshold choice buys into.

Spark shape (all declarative until the per-tile BLAS kernel):
  * assignment = one KMeans fit (seed-pinned) + model.transform —
    identical machinery to the IVF index build (similarity.py:437); an
    existing IVF index's partition column can be reused as the cluster
    column via ``assignments=``.
  * within-cluster pairs = the SAME block-pair tiling as the exact
    operators, re-keyed by (cluster, bi, bj): per-cluster block counts
    come from one tiny groupBy (K rows driver-side, like the centroid
    read), every tile group holds two operand blocks, and the kernel is
    the shared :func:`similarity._block_operands` + one matmul. A
    cluster larger than ``block_rows`` therefore sub-tiles instead of
    concentrating in one task — no single-task cluster bound.
  * survivor rule = the dominance rule, verbatim from
    ``dedup_by_cosine``: drop iff higher id of ANY over-threshold
    same-cluster pair — order-independent, one anti-join, no iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from serverless_etl_bi_on_aws_spark.operators.similarity import _block_operands


def cluster_assignments(
    embeddings: DataFrame,
    n_clusters: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample_rows: int | None = None,
) -> DataFrame:
    """(id, _cluster) via one seed-pinned KMeans fit — the same
    assignment the IVF index build persists (similarity.py:437); callers
    with a built index should pass its corpus ``_cluster`` column to
    :func:`semantic_neardup_pairs` instead of re-fitting.

    ``fit_sample_rows`` — the 100 TB fit knob (round-10 verdict #2),
    identical semantics to ``build_ivf_index``: the KMeans fit sees only
    a bounded seeded sample and the FULL corpus is assigned through the
    shared Arrow/BLAS argmin stage (similarity._assign_with_centroids).
    Cluster placement decides only which pairs the pruned search
    EXAMINES; the dropped⊆exact and capture contracts (q80) hold for
    ANY assignment, so sampling trades capture ratio, never soundness.

    Degenerate shapes degrade instead of failing the fit (Spark KMeans
    rejects k < 2 and crashes when the corpus has fewer rows than k):
    the requested k is clamped to [2, n]; below 2 effective clusters the
    whole corpus is one cluster — semantic dedup then equals the exact
    dominance rule, the correct limit. The sizing ``count()`` is the
    same O(1)-result driver action the block tiling already pays."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    n = embeddings.count()
    k = min(int(n_clusters), n)
    if k < 2:
        return embeddings.select(
            F.col(id_col), F.lit(0).cast("int").alias("_cluster")
        )
    if fit_sample_rows is not None:
        from serverless_etl_bi_on_aws_spark.operators.similarity import (
            _assign_with_centroids,
            _fit_centroids_on_sample,
        )

        centers = _fit_centroids_on_sample(
            embeddings, k, seed, vec_col, fit_sample_rows
        )
        return _assign_with_centroids(embeddings, centers, vec_col).select(
            F.col(id_col), F.col("_cluster")
        )
    feat = embeddings.withColumn("_features", array_to_vector(F.col(vec_col)))
    model = KMeans(k=k, seed=seed, featuresCol="_features").fit(feat)
    return (
        model.transform(feat)
        .select(F.col(id_col), F.col("prediction").alias("_cluster"))
    )


def _tag_cluster_block_pairs(
    embeddings: DataFrame,
    assignments: DataFrame,
    id_col: str,
    vec_col: str,
    block_rows: int,
) -> DataFrame:
    """The block-pair tiling of similarity._tag_block_pairs, re-keyed by
    cluster: rows join (cluster, bi, bj) tiles where bi <= bj index
    blocks WITHIN the row's cluster. Per-cluster block counts are one
    small aggregate collected driver-side (K rows — the same acceptable
    driver read as the IVF centroid table); the expanded tile dimension
    is broadcast. Replication per row is its own cluster's block count,
    not the corpus's — that is the entire subquadratic claim."""
    import math

    spark = embeddings.sparkSession
    src = (
        embeddings.select(
            F.col(id_col).cast("bigint").alias("_id"), F.col(vec_col).alias("_vec")
        )
        .join(
            assignments.select(
                F.col(id_col).cast("bigint").alias("_id"), "_cluster"
            ),
            "_id",
        )
    )
    counts = {
        int(r["_cluster"]): int(r["n"])
        for r in src.groupBy("_cluster").agg(F.count("*").alias("n")).collect()
    }
    pair_rows = []
    blocks = {}
    for c, n in counts.items():
        nb = max(1, math.ceil(n / block_rows))
        blocks[c] = nb
        pair_rows.extend((c, i, j) for i in range(nb) for j in range(i, nb))
    if not pair_rows:
        return spark.createDataFrame(
            [], "c int, bi int, bj int, _role int, _id bigint, _vec array<float>"
        )
    blk_dim = spark.createDataFrame(
        [(c, nb) for c, nb in blocks.items()], "_cluster int, _nb int"
    )
    src = src.join(F.broadcast(blk_dim), "_cluster").withColumn(
        "_blk", F.pmod(F.hash(F.col("_id")), F.col("_nb"))
    )
    pair_dim = spark.createDataFrame(pair_rows, "c int, bi int, bj int")
    left = src.join(
        F.broadcast(pair_dim),
        (src["_cluster"] == pair_dim["c"]) & (src["_blk"] == pair_dim["bi"]),
    ).withColumn("_role", F.lit(0))
    off = pair_dim.filter(F.col("bi") != F.col("bj"))
    right = src.join(
        F.broadcast(off),
        (src["_cluster"] == off["c"]) & (src["_blk"] == off["bj"]),
    ).withColumn("_role", F.lit(1))
    return left.unionByName(right).select("c", "bi", "bj", "_role", "_id", "_vec")


def semantic_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_clusters: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 2048,
    assignments: DataFrame | None = None,
    fit_sample_rows: int | None = None,
) -> DataFrame:
    """Every unordered SAME-CLUSTER pair with cosine >= ``threshold``:
    (id_1, id_2, cosine) with id_1 < id_2. A subset of
    ``neardup_cosine_pairs``'s exact output by construction — the
    subquadratic candidate generator, with the exact operator as its
    verifier (q80 pins the subset + capture-floor contract).

    With an EXTERNAL ``assignments`` frame, vectors absent from it
    never enter the pair search (the assignment join is inner): they
    are unclusterable, emit no pairs, and therefore always SURVIVE
    :func:`semantic_dedup` — the same conservative pass-through rule
    the curation funnel applies to unembedded docs."""
    if assignments is None:
        assignments = cluster_assignments(
            embeddings, n_clusters, seed, id_col, vec_col, fit_sample_rows
        )
    tagged = _tag_cluster_block_pairs(
        embeddings, assignments, id_col, vec_col, block_rows
    )
    th = float(threshold)

    def group_pairs(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "id_1": pd.Series(dtype="int64"),
                "id_2": pd.Series(dtype="int64"),
                "_cos": pd.Series(dtype="float64"),
            }
        )
        ops = _block_operands(pdf)
        if ops is None:
            return empty
        lids, rids, lm, rm, diag = ops
        sims = lm @ rm.T
        mask = sims >= th
        if diag:
            mask &= lids[:, None] < rids[None, :]
        ri, ci = np.nonzero(mask)
        if len(ri) == 0:
            return empty
        a, b = lids[ri], rids[ci]
        return pd.DataFrame(
            {
                "id_1": np.minimum(a, b),
                "id_2": np.maximum(a, b),
                "_cos": sims[ri, ci],
            }
        )

    return (
        tagged.groupBy("c", "bi", "bj")
        .applyInPandas(group_pairs, schema="id_1 bigint, id_2 bigint, _cos double")
        .select("id_1", "id_2", F.round("_cos", 6).alias("cosine"))
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    n_clusters: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 2048,
    assignments: DataFrame | None = None,
    fit_sample_rows: int | None = None,
) -> DataFrame:
    """Cluster-pruned survivor set: the dominance rule of
    ``dedup_by_cosine`` (drop iff higher id of any over-threshold pair)
    applied to same-cluster pairs only. Returns the surviving rows of
    ``embeddings`` unchanged."""
    pairs = semantic_neardup_pairs(
        embeddings,
        threshold,
        n_clusters,
        seed,
        id_col,
        vec_col,
        block_rows,
        assignments,
        fit_sample_rows,
    )
    dropped = pairs.select(F.col("id_2").alias("_drop")).distinct()
    return embeddings.join(
        dropped, embeddings[id_col] == dropped["_drop"], "left_anti"
    )
