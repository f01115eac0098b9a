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
  * within-cluster pairs = the SAME tiler and threshold kernel as the
    exact operator (similarity._tag_block_pairs + _pair_kernel), with
    one tile group per cluster instead of one for the corpus: one
    grouped count sizes every cluster's blocks (K rows driver-side, like
    the centroid read), one broadcast dimension tags each row with the
    (cluster, bi, bj) tiles of its own cluster, and every tile is one
    matmul. A cluster larger than ``block_rows`` therefore sub-tiles
    instead of concentrating in one task — no single-task cluster bound.
  * verification = :func:`exact_and_clustered_pairs` runs the exact
    and the clustered search as ONE tiled pass over the union of both
    tilings (one sizing collect, one ``applyInPandas``), each pair set
    still computed from its own tiles — q80's verifier shape.
  * survivor rule = the dominance rule, verbatim from
    ``dedup_by_cosine``: drop iff higher id of ANY over-threshold
    same-cluster pair — order-independent, one anti-join, no iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from serverless_etl_bi_on_aws_spark.operators.similarity import (
    CLUSTERED,
    EXACT,
    _cosine_pair_search,
    _exact_rows,
)


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


def _cluster_rows(
    embeddings: DataFrame, assignments: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """The clustered search's tiler input: one tile group per cluster.
    The assignment join is inner, so unassigned vectors never enter."""
    asg = assignments.select(
        F.col(id_col).cast("bigint").alias("_id"),
        F.col("_cluster").cast("bigint").alias("_g"),
    )
    return (
        embeddings.select(
            F.col(id_col).cast("bigint").alias("_id"), F.col(vec_col).alias("_vec")
        )
        .join(asg, "_id")
        .select(F.lit(CLUSTERED).alias("_set"), "_g", "_id", "_vec")
    )


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
    rows = _cluster_rows(embeddings, assignments, id_col, vec_col)
    return _cosine_pair_search(rows, threshold, block_rows).drop("_set")


def exact_and_clustered_pairs(
    embeddings: DataFrame,
    threshold: float,
    assignments: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 2048,
) -> DataFrame:
    """Both pair sets of the SemDeDup check in one tiled pass:
    (pair_set, id_1, id_2, cosine) with ``pair_set`` "exact" for the
    rows :func:`~serverless_etl_bi_on_aws_spark.operators.similarity.
    neardup_cosine_pairs` returns and "clustered" for the rows
    :func:`semantic_neardup_pairs` returns under ``assignments``.

    The search runs over the union of the two tilings: one sizing
    collect, one ``applyInPandas``. Each set is computed from its own
    tiles — the clustered pairs are searched within clusters, never
    filtered out of the exact ones — so checking clustered ⊆ exact
    still tests the cluster tiling."""
    rows = _exact_rows(embeddings, id_col, vec_col).unionByName(
        _cluster_rows(embeddings, assignments, id_col, vec_col)
    )
    pairs = _cosine_pair_search(rows, threshold, block_rows)
    return pairs.select(
        F.when(F.col("_set") == EXACT, "exact")
        .otherwise("clustered")
        .alias("pair_set"),
        "id_1",
        "id_2",
        "cosine",
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
