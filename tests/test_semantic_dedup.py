"""Semantic (cluster-pruned) embedding dedup — operators/semantic_dedup.py.

Pins the three contracts q80 exports to the driver, plus the pieces the
driver can't see: sub-tiling of oversized clusters, planted
near-identical duplicates co-clustering, and reuse of an external
assignment (the IVF-index path)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from serverless_etl_bi_on_aws_spark.catalog import load_table
from serverless_etl_bi_on_aws_spark.operators.semantic_dedup import (
    cluster_assignments,
    semantic_dedup,
    semantic_neardup_pairs,
)
from serverless_etl_bi_on_aws_spark.operators.similarity import (
    neardup_cosine_pairs,
)

from conftest import SF_CORRECT, jobs_and_python_stages


def _planted(spark, n_groups: int = 6, dim: int = 8):
    """n_groups well-separated direction groups; each group holds one base
    vector (id g), one NEAR-IDENTICAL copy (id g+1000, tiny orthogonal
    nudge -> cosine ~0.999), and one decoy at ~45 degrees that stays below
    the 0.9 threshold (id g+2000)."""
    rows = []
    for g in range(n_groups):
        base = [0.0] * dim
        base[g % dim] = 1.0
        near = list(base)
        near[(g + 1) % dim] += 0.02
        decoy = list(base)
        decoy[(g + 1) % dim] += 1.0  # 45 degrees: cosine ~0.707
        rows.append((g, [float(x) for x in base]))
        rows.append((g + 1000, [float(x) for x in near]))
        rows.append((g + 2000, [float(x) for x in decoy]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


@pytest.mark.slow  # round-19 tiering: >=10 s integration test
def test_planted_near_identical_pairs_all_captured(spark):
    """Near-identical duplicates co-cluster (the SemDeDup premise): at a
    high threshold every planted (g, g+1000) pair is found and exactly
    the copies are dropped."""
    emb = _planted(spark)
    pairs = semantic_neardup_pairs(emb, threshold=0.9, n_clusters=6, seed=7)
    got = {(r.id_1, r.id_2) for r in pairs.collect()}
    assert got == {(g, g + 1000) for g in range(6)}
    surv = semantic_dedup(emb, threshold=0.9, n_clusters=6, seed=7)
    kept = {r.vec_id for r in surv.select("vec_id").collect()}
    assert kept == {g for g in range(6)} | {g + 2000 for g in range(6)}


def test_clustered_pairs_subset_of_exact_and_partition(spark):
    """The q80 invariants on the real fixture: clustered pairs are a
    subset of the exact blocked-matmul pair set, and survivors + dropped
    repartition the corpus exactly."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    exact = neardup_cosine_pairs(emb, 0.4)
    clustered = semantic_neardup_pairs(emb, 0.4, n_clusters=4, seed=42)
    extra = clustered.join(
        exact.select("id_1", "id_2"), ["id_1", "id_2"], "left_anti"
    ).count()
    assert extra == 0
    n = emb.count()
    dropped = clustered.select("id_2").distinct().count()
    survivors = semantic_dedup(emb, 0.4, n_clusters=4, seed=42).count()
    assert survivors + dropped == n
    assert dropped > 0  # the fixture's >=0.4 pairs do land in clusters


def test_subtiling_matches_single_tile(spark):
    """A cluster larger than block_rows sub-tiles into multiple matmul
    groups; the pair set must be identical to the one-tile run (same
    assignment, different tiling)."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    asg = cluster_assignments(emb, n_clusters=2, seed=42)
    one = semantic_neardup_pairs(
        emb, 0.4, assignments=asg, block_rows=4096
    )
    tiled = semantic_neardup_pairs(emb, 0.4, assignments=asg, block_rows=37)
    sym_diff = one.join(tiled, ["id_1", "id_2"], "full_outer").filter(
        one["cosine"].isNull() | tiled["cosine"].isNull()
    )
    assert sym_diff.count() == 0


def test_external_assignment_reused_no_kmeans_fit(spark, monkeypatch):
    """Passing assignments= must not re-fit KMeans (the IVF-index reuse
    path): trap the fit the way test_asof_ivf pins the probe."""
    from pyspark.ml.clustering import KMeans

    emb = load_table(spark, SF_CORRECT, "embeddings")
    asg = cluster_assignments(emb, n_clusters=4, seed=42).localCheckpoint(
        eager=True
    )

    def boom(self, *a, **k):  # pragma: no cover - trap
        raise AssertionError("KMeans.fit called despite external assignments")

    monkeypatch.setattr(KMeans, "fit", boom)
    pairs = semantic_neardup_pairs(emb, 0.4, assignments=asg)
    assert pairs.count() > 0


@pytest.mark.slow  # round-19 tiering: >=10 s integration test
def test_sample_fit_assignment_keeps_contracts(spark, monkeypatch):
    """fit_sample_rows on the semantic path (round-10 verdict #2): the
    fit is bounded (trap-pinned), every embedding still gets an
    assignment through the BLAS argmin stage, and the q80 soundness
    contracts — clustered pairs ⊆ exact pairs, survivors + dropped ==
    corpus — hold for the sample-placed centroids (they hold for ANY
    assignment; sampling only moves capture)."""
    from pyspark.ml.clustering import KMeans

    emb = load_table(spark, SF_CORRECT, "embeddings")
    bound = 100
    real_fit = KMeans.fit

    def bounded_fit(self, dataset, *a, **kw):
        assert dataset.count() <= bound, "KMeans.fit saw more than the sample"
        return real_fit(self, dataset, *a, **kw)

    monkeypatch.setattr(KMeans, "fit", bounded_fit)
    asg = cluster_assignments(emb, n_clusters=4, seed=42, fit_sample_rows=bound)
    assert asg.count() == emb.count()
    assert asg.select("_cluster").distinct().count() <= 4

    clustered = semantic_neardup_pairs(
        emb, 0.4, n_clusters=4, seed=42, fit_sample_rows=bound
    )
    exact = neardup_cosine_pairs(emb, 0.4)
    extra = clustered.join(
        exact.select("id_1", "id_2"), ["id_1", "id_2"], "left_anti"
    ).count()
    assert extra == 0
    dropped = clustered.select("id_2").distinct().count()
    survivors = semantic_dedup(
        emb, 0.4, n_clusters=4, seed=42, fit_sample_rows=bound
    ).count()
    assert survivors + dropped == emb.count()
    # planted near-identical copies are still caught under a sampled fit
    planted = _planted(spark)
    surv = semantic_dedup(
        planted, threshold=0.9, n_clusters=6, seed=7, fit_sample_rows=10
    )
    kept = {r.vec_id for r in surv.select("vec_id").collect()}
    assert not any(g + 1000 in kept and g in kept for g in range(6))


def test_empty_corpus(spark):
    emb = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    asg = spark.createDataFrame([], "vec_id bigint, _cluster int")
    assert semantic_neardup_pairs(emb, 0.4, assignments=asg).count() == 0
    assert semantic_dedup(emb, 0.4, assignments=asg).count() == 0


@pytest.mark.parametrize("threshold", [0.9])
@pytest.mark.slow  # round-19 tiering: >=10 s integration test
def test_zero_norm_rows_never_pair(spark, threshold):
    """Zero-norm vectors clamp to cosine 0 in the shared kernel — they
    must survive dedup and never appear in a pair."""
    emb = _planted(spark).union(
        _planted(spark)
        .sparkSession.createDataFrame(
            [(9000, [0.0] * 8), (9001, [0.0] * 8)],
            "vec_id bigint, embedding array<float>",
        )
    )
    pairs = semantic_neardup_pairs(emb, threshold, n_clusters=4, seed=7)
    ids_in_pairs = {
        r[0]
        for r in pairs.select(F.explode(F.array("id_1", "id_2"))).collect()
    }
    assert 9000 not in ids_in_pairs and 9001 not in ids_in_pairs
    kept = {
        r.vec_id
        for r in semantic_dedup(emb, threshold, n_clusters=4, seed=7)
        .select("vec_id")
        .collect()
    }
    assert {9000, 9001} <= kept


def test_shared_tiler_and_kernel_match_bruteforce(spark):
    """The one tiler and threshold kernel behind both searches, pinned
    against a NumPy brute force on 40 vectors with 4-row blocks (the
    exact group spans 10 blocks, each cluster several): the exact set,
    the clustered set and the one-pass tagged sets all match, and the
    one-pass sets equal the two separate calls. Unassigned ids and
    zero-norm rows pair with nothing."""
    import numpy as np
    import pyarrow as pa

    from serverless_etl_bi_on_aws_spark.operators.semantic_dedup import (
        exact_and_clustered_pairs,
    )

    rng = np.random.default_rng(5)
    base = rng.normal(size=(8, 8))
    vecs = base[rng.integers(0, 8, size=40)] + 0.3 * rng.normal(size=(40, 8))
    vecs[[7, 23]] = 0.0  # zero-norm rows
    vecs = vecs.astype("float32")
    ids = np.arange(100, 140)
    # Arrow tables, not lists of tuples: those are Python RDDs, and every
    # scan of them would start Python workers
    emb = spark.createDataFrame(
        pa.table({"vec_id": ids, "embedding": list(vecs)}),
        "vec_id bigint, embedding array<float>",
    )
    cluster = {int(i): int(i) % 3 for i in ids if i % 10 != 1}  # 4 unassigned
    asg = spark.createDataFrame(
        pa.table({"vec_id": list(cluster), "_cluster": list(cluster.values())}),
        "vec_id bigint, _cluster int",
    )

    unit = vecs.astype("float64")
    unit /= np.maximum(np.linalg.norm(unit, axis=1, keepdims=True), 1e-12)
    cos = unit @ unit.T
    th = 0.8
    brute = {
        (int(ids[a]), int(ids[b]))
        for a, b in zip(*np.nonzero(np.triu(cos >= th, k=1)))
    }
    brute_clustered = {
        (a, b) for a, b in brute if a in cluster and b in cluster and cluster[a] == cluster[b]
    }
    assert brute_clustered and len(brute_clustered) < len(brute)

    def ids_of(df):
        return {(r.id_1, r.id_2) for r in df.collect()}

    exact = ids_of(neardup_cosine_pairs(emb, th, block_rows=4))
    clustered = ids_of(semantic_neardup_pairs(emb, th, assignments=asg, block_rows=4))
    both = exact_and_clustered_pairs(emb, th, asg, block_rows=4).collect()
    tagged = {
        s: {(r.id_1, r.id_2) for r in both if r.pair_set == s}
        for s in ("exact", "clustered")
    }
    assert exact == tagged["exact"] == brute
    assert clustered == tagged["clustered"] == brute_clustered
    assert not any({a, b} & {107, 123} for a, b in exact | clustered)
    for r in both:
        assert abs(r.cosine - cos[r.id_1 - 100, r.id_2 - 100]) < 1e-6

    none = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    out = exact_and_clustered_pairs(none, th, asg.limit(0), block_rows=4)
    assert out.collect() == []
    assert out.schema.simpleString() == (
        "struct<pair_set:string,id_1:bigint,id_2:bigint,cosine:double>"
    )
    assert neardup_cosine_pairs(none, th).schema.simpleString() == (
        "struct<id_1:bigint,id_2:bigint,cosine:double>"
    )


def test_q80_build_is_one_pair_search_pass(spark):
    """q80 builds both pair sets in one tiled pass. Its build (the query
    function, eager checkpoint included) launches at most 7 jobs and runs
    exactly one Python pair-search stage; the two-pass build launched 16
    jobs and two such stages on this fixture."""
    from serverless_etl_bi_on_aws_spark.plans.queries import (
        q80_semantic_dedup_verify,
    )

    q80_semantic_dedup_verify(spark, SF_CORRECT)  # builds the assignment artifact
    jobs, python_stages = jobs_and_python_stages(
        spark, lambda: q80_semantic_dedup_verify(spark, SF_CORRECT)
    )
    assert python_stages == 1
    assert 0 < jobs <= 7


def test_q80_final_action_jobs(spark):
    """q80's final action (the collect of its five metric rows) launches
    at most 5 jobs and no Python stage: the two anti-join broadcasts and
    the two exchanges of the one scalar aggregate, then the result. When
    each scalar came from its own one-row frame, broadcast into a
    cross join, it launched 15 on this fixture."""
    from serverless_etl_bi_on_aws_spark.plans.queries import (
        q80_semantic_dedup_verify,
    )

    out = q80_semantic_dedup_verify(spark, SF_CORRECT)
    rows = []
    jobs, python_stages = jobs_and_python_stages(
        spark, lambda: rows.extend(out.collect())
    )
    assert [r.metric for r in rows] == [
        "capture_floor",
        "cluster_pairs_subset",
        "corpus",
        "exact_pairs",
        "partition",
    ]
    assert python_stages == 0
    assert 0 < jobs <= 5
