"""Inverted index + fixed-point BM25 (operators/search.py): scoring
against a hand-computed integer reference, persisted-vs-in-memory
equality, the bucket-pruned read plan, ranking semantics, and knob/crash
contracts."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from serverless_etl_bi_on_aws_spark.operators.search import (
    bm25_search,
    bm25_topk,
    build_bm25_index,
    build_bm25_postings,
    read_bm25_meta,
)


def _corpus(spark):
    rows = [
        (0, "apple apple apple banana"),        # tf(apple)=3, dl=4
        (1, "apple cherry cherry cherry date"),  # dl=5
        (2, "banana banana cherry"),             # dl=3
        (3, "date elderberry fig grape"),         # dl=4
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _reference_scores(rows, terms):
    """Independent plain-Python fixed-point BM25 (same published integer
    recurrence, no Spark)."""
    toks = {i: t.split(" ") for i, t in rows}
    n = len(rows)
    total = sum(len(v) for v in toks.values())
    df = {}
    for term in terms:
        df[term] = sum(1 for v in toks.values() if term in v)
    out = {}
    for i, v in toks.items():
        s, matched = 0, 0
        for term in terms:
            tf = v.count(term)
            if not tf or not df[term]:
                continue
            matched += 1
            idf_k = min(((n - df[term]) * 1000) // (df[term] + 1), 10_000_000)
            tfc = min(tf, 255)
            dl_ratio = (1000 * len(v)) // max(total // n, 1)
            den = 1000000 * tfc + 300000 + 900 * dl_ratio
            s += (idf_k * 2200000 * tfc) // den
        if matched:
            out[i] = (s, matched)
    return out


def test_bm25_matches_integer_reference(spark):
    rows = [(r.doc_id, r.text) for r in _corpus(spark).collect()]
    terms = ["apple", "cherry", "grape"]
    postings, docstats = build_bm25_postings(_corpus(spark))
    got = {
        r.doc_id: (r.score_milli, r.terms_matched)
        for r in bm25_topk(postings, docstats, terms, k=10).collect()
    }
    assert got == _reference_scores(rows, terms)


def test_rarer_term_outranks_common_at_equal_tf(spark):
    # 'grape' (df=1) must outscore 'cherry' (df=2) at tf=1, similar dl
    postings, docstats = build_bm25_postings(_corpus(spark))
    g = {r.doc_id: r.score_milli
         for r in bm25_topk(postings, docstats, ["grape"], k=4).collect()}
    c = {r.doc_id: r.score_milli
         for r in bm25_topk(postings, docstats, ["cherry"], k=4).collect()}
    assert g[3] > c[2]


def test_topk_cut_is_total_order(spark):
    # 50 docs with identical text: identical scores, cut by doc_id asc
    docs = spark.range(50).select(
        F.col("id").alias("doc_id"), F.lit("same same word").alias("text")
    )
    postings, docstats = build_bm25_postings(docs)
    got = [r.doc_id for r in bm25_topk(postings, docstats, ["word"], k=7).collect()]
    assert got == [0, 1, 2, 3, 4, 5, 6]


def test_tf_saturation_cap(spark):
    # at equal dl: tf=300 scores the same as tf=255 (cap), above tf=200
    docs = spark.createDataFrame(
        [(0, " ".join(["x"] * 300)),
         (1, " ".join(["x"] * 255) + " " + " ".join(["w"] * 45)),
         (2, " ".join(["x"] * 200) + " " + " ".join(["y"] * 100)),
         (3, " ".join(["z"] * 300)), (4, " ".join(["z"] * 300))],
        "doc_id bigint, text string",
    )
    postings, docstats = build_bm25_postings(docs)
    got = {r.doc_id: r.score_milli
           for r in bm25_topk(postings, docstats, ["x"], k=3).collect()}
    assert got[0] == got[1]  # same dl, both capped at 255
    assert got[1] > got[2]


def test_persisted_search_equals_inmemory_and_prunes(spark, tmp_path):
    idx = str(tmp_path / "idx")
    build_bm25_index(_corpus(spark), idx)
    terms = ["apple", "banana"]
    via_index = [tuple(r) for r in bm25_search(spark, idx, terms, k=10).collect()]
    postings, docstats = build_bm25_postings(_corpus(spark))
    in_mem = [tuple(r) for r in bm25_topk(postings, docstats, terms, k=10).collect()]
    assert via_index == in_mem
    # the postings read is partition-pruned to the terms' hash buckets
    plan = (
        bm25_search(spark, idx, terms, k=10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "part IN" in plan or "PartitionFilters: [part" in plan.replace(
        "dynamicpruning", ""
    ) or "part#" in plan  # partition filter present in the scan
    meta = read_bm25_meta(idx)
    assert meta["n_docs"] == 4 and meta["total_len"] == 16


def test_index_build_is_crash_safe(spark, tmp_path):
    # meta written LAST: a dir with postings but no meta is "no index"
    idx = str(tmp_path / "idx")
    build_bm25_index(_corpus(spark), idx)
    os.remove(os.path.join(idx, "_meta.json"))
    with pytest.raises(FileNotFoundError):
        bm25_search(spark, idx, ["apple"])


def test_validates_inputs(spark):
    postings, docstats = build_bm25_postings(_corpus(spark))
    with pytest.raises(ValueError, match="terms"):
        bm25_topk(postings, docstats, [])
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    p2, d2 = build_bm25_postings(empty)
    with pytest.raises(ValueError, match="empty corpus"):
        bm25_topk(p2, d2, ["x"])


def test_unmatched_terms_contribute_nothing(spark):
    postings, docstats = build_bm25_postings(_corpus(spark))
    a = [tuple(r) for r in
         bm25_topk(postings, docstats, ["apple", "zzz_absent"], k=10).collect()]
    b = [tuple(r) for r in bm25_topk(postings, docstats, ["apple"], k=10).collect()]
    assert a == b


def test_incremental_update_equals_rebuild(spark, tmp_path):
    from serverless_etl_bi_on_aws_spark.operators.search import update_bm25_index

    half1 = _corpus(spark).filter("doc_id < 2")
    half2 = _corpus(spark).filter("doc_id >= 2")
    inc, one = str(tmp_path / "inc"), str(tmp_path / "one")
    build_bm25_index(half1, inc)
    update_bm25_index(half2, inc, "b1")
    build_bm25_index(_corpus(spark), one)
    terms = ["apple", "cherry", "banana", "grape"]
    assert (
        [tuple(r) for r in bm25_search(spark, inc, terms, k=10).collect()]
        == [tuple(r) for r in bm25_search(spark, one, terms, k=10).collect()]
    )
    # meta reflects the union
    assert read_bm25_meta(inc) == read_bm25_meta(one)


def test_incremental_update_is_replay_idempotent(spark, tmp_path):
    from serverless_etl_bi_on_aws_spark.operators.search import update_bm25_index

    idx = str(tmp_path / "idx")
    build_bm25_index(_corpus(spark).filter("doc_id < 3"), idx)
    batch = _corpus(spark).filter("doc_id = 3")
    update_bm25_index(batch, idx, "b1")
    before = [tuple(r) for r in bm25_search(spark, idx, ["date"], k=10).collect()]
    update_bm25_index(batch, idx, "b1")  # replay: marker short-circuits
    update_bm25_index(batch, idx, "b1")
    assert [tuple(r) for r in bm25_search(spark, idx, ["date"], k=10).collect()] == before
    assert read_bm25_meta(idx)["n_docs"] == 4


def test_incremental_update_validates_batch_id(spark, tmp_path):
    from serverless_etl_bi_on_aws_spark.operators.search import update_bm25_index

    idx = str(tmp_path / "idx")
    build_bm25_index(_corpus(spark), idx)
    with pytest.raises(ValueError, match="batch_id"):
        update_bm25_index(_corpus(spark), idx, "base")
    with pytest.raises(ValueError, match="batch_id"):
        update_bm25_index(_corpus(spark), idx, "")


def test_score_bounds_are_corpus_size_independent(spark):
    """r14 ADVICE (low): the old dl_ratio = (1000*dl*N) DIV L overflowed
    BIGINT well below the documented N~1.6e10 cap (N=1.6e10 needed only
    dl >= 576k tokens) — an ANSI throw or silent wrap. Post-fix the
    expression divides first and saturates idf, so it evaluates cleanly
    at planetary corpus scale for BOTH a rare and a common term."""
    from serverless_etl_bi_on_aws_spark.operators.search import _score_expr

    n_docs = 16_000_000_000                 # 1.6e10 documents
    total_len = n_docs * 500                # avgdl 500
    df = spark.createDataFrame(
        [(1, 600_000, 3), (1_000_000, 600_000, 255), (2, 1, 1)],
        "df_t bigint, dl bigint, tf bigint",
    )
    scores = [r.s for r in df.select(_score_expr(n_docs, total_len).alias("s")).collect()]
    assert all(s > 0 for s in scores)
    # the rare-term score saturates at the documented idf cap: capped
    # idf_k=1e7 bounds every term contribution regardless of N
    assert max(scores) <= 10_000_000 * 2200000 * 255 // 1000000


def test_update_serialized_by_lease_and_empty_batch_marked_applied(spark, tmp_path):
    """Every persisted-index append runs through util.append_once: a batch
    arriving while another writer holds the index lease fails loudly (and
    is not marked), and an empty batch writes no batch dir but is marked
    applied, so its replay is a no-op."""
    from serverless_etl_bi_on_aws_spark.operators.search import update_bm25_index
    from serverless_etl_bi_on_aws_spark.util import LeaseHeldError, writer_lease

    idx = str(tmp_path / "idx")
    before = build_bm25_index(_corpus(spark).filter("doc_id < 3"), idx)
    batch = _corpus(spark).filter("doc_id = 3")
    with writer_lease(idx, owner="concurrent-writer"):
        with pytest.raises(LeaseHeldError):
            update_bm25_index(batch, idx, "b1")
    assert not os.path.exists(os.path.join(idx, "_applied", "b1"))
    assert update_bm25_index(batch, idx, "b1")["n_docs"] == 4

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    assert update_bm25_index(empty, idx, "b2")["n_docs"] == 4
    assert not os.path.exists(os.path.join(idx, "postings", "batch=b2"))
    assert os.path.exists(os.path.join(idx, "_applied", "b2"))
    assert before["id_col"] == read_bm25_meta(idx)["id_col"]
