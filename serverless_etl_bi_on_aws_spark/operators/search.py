"""Full-text keyword search — inverted index + fixed-point BM25 top-k.

A curated corpus needs a lookup story ("which documents mention X?") both
as a user-facing query and as an internal tool (decontamination triage,
takedown discovery, corpus QA). This module provides the classic
inverted-index + BM25 ranking, with one deliberate twist for the engine's
replayability discipline:

**Fixed-point BM25.** Scores are BIGINTs computed with integer
arithmetic only — no floats, no ``log``:

    idf_k       = LEAST(((N - df_t) * 1000) DIV (df_t + 1),
                        10000000)                            # idf cap 10000x
    tfc         = LEAST(tf, 255)                             # saturation cap
    dl_ratio    = (1000 * dl) DIV GREATEST(L DIV N, 1)       # dl/avgdl, milli
    den         = 1000000*tfc + 300000 + 900*dl_ratio
    term_score  = (idf_k * 2200000 * tfc) DIV den            # thousandths
    score_milli = sum over matched query terms

This is standard BM25 with k1=1.2, b=0.75, the Robertson-Sparck-Jones
idf replaced by its rational core (N - df)/(df + 1) in thousandths (the
log only compresses the range; ordering within a term is unchanged, and
summation across terms weights rare terms more sharply — a documented,
closed-form choice), and Lucene-style tf saturation at 255. Every
operation is exact integer math, so ranking is bit-identical across
partitionings, replays, and engines — the q101 oracle recomputes the
whole pipeline in SQL and matches exactly.

Bounds (round 15 — corpus-size-INDEPENDENT by construction, fixing the
r14-flagged joint dl*N overflow that wrapped at N=1.6e10 with dl ≥ 576k):
dl_ratio divides FIRST (avgdl = GREATEST(L DIV N, 1), truncated to an
integer — a ≤0.1% quantization at realistic avgdl, and the guard keeps
sub-token averages from dividing by zero), so 1000*dl needs only
dl < 9.2e15 tokens per document; idf_k SATURATES at 10,000× (the same
move as the tf cap — the rational idf core is linear in N/df where
Robertson's is logarithmic, so ultra-rare terms would otherwise both
dominate rankings and overflow: uncapped, df_t=1 gives idf_k ≈ 500·N
and the score product wraps at N ~ 3e7). With both caps the widest
product is 10^7 * 2200000 * 255 ≈ 5.6e15 < 2^63 for ANY corpus with
N < 9.2e15 and per-doc dl < 9.2e15 — no joint constraint remains.

Scale shape: postings build is one explode + one groupBy (map-side
combined); the persisted layout partitions postings by a 64-way term
hash so a query's scan PRUNES to its terms' partitions; a search
broadcasts the (tiny) filtered term stats, joins doc lengths on the
already-small hit set, and finishes with TakeOrderedAndProject — no
global sort. N and L live in the index meta (no recount per query).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from serverless_etl_bi_on_aws_spark.functions.text import token_count, tokens
from serverless_etl_bi_on_aws_spark.util import append_once, read_marker, write_marker

#: number of term-hash partitions in the persisted postings layout
N_TERM_BUCKETS = 64


def build_bm25_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """(postings, docstats): ``(term, <id>, tf)`` for every non-empty
    token, and ``(<id>, dl)`` doc lengths. One explode + one partial-
    aggregated groupBy; tokenization is the engine-wide whitespace rule
    (functions/text.tokens) so oracle SQL splits identically."""
    toks = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    postings = (
        toks.filter(F.col("term") != "")
        .groupBy("term", id_col)
        .agg(F.count("*").alias("tf"))
    )
    docstats = docs.select(F.col(id_col), token_count(text_col).alias("dl"))
    return postings, docstats


def _score_expr(n_docs: int, total_len: int) -> F.Column:
    """The fixed-point BM25 term score (module docstring) over columns
    ``tf``, ``df_t``, ``dl`` — one codegen'd integer expression."""
    return F.expr(
        f"""
        LEAST(((CAST({n_docs} AS BIGINT) - df_t) * 1000) DIV (df_t + 1),
              CAST(10000000 AS BIGINT))
        * (2200000 * LEAST(tf, 255))
        DIV (1000000 * LEAST(tf, 255) + 300000
             + 900 * ((1000 * dl)
                      DIV GREATEST(CAST({total_len} AS BIGINT)
                                   DIV CAST({n_docs} AS BIGINT), 1)))
        """
    )


def bm25_topk(
    postings: DataFrame,
    docstats: DataFrame,
    terms: list[str],
    k: int = 10,
    id_col: str = "doc_id",
    n_docs: int | None = None,
    total_len: int | None = None,
) -> DataFrame:
    """Top-``k`` documents for an OR-of-``terms`` query:
    ``(<id>, score_milli, terms_matched)``, ordered score desc / id asc
    (a total order — the cut at k is deterministic).

    ``n_docs``/``total_len`` come from the index meta when searching a
    persisted index; recomputed here (two scalar actions) otherwise."""
    if not terms:
        raise ValueError("terms must be non-empty")
    if n_docs is None:
        n_docs = docstats.count()
    if total_len is None:
        total_len = docstats.agg(F.sum("dl")).first()[0] or 0
    if n_docs == 0 or total_len == 0:
        raise ValueError("empty corpus")
    hits = postings.filter(F.col("term").isin(list(terms)))
    termstats = hits.groupBy("term").agg(F.count("*").alias("df_t"))
    scored = (
        hits.join(F.broadcast(termstats), "term")
        .join(docstats, id_col)
        .select(F.col(id_col), _score_expr(n_docs, total_len).alias("s"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("s").alias("score_milli"),
            F.count("*").alias("terms_matched"),
        )
        .orderBy(F.col("score_milli").desc(), id_col)
        .limit(k)
    )


# ------------------------------------------------------- persisted index

def _write_batch(
    docs: DataFrame, index_path: str, batch: str, id_col: str, text_col: str
) -> None:
    """One batch's postings + docstats under ``batch=<name>`` subdirs.
    Overwriting the SAME batch dir with the same input is a no-op state
    change — that is what makes replays idempotent."""
    postings, docstats = build_bm25_postings(docs, id_col, text_col)
    (
        postings.withColumn(
            "part", F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS))
        )
        .repartition("part")
        .write.mode("overwrite")
        .partitionBy("part")
        .parquet(os.path.join(index_path, "postings", f"batch={batch}"))
    )
    docstats.write.mode("overwrite").parquet(
        os.path.join(index_path, "docstats", f"batch={batch}")
    )


def _refresh_meta(
    spark: SparkSession, index_path: str, id_col: str
) -> dict:
    """Recompute corpus totals from the full docstats dataset and commit
    meta (LAST — a crashed build/update never looks complete, and a
    torn update is healed by replaying the batch)."""
    docstats = spark.read.parquet(os.path.join(index_path, "docstats"))
    stats = docstats.agg(F.count("*").alias("n"), F.sum("dl").alias("l")).first()
    meta = {
        "n_docs": stats.n,
        "total_len": int(stats.l or 0),
        "id_col": id_col,
        "n_term_buckets": N_TERM_BUCKETS,
    }
    write_marker(os.path.join(index_path, "_meta.json"), meta)
    return meta


def build_bm25_index(
    docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Persist the inverted index: postings parquet partitioned by
    ``(batch, part)`` where ``part = pmod(xxhash64(term), 64)`` (a term
    lookup partition-prunes to its buckets across every batch), docstats
    parquet, meta {n_docs, total_len}. Meta is written LAST so a crashed
    build never looks complete. Incremental batches land beside the base
    via :func:`update_bm25_index`."""
    _write_batch(docs, index_path, "base", id_col, text_col)
    return _refresh_meta(docs.sparkSession, index_path, id_col)


def update_bm25_index(
    docs: DataFrame,
    index_path: str,
    batch_id: str,
    text_col: str = "text",
) -> dict:
    """Append a batch of NEW documents to a persisted index — search
    results afterwards are identical to a full rebuild, because scoring
    reads postings/df/N/L from the union of batch dirs (BM25 has no
    cross-document state beyond those, so append + meta refresh IS the
    incremental algorithm).

    Runs through :func:`util.append_once`: idempotent per ``batch_id``
    (an already-applied batch short-circuits on its marker; a replay
    after a crash overwrites its own batch dir with identical content and
    re-commits the same meta), serialized by the writer lease, and an
    empty batch is marked applied without writing a batch dir. Crash
    ordering: batch dirs first, meta next, marker last. Doc ids must be
    NEW (dedup upstream — the bloom/url/hash index family is the front
    for that); re-adding an existing id would double-count it, same as
    any postings list. Returns the index meta."""
    if not batch_id or batch_id == "base":
        raise ValueError(f"batch_id must be a non-empty name != 'base', got {batch_id!r}")
    id_col = read_bm25_meta(index_path)["id_col"]

    def append(rows: DataFrame) -> None:
        _write_batch(rows, index_path, batch_id, id_col, text_col)
        _refresh_meta(rows.sparkSession, index_path, id_col)

    append_once(index_path, batch_id, "update_bm25_index", lambda: docs, append)
    return read_bm25_meta(index_path)


def read_bm25_meta(index_path: str) -> dict:
    meta = read_marker(os.path.join(index_path, "_meta.json"))
    if meta is None:
        raise FileNotFoundError(f"no bm25 index meta at {index_path}")
    return meta


def bm25_search(
    spark: SparkSession, index_path: str, terms: list[str], k: int = 10
) -> DataFrame:
    """Search a persisted index. The postings read carries BOTH the
    partition filter (term buckets — pruned at planning) and the term
    filter (pushed to parquet row groups); N/L come from meta, so the
    whole query touches only the matched buckets + the docstats join."""
    meta = read_bm25_meta(index_path)
    bucket_cols = [
        F.pmod(F.xxhash64(F.lit(t)), F.lit(meta["n_term_buckets"])) for t in terms
    ]
    buckets = sorted(set(spark.range(1).select(*[
        c.alias(f"b{i}") for i, c in enumerate(bucket_cols)
    ]).first()))
    postings = spark.read.parquet(os.path.join(index_path, "postings")).filter(
        F.col("part").isin(buckets)
    )
    docstats = spark.read.parquet(os.path.join(index_path, "docstats"))
    return bm25_topk(
        postings,
        docstats,
        terms,
        k=k,
        id_col=meta["id_col"],
        n_docs=meta["n_docs"],
        total_len=meta["total_len"],
    )
