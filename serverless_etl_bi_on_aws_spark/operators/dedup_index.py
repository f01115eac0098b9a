"""Incremental corpus dedup against a PERSISTED MinHash band index.

Every dedup operator in operators/dedup.py is one-shot over a batch. The
operation a crawl pipeline actually runs hourly is different: "dedup this
NEW snapshot against everything already seen" — the reference's own
staging-merge semantic (README.md:67-70: new extract vs persisted
warehouse, matched keys resolved, result persisted) applied to
near-duplicate text. This module persists the corpus side ONCE as a
banded signature index (the build/probe split of
operators/similarity.build_ivf_index) so each new batch:

    1. computes its own MinHash signatures map-only (+ the one groupBy
       signatures inherently need),
    2. joins the persisted band index on (band, bucket) — the corpus
       side is a parquet SCAN of precomputed signatures, never a
       re-shingle / re-hash of corpus text (plan-pinned in
       tests/test_dedup_index.py),
    3. resolves within-batch pairs with the same banded join,
    4. appends its signatures back (idempotently, per batch id).

Survivor semantics — the ONLINE rule: a document is dropped iff some
EARLIER document (smaller seniority: any indexed doc, or a smaller-id doc
in the same batch) estimates Jaccard >= threshold against it. The index
therefore holds signatures of ALL seen docs, duplicates included — that
is exactly what makes incremental processing equal to the one-shot rule
"drop j iff exists i < j with est >= t" over the union, batch boundaries
invisible (pytest + q76 oracle-pinned). Indexing only survivors would
break chain equivalence: with A ~ B ~ C but A !~ C, a survivor-only index
forgets B and would let C through.

Index layout — the root is a generation store (operators/snapshot.py);
each generation holds two tables (NOT one banded table carrying
signatures, which would store each 128-long signature ``bands`` times
over) and the meta:

    <index>/_current.json         pointer to the live generation
    <index>/gen-<seq>-<nonce>/
        bands/           (band INT, bucket BIGINT, doc id)   bands rows/doc
        sigs/            (doc id, sig ARRAY<BIGINT>)         1 row/doc
        _meta.json       n, num_hashes, bands, seed — probes must hash
                         identically to the build or buckets are
                         meaningless; validated on every probe.
    <index>/_applied/<batch>      idempotence markers (util.append_once)

Build and init commit generation 1: the pointer present means the build
is complete. Appends write into the live generation under the writer
lease; a probe resolves the pointer once. Compaction and takedown
rewrite a private hardlinked stage and publish it with one pointer
commit (snapshot.staged_rewrite), so a reader — or a process killed
mid-rewrite — sees the whole old index or the whole new one.
``_applied`` sits at the root because no rewrite changes which batches
are applied.

Each append writes one file set per table. ``bands`` is flat, not
partitioned by band: every new doc emits a bucket for ALL ``bands``
bands, so every probe touches every band and a band partitioning would
prune nothing — it only multiplied the files per append by ``bands``.

Per batch the ingest loop (streaming/ingest_dedup.py) signs the batch
ONCE: :func:`batch_signatures` is a memoized, checkpointed signature
frame that the loop hands to both :func:`dedup_against_index` and
:func:`update_index`. Called standalone, each computes its own.

100 TB shape: the probe shuffles ONLY the new batch's banded rows
against the scanned (band, bucket, id) triples — never signatures —
and the candidate pair set, not the corpus, flows into the signature
fetch. Appends grow the index linearly (no rewrite). On a real cluster,
bucketBy(bucket) the band table to make the probe join exchange-free on
the index side.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from serverless_etl_bi_on_aws_spark.operators.dedup import (
    band_buckets,
    est_jaccard,
    minhash_signatures,
)
from serverless_etl_bi_on_aws_spark.operators.snapshot import (
    current_generation,
    live_generation,
    staged_rewrite,
)
from serverless_etl_bi_on_aws_spark.util import append_once, read_marker, write_marker


@dataclass(frozen=True)
class IndexMeta:
    n: int
    num_hashes: int
    bands: int
    seed: int
    id_col: str

    @property
    def rows(self) -> int:
        return self.num_hashes // self.bands


def _meta_at(gen: str) -> IndexMeta:
    d = read_marker(os.path.join(gen, "_meta.json"))
    if d is None:
        raise FileNotFoundError(f"no index meta at {gen}")
    return IndexMeta(**d)


def read_meta(index_path: str) -> IndexMeta:
    return _meta_at(live_generation(index_path))


def _create(index_path: str, meta: IndexMeta, sigs: DataFrame | None = None) -> None:
    """Commit generation 1 — meta plus, for a build, the starting
    corpus's signatures. Refuses to clobber an existing index."""
    if current_generation(index_path) is not None:
        raise ValueError(
            f"index already exists at {index_path}; use update_index to append"
        )
    with staged_rewrite(index_path, owner="create_minhash_index") as (_live, stage):
        if sigs is not None:
            _append_signatures(sigs, meta, stage)
        write_marker(os.path.join(stage, "_meta.json"), meta.__dict__)


def _has_parquet_files(path: str) -> bool:
    """True iff ``path`` holds at least one parquet data file (any
    depth — the hash index's blocks/ is hive-partitioned). A directory
    containing only _SUCCESS/markers is NOT a readable table."""
    for dirpath, _dirnames, filenames in os.walk(path):
        if any(f.endswith(".parquet") for f in filenames):
            return True
    return False


def _append_signatures(sigs: DataFrame, meta: IndexMeta, gen: str) -> None:
    """Persist (sigs, bands) for one batch of signatures, one file set
    per table. Append-only — the index grows linearly with the corpus,
    nothing is rewritten.

    Write ORDER matters for crash safety: sigs first, bands second. A
    crash between the two writes that is never replayed leaves a sig
    with no band rows — inert (never a candidate, same as pre-append).
    The reverse order would leave band rows whose doc has no sig, and
    those candidates silently vanish from the probe's inner join with
    the indexed sigs: duplicates missed with no error."""
    sigs.write.mode("append").parquet(os.path.join(gen, "sigs"))
    (
        band_buckets(sigs, meta.bands, meta.rows, id_col=meta.id_col)
        .select("band", "bucket", F.col("_id").alias(meta.id_col))
        .write.mode("append")
        .parquet(os.path.join(gen, "bands"))
    )


def batch_signatures(
    new_docs: DataFrame, index_path: str, text_col: str = "text"
) -> Callable[[], DataFrame]:
    """A zero-argument, memoized source of ``new_docs``' signatures under
    the index's meta: the first call signs the batch and checkpoints it,
    later calls return the same frame. Nothing is read or computed until
    a consumer calls it, so a loop whose probe and append both no-op on
    replay signs nothing. Pass it as ``signatures=`` to
    :func:`dedup_against_index` and :func:`update_index` to sign a batch
    once for both."""

    def sign() -> DataFrame:
        meta = read_meta(index_path)
        return minhash_signatures(
            new_docs, meta.id_col, text_col, meta.n, meta.num_hashes, meta.seed
        ).localCheckpoint(eager=True)

    return functools.cache(sign)


def build_minhash_index(
    docs: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    seed: int = 42,
) -> None:
    """One-time build: signature + band tables for the starting corpus,
    committed as generation 1. Refuses to clobber an existing index
    (appends belong to :func:`update_index`)."""
    meta = IndexMeta(n=n, num_hashes=num_hashes, bands=bands, seed=seed, id_col=id_col)
    _create(
        index_path, meta, minhash_signatures(docs, id_col, text_col, n, num_hashes, seed)
    )


def init_minhash_index(
    index_path: str,
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    seed: int = 42,
) -> None:
    """Create an EMPTY index — meta only, no corpus. The streaming ingest
    loop (streaming/ingest_dedup.py) starts here so its very first
    micro-batch runs the same probe-then-append path as every later one
    (a probe against an empty corpus simply yields no corpus candidates);
    a separate bootstrap path would need its own replay guard."""
    _create(
        index_path,
        IndexMeta(n=n, num_hashes=num_hashes, bands=bands, seed=seed, id_col=id_col),
    )


def dedup_against_index(
    spark: SparkSession,
    new_docs: DataFrame,
    index_path: str,
    threshold: float = 0.5,
    text_col: str = "text",
    signatures: Callable[[], DataFrame] | None = None,
) -> DataFrame:
    """Survivors of ``new_docs`` under the online rule: drop a new doc iff
    its estimated Jaccard >= ``threshold`` against ANY indexed doc or any
    SMALLER-ID doc of the same batch. Returns ``new_docs`` rows minus the
    drops; composes with :func:`update_index` for the ingest loop.
    ``signatures`` (a :func:`batch_signatures` memo) supplies the batch's
    signatures; without it they are computed here.

    Plan shape: ONE (band, bucket) join finds every candidate pair. Its
    junior side is the batch's banded rows; its senior side is the
    indexed band rows (flagged indexed) plus the batch's own banded rows,
    and a pair is kept if the senior is indexed or has the smaller id.
    Band exchanges carry ids only (a sig-carrying banded join would
    ship each 128-long signature x bands); signatures are
    then fetched for candidate pairs only, keyed on (id, indexed) so an
    indexed id equal to a batch id never borrows the other's signature.
    Corpus text is never re-shingled; ``minhash_signatures`` runs
    exactly once, on the new batch (pytest-trapped, the KMeans-refit
    trap pattern)."""
    live = live_generation(index_path)
    meta = _meta_at(live)
    id_col = meta.id_col
    new_sigs = (signatures or batch_signatures(new_docs, index_path, text_col))()
    new_banded = band_buckets(new_sigs, meta.bands, meta.rows, id_col=id_col)

    def senior(df: DataFrame, indexed: bool, col: str, *cols: str) -> DataFrame:
        return df.select(
            *cols, F.col(col).alias("_senior"), F.lit(indexed).alias("_indexed")
        )

    seniors = senior(new_banded, False, "_id", "band", "bucket")
    senior_sigs = senior(new_sigs, False, id_col, "sig")
    # A just-initialized index (init_minhash_index) has no bands/sigs
    # dirs yet — an empty corpus contributes no seniors. The check is
    # for actual parquet FOOTERS, not the directory (round 17): a dir
    # holding only _SUCCESS — a pre-fix empty append, or a crash between
    # mkdir and the first data file — is an empty corpus, not a readable
    # table, and spark.read.parquet on it throws UNABLE_TO_INFER_SCHEMA.
    if _has_parquet_files(os.path.join(live, "bands")):
        idx_bands = spark.read.parquet(os.path.join(live, "bands"))
        idx_sigs = spark.read.parquet(os.path.join(live, "sigs"))
        seniors = senior(idx_bands, True, id_col, "band", "bucket").unionByName(seniors)
        senior_sigs = senior(idx_sigs, True, id_col, "sig").unionByName(senior_sigs)

    cand = (
        new_banded.join(seniors, ["band", "bucket"])
        .filter(F.col("_indexed") | (F.col("_senior") < F.col("_id")))
        .select("_id", "_senior", "_indexed")
        .dropDuplicates()
    )
    dropped = (
        cand.join(senior_sigs.withColumnRenamed("sig", "_s2"), ["_senior", "_indexed"])
        .join(new_sigs.select(F.col(id_col).alias("_id"), F.col("sig").alias("_s1")), "_id")
        .filter(est_jaccard("_s1", "_s2", meta.num_hashes) >= threshold)
        .select(F.col("_id").alias(id_col))
    )
    # the dropped ids are a subset of the batch's, so they broadcast: the
    # batch rows (payloads included) never shuffle for the anti-join, and
    # an anti-join needs no distinct keys
    return new_docs.join(F.broadcast(dropped), id_col, "left_anti")


def update_index(
    new_docs: DataFrame,
    index_path: str,
    batch_id: str,
    text_col: str = "text",
    signatures: Callable[[], DataFrame] | None = None,
) -> bool:
    """Append one batch's signatures to the index — ALL of the batch's
    docs, duplicates included (see module docstring: survivor-only
    indexing breaks chain equivalence with the one-shot rule).
    ``signatures`` (a :func:`batch_signatures` memo, shared with the
    probe) supplies them; without it they are computed here.

    Runs through :func:`util.append_once` (marker, lease, empty guard,
    marker last), so ``foreachBatch(lambda df, eid:
    (dedup_against_index(...), update_index(df, path, str(eid))))`` is
    replay-safe. A crash mid-append leaves a partial batch that the
    replay re-appends in full — duplicate index rows are HARMLESS by
    construction (candidates are de-duplicated per pair and drop
    decisions depend on set membership, not multiplicity), which is what
    lets a plain-parquet append survive at-least-once delivery without a
    transaction log. The empty guard runs on the computed signatures: an
    empty batch and a batch whose texts are all sub-n-token both yield
    zero signatures and are vacuously applied. Returns True if the batch
    was applied, False if it had been already."""
    meta = read_meta(index_path)
    return append_once(
        index_path,
        batch_id,
        "update_index",
        # checkpointed: the empty guard and the append share one pass
        signatures or batch_signatures(new_docs, index_path, text_col),
        # resolved under append_once's lease: no rewrite can commit between
        lambda sigs: _append_signatures(sigs, meta, live_generation(index_path)),
    )


def compact_index(
    spark: SparkSession, index_path: str, target_file_bytes: int = 128 << 20
) -> dict[str, int]:
    """Index maintenance (round-8 verdict #3): the hourly-crawl cadence
    appends one small parquet file set per batch, so bands/sigs become a
    small-file swamp, and crash-replayed batches leave duplicate rows
    (harmless to consumers — candidates are pair-deduped and drops are
    set-membership — but dead weight forever).

    One compaction fixes both: ``bands`` is rewritten to
    ~``target_file_bytes`` files, deduped on (band, bucket, id) and
    range-clustered on ``bucket`` so a probe's bucket join skips files by
    footer stats; ``sigs`` is deduped on the id (signatures are
    deterministic per meta, so replay rows are exact duplicates). Both
    tables are rewritten from the live generation into one staged
    generation and published with one pointer commit
    (snapshot.staged_rewrite); ``_applied`` is untouched — compaction
    changes layout, never which batches are applied, so it composes with
    concurrent :func:`dedup_against_index` readers and future
    :func:`update_index` appends. Probe results are identical before and
    after (pytest-pinned). Returns the new file count per table
    (``{"bands": n, "sigs": n}``; empty for a just-initialized index)."""
    from serverless_etl_bi_on_aws_spark.operators.maintenance import compact_parquet

    meta = read_meta(index_path)
    layout = {
        "bands": dict(cluster_by="bucket", dedupe_on=["band", "bucket", meta.id_col]),
        "sigs": dict(dedupe_on=[meta.id_col]),
    }
    files = {}
    with staged_rewrite(index_path, owner="compact_index") as (live, stage):
        # a just-initialized index (init_minhash_index, no appends yet) has
        # neither table — nothing to compact, same grace dedup_against_index
        # extends to the empty-corpus probe (round-9 ADVICE)
        for table, kw in layout.items():
            src = os.path.join(live, table)
            if os.path.exists(src):
                files[table] = compact_parquet(
                    spark, src, os.path.join(stage, table), target_file_bytes, **kw
                )
    return files
