"""Persisted 64-bit hash index — the modality-agnostic core of the
incremental near-dup family.

Four hashers reduce a payload to one 64-bit fingerprint whose hamming
distance means "near-duplicate" (or, at radius 0, identity): text
SimHash (operators/dedup.simhash64), the canonical-url xxhash64
(functions/url.canonicalize_url), image dHash (operators/image_dedup)
and the audio energy envelope (operators/audio_dedup). The
persisted-index half — build / probe-new-batch / append / compact, with
pigeonhole blocking, crash-ordering, idempotent markers — is IDENTICAL
for all of them, so it lives here once. The index records which hasher
built it, so every probe and append hashes raw frames exactly as the
build did; nothing is re-passed at a call site.

Layout (the operators/dedup_index.py shape, hash-sized — a generation
store whose generations hold the tables and the meta):

    <index>/_current.json       pointer to the live generation
    <index>/gen-<seq>-<nonce>/
        hashes/                 (id, <hash_col>)         16 bytes/row
        blocks/                 (block, key, id)         n_blocks rows/doc
        _meta.json              {"n_blocks", "id_col", "hash_col",
                                 "hasher": {"kind", "source_col", params}}
    <index>/_applied/<batch>    idempotence markers (util.append_once)

``hasher`` is one of :data:`HASHERS` — ``{"kind": "simhash",
"source_col": "text", "n": 3}``, ``{"kind": "url", "source_col": "url"}``,
``{"kind": "dhash", "source_col": "media"}``, ``{"kind": "afp",
"source_col": "media"}``. A meta WITHOUT ``hasher`` is a pre-hashed
index: its frames already carry ``(id_col, hash_col)`` and are projected
onto them (the takedown and object-store paths use this contract).

Probe shape: candidates come from the (block, key) equi-join against
the flat ``blocks`` table. Every new row emits all ``n_blocks``
sub-keys, so the join touches every block — a ``block`` partitioning
would prune nothing and only multiply files per append. The scan reads
only the 24-byte (block, key, id) triples, never hashes or payloads,
and only candidate PAIRS fetch full hashes for the ``bit_count(xor)``
verify. The hasher
runs once, on the new batch; indexed payloads are never re-hashed.
Online rule: a new row is dropped iff within ``radius`` of ANY indexed
row or a smaller-id row of the same batch. NULL-hash rows (short docs,
unparseable urls, undecodable media) always survive and are never
indexed. Appends write hashes before blocks into the live generation
(an unreplayed crash leaves an inert hash, never block rows whose
candidates silently vanish) and run through ``util.append_once``;
compaction and takedown publish a staged generation
(snapshot.staged_rewrite).
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, functions as F

from serverless_etl_bi_on_aws_spark.operators.dedup import (
    hamming_pairs_blocked,
    hash_block_expr,
    simhash64,
)
from serverless_etl_bi_on_aws_spark.operators.snapshot import (
    current_generation,
    live_generation,
    staged_rewrite,
)
from serverless_etl_bi_on_aws_spark.util import append_once, read_marker, write_marker


class Hasher(NamedTuple):
    """One hasher kind: ``fn(df, id_col, source_col, **params)`` returns a
    frame carrying ``(id_col, hash_col)``. NULL hashes are filtered after
    it (:func:`_hashed_rows`); a kind whose hash of a NULL input is not
    NULL (xxhash64) filters that input itself."""

    hash_col: str
    n_blocks: int
    source_col: str
    params: dict
    fn: Callable[..., DataFrame]


def _url_hash(df: DataFrame, id_col: str, source_col: str) -> DataFrame:
    from serverless_etl_bi_on_aws_spark.functions.url import canonicalize_url

    # xxhash64(NULL) is the seed, not NULL: unparseable urls filter first.
    # url identity is exact, so the index is radius 0 over one 64-bit
    # block (a single-key equi-join probe)
    return (
        df.withColumn("_canon", canonicalize_url(source_col))
        .filter(F.col("_canon").isNotNull())
        .select(id_col, F.xxhash64("_canon").alias("url_hash"))
    )


def _dhash(df: DataFrame, id_col: str, source_col: str) -> DataFrame:
    from serverless_etl_bi_on_aws_spark.operators.image_dedup import with_dhash

    return with_dhash(df, media_col=source_col)


def _afp(df: DataFrame, id_col: str, source_col: str) -> DataFrame:
    from serverless_etl_bi_on_aws_spark.operators.audio_dedup import (
        with_audio_fingerprint,
    )

    return with_audio_fingerprint(df, media_col=source_col)


#: The hasher kinds an index can record. Family modules are imported
#: lazily inside each ``fn``: no import cycle, no registration step.
#: simhash64 emits no row for a doc shorter than ``n`` tokens (no
#: shingles): such docs always survive and are never indexed.
HASHERS: dict[str, Hasher] = {
    "simhash": Hasher("simhash", 8, "text", {"n": 3}, simhash64),
    "url": Hasher("url_hash", 1, "url", {}, _url_hash),
    "dhash": Hasher("dhash", 16, "media", {}, _dhash),
    "afp": Hasher("afp", 8, "media", {}, _afp),
}


def _hasher_spec(hasher: str | dict) -> dict:
    """``"dhash"`` or ``{"kind": "simhash", "n": 5, ...}`` -> the full
    spec recorded in meta, defaults filled in; unknown kinds or params
    raise ValueError."""
    spec = {"kind": hasher} if isinstance(hasher, str) else dict(hasher)
    kind = spec.pop("kind", None)
    if kind not in HASHERS:
        raise ValueError(f"unknown hasher kind {kind!r}; known: {sorted(HASHERS)}")
    h = HASHERS[kind]
    source_col = spec.pop("source_col", h.source_col)
    unknown = set(spec) - set(h.params)
    if unknown:
        raise ValueError(f"hasher {kind!r} takes no params {sorted(unknown)}")
    return {"kind": kind, "source_col": source_col, **h.params, **spec}


def _hash_meta_at(gen: str) -> dict:
    meta = read_marker(os.path.join(gen, "_meta.json"))
    if meta is None:
        raise FileNotFoundError(f"no hash index meta at {gen}")
    return meta


def read_hash_meta(index_path: str) -> dict:
    return _hash_meta_at(live_generation(index_path))


def _hashed_rows(meta: dict, df: DataFrame) -> DataFrame:
    """``(id_col, hash_col)`` rows of ``df`` with NULL hashes dropped:
    hashed by the index's recorded hasher, or — for a meta without one —
    projected from a frame that already carries both columns."""
    id_col, hash_col = meta["id_col"], meta["hash_col"]
    spec = meta.get("hasher")
    if spec is not None:
        params = {k: v for k, v in spec.items() if k not in ("kind", "source_col")}
        df = HASHERS[spec["kind"]].fn(df, id_col, spec["source_col"], **params)
    return df.select(id_col, hash_col).filter(F.col(hash_col).isNotNull())


def batch_hashes(df: DataFrame, index_path: str) -> Callable[[], DataFrame]:
    """A zero-argument, memoized source of ``df``'s ``(id, hash)`` rows
    under the index's recorded hasher: the first call hashes the batch
    and checkpoints it, later calls return the same frame; nothing runs
    until a consumer calls it. Pass it as ``hashed=`` to
    :func:`dedup_against_hash_index` and :func:`update_hash_index` to
    hash (for media, decode) a batch once for both."""
    return functools.cache(
        lambda: _hashed_rows(read_hash_meta(index_path), df).localCheckpoint(
            eager=True
        )
    )


def hash_blocks(hashed: DataFrame, id_col: str, hash_col: str, n_blocks: int) -> DataFrame:
    """(_id, block, key): pigeonhole sub-blocks of a 64-bit hash. The
    split expression itself is :func:`operators.dedup.hash_block_expr` —
    the SAME object hamming_pairs_blocked uses — so index and probe block
    identically by construction."""
    return hashed.select(
        F.col(id_col).alias("_id"),
        F.explode(hash_block_expr(hash_col, n_blocks)).alias("_bk"),
    ).select("_id", "_bk.block", "_bk.key")


def _append(hashed: DataFrame, meta: dict, gen: str) -> None:
    id_col, hash_col, n_blocks = meta["id_col"], meta["hash_col"], meta["n_blocks"]
    hashed.write.mode("append").parquet(os.path.join(gen, "hashes"))
    (
        hash_blocks(hashed, id_col, hash_col, n_blocks)
        .select("block", "key", F.col("_id").alias(id_col))
        .write.mode("append")
        .parquet(os.path.join(gen, "blocks"))
    )


def init_hash_index(
    index_path: str,
    id_col: str = "doc_id",
    hash_col: str | None = None,
    n_blocks: int | None = None,
    hasher: str | dict | None = None,
) -> None:
    """Create an EMPTY index — meta only; the streaming ingest loops
    start here so the first micro-batch probes through the same path as
    every later one (an empty corpus yields no candidates).

    ``hasher`` names a :data:`HASHERS` kind (``"dhash"``) or a spec with
    its params (``{"kind": "simhash", "n": 5}``); the kind fixes
    ``hash_col`` and defaults ``n_blocks``. Without it the index holds
    pre-hashed frames (``hash_col`` default ``"hash"``, 16 blocks)."""
    _create(index_path, _new_meta(id_col, hash_col, n_blocks, hasher))


def _new_meta(id_col, hash_col, n_blocks, hasher) -> dict:
    meta = {"n_blocks": n_blocks or 16, "id_col": id_col, "hash_col": hash_col or "hash"}
    if hasher is not None:
        spec = _hasher_spec(hasher)
        h = HASHERS[spec["kind"]]
        if hash_col not in (None, h.hash_col):
            raise ValueError(f"hasher {spec['kind']!r} writes {h.hash_col!r}, not {hash_col!r}")
        meta.update(n_blocks=n_blocks or h.n_blocks, hash_col=h.hash_col, hasher=spec)
    return meta


def _create(index_path: str, meta: dict, df: DataFrame | None = None) -> None:
    """Commit generation 1 — meta plus, for a build, ``df``'s hashes.
    Refuses to clobber an existing index."""
    if current_generation(index_path) is not None:
        raise ValueError(f"index already exists at {index_path}")
    with staged_rewrite(index_path, owner="create_hash_index") as (_live, stage):
        if df is not None:
            _append(_hashed_rows(meta, df), meta, stage)
        write_marker(os.path.join(stage, "_meta.json"), meta)


def build_hash_index(
    df: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    hash_col: str | None = None,
    n_blocks: int | None = None,
    hasher: str | dict | None = None,
) -> None:
    """One-time build over the starting corpus (hashed once, by
    ``hasher``; see :func:`init_hash_index`). Refuses to clobber;
    appends belong to :func:`update_hash_index`."""
    _create(index_path, _new_meta(id_col, hash_col, n_blocks, hasher), df)


def dropped_ids_against_index(
    spark: SparkSession,
    new_hashed: DataFrame,
    index_path: str,
    radius: int,
) -> DataFrame:
    """Ids of ``new_hashed`` rows the online rule drops: within ``radius``
    of any indexed row, or of a smaller-id row of the same batch. The
    caller anti-joins against its original frame (keeping payload columns
    out of every exchange). ``new_hashed`` should be small-per-batch and
    is consumed three times — localCheckpoint it if it is expensive."""
    live = live_generation(index_path)
    meta = _hash_meta_at(live)
    id_col, hash_col, n_blocks = meta["id_col"], meta["hash_col"], meta["n_blocks"]
    if radius > n_blocks - 1:
        raise ValueError(
            f"radius {radius} > n_blocks - 1 = {n_blocks - 1}: the pigeonhole "
            "guarantee needs radius <= blocks-1"
        )
    new_hashed = new_hashed.select(id_col, hash_col)
    new_blocks = hash_blocks(new_hashed, id_col, hash_col, n_blocks)
    hamming = F.bit_count(F.col("_h1").bitwiseXOR(F.col("_h2")))

    # empty corpus (init only): no candidates. Footer check, not a dir
    # check (round 17, the dedup_index.py fix): a blocks/ holding only
    # _SUCCESS — crash between mkdir and first data file — must read as
    # an empty corpus, not throw UNABLE_TO_INFER_SCHEMA.
    from serverless_etl_bi_on_aws_spark.operators.dedup_index import (
        _has_parquet_files,
    )

    if _has_parquet_files(os.path.join(live, "blocks")):
        idx_blocks = spark.read.parquet(os.path.join(live, "blocks"))
        idx_hashes = spark.read.parquet(os.path.join(live, "hashes"))
    else:
        idx_blocks = new_blocks.select("block", "key", F.col("_id").alias(id_col)).limit(0)
        idx_hashes = new_hashed.limit(0)

    cand = (
        new_blocks.join(
            idx_blocks.select("block", "key", F.col(id_col).alias("_old")), ["block", "key"]
        )
        .select("_id", "_old")
        .dropDuplicates(["_id", "_old"])
    )
    dup_vs_corpus = (
        cand.join(
            idx_hashes.select(F.col(id_col).alias("_old"), F.col(hash_col).alias("_h2")),
            "_old",
        )
        .join(
            new_hashed.select(F.col(id_col).alias("_id"), F.col(hash_col).alias("_h1")),
            "_id",
        )
        .filter(hamming <= radius)
        .select("_id")
        .distinct()
    )
    within = (
        hamming_pairs_blocked(new_hashed, id_col, hash_col, radius, n_blocks)
        .select(F.col("id_2").alias("_id"))  # larger id is junior
        .distinct()
    )
    return dup_vs_corpus.unionByName(within).distinct()


def dedup_against_hash_index(
    spark: SparkSession,
    new_df: DataFrame,
    index_path: str,
    radius: int,
    hashed: Callable[[], DataFrame] | None = None,
) -> DataFrame:
    """Survivors of the raw frame ``new_df`` under the online rule: drop a
    row iff its hash (by the index's recorded hasher) is within hamming
    ``radius`` of ANY indexed row or a smaller-id row of the same batch.
    NULL-hash rows always survive. ``hashed`` (a :func:`batch_hashes`
    memo) supplies the batch's hashes; without it they are computed here.

    Plan shape: the hasher (for media, the only decode stage) runs once,
    on the new batch, and is localCheckpointed; the corpus side is two
    parquet scans (the (block, key) candidate join, then a hash
    fetch for candidates only); the final anti-join carries dropped ids
    only, so payloads never cross an exchange."""
    id_col = read_hash_meta(index_path)["id_col"]
    rows = (hashed or batch_hashes(new_df, index_path))()
    dropped = dropped_ids_against_index(spark, rows, index_path, radius)
    return new_df.join(dropped.select(F.col("_id").alias(id_col)), id_col, "left_anti")


def update_hash_index(
    new_df: DataFrame,
    index_path: str,
    batch_id: str,
    hashed: Callable[[], DataFrame] | None = None,
) -> bool:
    """Append one batch's hashes — ALL of them, duplicates included
    (chain equivalence; see operators/dedup_index.py), through
    :func:`util.append_once` (idempotent per ``batch_id``, lease-
    serialized, marker last). ``new_df`` is raw, hashed as the build was;
    ``hashed`` (a :func:`batch_hashes` memo, shared with the probe)
    supplies the hashes, else they are computed here.

    NULL-hash rows can never match a probe — a NULL block key never
    equi-joins and a NULL hamming never passes the radius filter — so
    they are dropped before the empty guard: a NULL-hash-only batch is
    vacuously applied and never creates a footer-less ``blocks/``."""
    meta = read_hash_meta(index_path)
    return append_once(
        index_path,
        batch_id,
        "update_hash_index",
        hashed or batch_hashes(new_df, index_path),
        # resolved under append_once's lease: no rewrite can commit between
        lambda rows: _append(rows, meta, live_generation(index_path)),
    )


def compact_hash_index(
    spark: SparkSession, index_path: str, target_file_bytes: int = 128 << 20
) -> dict[str, int]:
    """Compact both tables into one staged generation: ``blocks``
    deduped on (block, key, id) and range-clustered on ``key`` for
    footer-stats skipping, ``hashes`` deduped on the id. ``_applied``
    untouched; probe results identical before/after. Returns the new
    file count per table (empty for a just-initialized index)."""
    from serverless_etl_bi_on_aws_spark.operators.maintenance import compact_parquet

    id_col = read_hash_meta(index_path)["id_col"]
    layout = {
        "blocks": dict(cluster_by="key", dedupe_on=["block", "key", id_col]),
        "hashes": dict(dedupe_on=[id_col]),
    }
    files = {}
    with staged_rewrite(index_path, owner="compact_hash_index") as (live, stage):
        for table, kw in layout.items():
            src = os.path.join(live, table)
            if os.path.exists(src):
                files[table] = compact_parquet(
                    spark, src, os.path.join(stage, table), target_file_bytes, **kw
                )
    return files
