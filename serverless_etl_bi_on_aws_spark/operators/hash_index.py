"""Persisted 64-bit hash index — the modality-agnostic core of the
incremental near-dup family.

Three operators in this repo reduce a payload to one 64-bit fingerprint
whose hamming distance means "near-duplicate": text SimHash
(operators/dedup.simhash64), image dHash (operators/image_dedup), audio
energy-envelope (operators/audio_dedup). The persisted-index half —
build / probe-new-batch / append / compact, with pigeonhole blocking,
crash-ordering, idempotent markers — is IDENTICAL for all of them, so it
lives here once, operating on plain ``(id, hash)`` frames; the modality
modules contribute only their hasher and thin wrappers.

Layout (the operators/dedup_index.py shape, hash-sized):

    <index>/hashes/            (id, <hash_col>)         16 bytes/row
    <index>/blocks/block=<b>/  (key, id)                n_blocks rows/doc
    <index>/_meta.json         n_blocks, id_col, hash_col
    <index>/_applied/<batch>   idempotence markers (util.append_once)

Probe shape: candidates come from the (block, key) equi-join against
the block-partitioned index. Every new row emits all ``n_blocks``
sub-keys, so the join touches every block partition — the real (and
sufficient) guarantee is that the scan reads only the 24-byte
(block, key, id) triples, never hashes or payloads, and only candidate
PAIRS fetch full hashes for the ``bit_count(xor)`` verify.
Online rule: a new row is dropped iff within ``radius`` of ANY indexed
row or a smaller-id row of the same batch. Appends write hashes before
blocks (an unreplayed crash leaves an inert hash, never block rows whose
candidates silently vanish) and run through ``util.append_once``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from serverless_etl_bi_on_aws_spark.operators.dedup import hamming_pairs_blocked
from serverless_etl_bi_on_aws_spark.util import (
    append_once,
    read_marker,
    write_marker,
    writer_lease,
)


def read_hash_meta(index_path: str) -> dict:
    meta = read_marker(os.path.join(index_path, "_meta.json"))
    if meta is None:
        raise FileNotFoundError(f"no hash index meta at {index_path}")
    return meta


def hash_blocks(hashed: DataFrame, id_col: str, hash_col: str, n_blocks: int) -> DataFrame:
    """(_id, block, key): pigeonhole sub-blocks of a 64-bit hash. The
    split expression itself is :func:`operators.dedup.hash_block_expr` —
    the SAME object hamming_pairs_blocked uses — so index and probe block
    identically by construction."""
    from serverless_etl_bi_on_aws_spark.operators.dedup import hash_block_expr

    return hashed.select(
        F.col(id_col).alias("_id"),
        F.explode(hash_block_expr(hash_col, n_blocks)).alias("_bk"),
    ).select("_id", "_bk.block", "_bk.key")


def _append(hashed: DataFrame, meta: dict, index_path: str) -> None:
    id_col, hash_col, n_blocks = meta["id_col"], meta["hash_col"], meta["n_blocks"]
    hashed.write.mode("append").parquet(os.path.join(index_path, "hashes"))
    (
        hash_blocks(hashed, id_col, hash_col, n_blocks)
        .select("block", "key", F.col("_id").alias(id_col))
        .write.mode("append")
        .partitionBy("block")
        .parquet(os.path.join(index_path, "blocks"))
    )


def init_hash_index(
    index_path: str,
    id_col: str = "doc_id",
    hash_col: str = "hash",
    n_blocks: int = 16,
) -> None:
    """Create an EMPTY index — meta only; the streaming ingest loops
    start here so the first micro-batch probes through the same path as
    every later one (an empty corpus yields no candidates)."""
    if os.path.exists(os.path.join(index_path, "_meta.json")):
        raise ValueError(f"index already exists at {index_path}")
    os.makedirs(index_path, exist_ok=True)
    write_marker(
        os.path.join(index_path, "_meta.json"),
        {"n_blocks": n_blocks, "id_col": id_col, "hash_col": hash_col},
    )


def build_hash_index(
    hashed: DataFrame,
    index_path: str,
    id_col: str = "doc_id",
    hash_col: str = "hash",
    n_blocks: int = 16,
) -> None:
    """One-time build from an already-hashed ``(id, hash)`` frame (NULL
    hashes must be filtered by the caller). Refuses to clobber."""
    init_hash_index(index_path, id_col, hash_col, n_blocks)
    meta = read_hash_meta(index_path)
    _append(hashed.select(id_col, hash_col), meta, index_path)


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
    meta = read_hash_meta(index_path)
    id_col, hash_col, n_blocks = meta["id_col"], meta["hash_col"], meta["n_blocks"]
    assert radius <= n_blocks - 1, "pigeonhole guarantee needs radius <= blocks-1"
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

    if _has_parquet_files(os.path.join(index_path, "blocks")):
        idx_blocks = spark.read.parquet(os.path.join(index_path, "blocks"))
        idx_hashes = spark.read.parquet(os.path.join(index_path, "hashes"))
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


def update_hash_index(
    new_hashed: DataFrame,
    index_path: str,
    batch_id: str,
) -> bool:
    """Append one batch's ``(id, hash)`` rows — ALL of them, duplicates
    included (chain equivalence; see operators/dedup_index.py), through
    :func:`util.append_once` (idempotent per ``batch_id``, lease-
    serialized, marker last).

    NULL-hash rows (undecodable media, unparseable urls) can never match
    a probe — a NULL block key never equi-joins and a NULL hamming never
    passes the radius filter — so they are dropped before the empty
    guard: a NULL-hash-only batch is vacuously applied and never creates
    a footer-less ``blocks/``."""
    meta = read_hash_meta(index_path)
    return append_once(
        index_path,
        batch_id,
        "update_hash_index",
        lambda: new_hashed.select(meta["id_col"], meta["hash_col"]).filter(
            F.col(meta["hash_col"]).isNotNull()
        ),
        lambda rows: _append(rows, meta, index_path),
    )


def compact_hash_index(
    spark: SparkSession, index_path: str, target_file_bytes: int = 128 << 20
) -> dict[str, int]:
    """Per-block-partition compaction: dedupe replay rows on (key, id),
    range-cluster on ``key`` for footer-stats skipping; hashes dedupe on
    the id. Markers untouched; probe results identical before/after."""
    from serverless_etl_bi_on_aws_spark.operators.maintenance import compact_parquet

    meta = read_hash_meta(index_path)
    id_col = meta["id_col"]
    files = {}
    blocks_root = os.path.join(index_path, "blocks")
    with writer_lease(index_path, owner="compact_hash_index"):
        # a just-initialized index (init_hash_index, no appends yet) has
        # neither table — nothing to compact (round-9 ADVICE)
        if os.path.exists(blocks_root):
            for part in sorted(os.listdir(blocks_root)):
                if not part.startswith("block="):
                    continue
                files[f"blocks/{part}"] = compact_parquet(
                    spark,
                    os.path.join(blocks_root, part),
                    target_file_bytes,
                    cluster_by="key",
                    dedupe_on=["key", id_col],
                )
        if os.path.exists(os.path.join(index_path, "hashes")):
            files["hashes"] = compact_parquet(
                spark,
                os.path.join(index_path, "hashes"),
                target_file_bytes,
                dedupe_on=[id_col],
            )
    return files
