"""Round-14 streaming members: Bloom-filter exact-key dedup loop and the
persisted Count-Min sketch stream (streaming/ingest_dedup.py,
operators/{bloom_index,sketches}.py) — drained-stream == batch-twin
equivalence, every replay point, and checkpoint-wipe convergence."""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from serverless_etl_bi_on_aws_spark.operators.bloom_index import build_bloom_index
from serverless_etl_bi_on_aws_spark.operators.sketches import (
    cms_build,
    cms_estimate,
    read_cms,
    write_cms_batch,
)
from serverless_etl_bi_on_aws_spark.streaming.ingest_dedup import (
    apply_bloom_dedup_batch,
    start_cms_stream,
    start_incremental_bloom_dedup,
)


def _land(tmp_path, spark, name, rows, schema="doc_id bigint, key string"):
    df = spark.createDataFrame(rows, schema)
    tmp = tmp_path / f"_{name}"
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp))
    part = next(p for p in os.listdir(tmp) if p.endswith(".parquet"))
    land = tmp_path / "landing"
    land.mkdir(exist_ok=True)
    os.rename(tmp / part, land / f"{name}.parquet")
    return str(land)


def _empty_filter(spark, path):
    empty = spark.createDataFrame([], "key string")
    build_bloom_index(empty, "key", path, num_bits=1 << 13, num_hashes=5)


@pytest.mark.slow  # round-19 tiering: >=10 s integration test
def test_bloom_stream_end_to_end_and_checkpoint_wipe(spark, tmp_path):
    idx, clean = str(tmp_path / "idx"), str(tmp_path / "clean")
    _empty_filter(spark, idx)
    schema = "doc_id bigint, key string"
    # batch 1: in-batch dup of 'a' collapses to min id
    land = _land(tmp_path, spark, "f1", [(1, "a"), (2, "a"), (3, "b")])
    q = start_incremental_bloom_dedup(
        spark, land, idx, clean,
        spark.createDataFrame([], schema).schema,
        str(tmp_path / "ckpt"), key_col="key", id_col="doc_id",
    )
    q.awaitTermination(120)
    got = {(r.doc_id, r.key) for r in spark.read.parquet(clean).select("doc_id", "key").collect()}
    assert got == {(1, "a"), (3, "b")}
    # batch 2: cross-batch dup 'b' dropped, fresh 'c' admitted
    _land(tmp_path, spark, "f2", [(4, "b"), (5, "c")])
    q = start_incremental_bloom_dedup(
        spark, land, idx, clean,
        spark.createDataFrame([], schema).schema,
        str(tmp_path / "ckpt"), key_col="key", id_col="doc_id",
    )
    q.awaitTermination(120)
    got = {(r.doc_id, r.key) for r in spark.read.parquet(clean).select("doc_id", "key").collect()}
    assert got == {(1, "a"), (3, "b"), (5, "c")}
    # checkpoint wipe: files reprocess under a NEW instance nonce, but the
    # filter already knows every key -> the replayed partitions are empty
    import shutil

    shutil.rmtree(str(tmp_path / "ckpt"))
    q = start_incremental_bloom_dedup(
        spark, land, idx, clean,
        spark.createDataFrame([], schema).schema,
        str(tmp_path / "ckpt"), key_col="key", id_col="doc_id",
    )
    q.awaitTermination(120)
    got = {(r.doc_id, r.key) for r in spark.read.parquet(clean).select("doc_id", "key").collect()}
    assert got == {(1, "a"), (3, "b"), (5, "c")}


def test_bloom_batch_replay_points(spark, tmp_path):
    idx, clean = str(tmp_path / "idx"), str(tmp_path / "clean")
    _empty_filter(spark, idx)
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id bigint, key string")
    b2 = spark.createDataFrame([(3, "b"), (4, "c")], "doc_id bigint, key string")
    apply_bloom_dedup_batch(spark, b1, idx, clean, "bid-0", "key", id_col="doc_id")
    apply_bloom_dedup_batch(spark, b2, idx, clean, "bid-1", "key", id_col="doc_id")

    def rows(bid):
        return sorted(
            (r.doc_id, r.key)
            for r in spark.read.parquet(os.path.join(clean, f"batch={bid}")).collect()
        )

    assert rows("bid-0") == [(1, "a"), (2, "b")]
    assert rows("bid-1") == [(4, "c")]
    bits = open(os.path.join(idx, "bits.bin"), "rb").read()
    # (a) full replay: identical partitions, identical bits
    apply_bloom_dedup_batch(spark, b2, idx, clean, "bid-1", "key", id_col="doc_id")
    assert rows("bid-1") == [(4, "c")]
    assert open(os.path.join(idx, "bits.bin"), "rb").read() == bits
    # (b) crash after survivors commit, before the filter OR: simulate by
    # replaying with the _SUCCESS present — survivors NOT recomputed
    # (they would see themselves in the filter), bits re-OR'd (no-op)
    apply_bloom_dedup_batch(spark, b2, idx, clean, "bid-1", "key", id_col="doc_id")
    assert rows("bid-1") == [(4, "c")]


@pytest.mark.slow  # round-19 tiering: >=10 s integration test
def test_cms_stream_equals_batch_twin_and_replay(spark, tmp_path):
    sk = str(tmp_path / "sk")
    rows1 = [(i, f"k{i % 7}") for i in range(300)]
    rows2 = [(i, f"k{i % 5}") for i in range(200)]
    land = _land(tmp_path, spark, "c1", rows1)
    q = start_cms_stream(
        spark, land, sk,
        spark.createDataFrame([], "doc_id bigint, key string").schema,
        str(tmp_path / "ck2"), key_col="key", width=256, depth=4,
    )
    q.awaitTermination(120)
    _land(tmp_path, spark, "c2", rows2)
    q = start_cms_stream(
        spark, land, sk,
        spark.createDataFrame([], "doc_id bigint, key string").schema,
        str(tmp_path / "ck2"), key_col="key", width=256, depth=4,
    )
    q.awaitTermination(120)
    union = spark.createDataFrame(rows1 + rows2, "doc_id bigint, key string")
    oneshot = cms_build(union, "key", width=256, depth=4)
    merged = read_cms(spark, sk)
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, oneshot.collect()))
    # estimates through the persisted sketch are usable directly
    est = {r.key: r.est for r in
           cms_estimate(merged, union.select("key").distinct(), "key").collect()}
    true = {r.key: r.cnt for r in
            union.groupBy("key").agg(F.count("*").alias("cnt")).collect()}
    assert all(est[k] >= true[k] for k in true)
    # replay an applied batch id directly: a marker no-op, not a double-count
    batches = sorted(
        (d for d in os.listdir(sk) if d.startswith("batch=")),
        key=lambda d: int(d.rsplit("-", 1)[1]),
    )
    bid = batches[0].split("=", 1)[1]  # epoch 0 == rows1
    first = spark.createDataFrame(rows1, "doc_id bigint, key string")
    write_cms_batch(first, "key", sk, bid, width=256, depth=4)
    write_cms_batch(first, "key", sk, bid, width=256, depth=4)
    assert sorted(map(tuple, read_cms(spark, sk).collect())) == sorted(
        map(tuple, oneshot.collect())
    )


def test_cms_batch_shape_mismatch_fails_loudly(spark, tmp_path):
    import pytest

    sk = str(tmp_path / "sk")
    df = spark.createDataFrame([(1, "a")], "doc_id bigint, key string")
    write_cms_batch(df, "key", sk, "b0", width=128, depth=4)
    with pytest.raises(ValueError, match="128x4"):
        write_cms_batch(df, "key", sk, "b1", width=256, depth=4)


def test_cms_batch_serialized_by_writer_lease(spark, tmp_path):
    """write_cms_batch runs through util.append_once: under a held lease
    it fails loudly and commits nothing; once applied, a replay of the
    same batch id is a marker no-op (sketch addition would double-count),
    and an empty batch is marked applied without writing a batch dir."""
    from serverless_etl_bi_on_aws_spark.util import LeaseHeldError, writer_lease

    sk = str(tmp_path / "sk")
    df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "doc_id bigint, key string")
    with writer_lease(sk, owner="concurrent-writer"):
        with pytest.raises(LeaseHeldError):
            write_cms_batch(df, "key", sk, "b0", width=64, depth=2)
    assert not os.path.exists(os.path.join(sk, "_applied", "b0"))
    write_cms_batch(df, "key", sk, "b0", width=64, depth=2)
    write_cms_batch(df, "key", sk, "b0", width=64, depth=2)
    write_cms_batch(df.limit(0), "key", sk, "b1", width=64, depth=2)
    assert not os.path.exists(os.path.join(sk, "batch=b1"))
    assert sorted(map(tuple, read_cms(spark, sk).collect())) == sorted(
        map(tuple, cms_build(df, "key", width=64, depth=2).collect())
    )
