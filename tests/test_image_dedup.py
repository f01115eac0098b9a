"""Perceptual-hash image dedup (operators/image_dedup.py): scale and
re-encode invariance through the REAL codecs, JPEG-lossy tolerance,
unrelated-image separation, and loud-null behavior for undecodable
media."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from serverless_etl_bi_on_aws_spark.operators.image_dedup import (
    dhash_bits,
    image_neardup_pairs,
    with_dhash,
)
from serverless_etl_bi_on_aws_spark.sources.multimodal import MEDIA_STRUCT

from tests.conftest import live_table


def _pat(cx: int, cy: int, k: int) -> int:
    return (
        cx * cx * (k % 7 + 1) + cy * cy * (k % 11 + 3) + cx * cy * (k % 5 + 1)
        + cx * (k % 13) * 17 + cy * (k % 17) * 23 + k
    ) % 256


def _render(k: int, w: int, h: int) -> bytes:
    return bytes(_pat(x * 24 // w, y * 24 // h, k) for y in range(h) for x in range(w))


def _media_df(spark, rows):
    schema = StructType(
        [StructField("doc_id", LongType(), False), StructField("media", MEDIA_STRUCT, True)]
    )
    return spark.createDataFrame(
        [
            (i, {"payload": p, "mime": m, "width": None, "height": None, "duration_ms": None})
            for i, (p, m) in enumerate(rows)
        ],
        schema,
    )


def test_scale_and_lossless_reencode_hash_identical(spark):
    """The same logical image rendered at 24x48 (PNG), 72x96 (PNG) and
    48x24 (GIF) produces ONE dHash — scale + lossless-codec invariance,
    end-to-end through encode -> decode -> resize -> hash."""
    from serverless_etl_bi_on_aws_spark.functions.gif import encode_gif_frames
    from serverless_etl_bi_on_aws_spark.functions.png import encode_png

    k = 5
    rows = [
        (encode_png(_render(k, 24, 48), 24, 48), "image/png"),
        (encode_png(_render(k, 72, 96), 72, 96), "image/png"),
        (encode_gif_frames([_render(k, 48, 24)], 48, 24), "image/gif"),
    ]
    hashes = [r["dhash"] for r in with_dhash(_media_df(spark, rows)).collect()]
    assert len(set(hashes)) == 1 and hashes[0] is not None


def test_jpeg_reencode_within_radius_unrelated_beyond(spark):
    """A lossy JPEG re-encode of the same image lands within the hamming
    radius; genuinely different images do not pair."""
    from serverless_etl_bi_on_aws_spark.functions.jpeg import encode_jpeg_gray
    from serverless_etl_bi_on_aws_spark.functions.png import encode_png

    rows = [
        (encode_png(_render(7, 48, 48), 48, 48), "image/png"),         # 0
        (encode_jpeg_gray(_render(7, 48, 48), 48, 48), "image/jpeg"),  # 1: lossy twin
        (encode_png(_render(23, 48, 48), 48, 48), "image/png"),        # 2: unrelated
        (encode_png(_render(41, 72, 24), 72, 24), "image/png"),        # 3: unrelated
    ]
    pairs = {
        (r["id_1"], r["id_2"]): r["hamming"]
        for r in image_neardup_pairs(_media_df(spark, rows), radius=8).collect()
    }
    assert (0, 1) in pairs, "JPEG re-encode not caught as near-dup"
    assert pairs[(0, 1)] <= 8
    assert all(p == (0, 1) for p in pairs), f"false pairs: {pairs}"


def test_undecodable_media_hashes_to_null(spark):
    rows = [(b"\x00not-an-image", "application/octet-stream")]
    got = with_dhash(_media_df(spark, rows)).collect()
    assert got[0]["dhash"] is None
    # and a null dhash never reaches the pair join
    assert image_neardup_pairs(_media_df(spark, rows)).count() == 0


def test_dhash_bits_reference_values():
    """Hand-checkable: a strictly increasing row sets all 8 of its bits;
    a flat row sets none; bit 63 round-trips through the signed-long
    representation."""
    inc = bytes(range(9))
    flat = bytes([5] * 9)
    px = inc + flat * 7
    assert dhash_bits(px) == 0xFF
    # top row flat, bottom row increasing -> bits 56..63 -> negative long
    px2 = flat * 7 + inc
    v = dhash_bits(px2)
    assert v < 0 and (v + (1 << 64)) == 0xFF << 56


def test_corrupt_payload_with_real_mime_hashes_to_null(spark):
    """A truncated/corrupt payload carrying a real image mime must degrade
    to a NULL hash, not fail the mapInPandas task (round-8 ADVICE): crawl
    corpora routinely contain broken images and one of them must not kill
    a corpus-wide stage. Good rows in the same batch still hash."""
    from serverless_etl_bi_on_aws_spark.functions.png import encode_png

    good = encode_png(_render(3, 24, 24), 24, 24)
    rows = [
        (good, "image/png"),
        (good[: len(good) // 2], "image/png"),  # truncated mid-stream
        (b"\x89PNG\r\n\x1a\n garbage", "image/png"),  # bad chunk structure
        (b"\xff\xd8\xff\xe0 nope", "image/jpeg"),  # JPEG SOI then garbage
    ]
    got = {r["doc_id"]: r["dhash"] for r in with_dhash(_media_df(spark, rows)).collect()}
    assert got[0] is not None
    assert got[1] is None and got[2] is None and got[3] is None


def _media_df_ids(spark, rows):
    """Like _media_df but with explicit (doc_id, payload, mime) rows."""
    schema = StructType(
        [StructField("doc_id", LongType(), False), StructField("media", MEDIA_STRUCT, True)]
    )
    return spark.createDataFrame(
        [
            (i, {"payload": p, "mime": m, "width": None, "height": None, "duration_ms": None})
            for i, p, m in rows
        ],
        schema,
    )


@pytest.mark.slow  # round-19 tiering: >=10 s integration test
def test_incremental_image_dedup_equals_oneshot(spark, tmp_path, monkeypatch):
    """Round-9 ask #6: batch-2 images dedup against batch-1's persisted
    dHash index exactly as the one-shot online rule over the union — and
    the probe never re-decodes indexed images (with_dhash runs exactly
    once, on the new batch)."""
    from serverless_etl_bi_on_aws_spark.functions.png import encode_png
    from serverless_etl_bi_on_aws_spark.operators import image_dedup as idd
    from serverless_etl_bi_on_aws_spark.operators.hash_index import (
        build_hash_index,
        dedup_against_hash_index,
        update_hash_index,
    )

    # batch 1: images 0..5 (distinct patterns); batch 2: 10..15 where
    # 10 re-renders image 1 at another scale (cross-batch dup), 12 and
    # 13 re-render one new pattern (within-batch dup pair), 14 is
    # corrupt (NULL hash -> must survive), 15 is fresh
    b1_rows = [(k, encode_png(_render(k, 24, 24), 24, 24), "image/png") for k in range(6)]
    b2_rows = [
        (10, encode_png(_render(1, 48, 48), 48, 48), "image/png"),
        (11, encode_png(_render(30, 24, 24), 24, 24), "image/png"),
        (12, encode_png(_render(40, 24, 24), 24, 24), "image/png"),
        (13, encode_png(_render(40, 72, 24), 72, 24), "image/png"),
        (14, b"\x89PNG\r\n\x1a\n broken", "image/png"),
        (15, encode_png(_render(50, 24, 24), 24, 24), "image/png"),
    ]
    b1, b2 = _media_df_ids(spark, b1_rows), _media_df_ids(spark, b2_rows)
    idx = str(tmp_path / "idx")
    build_hash_index(b1, idx, hasher="dhash")

    # one-shot rule over the union: drop j iff exists i<j within radius
    union = _media_df_ids(spark, b1_rows + b2_rows)
    pairs = image_neardup_pairs(union, radius=8)
    dropped_oneshot = {r.id_2 for r in pairs.collect()}

    calls = []
    real = idd.with_dhash

    def counting(df, **kw):
        calls.append(1)
        return real(df, **kw)

    monkeypatch.setattr(idd, "with_dhash", counting)
    survivors = {
        r.doc_id for r in dedup_against_hash_index(spark, b2, idx, 8).collect()
    }
    assert len(calls) == 1, f"indexed images re-decoded: {len(calls)} with_dhash calls"
    monkeypatch.undo()

    expected = {i for i, _, _ in b2_rows} - dropped_oneshot
    assert survivors == expected
    assert 14 in survivors  # undecodable -> NULL hash -> survives
    assert 10 not in survivors and 13 not in survivors

    # append is idempotent per batch id; NULL-hash rows are not indexed
    import os

    assert update_hash_index(b2, idx, "b2") is True
    n_hashes = spark.read.parquet(live_table(idx, "hashes")).count()
    assert n_hashes == len(b1_rows) + len(b2_rows) - 1  # 14 not indexed
    assert update_hash_index(b2, idx, "b2") is False
    assert spark.read.parquet(live_table(idx, "hashes")).count() == n_hashes

    # a third batch re-rendering batch-2's image 12/13 pattern is caught
    # through the updated index (chain through an indexed duplicate)
    b3 = _media_df_ids(
        spark, [(20, encode_png(_render(40, 24, 48), 24, 48), "image/png")]
    )
    assert dedup_against_hash_index(spark, b3, idx, 8).count() == 0
    with pytest.raises(ValueError):
        build_hash_index(b3, idx, hasher="dhash")  # clobber refusal


@pytest.mark.slow  # round-19 tiering: >=10 s integration test
def test_compact_dhash_index_purges_replay_and_keeps_results(spark, tmp_path):
    """Same contract as compact_index: after a crash-replayed append left
    duplicate rows, compaction bounds files, dedupes, keeps markers, and
    the probe sees identical survivors."""
    import os

    from serverless_etl_bi_on_aws_spark.functions.png import encode_png
    from serverless_etl_bi_on_aws_spark.operators.hash_index import (
        build_hash_index,
        compact_hash_index,
        dedup_against_hash_index,
        update_hash_index,
    )

    b1 = _media_df_ids(
        spark, [(k, encode_png(_render(k, 24, 24), 24, 24), "image/png") for k in range(5)]
    )
    b2 = _media_df_ids(
        spark,
        [(10, encode_png(_render(2, 48, 24), 48, 24), "image/png"),
         (11, encode_png(_render(60, 24, 24), 24, 24), "image/png")],
    )
    probe = _media_df_ids(
        spark,
        [(20, encode_png(_render(60, 24, 48), 24, 48), "image/png"),
         (21, encode_png(_render(70, 24, 24), 24, 24), "image/png")],
    )
    idx = str(tmp_path / "idx")
    build_hash_index(b1, idx, hasher="dhash")
    assert update_hash_index(b2, idx, "b2")
    os.remove(os.path.join(idx, "_applied", "b2"))
    assert update_hash_index(b2, idx, "b2")  # crash replay: duplicates
    n_docs = spark.read.parquet(live_table(idx, "hashes")).select("doc_id").distinct().count()
    assert spark.read.parquet(live_table(idx, "hashes")).count() > n_docs

    before = {r.doc_id for r in dedup_against_hash_index(spark, probe, idx, 8).collect()}
    files = compact_hash_index(spark, idx)
    assert all(n == 1 for n in files.values())
    assert spark.read.parquet(live_table(idx, "hashes")).count() == n_docs
    assert not update_hash_index(b2, idx, "b2")  # marker survived
    after = {r.doc_id for r in dedup_against_hash_index(spark, probe, idx, 8).collect()}
    assert after == before == {21}  # 20 chains to 11 via the index
