"""Image near-duplicate detection via perceptual hashing (north-star X4 x
X2: the multimodal column meets the dedup family).

Text had four near-dup families (Jaccard, MinHash-LSH, SimHash, embedding
cosine); images had none. This module closes that gap with dHash — the
difference hash: decode (REAL codecs: functions/{png,jpeg,gif}.py),
nearest-resample to a 9x8 grayscale thumbnail, emit one bit per adjacent-
pixel comparison (is the right neighbor brighter?) -> a 64-bit fingerprint
that is invariant to scale (any render of the same image resamples to the
same thumbnail) and robust to re-encoding (lossless codecs: identical
bits; JPEG: a few flipped bits, caught by the hamming radius).

Pairing reuses the text-SimHash machinery verbatim:
operators/dedup.hamming_pairs_blocked — pigeonhole block split, self-join
on block collisions only, bit_count(xor) verify. Nothing is all-pairs.

100 TB shape: decode is isolated to ONE mapInPandas stage per corpus scan
(Arrow batches; peak memory = one batch per core) and the only thing that
ever reaches an exchange is (id, 64-bit hash) — 16 bytes/image, never a
payload. The blocked self-join shuffles on (block, key), a uniform key by
construction (hash bits). For incremental corpora the persisted index is
operators/hash_index.py with the ``dhash`` hasher (:func:`with_dhash`):
indexed images are never re-decoded, the probe's only decode stage runs
on the new batch, and NULL-hash (undecodable) media always survive.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

from serverless_etl_bi_on_aws_spark.operators.dedup import hamming_pairs_blocked

#: dHash thumbnail geometry: 9 columns x 8 rows -> 8 comparisons x 8 rows
#: = 64 bits, the standard dHash parameterization.
_W, _H = 9, 8


def dhash_bits(pixels: bytes) -> int:
    """64-bit difference hash of a 9x8 row-major grayscale thumbnail.
    Bit (y*8 + x) is set iff pixel (x+1, y) > pixel (x, y)."""
    h = 0
    for y in range(_H):
        row = pixels[y * _W : (y + 1) * _W]
        for x in range(_W - 1):
            if row[x + 1] > row[x]:
                h |= 1 << (y * 8 + x)
    # interpret as signed 64-bit for Spark's LongType (bit 63 is the sign)
    return h - (1 << 64) if h >= (1 << 63) else h


def with_dhash(
    df: DataFrame, media_col: str = "media", out_col: str = "dhash"
) -> DataFrame:
    """Append a 64-bit dHash column computed through the REAL decode path
    (PNG/JPEG/GIF -> grayscale -> nearest-resample 9x8 -> dHash). Media
    that is NULL, has no real decoder, or fails to decode (corrupt or
    truncated payload — routine in crawl corpora) hashes to NULL — loud
    absence, not a fake fingerprint, and never a failed task: one bad
    image must not kill a corpus-wide stage."""
    from serverless_etl_bi_on_aws_spark.functions.png import resize_nearest
    from serverless_etl_bi_on_aws_spark.sources.multimodal import IMAGE_DECODERS

    out_schema = StructType(df.schema.fields + [StructField(out_col, LongType(), True)])
    # registry snapshot (round 12): same builtin membership as the old
    # frozen REAL_DECODER_MIMES gate, but a registered plugin decoder
    # (register_image_decoder) now feeds the dHash pipeline too, and the
    # snapshot ships driver-side registrations to the executors
    img_dec = dict(IMAGE_DECODERS)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hashes = []
            for m in pdf[media_col]:
                fn = img_dec.get(m["mime"]) if m is not None else None
                if m is None or m["payload"] is None or fn is None:
                    hashes.append(None)
                    continue
                try:
                    w, h, px = fn(bytes(m["payload"]))
                    hashes.append(dhash_bits(resize_nearest(px, w, h, _W, _H)))
                except Exception:
                    hashes.append(None)  # corrupt payload with a real mime
            pdf = pdf.copy()
            pdf[out_col] = pd.array(hashes, dtype="Int64")
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


def image_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    media_col: str = "media",
    radius: int = 8,
    n_blocks: int = 16,
) -> DataFrame:
    """Near-duplicate image pairs: dHash + pigeonhole-blocked hamming
    self-join. Returns (id_1, id_2, hamming) with id_1 < id_2 and
    hamming <= ``radius``.

    Radius guidance (measured on the planted fixture generator): a
    re-render at a different scale or a lossless re-encode is hamming 0;
    JPEG q~50 re-encodes land within ~6; unrelated images sit >= 16.
    ``n_blocks=16`` (4-bit blocks) keeps the pigeonhole guarantee up to
    radius 15 while keeping block-collision candidates rare."""
    hashed = with_dhash(df, media_col=media_col).filter(f"dhash IS NOT NULL")
    return hamming_pairs_blocked(
        hashed.select(id_col, "dhash"), id_col, "dhash", radius, n_blocks
    )
