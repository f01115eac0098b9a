"""Audio near-duplicate detection via an energy-envelope fingerprint —
the third modality of the near-dup family (text: Jaccard/MinHash/SimHash/
cosine; image: dHash; audio: this), completing per-modality dedup for a
multimodal training corpus.

Fingerprint = the dHash idea applied to the time axis: decode (REAL
codec, functions/wav.py), split the waveform into 65 equal segments,
take each segment's mean absolute amplitude (the energy envelope), and
emit one bit per adjacent-segment comparison (is the next segment
louder?) -> a 64-bit fingerprint that is invariant to GAIN (positive
scaling preserves every energy ordering), to sample-width re-encodes
(8/16/32-bit PCM decode to proportional amplitudes), and robust to
resampling (the envelope is duration-normalized). Distinct program
material orders its envelope differently almost everywhere.

Pairing reuses operators/dedup.hamming_pairs_blocked verbatim —
pigeonhole block split, collision-only self-join, bit_count verify;
nothing is all-pairs, and only (id, 64-bit hash) ever reaches an
exchange. The incremental half (build/probe/append/compact against a
persisted fingerprint index) is the modality-agnostic
operators/hash_index.py core with the ``afp`` hasher
(:func:`with_audio_fingerprint`) — the same core the image dHash index
uses.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

from serverless_etl_bi_on_aws_spark.operators.dedup import hamming_pairs_blocked

#: 65 segments -> 64 adjacent comparisons -> 64 bits.
_SEGMENTS = 65


def audio_fingerprint_bits(samples) -> int | None:
    """64-bit energy-envelope fingerprint of a 1-D integer sample array.
    None for waveforms too short to segment (< _SEGMENTS samples)."""
    import numpy as np

    arr = np.asarray(samples, dtype=np.int64)
    n = arr.size
    if n < _SEGMENTS:
        return None
    # equal segments by index split (duration-normalized)
    bounds = (np.arange(_SEGMENTS + 1) * n) // _SEGMENTS
    env = np.array(
        [np.abs(arr[bounds[i] : bounds[i + 1]]).mean() for i in range(_SEGMENTS)]
    )
    h = 0
    for i in range(_SEGMENTS - 1):
        if env[i + 1] > env[i]:
            h |= 1 << i
    return h - (1 << 64) if h >= (1 << 63) else h


def with_audio_fingerprint(
    df: DataFrame, media_col: str = "media", out_col: str = "afp"
) -> DataFrame:
    """Append the 64-bit audio fingerprint through the REAL WAV decode
    path. NULL for non-WAV mimes, NULL payloads, corrupt/truncated
    payloads, and too-short waveforms — loud absence, never a failed
    stage (the image-dHash policy)."""
    from serverless_etl_bi_on_aws_spark.functions.wav import decode_wav_pcm

    out_schema = StructType(df.schema.fields + [StructField(out_col, LongType(), True)])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            fps = []
            for m in pdf[media_col]:
                if m is None or m["payload"] is None or m["mime"] != "audio/wav":
                    fps.append(None)
                    continue
                try:
                    samples, _rate, channels = decode_wav_pcm(bytes(m["payload"]))
                    if channels > 1:
                        samples = samples.reshape(-1, channels).mean(axis=1)
                    fps.append(audio_fingerprint_bits(samples))
                except Exception:
                    fps.append(None)  # corrupt payload with an audio mime
            pdf = pdf.copy()
            pdf[out_col] = pd.array(fps, dtype="Int64")
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


def audio_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    media_col: str = "media",
    radius: int = 6,
    n_blocks: int = 8,
) -> DataFrame:
    """Near-duplicate audio pairs: fingerprint + pigeonhole-blocked
    hamming self-join. Returns (id_1, id_2, hamming), id_1 < id_2,
    hamming <= ``radius``.

    Radius guidance (measured on the planted generators in
    tests/test_audio_dedup.py): a gain-scaled or width-re-encoded copy
    is hamming 0; light additive noise lands within ~4; unrelated
    program material sits far beyond 8."""
    hashed = with_audio_fingerprint(df, media_col=media_col).filter(
        "afp IS NOT NULL"
    )
    return hamming_pairs_blocked(
        hashed.select(id_col, "afp"), id_col, "afp", radius, n_blocks
    )
