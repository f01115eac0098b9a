"""Audio near-dup fingerprint (operators/audio_dedup.py): gain/width
invariance through the real WAV codec, noise robustness, separation of
unrelated program material, and loud-NULL behavior."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql.types import LongType, StructField, StructType

from serverless_etl_bi_on_aws_spark.functions.wav import encode_wav_pcm16
from serverless_etl_bi_on_aws_spark.operators.audio_dedup import (
    audio_fingerprint_bits,
    audio_neardup_pairs,
    with_audio_fingerprint,
)
from serverless_etl_bi_on_aws_spark.sources.multimodal import MEDIA_STRUCT

from tests.conftest import live_table


def _program(k: int, n: int = 4000) -> np.ndarray:
    """Deterministic 'program material': a tone with a slowly wandering
    amplitude envelope whose shape depends on k — distinct k give
    distinctly-ordered envelopes."""
    t = np.arange(n)
    env = 0.55 + 0.45 * np.sin(2 * np.pi * (k % 7 + 1) * t / n + k)
    wobble = 0.2 * np.sin(2 * np.pi * (k % 11 + 2) * t / n + 2 * k)
    carrier = np.sin(2 * np.pi * t * (0.03 + 0.001 * (k % 5)))
    return ((env + wobble) * carrier * 12000).astype(np.int64)


def _media_df(spark, rows):
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


def test_fingerprint_gain_invariant_and_separating():
    a = _program(1)
    fp = audio_fingerprint_bits(a)
    assert fp == audio_fingerprint_bits((a * 0.5).astype(np.int64))  # gain
    assert fp == audio_fingerprint_bits(a // 4)  # integer width re-scale
    # unrelated program material is far away
    other = audio_fingerprint_bits(_program(2))
    ham = bin((fp ^ other) & ((1 << 64) - 1)).count("1")
    assert ham > 12, f"unrelated programs too close: hamming {ham}"
    # too-short waveform -> None, never a garbage hash
    assert audio_fingerprint_bits(np.arange(10)) is None


@pytest.mark.slow  # round-19 tiering: >=10 s integration test
def test_audio_neardup_pairs_end_to_end(spark):
    """Planted set through the REAL codec: (0,1) same program at
    different gain -> hamming 0; (2,3) same program with light noise ->
    within radius; 4..7 unrelated; 8 corrupt payload -> NULL, excluded."""
    rng = np.random.RandomState(7)
    base = _program(3)
    noisy = (base + rng.randint(-300, 300, size=base.size)).astype(np.int64)
    rows = [
        (0, encode_wav_pcm16(np.clip(base, -32768, 32767)), "audio/wav"),
        (1, encode_wav_pcm16(np.clip(base // 2, -32768, 32767)), "audio/wav"),
        (2, encode_wav_pcm16(np.clip(_program(4), -32768, 32767)), "audio/wav"),
        (3, encode_wav_pcm16(np.clip((_program(4) + rng.randint(-200, 200, size=base.size)), -32768, 32767).astype(np.int64)), "audio/wav"),
        (4, encode_wav_pcm16(np.clip(_program(5), -32768, 32767)), "audio/wav"),
        (5, encode_wav_pcm16(np.clip(_program(6), -32768, 32767)), "audio/wav"),
        (6, encode_wav_pcm16(np.clip(_program(9), -32768, 32767)), "audio/wav"),
        (7, encode_wav_pcm16(np.clip(_program(12), -32768, 32767)), "audio/wav"),
        (8, b"RIFF garbage not a wav", "audio/wav"),
    ]
    df = _media_df(spark, rows)
    fps = {r.doc_id: r.afp for r in with_audio_fingerprint(df).collect()}
    assert fps[8] is None  # corrupt -> NULL, stage survived
    assert fps[0] == fps[1]

    pairs = {(r.id_1, r.id_2): r.hamming for r in audio_neardup_pairs(df).collect()}
    assert pairs.get((0, 1)) == 0
    assert (2, 3) in pairs and pairs[(2, 3)] <= 6
    for p in pairs:
        assert p in {(0, 1), (2, 3)}, f"false positive pair {p}"


def test_fingerprint_noise_tolerance_measured():
    """The radius guidance in the docstring is measured, not asserted
    blind: light noise flips only a few envelope comparisons."""
    rng = np.random.RandomState(11)
    base = _program(8)
    fp = audio_fingerprint_bits(base)
    noisy = audio_fingerprint_bits(
        (base + rng.randint(-250, 250, size=base.size)).astype(np.int64)
    )
    ham = bin((fp ^ noisy) & ((1 << 64) - 1)).count("1")
    assert ham <= 4, f"noise moved the fingerprint too far: {ham}"


@pytest.mark.slow  # round-19 tiering: >=10 s integration test
def test_incremental_audio_dedup_via_hash_index(spark, tmp_path):
    """The generic hash index serves audio: batch-2 clips dedup against
    batch-1's fingerprint index under the online rule — a gain-scaled
    re-encode of an indexed clip is dropped, fresh material survives,
    appends are idempotent, compaction preserves probe results."""
    import os

    from serverless_etl_bi_on_aws_spark.operators.hash_index import (
        build_hash_index,
        compact_hash_index,
        dedup_against_hash_index,
        update_hash_index,
    )

    def wav(k, gain=1.0):
        return encode_wav_pcm16(np.clip((_program(k) * gain).astype(np.int64), -32768, 32767))

    b1 = _media_df(spark, [(k, wav(k), "audio/wav") for k in (1, 2, 3)])
    b2 = _media_df(
        spark,
        [
            (10, wav(2, gain=0.5), "audio/wav"),  # cross-batch dup of clip 2
            (11, wav(9), "audio/wav"),            # fresh
            (12, wav(9, gain=0.25), "audio/wav"), # within-batch dup of 11
            (13, b"not a wav", "audio/wav"),      # corrupt -> survives
        ],
    )
    idx = str(tmp_path / "afp")
    build_hash_index(b1, idx, hasher="afp")
    survivors = {
        r.doc_id for r in dedup_against_hash_index(spark, b2, idx, 6).collect()
    }
    assert survivors == {11, 13}
    assert update_hash_index(b2, idx, "b2") is True
    n = spark.read.parquet(live_table(idx, "hashes")).count()
    assert update_hash_index(b2, idx, "b2") is False
    assert spark.read.parquet(live_table(idx, "hashes")).count() == n
    # a third batch duplicating clip 11 (indexed via b2) is caught
    b3 = _media_df(spark, [(20, wav(9, gain=0.75), "audio/wav")])
    assert dedup_against_hash_index(spark, b3, idx, 6).count() == 0
    before = n
    compact_hash_index(spark, idx)
    assert spark.read.parquet(live_table(idx, "hashes")).count() == before
    assert dedup_against_hash_index(spark, b3, idx, 6).count() == 0
