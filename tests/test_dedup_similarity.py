"""Cross-validation for the engine-defined (non-oracle) operators:
MinHash-LSH vs exact Jaccard, SimHash vs planted near-dups, LSH-ANN recall
vs brute force, and multimodal plumbing shapes."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from serverless_etl_bi_on_aws_spark.catalog import load_table
from serverless_etl_bi_on_aws_spark.operators.dedup import (
    dedup_exact,
    minhash_signatures,
    neardup_jaccard_pairs,
    neardup_minhash_lsh,
    simhash64,
)
from serverless_etl_bi_on_aws_spark.operators.similarity import (
    topk_cosine_bruteforce,
    topk_cosine_lsh,
)
from serverless_etl_bi_on_aws_spark.sources.multimodal import (
    attach_fake_media,
    decode_and_resize,
    media_features,
    sample_frames,
)

from tests.conftest import SF_CORRECT, SF_SMOKE, live_table


def _exact_pairs(spark, threshold=0.5):
    docs = load_table(spark, SF_CORRECT, "documents")
    return {
        (r.id_1, r.id_2)
        for r in neardup_jaccard_pairs(docs, threshold=threshold).collect()
    }


def test_minhash_lsh_recall_and_precision(spark):
    """128 hashes / 32 bands at J>=0.5: the S-curve predicts ~98% recall;
    the fixtures plant 25 pairs at J in [0.5, 1.0] vs noise <= 0.03, so we
    require full recall and no false positives at est>=0.4."""
    docs = load_table(spark, SF_CORRECT, "documents")
    exact = _exact_pairs(spark)
    assert len(exact) == 25
    lsh = {
        (r.id_1, r.id_2): r.est_jaccard
        for r in neardup_minhash_lsh(docs, threshold=0.4).collect()
    }
    missed = exact - set(lsh)
    assert not missed, f"LSH missed planted pairs: {missed}"
    extras = set(lsh) - exact
    assert not extras, f"LSH false positives above est 0.4: {extras}"


def test_minhash_signatures_deterministic(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    s1 = {r.doc_id: tuple(r.sig) for r in minhash_signatures(docs).collect()}
    s2 = {r.doc_id: tuple(r.sig) for r in minhash_signatures(docs).collect()}
    assert s1 == s2
    assert all(len(v) == 128 for v in s1.values())


def test_simhash_separates_planted_pairs(spark):
    """Planted near-dup pairs must have much smaller hamming distance than
    random pairs (64-bit fingerprints)."""
    docs = load_table(spark, SF_CORRECT, "documents")
    sh = {r.doc_id: r.simhash for r in simhash64(docs).collect()}
    exact = _exact_pairs(spark)

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    planted = [hamming(sh[a], sh[b]) for a, b in exact]
    ids = sorted(sh)
    random_pairs = [
        hamming(sh[ids[i]], sh[ids[i + 1]]) for i in range(0, len(ids) - 1, 2)
        if (ids[i], ids[i + 1]) not in exact
    ]
    avg_planted = sum(planted) / len(planted)
    avg_random = sum(random_pairs) / len(random_pairs)
    assert avg_planted < avg_random * 0.7, (avg_planted, avg_random)


def test_lsh_ann_returns_relevant_topk(spark):
    """ANN candidates are a subset of the corpus scored exactly, include the
    strongest planted neighbor when bucketed together, and never disagree
    with brute force on the scores they do return."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    pool = emb.filter(F.col("vec_id") != 0)
    exact = {r.vec_id: r.cosine for r in topk_cosine_bruteforce(pool, qvec, k=50).collect()}
    approx = topk_cosine_lsh(pool, qvec, k=10).collect()
    assert 0 < len(approx) <= 10
    # scores must match brute force exactly where ids overlap
    for r in approx:
        if r.vec_id in exact:
            assert abs(r.cosine - exact[r.vec_id]) < 1e-9
    # recall@10 against exact top-50 should be well above random chance
    hits = sum(1 for r in approx if r.vec_id in exact)
    assert hits >= 1, "LSH returned nothing from the exact top-50"


def test_dedup_exact_keeps_one_per_key(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    doubled = docs.unionByName(docs)
    out = dedup_exact(doubled, ["doc_id"])
    assert out.count() == docs.count()


def test_multimodal_pipeline_shapes(spark):
    docs = load_table(spark, SF_SMOKE, "documents").limit(20)
    with_media = attach_fake_media(docs)
    assert dict(with_media.dtypes)["media"].startswith("struct<payload:binary")

    decoded = decode_and_resize(with_media, target_w=8, target_h=8)
    rows = decoded.collect()
    assert all(len(r.pixels) == 64 for r in rows)
    assert all(r.out_w == 8 and r.out_h == 8 for r in rows)

    feats = media_features(with_media, dim=16)
    frows = feats.collect()
    assert all(len(r.features) == 16 for r in frows)
    assert all(abs(sum(r.features) - 1.0) < 1e-6 for r in frows)
    # deterministic across runs
    f2 = {r.doc_id: r.features for r in media_features(with_media, dim=16).collect()}
    assert all(f2[r.doc_id] == r.features for r in frows)

    frames = sample_frames(with_media, n_frames=3)
    assert frames.count() == 20 * 3
    assert set(r.frame_idx for r in frames.select("frame_idx").distinct().collect()) == {0, 1, 2}
    # an undecodable mime refuses loudly: stable fan-out shape, but every
    # frame is NULL (round-10 verdict #8 — no payload-slice stand-in)
    assert frames.filter(F.col("frame").isNotNull()).count() == 0


def test_pairwise_topk_multiblock_matches_singleblock(spark):
    """The block-pair decomposition must be exact: forcing many blocks
    (block_rows=64 over 500 vectors -> 8 blocks, 36 block-pair groups)
    returns the same global top-k pairs as the single-block run."""
    from serverless_etl_bi_on_aws_spark.operators.similarity import pairwise_topk_blocked

    emb = load_table(spark, SF_SMOKE, "embeddings")
    single = pairwise_topk_blocked(emb, k=20, block_rows=1 << 30).collect()
    multi = pairwise_topk_blocked(emb, k=20, block_rows=64).collect()
    assert [(r.id_1, r.id_2) for r in multi] == [(r.id_1, r.id_2) for r in single]
    for a, b in zip(multi, single):
        assert abs(a.cosine - b.cosine) < 1e-9


def test_pairwise_topk_no_driver_materialization(spark, monkeypatch):
    """Scale contract (VERDICT r1 #2): building AND running the pairwise
    operator must never collect()/toPandas() the corpus to the driver.
    count() (an aggregate) is the only allowed driver-side action."""
    from pyspark.sql import DataFrame

    from serverless_etl_bi_on_aws_spark.operators.similarity import pairwise_topk_blocked

    def _banned(self, *a, **kw):
        raise AssertionError("driver-side materialization of the corpus")

    emb = load_table(spark, SF_SMOKE, "embeddings")
    monkeypatch.setattr(DataFrame, "collect", _banned)
    monkeypatch.setattr(DataFrame, "toPandas", _banned)
    df = pairwise_topk_blocked(emb, k=5, block_rows=128)
    monkeypatch.undo()
    assert len(df.collect()) == 5


def test_multimodal_real_png_decode(spark):
    """X4 real-decoder gate (VERDICT r1 #5): payloads are genuine PNGs
    (stdlib zlib+struct codec), decoded and resized through mapInPandas;
    pixel values must match the generator's gradient recomputed locally."""
    from serverless_etl_bi_on_aws_spark.functions.png import decode_png
    from serverless_etl_bi_on_aws_spark.sources.multimodal import attach_png_media

    docs = load_table(spark, SF_SMOKE, "documents").limit(12)
    with_media = attach_png_media(docs)
    rows = decode_and_resize(with_media, target_w=8, target_h=8).collect()
    assert len(rows) == 12
    for r in rows:
        k = r.doc_id
        w, h = 32 + k % 32, 32 + (k * 7) % 32
        iw, ih, px = decode_png(bytes(r.media.payload))  # local reference decode
        assert (iw, ih) == (w, h)
        assert px[0] == k % 256 and px[1] == (3 + k) % 256
        assert len(r.pixels) == 64
        sy = [min(oy * h // 8, h - 1) for oy in range(8)]
        sx = [min(ox * w // 8, w - 1) for ox in range(8)]
        expect = bytes(px[y * w + x] for y in sy for x in sx)
        assert bytes(r.pixels) == expect
    feats = media_features(with_media, dim=16).collect()
    assert all(abs(sum(r.features) - 1.0) < 1e-6 for r in feats)


def test_dedup_by_cosine_survivors(spark):
    """Embedding-cosine dedup (X2 semantic tier): greedy keep-lowest-id.
    Invariants: (a) survivors of every over-threshold pair exclude the
    higher id, so no surviving pair is over-threshold; (b) a row with no
    over-threshold pair always survives; (c) pair set matches the q43
    oracle semantics (checked there — here we check the wrapper algebra)."""
    from serverless_etl_bi_on_aws_spark.operators.similarity import (
        dedup_by_cosine,
        neardup_cosine_pairs,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    pairs = neardup_cosine_pairs(emb, threshold=0.4, block_rows=128).collect()
    assert len(pairs) == 59  # fixture-calibrated at sf0.01
    survivors = {r.vec_id for r in dedup_by_cosine(emb, threshold=0.4, block_rows=128).collect()}
    dropped = {r.id_2 for r in pairs}
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert survivors == all_ids - dropped
    for r in pairs:  # no over-threshold pair survives intact
        assert not (r.id_1 in survivors and r.id_2 in survivors)


def test_topk_cosine_arrow_agrees_with_hof(spark):
    """The Arrow/BLAS scorer must reproduce the HOF fold's top-k exactly
    (ids and 6-decimal cosines) — float64 matmul vs sequential fold agree
    to ~1e-15, far inside the rounding."""
    from serverless_etl_bi_on_aws_spark.operators.similarity import topk_cosine_arrow

    emb = load_table(spark, SF_CORRECT, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]]
    rest = emb.filter(F.col("vec_id") != 0)
    hof = [(r.vec_id, round(r.cosine, 6)) for r in topk_cosine_bruteforce(rest, qvec, k=10).collect()]
    arrow = [(r.vec_id, round(r.cosine, 6)) for r in topk_cosine_arrow(rest, qvec, k=10).collect()]
    assert hof == arrow


def test_jaccard_df_cap_bounds_hot_shingle_blowup(spark):
    """Skew guard (round-2 verdict #6): one shingle shared by every doc
    turns the inverted-index self-join into an all-pairs blowup (d^2 rows
    in ONE partition); the df cap must drop it from the index while an
    above-max cap must change nothing."""
    n_docs = 400
    rows = [
        # every doc opens with the same boilerplate (one ubiquitous
        # 3-shingle); the tail tokens are unique per doc
        (i, f"common header line doc{i}a doc{i}b doc{i}c doc{i}d")
        for i in range(n_docs)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    # uncapped at threshold 0: every doc pair co-occurs via the hot shingle
    uncapped = neardup_jaccard_pairs(docs, threshold=1e-9).count()
    assert uncapped == n_docs * (n_docs - 1) // 2

    # capped: the boilerplate shingles (df == n_docs) leave the index, the
    # unique tails share nothing -> zero candidate pairs even at threshold 0
    capped = neardup_jaccard_pairs(docs, threshold=1e-9, max_df_frac=0.05)
    assert capped.count() == 0

    # a cap ABOVE the max observed df is a no-op: exact results unchanged
    # (this is the regime q12 runs in: fixture max df 1.4% vs 5% cap)
    exact = neardup_jaccard_pairs(docs, threshold=0.01).collect()
    lenient = neardup_jaccard_pairs(docs, threshold=0.01, max_df_frac=1.0).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, lenient))


def test_jpeg_codec_roundtrip_and_structure():
    """functions/jpeg.py is a real T.81 baseline codec: spec markers in the
    stream, lossy-but-bounded roundtrip (PSNR and DC-bounded image mean),
    exact dimension recovery, determinism."""
    import numpy as np

    from serverless_etl_bi_on_aws_spark.functions.jpeg import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    for k in (0, 5, 123, 4091):
        w, h = 32 + k % 32, 32 + (k * 7) % 32
        img = np.fromfunction(lambda y, x: (x * 3 + y * 5 + k) % 256, (h, w)).astype(
            np.uint8
        )
        enc = encode_jpeg_gray(img.tobytes(), w, h)
        # spec structure: SOI ... DQT/SOF0/DHT/SOS ... EOI
        assert enc[:2] == b"\xff\xd8" and enc[-2:] == b"\xff\xd9"
        for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
            assert marker in enc
        assert enc == encode_jpeg_gray(img.tobytes(), w, h)  # deterministic
        px, dw, dh = decode_jpeg_gray(enc)
        assert (dw, dh) == (w, h)
        out = np.frombuffer(px, dtype=np.uint8).reshape(h, w).astype(float)
        mse = float(np.mean((img.astype(float) - out) ** 2))
        psnr = 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)
        assert psnr > 25.0, f"k={k}: psnr {psnr:.1f}"
        # image mean survives within DC-quantization error
        assert abs(img.mean() - out.mean()) < 1.5


def test_jpeg_vectorized_entropy_encode_golden_bytes():
    """Round-19 optimization pin: the vectorized entropy stage (numpy RLE
    + batched bit packing, replacing the per-symbol _BitWriter loop) and
    the heap-based Annex K.2 Huffman build must produce the EXACT bytes
    the loop formulation produced — golden md5s recorded from the
    pre-change encoder (verified byte-identical on 2,451 frames covering
    the full fixture parameter family at change time)."""
    import hashlib

    import numpy as np

    from serverless_etl_bi_on_aws_spark.functions.jpeg import encode_jpeg_gray

    golden = {
        0: "49a0015196c0e2ebf139f7758a314f50",
        5: "c45f8da78601771e6d2acdd28aea1ed9",
        123: "5ac49b20367de948c2e1b52d5384624a",
        4091: "2a47e7a883033db2c64d33b2de9dbeec",
    }
    for k, md5 in golden.items():
        w, h = 32 + k % 32, 32 + (k * 7) % 32
        img = np.fromfunction(
            lambda y, x: (x * 3 + y * 5 + k) % 256, (h, w)
        ).astype(np.uint8)
        enc = encode_jpeg_gray(img.tobytes(), w, h)
        assert hashlib.md5(enc).hexdigest() == md5, f"k={k}: encode bytes moved"


def _gradient_jpeg(k):
    """The q49 payload of key ``k``: its gradient frame, JPEG-encoded."""
    import numpy as np

    from serverless_etl_bi_on_aws_spark.functions.jpeg import encode_jpeg_gray

    w, h = 32 + k % 32, 32 + (k * 7) % 32
    img = np.fromfunction(lambda y, x: (x * 3 + y * 5 + k) % 256, (h, w)).astype(np.uint8)
    return encode_jpeg_gray(img.tobytes(), w, h)


def test_jpeg_decode_golden_pixels():
    """Decoded pixels are pinned: md5s recorded from the per-bit-matmul,
    einsum-IDCT decoder, per reference frame and over the concatenated
    frames of the curation workload's keys 0..1999. The shift-built peek
    windows, the cached prefix tables and the matmul IDCT must not move
    one pixel."""
    import hashlib

    from serverless_etl_bi_on_aws_spark.functions.jpeg import decode_jpeg_gray

    golden = {
        0: "e89e49663709f4bc3b95a51bf5398f5c",
        5: "b259000338f9caddb455a88b4caf6240",
        123: "b5144a8df9027246a7639796b2d3aa4f",
        4091: "4d7b88676b25ba350cf80d700bd4b236",
    }
    for k, md5 in golden.items():
        px = decode_jpeg_gray(_gradient_jpeg(k))[0]
        assert hashlib.md5(px).hexdigest() == md5, f"k={k}: decoded pixels moved"
    h = hashlib.md5()
    for k in range(2000):
        h.update(decode_jpeg_gray(_gradient_jpeg(k))[0])
    assert h.hexdigest() == "d6fd95b637875f874f9b1af229b0a5be"


def test_jpeg_decode_memory_is_bounded():
    """A 512x512 noise frame (108 KB of entropy data) decodes to the
    pixels recorded from the whole-stream decoder, whose per-bit peek
    list peaked at 62 MB under tracemalloc. Windowed peeks keep the peak
    to the block arrays (~14 MB measured)."""
    import hashlib
    import tracemalloc

    import numpy as np

    from serverless_etl_bi_on_aws_spark.functions.jpeg import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    noise = np.random.default_rng(0).integers(0, 256, (512, 512), dtype=np.uint8)
    enc = encode_jpeg_gray(noise.tobytes(), 512, 512)
    tracemalloc.start()
    try:
        px, w, h = decode_jpeg_gray(enc)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert (w, h) == (512, 512)
    assert hashlib.md5(px).hexdigest() == "a4e921be78aa6fe297d5039b48654f38"
    assert peak < 24 * 2**20, f"decode peak {peak / 2**20:.1f} MiB"


def test_jpeg_encoder_rejects_out_of_range_quant():
    """A caller quant table must be 8x8 with entries in 1..255: a 0 would
    divide by zero, and 256 would wrap to 0 in the 8-bit DQT segment. A
    valid table passed explicitly encodes the same bytes as the default."""
    import numpy as np
    import pytest

    from serverless_etl_bi_on_aws_spark.functions.jpeg import (
        STD_LUMA_QUANT,
        encode_jpeg_gray,
    )

    px = bytes(range(256)) * 4  # 32x32
    for bad in (0, 256):
        q = np.array(STD_LUMA_QUANT)
        q[3, 4] = bad
        with pytest.raises(ValueError, match="1..255"):
            encode_jpeg_gray(px, 32, 32, quant=q)
    with pytest.raises(ValueError, match="8x8"):
        encode_jpeg_gray(px, 32, 32, quant=np.ones((8, 7), dtype=np.int32))
    assert encode_jpeg_gray(px, 32, 32, quant=STD_LUMA_QUANT.tolist()) == (
        encode_jpeg_gray(px, 32, 32)
    )


def test_jpeg_decoder_rejects_trailing_entropy_and_bad_padding():
    """Round-18 ADVICE hardening: after the declared block grid decodes,
    only sub-byte 1-padding may remain — a stream with >=8 trailing
    entropy bits, or non-1 padding bits, must raise instead of silently
    ignoring bytes (the LUT decoder's phantom-symbol blind spot)."""
    import numpy as np
    import pytest

    from serverless_etl_bi_on_aws_spark.functions.jpeg import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    img = np.fromfunction(lambda y, x: (x * 3 + y * 5) % 256, (16, 16)).astype(
        np.uint8
    )
    enc = encode_jpeg_gray(img.tobytes(), 16, 16)
    assert decode_jpeg_gray(enc)[1:] == (16, 16)  # sanity: clean stream ok
    # a spare non-stuffed entropy byte before EOI = 8 trailing bits
    assert enc[-2:] == b"\xff\xd9"
    with pytest.raises(ValueError, match="trailing entropy|exhausted|invalid"):
        decode_jpeg_gray(enc[:-2] + b"\x55" + b"\xff\xd9")


def test_multimodal_real_jpeg_decode(spark):
    """X4 second real codec (round-2 verdict #2): payloads are genuine
    baseline JPEGs; the in-Spark Arrow decode stage must agree exactly
    with a local reference decode (same codec, byte-identical pixels),
    and the decoded means must track the analytic gradient."""
    import numpy as np

    from serverless_etl_bi_on_aws_spark.functions.jpeg import decode_jpeg_gray
    from serverless_etl_bi_on_aws_spark.functions.png import resize_nearest
    from serverless_etl_bi_on_aws_spark.sources.multimodal import attach_jpeg_media

    docs = load_table(spark, SF_SMOKE, "documents").limit(12)
    with_media = attach_jpeg_media(docs)
    rows = decode_and_resize(with_media, target_w=8, target_h=8).collect()
    assert len(rows) == 12
    for r in rows:
        k = r.doc_id
        w, h = 32 + k % 32, 32 + (k * 7) % 32
        px, iw, ih = decode_jpeg_gray(bytes(r.media.payload))  # local reference
        assert (iw, ih) == (w, h)
        assert bytes(r.pixels) == resize_nearest(px, iw, ih, 8, 8)
        x = np.arange(w, dtype=np.int64)[None, :]
        y = np.arange(h, dtype=np.int64)[:, None]
        ana = float(((x * 3 + y * 5 + k) % 256).mean())
        dec = float(np.frombuffer(px, dtype=np.uint8).mean())
        assert abs(dec - ana) < 1.5


def test_connected_components_vs_local_union_find(spark):
    """CC dedup must agree with a driver-side union-find over the same
    collected pair set (exact, structure-independent check)."""
    from serverless_etl_bi_on_aws_spark.operators.components import (
        connected_components,
    )
    from serverless_etl_bi_on_aws_spark.operators.similarity import (
        neardup_cosine_pairs,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    pairs = neardup_cosine_pairs(emb, threshold=0.4, block_rows=256)
    got = {r.id: r.comp for r in connected_components(pairs).collect()}

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        ra, rb = find(r.id_1), find(r.id_2)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want


def test_cluster_survivors_chain_semantics(spark):
    """The shape where cluster dedup and the dominance rule differ:
    component {2,3,4} with edges 2-4 and 3-4 only. Dominance keeps {2,3}
    (3 is a local min among its neighbors); the cluster semantic keeps
    exactly the component min {2}. Node 1 is isolated and must survive
    either way."""
    from serverless_etl_bi_on_aws_spark.operators.components import cluster_survivors

    df = spark.createDataFrame([(i, f"r{i}") for i in (1, 2, 3, 4)], "id bigint, label string")
    pairs = spark.createDataFrame([(2, 4), (3, 4)], "id_1 bigint, id_2 bigint")
    surv = sorted(r.id for r in cluster_survivors(df, pairs, "id").collect())
    assert surv == [1, 2]


def _union_find_roots(edge_list):
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def test_star_alternation_vs_union_find(spark):
    """The large-star/small-star kernel must agree with driver-side
    union-find on a seeded random graph (mixed shapes: chains, forks,
    isolated pairs)."""
    import random

    from serverless_etl_bi_on_aws_spark.operators.components import (
        connected_components_stars,
    )

    rng = random.Random(7)
    edge_list = sorted({(rng.randrange(200), rng.randrange(200)) for _ in range(150)})
    edge_list = [(a, b) for a, b in edge_list if a != b]
    pairs = spark.createDataFrame(edge_list, "id_1 bigint, id_2 bigint")
    got = {r.id: r.root for r in connected_components_stars(pairs).collect()}
    assert got == _union_find_roots(edge_list)


@pytest.mark.slow  # round-19 tiering: >=10 s integration test
def test_long_chain_converges_past_propagation_rail(spark):
    """Round-3/5 verdict: a chain longer than max_iter links used to
    RuntimeError out of min-label propagation. Now it must fall through
    to the star kernel and still produce exact components. 30-node path
    (29 links > the default 25-round rail) plus a disjoint triangle."""
    from serverless_etl_bi_on_aws_spark.operators.components import (
        connected_components,
        connected_components_stars,
    )

    chain = [(i, i + 1) for i in range(100, 130)]          # comp 100
    tri = [(500, 501), (501, 502), (500, 502)]             # comp 500
    edge_list = chain + tri
    pairs = spark.createDataFrame(edge_list, "id_1 bigint, id_2 bigint")
    want = _union_find_roots(edge_list)

    # direct star kernel on the raw chain
    got_stars = {r.id: r.root for r in connected_components_stars(pairs).collect()}
    assert got_stars == want

    # propagation path with a tight rail: must hand off, not raise
    got = {r.id: r.comp for r in connected_components(pairs, max_iter=5).collect()}
    assert got == want


def test_jpeg_restart_markers_refused():
    """Round-5 verdict #9: a DRI segment with a non-zero interval means
    RSTn markers + DC resets this decoder does not implement — it must
    refuse loudly instead of decoding garbage. Build a valid encoded file
    and splice a DRI segment in front of SOS."""
    import pytest as _pytest

    from serverless_etl_bi_on_aws_spark.functions.jpeg import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    px = bytes((x * 3 + y * 5) % 256 for y in range(16) for x in range(16))
    data = encode_jpeg_gray(px, 16, 16)
    sos = data.find(b"\xff\xda")
    assert sos > 0
    dri = b"\xff\xdd\x00\x04\x00\x08"  # DRI, len 4, interval 8
    spliced = data[:sos] + dri + data[sos:]
    with _pytest.raises(ValueError, match="restart"):
        decode_jpeg_gray(spliced)
    # interval 0 explicitly disables restarts — must still decode
    dri0 = b"\xff\xdd\x00\x04\x00\x00"
    out, w, h = decode_jpeg_gray(data[:sos] + dri0 + data[sos:])
    assert (w, h) == (16, 16)


def test_zero_norm_vector_oracle_knife_edge(spark, tmp_path):
    """Round-5 verdict #9: a zero-norm embedding must not flip the
    q43/q50 oracle. Spark clamps zero-norm cosine to 0 (never a pair);
    DuckDB's list_cosine_similarity yields NaN, which its float ordering
    ranks above any threshold — the oracle's list_dot(v,v) > 0 guard
    must keep both engines agreeing on a corpus containing a zero
    vector."""
    import duckdb

    from serverless_etl_bi_on_aws_spark.operators.components import (
        cluster_survivors,
    )
    from serverless_etl_bi_on_aws_spark.operators.similarity import (
        neardup_cosine_pairs,
    )
    from serverless_etl_bi_on_aws_spark.plans.oracles import ORACLE_SQL

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], 0),
        (2, [0.9, 0.1, 0.0, 0.0], 0),   # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0], 1),
        (4, [0.0, 0.0, 0.0, 0.0], 2),   # zero-norm: must pair with nothing
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    pq_path = str(tmp_path / "embeddings.parquet")
    emb.write.mode("overwrite").parquet(pq_path)

    pairs = neardup_cosine_pairs(emb, threshold=0.4, block_rows=8)
    got_pairs = sorted((r.id_1, r.id_2) for r in pairs.collect())
    assert got_pairs == [(1, 2)]
    surv = sorted(
        r.vec_id for r in cluster_survivors(emb, pairs, "vec_id").collect()
    )
    assert surv == [1, 3, 4]  # zero-norm row 4 survives untouched

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{pq_path}/*.parquet')"
    )
    o50 = [r[0] for r in con.execute(ORACLE_SQL["q50_dedup_survivors_cc"]).fetchall()]
    assert sorted(o50) == surv
    o43 = con.execute(ORACLE_SQL["q43_neardup_embedding_cosine"]).fetchall()
    assert sorted((a, b) for a, b, _ in o43) == got_pairs


def test_wav_codec_roundtrip_and_refusals():
    """WAV PCM is lossless: encode->decode must return the exact int16
    array, including full-range extremes; chunk-pad handling, 8-bit
    re-bias, stereo interleave, and non-PCM refusal are all pinned."""
    import struct

    import numpy as np
    import pytest as _pytest

    from serverless_etl_bi_on_aws_spark.functions.wav import (
        decode_wav_pcm,
        encode_wav_pcm16,
    )

    rng = np.random.default_rng(11)
    samp = rng.integers(-32768, 32768, size=1001, dtype=np.int16)  # odd n: pad path
    samp[0], samp[1] = -32768, 32767
    data = encode_wav_pcm16(samp, sample_rate=44100)
    dec, rate, ch = decode_wav_pcm(data)
    assert rate == 44100 and ch == 1
    assert np.array_equal(dec, samp.astype(np.int64))

    # stereo interleave survives
    st = rng.integers(-1000, 1000, size=64, dtype=np.int16)
    dec2, _, ch2 = decode_wav_pcm(encode_wav_pcm16(st, 8000, channels=2))
    assert ch2 == 2 and np.array_equal(dec2, st.astype(np.int64))

    # an unknown odd-sized chunk before data must be skipped via its pad
    pre = data[:12]
    rest = data[12:]
    junk = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"
    spliced = pre + junk + rest
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    dec3, _, _ = decode_wav_pcm(spliced)
    assert np.array_equal(dec3, samp.astype(np.int64))

    # 8-bit PCM: unsigned on disk, re-biased to signed around 0
    fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    raw8 = bytes([0, 128, 255, 200])
    body = (b"fmt " + struct.pack("<I", 16) + fmt8
            + b"data" + struct.pack("<I", 4) + raw8)
    wav8 = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    dec8, _, _ = decode_wav_pcm(wav8)
    assert dec8.tolist() == [-128, 0, 127, 72]

    # float PCM (format 3) and truncated data must refuse loudly
    fmtf = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    bodyf = b"fmt " + struct.pack("<I", 16) + fmtf + b"data" + struct.pack("<I", 0)
    wavf = b"RIFF" + struct.pack("<I", 4 + len(bodyf)) + b"WAVE" + bodyf
    # (r13: G.711/IMA-ADPCM decode now, so the refusal message is the
    # generic unsupported-format one, not "only PCM")
    with _pytest.raises(ValueError, match="unsupported audio format"):
        decode_wav_pcm(wavf)
    with _pytest.raises(ValueError):
        decode_wav_pcm(data[: len(data) // 2])
    with _pytest.raises(ValueError, match="RIFF"):
        decode_wav_pcm(b"\x89PNG....")

    # crafted fmt with rate=0 / channels=0 must fail with the codec's
    # ValueError contract, not leak a ZeroDivisionError into
    # audio_sample_stats' Arrow stage (round-7 advice)
    for rate, chans, msg in ((0, 1, "sample rate"), (8000, 0, "channel")):
        fmtz = struct.pack("<HHIIHH", 1, chans, rate, rate * 2, 2, 16)
        bodyz = (b"fmt " + struct.pack("<I", 16) + fmtz
                 + b"data" + struct.pack("<I", 4) + b"\x00\x01\x00\x02")
        wavz = b"RIFF" + struct.pack("<I", 4 + len(bodyz)) + b"WAVE" + bodyz
        with _pytest.raises(ValueError, match=msg):
            decode_wav_pcm(wavz)


def test_avi_codec_roundtrip_and_refusals():
    """AVI container is lossless: MPNG frame payloads must round-trip
    bit-exactly, survive unknown chunks, and refuse non-AVI RIFF."""
    import struct

    import pytest as _pytest

    from serverless_etl_bi_on_aws_spark.functions.avi import (
        decode_avi_frames,
        encode_avi_frames,
    )
    from serverless_etl_bi_on_aws_spark.functions.png import encode_png

    k = 13
    w, h = 9, 11
    frames = [
        encode_png(bytes((x * 3 + y * 5 + k + 11 * f) % 256 for y in range(h) for x in range(w)), w, h)
        for f in range(4)
    ]
    data = encode_avi_frames(frames, w, h, fps=8)
    out, ww, hh, fps, fourcc = decode_avi_frames(data)
    assert (ww, hh, fps, fourcc) == (w, h, 8, b"MPNG")
    assert out == frames

    # an unknown odd-sized chunk between hdrl and movi must be skipped
    movi_at = data.find(b"LIST", 12 + 4)  # hdrl LIST is first; find later LISTs
    movi_at = data.find(b"movi") - 8
    junk = b"JUNK" + struct.pack("<I", 5) + b"abcde" + b"\x00"
    spliced = data[:movi_at] + junk + data[movi_at:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    out2 = decode_avi_frames(spliced)[0]
    assert out2 == frames

    with _pytest.raises(ValueError, match="RIFF/AVI"):
        decode_avi_frames(b"RIFF" + struct.pack("<I", 4) + b"WAVE")
    with _pytest.raises(ValueError):
        decode_avi_frames(data[: len(data) // 3])


def test_sample_frames_real_avi(spark):
    """sample_frames over a real AVI must emit ACTUAL decodable PNG frame
    payloads (not payload slices), evenly spaced, capped at n_frames."""
    from serverless_etl_bi_on_aws_spark.functions.png import decode_png
    from serverless_etl_bi_on_aws_spark.sources.multimodal import (
        attach_avi_media,
        sample_frames,
    )

    df = spark.createDataFrame([(i,) for i in range(6)], "doc_id bigint")
    rows = sample_frames(attach_avi_media(df), n_frames=2).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for k, rs in by_doc.items():
        n_frames, w, h = 2 + k % 3, 8 + k % 8, 8 + (k * 3) % 8
        assert len(rs) == min(2, n_frames)
        for r in rs:
            fw, fh, px = decode_png(bytes(r.frame))
            assert (fw, fh) == (w, h)
            # frame 0 pixel (0,0) is k%256; sampled frames shift by 11*f
            assert px[0] % 256 in {(k + 11 * f) % 256 for f in range(n_frames)}


def test_media_features_and_resize_use_real_codecs(spark):
    """media_features must histogram DECODED content for every real codec
    (samples for WAV, frame pixels for AVI) and decode_and_resize must
    return the AVI's real first frame resized — not payload-byte
    stand-ins."""
    import numpy as np

    from serverless_etl_bi_on_aws_spark.functions.png import resize_nearest
    from serverless_etl_bi_on_aws_spark.sources.multimodal import (
        attach_avi_media,
        attach_wav_media,
        decode_and_resize,
        media_features,
    )

    df = spark.createDataFrame([(3,), (4,)], "doc_id bigint")
    for attach in (attach_wav_media, attach_avi_media):
        rows = media_features(attach(df), dim=8).collect()
        for r in rows:
            assert r.features is not None
            assert abs(sum(r.features) - 1.0) < 1e-6
            # decoded-content histogram must differ from the raw container
            # bytes' histogram (headers/chunk tags would dominate otherwise)
            raw = bytes(r.media.payload)
            hist = [0.0] * 8
            for b in raw:
                hist[b % 8] += 1.0
            raw_hist = [v / (sum(hist) or 1.0) for v in hist]
            assert [round(x, 6) for x in r.features] != [round(x, 6) for x in raw_hist]

    # AVI resize path: frame 0 gradient, nearest-neighbor, exact pixels
    rows = decode_and_resize(attach_avi_media(df), target_w=4, target_h=4).collect()
    for r in rows:
        k = r.doc_id
        w, h = 8 + k % 8, 8 + (k * 3) % 8
        px = bytes((x * 3 + y * 5 + k) % 256 for y in range(h) for x in range(w))
        assert bytes(r.pixels) == resize_nearest(px, w, h, 4, 4)


def test_gif_codec_roundtrip_and_refusals():
    """GIF89a LZW is lossless: encode->decode must return the exact frame
    bytes across the hard spots — table resets on random data (9->12-bit
    width walk), the KwKwK code-before-defined case, partial-frame
    compositing, and loud refusal of non-GIF / truncated / interlaced
    input. The LZW stream is ALSO decoded by an independent
    prefix/suffix-array decoder written here (different structure from the
    module's byte-string-table one), so an encoder/decoder pair that
    agreed via a shared width-transition bug would still fail this test
    unless both transitions match the spec'd pairing."""
    import struct

    import numpy as np
    import pytest as _pytest

    from serverless_etl_bi_on_aws_spark.functions.gif import (
        _lzw_decode,
        _lzw_encode,
        decode_gif_frames,
        encode_gif_frames,
    )

    def lzw_decode_independent(data, min_code):
        # giflib-style: parallel prefix/suffix arrays, iterative expansion
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        prefix = [-1] * 4096
        suffix = [0] * 4096
        for i in range(clear):
            suffix[i] = i
        next_code, code_size = eoi + 1, min_code + 1
        acc = nbits = pos = 0
        out = bytearray()
        prev = -1
        while True:
            while nbits < code_size:
                acc |= data[pos] << nbits
                pos += 1
                nbits += 8
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                next_code, code_size, prev = eoi + 1, min_code + 1, -1
                continue
            if code == eoi:
                return bytes(out)

            def expand(c):
                stack = []
                while c >= 0 and c > eoi or (0 <= c < clear):
                    stack.append(suffix[c])
                    c = prefix[c] if c >= clear else -1
                return bytes(reversed(stack))

            if code < next_code:
                chunk = expand(code)
            else:
                assert code == next_code and prev >= 0, "bad code"
                first = expand(prev)[:1]
                chunk = expand(prev) + first
            if prev >= 0 and next_code < 4096:
                prefix[next_code] = prev
                suffix[next_code] = chunk[0]
                next_code += 1
                if next_code == (1 << code_size) and code_size < 12:
                    code_size += 1
            out += chunk
            prev = code

    rng = np.random.default_rng(5)
    for data in (
        rng.integers(0, 256, 40000, dtype=np.uint8).tobytes(),  # resets + 12-bit walk
        b"ababab" * 200,  # KwKwK
        bytes(range(256)) * 30,
    ):
        enc = _lzw_encode(data, 8)
        assert _lzw_decode(enc, 8) == data
        assert lzw_decode_independent(enc, 8) == data

    # container roundtrip: animated, odd dims, per-frame delays
    w, h = 61, 37
    frames = [
        bytes((x * 3 + y * 5 + 13 * f) % 256 for y in range(h) for x in range(w))
        for f in range(3)
    ]
    gif = encode_gif_frames(frames, w, h, delay_cs=7)
    out, gw, gh, delays = decode_gif_frames(gif)
    assert (gw, gh) == (w, h) and delays == [7, 7, 7]
    assert all(a == b for a, b in zip(out, frames))

    # partial-frame compositing: hand-build a 2nd image block at (2,1) 3x2
    base = frames[0]
    patch = bytes([250, 251, 252, 253, 254, 255])
    partial = (
        b"\x2c" + struct.pack("<HHHHB", 2, 1, 3, 2, 0) + bytes([8])
    )
    comp = _lzw_encode(patch, 8)
    partial += bytes([len(comp)]) + comp + b"\x00"
    one = encode_gif_frames([base], w, h)
    spliced = one[:-1] + partial + b"\x3b"  # insert before trailer
    out2, _, _, _ = decode_gif_frames(spliced)
    assert len(out2) == 2
    canvas = bytearray(base)
    for r in range(2):
        canvas[(1 + r) * w + 2 : (1 + r) * w + 5] = patch[r * 3 : r * 3 + 3]
    assert out2[1] == bytes(canvas)

    # refusals
    with _pytest.raises(ValueError, match="GIF87a/89a"):
        decode_gif_frames(b"\x89PNG" + gif[4:])
    with _pytest.raises(ValueError):
        decode_gif_frames(gif[:40])
    with _pytest.raises(ValueError):
        decode_gif_frames(gif[:-1])  # missing trailer
    interlaced = bytearray(one)
    # flip the interlace bit in the image descriptor: header(13) + GCT(768)
    # + GCE(8) puts 0x2c next; its flags byte is +9 into the descriptor
    desc = 13 + 768 + 8
    assert interlaced[desc] == 0x2C
    interlaced[desc + 9] |= 0x40
    with _pytest.raises(ValueError, match="interlaced"):
        decode_gif_frames(bytes(interlaced))


def test_multimodal_real_gif_decode(spark):
    """attach_gif_media -> gif_frame_stats through the Arrow stage: exact
    integer stats for a known key set, matching the analytic gradient."""
    from serverless_etl_bi_on_aws_spark.sources.multimodal import (
        attach_gif_media,
        gif_frame_stats,
    )

    df = spark.range(0, 8).select(F.col("id").alias("doc_id"))
    got = {
        r.doc_id: r
        for r in gif_frame_stats(attach_gif_media(df)).collect()
    }
    for k in range(8):
        n_frames, w, h = 2 + k % 4, 7 + k % 9, 7 + (k * 5) % 9
        want = sum(
            (x * 3 + y * 5 + k + 13 * f) % 256
            for f in range(n_frames)
            for y in range(h)
            for x in range(w)
        )
        r = got[k]
        assert r.n_frames == n_frames and r.sum_px == want
        assert r.total_delay_cs == n_frames * 25


def test_gif_routes_through_generic_media_paths(spark):
    """image/gif rides the REAL codec in both generic stages: decode_and_
    resize uses frame 0 through the gif decoder, sample_frames returns
    actual decoded canvases (not payload-slice stand-ins)."""
    from serverless_etl_bi_on_aws_spark.sources.multimodal import (
        attach_gif_media,
        sample_frames,
    )

    df = attach_gif_media(spark.range(0, 5).select(F.col("id").alias("doc_id")))
    rows = decode_and_resize(df, target_w=4, target_h=4).collect()
    assert len(rows) == 5 and all(len(r.pixels) == 16 for r in rows)
    # frame 0 gradient, nearest-neighbor sample at (0,0) is pixel (0,0) = k%256
    for r in rows:
        assert r.pixels[0] == r.doc_id % 256

    fr = sample_frames(df, n_frames=2).collect()
    by_doc: dict = {}
    for r in fr:
        by_doc.setdefault(r.doc_id, []).append(r)
    for k, rs in by_doc.items():
        n_frames, w, h = 2 + k % 4, 7 + k % 9, 7 + (k * 5) % 9
        assert len(rs) == 2
        first = sorted(rs, key=lambda r: r.frame_idx)[0].frame
        assert len(first) == w * h  # a raw decoded canvas, not a byte slice
        assert first[0] == k % 256  # pixel (0,0) of frame 0


def test_span_dedup_first_occurrence_semantics(spark):
    """Crafted corpus: span granularity 3; doc 20 repeats doc 10's first
    span (cross-doc dup), doc 30 repeats its own span (within-doc dup),
    doc 40 is entirely novel. First occurrence in (doc_id, position)
    order survives; docs reassemble from survivors only."""
    from serverless_etl_bi_on_aws_spark.operators.dedup import dedup_exact_spans

    rows = [
        (10, "a b c d e f"),          # spans: "a b c", "d e f" (both first)
        (20, "a b c x y z"),          # "a b c" dup of doc 10 -> removed
        (30, "p q r p q r p q"),      # spans: "p q r", "p q r"(dup), "p q"
        (40, "only novel words here"),  # "only novel words", "here"
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r
        for r in dedup_exact_spans(df, span_tokens=3).collect()
    }
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert (got[10]["n_spans"], got[10]["n_kept"]) == (2, 2)
    assert got[10]["clean_md5"] == md5("a b c d e f")
    assert (got[20]["n_spans"], got[20]["n_kept"]) == (2, 1)
    assert got[20]["clean_md5"] == md5("x y z")
    assert (got[30]["n_spans"], got[30]["n_kept"]) == (3, 2)
    assert got[30]["clean_md5"] == md5("p q r p q")
    assert (got[40]["n_spans"], got[40]["n_kept"]) == (2, 2)
    assert got[40]["clean_md5"] == md5("only novel words here")


def test_span_dedup_fully_duplicated_doc_hashes_empty(spark):
    """A document whose every span already occurred hashes as the empty
    string (matches the oracle's COALESCE('') contract), and the plan
    stays Python-free (no BatchEvalPython / PythonUDF nodes)."""
    from serverless_etl_bi_on_aws_spark.operators.dedup import dedup_exact_spans

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], ["doc_id", "text"]
    )
    out = dedup_exact_spans(df, span_tokens=3)
    rows = {r["doc_id"]: r for r in out.collect()}
    import hashlib

    assert rows[2]["n_kept"] == 0
    assert rows[2]["clean_md5"] == hashlib.md5(b"").hexdigest()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan


def test_audio_spectrogram_planted_sine_lands_in_its_band(spark):
    """A pure sine at bin b of an n_fft=64 frame concentrates its energy
    in band b//bins_per_band; features agree with an independent numpy
    STFT reference to 1e-9 and non-WAV rows pass through NULL."""
    import numpy as np

    from serverless_etl_bi_on_aws_spark.functions.wav import encode_wav_pcm16
    from serverless_etl_bi_on_aws_spark.sources.multimodal import (
        audio_spectrogram_features,
    )

    n_fft, hop, n_bands = 64, 32, 8
    rate = 8000
    # sine exactly at FFT bin 20 of a 64-sample frame; rfft gives 33 bins,
    # the 32 non-DC bins split into 8 bands of 4 -> bin 20 lands in band
    # (20-1)//4 = 4
    freq_bin = 20
    t = np.arange(rate)  # 1 second
    sine = (10000 * np.sin(2 * np.pi * freq_bin * t / n_fft)).astype(np.int64)
    wav = encode_wav_pcm16(list(sine), rate, 1)
    rows = [
        (1, {"payload": bytearray(wav), "mime": "audio/wav",
             "width": None, "height": None, "duration_ms": 1000}),
        (2, {"payload": bytearray(b"xx"), "mime": "text/plain",
             "width": None, "height": None, "duration_ms": None}),
    ]
    from serverless_etl_bi_on_aws_spark.sources.multimodal import MEDIA_STRUCT
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("doc_id", LongType()), StructField("media", MEDIA_STRUCT)])
    df = spark.createDataFrame(rows, schema)
    got = {r["doc_id"]: r for r in
           audio_spectrogram_features(df, n_fft=n_fft, hop=hop, n_bands=n_bands).collect()}
    assert got[2]["spec_features"] is None and got[2]["n_frames"] is None
    feats = got[1]["spec_features"]
    assert len(feats) == n_bands
    # band 4 dominates (bins 17..20 -> band 4)
    assert feats.index(max(feats)) == 4
    # bin 20 is band 4's last bin; Hann leakage into bin 21 makes band 5
    # the runner-up — require clear dominance, not isolation
    assert max(feats) > 2 * sorted(feats)[-2]
    assert max(feats) > 100 * sorted(feats)[-3]
    # independent reference STFT
    mono = sine.astype(np.float64)
    n_frames = 1 + (len(mono) - n_fft) // hop
    w = np.hanning(n_fft)
    frames = np.stack([mono[i*hop:i*hop+n_fft] for i in range(n_frames)])
    mags = np.abs(np.fft.rfft(frames * w, axis=1))
    usable = mags[:, 1:1 + (mags.shape[1]-1)//n_bands*n_bands]
    want = usable.reshape(n_frames, n_bands, -1).mean(axis=(0, 2))
    assert got[1]["n_frames"] == n_frames
    np.testing.assert_allclose(feats, want, rtol=0, atol=1e-9)


def test_video_scene_cuts_planted_scenes(spark):
    """Two planted scenes: frames 0-2 share a gradient (tiny deltas),
    frames 3-5 a shifted pattern — exactly one cut, at frame 3; a
    slow-pan-only clip yields zero cuts; ingest-mime alignment means an
    .avi file routed through ingest_media_dir hits the real parser."""
    import numpy as np

    from serverless_etl_bi_on_aws_spark.functions.avi import encode_avi_frames
    from serverless_etl_bi_on_aws_spark.functions.png import encode_png
    from serverless_etl_bi_on_aws_spark.sources.multimodal import (
        MEDIA_STRUCT,
        video_scene_cuts,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    w, h = 8, 6

    def frame(base, drift):
        return encode_png(
            bytes((x + y + base + drift) % 256 for y in range(h) for x in range(w)),
            w, h,
        )

    scene_cut = [frame(0, d) for d in range(3)] + [frame(128, d) for d in range(3)]
    slow_pan = [frame(0, d) for d in range(6)]
    rows = [
        (1, {"payload": bytearray(encode_avi_frames(scene_cut, w, h, fps=4)),
             "mime": "video/x-msvideo", "width": w, "height": h, "duration_ms": 1500}),
        (2, {"payload": bytearray(encode_avi_frames(slow_pan, w, h, fps=4)),
             "mime": "video/x-msvideo", "width": w, "height": h, "duration_ms": 1500}),
        (3, None),
    ]
    schema = StructType([StructField("doc_id", LongType()), StructField("media", MEDIA_STRUCT)])
    got = {r["doc_id"]: r for r in
           video_scene_cuts(spark.createDataFrame(rows, schema)).collect()}
    assert (got[1]["n_frames"], got[1]["n_cuts"], list(got[1]["cut_indices"])) == (6, 1, [3])
    assert (got[2]["n_frames"], got[2]["n_cuts"]) == (6, 0)
    assert got[3]["n_frames"] is None


def test_ingest_avi_mime_matches_codec_path(spark, tmp_path):
    from serverless_etl_bi_on_aws_spark.functions.avi import encode_avi_frames
    from serverless_etl_bi_on_aws_spark.functions.png import encode_png
    from serverless_etl_bi_on_aws_spark.sources.multimodal import (
        ingest_media_dir,
        video_scene_cuts,
    )

    w, h = 5, 4
    frames = [
        encode_png(bytes((x + y + b) % 256 for y in range(h) for x in range(w)), w, h)
        for b in (0, 1, 120, 121)
    ]
    d = tmp_path / "vids"
    d.mkdir()
    (d / "clip.avi").write_bytes(encode_avi_frames(frames, w, h, fps=2))
    out = video_scene_cuts(ingest_media_dir(spark, str(d))).collect()
    assert len(out) == 1
    assert (out[0]["n_frames"], out[0]["n_cuts"], list(out[0]["cut_indices"])) == (4, 1, [2])


def test_topk_cosine_arrow_tolerates_null_and_short_vectors(spark):
    """Malformed rows (NULL or wrong-length embedding) must be dropped
    before the Arrow stage, not crash the zero-copy reshape (round-8
    ADVICE): the top-k over the remaining valid rows matches the HOF twin
    run on the valid rows alone (whose NULL cosines sort last anyway)."""
    from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

    from serverless_etl_bi_on_aws_spark.operators.similarity import topk_cosine_arrow

    emb = load_table(spark, SF_CORRECT, "embeddings").limit(50)
    dim = len(emb.select("embedding").head()[0])
    schema = StructType(
        [
            StructField("vec_id", LongType(), False),
            StructField("embedding", ArrayType(FloatType()), True),
        ]
    )
    bad = spark.createDataFrame(
        [(10_001, None), (10_002, [1.0] * (dim - 3)), (10_003, [])], schema
    )
    mixed = emb.select("vec_id", "embedding").unionByName(bad)
    qvec = [float(x) for x in emb.select("embedding").head()[0]]
    got = [(r.vec_id, round(r.cosine, 6)) for r in topk_cosine_arrow(mixed, qvec, k=10).collect()]
    want = [
        (r.vec_id, round(r.cosine, 6))
        for r in topk_cosine_bruteforce(emb.select("vec_id", "embedding"), qvec, k=10).collect()
    ]
    assert got == want


def test_lsh_band_exchanges_never_carry_signatures(spark):
    """Round-8 verdict #4 plan pin, one-shot path: neardup_minhash_lsh's
    banded self-join exchanges ids only; signatures join in per candidate
    pair, below the (band, bucket) shuffle."""
    import contextlib
    import io

    docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text").limit(200)
    pairs = neardup_minhash_lsh(docs)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pairs.explain(mode="formatted")
    blocks, cur = [], []
    for line in buf.getvalue().splitlines():
        if line.strip() == "":
            if cur:
                blocks.append("\n".join(cur))
            cur = []
        else:
            cur.append(line)
    if cur:
        blocks.append("\n".join(cur))
    band_ex = [
        b
        for b in blocks
        if "Exchange" in b.splitlines()[0] and ("band#" in b or "hashpartitioning(band" in b)
    ]
    assert band_ex, "expected a (band, bucket) exchange in the LSH plan"
    for b in band_ex:
        assert "sig" not in b, f"signature column crosses a band exchange:\n{b}"


def test_mp4_codec_roundtrip_and_refusals():
    """ISO BMFF container (functions/mp4.py): sample bytes round-trip
    exactly (container-lossless), declared dims/fps/codec recovered, the
    general stsc/stco walk handles the chunk-per-sample layout an
    interleaving muxer emits, co64 (64-bit) offsets parse, and malformed
    input refuses loudly (non-JPEG codec by fourcc, truncation, missing
    boxes) instead of returning garbage."""
    import pytest

    from serverless_etl_bi_on_aws_spark.functions.jpeg import encode_jpeg_gray
    from serverless_etl_bi_on_aws_spark.functions.mp4 import (
        decode_mp4_frames,
        encode_mp4_mjpeg,
    )

    k = 9
    w, h = 32 + k % 32, 32 + (k * 7) % 32
    frames = [
        encode_jpeg_gray(
            bytes((x * 3 + y * 5 + k + 11 * f) % 256 for y in range(h) for x in range(w)),
            w,
            h,
        )
        for f in range(3)
    ]
    data = encode_mp4_mjpeg(frames, w, h, fps=4)
    out, dw, dh, fps, cc = decode_mp4_frames(data)
    assert out == frames  # container-lossless: exact JPEG bytes back
    assert (dw, dh, fps, cc) == (w, h, 4, b"jpeg")

    # general sample walk: chunk-per-sample (interleaver layout) and
    # 64-bit co64 offsets must locate the identical bytes
    multi = encode_mp4_mjpeg(frames, w, h, fps=4, chunk_per_sample=True)
    assert multi != data and decode_mp4_frames(multi)[0] == frames
    big = encode_mp4_mjpeg(frames, w, h, fps=4, chunk_per_sample=True, use_co64=True)
    assert decode_mp4_frames(big)[0] == frames

    # refusals
    with pytest.raises(ValueError, match="avc1"):
        decode_mp4_frames(data.replace(b"jpeg", b"avc1", 1))
    with pytest.raises(ValueError):
        decode_mp4_frames(data[: len(data) // 3])  # truncated
    with pytest.raises(ValueError, match="moov"):
        decode_mp4_frames(data[: data.index(b"moov") - 4])  # no movie box
    with pytest.raises(ValueError):
        encode_mp4_mjpeg([], 8, 8)


def test_sample_frames_real_mp4(spark):
    """video/mp4 payloads route through the REAL BMFF parser in
    sample_frames: the sampled frames are the actual JPEG samples from
    the mdat, each decodable by the real T.81 decoder to the expected
    gradient (within JPEG tolerance)."""
    import numpy as np

    from serverless_etl_bi_on_aws_spark.functions.jpeg import decode_jpeg_gray
    from serverless_etl_bi_on_aws_spark.sources.multimodal import attach_mp4_media

    docs = load_table(spark, SF_SMOKE, "documents").limit(6)
    with_media = attach_mp4_media(docs)
    rows = sample_frames(with_media, n_frames=2).collect()
    assert rows and all(r.frame is not None for r in rows)
    for r in rows:
        k = r.doc_id
        w, h = 32 + k % 32, 32 + (k * 7) % 32
        px, fw, fh = decode_jpeg_gray(bytes(r.frame))
        assert (fw, fh) == (w, h)
        dec = float(np.frombuffer(px, dtype=np.uint8).mean())
        x = np.arange(w, dtype=np.int64)[None, :]
        y = np.arange(h, dtype=np.int64)[:, None]
        # frame_idx maps to an actual frame index via the sampling stride
        n_total = 2 + k % 3
        step = max(n_total // 2, 1)
        f = r.frame_idx * step
        ana = float(((x * 3 + y * 5 + k + 11 * f) % 256).mean())
        assert abs(dec - ana) <= 1.5


def test_video_scene_cuts_real_mp4(spark):
    """Scene cuts over the MP4/MJPEG path: a two-scene clip (three near-
    identical frames, then a hard content switch) yields exactly one cut
    at the boundary; a slow pan yields zero."""
    from pyspark.sql.types import LongType, StructField, StructType

    from serverless_etl_bi_on_aws_spark.functions.jpeg import encode_jpeg_gray
    from serverless_etl_bi_on_aws_spark.functions.mp4 import encode_mp4_mjpeg
    from serverless_etl_bi_on_aws_spark.sources.multimodal import MEDIA_STRUCT, video_scene_cuts

    w = h = 32

    def grad(k, shift):
        return bytes((x * 3 + y * 5 + k + shift) % 256 for y in range(h) for x in range(w))

    def checker(off):
        return bytes(
            (255 if ((x // 8 + y // 8 + off) % 2) else 0) for y in range(h) for x in range(w)
        )

    two_scene = [grad(5, s) for s in (0, 1, 2)] + [checker(0), checker(0)]
    slow_pan = [grad(5, s) for s in range(6)]
    schema = StructType(
        [StructField("doc_id", LongType(), False), StructField("media", MEDIA_STRUCT, True)]
    )
    rows = [
        (0, {"payload": encode_mp4_mjpeg([encode_jpeg_gray(f, w, h) for f in two_scene], w, h),
             "mime": "video/mp4", "width": w, "height": h, "duration_ms": None}),
        (1, {"payload": encode_mp4_mjpeg([encode_jpeg_gray(f, w, h) for f in slow_pan], w, h),
             "mime": "video/mp4", "width": w, "height": h, "duration_ms": None}),
    ]
    df = spark.createDataFrame(rows, schema)
    got = {r.doc_id: r for r in video_scene_cuts(df).collect()}
    assert got[0].n_frames == 5 and got[0].n_cuts == 1 and got[0].cut_indices == [3]
    assert got[1].n_frames == 6 and got[1].n_cuts == 0


def test_canonicalize_url_rules(spark):
    """URL canonicalization (round 14): case/www./default-port/trailing-
    slash/tracking/fragment/order rules, real ports kept, malformed
    urls NULL (try_parse_url — Spark 4's parse_url throws), and the
    whole expression stays JVM-side (no Exchange, no Python stage)."""
    from serverless_etl_bi_on_aws_spark.functions.url import canonicalize_url

    cases = [
        ("HTTPS://WWW.Example.COM:443/Path/Sub/?b=2&utm_source=x&a=1#f",
         "https://example.com/Path/Sub?a=1&b=2"),
        ("http://example.com:8080/x?a=1", "http://example.com:8080/x"
         "?a=1"),
        ("Http://Example.com:80/", "http://example.com/"),
        ("https://example.com", "https://example.com/"),
        ("http://site.org/x/?fbclid=abc&gclid=1&msclkid=2", "http://site.org/x"),
        ("http://a.com/?utm_source=1&utm_medium=2", "http://a.com/"),
        ("http://a.com/CaseSensitivePath", "http://a.com/CaseSensitivePath"),
        ("not a url", None),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    out = df.select("url", canonicalize_url("url"))
    got = {r["url"]: r["canon_url"] for r in out.collect()}
    for u, want in cases:
        assert got[u] == want, (u, got[u], want)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_dedup_by_canonical_url_survivors(spark):
    """Min-id survivor per canonical form; malformed urls are never an
    implicit dedup group (ALL survive with NULL canon)."""
    from serverless_etl_bi_on_aws_spark.operators.dedup import (
        dedup_by_canonical_url,
    )

    rows = [
        (1, "http://A.com/x?utm_source=1"),
        (2, "HTTP://a.com/x/"),          # same page as 1
        (3, "http://a.com/x?real=1"),    # different (real param)
        (4, "::not-a-url::"),
        (5, "also definitely not a url"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["doc_id"]: r["canon_url"] for r in dedup_by_canonical_url(df).collect()}
    assert set(got) == {1, 3, 4, 5}
    assert got[1] == "http://a.com/x" and got[3] == "http://a.com/x?real=1"
    assert got[4] is None and got[5] is None


def test_canonicalize_url_idempotent(spark):
    """The canonical form is a FIXED POINT: canon(canon(u)) == canon(u)
    for a seeded zoo of generated surface forms (schemes x hosts x
    ports x paths x params x fragments, including already-canonical
    urls) — one batch, two applications, column-compared."""
    import random

    from serverless_etl_bi_on_aws_spark.functions.url import canonicalize_url

    rng = random.Random(1414)
    schemes = ["http", "HTTP", "https", "HTTPS", "Http"]
    hosts = ["example.com", "WWW.Example.COM", "www.site.org", "A.B.co", "x.io"]
    ports = ["", ":80", ":443", ":8080", ":8443"]
    paths = ["", "/", "/a/b", "/a/b/", "/A/B//", "/x%20y"]
    params = ["", "a=1", "b=2", "utm_source=t", "fbclid=z", "a=1&b=2&utm_x=1"]
    frags = ["", "#f", "#sec2"]
    urls = []
    for _ in range(200):
        u = (
            rng.choice(schemes) + "://" + rng.choice(hosts) + rng.choice(ports)
            + rng.choice(paths)
            + (("?" + rng.choice(params)) if rng.random() < 0.8 else "")
            + rng.choice(frags)
        )
        urls.append((u,))
    df = spark.createDataFrame(urls, "url string")
    once = df.select(canonicalize_url("url").alias("c1"))
    twice = once.select(F.col("c1"), canonicalize_url("c1", out_col="c2"))
    bad = twice.filter(
        F.col("c1").isNotNull() & (F.col("c1") != F.col("c2"))
    ).collect()
    assert not bad, bad[:5]
    # and no generated url with a real host canonicalizes to NULL
    assert once.filter(F.col("c1").isNull()).count() == 0


def test_incremental_url_dedup_loop(spark, tmp_path):
    """The incremental family's fifth member (round 14): build a url
    index, probe two batches — cross-batch surface-form duplicates drop,
    new pages survive, within-batch twins keep the min id, unparseable
    urls always survive and are never indexed — and a replayed update is
    a no-op (idempotent per batch id)."""
    import os

    from serverless_etl_bi_on_aws_spark.operators.hash_index import (
        build_hash_index,
        dedup_against_hash_index,
        update_hash_index,
    )

    corpus = spark.createDataFrame(
        [
            (1, "http://a.com/x?utm_source=1"),
            (2, "https://B.org/page/"),
        ],
        "doc_id long, url string",
    )
    idx = str(tmp_path / "urlidx")
    build_hash_index(corpus, idx, hasher="url")

    batch = spark.createDataFrame(
        [
            (10, "HTTP://www.A.com/x/"),        # dup of indexed 1
            (11, "https://b.org/page?fbclid=q"),  # dup of indexed 2
            (12, "https://c.net/new"),            # new page
            (13, "https://C.NET/new#frag"),       # within-batch twin of 12
            (14, "::broken::"),                   # unparseable, survives
        ],
        "doc_id long, url string",
    )
    surv = dedup_against_hash_index(spark, batch, idx, 0)
    assert {r["doc_id"] for r in surv.select("doc_id").collect()} == {12, 14}

    assert update_hash_index(batch, idx, "b1") is True
    n_hashes = spark.read.parquet(live_table(idx, "hashes")).count()
    assert n_hashes == 2 + 4  # corpus + batch's parseable rows, NOT doc 14
    assert update_hash_index(batch, idx, "b1") is False  # replay no-op
    assert spark.read.parquet(live_table(idx, "hashes")).count() == n_hashes

    # the indexed batch now shields a later re-submission
    batch2 = spark.createDataFrame(
        [(20, "https://c.net/new/"), (21, "http://fresh.io/p")],
        "doc_id long, url string",
    )
    surv2 = dedup_against_hash_index(spark, batch2, idx, 0)
    assert {r["doc_id"] for r in surv2.select("doc_id").collect()} == {21}


def test_hash_index_radius_and_hasher_checks_raise(spark, tmp_path):
    """Caller input is checked with ValueError, not assert (which
    ``python -O`` strips): a radius past the pigeonhole bound — equal to
    ``n_blocks`` on a url index of one block — and an unknown hasher kind
    or param."""
    from serverless_etl_bi_on_aws_spark.operators.hash_index import (
        dropped_ids_against_index,
        init_hash_index,
        read_hash_meta,
    )

    idx = str(tmp_path / "urlidx")
    init_hash_index(idx, hasher="url")
    assert read_hash_meta(idx)["n_blocks"] == 1
    hashed = spark.createDataFrame([(1, 7)], "doc_id long, url_hash long")
    with pytest.raises(ValueError, match="pigeonhole"):
        dropped_ids_against_index(spark, hashed, idx, 1)
    with pytest.raises(ValueError, match="unknown hasher kind"):
        init_hash_index(str(tmp_path / "a"), hasher="md5")
    with pytest.raises(ValueError, match="takes no params"):
        init_hash_index(str(tmp_path / "b"), hasher={"kind": "url", "n": 3})


def test_simhash_index_probe_uses_recorded_shingle_size(spark, tmp_path):
    """The index records its hasher: built with SimHash ``n=5``, the
    generic probe hashes new docs with ``n=5`` too, so exact copies of
    indexed docs all drop — no ``n`` at the call site to get wrong."""
    from serverless_etl_bi_on_aws_spark.operators.hash_index import (
        build_hash_index,
        dedup_against_hash_index,
        read_hash_meta,
    )

    texts = [" ".join(f"d{k}w{i:03d}" for i in range(60)) for k in range(10)]
    corpus = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    idx = str(tmp_path / "idx")
    build_hash_index(corpus, idx, hasher={"kind": "simhash", "n": 5})
    assert read_hash_meta(idx)["hasher"] == {"kind": "simhash", "source_col": "text", "n": 5}

    copies = corpus.withColumn("doc_id", F.col("doc_id") + 100)
    assert dedup_against_hash_index(spark, copies, idx, 7).count() == 0


def test_cluster_safe_split_contract(spark):
    """q91's leakage contract: a transitive near-dup cluster can NEVER
    straddle splits, non-clustered rows keep the id-hash assignment
    exactly, and the result is partition-layout invariant. The planted
    chain 3-5-13 is chosen so the row-id hash provably contaminates:
    buckets (id*2654435761)%100 are 83/5/93 — val, train, AND test."""
    from serverless_etl_bi_on_aws_spark.operators.sampling import (
        cluster_safe_split,
        deterministic_split,
    )

    df = spark.createDataFrame([(i,) for i in (3, 4, 5, 8, 13)], "doc_id bigint")
    pairs = spark.createDataFrame([(3, 5), (5, 13)], "id_1 bigint, id_2 bigint")

    naive = {r.doc_id: r.split for r in deterministic_split(df, "doc_id").collect()}
    assert {naive[3], naive[5], naive[13]} == {"test", "train", "val"}  # straddles

    by_id = {r.doc_id: r for r in cluster_safe_split(df, "doc_id", pairs).collect()}
    # the whole cluster rides the component label (min id = 3): one split
    assert [by_id[i].split_key for i in (3, 5, 13)] == [3, 3, 3]
    assert {by_id[i].split for i in (3, 5, 13)} == {naive[3]}
    # singletons (4, 8) keep the id-hash assignment and key their own id
    for i in (4, 8):
        assert by_id[i].split == naive[i]
        assert by_id[i].split_key == i

    # partition-layout invariance: same assignment from any layout
    re_run = cluster_safe_split(df.repartition(7), "doc_id", pairs).collect()
    assert sorted((r.doc_id, r.split_key, r.split) for r in re_run) == sorted(
        (r.doc_id, r.split_key, r.split) for r in by_id.values()
    )

    # custom cut points flow through to the cluster key identically
    custom = cluster_safe_split(
        df, "doc_id", pairs, cut_points={"fit": 50, "holdout": 75}
    ).collect()
    for r in custom:
        b = (r.split_key * 2654435761) % 100
        want = "fit" if b < 50 else ("holdout" if b < 75 else "test")
        assert r.split == want


def test_cluster_survivors_priority_policy(spark):
    """q94's knob at row level: with prefer_col the survivor is the
    highest-priority cluster member (ties -> min id), overriding the
    default min-id representative; singletons and the default path are
    unchanged."""
    from serverless_etl_bi_on_aws_spark.operators.components import (
        cluster_survivors,
    )

    df = spark.createDataFrame(
        [
            (1, 5),   # chain 1-2-3: min id loses to 3
            (2, 7),
            (3, 9),
            (4, 2),   # pair 4-5: tie on pref -> min id 4 survives
            (5, 2),
            (6, 0),   # singleton: survives regardless of pref
        ],
        "id bigint, pref bigint",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], "id_1 bigint, id_2 bigint"
    )
    best = sorted(
        r.id for r in cluster_survivors(df, pairs, "id", prefer_col="pref").collect()
    )
    assert best == [3, 4, 6]
    # default policy unchanged: min id per cluster
    mins = sorted(r.id for r in cluster_survivors(df, pairs, "id").collect())
    assert mins == [1, 4, 6]


def test_cluster_safe_split_preserves_cs_named_columns(spark):
    """An input that legitimately owns a __cs_*-looking column must pass
    through cluster_safe_split untouched (working names are
    nonce-suffixed — the reserved-name collision class the maintenance
    compactor was hardened against)."""
    from serverless_etl_bi_on_aws_spark.operators.sampling import (
        cluster_safe_split,
    )

    df = spark.createDataFrame(
        [(3, "keep3"), (5, "keep5")], "doc_id bigint, __cs_comp string"
    )
    pairs = spark.createDataFrame([(3, 5)], "id_1 bigint, id_2 bigint")
    out = cluster_safe_split(df, "doc_id", pairs)
    assert "__cs_comp" in out.columns
    got = {r.doc_id: r["__cs_comp"] for r in out.collect()}
    assert got == {3: "keep3", 5: "keep5"}


@pytest.mark.slow  # round-19 tiering: >=10 s integration test
def test_simhash_persisted_index_online_rule(spark, tmp_path):
    """The round-15 text member of the 64-bit hamming index family:
    build over a corpus, probe a new batch (near-dup of an indexed doc
    drops; genuinely-new and sub-n-token docs survive), append, replay
    idempotently, and incremental-vs-oneshot probe equivalence."""
    import os

    from pyspark.sql import functions as F

    from serverless_etl_bi_on_aws_spark.operators.hash_index import (
        build_hash_index,
        dedup_against_hash_index,
        update_hash_index,
    )

    base = " ".join(f"tok{i:03d}" for i in range(150))
    other = " ".join(f"alt{i:03d}" for i in range(150))
    corpus = spark.createDataFrame(
        [(1, base), (2, other)], "doc_id bigint, text string"
    )
    idx = str(tmp_path / "idx")
    build_hash_index(corpus, idx, hasher="simhash")

    near = base.replace("tok005", "tok999")          # tiny edit -> hamming-close
    fresh = " ".join(f"new{i:03d}" for i in range(150))
    batch = spark.createDataFrame(
        [(10, near), (11, fresh), (12, "too short")],
        "doc_id bigint, text string",
    )
    surv = dedup_against_hash_index(spark, batch, idx, 7)
    assert sorted(r.doc_id for r in surv.collect()) == [11, 12]

    # append the survivors; a batch-mate near-dup pair collapses to min id
    assert update_hash_index(surv, idx, "b1") is True
    assert update_hash_index(surv, idx, "b1") is False  # replay no-op
    batch2 = spark.createDataFrame(
        [(20, fresh.replace("new001", "new888")),     # near-dup of indexed 11
         (21, " ".join(f"pair{i:03d}" for i in range(40))),
         (22, " ".join(f"pair{i:03d}" for i in range(40)))],  # exact batch-mate
        "doc_id bigint, text string",
    )
    surv2 = dedup_against_hash_index(spark, batch2, idx, 7)
    assert sorted(r.doc_id for r in surv2.collect()) == [21]

    # incremental state == a one-shot build over everything admitted
    update_hash_index(surv2, idx, "b2")
    oneshot = str(tmp_path / "one")
    admitted = corpus.unionByName(surv).unionByName(surv2)
    build_hash_index(admitted, oneshot, hasher="simhash")
    probe = spark.createDataFrame(
        [(90, near), (91, " ".join(f"probe{i:03d}" for i in range(150)))],
        "doc_id bigint, text string",
    )
    a = sorted(r.doc_id for r in
               dedup_against_hash_index(spark, probe, idx, 7).collect())
    b = sorted(r.doc_id for r in
               dedup_against_hash_index(spark, probe, oneshot, 7).collect())
    assert a == b == [91]
    assert os.path.exists(os.path.join(idx, "_applied", "b2"))


@pytest.mark.slow  # round-19 tiering: >=10 s integration test
def test_minhash_similarity_join_bipartite_contract(spark):
    """Round 16: the cross-table LSH join links near-identical texts
    across two frames, never unrelated ones, never within one frame;
    sub-n-token rows on either side produce no pairs; one side
    broadcastable (the takedown-list case) gives identical results."""
    from pyspark.sql import functions as F

    from serverless_etl_bi_on_aws_spark.operators.dedup import (
        minhash_similarity_join,
    )

    base = " ".join(f"tok{i:03d}" for i in range(150))
    other = " ".join(f"alt{i:03d}" for i in range(150))
    left = spark.createDataFrame(
        [(1, base), (2, other), (3, "too short")],
        "doc_id bigint, text string",
    )
    right = spark.createDataFrame(
        [
            (10, base.replace("tok005", "tok999")),  # near-dup of left 1
            (11, " ".join(f"new{i:03d}" for i in range(150))),  # unrelated
            (12, other),                              # exact dup of left 2
            (13, "na"),                               # sub-n tokens
        ],
        "rec_id bigint, text string",
    )
    got = {
        (r.id_l, r.id_r)
        for r in minhash_similarity_join(
            left, right, left_id="doc_id", right_id="rec_id", threshold=0.5
        ).collect()
    }
    assert got == {(1, 10), (2, 12)}
    # within-frame near-dups never pair (bipartite, not a self-join):
    left2 = left.unionByName(
        spark.createDataFrame([(4, base)], "doc_id bigint, text string")
    )
    got2 = {
        (r.id_l, r.id_r)
        for r in minhash_similarity_join(
            left2, right, left_id="doc_id", right_id="rec_id", threshold=0.5
        ).collect()
    }
    assert got2 == {(1, 10), (2, 12), (4, 10)}


def test_similarity_join_band_exchanges_carry_ids_only(spark):
    """Round 16 plan pin (the round-8 shuffle discipline, bipartite):
    every exchange that ships banded rows in the cross-table join
    carries ids only — neither side's 128-long signature column may
    cross a (band, bucket) exchange."""
    import contextlib
    import io

    from serverless_etl_bi_on_aws_spark.catalog import load_table
    from serverless_etl_bi_on_aws_spark.operators.dedup import (
        minhash_similarity_join,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    joined = minhash_similarity_join(
        docs.filter("doc_id % 2 = 0"),
        docs.filter("doc_id % 2 = 1"),
        threshold=0.5,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain(mode="formatted")
    blocks, cur = [], []
    for line in buf.getvalue().splitlines():
        if line.strip() == "":
            if cur:
                blocks.append("\n".join(cur))
            cur = []
        else:
            cur.append(line)
    if cur:
        blocks.append("\n".join(cur))
    band_blocks = [
        b for b in blocks if "Exchange" in b.splitlines()[0] and "band" in b
    ]
    assert band_blocks, "expected at least one banded exchange in the plan"
    for b in band_blocks:
        assert "sig" not in b, f"signature crosses a band exchange:\n{b}"


def test_similarity_join_small_side_broadcast_is_pinned(spark, monkeypatch):
    """Round 17 (verdict ask #3): the docstring's takedown-case claim —
    'a small list's banded frame broadcasts and the band exchange
    disappears from the big side' — is a size-gated EXPLICIT hint, not
    an AQE hope. With autoBroadcastJoinThreshold disabled: (a) a
    sub-gate right side still plans BroadcastHashJoin (the hint held);
    (b) with the gate forced shut the same join degrades to a shuffle
    join with IDENTICAL pairs (the q20 size-gate discipline)."""
    from serverless_etl_bi_on_aws_spark.catalog import load_table
    from serverless_etl_bi_on_aws_spark.operators import dedup as mod

    left = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    base = " ".join(f"take{i:03d}" for i in range(150))
    right = spark.createDataFrame(
        [(100, base), (101, base.replace("take003", "take777"))],
        "rec_id bigint, text string",
    )

    def run():
        df = mod.minhash_similarity_join(
            left, right, right_id="rec_id", threshold=0.5
        )
        rows = sorted(tuple(r) for r in df.collect())
        return rows, df._jdf.queryExecution().executedPlan().toString()

    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rows_hinted, plan_hinted = run()
        assert "BroadcastHashJoin" in plan_hinted, plan_hinted
        # the banded frames never meet in a shuffled join when hinted
        monkeypatch.setattr(mod, "SIMJOIN_BROADCAST_MAX_BYTES", -1)
        rows_shuffled, plan_shuffled = run()
        assert (
            "SortMergeJoin" in plan_shuffled
            or "ShuffledHashJoin" in plan_shuffled
        ), plan_shuffled
        assert "BroadcastHashJoin" not in plan_shuffled, plan_shuffled
        assert rows_shuffled == rows_hinted
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)


def test_shared_shingle_rows_equivalence(spark):
    """Round-18 optimization seam: a precomputed shingle_rows frame fed via
    ``shingled=`` must give bit-identical signatures and exact-Jaccard
    pairs to the self-computed pipelines (same expressions, one
    materialization)."""
    from serverless_etl_bi_on_aws_spark.operators.dedup import shingle_rows

    docs = load_table(spark, SF_CORRECT, "documents")
    sh = shingle_rows(docs).localCheckpoint(eager=True)

    base_sigs = {r.doc_id: tuple(r.sig) for r in minhash_signatures(docs).collect()}
    shared_sigs = {
        r.doc_id: tuple(r.sig)
        for r in minhash_signatures(docs, shingled=sh).collect()
    }
    assert base_sigs == shared_sigs

    base_pairs = {
        (r.id_1, r.id_2): r.jaccard
        for r in neardup_jaccard_pairs(docs, threshold=0.35).collect()
    }
    shared_pairs = {
        (r.id_1, r.id_2): r.jaccard
        for r in neardup_jaccard_pairs(docs, threshold=0.35, shingled=sh).collect()
    }
    assert base_pairs == shared_pairs


def test_similarity_join_precomputed_sigs_equivalence(spark):
    """Round-18 optimization seam: minhash_similarity_join fed one
    union-wide signature job split per side (left_sigs/right_sigs) must
    emit the identical linked set as the two per-side signature jobs —
    per-doc signatures are side-independent."""
    from serverless_etl_bi_on_aws_spark.operators.dedup import (
        minhash_similarity_join,
    )

    docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    left = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0)
    right = docs.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1)

    base = {
        (r.id_l, r.id_r): r.est_jaccard
        for r in minhash_similarity_join(
            left, right, text_col="text", threshold=0.5
        ).collect()
    }
    sig = minhash_signatures(docs).localCheckpoint(eager=True)
    shared = {
        (r.id_l, r.id_r): r.est_jaccard
        for r in minhash_similarity_join(
            left,
            right,
            text_col="text",
            threshold=0.5,
            left_sigs=sig.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 0),
            right_sigs=sig.filter(F.pmod(F.col("doc_id"), F.lit(2)) == 1),
        ).collect()
    }
    assert base == shared
