"""Deduplication family (north-star X1/X2; SURVEY.md §2.10).

The reference deduplicates on load via the staging delete-matching merge
(README.md:67, 120, 151) — key-exact dedup. A 100 TB training-data pipeline
additionally needs *near*-duplicate detection; this module provides the
standard ladder, all expressed as DataFrame algebra (no Python in the hot
path):

    dedup_exact            hash groupBy / dropDuplicates
    dedup_latest_by_key    row_number()=1 survivor policy (deterministic)
    neardup_jaccard_pairs  exact n-gram Jaccard via shingle inverted index
    minhash_signatures     k-permutation MinHash over xxhash64'd shingles
    neardup_minhash_lsh    banded LSH candidate join + signature similarity
    simhash64              64-bit SimHash + hamming-distance pairing

Scale ladder: ``neardup_jaccard_pairs`` is exact but its inverted-index join
can blow up on hot shingles (stopword-grams). ``neardup_minhash_lsh`` is the
100 TB path — signature size is constant per doc, the band-bucket join only
pairs plausible candidates, and every stage is a plain shuffle on a
well-distributed key. All hashes are Spark built-ins (xxhash64), so
signatures are deterministic across runs/clusters.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from serverless_etl_bi_on_aws_spark.functions.text import shingles_from_tokens, tokens
from serverless_etl_bi_on_aws_spark.util import fan_out

#: Mersenne prime 2^31 - 1: universal-hash modulus. a*x+b stays < 2^62 for
#: x < P and a < 2^31, so the arithmetic never overflows a Spark LongType.
_P = (1 << 31) - 1

#: minhash_similarity_join's small-side gate (round 17): a side whose raw
#: INPUT Catalyst estimate is under this gets an explicit broadcast hint
#: on its banded + signature frames (the takedown-list case). The banded
#: explode is ids-only x bands rows, so a 32 MB text input bounds the
#: hinted frames comfortably under executor memory; unknown estimates
#: report Long.Max and safely refuse (merge.py::_estimated_bytes).
SIMJOIN_BROADCAST_MAX_BYTES = 32 << 20


def dedup_exact(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """Exact dedup (X1): one survivor per distinct value of ``subset`` (or
    the whole row). Spark plans this as a hash aggregate with map-side
    partial dedup — the right shape at any scale. Survivor choice is
    arbitrary; use :func:`dedup_latest_by_key` when it must be deterministic.
    """
    return df.dropDuplicates(list(subset) if subset else None)


def dedup_latest_by_key(
    df: DataFrame, keys: Sequence[str], order_col: str, tiebreak: str | None = None
) -> DataFrame:
    """Deterministic survivor policy: newest row per key wins — the same
    semantics the reference's staging merge gives the hourly re-extract
    (latest copy of each order_id survives, README.md:67-70).

    ``row_number() OVER (PARTITION BY keys ORDER BY order_col DESC)`` — a
    single shuffle on the key, no driver involvement.
    """
    order = [F.col(order_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def shingle_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """The shared front of the text near-dup family: exploded distinct
    ``n``-gram shingles as ``(_id, _n, _shingle)`` rows (``_n`` = the doc's
    distinct-shingle count). Factored out in the round-18 optimization pass
    so a verify query that runs BOTH a signature job and the exact
    inverted-index twin over the same corpus can materialize this frame
    once (localCheckpoint) and feed it to both via their ``shingled=``
    parameters — measured on q121's verify cell: 14.5 -> 9.8 s at sf0.1
    (the tokenize/shingle/explode pipeline otherwise runs once per
    consumer; exchange reuse does not cross the two operators' differing
    downstreams). Single-operator callers should NOT pre-materialize: for
    one consumer the checkpoint costs more than the reuse saves (measured
    on q82's rungs: 13.1 -> 13.7 s — rejected there)."""
    return (
        fan_out(docs.select(F.col(id_col).alias("_id"), F.col(text_col)))
        .select("_id", tokens(text_col).alias("_toks"))
        .select("_id", shingles_from_tokens("_toks", n).alias("_sh"))
        .select("_id", F.size("_sh").alias("_n"), F.explode("_sh").alias("_shingle"))
    )


def neardup_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df_frac: float | None = None,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (X2, exact baseline).

    Inverted-index formulation: explode distinct shingles, self-join on the
    shingle (pairs only share a shuffle partition if they share a shingle),
    count intersections, then |A∪B| = |A|+|B|-|A∩B|.

    ``shingled`` (round-18 optimization): a precomputed
    :func:`shingle_rows` frame for ``docs`` — pass a localCheckpoint'd one
    when another operator over the same corpus shares it (see
    :func:`shingle_rows`); values are identical by construction (same
    expressions, one materialization).

    ``max_df_frac`` is the standard document-frequency cap on the index: a
    shingle appearing in more than that fraction of documents is dropped
    from the JOIN (set sizes |A|/|B| keep counting it), removing the skew
    cliff — a shingle shared by d documents contributes d^2 join rows in
    ONE shuffle partition, so one boilerplate shingle across 1e6 docs is a
    1e12-row straggler. A capped run reports each affected pair's jaccard
    as a lower bound (its hot intersections aren't counted), which can only
    DROP pairs whose similarity rides on near-ubiquitous shingles — the
    accepted trade in LSH practice. ``None`` (default) is fully exact.

    Returns (id_1, id_2, jaccard) with id_1 < id_2, jaccard >= threshold.
    At 100 TB scale prefer :func:`neardup_minhash_lsh`; this operator is the
    correctness oracle for it.
    """
    # each exploded row carries its doc's shingle count (the array is already
    # distinct), so |A| and |B| ride the self-join for free — no separate
    # sizes aggregate, no post-join size lookups, and the tokenize pipeline
    # is computed for the two join sides only (whose identical _shingle
    # exchanges AQE deduplicates via ReusedExchange)
    sh = shingled if shingled is not None else shingle_rows(docs, id_col, text_col, n)
    if max_df_frac is not None:
        # Round-18 formulation: anti-join against the HOT list only. df is
        # counted over per-doc DISTINCT-shingle rows, so the number of
        # shingles exceeding max_df_frac * D is bounded by
        # total_rows / (max_df_frac * D) = S-bar / max_df_frac (S-bar = avg
        # distinct shingles per doc; round-18 ADVICE — NOT floor(1/frac),
        # which ignores that each doc contributes many rows). At S-bar ~ 1e4
        # and frac 0.01 that is <= 1e6 one-string rows, still a comfortable
        # broadcast — versus the previous shape, which joined the full
        # VOCABULARY-sized (shingle, df) table back to the exploded rows and
        # stops being broadcastable (a third shuffled join stage) at scale.
        # The hint stays unconditional: the hot side is an aggregate, whose
        # Catalyst size estimate reports unknown/Long.Max, so an
        # _estimated_bytes gate would always refuse and re-shuffle; callers
        # with pathological S-bar/frac should lower the cap, not the hint.
        # Survivor set is identical: every shingle has a df row, so
        # inner-join+filter(df <= cap) == anti-join against (df > cap). The
        # count() that sizes the cap stays the one O(1)-result driver action.
        max_df = int(max_df_frac * docs.count())
        hot = (
            sh.groupBy("_shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("_shingle")
        )
        sh = sh.join(F.broadcast(hot), on="_shingle", how="left_anti")
    return (
        sh.alias("a")
        .join(sh.alias("b"), on="_shingle")
        .filter(F.col("a._id") < F.col("b._id"))
        .groupBy(F.col("a._id").alias("id_1"), F.col("b._id").alias("id_2"))
        .agg(
            F.count("*").alias("_inter"),
            F.first("a._n").alias("_n1"),
            F.first("b._n").alias("_n2"),
        )
        .withColumn(
            "jaccard",
            F.col("_inter").cast("double")
            / (F.col("_n1") + F.col("_n2") - F.col("_inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_1", "id_2", "jaccard")
    )


def _hash_params(num_hashes: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """Deterministic (a, b) universal-hash coefficients, a odd and non-zero."""
    import random

    rng = random.Random(seed)
    a = [rng.randrange(1, _P) | 1 for _ in range(num_hashes)]
    b = [rng.randrange(0, _P) for _ in range(num_hashes)]
    return a, b


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    seed: int = 42,
    shingled: DataFrame | None = None,
) -> DataFrame:
    """k-permutation MinHash signature per document (X2 scale path).

    shingle --xxhash64--> 64-bit, reduced mod P, then k universal hashes
    h_i(x) = (a_i*x + b_i) mod P; signature_i = min over shingles.

    Formulation matters: nested higher-order functions (transform inside
    transform) are *interpreted* per element in Spark — measured 55 s at
    5k docs x 128 hashes. Instead the shingles are exploded once and the k
    mins become k ``min()`` aggregate expressions in ONE hash aggregate —
    every expression whole-stage-codegen'd, map-side partial mins before
    the shuffle, and the shuffle carries exactly num_hashes values per doc
    (measured ~1.5 s for the same input; identical output values).

    Returns (id_col, sig: array<bigint> of length num_hashes). Empty-shingle
    docs are dropped (nothing to compare).

    ``shingled`` (round-18 optimization): a precomputed
    :func:`shingle_rows` frame for ``docs`` — see that function's note on
    when sharing it pays. Values are identical either way (the same
    xxhash64/pmod expressions run over the same exploded rows).

    Plan-construction formulation (round 19, guide §7.3 — planning time
    was the bottleneck): the k min-aggregates ship as ONE parsed SQL
    expression ``array(min(pmod(a_i*_x+b_i, P)), ...)`` instead of k
    ``F.min(F.pmod(...))`` Column chains. Building 128 Column objects
    costs ~770 py4j round-trips and measured 1.0 s of the job's 1.6 s at
    sf0.1 — ON THE DRIVER, so it neither parallelizes nor shrinks with a
    cluster; the one-string parse costs ~0.05 s for the identical
    analyzed plan (same aggregate expressions, same ``sig`` schema,
    values pinned identical by tests/test_dedup_similarity.py)."""
    a, b = _hash_params(num_hashes, seed)
    if shingled is not None:
        hashed = shingled.select(
            F.col("_id").alias(id_col),
            F.pmod(F.xxhash64("_shingle"), F.lit(_P)).alias("_x"),
        )
    else:
        hashed = (
            fan_out(docs.select(F.col(id_col), F.col(text_col)))
            .select(F.col(id_col), tokens(text_col).alias("_toks"))
            .select(F.col(id_col), shingles_from_tokens("_toks", n).alias("_sh"))
            # no size()>0 filter: explode already drops empty arrays, and an
            # explicit filter gets predicate-pushed below the fan_out
            # repartition with the whole shingle expression INLINED (split
            # re-evaluated per lambda element, single task) — measured 2.5 s
            # of the old 55 s
            .select(F.col(id_col), F.explode("_sh").alias("_s"))
            .select(F.col(id_col), F.pmod(F.xxhash64("_s"), F.lit(_P)).alias("_x"))
        )
    # a_i < 2^31 and _x < P < 2^31, so a_i*_x + b_i < 2^62 never overflows
    # the bigint arithmetic (the L suffixes keep every literal LongType,
    # matching the old int-lit * long promotion exactly)
    sig = "array(" + ",".join(
        f"min(pmod({a[i]}L*_x+{b[i]}L, {_P}L))" for i in range(num_hashes)
    ) + ") AS sig"
    return hashed.groupBy(id_col).agg(F.expr(sig))


def band_buckets(
    sigs: DataFrame,
    bands: int,
    rows: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Explode MinHash signatures into banded LSH buckets:
    (_id, band, bucket) with bucket = xxhash64 of the band's slice.
    Shared by the one-shot pair join (:func:`neardup_minhash_lsh`) and the
    persisted-index build/probe (operators/dedup_index.py) so both sides
    of an incremental probe hash band slices identically by construction.

    Deliberately does NOT carry ``sig`` (round-8 verdict): a banded
    self-join on a frame that carries signatures ships each num_hashes-
    long signature across the (band, bucket) exchange once PER BAND on
    BOTH sides — 2x``bands``x the bytes needed. Candidate pairs are ids
    only; consumers fetch signatures for the (much smaller) candidate set
    by joining back to the signature frame on the id."""
    return sigs.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda band: F.struct(
                    band.alias("band"),
                    F.xxhash64(F.slice("sig", band * rows + 1, rows)).alias("bucket"),
                ),
            )
        ).alias("_bb"),
    ).select("_id", "_bb.band", "_bb.bucket")


def est_jaccard(s1: str, s2: str, num_hashes: int):
    """Signature-estimated Jaccard: fraction of matching components."""
    return F.aggregate(
        F.zip_with(s1, s2, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ).cast("double") / F.lit(float(num_hashes))


def neardup_minhash_lsh(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Banded-LSH near-dup detection (X2 at scale): shingle -> minhash ->
    band -> bucket-join -> signature-estimated Jaccard.

    With 128 hashes / 32 bands (rows=4), the S-curve gives ~98% recall at
    J=0.5 while keeping bucket collisions rare for unrelated docs. The
    candidate join shuffles on (band, bucket-hash) — a uniform key — and
    compares only colliding pairs, never all O(N^2).

    Shuffle discipline (round-8 verdict #4): the banded self-join carries
    ids ONLY — each side of the (band, bucket) exchange ships 3 longs per
    (doc, band), not the 128-long signature ``bands`` times over.
    Signatures are fetched for the candidate PAIRS (collision-rate-sized,
    not corpus x bands) by two joins back to the signature frame, which is
    localCheckpoint'd once for its three consumers (banding + two
    fetches) so the shingle pipeline runs exactly once.

    Returns (id_1, id_2, est_jaccard) with est_jaccard >= threshold, where
    est_jaccard = fraction of matching signature components.
    """
    rows = num_hashes // bands
    sigs = minhash_signatures(docs, id_col, text_col, n, num_hashes, seed).localCheckpoint(
        eager=True
    )
    banded = band_buckets(sigs, bands, rows, id_col=id_col)
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), on=["band", "bucket"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("id_1"), F.col("b._id").alias("id_2"))
        .dropDuplicates(["id_1", "id_2"])
    )
    return (
        cand.join(sigs.select(F.col(id_col).alias("id_1"), F.col("sig").alias("_s1")), "id_1")
        .join(sigs.select(F.col(id_col).alias("id_2"), F.col("sig").alias("_s2")), "id_2")
        .withColumn("est_jaccard", est_jaccard("_s1", "_s2", num_hashes))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_1", "id_2", "est_jaccard")
    )


def simhash64(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """64-bit SimHash per document (X2 alternative; near-dups have small
    hamming distance). Features are distinct n-gram *shingles* — unigram
    features degenerate when the corpus shares a small vocabulary (every
    document then has a near-identical token set and every pair hashes
    close; observed on the fixtures, whose 31-word vocabulary made unigram
    simhash inseparable). For each bit j: sum (+1/-1) of bit j of
    xxhash64(shingle); simhash bit j = (sum > 0). All JVM-side HOFs — the 64
    per-bit folds are unrolled at plan-build time (shift amounts must be
    literals).

    Returns (id_col, simhash bigint). Pair via
    ``F.bit_count(a.bitwiseXOR(b)) <= radius`` on candidate blocks: with B
    equal-width blocks, any pair within hamming radius B-1 shares at least
    one exact block (pigeonhole), so blocking loses nothing up to that
    radius while keeping the self-join linear-ish.

    Formulation: like :func:`minhash_signatures`, the shingles are exploded
    once and the 64 per-bit sign sums become 64 codegen'd ``sum()``
    aggregates in one hash aggregate (interpreted per-doc HOF folds were
    ~60x slower); the final bit-pack is a plain 64-term codegen expression.
    ``shiftleft``, not ``*2``, for the MSB: ANSI mode would flag the
    overflow of an arithmetic fold.
    """
    hashed = (
        fan_out(docs.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), tokens(text_col).alias("_toks"))
        .select(F.col(id_col), shingles_from_tokens("_toks", n).alias("_sh"))
        # explode drops empty arrays; see minhash_signatures on why an
        # explicit size() filter here would serialize the whole stage
        .select(F.col(id_col), F.explode("_sh").alias("_s"))
        .select(F.col(id_col), F.xxhash64("_s").alias("_h"))
    )
    sums = [
        F.sum(
            F.shiftright("_h", j).bitwiseAND(F.lit(1)).cast("int") * 2 - 1
        ).alias(f"_b{j}")
        for j in range(64)
    ]
    packed = None
    for j in range(64):
        bit = F.when(F.col(f"_b{j}") > 0, F.lit(1)).otherwise(F.lit(0)).cast("bigint")
        term = F.shiftleft(bit, j)
        packed = term if packed is None else packed + term
    return hashed.groupBy(id_col).agg(*sums).select(F.col(id_col), packed.alias("simhash"))


def hash_block_expr(hash_col: str, n_blocks: int):
    """The ONE pigeonhole block-split expression for 64-bit fingerprints:
    an ``array<struct<block:int, key:bigint>>`` of the ``n_blocks`` equal
    sub-blocks of ``hash_col``. Shared by :func:`hamming_pairs_blocked`
    (self-join blocking) and operators/hash_index.hash_blocks (persisted
    index blocking) so index and probe block identically BY CONSTRUCTION
    — two copies of this expression drifting apart would silently lose
    corpus-vs-new candidate recall (round-9 ADVICE)."""
    if n_blocks == 1:
        # radius-0 exact-equality indexes (the url family): one block is
        # the whole fingerprint. Special-cased because the general mask
        # (1 << 64) - 1 overflows the Java long behind F.lit.
        return F.array(
            F.struct(F.lit(0).alias("block"), F.col(hash_col).alias("key"))
        )
    width = 64 // n_blocks
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("block"),
                F.shiftright(hash_col, width * b).bitwiseAND(F.lit(mask)).alias("key"),
            )
            for b in range(n_blocks)
        ]
    )


def hamming_pairs_blocked(
    hashes: DataFrame,
    id_col: str,
    hash_col: str,
    radius: int,
    n_blocks: int,
) -> DataFrame:
    """Generic pigeonhole-blocked hamming self-join over any 64-bit
    fingerprint column: split each fingerprint into ``n_blocks`` equal
    sub-blocks — any pair within hamming radius ``n_blocks - 1`` shares at
    least one exact block — self-join only on block collisions, then
    verify ``bit_count(xor) <= radius``. Returns (id_1, id_2, hamming)
    with id_1 < id_2. Shared by text SimHash (:func:`simhash_pairs_blocked`)
    and image perceptual hashes (operators/image_dedup.py)."""
    if radius > n_blocks - 1:
        raise ValueError(
            f"radius {radius} > n_blocks - 1 = {n_blocks - 1}: the pigeonhole "
            "guarantee needs radius <= blocks-1"
        )
    blocks = hashes.select(
        F.col(id_col).alias("_id"),
        F.col(hash_col).alias("_h"),
        F.explode(hash_block_expr(hash_col, n_blocks)).alias("_bk"),
    ).select("_id", "_h", "_bk.block", "_bk.key")
    cand = (
        blocks.alias("a")
        .join(blocks.alias("b"), on=["block", "key"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_1"),
            F.col("b._id").alias("id_2"),
            F.col("a._h").alias("_h1"),
            F.col("b._h").alias("_h2"),
        )
        .dropDuplicates(["id_1", "id_2"])
    )
    hamming = F.bit_count(F.col("_h1").bitwiseXOR(F.col("_h2")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= radius)
        .select("id_1", "id_2", "hamming")
    )


def simhash_pairs_blocked(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    radius: int = 7,
    n_blocks: int = 8,
) -> DataFrame:
    """SimHash near-dup candidate pairs via pigeonhole blocking (the q14
    semantics, factored so the driver's sketch-verification query shares
    it). Returns (id_1, id_2, hamming) with id_1 < id_2."""
    sh = simhash64(docs, id_col, text_col, n)
    return hamming_pairs_blocked(sh, id_col, "simhash", radius, n_blocks)


def minhash_similarity_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    seed: int = 42,
    left_sigs: DataFrame | None = None,
    right_sigs: DataFrame | None = None,
) -> DataFrame:
    """Bipartite banded-LSH similarity JOIN (round 16 — record linkage /
    fuzzy entity resolution): for two DIFFERENT tables, the pairs
    ``(id_l, id_r, est_jaccard >= threshold)`` whose texts are near-
    duplicates — the cross-table face of :func:`neardup_minhash_lsh`
    (matching a crawl corpus against a takedown/copyright/benchmark
    list; linking records across two feeds by fuzzy text key). Both
    sides hash with the SAME seed so signatures are comparable by
    construction.

    Scale shape, same discipline as the self-join: each side explodes
    to ids-only (band, bucket) rows — never signatures — and the one
    data-sized exchange is the band join, linear in rows x bands; the
    signature fetches are candidate-pair-sized joins back to the two
    localCheckpoint'd signature frames. No O(|L| x |R|) anywhere; when
    one side is a small list (the takedown case), its banded frame
    broadcasts and even the band exchange disappears from the big side
    — PINNED, not hoped-for (round 17, verdict ask #3): a side whose
    INPUT's Catalyst size estimate is under
    ``SIMJOIN_BROADCAST_MAX_BYTES`` gets an explicit ``F.broadcast``
    hint on its banded ids frame and its signature-fetch frame (the
    merge_upsert size-gate precedent), so the takedown case does not
    depend on AQE runtime stats over an exploded frame; over-threshold
    sides stay un-hinted and AQE keeps the call. The gate reads the raw
    input's estimate — the banded explode is ids-only, x``bands`` rows,
    so a sub-threshold text input bounds the exploded frame within one
    order of magnitude.

    Sub-``n``-token texts on either side produce no signature and
    therefore no pairs (the NULL-dhash rule, bipartite).

    ``left_sigs``/``right_sigs`` (round-18 optimization): precomputed,
    already-materialized signature frames ``(id, sig)`` for either side.
    When both sides derive from ONE parent corpus (q121's parity split —
    generally, linking two slices of the same table), the caller computes
    one signature job over the union and filters it per side: the
    signature job's cost is stage/checkpoint overhead, not rows, at
    fixture scale (measured sig(half) 2.46 s vs sig(union) 2.43 s), so two
    per-side jobs pay the fixed cost twice for the same total rows —
    measured on q121op: 4.97 -> 3.10 s. Per-doc signatures are
    side-independent, so results are identical by construction. Supplied
    frames must already be materialized (localCheckpoint) — the operator
    only checkpoints frames it computes itself. The broadcast size gate
    still reads the raw ``left``/``right`` inputs, so hint behavior is
    unchanged."""
    from serverless_etl_bi_on_aws_spark.operators.merge import _estimated_bytes

    rows = num_hashes // bands
    sig_l = (
        left_sigs
        if left_sigs is not None
        else minhash_signatures(
            left, left_id, text_col, n, num_hashes, seed
        ).localCheckpoint(eager=True)
    )
    sig_r = (
        right_sigs
        if right_sigs is not None
        else minhash_signatures(
            right, right_id, text_col, n, num_hashes, seed
        ).localCheckpoint(eager=True)
    )
    band_l = band_buckets(sig_l, bands, rows, id_col=left_id)
    band_r = band_buckets(sig_r, bands, rows, id_col=right_id)
    small_r = _estimated_bytes(right) <= SIMJOIN_BROADCAST_MAX_BYTES
    small_l = not small_r and (
        _estimated_bytes(left) <= SIMJOIN_BROADCAST_MAX_BYTES
    )
    bl = band_l.select(F.col("_id").alias("id_l"), "band", "bucket")
    br = band_r.select(F.col("_id").alias("id_r"), "band", "bucket")
    fl = sig_l.select(F.col(left_id).alias("id_l"), F.col("sig").alias("_s1"))
    fr = sig_r.select(F.col(right_id).alias("id_r"), F.col("sig").alias("_s2"))
    if small_r:
        br, fr = F.broadcast(br), F.broadcast(fr)
    elif small_l:
        bl, fl = F.broadcast(bl), F.broadcast(fl)
    cand = (
        bl.join(br, ["band", "bucket"])
        .select("id_l", "id_r")
        .dropDuplicates(["id_l", "id_r"])
    )
    return (
        cand.join(fl, "id_l")
        .join(fr, "id_r")
        .withColumn("est_jaccard", est_jaccard("_s1", "_s2", num_hashes))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_l", "id_r", "est_jaccard")
    )


def dedup_exact_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 10,
) -> DataFrame:
    """Corpus-level exact span dedup (X2 extension) — the ExactSubstr pass
    of Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (ACL 2022), at fixed-span granularity: every document is cut
    into consecutive ``span_tokens``-word segments, and a segment instance
    survives only if it is the globally FIRST occurrence of its exact text
    in corpus order (``id_col`` asc, segment index asc). Later copies —
    boilerplate, mirrored paragraphs, within-doc repetition — are removed
    and each document is reassembled from its surviving segments.

    The suffix-array formulation of the paper is a single-machine
    construction; the fixed-span formulation is the shuffle-native analog
    (the granularity knob trades recall on unaligned overlaps for a plan
    of exactly two exchanges).

    Output: ``id_col, n_spans, n_kept, clean_md5`` — md5 of the
    reassembled text so an oracle can hash-check full reassembly without
    shipping document bodies through the compare harness.

    Scale shape: segmentation is the q38 map-only explode (split once,
    ``sequence`` of starts, ``slice``); first-occurrence is ONE exchange —
    a ``row_number`` window partitioned on ``(xxhash64(span), span)``
    (the 64-bit hash is the shuffle distribution key, the text keeps the
    semantics exact under collision); reassembly is ONE exchange back on
    the document key (``array_sort`` of (seg_idx, text) structs — no
    Python, no driver). A hot boilerplate span lands one partition-sized
    sort group, which AQE's skew handling cannot split for a window — at
    real scale cap it by pre-aggregating ``min_by`` per span first; here
    the window keeps the plan one stage shorter.
    """
    if span_tokens <= 0:
        raise ValueError("span_tokens must be positive")
    tok = df.select(
        id_col, F.split(F.col(text_col), " ").alias("__t")
    ).withColumn("__n", F.size("__t"))
    spans = tok.select(
        id_col,
        "__t",
        F.explode(F.sequence(F.lit(0), F.col("__n") - 1, F.lit(span_tokens))).alias(
            "__start"
        ),
    ).select(
        id_col,
        (F.col("__start") / span_tokens).cast("long").alias("seg_idx"),
        F.array_join(
            F.slice("__t", F.col("__start") + 1, span_tokens), " "
        ).alias("span_text"),
    )
    w = Window.partitionBy(F.xxhash64("span_text"), "span_text").orderBy(
        id_col, "seg_idx"
    )
    ranked = spans.withColumn("__rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("__rn") == 1, F.struct("seg_idx", "span_text")
    )  # collect_list drops the NULLs for removed spans
    return (
        ranked.groupBy(id_col)
        .agg(
            F.count("*").alias("n_spans"),
            F.sum((F.col("__rn") == 1).cast("long")).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s.getField("span_text"),
                    ),
                    " ",
                )
            ).alias("clean_md5"),
        )
        .select(id_col, "n_spans", "n_kept", "clean_md5")
    )


def dedup_by_canonical_url(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    canon_col: str = "canon_url",
) -> DataFrame:
    """URL-level dedup (X1 front door for crawl corpora, round 14): the
    same page arrives under many SURFACE forms — scheme/host case,
    ``www.``, default ports, tracking params, param order, trailing
    slashes, fragments — so exact text dedup alone re-fetches and
    re-processes it once per form. Canonicalize
    (:func:`functions.url.canonicalize_url`, pure codegen'd JVM
    expressions) and keep MIN(id) per canonical form (the staging-merge
    keep-one rule on url identity). Rows whose url fails to parse keep
    a NULL ``canon_col`` and ALL survive — malformed urls are a
    quarantine decision, not an implicit dedup group.

    Scale shape: canonicalization is map-only; the survivor rule is one
    window shuffle keyed by the canonical url — same cost profile as
    the funnel's exact-text rung, but on a column ~100x narrower than
    document text."""
    from serverless_etl_bi_on_aws_spark.functions.url import canonicalize_url

    withc = df.withColumn(canon_col, canonicalize_url(url_col))
    w = Window.partitionBy(canon_col)
    return (
        withc.withColumn("_min_id", F.min(id_col).over(w))
        .filter(F.col(canon_col).isNull() | (F.col(id_col) == F.col("_min_id")))
        .drop("_min_id")
    )
