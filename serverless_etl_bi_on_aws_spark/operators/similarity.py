"""Similarity search over embedding columns (north-star X3; SURVEY.md §2.10).

Two tiers:
  * :func:`topk_cosine_bruteforce` — exact; one codegen'd scan + global
    top-k. Spark plans ``orderBy(desc).limit(k)`` as TakeOrderedAndProject:
    each partition keeps a k-heap and only k rows per partition reach the
    driver-side merge, so the exact path is shuffle-free and scales linearly.
  * :func:`topk_cosine_lsh` — approximate: random-hyperplane (SimHash) LSH
    prefilter, then exact re-ranking of the candidate set. At 100 TB the
    bucket predicate prunes the scan to ~candidates/2^bits of the data;
    persist the bucketed table sorted by bucket id to turn the probe into a
    partition-pruned lookup.

The persisted IVF index (:func:`build_ivf_index`) is a generation store
(operators/snapshot.py):

    <index>/_current.json          pointer to the live generation
    <index>/gen-<seq>-<nonce>/
        corpus/_cluster=<c>/       vectors partitioned by cluster id
        centroids/                 (cluster INT, centroid ARRAY<DOUBLE>)
        _drift/<batch>.json        per-append (n, sum_dist2)
        _meta.json                 build state (n_rows, build_distortion)
    <index>/_applied/<batch>       idempotence markers (util.append_once)

Build commits generation 1; appends write into the live generation
under the writer lease; compaction, takedown and retrain rewrite a
private hardlinked stage and publish it with one pointer commit
(snapshot.staged_rewrite). A retrain does not carry ``_drift``, so its
drift baseline resets by construction.
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from serverless_etl_bi_on_aws_spark.functions.vectors import cosine, dot
from serverless_etl_bi_on_aws_spark.util import local_frame


def topk_cosine_bruteforce(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    The query becomes a literal array column (no join at all); score + heap
    top-k in one stage. Ties broken by id for determinism.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = embeddings.withColumn("cosine", cosine(vec_col, q))
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def topk_cosine_arrow(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dedup_ids: bool = False,
) -> DataFrame:
    """Exact cosine top-k, Arrow-vectorized: the throughput twin of
    :func:`topk_cosine_bruteforce`.

    The HOF formulation is the *oracle-stable* path (sequential fold,
    bit-identical to DuckDB) but Spark interprets higher-order lambdas
    per element — measured ~11 us/row at 64 dims. Here ``mapInArrow``
    reads each batch's list<float> column as ONE zero-copy flatten +
    reshape (no per-row python objects — measured ~3x less than the
    pandas ``.tolist()`` detour), scores it with ONE BLAS matvec
    (~0.1 us/row), and prunes to the batch-local top-k via argpartition
    (O(n), not a batch sort) before the global TakeOrdered merge — the
    exchange sees k rows per batch, not the corpus. The k-th-value
    candidate cut keeps ALL boundary ties so the id tiebreak can never
    drop a should-win row (exact-duplicate vectors are common in dedup
    corpora). Same results as the HOF path (float64 matmul vs float64
    fold agree to ~1e-15; ties broken by id in both).

    Slope floor (git show 663bcd2:tools/ab_q44_ship.py, 2026-08-13): the wire is already
    float32 (fixture stores list<float>; Arrow ships it as-is), an
    identity mapInArrow costs the same as the full query, and the
    JVM-only unrolled-dot alternative is 4x SLOWER (per-element
    GetArrayItem on a nested column, no SIMD). The remaining >2x slope
    vs DuckDB is Spark's per-task Python IPC against an in-process
    scan — irreducible for exact top-k here; LSH/IVF (q18/q45) are the
    scale path that prunes it.

    ``dedup_ids=True`` (round 11): collapse repeated ids WITHOUT a
    corpus-wide exchange, for inputs whose duplicate ids carry
    IDENTICAL rows — the crash-replayed IVF corpus shape. The previous
    remedy (``dropDuplicates`` before the top-k) shuffled every
    candidate row INCLUDING its vector, and that exchange was the
    dominant marginal cost of the pruned IVF probe (ivf_q44 graded
    2.12 in BENCH_r10). Here duplicates within an Arrow batch collapse
    via ``np.unique`` before scoring (so they cannot eat batch-local
    top-k slots), and duplicates ACROSS batches are removed on the
    already-pruned k-rows-per-batch frame — a shuffle of dozens of
    rows, not the corpus. Exact for identical-row duplicates because
    every distinct id's row survives its batch's top-k cut whenever it
    belongs to the global top-k.
    """
    import numpy as np
    import pyarrow as pa

    out_schema = StructType(
        embeddings.schema.fields + [StructField("cosine", DoubleType(), True)]
    )
    qn = np.asarray(list(query_vec), dtype="float64")
    qn = qn / max(np.linalg.norm(qn), 1e-12)
    dim = len(qn)
    names = [f.name for f in embeddings.schema.fields]
    vec_idx, id_idx = names.index(vec_col), names.index(id_col)

    # Malformed rows (NULL or wrong-length vectors — present in real crawl
    # corpora) cannot score: drop them BEFORE the Arrow stage, where the
    # zero-copy flatten().reshape(n, dim) would otherwise throw and kill
    # the task. Matches the HOF twin's observable top-k: its NULL cosine
    # rows sort last under ORDER BY cosine DESC and never take a slot.
    embeddings = embeddings.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    )

    def batches(it):
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            if dedup_ids:
                ids_all = batch.column(id_idx).to_numpy(zero_copy_only=False)
                uniq, first = np.unique(ids_all, return_index=True)
                if len(uniq) < n:
                    batch = batch.take(pa.array(np.sort(first)))
                    n = batch.num_rows
            m = (
                batch.column(vec_idx).flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n, dim)
                .astype("float64", copy=False)
            )
            # clamp: a zero-norm row gets cosine 0 (not NaN, which Spark's
            # orderBy sorts as largest and would hand a top-k slot)
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
            cos = m @ qn
            if n > k:
                kth = np.partition(cos, n - k)[n - k]  # k-th largest score
                cand = np.flatnonzero(cos >= kth)  # all boundary ties kept
            else:
                cand = np.arange(n)
            ids = batch.column(id_idx).to_numpy(zero_copy_only=False)[cand]
            order = np.lexsort((ids, -cos[cand]))[:k]
            sel = cand[order]
            idx = pa.array(sel)
            cols = [batch.column(i).take(idx) for i in range(batch.num_columns)]
            cols.append(pa.array(cos[sel], type=pa.float64()))
            yield pa.RecordBatch.from_arrays(cols, names=names + ["cosine"])

    pruned = embeddings.mapInArrow(batches, schema=out_schema)
    if dedup_ids:
        # cross-batch duplicates: the frame is k rows per batch here, so
        # this exchange moves dozens of rows, not the candidate corpus
        pruned = pruned.dropDuplicates([id_col])
    return pruned.orderBy(F.col("cosine").desc(), F.col(id_col)).limit(k)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def with_lsh_bucket(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach ``bucket_0 .. bucket_{n_tables-1}`` sign-pattern columns.

    Each table packs ``n_planes`` hyperplane sign bits into an int. The
    planes are deterministic (seeded) literals — identical on every executor
    with no broadcast needed. At scale, write this table bucketed/sorted by
    (bucket_i) once; probes then prune to matching buckets.
    """
    out = embeddings
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + 1000 * t)
        bits = [
            F.when(dot(vec_col, F.array(*[F.lit(v) for v in p])) > 0, 1).otherwise(0)
            for p in planes
        ]
        packed = bits[0]
        for b in bits[1:]:
            packed = packed * 2 + b
        out = out.withColumn(f"bucket_{t}", packed)
    return out


#: The tile-group key of the cosine pair search is (``_set``, ``_g``):
#: ``_set`` names the pair set a row searches in, ``_g`` its group within
#: that set (0 for the exact search, the cluster id for the clustered one).
EXACT, CLUSTERED = 0, 1


def _exact_rows(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The exact search's tiler input: the whole corpus as one group."""
    return embeddings.select(
        F.lit(EXACT).alias("_set"),
        F.lit(0).cast("bigint").alias("_g"),
        F.col(id_col).cast("bigint").alias("_id"),
        F.col(vec_col).alias("_vec"),
    )


def _tag_block_pairs(
    rows: DataFrame, block_rows: int, sizes: dict | None = None
) -> DataFrame:
    """The one tiler of the exact all-pairs operators. ``rows`` carries
    (_set, _g, _id, _vec); each tile group (_set, _g) is hash-bucketed
    into B_g blocks of ~``block_rows`` rows, and every row is tagged with
    the unordered block pairs (bi <= bj) of its group it participates in,
    in a left role (its block is bi) or a right role (off-diagonal bj).
    Each (_set, _g, bi, bj) group then holds exactly the two operand
    blocks for one matmul tile.

    The driver never holds the corpus: its only action is one grouped
    ``count()`` collect, one row per tile group, to size every B_g
    (skipped when the caller passes ``sizes`` as {(_set, _g): rows}).
    The block counts reach the rows through one broadcast dimension, and
    each row explodes into its B_g tiles — replication is the row's own
    group's block count, the honest quadratic cost of exact all-pairs
    within a group."""
    import math

    if sizes is None:
        counts = rows.groupBy("_set", "_g").count().collect()
        sizes = {(int(s), int(g)): int(n) for s, g, n in counts}
    dim = local_frame(
        rows.sparkSession,
        [(s, g, max(1, math.ceil(n / block_rows))) for (s, g), n in sizes.items()],
        "_set int, _g bigint, _nb int",
    )
    blk, other = F.col("_blk"), F.col("_o")
    return (
        rows.join(F.broadcast(dim), ["_set", "_g"])
        .select(
            "_set",
            "_g",
            "_id",
            "_vec",
            F.pmod(F.hash(F.col("_id")), F.col("_nb")).alias("_blk"),
            F.explode(F.sequence(F.lit(0), F.col("_nb") - 1)).alias("_o"),
        )
        .select(
            "_set",
            "_g",
            F.least(blk, other).alias("bi"),
            F.greatest(blk, other).alias("bj"),
            (other < blk).cast("int").alias("_role"),
            "_id",
            "_vec",
        )
    )


def _block_operands(pdf):
    """Split one (bi, bj) group into normalized left/right operand matrices.
    Returns (lids, rids, lm, rm, diag) or None when a side is empty."""
    import numpy as np

    lp = pdf[pdf["_role"] == 0]
    diag = bool(pdf["bi"].iat[0] == pdf["bj"].iat[0])
    rp = lp if diag else pdf[pdf["_role"] == 1]
    if len(lp) == 0 or len(rp) == 0:
        return None
    lm = np.array(lp["_vec"].tolist(), dtype="float64")
    # clamped norms: zero-norm rows score cosine 0 against everything
    # instead of NaN (NaN would pass every >= threshold mask)
    lm = lm / np.maximum(np.linalg.norm(lm, axis=1, keepdims=True), 1e-12)
    if diag:
        rm = lm
    else:
        rm = np.array(rp["_vec"].tolist(), dtype="float64")
        rm = rm / np.maximum(np.linalg.norm(rm, axis=1, keepdims=True), 1e-12)
    return (
        lp["_id"].to_numpy(dtype="int64"),
        rp["_id"].to_numpy(dtype="int64"),
        lm,
        rm,
        diag,
    )


def pairwise_topk_blocked(
    embeddings: DataFrame,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 2048,
) -> DataFrame:
    """Exact pairwise top-k cosine over the whole corpus — distributed
    block-pair matmul, no driver materialization.

    The corpus is hash-bucketed into B blocks of ~``block_rows`` rows; every
    unordered block pair (bi <= bj) becomes one ``applyInPandas`` group that
    does ONE BLAS matmul ``L @ R.T`` and keeps per-left-row top-k candidates.
    Any global top-k pair has fewer than k pairs above it, so it necessarily
    survives its left row's per-group top-k — the final global
    TakeOrdered(k) is exact.

    Scale contract: the driver never holds the corpus (the only driver-side
    action is a ``count()`` to size B); executor memory per task is two
    blocks plus a block_rows^2 sims matrix (~33 MB at the 2048 default).
    Replication factor is B (each row joins B block pairs), the honest
    quadratic cost of exact all-pairs — the subquadratic scale paths are the
    LSH/IVF candidates (q13/q18) with this operator as exact re-ranker over
    candidate subsets. ids must be integral (cast to int64; pairs are
    canonicalized by id comparison).

    Returns (id_1, id_2, cosine) with id_1 < id_2, global top-k pairs.
    """
    n = embeddings.count()
    per_row_k = max(1, min(k, n - 1))
    tagged = _tag_block_pairs(
        _exact_rows(embeddings, id_col, vec_col), block_rows, {(EXACT, 0): n}
    )

    def group_topk(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "id_1": pd.Series(dtype="int64"),
                "id_2": pd.Series(dtype="int64"),
                "_cos": pd.Series(dtype="float64"),
            }
        )
        ops = _block_operands(pdf)
        if ops is None:
            return empty
        lids, rids, lm, rm, diag = ops
        sims = lm @ rm.T  # one BLAS call per block pair
        out_1, out_2, out_c = [], [], []
        for r in range(len(lids)):
            row = sims[r]
            if diag:
                row = row.copy()
                row[rids <= lids[r]] = -np.inf  # self + already-counted pairs
            kk = min(per_row_k, int((row > -np.inf).sum()))
            if kk <= 0:
                continue
            # lexsort, not bare argpartition: boundary cosine TIES must keep
            # the smallest-id candidates or the global ORDER BY cosine DESC,
            # id_1, id_2 LIMIT k can disagree with the oracle on which tied
            # pair survives (e.g. >k exact-duplicate vectors).
            order = np.lexsort((rids, -row))
            idx = order[:kk]
            for j in idx:
                a, b = int(lids[r]), int(rids[j])
                out_1.append(min(a, b))
                out_2.append(max(a, b))
                out_c.append(float(row[j]))
        if not out_1:
            return empty
        return pd.DataFrame({"id_1": out_1, "id_2": out_2, "_cos": out_c})

    cand = tagged.groupBy("bi", "bj").applyInPandas(
        group_topk, schema="id_1 bigint, id_2 bigint, _cos double"
    )
    return (
        cand.orderBy(F.col("_cos").desc(), "id_1", "id_2")
        .limit(k)
        .select("id_1", "id_2", F.round("_cos", 6).alias("cosine"))
    )


def _pair_kernel(threshold: float):
    """The threshold kernel of every cosine pair search: one (_set, _g,
    bi, bj) tile in, its (_set, id_1, id_2, _cos) pairs with cosine >=
    ``threshold`` and id_1 < id_2 out — one BLAS matmul and a vectorized
    ``nonzero`` over the tile."""
    th = float(threshold)

    def group_pairs(pdf):
        import numpy as np
        import pandas as pd

        ops = _block_operands(pdf)
        lids = rids = ri = ci = np.empty(0, dtype="int64")
        sims = np.empty((0, 0))
        if ops is not None:
            lids, rids, lm, rm, diag = ops
            sims = lm @ rm.T
            mask = sims >= th
            if diag:
                mask &= lids[:, None] < rids[None, :]  # self + double-count
            ri, ci = np.nonzero(mask)
        a, b = lids[ri], rids[ci]
        return pd.DataFrame(
            {
                "_set": np.full(len(ri), pdf["_set"].iat[0], dtype="int32"),
                "id_1": np.minimum(a, b),
                "id_2": np.maximum(a, b),
                "_cos": sims[ri, ci],
            }
        )

    return group_pairs


def _cosine_pair_search(rows: DataFrame, threshold: float, block_rows: int) -> DataFrame:
    """Every unordered pair with cosine >= ``threshold`` within each tile
    group of ``rows`` (_set, _g, _id, _vec): one tiling
    (:func:`_tag_block_pairs`), one ``applyInPandas`` over its tiles.
    Returns (_set, id_1, id_2, cosine) with id_1 < id_2; searching the
    union of two sets' rows computes each set from its own tiles."""
    return (
        _tag_block_pairs(rows, block_rows)
        .groupBy("_set", "_g", "bi", "bj")
        .applyInPandas(
            _pair_kernel(threshold),
            schema="_set int, id_1 bigint, id_2 bigint, _cos double",
        )
        .select("_set", "id_1", "id_2", F.round("_cos", 6).alias("cosine"))
    )


def neardup_cosine_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 2048,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the X2 family's semantic
    tier): every unordered pair with cosine >= ``threshold``, via the same
    distributed block-pair matmul as :func:`pairwise_topk_blocked` — one
    BLAS tile per block pair, a vectorized threshold mask over the tile
    instead of per-row top-k. This is the one-group case of
    :func:`_cosine_pair_search`; the cluster-pruned search
    (operators/semantic_dedup.py) is its one-group-per-cluster case.

    Scale contract: exact all-pairs is quadratic by definition; at corpus
    scale, generate candidates with the banded MinHash-LSH / hyperplane-LSH
    operators and use this operator as the exact scorer over candidate
    buckets (same kernel, tagged by bucket instead of block).

    Returns (id_1, id_2, cosine) with id_1 < id_2.
    """
    rows = _exact_rows(embeddings, id_col, vec_col)
    return _cosine_pair_search(rows, threshold, block_rows).drop("_set")


def dedup_by_cosine(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 2048,
) -> DataFrame:
    """Survivor set for embedding-cosine dedup: dominance rule — a row is
    dropped iff it is the higher id of ANY over-threshold pair.

    Deterministic, one anti-join over the pair set; guarantees no two
    surviving rows form an over-threshold pair. NOTE this is stricter than
    sequential greedy dedup: on a chain 1~2, 2~3 (1!~3) it drops BOTH 2
    and 3, where sequential greedy would re-admit 3 after dropping its
    only partner. The dominance rule is order-independent and needs no
    iteration, which is why it is the 100 TB formulation; a
    connected-component pass over the pair set is the drop-in upgrade if
    maximal survivor sets are required."""
    pairs = neardup_cosine_pairs(embeddings, threshold, id_col, vec_col, block_rows)
    dropped = pairs.select(F.col("id_2").alias("_drop")).distinct()
    return embeddings.join(
        dropped, embeddings[id_col] == dropped["_drop"], "left_anti"
    )


def topk_cosine_ivf(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means-partition the corpus once, probe
    only the ``n_probe`` clusters nearest the query, exact-rerank inside.

    The 100 TB deployment shape: the clustering is a one-time build (the
    assignment column is persisted, ideally as the table's partition key so
    a probe is partition pruning); each query then scans n_probe/n_clusters
    of the data. Scan reduction is measurable via
    ``candidates = df.filter(pred).count()`` vs total.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = embeddings.withColumn("_features", array_to_vector(F.col(vec_col)))
    model = KMeans(k=n_clusters, seed=seed, featuresCol="_features").fit(feat)
    assigned = model.transform(feat).withColumnRenamed("prediction", "_cluster")
    centers = model.clusterCenters()

    def dist2(c) -> float:
        return sum((float(a) - float(b)) ** 2 for a, b in zip(c, query_vec))

    probe = sorted(range(len(centers)), key=lambda i: dist2(centers[i]))[:n_probe]
    # re-rank through the Arrow/BLAS kernel (round-8): ab_q44_ship.py
    # measured the interpreted HOF cosine at ~4x the Arrow path — cheap at
    # probe-pruned sizes, but inconsistent once candidate sets grow
    cands = assigned.filter(F.col("_cluster").isin(probe)).drop(
        "_features", "_cluster"
    )
    return topk_cosine_arrow(cands, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def _assign_with_centroids(df: DataFrame, cmat, vec_col: str) -> DataFrame:
    """ONE Arrow/BLAS stage: nearest-centroid assignment over a FIXED
    centroid matrix — the shared kernel of every zero-fit path (index
    appends, sample-fit builds, semantic cluster assignment). Emits the
    input columns plus ``_cluster`` (int) and ``_dist2`` (double, the
    true squared distance to the assigned centroid — the drift/distortion
    measure, free from the same matmul). ``cmat`` is (n_clusters, dim)
    float64 and ships as a closure literal (KBs); each Arrow batch does
    one BLAS matmul argmin — no per-row Python, no driver loop. Rows
    with NULL or wrong-dim vectors are dropped; callers own the
    pass-through rule for them."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.types import IntegerType, StructField, StructType

    cmat = np.asarray(cmat, dtype="float64")
    c_sq = (cmat * cmat).sum(axis=1)
    dim = cmat.shape[1]
    names = [f.name for f in df.schema.fields]
    vec_idx = names.index(vec_col)
    out_schema = StructType(
        df.schema.fields
        + [
            StructField("_cluster", IntegerType(), False),
            StructField("_dist2", DoubleType(), False),
        ]
    )

    def assign(it):
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            m = (
                batch.column(vec_idx).flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n, dim)
                .astype("float64", copy=False)
            )
            # argmin ||x - c||^2 = argmin (|c|^2 - 2 x.c): one BLAS matmul
            d = c_sq[None, :] - 2.0 * (m @ cmat.T)
            cl = np.argmin(d, axis=1)
            # true squared distance adds back the |x|^2 the argmin dropped
            d2 = np.maximum(d[np.arange(n), cl] + (m * m).sum(axis=1), 0.0)
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(batch.num_columns)]
                + [pa.array(cl.astype("int32")), pa.array(d2)],
                names=names + ["_cluster", "_dist2"],
            )

    valid = df.filter(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim))
    return valid.mapInArrow(assign, schema=out_schema)


def _fit_centroids_on_sample(
    embeddings: DataFrame,
    n_clusters: int,
    seed: int,
    vec_col: str,
    fit_sample_rows: int,
) -> list[list[float]]:
    """KMeans centroids from a bounded seeded sample — the 100 TB fit
    path (round-10 verdict #2): the full-corpus ``KMeans.fit`` is a
    multi-pass distributed ML job over every embedding, paid again on
    every retrain; centroid QUALITY only needs a representative sample
    (SemDeDup and FAISS train IVF centroids on samples as standard
    practice), while assignment correctness is exact regardless because
    the full corpus is assigned by the BLAS argmin stage. Returns the
    centroid list; the effective k is min(n_clusters, sample rows)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    n = embeddings.count()
    frac = min(1.0, (float(fit_sample_rows) * 1.2) / max(n, 1))
    sample = embeddings.select(vec_col)
    if frac < 1.0:
        sample = sample.sample(fraction=frac, seed=seed)
    sample = sample.limit(int(fit_sample_rows))
    feat = sample.withColumn("_features", array_to_vector(F.col(vec_col)))
    cnt = feat.count()
    k = max(1, min(int(n_clusters), cnt))
    model = KMeans(k=k, seed=seed, featuresCol="_features").fit(feat)
    return [[float(x) for x in c] for c in model.clusterCenters()]


def build_ivf_index(
    embeddings: DataFrame,
    index_path: str,
    n_clusters: int = 16,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    fit_sample_rows: int | None = None,
) -> None:
    """One-time IVF index build: the persisted half of the build/probe
    split (round-6 verdict #7 — :func:`topk_cosine_ivf` re-fit KMeans per
    call, which a repeated-query workload cannot afford). Commits the
    next generation of ``index_path`` (generation 1 for a new index; a
    rebuild carries no ``_drift``).

    Writes two artifacts into the generation:
      * ``corpus/`` — the embedding table + its cluster assignment,
        PARTITIONED BY the cluster id, so a probe is literal partition
        pruning (only n_probe/n_clusters of the files are listed/read);
      * ``centroids/`` — n_clusters rows (cluster, centroid array<double>),
        the only thing a query needs driver-side to choose its probes.

    This is the 100 TB deployment shape stated in q45's docstring made
    real: clustering cost is paid once at ingest; the per-query cost is a
    pruned scan. Rebuild policy is the caller's (key the path on a fixture
    digest like q46's buckets — see queries.q18_ann_verify), but the
    index records its build-time state in ``_meta.json`` — n_rows and
    ``build_distortion`` (mean squared distance of a corpus vector to its
    assigned centroid, straight from the KMeans training summary) — so
    :func:`ivf_drift_status` can later MEASURE how far appended batches
    have drifted from the trained centroids instead of guessing when to
    retrain.

    ``fit_sample_rows`` — the 100 TB fit knob (round-10 verdict #2).
    With None (default), KMeans fits over the FULL corpus: fine at
    fixture scale, but a multi-pass distributed ML job over every
    embedding at warehouse scale, re-paid on every drift-triggered
    retrain. With a bound, the fit sees only a seeded sample of that
    many rows and the FULL corpus is assigned through the same
    Arrow/BLAS argmin stage every append already uses
    (:func:`_assign_with_centroids`) — probe answers stay exact with
    respect to whatever centroids exist (pytest-pinned equivalence vs
    brute force at n_probe = n_clusters), only centroid placement
    (i.e. pruned-probe recall) depends on the sample, which is how
    FAISS/SemDeDup-scale pipelines train IVF as standard practice.
    ``build_distortion`` is then measured by one extra columnar pass
    over the written corpus (the fit summary's trainingCost only
    covers the sample)."""
    from serverless_etl_bi_on_aws_spark.operators.snapshot import staged_rewrite

    with staged_rewrite(
        index_path, owner="build_ivf_index", exclude=("_drift",)
    ) as (_live, stage):
        _write_ivf(
            embeddings, stage, n_clusters, seed, vec_col, id_col, fit_sample_rows
        )


def _write_ivf(
    embeddings: DataFrame,
    gen: str,
    n_clusters: int,
    seed: int,
    vec_col: str,
    id_col: str,
    fit_sample_rows: int | None,
) -> None:
    """The one IVF writer of build and retrain: fit, assign, and
    overwrite ``corpus``, ``centroids`` and ``_meta.json`` in ``gen``."""
    import os

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from serverless_etl_bi_on_aws_spark.util import write_marker

    spark = embeddings.sparkSession
    corpus_path = os.path.join(gen, "corpus")
    if fit_sample_rows is None:
        feat = embeddings.withColumn("_features", array_to_vector(F.col(vec_col)))
        model = KMeans(k=n_clusters, seed=seed, featuresCol="_features").fit(feat)
        assigned = model.transform(feat).withColumnRenamed("prediction", "_cluster")
        assigned.drop("_features").write.mode("overwrite").partitionBy(
            "_cluster"
        ).parquet(corpus_path)
        centers = [[float(x) for x in c] for c in model.clusterCenters()]
        # training summary: clusterSizes/trainingCost come with the fit — no
        # extra job. trainingCost = sum over corpus of ||x - c_assigned||^2.
        n_rows = int(sum(model.summary.clusterSizes))
        distortion = float(model.summary.trainingCost) / max(n_rows, 1)
    else:
        centers = _fit_centroids_on_sample(
            embeddings, n_clusters, seed, vec_col, fit_sample_rows
        )
        _assign_with_centroids(embeddings, centers, vec_col).drop(
            "_dist2"
        ).write.mode("overwrite").partitionBy("_cluster").parquet(corpus_path)
        # distortion over the FULL corpus: one columnar re-read + the
        # same BLAS stage (build-time only; appends get theirs free)
        stats = (
            _assign_with_centroids(
                spark.read.parquet(corpus_path).drop("_cluster"), centers, vec_col
            )
            .agg(F.count("*").alias("n"), F.sum("_dist2").alias("s"))
            .collect()[0]
        )
        n_rows = int(stats["n"])
        distortion = float(stats["s"] or 0.0) / max(n_rows, 1)
    rows = [(int(i), c) for i, c in enumerate(centers)]
    local_frame(spark, rows, "cluster int, centroid array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(os.path.join(gen, "centroids"))
    write_marker(
        os.path.join(gen, "_meta.json"),
        {
            "n_clusters": int(len(centers)),
            "dim": int(len(centers[0])),
            "seed": int(seed),
            "id_col": id_col,
            "vec_col": vec_col,
            # the corpus's vector element type: appends CAST to it — a
            # batch whose pipeline promoted float->double (any arithmetic
            # transform does) would otherwise write mixed-type parquet
            # files into one partition dir, and later whole-corpus reads
            # fail on whichever file the inferred schema didn't come from
            "vec_type": embeddings.schema[vec_col].dataType.elementType.simpleString(),
            "n_rows": n_rows,
            "build_distortion": distortion,
        },
    )


#: collected centroid rows per (centroids dir, its mtime): the probe's
#: only driver-side read is n_clusters rows, but re-reading the parquet
#: per call still costs a full job's fixed machinery (~0.1-0.3 s on the
#: bench VM) — pure noise for a repeated-query workload. Every rebuild or
#: retrain commits a new generation, so a new directory, and the key
#: self-invalidates; appends never touch the centroids.
_CENTROID_CACHE: dict = {}


def _ivf_live(index_path: str) -> tuple[str, dict]:
    """The live generation of an IVF index and its meta."""
    import os

    from serverless_etl_bi_on_aws_spark.operators.snapshot import live_generation
    from serverless_etl_bi_on_aws_spark.util import read_marker

    live = live_generation(index_path)
    meta = read_marker(os.path.join(live, "_meta.json"))
    if meta is None:
        raise FileNotFoundError(
            f"no _meta.json in {live}; rebuild with build_ivf_index"
        )
    return live, meta


def _load_centroids(spark, live: str):
    import os

    cdir = os.path.join(live, "centroids")
    try:
        key = (os.path.abspath(cdir), os.path.getmtime(cdir))
    except OSError:
        key = None
    if key is not None and key in _CENTROID_CACHE:
        return _CENTROID_CACHE[key]
    rows = spark.read.parquet(cdir).collect()
    if key is not None:
        if len(_CENTROID_CACHE) > 64:
            _CENTROID_CACHE.clear()
        _CENTROID_CACHE[key] = rows
    return rows


def ivf_probe_topk(
    spark,
    index_path: str,
    query_vec: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe half of the persisted IVF index: choose the ``n_probe``
    centroids nearest the query (centroids are n_clusters rows — the one
    acceptable driver-side read, cached per generation), then scan ONLY
    those partitions of the corpus (``_cluster IN probes`` prunes at file
    listing, visible as PartitionFilters in the plan) and exact-rerank by
    cosine. Zero KMeans fits per query — pytest-pinned (test_asof_ivf).

    Crash-replayed duplicate corpus rows (update_ivf_index's replay
    shape, purged at compaction) must not eat top-k slots, but deduping
    them with ``dropDuplicates`` here shuffled every candidate row with
    its vector — measured as the probe's dominant marginal cost
    (BENCH_r10 ivf_q44 2.12). The rerank kernel's ``dedup_ids`` path
    collapses them batch-locally and dedups only the k-per-batch pruned
    rows — exact for identical-row duplicates, no candidate exchange."""
    import os

    from serverless_etl_bi_on_aws_spark.operators.snapshot import live_generation

    live = live_generation(index_path)
    centers = _load_centroids(spark, live)

    def dist2(c) -> float:
        return sum((float(a) - float(b)) ** 2 for a, b in zip(c, query_vec))

    probe = [
        int(r["cluster"])
        for r in sorted(centers, key=lambda r: dist2(r["centroid"]))[:n_probe]
    ]
    corpus = spark.read.parquet(os.path.join(live, "corpus"))
    # partition pruning happens at the scan (the _cluster filter sits
    # below the Python stage in the plan); the pruned candidate set is
    # re-ranked by the Arrow/BLAS kernel, not the interpreted HOF cosine
    # (measured 4x slower per row — git show 663bcd2:tools/ab_q44_ship.py).
    cands = corpus.filter(F.col("_cluster").isin(probe)).drop("_cluster")
    return topk_cosine_arrow(
        cands, query_vec, k=k, id_col=id_col, vec_col=vec_col, dedup_ids=True
    )


def topk_cosine_lsh(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: candidate = any LSH table agrees with the query's bucket;
    candidates are re-ranked by exact cosine. Recall grows with ``n_tables``
    and shrinks with ``n_planes``; (8 planes, 4 tables) targets ~50x scan
    reduction with usable recall on clustered data.
    """
    dim = len(query_vec)
    bucketed = with_lsh_bucket(embeddings, dim, n_planes, n_tables, seed, vec_col)
    # query buckets computed driver-side with the same planes (tiny, exact)
    qbuckets = []
    for t in range(n_tables):
        planes = _hyperplanes(dim, n_planes, seed + 1000 * t)
        packed = 0
        for p in planes:
            s = sum(float(a) * b for a, b in zip(query_vec, p))
            packed = packed * 2 + (1 if s > 0 else 0)
        qbuckets.append(packed)
    pred = F.lit(False)
    for t, qb in enumerate(qbuckets):
        pred = pred | (F.col(f"bucket_{t}") == qb)
    # exact re-rank of the bucket-pruned candidates via the Arrow/BLAS
    # kernel (the interpreted HOF cosine measured 4x slower per row)
    cands = bucketed.filter(pred).drop(*[f"bucket_{t}" for t in range(n_tables)])
    return topk_cosine_arrow(cands, query_vec, k=k, id_col=id_col, vec_col=vec_col)


def update_ivf_index(
    new_embeddings: DataFrame,
    index_path: str,
    batch_id: str,
    vec_col: str = "embedding",
) -> bool:
    """Append a batch of new vectors to a persisted IVF index with ZERO
    KMeans refits (the incremental-index family: dedup_index.update_index
    / hash_index.update_hash_index, applied to ANN) — the hourly-crawl
    shape for embeddings: clustering is paid once at build; each append
    only ASSIGNS new rows to the existing centroids and appends them to
    the corpus partitions, so probes keep pruning by partition and see
    the new vectors immediately.

    Assignment is one Arrow/BLAS stage: the centroid matrix (n_clusters x
    dim — KBs) ships as a broadcast-sized literal into mapInArrow and
    each batch does ONE matmul argmin; no driver loop over rows, no
    interpreted per-element HOF distance. Centroids drift as the corpus
    grows — the standard IVF trade; the SAME matmul therefore also yields
    each vector's squared distance to its assigned centroid for free, and
    the batch's (n, sum_dist2) is recorded as ``_drift/<batch_id>.json``
    so :func:`ivf_drift_status` can compare appended-batch distortion to
    the build-time distortion and tell the caller WHEN to retrain —
    measured, not guessed. The retrain itself (a fresh build_ivf_index
    over the compacted corpus) stays with the caller.

    Runs through :func:`util.append_once`: idempotent per ``batch_id``
    (marker LAST, after the corpus append and the drift record), lease-
    serialized, and an empty batch is vacuously applied with no drift
    record. Returns True if the batch was applied."""
    import os

    import numpy as np

    from serverless_etl_bi_on_aws_spark.util import append_once, write_marker

    spark = new_embeddings.sparkSession

    # both callbacks run under append_once's lease, so they resolve the
    # same live generation: no rewrite can commit between them
    def assign() -> DataFrame:
        # corpus type discipline: cast the batch's vectors to the element
        # type the corpus was built with (recorded in _meta.json) so every
        # corpus file carries one schema
        live, meta = _ivf_live(index_path)
        vecs = new_embeddings.withColumn(
            vec_col, F.col(vec_col).cast(f"array<{meta['vec_type']}>")
        )
        centers = _load_centroids(spark, live)
        cmat = np.zeros((len(centers), len(centers[0]["centroid"])), dtype="float64")
        for r in centers:
            cmat[int(r["cluster"])] = r["centroid"]
        # one Arrow pass, three consumers (empty guard, corpus write, drift
        # agg): batches are small by the incremental contract, so pin it
        return _assign_with_centroids(vecs, cmat, vec_col).localCheckpoint(eager=True)

    def append(assigned: DataFrame) -> None:
        live, _meta = _ivf_live(index_path)
        (
            assigned.drop("_dist2")
            .write.mode("append")
            .partitionBy("_cluster")
            .parquet(os.path.join(live, "corpus"))
        )
        drift = assigned.agg(
            F.count("*").alias("n"), F.sum("_dist2").alias("sum_dist2")
        ).collect()[0]
        write_marker(
            os.path.join(live, "_drift", f"{batch_id}.json"),
            {"n": int(drift["n"]), "sum_dist2": float(drift["sum_dist2"] or 0.0)},
        )

    return append_once(index_path, batch_id, "update_ivf_index", assign, append)


def ivf_drift_status(index_path: str, retrain_ratio: float = 2.0) -> dict:
    """The MEASURED retrain signal for a persisted IVF index (round-9
    verdict #2): compare the mean squared distance of APPENDED vectors to
    their assigned centroids (accumulated per batch by
    :func:`update_ivf_index` into ``_drift/``) against the build-time
    distortion recorded by :func:`build_ivf_index`. Well-distributed
    appends score ~= build distortion; a distribution shift (new domain,
    new embedding model revision) assigns far from every trained centroid
    and the ratio climbs.

    Returns ``{build_distortion, appended_distortion, drift_ratio,
    build_rows, appended_rows, retrain_recommended}``; retrain is
    recommended when the ratio exceeds ``retrain_ratio`` OR the appended
    rows outnumber the build rows (centroids then describe a minority of
    the corpus however well-placed they are). Driver-side JSON reads only
    — no Spark job."""
    import json
    import os

    live, meta = _ivf_live(index_path)
    drift_dir = os.path.join(live, "_drift")
    n_app, sum_d2 = 0, 0.0
    if os.path.isdir(drift_dir):
        for name in os.listdir(drift_dir):
            if not name.endswith(".json"):
                continue
            try:
                with open(os.path.join(drift_dir, name)) as f:
                    rec = json.load(f)
                n_app += int(rec["n"])
                sum_d2 += float(rec["sum_dist2"])
            except (ValueError, KeyError, OSError):
                continue  # torn record: same not-committed grace as read_marker
    build_d = float(meta["build_distortion"])
    app_d = (sum_d2 / n_app) if n_app else 0.0
    # build_distortion == 0 is degenerate but legal (corpus of repeated
    # vectors): any appended distortion is then infinitely worse than the
    # build, not "ratio 1.0" (round-10 ADVICE — the 1.0 report meant the
    # ratio criterion could never fire however far appends drifted).
    if not n_app:
        ratio = 0.0
    elif build_d > 0:
        ratio = app_d / build_d
    else:
        ratio = float("inf") if app_d > 0 else 1.0
    return {
        "build_distortion": build_d,
        "appended_distortion": app_d,
        "drift_ratio": ratio,
        "build_rows": int(meta["n_rows"]),
        "appended_rows": n_app,
        "retrain_recommended": bool(
            n_app and (ratio >= retrain_ratio or n_app > int(meta["n_rows"]))
        ),
    }


def retrain_ivf_index(
    spark,
    index_path: str,
    n_clusters: int | None = None,
    seed: int | None = None,
    fit_sample_rows: int | None = None,
    lease_wait_s: float = 0.0,
) -> None:
    """Act on :func:`ivf_drift_status`'s recommendation: re-fit KMeans
    over the CURRENT corpus (build rows + every appended batch), rewrite
    the cluster-partitioned corpus and centroids, and reset the drift
    baseline — the one deliberate KMeans fit in the index's life after
    its build. ``fit_sample_rows`` bounds that fit exactly as in
    :func:`build_ivf_index` — at 100 TB a drift-triggered retrain should
    re-place centroids from a sample, not re-run distributed ML over
    the whole corpus (round-10 verdict #2).

    One staged rewrite (snapshot.staged_rewrite, under the writer lease
    with ``lease_wait_s`` of retry): the whole live corpus is read,
    deduped on the id (a retrain is also the natural compaction point)
    and written by the build's own writer into a stage that does not
    carry ``_drift`` — those records measured distance to the OLD
    centroids, so the new ``_meta.json``'s build_distortion is the new
    baseline. ``_applied`` stays at the index root, so a replayed
    ``update_ivf_index`` of an old batch (whose vectors ARE in the
    retrained corpus) stays a no-op. The pointer commit publishes the
    new index whole; a crash anywhere before it leaves the old one
    live."""
    import os

    from serverless_etl_bi_on_aws_spark.operators.snapshot import staged_rewrite

    _, meta = _ivf_live(index_path)
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    with staged_rewrite(
        index_path,
        owner="retrain_ivf_index",
        wait_s=lease_wait_s,
        exclude=("_drift",),
    ) as (live, stage):
        corpus = (
            spark.read.parquet(os.path.join(live, "corpus"))
            .drop("_cluster")
            .dropDuplicates([id_col])
            .localCheckpoint(eager=True)  # one dedupe for the fit and the assign
        )
        _write_ivf(
            corpus,
            stage,
            int(n_clusters or meta["n_clusters"]),
            int(seed if seed is not None else meta["seed"]),
            vec_col,
            id_col,
            fit_sample_rows,
        )


def compact_ivf_index(
    spark,
    index_path: str,
    target_file_bytes: int = 128 << 20,
    lease_wait_s: float = 0.0,
) -> dict[str, int]:
    """IVF corpus compaction — the incremental-index maintenance story
    (compact_index / compact_hash_index) applied to the fourth modality:
    each hourly :func:`update_ivf_index` appends one small file set into
    every touched ``_cluster=<c>`` partition, and a crash between the
    corpus append and the marker leaves replayed duplicate vectors that
    (unlike the set-membership dedup probes) would eat top-k slots.

    One staged rewrite (snapshot.staged_rewrite): each live
    ``_cluster=`` partition is compacted into the stage
    (operators/maintenance.compact_parquet), deduped on the id column
    from ``_meta.json`` and range-clustered on it for footer-stats
    skipping. ``_meta.json``, ``_drift`` and ``centroids/`` are carried
    as hardlinks and ``_applied`` is untouched — compaction changes
    layout, never which batches are applied or where centroids sit, so
    probe results are identical before and after (pytest-pinned in
    test_asof_ivf). Returns per-partition new file counts."""
    import os

    from serverless_etl_bi_on_aws_spark.operators.maintenance import compact_parquet
    from serverless_etl_bi_on_aws_spark.operators.snapshot import staged_rewrite

    id_col = _ivf_live(index_path)[1]["id_col"]
    files: dict[str, int] = {}
    # lease_wait_s=0 == the bare fail-loud lease (see retrain_ivf_index)
    with staged_rewrite(
        index_path, owner="compact_ivf_index", wait_s=lease_wait_s
    ) as (live, stage):
        corpus_root = os.path.join(live, "corpus")
        parts = sorted(os.listdir(corpus_root)) if os.path.isdir(corpus_root) else []
        for part in parts:
            if not part.startswith("_cluster="):
                continue
            files[f"corpus/{part}"] = compact_parquet(
                spark,
                os.path.join(corpus_root, part),
                os.path.join(stage, "corpus", part),
                target_file_bytes,
                cluster_by=id_col,
                dedupe_on=[id_col],
            )
    return files


def run_ivf_maintenance(
    spark,
    index_path: str,
    retrain_ratio: float = 2.0,
    fit_sample_rows: int | None = None,
    target_file_bytes: int = 128 << 20,
    lease_wait_s: float = 60.0,
    n_clusters: int | None = None,
    seed: int | None = None,
) -> dict:
    """ONE maintenance cycle for a persisted IVF index — the janitor job
    a scheduler runs between ingest batches, composing the maintenance
    family in its operational order:

      1. :func:`compact_ivf_index` — bound small-file growth, purge
         crash-replay duplicate rows;
      2. :func:`ivf_drift_status` — the MEASURED retrain signal;
      3. :func:`retrain_ivf_index` iff recommended — with
         ``fit_sample_rows`` so the re-fit is sample-bounded (the
         100 TB posture: a drift trigger must not cost a full-corpus
         distributed ML fit).

    Concurrency: each mutating step acquires the single-writer lease
    with ``lease_wait_s`` of retry-with-backoff (the janitor serializes
    behind an in-flight append instead of dying); probes are never
    blocked. Between steps the lease is RELEASED on purpose — an hourly
    ingest append that lands mid-cycle is correct (appends assign to
    whatever centroids exist; the next cycle measures their drift).

    Returns the cycle report: ``{compacted_files, drift, retrained,
    post_drift?}`` — a scheduler logs it; ``retrained`` False with a
    healthy ``drift`` is the common steady-state outcome. Each step is
    one staged rewrite, so a crash anywhere leaves a whole index live
    and there is nothing to recover."""
    report: dict = {
        "compacted_files": compact_ivf_index(
            spark, index_path, target_file_bytes, lease_wait_s=lease_wait_s
        )
    }
    st = ivf_drift_status(index_path, retrain_ratio=retrain_ratio)
    report["drift"] = st
    if st["retrain_recommended"]:
        retrain_ivf_index(
            spark,
            index_path,
            n_clusters=n_clusters,
            seed=seed,
            fit_sample_rows=fit_sample_rows,
            lease_wait_s=lease_wait_s,
        )
        report["retrained"] = True
        report["post_drift"] = ivf_drift_status(index_path, retrain_ratio=retrain_ratio)
    else:
        report["retrained"] = False
    return report


def dedup_embeddings_against_index(
    spark,
    new_embeddings: DataFrame,
    index_path: str,
    threshold: float = 0.9,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 4096,
) -> DataFrame:
    """Embedding near-dup survivors of a NEW batch against the persisted
    IVF index — the incremental-dedup family's fourth modality (text:
    dedup_against_index; image and audio: hash_index.dedup_against_hash_
    index with the dhash/afp hasher; embeddings: this). Composes with
    :func:`update_ivf_index` for the ingest loop.

    Online rule: drop a new vector iff cosine >= ``threshold`` against
    ANY indexed vector in its ``n_probe`` nearest clusters, or against a
    smaller-id vector of the same batch (within-batch is EXACT — the
    block-pair BLAS matmul of neardup_cosine_pairs). The corpus side is
    IVF-approximate by construction: a true near-duplicate of a new
    vector almost always assigns to the same nearest centroids (two
    vectors at cosine >= 0.9 rank centroids near-identically), so probe
    recall at dedup thresholds is high; n_probe widens the boundary
    band, n_probe = n_clusters makes the corpus side exact (the pytest
    equivalence gate). Zero KMeans fits (trap-pinned).

    Plan shape: ONE Arrow stage assigns each new vector its n_probe
    clusters and emits (probe_cluster, id, vec) — the corpus is then
    joined per (cluster, corpus-block) group, so every applyInPandas
    group holds ~``block_rows`` corpus rows plus that cluster's probes
    (bounded memory however large a cluster is), does one BLAS matmul,
    and emits only over-threshold new ids. The corpus scan is partition-
    pruned to the probed clusters; vectors never cross a shuffle outside
    their block group."""
    import math
    import os

    import numpy as np
    import pyarrow as pa

    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from serverless_etl_bi_on_aws_spark.operators.snapshot import live_generation

    live = live_generation(index_path)
    centers = _load_centroids(spark, live)
    n_clusters = len(centers)
    n_probe = min(n_probe, n_clusters)
    cmat = np.zeros((n_clusters, len(centers[0]["centroid"])), dtype="float64")
    for r in centers:
        cmat[int(r["cluster"])] = r["centroid"]
    c_sq = (cmat * cmat).sum(axis=1)
    dim = cmat.shape[1]

    valid = new_embeddings.filter(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) == dim)
    )
    names = [f.name for f in valid.schema.fields]
    vec_idx, id_idx = names.index(vec_col), names.index(id_col)
    probe_schema = StructType(
        [
            StructField("_probe", IntegerType(), False),
            StructField("_id", LongType(), False),
            StructField("_vec", ArrayType(FloatType()), False),
        ]
    )

    def probes(it):
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            m = (
                batch.column(vec_idx).flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n, dim)
                .astype("float64", copy=False)
            )
            d = c_sq[None, :] - 2.0 * (m @ cmat.T)
            nearest = np.argpartition(d, n_probe - 1, axis=1)[:, :n_probe]
            ids = batch.column(id_idx).to_numpy(zero_copy_only=False)
            rep_ids = pa.array(np.repeat(ids, n_probe).astype("int64"))
            rep_cl = pa.array(nearest.reshape(-1).astype("int32"))
            rep_vec = pa.ListArray.from_arrays(
                pa.array(np.arange(n * n_probe + 1) * dim, type=pa.int32()),
                pa.array(
                    np.repeat(m, n_probe, axis=0).reshape(-1).astype("float32")
                ),
            )
            yield pa.RecordBatch.from_arrays(
                [rep_cl, rep_ids, rep_vec], names=["_probe", "_id", "_vec"]
            )

    new_probes = valid.mapInArrow(probes, schema=probe_schema)

    corpus = spark.read.parquet(os.path.join(live, "corpus"))
    # partition pruning: only clusters some new vector probes are read.
    # The probe list is computed per-batch executor-side, so prune with
    # the distinct probed clusters (n_probe x batch distinct values — a
    # tiny broadcast semi-join the optimizer folds into the listing).
    probed = new_probes.select(F.col("_probe").alias("_cluster")).distinct()
    cand_corpus = corpus.join(F.broadcast(probed), "_cluster").select(
        F.col("_cluster"),
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cvec"),
        F.pmod(F.hash(F.col(id_col)), F.lit(1 << 14)).alias("_blk_raw"),
    )

    # block the corpus side inside each cluster so one applyInPandas
    # group never exceeds ~block_rows corpus rows; probes replicate per
    # block via a per-cluster block-count dim (counted once, tiny)
    blk_counts = (
        cand_corpus.groupBy("_cluster")
        .agg(F.count("*").alias("_n"))
        .select(
            "_cluster",
            F.greatest(
                F.lit(1), F.ceil(F.col("_n") / F.lit(block_rows)).cast("int")
            ).alias("_nblk"),
        )
    )
    corpus_blocked = cand_corpus.join(F.broadcast(blk_counts), "_cluster").select(
        "_cluster",
        F.pmod("_blk_raw", F.col("_nblk")).alias("_blk"),
        "_cid",
        "_cvec",
    )
    probes_blocked = (
        new_probes.withColumnRenamed("_probe", "_cluster")
        .join(F.broadcast(blk_counts), "_cluster")
        .select(
            "_cluster",
            F.explode(F.sequence(F.lit(0), F.col("_nblk") - 1)).alias("_blk"),
            F.col("_id").alias("_pid"),
            F.col("_vec").alias("_pvec"),
        )
    )
    tagged = corpus_blocked.withColumn("_is_probe", F.lit(0)).unionByName(
        probes_blocked.select(
            "_cluster", "_blk",
            F.col("_pid").alias("_cid"), F.col("_pvec").alias("_cvec"),
        ).withColumn("_is_probe", F.lit(1))
    )

    th = float(threshold)

    def group_drops(pdf):
        import pandas as pd

        empty = pd.DataFrame({"_id": pd.Series(dtype="int64")})
        pr = pdf[pdf["_is_probe"] == 1]
        co = pdf[pdf["_is_probe"] == 0]
        if len(pr) == 0 or len(co) == 0:
            return empty
        pm = np.array(pr["_cvec"].tolist(), dtype="float64")
        pm = pm / np.maximum(np.linalg.norm(pm, axis=1, keepdims=True), 1e-12)
        cm = np.array(co["_cvec"].tolist(), dtype="float64")
        cm = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)
        hit = (pm @ cm.T >= th).any(axis=1)
        if not hit.any():
            return empty
        return pd.DataFrame({"_id": pr["_cid"].to_numpy(dtype="int64")[hit]})

    dup_vs_corpus = (
        tagged.groupBy("_cluster", "_blk")
        .applyInPandas(group_drops, schema="_id bigint")
        .distinct()
    )

    # within batch: exact block-pair matmul, smaller id is senior
    within = (
        neardup_cosine_pairs(valid, th, id_col, vec_col, block_rows=2048)
        .select(F.col("id_2").alias("_id"))
        .distinct()
    )

    dropped = dup_vs_corpus.unionByName(within).distinct()
    return new_embeddings.join(
        dropped.select(F.col("_id").alias(id_col)), id_col, "left_anti"
    )
