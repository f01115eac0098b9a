"""Mergeable distinct-count sketches — the missing piece of the rollup
story (operators/rollup.py, q32/q57's continuous aggregates).

Every additive measure in a materialized rollup re-aggregates freely
(sums of exact scaled longs, counts), but COUNT(DISTINCT user) does not:
exact distinct counts are not mergeable across buckets, which is why the
streaming twin q48 had to drop q32's ``n_users`` column. The standard
warehouse answer is to store a MERGEABLE sketch per fine-grained cell and
union sketches at query time — Spark 4 ships Apache DataSketches HLL
natively (``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate``, all JVM-side aggregates with map-side partial
combine, no UDFs).

Union exactness: two HLL sketches with the same lgK union by taking
per-register maxima, so estimate(union of per-bucket sketches) ==
estimate(one sketch over the whole data) EXACTLY — the rollup layout
cannot change the answer, only the sketch's inherent approximation can
(~1.6% at the lgK=12 default; exact in sparse mode at small
cardinalities). Both properties are pytest-pinned.

100 TB shape: the sketch column rides the same dynamic-partition-
overwrite maintenance as the pricing rollup's exact partials; a
coarse-grain query is a groupBy + ``hll_union_agg`` over rollup rows
(buckets x groups, never data-sized).
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

from serverless_etl_bi_on_aws_spark.util import append_once, read_marker, write_marker


def hll_rollup(
    df: DataFrame,
    group_cols: Sequence[str],
    distinct_col: str,
    lgk: int = 12,
    sketch_col: str = "user_sketch",
) -> DataFrame:
    """Fine-grained rollup cell: one HLL sketch of ``distinct_col`` per
    group (plus the row count, the trivially-additive measure). This is
    the write-once/maintain-incrementally layout; store it partitioned
    like the pricing rollup."""
    return df.groupBy(*group_cols).agg(
        F.count("*").alias("n_rows"),
        F.hll_sketch_agg(distinct_col, F.lit(lgk)).alias(sketch_col),
    )


def hll_merge_estimate(
    rollup: DataFrame,
    group_cols: Sequence[str],
    sketch_col: str = "user_sketch",
    estimate_col: str = "approx_distinct",
) -> DataFrame:
    """Coarse-grained query over the sketch rollup: union the cell
    sketches per output group and estimate. Shuffles buckets x groups
    rows carrying one ~2^lgK-byte sketch each — never the fact table."""
    return rollup.groupBy(*group_cols).agg(
        F.sum("n_rows").alias("n_rows"),
        F.hll_sketch_estimate(F.hll_union_agg(sketch_col)).alias(estimate_col),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (round 14) — mergeable FREQUENCY estimation, the
# counterpart of HLL's mergeable distinct counts: "how often did this
# key occur?" across rollup cells / stream batches whose exact per-key
# counts would be state-unbounded. Estimates never undercount
# (est >= true) and overcount by at most the collision mass
# (E[excess] = N/width per row, min over `depth` rows) — the classic
# Cormode-Muthukrishnan guarantee.
#
# Representation: SPARSE — a DataFrame (row, pos, cnt[, width, depth])
# where pos = pmod(xxhash64(key, seed=row), width). Everything is
# JVM-side integer arithmetic: builds are one explode + groupBy (map-side
# combined, output bounded by width*depth cells, never data-sized),
# merges are union + re-sum (exactly equal to a one-shot build —
# pytest-pinned), and point queries join candidate keys' positions
# against the (tiny, broadcast) sketch and take the row-wise min.
# ---------------------------------------------------------------------------


def cms_positions(key_col, width: int, depth: int):
    """``array<bigint>`` of the key's per-row cells — the same codegen'd
    xxhash64 expression for build and query, so est >= true holds by
    construction."""
    col = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.array(
        *[F.pmod(F.xxhash64(col, F.lit(j)), F.lit(width)) for j in range(depth)]
    )


def _check_cms_params(width: int, depth: int) -> None:
    if width < 2 or depth < 1 or depth > 16:
        raise ValueError(f"need width >= 2 and 1 <= depth <= 16, got {width}x{depth}")


def cms_build(
    df: DataFrame,
    key_col: str,
    width: int = 4096,
    depth: int = 5,
    weight_col: str | None = None,
) -> DataFrame:
    """Sketch of ``key_col`` occurrences (or of ``weight_col`` sums per
    key): ``(row, pos, cnt, width, depth)``, at most width*depth rows."""
    _check_cms_params(width, depth)
    w = F.col(weight_col).cast("bigint") if weight_col else F.lit(1).cast("bigint")
    cells = df.select(
        F.posexplode(cms_positions(key_col, width, depth)).alias("row", "pos"),
        w.alias("_w"),
    )
    return (
        cells.groupBy("row", "pos")
        .agg(F.sum("_w").alias("cnt"))
        .withColumn("width", F.lit(width))
        .withColumn("depth", F.lit(depth))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Element-wise sum of same-shaped sketches — EXACTLY equal to a
    one-shot sketch of the concatenated data (integer sums commute).
    Shape mismatches fail loudly at query time via the carried
    width/depth columns (and the re-sum keeps them consistent here)."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "pos", "width", "depth").agg(
        F.sum("cnt").alias("cnt")
    ).select("row", "pos", "cnt", "width", "depth")


def cms_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    estimate_col: str = "est",
) -> DataFrame:
    """Point-query estimates for every row of ``keys``: min over the
    sketch's rows of the key's cell count (absent cell = 0). The sketch
    (<= width*depth rows) broadcasts; the keys side never shuffles until
    the per-key min groupBy."""
    shape = sketch.select("width", "depth").distinct().collect()
    if len(shape) != 1:
        raise ValueError(f"mixed sketch shapes: {[tuple(r) for r in shape]}")
    width, depth = shape[0].width, shape[0].depth
    pos = keys.select(
        F.col(key_col),
        F.posexplode(cms_positions(key_col, width, depth)).alias("row", "pos"),
    )
    joined = pos.join(
        F.broadcast(sketch.select("row", "pos", "cnt")), ["row", "pos"], "left"
    ).select(key_col, F.coalesce("cnt", F.lit(0)).alias("_c"))
    return joined.groupBy(key_col).agg(F.min("_c").alias(estimate_col))


# --------------------------------------------------------------------------
# Persisted CMS — one batch dir per batch id, appended through the shared
# util.append_once protocol (marker, lease, empty guard, marker last):
# sketch addition is not idempotent (the classic double-count trap of
# at-least-once streaming into an additive sketch), so an applied batch
# short-circuits on its marker, and a replay after a crash OVERWRITES its
# own batch dir with identical content. Reads merge at query time (one
# groupBy over <= batches*width*depth cells — never data-sized).
# --------------------------------------------------------------------------


def write_cms_batch(
    df: DataFrame,
    key_col: str,
    sketch_path: str,
    batch_id: str,
    width: int = 4096,
    depth: int = 5,
    weight_col: str | None = None,
) -> None:
    """One batch's cells under ``batch=<id>``. Under the writer lease the
    first batch commits the meta; later batches must match its shape or
    fail loudly — a silently mixed-shape sketch would estimate garbage."""

    def cells() -> DataFrame:
        meta_path = os.path.join(sketch_path, "_meta.json")
        meta = read_marker(meta_path)
        if meta is None:
            _check_cms_params(width, depth)
            write_marker(meta_path, {"width": width, "depth": depth, "key_col": key_col})
        elif (meta["width"], meta["depth"]) != (width, depth):
            raise ValueError(
                f"sketch at {sketch_path} is {meta['width']}x{meta['depth']}, "
                f"got {width}x{depth}"
            )
        # <= width*depth rows, pinned: the guard and the write share one pass
        return (
            cms_build(df, key_col, width=width, depth=depth, weight_col=weight_col)
            .drop("width", "depth")
            .localCheckpoint(eager=True)
        )

    append_once(
        sketch_path,
        batch_id,
        "write_cms_batch",
        cells,
        lambda rows: rows.write.mode("overwrite").parquet(
            os.path.join(sketch_path, f"batch={batch_id}")
        ),
    )


def read_cms(spark, sketch_path: str) -> DataFrame:
    """The merged sketch over every batch dir — exactly equal to a
    one-shot sketch of all the data (addition commutes)."""
    meta = read_marker(os.path.join(sketch_path, "_meta.json"))
    if meta is None:
        raise FileNotFoundError(f"no cms meta at {sketch_path}")
    # declared, not inferred: a sketch whose batches were all empty has
    # no batch dir to infer a schema from, and reads as the empty sketch
    cells = spark.read.schema("row int, pos bigint, cnt bigint").parquet(sketch_path)
    return (
        cells.groupBy("row", "pos")
        .agg(F.sum("cnt").alias("cnt"))
        .withColumn("width", F.lit(meta["width"]))
        .withColumn("depth", F.lit(meta["depth"]))
    )


# ---- deterministic bottom-k (KMV) quantile sketch (round 17) ----
#
# CMS answers "how often", HLL answers "how many distinct"; the third
# classic rollup question is "what does the DISTRIBUTION look like"
# (p50/p90/p99 per cell). The standard mergeable answers (KLL, GK,
# t-digest) are engine-defined — their estimates depend on internal
# compaction order, so a cross-engine value oracle is impossible and a
# warehouse migration changes every recorded percentile. This sketch
# trades their tighter error bounds for full determinism: the sample is
# the k rows with the SMALLEST engine-neutral multiplicative hash of
# the row id (the q123/q37 Knuth discipline — id reduced mod p before
# the multiply, BIGINT-safe for every id), which is a uniform k-sample
# of the group, and quantiles are nearest-rank-lower selections from
# it. Every engine that can hash and sort reproduces the IDENTICAL
# estimate — sketches become auditable values, not approximations you
# must trust.
#
# Mergeability (the KMV property): the bottom-k of a union equals the
# bottom-k of the union of per-part bottom-k's, because the hash order
# is a fixed total order on rows — so per-partition/per-day samples
# union + re-rank into the global sample with NO error accumulation
# (pytest-pinned). Standard-error of a k-sample quantile q is
# ~sqrt(q(1-q)/k): k=64 gives ~6 points at the median, k=1024 ~1.5 —
# size k to the question, the cost is k rows per rollup cell.


def kmv_sample(
    df: DataFrame,
    group_cols: Sequence[str],
    id_col: str,
    k: int = 64,
    seed: int = 0,
) -> DataFrame:
    """The k rows per group with the smallest Knuth hash of ``id_col``
    — a deterministic uniform sample (the sketch STATE: store these
    rows; merge = union + re-apply). One per-group window shuffle."""
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    p = 1_000_000_007
    order = F.pmod(
        (F.pmod(F.col(id_col), F.lit(p)) + F.lit(seed % p))
        * F.lit(2654435761),
        F.lit(p),
    )
    w = Window.partitionBy(*group_cols).orderBy(
        order.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__kmv_rk", F.row_number().over(w))
        .filter(F.col("__kmv_rk") <= k)
        .drop("__kmv_rk")
    )


def kmv_quantiles(
    sample_df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    id_col: str,
    q_permille: Sequence[int] = (500, 900, 990),
) -> DataFrame:
    """Nearest-rank-lower quantile estimates from a :func:`kmv_sample`:
    per group and requested permille, the sample value at sorted index
    ``((n - 1) * q) div 1000`` (exact integer arithmetic — the only
    float anywhere is none). Returns ``(group_cols..., q_permille,
    est)``. Two narrow exchanges over k-sized samples."""
    from pyspark.sql import Window

    gcols = list(group_cols)
    for qp in q_permille:
        if not 0 <= qp <= 1000:
            raise ValueError(f"q_permille entries must be in [0,1000]: {qp}")
    w = Window.partitionBy(*gcols).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc()
    )
    ranked = sample_df.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__n", F.count("*").over(Window.partitionBy(*gcols))
    )
    qdf = F.explode(
        F.array(*[F.lit(int(qp)).cast("bigint") for qp in q_permille])
    ).alias("q_permille")
    # nearest-rank-lower: sorted index ((n-1)*q) div 1000, exact BIGINT
    idx = F.expr("(( __n - 1) * q_permille) div 1000")
    return (
        ranked.select(*gcols, value_col, "__rn", "__n")
        .select(*gcols, value_col, "__rn", "__n", qdf)
        .filter(F.col("__rn") == idx + F.lit(1))
        .select(
            *gcols,
            F.col("q_permille").cast("int").alias("q_permille"),
            F.col(value_col).alias("est"),
        )
    )
