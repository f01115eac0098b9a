"""Table maintenance — compaction and stats-clustered rewrite (the
OPTIMIZE pass of a parquet warehouse, expressed with plain Spark).

Two layout pathologies accumulate under incremental ingest (every
micro-batch of streaming/incremental.py is a new file):

  * **small files** — listing cost and per-file open overhead dominate a
    scan once files shrink below a row group. :func:`compact_parquet`
    rewrites a directory to ``ceil(bytes / target_file_bytes)`` files —
    the round-robin repartition that evens out file sizes costs the one
    full shuffle a compaction inherently pays.
  * **unclustered values** — parquet scans skip row groups/files by
    min/max statistics, but stats only prune when values are clustered.
    Passing ``cluster_by`` makes the rewrite a range-partitioned sort
    (``repartitionByRange`` + ``sortWithinPartitions``) so each output
    file owns a narrow, near-disjoint value range — a point or range
    predicate then touches ~1 file instead of all of them. A LIST of
    columns Z-ORDERS instead (:func:`zorder_key`: quantile-bucketize
    each column, interleave the bits onto one Morton key — Delta's
    OPTIMIZE ZORDER) so EVERY listed column's footer stats prune at
    once; pytest checks the actual parquet footer stats, not just the
    plan.

Both rewrites are writers from a source directory to a destination:
they never write the table they read. Publishing the result is the
caller's job — the persisted indexes overwrite the table inside a
staged generation (operators/snapshot.staged_rewrite) and commit it
with one pointer write, so a reader, or a process killed mid-rewrite,
sees the whole old table or the whole new one. At 100 TB run them per
partition (compact only partitions whose file count drifted — the
manifest/file listing tells you which), never the whole table.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import SparkSession, functions as F

from serverless_etl_bi_on_aws_spark.util import scoped_conf


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def zorder_key(
    spark: SparkSession,
    df,
    cols: list[str],
    bits: int = 8,
    out_col: str = "_zkey",
):
    """Append a Z-order (Morton) key over ``cols``: each column is
    quantile-bucketized to ``bits`` bits and the buckets' bits are
    INTERLEAVED, so sorting by the key clusters rows that are close in
    EVERY dimension — a range rewrite on the key leaves every listed
    column's per-file min/max narrow at once (what Delta's OPTIMIZE
    ZORDER does; single-column range clustering makes one column
    skippable and leaves the others spanning every file).

    Scale shape: one ``approxQuantile`` pass per call computes the
    2^bits - 1 cut points per column (driver-side result is KBs), the
    bucketization is a broadcast-splits map (pyspark.ml Bucketizer),
    and the interleave is ``bits x len(cols)`` codegen'd shift/or
    terms — no window over the whole table, no global sort beyond the
    range exchange the rewrite pays anyway."""
    from pyspark.ml.feature import Bucketizer
    from pyspark.sql.types import DateType, NumericType, TimestampType

    if not cols or bits < 1 or bits > 16:
        raise ValueError("zorder_key needs 1+ columns and 1 <= bits <= 16")
    if bits * len(cols) > 64:
        # the interleave targets one signed 64-bit key; a shiftleft
        # position >= 64 wraps mod 64 under JVM long-shift semantics and
        # would silently scramble the key (and so the clustering the
        # rewrite exists to create) instead of overflowing loudly
        raise ValueError(
            f"zorder_key: bits * len(cols) = {bits * len(cols)} exceeds the "
            f"64-bit key budget; use bits <= {64 // len(cols)} for "
            f"{len(cols)} columns"
        )
    if out_col in df.columns:
        raise ValueError(
            f"zorder_key: output column {out_col!r} already exists in the "
            f"input; pass a different out_col"
        )
    n_buckets = 1 << bits
    probs = [i / n_buckets for i in range(1, n_buckets)]
    # date/timestamp columns cluster through their epoch double — the
    # canonical z-order pair is (entity key, event date); anything else
    # non-numeric refuses loudly rather than bucketizing garbage
    # working columns carry a nonce so an input that legitimately owns a
    # column named __zb_*/__znum_* is never silently overwritten and
    # dropped from the output (round-13 ADVICE)
    nonce = uuid.uuid4().hex[:8]
    work = df
    num_cols = {}
    for c in cols:
        dt = df.schema[c].dataType
        if isinstance(dt, NumericType):
            num_cols[c] = c
        elif isinstance(dt, (DateType, TimestampType)):
            nc = f"__znum_{nonce}_{c}"
            work = work.withColumn(
                nc, F.col(c).cast("timestamp").cast("double")
            )
            num_cols[c] = nc
        else:
            raise ValueError(
                f"zorder_key: column {c!r} has non-orderable-numeric type "
                f"{dt.simpleString()}; cast it upstream"
            )
    bucket_cols = []
    for c in cols:
        qs = work.stat.approxQuantile(num_cols[c], probs, 1.0 / (4 * n_buckets))
        splits = [float("-inf")]
        for q in qs:
            if q > splits[-1]:
                splits.append(float(q))
        splits.append(float("inf"))
        bc = f"__zb_{nonce}_{c}"
        work = Bucketizer(
            splits=splits,
            inputCol=num_cols[c],
            outputCol=bc,
            handleInvalid="keep",
        ).transform(work)
        # handleInvalid="keep" parks NULLs in one extra trailing bucket;
        # clamp so the interleave never overflows its bit budget
        work = work.withColumn(
            bc, F.least(F.col(bc).cast("long"), F.lit(n_buckets - 1))
        )
        bucket_cols.append(bc)
    k = len(cols)
    key = F.lit(0).cast("long")
    for b in range(bits):
        for i, bc in enumerate(bucket_cols):
            key = key + F.shiftleft(
                F.shiftright(F.col(bc), b).bitwiseAND(F.lit(1)), b * k + i
            )
    helpers = [nc for c, nc in num_cols.items() if nc != c]
    return work.withColumn(out_col, key).drop(*bucket_cols, *helpers)


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 << 20,
    cluster_by: str | list[str] | None = None,
    dedupe_on: list[str] | None = None,
    bloom_cols: dict[str, int] | None = None,
) -> int:
    """Rewrite the parquet directory ``src`` into ``dst`` (overwritten)
    as ``ceil(src_bytes / target_file_bytes)`` files; returns the new
    file count. With ``cluster_by`` a COLUMN NAME, files are
    range-clustered on that column (near-disjoint per-file min/max ->
    stats-based skipping); with a LIST of columns, files are Z-ORDER
    clustered (:func:`zorder_key` — every listed column's footer stats
    become selective at once). With ``dedupe_on``, exact duplicates on
    those columns collapse to one row — for append-only set-membership
    tables (the dedup-index bands/sigs) whose at-least-once appends
    legally carry replay duplicates: harmless to consumers, dead weight
    on disk until a compaction.

    ``bloom_cols`` ({column: expected distinct values}) writes a parquet
    BLOOM FILTER per listed column — the point-lookup complement to
    clustering: min/max stats prune only when values are clustered,
    while a bloom answers "is key k possibly in this row group?" for
    high-cardinality UNSORTED columns (the dedup indexes' id columns
    are the motivating case: takedown semi-joins probe ids across every
    band partition). Costs ~1.2 bytes/ndv of file size; readers use it
    through the normal pushed filters (spark.sql.parquet.filterPushdown,
    on by default)."""
    if target_file_bytes <= 0:
        raise ValueError("target_file_bytes must be positive")
    _check_distinct(src, dst)
    n_files = max(1, math.ceil(_dir_bytes(src) / target_file_bytes))
    df = spark.read.parquet(src)
    if dedupe_on is not None:
        df = df.dropDuplicates(dedupe_on)
    if isinstance(cluster_by, (list, tuple)):
        # nonce the key column so a table that already owns "_zkey"
        # keeps it (round-13 ADVICE: fixed names silently dropped a
        # colliding input column from the compacted output)
        zk = f"_zkey_{uuid.uuid4().hex[:8]}"
        keyed = zorder_key(spark, df, list(cluster_by), out_col=zk)
        out = (
            keyed.repartitionByRange(n_files, F.col(zk))
            .sortWithinPartitions(zk)
            .drop(zk)
        )
    elif cluster_by is not None:
        out = df.repartitionByRange(n_files, F.col(cluster_by)).sortWithinPartitions(
            cluster_by
        )
    else:
        out = df.repartition(n_files)
    writer = out.write.mode("overwrite")
    for col, ndv in (bloom_cols or {}).items():
        writer = writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
        writer = writer.option(
            f"parquet.bloom.filter.expected.ndv#{col}", str(int(ndv))
        )
    # Spark's default parquet timestamp encoding is INT96, which carries
    # NO min/max statistics — a compaction that re-wrote timestamps as
    # INT96 would silently destroy stats-based skipping on every time
    # column, the exact thing this module exists to create. Rewrites
    # always emit INT64 micros (what Iceberg/Delta write).
    with scoped_conf(
        spark, "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    ):
        writer.parquet(dst)
    return sum(
        1
        for f in os.listdir(dst)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _check_distinct(src: str, dst: str) -> None:
    if os.path.abspath(src) == os.path.abspath(dst):
        raise ValueError(
            f"{dst} is both the source and the destination; an overwrite "
            "would delete the rows it reads"
        )


def rewrite_without_keys(
    spark: SparkSession, src: str, dst: str, keys, key_col: str
) -> int:
    """Write ``src``'s rows into ``dst`` (overwritten) minus every row
    whose ``key_col`` appears in ``keys`` (a DataFrame whose first
    column holds the keys) — the takedown primitive shared by
    :mod:`operators.forget`. An anti-join does the drop, so the data
    never routes through the driver. Returns the number of rows removed
    (two maintenance-scale counts); when none is, ``dst`` is not
    written (a staged ``dst`` already holds ``src``'s files)."""
    _check_distinct(src, dst)
    df = spark.read.parquet(src)
    key_df = keys.select(F.col(keys.columns[0]).alias(key_col)).dropDuplicates()
    kept = df.join(key_df, key_col, "left_anti")
    before, after = df.count(), kept.count()
    if before == after:
        return 0
    kept.write.mode("overwrite").parquet(dst)
    return before - after


# The characters Spark/Hive escape (%XX, uppercase hex) when writing a
# partition value into a directory name (ExternalCatalogUtils
# .escapePathName): ASCII control chars plus the path/metachar set.
# Directory names built from raw values would miss Spark's escaped
# names for such values, and a swap loop keyed on the raw name would
# silently drop the kept rows of that partition (round-12 ADVICE).
_PART_ESCAPE_CHARS = frozenset('"#%\'*/:=?\\\x7f{[]^') | frozenset(
    chr(c) for c in range(0x01, 0x20)
)

#: directory name Spark/Hive use for a NULL partition value
_HIVE_NULL_PART = "__HIVE_DEFAULT_PARTITION__"


def _escape_part_value(v: object) -> str:
    return "".join(
        f"%{ord(c):02X}" if c in _PART_ESCAPE_CHARS else c for c in str(v)
    )


def _unescape_part_value(s: str) -> str:
    out, i = [], 0
    while i < len(s):
        if s[i] == "%" and i + 3 <= len(s):
            try:
                out.append(chr(int(s[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(s[i])
        i += 1
    return "".join(out)


def _hive_partition_dirs(base: str, part_col: str) -> dict[str, str]:
    """Map decoded partition value -> actual directory NAME under
    ``base`` for hive-style ``part_col=value`` dirs, so swap loops match
    on the value Spark encoded rather than reconstructing (and possibly
    mis-reconstructing) the escaped name."""
    prefix = f"{part_col}="
    try:
        names = os.listdir(base)
    except FileNotFoundError:
        return {}
    return {
        _unescape_part_value(n[len(prefix):]): n
        for n in names
        if n.startswith(prefix) and os.path.isdir(os.path.join(base, n))
    }


def rewrite_partitions_without_keys(
    spark: SparkSession,
    root: str,
    part_col: str,
    part_values,
    keys,
    key_col: str,
) -> int:
    """Takedown rewrite of MANY hive partitions of one table in ONE
    Spark pass (round 12): the round-11 shape looped
    :func:`rewrite_without_keys` per affected partition — one read, two
    counts, and one write JOB per partition, so a takedown whose target
    appears in all 32 MinHash band partitions paid 32 sequential job
    launches (measured: the q83 verify ran 137 s, almost all of it this
    loop). Here the affected partitions are filtered in one scan,
    anti-joined once, and written ASIDE as one partitioned table; each
    affected partition directory is then swap-renamed (a partition whose
    rows were ALL removed simply disappears, like hive). Untouched
    partitions keep their files. Same driver-side counts; returns rows
    removed. The write-aside copy and the set-aside old partitions live
    in SIBLINGS of ``root`` (``<root>.__new__<nonce>``,
    ``<root>.__old__<nonce>``), never inside it, so a reader of ``root``
    never lists them as partitions, not even after a kill.

    Crash exposure matches the sequential loop it replaces (some
    partitions swapped, some not, mid-loop) — callers needing atomicity
    across partitions run this against a snapshot stage clone
    (operators/snapshot.mutate_snapshot), where a crash commits
    nothing."""
    # A None partition value is legal: Spark writes null partition rows
    # under part_col=__HIVE_DEFAULT_PARTITION__. str(None) == "None"
    # matches no such directory, so without mapping it the null
    # partition's kept rows would sit unmatched in tmp and trip the
    # leftover-tmp guard AFTER other partitions were already swapped
    # (round-13 ADVICE: loud, but partially applied). Map None to the
    # hive sentinel on both the filter and the swap sides.
    raw_vals = list(part_values)
    has_null = any(v is None for v in raw_vals)
    vals = sorted(v for v in raw_vals if v is not None)
    if not vals and not has_null:
        return 0
    df = spark.read.parquet(root)
    key_df = keys.select(F.col(keys.columns[0]).alias(key_col)).dropDuplicates()
    cond = F.col(part_col).isin(vals) if vals else F.lit(False)
    if has_null:
        cond = cond | F.col(part_col).isNull()
    scoped = df.filter(cond)
    kept = scoped.join(key_df, key_col, "left_anti")
    before, after = scoped.count(), kept.count()
    if before == after:
        return 0
    nonce = uuid.uuid4().hex[:8]
    tmp = f"{root}.__new__{nonce}"
    kept.write.mode("overwrite").partitionBy(part_col).parquet(tmp)
    # Match partition dirs by DECODED value, never by reconstructed
    # name: Spark %XX-escapes metacharacters in partition values it
    # writes, so a raw f"{part_col}={v}" misses e.g. "a:b" / "a=b" dirs
    # — the kept rows would then never be installed and the tmp sweep
    # below would silently delete them (round-12 ADVICE, data loss).
    tmp_dirs = _hive_partition_dirs(tmp, part_col)
    root_dirs = _hive_partition_dirs(root, part_col)
    old_root = f"{root}.__old__{nonce}"
    os.makedirs(old_root)
    for v in vals + ([None] if has_null else []):
        sv = _HIVE_NULL_PART if v is None else str(v)
        pdir = os.path.join(
            root, root_dirs.get(sv, f"{part_col}={_escape_part_value(sv)}")
        )
        nname = tmp_dirs.pop(sv, None)
        old = os.path.join(old_root, os.path.basename(pdir))
        # the partitioned write leaves _SUCCESS at the tmp ROOT only;
        # preserve a pre-existing per-partition commit sentinel (the
        # curation loop's replay gate keys on it) across the swap
        had_success = os.path.exists(os.path.join(pdir, "_SUCCESS"))
        if os.path.isdir(pdir):
            os.rename(pdir, old)
        if nname is not None:
            os.rename(os.path.join(tmp, nname), pdir)
            if had_success:
                with open(os.path.join(pdir, "_SUCCESS"), "w"):
                    pass
        elif had_success:
            # every row of this partition was removed. Hive semantics
            # would drop the dir, but the ingest/curation loops' replay
            # gate keys on the per-batch _SUCCESS sentinel ("a replayed
            # batch must still no-op") — a vanished dir would let a
            # stream replay re-write, and so RE-ADMIT, a fully-taken-
            # down batch (its index signatures were forgotten too, so
            # nothing else shields it). Keep an empty _SUCCESS-gated dir.
            os.makedirs(pdir, exist_ok=True)
            with open(os.path.join(pdir, "_SUCCESS"), "w"):
                pass
    shutil.rmtree(old_root, ignore_errors=True)
    if tmp_dirs:
        # kept-row output exists for a partition we could not match back
        # to a requested value — installing nothing and sweeping tmp
        # would lose those rows; fail loudly instead.
        raise RuntimeError(
            f"rewrite_partitions_without_keys: kept rows for partition "
            f"value(s) {sorted(tmp_dirs)} were written to {tmp} but match "
            f"no requested partition value; refusing to discard them"
        )
    shutil.rmtree(tmp, ignore_errors=True)
    return before - after


def file_column_stats(path: str, column: str) -> list[tuple[str, object, object]]:
    """Per-file (name, min, max) of ``column`` read straight from the
    parquet footers — the statistics the scanner's skipping decisions
    use, exposed for audits and the clustering pytest. Driver-side by
    design: footers are KB-sized and file counts are maintenance-scale."""
    import pyarrow.parquet as pq

    out = []
    for f in sorted(os.listdir(path)):
        if not f.endswith(".parquet") or f.startswith(("_", ".")):
            continue
        meta = pq.read_metadata(os.path.join(path, f))
        lo, hi = None, None
        for rg in range(meta.num_row_groups):
            row_group = meta.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                if col.path_in_schema == column and col.statistics is not None:
                    s = col.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        out.append((f, lo, hi))
    return out
