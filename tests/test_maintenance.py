"""Compaction / clustering tests: file-count contract, data equality,
and footer-stats disjointness that makes skipping real."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from serverless_etl_bi_on_aws_spark.catalog import load_table
from serverless_etl_bi_on_aws_spark.operators.maintenance import (
    compact_parquet,
    file_column_stats,
)
from tests.conftest import SF_CORRECT


def _fragmented(spark, tmp_path, n_parts=40):
    path = str(tmp_path / "orders_frag")
    orders = load_table(spark, SF_CORRECT, "orders")
    orders.repartition(n_parts).write.mode("overwrite").parquet(path)
    return path, orders


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    path, orders = _fragmented(spark, tmp_path)
    before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert before == 40
    total_bytes = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    out = str(tmp_path / "compacted")
    after = compact_parquet(spark, path, out, target_file_bytes=total_bytes // 3)
    assert after < before and after <= 4
    got = spark.read.parquet(out)
    assert got.count() == orders.count()
    # content identical — exact scaled-long sums (a double SUM would vary
    # with summation order across layouts; see the q1 money-sum notes)
    cents = F.sum(F.expr("CAST(floor(o_totalprice * 100 + 0.5d) AS BIGINT)"))
    a = got.agg(F.sum("o_orderkey"), cents).head()
    b = orders.agg(F.sum("o_orderkey"), cents).head()
    assert a == b


def test_clustered_rewrite_makes_stats_skippable(spark, tmp_path):
    """Before clustering every file spans ~the whole key range (stats
    prune nothing); after, per-file ranges are near-disjoint and a point
    lookup's key falls inside <= 2 files' [min, max]."""
    path, orders = _fragmented(spark, tmp_path)
    full_lo, full_hi = orders.agg(
        F.min("o_orderkey"), F.max("o_orderkey")
    ).head()
    probe = (full_lo + full_hi) // 2

    def n_candidate_files(d):
        stats = file_column_stats(d, "o_orderkey")
        assert all(lo is not None for _, lo, _ in stats)
        return sum(1 for _, lo, hi in stats if lo <= probe <= hi)

    before_files = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert n_candidate_files(path) == before_files  # round-robin: no pruning
    total_bytes = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    out = str(tmp_path / "clustered")
    n_after = compact_parquet(
        spark, path, out, target_file_bytes=total_bytes // 8, cluster_by="o_orderkey"
    )
    assert n_after >= 4
    # range-partitioned files: the probe key lives in at most 2 files
    # (boundary keys can straddle one edge)
    assert n_candidate_files(out) <= 2
    assert spark.read.parquet(out).count() == orders.count()


def test_fully_emptied_partition_keeps_replay_gate(spark, tmp_path):
    """Round-12 ADVICE (medium): a partition whose EVERY row is taken
    down must not simply disappear — the ingest/curation replay gate
    keys on the per-batch _SUCCESS sentinel, and a vanished dir lets a
    stream replay re-write (re-admit) the forgotten batch. The rewrite
    must leave an empty _SUCCESS-gated dir behind."""
    from serverless_etl_bi_on_aws_spark.operators.maintenance import (
        rewrite_partitions_without_keys,
    )

    root = str(tmp_path / "clean")
    df = spark.createDataFrame(
        [(i, f"t{i}", "b0" if i < 5 else "b1") for i in range(10)],
        "doc_id long, text string, batch string",
    )
    df.write.mode("overwrite").partitionBy("batch").parquet(root)
    for b in ("b0", "b1"):
        with open(os.path.join(root, f"batch={b}", "_SUCCESS"), "w"):
            pass
    keys = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    removed = rewrite_partitions_without_keys(
        spark, root, "batch", ["b0", "b1"], keys, "doc_id"
    )
    assert removed == 7
    # b0 fully emptied: the dir and its _SUCCESS survive as the replay gate
    b0 = os.path.join(root, "batch=b0")
    assert os.path.exists(os.path.join(b0, "_SUCCESS"))
    assert not any(f.endswith(".parquet") for f in os.listdir(b0))
    # b1 partially emptied: swapped in place, sentinel preserved
    assert os.path.exists(os.path.join(root, "batch=b1", "_SUCCESS"))
    got = spark.read.parquet(root)
    assert sorted(r["doc_id"] for r in got.collect()) == [7, 8, 9]
    assert {r["batch"] for r in got.collect()} == {"b1"}


def test_escaped_partition_values_survive_rewrite(spark, tmp_path):
    """Round-12 ADVICE (low): Spark %XX-escapes metacharacters when it
    writes partition dir names (':' -> %3A, '=' -> %3D). A swap loop
    that reconstructs dir names from raw values misses those dirs and
    silently DELETES the kept rows with the tmp sweep. Partition values
    needing escaping must round-trip with their kept rows intact."""
    from serverless_etl_bi_on_aws_spark.operators.maintenance import (
        rewrite_partitions_without_keys,
    )

    root = str(tmp_path / "esc")
    rows = [
        (1, "a:b"), (2, "a:b"), (3, "x=y"), (4, "x=y"), (5, "plain"), (6, "plain"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, band string")
    df.write.mode("overwrite").partitionBy("band").parquet(root)
    # sanity: Spark really did escape the dir names
    names = set(os.listdir(root))
    assert "band=a%3Ab" in names and "band=x%3Dy" in names
    keys = spark.createDataFrame([(1,), (3,), (5,)], "doc_id long")
    removed = rewrite_partitions_without_keys(
        spark, root, "band", ["a:b", "x=y", "plain"], keys, "doc_id"
    )
    assert removed == 3
    got = {(r["doc_id"], r["band"]) for r in spark.read.parquet(root).collect()}
    assert got == {(2, "a:b"), (4, "x=y"), (6, "plain")}


def test_zorder_clusters_both_columns(spark, tmp_path):
    """Z-order compaction (cluster_by=[a, b]) makes BOTH columns' footer
    stats selective at once, where single-column range clustering makes
    one column skippable and leaves the other spanning every file —
    checked on the real parquet footers, not the plan."""
    path = str(tmp_path / "orders_z")
    orders = load_table(spark, SF_CORRECT, "orders")
    # two independent-ish numeric dimensions
    orders.select("o_orderkey", "o_custkey", "o_totalprice").repartition(
        16
    ).write.mode("overwrite").parquet(path)
    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )

    def candidates(d, column):
        """Median candidate-file count over several point probes (a
        single probe is noisy: the exact mid-range point sits ON the
        Morton curve's major bit boundary, its worst case)."""
        stats = file_column_stats(d, column)
        assert stats and all(lo is not None for _, lo, _ in stats)
        los = [lo for _, lo, _ in stats]
        his = [hi for _, _, hi in stats]
        gmin, gmax = min(los), max(his)
        hits = sorted(
            sum(1 for lo, hi in zip(los, his) if lo <= gmin + q * (gmax - gmin) <= hi)
            for q in (0.1, 0.25, 0.4, 0.6, 0.75, 0.9)
        )
        return hits[len(hits) // 2], len(stats)

    from serverless_etl_bi_on_aws_spark.operators.maintenance import (
        compact_parquet as _compact,
    )

    # single-column clustering on custkey: totalprice spans every file
    ck = str(tmp_path / "orders_ck")
    _compact(spark, path, ck, target_file_bytes=total // 12, cluster_by="o_custkey")
    hit_ck, n = candidates(ck, "o_custkey")
    hit_tp, _ = candidates(ck, "o_totalprice")
    assert n >= 8 and hit_ck <= 2
    assert hit_tp >= int(0.9 * n), "unclustered column should span ~every file"

    # z-order on both: EACH column individually prunes to a fraction
    # (Morton alternation makes one dimension ~2x coarser than the
    # other, so the contract is "well under every file" per column,
    # not the single-column clustering's near-perfect pruning)
    z = str(tmp_path / "orders_zz")
    _compact(
        spark, ck, z, target_file_bytes=total // 12,
        cluster_by=["o_custkey", "o_totalprice"],
    )
    z_ck, nz = candidates(z, "o_custkey")
    z_tp, _ = candidates(z, "o_totalprice")
    assert nz >= 8
    assert z_ck <= int(0.7 * nz), f"custkey candidates {z_ck}/{nz}"
    assert z_tp <= int(0.7 * nz), f"totalprice candidates {z_tp}/{nz}"
    assert min(z_ck, z_tp) <= int(0.45 * nz), "one dimension must prune hard"
    # content preserved exactly
    got = spark.read.parquet(z)
    orig = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    assert got.count() == orig.count()
    a = got.agg(F.sum("o_orderkey"), F.sum("o_custkey")).head()
    b = orig.agg(F.sum("o_orderkey"), F.sum("o_custkey")).head()
    assert a == b


def test_bloom_filter_compaction(spark, tmp_path):
    """bloom_cols writes real parquet bloom filters: the rewrite with a
    bloom grows the on-disk bytes by roughly the filter's size for the
    declared NDV (pyarrow in this container does not surface the bloom
    offsets, so the footprint is the observable), values round-trip
    exactly, and point-filter reads stay correct through the pushed
    filter path."""
    path = str(tmp_path / "ids")
    df = spark.range(200000).selectExpr(
        "id", "cast(id * 2654435761 % 1000000 as long) as h"
    )
    df.repartition(8).write.parquet(path)

    def dir_bytes(d):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    from serverless_etl_bi_on_aws_spark.operators.maintenance import (
        compact_parquet as _compact,
    )

    plain_path, bloom_path = str(tmp_path / "plain"), str(tmp_path / "bloom")
    _compact(spark, path, plain_path, target_file_bytes=1 << 30)
    plain = dir_bytes(plain_path)
    probe = spark.read.parquet(plain_path).filter(F.col("h") == 954).count()

    _compact(
        spark, plain_path, bloom_path, target_file_bytes=1 << 30,
        bloom_cols={"h": 200000},
    )
    with_bloom = dir_bytes(bloom_path)
    # split-block bloom for 200k NDV at the default FPP is ~100-400 KB
    assert with_bloom - plain > 100_000, (plain, with_bloom)
    got = spark.read.parquet(bloom_path)
    assert got.count() == 200000
    assert got.filter(F.col("h") == 954).count() == probe


def test_zorder_on_key_and_timestamp(spark, tmp_path):
    """The canonical z-order pair — (entity key, event time) — works
    directly: timestamp columns cluster through their epoch double, the
    helper columns never leak into the output, and both dimensions'
    footer stats prune. Non-orderable types refuse loudly."""
    import pytest as _pytest

    from serverless_etl_bi_on_aws_spark.operators.maintenance import (
        compact_parquet as _compact,
        zorder_key,
    )

    path = str(tmp_path / "orders_zt")
    orders = load_table(spark, SF_CORRECT, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    orders.repartition(16).write.mode("overwrite").parquet(path)
    total = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    out = str(tmp_path / "orders_zt_z")
    _compact(
        spark, path, out, target_file_bytes=total // 12,
        cluster_by=["o_custkey", "o_orderdate"],
    )
    got = spark.read.parquet(out)
    assert set(got.columns) == {"o_orderkey", "o_custkey", "o_orderdate"}
    assert got.count() == orders.count()
    for col in ("o_custkey", "o_orderdate"):
        stats = file_column_stats(out, col)
        assert stats and all(lo is not None for _, lo, _ in stats)
        # clustered at all: not every file spans the full range
        los = [lo for _, lo, _ in stats]
        his = [hi for _, _, hi in stats]
        spans_all = sum(
            1 for lo, hi in zip(los, his) if lo == min(los) and hi == max(his)
        )
        assert spans_all <= len(stats) // 2, f"{col} unclustered"

    with _pytest.raises(ValueError, match="non-orderable-numeric"):
        zorder_key(
            spark,
            load_table(spark, SF_CORRECT, "orders").select("o_orderkey", "o_orderstatus"),
            ["o_orderstatus", "o_orderkey"],
        )


def test_null_partition_value_rewrite(spark, tmp_path):
    """Round-13 ADVICE (low): a NULL partition value is written by Spark
    as part_col=__HIVE_DEFAULT_PARTITION__; str(None) == 'None' matches
    no such dir, so before the fix the null partition was left
    un-rewritten and the leftover-tmp guard raised AFTER other
    partitions had already been swapped. None in part_values must map to
    the hive sentinel on both the filter and the swap sides."""
    from serverless_etl_bi_on_aws_spark.operators.maintenance import (
        rewrite_partitions_without_keys,
    )

    root = str(tmp_path / "nullpart")
    rows = [(1, "b0"), (2, "b0"), (3, None), (4, None), (5, None), (6, "b1")]
    df = spark.createDataFrame(rows, "doc_id long, band string")
    df.write.mode("overwrite").partitionBy("band").parquet(root)
    assert "band=__HIVE_DEFAULT_PARTITION__" in set(os.listdir(root))
    keys = spark.createDataFrame([(1,), (3,)], "doc_id long")
    removed = rewrite_partitions_without_keys(
        spark, root, "band", ["b0", None], keys, "doc_id"
    )
    assert removed == 2
    got = {
        (r["doc_id"], r["band"]) for r in spark.read.parquet(root).collect()
    }
    assert got == {(2, "b0"), (4, None), (5, None), (6, "b1")}
    # a fully-emptied null partition keeps the replay gate like any other
    ndir = os.path.join(root, "band=__HIVE_DEFAULT_PARTITION__")
    with open(os.path.join(ndir, "_SUCCESS"), "w"):
        pass
    keys2 = spark.createDataFrame([(4,), (5,)], "doc_id long")
    removed2 = rewrite_partitions_without_keys(
        spark, root, "band", [None], keys2, "doc_id"
    )
    assert removed2 == 2
    assert os.path.exists(os.path.join(ndir, "_SUCCESS"))
    assert not any(f.endswith(".parquet") for f in os.listdir(ndir))
    got2 = {(r["doc_id"], r["band"]) for r in spark.read.parquet(root).collect()}
    assert got2 == {(2, "b0"), (6, "b1")}


def test_zorder_bit_budget_guard(spark):
    """Round-13 ADVICE (low): bits * len(cols) > 64 would wrap shiftleft
    positions mod 64 under JVM long-shift semantics and silently
    scramble the Morton key; the guard must refuse loudly."""
    import pytest as _pytest

    from serverless_etl_bi_on_aws_spark.operators.maintenance import zorder_key

    df = spark.range(10).selectExpr(
        *[f"cast(id * {i + 1} as long) as c{i}" for i in range(5)]
    )
    with _pytest.raises(ValueError, match="64-bit key budget"):
        zorder_key(spark, df, [f"c{i}" for i in range(5)], bits=16)
    # 5 cols * 12 bits = 60 <= 64 stays legal
    out = zorder_key(spark, df, [f"c{i}" for i in range(5)], bits=12)
    assert out.count() == 10


def test_zorder_working_columns_never_clobber_input(spark, tmp_path):
    """Round-13 ADVICE (low): an input that legitimately owns a column
    named _zkey / __zb_* / __znum_* must survive compaction with that
    column intact (fixed working names silently overwrote and dropped
    it before the fix), and zorder_key must refuse an out_col that
    already exists."""
    import pytest as _pytest

    from serverless_etl_bi_on_aws_spark.operators.maintenance import (
        compact_parquet as _compact,
        zorder_key,
    )

    path = str(tmp_path / "clobber")
    df = spark.range(1000).selectExpr(
        "id",
        "cast(id * 7 % 97 as long) as k",
        "cast(id * 3 as long) as _zkey",
        "cast(id + 1 as long) as __zb_k",
    )
    df.write.mode("overwrite").parquet(path)
    out = str(tmp_path / "clobber_z")
    _compact(spark, path, out, target_file_bytes=1 << 30, cluster_by=["id", "k"])
    got = spark.read.parquet(out)
    assert set(got.columns) == {"id", "k", "_zkey", "__zb_k"}
    a = got.agg(F.sum("_zkey"), F.sum("__zb_k")).head()
    b = df.agg(F.sum("_zkey"), F.sum("__zb_k")).head()
    assert a == b
    with _pytest.raises(ValueError, match="already exists"):
        zorder_key(spark, df, ["id", "k"], out_col="_zkey")


def test_compaction_writes_int64_timestamps_and_restores_conf(spark, tmp_path):
    """compact_parquet rewrites timestamps as INT64 micros (INT96 carries
    no min/max stats) through a scoped session conf: with the conf unset
    and with it preset to INT96, the session conf is unchanged after the
    compaction and every rewritten footer stores ``ts`` as INT64."""
    import datetime as dt

    import pyarrow.parquet as pq

    key = "spark.sql.parquet.outputTimestampType"
    prior = spark.conf.get(key, None)
    df = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1 + i % 28, i % 24)) for i in range(200)],
        ["id", "ts"],
    )
    try:
        for preset in (None, "INT96"):
            if preset is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, preset)
            path = str(tmp_path / f"ts_{preset}")
            out = f"{path}_compacted"
            df.repartition(4).write.mode("overwrite").parquet(path)
            compact_parquet(spark, path, out, target_file_bytes=1 << 30)
            assert spark.conf.get(key, None) == preset
            files = [f for f in os.listdir(out) if f.endswith(".parquet")]
            assert files
            for f in files:
                schema = pq.ParquetFile(os.path.join(out, f)).schema
                assert schema.column(schema.names.index("ts")).physical_type == "INT64"
            assert spark.read.parquet(out).count() == 200
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_compaction_refuses_to_overwrite_its_source(spark, tmp_path):
    """compact_parquet writes ``dst`` from ``src``: an overwrite of the
    directory it reads would delete the rows before reading them, so
    src == dst refuses loudly and leaves the table whole."""
    import pytest

    path = str(tmp_path / "t")
    spark.range(100).repartition(5).write.parquet(path)
    with pytest.raises(ValueError, match="both the source and the destination"):
        compact_parquet(spark, path, path, target_file_bytes=1 << 30)
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(100))


def test_killed_takedown_leaves_no_partition_dirs_inside_root(
    spark, tmp_path, monkeypatch
):
    """rewrite_partitions_without_keys sets old partitions aside in a
    SIBLING of the table root. With the set-aside tree surviving, as a
    kill before its removal would leave it, a reader of the root still
    sees exactly the kept rows, and the partition column keeps its
    inferred int type (a ``<part>.__old__`` dir inside the root read as
    extra rows and turned the column into a string)."""
    import shutil

    from serverless_etl_bi_on_aws_spark.operators.maintenance import (
        rewrite_partitions_without_keys,
    )

    root = str(tmp_path / "clean")
    spark.createDataFrame(
        [(i, i % 2) for i in range(10)], "doc_id long, batch int"
    ).write.partitionBy("batch").parquet(root)
    keys = spark.createDataFrame([(0,), (1,)], "doc_id long")
    monkeypatch.setattr(shutil, "rmtree", lambda *a, **kw: None)
    removed = rewrite_partitions_without_keys(
        spark, root, "batch", [0, 1], keys, "doc_id"
    )
    monkeypatch.undo()
    assert removed == 2
    assert any(".__old__" in n for n in os.listdir(tmp_path))  # it survived
    got = spark.read.parquet(root)
    assert dict(got.dtypes)["batch"] == "int"
    assert sorted(r.doc_id for r in got.collect()) == list(range(2, 10))
