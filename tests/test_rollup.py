"""Materialized pricing rollup (operators/rollup.py): layout cannot change
values, the fixture satisfies the date-granularity precondition, and
incremental upsert equals a full rebuild."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from serverless_etl_bi_on_aws_spark.catalog import load_table
from serverless_etl_bi_on_aws_spark.operators.rollup import (
    build_pricing_rollup,
    pricing_summary_from_rollup,
    upsert_pricing_rollup,
)
from serverless_etl_bi_on_aws_spark.plans.queries import EXTRA_QUERIES, QUERIES

#: q47 rotated to the off-driver tier in round 13 (ceded its slot to
#: q84); this module keeps the identical value gate on it
ALL_QUERIES = {**QUERIES, **EXTRA_QUERIES}

SF = "/root/testdata/sf0.01"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_rollup_serves_q1_exactly(spark):
    """q47 (rollup-served) must be row-identical to q1 (raw scan): the
    exact scaled-long partials are associative, so splitting the sum
    between build and query time cannot move a cent."""
    assert _rows(ALL_QUERIES["q47_pricing_summary_rollup"](spark, SF)) == _rows(
        ALL_QUERIES["q1_pricing_summary"](spark, SF)
    )


def test_rollup_date_granularity_guard(spark):
    """The intraday counter must be zero on the fixture (every l_shipdate
    is midnight) — the precondition for serving a midnight timestamp
    cutoff from the date-keyed rollup."""
    rollup = build_pricing_rollup(load_table(spark, SF, "lineitem"))
    assert rollup.agg(F.sum("intraday")).head()[0] == 0


def test_rollup_is_tiny(spark):
    """The whole point: days x groups rows, not fact rows."""
    rollup = build_pricing_rollup(load_table(spark, SF, "lineitem"))
    n_rollup = rollup.count()
    n_fact = load_table(spark, SF, "lineitem").count()
    assert n_rollup < n_fact / 3  # sf0.01: ~15k vs 60k; ratio grows with sf


def test_upsert_equals_full_rebuild(spark):
    """upsert(rollup(A), B) == rollup(A u B), and only the touched year
    partitions are rewritten."""
    li = load_table(spark, SF, "lineitem")
    # deterministic split: delta = one calendar year of rows (so the upsert
    # touches exactly one partition), base = everything else
    base = li.filter(F.year("l_shipdate") != 1997)
    delta = li.filter(F.year("l_shipdate") == 1997)
    assert delta.count() > 0

    with tempfile.TemporaryDirectory(prefix="rollup_upsert_") as d:
        path = os.path.join(d, "rollup")
        (build_pricing_rollup(base).repartition(1, "ship_year")
         .write.mode("overwrite").partitionBy("ship_year").parquet(path))
        pre = {
            y: os.path.getmtime(os.path.join(path, f"ship_year={y}"))
            for y in (1995, 1996, 1998)
            if os.path.exists(os.path.join(path, f"ship_year={y}"))
        }
        mode_conf = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        upsert_pricing_rollup(spark, path, delta)
        # dynamic overwrite is a per-write option: the session conf stays
        assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == mode_conf

        merged = spark.read.parquet(path)
        full = build_pricing_rollup(li)
        cols = sorted(c for c in full.columns)
        assert _rows(merged.select(*cols)) == _rows(full.select(*cols))
        # untouched year partitions were not rewritten
        for y, mtime in pre.items():
            assert os.path.getmtime(os.path.join(path, f"ship_year={y}")) == mtime

        # and the summary served from the upserted rollup still matches q1
        assert _rows(pricing_summary_from_rollup(merged, "2001-06-01")) == _rows(
            QUERIES["q1_pricing_summary"](spark, SF)
        )


def test_upsert_empty_delta_is_noop(spark):
    li = load_table(spark, SF, "lineitem")
    with tempfile.TemporaryDirectory(prefix="rollup_noop_") as d:
        path = os.path.join(d, "rollup")
        (build_pricing_rollup(li).repartition(1, "ship_year")
         .write.mode("overwrite").partitionBy("ship_year").parquet(path))
        before = _rows(spark.read.parquet(path))
        upsert_pricing_rollup(spark, path, li.limit(0))
        assert _rows(spark.read.parquet(path)) == before


def test_hll_sketch_rollup_merge_exact_and_bounded(spark):
    """operators/sketches.py: (a) estimate(union of per-bucket sketches)
    == estimate(one sketch over the whole data) EXACTLY (register-max
    union identity — the rollup layout cannot move the estimate), and
    (b) at genuinely-approximate cardinality (100k distinct, far past
    sparse mode) the lgK=12 estimate lands within 5% of exact."""
    from pyspark.sql import functions as F

    from serverless_etl_bi_on_aws_spark.operators.sketches import (
        hll_merge_estimate,
        hll_rollup,
    )

    n_distinct = 100_000
    df = spark.range(0, 400_000).select(
        (F.col("id") % n_distinct).alias("u"),
        (F.col("id") % 16).alias("bucket"),
        F.lit("g").alias("grp"),
    )
    cells = hll_rollup(df, ["grp", "bucket"], "u")
    merged = hll_merge_estimate(cells, ["grp"]).collect()[0]
    direct = df.groupBy("grp").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("u", F.lit(12))).alias("est")
    ).collect()[0]
    assert merged["approx_distinct"] == direct["est"]  # union identity
    assert merged["n_rows"] == 400_000
    assert abs(merged["approx_distinct"] - n_distinct) <= n_distinct * 0.05


def test_denorm_upsert_equals_full_rebuild(spark):
    """Incremental maintenance of the denorm fact (round-9 verdict #1):
    bootstrap + two staged batches == a full rebuild from the merged base
    tables, under exact scaled-long revenue equality. The batches cover
    every staging-merge shape: brand-new orders, a modified order whose
    lineitems were repriced AND whose o_orderdate moved years, an order
    parked in a year of its own then moved back (the emptied year
    partition must be dropped — dynamic overwrite alone would leave it),
    and an order staged with no lineitems (delete). Untouched year
    partitions are never rewritten (mtime-pinned), and replaying a batch
    is idempotent."""
    from serverless_etl_bi_on_aws_spark.operators.denorm import (
        denorm_rows,
        sales_by_category_from_denorm,
        upsert_sales_denorm,
    )

    orders = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    part = load_table(spark, SF, "part")
    key = F.col("o_orderkey")
    lkey = F.col("l_orderkey")

    # late-arriving orders: 40 keys from 2001 (batch1 gets 20, batch2 20)
    k01 = [
        r[0]
        for r in orders.filter(F.year("o_orderdate") == 2001)
        .select("o_orderkey").orderBy("o_orderkey").limit(40).collect()
    ]
    b1_new, b2_new = k01[:20], k01[20:]
    # modified/deleted orders: 3 keys from 1995 (so batch1 touches only
    # 1995/1996/2001/2099 and 1997-2000 stay untouched)
    m1, m2, d = (
        r[0]
        for r in orders.filter(F.year("o_orderdate") == 1995)
        .select("o_orderkey").orderBy("o_orderkey").limit(3).collect()
    )
    odt = dict(orders.dtypes)["o_orderdate"]
    late = set(b1_new) | set(b2_new)
    base_orders = orders.filter(~key.isin(late))
    base_li = li.filter(~lkey.isin(late))

    mod1 = orders.filter(key == m1).withColumn(
        "o_orderdate", F.add_months("o_orderdate", 13).cast(odt)
    )  # 1995 -> 1996
    mod1_li = li.filter(lkey == m1).withColumn(
        "l_extendedprice", F.col("l_extendedprice") * 2
    )
    park2 = orders.filter(key == m2).withColumn(
        "o_orderdate", F.lit("2099-06-01").cast(odt)
    )

    with tempfile.TemporaryDirectory(prefix="denorm_upsert_") as dd:
        path = os.path.join(dd, "denorm")
        # bootstrap: first batch IS the table
        upsert_sales_denorm(spark, path, base_orders, base_li, part)
        assert os.path.exists(os.path.join(path, "_SUCCESS"))
        pre = {
            y: os.path.getmtime(os.path.join(path, f"order_year={y}"))
            for y in (1997, 1998, 1999, 2000)
        }

        # batch 1: 20 new orders + m1 repriced/year-moved + m2 parked in 2099
        b1_orders = (
            orders.filter(key.isin(b1_new)).unionByName(mod1).unionByName(park2)
        )
        b1_li = (
            li.filter(lkey.isin(b1_new))
            .unionByName(mod1_li)
            .unionByName(li.filter(lkey == m2))
        )
        mode_conf = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        upsert_sales_denorm(spark, path, b1_orders, b1_li, part)
        assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == mode_conf
        assert os.path.exists(os.path.join(path, "order_year=2099"))
        for y, mtime in pre.items():
            assert os.path.getmtime(os.path.join(path, f"order_year={y}")) == mtime

        # batch 2: 20 new orders + m2 restored to 1995 + d deleted (no lines)
        b2_orders = (
            orders.filter(key.isin(b2_new))
            .unionByName(orders.filter(key == m2))
            .unionByName(orders.filter(key == d))
        )
        b2_li = li.filter(lkey.isin(b2_new)).unionByName(li.filter(lkey == m2))
        upsert_sales_denorm(spark, path, b2_orders, b2_li, part)
        assert not os.path.exists(os.path.join(path, "order_year=2099")), (
            "emptied year partition must be dropped"
        )

        # equivalence: table == full rebuild over the merged base tables
        exp_orders = orders.filter(key != m1).unionByName(mod1)
        exp_li = li.filter((lkey != m1) & (lkey != d)).unionByName(mod1_li)
        want = _rows(denorm_rows(exp_li, exp_orders, part))
        cols = ["o_orderkey", "category", "order_year", "_rev"]
        assert _rows(spark.read.parquet(path).select(*cols)) == want

        # replay of batch 2: delete-matching is idempotent
        upsert_sales_denorm(spark, path, b2_orders, b2_li, part)
        assert _rows(spark.read.parquet(path).select(*cols)) == want

        # and the BI query still serves exact cents from the maintained table
        got_q3 = sales_by_category_from_denorm(spark, path)
        assert got_q3.count() > 0
        assert {c for c in got_q3.columns} == {
            "category", "order_year", "n_sold", "revenue"
        }


def test_denorm_upsert_mutable_years_prunes_and_matches(spark):
    """The 100 TB knob: with ``mutable_years`` declaring the change
    horizon (the reference's trailing-re-extract contract), the
    old-version key scan partition-prunes — and for changes inside the
    horizon the result is IDENTICAL to the always-safe full scan."""
    from serverless_etl_bi_on_aws_spark.operators.denorm import upsert_sales_denorm

    orders = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    part = load_table(spark, SF, "part")
    key, lkey = F.col("o_orderkey"), F.col("l_orderkey")
    m = (
        orders.filter(F.year("o_orderdate") == 1995)
        .join(li.select(lkey.alias("o_orderkey")).distinct(), "o_orderkey")
        .select("o_orderkey").orderBy("o_orderkey").head()[0]
    )
    mod = orders.filter(key == m)  # same year; lineitems repriced
    mod_li = li.filter(lkey == m).withColumn(
        "l_extendedprice", F.col("l_extendedprice") * 3
    )

    cols = ["o_orderkey", "category", "order_year", "_rev"]

    def final_rows(mutable_years):
        with tempfile.TemporaryDirectory(prefix="denorm_my_") as d:
            path = os.path.join(d, "denorm")
            upsert_sales_denorm(spark, path, orders, li, part)  # bootstrap full
            upsert_sales_denorm(
                spark, path, mod, mod_li, part, mutable_years=mutable_years
            )
            return _rows(spark.read.parquet(path).select(*cols))

    assert final_rows([1995]) == final_rows(None)
