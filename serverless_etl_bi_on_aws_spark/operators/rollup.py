"""Incremental materialized rollup — the write-once layout for scan-bound
aggregation (SURVEY §2.4 A-series at scale).

The reference's answer to per-query CPU cost is to materialize work away at
write time (README.md:113 denormalizes "to reduce the load on CPU"); the
bucketed tables in operators/bucketed.py are that move for JOIN cost, and
this module is the same move for SCAN+AGGREGATE cost. A pricing-summary
query (q1) over raw lineitem pays ~N per run; rolled up to one row per
(group keys, ship day) it pays ~N ONCE at ingest and O(days x groups) per
query forever after — the marginal per-row cost of the recurring workload
drops to ~0, which is exactly what the sf1->sf10 slope tier measures.

Correctness contract: every additive aggregate is carried as an EXACT
scaled-long partial (the same scheme plans/queries.q1 uses inside a single
query), so re-aggregating rollup rows is associative — the final cent is
identical no matter how rows were split between build-time and query-time
summation. Averages divide exact long sums at the end. The rollup therefore
cannot change q1's values, and q47 shares q1's DuckDB oracle verbatim.

Granularity: keyed by ``ship_date`` (DATE). The fixture's ``l_shipdate`` is
date-granular (all midnight — asserted cheaply at build via an intraday
counter column), so any midnight timestamp cutoff maps exactly to a date
cutoff. Partitioned by ``ship_year`` on disk: the unit of incremental
maintenance (``upsert_pricing_rollup`` rewrites only the years a delta
touches via dynamic partition overwrite) and of pruning for bounded scans.

At 100 TB: the rollup is days x groups rows (~10^4-10^5) regardless of fact
size; the build is one map-side-combined groupBy (shuffle carries one row
per group per input partition), and maintenance is per-ingest-batch deltas
merged into the touched year partitions only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

#: additive partial columns carried by the rollup (all exact scaled longs)
_PARTIALS = ("qty_e2", "base_e2", "ds_e4", "chh", "chl", "disc_e2", "cnt", "intraday")
_KEYS = ("l_returnflag", "l_linestatus", "ship_date", "ship_year")


def build_pricing_rollup(lineitem: DataFrame) -> DataFrame:
    """Roll lineitem up to one row per (returnflag, linestatus, ship day)
    with exact scaled-long partial sums for every q1 aggregate.

    2dp x 2dp (x 2dp) money products are exact 4dp (6dp) values recovered
    as longs via floor(x*scale + 0.5) — see the overflow-window notes on
    plans/queries.q1; the charge partial is split into integer/fraction
    sums so each long survives ~1e11 rows per group."""
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge_e6 = F.floor(disc_price * (1 + F.col("l_tax")) * 1000000 + 0.5)
    charge_lo = charge_e6 % 1000000
    charge_hi = ((charge_e6 - charge_lo) / 1000000).cast("long")
    ship_date = F.to_date("l_shipdate")
    return (
        lineitem.groupBy(
            "l_returnflag",
            "l_linestatus",
            ship_date.alias("ship_date"),
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.sum(F.floor(F.col("l_quantity") * 100 + 0.5)).alias("qty_e2"),
            F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5)).alias("base_e2"),
            F.sum(F.floor(disc_price * 10000 + 0.5)).alias("ds_e4"),
            F.sum(charge_hi).alias("chh"),
            F.sum(charge_lo).alias("chl"),
            F.sum(F.floor(F.col("l_discount") * 100 + 0.5)).alias("disc_e2"),
            F.count("*").alias("cnt"),
            # date-granularity guard: rows whose shipdate has a time-of-day
            # component; a nonzero count means a date-keyed cutoff is NOT
            # exact for this data and the caller must not serve day-bounded
            # timestamp predicates from this rollup
            F.sum(
                (F.col("l_shipdate") != ship_date.cast("timestamp")).cast("long")
            ).alias("intraday"),
        )
    )


def pricing_summary_from_rollup(rollup: DataFrame, cutoff_date: str) -> DataFrame:
    """q1's exact output served from the rollup: filter days, re-sum the
    exact partials, round cents integer-side — identical values to the raw
    scan at any split of rows between build and query aggregation."""
    agg = (
        rollup.filter(F.col("ship_date") <= F.lit(cutoff_date).cast("date"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("qty_e2").alias("_q"),
            F.sum("base_e2").alias("_b"),
            F.sum("ds_e4").alias("_ds"),
            F.sum("chh").alias("_chh"),
            F.sum("chl").alias("_chl"),
            F.sum("disc_e2").alias("_d"),
            F.sum("cnt").alias("count_order"),
        )
    )
    return (
        agg.select(
            "l_returnflag",
            "l_linestatus",
            F.round(F.col("_q").cast("double") / 100, 2).alias("sum_qty"),
            F.round(F.col("_b").cast("double") / 100, 2).alias("sum_base_price"),
            (F.expr("(_ds + 50) DIV 100").cast("double") / 100).alias("sum_disc_price"),
            ((F.col("_chh") * 100 + F.expr("(_chl + 5000) DIV 10000")).cast("double") / 100)
            .alias("sum_charge"),
            F.round(F.col("_q").cast("double") / 100 / F.col("count_order"), 4)
            .alias("avg_qty"),
            F.round(F.col("_b").cast("double") / 100 / F.col("count_order"), 4)
            .alias("avg_price"),
            F.round(F.col("_d").cast("double") / 100 / F.col("count_order"), 4)
            .alias("avg_disc"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def upsert_pricing_rollup(
    spark: SparkSession, rollup_path: str, delta_lineitem: DataFrame
) -> None:
    """Incremental maintenance: merge a delta batch of lineitem rows into an
    existing rollup, rewriting ONLY the year partitions the delta touches
    (dynamic partition overwrite — the other years' files are untouched).

    Merge = union the stored partials for the touched years with the
    delta's partials and re-sum per key; associativity of the exact longs
    makes upsert(rollup(A), B) == rollup(A u B) (property-tested)."""
    delta = build_pricing_rollup(delta_lineitem)
    years = [r[0] for r in delta.select("ship_year").distinct().collect()]
    if not years:
        return
    existing = (
        spark.read.parquet(rollup_path)
        .filter(F.col("ship_year").isin(years))
        .select(*_KEYS, *_PARTIALS)
    )
    merged = (
        existing.unionByName(delta.select(*_KEYS, *_PARTIALS))
        .groupBy(*_KEYS)
        .agg(*[F.sum(c).alias(c) for c in _PARTIALS])
    )
    # Materialize BEFORE the overwrite: the plan above lazily reads the same
    # path it is about to dynamic-partition-overwrite, and which side the
    # committer touches first is committer-defined — a mid-commit failure
    # would corrupt the touched year partitions while the scan is still
    # live. localCheckpoint cuts the lineage so the write's input is a
    # driver/executor-held snapshot, not the on-disk files being replaced.
    # (On a cluster with a transactional table format this is the MERGE
    # INTO snapshot-isolation guarantee; plain parquet needs it by hand.)
    merged = merged.localCheckpoint(eager=True)
    (merged.repartition(1, "ship_year").write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("ship_year").parquet(rollup_path))


def ensure_pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent build of the pricing rollup for a fixture dir: one fixed
    location per ``sf_dir`` + current lineitem DATA (util.fixture_digest —
    a fixture refresh is a cache miss, not a stale hit) under the system
    temp dir, built once (parquet _SUCCESS gate) and reread ever after —
    the same write-once discipline as q46's bucket build."""
    from serverless_etl_bi_on_aws_spark.catalog import load_table
    from serverless_etl_bi_on_aws_spark.util import artifact_dir, fixture_digest, parquet_once

    digest = fixture_digest(sf_dir, ("lineitem",))[:8]
    path = artifact_dir(f"spark_graft_rollup_{digest}")
    # one file per year partition: the rollup is tiny, the scan of it
    # should be one task per touched year, not one per build task
    parquet_once(
        path,
        lambda p: build_pricing_rollup(load_table(spark, sf_dir, "lineitem"))
        .repartition(1, "ship_year")
        .write.mode("overwrite")
        .partitionBy("ship_year")
        .parquet(p),
    )
    return spark.read.parquet(path)
