"""Bucketed co-located joins, the binned range join, and the Delta gate.

Scale contracts checked here:
  * bucketed tables joined on their bucket keys plan NO Exchange — the
    write-once shuffle is actually reused;
  * the binned range join agrees row-for-row with the naive nested-loop
    interval join and plans an equi (hash/broadcast) join, not a
    BroadcastNestedLoopJoin;
  * the transactional-format gate reports honestly and its fallback merge
    produces correct upsert results.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from serverless_etl_bi_on_aws_spark.catalog import load_table
from serverless_etl_bi_on_aws_spark.operators.bucketed import (
    colocated_join,
    write_bucketed_table,
)
from serverless_etl_bi_on_aws_spark.operators.range_join import range_join_binned
from serverless_etl_bi_on_aws_spark.sources import delta_gate

from tests.conftest import SF_SMOKE


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark):
    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    write_bucketed_table(orders, "bkt_orders", "o_custkey", 8)
    write_bucketed_table(customer, "bkt_customer", "c_custkey", 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # Force SMJ so the assertion targets the shuffle, not broadcast.
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = colocated_join(
            spark, "bkt_orders", "bkt_customer", "o_custkey", "c_custkey"
        )
        n = joined.count()
        plan = _executed_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join re-shuffled"
        # Same result as the plain (shuffling) join.
        expected = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
        assert n == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_orders")
        spark.sql("DROP TABLE IF EXISTS bkt_customer")


def test_range_join_matches_naive_and_plans_equi(spark):
    ev = load_table(spark, SF_SMOKE, "events")
    incidents = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("t0"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t1"),
    )
    obs = ev.select(F.col("event_id").alias("obs_id"), F.col("ts").alias("obs_ts"))

    binned = range_join_binned(
        obs, incidents, "obs_ts", "t0", "t1", bin_seconds=1800
    ).select("obs_id", "incident_id")
    naive = obs.join(
        incidents,
        (F.col("obs_ts") >= F.col("t0")) & (F.col("obs_ts") < F.col("t1")),
    ).select("obs_id", "incident_id")

    got = sorted(map(tuple, binned.collect()))
    want = sorted(map(tuple, naive.collect()))
    assert got == want and len(want) > 0

    plan = _executed_plan(binned)
    assert "BroadcastNestedLoopJoin" not in plan, "range join fell back to NLJ"
    assert "Join" in plan


def test_range_join_bin_width_invariance(spark):
    # Bins much smaller / larger than the interval must not change results.
    ev = load_table(spark, SF_SMOKE, "events")
    iv = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("iv_id"),
        F.col("ts").alias("t0"),
        (F.col("ts") + F.expr("INTERVAL 7 MINUTES")).alias("t1"),
    )
    obs = ev.select(F.col("event_id").alias("obs_id"), F.col("ts").alias("obs_ts"))
    results = [
        sorted(
            map(
                tuple,
                range_join_binned(obs, iv, "obs_ts", "t0", "t1", bin_seconds=w)
                .select("obs_id", "iv_id")
                .collect(),
            )
        )
        for w in (60, 420, 86_400)
    ]
    assert results[0] == results[1] == results[2]


def test_deterministic_split_is_stable_and_partition_invariant(spark):
    from serverless_etl_bi_on_aws_spark.operators.sampling import deterministic_split

    docs = load_table(spark, SF_SMOKE, "documents")
    a = {
        (r.doc_id, r.split)
        for r in deterministic_split(docs, "doc_id").select("doc_id", "split").collect()
    }
    # Same assignment regardless of physical layout (randomSplit's failure mode).
    b = {
        (r.doc_id, r.split)
        for r in deterministic_split(docs.repartition(13), "doc_id")
        .select("doc_id", "split")
        .collect()
    }
    assert a == b
    frac_train = sum(1 for _, s in a if s == "train") / len(a)
    assert 0.7 < frac_train < 0.9  # ~80% by construction


def test_stratified_sample_respects_fractions(spark):
    from serverless_etl_bi_on_aws_spark.operators.sampling import stratified_sample

    docs = load_table(spark, SF_SMOKE, "documents")
    fr = {"en": 0.5, "de": 0.1}
    sampled = stratified_sample(docs, "lang", fr)
    got = {r.lang: r.n for r in sampled.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    base = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert set(got) <= set(fr)  # unlisted strata dropped
    for lang, f in fr.items():
        assert got.get(lang, 0) <= base[lang]
        # Bernoulli tolerance: ±4 sigma
        import math

        sigma = math.sqrt(base[lang] * f * (1 - f))
        assert abs(got.get(lang, 0) - base[lang] * f) < 4 * sigma + 1


def test_delta_gate_fallback_merge(spark, tmp_path):
    # This image has no delta-spark; the gate must say so and fall back.
    assert delta_gate.delta_available() is False
    target = str(tmp_path / "tgt")
    base = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit("old").alias("v")
    )
    which = delta_gate.merge_upsert_target(spark, base, target, ["k"])
    assert which == "parquet"
    staged = spark.range(5, 15).select(
        F.col("id").alias("k"), F.lit("new").alias("v")
    )
    which = delta_gate.merge_upsert_target(spark, staged, target, ["k"])
    assert which == "parquet"
    from serverless_etl_bi_on_aws_spark.streaming.incremental import (
        read_generation_target,
    )

    rows = {(r.k, r.v) for r in read_generation_target(spark, target).collect()}
    assert rows == {(i, "old") for i in range(5)} | {(i, "new") for i in range(5, 15)}


def test_bucketed_append_preserves_colocated_join(spark):
    """Incremental ingest into the bucketed rung of the layout ladder:
    appending a delta batch keeps the bucket layout — the co-located
    join stays Exchange-free and returns base+delta results; a
    mismatched bucket spec fails loudly instead of silently degrading
    the layout."""
    import pytest

    from serverless_etl_bi_on_aws_spark.operators.bucketed import (
        append_to_bucketed_table,
    )
    from pyspark.sql import functions as F

    orders = load_table(spark, SF_SMOKE, "orders")
    customer = load_table(spark, SF_SMOKE, "customer")
    mid = orders.agg(F.max("o_orderkey")).head()[0] // 2
    base = orders.filter(F.col("o_orderkey") <= mid)
    delta = orders.filter(F.col("o_orderkey") > mid)
    write_bucketed_table(base, "bkt_orders_inc", "o_custkey", 8)
    write_bucketed_table(customer, "bkt_customer_inc", "c_custkey", 8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        append_to_bucketed_table(delta, "bkt_orders_inc", "o_custkey", 8)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = colocated_join(
            spark, "bkt_orders_inc", "bkt_customer_inc", "o_custkey", "c_custkey"
        )
        n = joined.count()
        plan = _executed_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "append degraded the bucketed layout"
        expected = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
        assert n == expected
        # mismatched spec: loud failure, never a silent layout downgrade
        with pytest.raises(Exception, match="(?i)bucket"):
            append_to_bucketed_table(delta, "bkt_orders_inc", "o_custkey", 16)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_orders_inc")
        spark.sql("DROP TABLE IF EXISTS bkt_customer_inc")
