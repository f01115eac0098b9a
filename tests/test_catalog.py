"""Catalog layer (S6): temp-view and persistent-table registration — the
crawler → Data Catalog → query-by-name path, plus the federation story
(warehouse and event tables joinable in one SQL statement, J5)."""

from __future__ import annotations

from serverless_etl_bi_on_aws_spark.catalog import (
    register_as_catalog_tables,
    register_tables,
)

from tests.conftest import SF_SMOKE


def test_register_tables_and_query_by_name(spark):
    register_tables(spark, SF_SMOKE)
    out = spark.sql(
        """
        SELECT o.o_orderstatus, count(*) AS n
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_orderstatus
        """
    ).collect()
    assert sum(r.n for r in out) == 1500


def test_federated_join_warehouse_x_events(spark):
    """J5 (README.md:92-94): the Redshift-Spectrum federation collapses to a
    plain join once both sides live in one catalog."""
    register_tables(spark, SF_SMOKE)
    out = spark.sql(
        """
        SELECT c.c_mktsegment, count(*) AS n_events
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_mktsegment
        """
    ).collect()
    assert sum(r.n_events for r in out) == 1000


def test_register_as_catalog_tables(spark):
    register_as_catalog_tables(spark, SF_SMOKE, database="dwh_t")
    n = spark.sql("SELECT count(*) AS n FROM dwh_t.region").collect()[0].n
    assert n == 5
    assert spark.catalog.tableExists("dwh_t.lineitem")


def test_ntz_fixture_normalized_to_timestamp(spark, tmp_path):
    """Round-5 regression pin: a fixture written with timestamp[us] and NO
    timezone (which Spark 4 reads as TIMESTAMP_NTZ by default) must come
    out of the catalog as plain TIMESTAMP with identical wall-clock
    values, so unix_micros/window/withWatermark all analyze. This is the
    exact drift that broke 7 driver queries and 22 tests in round 5."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from serverless_etl_bi_on_aws_spark.catalog import load_table

    sf = str(tmp_path)
    ts = [
        datetime.datetime(2001, 3, 1, 12, 0, 0),
        datetime.datetime(2001, 3, 2, 3, 30, 45, 123456),
    ]
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),  # NO timezone -> NTZ
        }
    )
    pq.write_table(table, f"{sf}/events.parquet")
    df = load_table(spark, sf, "events")
    assert df.schema["ts"].dataType.typeName() == "timestamp", df.schema
    got = [r.us for r in df.select(F.unix_micros("ts").alias("us")).orderBy("event_id").collect()]
    want = [int(t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000) for t in ts]
    assert got == want
    # event-time ops that reject NTZ must analyze and run
    assert df.groupBy(F.window("ts", "6 hours")).count().count() == 2


def test_concurrent_cold_loads_share_one_frame_and_restore_conf(spark, tmp_path):
    """Plans build on concurrent driver threads (test_plans runs 12): cold
    loads of a TIMESTAMP(NANOS) table must not interleave the
    session-global nanosAsLong set/unset (a read with the conf already
    unset throws; an unset lost to a racing set leaks it), and every
    thread must get the one cached DataFrame."""
    import datetime
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow as pa
    import pyarrow.parquet as pq

    from serverless_etl_bi_on_aws_spark import catalog

    sf = str(tmp_path)
    ts = [datetime.datetime(2001, 3, 1, 12, 0, 0, 123456)]
    pq.write_table(
        pa.table({"event_id": pa.array([1], pa.int64()),
                  "ts": pa.array(ts, pa.timestamp("ns"))}),
        f"{sf}/events.parquet",
    )
    catalog._TABLE_CACHE.clear()
    start = threading.Barrier(8, timeout=60)

    def load(_):
        start.wait()
        return catalog.load_table(spark, sf, "events")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            frames = list(pool.map(load, range(8), timeout=120))
    finally:
        sys.setswitchinterval(interval)
    assert all(df is frames[0] for df in frames)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) is None
    assert frames[0].schema["ts"].dataType.typeName() == "timestamp"
