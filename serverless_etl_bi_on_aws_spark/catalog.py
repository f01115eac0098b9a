"""Catalog layer: the Glue-crawler / Data-Catalog analog.

The reference points Glue crawlers at S3 prefixes; the crawler infers the
schema and registers a table that Athena/Redshift-Spectrum can query
(README.md:10, 38, 78-83, 92-94). In Spark the entire federation story
collapses into one catalog: every parquet dataset becomes a (temp) view or a
saved table in the same SparkSession, and the Redshift-vs-Athena split
(README.md:92-94's external schema) is a no-op — a join between "warehouse"
and "event" tables is just ``df.join``.
"""

from __future__ import annotations

import threading
from contextlib import nullcontext

from pyspark.sql import DataFrame, SparkSession, functions as F

from serverless_etl_bi_on_aws_spark.util import scoped_conf

#: Every fixture table the driver generates (TESTDATA.md). The first seven are
#: the transactional star schema (README.md:113-114's customer/orders/product
#: domain); events is the funnel table (README.md:160-166); documents and
#: embeddings serve the LLM-pipeline extension operators.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: (session id, sf_dir, name) -> DataFrame. A registered table is immutable
#: catalog state; caching the DataFrame shares the scan's InMemoryFileIndex
#: and schema across queries instead of re-reading footers per query build.
_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}

#: Serializes cache misses: plans build on concurrent driver threads, and
#: two cold loads of one table must share one frame. A cold load's
#: ``nanosAsLong`` set/restore (``util.scoped_conf``) takes the conf lock
#: inside this one; the lock order is always this lock, then the conf lock.
_LOAD_LOCK = threading.Lock()

_NANOS_KEY = "spark.sql.legacy.parquet.nanosAsLong"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (cached per session). Plain parquet scan:
    vectorized reader, column pruning and filter pushdown are Catalyst
    built-ins.

    Spark (unlike DuckDB/Arrow) refuses parquet TIMESTAMP(NANOS) columns
    outright; the fixture ``events.ts`` is timestamp[ns]. Fallback: re-read
    with ``spark.sql.legacy.parquet.nanosAsLong`` and rebuild the column as
    a microsecond timestamp with exact integer arithmetic (``div 1000`` —
    never float division: epoch-nanos exceed 2^53). Truncation matches how
    DuckDB narrows ns -> us.
    """
    key = (id(spark), sf_dir, name)
    with _LOAD_LOCK:
        df = _TABLE_CACHE.get(key)
        if df is None:
            df = _TABLE_CACHE[key] = _load_table_uncached(spark, sf_dir, name)
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Pin the session to UTC: fixture timestamps are wall-clock-naive (like
    # the reference warehouse), and every date-part derivation / oracle
    # comparison assumes UTC. Without this, a driver session in another zone
    # shifts year()/month() across month boundaries (observed under
    # TZ=America/New_York). Runtime conf — safe to set on a live session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # The engine owns its event-time type: fixture writers have emitted both
    # timestamp[ns] and timestamp[us]-without-tz over the driver's lifetime,
    # and Spark 4.x reads the latter as TIMESTAMP_NTZ by default (which
    # unix_micros/window/withWatermark reject). Pin inference off here too
    # (get_spark sets it at build, but catalog may be handed a foreign
    # session), and cast any NTZ column that still slips through below.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = f"{sf_dir}/{name}.parquet"
    ns_cols = _ns_timestamp_cols(path)
    if not ns_cols:
        return _normalize_event_time(spark.read.parquet(path))
    # Under nanosAsLong the ns columns arrive as bigint; rebuild them as
    # microsecond timestamps with exact integer arithmetic (``div 1000`` —
    # epoch-nanos exceed 2^53, float division would corrupt). Truncation
    # matches DuckDB's ns -> us narrowing. The conf is consulted at read()
    # time (schema conversion), so it is restored immediately: a later raw
    # spark.read.parquet of nanos data in the same session fails loudly
    # instead of silently yielding bigint columns.
    with scoped_conf(spark, _NANOS_KEY, "true"):
        df = spark.read.parquet(path)
    for col in ns_cols:
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return _normalize_event_time(df)


def _normalize_event_time(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP (session tz is pinned UTC,
    so the wall-clock values are unchanged). Event-time operators —
    unix_micros, F.window, withWatermark — all require TIMESTAMP; declaring
    the type at the catalog boundary means no operator inherits whatever the
    fixture writer happened to emit."""
    from pyspark.sql import types as T

    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    for col in ntz:
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _ns_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — one local footer read.
    (Arrow handles ns natively; Spark needs the legacy-long workaround.)"""
    import pyarrow.parquet as pq

    try:
        schema = pq.read_schema(path.removeprefix("file:"))
    except Exception:  # noqa: BLE001 - non-local path: let Spark handle it
        return []
    return [f.name for f in schema if str(f.type) == "timestamp[ns]"]


def register_tables(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register every fixture as a temp view — the crawler-run analog.

    Temp views are lazy: registration costs one footer read, and each query
    still gets full pushdown/pruning because the view is just a named scan.
    """
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def register_as_catalog_tables(
    spark: SparkSession, sf_dir: str, database: str = "dwh", tables: tuple[str, ...] = TABLES
) -> None:
    """Persistent-catalog variant (``saveAsTable`` of external parquet):
    the closer analog to crawler -> Data Catalog when a Hive/Glue metastore
    is attached. Uses CREATE TABLE ... USING parquet LOCATION so no data is
    copied.

    TIMESTAMP(NANOS) columns: the legacy nanosAsLong conf is scoped to the
    CREATE statement (the catalog freezes the crawl-time schema, so later
    reads don't need it); such columns surface as epoch-nanos bigint in this
    raw-catalog path — the curated path (:func:`load_table`) rebuilds them
    as timestamps."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    for name in tables:
        path = f"{sf_dir}/{name}.parquet"
        nanos = _ns_timestamp_cols(path)
        with scoped_conf(spark, _NANOS_KEY, "true") if nanos else nullcontext():
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {database}.{name} USING parquet "
                f"LOCATION '{path}'"
            )
