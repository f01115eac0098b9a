"""The workloads: ``llm_curation`` and ``hourly_merge`` (in BENCHMARK.json)
and ``bi_sf1`` (run by hand; perfbench/README.md says why). Each drives the package only through its public
entry points: ``session.get_spark`` (in run.py), the ``plans.queries``
registry, ``streaming.incremental`` and ``streaming.ingest_dedup``.

A workload has ``setup`` (inputs, per-run artifacts and a warm pass),
``ops`` (the timed ops, one closed-loop client), and ``check`` (oracle
comparisons, run after the timed window)."""

from __future__ import annotations

import os
import shutil
import traceback

import duckdb
import numpy as np
import pyarrow as pa

from perfbench import gen
from perfbench.trace import steal_free
from serverless_etl_bi_on_aws_spark.plans.oracles import EXTRA_ORACLE_SQL, ORACLE_SQL
from serverless_etl_bi_on_aws_spark.plans.queries import EXTRA_QUERIES, QUERIES
from tools.compare_oracle import dtype_drift, rowset
from tools.duckdb_baseline import register

ALL_QUERIES = {**QUERIES, **EXTRA_QUERIES}
ALL_ORACLES = {**ORACLE_SQL, **EXTRA_ORACLE_SQL}

BI_QUERIES = (
    "q1_pricing_summary",
    "q2_denorm_customer_orders",
    "q3_sales_by_category",
    "q4_funnel_counts",
    "q5_incremental_window",
    "q8_view_not_buy",
    "q10_top_customers_per_segment",
    "q60_sales_by_category_denorm",
)
#: q12 carries the exact inverted-index Jaccard (explode, shuffle
#: self-join); q80 builds behind eager checkpoints and crosses the Python
#: boundary, as do q44 (Arrow) and q49 (pandas). q13/q81/q82/q121 repeat
#: q12's rungs at two to four times its cost and did not fit the run
#: budget (perfbench/README.md).
LLM_QUERIES = (
    "q12_neardup_jaccard",
    "q80_semantic_dedup_verify",
    "q44_topk_cosine_arrow",
    "q49_media_pixel_stats_jpeg",
)
#: llm_curation corpus size (documents, embedding rows)
LLM_DOCS, LLM_VECS = 2000, 1000

#: hourly_merge: one timed hour per HOUR_S seconds of --seconds (about
#: one hour's latency on 4 cores), and the size of each hour's extracts
HOUR_S = 6.0
HOUR_UPDATES, HOUR_NEW, HOUR_LATE, HOUR_DOCS = 6000, 3000, 3000, 600
#: ids of keys and documents created by the hourly extracts start above
#: every id of the sf1 upsample
NEW_KEY_BASE, NEW_DOC_BASE = 1_000_000_000, 1_000_000_000


class Ctx:
    """What a workload needs from the run: the session, the span recorder,
    the per-run directory and the checkout's seed-free data."""

    def __init__(self, spark, tracer, run_dir: str, data_dir: str, seed: int, seconds: float) -> None:
        self.spark = spark
        self.tracer = tracer
        self.run_dir = run_dir
        self.data_dir = data_dir
        self.seed = seed
        self.seconds = seconds
        self.rng = np.random.default_rng(seed)
        self.notes: list[str] = []

    def group(self, key: str) -> None:
        self.spark.sparkContext.setJobGroup(key, key)


def _tuples(rows) -> list[tuple]:
    return [tuple(r) for r in rows]


def _bytes_under(*roots: str) -> int:
    total = 0
    for root in roots:
        for d, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _file_sizes(*roots: str) -> dict[str, int]:
    out = {}
    for root in roots:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


# --------------------------------------------------------- query streams


class QueryStream:
    """A closed loop over registry queries in rounds: a round is every query
    once, in a seed-shuffled order. The round count follows from
    ``--seconds`` alone (one round per ``round_s``, about one round's
    latency on 4 cores), so every run times the same number of each query
    however fast they go, and the tail is always taken over the same n."""

    round_s = 10.0

    def __init__(self, name: str, queries: tuple[str, ...]) -> None:
        self.name = name
        self.queries = queries
        self.sf_dir = ""
        self.results: dict[str, list] = {}
        self.mismatches: list[str] = []

    def inputs(self, ctx: Ctx) -> str:
        raise NotImplementedError

    def setup(self, ctx: Ctx) -> None:
        with ctx.tracer.span("inputs.gen"):
            self.sf_dir = self.inputs(ctx)
        for q in self.queries:
            with ctx.tracer.span("warm"):
                self.op(ctx, q, f"warm:{q}", keep=False)

    def ops(self, ctx: Ctx) -> list[str]:
        rounds = max(1, round(ctx.seconds / self.round_s))
        return [self.queries[i] for _ in range(rounds) for i in ctx.rng.permutation(len(self.queries))]

    def op(self, ctx: Ctx, q: str, key: str, keep: bool = True) -> float:
        ctx.group(key)
        with ctx.tracer.span("queries.build", key) as build:
            df = ALL_QUERIES[q](ctx.spark, self.sf_dir)
        with ctx.tracer.span("action", key) as action:
            rows = df.collect()
        if keep:
            self._keep(q, df, rows)
        return steal_free(build, action)

    def _keep(self, q: str, df, rows) -> None:
        got = (df.columns, [f.dataType.simpleString() for f in df.schema.fields], _tuples(rows))
        first = self.results.setdefault(q, [got])[0]
        if first is not got and rowset(first[0], first[2]) != rowset(got[0], got[2]):
            self.mismatches.append(f"{q}: result differs between repeats")

    def check(self, ctx: Ctx) -> list[str]:
        bad = list(self.mismatches)
        con = duckdb.connect()
        register(con, self.sf_dir)
        for q, ((cols, types, rows), *_) in sorted(self.results.items()):
            rel = con.sql(ALL_ORACLES[q])
            dcols, drows = rel.columns, rel.fetchall()
            if sorted(cols) != sorted(dcols):
                bad.append(f"{q}: columns {sorted(cols)} vs oracle {sorted(dcols)}")
            elif drift := dtype_drift(cols, types, dcols, rel.types):
                bad.append(f"{q}: dtype drift {drift}")
            elif rowset(cols, rows) != rowset(dcols, drows):
                bad.append(f"{q}: values differ from the oracle")
        con.close()
        return bad


class BiSf1(QueryStream):
    round_s = 8.0

    def __init__(self) -> None:
        super().__init__("bi_sf1", BI_QUERIES)

    def inputs(self, ctx: Ctx) -> str:
        return os.path.join(ctx.data_dir, "sf1")


class LlmCuration(QueryStream):
    def __init__(self) -> None:
        super().__init__("llm_curation", LLM_QUERIES)

    def inputs(self, ctx: Ctx) -> str:
        """The seeded corpus and vectors; the other tables (read by no
        query here, only registered for the oracles) link the base set."""
        out = os.path.join(ctx.run_dir, "llm")
        os.makedirs(out)
        gen.write(gen.docs_only(gen.corpus(ctx.rng, LLM_DOCS)), os.path.join(out, "documents.parquet"))
        gen.write(gen.embeddings(ctx.rng, LLM_VECS), os.path.join(out, "embeddings.parquet"))
        for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"):
            os.symlink(os.path.join(ctx.data_dir, "base", f"{t}.parquet"), os.path.join(out, f"{t}.parquet"))
        return out


# ---------------------------------------------------------- hourly merge


def _progress(query) -> list[dict]:
    return [{"durationMs": dict(p.durationMs), "numInputRows": p.numInputRows} for p in query.recentProgress]


class HourlyMerge:
    """The reference's EP1 write path plus the ingest-dedup loop. Set-up
    backfills the sf1 orders as generation 1; each hour lands one orders
    extract and one documents extract, drains both streams and reads back
    one BI aggregate and the survivor count. The hour count follows from
    ``--seconds`` alone, not from how fast the hours run: the table and the
    index grow with every hour, so a faster commit must not be handed
    costlier hours."""

    name = "hourly_merge"
    READBACK_SQL = (
        "SELECT o_orderstatus, COUNT(*) AS n_orders, "
        "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents "
        "FROM {} GROUP BY o_orderstatus ORDER BY o_orderstatus"
    )

    def setup(self, ctx: Ctx) -> None:
        from serverless_etl_bi_on_aws_spark.operators.dedup_index import init_minhash_index

        r = ctx.run_dir
        self.land_orders, self.land_docs = f"{r}/land/orders", f"{r}/land/docs"
        self.target, self.index, self.clean = f"{r}/store/orders", f"{r}/store/index", f"{r}/store/clean"
        self.ckpt_orders, self.ckpt_docs = f"{r}/store/ckpt_orders", f"{r}/store/ckpt_docs"
        self.roots = (self.target, self.index, self.clean, self.ckpt_orders, self.ckpt_docs)
        os.makedirs(self.land_orders)
        os.makedirs(self.land_docs)
        self.hour = 0
        self.next_key, self.next_doc = NEW_KEY_BASE, NEW_DOC_BASE
        self.pool: list[np.ndarray] = []
        self.mismatches: list[str] = []
        self.per_hour: list[dict] = []
        self.orders_schema = self.docs_schema = None

        with ctx.tracer.span("inputs.gen"):
            src = os.path.join(ctx.data_dir, "sf1", "orders.parquet")
            self.oracle = duckdb.connect()
            self.oracle.execute(f"CREATE TABLE live AS SELECT * FROM read_parquet('{src}/*.parquet')")
            for f in sorted(os.listdir(src)):
                shutil.copyfile(os.path.join(src, f), os.path.join(self.land_orders, f"h0000-{f}"))
            gen.write(self._docs_extract(ctx), f"{self.land_docs}/h0000.parquet")
        init_minhash_index(self.index)
        # the warm pass: backfill and the first documents drain both
        # streams and the read-back runs once; then one hour as timed, since
        # the first hour after the backfill runs ~30% slower than later ones
        ctx.group("warm:backfill")
        with ctx.tracer.span("warm"):
            self._drain_orders(ctx)
            self._drain_docs(ctx)
            self._readback(ctx)
            self.op(ctx, "hour", "warm:hour", keep=False)

    def ops(self, ctx: Ctx) -> list[str]:
        return ["hour"] * max(1, round(ctx.seconds / HOUR_S))

    # -- one hour

    def _docs_extract(self, ctx: Ctx) -> pa.Table:
        docs = gen.corpus(ctx.rng, HOUR_DOCS, self.next_doc, self.pool)
        self.next_doc += HOUR_DOCS
        self.pool.extend(np.asarray(t) for t in docs.column("_tokens").to_pylist())
        return gen.docs_only(docs)

    def _orders_extract(self, ctx: Ctx) -> pa.Table:
        window = self.oracle.execute(
            "SELECT * FROM live WHERE o_orderdate >= "
            "(SELECT max(o_orderdate) - INTERVAL 3 MONTH FROM live) ORDER BY o_orderkey"
        ).arrow()
        orders = gen.orders_extract(ctx.rng, window, self.next_key, HOUR_UPDATES, HOUR_NEW, HOUR_LATE)
        self.next_key += HOUR_NEW
        return orders

    def _readback(self, ctx: Ctx) -> tuple[list[tuple], int]:
        from serverless_etl_bi_on_aws_spark.streaming.incremental import read_generation_target

        read_generation_target(ctx.spark, self.target).createOrReplaceTempView("live_orders")
        agg = _tuples(ctx.spark.sql(self.READBACK_SQL.format("live_orders")).collect())
        return agg, ctx.spark.read.parquet(self.clean).count()

    def _drain_orders(self, ctx: Ctx):
        from serverless_etl_bi_on_aws_spark.streaming.incremental import start_incremental_merge

        if self.orders_schema is None:
            self.orders_schema = ctx.spark.read.parquet(self.land_orders).schema
        q = start_incremental_merge(
            ctx.spark, self.land_orders, self.target, ["o_orderkey"], self.orders_schema,
            self.ckpt_orders, generations=True,
        )
        q.awaitTermination()
        return q

    def _drain_docs(self, ctx: Ctx):
        from serverless_etl_bi_on_aws_spark.streaming.ingest_dedup import start_incremental_dedup

        if self.docs_schema is None:
            self.docs_schema = ctx.spark.read.parquet(self.land_docs).schema
        q = start_incremental_dedup(
            ctx.spark, self.land_docs, self.index, self.clean, self.docs_schema, self.ckpt_docs
        )
        q.awaitTermination()
        return q

    def op(self, ctx: Ctx, name: str, key: str, keep: bool = True) -> float:
        from serverless_etl_bi_on_aws_spark.operators.snapshot import resolve_generation

        self.hour += 1
        orders, docs = self._orders_extract(ctx), self._docs_extract(ctx)
        stage = os.path.join(ctx.run_dir, "stage")
        gen.write(orders, f"{stage}/orders.parquet")
        gen.write(docs, f"{stage}/docs.parquet")
        landed = os.path.getsize(f"{stage}/orders.parquet") + os.path.getsize(f"{stage}/docs.parquet")
        before = _file_sizes(*self.roots)
        ctx.group(key)
        with ctx.tracer.span("hour", key) as span:
            os.rename(f"{stage}/orders.parquet", f"{self.land_orders}/h{self.hour:04d}.parquet")
            os.rename(f"{stage}/docs.parquet", f"{self.land_docs}/h{self.hour:04d}.parquet")
            with ctx.tracer.span("stream.orders", key):
                qo = self._drain_orders(ctx)
            with ctx.tracer.span("stream.docs", key):
                qd = self._drain_docs(ctx)
            with ctx.tracer.span("readback", key):
                agg, survivors = self._readback(ctx)
        if keep:
            after = _file_sizes(*self.roots)
            live = _bytes_under(os.path.join(resolve_generation(self.target), "data"), self.clean)
            self.per_hour.append({
                "key": key,
                "run_ids": [str(qo.runId), str(qd.runId)],
                "progress": _progress(qo) + _progress(qd),
                "staged_rows": orders.num_rows + docs.num_rows,
                "landed_bytes": landed,
                "new_bytes": sum(s for p, s in after.items() if before.get(p) != s),
                "new_files": sum(1 for p, s in after.items() if before.get(p) != s),
                "store_bytes": sum(after.values()),
                "space_amp": _bytes_under(self.target, self.index, self.clean) / live,
                "survivors": survivors,
                "latency": steal_free(span, span),
            })
        # last-writer-wins replay of the extract into the oracle table
        ext = orders  # noqa: F841 - read by DuckDB's replacement scan
        self.oracle.execute("DELETE FROM live WHERE o_orderkey IN (SELECT o_orderkey FROM ext)")
        self.oracle.execute("INSERT INTO live SELECT * FROM ext")
        want = self.oracle.execute(self.READBACK_SQL.format("live")).fetchall()
        if agg != want:
            self.mismatches.append(f"{key}: read-back {agg} vs replay {want}")
        return steal_free(span, span)

    def check(self, ctx: Ctx) -> list[str]:
        from pyspark.sql import functions as F

        from serverless_etl_bi_on_aws_spark.operators.dedup import neardup_minhash_lsh
        from serverless_etl_bi_on_aws_spark.operators.snapshot import resolve_generation

        bad = list(self.mismatches)
        live = os.path.join(resolve_generation(self.target), "data")
        diff = self.oracle.execute(
            f"SELECT count(*) FROM ((SELECT * FROM read_parquet('{live}/*.parquet') EXCEPT ALL SELECT * FROM live) "
            f"UNION ALL (SELECT * FROM live EXCEPT ALL SELECT * FROM read_parquet('{live}/*.parquet')))"
        ).fetchone()[0]
        if diff:
            bad.append(f"live generation differs from the replay in {diff} rows")
        ctx.group("check:oneshot")
        docs = ctx.spark.read.parquet(self.land_docs).select("doc_id", "text")
        dropped = neardup_minhash_lsh(docs).select(F.col("id_2").alias("doc_id")).distinct()
        want = {r[0] for r in docs.join(dropped, "doc_id", "left_anti").select("doc_id").collect()}
        got = {r[0] for r in ctx.spark.read.parquet(self.clean).select("doc_id").collect()}
        if got != want:
            bad.append(f"survivors {len(got)} vs one-shot dedup {len(want)} ({len(got ^ want)} differ)")
        ctx.notes.append(
            f"documents landed {docs.count()}, survivors {len(got)}, one-shot {len(want)}"
        )
        self.oracle.close()
        return bad


WORKLOADS = {"bi_sf1": BiSf1, "llm_curation": LlmCuration, "hourly_merge": HourlyMerge}


def run_ops(ctx: Ctx, workload) -> tuple[list[tuple[str, str, float]], int]:
    """The timed window: the workload's ops, in order. Returns ``(key, op
    name, latency)`` per successful op and the number of ops that raised."""
    done: list[tuple[str, str, float]] = []
    failed = 0
    for i, name in enumerate(workload.ops(ctx)):
        key = f"pb:{i}:{name}"
        try:
            done.append((key, name, workload.op(ctx, name, key)))
        except Exception:  # noqa: BLE001 - one op failing must not end the run
            failed += 1
            traceback.print_exc()
    return done, failed
