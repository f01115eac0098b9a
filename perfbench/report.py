"""Turns a run's latencies, spans and parsed event log into the printed
metrics: the end-to-end set (untraced run), the per-layer set and per-op
table (traced run), and a readable summary on stderr."""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench import stats

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "1/s"}

#: per-op layer counters, summed over the timed ops and reported per op
ADDITIVE = {
    "queries.build_s": "s", "queries.build_jobs": "count", "driver.plan_s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "scan.bytes_read": "bytes", "scan.rows_read": "count",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes", "spill.bytes": "bytes",
    "generate.rows": "count", "lsh.candidates": "count", "lsh.verified": "count",
    "python.stages": "count", "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "python.task_s": "s",
    "stream.trigger_s": "s", "stream.add_batch_s": "s", "stream.list_s": "s", "stream.wal_s": "s",
    "stream.input_rows": "count", "stream.batches": "count",
    "persist.bytes_written": "bytes", "persist.files_written": "count", "index.append_s": "s",
}
#: whole-run layer metrics
SINGLE = {
    "session.start_s": "s", "inputs.gen_s": "s", "warm.first_op_s": "s",
    "queries.build_share": "ratio", "exec.busy_frac": "ratio", "lsh.useful_ratio": "ratio",
    "store.bytes_live": "bytes", "persist.write_amp": "ratio", "persist.space_amp": "ratio",
    "stream.staged_rows_per_s": "1/s",
    "proc.driver_rss_mb": "MB", "proc.worker_rss_mb": "MB",
    "trace.op_p50_s": "s", "trace.overhead_s": "s",
}
LAYER_UNITS = {**ADDITIVE, **SINGLE}

#: event-log counters (trace.parse_event_log keys) -> layer metric, scale
FROM_LOG = {
    "jobs": ("sched.jobs", 1), "stages": ("sched.stages", 1), "tasks": ("sched.tasks", 1),
    "run_ms": ("exec.run_s", 1e-3), "cpu_ns": ("exec.cpu_s", 1e-9), "gc_ms": ("exec.gc_s", 1e-3),
    "scan_bytes": ("scan.bytes_read", 1), "scan_rows": ("scan.rows_read", 1),
    "shuffle_write": ("shuffle.write_bytes", 1), "shuffle_read": ("shuffle.read_bytes", 1),
    "spill": ("spill.bytes", 1), "generate_rows": ("generate.rows", 1),
    "lsh_candidates": ("lsh.candidates", 1), "lsh_verified": ("lsh.verified", 1),
    "py_stages": ("python.stages", 1), "py_sent": ("python.bytes_sent", 1),
    "py_recv": ("python.bytes_received", 1), "py_run_ms": ("python.task_s", 1e-3),
    "out_bytes": ("persist.bytes_written", 1), "files_written": ("persist.files_written", 1),
    "index_append_ms": ("index.append_s", 1e-3),
}
#: StreamingQueryProgress.durationMs keys -> layer metric
FROM_PROGRESS = {
    "triggerExecution": "stream.trigger_s", "addBatch": "stream.add_batch_s",
    "latestOffset": "stream.list_s", "walCommit": "stream.wal_s", "commitOffsets": "stream.wal_s",
}


@dataclass
class Run:
    workload: object
    tracer: object
    done: list[tuple[str, str, float]]
    failed: int
    bad: list[str]
    notes: list[str]
    setup_s: float
    build_s: float
    rss: dict[str, float]
    cores: int
    hours: list[dict] = field(init=False)

    def __post_init__(self) -> None:
        self.hours = list(getattr(self.workload, "per_hour", []))
        if not self.done:
            raise RuntimeError(f"no op of {self.workload.name} completed")

    @property
    def latencies(self) -> list[float]:
        return [lat for _, _, lat in self.done]


def _untraced_record(bench_dir: str, workload: str) -> str:
    return os.path.join(bench_dir, ".runs", f"untraced-{workload}.json")


def end_to_end(run: Run, bench_dir: str) -> dict:
    lat = run.latencies
    _, tail = stats.tail(lat)
    vals = {
        "setup_s": run.setup_s,
        "op_p50_s": stats.median(lat),
        "op_tail_s": tail,
        "ops_per_s": len(lat) / sum(lat),
    }
    with open(_untraced_record(bench_dir, run.workload.name), "w") as f:
        json.dump({"op_p50_s": vals["op_p50_s"]}, f)
    return {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in vals.items()}


def hourly_metrics(hours: list[dict]) -> dict[str, float]:
    """Write-path metrics of hourly_merge (0 on the read-only workloads)."""
    if not hours:
        return {"persist.write_amp": 0.0, "persist.space_amp": 0.0,
                "store.bytes_live": 0.0, "stream.staged_rows_per_s": 0.0}
    op_s = sum(h["latency"] for h in hours)
    return {
        "persist.write_amp": sum(h["new_bytes"] for h in hours) / sum(h["landed_bytes"] for h in hours),
        "persist.space_amp": hours[-1]["space_amp"],
        "store.bytes_live": float(hours[-1]["store_bytes"]),
        "stream.staged_rows_per_s": sum(h["staged_rows"] for h in hours) / op_s,
    }


def _op_row(run: Run, key: str, lat: float, rec: dict) -> dict[str, float]:
    spans = {s["name"]: s for s in run.tracer.spans if s["op"] == key}
    build, start = spans.get("queries.build"), (spans.get("action") or spans["hour"])["start"]
    submits = sorted(rec.get("submits", []))
    row = dict.fromkeys(ADDITIVE, 0.0)
    row["op_s"] = lat
    if build:
        row["queries.build_s"] = build["end"] - build["start"]
        row["queries.build_jobs"] = sum(1 for t in submits if build["start"] <= t <= build["end"])
    after = [t for t in submits if t >= start]
    row["driver.plan_s"] = after[0] - start if after else 0.0
    for src, (dst, scale) in FROM_LOG.items():
        row[dst] += rec.get(src, 0.0) * scale
    for hour in run.hours:
        if hour["key"] == key:
            for p in hour["progress"]:
                for src, dst in FROM_PROGRESS.items():
                    row[dst] += p["durationMs"].get(src, 0) / 1000.0
                row["stream.input_rows"] += p["numInputRows"]
                row["stream.batches"] += 1 if p["numInputRows"] else 0
    return row


def layers(run: Run, per_op: dict[str, dict], bench_dir: str) -> tuple[dict, list[dict]]:
    """Per-layer metrics (per-op means of the additive counters, whole-run
    ratios) and the per-op-name table."""
    rows = [(name, _op_row(run, key, lat, per_op.get(key, {}))) for key, name, lat in run.done]
    total = defaultdict(float)
    for _, row in rows:
        for k, v in row.items():
            total[k] += v
    n = len(rows)
    vals = {k: total[k] / n for k in ADDITIVE}
    warm = run.tracer.of("warm")
    vals.update({
        "session.start_s": sum(s["end"] - s["start"] for s in run.tracer.of("session.start")),
        "inputs.gen_s": sum(s["end"] - s["start"] for s in run.tracer.of("inputs.gen")),
        "warm.first_op_s": warm[0]["end"] - warm[0]["start"] if warm else 0.0,
        "queries.build_share": total["queries.build_s"] / total["op_s"],
        "exec.busy_frac": total["exec.run_s"] / (total["op_s"] * run.cores),
        "lsh.useful_ratio": total["lsh.verified"] / total["lsh.candidates"] if total["lsh.candidates"] else 0.0,
        "proc.driver_rss_mb": run.rss["jvm"],
        "proc.worker_rss_mb": run.rss["workers"],
        "trace.op_p50_s": stats.median(run.latencies),
        "trace.overhead_s": 0.0,
    })
    vals.update(hourly_metrics(run.hours))
    try:
        with open(_untraced_record(bench_dir, run.workload.name)) as f:
            vals["trace.overhead_s"] = vals["trace.op_p50_s"] - json.load(f)["op_p50_s"]
    except FileNotFoundError:
        run.notes.append("no untraced run recorded in this checkout: trace.overhead_s reads 0")

    by_name: dict[str, list[dict]] = defaultdict(list)
    for name, row in rows:
        by_name[name].append(row)
    table = []
    for name, group in sorted(by_name.items()):
        mean = {k: sum(r[k] for r in group) / len(group) for k in group[0]}
        table.append({"workload": run.workload.name, "op": name, "n": len(group), **mean})
    return {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in vals.items()}, table


def _bounds() -> dict[str, float]:
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
    try:
        with open(path) as f:
            return {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    except (OSError, KeyError, ValueError):
        return {}


def summary(run: Run, metrics: dict, out) -> None:
    lat = run.latencies
    label, _ = stats.tail(lat)
    bounds = _bounds()
    print(f"== {run.workload.name}: {len(lat)} ops timed, {run.failed} raised, "
          f"{len(run.bad)} oracle mismatches", file=out)
    if run.build_s:
        print(f"   seed-free sf1 inputs built for this checkout in {run.build_s:.1f} s "
              "(not in setup_s)", file=out)
    per_name = defaultdict(list)
    build = defaultdict(float)
    builds = {s["op"]: s["end"] - s["start"] for s in run.tracer.of("queries.build")}
    for key, name, l in run.done:
        per_name[name].append(l)
        build[name] += builds.get(key, 0.0)
    for name, ls in sorted(per_name.items()):
        share = f", {100 * build[name] / sum(ls):.1f}% in queries.build_s" if build[name] else ""
        print(f"   {name:36s} n={len(ls):3d} median {stats.median(ls):8.3f} s{share}", file=out)
    print(f"   op_tail_s is {label} over n={len(lat)}", file=out)
    print(f"   latencies (s, in run order): {' '.join(f'{l:.3f}' for l in lat)}", file=out)
    print(f"   peak rss {run.rss['total']:.0f} MB (driver JVM {run.rss['jvm']:.0f} MB, "
          f"Python workers {run.rss['workers']:.0f} MB)", file=out)
    for name, m in metrics.items():
        bound = f"  bound {bounds[name]:.2f}" if name in bounds else ""
        print(f"   {name:28s} {m['value']:14.4f} {m['unit']}{bound}", file=out)
    if run.hours:
        for name, v in hourly_metrics(run.hours).items():
            if name not in metrics:
                print(f"   {name:28s} {v:14.4f} {LAYER_UNITS[name]}", file=out)
    for line in run.notes + run.bad:
        print(f"   {line}", file=out)
