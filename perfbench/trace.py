"""Spans, process memory sampling, and the Spark event-log parser that
turns a traced run into per-layer metrics keyed by op."""

from __future__ import annotations

import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# ------------------------------------------------------------------ spans


def stolen_s(stat: str | None = None) -> float:
    """Hypervisor steal since boot, in seconds per CPU: how long this
    machine's average vCPU had work to run while the host ran another
    guest. Read from the ``cpu`` line of /proc/stat (or ``stat``); 0 on a
    kernel that does not report steal."""
    if stat is None:
        with open("/proc/stat") as f:
            stat = f.read()
    lines = stat.splitlines()
    total = lines[0].split()
    ncpu = sum(1 for line in lines if re.match(r"cpu\d", line))
    steal = int(total[8]) if len(total) > 8 else 0
    return steal / os.sysconf("SC_CLK_TCK") / max(1, ncpu)


def steal_free(first: dict, last: dict) -> float:
    """Seconds from the start of span ``first`` to the end of span
    ``last``, less the hypervisor steal in between (see ``stolen_s``)."""
    return (last["end"] - first["start"]) - (last["stolen_end"] - first["stolen_start"])


class Tracer:
    """Spans recorded by the harness around each public call: name, op
    key, start and end (epoch seconds), the ``stolen_s`` reading at each,
    and the index of the enclosing span. Kept in memory; read when the
    run ends."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "op": op, "parent": parent, "start": time.time(), "end": None,
               "stolen_start": stolen_s(), "stolen_end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["stolen_end"] = stolen_s()
            self._stack.pop()

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


# ----------------------------------------------------------- process RSS


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, command name) for every visible process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        out[int(entry)] = (ppid, comm)
    return out


def descendants(pid: int, table: dict[int, tuple[int, str]] | None = None) -> list[int]:
    """Every process below ``pid`` (in ``table``, else in a fresh one)."""
    children = defaultdict(list)
    for child, (ppid, _) in (table or _proc_table()).items():
        children[ppid].append(child)
    out, todo = [], list(children[pid])
    while todo:
        out.append(todo.pop())
        todo.extend(children[out[-1]])
    return out


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until none of ``pids`` is running (gone or a zombie)."""
    deadline = time.time() + timeout_s
    for pid in pids:
        while time.time() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
            except OSError:
                break
            if stat[stat.rindex(")") + 2] == "Z":
                break
            time.sleep(0.05)


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except OSError:
        return 0.0


class RssSampler:
    """Samples the resident memory of this process tree from ``/proc``:
    the Python driver, the driver JVM (a ``java`` child) and the Python
    workers under the JVM. Keeps the peak of each and of their sum."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak = {"total": 0.0, "jvm": 0.0, "workers": 0.0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        table = _proc_table()
        jvm = workers = 0.0
        for pid in descendants(me, table):
            rss = _rss_mb(pid)
            if table[pid][1] == "java":
                jvm += rss
            elif table[pid][1].startswith("python"):
                workers += rss
        total = _rss_mb(me) + jvm + workers
        for key, val in (("total", total), ("jvm", jvm), ("workers", workers)):
            self.peak[key] = max(self.peak[key], val)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


# ------------------------------------------------------ event-log parser

#: Stage task metrics summed per op: accumulable name -> key.
STAGE_METRICS = {
    "internal.metrics.executorRunTime": "run_ms",
    "internal.metrics.executorCpuTime": "cpu_ns",
    "internal.metrics.jvmGCTime": "gc_ms",
    "internal.metrics.input.bytesRead": "scan_bytes",
    "internal.metrics.input.recordsRead": "scan_rows",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write",
    "internal.metrics.shuffle.read.localBytesRead": "shuffle_read",
    "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read",
    "internal.metrics.diskBytesSpilled": "spill",
    "internal.metrics.output.bytesWritten": "out_bytes",
}
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"

_LSH_CAND = re.compile(r"Join \[band#\d+, bucket#\d+L?\]")


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", []):
        yield from _plan_nodes(child)


def _sql_metric_kind(node: dict, metric: str) -> str | None:
    """Which per-layer counter a SQL metric of a plan node feeds."""
    name, desc = node.get("nodeName", ""), node.get("simpleString", "")
    if metric == "number of output rows":
        if name == "Generate":
            return "generate_rows"
        if "Join" in name and _LSH_CAND.search(desc):
            return "lsh_candidates"
        if "zip_with(" in desc and ("Join" in name or name == "Filter"):
            return "lsh_verified"
    if metric == "number of written files":
        return "files_written"
    return None


def parse_event_log(path: str, group_to_op: dict[str, str], windows: list[tuple[str, float, float]]) -> dict[str, dict]:
    """Per-op metrics from an uncompressed, non-rolling Spark event log.

    A job belongs to the op its job group names (``group_to_op`` maps our
    groups and the run ids Spark stamps on stream jobs); a job with no
    known group falls to the op whose ``(op, start_s, end_s)`` window holds
    its submission time (one client runs one op at a time, so the windows
    do not overlap). Jobs in neither are dropped (set-up, warm-up)."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: list[tuple[int, dict]] = []
    exec_group: dict[int, str] = {}
    acc_kind: dict[int, tuple[int, str]] = {}
    acc_value: dict[int, float] = defaultdict(float)
    sql_windows: list[tuple[int, int, str]] = []
    exec_start: dict[int, tuple[int, str]] = {}

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "submit": ev["Submission Time"] / 1000.0,
                    "group": props.get("spark.jobGroup.id"),
                    "exec": int(props["spark.sql.execution.id"]) if "spark.sql.execution.id" in props else None,
                }
                for st in ev.get("Stage Infos", []):
                    stage_job[st["Stage ID"]] = ev["Job ID"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Completion Time" in info and info.get("Failure Reason") is None:
                    stages.append((stage_job.get(info["Stage ID"], -1), info))
                for acc in info.get("Accumulables", []):
                    if acc["ID"] in acc_kind:
                        acc_value[acc["ID"]] = max(acc_value[acc["ID"]], float(acc.get("Value") or 0))
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                eid = ev["executionId"]
                if kind.endswith("SQLExecutionStart"):
                    if ev.get("jobGroupId"):
                        exec_group[eid] = ev["jobGroupId"]
                    exec_start[eid] = (ev["time"], ev.get("physicalPlanDescription", ""))
                for node in _plan_nodes(ev["sparkPlanInfo"]):
                    for m in node.get("metrics", []):
                        k = _sql_metric_kind(node, m["name"])
                        if k:
                            acc_kind[m["accumulatorId"]] = (eid, k)
            elif kind.endswith("SQLExecutionEnd"):
                eid = ev["executionId"]
                if eid in exec_start:
                    t0, plan = exec_start.pop(eid)
                    sql_windows.append((eid, ev["time"] - t0, plan))
            elif kind.endswith("DriverAccumUpdates"):
                for acc_id, val in ev["accumUpdates"]:
                    if acc_id in acc_kind:
                        acc_value[acc_id] = max(acc_value[acc_id], float(val))

    def op_of(group: str | None, t: float | None) -> str | None:
        if group in group_to_op:
            return group_to_op[group]
        if t is not None:
            for op, lo, hi in windows:
                if lo <= t <= hi:
                    return op
        return None

    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_op: dict[int, str | None] = {}
    for jid, job in jobs.items():
        op = op_of(job["group"], job["submit"])
        job_op[jid] = op
        if op is None:
            continue
        rec = out[op]
        rec["jobs"] += 1
        rec["by_group" if job["group"] in group_to_op else "by_window"] += 1
        rec.setdefault("submits", []).append(job["submit"])
        if job["exec"] is not None:
            exec_group.setdefault(job["exec"], job["group"])
            rec.setdefault("_execs", set()).add(job["exec"])
    for jid, info in stages:
        op = job_op.get(jid)
        if op is None:
            continue
        rec = out[op]
        rec["stages"] += 1
        rec["tasks"] += info.get("Number of Tasks", 0)
        names = {}
        for acc in info.get("Accumulables", []):
            names[acc["Name"]] = float(acc.get("Value") or 0)
            key = STAGE_METRICS.get(acc["Name"])
            if key:
                rec[key] += float(acc.get("Value") or 0)
        if PY_SENT in names or PY_RECV in names:
            rec["py_stages"] += 1
            rec["py_sent"] += names.get(PY_SENT, 0.0)
            rec["py_recv"] += names.get(PY_RECV, 0.0)
            rec["py_run_ms"] += names.get("internal.metrics.executorRunTime", 0.0)
    exec_op = {}
    for op, rec in out.items():
        for eid in rec.pop("_execs", ()):
            exec_op[eid] = op
    for acc_id, (eid, k) in acc_kind.items():
        op = exec_op.get(eid) or op_of(exec_group.get(eid), None)
        if op is not None and acc_id in acc_value:
            out[op][k] += acc_value[acc_id]
    for eid, dur_ms, plan in sql_windows:
        op = exec_op.get(eid) or op_of(exec_group.get(eid), None)
        if op is not None and "/index/" in plan and "InsertIntoHadoopFsRelationCommand" in plan:
            out[op]["index_append_ms"] += dur_ms
    return {op: dict(rec) for op, rec in out.items()}


def find_event_log(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])
