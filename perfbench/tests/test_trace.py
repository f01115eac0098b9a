"""Steal accounting, and the event-log parser on a recorded log: q44 (one Arrow Python stage),
q13 (LSH candidate join and verify filter, explode) and one drained
ingest-dedup stream whose jobs carry only the run id Spark stamps on
them. The log was recorded with the event log uncompressed and not
rolling, then cut down to the events and fields the parser reads."""

from __future__ import annotations

import json
import os

import pytest

from perfbench.trace import parse_event_log, steal_free, stolen_s

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")
RUN_ID = "5e3528e9-0de5-4bae-9eac-111dc76b46f6"
GROUPS = {
    "pb:0:q44_topk_cosine_arrow": "q44",
    "pb:1:q13_sketch_neardup_verify": "q13",
    RUN_ID: "hour",
}


def test_ops_attributed_by_job_group_and_run_id():
    per_op = parse_event_log(LOG, GROUPS, [])
    assert set(per_op) == {"q44", "q13", "hour"}
    assert per_op["q44"]["jobs"] == 3
    assert per_op["q13"]["jobs"] == 40
    assert per_op["hour"]["jobs"] == per_op["hour"]["by_group"] == 18
    for rec in per_op.values():
        assert rec["stages"] <= rec["tasks"]
        assert len(rec["submits"]) == rec["jobs"]


def test_python_boundary_only_on_the_arrow_query():
    per_op = parse_event_log(LOG, GROUPS, [])
    assert per_op["q44"]["py_stages"] == 1
    assert per_op["q44"]["py_sent"] == 28112
    assert per_op["q44"]["py_recv"] == 3176
    assert "py_stages" not in per_op["q13"] and "py_stages" not in per_op["hour"]


def test_lsh_and_generate_counters():
    q13 = parse_event_log(LOG, GROUPS, [])["q13"]
    assert q13["lsh_candidates"] == 397
    assert q13["lsh_verified"] == 13
    assert q13["generate_rows"] == 69355
    assert q13["shuffle_write"] > 0 and q13["shuffle_read"] > 0


def test_stream_writes_and_index_appends():
    hour = parse_event_log(LOG, GROUPS, [])["hour"]
    assert hour["files_written"] == 34
    assert hour["out_bytes"] > 0
    assert hour["index_append_ms"] == 809
    assert "out_bytes" not in parse_event_log(LOG, GROUPS, [])["q13"]


def test_unknown_group_falls_back_to_the_op_window():
    with open(LOG) as f:
        events = [json.loads(line) for line in f]
    stream_jobs = [
        e["Submission Time"] / 1000.0
        for e in events
        if e["Event"] == "SparkListenerJobStart"
        and e["Properties"].get("spark.jobGroup.id") == RUN_ID
    ]
    groups = {k: v for k, v in GROUPS.items() if k != RUN_ID}
    per_op = parse_event_log(LOG, groups, [("hour", min(stream_jobs), max(stream_jobs))])
    assert per_op["hour"]["jobs"] == per_op["hour"]["by_window"] == 18
    assert per_op["hour"]["index_append_ms"] == 809


STAT = """cpu  4102567 0 166842 8969093 5814 0 87362 160400 0 0
cpu0 1025641 0 41710 2242273 1453 0 21840 40100 0 0
cpu1 1025641 0 41710 2242273 1453 0 21840 40100 0 0
cpu2 1025641 0 41711 2242273 1454 0 21841 40100 0 0
cpu3 1025644 0 41711 2242274 1454 0 21841 40100 0 0
intr 1 2 3
"""


def test_stolen_s_is_steal_per_cpu_in_seconds():
    assert stolen_s(STAT) == pytest.approx(160400 / os.sysconf("SC_CLK_TCK") / 4)
    assert stolen_s("cpu  1 2 3 4\ncpu0 1 2 3 4\n") == 0.0
    assert stolen_s() >= 0.0


def test_steal_free_spans_first_start_to_last_end():
    build = {"start": 10.0, "end": 10.5, "stolen_start": 2.0, "stolen_end": 2.1}
    action = {"start": 10.5, "end": 13.0, "stolen_start": 2.1, "stolen_end": 2.4}
    assert steal_free(build, action) == pytest.approx(3.0 - 0.4)
    assert steal_free(action, action) == pytest.approx(2.5 - 0.3)
