"""util.append_once — the replay-safe batch-append protocol every
persisted index shares (marker -> lease -> recheck -> prepare -> empty
guard -> append -> marker last) — and util.write_survivors_once, the
``_SUCCESS``-gated survivors write every ingest loop shares, tested
directly with stub callbacks."""

from __future__ import annotations

import os

import pytest

from serverless_etl_bi_on_aws_spark.util import (
    LeaseHeldError,
    append_once,
    lease_lock_path,
    write_marker,
    write_survivors_once,
    writer_lease,
)


def _marker(idx: str, batch: str) -> str:
    return os.path.join(idx, "_applied", batch)


def test_applied_marker_returns_false_without_taking_the_lease(tmp_path):
    idx = str(tmp_path / "idx")
    write_marker(_marker(idx, "b0"), {"batch_id": "b0"})
    calls = []
    # a held lease would raise if append_once tried to take it
    with writer_lease(idx, owner="other-writer"):
        assert append_once(idx, "b0", "t", lambda: calls.append("prepare"),
                           lambda rows: calls.append("append")) is False
    assert calls == []


def test_held_lease_fails_loudly_and_marks_nothing(spark, tmp_path):
    idx = str(tmp_path / "idx")
    rows = spark.range(3)
    with writer_lease(idx, owner="other-writer"):
        with pytest.raises(LeaseHeldError):
            append_once(idx, "b0", "t", lambda: rows, lambda r: None)
    assert not os.path.exists(_marker(idx, "b0"))


def test_raising_append_leaves_no_marker_and_releases_the_lease(spark, tmp_path):
    idx = str(tmp_path / "idx")

    def boom(rows):
        raise RuntimeError("crash mid-append")

    with pytest.raises(RuntimeError, match="mid-append"):
        append_once(idx, "b0", "t", lambda: spark.range(3), boom)
    assert not os.path.exists(_marker(idx, "b0"))
    assert not os.path.exists(lease_lock_path(idx))
    # the replay re-applies the whole batch, then marks it
    seen = []
    assert append_once(idx, "b0", "t", lambda: spark.range(3),
                       lambda r: seen.append(r.count())) is True
    assert seen == [3] and os.path.exists(_marker(idx, "b0"))
    assert append_once(idx, "b0", "t", lambda: spark.range(3),
                       lambda r: seen.append(r.count())) is False
    assert seen == [3]


def test_empty_or_null_only_prepare_is_vacuously_applied(spark, tmp_path):
    from serverless_etl_bi_on_aws_spark.util import read_marker

    idx = str(tmp_path / "idx")
    null_only = spark.createDataFrame([(1, None), (2, None)], "id bigint, h bigint")
    cases = {
        "empty": lambda: spark.range(0),
        "nulls": lambda: null_only.filter("h IS NOT NULL"),
    }
    for batch, prepare in cases.items():
        assert append_once(idx, batch, "t", prepare,
                           lambda r: pytest.fail("appended an empty batch")) is True
        assert read_marker(_marker(idx, batch)) == {"batch_id": batch, "empty": True}
    assert not os.path.exists(lease_lock_path(idx))


def test_replayed_batch_with_success_never_calls_survivors(spark, tmp_path):
    clean = str(tmp_path / "clean")
    assert write_survivors_once(clean, "b0", lambda: spark.range(3)) is True
    assert os.path.exists(os.path.join(clean, "batch=b0", "_SUCCESS"))

    def must_not_plan():
        raise AssertionError("survivors planned on a committed replay")

    assert write_survivors_once(clean, "b0", must_not_plan) is False
    assert spark.read.parquet(os.path.join(clean, "batch=b0")).count() == 3
    # a partition without _SUCCESS (crash mid-write) is overwritten
    os.remove(os.path.join(clean, "batch=b0", "_SUCCESS"))
    assert write_survivors_once(clean, "b0", lambda: spark.range(2)) is True
    assert spark.read.parquet(os.path.join(clean, "batch=b0")).count() == 2


class _Rows:
    """Stands in for a prepared frame: append_once only asks isEmpty()."""

    def isEmpty(self) -> bool:
        return False


def test_killed_holders_lease_is_broken_live_or_foreign_one_stands(tmp_path):
    """A lock left by a writer that died on this host no longer wedges the
    index: the next append breaks it. A lock naming a live pid (ours), no
    pid, or another host still fails loudly and is left in place."""
    import socket
    import subprocess
    import sys

    from serverless_etl_bi_on_aws_spark.util import read_marker

    idx = str(tmp_path / "idx")
    lock = lease_lock_path(idx)
    child = subprocess.Popen([sys.executable, "-c", ""])
    child.wait()  # reaped: its pid no longer runs
    host = socket.gethostname()
    write_marker(lock, {"owner": "killed", "host": host, "pid": child.pid})
    seen = []
    assert append_once(idx, "b0", "t", _Rows, seen.append) is True
    assert len(seen) == 1 and os.path.exists(_marker(idx, "b0"))
    assert not os.path.exists(lock)

    for held in (
        {"owner": "live", "host": host, "pid": os.getpid()},
        {"owner": "no-pid", "host": host},
        {"owner": "elsewhere", "host": host + ".other", "pid": child.pid},
    ):
        write_marker(lock, held)
        with pytest.raises(LeaseHeldError):
            append_once(idx, "b1", "t", _Rows, seen.append)
        assert read_marker(lock) == held
        os.remove(lock)
    assert len(seen) == 1 and not os.path.exists(_marker(idx, "b1"))
