"""SCD Type 2 tests: crafted version lifecycle, idempotent re-apply,
as-of reconstruction, and the open-slice-only join shape."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from serverless_etl_bi_on_aws_spark.operators.scd import (
    scd2_apply,
    scd2_as_of,
    scd2_init,
)

T0, T1, T2 = "2020-01-01 00:00:00", "2020-02-01 00:00:00", "2020-03-01 00:00:00"


def _dim(spark):
    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        ["id", "name", "amount"],
    )
    return scd2_init(snap, T0)


def test_scd2_version_lifecycle(spark):
    dim = _dim(spark)
    batch1 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0)],  # 2 changes, 4 new
        ["id", "name", "amount"],
    )
    out = scd2_apply(dim, batch1, ["id"], T1)
    rows = sorted(
        ((r["id"], r["name"], str(r["valid_from"]), str(r["valid_to"]), r["is_current"]))
        for r in out.collect()
    )
    assert rows == sorted(
        [
            (1, "a", T0, "None", True),       # untouched
            (2, "b", T0, T1, False),           # closed old version
            (2, "B", T1, "None", True),        # new open version
            (3, "c", T0, "None", True),        # absent from batch: untouched
            (4, "d", T1, "None", True),        # new key
        ]
    )


def test_scd2_reapply_same_batch_is_noop(spark):
    dim = _dim(spark)
    batch = spark.createDataFrame(
        [(2, "B", 20.0)], ["id", "name", "amount"]
    )
    once = scd2_apply(dim, batch, ["id"], T1).localCheckpoint(eager=True)
    twice = scd2_apply(once, batch, ["id"], T2)
    a = sorted(map(repr, once.collect()))
    b = sorted(map(repr, twice.collect()))
    assert a == b  # second apply changes nothing (attrs already current)


def test_scd2_as_of_reconstruction(spark):
    dim = _dim(spark)
    batch = spark.createDataFrame([(2, "B", 25.0)], ["id", "name", "amount"])
    hist = scd2_apply(dim, batch, ["id"], T1)
    before = {r["id"]: r["name"] for r in scd2_as_of(hist, "2020-01-15").collect()}
    after = {r["id"]: r["name"] for r in scd2_as_of(hist, "2020-02-15").collect()}
    assert before == {1: "a", 2: "b", 3: "c"}
    assert after == {1: "a", 2: "B", 3: "c"}


def test_scd2_closed_history_never_joins(spark):
    """Only the open slice reaches the full-outer join: with a dimension
    holding closed rows, the join input filters on is_current (visible in
    the plan as a single FullOuter over the filtered slice)."""
    dim = _dim(spark)
    b1 = spark.createDataFrame([(2, "B", 20.0)], ["id", "name", "amount"])
    hist = scd2_apply(dim, b1, ["id"], T1).localCheckpoint(eager=True)
    b2 = spark.createDataFrame([(3, "C", 30.0)], ["id", "name", "amount"])
    out = scd2_apply(hist, b2, ["id"], T2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FullOuter") == 1
    rows = out.filter(F.col("id") == 2).orderBy("valid_from").collect()
    # id 2's history from batch 1 survives batch 2 untouched
    assert [r["is_current"] for r in rows] == [False, True]


@pytest.mark.slow  # round-19 tiering: >=10 s integration test
def test_streaming_scd2_matches_sequential_batch_twin(spark, tmp_path):
    """Two file drops (bootstrap wave, then two change waves landing in
    ONE micro-batch) drained through the maintenance stream produce
    exactly the history of sequential scd2_init/apply; a checkpoint
    replay adds nothing."""
    import datetime as dt

    from serverless_etl_bi_on_aws_spark.streaming.incremental import (
        read_generation_target,
    )
    from serverless_etl_bi_on_aws_spark.streaming.scd_stream import (
        start_scd2_maintenance,
    )

    TS0 = dt.datetime(2024, 1, 1)
    TS1 = dt.datetime(2024, 2, 1)
    TS2 = dt.datetime(2024, 3, 1)
    cols = ["id", "name", "amount", "effective_ts"]
    drop1 = spark.createDataFrame(
        [(1, "a", 10.0, TS0), (2, "b", 20.0, TS0)], cols
    )
    # one micro-batch carrying TWO waves: change at TS1, then again at TS2
    drop2 = spark.createDataFrame(
        [(2, "B", 20.0, TS1), (2, "B2", 20.0, TS2), (3, "c", 30.0, TS2)], cols
    )
    src = tmp_path / "updates"
    src.mkdir()
    dim_path = str(tmp_path / "dim")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = start_scd2_maintenance(
            spark, str(src / "*"), dim_path, ["id"], drop1.schema, ckpt
        )
        q.awaitTermination(120)

    drop1.coalesce(1).write.mode("overwrite").parquet(str(src / "d1"))
    drain()
    drop2.coalesce(1).write.mode("overwrite").parquet(str(src / "d2"))
    drain()

    got = sorted(map(repr, read_generation_target(spark, dim_path).collect()))
    # sequential twin
    from serverless_etl_bi_on_aws_spark.operators.scd import scd2_apply, scd2_init

    dim = scd2_init(drop1.drop("effective_ts"), F.lit(TS0))
    dim = scd2_apply(
        dim, drop2.filter(F.col("effective_ts") == TS1).drop("effective_ts"),
        ["id"], F.lit(TS1),
    )
    dim = scd2_apply(
        dim, drop2.filter(F.col("effective_ts") == TS2).drop("effective_ts"),
        ["id"], F.lit(TS2),
    )
    want = sorted(map(repr, dim.collect()))
    assert got == want
    # id 2 carries three versions: [TS0,TS1), [TS1,TS2), open at TS2
    vers = read_generation_target(spark, dim_path).filter(F.col("id") == 2)
    assert sorted((str(r["valid_from"]), str(r["valid_to"])) for r in vers.collect()) == [
        ("2024-01-01 00:00:00", "2024-02-01 00:00:00"),
        ("2024-02-01 00:00:00", "2024-03-01 00:00:00"),
        ("2024-03-01 00:00:00", "None"),
    ]
    drain()  # replay: no new files, dimension unchanged
    assert sorted(map(repr, read_generation_target(spark, dim_path).collect())) == want


def _sequential_twin(first, waves, ts_col="effective_ts"):
    """The batch twin of the streaming SCD2 fold: scd2_init on the first
    wave, then one scd2_apply per later wave, in order."""
    dim = scd2_init(first.drop(ts_col), F.lit(first.first()[ts_col]))
    for wave in waves:
        ts = wave.first()[ts_col]
        dim = scd2_apply(dim, wave.drop(ts_col), ["id"], F.lit(ts))
    return dim


def test_scd2_generation_fold_matches_swap_fold(spark, tmp_path):
    """Round 16 (SURVEY 7.1 convergence, SCD2): the generation-backed
    dimension fold equals the sequential scd2_init/scd2_apply twin
    batch-for-batch, a re-applied wave is a no-op (scd2_apply
    key-idempotence carries over), and a reader resolved before a fold
    keeps its retained generation."""
    import datetime as dt

    from serverless_etl_bi_on_aws_spark.operators.snapshot import (
        resolve_generation,
    )
    from serverless_etl_bi_on_aws_spark.streaming.incremental import (
        read_generation_target,
    )
    from serverless_etl_bi_on_aws_spark.streaming.scd_stream import (
        apply_scd2_batch_generations,
    )

    TS0 = dt.datetime(2024, 1, 1)
    TS1 = dt.datetime(2024, 2, 1)
    cols = ["id", "name", "amount", "effective_ts"]
    b1 = spark.createDataFrame([(1, "a", 10.0, TS0), (2, "b", 20.0, TS0)], cols)
    b2 = spark.createDataFrame([(2, "B", 20.0, TS1), (3, "c", 30.0, TS1)], cols)
    root = str(tmp_path / "gens")

    apply_scd2_batch_generations(spark, b1, root, ["id"], "effective_ts")
    gen_before = resolve_generation(root)
    old_reader = spark.read.parquet(f"{gen_before}/data")
    assert sorted(map(repr, old_reader.collect())) == sorted(
        map(repr, _sequential_twin(b1, []).collect())
    )

    apply_scd2_batch_generations(spark, b2, root, ["id"], "effective_ts")

    want = sorted(map(repr, _sequential_twin(b1, [b2]).collect()))
    got = sorted(map(repr, read_generation_target(spark, root).collect()))
    assert got == want
    # the pre-fold reader still resolves its retained generation
    # (readers must finish within ONE further commit)
    assert sorted(map(repr, old_reader.collect())) != want
    assert old_reader.count() == 2
    # replayed wave: key-idempotent no-op (content-identical generation)
    apply_scd2_batch_generations(spark, b2, root, ["id"], "effective_ts")
    again = sorted(map(repr, read_generation_target(spark, root).collect()))
    assert again == want


@pytest.mark.slow  # round-19 tiering: >=10 s integration test
def test_scd2_generation_stream_end_to_end(spark, tmp_path):
    """start_scd2_maintenance drains two landed drops into the same
    history as the sequential batch twin."""
    import datetime as dt

    from serverless_etl_bi_on_aws_spark.streaming.incremental import (
        read_generation_target,
    )
    from serverless_etl_bi_on_aws_spark.streaming.scd_stream import (
        start_scd2_maintenance,
    )

    TS0 = dt.datetime(2024, 1, 1)
    TS1 = dt.datetime(2024, 2, 1)
    cols = ["id", "name", "amount", "effective_ts"]
    drop1 = spark.createDataFrame([(1, "a", 10.0, TS0), (2, "b", 20.0, TS0)], cols)
    drop2 = spark.createDataFrame([(2, "B", 20.0, TS1)], cols)
    src = tmp_path / "updates"
    src.mkdir()
    root = str(tmp_path / "dimgens")

    def drain():
        q = start_scd2_maintenance(
            spark, str(src / "*"), root, ["id"], drop1.schema,
            str(tmp_path / "ck_g"),
        )
        q.awaitTermination(120)

    drop1.coalesce(1).write.mode("overwrite").parquet(str(src / "d1"))
    drain()
    drop2.coalesce(1).write.mode("overwrite").parquet(str(src / "d2"))
    drain()
    want = sorted(map(repr, _sequential_twin(drop1, [drop2]).collect()))
    got = sorted(map(repr, read_generation_target(spark, root).collect()))
    assert got == want


@pytest.mark.slow  # >=10 s integration test: five two-wave SCD2 folds
def test_scd2_fold_crash_replay_converges(spark, tmp_path, monkeypatch):
    """The SCD2 fold's publish of a two-wave batch crashes at each of its
    renames in turn and the same batch replays: the dimension equals
    the sequential scd2_apply twin — no lost wave, no doubled version."""
    import datetime as dt
    import shutil

    from serverless_etl_bi_on_aws_spark.streaming.incremental import (
        read_generation_target,
    )
    from serverless_etl_bi_on_aws_spark.streaming.scd_stream import (
        apply_scd2_batch_generations,
    )
    from tests.conftest import crash_replay_each_rename

    TS0 = dt.datetime(2024, 1, 1)
    TS1 = dt.datetime(2024, 2, 1)
    TS2 = dt.datetime(2024, 3, 1)
    cols = ["id", "name", "amount", "effective_ts"]
    b1 = spark.createDataFrame([(1, "a", 10.0, TS0), (2, "b", 20.0, TS0)], cols)
    w1 = spark.createDataFrame([(2, "B", 20.0, TS1), (3, "c", 30.0, TS1)], cols)
    w2 = spark.createDataFrame([(1, "A", 11.0, TS2)], cols)
    want = sorted(map(repr, _sequential_twin(b1, [w1, w2]).collect()))

    def apply(batch, k):
        apply_scd2_batch_generations(
            spark, batch, str(tmp_path / f"dim{k}"), ["id"], "effective_ts"
        )

    def check(k):
        got = read_generation_target(spark, str(tmp_path / f"dim{k}")).collect()
        assert sorted(map(repr, got)) == want, f"crash at rename {k}"

    apply(b1, 0)
    points = crash_replay_each_rename(
        monkeypatch,
        lambda k: shutil.copytree(tmp_path / "dim0", tmp_path / f"dim{k}"),
        lambda k: apply(w1.unionByName(w2), k),
        check,
    )
    assert points >= 2  # the generation rename and the pointer replace
