"""Streaming SCD Type 2 maintenance — dimension history kept current from
a landing zone of update files (the third member of the streaming
maintenance family: incremental merge = Type 1, cell maintenance =
continuous aggregates, this = Type 2 history).

Each micro-batch applies :func:`operators.scd.scd2_apply` once per
DISTINCT effective timestamp in the batch, ascending — so a batch that
contains two change waves produces two version generations, exactly as
if the waves had arrived in separate batches (pytest-pinned: drained
history == sequential batch-twin application). The effective time comes
from the DATA (``ts_col``), never the wall clock, so replaying the
landing zone reproduces the dimension bit-for-bit; the file-source
checkpoint guarantees each file applies once.

Scale notes: the per-ts driver loop is bounded by the number of change
waves inside one micro-batch (normally 1); each application joins only
the OPEN slice. Target atomicity is the write-new-then-swap protocol
shared with streaming/incremental.py and streaming/cells.py.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from serverless_etl_bi_on_aws_spark.operators.scd import scd2_apply, scd2_init
from serverless_etl_bi_on_aws_spark.streaming.launch import (
    read_landing_zone,
    start_foreach_batch,
)


def _swap_write(df: DataFrame, path: str) -> None:
    tmp = f"{path}.__new__{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        old = f"{path}.__old__{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(tmp, path)


def apply_scd2_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    dim_path: str,
    keys: Sequence[str],
    ts_col: str,
) -> None:
    """Fold one update batch into the persisted dimension, one
    ``scd2_apply`` per distinct effective timestamp, ascending."""
    ts_values = [
        r[0]
        for r in batch_df.select(ts_col).distinct().orderBy(ts_col).collect()
    ]
    if not ts_values:
        return
    if os.path.exists(dim_path):
        dim = spark.read.parquet(dim_path)
    else:
        first = batch_df.filter(F.col(ts_col) == ts_values[0]).drop(ts_col)
        dim = scd2_init(first, F.lit(ts_values[0]))
        ts_values = ts_values[1:]
    for ts in ts_values:
        wave = batch_df.filter(F.col(ts_col) == ts).drop(ts_col)
        dim = scd2_apply(dim, wave, keys, F.lit(ts)).localCheckpoint(eager=True)
    _swap_write(dim, dim_path)


def apply_scd2_batch_generations(
    spark: SparkSession,
    batch_df: DataFrame,
    root: str,
    keys: Sequence[str],
    ts_col: str,
    keep_n: int = 2,
) -> None:
    """The generation-store twin of :func:`apply_scd2_batch` (round 16
    — SURVEY §7.1 convergence, same shape as the incremental-merge and
    cell-fold twins): the updated dimension writes under a
    never-before-visible generation name and commits via the pointer
    marker — rename-free at the commit layer (pointer PUT). With an
    object-store backend installed the whole protocol is rename-free:
    begin_generation stages directly under the final name (round 17);
    in POSIX mode staging uses one fresh-name (never in-place) rename
    as the fast path. Replay
    safety needs no epoch mark here: ``scd2_apply`` is key-idempotent
    (a re-applied wave at the same effective ts is a no-op), the same
    property the swap path relies on. Read the live dimension with
    :func:`read_scd2_generation`."""
    from serverless_etl_bi_on_aws_spark.operators.snapshot import (
        begin_generation,
        commit_generation,
        resolve_generation,
    )

    ts_values = [
        r[0]
        for r in batch_df.select(ts_col).distinct().orderBy(ts_col).collect()
    ]
    if not ts_values:
        return
    cur = resolve_generation(root)
    if cur is not None:
        dim = spark.read.parquet(os.path.join(cur, "data"))
    else:
        first = batch_df.filter(F.col(ts_col) == ts_values[0]).drop(ts_col)
        dim = scd2_init(first, F.lit(ts_values[0]))
        ts_values = ts_values[1:]
    for ts in ts_values:
        wave = batch_df.filter(F.col(ts_col) == ts).drop(ts_col)
        dim = scd2_apply(dim, wave, keys, F.lit(ts)).localCheckpoint(eager=True)
    gen, stage = begin_generation(root)
    dim.write.mode("overwrite").parquet(os.path.join(stage, "data"))
    commit_generation(root, gen, stage, keep_n=keep_n)


def read_scd2_generation(spark: SparkSession, root: str) -> DataFrame:
    """Live dimension of a generation-backed SCD2 target."""
    from serverless_etl_bi_on_aws_spark.operators.snapshot import (
        resolve_generation,
    )

    cur = resolve_generation(root)
    if cur is None:
        raise FileNotFoundError(f"no committed dimension generation under {root}")
    return spark.read.parquet(os.path.join(cur, "data"))


def start_scd2_maintenance(
    spark: SparkSession,
    source_dir: str,
    dim_path: str,
    keys: Sequence[str],
    schema: StructType,
    checkpoint_dir: str,
    ts_col: str = "effective_ts",
    available_now: bool = True,
    processing_time: str = "1 hour",
    generations: bool = False,
) -> StreamingQuery:
    """Watch ``source_dir`` for update files (rows: keys + attrs +
    ``ts_col``) and keep the SCD2 dimension at ``dim_path`` current.
    The FIRST wave ever seen bootstraps the dimension (scd2_init).
    ``generations=True`` (round 16) folds through
    :func:`apply_scd2_batch_generations` — ``dim_path`` becomes a
    generation-store root read via :func:`read_scd2_generation`, the
    rename-free object-store shape."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if generations:
            apply_scd2_batch_generations(spark, batch_df, dim_path, keys, ts_col)
        else:
            apply_scd2_batch(spark, batch_df, dim_path, keys, ts_col)

    return start_foreach_batch(
        read_landing_zone(spark, source_dir, schema),
        apply_batch,
        checkpoint_dir,
        available_now,
        processing_time,
    )
