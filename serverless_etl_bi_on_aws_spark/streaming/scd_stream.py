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
the OPEN slice. The dimension is an ``operators/snapshot.py`` generation
store published through streaming/incremental.py's writer, shared with the
incremental merge and the cell fold; read it with ``read_generation_target``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from serverless_etl_bi_on_aws_spark.operators.scd import scd2_apply, scd2_init
from serverless_etl_bi_on_aws_spark.streaming.incremental import (
    _live_data,
    _publish_generation,
)
from serverless_etl_bi_on_aws_spark.streaming.launch import (
    read_landing_zone,
    start_foreach_batch,
)


def apply_scd2_batch_generations(
    spark: SparkSession,
    batch_df: DataFrame,
    root: str,
    keys: Sequence[str],
    ts_col: str,
) -> None:
    """Fold one update batch into the persisted dimension, one
    ``scd2_apply`` per distinct effective timestamp, ascending, and
    publish the result as the next generation of ``root``. The first
    wave ever seen bootstraps the dimension (scd2_init).

    Replay safety needs no epoch mark here: ``scd2_apply`` is
    key-idempotent (a re-applied wave at the same effective ts is a
    no-op), and a crash before the pointer commit leaves the previous
    dimension live."""
    ts_values = [
        r[0]
        for r in batch_df.select(ts_col).distinct().orderBy(ts_col).collect()
    ]
    if not ts_values:
        return
    live = _live_data(root)
    if live is not None:
        dim = spark.read.parquet(live)
    else:
        first = batch_df.filter(F.col(ts_col) == ts_values[0]).drop(ts_col)
        dim = scd2_init(first, F.lit(ts_values[0]))
        ts_values = ts_values[1:]
    for ts in ts_values:
        wave = batch_df.filter(F.col(ts_col) == ts).drop(ts_col)
        dim = scd2_apply(dim, wave, keys, F.lit(ts)).localCheckpoint(eager=True)
    _publish_generation(root, dim)


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
) -> StreamingQuery:
    """Watch ``source_dir`` for update files (rows: keys + attrs +
    ``ts_col``) and keep the SCD2 dimension in the generation store at
    ``dim_path`` current through :func:`apply_scd2_batch_generations`."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        apply_scd2_batch_generations(spark, batch_df, dim_path, keys, ts_col)

    return start_foreach_batch(
        read_landing_zone(spark, source_dir, schema),
        apply_batch,
        checkpoint_dir,
        available_now,
        processing_time,
    )
