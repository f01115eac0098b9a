"""Streaming maintenance of mergeable cell layouts — continuous-aggregate
upkeep for the histogram rollup (operators/histogram.py), the streaming
sibling of the batch-incremental pricing rollup (operators/rollup.py).

The layout family's defining property — cells merge by summing exact
integer counts — is what makes streaming maintenance trivial: each
micro-batch reduces to its own cells (batch-local groupBy,
micro-batch-sized), then folds into the persisted cell table by key-sum.
The fold is associative, so batch boundaries can never change the result
(pytest-pinned: drained cells == one-shot batch build).

Exactly-once is NOT free here: foreachBatch is at-least-once (the source
checkpoint commits AFTER the sink callback returns), and an additive fold
double-counts re-delivered rows — unlike the key-idempotent incremental
merge or scd2_apply, which are no-ops on replay. The fold therefore uses
the rollup's replay identity (streaming/incremental.py): a landed FILE.
Each micro-batch folds only the rows of files the live generation has
not applied, and the ids of every applied file ride inside the cell
table itself (``_applied_files.json``, underscore-prefixed so Spark's
reader ignores it), committing with the data in one generation. A crash
between the commit and the checkpoint commit, or a wiped checkpoint that
rediscovers every file under new epoch ids and a new batching, replays
into a skip of the applied files, never a double-sum or a lost file
(pytest-pinned).

The cell table is an ``operators/snapshot.py`` generation store published
through streaming/incremental.py's writer (read it with
``read_generation_target``): a crash anywhere before the pointer commit
leaves the previous cells live. At 100 TB partition the cell table by the
time grain and rewrite only the partitions a batch touches (dynamic
partition overwrite — the rollup.upsert_pricing_rollup pattern); cells are
counts, so even the whole-table fold only ever rewrites
|grain| x occupied-bins rows, not data.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from serverless_etl_bi_on_aws_spark.operators.histogram import build_histogram_cells
from serverless_etl_bi_on_aws_spark.streaming.incremental import (
    _live_data,
    _publish_generation,
    _unapplied_files,
)
from serverless_etl_bi_on_aws_spark.streaming.launch import (
    read_landing_zone,
    start_foreach_batch,
)
from serverless_etl_bi_on_aws_spark.util import read_marker

_APPLIED_FILES = "_applied_files.json"


def start_histogram_cell_maintenance(
    spark: SparkSession,
    source_dir: str,
    cells_path: str,
    schema: StructType,
    checkpoint_dir: str,
    value_col: str,
    grain: Sequence[str],
    bin_width: float,
    available_now: bool = True,
    processing_time: str = "1 hour",
) -> StreamingQuery:
    """Watch ``source_dir`` for new event files and keep the histogram
    cell table current: every micro-batch reduces the rows of its
    not-yet-applied files to cells and key-sums them into the generation
    store at ``cells_path``. Drain with ``available_now`` for the
    scheduled-batch cadence, or leave running with a processing-time
    trigger. Quantile reads (histogram_quantiles) hit only the cell table
    (``read_generation_target``) — never the raw stream history."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        _fold_landed_cells(spark, batch_df, cells_path, value_col, grain, bin_width)

    return start_foreach_batch(
        read_landing_zone(spark, source_dir, schema),
        apply_batch,
        checkpoint_dir,
        available_now,
        processing_time,
    )


def _fold_landed_cells(
    spark: SparkSession,
    landed: DataFrame,
    root: str,
    value_col: str,
    grain: Sequence[str],
    bin_width: float,
) -> None:
    """Fold the cells of ``landed``'s rows from files the live generation
    of ``root`` has not applied: union + key-sum, published as the next
    generation together with the grown applied-file list. Cell-sized
    work end to end."""
    live = _live_data(root)
    applied = read_marker(os.path.join(live, _APPLIED_FILES))["files"] if live else []
    todo, fresh = _unapplied_files(landed, set(applied).__contains__)
    if not todo:
        return  # every file already folded in: a re-delivery
    cells = build_histogram_cells(fresh, value_col, grain, bin_width)
    if live is not None:
        cells = (
            spark.read.parquet(live)
            .unionByName(cells)
            .groupBy(*grain, "bin_id")
            .agg(F.sum("n").alias("n"))
        )
    _publish_generation(
        root, cells, {_APPLIED_FILES: {"files": sorted([*applied, *todo])}}
    )
