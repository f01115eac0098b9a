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
double-counts a re-delivered micro-batch — unlike the key-idempotent
incremental merge or scd2_apply, which are no-ops on replay. The fold is
therefore made idempotent per epoch: the (checkpoint, epoch_id) of the
last applied micro-batch rides inside the cell table itself
(``_applied_epoch.json``, underscore-prefixed so Spark's reader ignores
it) and commits with the data in one generation, so a crash between the
commit and the checkpoint commit replays the epoch into a skip, never a
double-sum (pytest-pinned: same-epoch re-fold is a no-op).

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
)
from serverless_etl_bi_on_aws_spark.streaming.launch import (
    read_landing_zone,
    start_foreach_batch,
)
from serverless_etl_bi_on_aws_spark.util import read_marker

_EPOCH_MARK = "_applied_epoch.json"


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
    cell table current: every micro-batch reduces to its own cells and
    key-sums into the generation store at ``cells_path`` through
    :func:`merge_cells_into_generations`. Drain with ``available_now``
    for the scheduled-batch cadence, or leave running with a
    processing-time trigger. Quantile reads (histogram_quantiles) hit
    only the cell table (``read_generation_target``) — never the raw
    stream history."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_cells = build_histogram_cells(batch_df, value_col, grain, bin_width)
        merge_cells_into_generations(
            spark, batch_cells, cells_path, grain, epoch=(checkpoint_dir, epoch_id)
        )

    return start_foreach_batch(
        read_landing_zone(spark, source_dir, schema),
        apply_batch,
        checkpoint_dir,
        available_now,
        processing_time,
    )


def merge_cells_into_generations(
    spark: SparkSession,
    batch_cells: DataFrame,
    root: str,
    grain: Sequence[str],
    epoch: tuple[str, int] | None = None,
) -> None:
    """Fold batch-local cells into the persisted cell table: union +
    key-sum, published as the next generation of ``root``. Cell-sized
    work end to end.

    ``epoch`` = (checkpoint id, epoch_id) makes the additive fold
    idempotent under foreachBatch's at-least-once replay: an epoch at or
    below the live generation's recorded high-water mark (same
    checkpoint) is skipped. The mark is written INSIDE the new
    generation, so data and mark commit together with the pointer. A
    different checkpoint id resets the mark — epoch ids restart at 0 per
    checkpoint, so cross-checkpoint comparison would be meaningless."""
    live = _live_data(root)
    if live is not None:
        last = read_marker(os.path.join(live, _EPOCH_MARK)) if epoch else None
        if (
            last is not None
            and last.get("ckpt") == epoch[0]
            and epoch[1] <= last.get("epoch", -1)
        ):
            return  # re-delivered micro-batch: already folded in
        batch_cells = (
            spark.read.parquet(live)
            .unionByName(batch_cells)
            .groupBy(*grain, "bin_id")
            .agg(F.sum("n").alias("n"))
        )
    marks = {_EPOCH_MARK: {"ckpt": epoch[0], "epoch": epoch[1]}} if epoch else None
    _publish_generation(root, batch_cells, marks)
