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
it) and moves atomically with the data in the write-new-then-swap rename,
so a crash between swap and checkpoint commit replays the epoch into a
skip, never a double-sum (pytest-pinned: same-epoch re-fold is a no-op).

Target atomicity uses the same write-new-then-swap protocol as
streaming/incremental.py (no transaction-log format in this image). At
100 TB partition the cell table by the time grain and rewrite only the
partitions a batch touches (dynamic partition overwrite — the
rollup.upsert_pricing_rollup pattern); cells are counts, so even the
swap variant only ever rewrites |grain| x occupied-bins rows, not data.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from serverless_etl_bi_on_aws_spark.operators.histogram import build_histogram_cells
from serverless_etl_bi_on_aws_spark.streaming.launch import (
    read_landing_zone,
    start_foreach_batch,
)
from serverless_etl_bi_on_aws_spark.util import read_marker, write_marker


def _applied_epoch(cells_path: str) -> dict | None:
    return read_marker(os.path.join(cells_path, "_applied_epoch.json"))


def merge_cells_into_parquet(
    spark: SparkSession,
    batch_cells: DataFrame,
    cells_path: str,
    grain: Sequence[str],
    epoch: tuple[str, int] | None = None,
) -> None:
    """Fold batch-local cells into the persisted cell table: union +
    key-sum + atomic swap. Cell-sized work end to end.

    ``epoch`` = (checkpoint id, epoch_id) makes the additive fold
    idempotent under foreachBatch's at-least-once replay: an epoch at or
    below the table's recorded high-water mark (same checkpoint) is
    skipped. The marker is written INTO the new table directory before
    the swap, so data and mark commit in one atomic rename. A different
    checkpoint id resets the mark — epoch ids restart at 0 per
    checkpoint, so cross-checkpoint comparison would be meaningless."""
    if epoch is not None:
        last = _applied_epoch(cells_path)
        if (
            last is not None
            and last.get("ckpt") == epoch[0]
            and epoch[1] <= last.get("epoch", -1)
        ):
            return  # re-delivered micro-batch: already folded in
    if os.path.exists(cells_path):
        existing = spark.read.parquet(cells_path)
        merged = (
            existing.unionByName(batch_cells)
            .groupBy(*grain, "bin_id")
            .agg(F.sum("n").alias("n"))
        )
    else:
        merged = batch_cells
    tmp = f"{cells_path}.__new__{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(tmp)
    if epoch is not None:
        write_marker(
            os.path.join(tmp, "_applied_epoch.json"),
            {"ckpt": epoch[0], "epoch": epoch[1]},
        )
    if os.path.exists(cells_path):
        old = f"{cells_path}.__old__{uuid.uuid4().hex[:8]}"
        os.rename(cells_path, old)
        os.rename(tmp, cells_path)
        shutil.rmtree(old, ignore_errors=True)
    else:
        os.rename(tmp, cells_path)


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
    generations: bool = False,
) -> StreamingQuery:
    """Watch ``source_dir`` for new event files and keep the histogram
    cell table current: every micro-batch reduces to its own cells and
    key-sums into ``cells_path``. Drain with ``available_now`` for the
    scheduled-batch cadence, or leave running with a processing-time
    trigger. Quantile reads (histogram_quantiles) hit only the cell
    table — never the raw stream history. ``generations=True`` (round
    16) folds through :func:`merge_cells_into_generations` instead —
    ``cells_path`` becomes a generation-store root (read via
    :func:`read_cells_generation`), the rename-free object-store
    shape."""

    def apply_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch_cells = build_histogram_cells(batch_df, value_col, grain, bin_width)
        fold = merge_cells_into_generations if generations else merge_cells_into_parquet
        fold(
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
    keep_n: int = 2,
) -> None:
    """The generation-store twin of :func:`merge_cells_into_parquet`
    (round 16 — SURVEY §7.1 convergence, same shape as
    streaming/incremental.merge_into_generation_target): the fold
    writes under a never-before-visible generation name with the
    ``_applied_epoch.json`` mark INSIDE the generation (data and mark
    still commit together — here via the single pointer-marker PUT
    instead of a directory rename), so the whole protocol runs on
    object-store primitives. Epoch idempotence is identical: an epoch
    at or below the live generation's recorded mark (same checkpoint)
    replays into a skip. Read the live cells with
    :func:`read_cells_generation`."""
    from serverless_etl_bi_on_aws_spark.operators.snapshot import (
        begin_generation,
        commit_generation,
        resolve_generation,
    )

    cur = resolve_generation(root)
    if epoch is not None and cur is not None:
        last = read_marker(os.path.join(cur, "data", "_applied_epoch.json"))
        if (
            last is not None
            and last.get("ckpt") == epoch[0]
            and epoch[1] <= last.get("epoch", -1)
        ):
            return  # re-delivered micro-batch: already folded in
    if cur is not None:
        existing = spark.read.parquet(os.path.join(cur, "data"))
        merged = (
            existing.unionByName(batch_cells)
            .groupBy(*grain, "bin_id")
            .agg(F.sum("n").alias("n"))
        )
    else:
        merged = batch_cells
    gen, stage = begin_generation(root)
    data_dir = os.path.join(stage, "data")
    merged.write.mode("overwrite").parquet(data_dir)
    if epoch is not None:
        write_marker(
            os.path.join(data_dir, "_applied_epoch.json"),
            {"ckpt": epoch[0], "epoch": epoch[1]},
        )
    commit_generation(root, gen, stage, keep_n=keep_n)


def read_cells_generation(spark: SparkSession, root: str) -> DataFrame:
    """Live cell table of a generation-backed fold target."""
    from serverless_etl_bi_on_aws_spark.operators.snapshot import (
        resolve_generation,
    )

    cur = resolve_generation(root)
    if cur is None:
        raise FileNotFoundError(f"no committed cell generation under {root}")
    return spark.read.parquet(os.path.join(root, os.path.basename(cur), "data"))
