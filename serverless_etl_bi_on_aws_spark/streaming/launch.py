"""The one launcher behind every ``foreachBatch`` loop in this package.

Every loop is the reference's hourly trigger (README.md:53-76): land an
extract, apply it to persisted state once per micro-batch. Only the
batch body differs per loop; the rest is decided here:

* :func:`read_landing_zone` — the checkpointed file source. Only files
  of the declared format participate: a landing zone accumulates
  manifests, notes and ``_SUCCESS`` markers, and a stray ``readme.txt``
  would otherwise fail the whole micro-batch (observed).
* :func:`start_foreach_batch` — the sink: empty micro-batches never reach
  the body, and the trigger is ``availableNow`` (drain, then stop — the
  hourly cadence run from any scheduler) or ``processingTime`` (stay up).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType


def read_landing_zone(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming read of the ``*.<fmt>`` files landing in ``source_dir``."""
    reader = spark.readStream.schema(schema).option("pathGlobFilter", f"*.{fmt}")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return getattr(reader, fmt)(source_dir)


def start_foreach_batch(
    stream: DataFrame,
    apply_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str = "1 hour",
) -> StreamingQuery:
    """Start ``apply_batch(batch_df, epoch_id)`` over every non-empty
    micro-batch of ``stream``."""

    def run(batch_df: DataFrame, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            apply_batch(batch_df, epoch_id)

    writer = stream.writeStream.foreachBatch(run).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
