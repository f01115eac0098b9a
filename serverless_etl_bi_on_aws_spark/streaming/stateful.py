"""Custom stateful streaming operator (SURVEY.md §2.9 extension surface):
per-key running aggregation via ``applyInPandasWithState``.

The reference has no stateful streaming (lateness is absorbed by window
re-extraction); this is the north-star's "custom stateful operator" slot —
the pattern for anything the built-in windowed aggs can't express (running
distinct-ish counters, per-user ML feature state, decaying scores). State
lives in the checkpointed state store, partitioned by key: each micro-batch
touches only the keys present in that batch, so state size scales with key
cardinality, not stream length.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from serverless_etl_bi_on_aws_spark.streaming.launch import read_landing_zone


def stream_user_running_totals(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    fmt: str = "parquet",
) -> DataFrame:
    """Streaming per-user lifetime counters: total events and summed value,
    carried across micro-batches (and across restarts, via the query
    checkpoint). Emits one row per user per batch in update mode."""
    stream = read_landing_zone(spark, source_dir, schema, fmt)

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 2)]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, sum_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
