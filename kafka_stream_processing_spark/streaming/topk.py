"""Streaming top-k — two shapes the reference's linear topology cannot
express (no sorts/limits exist in it at all; SURVEY.md §2.1 lists
sorts/limits/top-k as an explicitly absent category):

1. Per-key bounded top-k as arbitrary stateful processing: each user's
   state is ONLY its current top-3 values (3 ints + a counter) — the
   direct scale-safe answer to the reference's unbounded-HashSet state
   (README.md:27-31); state size is O(k) per key no matter how many
   events arrive.

2. Global top-k across all micro-batches via ``foreachBatch``: each
   batch contributes its local top-10 (a TakeOrderedAndProject, no full
   sort) and the driver folds it into a 10-row accumulator — the
   classic distributed top-k merge, with per-batch driver traffic
   bounded at k rows regardless of batch size.

Note: Spark 4's ``transformWithStateInPandas`` would be the idiomatic
home for shape 1, but its Python worker needs ``google.protobuf``,
absent from this container — ``applyInPandasWithState`` expresses the
same semantics with the same checkpointed per-key state contract.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import normalize_events
from kafka_stream_processing_spark.streaming.unique_users import (
    _stream_chunked_source_dir,
    file_stream,
    run_foreach_batch,
    run_to_memory,
)

_K = 3
_TOP3_STATE_SCHEMA = "a bigint, b bigint, c bigint, n bigint"
_TOP3_OUTPUT_SCHEMA = "user_id bigint, top3_sum double, n_top int, n_seen bigint"


def _update_user_top3(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Fold each batch's values into the per-user top-3 multiset.

    Values are held as exact integer micro-units (the decimal-not-double
    discipline of functions/exact.py) so the final sum is
    order-independent and bit-identical to the oracle's DECIMAL sum."""
    if state.exists:
        a, b, c, n = state.get
    else:
        a, b, c, n = None, None, None, 0
    vals = [x for x in (a, b, c) if x is not None]
    for pdf in pdfs:
        n += len(pdf)
        vals.extend(int(round(v * 1e6)) for v in pdf["value"])
        vals = sorted(vals, reverse=True)[:_K]
    padded = (vals + [None] * _K)[:_K]
    state.update((padded[0], padded[1], padded[2], n))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "top3_sum": [sum(vals) / 1e6],
            "n_top": [len(vals)],
            "n_seen": [n],
        }
    )


@register(
    "stream_user_topk_stateful",
    oracle="""
    WITH ranked AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id) AS rn
        FROM events
    )
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS top3_sum,
           CAST(count(*) AS INT) AS n_top
    FROM ranked
    WHERE rn <= 3
    GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def stream_user_topk_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user top-3 values as a genuinely multi-batch stateful stream
    (3 chunk files, one per trigger).  The state is a bounded record —
    top-3 micro-int values plus a monotone seen-counter used to select
    each user's final emission from the update-mode sink."""
    path = _stream_chunked_source_dir(sf_dir)
    stream = (
        normalize_events(file_stream(spark, path))
        .select("user_id", "value")
    )
    updated = stream.groupBy("user_id").applyInPandasWithState(
        _update_user_top3,
        outputStructType=_TOP3_OUTPUT_SCHEMA,
        stateStructType=_TOP3_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    sink = run_to_memory(updated, mode="update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_seen").desc())
    return (
        sink.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "top3_sum", "n_top")
    )


@register(
    "stream_global_topk_foreachbatch",
    oracle="""
    SELECT event_id, user_id, value
    FROM events
    ORDER BY value DESC, event_id
    LIMIT 10
    """,
    tags=("streaming",),
)
def stream_global_topk_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 events by value over a multi-batch stream.

    Each micro-batch computes only its LOCAL top-10 (plans as
    TakeOrderedAndProject: per-partition heads merged at the driver) and
    ``foreachBatch`` records those 10 rows under the batch's epoch id —
    driver memory is k rows per batch, no state store, and an epoch
    replayed after a transient failure overwrites rather than
    double-counts.  The final merge of all per-batch heads happens once
    at termination.  Top-k is order-insensitive to how the stream is
    chunked, which the oracle check proves."""
    path = _stream_chunked_source_dir(sf_dir)
    # Keyed by batch_id so a replayed micro-batch (transient failure →
    # Spark re-runs the epoch) OVERWRITES its prior contribution instead
    # of double-merging — the same idempotence recipe
    # tests/test_streaming_recovery.py demonstrates for file sinks.
    per_batch: dict[int, list[tuple]] = {}

    def fold_batch(batch_df: DataFrame, batch_id: int) -> None:
        local = (
            batch_df.orderBy(F.col("value").desc(), "event_id")
            .limit(10)
            .select("event_id", "user_id", "value")
            .collect()
        )
        per_batch[batch_id] = [
            (r["event_id"], r["user_id"], r["value"]) for r in local
        ]

    stream = (
        normalize_events(file_stream(spark, path))
        .select("event_id", "user_id", "value")
    )
    run_foreach_batch(stream, fold_batch)
    merged = [t for rows in per_batch.values() for t in rows]
    merged.sort(key=lambda t: (-t[2], t[0]))
    return spark.createDataFrame(
        merged[:10], schema="event_id bigint, user_id bigint, value double"
    )
