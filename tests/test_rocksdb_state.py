"""RocksDB state store — the streaming state backend for 100 TB-scale
state (SCALE.md): unlike the default in-heap HDFS-backed store, RocksDB
spills to local disk, so dedup/session state is bounded by disk not
executor heap.  This test runs the flagship streaming topology under the
RocksDB provider and checks it against batch truth — proving the engine's
scale configuration is real, not aspirational."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_stream_processing_spark.sources.tables import normalize_events, table
from kafka_stream_processing_spark.streaming.unique_users import (
    _stream_source_dir,
    build_windowed_dedup,
    count_per_window,
    file_stream,
    run_to_memory,
)

ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


def test_flagship_streaming_on_rocksdb_state_store(spark, sf_small):
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    try:
        path = _stream_source_dir(sf_small)
        stream = normalize_events(
            file_stream(spark, path, files_per_trigger=None)
        )
        sink = run_to_memory(build_windowed_dedup(stream))
        got = {
            r.window_start: r.unique_users
            for r in count_per_window(sink).collect()
        }
        truth = {
            r.ws: r.u
            for r in table(spark, sf_small, "events")
            .groupBy(F.window("ts", "1 minute").alias("w"))
            .agg(F.countDistinct("user_id").alias("u"))
            .select(F.col("w.start").cast("string").alias("ws"), "u")
            .collect()
        }
        assert got == truth
    finally:
        # unset when previously unset — `if prev:` leaked RocksDB as
        # the provider for every later streaming test (r13 fix).
        if prev is not None:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
        else:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass"
            )
