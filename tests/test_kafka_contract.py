"""Contract tests for the Kafka wrappers (sources/kafka.py).

The container has no broker and no spark-sql-kafka connector jar, so the
`format("kafka")` read/write cannot execute end to end; these tests pin
everything short of the socket:

- the JSON deserialization stage (S2) runs for real against batch rows
  shaped like Kafka's wire schema, including the malformed-payload policy
  (NULLs, not the reference's NPE at UniqueUsersCounter.java:68);
- `read_event_stream` / `write_count_stream` are wired to the `kafka`
  data source: constructing/starting them must reach Spark's data-source
  resolution for "kafka" (connector-missing error names it) — i.e. the
  wrapper builds a real Kafka plan, not an untested string;
- `unique_users_topology` (the Kafka path's W1+A1+A2+T1) produces exactly
  the reshaped rows of the driver-green `stream_unique_users_per_minute`
  query — the Kafka topology and the CI file-source topology cannot
  drift apart (they share build_windowed_dedup).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from kafka_stream_processing_spark import registry
from kafka_stream_processing_spark.sources.kafka import (
    parse_event_payload,
    read_event_stream,
    unique_users_topology,
    write_count_stream,
)
from kafka_stream_processing_spark.sources.tables import normalize_events
from kafka_stream_processing_spark.streaming.unique_users import (
    _stream_source_dir,
    file_stream,
    run_to_memory,
)


def _kafka_connector_available(spark) -> bool:
    try:
        spark.readStream.format("kafka").option(
            "kafka.bootstrap.servers", "localhost:9092"
        ).option("subscribe", "t").load()
        return True
    except Exception as exc:  # noqa: BLE001
        return "kafka" not in str(exc)


def test_parse_event_payload_schema_and_malformed_policy(spark):
    raw = spark.createDataFrame(
        [
            ('{"uid":"dd804e1c0499d5f4beb","ts":1468244590}', "2016-07-11 12:23:11"),
            ('{"uid":"aa","ts":1468244591,"extra":1}', "2016-07-11 12:23:12"),
            ('{"ts":1468244592}', "2016-07-11 12:23:13"),  # uid missing → NULL
            ("not json at all", "2016-07-11 12:23:14"),  # malformed → NULLs
            (None, "2016-07-11 12:23:15"),  # tombstone → NULLs
        ],
        schema="value string, timestamp string",
    ).select(
        # Kafka's wire value is binary; exercise the cast path the real
        # source goes through.
        F.col("value").cast("binary").alias("value"),
        F.col("timestamp").cast("timestamp").alias("timestamp"),
    )
    out = parse_event_payload(raw)
    assert [f.name for f in out.schema.fields] == ["uid", "event_ts", "kafka_ts"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "string", "bigint", "timestamp",
    ]
    rows = out.orderBy("kafka_ts").collect()
    assert rows[0].uid == "dd804e1c0499d5f4beb" and rows[0].event_ts == 1468244590
    assert rows[1].uid == "aa"
    assert rows[2].uid is None and rows[2].event_ts == 1468244592
    assert rows[3].uid is None and rows[3].event_ts is None
    assert rows[4].uid is None and rows[4].event_ts is None
    # Every row keeps its ingestion timestamp — the reference's window
    # time basis survives parsing even for garbage payloads.
    assert all(r.kafka_ts is not None for r in rows)


def test_read_event_stream_reaches_kafka_source_resolution(spark):
    """Building the source plan must hand Spark the `kafka` format with
    our options — proven either by success (connector on classpath) or by
    the data-source-not-found error naming `kafka` (nothing else in the
    wrapper can raise it)."""
    try:
        df = read_event_stream(spark, "localhost:9092", "events-in")
    except Exception as exc:  # noqa: BLE001
        assert "kafka" in str(exc).lower(), str(exc)
    else:
        assert df.isStreaming
        assert [f.name for f in df.schema.fields] == ["uid", "event_ts", "kafka_ts"]


def test_write_count_stream_reaches_kafka_sink_resolution(spark, tmp_path):
    """Same wiring proof for the sink: starting the write must reach the
    `kafka` sink provider (or succeed, with a real connector)."""
    if _kafka_connector_available(spark):
        pytest.skip("connector present; covered by the read-path test")
    counts = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .select(
            F.col("timestamp").cast("string").alias("key"),
            F.col("value").cast("string").alias("value"),
        )
    )
    with pytest.raises(Exception, match="(?i)kafka"):
        q = write_count_stream(
            counts, "localhost:9092", "counts-out", str(tmp_path / "chk")
        )
        q.stop()


def test_unique_users_topology_matches_registered_stream_query(spark, sf_small):
    """Byte-for-byte agreement between the Kafka topology's output records
    and the driver-green stream_unique_users_per_minute result (reshaped
    to the reference's (ISO-8601 key, string count) wire format,
    UniqueUsersCounter.java:91-93)."""
    path = _stream_source_dir(sf_small)
    stream = normalize_events(
        file_stream(spark, path, files_per_trigger=None)
    ).select(
        F.col("ts").alias("kafka_ts"),
        F.col("user_id").cast("string").alias("uid"),
    )
    topo = unique_users_topology(stream)  # time_column defaults to kafka_ts
    assert topo.isStreaming
    assert [f.name for f in topo.schema.fields] == ["key", "value"]
    # Update mode — the reference's continuous emission (README.md:45-52;
    # append would withhold the stream's final, never-watermark-closed
    # window).  The single-file staging is one micro-batch, so each
    # window is emitted exactly once with its final count.
    got = {
        (r.key, r.value)
        for r in run_to_memory(topo, mode="update").collect()
    }

    ref = registry.all_specs()["stream_unique_users_per_minute"].fn(
        spark, sf_small
    )
    expected = {
        (r.key, r.value)
        for r in ref.select(
            F.date_format(
                F.col("window_start").cast("timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'"
            ).alias("key"),
            F.col("unique_users").cast("string").alias("value"),
        ).collect()
    }
    assert got == expected and len(got) > 0
