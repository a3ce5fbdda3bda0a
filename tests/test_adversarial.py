"""Adversarial fixtures derived from the reference's documented defects
(SURVEY.md §5.5 / FIXTURES.md §3): each known failure mode of the
reference becomes a passing regression test of the engine.
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from kafka_stream_processing_spark.sources.kafka import (
    REFERENCE_EVENT_SCHEMA,
)


def test_missing_uid_does_not_crash(spark):
    """Reference NPEs on a record without `uid` (v.get("uid") at
    UniqueUsersCounter.java:68).  Engine policy: from_json yields NULL,
    and distinct-count semantics ignore NULL uids."""
    payloads = [
        '{"uid": "a", "ts": 1}',
        '{"ts": 2}',              # uid missing → uid NULL
        "not json at all",        # unparseable → whole struct NULL
        '{"uid": "b", "ts": 3}',
        '{"uid": "a", "ts": 4}',
    ]
    df = spark.createDataFrame([(p,) for p in payloads], "value string")
    parsed = df.select(
        F.from_json("value", REFERENCE_EVENT_SCHEMA).alias("j")
    ).select("j.uid")
    counted = parsed.agg(F.countDistinct("uid").alias("u")).collect()[0]
    assert counted.u == 2  # a, b — nulls ignored, nothing crashed


def test_wide_window_state_stays_bounded(spark):
    """Reference crashes when one window's serialized uid set exceeds
    1 MiB (README.md:27-31) — roughly tens of thousands of ~20-char uids.
    The engine's approx path must absorb 200k distinct uids in ONE window
    with O(KB) state and ~rsd accuracy."""
    n = 200_000
    df = spark.range(n).select(
        F.lit("2024-01-01 00:00:30").cast("timestamp").alias("ts"),
        F.concat(F.lit("uid_"), F.col("id")).alias("uid"),
    )
    out = (
        df.groupBy(F.window("ts", "1 minute"))
        .agg(F.approx_count_distinct("uid", rsd=0.01).alias("u"))
        .collect()
    )
    assert len(out) == 1
    assert abs(out[0].u - n) <= 0.05 * n


def test_streaming_topology_handles_null_uids(spark, tmp_path):
    """The full streaming topology (kafka.unique_users_topology shape) on
    a batch frame with nulls: null uids are dropped by dropDuplicates+
    count because countDistinct-by-dedup only sees non-null keys after the
    filter the engine applies."""
    rows = [
        Row(uid="a", ts=1_700_000_000),
        Row(uid=None, ts=1_700_000_001),
        Row(uid="b", ts=1_700_000_002),
        Row(uid="a", ts=1_700_000_003),
    ]
    events = spark.createDataFrame(rows).select(
        "uid", F.col("ts").alias("event_ts")
    )
    # Batch execution of the same topology expressions (minus watermark).
    ts = F.timestamp_seconds(F.col("event_ts"))
    out = (
        events.select(ts.alias("ts"), "uid")
        .filter(F.col("uid").isNotNull())
        .select(F.window("ts", "1 minute").alias("w"), "uid")
        .dropDuplicates(["w", "uid"])
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    )
    assert sum(r.cnt for r in out) == 2


def test_duplicate_heavy_window(spark):
    """A window where every record is the same uid (the degenerate case
    for set-based state): count must be exactly 1 and the job must not
    shuffle 100k copies to one reducer unreduced (partial aggregation
    collapses them map-side)."""
    df = spark.range(100_000).select(
        F.lit("2024-01-01 00:00:30").cast("timestamp").alias("ts"),
        F.lit("same_uid").alias("uid"),
    )
    out = (
        df.groupBy(F.window("ts", "1 minute"))
        .agg(F.countDistinct("uid").alias("u"))
        .collect()
    )
    assert len(out) == 1 and out[0].u == 1
