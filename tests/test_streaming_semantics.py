"""Streaming-semantics regression tests anchored to the reference's
documented behaviors:

- update mode = the reference's continuous emission "defect" (counts for a
  window keep growing as records arrive — reference README.md:45-52);
- append mode + watermark = the intended one-final-count-per-window
  behavior the reference author wanted but couldn't achieve;
- batch ≡ streaming: the same plan over the same data must agree.

The multi-batch stream is staged by splitting events into 3 time-ordered
parquet files and feeding them with maxFilesPerTrigger=1.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import tempfile

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from kafka_stream_processing_spark.sources.tables import table
from kafka_stream_processing_spark.streaming import joins, unique_users
from kafka_stream_processing_spark.streaming.unique_users import (
    _write_chunks,
    file_stream,
    run_foreach_batch,
    run_to_memory,
)


def _stage(spark, sf_small, base: str, interleaved: bool) -> str:
    events = table(spark, sf_small, "events").orderBy("ts")
    n = events.count()
    pdf = events.toPandas()
    # Keep timestamps at microsecond resolution — pandas' default ns would
    # round-trip through parquet as TIMESTAMP(NANOS), which Spark reads as
    # bigint under our nanosAsLong conf.
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    if interleaved:
        # Round-robin rows across files so every window spans all batches
        # (forces re-emission in update mode).
        chunks = [pdf.iloc[i::3] for i in range(3)]
    else:
        chunks = [pdf.iloc[: n // 3], pdf.iloc[n // 3 : 2 * n // 3], pdf.iloc[2 * n // 3 :]]
    for i, chunk in enumerate(chunks):
        chunk.to_parquet(os.path.join(base, f"part-{i}.parquet"), index=False)
    return base


@pytest.fixture(scope="module")
def staged_stream_dir(spark, sf_small, tmp_path_factory):
    """3 chronological parquet files (in-order arrival)."""
    base = _stage(spark, sf_small, str(tmp_path_factory.mktemp("staged_events")), False)
    yield base
    shutil.rmtree(base, ignore_errors=True)


@pytest.fixture(scope="module")
def staged_interleaved_dir(spark, sf_small, tmp_path_factory):
    """3 round-robin parquet files (every window split across batches)."""
    base = _stage(spark, sf_small, str(tmp_path_factory.mktemp("staged_rr")), True)
    yield base
    shutil.rmtree(base, ignore_errors=True)


def _windowed_counts(df):
    return (
        df.select(F.window("ts", "1 minute").alias("w"), "user_id")
        .dropDuplicates(["w", "user_id"])
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("unique_users"))
        .select(F.col("w.start").cast("string").alias("window_start"), "unique_users")
    )


def _batch_truth(spark, sf_small) -> dict[str, int]:
    rows = (
        table(spark, sf_small, "events")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.countDistinct("user_id").alias("u"))
        .select(F.col("w.start").cast("string").alias("ws"), "u")
        .collect()
    )
    return {r.ws: r.u for r in rows}


def _run_stream(spark, src_dir: str, output_mode: str, with_watermark: bool):
    stream = file_stream(spark, src_dir)
    if with_watermark:
        stream = stream.withWatermark("ts", "5 seconds")
    if output_mode == "update":
        # Faithful reproduction of the reference: per-batch updated counts.
        agg = (
            stream.groupBy(F.window("ts", "1 minute").alias("w"))
            .agg(F.approx_count_distinct("user_id").alias("unique_users"))
            .select(F.col("w.start").cast("string").alias("window_start"), "unique_users")
        )
        batches: list[list] = []

        def sink(df, _epoch):
            batches.append(df.collect())

        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(sink)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return batches
    else:
        deduped = stream.select(
            F.window("ts", "1 minute").alias("w"), "user_id"
        ).dropDuplicates(["w", "user_id"])
        return (
            run_to_memory(deduped)
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("unique_users"))
            .select(F.col("w.start").cast("string").alias("window_start"), "unique_users")
            .collect()
        )


def test_update_mode_reproduces_reference_continuous_emission(
    spark, staged_interleaved_dir, sf_small
):
    """Counts for a window grow monotonically across batches (the
    reference's documented continuous emission, README.md:45-52)."""
    batches = _run_stream(spark, staged_interleaved_dir, "update", with_watermark=False)
    assert len(batches) >= 2, "expected multiple micro-batches"
    seen: dict[str, int] = {}
    re_emitted = 0
    for batch in batches:
        for row in batch:
            prev = seen.get(row.window_start)
            if prev is not None:
                re_emitted += 1
                assert row.unique_users >= prev, (
                    f"window {row.window_start} count decreased {prev} -> "
                    f"{row.unique_users}"
                )
            seen[row.window_start] = row.unique_users
    # The boundary windows spanning two files must be emitted repeatedly.
    assert re_emitted >= 1, "no window was ever updated across batches"


def test_append_mode_streaming_equals_batch(spark, staged_stream_dir, sf_small):
    """Append mode + stateful dedup over 3 micro-batches ≡ batch distinct
    count (exactly one final row per window)."""
    rows = _run_stream(spark, staged_stream_dir, "append", with_watermark=True)
    truth = _batch_truth(spark, sf_small)
    got = {r.window_start: r.unique_users for r in rows}
    assert len(got) == len(rows), "append emitted a window twice"
    assert got == truth


def test_streaming_session_windows_match_batch_for_closed_sessions(spark, sf_small):
    """Streaming session windows (append mode): every emitted session must
    exist identically in the batch result; only sessions still OPEN at the
    final watermark may be withheld (measured: exactly the tail sessions)."""
    from kafka_stream_processing_spark.sources.tables import normalize_events, table
    from kafka_stream_processing_spark.streaming.unique_users import _stream_source_dir

    path = _stream_source_dir(sf_small)
    stream = normalize_events(file_stream(spark, path, files_per_trigger=None))
    agg = (
        stream.withWatermark("ts", "5 seconds")
        .groupBy("user_id", F.session_window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.unix_micros("w.start").alias("start_us"), "n_events")
    )
    streamed = {
        (r.user_id, r.start_us): r.n_events for r in run_to_memory(agg).collect()
    }

    from kafka_stream_processing_spark import registry

    batch = {
        (r.user_id, r.session_start_us): r.n_events
        for r in registry.all_specs()["session_windows_per_user"]
        .fn(spark, sf_small)
        .collect()
    }
    # Streamed sessions are exact.
    for key, n in streamed.items():
        assert batch.get(key) == n, (key, n, batch.get(key))
    # Only tail sessions may be missing.
    missing = set(batch) - set(streamed)
    max_ts = table(spark, sf_small, "events").agg(F.max("ts")).collect()[0][0]
    horizon_us = int(max_ts.timestamp() * 1e6) - (5 * 60 + 5) * 1_000_000
    assert all(start_us >= horizon_us for _, start_us in missing), missing


def test_streaming_survives_late_data_within_watermark(spark, tmp_path):
    """Events arriving out of order within the watermark still land in
    their event-time window (the reference, windowing on ingestion time,
    would miscount these — README.md:54-58)."""
    import pandas as pd

    src = str(tmp_path / "late")
    os.makedirs(src)
    base = pd.Timestamp("2024-01-01 00:00:00")

    def write(path, ts, users):
        df = pd.DataFrame({"ts": ts, "user_id": users})
        df["ts"] = df["ts"].astype("datetime64[us]")
        df.to_parquet(path, index=False)

    # File 1: two users in minute 0, one in minute 1.
    write(
        os.path.join(src, "a.parquet"),
        [base, base + pd.Timedelta("10s"), base + pd.Timedelta("70s")],
        [1, 2, 3],
    )
    # File 2: a LATE arrival for minute 0 (new user 4), 3 s late.
    write(
        os.path.join(src, "b.parquet"),
        [base + pd.Timedelta("72s"), base + pd.Timedelta("20s")],
        [3, 4],
    )

    stream = (
        file_stream(spark, src)
        .withWatermark("ts", "5 seconds")
        .select(F.window("ts", "1 minute").alias("w"), "user_id")
        .dropDuplicates(["w", "user_id"])
    )
    counts = {
        r.ws: r.c
        for r in run_to_memory(stream)
        .groupBy(F.col("w.start").cast("string").alias("ws"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert counts["2024-01-01 00:00:00"] == 3  # users 1, 2 and LATE 4
    assert counts["2024-01-01 00:01:00"] == 1  # user 3 deduped across files


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates arriving within the
    watermark interval collapse EVEN IF their event times differ (retry
    semantics — same event_id re-sent with a slightly later timestamp),
    which plain dropDuplicates(["event_id"]) would keep unbounded state
    for.  State per key is evicted once the watermark passes — the
    bounded-state guarantee the reference's HashSet never had."""
    import pandas as pd

    src = str(tmp_path / "dupwm")
    os.makedirs(src)
    base = pd.Timestamp("2024-01-01 00:00:00")

    def write(path, ids, ts):
        df = pd.DataFrame({"event_id": ids, "ts": ts})
        df["ts"] = df["ts"].astype("datetime64[us]")
        df.to_parquet(path, index=False)

    # Batch 1: events 1 and 2.
    write(os.path.join(src, "a.parquet"), [1, 2],
          [base, base + pd.Timedelta("1s")])
    # Batch 2: event 2 re-delivered 3 s later (same id, later ts) plus a
    # genuinely new event 3.
    write(os.path.join(src, "b.parquet"), [2, 3],
          [base + pd.Timedelta("4s"), base + pd.Timedelta("10s")])

    stream = (
        file_stream(spark, src)
        .withWatermark("ts", "5 seconds")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    rows = run_to_memory(stream).select("event_id").collect()
    ids = sorted(r.event_id for r in rows)
    assert ids == [1, 2, 3], ids  # the re-delivery of 2 was dropped


# ------------------------------------------------ the availableNow runner


def test_run_to_memory_leaves_no_view_and_frame_collects(
    spark, staged_stream_dir
):
    """The memory sink's temp view would pin every sink row in driver
    memory for the rest of the session; the runner drops it, and the
    returned frame still reads the sink."""
    before = {t.name for t in spark.catalog.listTables()}
    sink = run_to_memory(
        file_stream(spark, staged_stream_dir).select("event_id")
    )
    assert {t.name for t in spark.catalog.listTables()} == before
    want = sorted(
        r.event_id
        for r in spark.read.parquet(staged_stream_dir).select("event_id").collect()
    )
    assert sorted(r.event_id for r in sink.collect()) == want


def test_run_foreach_batch_failure_surfaces_and_cleans_up(
    spark, staged_stream_dir, monkeypatch
):
    """A callback exception fails the query and reaches the caller as
    StreamingQueryException; the state-partition scope still restores
    the session conf and the run's checkpoint directory is removed."""
    made: list[str] = []
    real_mkdtemp = tempfile.mkdtemp

    def spy(*args, **kwargs):
        d = real_mkdtemp(*args, **kwargs)
        made.append(d)
        return d

    monkeypatch.setattr(tempfile, "mkdtemp", spy)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)

    def boom(batch_df, batch_id):
        raise ValueError("boom in batch")

    with pytest.raises(StreamingQueryException, match="boom in batch"):
        run_foreach_batch(file_stream(spark, staged_stream_dir), boom)
    assert spark.conf.get(key) == before
    assert made, "the runner made no checkpoint directory"
    assert not [d for d in made if os.path.exists(d)]


def test_package_has_one_available_now_trigger():
    """Every availableNow run goes through the one runner in
    streaming/unique_users.py; a second copy of the trigger means a
    hand-written runner crept back in."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "kafka_stream_processing_spark"
    hits = [
        (str(p.relative_to(pkg)), n)
        for p in sorted(pkg.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "trigger(availableNow=True)" in line
    ]
    assert len(hits) == 1 and hits[0][0].endswith("unique_users.py"), hits


_CHUNK_STAGERS = {
    "events": unique_users._stream_chunked_source_dir,
    "redelivery": unique_users._stream_redelivery_source_dir,
    "late": unique_users._stream_late_source_dir,
    "embeddings": joins._stream_embeddings_source_dir,
    "doc_slice": joins._stream_train_docs_source_dir,
}


@pytest.mark.parametrize("stager", list(_CHUNK_STAGERS))
def test_stagers_pin_chunk_order(sf_small, stager):
    """FileStreamSource takes files oldest-mtime-first at millisecond
    granularity, so chunk files written back to back can tie and arrive
    out of order.  Every chunked stager pins strictly increasing
    whole-second mtimes in chunk order."""
    d = _CHUNK_STAGERS[stager](sf_small)
    names = sorted(
        (n for n in os.listdir(d) if n.startswith("chunk-")),
        key=lambda n: int(n[len("chunk-"):-len(".parquet")]),
    )
    secs = [int(os.stat(os.path.join(d, n)).st_mtime) for n in names]
    assert len(secs) >= 3, names
    assert all(a < b for a, b in zip(secs, secs[1:])), secs


_SOURCE_STAGERS = {
    **_CHUNK_STAGERS,
    "events_file": unique_users._stream_source_dir,
    "doc_batch": joins._stream_doc_batch_source_dir,
    "docs_all": joins._all_docs_chunked_source_dir,
}


@pytest.mark.parametrize("stager", list(_SOURCE_STAGERS))
def test_file_stream_reads_schema_without_a_job(spark, sf_small, stager):
    """file_stream takes its schema from one parquet footer: building the
    stream frame launches no Spark job, and the schema is the one Spark
    infers from the staged directory."""
    path = _SOURCE_STAGERS[stager](sf_small)
    sc, group = spark.sparkContext, f"file_stream_{stager}"
    sc.setJobGroup(group, group)
    try:
        stream = file_stream(spark, path)
    finally:
        for key in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
            sc.setLocalProperty(f"spark.{key}", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert stream.schema == spark.read.parquet(path).schema


def test_file_stream_reads_nanos_as_bigint(spark, tmp_path):
    """TIMESTAMP(NANOS) columns come back as the bigint Spark's
    nanosAsLong conf reads, like the batch reader's schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(
        pa.table({"ts": ts, "k": [1]}), str(tmp_path / "chunk-0.parquet")
    )
    stream = file_stream(spark, str(tmp_path))
    assert stream.schema == spark.read.parquet(str(tmp_path)).schema
    assert stream.schema["ts"].dataType.simpleString() == "bigint"


def _three_batch_dir(path: pathlib.Path) -> str:
    """Three parquet chunks, one micro-batch each; the middle one has no
    row with x > 0."""
    import pyarrow as pa

    path.mkdir()
    _write_chunks(str(path), [
        pa.table({"k": [5, 3, 9], "x": [1, 2, 2]}),
        pa.table({"k": [12, 10], "x": [-1, -2]}),
        pa.table({"k": [21, 20, 22], "x": [7, 7, 8]}),
    ])
    return str(path)


def _positive_x_cells(b):
    return (
        b.filter(F.col("x") > 0)
        .groupBy("x")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("k").cast("int").alias("top"),
        )
    )


def test_per_batch_cells_tags_rows_with_their_batch_min_key(spark, tmp_path):
    """Each cell row carries its own batch's min key; the column types
    are the cells frame's; a batch that yields no cells adds no rows."""
    out = joins._per_batch_cells(
        file_stream(spark, _three_batch_dir(tmp_path / "src")),
        "k",
        _positive_x_cells,
    )
    assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
        ("chunk_min_k", "bigint"),
        ("x", "bigint"),
        ("n", "bigint"),
        ("top", "int"),
    ]
    assert sorted(tuple(r) for r in out.collect()) == [
        (3, 1, 1, 5),
        (3, 2, 2, 9),
        (20, 7, 2, 21),
        (20, 8, 1, 22),
    ]


def test_per_batch_cells_failure_surfaces_and_cleans_up(
    spark, tmp_path, monkeypatch
):
    """An exception inside ``cells`` fails the query as
    StreamingQueryException and leaves no checkpoint directory."""
    src = _three_batch_dir(tmp_path / "src")
    made: list[str] = []
    real_mkdtemp = tempfile.mkdtemp

    def spy(*args, **kwargs):
        d = real_mkdtemp(*args, **kwargs)
        made.append(d)
        return d

    monkeypatch.setattr(tempfile, "mkdtemp", spy)

    def bad_cells(b):
        raise ValueError("boom in cells")

    with pytest.raises(StreamingQueryException, match="boom in cells"):
        joins._per_batch_cells(file_stream(spark, src), "k", bad_cells)
    ckpts = [d for d in made if os.path.basename(d).startswith("kssp_ckpt_")]
    assert ckpts, "the runner made no checkpoint directory"
    assert not [d for d in ckpts if os.path.exists(d)]
