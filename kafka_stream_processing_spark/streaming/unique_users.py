"""Structured Streaming parity for the reference topology.

The reference consumes a Kafka topic and emits per-minute unique-user
counts continuously (update-style changelog; documented defect at
reference README.md:45-52).  Here the same topology runs as a Spark
Structured Streaming job:

    source → watermark(5s) → window(1 min) → stateful dedup → count

- ``withWatermark("ts", "5 seconds")`` encodes the reference README's own
  latency bound ("99.9% of frames arrive within 5 seconds", README.md:56)
  and gives deterministic window finalization + state GC — the behavior
  the reference author wanted but couldn't achieve.
- The distinct count is two-phase (dropDuplicates on (window, user) then
  count) because streaming aggregation forbids countDistinct; dedup state
  is per-(window,user) UnsafeRow — bounded, evicted at watermark — unlike
  the reference's ever-growing Java-serialized HashSet (HashSetSerde,
  UniqueUsersCounter.java:26-45).

For CI/driver runs the source is the file source with an availableNow
trigger (no broker needed); the Kafka wiring lives in
``kafka_stream_processing_spark.sources.kafka`` and swaps in unchanged.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import threading
import time
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import (
    _footer_schema,
    normalize_events,
)

#: scoped_state_partitions flips a SESSION-GLOBAL conf; this lock
#: serializes the engine's own streaming runs so a concurrently planned
#: streaming query can't inherit another query's partition count.  Batch
#: queries planned by OTHER threads on a shared SparkSession during the
#: scope would still see the streaming value — single-threaded driver use
#: is the engine's documented assumption (the verification driver and
#: bench both run queries sequentially); a cluster deployment wanting
#: concurrent sessions should use a separate SparkSession per query
#: (newSession()) whose confs are independent.  RLock, not Lock: a
#: scoped query invoking another scoped query on the same thread (nested
#: scopes) must not deadlock — the inner scope sets/restores around the
#: outer's value, which composes correctly.
_STATE_SCOPE_LOCK = threading.RLock()


@contextlib.contextmanager
def scoped_state_partitions(spark: SparkSession):
    """Run a streaming query with its own state-store parallelism.

    A stateful query's state partition count is `spark.sql.shuffle.
    partitions` at FIRST run (baked into the checkpoint thereafter) — a
    per-query sizing decision tied to key cardinality and throughput,
    independent of how batch shuffles are sized.  Locally the test
    streams carry O(10k) keys at most, and the HDFS-backed state store
    pays a FIXED per-partition commit cost per stateful operator per
    trigger: each delta file and its checkpoint checksum file is
    written to a temp file and renamed.  Under Spark's default
    FileContext checkpoint manager, without libhadoop, every rename
    also forked about four ``readlink`` processes.  On ``file://`` the
    engine's sessions use the FileSystem-based manager instead
    (``session.local_checkpoint_conf``), which drops the ``readlink``
    forks; each file create still forks a ``chmod``.  So fewer
    partitions still win until a partition's
    state stops fitting comfortably.  Measured at sf0.1 (4 vCPUs, 5
    reps interleaved across counts, median wall), FileSystem manager
    (FileContext manager in brackets): chained window agg 1.06 s at 2
    [1.59], 1.16 s at 4 [1.82], 1.49 s at 8 [2.31];
    stream_unique_users_per_minute 1.55 s at 2 [1.85], 1.33 s at 4
    [1.74], 1.59 s at 8 [1.94].  Default is 4 — best or near-best on
    both, and high enough that the largest local state (~39k minute
    windows) still spreads ~10k keys/partition.  On a cluster, size UP
    per expected keys instead — same knob, opposite direction.
    Restores the session conf on exit; serialized via
    _STATE_SCOPE_LOCK (see note above)."""
    n = int(os.environ.get("SPARK_GRAFT_STATE_PARTITIONS", "4"))
    key = "spark.sql.shuffle.partitions"
    with _STATE_SCOPE_LOCK:
        old = spark.conf.get(key)
        spark.conf.set(key, str(n))
        try:
            yield
        finally:
            spark.conf.set(key, old)


def _run_available_now(spark: SparkSession, writer: DataStreamWriter) -> None:
    """The one way the engine runs a streaming query to completion: drain
    every available input under the availableNow trigger inside
    scoped_state_partitions, against a private checkpoint directory that
    is removed afterwards whether the run succeeds or fails.  A query
    failure surfaces from ``awaitTermination`` as the unchanged
    StreamingQueryException."""
    checkpoint = tempfile.mkdtemp(prefix="kssp_ckpt_")
    try:
        with scoped_state_partitions(spark):
            query = (
                writer.option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            try:
                query.awaitTermination()
            finally:
                query.stop()  # no-op once terminated; never orphan a run
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)


def run_to_memory(df: DataFrame, mode: str = "append") -> DataFrame:
    """Run streaming ``df`` to completion into a memory sink and return
    the sink's rows as a batch DataFrame.  The sink's temp view is
    dropped before returning: the returned frame keeps the sink alive on
    its own, and a leftover view would pin every sink row in driver
    memory for the rest of the session."""
    spark = df.sparkSession
    name = f"kssp_sink_{uuid.uuid4().hex}"
    try:
        _run_available_now(
            spark,
            df.writeStream.format("memory").queryName(name).outputMode(mode),
        )
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


def run_foreach_batch(
    df: DataFrame, fn: Callable[[DataFrame, int], None]
) -> None:
    """Run streaming ``df`` to completion, handing each micro-batch to
    ``fn(batch_df, batch_id)``.  An exception raised by ``fn`` fails the
    query and surfaces as StreamingQueryException."""
    _run_available_now(df.sparkSession, df.writeStream.foreachBatch(fn))


def file_stream(
    spark: SparkSession, path: str, files_per_trigger: int | None = 1
) -> DataFrame:
    """Streaming parquet source over a staged directory.  A file stream
    cannot infer its schema, so it comes from the footer of one staged
    file (``_footer_schema``, no Spark job).  The schema is the raw one
    (TIMESTAMP(NANOS) as bigint); callers normalize after.
    ``files_per_trigger=1`` turns each staged chunk file into its own
    micro-batch; ``None`` reads everything in one trigger."""
    reader = spark.readStream.schema(_footer_schema(path))
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.parquet(path)


def _stream_source_dir(sf_dir: str) -> str:
    """Spark's file streaming source requires a *directory*; the testdata
    keeps one parquet file per table.  Stage a directory of symlinks under
    /tmp (testdata itself is read-only)."""
    key = sf_dir.strip("/").replace("/", "_")
    d = os.path.join("/tmp", "kssp_stream_src", key, "events")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    # lexists, not exists: a dangling link (testdata moved) must be
    # replaced, not tripped over with FileExistsError.
    if os.path.lexists(link):
        os.remove(link)
    os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    return d


def publish_staged_dir(d: str, build) -> str:
    """Stage a streaming source directory ATOMICALLY: if ``d`` is not yet
    published (no ``_STAGED`` marker), run ``build(tmp)`` against a
    private temp sibling, write the marker there, and publish with ONE
    ``os.rename`` — atomic on the same filesystem.  A crash mid-build can
    never leave a partial directory at the published path, and when two
    sessions race, one wins the rename and the other discards its temp
    copy; readers already streaming ``d`` never see files rewritten
    underneath them.  Shared by every chunked-source stager (events,
    redelivery, document slices in streaming/joins.py)."""
    marker = os.path.join(d, "_STAGED")
    if os.path.exists(marker):
        return d
    os.makedirs(os.path.dirname(d), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".staging_", dir=os.path.dirname(d))
    try:
        build(tmp)
        with open(os.path.join(tmp, "_STAGED"), "w") as fh:
            fh.write("ok")
        try:
            os.rename(tmp, d)
        except OSError:
            if not os.path.exists(marker):  # lost the race AND no winner
                raise
    finally:
        if os.path.isdir(tmp):
            shutil.rmtree(tmp, ignore_errors=True)
    return d


def _write_chunks(tmp: str, chunks: list) -> None:
    """Write each chunk (a pyarrow Table, or the path of a parquet file
    to copy) as ``tmp/chunk-<i>.parquet`` with strictly increasing
    whole-second mtimes in chunk order, so micro-batch order IS chunk
    order.  FileStreamSource takes files oldest-mtime-first at
    millisecond granularity: back-to-back writes can tie and arrive in
    any order — harmless for per-batch-keyed monitors, fatal for
    order-sensitive consumers (late-data watermarks, SCD2 head merges,
    cumulative novelty).  Every chunked stager writes through here."""
    import pyarrow.parquet as pq

    base = int(time.time()) - 2 * (len(chunks) + 2)
    for i, chunk in enumerate(chunks):
        p = os.path.join(tmp, f"chunk-{i}.parquet")
        if isinstance(chunk, str):
            shutil.copyfile(chunk, p)
        else:
            pq.write_table(chunk, p)
        os.utime(p, (base + 2 * i, base + 2 * i))


def fresh_run_dir(sf_dir: str, label: str) -> str:
    """A new private run directory under ``/tmp/<label>/<sf key>/`` for a
    query that materializes per-batch generations on disk.  First sweeps
    sibling ``run_*`` dirs older than an hour — left by CRASHED past runs;
    a completed run removes its own dir before returning, so no live
    reader can reference a swept path.  mkdtemp, not a session counter:
    a counter restarts per process, and a reused path would silently
    resume on a stale generation."""
    key = sf_dir.strip("/").replace("/", "_")
    root = os.path.join("/tmp", label, key)
    os.makedirs(root, exist_ok=True)
    cutoff = time.time() - 3600
    for entry in os.listdir(root):
        p = os.path.join(root, entry)
        try:
            if entry.startswith("run_") and os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass  # raced with a concurrent sweep — already gone
    return tempfile.mkdtemp(prefix="run_", dir=root)


def _stream_chunked_source_dir(sf_dir: str, n_chunks: int = 3) -> str:
    """Stage events as N time-ordered parquet chunk files so that
    ``maxFilesPerTrigger=1`` yields a genuine multi-batch stream (the
    single-file staging above always collapses to one micro-batch).

    The cache key includes the source file's (mtime, size) so regenerated
    testdata invalidates stale chunks instead of silently feeding every
    multi-batch streaming query (the single-file variant re-links each
    call; this one must re-stage).

    The staging sort carries the (ts, event_id) tiebreaker so chunk
    membership is DETERMINISTIC even for duplicate timestamps straddling
    a chunk boundary — oracles that reconstruct per-chunk facts
    arithmetically (stream_update_mode_running_counts) mirror the same
    two-key order; pyarrow's stable sort on ts alone would leave tie
    order to file order while DuckDB's row_number() tie order is
    unspecified (ADVICE r06).

    Micro-batches arrive in time order (_write_chunks pins the file
    mtimes): order-SENSITIVE incremental maintenance
    (stream_scd2_incremental's head-merge) assumes each batch strictly
    follows the last."""
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    key = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(
        "/tmp", "kssp_stream_src", key,
        f"events_chunks{n_chunks}v3_{int(st.st_mtime_ns)}_{st.st_size}",
    )

    def build(tmp: str) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(src)
        t = t.take(pc.sort_indices(
            t,
            sort_keys=[("ts", "ascending"), ("event_id", "ascending")],
        ))
        step = (t.num_rows + n_chunks - 1) // n_chunks
        chunks = [t.slice(i * step, step) for i in range(n_chunks)]
        _write_chunks(tmp, [c for c in chunks if c.num_rows])

    return publish_staged_dir(d, build)


def build_windowed_dedup(
    events: DataFrame,
    watermark: str = "5 seconds",
    ts_col: str = "ts",
    id_col: str = "user_id",
    window: str = "1 minute",
    slide: str | None = None,
) -> DataFrame:
    """The streaming topology up to (but excluding) the final count —
    shared by the registered streaming queries, the batch-parity tests and
    the Kafka entry point (sources/kafka.py passes id_col='uid').

    NULL ids are dropped BEFORE dedup: count-distinct semantics (batch
    flagship and oracle both use count(DISTINCT ...)) never count NULL as
    a user, and a (window, NULL) dedup-state entry would."""
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        events
        .filter(F.col(id_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .select(win.alias("w"), F.col(id_col).alias("user_id"))
        .dropDuplicates(["w", "user_id"])
    )


def count_per_window(deduped: DataFrame) -> DataFrame:
    return (
        deduped.groupBy("w")
        .agg(F.count(F.lit(1)).alias("unique_users"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "unique_users",
        )
    )


@register(
    "stream_unique_users_per_minute",
    oracle="""
    SELECT CAST(date_trunc('minute', ts) AS VARCHAR) AS window_start,
           count(DISTINCT user_id) AS unique_users
    FROM events
    GROUP BY 1
    """,
    tags=("streaming", "reference-parity"),
)
def stream_unique_users_per_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship computed BY ACTUALLY RUNNING Structured Streaming:
    file-source stream → watermark → stateful dedup → memory sink
    (availableNow trigger), then the final count over the sink table.
    Registered with the same oracle as the batch flagship — streaming and
    batch must agree exactly."""
    path = _stream_source_dir(sf_dir)
    stream = normalize_events(file_stream(spark, path, files_per_trigger=None))
    deduped = build_windowed_dedup(stream)
    sink = run_to_memory(deduped)
    return count_per_window(sink)


@register(
    "stream_chained_window_agg",
    # Append mode only emits windows CLOSED by the final watermark
    # (max(ts) - 5 s); the oracle reproduces that gate exactly, so the
    # comparison pins the engine's emission semantics, not just values.
    oracle="""
    WITH wm AS (
        SELECT max(ts) - INTERVAL 5 SECOND AS w FROM events
    ),
    minutes AS (
        SELECT date_trunc('minute', ts) AS m, count(*) AS n
        FROM events GROUP BY 1
    )
    SELECT CAST(CAST(date_trunc('hour', m) AS TIMESTAMP) AS VARCHAR) AS hour_start,
           max(n) AS peak_minute_events,
           CAST(SUM(CAST(n AS BIGINT)) AS BIGINT) AS total_events
    FROM minutes, wm
    WHERE date_trunc('hour', m) + INTERVAL 1 HOUR <= wm.w
    GROUP BY 1
    """,
    tags=("streaming",),
)
def stream_chained_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming aggregation (Spark 3.4+): per-minute
    event counts re-aggregated into per-hour peak/total — two stateful
    operators in one streaming query, stitched with window_time().  The
    reference's library cannot chain windowed aggregations without an
    intermediate topic; here it's one plan with two state stores.

    Scale/state: stage 1 holds open minute windows, stage 2 open hour
    windows; both watermark-evicted.

    Cost profile (r09, sf0.1, recentProgress durationMs): the second
    stateful operator adds ~0.3 s of addBatch compute and ~0.5 s of
    state-store commit per run at 8 state partitions — the commit side
    is FIXED per-partition delta-file overhead, not re-aggregation
    work, and scales ~linearly with the partition count (profiled 2/4/
    8/16).  That is why the engine default is 4 (scoped_state_
    partitions); a foreachBatch rollup reusing stage-1 output would
    drop the second state store but forfeit the one-plan chaining this
    operator exists to demonstrate, and would not touch the dominant
    cost class."""
    path = _stream_source_dir(sf_dir)
    stream = normalize_events(file_stream(spark, path, files_per_trigger=None))
    per_minute = (
        stream.withWatermark("ts", "5 seconds")
        .groupBy(F.window("ts", "1 minute").alias("mw"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_hour = (
        per_minute
        .groupBy(F.window(F.window_time("mw"), "1 hour").alias("hw"))
        .agg(
            F.max("n").alias("peak_minute_events"),
            F.sum("n").alias("total_events"),
        )
    )
    return run_to_memory(per_hour).select(
        F.col("hw.start").cast("string").alias("hour_start"),
        "peak_minute_events",
        F.col("total_events").cast("bigint").alias("total_events"),
    )


@register(
    "stream_session_windows_per_user",
    # Append mode emits a session once the watermark passes its END
    # (last event + 5-minute gap): no later event can merge into it.
    # The oracle sessionizes in SQL and applies the same gate, so the
    # comparison pins Spark's session-close semantics, not just values.
    oracle="""
    WITH wm AS (
        SELECT max(ts) - INTERVAL 5 SECOND AS w FROM events
    ),
    flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER win IS NULL
                         OR ts - lag(ts) OVER win >= INTERVAL 5 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW win AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    ),
    agg AS (
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL 5 MINUTE AS session_end,
               count(*) AS n_events
        FROM sessions GROUP BY user_id, sid
    )
    SELECT user_id,
           epoch_us(session_start) AS session_start_us,
           n_events
    FROM agg, wm
    WHERE session_end <= wm.w
    """,
    tags=("streaming", "session-windows"),
)
def stream_session_windows_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute gap) computed by a REAL multi-batch
    Structured Streaming run — the dynamic-gap window type the reference
    lacks entirely, here with genuinely accumulating session state:
    the 3 time-ordered chunk files arrive one per trigger, so sessions
    spanning a chunk boundary must merge in the state store before the
    watermark closes them.

    Scale/state: open sessions per user are bounded by the gap (a user
    has at most one open session; closed ones are evicted at watermark) —
    unlike the reference's unbounded per-window HashSet."""
    path = _stream_chunked_source_dir(sf_dir)
    stream = normalize_events(file_stream(spark, path))
    sessions = (
        stream.withWatermark("ts", "5 seconds")
        .groupBy("user_id", F.session_window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return run_to_memory(sessions).select(
        "user_id",
        F.unix_micros("w.start").alias("session_start_us"),
        "n_events",
    )


@register(
    "stream_unique_users_sliding",
    oracle="""
    WITH assigned AS (
        SELECT user_id,
               make_timestamp((epoch_us(ts) // 30000000) * 30000000) AS wstart
        FROM events
        UNION ALL
        SELECT user_id,
               make_timestamp((epoch_us(ts) // 30000000) * 30000000 - 30000000)
        FROM events
    )
    SELECT CAST(wstart AS VARCHAR) AS window_start,
           count(DISTINCT user_id) AS unique_users
    FROM assigned
    GROUP BY 1
    """,
    tags=("streaming",),
)
def stream_unique_users_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (1 min / 30 s hop) windowed distinct users computed by a
    real Structured Streaming run — each event enters two windows'
    dedup state; same oracle as the batch sliding query."""
    path = _stream_source_dir(sf_dir)
    stream = normalize_events(file_stream(spark, path, files_per_trigger=None))
    deduped = build_windowed_dedup(stream, slide="30 seconds")
    return count_per_window(run_to_memory(deduped))


def _stream_redelivery_source_dir(sf_dir: str) -> str:
    """Chunked staging that REDELIVERS the first chunk as a fourth file —
    the at-least-once arrival pattern of a Kafka source after a producer
    retry / consumer-group rebalance.  Cache keyed like the plain chunked
    variant (source mtime/size)."""
    base = _stream_chunked_source_dir(sf_dir)
    d = base + "_redelivered_v2"

    def build(tmp: str) -> None:
        n = sum(name.startswith("chunk-") for name in os.listdir(base))
        # The duplicate of chunk-0 is written last, so it arrives last.
        _write_chunks(tmp, [
            os.path.join(base, f"chunk-{i}.parquet") for i in [*range(n), 0]
        ])

    return publish_staged_dir(d, build)


@register(
    "stream_dedup_at_least_once",
    oracle="""
    SELECT event_type,
           count(DISTINCT event_id) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY event_type
    """,
    tags=("streaming", "exactly-once"),
)
def stream_dedup_at_least_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once SEMANTICS on an at-least-once source: the staged
    stream redelivers its entire first chunk as a later micro-batch (the
    Kafka retry/rebalance duplicate pattern the reference's EXACTLY_ONCE
    config exists to absorb, UniqueUsersCounter.java:56), and a keyed
    ``dropDuplicates`` turns the duplicated delivery back into
    exactly-once counts — the oracle sees only the original events.

    State note: plain dropDuplicates keeps one state row per event_id
    forever — correct for bounded replay windows; when duplicates are
    known to arrive within a delay bound, dropDuplicatesWithinWatermark
    (tests/test_streaming_semantics.py) bounds the state instead.  This
    is the deliberate pairing: unbounded-correctness here, bounded-state
    variant proven in tests."""
    path = _stream_redelivery_source_dir(sf_dir)
    stream = (
        normalize_events(file_stream(spark, path))
        .select("event_id", "user_id", "event_type")
        .dropDuplicates(["event_id"])
    )
    return run_to_memory(stream).groupBy("event_type").agg(
        F.countDistinct("event_id").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


def _stream_late_source_dir(sf_dir: str, n_chunks: int = 3) -> str:
    """Chunked staging that INJECTS genuinely late data: a deterministic
    slice of early events (first sixth of the time range, event_id % 7
    == 0) is withheld from its time-ordered chunk and appended to the
    LAST chunk file instead — so it arrives hours late in event time,
    far beyond any 5-second watermark.  This is the arrival pattern the
    reference's README documents as its own defect (processing-time
    windows silently mis-bucket late events); here the watermark must
    DROP them instead.

    The selection predicate is pure column arithmetic (epoch-us bounds +
    event_id modulus) so the DuckDB oracle reproduces the exact same
    late set from the raw table — no row identity, no RNG.  Cache keyed
    like the plain chunked variant (source mtime/size).  The late rows
    stay late only if the last chunk arrives last, which _write_chunks
    pins; delivered first, it would move the watermark past the on-time
    chunks."""
    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    key = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(
        "/tmp", "kssp_stream_src", key,
        f"events_late{n_chunks}v2_{int(st.st_mtime_ns)}_{st.st_size}",
    )

    def build(tmp: str) -> None:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(src)
        t = t.take(pc.sort_indices(t, sort_keys=[("ts", "ascending")]))
        # Truncate to MICROSECONDS before the cutoff arithmetic — the
        # same floor DuckDB's epoch_us applies, so the oracle's late-set
        # predicate selects the identical rows.
        ts_us = pc.cast(
            pc.cast(t.column("ts"), pa.timestamp("us")), pa.int64()
        ).to_pylist()
        ids = t.column("event_id").to_pylist()
        mn, mx = ts_us[0], ts_us[-1]
        t0 = mn + (mx - mn) // 6
        late_idx = [
            k for k, (u, i) in enumerate(zip(ts_us, ids))
            if u < t0 and i % 7 == 0
        ]
        on_idx = [
            k for k, (u, i) in enumerate(zip(ts_us, ids))
            if not (u < t0 and i % 7 == 0)
        ]
        if not late_idx:
            raise RuntimeError(
                f"late-data staging: no event in {src} matches the late "
                "predicate — the testdata shape changed; pick a new slice"
            )
        on = t.take(pa.array(on_idx, type=pa.int64()))
        late = t.take(pa.array(late_idx, type=pa.int64()))
        n = on.num_rows
        step = (n + n_chunks - 1) // n_chunks
        # Drop-margin sanity: when the last batch runs, the watermark is
        # max(ts of earlier chunks) - 5 s; every late row's minute-window
        # must have closed at least a minute before that, or the "late"
        # rows wouldn't actually drop and the oracle would diverge.
        on_us = pc.cast(
            pc.cast(on.column("ts"), pa.timestamp("us")), pa.int64()
        )
        prior_max = on_us[min((n_chunks - 1) * step, n) - 1].as_py()
        if not prior_max - 5_000_000 > t0 + 120_000_000:
            raise RuntimeError(
                "late-data staging: time range too narrow for the late "
                "slice to be unambiguously beyond the watermark"
            )
        _write_chunks(
            tmp,
            [on.slice(i * step, step) for i in range(n_chunks - 1)]
            + [pa.concat_tables([on.slice((n_chunks - 1) * step), late])],
        )

    return publish_staged_dir(d, build)


@register(
    "stream_watermark_late_data",
    # The oracle mirrors BOTH watermark semantics the stream must show:
    # (1) the injected-late rows (same pure-arithmetic predicate as the
    # staging) are EXCLUDED — they arrive behind the watermark and the
    # stateful aggregate drops them; (2) append mode only emits windows
    # CLOSED by the final watermark (max ts - 5 s), so the trailing
    # open window never appears.
    oracle="""
    WITH bounds AS (
        SELECT min(epoch_us(ts)) AS mn, max(epoch_us(ts)) AS mx FROM events
    ),
    ontime AS (
        SELECT e.ts
        FROM events e, bounds b
        WHERE NOT (epoch_us(e.ts) < b.mn + (b.mx - b.mn) // 6
                   AND e.event_id % 7 = 0)
    ),
    wm AS (SELECT max(ts) - INTERVAL 5 SECOND AS w FROM events),
    minutes AS (
        SELECT date_trunc('minute', ts) AS m, count(*) AS n_events
        FROM ontime GROUP BY 1
    )
    SELECT CAST(m AS VARCHAR) AS window_start,
           CAST(n_events AS BIGINT) AS n_events
    FROM minutes, wm
    WHERE m + INTERVAL 1 MINUTE <= wm.w
    """,
    tags=("streaming", "watermark", "reference-parity"),
)
def stream_watermark_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data handling under a 5-second watermark — the reference's
    central documented defect (README.md:45-52: processing-time windows
    mis-bucket late events) put on the hard correctness signal.  The
    staged source delivers a deterministic slice of EARLY events in the
    LAST micro-batch (hours late in event time); the windowed aggregate
    runs in append mode behind ``withWatermark("ts", "5 seconds")``, so
    Spark must (1) DROP the late rows — their minute windows closed long
    before the watermark reached them — and (2) emit exactly the windows
    finalized by the final watermark.  The oracle reconstructs both
    gates arithmetically from the raw table, so a stream that leaked a
    late row into a closed window, or emitted a non-finalized window,
    hash-mismatches.

    Scale: identical topology to the flagship's streaming form — state
    is per-open-window counters, evicted at watermark; lateness bounds
    state, not correctness."""
    path = _stream_late_source_dir(sf_dir)
    stream = normalize_events(file_stream(spark, path))
    agg = (
        stream.withWatermark("ts", "5 seconds")
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    return run_to_memory(agg).select(
        F.col("w.start").cast("string").alias("window_start"), "n_events"
    )


@register(
    "stream_update_mode_running_counts",
    # The oracle reconstructs BOTH update-mode facts arithmetically:
    # n_events (the final count per key — the LAST update wins) and
    # n_updates (one update per micro-batch containing the key; chunk
    # assignment is deterministic because the staging sorts by
    # (ts, event_id) — event_id breaks duplicate-timestamp ties — and
    # splits into ceil(n/3)-row chunks, the exact rule mirrored here —
    # the same reconstruction stream_ks_drift_monitor pins).
    oracle="""
    WITH ordered AS (
        SELECT event_type,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM events
    ),
    chunked AS (
        SELECT event_type, rn // ((n + 2) // 3) AS chunk_id FROM ordered
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT chunk_id) AS BIGINT) AS n_updates
    FROM chunked
    GROUP BY 1
    """,
    tags=("streaming", "reference-parity"),
)
def stream_update_mode_running_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UPDATE output mode on the hard signal — the reference's actual
    emission semantics (its KTable changelog re-emits a key's count on
    every arriving event, UniqueUsersCounter.java:91-93; §2 T1): an
    UNWINDOWED running count per event_type runs in update mode over a
    genuine 3-micro-batch stream, so the memory sink receives one
    UPDATED row per (key, touching batch) instead of append's single
    finalized row — the exact groupBy().count() KTable shape.  The
    returned table proves both halves: max(update) per key equals the
    batch ground truth (the changelog CONVERGES — last update wins),
    and n_updates counts exactly the micro-batches containing the key
    (every type appears in every chunk here, so the changelog's
    intermediate emissions are REAL and pinned at 3, not an append-mode
    lookalike).

    Scale: state is one counter per KEY (5 types; bounded by key
    cardinality, not stream length — the unwindowed aggregate a KTable
    materializes); update mode trades sink traffic (one row per touched
    key per batch — the changelog volume a Kafka-backed KTable carries)
    for zero emission latency, exactly the trade the reference made."""
    path = _stream_chunked_source_dir(sf_dir)
    stream = normalize_events(file_stream(spark, path))
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return (
        run_to_memory(agg, mode="update")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_updates"),
        )
        .select("event_type", "n_events", "n_updates")
    )
