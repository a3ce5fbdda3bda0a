"""Crash/replay test for the transactional foreachBatch sink
(streaming/eos_sink.py) — end-to-end exactly-once parity with the
reference's PROCESSING_GUARANTEE_CONFIG=EXACTLY_ONCE
(UniqueUsersCounter.java:56).

The query is killed INSIDE a transaction (after sends, before commit);
on restart from the checkpoint Spark replays that epoch.  Exactly-once
holds iff a read_committed view of the output contains every input
record exactly once — the aborted attempt invisible, the replay not
double-delivered, earlier committed epochs not re-emitted.
"""

from __future__ import annotations

import itertools
import os

import pandas as pd
import pytest

from kafka_stream_processing_spark.streaming.eos_sink import (
    FileTransactionLog,
    transactional_epoch_sink,
)
from kafka_stream_processing_spark.streaming.unique_users import (
    scoped_state_partitions,
)

_uniq = itertools.count()


class _Boom(Exception):
    pass


class _CrashyProducer(FileTransactionLog):
    """Crashes on commit of a chosen transaction's FIRST attempt —
    modeling a process death inside an open transaction."""

    crash_txn_ids: set[str] = set()

    def commit(self) -> None:
        if self.txn_id in self.crash_txn_ids:
            self.crash_txn_ids.discard(self.txn_id)
            raise _Boom(f"injected crash inside txn {self.txn_id}")
        super().commit()


def test_crash_inside_transaction_recovers_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    base = pd.Timestamp("2024-01-01 00:00:00")
    truth: set[tuple[str, str]] = set()
    for i in range(4):
        df = pd.DataFrame(
            {
                "k": [f"key-{i}-{j}" for j in range(5)],
                "v": [f"val-{i}-{j}" for j in range(5)],
                "ts": [base + pd.Timedelta(seconds=i * 60 + j) for j in range(5)],
            }
        )
        df["ts"] = df["ts"].astype("datetime64[us]")
        df.to_parquet(os.path.join(src, f"f{i}.parquet"), index=False)
        truth |= set(zip(df["k"], df["v"]))

    checkpoint = str(tmp_path / "chk")
    log_dir = str(tmp_path / "txlog")
    marker_dir = str(tmp_path / "markers")
    app_id = f"eos-test-{next(_uniq)}"
    raw_schema = spark.read.parquet(src).schema

    # Crash inside the 3rd epoch's transaction (first attempt only).
    _CrashyProducer.crash_txn_ids = {f"{app_id}-2"}

    def run_query():
        sink = transactional_epoch_sink(
            app_id,
            marker_dir,
            producer_factory=lambda txn_id: _CrashyProducer(log_dir, txn_id),
            row_to_kv=lambda r: (r["k"], r["v"]),
        )
        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("k", "v")
        )
        with scoped_state_partitions(spark):
            q = (
                stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    with pytest.raises(Exception) as exc_info:
        run_query()
    assert "injected crash" in str(exc_info.value)

    committed_mid = FileTransactionLog.read_committed(log_dir)
    # The crashed transaction is invisible: only fully committed epochs.
    assert set(committed_mid) < truth
    assert len(committed_mid) == len(set(committed_mid))

    run_query()  # restart from checkpoint; epoch 2 replays and commits

    committed = FileTransactionLog.read_committed(log_dir)
    assert len(committed) == len(truth), (
        f"{len(committed)} delivered vs {len(truth)} expected"
    )
    assert set(committed) == truth


def test_replayed_committed_epoch_is_skipped(spark, tmp_path):
    """The crash window BETWEEN commit and marker write is the case a
    side-file guard alone gets wrong (a real broker never dedups a
    second committed transaction under the same id — transactional.id
    only fences zombies).  The authoritative producer.committed() guard
    must SKIP the replay without producing, then restore the marker."""
    log_dir = str(tmp_path / "txlog")
    marker_dir = str(tmp_path / "markers")
    produced = []

    class _CountingLog(FileTransactionLog):
        def commit(self) -> None:
            produced.append(self.txn_id)
            super().commit()

    sink = transactional_epoch_sink(
        "app",
        marker_dir,
        producer_factory=lambda txn_id: _CountingLog(log_dir, txn_id),
        row_to_kv=lambda r: (r["k"], r["v"]),
    )
    batch = spark.createDataFrame([("a", "1"), ("b", "2")], "k string, v string")
    sink(batch, 0)
    sink(batch, 0)  # replay after full commit → marker short-circuits
    assert FileTransactionLog.read_committed(log_dir) == [("a", "1"), ("b", "2")]
    assert produced == ["app-0"]

    # Crash between commit and marker write (modeled: marker lost).  The
    # replay must find committed()==True, produce NOTHING, and re-write
    # the marker.
    os.remove(os.path.join(marker_dir, "epoch-0"))
    sink(batch, 0)
    assert produced == ["app-0"]  # no second transaction committed
    assert os.path.exists(os.path.join(marker_dir, "epoch-0"))
    assert FileTransactionLog.read_committed(log_dir) == [("a", "1"), ("b", "2")]


class _SentinelCrashProducer(FileTransactionLog):
    """Executor-side crash injection: crashes the FIRST commit attempt of
    a chosen transactional id, using a filesystem sentinel (executor
    processes don't share driver memory, so class attributes can't carry
    'already crashed once' state the way _CrashyProducer's do)."""

    def __init__(self, log_dir: str, txn_id: str, crash_txn_id: str) -> None:
        super().__init__(log_dir, txn_id)
        self._crash_txn_id = crash_txn_id
        self._sentinel = os.path.join(log_dir, f".crashed-{crash_txn_id}")

    def commit(self) -> None:
        if self.txn_id == self._crash_txn_id and not os.path.exists(self._sentinel):
            with open(self._sentinel, "w") as fh:
                fh.write("x")
            raise _Boom(f"injected executor crash inside txn {self.txn_id}")
        super().commit()


def test_partition_sink_crash_recovers_exactly_once(spark, tmp_path):
    """Cluster-form EOS (transactional_partition_sink): kill one
    PARTITION's transaction mid-epoch while sibling partitions of the
    same epoch commit; on restart the whole epoch replays — committed
    siblings re-commit under their same transactional ids (fenced, not
    doubled) and the crashed partition commits for the first time."""
    from kafka_stream_processing_spark.streaming.eos_sink import (
        transactional_partition_sink,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = pd.Timestamp("2024-01-01 00:00:00")
    truth: set[tuple[str, str]] = set()
    for i in range(3):
        df = pd.DataFrame(
            {
                "k": [f"key-{i}-{j}" for j in range(8)],
                "v": [f"val-{i}-{j}" for j in range(8)],
                "ts": [base + pd.Timedelta(seconds=i * 60 + j) for j in range(8)],
            }
        )
        df["ts"] = df["ts"].astype("datetime64[us]")
        df.to_parquet(os.path.join(src, f"f{i}.parquet"), index=False)
        truth |= set(zip(df["k"], df["v"]))

    checkpoint = str(tmp_path / "chk")
    log_dir = str(tmp_path / "txlog")
    marker_dir = str(tmp_path / "markers")
    app_id = f"eos-part-{next(_uniq)}"
    raw_schema = spark.read.parquet(src).schema
    # Crash partition 0's transaction of epoch 1, first attempt only.
    crash_txn = f"{app_id}-1-0"

    def run_query():
        sink = transactional_partition_sink(
            app_id,
            marker_dir,
            producer_factory=lambda txn_id: _SentinelCrashProducer(
                log_dir, txn_id, crash_txn
            ),
            row_to_kv=lambda r: (r["k"], r["v"]),
        )
        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("k", "v")
        )
        with scoped_state_partitions(spark):
            q = (
                stream.writeStream.foreachBatch(sink)
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    os.makedirs(log_dir, exist_ok=True)
    with pytest.raises(Exception):
        run_query()

    committed_mid = set(FileTransactionLog.read_committed(log_dir))
    assert committed_mid < truth  # crashed txn invisible, no duplicates

    run_query()  # replay epoch 1; fenced re-commits + first-time commit

    committed = FileTransactionLog.read_committed(log_dir)
    assert len(committed) == len(set(committed))
    assert set(committed) == truth
