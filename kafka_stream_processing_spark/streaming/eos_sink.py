"""Transactional foreachBatch sink — end-to-end exactly-once parity with
the reference's EXACTLY_ONCE processing guarantee (Kafka transactions,
UniqueUsersCounter.java:56).

Structured Streaming gives exactly-once STATE via the checkpoint, but the
Kafka sink is at-least-once: after a crash the restarted query REPLAYS the
last uncommitted epoch, so a naive producer would emit that epoch's
records twice.  The reference closes the same gap with a transactional
producer (begin → send* → commit, readers in read_committed see all or
nothing).  This module expresses that recipe as a ``foreachBatch``
callable with a pluggable producer, in two-phase form:

1. idempotence guard — ask the TRANSACTION LOG ITSELF whether a
   transaction with this transactional id already committed
   (``producer.committed()``); if so the epoch fully delivered in a
   previous incarnation: skip it entirely;
2. begin a transaction tagged with a transactional id derived from
   (app id, epoch) — the Kafka transactional.id convention that fences
   zombie producers from the crashed run;
3. send every record of the epoch inside the transaction;
4. commit; a local marker file is then written as a fast-path CACHE of
   the committed check, never as the source of truth.

The guard in (1) must be atomic with the commit in (4) or exactly-once
breaks: a side-file marker written after commit leaves a crash window
between commit and marker in which a replay would re-deliver the epoch
(transactional.id fences ZOMBIES — a broker never dedups a second,
fully-committed transaction under the same id).  Hence ``committed()``
reads the transaction log: for ``FileTransactionLog`` the committed
file IS the transaction (one atomic rename); for a real Kafka producer,
send one epoch-marker record to a compacted markers topic INSIDE each
transaction and implement ``committed()`` as a read_committed lookup of
that topic — marker and data then commit or vanish together.

A crash anywhere before (4) leaves an aborted/unfinished transaction
that read-committed consumers never observe, and the replayed epoch
re-runs from (2) — finding ``committed()`` false — while a crash AFTER
commit replays into a ``committed()`` == True guard and skips.

The container ships no broker or kafka client, so the default producer
factory raises with instructions; ``FileTransactionLog`` is the CI
implementation driven by tests/test_eos_sink.py, which crashes the query
mid-epoch and asserts committed output equals the batch truth exactly.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession


class TransactionalProducer:
    """Minimal transactional-producer protocol (the subset of
    kafka.KafkaProducer the sink needs).  One instance per epoch attempt;
    ``transactional_id`` fences replays of the same epoch."""

    def begin(self) -> None:  # pragma: no cover - interface
        raise NotImplementedError

    def send(self, key: str, value: str) -> None:  # pragma: no cover
        raise NotImplementedError

    def commit(self) -> None:  # pragma: no cover - interface
        raise NotImplementedError

    def abort(self) -> None:  # pragma: no cover - interface
        raise NotImplementedError

    def committed(self) -> bool:  # pragma: no cover - interface
        """True iff a transaction with THIS transactional id already
        committed — must be read from the transaction log itself (atomic
        with commit), e.g. a read_committed lookup of an epoch-marker
        record sent inside the transaction."""
        raise NotImplementedError


class FileTransactionLog(TransactionalProducer):
    """File-backed transactional producer: stages sends in a scratch file,
    'commits' by atomically renaming it under the committed/ dir keyed by
    transactional id.  Atomic rename = the commit point; a crashed attempt
    leaves only the staging file, which read_committed() never reads —
    the same all-or-nothing visibility a Kafka read_committed consumer
    gets.  Re-committing under the same transactional id overwrites
    byte-identical content (the broker's zombie-fencing dedup)."""

    def __init__(self, log_dir: str, transactional_id: str) -> None:
        self.log_dir = log_dir
        self.txn_id = transactional_id
        self._staging = os.path.join(log_dir, f".staging-{transactional_id}")
        self._records: list[tuple[str, str]] = []
        os.makedirs(os.path.join(log_dir, "committed"), exist_ok=True)

    def begin(self) -> None:
        self._records = []

    def send(self, key: str, value: str) -> None:
        self._records.append((key, value))

    def commit(self) -> None:
        with open(self._staging, "w") as fh:
            json.dump(self._records, fh)
            fh.flush()
            os.fsync(fh.fileno())
        cdir = os.path.join(self.log_dir, "committed")
        os.replace(self._staging, os.path.join(cdir, self.txn_id))
        # fsync the directory entry too: the rename is the commit point,
        # so it must be durable across OS/power loss, not just process
        # crash — otherwise a replay could find committed()==False for a
        # transaction a consumer already observed, and re-deliver.
        dfd = os.open(cdir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def abort(self) -> None:
        self._records = []
        if os.path.exists(self._staging):
            os.remove(self._staging)

    def committed(self) -> bool:
        # The committed/ file IS the transaction (atomic rename at
        # commit), so this check is exactly-once-safe by construction.
        return os.path.exists(
            os.path.join(self.log_dir, "committed", self.txn_id)
        )

    @staticmethod
    def read_committed(log_dir: str) -> list[tuple[str, str]]:
        """All records of committed transactions, ordered by the numeric
        components of the transactional id (epoch, then partition for the
        per-partition sink) — what a read_committed consumer of the
        output topic would see."""
        import re

        cdir = os.path.join(log_dir, "committed")
        if not os.path.isdir(cdir):
            return []
        out: list[tuple[str, str]] = []
        key = lambda n: [int(x) for x in re.findall(r"\d+", n)]  # noqa: E731
        for name in sorted(os.listdir(cdir), key=key):
            with open(os.path.join(cdir, name)) as fh:
                out.extend(tuple(r) for r in json.load(fh))
        return out


def _default_producer_factory(txn_id: str) -> TransactionalProducer:
    raise NotImplementedError(
        "No Kafka client library in this environment; pass "
        "producer_factory= (e.g. wrapping kafka.KafkaProducer with "
        "transactional.id=txn_id) to transactional_epoch_sink()."
    )


def transactional_epoch_sink(
    app_id: str,
    marker_dir: str,
    producer_factory: Callable[[str], TransactionalProducer] = _default_producer_factory,
    row_to_kv: Callable[[object], tuple[str, str]] = lambda r: (r["key"], r["value"]),
) -> Callable[[DataFrame, int], None]:
    """TEST-ONLY minimal form of the recipe above — do NOT use in
    production: it ``collect()``s the whole micro-batch to the driver.
    The production path is ``transactional_partition_sink`` (below),
    which runs the identical begin/send/commit bracket EXECUTOR-SIDE
    with one producer per (epoch, partition) transactional id, carries
    the driver-checked oracle row, and has its own crash tests.  This
    driver-side form exists only to pin the single-producer semantics in
    tests/test_eos_sink.py with the smallest possible moving parts.

    ``marker_dir`` holds per-epoch marker files as a FAST-PATH CACHE of
    the committed check (lives NEXT TO the query's checkpoint dir and
    shares its lifecycle — wiping the checkpoint must wipe the markers,
    mirroring streams.cleanUp()).  The authoritative guard is
    ``producer.committed()`` — atomic with the commit — so a crash
    between commit and marker write replays into a skip, not a double
    delivery.
    """
    os.makedirs(marker_dir, exist_ok=True)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        marker = os.path.join(marker_dir, f"epoch-{epoch_id}")
        txn_id = f"{app_id}-{epoch_id}"
        if os.path.exists(marker):  # fast path: known-committed epoch
            return
        producer = producer_factory(txn_id)
        if producer.committed():  # authoritative: crash after commit,
            pass                  # before marker — deliver nothing twice
        else:
            producer.begin()
            try:
                rows: Iterable = batch_df.collect()
                for r in rows:
                    producer.send(*row_to_kv(r))
                producer.commit()
            except BaseException:
                producer.abort()
                raise
        with open(marker, "w") as fh:
            fh.write(txn_id)

    return sink


def transactional_partition_sink(
    app_id: str,
    marker_dir: str,
    producer_factory: Callable[[str], TransactionalProducer] = _default_producer_factory,
    row_to_kv: Callable[[object], tuple[str, str]] = lambda r: (r["key"], r["value"]),
) -> Callable[[DataFrame, int], None]:
    """The cluster-scale form of ``transactional_epoch_sink``: the
    begin/send/commit bracket runs EXECUTOR-SIDE in ``foreachPartition``,
    one producer per (epoch, partition) transactional id — no driver
    collect, parallel produce, records never leave their executor.

    Exactly-once holds through partial failure: a crash after SOME
    partitions committed but before the epoch marker makes Spark replay
    the WHOLE epoch (same source offsets ⇒ same partition contents);
    each partition's ``producer.committed()`` guard — atomic with its
    own transaction — makes already-committed partitions SKIP while
    uncommitted ones commit for the first time.  The epoch marker file
    is only the fast path that short-circuits fully-complete epochs —
    identical recipe to the driver-side sink, with the id space widened
    by partition.

    Requires the producer_factory to be serializable (it ships to
    executors) and the batch's partitioning to be deterministic for a
    replayed epoch — true for Structured Streaming sources, which replay
    exact offset ranges."""
    os.makedirs(marker_dir, exist_ok=True)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        marker = os.path.join(marker_dir, f"epoch-{epoch_id}")
        if os.path.exists(marker):
            return

        def write_partition(rows: Iterable) -> None:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            producer = producer_factory(f"{app_id}-{epoch_id}-{pid}")
            if producer.committed():
                # Epoch replay after a crash that landed between this
                # partition's commit and the epoch marker: skip — the
                # transaction log already holds these records.
                return
            producer.begin()
            try:
                for r in rows:
                    producer.send(*row_to_kv(r))
                producer.commit()
            except BaseException:
                producer.abort()
                raise

        batch_df.foreachPartition(write_partition)
        with open(marker, "w") as fh:
            fh.write(f"{app_id}-{epoch_id}")

    return sink


def _register_roundtrip_query() -> None:
    """Registered-query form of the transactional sink so the EOS path
    gets a driver-checked oracle row, not just crash tests."""
    import shutil
    import itertools

    from kafka_stream_processing_spark.registry import register
    from kafka_stream_processing_spark.sources.tables import normalize_events

    uniq = itertools.count()

    @register(
        "stream_eos_transactional_roundtrip",
        oracle="""
        SELECT event_id, user_id FROM events
        """,
        tags=("streaming", "exactly-once"),
    )
    def stream_eos_transactional_roundtrip(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """End-to-end exactly-once produce: a multi-batch stream of events
        flows through the EXECUTOR-SIDE transactional sink (per-(epoch,
        partition) transactional ids, commit markers), and the result is
        what a read_committed consumer would see — which must equal the
        source exactly once, byte for byte (the reference's EXACTLY_ONCE
        end state, UniqueUsersCounter.java:56).

        The committed log is parallelized back into a DataFrame for the
        oracle comparison — driver-side ONLY because verification must
        read the sink; production consumers read the topic directly."""
        from kafka_stream_processing_spark.streaming.unique_users import (
            _stream_chunked_source_dir,
            file_stream,
            run_foreach_batch,
        )

        path = _stream_chunked_source_dir(sf_dir)
        run = next(uniq)
        base = os.path.join(
            "/tmp", "kssp_eos_roundtrip", f"{os.getpid()}_{run}"
        )
        shutil.rmtree(base, ignore_errors=True)
        log_dir = os.path.join(base, "txlog")
        os.makedirs(log_dir, exist_ok=True)

        sink = transactional_partition_sink(
            f"eos-rt-{run}",
            os.path.join(base, "markers"),
            producer_factory=lambda txn_id: FileTransactionLog(log_dir, txn_id),
            row_to_kv=lambda r: (str(r["event_id"]), str(r["user_id"])),
        )
        stream = (
            normalize_events(file_stream(spark, path))
            .select("event_id", "user_id")
        )
        run_foreach_batch(stream, sink)
        committed = FileTransactionLog.read_committed(log_dir)
        return spark.createDataFrame(
            [(int(k), int(v)) for k, v in committed],
            schema="event_id bigint, user_id bigint",
        )


_register_roundtrip_query()
