"""Exactly-once recovery (reference X1 parity): the reference configures
Kafka-transaction exactly-once (PROCESSING_GUARANTEE_CONFIG at
UniqueUsersCounter.java:56); Spark's equivalent is checkpointed state +
an idempotent foreachBatch sink.  This test CRASHES the query mid-stream
and restarts it from the checkpoint, asserting the recovered output is
exactly the batch truth — no lost batches, no duplicated batches.
"""

from __future__ import annotations

import itertools
import os

_uniq = itertools.count()


class _Boom(Exception):
    pass


def test_crash_restart_recovers_exactly_once(spark, tmp_path):
    import pandas as pd

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = pd.Timestamp("2024-01-01 00:00:00")
    for i in range(4):
        df = pd.DataFrame(
            {
                "ts": [base + pd.Timedelta(seconds=60 * i + j) for j in range(10)],
                "user_id": [100 * i + j for j in range(10)],
            }
        )
        df["ts"] = df["ts"].astype("datetime64[us]")
        df.to_parquet(os.path.join(src, f"f{i}.parquet"), index=False)

    checkpoint = str(tmp_path / "chk")
    out_dir = str(tmp_path / "out")
    raw_schema = spark.read.parquet(src).schema

    def build_query(fail_after: int | None):
        seen = {"n": 0}

        def sink(df, epoch_id):
            # Idempotent by epoch: rewrite the epoch's own partition dir.
            # A replayed epoch overwrites its previous (possibly partial)
            # output instead of appending a duplicate — this pairing of
            # checkpointed offsets + epoch-keyed overwrite IS the engine's
            # exactly-once sink recipe.
            df.write.mode("overwrite").parquet(os.path.join(out_dir, f"epoch={epoch_id}"))
            seen["n"] += 1
            if fail_after is not None and seen["n"] >= fail_after:
                raise _Boom("injected crash")

        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    # First run: crash after two successfully committed epochs.
    q = build_query(fail_after=2)
    try:
        q.awaitTermination()
    except Exception:
        pass
    assert not q.isActive

    # Restart from the same checkpoint: must resume, not reprocess epoch 0.
    q2 = build_query(fail_after=None)
    q2.awaitTermination()

    got = spark.read.parquet(out_dir).select("user_id").collect()
    got_ids = sorted(r.user_id for r in got)
    want_ids = sorted(
        r.user_id for r in spark.read.parquet(src).select("user_id").collect()
    )
    assert got_ids == want_ids, (
        f"exactly-once violated: {len(got_ids)} rows vs {len(want_ids)} expected"
    )


def test_stateful_bitmask_state_survives_crash_restart(spark, tmp_path):
    """applyInPandasWithState recovery for the frequent-pairs kernel:
    per-user seen-type masks accumulated BEFORE the crash must still be
    in the checkpointed state store AFTER restart — users whose types
    straddle the crash point prove it (their final mask needs bits from
    both sides).  Emissions are monotone masks, so max-per-user over
    the union of both runs' (possibly replayed) emissions is the
    idempotent read-back."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout

    from kafka_stream_processing_spark.streaming.stateful import (
        PAIR_TYPES,
        _PAIR_OUTPUT_SCHEMA,
        _PAIR_STATE_SCHEMA,
        _update_type_mask,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    # user 1 and 2 straddle the crash (bits in files 0/1 AND 2/3);
    # user 3 is pre-crash only, user 4 post-crash only.
    files = [
        [(1, "click"), (3, "view"), (3, "error")],
        [(2, "signup"), (1, "error"), (3, "click")],
        [(1, "purchase"), (2, "view")],
        [(2, "click"), (4, "purchase"), (4, "signup")],
    ]
    base = pd.Timestamp("2024-01-01 00:00:00")
    for i, rows in enumerate(files):
        df = pd.DataFrame(
            {
                "user_id": [u for u, _ in rows],
                "event_type": [t for _, t in rows],
                "ts": [
                    base + pd.Timedelta(seconds=60 * i + j)
                    for j in range(len(rows))
                ],
            }
        )
        df["ts"] = df["ts"].astype("datetime64[us]")
        df.to_parquet(os.path.join(src, f"f{i}.parquet"), index=False)
        os.utime(
            os.path.join(src, f"f{i}.parquet"),
            (1_700_000_000 + i, 1_700_000_000 + i),
        )

    checkpoint = str(tmp_path / "chk")
    raw_schema = spark.read.parquet(src).schema
    emissions: list[tuple[int, int]] = []

    def build(fail_after: int | None):
        seen = {"n": 0}

        def sink(df, epoch_id):
            rows = df.collect()
            seen["n"] += 1
            if fail_after is not None and seen["n"] > fail_after:
                raise _Boom("crash mid-stream")
            for r in rows:
                emissions.append((r["user_id"], r["mask"]))

        stream = (
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select("user_id", "event_type")
        )
        updated = stream.groupBy("user_id").applyInPandasWithState(
            _update_type_mask,
            outputStructType=_PAIR_OUTPUT_SCHEMA,
            stateStructType=_PAIR_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return (
            updated.writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )

    q1 = build(fail_after=2)
    try:
        q1.awaitTermination()
        raise AssertionError("query was supposed to crash")
    except Exception:
        pass
    q2 = build(fail_after=None)
    q2.awaitTermination()

    final: dict[int, int] = {}
    for u, m in emissions:
        final[u] = max(final.get(u, 0), m)
    bit_of = {t: 1 << i for i, t in enumerate(PAIR_TYPES)}
    truth: dict[int, int] = {}
    for rows in files:
        for u, t in rows:
            truth[u] = truth.get(u, 0) | bit_of[t]
    assert final == truth
    # the straddling users specifically prove cross-crash state: their
    # final mask is strictly richer than either side alone
    assert final[1] == bit_of["click"] | bit_of["error"] | bit_of["purchase"]
    assert final[2] == bit_of["signup"] | bit_of["view"] | bit_of["click"]
