"""Checkpoint files on the local filesystem go through Spark's
FileSystem-based checkpoint manager (``session.local_checkpoint_conf``).

Spark's default FileContext manager stats both ends of every rename
with ``getFileLinkStatus``, which without libhadoop forks a
``readlink`` process per call.  These tests pin that the engine's
session uses the FileSystem manager, that nothing the default manager
writes is lost (Hadoop ``.crc`` files, Spark's checkpoint checksums),
and that a non-local default filesystem keeps Spark's default.
"""

from __future__ import annotations

import os
import weakref

import pandas as pd
from pyspark.sql import functions as F

from kafka_stream_processing_spark import session
from kafka_stream_processing_spark.session import (
    CHECKPOINT_MANAGER_KEY,
    ensure_runtime_conf,
    local_checkpoint_conf,
)
from kafka_stream_processing_spark.streaming.unique_users import file_stream

FS_MANAGER = "FileSystemBasedCheckpointFileManager"


def _manager_class(spark, path: str) -> str:
    jvm = spark._jvm
    pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    create = getattr(getattr(pkg, "CheckpointFileManager$"), "MODULE$").create
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    return create(jvm.org.apache.hadoop.fs.Path(path),
                  hadoop_conf).getClass().getName()


def test_local_checkpoints_use_the_filesystem_manager(spark, tmp_path):
    assert _manager_class(spark, str(tmp_path)).endswith(FS_MANAGER)
    assert spark.conf.get(
        "spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true"


def test_stateful_stream_keeps_crc_and_checksum_files(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        pd.DataFrame({"k": [j % 3 for j in range(10)], "v": [i] * 10}
                     ).to_parquet(src / f"part-{i}.parquet", index=False)
    checkpoint = str(tmp_path / "checkpoint")
    query = (
        file_stream(spark, str(src)).groupBy("k").agg(F.sum("v").alias("s"))
        .writeStream.outputMode("update")
        .foreachBatch(lambda df, _: df.collect())
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True).start()
    )
    query.awaitTermination()
    assert sum(p["numInputRows"] > 0 for p in query.recentProgress) == 3
    state = os.path.join(checkpoint, "state", "0")
    partitions = [d for d in os.listdir(state) if d.isdigit()]
    assert partitions
    for part in partitions:
        files = set(os.listdir(os.path.join(state, part)))
        deltas = sorted(f for f in files if f.endswith(".delta"))
        assert deltas == ["1.delta", "2.delta", "3.delta"], files
        for delta in deltas:
            # Hadoop's checksum of the delta, Spark's checkpoint checksum
            # file, and Hadoop's checksum of that file.
            assert {f".{delta}.crc", f"{delta}.crc",
                    f".{delta}.crc.crc"} <= files, (delta, files)


def test_non_local_default_filesystem_keeps_the_default_manager(
    spark, monkeypatch
):
    jvm = spark._jvm
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    assert local_checkpoint_conf(jvm, hadoop_conf)[
        CHECKPOINT_MANAGER_KEY].endswith(FS_MANAGER)
    hadoop_conf.set("fs.defaultFS", "hdfs://namenode:8020")
    assert local_checkpoint_conf(jvm, hadoop_conf) == {}

    # A SparkContext whose default filesystem is HDFS leaves the conf
    # unset: decide afresh for a session that overrides fs.defaultFS.
    monkeypatch.setattr(session, "_CONTEXT_CONF", weakref.WeakKeyDictionary())
    hdfs = spark.newSession()
    hdfs.conf.set("fs.defaultFS", "hdfs://namenode:8020")
    ensure_runtime_conf(hdfs)
    assert hdfs.conf.get(CHECKPOINT_MANAGER_KEY, None) is None


def test_decision_is_made_once_per_context(spark, monkeypatch):
    def fail(*_):
        raise AssertionError("decided again for the same SparkContext")

    ensure_runtime_conf(spark)
    monkeypatch.setattr(session, "local_checkpoint_conf", fail)
    ensure_runtime_conf(spark.newSession())
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY).endswith(FS_MANAGER)
