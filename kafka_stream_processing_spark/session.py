"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
config block is what we would submit to a 1000-executor cluster — the only
cluster-specific knobs (executor count/memory) live outside this file.
"""

from __future__ import annotations

import os
import weakref
from urllib.parse import urlparse

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import SparkSession

#: Runtime-settable confs that query semantics/performance rely on.  These
#: are (re)applied by :func:`ensure_runtime_conf` even on a SparkSession we
#: did not create (the verification driver builds its own session).
RUNTIME_CONF: dict[str, str] = {
    # DuckDB oracle timestamps are naive; pinning the session TZ to UTC makes
    # Spark's window()/date_trunc() arithmetic agree with the oracle.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime re-plan — coalesce small shuffle partitions, convert
    # sort-merge joins to broadcast when the built side turns out small,
    # split skewed partitions.  All three matter at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas UDF / toPandas path (vector ops, multimodal).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet stores TIMESTAMP(NANOS) which Spark's reader rejects;
    # read nanos as raw longs and convert in the loader (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Unadjusted-UTC parquet timestamps must come back as TIMESTAMP (LTZ,
    # session tz pinned to UTC above), not TIMESTAMP_NTZ: watermarks/windows
    # require LTZ, and LTZ@UTC matches DuckDB's naive-timestamp semantics.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # InferFiltersFromGenerate synthesizes `size(arr)>0 AND isnotnull(arr)`
    # below every explode(arr).  When arr is a computed column (shingle/
    # gram/hash arrays here), the inferred filter INLINES the whole
    # generating expression and pushdown then drags it below the nearest
    # exchange — so the md5+transform chain runs once in the filter and
    # again in the project above (measured: contamination_ngram_overlap
    # spent ~7 s of its 7.6 s at sf0.1 evaluating shingles single-threaded
    # below the fanout repartition).  The rule only saves a per-row empty
    # generate, which explode handles for free; excluding it removes a
    # ~2x expression double-evaluation on every explode-after-compute
    # pipeline at any scale.
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
}


#: The directory that holds the package.  Python workers unpickle UDFs
#: and pandas folds by module reference, so they need it on their path
#: whatever the JVM's working directory is.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


#: Spark's FileSystem-API checkpoint manager; Spark 4.1 moved it into the
#: ``checkpointing`` package.
_FS_CHECKPOINT_MANAGERS = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager",
    "org.apache.spark.sql.execution.streaming."
    "FileSystemBasedCheckpointFileManager",
)
CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"

#: The confs :func:`local_checkpoint_conf` chose, decided once per
#: SparkContext: the registry wrapper calls ensure_runtime_conf on every
#: query, and the decision costs py4j round trips.
_CONTEXT_CONF: weakref.WeakKeyDictionary[SparkContext, dict[str, str]] = (
    weakref.WeakKeyDictionary()
)


def local_checkpoint_conf(jvm, hadoop_conf) -> dict[str, str]:
    """The checkpoint manager conf for a JVM whose default filesystem is
    ``file://``; empty for any other default filesystem, or when no
    FileSystem-based manager class loads.

    Spark's default manager renames through Hadoop's FileContext, which
    on ``file://`` stats both ends of the rename (and their ``.crc``)
    with ``getFileLinkStatus``.  Without libhadoop that forks one
    ``readlink`` process per call, about four per rename, and every
    state-store delta, checkpoint checksum file and offset/commit log
    entry is a rename.  The FileSystem-based manager renames with
    ``java.io.File.renameTo`` after the same exists check; Hadoop's
    ``.crc`` files and Spark's checkpoint checksums are kept.  A cluster
    whose default filesystem is HDFS keeps the FileContext manager."""
    if urlparse(hadoop_conf.get("fs.defaultFS") or "").scheme != "file":
        return {}
    loader = jvm.org.apache.spark.util.Utils.getContextOrSparkClassLoader()
    for name in _FS_CHECKPOINT_MANAGERS:
        try:
            jvm.java.lang.Class.forName(name, False, loader)
        except Py4JJavaError:
            continue
        return {CHECKPOINT_MANAGER_KEY: name}
    return {}


def _context_conf(spark: SparkSession) -> dict[str, str]:
    sc = spark.sparkContext
    conf = _CONTEXT_CONF.get(sc)
    if conf is None:
        hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
        conf = _CONTEXT_CONF[sc] = local_checkpoint_conf(spark._jvm,
                                                         hadoop_conf)
    return conf


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def ensure_runtime_conf(spark: SparkSession) -> SparkSession:
    """Apply semantic + adaptive confs and the local checkpoint manager
    to an existing session, and put the package root on the Python
    workers' PYTHONPATH (idempotent)."""
    for key, value in {**RUNTIME_CONF, **_context_conf(spark)}.items():
        try:
            spark.conf.set(key, value)
        except Exception:  # pragma: no cover - conf may be static in some envs
            pass
    # The worker environment travels with every Python function created
    # after this point (UDFs, pandas folds, RDD lambdas).
    env = spark.sparkContext.environment
    paths = env.get("PYTHONPATH", "").split(os.pathsep)
    if _PACKAGE_ROOT not in paths:
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in [_PACKAGE_ROOT, *paths] if p
        )
    return spark


def get_spark(app_name: str = "kafka_stream_processing_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    On a real cluster the ``master`` is supplied by spark-submit; locally we
    run ``local[N]``.  Shuffle partitions default to the core count — at
    cluster scale this is overridden to ~2-3x total executor cores, and AQE
    coalesces down from there.
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{n}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or n))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/kssp_warehouse"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for key, value in RUNTIME_CONF.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return ensure_runtime_conf(spark)
