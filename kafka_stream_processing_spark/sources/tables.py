"""Batch sources: the driver's parquet star schema.

Parquet is the engine's canonical batch format — columnar, predicate/
projection pushdown, splittable.  At 100 TB these reads are the dominant
cost; everything here keeps the scan prunable (no ``.cache()`` of raw
tables, no schema-less text formats in the hot path).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

#: All tables the driver generates (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Dimension tables small enough to broadcast at ANY scale factor (TPC-H
#: semantics: region=5 rows, nation=25 rows always).
BROADCAST_TABLES = frozenset({"region", "nation"})


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table as a DataFrame (pushdown-friendly scan).
    The schema comes from the parquet footer, so building the frame runs
    no Spark job."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.schema(_footer_schema(path)).parquet(path)
    if name == "events":
        df = normalize_events(df)
    return df


def _footer_schema(path: str) -> StructType:
    """The Spark schema of a parquet file, or of a directory's first
    ``*.parquet`` file (the files of one table or staged stream share
    it), read from the footer with pyarrow: schema inference through
    ``spark.read.parquet`` runs a Spark job per call.  TIMESTAMP(NANOS)
    columns come back as the bigint the session's nanosAsLong conf reads
    them as; ``normalize_events`` converts them."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    if os.path.isdir(path):
        path = min(glob.glob(os.path.join(path, "*.parquet")))
    footer = pq.read_schema(path)
    return from_arrow_schema(pa.schema([
        f.with_type(pa.int64())
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns" else f
        for f in footer
    ]))


def normalize_events(df: DataFrame) -> DataFrame:
    """events.ts is parquet TIMESTAMP(NANOS); with
    spark.sql.legacy.parquet.nanosAsLong it arrives as a bigint of epoch
    nanos.  Convert to TimestampType at microsecond resolution (floor), the
    same truncation DuckDB applies when it reads the nanos column."""
    if isinstance(df.schema["ts"].dataType, LongType):
        # Integer division — a double-precision detour would corrupt the
        # low microsecond digits (epoch nanos exceed 2^53).
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def fanout(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Spread a narrow scan across the cluster before a compute-heavy
    pipeline (hashing, shingling, vector math).

    The driver testdata is one single-row-group parquet file per table, so
    Spark plans exactly ONE scan task no matter how many cores exist —
    measured 3.5 s single-threaded for 260 k shingle+md5 rows that the
    cluster could do in a fraction of that.  A real 100 TB table arrives
    pre-split (many files / row groups) and this repartition collapses to
    a no-op decision; it costs one shuffle of the raw rows, which only
    pays off when downstream per-row work dominates — hence applied
    selectively by the heavy operators, not in table()."""
    spark = df.sparkSession
    n = partitions or spark.sparkContext.defaultParallelism
    return df.repartition(n)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` can be used."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
