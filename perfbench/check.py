"""Result checks: a Spark-side fingerprint for every timed pass and a
DuckDB oracle check once per run.

The fingerprint is the row count plus an order-insensitive sum of row
hashes, computed by the one aggregate that also forces the query.  The
oracle check pushes the DuckDB result, cast to the Spark result's
schema, through the same fingerprint.  Floating-point values are rounded
to 9 decimals before hashing.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _canonical(field: T.StructField):
    c = F.col(f"`{field.name}`")
    dt = field.dataType
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return F.round(c.cast("double"), 9)
    if isinstance(dt, T.ArrayType) and isinstance(
            dt.elementType, (T.DoubleType, T.FloatType)):
        return F.transform(c, lambda x: F.round(x.cast("double"), 9))
    if isinstance(dt, T.MapType):
        return F.to_json(c)
    return c


def fingerprint(df: DataFrame) -> tuple[tuple[int, int], DataFrame]:
    """(rows, sum of xxhash64 over each row), computed by the one action
    that forces ``df``; also returns the aggregate that ran."""
    cols = [_canonical(f) for f in df.schema.fields]
    agg = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    )
    row = agg.collect()[0]
    return (int(row["n"]), int(row["h"] or 0)), agg


def duckdb_views(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per staged ``<table>.parquet``."""
    con = duckdb.connect()
    for path in sorted(Path(data_dir).glob("*.parquet")):
        con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
    return con


def oracle_matches(spark: SparkSession, con: duckdb.DuckDBPyConnection,
                   sql: str, actual: DataFrame,
                   actual_fp: tuple[int, int]) -> str | None:
    """None when the oracle's rows equal ``actual``'s, else a reason."""
    expected = con.execute(sql).arrow()
    schema = actual.schema
    if sorted(expected.column_names) != sorted(schema.fieldNames()):
        return (f"columns spark={sorted(schema.fieldNames())} "
                f"oracle={sorted(expected.column_names)}")
    if expected.num_rows != actual_fp[0]:
        return f"rows spark={actual_fp[0]} oracle={expected.num_rows}"
    if expected.num_rows == 0:
        return None
    oracle_df = spark.createDataFrame(expected).select(
        [F.col(f"`{f.name}`").cast(f.dataType).alias(f.name) for f in schema])
    oracle_fp = fingerprint(oracle_df)[0]
    if oracle_fp != actual_fp:
        return f"fingerprint spark={actual_fp} oracle={oracle_fp}"
    return None
