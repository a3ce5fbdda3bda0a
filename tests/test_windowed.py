"""Windowed time-series operators: the shared daily-series kernels."""

from __future__ import annotations

import inspect
import math
import os
import pathlib
import subprocess
import sys

import duckdb

import kafka_stream_processing_spark
from kafka_stream_processing_spark.operators import windowed


def test_windowed_operators_share_one_daily_series():
    """The orders daily groupBy and the events day bucket live in one
    kernel each (``_orders_daily``, ``_event_day``); a second copy in
    operators/windowed.py is a hand-written daily series, and a second
    events day bucket anywhere in the package is a hand-written
    ``_event_day``.  The Bandt-Pompe fold lives in
    ``_permutation_entropy``."""
    source = inspect.getsource(windowed)
    assert source.count('F.col("o_orderdate").alias("day")') == 1
    package = pathlib.Path(kafka_stream_processing_spark.__file__).parent
    texts = {
        str(p.relative_to(package)): p.read_text()
        for p in sorted(package.rglob("*.py"))
    }
    day_buckets = {
        name: n
        for name, text in texts.items()
        if (n := text.count('date_trunc("day", "ts").cast("date")'))
    }
    assert day_buckets == {"operators/windowed.py": 1}
    copies = [name for name, text in texts.items() if "flags = {" in text]
    assert copies == []


def test_pandas_fold_runs_with_jvm_outside_the_repository(
    tmp_path, sf_small
):
    """Python workers import the package whatever the JVM's working
    directory is: a pandas fold is unpickled on the worker by module
    reference, so a worker that cannot see the package root fails with
    ModuleNotFoundError.  Runs one fold on a vanilla session started
    from a directory outside the repository."""
    root = pathlib.Path(kafka_stream_processing_spark.__file__).parent.parent
    script = f"""
import sys
sys.path.insert(0, {str(root)!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false").getOrCreate())
import __spark_entry__ as e
rows = e.queries()["window_holt_linear_smoothing"](spark, {sf_small!r})
print("ROWS", len(rows.collect()))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert run.returncode == 0, run.stderr[-4000:]
    assert "ROWS" in run.stdout


#: Half-way ties at the 7th decimal (where banker's rounding and
#: half-to-even float steps differ from DuckDB), their neighbours, and
#: ordinary values; each is checked with both signs.
_R6_VALUES = (
    5e-7,
    1.5e-6,
    2.5e-6,
    3.5e-6,
    0.1234565,
    2.675e-4,
    1234.5678905,
    4.9999999e-7,
    12345.67890149,
    0.0,
    1e-9,
    1.0,
    3.14159265358979,
    123.456789,
    987654.3210987,
)


def test_r6_rounds_like_duckdb_round():
    """``_r6`` is DuckDB's round(x, 6) bit for bit, signed zeros
    included: the pandas folds and the oracles' recursive CTEs round
    every step with one and the other."""
    values = [s * v for v in _R6_VALUES for s in (1.0, -1.0)]
    with duckdb.connect() as con:
        want = [
            con.execute("SELECT round(?::DOUBLE, 6)", [v]).fetchone()[0]
            for v in values
        ]
    got = [windowed._r6(v) for v in values]
    assert [(g, math.copysign(1.0, g)) for g in got] == [
        (w, math.copysign(1.0, w)) for w in want
    ]
