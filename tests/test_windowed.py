"""Windowed time-series operators: the shared daily-series kernels."""

from __future__ import annotations

import ast
import inspect
import math
import os
import pathlib
import re
import subprocess
import sys

import duckdb
import numpy as np

import kafka_stream_processing_spark
from kafka_stream_processing_spark.operators import windowed


def _package_texts() -> dict[str, str]:
    package = pathlib.Path(kafka_stream_processing_spark.__file__).parent
    return {
        str(p.relative_to(package)): p.read_text()
        for p in sorted(package.rglob("*.py"))
    }


def test_windowed_operators_share_one_daily_series():
    """The orders daily groupBy and the events day bucket live in one
    kernel each (``_orders_daily``, ``_event_day``); a second copy in
    operators/windowed.py is a hand-written daily series, and a second
    events day bucket anywhere in the package is a hand-written
    ``_event_day``.  The Bandt-Pompe fold lives in
    ``_permutation_entropy``."""
    source = inspect.getsource(windowed)
    assert source.count('F.col("o_orderdate").alias("day")') == 1
    texts = _package_texts()
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


def _calls(node: ast.AST, name: str) -> list[ast.Call]:
    """Calls under ``node`` of ``name`` (a bare name or an attribute)."""
    return [
        n for n in ast.walk(node)
        if isinstance(n, ast.Call)
        and (getattr(n.func, "attr", None) or getattr(n.func, "id", None))
        == name
    ]


def _is_value_sum(call: ast.Call) -> bool:
    """``F.sum(dec("value"))``."""
    return (
        getattr(call.func, "attr", None) == "sum"
        and len(call.args) == 1
        and isinstance(call.args[0], ast.Call)
        and getattr(call.args[0].func, "id", None) == "dec"
        and [getattr(a, "value", None) for a in call.args[0].args]
        == ["value"]
    )


def test_tail_and_rank_operators_share_one_events_daily_series():
    """The events daily series (the events table grouped on
    ``_event_day()`` and aggregated with ``F.sum(dec("value"))``) is
    built once, in ``_events_daily``; tail_scoring.py and
    quality_rank.py call it."""
    copies = []
    for name, text in _package_texts().items():
        for agg in _calls(ast.parse(text), "agg"):
            grouped = agg.func.value
            if (
                isinstance(grouped, ast.Call)
                and getattr(grouped.func, "attr", None) == "groupBy"
                and _calls(grouped, "_event_day")
                and any(
                    getattr(a, "value", None) == "events"
                    for t in _calls(grouped.func.value, "table")
                    for a in t.args
                )
                and any(_is_value_sum(c) for c in _calls(agg, "sum"))
            ):
                copies.append(f"{name}:{agg.lineno}")
    assert len(copies) == 1 and copies[0].startswith("operators/windowed.py")


def test_serial_dependence_kernels_have_one_home():
    """The Spark-side move-tolerance rank, the lag-product join and the
    Wilson-Hilferty chi-square fallback are written once each:
    ``_move_tolerance`` and ``_lag_sums`` in windowed.py,
    ``_chi2_crit_005`` in quality_kernel.py."""
    texts = _package_texts()
    joined = "\n".join(texts.values())
    tol_rank = re.compile(r'SAMPEN_TOL_RANK_DEN\} - 1\)"\s*f" div ')
    assert len(tol_rank.findall(joined)) == 1
    assert joined.count('F.col("b.d") == F.col("a.d") + F.col("k")') == 1
    users = sorted(
        name for name, text in texts.items()
        if any(
            isinstance(n, ast.Name) and n.id == "_WH_Z095"
            or isinstance(n, ast.alias) and n.name == "_WH_Z095"
            for n in ast.walk(ast.parse(text))
        )
    )
    assert users == ["operators/quality_kernel.py"]


def _frame(spark, rows, schema):
    """``rows`` as an inline VALUES table: planned in the JVM, with a
    size estimate, and run without Python workers (a parallelized list
    runs one per partition and plans range joins as cartesians)."""
    fields = [f.split() for f in schema.split(", ")]
    values = ", ".join(
        "(" + ", ".join(
            f"CAST({v} AS {t})" for v, (_, t) in zip(r, fields)
        ) + ")"
        for r in rows
    )
    names = ", ".join(n for n, _ in fields)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({names})")


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_move_tolerance_picks_the_rank_by_mv_then_day(spark):
    """``r_tol`` is the ceil(4n/5)-th smallest move in (mv, day) order:
    exactly one row per group even when the rank falls inside a run of
    tied moves, unpartitioned for n = 1..7 and per ``scale``."""
    moves = [3, 1, 3, 3, 0, 7, 3]  # ties at 3; day = list position
    want = {}
    rows = []
    for n in range(1, len(moves) + 1):
        ranked = sorted((mv, day) for day, mv in enumerate(moves[:n]))
        want[n] = ranked[-(-n * 4 // 5) - 1][0]
        rows += [(n, day, mv) for day, mv in enumerate(moves[:n])]
        df = _frame(
            spark,
            [(day, mv) for day, mv in enumerate(moves[:n])],
            "day int, mv bigint",
        )
        assert _rows(windowed._move_tolerance(df), "r_tol") == [(want[n],)]
    per_scale = _frame(spark, rows, "scale int, day int, mv bigint")
    assert _rows(
        windowed._move_tolerance(per_scale, "scale"), "scale", "r_tol"
    ) == sorted(want.items())


def test_lag_sums_match_numpy_acf_over_calendar_gaps(spark):
    """``_demeaned`` + ``_lag_sums`` give numpy's lagged cross-product
    sums over the calendar (the ACF for u = v, the CCF for u != v):
    days 3 and 6 are missing, so a lag that would cross them adds no
    pair.  Integer values and means keep every product exact."""
    days = [0, 1, 2, 4, 5, 7, 8, 9]
    xs = [5, 9, 2, 8, 4, 6, 1, 13]  # mean 6
    ys = [1, 0, 4, 2, 2, 3, 0, 4]  # mean 2
    daily = _frame(spark, list(zip(days, xs, ys)), "d int, x bigint, y int")
    dev = windowed._demeaned(daily, e="x", f="y")
    grid = {}
    for name, vals in (("e", xs), ("f", ys)):
        grid[name] = np.full(days[-1] + 1, np.nan)
        grid[name][days] = np.array(vals, dtype=float) - np.mean(vals)

    def numpy_sums(u, v, ks):
        out = []
        for k in ks:
            a = grid[u][max(0, -k): len(grid[u]) - max(0, k)]
            b = grid[v][max(0, k): len(grid[v]) - max(0, -k)]
            prods = (a * b)[~np.isnan(a * b)]
            out.append((k, len(prods), float(prods.sum())))
        return out

    for u, v in (("e", "e"), ("e", "f")):
        got = _rows(
            windowed._lag_sums(dev, range(-2, 4), u, v, "decimal(18,6)"),
            "k", "n_pairs", "sk",
        )
        assert [(k, n, float(s)) for k, n, s in got] == numpy_sums(
            u, v, range(-2, 4)
        )
    s0 = float(np.nansum(grid["e"] * grid["e"]))
    acf = [s / s0 for _, _, s in numpy_sums("e", "e", range(1, 4))]
    got = _rows(
        windowed._lag_sums(dev, range(1, 4), "e", "e", "decimal(18,6)"),
        "k", "sk",
    )
    assert [float(s) / s0 for _, s in got] == acf


def test_trailing_window_keeps_only_complete_windows(spark):
    """Only days whose trailing PINBALL_WINDOW days are all present are
    scored; members are ranked by (m, pd), so tied values rank by day."""
    w = windowed.PINBALL_WINDOW
    days = [d for d in range(w + 7) if d != w + 3]
    x = {d: d % 4 for d in days}  # many ties
    daily = _frame(spark, [(d, x[d]) for d in days], "d int, x bigint")
    got = _rows(
        windowed._trailing_window(daily), "d", "pd", "y", "m", "r"
    )
    want = []
    for d in days:
        members = [p for p in range(d - w, d) if p in x]
        if len(members) < w:
            continue
        ranked = sorted(members, key=lambda p: (x[p], p))
        want += [(d, p, x[d], x[p], ranked.index(p) + 1) for p in members]
    assert sorted({r[0] for r in want}) == [w, w + 1, w + 2]
    assert got == sorted(want)
