"""Time-windowed aggregations — the reference's entire operator surface.

The reference (UniqueUsersCounter.java:59-95) computes unique users per
1-minute tumbling window by accumulating uids into a per-window HashSet
(aggregate at :80-84, set→size at :88).  Spark-first re-expression: a
declarative ``groupBy(window(ts)) .agg(countDistinct(...))`` — Catalyst
plans a partial/final hash aggregate, so the reference's single-task
constant-key bottleneck (groupBy((k,v)->"") at :74) and its unbounded
Java-serialized set state (HashSetSerde at :26-45, the documented
RecordTooLargeException at README.md:27-31) both disappear.

Scale notes (100 TB): exact countDistinct shuffles each (window, uid) pair
once (Spark rewrites it as a two-phase expand+agg); per-window parallelism
comes from the window key, not a constant key.  For unbounded cardinality
the ``approx_`` variant keeps per-window state at O(KB) (HyperLogLog++),
which is the default we recommend at scale.

Kernels: the time-series operators build their inputs from a few
private helpers, each owning one decision.  ``_event_day`` is the events
day bucket and ``_events_daily`` the events daily series built on it
(optionally per ``event_type``, with the epoch-day key ``d`` or the
per-series day index ``i``); ``_orders_daily`` is the orders daily
series (the DECIMAL(18,6) revenue ``rev``, its micro-unit bigint
``xm``, or the order count); ``_user_lifetimes`` gives the survival
ops' per-user lifetimes with the horizon censoring rule; ``_r6`` is the
half-away-from-zero rounding every pandas fold applies per step; and
``_permutation_entropy`` is the one Bandt-Pompe pattern fold over
``PERM_PATTERNS`` (the streaming monitor in streaming/joins.py uses it
too).  The serial-dependence steps have one home each as well:
``_demeaned`` mean-centers a day-keyed series (ACF, CCF,
periodogram); ``_lag_sums`` is the broadcast lag-frame join that
counts the day pairs and sums the rounded cross-products per lag (ACF,
CCF, Ljung-Box); ``_move_tolerance`` is the rank-selected match
tolerance ``r_tol`` of the template-matching ops (SampEn, multiscale
SampEn, ApEn, BDS, RQA); and ``_trailing_window`` is the
``PINBALL_WINDOW``-day ensemble self-join of the scoring ops in
tail_scoring.py (pinball, CRPS, Winkler).  The oracles build their
repeated CTEs from the shared ``_ORDERS_MICRO_CTE`` and
``_MOVE_TOL_CTE`` strings.  The Holt, Holt-Winters, damped and theta
recurrences stay per op.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_processing_spark.functions.exact import dec, dec_sum
from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import table


def _r6(v: float) -> float:
    """Round half away from zero at 6 decimals: DuckDB's round(v, 6),
    not Python's round() (banker's).  The pandas folds round every
    recurrence step with it, as the oracles' recursive CTEs do."""
    return math.copysign(math.floor(abs(v) * 1e6 + 0.5) / 1e6, v)


def _event_day() -> F.Column:
    """The events day bucket: ``ts`` truncated to its day, as a DATE."""
    return F.date_trunc("day", "ts").cast("date")


def _events_daily(
    spark: SparkSession,
    sf_dir: str,
    *aggs: F.Column,
    by_type: bool = False,
    epoch: bool = False,
    index: bool = False,
) -> DataFrame:
    """The events daily series: one row per day bucket (per
    ``event_type`` and day with ``by_type``) carrying ``aggs``, by
    default ``x``, the day's DECIMAL(18,6) value sum.  ``epoch``
    replaces ``day`` by ``d``, its day number since 1970-01-01 (the
    integer key the lag and pair joins match on).  ``index`` adds
    ``i``, the day's 1-based position in its series."""
    keys = ["event_type"] if by_type else []
    daily = (
        table(spark, sf_dir, "events")
        .groupBy(*keys, _event_day().alias("day"))
        .agg(*(aggs or [F.sum(dec("value")).alias("x")]))
    )
    if index:
        daily = daily.withColumn(
            "i",
            F.row_number().over(Window.partitionBy(*keys).orderBy("day")),
        )
    if epoch:
        daily = daily.select(
            *keys,
            F.datediff("day", F.lit("1970-01-01").cast("date")).alias("d"),
            *daily.columns[len(keys) + 1:],
        )
    return daily


def _user_lifetimes(
    spark: SparkSession, sf_dir: str, *carry: F.Column
) -> DataFrame:
    """Per-user lifetimes for the survival ops: ``carry`` (columns over
    user_id and the first/last active days d0/d1), then ``t``, the days
    from d0 to d1, and ``censored``, 1 when d1 is the horizon (the
    latest active day of any user), where the user may still be
    active."""
    by_user = table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.min(_event_day()).alias("d0"),
        F.max(_event_day()).alias("d1"),
    )
    horizon = by_user.agg(F.max("d1").alias("h"))
    return by_user.crossJoin(F.broadcast(horizon)).select(
        *carry,
        F.datediff("d1", "d0").alias("t"),
        F.when(F.col("d1") == F.col("h"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("censored"),
    )


def _orders_daily(
    spark: SparkSession, sf_dir: str, series: str = "rev"
) -> DataFrame:
    """The orders daily series, one row per ``day`` (o_orderdate).
    ``"rev"`` carries ``rev``, the day's DECIMAL(18,6) o_totalprice sum;
    ``"micro"`` carries that sum as ``xm``, an exact bigint of
    micro-units, and ``"count"`` the day's order count as ``xm``."""
    if series == "count":
        x = F.count(F.lit(1)).cast("bigint").alias("xm")
    elif series == "micro":
        x = (F.sum(dec("o_totalprice")) * 1000000).cast("bigint").alias("xm")
    else:
        x = F.sum(dec("o_totalprice")).alias("rev")
    orders = table(spark, sf_dir, "orders")
    return orders.groupBy(F.col("o_orderdate").alias("day")).agg(x)


#: ``_orders_daily(..., "micro")`` as an oracle CTE.
_ORDERS_MICRO_CTE = """daily AS (
        SELECT o_orderdate AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000
                    AS BIGINT) AS xm
        FROM orders GROUP BY 1
    )"""


def _demeaned(daily: DataFrame, **series: str) -> DataFrame:
    """The mean-centered columns of a daily series keyed by the epoch
    day ``d``: for each ``name=col``, ``name`` is CAST(col AS DOUBLE)
    minus CAST(SUM(col) AS DOUBLE) / count.  Carries ``n``, the day
    count, and ``dmin``, the first day."""
    n = F.count(F.lit(1))
    tot = daily.agg(
        n.alias("n"),
        F.min("d").alias("dmin"),
        *[(F.sum(c).cast("double") / n).alias(f"mu_{name}")
          for name, c in series.items()],
    )
    return daily.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        "dmin",
        *[(F.col(c).cast("double") - F.col(f"mu_{name}")).alias(name)
          for name, c in series.items()],
    )


def _lag_sums(
    dev: DataFrame, ks: range, u: str, v: str, dtype: str
) -> DataFrame:
    """Lag products of the day-keyed ``dev``: per lag ``k`` in ``ks``,
    ``n_pairs``, the count of day pairs (a, b) with b.d = a.d + k, and
    ``sk``, the exact sum of round(a.u * b.v, 6) cast to ``dtype``.
    A missing calendar day adds no pair."""
    lags = dev.sparkSession.range(ks.start, ks.stop).select(
        F.col("id").cast("int").alias("k")
    )
    a, b = dev.alias("a"), dev.alias("b")
    return (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("b.d") == F.col("a.d") + F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.round(F.col(f"a.{u}") * F.col(f"b.{v}"), 6).cast(dtype)
            ).alias("sk"),
        )
    )


#: Trailing calendar window (days) forming the forecast ensemble of the
#: scoring ops in tail_scoring.py.
PINBALL_WINDOW = 28


def _trailing_window(daily: DataFrame) -> DataFrame:
    """The trailing day-grid window of the epoch-day series ``daily``
    (``d``, ``x``): one row per scored day ``d`` and member day ``pd``
    in [d - PINBALL_WINDOW, d - 1], with ``y`` the day's value, ``m``
    the member's and ``r`` the member's 1-based rank by (m, pd).  Only
    days whose window is complete (PINBALL_WINDOW members) are kept."""
    c, p = daily.alias("c"), daily.alias("p")
    return (
        c.join(
            p,
            (F.col("p.d") >= F.col("c.d") - PINBALL_WINDOW)
            & (F.col("p.d") <= F.col("c.d") - 1),
        )
        .select(
            F.col("c.d").alias("d"),
            F.col("c.x").alias("y"),
            F.col("p.x").alias("m"),
            F.col("p.d").alias("pd"),
        )
        .withColumn(
            "r",
            F.row_number().over(Window.partitionBy("d").orderBy("m", "pd")),
        )
        .withColumn("w", F.count(F.lit(1)).over(Window.partitionBy("d")))
        .filter(F.col("w") == PINBALL_WINDOW)
        .drop("w")
    )


#: Tolerance rank for the template-matching ops (sample entropy, ApEn,
#: BDS, RQA): the q-th percentile (by rank selection, ceil(q·(n-1))-th
#: smallest) of absolute successive daily moves.  Rank selection keeps
#: the tolerance an EXACT integer both engines pick identically — the
#: float-free analog of the classical 0.2σ, scale-free under
#: heavy-tailed revenue (σ itself would need a sqrt and a float
#: multiply, reintroducing cross-engine drift into every template
#: comparison).
SAMPEN_TOL_RANK_NUM = 4
SAMPEN_TOL_RANK_DEN = 5

#: ``_move_tolerance`` without partition as an oracle CTE over ``moves``.
_MOVE_TOL_CTE = f"""tol AS (
        SELECT mv AS r_tol FROM (
            SELECT mv, row_number() OVER (ORDER BY mv, day) AS rk,
                   count(*) OVER () AS nm
            FROM moves
        ) WHERE rk = (nm * {SAMPEN_TOL_RANK_NUM}
                      + {SAMPEN_TOL_RANK_DEN} - 1)
                     // {SAMPEN_TOL_RANK_DEN}
    )"""


def _move_tolerance(moves: DataFrame, *by: str) -> DataFrame:
    """The template-match tolerance ``r_tol`` (per ``by`` group): the
    ceil(n·NUM/DEN)-th smallest of the n one-step moves ``mv``, ties
    broken by ``day``."""
    ranked = moves.select(
        *by,
        "mv",
        F.row_number()
        .over(Window.partitionBy(*by).orderBy("mv", "day"))
        .alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy(*by)).alias("nm"),
    )
    return ranked.filter(
        F.col("rk")
        == F.expr(
            f"(nm * {SAMPEN_TOL_RANK_NUM} + {SAMPEN_TOL_RANK_DEN} - 1)"
            f" div {SAMPEN_TOL_RANK_DEN}"
        )
    ).select(*by, F.col("mv").alias("r_tol"))


@register(
    "unique_users_per_minute",
    oracle="""
    SELECT CAST(date_trunc('minute', ts) AS VARCHAR) AS window_start,
           count(DISTINCT user_id) AS unique_users
    FROM events
    GROUP BY 1
    """,
    headline=True,
    tags=("reference-parity", "W1", "A1", "A2"),
)
def unique_users_per_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the reference's whole topology (S1→P1→G1→W1→A1→A2→T1) in
    one declarative plan.  Reference: UniqueUsersCounter.java:63-93."""
    events = table(spark, sf_dir, "events")
    return (
        events
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.countDistinct("user_id").alias("unique_users"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "unique_users",
        )
    )


@register(
    "events_per_minute",
    oracle="""
    SELECT CAST(date_trunc('minute', ts) AS VARCHAR) AS window_start,
           count(*) AS n_events
    FROM events
    GROUP BY 1
    """,
    tags=("reference-parity",),
)
def events_per_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's abandoned first attempt ("Flawed counter", counts all
    events not unique users — reference README.md:17-20), kept as a distinct
    test point separating count(*) from count(DISTINCT)."""
    events = table(spark, sf_dir, "events")
    return (
        events
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").cast("string").alias("window_start"), "n_events")
    )


@register(
    "unique_users_per_minute_approx",
    # DuckDB's approx_count_distinct uses a different HLL implementation, so
    # exact value parity is impossible — driver records a rows-only check.
    oracle=None,
    tags=("reference-parity", "scale"),
)
def unique_users_per_minute_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-safe flagship: HyperLogLog++ sketch state (O(KB) per
    window regardless of uid cardinality) — the fix for the reference's
    RecordTooLargeException ceiling (README.md:27-31)."""
    events = table(spark, sf_dir, "events")
    return (
        events
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("unique_users_approx"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "unique_users_approx",
        )
    )


@register(
    "unique_users_sliding_window",
    # Each event belongs to exactly two 60s/30s sliding windows: the one
    # starting at floor(ts, 30s) and the one 30s earlier.
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
    tags=("streaming-windows",),
)
def unique_users_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window: 1-minute windows advancing every 30 s.
    The reference configures size==advance (tumbling) at
    UniqueUsersCounter.java:77; this exercises the size>advance case."""
    events = table(spark, sf_dir, "events")
    return (
        events
        .groupBy(F.window("ts", "1 minute", "30 seconds").alias("w"))
        .agg(F.countDistinct("user_id").alias("unique_users"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "unique_users",
        )
    )


@register(
    "session_windows_per_user",
    # Sessionization in SQL: a session break is a gap >= 5 minutes; session
    # id is a running sum of break flags per user.
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sessions AS (
        SELECT user_id, ts,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           count(*) AS n_events
    FROM sessions
    GROUP BY user_id, sid
    """,
    tags=("streaming-windows",),
)
def session_windows_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute inactivity gap) per user — the dynamic
    window type the reference lacks entirely (SURVEY.md §2.1).  Spark's
    session_window merges events whose timestamps are < gap apart."""
    events = table(spark, sf_dir, "events")
    return (
        events
        .groupBy("user_id", F.session_window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            "n_events",
        )
    )


@register(
    "unique_user_set_per_minute",
    oracle="""
    SELECT CAST(date_trunc('minute', ts) AS VARCHAR) AS window_start,
           array_to_string(list_sort(list(DISTINCT CAST(user_id AS VARCHAR))), ',')
               AS user_set,
           count(DISTINCT user_id) AS unique_users
    FROM events
    GROUP BY 1
    """,
    tags=("reference-parity", "A1"),
)
def unique_user_set_per_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact parity with the reference's A1 state: the materialized
    per-window uid SET itself (reference aggregates into HashSet<String>,
    UniqueUsersCounter.java:80-84), emitted as a sorted comma-joined
    string for deterministic comparison.  This is the operator whose state
    blew the reference up at ~tens of thousands of uids/window
    (README.md:27-31); Spark's collect_set state is UnsafeRow-encoded and
    spill-safe, but the engine still treats this as a debugging operator —
    production distinct-counting uses countDistinct/approx variants."""
    events = table(spark, sf_dir, "events")
    return (
        events
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(F.collect_set(F.col("user_id").cast("string")).alias("uids"))
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            F.array_join(F.array_sort("uids"), ",").alias("user_set"),
            F.size("uids").cast("long").alias("unique_users"),
        )
    )


@register(
    "dense_minutes_gap_filled",
    oracle="""
    WITH bounds AS (
        SELECT make_timestamp((epoch_us(min(ts)) // 60000000) * 60000000) AS lo,
               make_timestamp((epoch_us(max(ts)) // 60000000) * 60000000) AS hi
        FROM events
    ),
    grid AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 MINUTE)) AS minute
        FROM bounds
    ),
    counts AS (
        SELECT date_trunc('minute', ts) AS minute, count(*) AS n
        FROM events GROUP BY 1
    )
    SELECT CAST(g.minute AS VARCHAR) AS minute,
           coalesce(c.n, 0) AS n_events,
           c.n IS NULL AS is_gap
    FROM grid g LEFT JOIN counts c ON c.minute = g.minute
    """,
    tags=("timeseries",),
)
def dense_minutes_gap_filled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling: densify the per-minute event counts over the full
    [min, max] minute grid, zero-filling empty minutes — the generator +
    left-join pattern (Spark sequence() + explode as the table-valued
    generator).  Scale: the grid is tiny relative to the data (minutes in
    range), built from a 1-row bounds aggregate and exploded; the join is
    broadcast."""
    events = table(spark, sf_dir, "events")
    bounds = events.agg(
        F.date_trunc("minute", F.min("ts")).alias("lo"),
        F.date_trunc("minute", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 MINUTE"))
        ).alias("minute")
    )
    counts = (
        events.groupBy(F.date_trunc("minute", "ts").alias("minute"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        grid.join(counts, "minute", "left")
        .select(
            F.col("minute").cast("string").alias("minute"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.col("n").isNull().alias("is_gap"),
        )
    )


@register(
    "unique_users_daily_by_type",
    oracle="""
    SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR) AS window_start,
           event_type,
           count(DISTINCT user_id) AS unique_users,
           count(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
    tags=("reference-parity",),
)
def unique_users_daily_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed windowed distinct aggregation — the generalization the
    reference's constant grouping key (UniqueUsersCounter.java:74-75)
    deliberately avoided; in Spark extra keys add parallelism, not cost."""
    events = table(spark, sf_dir, "events")
    return (
        events
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.countDistinct("user_id").alias("unique_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "unique_users",
            "n_events",
        )
    )


@register(
    "agg_time_rollup_events",
    oracle="""
    SELECT CAST(year(ts) AS INT) AS y,
           CAST(month(ts) AS INT) AS m,
           CAST(day(ts) AS INT) AS d,
           count(*) AS n_events,
           count(DISTINCT user_id) AS unique_users
    FROM events
    GROUP BY ROLLUP(CAST(year(ts) AS INT), CAST(month(ts) AS INT),
                    CAST(day(ts) AS INT))
    """,
    tags=("rollup", "time-series"),
)
def agg_time_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-hierarchy rollup: one pass produces
    day-level, month-level, year-level, and grand-total aggregates
    (year > month > day prefixes of ROLLUP), with distinct users at
    every level — the materialized-rollup pattern time-series stores
    build continuous aggregates from.

    Scale: Spark plans rollup as an Expand (4 grouping sets x rows)
    feeding ONE two-phase hash aggregate — no per-level rescan of the
    fact.  countDistinct adds its usual per-set dedup phase; at 100 TB
    swap in approx_count_distinct per level if exactness isn't required
    (same plan, HLL state)."""
    events = table(spark, sf_dir, "events")
    return (
        events.rollup(
            F.year("ts").cast("int").alias("y"),
            F.month("ts").cast("int").alias("m"),
            F.dayofmonth("ts").cast("int").alias("d"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("unique_users"),
        )
    )


@register(
    "window_rank_distribution_funcs",
    oracle="""
    SELECT o_orderkey,
           o_custkey,
           round(percent_rank() OVER w, 9) AS pr,
           round(cume_dist() OVER w, 9) AS cd,
           first_value(o_orderkey) OVER w AS first_key,
           nth_value(o_orderkey, 2) OVER
               (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_key,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
    tags=("analytic-windows",),
)
def window_rank_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining analytic window surface in one query: percent_rank,
    cume_dist (distribution functions), first_value / nth_value
    (positional), rank / dense_rank (ranking with gaps/without) — all
    over ONE (o_custkey, o_totalprice DESC) ordering.

    percent_rank/cume_dist emit doubles from integer position ratios —
    identical across engines for the same tie structure; the orderkey
    tiebreak makes positions total, and round(..., 9) guards the one
    division.  nth_value needs the full-partition frame (default frame
    stops at CURRENT ROW, hiding row 2 from rows 1).

    Scale: one shuffle on o_custkey; all six functions plan into a
    single Window operator over one sort — adding functions to a shared
    ordering is free."""
    o = table(spark, sf_dir, "orders")

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.percent_rank().over(w), 9).alias("pr"),
        F.round(F.cume_dist().over(w), 9).alias("cd"),
        F.first("o_orderkey").over(w).alias("first_key"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_key"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
    )


@register(
    "window_activity_islands",
    oracle="""
    WITH active AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(date_trunc('minute', ts)) / 60000000 AS BIGINT)
                   AS minute_idx
        FROM events
    ),
    grouped AS (
        SELECT user_id, minute_idx,
               minute_idx - row_number() OVER (
                   PARTITION BY user_id ORDER BY minute_idx
               ) AS island_key
        FROM active
    ),
    islands AS (
        SELECT user_id, island_key, count(*) AS run_len
        FROM grouped GROUP BY user_id, island_key
    )
    SELECT user_id,
           count(*) AS n_islands,
           CAST(max(run_len) AS BIGINT) AS longest_run,
           CAST(SUM(run_len) AS BIGINT) AS active_minutes
    FROM islands
    GROUP BY user_id
    """,
    tags=("analytic-windows", "time-series"),
)
def window_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: contiguous runs of active minutes per user via
    the classic value-minus-row_number grouping key (consecutive values
    share a constant difference), then island-level aggregation — the
    inverse view of session windows (which group by GAP; islands group
    by CONTIGUITY, a strictly calendar-aligned notion session_window
    cannot express).

    Scale: one shuffle on user_id shared by the distinct, the window and
    both aggregations (AQE reuses the partitioning); integer minute
    indices keep every comparison exact."""
    events = table(spark, sf_dir, "events")

    active = events.select(
        "user_id",
        (F.unix_micros(F.date_trunc("minute", "ts")) / 60000000)
        .cast("bigint")
        .alias("minute_idx"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("minute_idx")
    islands = (
        active.withColumn(
            "island_key", F.col("minute_idx") - F.row_number().over(w)
        )
        .groupBy("user_id", "island_key")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return islands.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("run_len").cast("bigint").alias("longest_run"),
        F.sum("run_len").cast("bigint").alias("active_minutes"),
    )


@register(
    "window_mom_revenue_growth",
    oracle="""
    WITH monthly AS (
        SELECT CAST(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)
                    AS VARCHAR) AS month,
               SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
        FROM orders
        GROUP BY 1
    )
    SELECT month,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(lag(rev) OVER (ORDER BY month) AS DOUBLE) AS prev_revenue,
           round(CAST(rev AS DOUBLE)
                 / CAST(lag(rev) OVER (ORDER BY month) AS DOUBLE) - 1, 9)
               AS growth
    FROM monthly
    """,
    tags=("analytic-windows", "time-series"),
)
def window_mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month growth: aggregate THEN window (lag over the
    aggregated series) — the reporting composition where the window input
    is already one row per month.  The growth ratio divides two
    double-casts of exact decimal sums (identical operands both engines),
    rounded once.

    Scale: the window is a SINGLE partition by design (one global
    monthly series) — safe only because the aggregate upstream reduced
    cardinality to months-of-history; lag over a raw fact would funnel.
    First month's growth is NULL (no predecessor), matching the oracle."""
    o = table(spark, sf_dir, "orders")

    monthly = (
        o.groupBy(
            F.date_trunc("month", "o_orderdate").cast("string").alias("month")
        )
        .agg(F.sum(dec("o_totalprice")).alias("rev"))
    )
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        F.col("rev").cast("double").alias("revenue"),
        F.lag("rev").over(w).cast("double").alias("prev_revenue"),
        F.round(
            F.col("rev").cast("double") / F.lag("rev").over(w).cast("double")
            - 1,
            9,
        ).alias("growth"),
    )


@register(
    "scd2_user_type_history",
    oracle="""
    WITH marked AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS is_change
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT user_id, event_type, ts,
               sum(is_change) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS run_id
        FROM marked
    ),
    hist AS (
        SELECT user_id, event_type, run_id,
               min(ts) AS valid_from, count(*) AS n_events
        FROM runs GROUP BY user_id, event_type, run_id
    )
    SELECT user_id, event_type,
           epoch_us(valid_from) AS valid_from_us,
           epoch_us(lead(valid_from) OVER (PARTITION BY user_id
                                           ORDER BY valid_from, run_id))
               AS valid_to_us,
           n_events
    FROM hist
    """,
    tags=("analytic-windows", "scd"),
)
def scd2_user_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history derivation: collapse each user's event stream into
    CHANGE rows (one per run of consecutive identical event_type) with
    [valid_from, valid_to) intervals — the slowly-changing-dimension
    type-2 build every warehouse runs, from raw facts with three window
    passes (change flag → run id → interval close via lead).  The open
    current row has NULL valid_to.

    Scale: all three windows partition on user_id — one shuffle, one
    sort, reused across the whole chain; output size is the number of
    CHANGES, not events (the compression that makes SCD2 storable)."""
    events = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = events.withColumn(
        "is_change",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0),
    )
    runs = marked.withColumn(
        "run_id",
        F.sum("is_change").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    hist = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    )
    # run_id tiebreak keeps lead() deterministic when two runs of a user
    # share a min(ts) (identical-ts events of different types).
    wh = Window.partitionBy("user_id").orderBy("valid_from", "run_id")
    return hist.select(
        "user_id",
        "event_type",
        F.unix_micros("valid_from").alias("valid_from_us"),
        F.unix_micros(F.lead("valid_from").over(wh)).alias("valid_to_us"),
        "n_events",
    )


@register(
    "incremental_daily_rollup",
    oracle="""
    SELECT CAST(CAST(date_trunc('day', ts) AS TIMESTAMP) AS VARCHAR) AS day,
           count(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
    tags=("rollup", "incremental"),
)
def incremental_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the daily rollup is
    computed as HISTORY (all days but the last, the part a real pipeline
    already has materialized) merged with a partial aggregate of ONLY the
    newest day's slice — and the result must equal the full recompute
    (the oracle).  This is the refresh pattern that turns an O(table)
    nightly job into O(one partition): aggregate the new partition, merge
    by key.

    Correctness hinges on the merge being exact: counts add, DECIMAL
    sums add associatively — the same per-row quantization that makes
    results partition-independent makes them INCREMENT-independent.
    Scale: with date-partitioned layout the history branch is read from
    the materialized rollup (zero fact scan) and the new-day branch scans
    one partition; here both derive from the same table to stay
    self-contained."""
    events = table(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts").cast("string")
    )
    # Broadcast max-day join (house pattern, see the RFM horizon below)
    # instead of a driver collect(): keeps the split a single lazy plan
    # with no extra job before it is built.
    last_day = events.agg(F.max("day").alias("last_day"))
    events = events.crossJoin(F.broadcast(last_day))
    daily = lambda df: df.groupBy("day").agg(  # noqa: E731
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).alias("total_dec"),
    )
    history = daily(events.filter(F.col("day") != F.col("last_day")))
    newest = daily(events.filter(F.col("day") == F.col("last_day")))
    merged = (
        history.unionByName(newest)
        .groupBy("day")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("total_dec").cast("double").alias("total_value"),
        )
    )
    return merged


@register(
    "window_retention_cohorts",
    oracle="""
    WITH activity AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        FROM events
    ),
    cohort AS (
        SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id
    ),
    sizes AS (
        SELECT cohort_day, count(*) AS cohort_size FROM cohort GROUP BY 1
    ),
    cells AS (
        SELECT c.cohort_day, datediff('day', c.cohort_day, a.day) AS day_offset,
               count(*) AS n_active
        FROM activity a JOIN cohort c ON a.user_id = c.user_id
        GROUP BY 1, 2
    )
    SELECT CAST(cells.cohort_day AS VARCHAR) AS cohort_day,
           CAST(day_offset AS INT) AS day_offset,
           CAST(n_active AS BIGINT) AS n_active,
           CAST(sizes.cohort_size AS BIGINT) AS cohort_size,
           CAST(n_active AS DOUBLE) / sizes.cohort_size AS retention
    FROM cells JOIN sizes ON cells.cohort_day = sizes.cohort_day
    """,
    tags=("windowed", "analytics"),
)
def window_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix — the canonical product-analytics rollup:
    users are cohorted by first-active day, and each (cohort, day-offset)
    cell counts how many of that cohort came back N days later, with the
    retention fraction against cohort size.  Day-0 cells are the cohort
    sizes themselves (retention 1.0), an internal consistency the tests
    pin.  The fraction is one IEEE double division of identical
    integers — bit-exact cross-engine.

    Scale: the distinct (user, day) activity set is the only large
    intermediate — ONE shuffle on user_id serves both the per-user min
    (cohort assignment) and the activity⋈cohort join (co-partitioned,
    no second exchange of the big side); cells and sizes are
    days×offsets-bounded aggregates.  At 100 TB the activity distinct
    is the dominant cost and is exactly the pre-aggregated daily-active
    table a warehouse materializes anyway."""
    ev = table(spark, sf_dir, "events")
    activity = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    cohort = activity.groupBy("user_id").agg(
        F.min("day").alias("cohort_day")
    )
    sizes = cohort.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cells = (
        activity.join(cohort, "user_id")
        .groupBy("cohort_day", F.datediff("day", "cohort_day").alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return cells.join(F.broadcast(sizes), "cohort_day").select(
        F.col("cohort_day").cast("string").alias("cohort_day"),
        F.col("day_offset").cast("int").alias("day_offset"),
        F.col("n_active").cast("bigint").alias("n_active"),
        F.col("cohort_size").cast("bigint").alias("cohort_size"),
        (F.col("n_active").cast("double") / F.col("cohort_size")).alias(
            "retention"
        ),
    )


#: Funnel pattern over per-user event-type sequences: view → click →
#: purchase with no error in between.  Lazy quantifiers so both regex
#: engines (Java util.regex / DuckDB RE2) walk the identical
#: leftmost-first, non-overlapping scan.
SEQ_PATTERN = "v[^e]*?c[^e]*?p"


@register(
    "window_sequence_pattern_match",
    oracle=f"""
    WITH seqs AS (
        SELECT user_id,
               count(*) AS n_events,
               string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                   AS seq
        FROM events
        GROUP BY user_id
    )
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(len(regexp_extract_all(seq, '{SEQ_PATTERN}')) AS BIGINT)
               AS n_funnels,
           len(regexp_extract_all(seq, '{SEQ_PATTERN}')) > 0 AS has_funnel
    FROM seqs
    """,
    tags=("windowed", "pattern"),
)
def window_sequence_pattern_match(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sequence pattern matching over per-user event histories — the
    MATCH_RECOGNIZE emulation: each user's events collapse (in strict
    (ts, event_id) order) to a one-char-per-event string, and the funnel
    'view, then click, then purchase, with no error in between' becomes
    the regex ``v[^e]*?c[^e]*?p`` counted non-overlapping.  This
    subsumes the fixed three-step funnel join (funnel_click_to_purchase)
    the way regex subsumes substring search: negations ("no error
    between"), bounded gaps (``[^e]{{0,5}}?``), and alternations are
    pattern edits, not new query plans.  Lazy quantifiers keep Java
    regex and RE2 on the identical leftmost-first scan, so counts are
    bit-equal cross-engine.

    Scale: ONE shuffle on user_id builds the sequence strings (sorted
    collect per key — bounded by events-per-user, the same state bound
    every sessionization op carries), then the regex is a narrow
    per-row scan.  At 100 TB this is the cheap alternative to
    self-joining the event table once per funnel step — k-step patterns
    cost the same single pass as 3-step ones."""

    ev = table(spark, sf_dir, "events")
    # Sorted-struct collect: array_sort on (ts, event_id) structs gives
    # the deterministic per-user order without a window sort.
    seqs = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "ts", "event_id",
                            F.substring("event_type", 1, 1).alias("ch"),
                        )
                    )
                ),
                lambda s: s["ch"],
            ),
        ).alias("seq"),
    )
    n_funnels = F.size(F.regexp_extract_all("seq", F.lit(SEQ_PATTERN), 0))
    return seqs.select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        n_funnels.cast("bigint").alias("n_funnels"),
        (n_funnels > 0).alias("has_funnel"),
    )


@register(
    "window_rfm_segmentation",
    oracle="""
    WITH base AS (
        SELECT o_custkey AS c_custkey,
               datediff('day', max(o_orderdate),
                        (SELECT max(o_orderdate) FROM orders))
                   AS recency_days,
               count(*) AS frequency,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS monetary
        FROM orders
        GROUP BY o_custkey
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY recency_days, c_custkey) AS rr,
               row_number() OVER (ORDER BY frequency DESC, c_custkey) AS rf,
               row_number() OVER (ORDER BY monetary DESC, c_custkey) AS rm,
               count(*) OVER () AS n
        FROM base
    )
    SELECT c_custkey,
           CAST(recency_days AS BIGINT) AS recency_days,
           CAST(frequency AS BIGINT) AS frequency,
           monetary,
           CAST(CASE WHEN rr * 3 <= n THEN 1
                     WHEN rr * 3 <= 2 * n THEN 2 ELSE 3 END AS INT)
               AS r_bucket,
           CAST(CASE WHEN rf * 3 <= n THEN 1
                     WHEN rf * 3 <= 2 * n THEN 2 ELSE 3 END AS INT)
               AS f_bucket,
           CAST(CASE WHEN rm * 3 <= n THEN 1
                     WHEN rm * 3 <= 2 * n THEN 2 ELSE 3 END AS INT)
               AS m_bucket,
           'R' || CASE WHEN rr * 3 <= n THEN 1
                       WHEN rr * 3 <= 2 * n THEN 2 ELSE 3 END
               || 'F' || CASE WHEN rf * 3 <= n THEN 1
                              WHEN rf * 3 <= 2 * n THEN 2 ELSE 3 END
               || 'M' || CASE WHEN rm * 3 <= n THEN 1
                              WHEN rm * 3 <= 2 * n THEN 2 ELSE 3 END
               AS segment
    FROM ranked
    """,
    tags=("windowed", "analytics"),
)
def window_rfm_segmentation(
    spark: SparkSession, sf_dir: str, frontier: str = "exact"
) -> DataFrame:
    """RFM customer segmentation — the classic marketing-analytics
    rollup: per customer, Recency (days since last order, measured from
    the dataset's own horizon), Frequency (order count), and Monetary
    (exact-decimal spend), each cut into terciles by the engine's
    integer rank frontier (rn·3 ≤ k·n with key tiebreak — the same
    bit-exact bucketing quality_ccnet_perplexity_buckets uses, because
    quantile thresholds on floats are not cross-engine stable), and the
    composite 'R1F2M1'-style segment label.  Completes the
    behavioral-analytics family (cohorts, funnels, sessions, patterns)
    with the per-entity scoring the others aggregate over.

    Scale: one groupBy(custkey) over orders builds the base (map-side
    combined); three global rank windows over the CUSTOMER table (not
    orders) — at 100 TB customers are ~5 orders of magnitude smaller
    than facts, and each window is the same sort-once pattern
    window_rank_distribution_funcs pins; ``frontier="approx"`` is the
    IMPLEMENTED billion-customer path — six percentile_approx tercile
    cuts (operators.frontier.quantile_cuts) broadcast onto the base,
    identical table shape; a bucket can differ from the exact rank
    form only for customers whose metric EQUALS a cut value (value
    semantics keep ties together), pinned in tests/test_frontier.py."""
    o = table(spark, sf_dir, "orders")
    horizon = o.agg(F.max("o_orderdate").alias("h"))
    base = (
        o.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            "c_custkey",
            F.datediff("h", "last_order").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    if frontier == "approx":
        from kafka_stream_processing_spark.operators.frontier import (
            quantile_cuts,
        )

        def cuts(col: str, lo: str, hi: str) -> DataFrame:
            return quantile_cuts(
                base, col, [(1, 3), (2, 3)], mode="approx"
            ).select(F.col("cut_0").alias(lo), F.col("cut_1").alias(hi))

        cc = (
            cuts("recency_days", "r13", "r23")
            .crossJoin(cuts("frequency", "f13", "f23"))
            .crossJoin(cuts("monetary", "m13", "m23"))
        )

        def asc_bucket(col: str, lo: str, hi: str) -> F.Column:
            # ascending metric: smaller is bucket 1
            return (
                F.when(F.col(col) <= F.col(lo), 1)
                .when(F.col(col) <= F.col(hi), 2)
                .otherwise(3)
            )

        def desc_bucket(col: str, lo: str, hi: str) -> F.Column:
            # descending metric: larger is bucket 1
            return (
                F.when(F.col(col) >= F.col(hi), 1)
                .when(F.col(col) >= F.col(lo), 2)
                .otherwise(3)
            )

        rb = asc_bucket("recency_days", "r13", "r23")
        fb = desc_bucket("frequency", "f13", "f23")
        mb = desc_bucket("monetary", "m13", "m23")
        return base.crossJoin(F.broadcast(cc)).select(
            "c_custkey",
            F.col("recency_days").cast("bigint").alias("recency_days"),
            F.col("frequency").cast("bigint").alias("frequency"),
            "monetary",
            rb.cast("int").alias("r_bucket"),
            fb.cast("int").alias("f_bucket"),
            mb.cast("int").alias("m_bucket"),
            F.concat(
                F.lit("R"), rb.cast("string"),
                F.lit("F"), fb.cast("string"),
                F.lit("M"), mb.cast("string"),
            ).alias("segment"),
        )
    rr = F.row_number().over(Window.orderBy("recency_days", "c_custkey"))
    rf = F.row_number().over(Window.orderBy(F.desc("frequency"), "c_custkey"))
    rm = F.row_number().over(Window.orderBy(F.desc("monetary"), "c_custkey"))
    n = F.count(F.lit(1)).over(Window.partitionBy())
    ranked = base.select(
        "*", rr.alias("rr"), rf.alias("rf"), rm.alias("rm"), n.alias("n")
    )

    def bucket(rn: str) -> F.Column:
        return (
            F.when(F.col(rn) * 3 <= F.col("n"), 1)
            .when(F.col(rn) * 3 <= 2 * F.col("n"), 2)
            .otherwise(3)
        )

    return ranked.select(
        "c_custkey",
        F.col("recency_days").cast("bigint").alias("recency_days"),
        F.col("frequency").cast("bigint").alias("frequency"),
        "monetary",
        bucket("rr").cast("int").alias("r_bucket"),
        bucket("rf").cast("int").alias("f_bucket"),
        bucket("rm").cast("int").alias("m_bucket"),
        F.concat(
            F.lit("R"), bucket("rr").cast("string"),
            F.lit("F"), bucket("rf").cast("string"),
            F.lit("M"), bucket("rm").cast("string"),
        ).alias("segment"),
    )


#: Point-in-time probe shift: features are read 30 minutes after the
#: event that anchors the probe (a training-set label time).
PIT_SHIFT_US = 30 * 60 * 1_000_000


@register(
    "join_point_in_time_scd2",
    # Independent formulation: the oracle answers each probe with a
    # direct AS-OF lookup (latest event at or before the probe time) —
    # it never builds intervals — while the engine routes through the
    # SCD2 validity-interval table.  Agreement proves the interval
    # derivation AND the containment join at once.
    oracle=f"""
    WITH probes AS (
        SELECT user_id, event_id,
               epoch_us(ts) + {PIT_SHIFT_US} AS probe_us
        FROM events WHERE event_id % 17 = 0
    )
    SELECT user_id, probe_us, as_of_type FROM (
        SELECT p.user_id, p.probe_us,
               e.event_type AS as_of_type,
               row_number() OVER (PARTITION BY p.user_id, p.event_id
                                  ORDER BY e.ts DESC, e.event_id DESC) AS rn
        FROM probes p
        JOIN events e ON e.user_id = p.user_id
                     AND epoch_us(e.ts) <= p.probe_us
    ) WHERE rn = 1
    """,
    tags=("joins", "scd", "feature-store"),
)
def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct feature lookup — THE correctness contract
    of a feature store (and of any training-set builder): for a probe
    at time t, return the dimension state that was valid AT t, never a
    later value (future leakage) and never an earlier one once a change
    intervened (staleness).  The engine path composes two existing
    kernels: scd2_user_type_history builds the validity-interval table,
    and each probe (every 17th event, read 30 minutes later) joins on
    user_id + interval containment [valid_from, valid_to) with the open
    current row catching the tail.  SCD2 intervals PARTITION each
    user's timeline, so exactly one row matches per probe — the oracle
    proves it by answering the same probes with a direct as-of scan.

    Scale: the interval table is CHANGES-sized (the SCD2 compression),
    so the lookup is a hash equi-join on user_id with a per-user
    interval filter — broadcastable when the dimension is small, and
    the bucketed interval-overlap kernel (join_interval_overlap_sessions)
    is the general form when it isn't.  Probes never self-join the raw
    fact stream — that is the oracle's job, quadratic and deliberately
    oracle-only."""
    events = table(spark, sf_dir, "events")
    hist = scd2_user_type_history(spark, sf_dir)
    probes = events.filter(F.col("event_id") % 17 == 0).select(
        "user_id",
        (F.unix_micros("ts") + F.lit(PIT_SHIFT_US)).alias("probe_us"),
    )
    return (
        probes.join(hist, "user_id")
        .filter(
            (F.col("valid_from_us") <= F.col("probe_us"))
            & (
                F.col("valid_to_us").isNull()
                | (F.col("probe_us") < F.col("valid_to_us"))
            )
        )
        .select(
            "user_id",
            "probe_us",
            F.col("event_type").alias("as_of_type"),
        )
    )


# ---------------------------------------------------------------------------
# CUSUM changepoint detection
# ---------------------------------------------------------------------------

#: CUSUM slack: k = μ0/20 (5% of the in-control mean) — written as the
#: rational 1/20 so the whole statistic stays integer after scaling.
CUSUM_K_DEN = 20
#: Alarm threshold: h = μ0 (one in-control day's worth of cumulative
#: positive drift), scaled like the statistic.
#:
#: Both constants are rationals, so S⁺/S⁻ and the alarm compares run in
#: EXACT integer arithmetic at scale factor den·n (n = number of days).


@register(
    "window_cusum_changepoint",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               count(*) AS x
        FROM events GROUP BY 1
    ),
    tot AS (SELECT count(*) AS n, SUM(x) AS t FROM daily),
    scaled AS (
        SELECT day, x, n, t,
               SUM({CUSUM_K_DEN} * n * x - {CUSUM_K_DEN + 1} * t)
                   OVER (ORDER BY day) AS cu,
               SUM({CUSUM_K_DEN} * n * x - {CUSUM_K_DEN - 1} * t)
                   OVER (ORDER BY day) AS cd
        FROM daily, tot
    ),
    stat AS (
        SELECT day, x, n, t,
               cu - min(cu) OVER (ORDER BY day
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS su,
               max(cd) OVER (ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - cd AS sd
        FROM scaled
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(x AS BIGINT) AS n_events,
           CAST(su AS DOUBLE) / ({CUSUM_K_DEN} * n) AS cusum_up,
           CAST(sd AS DOUBLE) / ({CUSUM_K_DEN} * n) AS cusum_down,
           -- S > h = mu0 = t/n at scale den*n:  su > den*t
           su > {CUSUM_K_DEN} * t AS alarm_up,
           sd > {CUSUM_K_DEN} * t AS alarm_down
    FROM stat
    """,
    tags=("windowed", "drift", "changepoint"),
)
def window_cusum_changepoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUSUM changepoint detection on the daily event-count series —
    the sequential drift detector that catches SUSTAINED small shifts
    the per-batch gates miss (a +5%/day volume creep never trips a
    single-batch test; its cumulative sum crosses any line): Page's
    one-sided statistics S⁺_d = max(0, S⁺_{d-1} + x_d − μ0 − k) and the
    downward mirror, computed in CLOSED FORM as the cumulative sum
    minus its running minimum (S⁺_d = C_d − min_{j≤d} C_j — the
    recursion is exactly a running-min subtraction, so it is pure
    window algebra, no fold).  μ0 is the series' own mean and
    k = μ0/20; multiplying through by den·n makes every compare exact
    INTEGER arithmetic (the engine's rational-frontier convention), and
    the reported float statistic is one final division.  Alarm when a
    side exceeds h = μ0.

    Scale: one groupBy(day) (map-side combined) collapses the stream to
    the horizon-sized daily table; the two windows run over DAYS —
    bounded by the calendar, never by event volume.  At 100 TB the
    same statement monitors per-(source, day) partitions with the
    window partitioned by source."""
    daily = _events_daily(spark, sf_dir, F.count(F.lit(1)).alias("x"))
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("t")
    )
    den = CUSUM_K_DEN
    scaled = daily.crossJoin(F.broadcast(tot)).select(
        "day",
        "x",
        "n",
        "t",
        (den * F.col("n") * F.col("x") - (den + 1) * F.col("t")).alias("zu"),
        (den * F.col("n") * F.col("x") - (den - 1) * F.col("t")).alias("zd"),
    )
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = scaled.select(
        "day",
        "x",
        "n",
        "t",
        F.sum("zu").over(w_cum).alias("cu"),
        F.sum("zd").over(w_cum).alias("cd"),
    )
    stat = cum.select(
        "day",
        "x",
        "n",
        "t",
        (F.col("cu") - F.min("cu").over(w_cum)).alias("su"),
        (F.max("cd").over(w_cum) - F.col("cd")).alias("sd"),
    )
    return stat.select(
        F.col("day").cast("string").alias("day"),
        F.col("x").cast("bigint").alias("n_events"),
        (F.col("su").cast("double") / (den * F.col("n"))).alias("cusum_up"),
        (F.col("sd").cast("double") / (den * F.col("n"))).alias(
            "cusum_down"
        ),
        (F.col("su") > den * F.col("t")).alias("alarm_up"),
        (F.col("sd") > den * F.col("t")).alias("alarm_down"),
    )


# ---------------------------------------------------------------------------
# EWMA smoothing / forecast residuals
# ---------------------------------------------------------------------------

#: EWMA smoothing factor α = 1/2 — chosen DYADIC so every weight
#: (1-α)^k = 2^-k is an exact double and each product x·2^-k is exact
#: (a pure exponent shift); per-term round-6 DECIMAL casts then make
#: the weighted sums order-independent exact decimal arithmetic.
EWMA_ALPHA_DEN = 2


@register(
    "window_ewma_residuals",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, count(*) AS x
        FROM events GROUP BY 1
    ),
    idx AS (
        SELECT day, x,
               row_number() OVER (ORDER BY day) - 1 AS t
        FROM daily
    ),
    pairs AS (
        SELECT a.day, a.x, a.t,
               CAST(round(b.x * pow(0.5, a.t - b.t), 6)
                    AS DECIMAL(18,6)) AS term
        FROM idx a JOIN idx b ON b.t <= a.t
    ),
    sm AS (
        SELECT day, x, t,
               CAST(SUM(term) AS DOUBLE) * 0.5
                   / (1.0 - pow(0.5, t + 1)) AS ewma
        FROM pairs
        GROUP BY day, x, t
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(x AS BIGINT) AS n_events,
           ewma,
           CAST(x AS DOUBLE)
               - lag(ewma) OVER (ORDER BY day) AS forecast_residual
    FROM sm
    """,
    tags=("windowed", "timeseries"),
)
def window_ewma_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bias-corrected EWMA of the daily event series plus one-step
    forecast residuals — the smoothing baseline beside the CUSUM gate
    (CUSUM detects sustained shifts; the EWMA residual scores each
    day's surprise against the exponentially-weighted history, the
    classic anomaly score for seasonal-free series): s_t =
    α·Σ_{i≤t} (1-α)^{t-i}·x_i / (1-(1-α)^{t+1}) with α = 1/2, so every
    weight is an exact power of two, every weighted term rounds to a
    6-decimal DECIMAL before the (order-independent, exact) sum, and
    the two remaining float steps (bias division, residual subtraction)
    are fixed IEEE chains mirrored in the oracle.  The residual uses
    YESTERDAY'S smoothed value — a genuine one-step-ahead forecast
    error, not in-sample smoothing error.

    Scale: the explicit weighted-pairs join is days² on the
    CALENDAR-sized daily table (≤ 900 pairs for a month — volume
    independent); at longer horizons the same statistic truncates to a
    sliding K-day window since 2^-k vanishes past the mantissa (the
    docstring's closed recursion needs a fold; the pair form is the
    relational equivalent both engines express)."""
    daily = _events_daily(spark, sf_dir, F.count(F.lit(1)).alias("x"))
    idx = daily.select(
        "day",
        "x",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
    )
    a = idx.alias("a")
    b = idx.alias("b")
    pairs = a.join(b, F.col("b.t") <= F.col("a.t")).select(
        F.col("a.day").alias("day"),
        F.col("a.x").alias("x"),
        F.col("a.t").alias("t"),
        F.round(
            F.col("b.x") * F.pow(F.lit(0.5), F.col("a.t") - F.col("b.t")),
            6,
        )
        .cast("decimal(18,6)")
        .alias("term"),
    )
    sm = pairs.groupBy("day", "x", "t").agg(
        (
            F.sum("term").cast("double")
            * F.lit(0.5)
            / (F.lit(1.0) - F.pow(F.lit(0.5), F.col("t") + 1))
        ).alias("ewma")
    )
    w_lag = Window.orderBy("day")
    return sm.select(
        F.col("day").cast("string").alias("day"),
        F.col("x").cast("bigint").alias("n_events"),
        "ewma",
        (
            F.col("x").cast("double") - F.lag("ewma").over(w_lag)
        ).alias("forecast_residual"),
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest
# ---------------------------------------------------------------------------

#: Seasonal period of the naive forecaster (one week of daily rows).
SEASONAL_LAG_DAYS = 7


@register(
    "window_seasonal_naive_backtest",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               SUM(CAST(value AS DECIMAL(18,6))) AS x
        FROM events GROUP BY 1, 2
    ),
    lagged AS (
        SELECT *, lag(x, {SEASONAL_LAG_DAYS})
                      OVER (PARTITION BY event_type ORDER BY day) AS f
        FROM daily
    ),
    scored AS (
        SELECT event_type,
               abs(x - f) AS ae,
               CAST(round(2.0 * CAST(abs(x - f) AS DOUBLE)
                          / (CAST(x AS DOUBLE) + CAST(f AS DOUBLE)), 6)
                    AS DECIMAL(18,6)) AS sm
        FROM lagged WHERE f IS NOT NULL
    ),
    d AS (SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1),
    s AS (
        SELECT event_type, count(*) AS n_scored,
               SUM(ae) AS sae, SUM(sm) AS ssm
        FROM scored GROUP BY 1
    )
    SELECT d.event_type,
           CAST(d.n_days AS BIGINT) AS n_days,
           CAST(s.n_scored AS BIGINT) AS n_scored,
           CAST(s.sae AS DOUBLE) / s.n_scored AS mae,
           CAST(s.ssm AS DOUBLE) / s.n_scored AS smape
    FROM d JOIN s USING (event_type)
    """,
    tags=("windowed", "timeseries", "forecast"),
)
def window_seasonal_naive_backtest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal-naive forecast backtest on per-event-type daily revenue
    — the baseline every forecasting pipeline must publish before any
    model earns its keep (if a model can't beat "same day last week",
    ship the lag): forecast f_d = x_{d−7 rows} within each series
    (row-lag over the observed day sequence — identical on both engines
    because the day grid is whatever the data contains), scored by MAE
    and sMAPE over the rows old enough to have a forecast.  Daily
    revenue is an exact decimal sum, so x − f and MAE's numerator stay
    exact; sMAPE's per-row ratio is one double division rounded to 6
    decimals then summed exactly (the engine's iterative-float rule).
    Companion to window_ewma_residuals (level model) — this is the
    seasonal member of the residual-monitor family.

    Scale: one map-side-combined groupBy collapses events to the
    (series × calendar)-sized daily table; the lag window is
    partitioned per series (no global sort), and the scoring aggregate
    is series-sized.  Volume-independent beyond the first scan."""
    daily = _events_daily(spark, sf_dir, by_type=True)
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.withColumn(
        "f", F.lag("x", SEASONAL_LAG_DAYS).over(w)
    )
    scored = lagged.filter(F.col("f").isNotNull()).select(
        "event_type",
        F.abs(F.col("x") - F.col("f")).alias("ae"),
        F.round(
            F.lit(2.0)
            * F.abs(F.col("x") - F.col("f")).cast("double")
            / (F.col("x").cast("double") + F.col("f").cast("double")),
            6,
        )
        .cast("decimal(18,6)")
        .alias("sm"),
    )
    d = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days")
    )
    s = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum("ae").alias("sae"),
        F.sum("sm").alias("ssm"),
    )
    return d.join(s, "event_type").select(
        "event_type",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("n_scored").cast("bigint").alias("n_scored"),
        (F.col("sae").cast("double") / F.col("n_scored")).alias("mae"),
        (F.col("ssm").cast("double") / F.col("n_scored")).alias(
            "smape"
        ),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend
# ---------------------------------------------------------------------------


@register(
    "window_theil_sen_trend",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE)
                   - DATE '1970-01-01' AS d,
               SUM(CAST(value AS DECIMAL(18,6))) AS x
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type,
               CAST((b.x - a.x) AS DOUBLE) / (b.d - a.d) AS slope,
               a.d AS di, b.d AS dj
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.d < b.d
    ),
    ranked AS (
        SELECT event_type, slope,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY slope, di, dj) AS rn,
               count(*) OVER (PARTITION BY event_type) AS m
        FROM pairs
    ),
    med AS (
        SELECT event_type, slope AS ts_slope, m AS n_pairs
        FROM ranked WHERE rn = (m + 1) // 2
    ),
    b0 AS (
        SELECT d.event_type,
               CAST(d.x AS DOUBLE) - med.ts_slope * d.d AS b,
               d.d,
               med.ts_slope, med.n_pairs,
               row_number() OVER (
                   PARTITION BY d.event_type
                   ORDER BY CAST(d.x AS DOUBLE) - med.ts_slope * d.d,
                            d.d) AS rn,
               count(*) OVER (PARTITION BY d.event_type) AS n_days
        FROM daily d JOIN med USING (event_type)
    )
    SELECT event_type,
           CAST(n_days AS BIGINT) AS n_days,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           ts_slope,
           b AS ts_intercept
    FROM b0 WHERE rn = (n_days + 1) // 2
    """,
    tags=("windowed", "timeseries", "robust"),
)
def window_theil_sen_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil-Sen robust trend of per-event-type daily revenue — the
    median of all pairwise slopes (and the median intercept given that
    slope), the estimator that shrugs off the outlier days a
    least-squares fit chases (29.3% breakdown point): every pairwise
    slope is ONE double division of an exact decimal revenue
    difference by an integer day gap (identical operand bits ⇒
    identical quotient bits cross-engine), and both medians use the
    engine's lower-median integer-rank convention with full
    deterministic tiebreaks ((slope, dᵢ, dⱼ) and (intercept, day)), so
    no rounding discipline is needed anywhere.

    Scale: the pair self-join is per-series over the CALENDAR-sized
    daily table — n·(n−1)/2 pairs with n bounded by days, never by
    event volume (365 days ⇒ ≤66 k pairs per series; the rank windows
    are partitioned per series).  For multi-year horizons switch to
    the repeated-median variant (median-of-medians per anchor point,
    same windows, O(n) memory per rank partition)."""
    daily = _events_daily(spark, sf_dir, by_type=True, epoch=True)
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, "event_type").filter(
        F.col("a.d") < F.col("b.d")
    ).select(
        "event_type",
        (
            (F.col("b.x") - F.col("a.x")).cast("double")
            / (F.col("b.d") - F.col("a.d"))
        ).alias("slope"),
        F.col("a.d").alias("di"),
        F.col("b.d").alias("dj"),
    )
    wr = Window.partitionBy("event_type").orderBy("slope", "di", "dj")
    wp = Window.partitionBy("event_type")
    ranked = pairs.select(
        "event_type",
        "slope",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("m"),
    )
    med = ranked.filter(
        F.col("rn") == F.expr("(m + 1) div 2")
    ).select(
        "event_type",
        F.col("slope").alias("ts_slope"),
        F.col("m").alias("n_pairs"),
    )
    joined = daily.join(med, "event_type").withColumn(
        "b", F.col("x").cast("double") - F.col("ts_slope") * F.col("d")
    )
    wb = Window.partitionBy("event_type").orderBy("b", "d")
    b0 = joined.select(
        "event_type",
        "b",
        "ts_slope",
        "n_pairs",
        F.row_number().over(wb).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n_days"),
    )
    return b0.filter(
        F.col("rn") == F.expr("(n_days + 1) div 2")
    ).select(
        "event_type",
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        "ts_slope",
        F.col("b").alias("ts_intercept"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function of the daily series
# ---------------------------------------------------------------------------

#: Maximum lag (in observed-day rows) the ACF op reports.
ACF_MAX_LAG = 7


@register(
    "window_acf_daily_revenue",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE)
                   - DATE '1970-01-01' AS d,
               SUM(CAST(value AS DECIMAL(18,6))) AS x
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT count(*) AS n,
               CAST(SUM(x) AS DOUBLE) / count(*) AS mu
        FROM daily
    ),
    dev AS (
        SELECT d, CAST(x AS DOUBLE) - mu AS e FROM daily, tot
    ),
    den AS (
        SELECT SUM(CAST(round(e * e, 6) AS DECIMAL(18,6))) AS s0
        FROM dev
    ),
    ks AS (
        SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS k
    ),
    num AS (
        SELECT ks.k,
               count(*) AS n_pairs,
               SUM(CAST(round(a.e * b.e, 6) AS DECIMAL(18,6))) AS sk
        FROM ks JOIN dev a ON TRUE JOIN dev b ON b.d = a.d + ks.k
        GROUP BY ks.k
    )
    SELECT CAST(k AS INT) AS lag_k,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(sk AS DOUBLE) / CAST(s0 AS DOUBLE) AS acf
    FROM num, den
    """,
    tags=("windowed", "timeseries", "statistics"),
)
def window_acf_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sample autocorrelation of total daily revenue at lags 1..7 —
    the diagnostic that tells a pipeline whether its daily series has
    weekly structure worth a seasonal model (ACF(7) spikes), carryover
    (ACF(1) high), or is white noise (all lags ≈ 0; the companion
    seasonal-naive backtest then can't be beaten): standard
    ρ̂(k) = Σ(x_t−μ̂)(x_{t+k}−μ̂) / Σ(x_t−μ̂)², μ̂ from the exact
    decimal revenue sum, every cross-product rounded to 6 decimals and
    summed exactly.  Lags realized as a 1..7 key frame joined to the
    day-indexed deviations (b.d = a.d + k) — one join produces ALL
    lags instead of 7 window passes, and missing calendar days simply
    contribute no pair.

    Scale: events collapse to the calendar-sized daily table in one
    map-side-combined pass; the lag join is days × 7 rows.  At 100 TB
    with per-key series, partition the deviation table by series key
    and the same join computes every series' ACF in one shuffle."""
    dev = _demeaned(_events_daily(spark, sf_dir, epoch=True), e="x")
    den = dev.agg(
        F.sum(
            F.round(F.col("e") * F.col("e"), 6).cast("decimal(18,6)")
        ).alias("s0")
    )
    num = _lag_sums(
        dev, range(1, ACF_MAX_LAG + 1), "e", "e", "decimal(18,6)"
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("k").cast("int").alias("lag_k"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        (F.col("sk").cast("double") / F.col("s0").cast("double")).alias(
            "acf"
        ),
    )


# ---------------------------------------------------------------------------
# Rolling z-score anomaly days
# ---------------------------------------------------------------------------

#: Trailing window length (rows/days) behind the scored day.
ROLLZ_WIN = 7
#: |z| threshold that flags a day as anomalous.
ROLLZ_THRESHOLD = 2.0


@register(
    "window_rolling_zscore_anomalies",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               SUM(CAST(value AS DECIMAL(18,6))) AS x
        FROM events GROUP BY 1
    ),
    rolled AS (
        SELECT day, x,
               SUM(x) OVER w AS sx,
               -- DECIMAL(19,6) operands force DuckDB's INT128 path so
               -- the product cannot overflow INT64 (micro-units of a
               -- daily total squared exceed 2^63 from ~3e3 units up)
               SUM(CAST(x AS DECIMAL(19,6))
                   * CAST(x AS DECIMAL(19,6))) OVER w AS sxx,
               COUNT(*) OVER w AS cnt
        FROM daily
        WINDOW w AS (ORDER BY day
                     ROWS BETWEEN {ROLLZ_WIN} PRECEDING
                     AND 1 PRECEDING)
    ),
    scored AS (
        SELECT day, x, sx, sxx,
               CAST(sx AS DOUBLE) / {ROLLZ_WIN} AS m,
               sqrt((CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                           / {ROLLZ_WIN})
                    / {ROLLZ_WIN - 1}) AS s
        FROM rolled WHERE cnt = {ROLLZ_WIN}
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(x AS DOUBLE) AS revenue,
           m AS roll_mean,
           s AS roll_std,
           (CAST(x AS DOUBLE) - m) / s AS z,
           abs((CAST(x AS DOUBLE) - m) / s) > {ROLLZ_THRESHOLD}
               AS anomaly
    FROM scored
    """,
    tags=("windowed", "timeseries", "anomaly"),
)
def window_rolling_zscore_anomalies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rolling z-score anomaly detection on daily revenue — each day
    scored against the TRAILING {ROLLZ_WIN}-day window that excludes
    it (including the scored day in its own baseline masks the very
    spike being hunted), flagged at |z| > {ROLLZ_THRESHOLD}; the
    day-over-day member of the anomaly family beside CUSUM (sustained
    shifts) and MAD (whole-corpus outliers).  Daily revenue is an
    exact decimal sum, the window's Σx and Σx² stay exact decimals
    (x·x carries 12 exact fraction digits), and mean/std/z are final
    IEEE arithmetic on those exact sums — bit-identical cross-engine
    with no per-term rounding at all.  Days without a full trailing
    window are not scored (cnt = {ROLLZ_WIN} gate) — a partial
    baseline understates σ and over-alarms.

    Scale: one map-side-combined groupBy(day) collapses events to the
    calendar-sized series; the window runs over DAYS.  At 100 TB the
    same statement monitors per-(key, day) series with the window
    partitioned by key."""
    daily = _events_daily(spark, sf_dir)
    w = (
        Window.orderBy("day").rowsBetween(-ROLLZ_WIN, -1)
    )
    rolled = daily.select(
        "day",
        "x",
        F.sum("x").over(w).alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.count(F.lit(1)).over(w).alias("cnt"),
    ).filter(F.col("cnt") == ROLLZ_WIN)
    m = F.col("sx").cast("double") / F.lit(ROLLZ_WIN)
    s = F.sqrt(
        (
            F.col("sxx").cast("double")
            - F.col("sx").cast("double")
            * F.col("sx").cast("double")
            / F.lit(ROLLZ_WIN)
        )
        / F.lit(ROLLZ_WIN - 1)
    )
    scored = rolled.select(
        "day",
        "x",
        m.alias("m"),
        s.alias("s"),
    )
    z = (F.col("x").cast("double") - F.col("m")) / F.col("s")
    return scored.select(
        F.col("day").cast("string").alias("day"),
        F.col("x").cast("double").alias("revenue"),
        F.col("m").alias("roll_mean"),
        F.col("s").alias("roll_std"),
        z.alias("z"),
        (F.abs(z) > F.lit(ROLLZ_THRESHOLD)).alias("anomaly"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier retention curve
# ---------------------------------------------------------------------------


@register(
    "window_kaplan_meier_retention",
    oracle="""
    WITH by_user AS (
        SELECT user_id,
               min(CAST(date_trunc('day', ts) AS DATE)) AS d0,
               max(CAST(date_trunc('day', ts) AS DATE)) AS d1
        FROM events GROUP BY 1
    ),
    horizon AS (SELECT max(d1) AS h FROM by_user),
    life AS (
        SELECT user_id, d1 - d0 AS t,
               CASE WHEN d1 = h.h THEN 1 ELSE 0 END AS censored
        FROM by_user, horizon h
    ),
    n_tot AS (SELECT count(*) AS n FROM life),
    steps AS (
        SELECT t, SUM(1 - censored) AS d, SUM(censored) AS c
        FROM life GROUP BY t
    ),
    risk AS (
        SELECT t, d, c,
               n_tot.n - (SUM(d + c) OVER (ORDER BY t) - (d + c))
                   AS n_at_risk
        FROM steps, n_tot
    )
    SELECT CAST(t AS INT) AS t_days,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS d_events,
           CAST(c AS BIGINT) AS c_censored,
           CAST(n_at_risk - d AS DOUBLE) / n_at_risk AS factor,
           CAST(SUM(CAST(round(
                    ln(CAST(n_at_risk - d AS DOUBLE) / n_at_risk), 6)
                AS DECIMAL(18,6))) OVER (ORDER BY t) AS DOUBLE)
               AS log_survival
    FROM risk WHERE d > 0 AND d < n_at_risk
    """,
    tags=("windowed", "survival", "statistics"),
)
def window_kaplan_meier_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan-Meier retention curve over user lifetimes (first to last
    active day; users still active on the horizon's final day are
    right-CENSORED — the estimator's whole point is not treating them
    as churned): at each event time t, n_at_risk falls out of one
    cumulative window over the step table (N minus departures before
    t), the hazard factor is the exact-integer ratio (n−d)/n, and the
    curve is reported in LOG space — cumulative exact-decimal sum of
    round-6 ln factors (the engine's iterative-float rule) — because
    Spark has no product aggregate and exp() is the one libm call
    whose cross-engine last-ulp is not worth risking; S(t) = e^x is
    the caller's one-liner.  Steps where the whole risk set would be
    absorbed (d = n_at_risk, ln 0) are excluded on both engines.

    Scale: one groupBy(user) pass to lifetimes (map-side combined),
    then everything runs on the step table — bounded by the horizon
    calendar, never by event volume.  At 100 TB per-cohort curves
    partition every window by cohort key (window_km_retention_by_cohort
    is exactly that — same km_curve kernel, cohort-partitioned)."""
    life = _user_lifetimes(spark, sf_dir)
    return km_curve(life).select(
        F.col("t").cast("int").alias("t_days"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("d_events"),
        F.col("c").cast("bigint").alias("c_censored"),
        F.col("factor"),
        F.col("log_survival"),
    )


def risk_table(life: DataFrame, part=None) -> DataFrame:
    """Shared survival risk-set kernel: given per-subject lifetimes
    (columns ``part``*, ``t`` duration, ``censored`` 0/1), return the
    per-partition step table (t, d deaths, c censored, n_at_risk) —
    at-risk counts from ONE cumulative window over the step table
    (total departures minus departures strictly before t).  The base
    under the Kaplan-Meier curves (``km_curve``), the Nelson-Aalen
    hazard, and the log-rank test (reuse guard-tested)."""
    part = list(part or [])
    steps = life.groupBy(*part, "t").agg(
        F.sum(F.lit(1) - F.col("censored")).alias("d"),
        F.sum("censored").alias("c"),
    )
    wcum = (
        Window.partitionBy(*part)
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*part)
    return steps.select(
        *part,
        "t",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(wall)
            - (
                F.sum(F.col("d") + F.col("c")).over(wcum)
                - (F.col("d") + F.col("c"))
            )
        ).alias("n_at_risk"),
    )


def km_curve(life: DataFrame, part=None) -> DataFrame:
    """Shared Kaplan-Meier kernel: given per-subject lifetimes
    (columns ``part``*, ``t`` duration, ``censored`` 0/1), return the
    per-partition step table (t, d, c, n_at_risk, factor,
    log_survival) — at-risk counts from the shared ``risk_table``
    kernel, exact-integer hazard factors, curve in LOG space
    (round-6 decimal ln sums).  Absorbed steps (d = n_at_risk)
    excluded.  Shared by the global retention curve and the per-cohort
    variant (kernel reuse guard-tested)."""
    part = list(part or [])
    risk = risk_table(life, part)
    kept = risk.filter(
        (F.col("d") > 0) & (F.col("d") < F.col("n_at_risk"))
    )
    factor = (
        F.col("n_at_risk") - F.col("d")
    ).cast("double") / F.col("n_at_risk")
    wlog = (
        Window.partitionBy(*part)
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return kept.select(
        *part,
        "t",
        "d",
        "c",
        "n_at_risk",
        factor.alias("factor"),
        F.sum(
            F.round(F.log(factor), 6).cast("decimal(18,6)")
        )
        .over(wlog)
        .cast("double")
        .alias("log_survival"),
    )


# ---------------------------------------------------------------------------
# Lorenz concentration curve
# ---------------------------------------------------------------------------

#: Number of Lorenz curve points (deciles).
LORENZ_BUCKETS = 10


@register(
    "window_lorenz_curve_customers",
    oracle=f"""
    WITH rev AS (
        SELECT c.c_custkey,
               COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))),
                        CAST(0 AS DECIMAL(18,6))) AS r
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
    ),
    tiled AS (
        SELECT r, ntile({LORENZ_BUCKETS})
                      OVER (ORDER BY r, c_custkey) AS decile
        FROM rev
    ),
    agg AS (
        SELECT decile, count(*) AS n_customers, SUM(r) AS dr
        FROM tiled GROUP BY decile
    )
    SELECT CAST(decile AS INT) AS decile,
           CAST(n_customers AS BIGINT) AS n_customers,
           CAST(dr AS DOUBLE) AS revenue,
           CAST(dr AS DOUBLE) / CAST(SUM(dr) OVER () AS DOUBLE)
               AS share,
           CAST(SUM(dr) OVER (ORDER BY decile) AS DOUBLE)
               / CAST(SUM(dr) OVER () AS DOUBLE) AS cum_share
    FROM agg
    """,
    tags=("windowed", "statistics", "concentration"),
)
def window_lorenz_curve_customers(
    spark: SparkSession, sf_dir: str, frontier: str = "exact"
) -> DataFrame:
    """Lorenz concentration curve of order revenue across customers —
    the 10-point curve behind the Gini scalar (quality_key_skew_gini
    reports the number; downstream capacity planning wants the SHAPE:
    "the top decile carries 23% of revenue" is this table's last row),
    zero-order customers INCLUDED via the left join (excluding them
    understates concentration — the classic Lorenz mistake): exact
    decimal revenue per customer, ntile deciles over the (revenue,
    custkey) total order — both engines share the first-⌈n/k⌉-groups-
    get-the-remainder ntile convention, and the tiebreak makes the
    assignment deterministic — then exact decimal decile sums with the
    two share divisions the only IEEE steps.

    Scale: the ntile needs a total order over customers — at test SF
    the exact single-range sort is the checked (oracle) form;
    ``frontier="approx"`` is the IMPLEMENTED billion-customer path:
    nine percentile_approx decile edges (operators.frontier.
    quantile_cuts — GK sketch, map-side built + merged, NO total
    sort), broadcast onto the per-customer revenue table, decile =
    first edge ≥ r.  Identical output shape and the same downstream
    decile aggregate; an assignment can differ from the exact rank
    form only for customers whose revenue EQUALS a decile edge (value
    semantics keep ties together; ntile splits them by custkey) —
    agreement pinned in tests/test_frontier.py.  Revenue aggregation
    itself is one map-side-combined groupBy either way."""
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", dec("o_totalprice").alias("p")
    )
    rev = (
        cust.join(
            orders, cust["c_custkey"] == orders["o_custkey"], "left"
        )
        .groupBy("c_custkey")
        .agg(
            F.coalesce(
                F.sum("p"), F.lit(0).cast("decimal(18,6)")
            ).alias("r")
        )
    )
    if frontier == "approx":
        from kafka_stream_processing_spark.operators.frontier import (
            quantile_cuts,
        )

        edges = quantile_cuts(
            rev,
            "r",
            [(i, LORENZ_BUCKETS) for i in range(1, LORENZ_BUCKETS)],
            mode="approx",
        )
        assign = None
        for i in range(LORENZ_BUCKETS - 1):
            cond = F.col("r") <= F.col(f"cut_{i}")
            assign = (
                F.when(cond, i + 1)
                if assign is None
                else assign.when(cond, i + 1)
            )
        tiled = rev.crossJoin(F.broadcast(edges)).select(
            "r", assign.otherwise(LORENZ_BUCKETS).alias("decile")
        )
    elif frontier == "exact":
        wt = Window.orderBy("r", "c_custkey")
        tiled = rev.select(
            "r", F.ntile(LORENZ_BUCKETS).over(wt).alias("decile")
        )
    else:
        raise ValueError(f"unknown frontier mode {frontier!r}")
    agg = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum("r").alias("dr"),
    )
    wall = Window.partitionBy()
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return agg.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.col("dr").cast("double").alias("revenue"),
        (
            F.col("dr").cast("double")
            / F.sum("dr").over(wall).cast("double")
        ).alias("share"),
        (
            F.sum("dr").over(wcum).cast("double")
            / F.sum("dr").over(wall).cast("double")
        ).alias("cum_share"),
    )


# ---------------------------------------------------------------------------
# Event debouncing
# ---------------------------------------------------------------------------

#: Events closer than this to the previous KEPT-OR-NOT event of the
#: same (user, type) stream are debounce-dropped.
DEBOUNCE_SECONDS = 5


@register(
    "window_debounce_events",
    oracle=f"""
    WITH seq AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id, event_type
                         ORDER BY ts, event_id) AS gap_us
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(SUM(CASE WHEN gap_us IS NULL
                          OR gap_us > {DEBOUNCE_SECONDS} * 1000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN gap_us IS NOT NULL
                          AND gap_us <= {DEBOUNCE_SECONDS} * 1000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM seq GROUP BY event_type
    """,
    tags=("windowed", "dedup", "sessionization"),
)
def window_debounce_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Debounce audit: per event type, how many events arrive within
    {DEBOUNCE_SECONDS} s of the PREVIOUS event in the same
    (user, type) stream — double-clicks, retry storms, and bot bursts
    that an ingestion pipeline should collapse before they pollute
    counts (the batch twin of stream_dedup_at_least_once's semantic:
    that op dedups identity, this one dedups proximity).  Gap
    arithmetic runs on exact epoch MICROSECONDS (integer lag
    difference; the (ts, event_id) order key is the engine's standard
    deterministic tiebreak), so the keep/drop verdict is an integer
    compare on both engines.

    Scale: one lag window partitioned by (user, type) — the shuffle is
    the same user-key shuffle every sessionization op pays; the output
    aggregate is map-side combined.  No global sort anywhere."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    us = F.unix_micros("ts")
    seq = ev.select(
        "event_type",
        (us - F.lag(us).over(w)).alias("gap_us"),
    )
    lim = DEBOUNCE_SECONDS * 1_000_000
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(
            F.when(
                F.col("gap_us").isNull() | (F.col("gap_us") > lim),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("n_kept"),
        F.sum(
            F.when(
                F.col("gap_us").isNotNull() & (F.col("gap_us") <= lim),
                F.lit(1),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test
# ---------------------------------------------------------------------------


@register(
    "window_mann_kendall_trend",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE)
                   - DATE '1970-01-01' AS d,
               SUM(CAST(value AS DECIMAL(18,6))) AS x
        FROM events GROUP BY 1, 2
    ),
    pairs AS (
        SELECT a.event_type,
               CASE WHEN b.x > a.x THEN 1
                    WHEN b.x < a.x THEN -1 ELSE 0 END AS sg
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.d < b.d
    ),
    s_stat AS (
        SELECT event_type, CAST(SUM(sg) AS BIGINT) AS s
        FROM pairs GROUP BY event_type
    ),
    nn AS (
        SELECT event_type, count(*) AS n FROM daily GROUP BY 1
    ),
    tie_groups AS (
        SELECT event_type, x, count(*) AS t
        FROM daily GROUP BY 1, 2 HAVING count(*) > 1
    ),
    ties AS (
        SELECT n.event_type,
               COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS ts
        FROM nn n LEFT JOIN tie_groups g USING (event_type)
        GROUP BY n.event_type
    ),
    var_t AS (
        SELECT n.event_type, n.n, s.s,
               CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.ts AS DOUBLE)
                   / 18.0 AS var_s
        FROM nn n JOIN s_stat s USING (event_type)
        JOIN ties t USING (event_type)
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           s AS s_stat,
           var_s,
           CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                ELSE 0.0 END AS z_stat,
           abs(CASE WHEN s > 0 THEN (s - 1) / sqrt(var_s)
                    WHEN s < 0 THEN (s + 1) / sqrt(var_s)
                    ELSE 0.0 END) > {1.959963984540054} AS trend_005
    FROM var_t
    """,
    tags=("windowed", "timeseries", "statistics"),
)
def window_mann_kendall_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mann-Kendall monotone-trend test on per-event-type daily
    revenue — the hypothesis-test half of the classic nonparametric
    trend duo (Theil-Sen estimates HOW steep; Mann-Kendall says
    WHETHER the monotone trend is significant, immune to the outliers
    and non-normality that invalidate a regression t-test): S is the
    exact integer sum of pairwise sign comparisons over the SAME
    per-series pair join the Theil-Sen op uses (exact decimal
    revenues ⇒ exact sign), Var(S) carries the standard tie
    correction Σt(t−1)(2t+5) from the value-tie groups (all integer),
    and the continuity-corrected z = (S∓1)/√Var is the only IEEE
    step — bit-identical cross-engine.

    Scale: identical to Theil-Sen — calendar-bounded pairs per series
    (≤ days²/2), map-side-combined aggregates, no global sort.  The
    two ops share one scan shape; run both in one pass at 100 TB by
    caching the daily table."""
    from kafka_stream_processing_spark.operators.quality_kernel import (
        Z_CRIT_005,
    )

    daily = _events_daily(spark, sf_dir, by_type=True, epoch=True)
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, "event_type").filter(
        F.col("a.d") < F.col("b.d")
    ).select(
        "event_type",
        F.when(F.col("b.x") > F.col("a.x"), F.lit(1))
        .when(F.col("b.x") < F.col("a.x"), F.lit(-1))
        .otherwise(F.lit(0))
        .alias("sg"),
    )
    s_stat = pairs.groupBy("event_type").agg(
        F.sum("sg").cast("bigint").alias("s")
    )
    nn = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    tie_groups = (
        daily.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
    )
    ties = (
        nn.join(tie_groups, "event_type", "left")
        .groupBy("event_type")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t")
                    * (F.col("t") - 1)
                    * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).alias("ts")
        )
    )
    var_t = (
        nn.join(s_stat, "event_type")
        .join(ties, "event_type")
        .select(
            "event_type",
            "n",
            "s",
            (
                (
                    F.col("n")
                    * (F.col("n") - 1)
                    * (2 * F.col("n") + 5)
                    - F.col("ts")
                ).cast("double")
                / F.lit(18.0)
            ).alias("var_s"),
        )
    )
    z = (
        F.when(
            F.col("s") > 0,
            (F.col("s") - 1) / F.sqrt(F.col("var_s")),
        )
        .when(
            F.col("s") < 0,
            (F.col("s") + 1) / F.sqrt(F.col("var_s")),
        )
        .otherwise(F.lit(0.0))
    )
    return var_t.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        F.col("s").alias("s_stat"),
        "var_s",
        z.alias("z_stat"),
        (F.abs(z) > F.lit(Z_CRIT_005)).alias("trend_005"),
    )


@register(
    "window_km_retention_by_cohort",
    oracle="""
    WITH by_user AS (
        SELECT user_id,
               min(CAST(date_trunc('day', ts) AS DATE)) AS d0,
               max(CAST(date_trunc('day', ts) AS DATE)) AS d1
        FROM events GROUP BY 1
    ),
    horizon AS (SELECT max(d1) AS h FROM by_user),
    life AS (
        SELECT CAST(date_trunc('week', d0) AS VARCHAR) AS cohort,
               d1 - d0 AS t,
               CASE WHEN d1 = h.h THEN 1 ELSE 0 END AS censored
        FROM by_user, horizon h
    ),
    steps AS (
        SELECT cohort, t, SUM(1 - censored) AS d, SUM(censored) AS c
        FROM life GROUP BY 1, 2
    ),
    risk AS (
        SELECT cohort, t, d, c,
               SUM(d + c) OVER (PARTITION BY cohort)
                 - (SUM(d + c) OVER (PARTITION BY cohort ORDER BY t)
                    - (d + c)) AS n_at_risk
        FROM steps
    )
    SELECT cohort,
           CAST(t AS INT) AS t_days,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS d_events,
           CAST(c AS BIGINT) AS c_censored,
           CAST(n_at_risk - d AS DOUBLE) / n_at_risk AS factor,
           CAST(SUM(CAST(round(
                    ln(CAST(n_at_risk - d AS DOUBLE) / n_at_risk), 6)
                AS DECIMAL(18,6)))
                OVER (PARTITION BY cohort ORDER BY t) AS DOUBLE)
               AS log_survival
    FROM risk WHERE d > 0 AND d < n_at_risk
    """,
    tags=("windowed", "survival", "statistics"),
)
def window_km_retention_by_cohort(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-cohort Kaplan-Meier retention — the comparison that makes a
    survival curve actionable (a global curve can't answer "did the
    signup-week-N product change move retention?"; cohort curves side
    by side can): users are cohorted by the ISO week of their first
    activity, and each cohort gets its own KM curve through the SAME
    km_curve kernel, partitioned by cohort (kernel reuse
    guard-tested) — at-risk totals, cumulative departures, and the
    round-6 decimal log-survival sums all run per cohort in the same
    window pass.  Right-censoring at the global horizon, absorbed
    steps excluded per cohort, identical conventions to the global
    curve.

    Scale: one groupBy(user) pass, then everything runs on the
    (cohorts × horizon)-sized step table; every window carries the
    cohort partition key, so cohorts parallelize — exactly the
    docstring promise of the global op made code."""
    life = _user_lifetimes(
        spark,
        sf_dir,
        F.date_trunc("week", "d0").cast("date").cast("string").alias(
            "cohort"
        ),
    )
    return km_curve(life, part=["cohort"]).select(
        "cohort",
        F.col("t").cast("int").alias("t_days"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("d_events"),
        F.col("c").cast("bigint").alias("c_censored"),
        "factor",
        "log_survival",
    )


# ---------------------------------------------------------------------------
# Holt linear (double exponential) smoothing
# ---------------------------------------------------------------------------


def _holt_fold(pdf):
    """Per-series Holt fold (α = β = 1/2), sequential by construction —
    runs inside applyInPandas, one series per task.  Rounding is the
    C-style half-away-from-zero at 6 decimals (value·10⁶ → round →
    /10⁶), matching DuckDB's round() which the oracle recursion uses —
    NOT python's round() (banker's) and not Spark's BigDecimal HALF_UP
    (never evaluated here: all engine-side arithmetic for this op
    happens in THIS fold)."""
    import pandas as pd

    pdf = pdf.sort_values("i").reset_index(drop=True)
    if len(pdf) < 2:
        return pd.DataFrame(
            columns=[
                "event_type",
                "day",
                "idx",
                "revenue",
                "level",
                "trend",
                "forecast",
                "residual",
            ]
        )
    xs = list(pdf["x"])
    out = []
    l_prev = xs[0]
    b_prev = xs[1] - xs[0]
    out.append((1, xs[0], l_prev, b_prev, None, None))
    for t in range(2, len(xs) + 1):
        x = xs[t - 1]
        f = l_prev + b_prev
        l_new = _r6(0.5 * x + 0.5 * (l_prev + b_prev))
        b_new = _r6(0.5 * (l_new - l_prev) + 0.5 * b_prev)
        out.append((t, x, l_new, b_new, f, x - f))
        l_prev, b_prev = l_new, b_new
    res = pd.DataFrame(
        out,
        columns=[
            "idx",
            "revenue",
            "level",
            "trend",
            "forecast",
            "residual",
        ],
    )
    res.insert(0, "day", list(pdf["day"]))
    res.insert(0, "event_type", pdf["event_type"].iloc[0])
    return res


@register(
    "window_holt_linear_smoothing",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT event_type, day, x,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY day) AS i
        FROM daily
    ),
    rec(event_type, i, l, b) AS (
        SELECT i1.event_type, 1, i1.x, i2.x - i1.x
        FROM idx i1 JOIN idx i2
          ON i2.event_type = i1.event_type AND i2.i = 2
        WHERE i1.i = 1
        UNION ALL
        SELECT r.event_type, r.i + 1,
               round(0.5 * d.x + 0.5 * (r.l + r.b), 6),
               round(0.5 * (round(0.5 * d.x + 0.5 * (r.l + r.b), 6)
                            - r.l)
                     + 0.5 * r.b, 6)
        FROM rec r JOIN idx d
          ON d.event_type = r.event_type AND d.i = r.i + 1
    )
    SELECT r.event_type,
           CAST(d.day AS VARCHAR) AS day,
           CAST(r.i AS BIGINT) AS idx,
           d.x AS revenue,
           r.l AS level,
           r.b AS trend,
           CASE WHEN r.i = 1 THEN NULL ELSE p.l + p.b END AS forecast,
           CASE WHEN r.i = 1 THEN NULL
                ELSE d.x - (p.l + p.b) END AS residual
    FROM rec r
    JOIN idx d ON d.event_type = r.event_type AND d.i = r.i
    LEFT JOIN rec p
      ON p.event_type = r.event_type AND p.i = r.i - 1
    """,
    tags=("windowed", "timeseries", "forecast", "stateful"),
)
def window_holt_linear_smoothing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holt linear (double exponential) smoothing of per-event-type
    daily revenue, α = β = ½ — the TREND-aware member of the smoothing
    family (EWMA tracks level only and lags any trending series by
    construction; Holt's coupled level+trend recursion doesn't), and
    deliberately the engine's showcase of a GENUINELY SEQUENTIAL
    algorithm done Spark-first: the coupled recursion has no window
    closed form (unlike CUSUM's cumsum-minus-running-min or EWMA's
    dyadic weights — the 2×2 iteration matrix has irrational
    eigenvalues, so no finite exact convolution), so it runs as ONE
    applyInPandas fold PER SERIES — series parallelize across tasks,
    the fold is linear in the calendar, and per-step round-6
    (half-away, matching DuckDB's round — see _holt_fold) keeps the
    trajectory bit-identical cross-engine.  The DuckDB oracle is the
    same recursion as a state-carrying RECURSIVE CTE — the first
    oracle in the registry to thread mutable state through recursion
    rather than unrolling fixed iterations (contrast PageRank's
    chained CTEs).  Initialization: l₁ = x₁, b₁ = x₂ − x₁ (the
    classic two-point start); one-step forecasts f_t = l_{t−1} +
    b_{t−1} with residuals from t = 2.

    Scale: one map-side-combined groupBy to the (series × calendar)
    table; the fold is O(days) per series with O(1) state, grouped by
    series key — a million series parallelize perfectly; a series
    never outgrows its calendar."""
    idx = _events_daily(
        spark, sf_dir, dec_sum("value", "x"), by_type=True, index=True
    ).withColumn("day", F.col("day").cast("string"))
    return idx.groupBy("event_type").applyInPandas(
        _holt_fold,
        schema=(
            "event_type string, day string, idx bigint, "
            "revenue double, level double, trend double, "
            "forecast double, residual double"
        ),
    )


# ---------------------------------------------------------------------------
# Classical additive decomposition
# ---------------------------------------------------------------------------

#: Seasonal period of the decomposition (weekly cycle on daily data).
DECOMP_PERIOD = 7


@register(
    "window_classical_decomposition",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               SUM(CAST(value AS DECIMAL(18,6))) AS x
        FROM events GROUP BY 1
    ),
    ma AS (
        SELECT day, x,
               CASE WHEN COUNT(*) OVER w = {DECOMP_PERIOD}
                    THEN CAST(SUM(x) OVER w AS DOUBLE) / {DECOMP_PERIOD}
               END AS trend,
               dayofweek(day) AS dow
        FROM daily
        WINDOW w AS (ORDER BY day
                     ROWS BETWEEN {DECOMP_PERIOD // 2} PRECEDING
                     AND {DECOMP_PERIOD // 2} FOLLOWING)
    ),
    det AS (
        SELECT day, x, trend, dow,
               CAST(x AS DOUBLE) - trend AS d
        FROM ma WHERE trend IS NOT NULL
    ),
    seas AS (
        SELECT dow,
               CAST(SUM(CAST(round(d, 6) AS DECIMAL(18,6)))
                    AS DOUBLE) / COUNT(*) AS s
        FROM det GROUP BY dow
    ),
    comp AS (
        SELECT det.day, det.x, det.trend, seas.s AS seasonal,
               det.d - seas.s AS remainder
        FROM det JOIN seas ON seas.dow = det.dow
    ),
    var_t AS (
        -- DECIMAL(38,6): squared CALENDAR-scale daily totals overflow
        -- (18,6) from ~1e6/day up (the 10x probe caught it)
        SELECT
            CAST(SUM(CAST(round(remainder * remainder, 6)
                 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS vr,
            CAST(SUM(CAST(round((seasonal + remainder)
                                * (seasonal + remainder), 6)
                 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS vsr,
            CAST(SUM(CAST(round((trend + remainder)
                                * (trend + remainder), 6)
                 AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS vtr
        FROM comp
    )
    SELECT CAST(c.day AS VARCHAR) AS day,
           CAST(c.x AS DOUBLE) AS revenue,
           c.trend, c.seasonal, c.remainder,
           greatest(0.0, 1.0 - v.vr / v.vsr) AS seasonal_strength,
           greatest(0.0, 1.0 - v.vr / v.vtr) AS trend_strength
    FROM comp c, var_t v
    """,
    tags=("windowed", "timeseries", "decomposition"),
)
def window_classical_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical additive decomposition of daily revenue —
    x = trend + seasonal + remainder with a centered {DECOMP_PERIOD}-MA
    trend (full-window days only), per-weekday seasonal means of the
    detrended series, and Hyndman's strength-of-component readouts
    F_s = max(0, 1 − Var(R)/Var(S+R)) and F_t = max(0, 1 −
    Var(R)/Var(T+R)) — the numbers that tell a pipeline whether the
    seasonal-naive baseline (strong F_s) or the trend model (strong
    F_t) is the one worth running.  Second moments use raw (not
    mean-centered) averages in BOTH strengths — consistent across the
    ratio, and every squared term is rounded to 6 decimals then summed
    as exact decimals (the engine's discipline), so all components and
    both strengths are bit-stable cross-engine.

    Scale: the daily collapse is one map-side-combined groupBy; the MA
    window, weekday means, and variance aggregates all run over
    CALENDAR-sized tables.  Per-key decompositions partition every
    window by key."""
    daily = _events_daily(spark, sf_dir)
    half = DECOMP_PERIOD // 2
    w = Window.orderBy("day").rowsBetween(-half, half)
    ma = daily.select(
        "day",
        "x",
        F.when(
            F.count(F.lit(1)).over(w) == DECOMP_PERIOD,
            F.sum("x").over(w).cast("double") / DECOMP_PERIOD,
        ).alias("trend"),
        F.dayofweek("day").alias("dow"),
    )
    det = ma.filter(F.col("trend").isNotNull()).select(
        "day",
        "x",
        "trend",
        "dow",
        (F.col("x").cast("double") - F.col("trend")).alias("d"),
    )
    seas = det.groupBy("dow").agg(
        (
            F.sum(F.round(F.col("d"), 6).cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("s")
    )
    comp = det.join(seas, "dow").select(
        "day",
        "x",
        "trend",
        F.col("s").alias("seasonal"),
        (F.col("d") - F.col("s")).alias("remainder"),
    ).localCheckpoint(eager=True)

    def mean_of(col, alias):
        # decimal(38,6): squared calendar-scale totals overflow (18,6)
        return (
            F.sum(F.round(col, 6).cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias(alias)

    var_t = comp.agg(
        mean_of(F.col("remainder") * F.col("remainder"), "vr"),
        mean_of(
            (F.col("seasonal") + F.col("remainder"))
            * (F.col("seasonal") + F.col("remainder")),
            "vsr",
        ),
        mean_of(
            (F.col("trend") + F.col("remainder"))
            * (F.col("trend") + F.col("remainder")),
            "vtr",
        ),
    )
    return comp.crossJoin(F.broadcast(var_t)).select(
        F.col("day").cast("string").alias("day"),
        F.col("x").cast("double").alias("revenue"),
        "trend",
        "seasonal",
        "remainder",
        F.greatest(
            F.lit(0.0), F.lit(1.0) - F.col("vr") / F.col("vsr")
        ).alias("seasonal_strength"),
        F.greatest(
            F.lit(0.0), F.lit(1.0) - F.col("vr") / F.col("vtr")
        ).alias("trend_strength"),
    )


# ---------------------------------------------------------------------------
# Holt-Winters additive (triple exponential) smoothing
# ---------------------------------------------------------------------------

#: Seasonal period of the Holt-Winters recursion (weekly on daily data).
HW_PERIOD = 7


def _holt_winters_fold(pdf):
    """Per-series Holt-Winters additive fold (alpha = beta = gamma = 1/2)
    inside applyInPandas — the seasonal extension of _holt_fold, with
    the same C-style half-away round-6 per step so the trajectory is
    bit-identical to the oracle's list-state recursive CTE.  The
    seasonal state is the last HW_PERIOD seasonal values, shifted one
    slot per step (the oracle mirrors it as a LIST column threaded
    through recursion).  Initialization is the classic two-cycle
    start: l_m = mean(x_1..m) (round-6), b_m = (mean(x_{m+1..2m}) −
    mean(x_1..m))/m (round-6), s_i = x_i − mean(x_1..m) (round-6);
    means are exact micro-unit integer sums divided once in double —
    the same value DuckDB gets casting an exact DECIMAL(18,6) sum to
    DOUBLE before its single division.  Series shorter than 2m emit
    nothing (the oracle's HAVING mirrors it)."""
    import pandas as pd

    m = HW_PERIOD

    cols = [
        "event_type",
        "day",
        "idx",
        "revenue",
        "level",
        "trend",
        "seasonal",
        "forecast",
        "residual",
    ]
    pdf = pdf.sort_values("i").reset_index(drop=True)
    if len(pdf) < 2 * m:
        return pd.DataFrame(columns=cols)
    xs = list(pdf["x"])
    micro = [int(math.floor(abs(x) * 1e6 + 0.5)) * (1 if x >= 0 else -1) for x in xs]
    m1 = (sum(micro[:m]) / 1e6) / m
    m2 = (sum(micro[m : 2 * m]) / 1e6) / m
    l_prev = _r6(m1)
    b_prev = _r6((m2 - m1) / m)
    s = [_r6(xs[i] - m1) for i in range(m)]
    out = [(m, xs[m - 1], l_prev, b_prev, s[m - 1], None, None)]
    for t in range(m + 1, len(xs) + 1):
        x = xs[t - 1]
        s_use = s[0]
        f = l_prev + b_prev + s_use
        l_new = _r6(0.5 * (x - s_use) + 0.5 * (l_prev + b_prev))
        b_new = _r6(0.5 * (l_new - l_prev) + 0.5 * b_prev)
        s_new = _r6(0.5 * (x - l_new) + 0.5 * s_use)
        out.append((t, x, l_new, b_new, s_new, f, x - f))
        l_prev, b_prev = l_new, b_new
        s = s[1:] + [s_new]
    res = pd.DataFrame(
        out,
        columns=[
            "idx",
            "revenue",
            "level",
            "trend",
            "seasonal",
            "forecast",
            "residual",
        ],
    )
    res.insert(0, "day", list(pdf["day"])[m - 1 :])
    res.insert(0, "event_type", pdf["event_type"].iloc[0])
    return res


#: The Holt-Winters oracle's CTE chain (daily → idx → means → sinit →
#: list-state recursion), shared verbatim by the smoothing op and the
#: skill-evaluation op so the two oracles can never drift apart.
_HW_ORACLE_CTES = f"""
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT event_type, day, x,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY day) AS i
        FROM daily
    ),
    means AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN i <= {HW_PERIOD}
                        THEN CAST(round(x, 6) AS DECIMAL(18,6)) END)
                    AS DOUBLE) / {HW_PERIOD} AS m1,
               CAST(SUM(CASE WHEN i > {HW_PERIOD}
                              AND i <= {2 * HW_PERIOD}
                        THEN CAST(round(x, 6) AS DECIMAL(18,6)) END)
                    AS DOUBLE) / {HW_PERIOD} AS m2
        FROM idx GROUP BY event_type
        HAVING max(i) >= {2 * HW_PERIOD}
    ),
    sinit AS (
        SELECT idx.event_type,
               list(round(x - m1, 6) ORDER BY i) AS s
        FROM idx JOIN means USING (event_type)
        WHERE i <= {HW_PERIOD}
        GROUP BY idx.event_type
    ),
    rec(event_type, i, l, b, s) AS (
        SELECT m.event_type, {HW_PERIOD},
               round(m.m1, 6),
               round((m.m2 - m.m1) / {HW_PERIOD}, 6),
               si.s
        FROM means m JOIN sinit si USING (event_type)
        UNION ALL
        SELECT r.event_type, r.i + 1,
               round(0.5 * (d.x - r.s[1]) + 0.5 * (r.l + r.b), 6),
               round(0.5 * (round(0.5 * (d.x - r.s[1])
                                  + 0.5 * (r.l + r.b), 6) - r.l)
                     + 0.5 * r.b, 6),
               list_append(r.s[2:],
                   round(0.5 * (d.x - round(0.5 * (d.x - r.s[1])
                                            + 0.5 * (r.l + r.b), 6))
                         + 0.5 * r.s[1], 6))
        FROM rec r JOIN idx d
          ON d.event_type = r.event_type AND d.i = r.i + 1
    )"""


@register(
    "window_holt_winters_additive",
    oracle=_HW_ORACLE_CTES + f"""
    SELECT r.event_type,
           CAST(d.day AS VARCHAR) AS day,
           CAST(r.i AS BIGINT) AS idx,
           d.x AS revenue,
           r.l AS level,
           r.b AS trend,
           r.s[{HW_PERIOD}] AS seasonal,
           CASE WHEN r.i = {HW_PERIOD} THEN NULL
                ELSE p.l + p.b + p.s[1] END AS forecast,
           CASE WHEN r.i = {HW_PERIOD} THEN NULL
                ELSE d.x - (p.l + p.b + p.s[1]) END AS residual
    FROM rec r
    JOIN idx d ON d.event_type = r.event_type AND d.i = r.i
    LEFT JOIN rec p
      ON p.event_type = r.event_type AND p.i = r.i - 1
    """,
    tags=("windowed", "timeseries", "forecast", "stateful"),
)
def window_holt_winters_additive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holt-Winters ADDITIVE (triple exponential) smoothing of
    per-event-type daily revenue, alpha = beta = gamma = 1/2, weekly
    period m = {HW_PERIOD} — completing the smoothing ladder (EWMA:
    level; Holt: level+trend; this: level+trend+seasonal), the model
    the classical-decomposition strengths tell a pipeline to reach
    for when BOTH F_s and F_t are high.  The coupled recursion
    l_t = alpha(x_t − s_{{t−m}}) + (1−alpha)(l_{{t−1}} + b_{{t−1}}),
    b_t = beta(l_t − l_{{t−1}}) + (1−beta)b_{{t−1}},
    s_t = gamma(x_t − l_t) + (1−gamma)s_{{t−m}},
    f_t = l_{{t−1}} + b_{{t−1}} + s_{{t−m}}
    is genuinely sequential with an (m+2)-dimensional state, so the
    engine runs ONE applyInPandas fold per series (series parallelize
    across tasks; O(m) state) and the DuckDB oracle threads the
    seasonal vector through recursion as a LIST column — the
    registry's first list-state recursive CTE (extends
    window_holt_linear_smoothing's scalar-state form).  Two-cycle
    initialization (needs 2m observations): l_m = round6 mean of
    cycle 1, b_m = round6 of (cycle-2 mean − cycle-1 mean)/m,
    s_1..m = round6 deviations of cycle 1 from its mean; forecasts
    and residuals start at t = m+1.

    Scale: one map-side-combined groupBy to the (series × calendar)
    table, then a per-series linear fold with O(m) state — a million
    series parallelize perfectly and no state outgrows its calendar.
    The reference's only stateful op is an unbounded per-window
    HashSet (UniqueUsersCounter.java:80-84); this is the bounded-state
    counterexample."""
    idx = _events_daily(
        spark, sf_dir, dec_sum("value", "x"), by_type=True, index=True
    ).withColumn("day", F.col("day").cast("string"))
    return idx.groupBy("event_type").applyInPandas(
        _holt_winters_fold,
        schema=(
            "event_type string, day string, idx bigint, "
            "revenue double, level double, trend double, "
            "seasonal double, forecast double, residual double"
        ),
    )


# ---------------------------------------------------------------------------
# Partial autocorrelation (Durbin-Levinson closed forms, lags 1-3)
# ---------------------------------------------------------------------------


@register(
    "window_pacf_daily_revenue",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE)
                   - DATE '1970-01-01' AS d,
               SUM(CAST(value AS DECIMAL(18,6))) AS x
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT count(*) AS n,
               CAST(SUM(x) AS DOUBLE) / count(*) AS mu
        FROM daily
    ),
    dev AS (
        SELECT d, CAST(x AS DOUBLE) - mu AS e FROM daily, tot
    ),
    den AS (
        SELECT SUM(CAST(round(e * e, 6) AS DECIMAL(18,6))) AS s0
        FROM dev
    ),
    ks AS (SELECT unnest(generate_series(1, 3)) AS k),
    num AS (
        SELECT ks.k,
               SUM(CAST(round(a.e * b.e, 6) AS DECIMAL(18,6))) AS sk
        FROM ks JOIN dev a ON TRUE JOIN dev b ON b.d = a.d + ks.k
        GROUP BY ks.k
    ),
    acfs AS (
        SELECT k, CAST(sk AS DOUBLE) / CAST(s0 AS DOUBLE) AS acf
        FROM num, den
    ),
    r AS (
        SELECT max(CASE WHEN k = 1 THEN acf END) AS r1,
               max(CASE WHEN k = 2 THEN acf END) AS r2,
               max(CASE WHEN k = 3 THEN acf END) AS r3
        FROM acfs
    ),
    p2 AS (
        SELECT r1, r2, r3,
               (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi22
        FROM r
    ),
    p3 AS (
        SELECT r1, r2, r3, phi22,
               r1 - phi22 * r1 AS phi21
        FROM p2
    )
    SELECT CAST(1 AS INT) AS lag_k, r1 AS acf, r1 AS pacf FROM p3
    UNION ALL
    SELECT CAST(2 AS INT), r2, phi22 FROM p3
    UNION ALL
    SELECT CAST(3 AS INT), r3,
           (r3 - phi21 * r2 - phi22 * r1)
               / (1.0 - phi21 * r1 - phi22 * r2)
    FROM p3
    """,
    tags=("windowed", "timeseries", "statistics"),
)
def window_pacf_daily_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partial autocorrelation of total daily revenue at lags 1-3 via
    the Durbin-Levinson CLOSED FORMS — the Box-Jenkins companion to
    window_acf_daily_revenue (ACF tails off / PACF cuts at p ⟹ AR(p);
    the pair is how a pipeline picks an order before fitting
    anything): phi_11 = r1, phi_22 = (r2 − r1²)/(1 − r1²),
    phi_21 = r1 − phi_22·r1, phi_33 = (r3 − phi_21·r2 − phi_22·r1) /
    (1 − phi_21·r1 − phi_22·r2).  For fixed small max-lag the Durbin
    recursion unrolls to plain rational expressions in the ACF values,
    so no sequential fold is needed: the engine REUSES the registered
    ACF operator's DataFrame (lags ≤ 3 of the same statistic), pivots
    the three values to one row, and writes the phis with operator
    structure identical to the oracle's — bit-equal without rounding
    discipline because both engines evaluate the same IEEE expression
    tree on the same three doubles.

    Scale: everything after the ACF (itself calendar-sized, see
    window_acf_daily_revenue) is arithmetic on a 1-row frame."""
    acf = (
        window_acf_daily_revenue(spark, sf_dir)
        .filter(F.col("lag_k") <= 3)
        .select("lag_k", "acf")
    )
    r = acf.agg(
        F.max(F.when(F.col("lag_k") == 1, F.col("acf"))).alias("r1"),
        F.max(F.when(F.col("lag_k") == 2, F.col("acf"))).alias("r2"),
        F.max(F.when(F.col("lag_k") == 3, F.col("acf"))).alias("r3"),
    )
    p2 = r.withColumn(
        "phi22",
        (F.col("r2") - F.col("r1") * F.col("r1"))
        / (F.lit(1.0) - F.col("r1") * F.col("r1")),
    )
    p3 = p2.withColumn(
        "phi21", F.col("r1") - F.col("phi22") * F.col("r1")
    )
    phi33 = (
        F.col("r3")
        - F.col("phi21") * F.col("r2")
        - F.col("phi22") * F.col("r1")
    ) / (
        F.lit(1.0)
        - F.col("phi21") * F.col("r1")
        - F.col("phi22") * F.col("r2")
    )
    return p3.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).cast("int").alias("lag_k"),
                    F.col("r1").alias("acf"),
                    F.col("r1").alias("pacf"),
                ),
                F.struct(
                    F.lit(2).cast("int").alias("lag_k"),
                    F.col("r2").alias("acf"),
                    F.col("phi22").alias("pacf"),
                ),
                F.struct(
                    F.lit(3).cast("int").alias("lag_k"),
                    F.col("r3").alias("acf"),
                    phi33.alias("pacf"),
                ),
            )
        ).alias("row")
    ).select("row.*")


# ---------------------------------------------------------------------------
# Pettitt changepoint test
# ---------------------------------------------------------------------------

#: ln(40): 2*exp(-z) < 0.05  <=>  z > ln(40).  A literal so neither
#: engine evaluates a transcendental at query time.
PETTITT_LN40 = 3.6888794541139363


@register(
    "window_pettitt_changepoint",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               SUM(CAST(value AS DECIMAL(18,6))) AS x
        FROM events GROUP BY 1
    ),
    ranked AS (
        SELECT day, x,
               rank() OVER (ORDER BY x) AS rk,
               count(*) OVER (PARTITION BY x) AS eq,
               row_number() OVER (ORDER BY day) AS t,
               count(*) OVER () AS n
        FROM daily
    ),
    u AS (
        SELECT day, t, n,
               t * (n + 1)
                   - SUM(2 * (rk - 1) + eq + 1)
                         OVER (ORDER BY day
                               ROWS UNBOUNDED PRECEDING) AS u_t
        FROM ranked
    ),
    summary AS (
        SELECT max(abs(u_t)) AS k_stat,
               max(n) AS n_days
        FROM u WHERE t < n
    ),
    cp AS (
        SELECT min(u.day) AS change_day
        FROM u, summary s
        WHERE u.t < u.n AND abs(u.u_t) = s.k_stat
    )
    SELECT CAST(u.day AS VARCHAR) AS day,
           CAST(u.u_t AS BIGINT) AS u_t,
           CAST(s.k_stat AS BIGINT) AS k_stat,
           CAST(c.change_day AS VARCHAR) AS change_day,
           (6.0 * CAST(s.k_stat AS DOUBLE) * CAST(s.k_stat AS DOUBLE))
               / (CAST(s.n_days AS DOUBLE) * s.n_days * s.n_days
                  + CAST(s.n_days AS DOUBLE) * s.n_days) AS pettitt_z,
           (6.0 * CAST(s.k_stat AS DOUBLE) * CAST(s.k_stat AS DOUBLE))
               / (CAST(s.n_days AS DOUBLE) * s.n_days * s.n_days
                  + CAST(s.n_days AS DOUBLE) * s.n_days)
               > {PETTITT_LN40} AS significant_005
    FROM u, summary s, cp c
    WHERE u.t < u.n
    """,
    tags=("windowed", "timeseries", "changepoint", "statistics"),
)
def window_pettitt_changepoint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pettitt rank-based changepoint test on total daily revenue —
    the NONPARAMETRIC companion to window_cusum_changepoint (CUSUM
    localizes a mean shift in level units and is outlier-sensitive;
    Pettitt asks whether ANY split t makes the two sides stochastically
    different, immune to monotone transforms): U_t = sum over i<=t,
    j>t of sgn(x_j − x_i), K = max|U_t|, with the classic approximation
    p ~= 2·exp(−6K²/(n³+n²)) read through its LOGARITHM — the gate
    fires iff z = 6K²/(n³+n²) > ln 40 (a literal), so no engine
    evaluates exp and the statistic stays exact-integer.  The O(n²)
    pair sum is NOT materialized: with midranks r_i,
    sum_j sgn(x_i − x_j) = 2r_i − (n+1) exactly (ties included, via
    2r_i = 2·#less + #eq + 1, an INTEGER), and antisymmetry cancels
    the within-prefix pairs, giving U_t = t(n+1) − sum_{{i<=t}} 2r_i —
    one rank window plus one cumulative sum, all in bigint arithmetic,
    identical on both engines with zero float drift.  Ranks compare
    exact DECIMAL revenue, so ties are textual equality, not float
    luck.  Emits the full U trace (t < n; U_n = 0 by construction)
    with the global verdict on every row; change_day is the earliest
    day attaining K.

    Scale: daily collapse is map-side combined; the rank/cumsum
    windows run over the CALENDAR-sized series (the O(n²) pair form
    this replaces would not survive a 10-year calendar).  Per-key
    variants partition both windows by key."""
    daily = _events_daily(spark, sf_dir)
    ranked = daily.select(
        "day",
        F.rank().over(Window.orderBy("x")).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("x")).alias("eq"),
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.count(F.lit(1)).over(
            Window.partitionBy()
        ).alias("n"),
    )
    cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    u = ranked.select(
        "day",
        "t",
        "n",
        (
            F.col("t") * (F.col("n") + F.lit(1))
            - F.sum(
                F.lit(2) * (F.col("rk") - F.lit(1))
                + F.col("eq")
                + F.lit(1)
            ).over(cum)
        ).alias("u_t"),
    ).filter(F.col("t") < F.col("n"))
    summary = u.agg(
        F.max(F.abs(F.col("u_t"))).alias("k_stat"),
        F.max("n").alias("n_days"),
    )
    with_k = u.crossJoin(F.broadcast(summary))
    change = with_k.filter(
        F.abs(F.col("u_t")) == F.col("k_stat")
    ).agg(F.min("day").alias("change_day"))
    nd = F.col("n_days").cast("double")
    kd = F.col("k_stat").cast("double")
    z = (F.lit(6.0) * kd * kd) / (
        nd * F.col("n_days") * F.col("n_days")
        + nd * F.col("n_days")
    )
    return (
        with_k.crossJoin(F.broadcast(change))
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("u_t").cast("bigint").alias("u_t"),
            F.col("k_stat").cast("bigint").alias("k_stat"),
            F.col("change_day").cast("string").alias("change_day"),
            z.alias("pettitt_z"),
            (z > F.lit(PETTITT_LN40)).alias("significant_005"),
        )
    )


# ---------------------------------------------------------------------------
# First-order Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------


@register(
    "window_markov_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id)
                   AS from_type
        FROM events
    ),
    c AS (
        SELECT from_type, event_type AS to_type, count(*) AS n
        FROM seq WHERE from_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT from_type, to_type,
           CAST(n AS BIGINT) AS n,
           CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
               AS from_total,
           CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type)
               AS p
    FROM c
    """,
    tags=("windowed", "sequence", "statistics"),
)
def window_markov_event_transitions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-order Markov transition matrix of per-user event-type
    sequences — the MLE P(to | from) = n(from→to) / n(from→·) that a
    behavioral pipeline feeds into next-event prediction, anomalous-
    session scoring (a session's log-likelihood under P), and as the
    base measure window_sequence_pattern_match's hits are judged
    against.  Adjacency is lag() per user ordered by (ts, event_id) —
    the registry's deterministic-tiebreak convention — so every
    consecutive pair contributes exactly one integer cell; the row
    normalization is one integer-to-double division per cell, exact on
    both engines.

    Scale: the lag window shuffles once on user_id (each user's
    sequence is processed where it lands — no cross-user state); the
    transition table is |event_type|² cells (25 here), so the
    normalizing window is over a domain-bounded frame.  At 100 TB the
    only large exchange is the user_id repartition, shared with every
    other per-user sequence op."""
    seq = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type")
        .over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        )
        .alias("from_type"),
    )
    c = (
        seq.filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return c.select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.sum("n").over(tot).cast("bigint").alias("from_total"),
        (F.col("n").cast("double") / F.sum("n").over(tot)).alias("p"),
    )


# ---------------------------------------------------------------------------
# Cross-correlation between the click and purchase daily series
# ---------------------------------------------------------------------------

#: Symmetric lag range of the CCF op (days).
CCF_MAX_LAG = 3


@register(
    "window_ccf_click_purchase",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE)
                   - DATE '1970-01-01' AS d,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS x,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS y
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT count(*) AS n,
               CAST(SUM(x) AS DOUBLE) / count(*) AS mx,
               CAST(SUM(y) AS DOUBLE) / count(*) AS my
        FROM daily
    ),
    dev AS (
        SELECT d, CAST(x AS DOUBLE) - mx AS ex,
               CAST(y AS DOUBLE) - my AS ey
        FROM daily, tot
    ),
    den AS (
        SELECT SUM(CAST(round(ex * ex, 6) AS DECIMAL(18,6))) AS sx,
               SUM(CAST(round(ey * ey, 6) AS DECIMAL(18,6))) AS sy
        FROM dev
    ),
    ks AS (
        SELECT unnest(generate_series(-{CCF_MAX_LAG},
                                      {CCF_MAX_LAG})) AS k
    ),
    num AS (
        SELECT ks.k,
               count(*) AS n_pairs,
               SUM(CAST(round(a.ex * b.ey, 6) AS DECIMAL(18,6)))
                   AS sk
        FROM ks JOIN dev a ON TRUE JOIN dev b ON b.d = a.d + ks.k
        GROUP BY ks.k
    )
    SELECT CAST(k AS INT) AS lag_k,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(sk AS DOUBLE)
               / sqrt(CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               AS ccf
    FROM num, den
    """,
    tags=("windowed", "timeseries", "statistics"),
)
def window_ccf_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sample CROSS-correlation between the daily click-count and
    purchase-count series at lags −{CCF_MAX_LAG}..+{CCF_MAX_LAG} —
    the lead-lag diagnostic the ACF/PACF pair can't give: ccf(k) =
    corr(click_t, purchase_(t+k)), so a positive-k peak means clicks
    LEAD purchases by k days (the signal that justifies the lagged
    OLS companion and sizes the attribution lookback).  Same kernel
    discipline as window_acf_daily_revenue: one key-frame join
    (b.d = a.d + k) produces all 2·{CCF_MAX_LAG}+1 lags in one pass,
    cross-products rounded to 6 decimals and summed exactly, the
    denominator √(Sx·Sy) from exact decimal second moments.  Counts
    (not revenue) make both deviation series integer-anchored.

    Scale: the daily collapse is one conditional-sum groupBy
    (map-side combined); everything after runs over CALENDAR-sized
    tables × 7 lags.  Per-key CCFs partition the join by key."""
    daily = _events_daily(
        spark,
        sf_dir,
        F.sum(
            F.when(F.col("event_type") == "click", F.lit(1))
            .otherwise(F.lit(0))
        ).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.lit(1))
            .otherwise(F.lit(0))
        ).alias("y"),
        epoch=True,
    )
    dev = _demeaned(daily, ex="x", ey="y")
    den = dev.agg(
        F.sum(
            F.round(F.col("ex") * F.col("ex"), 6).cast("decimal(18,6)")
        ).alias("sx"),
        F.sum(
            F.round(F.col("ey") * F.col("ey"), 6).cast("decimal(18,6)")
        ).alias("sy"),
    )
    num = _lag_sums(
        dev,
        range(-CCF_MAX_LAG, CCF_MAX_LAG + 1),
        "ex",
        "ey",
        "decimal(18,6)",
    )
    return num.crossJoin(F.broadcast(den)).select(
        F.col("k").cast("int").alias("lag_k"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        (
            F.col("sk").cast("double")
            / F.sqrt(
                F.col("sx").cast("double") * F.col("sy").cast("double")
            )
        ).alias("ccf"),
    )


# ---------------------------------------------------------------------------
# Lagged OLS: purchases_t on clicks_{t-1}
# ---------------------------------------------------------------------------


@register(
    "window_lagged_ols_clicks_purchases",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE)
                   - DATE '1970-01-01' AS d,
               SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS c,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS p
        FROM events GROUP BY 1
    ),
    pairs AS (
        SELECT a.c AS x, b.p AS y
        FROM daily a JOIN daily b ON b.d = a.d + 1
    ),
    m AS (
        SELECT count(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy,
               SUM(x * x) AS sxx,
               SUM(y * y) AS syy
        FROM pairs
    ),
    t AS (
        SELECT n, sx, sy, sxy, sxx, syy,
               CAST(n * sxy - sx * sy AS DOUBLE) AS cov_t,
               CAST(n * sxx - sx * sx AS DOUBLE) AS varx_t,
               CAST(n * syy - sy * sy AS DOUBLE) AS vary_t
        FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           cov_t / varx_t AS slope,
           (CAST(sy AS DOUBLE) - (cov_t / varx_t) * CAST(sx AS DOUBLE))
               / n AS intercept,
           (cov_t * cov_t) / (varx_t * vary_t) AS r2
    FROM t
    """,
    tags=("windowed", "timeseries", "statistics", "regression"),
)
def window_lagged_ols_clicks_purchases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lagged OLS of next-day purchase count on today's click count —
    the Granger-style one-regressor readout that quantifies the
    lead-lag the CCF surfaces: ŷ = a + b·x over pairs
    (clicks_t, purchases_{t+1}), with slope b = (nΣxy − ΣxΣy) /
    (nΣxx − (Σx)²), intercept a = (Σy − bΣx)/n, and
    r² = (nΣxy − ΣxΣy)² / ((nΣxx − (Σx)²)(nΣyy − (Σy)²)).  Because
    both series are COUNTS, all five moments are exact BIGINT sums
    from one aggregate; the three combination terms are formed in
    bigint and cast to double once, so slope/intercept/r² are
    bit-identical cross-engine with no rounding discipline.  The
    day+1 pair join drops calendar gaps instead of faking zeros.

    Scale: daily collapse is map-side combined; pairs/moments are
    calendar-sized.  At daily counts beyond ~3e9 the bigint
    combination terms need DECIMAL(38,0) — the documented swap, same
    table shape.  Per-key regressions group the moment aggregate by
    key."""
    daily = _events_daily(
        spark,
        sf_dir,
        F.sum(
            F.when(F.col("event_type") == "click", F.lit(1))
            .otherwise(F.lit(0))
        ).alias("c"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.lit(1))
            .otherwise(F.lit(0))
        ).alias("p"),
        epoch=True,
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("b.d") == F.col("a.d") + 1).select(
        F.col("a.c").alias("x"), F.col("b.p").alias("y")
    )
    m = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    t = m.select(
        "n",
        "sx",
        "sy",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            .cast("double")
        ).alias("cov_t"),
        (
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("double")
        ).alias("varx_t"),
        (
            (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            .cast("double")
        ).alias("vary_t"),
    )
    slope = F.col("cov_t") / F.col("varx_t")
    return t.select(
        F.col("n").cast("bigint").alias("n_pairs"),
        slope.alias("slope"),
        (
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n")
        ).alias("intercept"),
        (
            (F.col("cov_t") * F.col("cov_t"))
            / (F.col("varx_t") * F.col("vary_t"))
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Page-Hinkley cumulative drift statistic
# ---------------------------------------------------------------------------


@register(
    "window_page_hinkley_drift",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               SUM(CAST(value AS DECIMAL(18,6))) AS x
        FROM events GROUP BY 1
    ),
    c1 AS (
        SELECT day, x,
               row_number() OVER (ORDER BY day) AS t,
               SUM(x) OVER (ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS cums
        FROM daily
    ),
    c2 AS (
        SELECT day, x, t,
               CAST(x AS DOUBLE) - CAST(cums AS DOUBLE) / t AS dev
        FROM c1
    ),
    c3 AS (
        SELECT day, x, t, dev,
               CAST(SUM(CAST(round(dev, 6) AS DECIMAL(18,6)))
                        OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                    AS DOUBLE) AS mt
        FROM c2
    ),
    c4 AS (
        SELECT day, x, t, mt,
               mt - min(mt) OVER (ORDER BY day
                                  ROWS UNBOUNDED PRECEDING) AS ph
        FROM c3
    ),
    s AS (SELECT max(ph) AS max_ph FROM c4),
    cp AS (
        SELECT min(c4.day) AS detect_day
        FROM c4, s WHERE c4.ph = s.max_ph
    )
    SELECT CAST(c4.day AS VARCHAR) AS day,
           CAST(c4.x AS DOUBLE) AS revenue,
           c4.mt AS mt,
           c4.ph AS ph,
           s.max_ph AS max_ph,
           CAST(cp.detect_day AS VARCHAR) AS detect_day
    FROM c4, s, cp
    """,
    tags=("windowed", "timeseries", "changepoint", "drift"),
)
def window_page_hinkley_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Page-Hinkley cumulative drift statistic on total daily revenue
    (increase side, delta = 0) — the SEQUENTIAL-monitoring member of
    the changepoint trio (CUSUM localizes a known-level shift, Pettitt
    tests any split retrospectively; Page-Hinkley is what you run
    forward): m_T = sum over t<=T of (x_t − mean_t), with mean_t the
    RUNNING prefix mean, and PH_T = m_T − min over t<=T of m_t, rising
    when the series drifts above its own history.  Despite being
    defined as a recursion over the running mean, it is fully
    DECLARATIVE: prefix mean from the exact-decimal cumulative sum,
    deviations rounded to 6 decimals and cumulated as exact decimals,
    then a prefix-min window — four layered windows, no fold,
    identical on both engines.  Emits the full (mt, ph) trace with the
    global maximum and its earliest day; the alarm threshold lambda is
    deliberately left to the operator (it is a units-bearing policy
    knob, unlike Pettitt's distribution-free gate).

    Scale: everything after the map-side-combined daily collapse runs
    over the CALENDAR-sized series; per-key variants partition all
    four windows by key."""
    daily = _events_daily(spark, sf_dir)
    cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c1 = daily.select(
        "day",
        "x",
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.sum("x").over(cum).alias("cums"),
    )
    c2 = c1.select(
        "day",
        "x",
        "t",
        (
            F.col("x").cast("double")
            - F.col("cums").cast("double") / F.col("t")
        ).alias("dev"),
    )
    c3 = c2.select(
        "day",
        "x",
        "t",
        F.sum(F.round(F.col("dev"), 6).cast("decimal(18,6)"))
        .over(cum)
        .cast("double")
        .alias("mt"),
    )
    c4 = c3.select(
        "day",
        "x",
        "mt",
        (F.col("mt") - F.min("mt").over(cum)).alias("ph"),
    )
    s = c4.agg(F.max("ph").alias("max_ph"))
    with_s = c4.crossJoin(F.broadcast(s))
    cp = with_s.filter(F.col("ph") == F.col("max_ph")).agg(
        F.min("day").alias("detect_day")
    )
    return with_s.crossJoin(F.broadcast(cp)).select(
        F.col("day").cast("string").alias("day"),
        F.col("x").cast("double").alias("revenue"),
        "mt",
        "ph",
        "max_ph",
        F.col("detect_day").cast("string").alias("detect_day"),
    )


# ---------------------------------------------------------------------------
# ABC (Pareto) classification of customers by revenue
# ---------------------------------------------------------------------------

#: Cumulative-share cut for class A (and the A+B cut).
ABC_CUT_A = "0.80"
ABC_CUT_AB = "0.95"


@register(
    "window_abc_classification",
    oracle=f"""
    WITH rev AS (
        SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                   AS revenue
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT SUM(revenue) AS total FROM rev),
    cum AS (
        SELECT o_custkey, revenue,
               SUM(revenue) OVER (ORDER BY revenue DESC, o_custkey
                                  ROWS UNBOUNDED PRECEDING) AS cumrev
        FROM rev
    )
    SELECT o_custkey,
           CAST(revenue AS DOUBLE) AS revenue,
           CAST(cumrev AS DOUBLE) / CAST(total AS DOUBLE)
               AS cum_share,
           CASE WHEN CAST(cumrev AS DOUBLE) / CAST(total AS DOUBLE)
                     <= {ABC_CUT_A} THEN 'A'
                WHEN CAST(cumrev AS DOUBLE) / CAST(total AS DOUBLE)
                     <= {ABC_CUT_AB} THEN 'B'
                ELSE 'C' END AS abc_class
    FROM cum, tot
    """,
    tags=("windowed", "ranking", "pareto"),
)
def window_abc_classification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ABC / Pareto classification of customers by lifetime order
    revenue — the 80/15/5 contribution analysis behind inventory and
    account tiering: rank customers by revenue (descending,
    custkey-tiebroken), cumulate the exact-decimal revenue, and class
    A = the prefix covering {ABC_CUT_A} of total revenue, B = the next
    slice to {ABC_CUT_AB}, C = the tail.  The cumulative share is an
    exact-decimal prefix sum divided once by the exact total, so every
    class boundary is bit-stable cross-engine.

    Scale: the default (driver-checked) path IS the distributed form
    since r13 — frontier.global_prefix_sum(mode="distributed"):
    range-partition on the sort key, per-partition cumulative windows,
    broadcast partition-total offsets (bit-identical to the
    single-window sort, so the oracle still hashes green; no task
    sorts more than one partition; tests/test_frontier.py pins the
    equivalence).  The per-customer
    collapse before ranking is map-side combined, so the ranked table
    is customer-sized, not order-sized."""
    from kafka_stream_processing_spark.operators.frontier import (
        global_prefix_sum,
    )

    rev = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(dec("o_totalprice")).alias("revenue"))
    )
    tot = rev.agg(F.sum("revenue").alias("total"))
    cum = global_prefix_sum(
        rev,
        [F.col("revenue").desc(), F.col("o_custkey")],
        "revenue",
        # r13 soft-spot burn-down: the distributed two-phase form is
        # BIT-IDENTICAL to the single-window sort (test_frontier.py
        # pins it), so it is now the default/driver-checked path too —
        # no single-task total sort anywhere in this op.
        mode="distributed",
        sum_name="cumrev",
    )
    share = F.col("cumrev").cast("double") / F.col("total").cast(
        "double"
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        "o_custkey",
        F.col("revenue").cast("double").alias("revenue"),
        share.alias("cum_share"),
        F.when(share <= F.lit(float(ABC_CUT_A)), F.lit("A"))
        .when(share <= F.lit(float(ABC_CUT_AB)), F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


# ---------------------------------------------------------------------------
# Forecast skill scores: seasonal-naive vs lag-1 naive
# ---------------------------------------------------------------------------


@register(
    "window_forecast_skill_scores",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE)
                   - DATE '1970-01-01' AS d,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
        FROM events GROUP BY 1
    ),
    joined AS (
        SELECT c.d, c.x,
               l1.x AS f1,
               l7.x AS f7
        FROM daily c
        JOIN daily l1 ON l1.d = c.d - 1
        JOIN daily l7 ON l7.d = c.d - 7
    ),
    agg AS (
        SELECT count(*) AS n,
               SUM(CAST(round(abs(x - f1), 6) AS DECIMAL(18,6)))
                   AS sae1,
               SUM(CAST(round(abs(x - f7), 6) AS DECIMAL(18,6)))
                   AS sae7,
               SUM(CAST(round((x - f1) * (x - f1), 6)
                        AS DECIMAL(38,6))) AS sse1,
               SUM(CAST(round((x - f7) * (x - f7), 6)
                        AS DECIMAL(38,6))) AS sse7
        FROM joined
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(sae1 AS DOUBLE) / n AS mae_naive1,
           CAST(sae7 AS DOUBLE) / n AS mae_seasonal7,
           (CAST(sae7 AS DOUBLE) / n) / (CAST(sae1 AS DOUBLE) / n)
               AS mase_seasonal,
           sqrt(CAST(sse7 AS DOUBLE) / CAST(sse1 AS DOUBLE))
               AS theil_u2
    FROM agg
    """,
    tags=("windowed", "timeseries", "forecast", "statistics"),
)
def window_forecast_skill_scores(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Forecast skill of the seasonal-naive (lag-7) predictor measured
    AGAINST the lag-1 naive on total daily revenue — the
    model-selection readout that closes the forecasting family: MASE
    (mean-absolute-error ratio; < 1 means weekly seasonality carries
    real signal beyond persistence) and Theil's U2 (the RMSE-ratio
    twin, more tail-sensitive).  Both models' errors are evaluated on
    the SAME days (both lags must exist — calendar joins, not
    row-lags, so gaps drop pairs symmetrically), absolute and squared
    errors rounded to 6 decimals and summed exactly (squared daily
    totals need DECIMAL(38,6) — the classical-decomposition overflow
    lesson).  window_seasonal_naive_backtest reports the seasonal
    model's own MAE/sMAPE; this op is the COMPARATIVE judgment.

    Scale: daily collapse map-side combined; both lag joins and the
    single aggregate run over the CALENDAR-sized table.  Per-key skill
    scores group the final aggregate by key."""
    daily = _events_daily(
        spark, sf_dir, dec_sum("value", "x"), epoch=True
    )
    c, l1, l7 = daily.alias("c"), daily.alias("l1"), daily.alias("l7")
    joined = (
        c.join(l1, F.col("l1.d") == F.col("c.d") - 1)
        .join(l7, F.col("l7.d") == F.col("c.d") - 7)
        .select(
            F.col("c.x").alias("x"),
            F.col("l1.x").alias("f1"),
            F.col("l7.x").alias("f7"),
        )
    )
    agg = joined.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.round(F.abs(F.col("x") - F.col("f1")), 6).cast(
                "decimal(18,6)"
            )
        ).alias("sae1"),
        F.sum(
            F.round(F.abs(F.col("x") - F.col("f7")), 6).cast(
                "decimal(18,6)"
            )
        ).alias("sae7"),
        F.sum(
            F.round(
                (F.col("x") - F.col("f1")) * (F.col("x") - F.col("f1")),
                6,
            ).cast("decimal(38,6)")
        ).alias("sse1"),
        F.sum(
            F.round(
                (F.col("x") - F.col("f7")) * (F.col("x") - F.col("f7")),
                6,
            ).cast("decimal(38,6)")
        ).alias("sse7"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n_days"),
        (F.col("sae1").cast("double") / F.col("n")).alias("mae_naive1"),
        (F.col("sae7").cast("double") / F.col("n")).alias(
            "mae_seasonal7"
        ),
        (
            (F.col("sae7").cast("double") / F.col("n"))
            / (F.col("sae1").cast("double") / F.col("n"))
        ).alias("mase_seasonal"),
        F.sqrt(
            F.col("sse7").cast("double") / F.col("sse1").cast("double")
        ).alias("theil_u2"),
    )


# ---------------------------------------------------------------------------
# Per-series decomposition strengths
# ---------------------------------------------------------------------------


@register(
    "window_decomposition_strength_by_type",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               SUM(CAST(value AS DECIMAL(18,6))) AS x
        FROM events GROUP BY 1, 2
    ),
    ma AS (
        SELECT event_type, day, x,
               CASE WHEN COUNT(*) OVER w = {DECOMP_PERIOD}
                    THEN CAST(SUM(x) OVER w AS DOUBLE)
                         / {DECOMP_PERIOD}
               END AS trend,
               dayofweek(day) AS dow
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY day
                     ROWS BETWEEN {DECOMP_PERIOD // 2} PRECEDING
                     AND {DECOMP_PERIOD // 2} FOLLOWING)
    ),
    det AS (
        SELECT event_type, day, x, trend, dow,
               CAST(x AS DOUBLE) - trend AS d
        FROM ma WHERE trend IS NOT NULL
    ),
    seas AS (
        SELECT event_type, dow,
               CAST(SUM(CAST(round(d, 6) AS DECIMAL(18,6)))
                    AS DOUBLE) / COUNT(*) AS s
        FROM det GROUP BY 1, 2
    ),
    comp AS (
        SELECT det.event_type, det.trend, seas.s AS seasonal,
               det.d - seas.s AS remainder
        FROM det JOIN seas
          ON seas.event_type = det.event_type AND seas.dow = det.dow
    ),
    var_t AS (
        SELECT event_type,
               count(*) AS n_days_used,
               CAST(SUM(CAST(round(remainder * remainder, 6)
                    AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS vr,
               CAST(SUM(CAST(round((seasonal + remainder)
                                   * (seasonal + remainder), 6)
                    AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS vsr,
               CAST(SUM(CAST(round((trend + remainder)
                                   * (trend + remainder), 6)
                    AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS vtr
        FROM comp GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_days_used AS BIGINT) AS n_days_used,
           greatest(0.0, 1.0 - vr / vsr) AS seasonal_strength,
           greatest(0.0, 1.0 - vr / vtr) AS trend_strength
    FROM var_t
    """,
    tags=("windowed", "timeseries", "decomposition"),
)
def window_decomposition_strength_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-event-type Hyndman strength-of-component readouts — the
    PARTITIONED deployment of window_classical_decomposition's
    F_s/F_t, one (seasonal_strength, trend_strength) verdict per
    series instead of one global trace: exactly the fleet-screening
    query a forecasting platform runs over a million series to decide
    WHICH get the seasonal model (high F_s), which get a trend model
    (high F_t), and which are white noise not worth modeling.  Every
    window from the global op reappears with PARTITION BY event_type —
    the per-key scaling claim in that op's docstring, now code — and
    the same round-6/DECIMAL(38,6) discipline keeps all strengths
    bit-stable.

    Scale: the MA window, weekday means, and variance aggregates all
    partition by series key, so a million series parallelize across
    tasks with CALENDAR-sized state each; one shuffle on the series
    key."""
    daily = _events_daily(spark, sf_dir, by_type=True)
    half = DECOMP_PERIOD // 2
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-half, half)
    )
    ma = daily.select(
        "event_type",
        "day",
        "x",
        F.when(
            F.count(F.lit(1)).over(w) == DECOMP_PERIOD,
            F.sum("x").over(w).cast("double") / DECOMP_PERIOD,
        ).alias("trend"),
        F.dayofweek("day").alias("dow"),
    )
    det = ma.filter(F.col("trend").isNotNull()).select(
        "event_type",
        "trend",
        "dow",
        (F.col("x").cast("double") - F.col("trend")).alias("d"),
    )
    seas = det.groupBy("event_type", "dow").agg(
        (
            F.sum(F.round(F.col("d"), 6).cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("s")
    )
    comp = det.join(seas, ["event_type", "dow"]).select(
        "event_type",
        "trend",
        F.col("s").alias("seasonal"),
        (F.col("d") - F.col("s")).alias("remainder"),
    )

    def mean_of(col, alias):
        return (
            F.sum(F.round(col, 6).cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias(alias)

    var_t = comp.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days_used"),
        mean_of(F.col("remainder") * F.col("remainder"), "vr"),
        mean_of(
            (F.col("seasonal") + F.col("remainder"))
            * (F.col("seasonal") + F.col("remainder")),
            "vsr",
        ),
        mean_of(
            (F.col("trend") + F.col("remainder"))
            * (F.col("trend") + F.col("remainder")),
            "vtr",
        ),
    )
    return var_t.select(
        "event_type",
        F.col("n_days_used").cast("bigint").alias("n_days_used"),
        F.greatest(
            F.lit(0.0), F.lit(1.0) - F.col("vr") / F.col("vsr")
        ).alias("seasonal_strength"),
        F.greatest(
            F.lit(0.0), F.lit(1.0) - F.col("vr") / F.col("vtr")
        ).alias("trend_strength"),
    )


# ---------------------------------------------------------------------------
# Entropy rate of the event-type Markov chain
# ---------------------------------------------------------------------------


@register(
    "window_markov_entropy_rate",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id)
                   AS from_type
        FROM events
    ),
    c AS (
        SELECT from_type, event_type AS to_type, count(*) AS n
        FROM seq WHERE from_type IS NOT NULL
        GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(n) AS grand FROM c),
    pc AS (
        SELECT from_type, n,
               CAST(n AS DOUBLE)
                   / SUM(n) OVER (PARTITION BY from_type) AS p
        FROM c
    ),
    h AS (
        SELECT from_type,
               SUM(n) AS from_total,
               CAST(SUM(CAST(round(-p * ln(p), 12)
                   AS DECIMAL(18,12))) AS DOUBLE) AS h_cond
        FROM pc
        GROUP BY from_type
    ),
    rate AS (
        SELECT CAST(SUM(CAST(round(
                   (CAST(h.from_total AS DOUBLE) / t.grand) * h.h_cond,
                   12) AS DECIMAL(18,12))) AS DOUBLE) AS entropy_rate
        FROM h, tot t
    )
    SELECT h.from_type,
           CAST(h.from_total AS BIGINT) AS from_total,
           CAST(h.from_total AS DOUBLE) / t.grand AS pi,
           h.h_cond,
           r.entropy_rate
    FROM h, tot t, rate r
    """,
    tags=("windowed", "sequence", "statistics"),
)
def window_markov_entropy_rate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Entropy rate of the per-user event-type Markov chain —
    H = Σ_f π_f · H(·|f) with π the empirical from-state distribution
    and H(·|f) = −Σ_t p ln p the per-row conditional entropy — the
    single number that says how PREDICTABLE user behavior is (0 =
    deterministic next action, ln|types| = uniform), the sequence
    family's summary the transition-matrix op feeds: a drop in
    entropy rate between cohorts means behavior is funnelling.  Each
    ln term is rounded to 12 decimals and summed exactly (the
    domain-bounded |types|² cell table makes this a 25-term sum), and
    the π-weighted outer sum quantizes the SAME way — both engines
    walk an identical expression tree to one global double.

    Scale: identical to window_markov_event_transitions (one user_id
    lag shuffle, domain-bounded cells); the entropy arithmetic runs
    over 25 rows."""
    seq = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type")
        .over(
            Window.partitionBy("user_id").orderBy("ts", "event_id")
        )
        .alias("from_type"),
    )
    c = (
        seq.filter(F.col("from_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("from_type")
    p = F.col("n").cast("double") / F.sum("n").over(w)
    term = F.round(-p * F.log(p), 12).cast("decimal(18,12)")
    h = (
        c.select("from_type", "n", term.alias("t"))
        .groupBy("from_type")
        .agg(
            F.sum("n").alias("from_total"),
            F.sum("t").cast("double").alias("h_cond"),
        )
    )
    tot = c.agg(F.sum("n").alias("grand"))
    hh = h.crossJoin(F.broadcast(tot))
    rate = hh.agg(
        F.sum(
            F.round(
                (F.col("from_total").cast("double") / F.col("grand"))
                * F.col("h_cond"),
                12,
            ).cast("decimal(18,12)")
        )
        .cast("double")
        .alias("entropy_rate")
    )
    return hh.crossJoin(F.broadcast(rate)).select(
        "from_type",
        F.col("from_total").cast("bigint").alias("from_total"),
        (
            F.col("from_total").cast("double") / F.col("grand")
        ).alias("pi"),
        "h_cond",
        "entropy_rate",
    )


# ---------------------------------------------------------------------------
# Inter-event-time burstiness per event type
# ---------------------------------------------------------------------------


@register(
    "window_interevent_burstiness",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY event_type
                         ORDER BY ts, event_id) AS d
        FROM events
    ),
    m AS (
        SELECT event_type,
               count(*) AS n,
               SUM(d) AS sd,
               SUM(CAST(d AS DECIMAL(38,0)) * d) AS sdd
        FROM gaps WHERE d IS NOT NULL
        GROUP BY event_type
    ),
    s AS (
        SELECT event_type, n,
               CAST(sd AS DOUBLE) / n AS mu,
               sqrt(CAST(sdd AS DOUBLE) / n
                    - (CAST(sd AS DOUBLE) / n)
                      * (CAST(sd AS DOUBLE) / n)) AS sigma
        FROM m
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_gaps,
           mu AS mean_gap_us,
           sigma AS std_gap_us,
           (sigma - mu) / (sigma + mu) AS burstiness
    FROM s
    """,
    tags=("windowed", "timeseries", "statistics"),
)
def window_interevent_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Goh-Barabási burstiness of inter-event times per event type —
    B = (σ − μ)/(σ + μ) over the integer-microsecond gaps between
    consecutive events of a type: B → −1 for a metronome, 0 for a
    Poisson process, → +1 for heavy-tailed bursts — the traffic-shape
    diagnostic that decides whether rate limits, session gaps
    (session_windows_per_user's knob), and debounce windows are sized
    against a memoryless or a bursty arrival process.  Gaps come from
    one lag window with the (ts, event_id) tiebreak; μ and σ derive
    from EXACT integer moment sums (Σd bigint, Σd² in DECIMAL(38,0) —
    microsecond squares overflow int64 beyond ~2.5-day gaps), so B is
    bit-stable cross-engine.  Population σ (the /n form) keeps the
    identity structure minimal on both engines.

    Scale: one shuffle on event_type (or (type, shard-day) for
    monster types), then constant-size per-type state — the cheapest
    possible shape for a per-key second-moment statistic."""
    gaps = table(spark, sf_dir, "events").select(
        "event_type",
        (
            F.unix_micros("ts")
            - F.lag(F.unix_micros("ts")).over(
                Window.partitionBy("event_type").orderBy(
                    "ts", "event_id"
                )
            )
        ).alias("d"),
    )
    m = (
        gaps.filter(F.col("d").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("d").alias("sd"),
            F.sum(F.col("d").cast("decimal(38,0)") * F.col("d")).alias(
                "sdd"
            ),
        )
    )
    mu = F.col("sd").cast("double") / F.col("n")
    sigma = F.sqrt(
        F.col("sdd").cast("double") / F.col("n")
        - (F.col("sd").cast("double") / F.col("n"))
        * (F.col("sd").cast("double") / F.col("n"))
    )
    s = m.select(
        "event_type",
        "n",
        mu.alias("mu"),
        sigma.alias("sigma"),
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_gaps"),
        F.col("mu").alias("mean_gap_us"),
        F.col("sigma").alias("std_gap_us"),
        (
            (F.col("sigma") - F.col("mu"))
            / (F.col("sigma") + F.col("mu"))
        ).alias("burstiness"),
    )


# ---------------------------------------------------------------------------
# Top event-type paths (behavioral 3-grams)
# ---------------------------------------------------------------------------

#: Number of top paths reported.
PATHS_TOP_K = 20


@register(
    "window_top_event_paths",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type, 1) OVER w AS p1,
               lag(event_type, 2) OVER w AS p2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
        SELECT p2 || '>' || p1 || '>' || event_type AS path,
               count(*) AS n
        FROM seq WHERE p2 IS NOT NULL
        GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS total FROM paths)
    SELECT path,
           CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE) / t.total AS share
    FROM paths, tot t
    ORDER BY n DESC, path
    LIMIT {PATHS_TOP_K}
    """,
    tags=("windowed", "sequence", "behavioral"),
)
def window_top_event_paths(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top behavioral PATHS: the most frequent consecutive 3-event
    sequences per user (A>B>C strings), with counts and share of all
    3-paths — the path-analysis view behind "what do users actually
    do": transitions (the Markov matrix) see one step; paths expose
    the multi-step flows worth optimizing, and a path whose share
    beats the product of its transition probabilities is a genuine
    higher-order pattern (the Markov chain's order-1 assumption
    failing in a named place).  Adjacency is two lag()s under the
    (ts, event_id) tiebreak; the cut is deterministic
    (count desc, path).

    Scale: one user_id shuffle for the lag window; the path table is
    ≤ |types|³ (125 here) so the top-k runs on a domain-bounded
    table — TakeOrderedAndProject, no global sort of anything
    corpus-sized."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = table(spark, sf_dir, "events").select(
        F.col("event_type").alias("e"),
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    )
    paths = (
        seq.filter(F.col("p2").isNotNull())
        .groupBy(
            F.concat_ws(">", "p2", "p1", "e").alias("path")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = paths.agg(F.sum("n").alias("total"))
    return (
        paths.crossJoin(F.broadcast(tot))
        .select(
            "path",
            F.col("n").cast("bigint").alias("n"),
            (F.col("n").cast("double") / F.col("total")).alias(
                "share"
            ),
        )
        .orderBy(F.col("n").desc(), "path")
        .limit(PATHS_TOP_K)
    )


# ---------------------------------------------------------------------------
# Record-breaking days (records test for trend)
# ---------------------------------------------------------------------------


@register(
    "window_record_days_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               SUM(CAST(value AS DECIMAL(18,6))) AS x
        FROM events GROUP BY 1
    ),
    runs AS (
        SELECT day, x,
               row_number() OVER (ORDER BY day) AS t,
               max(x) OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS prev_max
        FROM daily
    ),
    rec AS (
        SELECT day, t,
               CASE WHEN prev_max IS NULL OR x > prev_max
                    THEN 1 ELSE 0 END AS is_record
        FROM runs
    ),
    tot AS (
        SELECT count(*) AS n, SUM(is_record) AS n_records FROM rec
    ),
    harm AS (
        SELECT CAST(SUM(CAST(round(1.0 / k, 12) AS DECIMAL(18,12)))
                    AS DOUBLE) AS h_n
        FROM (SELECT unnest(generate_series(1,
                  (SELECT n FROM tot))) AS k)
    )
    SELECT CAST(rec.day AS VARCHAR) AS day,
           CAST(rec.t AS BIGINT) AS t,
           rec.is_record = 1 AS is_record,
           CAST(tot.n_records AS BIGINT) AS n_records,
           harm.h_n AS expected_records_iid,
           CAST(tot.n_records AS DOUBLE) / harm.h_n
               AS records_ratio
    FROM rec, tot, harm
    """,
    tags=("windowed", "timeseries", "statistics", "trend"),
)
def window_record_days_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Records test for trend: flag every record-breaking revenue day
    (strictly above the running maximum) and compare the record count
    against its exchangeable-series expectation E[R_n] = H_n (the
    harmonic number — under iid, day t is a record with probability
    exactly 1/t) — the assumption-free trend tell that complements
    Mann-Kendall (monotone rank trend) and CUSUM (level shift): a
    records_ratio well above 1 means new highs keep arriving faster
    than chance.  Record flags come from one prefix-max window;
    H_n is a round-12 decimal sum over the day-count frame, so every
    column is bit-stable cross-engine.

    Scale: CALENDAR-sized windows after the map-side-combined daily
    collapse; the harmonic frame is n rows.  Per-key variants
    partition the prefix-max by key."""
    daily = _events_daily(spark, sf_dir)
    prev = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    rec = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).alias("t"),
        F.when(
            F.max("x").over(prev).isNull()
            | (F.col("x") > F.max("x").over(prev)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_record"),
    )
    tot = rec.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("is_record").alias("n_records"),
    )
    n_days = tot.collect()[0]["n"]  # scalar: sizes the harmonic frame
    harm = (
        spark.range(1, n_days + 1)
        .select(
            F.round(F.lit(1.0) / F.col("id"), 12)
            .cast("decimal(18,12)")
            .alias("term")
        )
        .agg(F.sum("term").cast("double").alias("h_n"))
    )
    return (
        rec.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(harm))
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("t").cast("bigint").alias("t"),
            (F.col("is_record") == 1).alias("is_record"),
            F.col("n_records").cast("bigint").alias("n_records"),
            F.col("h_n").alias("expected_records_iid"),
            (
                F.col("n_records").cast("double") / F.col("h_n")
            ).alias("records_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Holt-Winters skill vs seasonal-naive
# ---------------------------------------------------------------------------


@register(
    "window_hw_skill_vs_naive",
    oracle=_HW_ORACLE_CTES + f""",
    fc AS (
        SELECT r.event_type, r.i, d.x,
               p.l + p.b + p.s[1] AS f
        FROM rec r
        JOIN idx d ON d.event_type = r.event_type AND d.i = r.i
        JOIN rec p ON p.event_type = r.event_type AND p.i = r.i - 1
        WHERE r.i > {HW_PERIOD}
    ),
    nv AS (
        SELECT c.event_type, c.i, l7.x AS f7
        FROM idx c JOIN idx l7
          ON l7.event_type = c.event_type
         AND l7.i = c.i - {HW_PERIOD}
    ),
    j AS (
        SELECT fc.event_type, fc.x, fc.f, nv.f7
        FROM fc JOIN nv
          ON nv.event_type = fc.event_type AND nv.i = fc.i
    ),
    agg AS (
        SELECT event_type,
               count(*) AS n,
               SUM(CAST(round(abs(x - f), 6) AS DECIMAL(18,6)))
                   AS sae_hw,
               SUM(CAST(round(abs(x - f7), 6) AS DECIMAL(18,6)))
                   AS sae7,
               SUM(CAST(round((x - f) * (x - f), 6)
                        AS DECIMAL(38,6))) AS sse_hw,
               SUM(CAST(round((x - f7) * (x - f7), 6)
                        AS DECIMAL(38,6))) AS sse7
        FROM j GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_eval,
           CAST(sae_hw AS DOUBLE) / n AS mae_hw,
           CAST(sae7 AS DOUBLE) / n AS mae_naive7,
           (CAST(sae_hw AS DOUBLE) / n)
               / (CAST(sae7 AS DOUBLE) / n) AS mase_hw,
           sqrt(CAST(sse_hw AS DOUBLE) / CAST(sse7 AS DOUBLE))
               AS theil_u2_hw
    FROM agg
    """,
    tags=("windowed", "timeseries", "forecast", "statistics"),
)
def window_hw_skill_vs_naive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-series skill of the Holt-Winters one-step forecasts judged
    against the SEASONAL-naive (lag-7) baseline — MASE and Theil U2
    per event_type over the common evaluation days (t > m, where both
    predictors exist): the model-selection verdict that closes the
    forecasting loop (decomposition strengths say a seasonal model is
    warranted; THIS says whether the fitted recursion actually beats
    the zero-parameter baseline it must outperform to earn its
    keep).  The ENGINE composes two registered kernels — the
    applyInPandas Holt-Winters fold supplies forecasts, the calendar
    lag join supplies the baseline — while the ORACLE extends the
    SHARED _HW_ORACLE_CTES constant (the smoothing op's exact
    recursion, verbatim — the two oracles cannot drift), so forecast
    trajectories in this comparison are bit-identical to the
    smoothing op's own output.  Error sums use the skill-score
    discipline (round-6 absolutes in DECIMAL(18,6), squares in
    DECIMAL(38,6)).

    Scale: the fold parallelizes per series; everything downstream is
    (series × calendar)-sized joins and one grouped aggregate."""
    hw = window_holt_winters_additive(spark, sf_dir).filter(
        F.col("forecast").isNotNull()
    )
    idx = _events_daily(
        spark, sf_dir, dec_sum("value", "x"), by_type=True, index=True
    )
    c, l7 = idx.alias("c"), idx.alias("l7")
    nv = c.join(
        l7,
        (F.col("l7.event_type") == F.col("c.event_type"))
        & (F.col("l7.i") == F.col("c.i") - HW_PERIOD),
    ).select(
        F.col("c.event_type").alias("event_type"),
        F.col("c.i").alias("i"),
        F.col("l7.x").alias("f7"),
    )
    j = hw.select(
        "event_type",
        F.col("idx").alias("i"),
        F.col("revenue").alias("x"),
        F.col("forecast").alias("f"),
    ).join(nv, ["event_type", "i"])
    agg = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.round(F.abs(F.col("x") - F.col("f")), 6).cast(
                "decimal(18,6)"
            )
        ).alias("sae_hw"),
        F.sum(
            F.round(F.abs(F.col("x") - F.col("f7")), 6).cast(
                "decimal(18,6)"
            )
        ).alias("sae7"),
        F.sum(
            F.round(
                (F.col("x") - F.col("f")) * (F.col("x") - F.col("f")),
                6,
            ).cast("decimal(38,6)")
        ).alias("sse_hw"),
        F.sum(
            F.round(
                (F.col("x") - F.col("f7"))
                * (F.col("x") - F.col("f7")),
                6,
            ).cast("decimal(38,6)")
        ).alias("sse7"),
    )
    return agg.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_eval"),
        (F.col("sae_hw").cast("double") / F.col("n")).alias("mae_hw"),
        (F.col("sae7").cast("double") / F.col("n")).alias(
            "mae_naive7"
        ),
        (
            (F.col("sae_hw").cast("double") / F.col("n"))
            / (F.col("sae7").cast("double") / F.col("n"))
        ).alias("mase_hw"),
        F.sqrt(
            F.col("sse_hw").cast("double")
            / F.col("sse7").cast("double")
        ).alias("theil_u2_hw"),
    )


# ---------------------------------------------------------------------------
# Intraday seasonal profile (dow × hour)
# ---------------------------------------------------------------------------


@register(
    "window_intraday_seasonal_profile",
    oracle="""
    WITH cells AS (
        SELECT dayofweek(ts) AS dow,
               CAST(date_part('hour', ts) AS INT) AS hour,
               count(*) AS n,
               SUM(CAST(value AS DECIMAL(18,6))) AS rev
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(rev) AS total FROM cells)
    SELECT CAST(dow AS INT) AS dow,
           hour,
           CAST(n AS BIGINT) AS n_events,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(rev AS DOUBLE) / CAST(n AS DOUBLE)
               AS revenue_per_event,
           CAST(rev AS DOUBLE) / CAST(t.total AS DOUBLE) AS share
    FROM cells, tot t
    """,
    tags=("windowed", "timeseries", "profile"),
)
def window_intraday_seasonal_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Intraday seasonal fingerprint: the day-of-week × hour-of-day
    grid of event counts, exact revenue, revenue-per-event, and
    share-of-total — the 168-cell profile behind capacity planning
    and the finer-grained companion to the weekly decomposition ops
    (they model the DAILY series; this shows where inside the week
    the mass actually sits).  Unlike the decomposition ops (where dow
    is only an internal partition key and each engine's numbering may
    differ), dow is an OUTPUT column here, so the engines must agree:
    Spark's dayofweek() is 1=Sunday..7 while DuckDB's is
    0=Sunday..6 — reconciled by the −1 shift in the engine
    expression, standardizing on the 0-based convention.

    Scale: one map-side-combined groupBy to a 168-cell grid; the
    share divides by the exact decimal total.  Per-key profiles add
    the key to the grid."""
    cells = (
        table(spark, sf_dir, "events")
        .groupBy(
            (F.dayofweek("ts") - F.lit(1)).alias("dow"),
            F.hour("ts").alias("hour"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).alias("rev"),
        )
    )
    tot = cells.agg(F.sum("rev").alias("total"))
    return cells.crossJoin(F.broadcast(tot)).select(
        F.col("dow").cast("int").alias("dow"),
        F.col("hour").cast("int").alias("hour"),
        F.col("n").cast("bigint").alias("n_events"),
        F.col("rev").cast("double").alias("revenue"),
        (
            F.col("rev").cast("double") / F.col("n").cast("double")
        ).alias("revenue_per_event"),
        (
            F.col("rev").cast("double")
            / F.col("total").cast("double")
        ).alias("share"),
    )


# ---------------------------------------------------------------------------
# New-user growth curve
# ---------------------------------------------------------------------------


@register(
    "window_user_growth_curve",
    oracle="""
    WITH first_seen AS (
        SELECT user_id,
               min(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
        FROM events GROUP BY 1
    ),
    daily AS (
        SELECT cohort_day AS day, count(*) AS new_users
        FROM first_seen GROUP BY 1
    ),
    tot AS (SELECT count(*) AS total_users FROM first_seen)
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users,
           CAST(SUM(new_users) OVER (ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               / t.total_users AS penetration
    FROM daily, tot t
    """,
    tags=("windowed", "growth", "behavioral"),
)
def window_user_growth_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """New-user acquisition curve: per day, users seen for the FIRST
    time, the cumulative user base, and penetration of the eventual
    total — the growth chart every product review opens with, and the
    denominator source for the retention/cohort ops (a cohort IS a
    first-seen day).  First-seen is one min-aggregate per user; the
    cumulative window runs over the CALENDAR, so the only
    corpus-scale exchange is the user_id collapse (map-side
    combined).

    Scale: distinct-user state is the same class as the flagship's
    countDistinct; the growth table is calendar-sized.  Penetration's
    denominator is the exact final count — at a streaming deployment
    it becomes the capture-recapture estimate
    (quality_capture_recapture_users) when the base is still
    growing."""
    first_seen = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.min(_event_day()).alias("cohort_day"))
    )
    daily = first_seen.groupBy(
        F.col("cohort_day").alias("day")
    ).agg(F.count(F.lit(1)).alias("new_users"))
    tot = first_seen.agg(F.count(F.lit(1)).alias("total_users"))
    cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.crossJoin(F.broadcast(tot)).select(
        F.col("day").cast("string").alias("day"),
        F.col("new_users").cast("bigint").alias("new_users"),
        F.sum("new_users").over(cum).cast("bigint").alias("cum_users"),
        (
            F.sum("new_users").over(cum).cast("double")
            / F.col("total_users")
        ).alias("penetration"),
    )


# ---------------------------------------------------------------------------
# DAU / WAU / MAU stickiness
# ---------------------------------------------------------------------------

#: Trailing window lengths (days) for WAU and MAU.
WAU_DAYS = 7
MAU_DAYS = 28


@register(
    "window_dau_wau_mau",
    oracle=f"""
    WITH presence AS (
        SELECT DISTINCT user_id,
               CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM presence),
    dau AS (
        SELECT day, count(*) AS dau FROM presence GROUP BY 1
    ),
    wau AS (
        SELECT d.day, count(DISTINCT p.user_id) AS wau
        FROM days d JOIN presence p
          ON p.day > d.day - {WAU_DAYS} AND p.day <= d.day
        GROUP BY d.day
    ),
    mau AS (
        SELECT d.day, count(DISTINCT p.user_id) AS mau
        FROM days d JOIN presence p
          ON p.day > d.day - {MAU_DAYS} AND p.day <= d.day
        GROUP BY d.day
    )
    SELECT CAST(dau.day AS VARCHAR) AS day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           CAST(mau.mau AS BIGINT) AS mau,
           CAST(dau.dau AS DOUBLE) / mau.mau AS stickiness
    FROM dau
    JOIN wau ON wau.day = dau.day
    JOIN mau ON mau.day = dau.day
    """,
    tags=("windowed", "growth", "behavioral"),
)
def window_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-{WAU_DAYS}-day WAU / trailing-{MAU_DAYS}-day
    MAU, plus the DAU/MAU stickiness ratio — the engagement triple
    every growth dashboard tracks (stickiness ≈ what fraction of the
    monthly base shows up on a given day).  Sliding DISTINCT cannot
    map-side combine, so the exact form joins the day frame against
    the (user, day) presence table with a range predicate and
    re-distincts per window — correct, and honestly quadratic in the
    window length.

    Scale: the exact per-day sliding distinct re-counts each user ≤
    {MAU_DAYS} times (presence × window-length fan-out) — acceptable
    because PRESENCE (distinct user-days) is already far smaller than
    events; when even that is too hot, the production swap is
    per-day HLL sketches merged over the trailing window
    (sketch_hll_daily_merge is exactly that kernel, registered and
    bench-checked) — same output shape, ±2% counts.  DAU itself is
    map-side exact."""
    presence = (
        table(spark, sf_dir, "events")
        .select(
            "user_id",
            _event_day().alias("day"),
        )
        .distinct()
    )
    days = presence.select("day").distinct()
    dau = presence.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))

    def trailing(n_days: int, alias: str):
        d, p = days.alias("d"), presence.alias("p")
        return (
            d.join(
                p,
                (F.col("p.day") > F.date_sub(F.col("d.day"), n_days))
                & (F.col("p.day") <= F.col("d.day")),
            )
            .groupBy(F.col("d.day").alias("day"))
            .agg(F.countDistinct("p.user_id").alias(alias))
        )

    wau = trailing(WAU_DAYS, "wau")
    mau = trailing(MAU_DAYS, "mau")
    return (
        dau.join(wau, "day")
        .join(mau, "day")
        .select(
            F.col("day").cast("string").alias("day"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            F.col("mau").cast("bigint").alias("mau"),
            (F.col("dau").cast("double") / F.col("mau")).alias(
                "stickiness"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Ljung-Box test on seasonal-naive residuals
# ---------------------------------------------------------------------------

#: chi-square 5% critical value at dof = ACF_MAX_LAG (= 7).
CHI2_7_005 = 14.067140449340169


@register(
    "window_ljung_box_residuals",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE)
                   - DATE '1970-01-01' AS d,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
        FROM events GROUP BY 1
    ),
    res AS (
        SELECT c.d, c.x - l7.x AS e
        FROM daily c JOIN daily l7 ON l7.d = c.d - 7
    ),
    tot AS (
        SELECT count(*) AS n,
               CAST(SUM(CAST(round(e, 6) AS DECIMAL(18,6)))
                    AS DOUBLE) / count(*) AS mu
        FROM res
    ),
    dev AS (
        SELECT d, e - mu AS v FROM res, tot
    ),
    den AS (
        SELECT SUM(CAST(round(v * v, 6) AS DECIMAL(38,6))) AS s0
        FROM dev
    ),
    ks AS (
        SELECT unnest(generate_series(1, {ACF_MAX_LAG})) AS k
    ),
    num AS (
        SELECT ks.k, count(*) AS n_pairs,
               SUM(CAST(round(a.v * b.v, 6) AS DECIMAL(38,6))) AS sk
        FROM ks JOIN dev a ON TRUE JOIN dev b ON b.d = a.d + ks.k
        GROUP BY ks.k
    ),
    rho AS (
        SELECT k, n_pairs,
               CAST(sk AS DOUBLE) / CAST(s0 AS DOUBLE) AS r
        FROM num, den
    ),
    q AS (
        SELECT CAST(SUM(CAST(round(r * r / n_pairs, 12)
                   AS DECIMAL(18,12))) AS DOUBLE)
                   * t.n * (t.n + 2) AS q_stat
        FROM rho, tot t GROUP BY t.n
    )
    SELECT rho.k AS lag_k,
           CAST(rho.n_pairs AS BIGINT) AS n_pairs,
           rho.r AS acf_resid,
           q.q_stat,
           q.q_stat > {CHI2_7_005} AS autocorrelated_005
    FROM rho, q
    """,
    tags=("windowed", "timeseries", "statistics", "forecast"),
)
def window_ljung_box_residuals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ljung-Box portmanteau test on the SEASONAL-NAIVE residuals —
    Q = n(n+2)·Σ_k ρ̂²_k/n_k over lags 1..{ACF_MAX_LAG}, against the
    χ²₇ 5% point: the residual-whiteness check that closes the
    forecasting loop (skill scores say WHICH model wins; Ljung-Box
    says whether the winner's residuals still hide structure worth
    another term — Q firing on the lag-7 naive's residuals means
    weekly differencing alone is not enough).  Residual ACF reuses
    the key-frame-join kernel on the mean-centered residual series;
    per-lag divisors are the REALIZED pair counts n_k (the honest
    generalization of the textbook n−k to gapped calendars,
    identical on both engines); the Q sum quantizes each term to 12
    decimals.  Emits the per-lag residual ACF with the global Q and
    verdict on every row.

    Scale: calendar-sized residual table × {ACF_MAX_LAG} lags — the
    ACF cost class; per-key variants partition the lag join by key."""
    daily = _events_daily(
        spark, sf_dir, dec_sum("value", "x"), epoch=True
    )
    c, l7 = daily.alias("c"), daily.alias("l7")
    res = c.join(l7, F.col("l7.d") == F.col("c.d") - 7).select(
        F.col("c.d").alias("d"),
        (F.col("c.x") - F.col("l7.x")).alias("e"),
    )
    tot = res.agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.round(F.col("e"), 6).cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("mu"),
    )
    dev = res.crossJoin(F.broadcast(tot)).select(
        "d", (F.col("e") - F.col("mu")).alias("v")
    )
    den = dev.agg(
        F.sum(
            F.round(F.col("v") * F.col("v"), 6).cast("decimal(38,6)")
        ).alias("s0")
    )
    num = _lag_sums(
        dev, range(1, ACF_MAX_LAG + 1), "v", "v", "decimal(38,6)"
    )
    rho = num.crossJoin(F.broadcast(den)).select(
        "k",
        "n_pairs",
        (F.col("sk").cast("double") / F.col("s0").cast("double")).alias(
            "r"
        ),
    )
    q = (
        rho.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.sum(
                F.round(
                    F.col("r") * F.col("r") / F.col("n_pairs"), 12
                ).cast("decimal(18,12)")
            )
            .cast("double")
            .alias("ssum")
        )
        .select(
            (
                F.col("ssum") * F.col("n") * (F.col("n") + F.lit(2))
            ).alias("q_stat")
        )
    )
    return rho.crossJoin(F.broadcast(q)).select(
        F.col("k").cast("int").alias("lag_k"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("r").alias("acf_resid"),
        "q_stat",
        (F.col("q_stat") > F.lit(CHI2_7_005)).alias(
            "autocorrelated_005"
        ),
    )


# ---------------------------------------------------------------------------
# Cohort LTV (cumulative revenue per user by cohort age)
# ---------------------------------------------------------------------------

#: Weekly cohort-age buckets reported by the LTV curve.
LTV_AGE_WEEKS = 4


@register(
    "window_cohort_ltv_curve",
    oracle=f"""
    WITH first_seen AS (
        SELECT user_id,
               min(CAST(date_trunc('day', ts) AS DATE)) AS cohort_day
        FROM events GROUP BY 1
    ),
    cohorts AS (
        SELECT CAST(date_trunc('week', cohort_day) AS DATE)
                   AS cohort_week,
               user_id
        FROM first_seen
    ),
    sizes AS (
        SELECT cohort_week, count(*) AS cohort_users
        FROM cohorts GROUP BY 1
    ),
    rev AS (
        SELECT c.cohort_week,
               CAST((CAST(date_trunc('day', e.ts) AS DATE)
                     - c2.cohort_day) // 7 AS INT) AS age_week,
               SUM(CAST(e.value AS DECIMAL(18,6))) AS wrev
        FROM events e
        JOIN first_seen c2 ON c2.user_id = e.user_id
        JOIN cohorts c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT cohort_week, age_week, wrev,
               SUM(wrev) OVER (PARTITION BY cohort_week
                               ORDER BY age_week
                               ROWS UNBOUNDED PRECEDING) AS crev
        FROM rev WHERE age_week < {LTV_AGE_WEEKS}
    )
    SELECT CAST(cum.cohort_week AS VARCHAR) AS cohort_week,
           cum.age_week,
           CAST(s.cohort_users AS BIGINT) AS cohort_users,
           CAST(cum.wrev AS DOUBLE) AS week_revenue,
           CAST(cum.crev AS DOUBLE) AS cum_revenue,
           CAST(cum.crev AS DOUBLE) / s.cohort_users
               AS ltv_per_user
    FROM cum JOIN sizes s ON s.cohort_week = cum.cohort_week
    """,
    tags=("windowed", "growth", "behavioral", "cohort"),
)
def window_cohort_ltv_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohort LTV curve: purchase revenue per weekly first-seen
    cohort, bucketed by cohort AGE (weeks since each user's first
    event) and cumulated — ltv_per_user is the number a growth team
    projects payback from, and the revenue-weighted completion of the
    cohort family (window_retention_cohorts counts WHO returns;
    Kaplan-Meier models WHEN they stop; this prices WHAT they spend
    while alive).  Cohort assignment is the user's first-seen day
    (the growth-curve convention); age is integer floor-division of
    day deltas, revenue sums are exact decimals, and the cumulative
    window partitions by cohort.

    Scale: one first-seen collapse (map-side combined), one join of
    purchases to their users' cohort rows (user-keyed), then all
    windows run over the (cohort × age) grid — weeks², never
    event-scale.  Ages ≥ {LTV_AGE_WEEKS} weeks truncate (the
    reported-horizon convention; the grid is already complete for
    shorter ages)."""
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(_event_day()).alias("cohort_day")
    )
    cohorts = first_seen.select(
        "user_id",
        "cohort_day",
        F.date_trunc("week", "cohort_day").cast("date").alias(
            "cohort_week"
        ),
    )
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            F.expr(
                "CAST(datediff(CAST(date_trunc('day', ts) AS DATE),"
                " cohort_day) div 7 AS INT)"
            ).alias("age_week"),
        )
        .agg(F.sum(dec("value")).alias("wrev"))
        .filter(F.col("age_week") < LTV_AGE_WEEKS)
    )
    cum = rev.select(
        "cohort_week",
        "age_week",
        "wrev",
        F.sum("wrev")
        .over(
            Window.partitionBy("cohort_week")
            .orderBy("age_week")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("crev"),
    )
    return cum.join(F.broadcast(sizes), "cohort_week").select(
        F.col("cohort_week").cast("string").alias("cohort_week"),
        F.col("age_week").cast("int").alias("age_week"),
        F.col("cohort_users").cast("bigint").alias("cohort_users"),
        F.col("wrev").cast("double").alias("week_revenue"),
        F.col("crev").cast("double").alias("cum_revenue"),
        (
            F.col("crev").cast("double") / F.col("cohort_users")
        ).alias("ltv_per_user"),
    )


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard + log-rank cohort comparison
# ---------------------------------------------------------------------------

#: Shared lifetimes CTEs (user first->last active day, right-censored
#: at the horizon) — the SQL twin of ``_user_lifetimes``, reused by the
#: Nelson-Aalen and log-rank oracles.
_LIFE_CTES = """by_user AS (
        SELECT user_id,
               min(CAST(date_trunc('day', ts) AS DATE)) AS d0,
               max(CAST(date_trunc('day', ts) AS DATE)) AS d1
        FROM events GROUP BY 1
    ),
    horizon AS (SELECT max(d1) AS h FROM by_user),
    life AS (
        SELECT user_id, d1 - d0 AS t,
               CASE WHEN d1 = h.h THEN 1 ELSE 0 END AS censored
        FROM by_user, horizon h
    )"""


@register(
    "window_nelson_aalen_hazard",
    oracle=f"""
    WITH {_LIFE_CTES},
    n_tot AS (SELECT count(*) AS n FROM life),
    steps AS (
        SELECT t, SUM(1 - censored) AS d, SUM(censored) AS c
        FROM life GROUP BY t
    ),
    risk AS (
        SELECT t, d, c,
               n_tot.n - (SUM(d + c) OVER (ORDER BY t) - (d + c))
                   AS n_at_risk
        FROM steps, n_tot
    )
    SELECT CAST(t AS INT) AS t_days,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           CAST(d AS BIGINT) AS d_events,
           CAST(c AS BIGINT) AS c_censored,
           CAST(d AS DOUBLE) / n_at_risk AS hazard_step,
           CAST(SUM(CAST(round(
                    CAST(d AS DOUBLE) / n_at_risk, 6)
                AS DECIMAL(18,6))) OVER (ORDER BY t) AS DOUBLE)
               AS cum_hazard,
           CAST(SUM(CAST(round(
                    CAST((n_at_risk - d) * d AS DOUBLE)
                    / (CAST(n_at_risk AS DOUBLE) * n_at_risk * n_at_risk),
                    12)
                AS DECIMAL(18,12))) OVER (ORDER BY t) AS DOUBLE)
               AS cum_var
    FROM risk WHERE d > 0
    """,
    tags=("windowed", "survival", "statistics"),
)
def window_nelson_aalen_hazard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nelson-Aalen cumulative hazard over user lifetimes — the
    Kaplan-Meier curve's additive twin: H(t) = sum d_i/n_i needs no
    product aggregate and no log/exp at all, so unlike the KM curve it
    is reported DIRECTLY (plus Klein's variance estimator
    sum (n_i-d_i)d_i/n_i^3, the confidence-band input).  The hazard
    plot is the churn diagnostic the survival family was missing: a
    flattening H(t) says churn risk concentrates early, a straight
    line says constant risk — the retention-strategy fork.

    Exactness: per-step terms are exact-integer ratios quantized to
    round-6 (hazard) / round-12 (variance) DECIMAL before the
    cumulative sum, the same iterative-float rule as the KM log curve;
    unlike KM, absorbed steps (d = n_at_risk) stay — hazard 1 is
    well-defined where ln 0 was not.

    Scale: identical bound to the KM op — one groupBy(user) to
    lifetimes, then everything runs on the risk_table step table
    (calendar-sized), via the SAME shared kernel (reuse
    guard-tested)."""
    life = _user_lifetimes(spark, sf_dir)

    risk = risk_table(life).filter(F.col("d") > 0)
    wlog = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    hazard = F.col("d").cast("double") / F.col("n_at_risk")
    var_term = (
        (F.col("n_at_risk") - F.col("d")) * F.col("d")
    ).cast("double") / (
        F.col("n_at_risk").cast("double")
        * F.col("n_at_risk")
        * F.col("n_at_risk")
    )
    return risk.select(
        F.col("t").cast("int").alias("t_days"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").cast("bigint").alias("d_events"),
        F.col("c").cast("bigint").alias("c_censored"),
        hazard.alias("hazard_step"),
        F.sum(F.round(hazard, 6).cast("decimal(18,6)"))
        .over(wlog)
        .cast("double")
        .alias("cum_hazard"),
        F.sum(F.round(var_term, 12).cast("decimal(18,12)"))
        .over(wlog)
        .cast("double")
        .alias("cum_var"),
    )


#: z_{0.975} for the log-rank verdict (same literal as the U/Welch
#: gates in operators/quality_edf.py).
LOGRANK_Z_CRIT_005 = 1.959963984540054


@register(
    "window_logrank_test_cohorts",
    oracle=f"""
    WITH {_LIFE_CTES},
    glife AS (
        SELECT user_id % 2 AS g, t, censored FROM life
    ),
    steps AS (
        SELECT g, t, SUM(1 - censored) AS d, SUM(censored) AS c
        FROM glife GROUP BY 1, 2
    ),
    ng AS (SELECT g, SUM(d + c) AS n FROM steps GROUP BY g),
    times AS (SELECT DISTINCT t FROM steps),
    grid AS (
        SELECT gg.g, times.t,
               COALESCE(s.d, 0) AS d, COALESCE(s.c, 0) AS c
        FROM times
        CROSS JOIN (SELECT 0 AS g UNION ALL SELECT 1) gg
        LEFT JOIN steps s ON s.g = gg.g AND s.t = times.t
    ),
    risk AS (
        SELECT grid.g, grid.t, grid.d,
               ng.n - (SUM(grid.d + grid.c) OVER (
                   PARTITION BY grid.g ORDER BY grid.t
               ) - (grid.d + grid.c)) AS n_at_risk
        FROM grid JOIN ng ON ng.g = grid.g
    ),
    pooled AS (
        SELECT t,
               SUM(CASE WHEN g = 0 THEN d ELSE 0 END) AS d1,
               SUM(CASE WHEN g = 0 THEN n_at_risk ELSE 0 END) AS n1,
               SUM(d) AS d,
               SUM(n_at_risk) AS n
        FROM risk GROUP BY t
    ),
    terms AS (
        SELECT SUM(d1) AS o1,
               SUM(CAST(round(
                   CAST(d AS DOUBLE) * n1 / n, 6) AS DECIMAL(18,6)))
                   AS e1,
               SUM(CAST(round(
                   (CAST(d AS DOUBLE) * n1 / n)
                   * (1.0 - CAST(n1 AS DOUBLE) / n)
                   * ((n - d) / (n - 1.0)),
                   12) AS DECIMAL(18,12))) AS v
        FROM pooled WHERE d > 0 AND n > 1
    )
    SELECT CAST(na.n AS BIGINT) AS n_users_a,
           CAST(nb.n AS BIGINT) AS n_users_b,
           CAST(terms.o1 AS BIGINT) AS o_a,
           CAST(terms.e1 AS DOUBLE) AS e_a,
           CAST(terms.v AS DOUBLE) AS v,
           (CAST(terms.o1 AS DOUBLE) - CAST(terms.e1 AS DOUBLE))
               / sqrt(CAST(terms.v AS DOUBLE)) AS z,
           abs((CAST(terms.o1 AS DOUBLE) - CAST(terms.e1 AS DOUBLE))
               / sqrt(CAST(terms.v AS DOUBLE)))
               > {LOGRANK_Z_CRIT_005} AS survival_differs
    FROM terms,
         (SELECT n FROM ng WHERE g = 0) na,
         (SELECT n FROM ng WHERE g = 1) nb
    """,
    tags=("windowed", "survival", "statistics"),
)
def window_logrank_test_cohorts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Log-rank (Mantel-Cox) test between two user cohorts (A/B
    assignment by user-id parity — the deterministic stand-in for a
    randomized experiment bucket): does cohort A churn at a different
    rate than cohort B, accounting for right-censoring?  This is the
    survival-analysis member of the A/B family (the two-proportion z
    gate compares one-shot rates; log-rank compares entire hazard
    HISTORIES), and the standard primary test for retention
    experiments.  At each pooled event time, cohort A's observed
    deaths are compared to the hypergeometric expectation d*n1/n given
    the pooled risk set; z = (O-E)/sqrt(V) with the standard variance.

    Exactness: every per-time input (d, n1, n) is an exact integer off
    the shared risk-set logic; the E and V terms are quantized
    (round-6 / round-12 DECIMAL) before order-independent sums; z is
    one fixed IEEE chain mirrored textually.

    Scale: one groupBy(user) to lifetimes, one groupBy(cohort, t) to
    steps, then ALL work is on the (calendar x 2)-sized grid — the
    zero-filled grid join keeps each cohort's at-risk count defined at
    every pooled event time without a per-user scan."""
    life = _user_lifetimes(
        spark, sf_dir, (F.col("user_id") % 2).alias("g")
    )
    steps = life.groupBy("g", "t").agg(
        F.sum(F.lit(1) - F.col("censored")).alias("d"),
        F.sum("censored").alias("c"),
    )
    ng = steps.groupBy("g").agg(F.sum(F.col("d") + F.col("c")).alias("n"))
    times = steps.select("t").distinct()
    groups = spark.range(2).select(F.col("id").cast("bigint").alias("g"))
    grid = (
        times.crossJoin(F.broadcast(groups))
        .join(steps, ["g", "t"], "left")
        .select(
            "g",
            "t",
            F.coalesce(F.col("d"), F.lit(0)).alias("d"),
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    wcum = (
        Window.partitionBy("g")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = grid.join(F.broadcast(ng), "g").select(
        "g",
        "t",
        "d",
        (
            F.col("n")
            - (
                F.sum(F.col("d") + F.col("c")).over(wcum)
                - (F.col("d") + F.col("c"))
            )
        ).alias("n_at_risk"),
    )
    pooled = risk.groupBy("t").agg(
        F.sum(F.when(F.col("g") == 0, F.col("d")).otherwise(0)).alias("d1"),
        F.sum(
            F.when(F.col("g") == 0, F.col("n_at_risk")).otherwise(0)
        ).alias("n1"),
        F.sum("d").alias("d"),
        F.sum("n_at_risk").alias("n"),
    )
    e_term = F.col("d").cast("double") * F.col("n1") / F.col("n")
    v_term = (
        e_term
        * (F.lit(1.0) - F.col("n1").cast("double") / F.col("n"))
        * ((F.col("n") - F.col("d")) / (F.col("n") - F.lit(1.0)))
    )
    terms = pooled.filter((F.col("d") > 0) & (F.col("n") > 1)).agg(
        F.sum("d1").alias("o1"),
        F.sum(F.round(e_term, 6).cast("decimal(18,6)")).alias("e1"),
        F.sum(F.round(v_term, 12).cast("decimal(18,12)")).alias("v"),
    )
    na = ng.filter(F.col("g") == 0).select(F.col("n").alias("n_users_a"))
    nb = ng.filter(F.col("g") == 1).select(F.col("n").alias("n_users_b"))
    z = (
        F.col("o1").cast("double") - F.col("e1").cast("double")
    ) / F.sqrt(F.col("v").cast("double"))
    return (
        terms.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("n_users_a").cast("bigint").alias("n_users_a"),
            F.col("n_users_b").cast("bigint").alias("n_users_b"),
            F.col("o1").cast("bigint").alias("o_a"),
            F.col("e1").cast("double").alias("e_a"),
            F.col("v").cast("double").alias("v"),
            z.alias("z"),
            (F.abs(z) > LOGRANK_Z_CRIT_005).alias("survival_differs"),
        )
    )


# ---------------------------------------------------------------------------
# Holt-Winters MULTIPLICATIVE — the seasonal-amplitude-scales-with-level twin
# ---------------------------------------------------------------------------


def _holt_winters_mult_fold(pdf):
    """Per-series Holt-Winters MULTIPLICATIVE fold (alpha = beta =
    gamma = 1/2) inside applyInPandas — the ratio twin of
    `_holt_winters_fold`, same C-style half-away round-6 per step so
    the trajectory is bit-identical to the oracle's list-state
    recursive CTE.  Initialization: l_m = mean(x_1..m) (round-6, exact
    micro-unit integer sum / double division), b_m = (mean2 - mean1)/m
    (round-6), s_i = x_i / mean1 (round-6 RATIOS).  Multiplicative
    smoothing is only defined on strictly positive data: series with
    any x <= 0 in view, or shorter than 2m, emit nothing (the
    oracle's HAVING mirrors both gates)."""
    import pandas as pd

    m = HW_PERIOD

    cols = [
        "event_type",
        "day",
        "idx",
        "revenue",
        "level",
        "trend",
        "seasonal",
        "forecast",
        "residual",
    ]
    pdf = pdf.sort_values("i").reset_index(drop=True)
    if len(pdf) < 2 * m or (pdf["x"] <= 0).any():
        return pd.DataFrame(columns=cols)
    xs = list(pdf["x"])
    micro = [
        int(math.floor(abs(x) * 1e6 + 0.5)) * (1 if x >= 0 else -1)
        for x in xs
    ]
    m1 = (sum(micro[:m]) / 1e6) / m
    m2 = (sum(micro[m : 2 * m]) / 1e6) / m
    l_prev = _r6(m1)
    b_prev = _r6((m2 - m1) / m)
    s = [_r6(xs[i] / m1) for i in range(m)]
    out = [(m, xs[m - 1], l_prev, b_prev, s[m - 1], None, None)]
    for t in range(m + 1, len(xs) + 1):
        x = xs[t - 1]
        s_use = s[0]
        f = (l_prev + b_prev) * s_use
        l_new = _r6(0.5 * (x / s_use) + 0.5 * (l_prev + b_prev))
        b_new = _r6(0.5 * (l_new - l_prev) + 0.5 * b_prev)
        s_new = _r6(0.5 * (x / l_new) + 0.5 * s_use)
        out.append((t, x, l_new, b_new, s_new, f, x - f))
        l_prev, b_prev = l_new, b_new
        s = s[1:] + [s_new]
    res = pd.DataFrame(
        out,
        columns=[
            "idx",
            "revenue",
            "level",
            "trend",
            "seasonal",
            "forecast",
            "residual",
        ],
    )
    res.insert(0, "event_type", pdf["event_type"].iloc[0])
    res.insert(
        1, "day", list(pdf["day"].iloc[m - 1 : len(xs)])
    )
    return res[cols]


_HWM_ORACLE_CTES = f"""
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT event_type, day, x,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY day) AS i
        FROM daily
    ),
    means AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN i <= {HW_PERIOD}
                        THEN CAST(round(x, 6) AS DECIMAL(18,6)) END)
                    AS DOUBLE) / {HW_PERIOD} AS m1,
               CAST(SUM(CASE WHEN i > {HW_PERIOD}
                              AND i <= {2 * HW_PERIOD}
                        THEN CAST(round(x, 6) AS DECIMAL(18,6)) END)
                    AS DOUBLE) / {HW_PERIOD} AS m2
        FROM idx GROUP BY event_type
        HAVING max(i) >= {2 * HW_PERIOD} AND min(x) > 0
    ),
    sinit AS (
        SELECT idx.event_type,
               list(round(x / m1, 6) ORDER BY i) AS s
        FROM idx JOIN means USING (event_type)
        WHERE i <= {HW_PERIOD}
        GROUP BY idx.event_type
    ),
    rec(event_type, i, l, b, s) AS (
        SELECT m.event_type, {HW_PERIOD},
               round(m.m1, 6),
               round((m.m2 - m.m1) / {HW_PERIOD}, 6),
               si.s
        FROM means m JOIN sinit si USING (event_type)
        UNION ALL
        SELECT r.event_type, r.i + 1,
               round(0.5 * (d.x / r.s[1]) + 0.5 * (r.l + r.b), 6),
               round(0.5 * (round(0.5 * (d.x / r.s[1])
                                  + 0.5 * (r.l + r.b), 6) - r.l)
                     + 0.5 * r.b, 6),
               list_append(r.s[2:],
                   round(0.5 * (d.x / round(0.5 * (d.x / r.s[1])
                                            + 0.5 * (r.l + r.b), 6))
                         + 0.5 * r.s[1], 6))
        FROM rec r JOIN idx d
          ON d.event_type = r.event_type AND d.i = r.i + 1
    )"""


@register(
    "window_holt_winters_multiplicative",
    oracle=_HWM_ORACLE_CTES + f"""
    SELECT r.event_type,
           CAST(d.day AS VARCHAR) AS day,
           CAST(r.i AS BIGINT) AS idx,
           d.x AS revenue,
           r.l AS level,
           r.b AS trend,
           r.s[{HW_PERIOD}] AS seasonal,
           CASE WHEN r.i = {HW_PERIOD} THEN NULL
                ELSE (p.l + p.b) * p.s[1] END AS forecast,
           CASE WHEN r.i = {HW_PERIOD} THEN NULL
                ELSE d.x - (p.l + p.b) * p.s[1] END AS residual
    FROM rec r
    JOIN idx d ON d.event_type = r.event_type AND d.i = r.i
    LEFT JOIN rec p
      ON p.event_type = r.event_type AND p.i = r.i - 1
    """,
    tags=("windowed", "timeseries", "forecast", "stateful"),
)
def window_holt_winters_multiplicative(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holt-Winters MULTIPLICATIVE smoothing of per-event-type daily
    revenue, alpha = beta = gamma = 1/2, weekly period m = {HW_PERIOD}
    — the model for series whose seasonal swing GROWS with the level
    (a doubling business doubles its weekend dip in dollars, not in
    ratio).  The additive op models x_t = l + b + s; this models
    x_t = (l + b) * s with seasonal RATIOS:
    l_t = alpha(x_t / s_(t-m)) + (1-alpha)(l_(t-1) + b_(t-1)),
    b_t = beta(l_t - l_(t-1)) + (1-beta)b_(t-1),
    s_t = gamma(x_t / l_t) + (1-gamma)s_(t-m),
    f_t = (l_(t-1) + b_(t-1)) * s_(t-m).
    Defined only on strictly positive series (both gates — 2m length
    and min(x) > 0 — mirrored engine/oracle).

    Same machinery as the additive twin: one applyInPandas fold per
    series with (m+2)-dim state and round-6 per step, oracle as a
    list-state recursive CTE threading the seasonal vector through
    recursion; initialization s_i = x_i / mean(cycle1) as round-6
    ratios.

    Scale: identical to the additive op — per-series linear fold,
    O(m) state, series parallelize across tasks; at 100 TB a million
    series is a million independent folds."""
    idx = _events_daily(
        spark, sf_dir, dec_sum("value", "x"), by_type=True, index=True
    ).withColumn("day", F.col("day").cast("string"))
    return idx.groupBy("event_type").applyInPandas(
        _holt_winters_mult_fold,
        schema=(
            "event_type string, day string, idx bigint, "
            "revenue double, level double, trend double, "
            "seasonal double, forecast double, residual double"
        ),
    )


# ---------------------------------------------------------------------------
# Croston intermittent-demand forecast — declarative via dyadic weights
# ---------------------------------------------------------------------------

#: Syntetos-Boylan bias correction factor 1 - alpha/2 at alpha = 1/2.
CROSTON_SBA_FACTOR = 0.75

#: Exponent cap for the dyadic smoothing weights: 2^-62 is far below
#: the round-6 quantum, so capping keeps the shift inside BIGINT while
#: changing no rounded term.
_CROSTON_MAX_SHIFT = 62


@register(
    "window_croston_intermittent",
    oracle=f"""
    WITH weekly AS (
        SELECT l_partkey AS part,
               (CAST(date_trunc('week', l_shipdate) AS DATE)
                    - DATE '1970-01-01' - 4) // 7 AS t,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,6)))
                    AS DOUBLE) AS z
        FROM lineitem GROUP BY 1, 2
    ),
    seq AS (
        SELECT part, t, z,
               row_number() OVER (PARTITION BY part ORDER BY t) AS j,
               t - lag(t) OVER (PARTITION BY part ORDER BY t) AS gap
        FROM weekly
    ),
    tot AS (
        SELECT part, max(j) AS jn, max(t) AS t_last
        FROM seq GROUP BY part
    ),
    terms AS (
        SELECT s.part, tot.jn, tot.t_last,
               round(s.z / CAST(1::BIGINT << LEAST(
                   CASE WHEN s.j = 1 THEN tot.jn - 1
                        ELSE tot.jn - s.j + 1 END,
                   {_CROSTON_MAX_SHIFT}) AS DOUBLE), 6) AS zw,
               round(CAST(CASE WHEN s.j = 1 THEN 1
                          ELSE s.gap END AS DOUBLE)
                     / CAST(1::BIGINT << LEAST(
                   CASE WHEN s.j = 1 THEN tot.jn - 1
                        ELSE tot.jn - s.j + 1 END,
                   {_CROSTON_MAX_SHIFT}) AS DOUBLE), 6) AS pw
        FROM seq s JOIN tot ON tot.part = s.part
    ),
    agg AS (
        SELECT part, any_value(jn) AS n_demands,
               any_value(t_last) AS last_week,
               CAST(SUM(CAST(zw AS DECIMAL(38,6))) AS DOUBLE) AS z_hat,
               CAST(SUM(CAST(pw AS DECIMAL(38,6))) AS DOUBLE) AS p_hat
        FROM terms GROUP BY part
    )
    SELECT CAST(part AS BIGINT) AS part,
           CAST(n_demands AS BIGINT) AS n_demands,
           CAST(last_week AS BIGINT) AS last_week,
           z_hat, p_hat,
           z_hat / p_hat AS croston_forecast,
           {CROSTON_SBA_FACTOR} * (z_hat / p_hat) AS sba_forecast
    FROM agg
    """,
    tags=("windowed", "timeseries", "forecast"),
)
def window_croston_intermittent(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Croston's method per part over weekly order quantities — THE
    forecaster for intermittent demand (TPC-H parts ship in ~8% of
    weeks; simple exponential smoothing on the zero-filled series
    collapses toward zero and spikes after each demand).  Croston
    smooths two series over DEMAND OCCURRENCES only: sizes z_j and
    inter-demand intervals p_j (weeks; p_1 = 1 by convention), each
    with alpha = 1/2, and forecasts z_hat/p_hat units per week; the
    Syntetos-Boylan variant multiplies by (1 - alpha/2) = {CROSTON_SBA_FACTOR}
    to undo Croston's positive bias.

    The alpha = 1/2 recursion is made DECLARATIVE by its closed form:
    z_hat_J = z_1/2^(J-1) + sum_(j>=2) z_j/2^(J-j+1) — dyadic weights
    computed as exact bit-shifted BIGINT divisors (shift capped at
    {_CROSTON_MAX_SHIFT}; weights below the cap round to 0 at 6
    decimals anyway), term round-6, DECIMAL(38,6) sum.  No fold, no
    recursive CTE: one window pass for (j, gap), one weighted
    aggregate.  Week index is the exact integer (epoch_days - 4)/7
    (Mondays are ≡ 4 mod 7 from 1970-01-01).

    Scale: groupBy(part, week) with map-side combine, a per-part
    window over demand occurrences only (~J rows per part, J ~ tens),
    one aggregate — a million-part catalog is a million independent
    J-row series, nothing global."""
    weekly = (
        table(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("part"),
            (
                (
                    F.datediff(
                        F.date_trunc("week", "l_shipdate").cast("date"),
                        F.lit("1970-01-01").cast("date"),
                    )
                    - 4
                )
                / 7
            )
            .cast("bigint")
            .alias("t"),
        )
        .agg(F.sum(dec("l_quantity")).cast("double").alias("z"))
    )
    w = Window.partitionBy("part").orderBy("t")
    seq = weekly.select(
        "part",
        "t",
        "z",
        F.row_number().over(w).alias("j"),
        (F.col("t") - F.lag("t").over(w)).alias("gap"),
    )
    tot = seq.groupBy("part").agg(
        F.max("j").alias("jn"), F.max("t").alias("t_last")
    )
    s = seq.join(tot, "part")
    shift = F.least(
        F.when(F.col("j") == 1, F.col("jn") - 1).otherwise(
            F.col("jn") - F.col("j") + 1
        ),
        F.lit(_CROSTON_MAX_SHIFT),
    )
    # shiftleft with a COLUMN bit count only exists in SQL form; the
    # divisor 2^shift stays an exact BIGINT (shift <= 62).
    s = s.withColumn("shift", shift.cast("int"))
    divisor = F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), shift) AS DOUBLE)"
    )
    p_j = F.when(F.col("j") == 1, F.lit(1)).otherwise(F.col("gap"))
    terms = s.select(
        "part",
        "jn",
        "t_last",
        F.round(F.col("z") / divisor, 6).alias("zw"),
        F.round(p_j.cast("double") / divisor, 6).alias("pw"),
    )
    agg = terms.groupBy("part").agg(
        F.any_value("jn").alias("n_demands"),
        F.any_value("t_last").alias("last_week"),
        F.sum(F.col("zw").cast("decimal(38,6)"))
        .cast("double")
        .alias("z_hat"),
        F.sum(F.col("pw").cast("decimal(38,6)"))
        .cast("double")
        .alias("p_hat"),
    )
    fc = F.col("z_hat") / F.col("p_hat")
    return agg.select(
        F.col("part").cast("bigint").alias("part"),
        F.col("n_demands").cast("bigint").alias("n_demands"),
        F.col("last_week").cast("bigint").alias("last_week"),
        "z_hat",
        "p_hat",
        fc.alias("croston_forecast"),
        (F.lit(CROSTON_SBA_FACTOR) * fc).alias("sba_forecast"),
    )


@register(
    "window_seasonal_mann_kendall",
    oracle=f"""
    WITH daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE)
                   - DATE '1970-01-01' AS d,
               SUM(CAST(value AS DECIMAL(18,6))) AS x
        FROM events GROUP BY 1, 2
    ),
    seas AS (SELECT event_type, d, d % 7 AS w, x FROM daily),
    pairs AS (
        SELECT a.event_type,
               CASE WHEN b.x > a.x THEN 1
                    WHEN b.x < a.x THEN -1 ELSE 0 END AS sg
        FROM seas a JOIN seas b
          ON a.event_type = b.event_type AND a.w = b.w AND a.d < b.d
    ),
    s_stat AS (
        SELECT event_type, CAST(SUM(sg) AS BIGINT) AS s
        FROM pairs GROUP BY event_type
    ),
    nn AS (
        SELECT event_type, w, count(*) AS n
        FROM seas GROUP BY 1, 2
    ),
    tie_groups AS (
        SELECT event_type, w, x, count(*) AS t
        FROM seas GROUP BY 1, 2, 3 HAVING count(*) > 1
    ),
    ties AS (
        SELECT n.event_type, n.w, n.n,
               COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS ts
        FROM nn n LEFT JOIN tie_groups g
          ON g.event_type = n.event_type AND g.w = n.w
        GROUP BY n.event_type, n.w, n.n
    ),
    var_t AS (
        SELECT event_type,
               CAST(SUM(n) AS BIGINT) AS n_days,
               CAST(SUM(n * (n - 1) * (2 * n + 5) - ts) AS DOUBLE)
                   / 18.0 AS var_s
        FROM ties GROUP BY event_type
    )
    SELECT v.event_type,
           v.n_days,
           s.s AS s_stat,
           v.var_s,
           CASE WHEN s.s > 0 THEN (s.s - 1) / sqrt(v.var_s)
                WHEN s.s < 0 THEN (s.s + 1) / sqrt(v.var_s)
                ELSE 0.0 END AS z_stat,
           abs(CASE WHEN s.s > 0 THEN (s.s - 1) / sqrt(v.var_s)
                    WHEN s.s < 0 THEN (s.s + 1) / sqrt(v.var_s)
                    ELSE 0.0 END) > {1.959963984540054} AS trend_005
    FROM var_t v JOIN s_stat s USING (event_type)
    """,
    tags=("windowed", "timeseries", "statistics"),
)
def window_seasonal_mann_kendall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SEASONAL Mann-Kendall trend test (Hirsch-Slack) on per-event-
    type daily revenue — the deseasonalized twin of the plain MK gate:
    sign comparisons are made only WITHIN each weekday (Monday vs
    other Mondays, never Monday vs Saturday), so a strong weekly cycle
    — which inflates the plain test's pair disagreements and masks a
    slow drift — cancels out entirely.  S = sum of per-season S_w,
    Var(S) = sum of per-season tie-corrected variances (seasons are
    independent under H0), continuity-corrected z as in the plain op.

    Exactness: identical discipline to window_mann_kendall_trend —
    exact decimal revenues give exact signs, all S and tie sums are
    BIGINTs, season index is the exact integer d % 7 on epoch days,
    and z is one mirrored IEEE chain.

    Scale: the per-season pair join is 7x CHEAPER than the plain MK's
    (sum over seasons of (n/7)^2 vs n^2 pairs per series); everything
    else is calendar-bounded map-side-combined aggregation."""
    from kafka_stream_processing_spark.operators.quality_kernel import (
        Z_CRIT_005,
    )
    daily = _events_daily(spark, sf_dir, by_type=True, epoch=True)
    seas = daily.select(
        "event_type", "d", (F.col("d") % 7).alias("w"), "x"
    )
    a, b = seas.alias("a"), seas.alias("b")
    pairs = a.join(b, ["event_type", "w"]).filter(
        F.col("a.d") < F.col("b.d")
    ).select(
        "event_type",
        F.when(F.col("b.x") > F.col("a.x"), F.lit(1))
        .when(F.col("b.x") < F.col("a.x"), F.lit(-1))
        .otherwise(F.lit(0))
        .alias("sg"),
    )
    s_stat = pairs.groupBy("event_type").agg(
        F.sum("sg").cast("bigint").alias("s")
    )
    nn = seas.groupBy("event_type", "w").agg(
        F.count(F.lit(1)).alias("n")
    )
    tie_groups = (
        seas.groupBy("event_type", "w", "x")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(F.col("t") > 1)
    )
    ties = (
        nn.join(tie_groups, ["event_type", "w"], "left")
        .groupBy("event_type", "w", "n")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("t")
                    * (F.col("t") - 1)
                    * (2 * F.col("t") + 5)
                ),
                F.lit(0),
            ).alias("ts")
        )
    )
    var_t = ties.groupBy("event_type").agg(
        F.sum("n").cast("bigint").alias("n_days"),
        (
            F.sum(
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("ts")
            ).cast("double")
            / F.lit(18.0)
        ).alias("var_s"),
    )
    j = var_t.join(s_stat, "event_type")
    z = (
        F.when(
            F.col("s") > 0,
            (F.col("s") - 1) / F.sqrt(F.col("var_s")),
        )
        .when(
            F.col("s") < 0,
            (F.col("s") + 1) / F.sqrt(F.col("var_s")),
        )
        .otherwise(F.lit(0.0))
    )
    return j.select(
        "event_type",
        "n_days",
        F.col("s").alias("s_stat"),
        "var_s",
        z.alias("z_stat"),
        (F.abs(z) > F.lit(Z_CRIT_005)).alias("trend_005"),
    )


@register(
    "window_theil_inequality_decomposition",
    oracle="""
    WITH cust AS (
        SELECT c_custkey, n_name,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                    AS DOUBLE) AS y
        FROM orders
        JOIN customer ON c_custkey = o_custkey
        JOIN nation ON n_nationkey = c_nationkey
        GROUP BY 1, 2
    ),
    gtot AS (
        SELECT count(*) AS n,
               CAST(SUM(CAST(round(y, 6) AS DECIMAL(18,6)))
                    AS DOUBLE) AS yy
        FROM cust
    ),
    grp AS (
        SELECT n_name, count(*) AS ng,
               CAST(SUM(CAST(round(y, 6) AS DECIMAL(18,6)))
                    AS DOUBLE) AS yg
        FROM cust GROUP BY n_name
    ),
    within AS (
        SELECT c.n_name,
               SUM(CAST(round(
                   (c.y / (g.yg / g.ng)) * ln(c.y / (g.yg / g.ng)),
                   12) AS DECIMAL(38,12))) AS tsum
        FROM cust c JOIN grp g USING (n_name)
        GROUP BY c.n_name
    )
    SELECT g.n_name AS nation,
           CAST(g.ng AS BIGINT) AS n_customers,
           g.yg / gl.yy AS revenue_share,
           CAST(w.tsum AS DOUBLE) / g.ng AS t_within,
           (g.yg / gl.yy) * (CAST(w.tsum AS DOUBLE) / g.ng)
               AS within_contrib,
           (g.yg / gl.yy)
               * round(ln((g.yg / g.ng) / (gl.yy / gl.n)), 12)
               AS between_contrib
    FROM grp g JOIN within w USING (n_name) CROSS JOIN gtot gl
    """,
    tags=("windowed", "statistics"),
)
def window_theil_inequality_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil T inequality index of customer revenue, DECOMPOSED by
    nation — the inequality measure the Lorenz/Gini pair cannot give:
    Theil's T = (1/n) sum (y_i/mu) ln(y_i/mu) is the unique standard
    index that splits EXACTLY into T = sum_g s_g*T_g (within-group)
    + sum_g s_g*ln(mu_g/mu) (between-group), so a pipeline can answer
    "is revenue concentration driven by a few whale customers inside
    each market, or by whole markets dwarfing others?" in one pass.
    Emits per nation: revenue share s_g, within-group Theil T_g, and
    both decomposition contributions (their grand totals reconstruct
    T exactly — pinned by test).

    Exactness: customer revenues are exact decimal sums; group/global
    means are single double divisions of DECIMAL(18,6)-quantized
    sums; each (y/mu_g)*ln(y/mu_g) term follows the round-ln(12)
    convention and sums as DECIMAL(38,12); every division and product
    after is a mirrored IEEE chain.

    Scale: one orders-by-customer groupBy (the heavy shuffle, keyed
    on custkey), nation broadcast, then nation-sized algebra; the
    per-customer term sum rides the same groupBy(nation) with
    map-side combine.  No global sort anywhere (contrast the Lorenz
    op's documented ntile frontier)."""
    cust = (
        table(spark, sf_dir, "orders")
        .join(
            table(spark, sf_dir, "customer"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(table(spark, sf_dir, "nation")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy("c_custkey", "n_name")
        .agg(F.sum(dec("o_totalprice")).cast("double").alias("y"))
    )
    glob = cust.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("y"), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("yy"),
    )
    grp = cust.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(F.round(F.col("y"), 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("yg"),
    )
    c = cust.join(F.broadcast(grp), "n_name")
    ratio = F.col("y") / (F.col("yg") / F.col("ng"))
    within = c.groupBy("n_name").agg(
        F.sum(
            F.round(ratio * F.log(ratio), 12).cast("decimal(38,12)")
        ).alias("tsum")
    )
    out = (
        grp.join(within, "n_name")
        .crossJoin(F.broadcast(glob))
    )
    share = F.col("yg") / F.col("yy")
    t_within = F.col("tsum").cast("double") / F.col("ng")
    between = share * F.round(
        F.log((F.col("yg") / F.col("ng")) / (F.col("yy") / F.col("n"))),
        12,
    )
    return out.select(
        F.col("n_name").alias("nation"),
        F.col("ng").cast("bigint").alias("n_customers"),
        share.alias("revenue_share"),
        t_within.alias("t_within"),
        (share * t_within).alias("within_contrib"),
        between.alias("between_contrib"),
    )


# ---------------------------------------------------------------------------
# Damped-trend Holt — the flattening member of the smoothing ladder
# ---------------------------------------------------------------------------

#: Damping factor (Gardner-McKenzie).  0.9 is representable exactly
#: enough as a double literal that both engines multiply by the SAME
#: IEEE value; the 10-step damped sum below is a python-computed
#: literal so neither engine calls pow.
HOLT_DAMPING_PHI = 0.9

#: sum_{h=1..10} phi^h as one literal (the 10-step-ahead trend
#: multiplier under damping).
_PHI_SUM_10 = sum(HOLT_DAMPING_PHI**h for h in range(1, 11))


def _holt_damped_fold(pdf):
    """Per-series DAMPED Holt fold (alpha = beta = 1/2, phi = 0.9) —
    `_holt_fold` with the trend damped by phi in both the level
    update and its own persistence; same C-style half-away round-6
    per step as every fold so the trajectory is bit-identical to the
    oracle's recursive CTE."""
    import pandas as pd

    phi = HOLT_DAMPING_PHI

    cols = [
        "event_type",
        "day",
        "idx",
        "revenue",
        "level",
        "trend",
        "forecast",
        "forecast_h10",
        "residual",
    ]
    pdf = pdf.sort_values("i").reset_index(drop=True)
    if len(pdf) < 2:
        return pd.DataFrame(columns=cols)
    xs = list(pdf["x"])
    out = []
    l_prev = xs[0]
    b_prev = xs[1] - xs[0]
    out.append(
        (1, xs[0], l_prev, b_prev, None, l_prev + b_prev * _PHI_SUM_10, None)
    )
    for t in range(2, len(xs) + 1):
        x = xs[t - 1]
        f = l_prev + phi * b_prev
        l_new = _r6(0.5 * x + 0.5 * (l_prev + phi * b_prev))
        b_new = _r6(0.5 * (l_new - l_prev) + 0.5 * phi * b_prev)
        out.append(
            (t, x, l_new, b_new, f, l_new + b_new * _PHI_SUM_10, x - f)
        )
        l_prev, b_prev = l_new, b_new
    res = pd.DataFrame(
        out,
        columns=[
            "idx",
            "revenue",
            "level",
            "trend",
            "forecast",
            "forecast_h10",
            "residual",
        ],
    )
    res.insert(0, "event_type", pdf["event_type"].iloc[0])
    res.insert(1, "day", list(pdf["day"]))
    return res[cols]


@register(
    "window_holt_damped_trend",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT event_type, day, x,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY day) AS i
        FROM daily
    ),
    rec(event_type, i, l, b) AS (
        SELECT i1.event_type, 1, i1.x, i2.x - i1.x
        FROM idx i1 JOIN idx i2
          ON i2.event_type = i1.event_type AND i2.i = 2
        WHERE i1.i = 1
        UNION ALL
        SELECT r.event_type, r.i + 1,
               round(0.5 * d.x
                     + 0.5 * (r.l + {HOLT_DAMPING_PHI} * r.b), 6),
               round(0.5 * (round(0.5 * d.x
                     + 0.5 * (r.l + {HOLT_DAMPING_PHI} * r.b), 6)
                            - r.l)
                     + 0.5 * {HOLT_DAMPING_PHI} * r.b, 6)
        FROM rec r JOIN idx d
          ON d.event_type = r.event_type AND d.i = r.i + 1
    )
    SELECT r.event_type,
           CAST(d.day AS VARCHAR) AS day,
           CAST(r.i AS BIGINT) AS idx,
           d.x AS revenue,
           r.l AS level,
           r.b AS trend,
           CASE WHEN r.i = 1 THEN NULL
                ELSE p.l + {HOLT_DAMPING_PHI} * p.b END AS forecast,
           r.l + r.b * {_PHI_SUM_10!r} AS forecast_h10,
           CASE WHEN r.i = 1 THEN NULL
                ELSE d.x - (p.l + {HOLT_DAMPING_PHI} * p.b)
           END AS residual
    FROM rec r
    JOIN idx d ON d.event_type = r.event_type AND d.i = r.i
    LEFT JOIN rec p
      ON p.event_type = r.event_type AND p.i = r.i - 1
    """,
    tags=("windowed", "timeseries", "forecast", "stateful"),
)
def window_holt_damped_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DAMPED-trend Holt smoothing (Gardner-McKenzie, phi = 0.9) of
    per-event-type daily revenue — the smoothing-ladder member the
    plain Holt op deliberately lacks: undamped Holt extrapolates its
    last trend linearly FOREVER (the classic long-horizon blowup),
    while damping multiplies the trend by phi at every step so the
    h-step forecast flattens toward l + b*phi/(1-phi).
    forecast_h10 = l + b * sum(phi^h, h=1..10) exposes the flattened
    10-step view per row — the python-literal damped sum means
    neither engine calls pow.

    Same machinery as window_holt_linear_smoothing (one
    applyInPandas fold per series, round-6 per step, scalar-state
    recursive-CTE oracle); the recursion differs only in the two phi
    multiplications, mirrored literal-for-literal.

    Scale: per-series linear fold, O(1) state; series parallelize
    across tasks — the smoothing family's shared shape."""
    idx = _events_daily(
        spark, sf_dir, dec_sum("value", "x"), by_type=True, index=True
    ).withColumn("day", F.col("day").cast("string"))
    return idx.groupBy("event_type").applyInPandas(
        _holt_damped_fold,
        schema=(
            "event_type string, day string, idx bigint, "
            "revenue double, level double, trend double, "
            "forecast double, forecast_h10 double, residual double"
        ),
    )


# ---------------------------------------------------------------------------
# Shewhart individuals / moving-range control chart
# ---------------------------------------------------------------------------

#: d2-based I-MR chart constant: 3/d2 with d2 = 1.128 for n = 2
#: (the standard 2.66 rounding is avoided — both engines use the same
#: full-precision literal).
SHEWHART_IMR_K = 3.0 / 1.128


@register(
    "window_shewhart_imr_chart",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2
    ),
    mr AS (
        SELECT event_type, day, x,
               abs(x - lag(x) OVER (PARTITION BY event_type
                                    ORDER BY day)) AS mrv
        FROM daily
    ),
    lims AS (
        SELECT event_type,
               CAST(SUM(CAST(round(x, 6) AS DECIMAL(18,6))) AS DOUBLE)
                   / count(*) AS center,
               CAST(SUM(CAST(round(mrv, 6) AS DECIMAL(18,6)))
                    AS DOUBLE) / count(mrv) AS mrbar
        FROM mr GROUP BY event_type
    )
    SELECT m.event_type,
           CAST(m.day AS VARCHAR) AS day,
           m.x,
           m.mrv AS moving_range,
           l.center,
           l.center + {SHEWHART_IMR_K!r} * l.mrbar AS ucl,
           l.center - {SHEWHART_IMR_K!r} * l.mrbar AS lcl,
           m.x > l.center + {SHEWHART_IMR_K!r} * l.mrbar
               OR m.x < l.center - {SHEWHART_IMR_K!r} * l.mrbar
               AS out_of_control
    FROM mr m JOIN lims l USING (event_type)
    """,
    tags=("windowed", "timeseries", "quality"),
)
def window_shewhart_imr_chart(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shewhart individuals/moving-range control chart on per-type
    daily revenue — the SPC family's POINT-ALARM member beside the
    registry's sequential detectors (CUSUM accumulates small drifts,
    Page-Hinkley tracks running means, EWMA smooths; Shewhart flags
    any SINGLE day outside center ± 3*sigma_hat): sigma is estimated
    from the mean moving range MRbar/d2 (d2 = 1.128 for spans of 2),
    the classic I-MR construction that stays valid without a variance
    estimate from a training window.  Every out_of_control day is a
    point alarm an on-call dashboard pages on; the sequential
    detectors then say whether it is a blip or a level change.

    Exactness: daily x and moving ranges are exact-decimal derived;
    center and MRbar are round-6 DECIMAL sums over the calendar with
    single double divisions; the 3/d2 factor is one full-precision
    literal (not the textbook's rounded 2.66), so the limits are one
    mirrored IEEE chain.

    Scale: one map-side-combined groupBy to the (series x calendar)
    table, one lag window per series, a per-series limits row
    broadcast back — calendar-sized everything."""
    daily = _events_daily(
        spark, sf_dir, dec_sum("value", "x"), by_type=True
    )
    w = Window.partitionBy("event_type").orderBy("day")
    mr = daily.select(
        "event_type",
        "day",
        "x",
        F.abs(F.col("x") - F.lag("x").over(w)).alias("mrv"),
    )
    lims = mr.groupBy("event_type").agg(
        (
            F.sum(F.round(F.col("x"), 6).cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("center"),
        (
            F.sum(F.round(F.col("mrv"), 6).cast("decimal(18,6)")).cast(
                "double"
            )
            / F.count("mrv")
        ).alias("mrbar"),
    )
    j = mr.join(F.broadcast(lims), "event_type")
    ucl = F.col("center") + F.lit(SHEWHART_IMR_K) * F.col("mrbar")
    lcl = F.col("center") - F.lit(SHEWHART_IMR_K) * F.col("mrbar")
    return j.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        "x",
        F.col("mrv").alias("moving_range"),
        "center",
        ucl.alias("ucl"),
        lcl.alias("lcl"),
        ((F.col("x") > ucl) | (F.col("x") < lcl)).alias(
            "out_of_control"
        ),
    )


#: The six ordinal patterns of an embedding-dimension-3 window, keyed
#: by the three stable pairwise comparisons (a = x1<x0, b = x2<x0,
#: c = x2<x1; ties break to the EARLIER index, the Bandt-Pompe
#: convention) — combinations a0b1c0 and a1b0c1 are order-theoretically
#: impossible, leaving exactly 3! = 6.
PERM_PATTERNS = {
    (0, 0, 0): "p012",
    (0, 0, 1): "p021",
    (0, 1, 1): "p201",
    (1, 0, 0): "p102",
    (1, 1, 0): "p120",
    (1, 1, 1): "p210",
}

#: Shared entropy arithmetic over the six fixed pattern-count columns:
#: ONE SQL text (fixed term order, no cross-row float accumulation)
#: executed verbatim by both engines.  ln(6) normalizes to [0, 1].
_PERM_ENTROPY_EXPR = " + ".join(
    f"(CASE WHEN {c} > 0 THEN -(CAST({c} AS DOUBLE)"
    f" / CAST(n_windows AS DOUBLE))"
    f" * ln(CAST({c} AS DOUBLE) / CAST(n_windows AS DOUBLE))"
    f" ELSE 0.0 END)"
    for c in sorted(PERM_PATTERNS.values())
)


def _permutation_entropy(triples: DataFrame, *keys: str) -> DataFrame:
    """The Bandt-Pompe fold of ``triples`` (non-null ``x0``, ``x1``,
    ``x2`` per row) per ``keys``: the window count ``n_windows``, one
    count per ordinal pattern of PERM_PATTERNS (in column-name order),
    then ``perm_entropy`` and its ln(6)-normalized form from
    _PERM_ENTROPY_EXPR."""
    pat = triples.select(
        *keys,
        (F.col("x1") < F.col("x0")).cast("int").alias("a"),
        (F.col("x2") < F.col("x0")).cast("int").alias("b"),
        (F.col("x2") < F.col("x1")).cast("int").alias("c"),
    )
    patterns = sorted(PERM_PATTERNS.items(), key=lambda kv: kv[1])
    counts = pat.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        *[
            F.sum(
                F.when(
                    (F.col("a") == av)
                    & (F.col("b") == bv)
                    & (F.col("c") == cv),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(name)
            for (av, bv, cv), name in patterns
        ],
    )
    return counts.select(
        *keys,
        "n_windows",
        *[name for _, name in patterns],
        F.expr(_PERM_ENTROPY_EXPR).alias("perm_entropy"),
        F.expr(f"({_PERM_ENTROPY_EXPR}) / ln(6.0)").alias(
            "perm_entropy_norm"
        ),
    )


@register(
    "window_permutation_entropy_daily",
    oracle="""
    WITH daily AS (
        SELECT o_orderdate AS day,
               SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT rev AS x0,
               lead(rev, 1) OVER (ORDER BY day) AS x1,
               lead(rev, 2) OVER (ORDER BY day) AS x2
        FROM daily
    ),
    pat AS (
        SELECT CASE WHEN x1 < x0 THEN 1 ELSE 0 END AS a,
               CASE WHEN x2 < x0 THEN 1 ELSE 0 END AS b,
               CASE WHEN x2 < x1 THEN 1 ELSE 0 END AS c
        FROM lagged WHERE x2 IS NOT NULL
    ),
    counts AS (
        SELECT CAST(count(*) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN a=0 AND b=0 AND c=0 THEN 1 ELSE 0 END) AS BIGINT) AS p012,
               CAST(SUM(CASE WHEN a=0 AND b=0 AND c=1 THEN 1 ELSE 0 END) AS BIGINT) AS p021,
               CAST(SUM(CASE WHEN a=1 AND b=0 AND c=0 THEN 1 ELSE 0 END) AS BIGINT) AS p102,
               CAST(SUM(CASE WHEN a=1 AND b=1 AND c=0 THEN 1 ELSE 0 END) AS BIGINT) AS p120,
               CAST(SUM(CASE WHEN a=0 AND b=1 AND c=1 THEN 1 ELSE 0 END) AS BIGINT) AS p201,
               CAST(SUM(CASE WHEN a=1 AND b=1 AND c=1 THEN 1 ELSE 0 END) AS BIGINT) AS p210
        FROM pat
    )
    SELECT n_windows, p012, p021, p102, p120, p201, p210,
           {H_EXPR} AS perm_entropy,
           ({H_EXPR}) / ln(6.0) AS perm_entropy_norm
    FROM counts
    """.replace("{H_EXPR}", _PERM_ENTROPY_EXPR),
    tags=("windowed", "timeseries", "statistics"),
)
def window_permutation_entropy_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Permutation entropy (Bandt-Pompe, order m=3) of the daily
    revenue series — the model-free complexity gauge that closes the
    trend/changepoint battery from the opposite side: Mann-Kendall and
    Pettitt ask "is there structure?", this asks "how close to NOISE is
    the day-to-day dynamic?" (near 1 = the six ordinal patterns of
    consecutive revenue triples are equiprobable; near 0 = a few
    motifs dominate, i.e. ramps or saw-tooth seasonality).  Ordinal
    patterns ignore magnitude entirely, so one blowout day cannot
    move the reading — the robustness that makes it the standard
    pre-screen before fitting any forecaster.

    Exactness: daily revenues are DECIMAL(18,6) sums, so the three
    strict comparisons per window (ties to the earlier index — the
    Bandt-Pompe stable convention) are exact and identical in both
    engines; pattern counts are integers, and the entropy is ONE
    shared SQL expression text over the six fixed count columns
    (_PERM_ENTROPY_EXPR) — fixed term order, no cross-row float sums.

    Scale: the corpus collapses to the day grid in one map-side-
    combined groupBy; the lead() window runs on the GRID (one
    partition of ~2.4k rows — span-bounded, documented single-pass),
    and the pattern fold is a 6-column conditional aggregate."""
    daily = _orders_daily(spark, sf_dir)
    w = Window.orderBy("day")
    lagged = daily.select(
        F.col("rev").alias("x0"),
        F.lead("rev", 1).over(w).alias("x1"),
        F.lead("rev", 2).over(w).alias("x2"),
    ).filter(F.col("x2").isNotNull())
    return _permutation_entropy(lagged)


#: Time-delay (stride) scales for the multiscale deployment below.
#: Stride-s ordinal patterns — triples (x_t, x_{t+s}, x_{t+2s}) — keep
#: every comparison on the EXACT decimal daily revenues (the standard
#: coarse-graining alternative averages s-blocks, which would reintroduce
#: cross-engine float drift the m=3 kernel was built to avoid).
MPE_SCALES = (1, 2, 3, 5)


def _mpe_oracle() -> str:
    offsets = sorted({k * s for s in MPE_SCALES for k in (1, 2)})
    leads = ",\n               ".join(
        f"lead(rev, {k}) OVER (ORDER BY day) AS l{k}" for k in offsets
    )
    branches = "\n        UNION ALL\n".join(
        f"""        SELECT CAST({s} AS BIGINT) AS scale,
               CASE WHEN l{s} < x0 THEN 1 ELSE 0 END AS a,
               CASE WHEN l{2 * s} < x0 THEN 1 ELSE 0 END AS b,
               CASE WHEN l{2 * s} < l{s} THEN 1 ELSE 0 END AS c
        FROM lagged WHERE l{2 * s} IS NOT NULL"""
        for s in MPE_SCALES
    )
    return f"""
    WITH daily AS (
        SELECT o_orderdate AS day,
               SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
        FROM orders GROUP BY 1
    ),
    lagged AS (
        SELECT rev AS x0,
               {leads}
        FROM daily
    ),
    pat AS (
{branches}
    ),
    counts AS (
        SELECT scale,
               CAST(count(*) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN a=0 AND b=0 AND c=0 THEN 1 ELSE 0 END) AS BIGINT) AS p012,
               CAST(SUM(CASE WHEN a=0 AND b=0 AND c=1 THEN 1 ELSE 0 END) AS BIGINT) AS p021,
               CAST(SUM(CASE WHEN a=1 AND b=0 AND c=0 THEN 1 ELSE 0 END) AS BIGINT) AS p102,
               CAST(SUM(CASE WHEN a=1 AND b=1 AND c=0 THEN 1 ELSE 0 END) AS BIGINT) AS p120,
               CAST(SUM(CASE WHEN a=0 AND b=1 AND c=1 THEN 1 ELSE 0 END) AS BIGINT) AS p201,
               CAST(SUM(CASE WHEN a=1 AND b=1 AND c=1 THEN 1 ELSE 0 END) AS BIGINT) AS p210
        FROM pat GROUP BY scale
    )
    SELECT scale, n_windows, p012, p021, p102, p120, p201, p210,
           {{H_EXPR}} AS perm_entropy,
           ({{H_EXPR}}) / ln(6.0) AS perm_entropy_norm
    FROM counts
    """.replace("{H_EXPR}", _PERM_ENTROPY_EXPR)


@register(
    "window_multiscale_permutation_entropy",
    oracle=_mpe_oracle(),
    tags=("windowed", "timeseries", "statistics"),
)
def window_multiscale_permutation_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multiscale permutation entropy of daily revenue: the m=3
    Bandt-Pompe kernel above evaluated at time-delay strides s ∈
    {1, 2, 3, 5} — one entropy reading per scale.  The single-scale op
    answers "is the day-to-day dynamic noise?"; the multiscale profile
    separates WHERE the structure lives: weekly seasonality shows as an
    entropy dip near its period's divisors while white noise stays flat
    across scales, and a profile that falls with s is the classic
    signature of long-range correlation (Costa-style multiscale
    reading, on ordinal patterns).

    Exactness: stride-s triples (x_t, x_{t+s}, x_{t+2s}) compare the
    EXACT decimal daily sums — no coarse-grain averaging, so every
    comparison, count, and the ONE shared entropy SQL text
    (_PERM_ENTROPY_EXPR) are bit-identical across engines, per scale.

    Scale: same shape as the single-scale op — one map-side-combined
    groupBy to the day grid, ONE ordered-window pass computing all
    max(2s) leads at once, then a |scales| × grid explode and a
    6-column conditional aggregate per scale.  The window still runs on
    the span-bounded day grid (~2.4k rows), never corpus rows."""
    offsets = sorted({k * s for s in MPE_SCALES for k in (1, 2)})
    daily = _orders_daily(spark, sf_dir)
    w = Window.orderBy("day")
    lagged = daily.select(
        F.col("rev").alias("x0"),
        *[F.lead("rev", k).over(w).alias(f"l{k}") for k in offsets],
    )
    stacked = (
        lagged.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).cast("bigint").alias("scale"),
                            F.col("x0").alias("x0"),
                            F.col(f"l{s}").alias("x1"),
                            F.col(f"l{2 * s}").alias("x2"),
                        )
                        for s in MPE_SCALES
                    ]
                )
            ).alias("e")
        )
        .select("e.*")
        .filter(F.col("x2").isNotNull())
    )
    return _permutation_entropy(stacked, "scale")


@register(
    "window_sample_entropy_daily",
    oracle=f"""
    WITH {_ORDERS_MICRO_CTE},
    seq AS (
        SELECT day, xm,
               lead(xm, 1) OVER (ORDER BY day) AS x1,
               lead(xm, 2) OVER (ORDER BY day) AS x2,
               count(*) OVER () AS n
        FROM daily
    ),
    moves AS (
        SELECT abs(x1 - xm) AS mv, day FROM seq WHERE x1 IS NOT NULL
    ),
    {_MOVE_TOL_CTE},
    tpl AS (
        SELECT day, xm, x1, x2 FROM seq WHERE x2 IS NOT NULL
    ),
    pairs AS (
        SELECT CAST(count(*) AS BIGINT) AS b_count,
               CAST(SUM(CASE WHEN abs(a.x2 - b.x2) <= t.r_tol
                        THEN 1 ELSE 0 END) AS BIGINT) AS a_count
        FROM tpl a JOIN tpl b ON a.day < b.day, tol t
        WHERE abs(a.xm - b.xm) <= t.r_tol
          AND abs(a.x1 - b.x1) <= t.r_tol
    )
    SELECT (SELECT max(n) FROM seq) AS n_days,
           t.r_tol AS r_tol,
           p.b_count, p.a_count,
           CASE WHEN p.a_count > 0 AND p.b_count > 0
                THEN -ln(CAST(p.a_count AS DOUBLE)
                         / CAST(p.b_count AS DOUBLE))
                ELSE NULL END AS sampen
    FROM pairs p, tol t
    """,
    tags=("windowed", "timeseries", "statistics"),
)
def window_sample_entropy_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sample entropy (Richman-Moorman, m=2) of daily revenue — the
    magnitude-AWARE complexity gauge beside the permutation-entropy
    ops' ordinal one: SampEn asks "given two days that moved alike for
    two steps (within tolerance r), how often do they keep matching a
    third step?"; −ln(A/B) near 0 = the series repeats its own motifs
    (strong regularity), large = each excursion is new.  Ordinal
    patterns miss amplitude regularity entirely (a sawtooth with
    growing amplitude is ordinally periodic but SampEn-irregular), so
    the two kernels disagree exactly when magnitude matters.

    Exactness: daily revenues are exact micro-unit BIGINTs; the
    tolerance is RANK-SELECTED (the ceil(4/5·(n-1))-th smallest
    absolute successive move, day-tiebroken) rather than 0.2σ, so every
    Chebyshev template comparison |x_i−x_j| ≤ r is pure integer
    arithmetic in both engines; A/B counts are integers and the single
    −ln division is final.  Template index range follows the standard
    convention: ONE common range (days with a full m+1 template) for
    both the m- and (m+1)-length counts, self-matches excluded by the
    day < day pairing.

    Scale: the pair stage is grid² on the CALENDAR day grid (~2.4k
    rows → ~2.9M pair rows), invariant to corpus size — the same
    documented span-bounded class as the hourly dCor/Hoeffding pair
    kernels; re-grid to weeks for multi-decade spans.  The corpus
    itself is touched once, by the map-side-combined daily groupBy."""
    daily = _orders_daily(spark, sf_dir, "micro")
    w = Window.orderBy("day")
    seq = daily.select(
        "day",
        "xm",
        F.lead("xm", 1).over(w).alias("x1"),
        F.lead("xm", 2).over(w).alias("x2"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    moves = seq.filter(F.col("x1").isNotNull()).select(
        F.abs(F.col("x1") - F.col("xm")).alias("mv"), "day"
    )
    tol = _move_tolerance(moves)
    tpl = seq.filter(F.col("x2").isNotNull())
    a, b = tpl.alias("a"), tpl.alias("b")
    pairs = (
        a.join(b, F.col("a.day") < F.col("b.day"))
        .crossJoin(F.broadcast(tol))
        .filter(
            (F.abs(F.col("a.xm") - F.col("b.xm")) <= F.col("r_tol"))
            & (F.abs(F.col("a.x1") - F.col("b.x1")) <= F.col("r_tol"))
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("b_count"),
            F.sum(
                F.when(
                    F.abs(F.col("a.x2") - F.col("b.x2"))
                    <= F.col("r_tol"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("a_count"),
        )
    )
    n_days = seq.agg(F.max("n").alias("n_days"))
    return (
        pairs.crossJoin(F.broadcast(tol))
        .crossJoin(F.broadcast(n_days))
        .select(
            "n_days",
            "r_tol",
            "b_count",
            "a_count",
            F.when(
                (F.col("a_count") > 0) & (F.col("b_count") > 0),
                -F.log(
                    F.col("a_count").cast("double")
                    / F.col("b_count").cast("double")
                ),
            ).alias("sampen"),
        )
    )


#: Block sizes for the rescaled-range (R/S) Hurst estimate.  Fixed at
#: authoring time so the log-log regression pivots the per-size means
#: into COLUMNS and the slope is ONE fixed-order SQL expression — no
#: float aggregation over rows anywhere in the final chain.
HURST_BLOCK_SIZES = (8, 16, 32, 64, 128)


def _ols_slope_text(us: list[str], vs: list[str]) -> str:
    """Closed-form OLS slope of v on u as one fixed-order SQL text,
    (n·Σuv − Σu·Σv) / (n·Σu² − (Σu)²), over the SQL terms ``us`` and
    ``vs`` (the u-terms are compile-time literals)."""
    n = len(us)
    su = " + ".join(us)
    suu = " + ".join(f"{u} * {u}" for u in us)
    sv = " + ".join(vs)
    suv = " + ".join(f"{u} * {v}" for u, v in zip(us, vs))
    return (
        f"(({n} * ({suv}) - ({su}) * ({sv}))"
        f" / ({n} * ({suu}) - ({su}) * ({su})))"
    )


def _hurst_slope_expr() -> str:
    """OLS slope of ln(mean R/S) on ln(s) over the fixed block sizes,
    one SQL text shared with the oracle (v-columns mrs_<s>)."""
    return _ols_slope_text(
        [repr(math.log(s)) for s in HURST_BLOCK_SIZES],
        [f"ln(mrs_{s})" for s in HURST_BLOCK_SIZES],
    )


@register(
    "window_hurst_rs_daily",
    oracle=f"""
    WITH {_ORDERS_MICRO_CTE},
    idx AS (
        SELECT xm, row_number() OVER (ORDER BY day) - 1 AS t FROM daily
    ),
    blocks AS (
        SELECT s.s, idx.t // s.s AS block_id, idx.t, idx.xm
        FROM idx, (SELECT unnest(ARRAY{list(HURST_BLOCK_SIZES)}) AS s) s
    ),
    stats AS (
        SELECT s, block_id,
               CAST(count(*) AS BIGINT) AS nb,
               CAST(SUM(xm) AS BIGINT) AS sx,
               CAST(SUM(CAST(CAST(xm AS DECIMAL(20,0))
                             * CAST(xm AS DECIMAL(18,0))
                             AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sxx
        FROM blocks GROUP BY 1, 2
    ),
    walk AS (
        SELECT b.s, b.block_id,
               SUM(b.xm) OVER (PARTITION BY b.s, b.block_id ORDER BY b.t
                               ROWS UNBOUNDED PRECEDING) AS cum,
               row_number() OVER (PARTITION BY b.s, b.block_id
                                  ORDER BY b.t) AS k
        FROM blocks b
    ),
    dev AS (
        SELECT w.s, w.block_id,
               CAST(max(w.s * w.cum - w.k * st.sx)
                    - min(w.s * w.cum - w.k * st.sx) AS BIGINT)
                   AS r_scaled
        FROM walk w
        JOIN stats st ON st.s = w.s AND st.block_id = w.block_id
        WHERE st.nb = w.s
        GROUP BY 1, 2
    ),
    rs AS (
        SELECT d.s, d.block_id,
               CAST(d.r_scaled AS DOUBLE)
                   / sqrt(CAST(
                         CAST(CAST(st.sxx AS DECIMAL(30,0))
                              * CAST(st.nb AS DECIMAL(8,0))
                              AS DECIMAL(38,0))
                         - CAST(CAST(st.sx AS DECIMAL(20,0))
                                * CAST(st.sx AS DECIMAL(18,0))
                                AS DECIMAL(38,0))
                     AS DOUBLE)) AS rs_val
        FROM dev d
        JOIN stats st ON st.s = d.s AND st.block_id = d.block_id
        WHERE CAST(CAST(st.sxx AS DECIMAL(30,0))
                   * CAST(st.nb AS DECIMAL(8,0)) AS DECIMAL(38,0))
              > CAST(CAST(st.sx AS DECIMAL(20,0))
                     * CAST(st.sx AS DECIMAL(18,0)) AS DECIMAL(38,0))
    ),
    means AS (
        SELECT s,
               CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(SUM(CAST(round(rs_val, 12) AS DECIMAL(38,12)))
                    AS DOUBLE) / count(*) AS mean_rs
        FROM rs GROUP BY s
    ),
    pivoted AS (
        SELECT {", ".join(f"MAX(CASE WHEN s = {s} THEN mean_rs END) AS mrs_{s}" for s in HURST_BLOCK_SIZES)},
               {", ".join(f"MAX(CASE WHEN s = {s} THEN n_blocks END) AS nb_{s}" for s in HURST_BLOCK_SIZES)}
        FROM means
    )
    SELECT {", ".join(f"CAST(nb_{s} AS BIGINT) AS nb_{s}, mrs_{s}" for s in HURST_BLOCK_SIZES)},
           {_hurst_slope_expr()} AS hurst_h
    FROM pivoted
    """,
    tags=("windowed", "timeseries", "statistics"),
)
def window_hurst_rs_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescaled-range Hurst exponent of daily revenue — the long-range-
    dependence gauge that completes the dynamics battery: ACF/PACF see
    short-lag structure, Mann-Kendall/Pettitt see trend and level
    shifts, the entropy pair sees motif regularity; H answers "do
    excursions PERSIST?" (H≈0.5 random walk increments, H>0.5
    persistent/trending, H<0.5 mean-reverting) — the difference between
    a revenue series you can forecast with momentum and one you must
    model as noise.

    Exactness: per block of s consecutive days, the mean-adjusted
    cumulative walk is kept INTEGER by scaling through s (s·Y_k =
    s·cum_k − k·Σx, exact BIGINT), so the range R_scaled = s·R is an
    exact integer; s²·Var = s·Σx² − (Σx)² is exact DECIMAL(38,0) via
    the width-budget discipline (30+8 and 20+18 products), and the s
    factors CANCEL in R/S = R_scaled/sqrt(s²Var) — one IEEE division
    of exact quantities per block, bit-identical cross-engine.
    Per-size means use the round-to-12-then-exact-decimal-sum house
    pattern; the log-log slope pivots the {len(HURST_BLOCK_SIZES)}
    sizes into columns and evaluates ONE fixed-order shared SQL text
    (no float aggregation over rows).  Degenerate blocks (zero
    variance) are excluded on both engines by the same integer
    comparison; partial tail blocks are dropped (nb = s).

    Scale: one map-side-combined groupBy to the day grid; blocks
    explode the grid ×|sizes| (calendar-bounded); per-block windows
    partition by (s, block) — thousands of tiny partitions, no global
    sort; everything after the grid is span-sized."""
    daily = _orders_daily(spark, sf_dir, "micro")
    idx = daily.select(
        "xm",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
    )
    sizes = spark.createDataFrame(
        [(s,) for s in HURST_BLOCK_SIZES], "s int"
    )
    blocks = idx.crossJoin(F.broadcast(sizes)).select(
        "s", F.expr("t div s").alias("block_id"), "t", "xm"
    )
    xm_sq = (
        F.col("xm").cast("decimal(20,0)")
        * F.col("xm").cast("decimal(18,0)")
    ).cast("decimal(38,0)")
    stats = blocks.groupBy("s", "block_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("xm").cast("bigint").alias("sx"),
        F.sum(xm_sq).cast("decimal(38,0)").alias("sxx"),
    )
    wwalk = Window.partitionBy("s", "block_id").orderBy("t")
    walk = blocks.select(
        "s",
        "block_id",
        F.sum("xm")
        .over(wwalk.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.row_number().over(wwalk).alias("k"),
    )
    dev = (
        walk.join(stats, ["s", "block_id"])
        .filter(F.col("nb") == F.col("s"))
        .groupBy("s", "block_id")
        .agg(
            (
                F.max(F.col("s") * F.col("cum") - F.col("k") * F.col("sx"))
                - F.min(
                    F.col("s") * F.col("cum") - F.col("k") * F.col("sx")
                )
            )
            .cast("bigint")
            .alias("r_scaled")
        )
    )
    s2var = (
        F.col("sxx").cast("decimal(30,0)")
        * F.col("nb").cast("decimal(8,0)")
    ).cast("decimal(38,0)") - (
        F.col("sx").cast("decimal(20,0)")
        * F.col("sx").cast("decimal(18,0)")
    ).cast("decimal(38,0)")
    rs = (
        dev.join(stats, ["s", "block_id"])
        .filter(s2var > 0)
        .select(
            "s",
            (
                F.col("r_scaled").cast("double")
                / F.sqrt(s2var.cast("double"))
            ).alias("rs_val"),
        )
    )
    means = rs.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        (
            F.sum(F.round(F.col("rs_val"), 12).cast("decimal(38,12)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("mean_rs"),
    )
    pivot_cols = []
    for s in HURST_BLOCK_SIZES:
        pivot_cols.append(
            F.max(F.when(F.col("s") == s, F.col("mean_rs"))).alias(
                f"mrs_{s}"
            )
        )
        pivot_cols.append(
            F.max(F.when(F.col("s") == s, F.col("n_blocks")))
            .cast("bigint")
            .alias(f"nb_{s}")
        )
    pivoted = means.agg(*pivot_cols)
    out_cols = []
    for s in HURST_BLOCK_SIZES:
        out_cols.extend([f"nb_{s}", f"mrs_{s}"])
    return pivoted.select(
        *out_cols, F.expr(_hurst_slope_expr()).alias("hurst_h")
    )


#: Aggregation horizons (in daily steps) for the Lo-MacKinlay variance
#: ratio.  Fixed at authoring time so the overlapping-difference stack
#: is a compile-time UNION/explode and every horizon's statistics share
#: one grouped aggregate — no data-dependent lag generation.
VR_Q_PERIODS = (2, 5, 10, 20)

#: Shared float tail for the variance ratio: all inputs are EXACT
#: integers (variance numerators in DECIMAL(38,0), counts in BIGINT)
#: converted once to DOUBLE, then one fixed-order expression — the
#: cross-engine bit-identity pattern.  VR(q) = (num_q·n²)/(q·m²·num_1)
#: because vq = num_q/m², v1 = num_1/n², VR = vq/(q·v1).
_VR_EXPR = (
    "CASE WHEN num_1 > 0 THEN"
    " (CAST(num_q AS DOUBLE) * CAST(n_incr AS DOUBLE)"
    "  * CAST(n_incr AS DOUBLE))"
    " / (CAST(q AS DOUBLE) * CAST(m_overlap AS DOUBLE)"
    "    * CAST(m_overlap AS DOUBLE) * CAST(num_1 AS DOUBLE))"
    " ELSE NULL END"
)

#: Homoskedastic Lo-MacKinlay z: (VR−1)/sqrt(2(2q−1)(q−1)/(3q·n)).
#: Literals are E0-notation so BOTH engines parse them as DOUBLE —
#: Spark types a bare `2.0` as DECIMAL(2,1), which would drag the sqrt
#: argument through decimal division (observed 1e-9 z drift).
_VR_Z_EXPR = (
    f"(({_VR_EXPR}) - 1.0E0)"
    " * sqrt((3.0E0 * q * n_incr)"
    "        / (2.0E0 * (2.0E0 * q - 1.0E0) * (q - 1.0E0)))"
)


def _vr_oracle() -> str:
    lag_cols = ",\n               ".join(
        f"lag(xm, {q}) OVER (ORDER BY day) AS p{q}"
        for q in VR_Q_PERIODS
    )
    diff_union = "\n        UNION ALL ".join(
        f"SELECT {q} AS q, xm - p{q} AS e FROM lagd"
        f" WHERE p{q} IS NOT NULL"
        for q in VR_Q_PERIODS
    )
    return f"""
    WITH {_ORDERS_MICRO_CTE},
    lagd AS (
        SELECT day, xm,
               lag(xm, 1) OVER (ORDER BY day) AS p1,
               {lag_cols}
        FROM daily
    ),
    base AS (
        SELECT CAST(count(*) AS BIGINT) AS n_incr,
               CAST(SUM(xm - p1) AS BIGINT) AS sd,
               CAST(SUM(CAST(CAST(xm - p1 AS DECIMAL(20,0))
                             * CAST(xm - p1 AS DECIMAL(18,0))
                             AS DECIMAL(38,0))) AS DECIMAL(34,0)) AS sdd
        FROM lagd WHERE p1 IS NOT NULL
    ),
    diffs AS (
        {diff_union}
    ),
    qs AS (
        SELECT q, CAST(count(*) AS BIGINT) AS m_overlap,
               CAST(SUM(e) AS BIGINT) AS se,
               CAST(SUM(CAST(CAST(e AS DECIMAL(20,0))
                             * CAST(e AS DECIMAL(18,0))
                             AS DECIMAL(38,0))) AS DECIMAL(34,0)) AS see
        FROM diffs GROUP BY 1
    ),
    nums AS (
        SELECT q, m_overlap,
               CAST(CAST(m_overlap AS DECIMAL(4,0)) * see
                    AS DECIMAL(38,0))
               - CAST(CAST(se AS DECIMAL(20,0))
                      * CAST(se AS DECIMAL(18,0))
                      AS DECIMAL(38,0)) AS num_q
        FROM qs
    ),
    base2 AS (
        SELECT n_incr,
               CAST(CAST(n_incr AS DECIMAL(4,0)) * sdd
                    AS DECIMAL(38,0))
               - CAST(CAST(sd AS DECIMAL(20,0))
                      * CAST(sd AS DECIMAL(18,0))
                      AS DECIMAL(38,0)) AS num_1
        FROM base
    )
    SELECT CAST(q AS BIGINT) AS q, n_incr, m_overlap,
           CAST(num_1 AS DOUBLE) AS num_1_d,
           CAST(num_q AS DOUBLE) AS num_q_d,
           {_VR_EXPR} AS vr,
           {_VR_Z_EXPR} AS z_homo
    FROM nums, base2
    """


@register(
    "window_variance_ratio_daily",
    oracle=_vr_oracle(),
    tags=("windowed", "timeseries", "statistics"),
)
def window_variance_ratio_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lo-MacKinlay variance-ratio test on daily revenue — the
    random-walk diagnostic that reads the SAME long-range question as
    the Hurst op through variance scaling instead of range scaling:
    under uncorrelated increments the variance of a q-day overlapping
    difference is q× the 1-day variance, so VR(q) ≈ 1; VR > 1 means
    positively autocorrelated (trending) revenue, VR < 1 mean
    reversion.  z_homo is the homoskedastic Lo-MacKinlay statistic
    (VR−1)/sqrt(2(2q−1)(q−1)/(3q·n)) — the classical asymptotic
    N(0,1) gauge.  Definition note: each horizon's variance numerator
    demeans by its OWN sample mean (the plain sample-variance VR),
    not the paper's common-drift μ̂ = (x_N−x_0)/n; the difference is
    O(1/n) and the own-mean form keeps every numerator a single
    exact quadratic.

    Exactness: daily revenues are exact micro-unit BIGINTs; the q-day
    overlapping difference e_t = x_t − x_{t−q} is BIGINT; each
    variance numerator num = cnt·Σe² − (Σe)² is exact DECIMAL(38,0)
    under the width-budget discipline (e² and (Σe)² as 20+18-wide
    products, Σe² declared DECIMAL(34,0) before the 4-wide count
    multiply — bound: Σe² < 1e34, i.e. RMS daily move < ~6e8 currency
    units over a ≤9,999-day span, documented headroom >1e5× at sf1).
    VR and z are ONE shared fixed-order float text (_VR_EXPR) over the
    exact integers, bit-identical cross-engine; a constant series
    (num_1 = 0) yields NULL on both engines by the same guard.

    Scale: one map-side-combined groupBy to the day grid; ONE ordered
    window pass over the span-bounded grid (~2.4k rows) produces all
    |Q|+1 lags; the explode is grid × |Q| and the rest is a 4-group
    aggregate.  The corpus is touched exactly once."""
    daily = _orders_daily(spark, sf_dir, "micro")
    w = Window.orderBy("day")
    lagd = daily.select(
        "xm",
        F.lag("xm", 1).over(w).alias("p1"),
        *[F.lag("xm", q).over(w).alias(f"p{q}") for q in VR_Q_PERIODS],
    )

    def sq(col: F.Column) -> F.Column:
        return (
            col.cast("decimal(20,0)") * col.cast("decimal(18,0)")
        ).cast("decimal(38,0)")

    d = F.col("xm") - F.col("p1")
    base = (
        lagd.filter(F.col("p1").isNotNull())
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_incr"),
            F.sum(d).cast("bigint").alias("sd"),
            F.sum(sq(d)).cast("decimal(34,0)").alias("sdd"),
        )
    )
    diffs = (
        lagd.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(q).cast("int").alias("q"),
                            (F.col("xm") - F.col(f"p{q}")).alias("e"),
                        )
                        for q in VR_Q_PERIODS
                    ]
                )
            ).alias("x")
        )
        .select("x.*")
        .filter(F.col("e").isNotNull())
    )
    qs = diffs.groupBy("q").agg(
        F.count(F.lit(1)).cast("bigint").alias("m_overlap"),
        F.sum("e").cast("bigint").alias("se"),
        F.sum(sq(F.col("e"))).cast("decimal(34,0)").alias("see"),
    )
    nums = qs.select(
        "q",
        "m_overlap",
        (
            (
                F.col("m_overlap").cast("decimal(4,0)") * F.col("see")
            ).cast("decimal(38,0)")
            - sq(F.col("se"))
        ).alias("num_q"),
    )
    base2 = base.select(
        "n_incr",
        (
            (
                F.col("n_incr").cast("decimal(4,0)") * F.col("sdd")
            ).cast("decimal(38,0)")
            - sq(F.col("sd"))
        ).alias("num_1"),
    )
    return nums.crossJoin(F.broadcast(base2)).select(
        F.col("q").cast("bigint").alias("q"),
        "n_incr",
        "m_overlap",
        F.col("num_1").cast("double").alias("num_1_d"),
        F.col("num_q").cast("double").alias("num_q_d"),
        F.expr(_VR_EXPR).alias("vr"),
        F.expr(_VR_Z_EXPR).alias("z_homo"),
    )


#: Time-delay strides for multiscale sample entropy — same grid as the
#: multiscale permutation-entropy op so the two profiles are read
#: side-by-side (ordinal vs magnitude-aware, per scale).
SAMPEN_SCALES = (1, 2, 3, 5)


def _msse_oracle() -> str:
    offsets = sorted({k * s for s in SAMPEN_SCALES for k in (1, 2)})
    lead_cols = ",\n               ".join(
        f"lead(xm, {k}) OVER (ORDER BY day) AS l{k}" for k in offsets
    )
    stack_union = "\n        UNION ALL ".join(
        f"SELECT {s} AS scale, day, xm AS x0, l{s} AS x1,"
        f" l{2 * s} AS x2 FROM seq"
        for s in SAMPEN_SCALES
    )
    return f"""
    WITH {_ORDERS_MICRO_CTE},
    seq AS (
        SELECT day, xm,
               {lead_cols}
        FROM daily
    ),
    stacked AS (
        {stack_union}
    ),
    moves AS (
        SELECT scale, abs(x1 - x0) AS mv, day
        FROM stacked WHERE x1 IS NOT NULL
    ),
    tol AS (
        SELECT scale, mv AS r_tol FROM (
            SELECT scale, mv,
                   row_number() OVER (PARTITION BY scale
                                      ORDER BY mv, day) AS rk,
                   count(*) OVER (PARTITION BY scale) AS nm
            FROM moves
        ) WHERE rk = (nm * {SAMPEN_TOL_RANK_NUM}
                      + {SAMPEN_TOL_RANK_DEN} - 1)
                     // {SAMPEN_TOL_RANK_DEN}
    ),
    tpl AS (
        SELECT scale, day, x0, x1, x2 FROM stacked
        WHERE x2 IS NOT NULL
    ),
    pairs AS (
        SELECT a.scale,
               CAST(count(*) AS BIGINT) AS b_count,
               CAST(SUM(CASE WHEN abs(a.x2 - b.x2) <= t.r_tol
                        THEN 1 ELSE 0 END) AS BIGINT) AS a_count
        FROM tpl a
        JOIN tpl b ON a.scale = b.scale AND a.day < b.day
        JOIN tol t ON t.scale = a.scale
        WHERE abs(a.x0 - b.x0) <= t.r_tol
          AND abs(a.x1 - b.x1) <= t.r_tol
        GROUP BY 1
    ),
    ntpl AS (
        SELECT scale, CAST(count(*) AS BIGINT) AS n_tpl
        FROM tpl GROUP BY 1
    )
    SELECT CAST(n.scale AS BIGINT) AS scale, n.n_tpl, t.r_tol,
           p.b_count, p.a_count,
           CASE WHEN p.a_count > 0 AND p.b_count > 0
                THEN -ln(CAST(p.a_count AS DOUBLE)
                         / CAST(p.b_count AS DOUBLE))
                ELSE NULL END AS sampen
    FROM ntpl n
    JOIN tol t ON t.scale = n.scale
    LEFT JOIN pairs p ON p.scale = n.scale
    """


@register(
    "window_multiscale_sample_entropy",
    oracle=_msse_oracle(),
    tags=("windowed", "timeseries", "statistics"),
)
def window_multiscale_sample_entropy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multiscale sample entropy of daily revenue: the m=2
    Richman-Moorman kernel evaluated on stride-s template triples
    (x_t, x_{t+s}, x_{t+2s}) for s ∈ {1, 2, 3, 5} — the magnitude-aware
    counterpart of the multiscale permutation-entropy profile.  Read
    jointly: a SampEn profile that RISES with scale while the ordinal
    profile stays flat means amplitude regularity lives at short lags
    only (motifs recur day-to-day but not week-to-week); Costa's MSE
    signature (falling profile) marks long-range amplitude structure.
    Stride embedding (not coarse-grain averaging) is used at every
    scale — identical to the MPE op's choice, and for the same reason:
    averages would leave the exact-integer grid.

    Exactness: template comparisons are pure BIGINT Chebyshev tests
    against a PER-SCALE rank-selected tolerance (the
    ceil(4/5·n_s)-th smallest absolute stride-s move, day-tiebroken) —
    the single-scale op's convention applied within each scale
    partition, so every A/B count is integer-exact cross-engine and
    the one −ln division is final.  The scale-1 row reproduces
    window_sample_entropy_daily bit-for-bit (pinned).

    Scale: one map-side-combined groupBy to the day grid; ONE ordered
    window pass computes all max(2s) leads; the explode is grid ×
    |scales| and the pair stage is grid² PER SCALE on the
    calendar-bounded day grid (~4 × 2.9M comparisons at the TPC-H
    span) — the same documented span-bounded class as the hourly
    dCor/Hoeffding kernels; the corpus is touched once."""
    offsets = sorted({k * s for s in SAMPEN_SCALES for k in (1, 2)})
    daily = _orders_daily(spark, sf_dir, "micro")
    w = Window.orderBy("day")
    seq = daily.select(
        "day",
        "xm",
        *[F.lead("xm", k).over(w).alias(f"l{k}") for k in offsets],
    )
    stacked = seq.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).cast("int").alias("scale"),
                        F.col("day").alias("day"),
                        F.col("xm").alias("x0"),
                        F.col(f"l{s}").alias("x1"),
                        F.col(f"l{2 * s}").alias("x2"),
                    )
                    for s in SAMPEN_SCALES
                ]
            )
        ).alias("e")
    ).select("e.*")
    moves = stacked.filter(F.col("x1").isNotNull()).select(
        "scale", F.abs(F.col("x1") - F.col("x0")).alias("mv"), "day"
    )
    tol = _move_tolerance(moves, "scale")
    tpl = stacked.filter(F.col("x2").isNotNull())
    a, b = tpl.alias("a"), tpl.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.scale") == F.col("b.scale"))
            & (F.col("a.day") < F.col("b.day")),
        )
        .join(
            F.broadcast(tol.alias("t")),
            F.col("t.scale") == F.col("a.scale"),
        )
        .filter(
            (F.abs(F.col("a.x0") - F.col("b.x0")) <= F.col("r_tol"))
            & (F.abs(F.col("a.x1") - F.col("b.x1")) <= F.col("r_tol"))
        )
        .groupBy(F.col("a.scale").alias("scale"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("b_count"),
            F.sum(
                F.when(
                    F.abs(F.col("a.x2") - F.col("b.x2"))
                    <= F.col("r_tol"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("a_count"),
        )
    )
    ntpl = tpl.groupBy("scale").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tpl")
    )
    return (
        ntpl.join(tol, "scale")
        .join(pairs, "scale", "left")
        .select(
            F.col("scale").cast("bigint").alias("scale"),
            "n_tpl",
            "r_tol",
            "b_count",
            "a_count",
            F.when(
                (F.col("a_count") > 0) & (F.col("b_count") > 0),
                -F.log(
                    F.col("a_count").cast("double")
                    / F.col("b_count").cast("double")
                ),
            ).alias("sampen"),
        )
    )


def _apen_oracle() -> str:
    tol_pick = (
        f"(nm * {SAMPEN_TOL_RANK_NUM} + {SAMPEN_TOL_RANK_DEN} - 1)"
        f" // {SAMPEN_TOL_RANK_DEN}"
    )
    phi = (
        "CAST(SUM(CAST(round(ln(CAST(c AS DOUBLE) / CAST(nn AS DOUBLE)),"
        " 12) AS DECIMAL(38,12))) AS DOUBLE) / CAST(MAX(nn) AS DOUBLE)"
    )
    return f"""
    WITH {_ORDERS_MICRO_CTE},
    seq AS (
        SELECT day, xm,
               lead(xm, 1) OVER (ORDER BY day) AS x1,
               lead(xm, 2) OVER (ORDER BY day) AS x2,
               count(*) OVER () AS n
        FROM daily
    ),
    moves AS (
        SELECT abs(x1 - xm) AS mv, day FROM seq WHERE x1 IS NOT NULL
    ),
    tol AS (
        SELECT mv AS r_tol FROM (
            SELECT mv, row_number() OVER (ORDER BY mv, day) AS rk,
                   count(*) OVER () AS nm
            FROM moves
        ) WHERE rk = {tol_pick}
    ),
    t2 AS (SELECT day, xm AS x0, x1 FROM seq WHERE x1 IS NOT NULL),
    t3 AS (
        SELECT day, xm AS x0, x1, x2 FROM seq WHERE x2 IS NOT NULL
    ),
    c2 AS (
        SELECT a.day, CAST(count(*) AS BIGINT) AS c
        FROM t2 a, t2 b, tol t
        WHERE abs(a.x0 - b.x0) <= t.r_tol
          AND abs(a.x1 - b.x1) <= t.r_tol
        GROUP BY 1
    ),
    c3 AS (
        SELECT a.day, CAST(count(*) AS BIGINT) AS c
        FROM t3 a, t3 b, tol t
        WHERE abs(a.x0 - b.x0) <= t.r_tol
          AND abs(a.x1 - b.x1) <= t.r_tol
          AND abs(a.x2 - b.x2) <= t.r_tol
        GROUP BY 1
    ),
    n2 AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM t2),
    n3 AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM t3),
    phi2 AS (
        SELECT {phi} AS phi FROM c2, n2
    ),
    phi3 AS (
        SELECT {phi} AS phi FROM c3, n3
    )
    SELECT (SELECT max(n) FROM seq) AS n_days,
           t.r_tol,
           (SELECT nn FROM n2) AS n_tpl2,
           (SELECT nn FROM n3) AS n_tpl3,
           p2.phi AS phi2, p3.phi AS phi3,
           p2.phi - p3.phi AS apen
    FROM phi2 p2, phi3 p3, tol t
    """


@register(
    "window_approximate_entropy_daily",
    oracle=_apen_oracle(),
    tags=("windowed", "timeseries", "statistics"),
)
def window_approximate_entropy_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Approximate entropy (Pincus, m=2) of daily revenue — SampEn's
    biased ancestor, shipped BESIDE it because the pair is the standard
    regularity cross-check: ApEn counts self-matches and averages
    ln(C_i) per template (so it is defined even when SampEn's A count
    is 0), at the cost of a known bias toward regularity; a large
    ApEn−SampEn gap flags that the match counts are self-match
    dominated, i.e. the tolerance is too tight for the series length —
    the calibration failure mode neither op detects alone.

    Exactness: same exact micro-unit BIGINT series, the SAME
    rank-selected integer tolerance as window_sample_entropy_daily
    (shared constants, so the two ops' template comparisons are the
    identical integer predicate); per-template match counts C_i are
    integers including the self-match (C_i ≥ 1, so every ln is
    defined); Φ_m = mean of ln(C_i/N_m) uses the round-12-then-
    exact-decimal-sum house pattern — ln over exact integer ratios was
    measured bit-stable cross-engine (entropy/keyness/powerlaw ops),
    and the rounding removes any residual last-ulp exposure.  ApEn =
    Φ₂ − Φ₃ per the standard template convention (m-length templates
    run over their OWN index range, unlike SampEn's common range).

    Scale: the two count stages are grid² on the calendar day grid —
    the documented span-bounded class (the corpus is touched once by
    the daily groupBy); re-grid to weeks for multi-decade spans."""
    daily = _orders_daily(spark, sf_dir, "micro")
    w = Window.orderBy("day")
    seq = daily.select(
        "day",
        "xm",
        F.lead("xm", 1).over(w).alias("x1"),
        F.lead("xm", 2).over(w).alias("x2"),
        F.count(F.lit(1))
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    moves = seq.filter(F.col("x1").isNotNull()).select(
        F.abs(F.col("x1") - F.col("xm")).alias("mv"), "day"
    )
    tol = _move_tolerance(moves)

    def phi_frame(tpl: DataFrame, cols: tuple[str, ...]) -> DataFrame:
        a, b = tpl.alias("a"), tpl.alias("b")
        cond = None
        for c in cols:
            this = (
                F.abs(F.col(f"a.{c}") - F.col(f"b.{c}"))
                <= F.col("r_tol")
            )
            cond = this if cond is None else (cond & this)
        counts = (
            a.crossJoin(F.broadcast(tol))
            .join(b, cond)
            .groupBy(F.col("a.day"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        nn = tpl.agg(
            F.count(F.lit(1)).cast("bigint").alias("nn")
        )
        return (
            counts.crossJoin(F.broadcast(nn))
            .agg(
                (
                    F.sum(
                        F.round(
                            F.log(
                                F.col("c").cast("double")
                                / F.col("nn").cast("double")
                            ),
                            12,
                        ).cast("decimal(38,12)")
                    ).cast("double")
                    / F.max("nn").cast("double")
                ).alias("phi"),
                F.max("nn").alias("n_tpl"),
            )
        )

    t2 = seq.filter(F.col("x1").isNotNull()).select(
        "day", F.col("xm").alias("x0"), "x1"
    )
    t3 = seq.filter(F.col("x2").isNotNull()).select(
        "day", F.col("xm").alias("x0"), "x1", "x2"
    )
    p2 = phi_frame(t2, ("x0", "x1")).select(
        F.col("phi").alias("phi2"), F.col("n_tpl").alias("n_tpl2")
    )
    p3 = phi_frame(t3, ("x0", "x1", "x2")).select(
        F.col("phi").alias("phi3"), F.col("n_tpl").alias("n_tpl3")
    )
    n_days = seq.agg(F.max("n").alias("n_days"))
    return (
        n_days.crossJoin(F.broadcast(tol))
        .crossJoin(p2)
        .crossJoin(p3)
        .select(
            "n_days",
            "r_tol",
            "n_tpl2",
            "n_tpl3",
            "phi2",
            "phi3",
            (F.col("phi2") - F.col("phi3")).alias("apen"),
        )
    )


#: Block sizes for detrended fluctuation analysis — same grid as the
#: R/S Hurst op so the two long-range-dependence readings pivot over
#: identical calendar blocks.
DFA_BLOCK_SIZES = (8, 16, 32, 64, 128)


def _dfa_c(s: int) -> int:
    """S_kk·s for the 1..s integer grid: C = s²(s²−1)/12, exact."""
    return s * s * (s * s - 1) // 12


def _dfa_slope_expr() -> str:
    """OLS slope of ln(mean F) on ln(s), F-columns mf_<s>."""
    return _ols_slope_text(
        [repr(math.log(s)) for s in DFA_BLOCK_SIZES],
        [f"ln(mf_{s})" for s in DFA_BLOCK_SIZES],
    )


def _dfa_oracle() -> str:
    f2_cases = " ".join(
        f"WHEN s = {s} THEN CAST(acb AS DOUBLE)"
        f" / {float(s**4 * _dfa_c(s))!r}"
        for s in DFA_BLOCK_SIZES
    )
    return f"""
    WITH daily AS (
        SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS xm
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT xm, row_number() OVER (ORDER BY day) - 1 AS t FROM daily
    ),
    blocks AS (
        SELECT s.s, idx.t // s.s AS block_id, idx.t, idx.xm
        FROM idx, (SELECT unnest(ARRAY{list(DFA_BLOCK_SIZES)}) AS s) s
    ),
    sums AS (
        SELECT s, block_id, CAST(count(*) AS BIGINT) AS nb,
               CAST(SUM(xm) AS BIGINT) AS sx
        FROM blocks GROUP BY 1, 2
    ),
    walk AS (
        SELECT b.s, b.block_id,
               row_number() OVER (PARTITION BY b.s, b.block_id
                                  ORDER BY b.t) AS k,
               SUM(b.xm) OVER (PARTITION BY b.s, b.block_id ORDER BY b.t
                               ROWS UNBOUNDED PRECEDING) AS cum
        FROM blocks b
    ),
    w AS (
        SELECT w.s, w.block_id, w.k,
               CAST(w.s * w.cum - w.k * su.sx AS BIGINT) AS wv
        FROM walk w
        JOIN sums su ON su.s = w.s AND su.block_id = w.block_id
        WHERE su.nb = w.s
    ),
    stats AS (
        SELECT s, block_id,
               CAST(SUM(wv) AS BIGINT) AS sw,
               CAST(SUM(CAST(CAST(wv AS DECIMAL(25,0))
                             * CAST(wv AS DECIMAL(13,0))
                             AS DECIMAL(38,0))) AS DECIMAL(34,0)) AS sww,
               CAST(SUM(k * wv) AS BIGINT) AS skw
        FROM w GROUP BY 1, 2
    ),
    ab AS (
        SELECT s, block_id,
               CAST(CAST(s AS DECIMAL(4,0)) * sww AS DECIMAL(38,0))
               - CAST(CAST(sw AS DECIMAL(20,0))
                      * CAST(sw AS DECIMAL(18,0))
                      AS DECIMAL(38,0)) AS a_num,
               CAST(s AS BIGINT) * skw
               - (CAST(s AS BIGINT) * (s + 1) // 2) * sw AS b_num
        FROM stats
    ),
    f2 AS (
        SELECT s, block_id,
               CAST(CAST(a_num AS DECIMAL(30,0))
                    * CAST(CASE {" ".join(f"WHEN s = {s} THEN {_dfa_c(s)}" for s in DFA_BLOCK_SIZES)} END
                      AS DECIMAL(8,0)) AS DECIMAL(38,0))
               - CAST(CAST(b_num AS DECIMAL(20,0))
                      * CAST(b_num AS DECIMAL(18,0))
                      AS DECIMAL(38,0)) AS acb
        FROM ab
    ),
    fs AS (
        SELECT s, block_id,
               sqrt(CASE {f2_cases} END) AS f_val
        FROM f2
        WHERE acb > 0
    ),
    means AS (
        SELECT s, CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(SUM(CAST(round(f_val, 12) AS DECIMAL(38,12)))
                    AS DOUBLE) / count(*) AS mean_f
        FROM fs GROUP BY s
    ),
    pivoted AS (
        SELECT {", ".join(f"MAX(CASE WHEN s = {s} THEN mean_f END) AS mf_{s}" for s in DFA_BLOCK_SIZES)},
               {", ".join(f"MAX(CASE WHEN s = {s} THEN n_blocks END) AS nb_{s}" for s in DFA_BLOCK_SIZES)}
        FROM means
    )
    SELECT {", ".join(f"CAST(nb_{s} AS BIGINT) AS nb_{s}, mf_{s}" for s in DFA_BLOCK_SIZES)},
           {_dfa_slope_expr()} AS dfa_alpha
    FROM pivoted
    """


@register(
    "window_dfa_alpha_daily",
    oracle=_dfa_oracle(),
    tags=("windowed", "timeseries", "statistics"),
)
def window_dfa_alpha_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended fluctuation analysis (Peng et al.) of the daily ORDER
    COUNT — the R/S Hurst op's canonical companion: R/S is biased by
    local linear trends in a block, DFA removes the per-block OLS
    trend before measuring fluctuation, so α ≈ H on trend-free series
    and the (α, H) PAIR separates genuine long-range dependence from
    piecewise drift.  Run on arrival counts rather than revenue: it
    isolates ARRIVAL dynamics from price dynamics (the Hurst op reads
    revenue), and the integer magnitudes keep every detrended
    quadratic exact (below).

    Exactness: per block of s days, the mean-adjusted walk is scaled
    through s exactly as the Hurst op (W_k = s·cum_k − k·Σx, BIGINT);
    the OLS residual sum of squares of W on the fixed 1..s grid is
    SS·s·C = A·C − B² with A = s·ΣW² − (ΣW)², B = s·ΣkW − Σk·ΣW and
    C = s²(s²−1)/12 a compile-time constant — A·C − B² is computed
    EXACTLY in DECIMAL(38,0) under the width-budget discipline
    (25+13 and 20+18 products, 34-wide ΣW², 30+8 A·C; documented
    bound: daily count < 1e7, i.e. ~10 PB at TPC-H density, keeps
    |B| < 1e18 via B ≤ √(A·C); the oracle keeps B BIGINT end-to-end —
    the Σk triangular term uses DuckDB integer division ``//``, exact
    because s·(s+1) is always even — so the headroom holds on BOTH
    engines, not just Spark).  F(s) per block = √((A·C−B²)/(s⁴·C))
    — ONE division of an exact integer by the compile-time constant
    s⁴·C (≤ 6e15, exactly representable in a double), so the float
    tail is a single shared fixed-order text; per-size means use the
    round-12-exact-decimal-sum pattern and the log-log slope is the
    Hurst op's pivoted closed form.  Degenerate blocks (zero residual
    variance) are excluded by the same exact integer comparison on
    both engines; partial tail blocks dropped (nb = s).

    Scale: identical shape to window_hurst_rs_daily — one map-side
    combined groupBy to the day grid, ×|sizes| calendar-bounded block
    explode, per-block windows partitioned by (s, block), slope on one
    pivoted row.  The corpus is touched once."""
    daily = _orders_daily(spark, sf_dir, "count")
    idx = daily.select(
        "xm",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
    )
    sizes = spark.createDataFrame(
        [(s,) for s in DFA_BLOCK_SIZES], "s int"
    )
    blocks = idx.crossJoin(F.broadcast(sizes)).select(
        "s", F.expr("t div s").alias("block_id"), "t", "xm"
    )
    sums = blocks.groupBy("s", "block_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nb"),
        F.sum("xm").cast("bigint").alias("sx"),
    )
    wwalk = Window.partitionBy("s", "block_id").orderBy("t")
    walk = blocks.select(
        "s",
        "block_id",
        F.row_number().over(wwalk).alias("k"),
        F.sum("xm")
        .over(wwalk.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    w = (
        walk.join(sums, ["s", "block_id"])
        .filter(F.col("nb") == F.col("s"))
        .select(
            "s",
            "block_id",
            "k",
            (F.col("s") * F.col("cum") - F.col("k") * F.col("sx"))
            .cast("bigint")
            .alias("wv"),
        )
    )
    ww_sq = (
        F.col("wv").cast("decimal(25,0)")
        * F.col("wv").cast("decimal(13,0)")
    ).cast("decimal(38,0)")
    stats = w.groupBy("s", "block_id").agg(
        F.sum("wv").cast("bigint").alias("sw"),
        F.sum(ww_sq).cast("decimal(34,0)").alias("sww"),
        F.sum(F.col("k") * F.col("wv")).cast("bigint").alias("skw"),
    )
    a_num = (
        F.col("s").cast("decimal(4,0)") * F.col("sww")
    ).cast("decimal(38,0)") - (
        F.col("sw").cast("decimal(20,0)")
        * F.col("sw").cast("decimal(18,0)")
    ).cast("decimal(38,0)")
    b_num = F.col("s").cast("bigint") * F.col("skw") - (
        F.col("s").cast("bigint") * (F.col("s") + 1) / 2
    ).cast("bigint") * F.col("sw")
    c_expr = "CASE " + " ".join(
        f"WHEN s = {s} THEN {_dfa_c(s)}" for s in DFA_BLOCK_SIZES
    ) + " END"
    ab = stats.select(
        "s",
        "block_id",
        a_num.alias("a_num"),
        b_num.alias("b_num"),
    )
    acb = (
        (
            F.col("a_num").cast("decimal(30,0)")
            * F.expr(c_expr).cast("decimal(8,0)")
        ).cast("decimal(38,0)")
        - (
            F.col("b_num").cast("decimal(20,0)")
            * F.col("b_num").cast("decimal(18,0)")
        ).cast("decimal(38,0)")
    )
    f2_cases = "CASE " + " ".join(
        f"WHEN s = {s} THEN CAST(acb AS DOUBLE)"
        f" / {float(s**4 * _dfa_c(s))!r}"
        for s in DFA_BLOCK_SIZES
    ) + " END"
    fs = (
        ab.select("s", "block_id", acb.alias("acb"))
        .filter(F.col("acb") > 0)
        .select("s", F.sqrt(F.expr(f2_cases)).alias("f_val"))
    )
    means = fs.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        (
            F.sum(F.round(F.col("f_val"), 12).cast("decimal(38,12)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("mean_f"),
    )
    pivot_cols = []
    for s in DFA_BLOCK_SIZES:
        pivot_cols.append(
            F.max(F.when(F.col("s") == s, F.col("mean_f"))).alias(
                f"mf_{s}"
            )
        )
        pivot_cols.append(
            F.max(F.when(F.col("s") == s, F.col("n_blocks")))
            .cast("bigint")
            .alias(f"nb_{s}")
        )
    pivoted = means.agg(*pivot_cols)
    out_cols = []
    for s in DFA_BLOCK_SIZES:
        out_cols.extend([f"nb_{s}", f"mf_{s}"])
    return pivoted.select(
        *out_cols, F.expr(_dfa_slope_expr()).alias("dfa_alpha")
    )


#: Chow-Denning 5% critical value for the studentized maximum modulus
#: with m = len(VR_Q_PERIODS) = 4 comparisons and infinite df — the
#: standard joint-test table value (Chow & Denning 1993, SMM(0.05, 4,
#: ∞); Stoline & Ury tables).  Compile-time literal so both engines
#: compare against the identical constant.
CHOW_DENNING_CRIT_5PCT = 2.491


@register(
    "window_variance_ratio_joint",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_horizons,
           CAST(max(n_incr) AS BIGINT) AS n_incr,
           max(abs(z_homo)) AS max_abs_z,
           CAST(CASE WHEN max(abs(z_homo)) > {CHOW_DENNING_CRIT_5PCT}
                THEN 1 ELSE 0 END AS BIGINT) AS reject_rw_5pct
    FROM ({_vr_oracle()}) vr
    """,
    tags=("windowed", "timeseries", "statistics"),
)
def window_variance_ratio_joint(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chow-Denning joint variance-ratio test — the multiple-comparison
    closure of window_variance_ratio_daily: testing VR(q) = 1 at four
    horizons separately inflates the false-alarm rate ~4×, so the
    joint test compares max_q |z(q)| against the studentized-maximum-
    modulus 5% critical value (2.491 for 4 comparisons, the Chow &
    Denning 1993 table) and rejects the random-walk null once, with
    size controlled across the whole horizon family.  This is the row
    a monitoring pipeline alerts on; the per-q op is the diagnostic it
    drills into.

    Exactness: consumes the SAME per-horizon z statistics (one shared
    CTE text — the oracle literally nests _vr_oracle()); max/abs over
    4 values and one literal comparison add no float ambiguity.

    Scale: identical to the per-q op (one corpus scan, span-bounded
    grid work) plus a 4-row aggregate."""
    vr = window_variance_ratio_daily(spark, sf_dir)
    return vr.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_horizons"),
        F.max("n_incr").cast("bigint").alias("n_incr"),
        F.max(F.abs(F.col("z_homo"))).alias("max_abs_z"),
        F.when(
            F.max(F.abs(F.col("z_homo"))) > CHOW_DENNING_CRIT_5PCT, 1
        )
        .otherwise(0)
        .cast("bigint")
        .alias("reject_rw_5pct"),
    )


#: Shared float tail for the m=2 BDS statistic.  All inputs are exact
#: BIGINTs (pair counts p1/p2, per-point neighbor-count fold t_sum,
#: template count m_tpl); E0 literals keep every constant DOUBLE in
#: both engines.  For m=2 the Brock-Dechert-Scheinkman variance
#: polynomial collapses: sigma^2 = 4[K^2 + 2KC^2 + C^4 - 4KC^2]
#: = 4(K - C^2)^2, so sigma = 2(K - C^2) (K >= C^2 by
#: Cauchy-Schwarz), giving V = sqrt(M)(C2 - C1^2) / (2(K - C1^2)).
_BDS_C1 = (
    "(2.0E0 * CAST(p1 AS DOUBLE)"
    " / (CAST(m_tpl AS DOUBLE) * (CAST(m_tpl AS DOUBLE) - 1.0E0)))"
)
_BDS_C2 = (
    "(2.0E0 * CAST(p2 AS DOUBLE)"
    " / (CAST(m_tpl AS DOUBLE) * (CAST(m_tpl AS DOUBLE) - 1.0E0)))"
)
_BDS_K = (
    "(CAST(t_sum AS DOUBLE)"
    " / (CAST(m_tpl AS DOUBLE) * (CAST(m_tpl AS DOUBLE) - 1.0E0)"
    "    * (CAST(m_tpl AS DOUBLE) - 2.0E0)))"
)
_BDS_Z = (
    f"CASE WHEN {_BDS_K} > {_BDS_C1} * {_BDS_C1} THEN"
    f" sqrt(CAST(m_tpl AS DOUBLE))"
    f" * ({_BDS_C2} - {_BDS_C1} * {_BDS_C1})"
    f" / (2.0E0 * ({_BDS_K} - {_BDS_C1} * {_BDS_C1}))"
    " ELSE NULL END"
)


@register(
    "window_bds_test_daily",
    oracle=f"""
    WITH {_ORDERS_MICRO_CTE},
    seq AS (
        SELECT day, xm,
               lead(xm, 1) OVER (ORDER BY day) AS x1
        FROM daily
    ),
    moves AS (
        SELECT abs(x1 - xm) AS mv, day FROM seq WHERE x1 IS NOT NULL
    ),
    {_MOVE_TOL_CTE},
    tpl AS (
        SELECT day, xm AS x0, x1 FROM seq WHERE x1 IS NOT NULL
    ),
    flags AS (
        SELECT a.day AS da, b.day AS db,
               CASE WHEN abs(a.x0 - b.x0) <= t.r_tol
                    THEN 1 ELSE 0 END AS ch0,
               CASE WHEN abs(a.x0 - b.x0) <= t.r_tol
                     AND abs(a.x1 - b.x1) <= t.r_tol
                    THEN 1 ELSE 0 END AS ch2
        FROM tpl a JOIN tpl b ON a.day < b.day, tol t
    ),
    base AS (
        SELECT CAST(SUM(ch0) AS BIGINT) AS p1,
               CAST(SUM(ch2) AS BIGINT) AS p2
        FROM flags
    ),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m_tpl FROM tpl),
    cnt AS (
        SELECT d, CAST(count(*) AS BIGINT) AS c FROM (
            SELECT da AS d FROM flags WHERE ch0 = 1
            UNION ALL
            SELECT db FROM flags WHERE ch0 = 1
        ) GROUP BY 1
    ),
    tsum AS (
        SELECT CAST(COALESCE(SUM(c * (c - 1)), 0) AS BIGINT) AS t_sum
        FROM cnt
    )
    SELECT m.m_tpl, t.r_tol, b.p1, b.p2, ts.t_sum,
           {_BDS_C1} AS c1, {_BDS_C2} AS c2, {_BDS_K} AS k_hat,
           {_BDS_Z} AS bds_z
    FROM base b, m, tsum ts, tol t
    """,
    tags=("windowed", "timeseries", "statistics"),
)
def window_bds_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BDS independence test (Brock-Dechert-Scheinkman, m=2) on daily
    revenue — the NONLINEAR-dependence closure of the dynamics
    battery: the variance-ratio family only sees linear
    autocorrelation, the entropy pair sees motif regularity without a
    null distribution; BDS tests the i.i.d. null through correlation
    integrals (does proximity at dimension 2 factor into the product
    of dimension-1 proximities?) and is consistent against ANY
    departure — linear, nonlinear, or chaotic.  bds_z is asymptotically
    N(0,1) under i.i.d.

    Exactness: pair proximity counts P1/P2 over the m=2 common
    template range are pure integer Chebyshev tests against the SAME
    rank-selected tolerance the SampEn/ApEn ops select (shared
    constants); K's triple sum collapses to the per-point fold
    Σ_j c_j(c_j−1) (c_j = 1-dim neighbor count of template j: a
    center-indexed count of neighbor PAIRS, each unordered triple
    counted once per center it has), so every statistic enters the
    ONE shared float text (_BDS_Z, E0 literals) as an exact BIGINT.
    For m=2 the BDS variance polynomial collapses algebraically to
    4(K−C²)² (derivation in the tail's comment), so the z is one
    fixed-order expression — bit-identical cross-engine; a degenerate
    series (K = C²) yields NULL on both engines by the same guard.

    Scale: one map-side-combined groupBy to the day grid; ONE grid²
    pair pass (calendar-bounded, ~2.9M flag rows at the TPC-H span)
    feeds both the global P1/P2 fold and the per-point count fold;
    the corpus is touched once."""
    daily = _orders_daily(spark, sf_dir, "micro")
    w = Window.orderBy("day")
    seq = daily.select(
        "day", "xm", F.lead("xm", 1).over(w).alias("x1")
    )
    moves = seq.filter(F.col("x1").isNotNull()).select(
        F.abs(F.col("x1") - F.col("xm")).alias("mv"), "day"
    )
    tol = _move_tolerance(moves)
    tpl = seq.filter(F.col("x1").isNotNull()).select(
        "day", F.col("xm").alias("x0"), "x1"
    )
    a, b = tpl.alias("a"), tpl.alias("b")
    ch0 = (
        F.abs(F.col("a.x0") - F.col("b.x0")) <= F.col("r_tol")
    ).cast("int")
    ch2 = (
        (F.abs(F.col("a.x0") - F.col("b.x0")) <= F.col("r_tol"))
        & (F.abs(F.col("a.x1") - F.col("b.x1")) <= F.col("r_tol"))
    ).cast("int")
    flags = (
        a.join(b, F.col("a.day") < F.col("b.day"))
        .crossJoin(F.broadcast(tol))
        .select(
            F.col("a.day").alias("da"),
            F.col("b.day").alias("db"),
            ch0.alias("ch0"),
            ch2.alias("ch2"),
        )
    )
    base = flags.agg(
        F.sum("ch0").cast("bigint").alias("p1"),
        F.sum("ch2").cast("bigint").alias("p2"),
    )
    m = tpl.agg(F.count(F.lit(1)).cast("bigint").alias("m_tpl"))
    hits = flags.filter(F.col("ch0") == 1)
    cnt = (
        hits.select(F.col("da").alias("d"))
        .unionByName(hits.select(F.col("db").alias("d")))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    tsum = cnt.agg(
        F.coalesce(F.sum(F.col("c") * (F.col("c") - 1)), F.lit(0))
        .cast("bigint")
        .alias("t_sum")
    )
    return (
        base.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(tsum))
        .crossJoin(F.broadcast(tol))
        .select(
            "m_tpl",
            "r_tol",
            "p1",
            "p2",
            "t_sum",
            F.expr(_BDS_C1).alias("c1"),
            F.expr(_BDS_C2).alias("c2"),
            F.expr(_BDS_K).alias("k_hat"),
            F.expr(_BDS_Z).alias("bds_z"),
        )
    )


# ---------------------------------------------------------------------------
# Higuchi fractal dimension on the daily order-count series
# ---------------------------------------------------------------------------

#: Higuchi time-interval set (k = 1..k_max, the standard small-k_max
#: configuration).  Compile-time literals so the per-(k,m) length
#: normalization and the log-log slope are identical fixed-order text
#: in both engines.
HIGUCHI_K_SET = (1, 2, 3, 4, 5)


def _higuchi_slope_expr() -> str:
    """OLS slope of ln(L(k)) on ln(k), L-columns lk_<k>."""
    return _ols_slope_text(
        [repr(math.log(k)) for k in HIGUCHI_K_SET],
        [f"ln(lk_{k})" for k in HIGUCHI_K_SET],
    )


def _higuchi_oracle() -> str:
    pivots = ", ".join(
        f"MAX(CASE WHEN k = {k} THEN n_m END) AS nm_{k},"
        f" MAX(CASE WHEN k = {k} THEN l_k END) AS lk_{k}"
        for k in HIGUCHI_K_SET
    )
    outs = ", ".join(
        f"CAST(nm_{k} AS BIGINT) AS nm_{k}, lk_{k}"
        for k in HIGUCHI_K_SET
    )
    return f"""
    WITH daily AS (
        SELECT o_orderdate AS day, CAST(count(*) AS BIGINT) AS xm
        FROM orders GROUP BY 1
    ),
    idx AS (
        SELECT xm, row_number() OVER (ORDER BY day) - 1 AS t FROM daily
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
    ks AS (SELECT unnest(ARRAY{list(HIGUCHI_K_SET)}) AS k),
    diffs AS (
        SELECT ks.k, (b.t % ks.k) + 1 AS m, abs(a.xm - b.xm) AS ad
        FROM ks CROSS JOIN idx b JOIN idx a ON a.t = b.t + ks.k
    ),
    series AS (
        SELECT k, m, CAST(SUM(ad) AS BIGINT) AS a_sum,
               CAST(count(*) AS BIGINT) AS mm
        FROM diffs GROUP BY 1, 2
    ),
    terms AS (
        SELECT k, m,
               CAST(round(CAST(a_sum * (tot.n - 1) AS DOUBLE)
                          / (mm * k * k), 12)
                    AS DECIMAL(38,12)) AS lm
        FROM series, tot
    ),
    lks AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_m,
               CAST(SUM(lm) AS DOUBLE) / k AS l_k
        FROM terms GROUP BY 1
    ),
    pivoted AS (SELECT {pivots} FROM lks)
    SELECT {outs},
           -({_higuchi_slope_expr()}) AS higuchi_d
    FROM pivoted
    """


@register(
    "window_higuchi_fd_daily",
    oracle=_higuchi_oracle(),
    tags=("window", "timeseries", "complexity"),
)
def window_higuchi_fd_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higuchi fractal dimension of the daily order-count series
    (Higuchi, Physica D 1988) — the curve-length member of the
    complexity family (Hurst R/S reads range scaling, DFA detrended
    variance scaling, Higuchi reads the LENGTH of the curve traced at
    coarser and coarser time intervals): for interval k and offset
    m ∈ 1..k, the normalized curve length is

        L_m(k) = (Σ_i |x(m+ik) − x(m+(i−1)k)|) · (N−1) / (M_mk · k²)

    with M_mk = ⌊(N−m)/k⌋; L(k) = (Σ_m L_m(k))/k scales as k^(−D)
    with D ∈ [1, 2] the fractal dimension (D ≈ 1.5 for a random walk,
    → 2 for plane-filling noise).  Reported per k (series count and
    mean length) plus the log-log OLS slope as higuchi_d.

    Exactness: every |difference| sum A_mk is BIGINT (integer daily
    counts); the numerator A_mk·(N−1) stays BIGINT-exact (documented
    bound: daily count < 1e7 over < 1e4 days keeps it < 2⁵³, the DFA
    headroom argument); ONE division by the exact integer M_mk·k²,
    then the round-12-exact-decimal-sum pattern per k and the shared
    fixed-order slope text — the Hurst/DFA float-tail discipline.

    Scale: one map-side combined groupBy to the day grid; the k-lag
    pairing is a |K|-way self-equi-join on the day index (narrow,
    calendar-bounded); everything after the (k, m) aggregate is
    |K|·k_max rows on one pivoted row.  The corpus is touched once."""
    daily = _orders_daily(spark, sf_dir, "count")
    idx = daily.select(
        "xm",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
    )
    tot = idx.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ks = spark.createDataFrame(
        [(k,) for k in HIGUCHI_K_SET], "k int"
    )
    b = idx.select(F.col("t").alias("tb"), F.col("xm").alias("xb"))
    a = idx.select(F.col("t").alias("ta"), F.col("xm").alias("xa"))
    diffs = (
        b.crossJoin(F.broadcast(ks))
        .join(a, F.col("ta") == F.col("tb") + F.col("k"))
        .select(
            "k",
            ((F.col("tb") % F.col("k")) + 1).alias("m"),
            F.abs(F.col("xa") - F.col("xb")).alias("ad"),
        )
    )
    series = diffs.groupBy("k", "m").agg(
        F.sum("ad").cast("bigint").alias("a_sum"),
        F.count(F.lit(1)).cast("bigint").alias("mm"),
    )
    terms = series.crossJoin(F.broadcast(tot)).select(
        "k",
        F.round(
            (F.col("a_sum") * (F.col("n") - 1)).cast("double")
            / (F.col("mm") * F.col("k") * F.col("k")),
            12,
        )
        .cast("decimal(38,12)")
        .alias("lm"),
    )
    lks = terms.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_m"),
        (F.sum("lm").cast("double") / F.col("k")).alias("l_k"),
    )
    pivot_cols = []
    for k in HIGUCHI_K_SET:
        pivot_cols.append(
            F.max(F.when(F.col("k") == k, F.col("n_m")))
            .cast("bigint")
            .alias(f"nm_{k}")
        )
        pivot_cols.append(
            F.max(F.when(F.col("k") == k, F.col("l_k"))).alias(f"lk_{k}")
        )
    pivoted = lks.agg(*pivot_cols)
    out_cols = []
    for k in HIGUCHI_K_SET:
        out_cols.extend([f"nm_{k}", f"lk_{k}"])
    return pivoted.select(
        *out_cols,
        (-F.expr(_higuchi_slope_expr())).alias("higuchi_d"),
    )


# ---------------------------------------------------------------------------
# Recurrence quantification analysis (RQA) on daily revenue
# ---------------------------------------------------------------------------

#: Minimum diagonal-line length that counts as "deterministic
#: structure" (the standard RQA l_min).
RQA_LMIN = 2


@register(
    "window_rqa_determinism_daily",
    oracle=f"""
    WITH {_ORDERS_MICRO_CTE},
    idx AS (
        SELECT xm, day,
               row_number() OVER (ORDER BY day) - 1 AS t,
               count(*) OVER () AS n
        FROM daily
    ),
    moves AS (
        SELECT abs(lead(xm) OVER (ORDER BY day) - xm) AS mv, day
        FROM idx QUALIFY mv IS NOT NULL
    ),
    {_MOVE_TOL_CTE},
    rec AS MATERIALIZED (
        SELECT b.t - a.t AS d, a.t AS i
        FROM idx a JOIN idx b ON a.t < b.t, tol
        WHERE abs(a.xm - b.xm) <= tol.r_tol
    ),
    runs AS (
        SELECT d, count(*) AS len FROM (
            SELECT d, i,
                   i - row_number() OVER (PARTITION BY d ORDER BY i)
                       AS grp
            FROM rec
        ) GROUP BY d, grp
    ),
    agg AS (
        SELECT CAST(SUM(len) AS BIGINT) AS n_rec,
               CAST(SUM(CASE WHEN len >= {RQA_LMIN}
                        THEN len ELSE 0 END) AS BIGINT) AS pts_det,
               CAST(max(len) AS BIGINT) AS l_max,
               CAST(SUM(CASE WHEN len >= {RQA_LMIN}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_lines
        FROM runs
    )
    SELECT (SELECT max(n) FROM idx) AS n_days,
           t.r_tol,
           a.n_rec, a.pts_det, a.l_max, a.n_lines,
           CAST(2 * a.n_rec AS DOUBLE)
               / ((SELECT max(n) FROM idx)
                  * ((SELECT max(n) FROM idx) - 1)) AS recurrence_rate,
           CASE WHEN a.n_rec > 0
                THEN CAST(a.pts_det AS DOUBLE) / a.n_rec END
               AS determinism,
           CASE WHEN a.n_lines > 0
                THEN CAST(a.pts_det AS DOUBLE) / a.n_lines END
               AS l_mean
    FROM agg a, tol t
    """,
    tags=("windowed", "timeseries", "complexity"),
)
def window_rqa_determinism_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recurrence quantification analysis (Webber & Zbilut; Marwan) of
    the daily revenue series — the STRUCTURE member of the complexity
    family (SampEn/ApEn count how often patterns repeat; RQA asks how
    repeats ORGANIZE: isolated recurrences = stochastic, diagonal
    lines = deterministic rule revisiting trajectories): over the
    upper-triangle recurrence set {{(i,j): |x_i − x_j| ≤ r, i<j}},
    the recurrence rate, the DET fraction of recurrent points lying on
    diagonal lines of length ≥ 2, the longest line, and the mean line
    length.

    Exactness: the tolerance is the SampEn op's rank-selected integer
    (shared constants — ceil(0.8·(n−1))-th smallest absolute move);
    recurrence tests are integer comparisons on micro-int revenue;
    diagonal lines are gaps-and-islands integer grouping
    (i − row_number per diagonal — the house islands kernel); the
    three output ratios are single mirrored IEEE divisions of exact
    integers.

    Scale: the pair stage is grid² on CALENDAR DAYS (the SampEn/BDS
    precedent — bounded by the date domain, not the corpus); the
    islands window partitions by diagonal (≤ n partitions, rows =
    recurrent pairs only).  One corpus scan builds the day grid."""
    daily = _orders_daily(spark, sf_dir, "micro")
    idx = daily.select(
        "xm",
        "day",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
    ).localCheckpoint(eager=True)
    n_days = idx.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    moves = (
        idx.select(
            (
                F.abs(
                    F.lead("xm").over(Window.orderBy("day")) - F.col("xm")
                )
            ).alias("mv"),
            "day",
        )
        .filter(F.col("mv").isNotNull())
    )
    tol = _move_tolerance(moves)
    a = idx.select(F.col("t").alias("ta"), F.col("xm").alias("xa"))
    b = idx.select(F.col("t").alias("tb"), F.col("xm").alias("xb"))
    rec = (
        a.join(b, F.col("ta") < F.col("tb"))
        .crossJoin(F.broadcast(tol))
        .filter(F.abs(F.col("xa") - F.col("xb")) <= F.col("r_tol"))
        .select(
            (F.col("tb") - F.col("ta")).alias("d"),
            F.col("ta").alias("i"),
        )
    )
    runs = (
        rec.select(
            "d",
            "i",
            (
                F.col("i")
                - F.row_number().over(
                    Window.partitionBy("d").orderBy("i")
                )
            ).alias("grp"),
        )
        .groupBy("d", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    agg = runs.agg(
        F.sum("len").cast("bigint").alias("n_rec"),
        F.sum(
            F.when(F.col("len") >= RQA_LMIN, F.col("len")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("pts_det"),
        F.max("len").cast("bigint").alias("l_max"),
        F.sum(
            F.when(F.col("len") >= RQA_LMIN, F.lit(1)).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("n_lines"),
    )
    return (
        agg.crossJoin(F.broadcast(tol))
        .crossJoin(F.broadcast(n_days))
        .select(
            F.col("n").alias("n_days"),
            "r_tol",
            "n_rec",
            "pts_det",
            "l_max",
            "n_lines",
            (
                (F.lit(2) * F.col("n_rec")).cast("double")
                / (F.col("n") * (F.col("n") - 1))
            ).alias("recurrence_rate"),
            F.when(
                F.col("n_rec") > 0,
                F.col("pts_det").cast("double") / F.col("n_rec"),
            ).alias("determinism"),
            F.when(
                F.col("n_lines") > 0,
                F.col("pts_det").cast("double") / F.col("n_lines"),
            ).alias("l_mean"),
        )
    )


# ---------------------------------------------------------------------------
# Theta-method forecast (Assimakopoulos & Nikolopoulos)
# ---------------------------------------------------------------------------

#: Forecast horizon (days ahead) reported per series.
THETA_HORIZON = 7


def _theta_ses_fold(pdf):
    """Per-series SES fold (α = 1/2) over the θ=2 line, sequential by
    construction — one series per applyInPandas task.  Rounding is the
    C-style half-away-from-zero at 6 decimals matching DuckDB round()
    (the _holt_fold convention); s₁ = y₁ exact."""
    import pandas as pd

    pdf = pdf.sort_values("i").reset_index(drop=True)
    if len(pdf) < 2:
        return pd.DataFrame(
            columns=["event_type", "n_days", "slope", "intercept", "ses"]
        )
    ys = list(pdf["y"])
    s = ys[0]
    for t in range(2, len(ys) + 1):
        s = _r6(0.5 * ys[t - 1] + 0.5 * s)
    return pd.DataFrame(
        [
            (
                pdf["event_type"].iloc[0],
                len(ys),
                pdf["b"].iloc[0],
                pdf["a"].iloc[0],
                s,
            )
        ],
        columns=["event_type", "n_days", "slope", "intercept", "ses"],
    )


#: Shared fixed-order OLS texts over the per-series sums
#: (n, si, sii, siy, sy) — both engines evaluate the identical string.
_THETA_B_SQL = (
    "((n * CAST(siy AS DOUBLE) - CAST(si AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (n * CAST(sii AS DOUBLE) - CAST(si AS DOUBLE) * CAST(si AS DOUBLE)))"
)
_THETA_A_SQL = "((CAST(sy AS DOUBLE) - b * CAST(si AS DOUBLE)) / n)"


@register(
    "window_theta_forecast_daily",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS x
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT event_type, x,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY day) AS i
        FROM daily
    ),
    sums AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(SUM(i) AS BIGINT) AS si,
               CAST(SUM(i * i) AS BIGINT) AS sii,
               SUM(CAST(round(i * x, 6) AS DECIMAL(28,6))) AS siy,
               SUM(CAST(round(x, 6) AS DECIMAL(28,6))) AS sy
        FROM idx GROUP BY 1
        HAVING count(*) >= 2
    ),
    bline AS (
        SELECT event_type, n, si, sy, {_THETA_B_SQL} AS b
        FROM sums
    ),
    ab AS MATERIALIZED (
        SELECT event_type, n, b, {_THETA_A_SQL} AS a FROM bline
    ),
    theta2 AS MATERIALIZED (
        SELECT d.event_type, d.i,
               2.0E0 * d.x - (ab.a + ab.b * d.i) AS y
        FROM idx d JOIN ab ON ab.event_type = d.event_type
    ),
    rec(event_type, i, s) AS (
        SELECT event_type, CAST(1 AS BIGINT), y FROM theta2 WHERE i = 1
        UNION ALL
        SELECT r.event_type, r.i + 1,
               round(0.5 * d.y + 0.5 * r.s, 6)
        FROM rec r JOIN theta2 d
          ON d.event_type = r.event_type AND d.i = r.i + 1
    ),
    ses AS (
        SELECT r.event_type, r.s
        FROM rec r JOIN ab ON ab.event_type = r.event_type
        WHERE r.i = ab.n
    ),
    hs AS (SELECT unnest(generate_series(1, {THETA_HORIZON})) AS h)
    SELECT ab.event_type, CAST(hs.h AS INT) AS h,
           CAST(ab.n AS BIGINT) AS n_days,
           ab.b AS slope, ab.a AS intercept, s.s AS ses_level,
           ab.a + ab.b * (ab.n + hs.h) AS line_forecast,
           5.0E-1 * (ab.a + ab.b * (ab.n + hs.h)) + 5.0E-1 * s.s
               AS theta_forecast
    FROM ab JOIN ses s ON s.event_type = ab.event_type
    CROSS JOIN hs
    """,
    tags=("windowed", "timeseries", "forecast", "stateful"),
)
def window_theta_forecast_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theta-method forecast (Assimakopoulos & Nikolopoulos, IJF 2000
    — the M3-competition winner; Hyndman & Billah showed it is SES
    with drift) of per-event-type daily revenue, horizon 7: the series
    decomposes into the θ=0 line (the OLS trend, capturing long-run
    drift) and the θ=2 line (2x − trend, double-curvature, capturing
    local dynamics); the forecast averages the extrapolated line with
    the SES (α = ½) level of the θ=2 line.

    Exactness: OLS sums are exact (integer Σi/Σi², round-6 decimal
    Σxy/Σx — x is a 6-decimal value by construction, so round(x,6) is
    the identity and the quantization loses nothing); slope/intercept
    are ONE shared fixed-order float text; the θ=2 series is a
    mirrored double expression; the SES recursion applies the Holt-op
    convention (per-step half-away round-6, s₁ exact) as an
    applyInPandas fold per series against a state-threading RECURSIVE
    CTE oracle; horizon extrapolation is a mirrored linear expression.

    Scale: one map-side-combined groupBy to the (series × calendar)
    table; the OLS sums are a second groupBy of the same grid; the
    fold is O(days) per series with O(1) state — a million series
    parallelize perfectly (the Holt argument verbatim); output is
    series × 7 rows."""
    idx = _events_daily(
        spark, sf_dir, dec_sum("value", "x"), by_type=True, index=True
    )
    sums = (
        idx.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("i").cast("bigint").alias("si"),
            F.sum(F.col("i") * F.col("i")).cast("bigint").alias("sii"),
            F.sum(
                F.round(F.col("i") * F.col("x"), 6).cast("decimal(28,6)")
            ).alias("siy"),
            F.sum(F.round(F.col("x"), 6).cast("decimal(28,6)")).alias(
                "sy"
            ),
        )
        .filter(F.col("n") >= 2)
    )
    bline = sums.select(
        "event_type", "n", "si", "sy", F.expr(_THETA_B_SQL).alias("b")
    )
    ab = bline.select(
        "event_type", "n", "b", F.expr(_THETA_A_SQL).alias("a")
    )
    theta2 = idx.join(F.broadcast(ab), "event_type").select(
        "event_type",
        "i",
        "n",
        "a",
        "b",
        (
            F.lit(2.0) * F.col("x") - (F.col("a") + F.col("b") * F.col("i"))
        ).alias("y"),
    )
    folded = theta2.groupBy("event_type").applyInPandas(
        _theta_ses_fold,
        schema=(
            "event_type string, n_days bigint, slope double, "
            "intercept double, ses double"
        ),
    )
    hs = spark.createDataFrame(
        [(h,) for h in range(1, THETA_HORIZON + 1)], "h int"
    )
    line = F.col("intercept") + F.col("slope") * (
        F.col("n_days") + F.col("h")
    )
    return folded.crossJoin(F.broadcast(hs)).select(
        "event_type",
        F.col("h").cast("int").alias("h"),
        "n_days",
        "slope",
        "intercept",
        F.col("ses").alias("ses_level"),
        line.alias("line_forecast"),
        (F.lit(0.5) * line + F.lit(0.5) * F.col("ses")).alias(
            "theta_forecast"
        ),
    )


# ---------------------------------------------------------------------------
# Largest Lyapunov exponent (Rosenstein) on daily revenue
# ---------------------------------------------------------------------------

#: Rosenstein configuration: embedding dimension 2 (delay 1), Theiler
#: exclusion window (nearest neighbors must be > this many days apart,
#: killing trivial temporal correlation), divergence horizons 0..5.
LYAP_THEILER = 7
LYAP_HORIZONS = (0, 1, 2, 3, 4, 5)


def _lyap_slope_expr() -> str:
    """OLS slope of y(k) on k over the literal horizon set, y-columns
    y_<k>."""
    return _ols_slope_text(
        [str(k) for k in LYAP_HORIZONS], [f"y_{k}" for k in LYAP_HORIZONS]
    )


def _lyap_oracle() -> str:
    pivots = ", ".join(
        f"MAX(CASE WHEN k = {k} THEN n_k END) AS n_{k},"
        f" MAX(CASE WHEN k = {k} THEN y_k END) AS y_{k}"
        for k in LYAP_HORIZONS
    )
    outs = ", ".join(
        f"CAST(n_{k} AS BIGINT) AS n_{k}, y_{k}" for k in LYAP_HORIZONS
    )
    return f"""
    WITH {_ORDERS_MICRO_CTE},
    idx AS (
        SELECT xm, row_number() OVER (ORDER BY day) - 1 AS t FROM daily
    ),
    emb AS MATERIALIZED (
        SELECT a.t AS i, a.xm AS a0, b.xm AS a1
        FROM idx a JOIN idx b ON b.t = a.t + 1
    ),
    nn AS MATERIALIZED (
        SELECT i, j FROM (
            SELECT a.i, b.i AS j,
                   row_number() OVER (
                       PARTITION BY a.i
                       ORDER BY greatest(abs(a.a0 - b.a0),
                                         abs(a.a1 - b.a1)), b.i) AS rn
            FROM emb a JOIN emb b ON abs(a.i - b.i) > {LYAP_THEILER}
        ) WHERE rn = 1
    ),
    ks AS (SELECT unnest(ARRAY{list(LYAP_HORIZONS)}) AS k),
    div AS (
        SELECT ks.k,
               greatest(abs(ea.a0 - eb.a0), abs(ea.a1 - eb.a1)) AS d
        FROM nn CROSS JOIN ks
        JOIN emb ea ON ea.i = nn.i + ks.k
        JOIN emb eb ON eb.i = nn.j + ks.k
    ),
    ys AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_k,
               CAST(SUM(CAST(round(ln(d), 12) AS DECIMAL(38,12)))
                    AS DOUBLE) / count(*) AS y_k
        FROM div WHERE d > 0 GROUP BY k
    ),
    pivoted AS (SELECT {pivots} FROM ys)
    SELECT {outs},
           {_lyap_slope_expr()} AS lyapunov_slope
    FROM pivoted
    """


@register(
    "window_lyapunov_rosenstein_daily",
    oracle=_lyap_oracle(),
    tags=("windowed", "timeseries", "complexity"),
)
def window_lyapunov_rosenstein_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Largest-Lyapunov-exponent estimate (Rosenstein et al., Physica D
    1993) of the daily revenue series — the SENSITIVITY member of the
    complexity family (SampEn/ApEn count pattern repeats, RQA reads
    their organization, DFA/Hurst read scaling; the Lyapunov slope
    reads how fast NEARBY trajectories diverge — positive slope =
    chaos-like sensitive dependence, ~zero = stochastic or periodic):
    each m=2-embedded point takes its nearest neighbor beyond a 7-day
    Theiler window, and y(k) = ⟨ln d_k⟩ tracks the mean log divergence
    over horizons k = 0..5; the OLS slope of y(k) is the exponent
    estimate (per day, in ln units of micro-int revenue).

    Exactness: distances are CHEBYSHEV (max-abs) on micro-int revenue —
    pure BIGINT, so the nearest-neighbor argmin is an exact integer
    comparison with a deterministic index tie-break (no float sqrt of
    the Euclidean norm anywhere); ln over positive integers is the
    bit-stable house pattern, round-12 decimal before the
    order-independent per-horizon mean; zero divergences are excluded
    on BOTH engines (ln 0 undefined — the standard Rosenstein
    exclusion); the slope is one shared fixed-order text.

    Scale: the neighbor search is grid² on CALENDAR DAYS (the
    SampEn/BDS/RQA precedent — bounded by the date domain, never the
    corpus); the argmin is one window partitioned by point; horizon
    tracking is |K| self-equi-joins on the day index.  One corpus scan
    builds the grid."""
    daily = _orders_daily(spark, sf_dir, "micro")
    idx = daily.select(
        "xm",
        (F.row_number().over(Window.orderBy("day")) - 1).alias("t"),
    ).localCheckpoint(eager=True)
    ia = idx.select(F.col("t").alias("ta"), F.col("xm").alias("x0"))
    ib = idx.select(F.col("t").alias("tb"), F.col("xm").alias("x1"))
    emb = ia.join(ib, F.col("tb") == F.col("ta") + 1).select(
        F.col("ta").alias("i"), F.col("x0").alias("a0"),
        F.col("x1").alias("a1"),
    ).localCheckpoint(eager=True)
    ea = emb.select(
        F.col("i").alias("ai"), F.col("a0").alias("aa0"),
        F.col("a1").alias("aa1"),
    )
    eb = emb.select(
        F.col("i").alias("bi"), F.col("a0").alias("ba0"),
        F.col("a1").alias("ba1"),
    )
    dist = F.greatest(
        F.abs(F.col("aa0") - F.col("ba0")),
        F.abs(F.col("aa1") - F.col("ba1")),
    )
    nn = (
        ea.join(
            eb, F.abs(F.col("ai") - F.col("bi")) > LYAP_THEILER
        )
        .select("ai", "bi", dist.alias("d0"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("ai").orderBy("d0", "bi")
            ),
        )
        .filter(F.col("rn") == 1)
        .select(F.col("ai").alias("i"), F.col("bi").alias("j"))
    )
    ks = spark.createDataFrame(
        [(k,) for k in LYAP_HORIZONS], "k int"
    )
    fa = emb.select(
        F.col("i").alias("fi"), F.col("a0").alias("fa0"),
        F.col("a1").alias("fa1"),
    )
    fb = emb.select(
        F.col("i").alias("gi"), F.col("a0").alias("ga0"),
        F.col("a1").alias("ga1"),
    )
    div = (
        nn.crossJoin(F.broadcast(ks))
        .join(fa, F.col("fi") == F.col("i") + F.col("k"))
        .join(fb, F.col("gi") == F.col("j") + F.col("k"))
        .select(
            "k",
            F.greatest(
                F.abs(F.col("fa0") - F.col("ga0")),
                F.abs(F.col("fa1") - F.col("ga1")),
            ).alias("d"),
        )
    )
    ys = (
        div.filter(F.col("d") > 0)
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_k"),
            (
                F.sum(
                    F.round(F.log(F.col("d")), 12).cast("decimal(38,12)")
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("y_k"),
        )
    )
    pivot_cols = []
    for k in LYAP_HORIZONS:
        pivot_cols.append(
            F.max(F.when(F.col("k") == k, F.col("n_k")))
            .cast("bigint")
            .alias(f"n_{k}")
        )
        pivot_cols.append(
            F.max(F.when(F.col("k") == k, F.col("y_k"))).alias(f"y_{k}")
        )
    pivoted = ys.agg(*pivot_cols)
    out_cols = []
    for k in LYAP_HORIZONS:
        out_cols.extend([f"n_{k}", f"y_{k}"])
    return pivoted.select(
        *out_cols, F.expr(_lyap_slope_expr()).alias("lyapunov_slope")
    )


# ---------------------------------------------------------------------------
# Periodogram of the daily series (frequency-domain seasonality)
# ---------------------------------------------------------------------------

#: Candidate periods (days) the periodogram is evaluated at.
PERIODOGRAM_PERIODS = tuple(range(2, 11))
#: 2π as one shared literal so both engines feed trig identical args.
TWO_PI_LITERAL = "6.283185307179586"


@register(
    "window_periodogram_daily",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE)
                   - DATE '1970-01-01' AS d,
               SUM(CAST(value AS DECIMAL(18,6))) AS x
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT count(*) AS n,
               CAST(SUM(x) AS DOUBLE) / count(*) AS mu,
               MIN(d) AS dmin
        FROM daily
    ),
    dev AS (
        SELECT d - dmin AS t, CAST(x AS DOUBLE) - mu AS e, n
        FROM daily, tot
    ),
    ps AS (
        SELECT unnest(generate_series({PERIODOGRAM_PERIODS[0]},
                                      {PERIODOGRAM_PERIODS[-1]})) AS p
    ),
    terms AS (
        SELECT ps.p, dev.n,
               CAST(round(e * round(cos({TWO_PI_LITERAL} * t / ps.p), 12),
                          6) AS DECIMAL(18,6)) AS ec,
               CAST(round(e * round(sin({TWO_PI_LITERAL} * t / ps.p), 12),
                          6) AS DECIMAL(18,6)) AS es
        FROM ps JOIN dev ON TRUE
    ),
    spec AS (
        SELECT p, MAX(n) AS n_days,
               CAST(SUM(ec) AS DOUBLE) AS re,
               CAST(SUM(es) AS DOUBLE) AS im
        FROM terms GROUP BY p
    ),
    powr AS (
        SELECT p, n_days, (re * re + im * im) / n_days AS power
        FROM spec
    ),
    ranked AS (
        SELECT powr.*,
               row_number() OVER (ORDER BY power DESC, p) AS rk
        FROM powr
    )
    SELECT CAST(p AS INT) AS period,
           CAST(n_days AS BIGINT) AS n_days,
           power,
           (rk = 1) AS is_dominant
    FROM ranked
    """,
    tags=("windowed", "timeseries", "statistics"),
)
def window_periodogram_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Periodogram of total daily revenue at candidate periods 2..10
    days — the FREQUENCY-domain seasonality detector beside the
    time-domain ACF (ACF(7) says 'lag-7 correlation exists';
    P(p) = (Σe_t cos(2πt/p))² + (Σe_t sin(2πt/p))² / n says which
    period carries the most energy even when phase drifts or several
    cycles overlap — the Schuster periodogram at a literal period
    grid).  The argmax row is flagged is_dominant, tie-broken to the
    shortest period.

    Exactness: the demeaned series rides the ACF kernel's exact
    decimal daily sums; trig factors are round-12 of cos/sin on the
    IDENTICAL double argument (one shared 2π literal, day index t
    relative to the series start); each product re-quantizes round-6
    DECIMAL before the order-independent sum; the power is the
    identical square-and-add nesting in both engines, so the argmax
    compares identical doubles.

    Scale: events collapse to the calendar-sized daily table in one
    map-side-combined pass; the period sweep is a |periods| × days
    broadcast fan-out (both literal-bounded); the ranked window runs
    on |periods| rows.  Per-key spectra at 100 TB: partition dev by
    series key, same plan."""
    daily = _events_daily(spark, sf_dir, epoch=True)
    dev = _demeaned(daily, e="x").select(
        (F.col("d") - F.col("dmin")).alias("t"), "e", "n"
    )
    ps = spark.range(
        PERIODOGRAM_PERIODS[0], PERIODOGRAM_PERIODS[-1] + 1
    ).select(F.col("id").cast("bigint").alias("p"))
    two_pi = F.lit(float(TWO_PI_LITERAL))
    ang = two_pi * F.col("t") / F.col("p")
    terms = F.broadcast(ps).crossJoin(dev).select(
        "p",
        "n",
        F.round(F.col("e") * F.round(F.cos(ang), 12), 6)
        .cast("decimal(18,6)")
        .alias("ec"),
        F.round(F.col("e") * F.round(F.sin(ang), 12), 6)
        .cast("decimal(18,6)")
        .alias("es"),
    )
    spec = terms.groupBy("p").agg(
        F.max("n").alias("n_days"),
        F.sum("ec").cast("double").alias("re"),
        F.sum("es").cast("double").alias("im"),
    )
    powr = spec.select(
        "p",
        "n_days",
        (
            (F.col("re") * F.col("re") + F.col("im") * F.col("im"))
            / F.col("n_days")
        ).alias("power"),
    )

    ranked = powr.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.col("power").desc(), "p")),
    )
    return ranked.select(
        F.col("p").cast("int").alias("period"),
        F.col("n_days").cast("bigint").alias("n_days"),
        "power",
        (F.col("rk") == 1).alias("is_dominant"),
    )
