"""The Python UDF surface, used the way the engine prescribes it:

- Arrow-batched ``pandas_udf`` for vectorized scalar work (10-100× faster
  than row-at-a-time ``udf``, which this engine does not use anywhere);
- ``applyInPandas`` for per-group logic that genuinely needs a dataframe
  view of the group (the batch analog of the reference's custom
  ``aggregate()`` callback, UniqueUsersCounter.java:80-84).

Both queries here are deliberately ALSO expressible in SQL so the pandas
path itself is oracle-checked: every arithmetic step is ordered
identically on both sides (int64 sums first, one float division last), so
even float outputs match bit-for-bit.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf

from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import fanout, table


def _token_count_udf():
    # Built lazily: pandas_udf parses its DDL return type against the
    # active SparkSession, which doesn't exist at module-import time.
    @pandas_udf("long")
    def _token_count(text: pd.Series) -> pd.Series:
        # Vectorized count of single-space-separated tokens; semantics
        # match Spark split / DuckDB string_split (empty tokens included).
        # Nullable Int64 so a NULL text yields NULL, not an astype crash.
        return text.str.count(" ").add(1).astype("Int64")

    return _token_count


@register(
    "pandas_udf_token_count",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens_udf
    FROM documents
    """,
    tags=("udf",),
)
def pandas_udf_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized pandas UDF (Arrow batches, no per-row Python overhead).
    The same quantity is computed JVM-side in text_token_stats — keeping
    both proves the UDF path is semantics-identical to the built-in one."""
    d = fanout(table(spark, sf_dir, "documents"))
    return d.select("doc_id", _token_count_udf()("text").alias("n_tokens_udf"))


def _gap_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("ts_us", kind="mergesort")
    gaps = pdf["ts_us"].diff().dropna()
    n = len(pdf)
    if n < 2:
        # A singleton user has no gaps — emit nothing (the oracle's
        # HAVING count(*) >= 2), instead of dividing by zero.
        return pd.DataFrame(
            {
                "user_id": pd.Series([], dtype="int64"),
                "n_events": pd.Series([], dtype="int64"),
                "mean_gap_s": pd.Series([], dtype="float64"),
                "first_us": pd.Series([], dtype="int64"),
                "last_us": pd.Series([], dtype="int64"),
            }
        )
    # Ordered identically to the SQL side: int64 sum, divide by count,
    # then scale — float ops in the same sequence produce the same bits.
    mean_gap_s = float(gaps.sum()) / float(n - 1) / 1e6
    return pd.DataFrame(
        {
            "user_id": [pdf["user_id"].iloc[0]],
            "n_events": [n],
            "mean_gap_s": [mean_gap_s],
            "first_us": [pdf["ts_us"].min()],
            "last_us": [pdf["ts_us"].max()],
        }
    )


@register(
    "applyinpandas_user_gap_stats",
    oracle="""
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) AS ts_us,
               epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY epoch_us(ts)) AS gap_us
        FROM events
    )
    SELECT user_id,
           count(*) AS n_events,
           CAST(SUM(gap_us) AS DOUBLE) / CAST(count(*) - 1 AS DOUBLE) / 1e6
               AS mean_gap_s,
           min(ts_us) AS first_us,
           max(ts_us) AS last_us
    FROM g
    GROUP BY user_id
    HAVING count(*) >= 2
    """,
    tags=("udf",),
)
def applyinpandas_user_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event-gap statistics via applyInPandas: each user's
    timeline arrives as one pandas DataFrame (the engine's escape hatch
    for group logic that doesn't decompose into aggregates).

    Scale: one shuffle on user_id; group size is bounded by per-user
    activity.  A power-user group that exceeds executor memory is the
    known hazard of this operator class — the docstring contract is
    'group must fit in memory', and the window-function formulation (the
    oracle side) is the fallback when it doesn't."""
    events = table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("ts_us")
    )
    out = events.groupBy("user_id").applyInPandas(
        _gap_stats,
        schema="user_id bigint, n_events bigint, mean_gap_s double, "
               "first_us bigint, last_us bigint",
    )
    return out.filter(F.col("n_events") >= 2)


def _exact_value_sum_udf():
    # GROUPED_AGG pandas UDF — the engine's UDAF surface (PySpark has no
    # row-at-a-time UDAF; the Arrow grouped-agg form IS the custom
    # aggregate).  Exactness discipline: quantize PER ROW to integer
    # micros, sum int64, divide once — matching the oracle's
    # SUM(CAST(value AS DECIMAL(18,6))) bit for bit (same recipe as
    # streaming/stateful.py's state accumulation).
    @pandas_udf("double")
    def _exact_value_sum(v: pd.Series) -> float:
        # NULLs arrive as NaN in a grouped-agg series (built-in sums
        # filter them before the UDAF would); drop them to match SQL
        # SUM's skip-null semantics instead of crashing astype(int64).
        v = v.dropna()
        return float(v.mul(1e6).round().astype("int64").sum()) / 1e6

    return _exact_value_sum


def _group_count_udf():
    # Spark refuses to mix grouped-agg pandas UDFs with built-in
    # aggregates in one agg (INVALID_PANDAS_UDF_PLACEMENT), so the row
    # count rides along as a second grouped-agg UDF.
    @pandas_udf("long")
    def _group_count(v: pd.Series) -> int:
        return len(v)

    return _group_count


@register(
    "pandas_grouped_agg_value_sum",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           count(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
    tags=("udf", "udaf"),
)
def pandas_grouped_agg_value_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via GROUPED_AGG pandas UDFs — completing the UDF
    surface (scalar pandas_udf, applyInPandas grouped-map,
    applyInPandasWithState, mapInPandas, and now grouped-agg).

    Scale: grouped-agg UDFs get Arrow-batched partial evaluation per
    shuffle partition — but NO map-side combine (unlike built-in sums):
    every row crosses the shuffle.  That's the documented cost of custom
    aggregates; use them for semantics built-ins can't express, not for
    sums (this one exists to pin the path's correctness)."""
    events = table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        _exact_value_sum_udf()("value").alias("total_value"),
        _group_count_udf()("value").alias("n_events"),
    )


@register(
    "udtf_word_positions",
    oracle="""
    SELECT doc_id,
           CAST(t.i - 1 AS INT) AS idx,
           string_split(text, ' ')[t.i] AS word
    FROM documents, unnest(range(1, len(string_split(text, ' ')) + 1)) t(i)
    WHERE doc_id < 50
    """,
    tags=("udf", "udtf"),
)
def udtf_word_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python user-defined TABLE function (Spark 3.5+ `@udtf`): one input
    row expands to (word, position) rows via a lateral join — completing
    the Python extension surface (scalar pandas UDF, grouped-agg UDAF,
    grouped-map, mapInPandas, and now table functions).

    The same expansion is expressible JVM-side as posexplode (see
    array_word_explode_stats) — at 100 TB that is the production path;
    the UDTF exists for logic that genuinely needs per-row Python
    generators (parsers, tokenizers with state), and this query pins
    that the two paths agree with the oracle.  Bounded to doc_id < 50
    so the row-at-a-time Python cost stays out of the hot sweep."""
    @udtf(returnType="idx: int, word: string")
    class SplitWords:
        def eval(self, text: str):
            if text is None:
                return
            for i, w in enumerate(text.split(" ")):
                yield (i, w)

    spark.udtf.register("kssp_split_words", SplitWords)
    docs = fanout(table(spark, sf_dir, "documents")).filter(F.col("doc_id") < 50)
    return spark.sql(
        """
        SELECT d.doc_id, s.idx, s.word
        FROM {docs} d, LATERAL kssp_split_words(d.text) s
        """,
        docs=docs,
    )


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters (bounded-memory sketch + exact verify)
# ---------------------------------------------------------------------------

#: Misra-Gries sketch capacity / heavy-hitter denominator: the operator
#: reports items with frequency > n/HH_K, and each partition's sketch
#: holds at most HH_K counters.
HH_K = 16

#: Synthetic skew injection: the driver's events table is deliberately
#: uniform (150 users x ~67 events — no natural heavy hitter), so the
#: item column maps users < 36 onto three hot keys (~8% of traffic
#: each, above the 1/16 threshold) and everyone else onto their unique
#: event id (a singleton long tail ~9.7k items wide, far beyond the
#: 16-counter sketch) — the same inject-then-exercise convention as the
#: PII scrub, making the sketch path genuinely decrement-heavy rather
#: than trivially complete.
_HH_ITEM_SQL = (
    "CASE WHEN user_id < 36 THEN 'hot_' || CAST(user_id % 3 AS VARCHAR) "
    "ELSE 'cold_' || CAST(event_id AS VARCHAR) END"
)


def _mg_sketch_partition(batches):
    """Per-partition Misra-Gries: at most HH_K counters survive; any
    item with local frequency > local_n/HH_K is guaranteed a counter,
    so the union over partitions is a superset of every GLOBAL
    heavy hitter (pigeonhole over the partition sums)."""
    counters: dict[str, int] = {}
    for pdf in batches:
        for item in pdf["item"]:
            if item in counters:
                counters[item] += 1
            elif len(counters) < HH_K:
                counters[item] = 1
            else:
                dead = [k for k, v in counters.items() if v == 1]
                for k in counters:
                    counters[k] -= 1
                for k in dead:
                    del counters[k]
    if counters:
        yield pd.DataFrame({"item": list(counters.keys())})


@register(
    "sketch_heavy_hitters_mg",
    oracle=f"""
    WITH items AS (
        SELECT {_HH_ITEM_SQL} AS item FROM events
    )
    SELECT item, CAST(count(*) AS BIGINT) AS cnt
    FROM items
    GROUP BY item
    HAVING count(*) * {HH_K} > (SELECT count(*) FROM items)
    """,
    tags=("sketch", "python", "heavy-hitters"),
)
def sketch_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via a two-pass Misra-Gries sketch: pass 1 runs a
    16-counter MG summary per partition inside ``mapInPandas`` (the
    bounded-memory candidate generator a full groupBy cannot be at
    stream/ingest scale — state is O(HH_K) per task no matter how many
    distinct items flow through), pass 2 exactly counts ONLY the
    surviving candidates and keeps items with cnt·K > n.  The MG
    guarantee makes this exact: any item with global frequency > n/K
    must exceed its local threshold in ≥1 partition (pigeonhole), so
    the candidate union is a provable superset of the true heavy-hitter
    set and the verified output equals the oracle's full groupBy —
    approximation in the plumbing, exactness in the result.

    Scale: pass 1 reads n rows and emits ≤ K rows per partition (the
    wide exchange it replaces would carry every distinct item); the
    collected candidate set (≤ K × partitions, a few KB) broadcasts
    into pass 2's semi-filter, so the only aggregation shuffle carries
    hot-item rows.  This is the engine's first first-class use of the
    Arrow-batched Python path for an algorithm Column expressions
    genuinely cannot express (data-dependent counter eviction).
    Python-side cost is one dict op per row, Arrow-batched in and out."""
    ev = fanout(table(spark, sf_dir, "events"))
    item = F.when(
        F.col("user_id") < 36,
        F.concat(F.lit("hot_"), (F.col("user_id") % 3).cast("string")),
    ).otherwise(F.concat(F.lit("cold_"), F.col("event_id").cast("string")))
    items = ev.select(item.alias("item"))
    candidates = [
        r["item"]
        for r in items.mapInPandas(
            _mg_sketch_partition, "item string"
        ).collect()
    ]
    n_total = items.count()
    return (
        items.filter(F.col("item").isin(candidates))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .filter(F.col("cnt") * HH_K > F.lit(n_total))
    )
