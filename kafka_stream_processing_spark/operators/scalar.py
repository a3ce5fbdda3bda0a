"""Scalar function surface: string / date / math / array / JSON.

The reference's scalar surface is two calls — JSON field access
(UniqueUsersCounter.java:68) and Instant.toString() (:91).  The engine
exposes the full pyspark.sql.functions surface; these queries exercise a
representative slice of each family, all inside whole-stage codegen (no
Python in the row path).

Cross-engine determinism notes: per-row double arithmetic is IEEE-754
identical across engines; transcendental functions (ln/sqrt) may differ in
the last ulp between libm builds, so those outputs are rounded to 6
decimals on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_stream_processing_spark.operators.word_kernel import words
from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import table


@register(
    "scalar_string_part_features",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           substr(p_name, 1, 5) AS name_prefix,
           length(p_name) AS name_len,
           concat(p_brand, '#', p_type) AS brand_type,
           regexp_replace(p_name, '[aeiou]', '', 'g') AS name_novowels,
           replace(p_type, ' ', '_') AS type_snake,
           CAST(contains(p_name, 'a') AS BOOLEAN) AS has_a,
           ltrim(rtrim(p_name)) AS name_trim,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded
    FROM part
    """,
)
def scalar_string_part_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: case, substring, length, concat, regexp, replace,
    contains, trim, pad."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("#", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowels"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.col("p_name").contains("a").alias("has_a"),
        F.trim(F.col("p_name")).alias("name_trim"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
    )


@register(
    "scalar_date_order_features",
    oracle="""
    SELECT o_orderkey,
           CAST(CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS VARCHAR) AS order_month,
           year(o_orderdate) AS order_year,
           month(o_orderdate) AS order_month_num,
           day(o_orderdate) AS order_day,
           quarter(o_orderdate) AS order_quarter,
           dayofweek(o_orderdate) AS order_dow,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch_start,
           CAST(o_orderdate + INTERVAL 90 DAY AS VARCHAR) AS due_date
    FROM orders
    """,
)
def scalar_date_order_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family: truncation, field extraction, diffs, interval
    arithmetic.  NB: DuckDB dayofweek is 0=Sunday..6; Spark dayofweek is
    1=Sunday..7 — normalized here to DuckDB's convention."""
    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").cast("string").alias("order_month"),
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month_num"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        (F.dayofweek("o_orderdate") - 1).alias("order_dow"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .alias("days_since_epoch_start"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).cast("string").alias("due_date"),
    )


@register(
    "scalar_math_lineitem",
    oracle="""
    SELECT l_orderkey,
           l_linenumber,
           round(l_extendedprice, 1) AS price_round,
           abs(l_discount - 0.05) AS disc_dev,
           CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
           CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
           l_extendedprice * l_quantity AS price_qty,
           round(sqrt(l_extendedprice), 6) AS price_sqrt,
           round(ln(l_extendedprice + 1), 6) AS price_ln,
           CAST(l_orderkey % 7 AS BIGINT) AS key_mod,
           greatest(l_tax, l_discount) AS max_rate,
           least(l_tax, l_discount) AS min_rate,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign
    FROM lineitem
    """,
)
def scalar_math_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family: rounding, abs, floor/ceil, products, sqrt/ln (rounded
    for cross-libm determinism), modulo, greatest/least, sign."""
    li = table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_round"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.floor("l_quantity").alias("qty_floor"),
        F.ceil("l_quantity").alias("qty_ceil"),
        (F.col("l_extendedprice") * F.col("l_quantity")).alias("price_qty"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("price_ln"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
    )


@register(
    "scalar_json_event_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
    """,
)
def scalar_json_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction + predicate on the extracted value — the
    engine's version of the reference's JsonSerde + v.get("uid")
    (UniqueUsersCounter.java:20-24,68)."""
    events = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        events
        .select("event_id", k.alias("prop_k"))
        .filter(F.col("prop_k") > 50)
    )


@register(
    "scalar_json_schema_parse",
    oracle="""
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n,
           count(DISTINCT user_id) AS unique_users
    FROM events
    GROUP BY 1
    """,
)
def scalar_json_schema_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed JSON parse (from_json with explicit schema — the engine's
    replacement for the reference's schemaless JsonNode) + aggregation."""
    events = table(spark, sf_dir, "events")
    parsed = events.select(
        "user_id",
        F.from_json("props", "struct<k:bigint>").alias("p"),
    )
    return (
        parsed
        .groupBy((F.col("p.k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("unique_users"),
        )
    )


@register(
    "array_word_explode_stats",
    oracle="""
    SELECT word,
           COUNT(*) AS occurrences,
           count(DISTINCT doc_id) AS n_docs
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    )
    WHERE length(word) >= 4
    GROUP BY word
    """,
)
def array_word_explode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family: split + explode (the classic word count, per-word doc
    frequency).  Scale: explode is pipelined (no shuffle until the agg)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(words()).alias("word"))
        .filter(F.length("word") >= 4)
        .groupBy("word")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@register(
    "array_higher_order_functions",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_filter(string_split(text, ' '), w -> length(w) > 5)) AS n_long_tokens,
           CAST(list_aggregate(list_transform(string_split(text, ' '), w -> length(w)), 'sum') AS BIGINT) AS total_chars,
           array_to_string(list_sort(list_distinct(string_split(substr(text, 1, 40), ' '))), ',') AS head_vocab
    FROM documents
    """,
)
def array_higher_order_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions: size, filter, transform+aggregate,
    distinct+sort+join — all JVM-side lambda expressions, no UDFs."""
    d = table(spark, sf_dir, "documents")
    toks = words()
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda w: F.length(w) > 5)).alias("n_long_tokens"),
        F.aggregate(
            F.transform(toks, lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
        F.array_join(
            F.array_sort(F.array_distinct(words(F.substring("text", 1, 40)))),
            ",",
        ).alias("head_vocab"),
    )


@register(
    "scalar_try_error_policy",
    oracle="""
    SELECT event_id,
           TRY_CAST(event_type AS INT) AS type_as_int,
           value / nullif(CAST(event_id % 3 AS DOUBLE), 0) AS safe_ratio,
           TRY_CAST(substr(props, 8, 2) AS BIGINT) AS prop_digits
    FROM events
    """,
    tags=("scalar", "error-policy"),
)
def scalar_try_error_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe scalar policy: `try_cast` and `try_divide` turn
    malformed casts and division-by-zero into NULLs instead of runtime
    failures — the row-level counterpart of the source-level
    PERMISSIVE/DROPMALFORMED/FAILFAST modes (tests/test_malformed_input):
    a 100 TB job must never die 6 hours in because one row divides by
    zero.  The oracle spells the same policy in portable SQL
    (`/ nullif(...)`, TRY_CAST).

    `prop_digits` try-casts a substring of the JSON props that is
    sometimes digits, sometimes `N}` garbage — NULLs exactly where
    parsing fails, hash-checked."""
    events = table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.col("event_type").try_cast("int").alias("type_as_int"),
        F.try_divide(
            F.col("value"), (F.col("event_id") % 3).cast("double")
        ).alias("safe_ratio"),
        F.substring("props", 8, 2).try_cast("bigint").alias("prop_digits"),
    )


@register(
    "scalar_map_functions",
    oracle="""
    SELECT event_id,
           CAST(len(json_keys(props)) AS INT) AS n_keys,
           array_to_string(list_sort(json_keys(props)), ',') AS keys_joined,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_value,
           CAST(CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS BIGINT)
               AS k_mod10
    FROM events
    """,
    tags=("scalar", "map-type"),
)
def scalar_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: the JSON props column parsed into a real
    map<string,bigint> (schema-on-read into a MAP, not a struct — the
    right type when keys are open-ended), then map_keys / element_at /
    size over it.  The reference deserializes JSON to fixed POJO fields
    only (UniqueUsersCounter.java:20-24); open-keyed payloads need the
    map form.

    Scale: from_json to MapType is a streaming parse per row inside
    codegen — no Python, no schema inference pass; map access is O(keys)
    per row with tiny maps."""
    events = table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return events.select(
        "event_id",
        F.size(m).alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_joined"),
        F.element_at(m, "k").alias("k_value"),
        (F.element_at(m, "k") % 10).alias("k_mod10"),
    )
