"""Data-quality audits: single-pass table profiling, declarative rule
auditing, referential integrity, snapshot diffs, privacy audits
(k-anonymity / l-diversity), and robust outlier screens.

At 100 TB the cardinal rule is ONE pass: every metric here rides one
scan as conditional aggregates, so the plan is scan -> partial agg ->
single exchange -> final agg no matter how many metrics are attached.
The reference has no data-validation surface at all (its JSON input is
unvalidated -- a missing `uid` NPEs at UniqueUsersCounter.java:68);
these operators are the engine-level answer.  Split from quality.py
in r09; semantics unchanged.
"""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_processing_spark.operators.word_kernel import words
from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import table


from kafka_stream_processing_spark.operators.quality_kernel import (  # noqa: E501
    KANON_BUCKET_CHARS,
)

@register(
    "quality_profile_orders",
    oracle="""
    SELECT count(*) AS n_rows,
           count(o_custkey) AS custkey_nonnull,
           count(DISTINCT o_custkey) AS custkey_distinct,
           count(DISTINCT o_orderstatus) AS status_distinct,
           count(DISTINCT o_orderpriority) AS priority_distinct,
           min(o_totalprice) AS price_min,
           max(o_totalprice) AS price_max,
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS price_nonpositive,
           CAST(min(o_orderdate) AS VARCHAR) AS orderdate_min,
           CAST(max(o_orderdate) AS VARCHAR) AS orderdate_max
    FROM orders
    """,
    tags=("quality",),
)
def quality_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of `orders`: row count, per-column
    non-null / distinct counts, numeric ranges, a non-positive-price
    violation counter, and the date span — the pre-training sanity scan.

    Scale: every metric is a conditional aggregate over the SAME scan
    (count-distinct plans as partial sets merged per key — here the
    global key, so the exchange carries one partial state per partition,
    not the data)."""
    o = table(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_custkey").alias("custkey_nonnull"),
        F.countDistinct("o_custkey").alias("custkey_distinct"),
        F.countDistinct("o_orderstatus").alias("status_distinct"),
        F.countDistinct("o_orderpriority").alias("priority_distinct"),
        F.min("o_totalprice").alias("price_min"),
        F.max("o_totalprice").alias("price_max"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("bigint")
        .alias("price_nonpositive"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
        .alias("orderdate_min"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd HH:mm:ss")
        .alias("orderdate_max"),
    )


@register(
    "quality_rule_violations",
    oracle="""
    SELECT rule, CAST(violations AS BIGINT) AS violations, n_rows
    FROM (
        SELECT 'discount_out_of_range' AS rule,
               SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                        THEN 1 ELSE 0 END) AS violations,
               count(*) AS n_rows
        FROM lineitem
        UNION ALL
        SELECT 'quantity_out_of_range',
               SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                        THEN 1 ELSE 0 END),
               count(*)
        FROM lineitem
        UNION ALL
        SELECT 'tax_negative',
               SUM(CASE WHEN l_tax < 0 THEN 1 ELSE 0 END),
               count(*)
        FROM lineitem
        UNION ALL
        SELECT 'ship_before_order',
               SUM(CASE WHEN l_shipdate < o_orderdate THEN 1 ELSE 0 END),
               count(*)
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    )
    """,
    tags=("quality",),
)
def quality_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative rule audit: each business rule becomes one conditional
    counter; same-table rules share ONE scan (a single aggregate emits
    all three lineitem counters, then unpivots to rule rows), and the
    cross-table rule (ship-before-order) is the only join.

    Scale: rules-per-scan batching means auditing R same-table rules
    costs one pass, not R; the unpivot to long form is a zero-shuffle
    stack expression."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")

    li_counts = li.agg(
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1), 1)
            .otherwise(0)
        ).alias("discount_out_of_range"),
        F.sum(
            F.when((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1)
            .otherwise(0)
        ).alias("quantity_out_of_range"),
        F.sum(F.when(F.col("l_tax") < 0, 1).otherwise(0)).alias("tax_negative"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    li_rules = li_counts.select(
        F.expr(
            "stack(3, "
            "'discount_out_of_range', discount_out_of_range, "
            "'quantity_out_of_range', quantity_out_of_range, "
            "'tax_negative', tax_negative) AS (rule, violations)"
        ),
        "n_rows",
    )
    joined_rule = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .agg(
            F.lit("ship_before_order").alias("rule"),
            F.sum(
                F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0)
            ).alias("violations"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )
    return li_rules.select(
        "rule", F.col("violations").cast("bigint").alias("violations"), "n_rows"
    ).unionByName(
        joined_rule.select(
            "rule", F.col("violations").cast("bigint").alias("violations"), "n_rows"
        )
    )


@register(
    "quality_approx_quantiles",
    # approx_percentile sketches (Spark: variant of KLL/GK; DuckDB:
    # t-digest) can never match across engines — rows-only check here;
    # tests/test_properties.py bounds the rank error against the exact
    # interpolated percentile instead.
    oracle=None,
    tags=("quality", "scale"),
)
def quality_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantile profile: p50/p90/p99 of order totals per
    status via approx_percentile — O(sketch) state per group instead of
    the full sort an exact percentile needs.

    Scale: this is the 100 TB replacement for `agg_stats_orders`'s exact
    median — mergeable sketch state flows through partial aggregation,
    so the exchange carries KBs per group regardless of group size
    (the same sketch-not-set principle as approx_count_distinct)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "approx_percentile(o_totalprice, array(0.5, 0.9, 0.99), 10000)"
            ).alias("pcts"),
        )
        .select(
            "o_orderstatus",
            "n",
            F.col("pcts")[0].alias("p50_approx"),
            F.col("pcts")[1].alias("p90_approx"),
            F.col("pcts")[2].alias("p99_approx"),
        )
    )


@register(
    "quality_exact_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.25), 6) AS p25,
           round(quantile_cont(value, 0.50), 6) AS p50,
           round(quantile_cont(value, 0.75), 6) AS p75,
           round(quantile_cont(value, 0.90), 6) AS p90,
           count(*) AS n
    FROM events
    GROUP BY event_type
    """,
    tags=("quality", "statistics"),
)
def quality_exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT linear-interpolation percentiles per group (the counterpart
    of quality_approx_quantiles' sketch: same statistic, exact algorithm,
    so it IS cross-engine oracle-checkable — both engines interpolate
    (1-g)*lo + g*hi over the sorted group; round(6) absorbs the last-ulp
    of that one interpolation).

    Scale: exact percentiles require the full sorted group — Spark's
    `percentile` aggregates a per-group value buffer (memory ∝ group
    size).  That's the documented cost of exactness: fine for bounded
    groups (5 event types here), use the approx_percentile sketch
    (mergeable, O(1/ε) state) when groups are unbounded — the engine
    ships both deliberately."""
    events = table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("p75"),
        F.round(F.expr("percentile(value, 0.90)"), 6).alias("p90"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "sketch_hll_daily_merge",
    # No oracle: DuckDB's HLL implementation differs by design (same
    # reason as quality_approx_quantiles); tests/test_properties.py
    # asserts the estimates' error bounds and merge consistency.
    tags=("sketch", "statistics"),
)
def sketch_hll_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup: per-day HLL sketches of distinct users,
    UNION-merged into a whole-period estimate WITHOUT re-scanning the
    facts — the pattern behind every incremental distinct-count dashboard
    (store a sketch per partition; answer any date range by merging
    sketches, never recounting).

    Scale: this is the only way distinct-counting composes at 100 TB —
    exact distinct is not mergeable across pre-aggregated partitions,
    HLL union is (O(KB) state per day, associative, re-aggregable).  The
    final row carries the merged estimate plus the day count it was
    assembled from."""
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        F.date_trunc("day", "ts").cast("string").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("merged_unique_users"),
        F.count(F.lit(1)).alias("n_days"),
    )


@register(
    "quality_referential_integrity",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk, count(*) AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IS NULL
    UNION ALL
    SELECT 'orders.o_custkey->customer', count(*)
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_custkey IS NULL
    UNION ALL
    SELECT 'lineitem.l_partkey->part', count(*)
    FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_partkey IS NULL
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier', count(*)
    FROM lineitem l LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE s.s_suppkey IS NULL
    UNION ALL
    SELECT 'customer.c_nationkey->nation', count(*)
    FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE n.n_nationkey IS NULL
    UNION ALL
    SELECT 'nation.n_regionkey->region', count(*)
    FROM nation n LEFT JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_regionkey IS NULL
    """,
    tags=("quality", "referential-integrity"),
)
def quality_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the whole star schema: orphan
    counts for every foreign-key edge, in one result — the pre-flight
    check a pipeline runs before trusting joins (an orphan FK silently
    DROPS rows from every inner join downstream).

    Scale: each edge is a left-anti-shaped count; small dims broadcast,
    the two fact edges shuffle once each on their key.  All six audits
    share table scans where AQE can reuse them; orphan counts are the
    only driver traffic."""
    def orphans(child, child_key, parent, parent_key, label):
        c = table(spark, sf_dir, child)
        p = table(spark, sf_dir, parent).select(parent_key)
        return (
            c.join(p, c[child_key] == p[parent_key], "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(label).alias("fk"), "n_orphans")
        )

    checks = [
        orphans("lineitem", "l_orderkey", "orders", "o_orderkey",
                "lineitem.l_orderkey->orders"),
        orphans("orders", "o_custkey", "customer", "c_custkey",
                "orders.o_custkey->customer"),
        orphans("lineitem", "l_partkey", "part", "p_partkey",
                "lineitem.l_partkey->part"),
        orphans("lineitem", "l_suppkey", "supplier", "s_suppkey",
                "lineitem.l_suppkey->supplier"),
        orphans("customer", "c_nationkey", "nation", "n_nationkey",
                "customer.c_nationkey->nation"),
        orphans("nation", "n_regionkey", "region", "r_regionkey",
                "nation.n_regionkey->region"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out


@register(
    "quality_snapshot_diff",
    oracle="""
    WITH now AS (
        SELECT event_id, user_id, event_type, value FROM events
    ),
    prev AS (
        SELECT event_id, user_id, event_type,
               CASE WHEN event_id % 97 = 0 THEN value + 0.5 ELSE value END
                   AS value
        FROM events
        WHERE event_id % 101 <> 0
        UNION ALL
        SELECT event_id + 10000000, user_id, event_type, value
        FROM events WHERE event_id % 103 = 0
    )
    SELECT
        CAST(SUM(CASE WHEN p.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_added,
        CAST(SUM(CASE WHEN n.event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_removed,
        CAST(SUM(CASE WHEN n.event_id IS NOT NULL AND p.event_id IS NOT NULL
                       AND md5(concat_ws('|', n.user_id, n.event_type, n.value))
                           <> md5(concat_ws('|', p.user_id, p.event_type, p.value))
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        CAST(SUM(CASE WHEN n.event_id IS NOT NULL AND p.event_id IS NOT NULL
                       AND md5(concat_ws('|', n.user_id, n.event_type, n.value))
                           = md5(concat_ws('|', p.user_id, p.event_type, p.value))
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_identical
    FROM now n FULL OUTER JOIN prev p ON p.event_id = n.event_id
    """,
    tags=("quality", "reconciliation"),
)
def quality_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff two versions of a table by key —
    added / removed / changed / identical counts — the migration and
    backfill acceptance check (did the rewrite change anything it
    shouldn't?).  The 'previous' snapshot is synthesized deterministically
    (drop every 101st key, perturb every 97th value, add phantom rows
    from every 103rd) so all four diff classes are non-empty and
    hash-verified.

    Row comparison goes through an md5 of the concatenated payload — at
    100 TB you diff FINGERPRINTS, not columns (one hash per row beats N
    column comparisons, and pre-computed row hashes make re-diffs
    incremental).  Scale: one full-outer hash join on the key; counts
    only to the driver."""
    now = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    base = table(spark, sf_dir, "events")
    prev = (
        base.filter(F.col("event_id") % 101 != 0)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.when(F.col("event_id") % 97 == 0, F.col("value") + 0.5)
            .otherwise(F.col("value"))
            .alias("value"),
        )
        .unionByName(
            base.filter(F.col("event_id") % 103 == 0).select(
                (F.col("event_id") + 10000000).alias("event_id"),
                "user_id",
                "event_type",
                "value",
            )
        )
    )

    def row_hash(side):
        return F.md5(
            F.concat_ws(
                "|",
                F.col(f"{side}_user_id"),
                F.col(f"{side}_event_type"),
                F.col(f"{side}_value"),
            ).cast("binary")
        )

    n = now.select(
        F.col("event_id").alias("n_key"),
        F.col("user_id").alias("n_user_id"),
        F.col("event_type").alias("n_event_type"),
        F.col("value").alias("n_value"),
    )
    p = prev.select(
        F.col("event_id").alias("p_key"),
        F.col("user_id").alias("p_user_id"),
        F.col("event_type").alias("p_event_type"),
        F.col("value").alias("p_value"),
    )
    joined = n.join(p, F.col("n_key") == F.col("p_key"), "full_outer")
    both = F.col("n_key").isNotNull() & F.col("p_key").isNotNull()
    same = row_hash("n") == row_hash("p")
    return joined.agg(
        F.sum(F.when(F.col("p_key").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_added"),
        F.sum(F.when(F.col("n_key").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
        F.sum(F.when(both & ~same, 1).otherwise(0)).cast("bigint").alias("n_changed"),
        F.sum(F.when(both & same, 1).otherwise(0))
        .cast("bigint")
        .alias("n_identical"),
    )


@register(
    "quality_length_outlier_mad",
    oracle="""
    WITH x AS (
        SELECT doc_id, n_chars FROM documents
    ),
    med AS (
        SELECT n_chars AS m FROM (
            SELECT n_chars, doc_id,
                   row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
                   count(*) OVER () AS n
            FROM x
        ) WHERE rn = (n + 1) // 2
    ),
    dev AS (
        SELECT x.doc_id, x.n_chars, abs(x.n_chars - med.m) AS ad, med.m
        FROM x, med
    ),
    mad AS (
        SELECT ad AS mad FROM (
            SELECT ad, doc_id,
                   row_number() OVER (ORDER BY ad, doc_id) AS rn,
                   count(*) OVER () AS n
            FROM dev
        ) WHERE rn = (n + 1) // 2
    )
    SELECT dev.doc_id, dev.n_chars,
           CAST(dev.m AS BIGINT) AS median_chars,
           CAST(dev.ad AS BIGINT) AS abs_dev,
           CAST(mad.mad AS BIGINT) AS mad,
           dev.ad > 3 * mad.mad AS is_outlier
    FROM dev, mad
    """,
    tags=("quality", "robust"),
)
def quality_length_outlier_mad(
    spark: SparkSession, sf_dir: str, frontier: str = "exact"
) -> DataFrame:
    """Robust length-outlier detection via median absolute deviation:
    flag documents with |len − median| > 3·MAD — the robust-statistics
    replacement for mean±3σ, whose mean and σ are themselves dragged by
    the very outliers being hunted (one 10 GB concatenation artifact
    shifts a mean; it cannot shift a median).  Both the median and the
    MAD use the lower-median integer rank frontier rn = (n+1)÷2 with a
    doc_id tiebreak — ENTIRELY integer arithmetic end to end, the only
    operator family where even the threshold compare (ad > 3·mad) never
    touches a float.

    Scale: two rank frontiers = two total-order sorts of a NARROW
    (value, id) projection at oracle scale; ``frontier="approx"`` is
    the IMPLEMENTED 100 TB path — each median comes from ONE
    percentile_approx aggregate (operators.frontier.quantile_cuts; GK
    sketch, map-side mergeable, no total-order sort), same downstream
    shape; agreement pinned in tests/test_frontier.py.  Either way the
    per-doc flagging pass broadcasts the two 1-row scalars."""
    from kafka_stream_processing_spark.operators.frontier import (
        quantile_cuts,
    )

    d = table(spark, sf_dir, "documents")
    x = d.select("doc_id", "n_chars")

    def lower_median(df: DataFrame, col: str) -> DataFrame:
        if frontier == "approx":
            return quantile_cuts(df, col, [(1, 2)], mode="approx").select(
                F.col("cut_0").alias("m")
            )
        w = Window.orderBy(col, "doc_id")
        wn = Window.partitionBy()
        return (
            df.withColumn("rn", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(wn))
            .filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .select(F.col(col).alias("m"))
        )

    med = lower_median(x, "n_chars")
    dev = x.crossJoin(F.broadcast(med)).select(
        "doc_id",
        "n_chars",
        F.col("m"),
        F.abs(F.col("n_chars") - F.col("m")).alias("ad"),
    )
    mad = lower_median(
        dev.select("doc_id", F.col("ad").alias("admc")), "admc"
    ).select(F.col("m").alias("mad"))
    return dev.crossJoin(F.broadcast(mad)).select(
        "doc_id",
        "n_chars",
        F.col("m").cast("bigint").alias("median_chars"),
        F.col("ad").cast("bigint").alias("abs_dev"),
        F.col("mad").cast("bigint").alias("mad"),
        (F.col("ad") > 3 * F.col("mad")).alias("is_outlier"),
    )


@register(
    "quality_k_anonymity_audit",
    oracle=f"""
    WITH groups AS (
        SELECT lang, source, n_chars // {KANON_BUCKET_CHARS} AS len_bucket,
               count(*) AS k
        FROM documents
        GROUP BY 1, 2, 3
    )
    SELECT CASE WHEN k = 1 THEN 'k=1 unique'
                WHEN k < 5 THEN 'k=2-4'
                WHEN k < 20 THEN 'k=5-19'
                ELSE 'k>=20' END AS band,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(SUM(k) AS BIGINT) AS n_rows,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k
    FROM groups
    GROUP BY 1
    """,
    tags=("quality", "privacy"),
)
def quality_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier combination
    (lang, source, length bucket): every row whose QI group has size
    k=1 is uniquely re-identifiable from those attributes alone — the
    check a training-data release runs BEFORE publication (Sweeney
    2002), complementing the PII scrub (text_pii_scrub removes direct
    identifiers; k-anonymity measures the quasi-identifier risk that
    scrubbing cannot).  Output is the band histogram a release gate
    thresholds on: rows in k=1/k<5 bands either generalize (coarser
    buckets), suppress, or block the release.

    Scale: ONE groupBy over the QI tuple (map-side combined) to a
    groups table bounded by the QI domain product, then a 4-row band
    aggregate — corpus-size-independent state, the same shape at
    100 TB."""
    d = table(spark, sf_dir, "documents")
    groups = d.groupBy(
        "lang",
        "source",
        # integer `div`, not double-divide-then-truncate: exact mirror
        # of the oracle's // on integer semantics (ADVICE r06)
        F.expr(f"n_chars div {KANON_BUCKET_CHARS}").alias("len_bucket"),
    ).agg(F.count(F.lit(1)).alias("k"))
    band = (
        F.when(F.col("k") == 1, F.lit("k=1 unique"))
        .when(F.col("k") < 5, F.lit("k=2-4"))
        .when(F.col("k") < 20, F.lit("k=5-19"))
        .otherwise(F.lit("k>=20"))
    )
    return groups.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("k").cast("bigint").alias("n_rows"),
        F.min("k").cast("bigint").alias("min_k"),
        F.max("k").cast("bigint").alias("max_k"),
    )


@register(
    "quality_key_skew_gini",
    oracle="""
    WITH freq AS (
        SELECT user_id, count(*) AS c FROM events GROUP BY 1
    ),
    ranked AS (
        SELECT c,
               row_number() OVER (ORDER BY c, user_id) AS i,
               count(*) OVER () AS n,
               SUM(c) OVER () AS total
        FROM freq
    ),
    topf AS (
        SELECT SUM(c) AS top_events
        FROM ranked
        WHERE i > n - (n + 99) // 100
    )
    SELECT CAST(n AS BIGINT) AS n_keys,
           CAST(total AS BIGINT) AS total_events,
           CAST(max(c) AS BIGINT) AS max_count,
           CAST((SELECT top_events FROM topf) AS DOUBLE) / total
               AS top1pct_share,
           (2.0 * SUM(i * c)) / (CAST(n AS DOUBLE) * total)
               - (CAST(n AS DOUBLE) + 1) / n AS gini
    FROM ranked
    GROUP BY n, total
    """,
    tags=("quality", "skew", "statistics"),
)
def quality_key_skew_gini(
    spark: SparkSession, sf_dir: str, frontier: str = "exact"
) -> DataFrame:
    """Key-skew diagnostics — the numbers that DECIDE the engine's own
    salting/AQE-skew-join knobs: the Gini coefficient of the per-key
    frequency distribution (0 = perfectly uniform keys, →1 = one key
    owns the stream), the top-1% key share, and the max single-key
    count.  Computed with the exact rank formula
    G = 2·Σᵢ i·cᵢ / (n·Σc) − (n+1)/n over ascending (count, key) ranks —
    integer sums until two final IEEE divisions, so the score is
    bit-stable cross-engine.  agg_salted_high_cardinality is the
    treatment; this operator is the diagnosis that says when to apply
    it (run it on the join/group key BEFORE choosing a partitioning).

    Scale: one groupBy(key) (map-side combined), one total-order rank
    over the KEY-frequency table (keys-sized, not stream-sized) at
    oracle scale; ``frontier="histogram"`` is the IMPLEMENTED
    billion-key path — every statistic is recomputed EXACTLY from the
    count-of-counts histogram (ranks of equal counts are consecutive,
    so Σ i·cᵢ over a tie block of m keys at value c starting after s
    smaller keys is c·(m·s + m(m+1)/2)); the only window runs over
    DISTINCT count values, a table bounded by √(2·Σc) rows regardless
    of key cardinality.  Bit-identical to the exact rank form (integer
    arithmetic throughout; pinned in tests/test_frontier.py)."""
    ev = table(spark, sf_dir, "events")
    freq = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    if frontier == "histogram":
        hist = freq.groupBy("c").agg(F.count(F.lit(1)).alias("m"))
        w_cum = (
            Window.orderBy("c")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_all2 = Window.partitionBy()
        blocks = hist.select(
            "c",
            "m",
            F.coalesce(F.sum("m").over(w_cum), F.lit(0)).alias("s"),
            F.sum("m").over(w_all2).alias("n"),
            F.sum(F.col("m") * F.col("c")).over(w_all2).alias("total"),
        )
        # top-1% keys: k = ceil(n/100); a block's overlap with the top
        # k ranks is min(m, s + m - (n - k)) clamped at 0
        k = F.expr("(n + 99) div 100")
        in_top = F.greatest(
            F.lit(0),
            F.least(F.col("m"), F.col("s") + F.col("m") - (F.col("n") - k)),
        )
        return (
            blocks.groupBy("n", "total")
            .agg(
                F.max("c").cast("bigint").alias("max_count"),
                # m·(m+1) is even, so `div 2` is exact integer
                # arithmetic — sic stays a bigint sum exactly like the
                # rank form's Σ i·cᵢ
                F.sum(
                    F.col("c")
                    * (
                        F.col("m") * F.col("s")
                        + F.expr("m * (m + 1) div 2")
                    )
                ).alias("sic"),
                F.sum(F.col("c") * in_top).alias("top_events"),
            )
            .select(
                F.col("n").cast("bigint").alias("n_keys"),
                F.col("total").cast("bigint").alias("total_events"),
                "max_count",
                (
                    F.col("top_events").cast("double") / F.col("total")
                ).alias("top1pct_share"),
                (
                    (F.lit(2.0) * F.col("sic"))
                    / (F.col("n").cast("double") * F.col("total"))
                    - (F.col("n").cast("double") + 1) / F.col("n")
                ).alias("gini"),
            )
        )
    w_rank = Window.orderBy("c", "user_id")
    w_all = Window.partitionBy()
    ranked = freq.select(
        "c",
        F.row_number().over(w_rank).alias("i"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("c").over(w_all).alias("total"),
    )
    # top-1% frontier by integer rank: (n + 99) // 100 == ceil(n / 100)
    topf = ranked.filter(
        F.col("i")
        > F.col("n") - ((F.col("n") + 99) / 100).cast("bigint")
    ).agg(F.sum("c").alias("top_events"))
    return (
        ranked.groupBy("n", "total")
        .agg(
            F.max("c").cast("bigint").alias("max_count"),
            F.sum(F.col("i") * F.col("c")).alias("sic"),
        )
        .crossJoin(F.broadcast(topf))
        .select(
            F.col("n").cast("bigint").alias("n_keys"),
            F.col("total").cast("bigint").alias("total_events"),
            "max_count",
            (
                F.col("top_events").cast("double") / F.col("total")
            ).alias("top1pct_share"),
            (
                (F.lit(2.0) * F.col("sic"))
                / (F.col("n").cast("double") * F.col("total"))
                - (F.col("n").cast("double") + 1) / F.col("n")
            ).alias("gini"),
        )
    )


# ---------------------------------------------------------------------------
# Winsorized moments
# ---------------------------------------------------------------------------

#: Winsorization fractions: clamp below the 1st and above the 99th
#: percentile (the standard tail-taming cut for corpus length stats).
WINSOR_LO = (1, 100)


WINSOR_HI = (99, 100)


@register(
    "quality_winsorized_stats",
    oracle=f"""
    WITH x AS (SELECT doc_id, n_chars FROM documents),
    ranked AS (
        SELECT n_chars,
               row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
               count(*) OVER () AS n
        FROM x
    ),
    lo AS (
        SELECT n_chars AS lo FROM ranked
        WHERE rn = greatest(1, (n * {WINSOR_LO[0]} + {WINSOR_LO[1] - 1})
                               // {WINSOR_LO[1]})
    ),
    hi AS (
        SELECT n_chars AS hi FROM ranked
        WHERE rn = greatest(1, (n * {WINSOR_HI[0]} + {WINSOR_HI[1] - 1})
                               // {WINSOR_HI[1]})
    ),
    clamped AS (
        SELECT least(greatest(x.n_chars, lo.lo), hi.hi) AS v,
               CASE WHEN x.n_chars < lo.lo THEN 1 ELSE 0 END AS cl,
               CASE WHEN x.n_chars > hi.hi THEN 1 ELSE 0 END AS ch,
               lo.lo AS lo, hi.hi AS hi
        FROM x, lo, hi
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(lo AS BIGINT) AS cut_lo,
           CAST(hi AS BIGINT) AS cut_hi,
           CAST(SUM(cl) AS BIGINT) AS n_clipped_lo,
           CAST(SUM(ch) AS BIGINT) AS n_clipped_hi,
           CAST(SUM(v) AS DOUBLE) / count(*) AS win_mean,
           sqrt((CAST(SUM(CAST(v AS BIGINT) * v) AS DOUBLE)
                 - CAST(SUM(v) AS DOUBLE) * SUM(v) / count(*))
                / (count(*) - 1)) AS win_std
    FROM clamped
    GROUP BY lo, hi
    """,
    tags=("quality", "robust", "statistics"),
)
def quality_winsorized_stats(
    spark: SparkSession, sf_dir: str, frontier: str = "exact"
) -> DataFrame:
    """Winsorized corpus length moments — the robust mean/std that a
    data card should quote instead of raw moments (one 10 GB
    concatenation artifact moves a raw mean; after clamping to the
    [p1, p99] band it cannot): both cut values come from the shared
    rank-frontier machinery (operators/frontier.py), every clamped
    value stays an INTEGER, and Σv / Σv² are exact bigint sums with the
    two final divisions the only IEEE steps — bit-stable cross-engine.
    Complements quality_length_outlier_mad (flags the outliers) by
    reporting the statistics with the outliers' leverage removed.

    Scale: ``frontier="exact"`` (the oracle form) pays one total-order
    sort for the two rank cuts; ``frontier="approx"`` takes both cuts
    from ONE percentile_approx aggregate (GK sketch, mergeable) — the
    100 TB path, same downstream single-pass clamp + scalar aggregate
    over a broadcast 1-row cut table."""
    from kafka_stream_processing_spark.operators.frontier import (
        quantile_cuts,
    )

    x = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    cuts = quantile_cuts(
        x,
        "n_chars",
        [WINSOR_LO, WINSOR_HI],
        mode="approx" if frontier == "approx" else "exact",
        tiebreak="doc_id",
    ).select(F.col("cut_0").alias("lo"), F.col("cut_1").alias("hi"))
    v = F.least(F.greatest(F.col("n_chars"), F.col("lo")), F.col("hi"))
    clamped = x.crossJoin(F.broadcast(cuts)).select(
        v.alias("v"),
        (F.col("n_chars") < F.col("lo")).cast("bigint").alias("cl"),
        (F.col("n_chars") > F.col("hi")).cast("bigint").alias("ch"),
        "lo",
        "hi",
    )
    return clamped.groupBy("lo", "hi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.first("lo").cast("bigint").alias("cut_lo"),
        F.first("hi").cast("bigint").alias("cut_hi"),
        F.sum("cl").cast("bigint").alias("n_clipped_lo"),
        F.sum("ch").cast("bigint").alias("n_clipped_hi"),
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("win_mean"),
        F.sqrt(
            (
                F.sum(F.col("v").cast("bigint") * F.col("v")).cast("double")
                - F.sum("v").cast("double")
                * F.sum("v")
                / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("win_std"),
    ).drop("lo", "hi")


# ---------------------------------------------------------------------------
# Simpson diversity / effective counts
# ---------------------------------------------------------------------------

@register(
    "quality_simpson_diversity",
    oracle="""
    WITH src AS (
        SELECT 'source' AS dimension, source AS g, count(*) AS c
        FROM documents GROUP BY 2
    ),
    lng AS (
        SELECT 'lang' AS dimension, lang AS g, count(*) AS c
        FROM documents GROUP BY 2
    ),
    wrd AS (
        SELECT 'word' AS dimension, w AS g, count(*) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        GROUP BY 2
    ),
    allg AS (
        SELECT * FROM src UNION ALL SELECT * FROM lng
        UNION ALL SELECT * FROM wrd
    )
    SELECT dimension,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(SUM(c) AS BIGINT) AS n_total,
           CAST(SUM(c * c) AS DOUBLE) / (CAST(SUM(c) AS DOUBLE) * SUM(c))
               AS simpson,
           (CAST(SUM(c) AS DOUBLE) * SUM(c)) / CAST(SUM(c * c) AS DOUBLE)
               AS effective_n
    FROM allg
    GROUP BY 1
    """,
    tags=("quality", "statistics", "diversity"),
)
def quality_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson concentration and effective counts per corpus dimension
    — the data-card numbers that say HOW concentrated a mixture really
    is (5 sources at 96/1/1/1/1 is "5 sources" on paper but an
    effective 1.09): λ = Σ(cᵢ/N)² computed as exact bigint Σc²/ N²
    (one IEEE division at the end — bit-stable cross-engine), and its
    inverse-Simpson effective group count, over source, language, and
    the word distribution (the vocabulary's effective size pairs with
    Zipf/Heaps as a third generated-content tripwire: templated text
    collapses effective vocabulary long before it moves raw counts).
    The mixture-weight operators (sample_mixture_weights, DoReMi)
    consume exactly these concentrations as their diagnostics.

    Scale: three groupBys (two domain-bounded, one vocab-sized and
    Heaps-sublinear, all map-side combined) each reduced to ONE
    (Σc, Σc²) scalar pair — histogram-sized state, single pass each."""
    d = table(spark, sf_dir, "documents")

    def dim(df: DataFrame, name: str, col) -> DataFrame:
        return (
            df.select(col.alias("g"))
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.lit(name).alias("dimension"), "g", "c")
        )

    allg = (
        dim(d, "source", F.col("source"))
        .unionByName(dim(d, "lang", F.col("lang")))
        .unionByName(
            dim(
                d.select(F.explode(words()).alias("w")),
                "word",
                F.col("w"),
            )
        )
    )
    sc = F.sum("c").cast("double")
    sc2 = F.sum(F.col("c") * F.col("c")).cast("double")
    return allg.groupBy("dimension").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("c").cast("bigint").alias("n_total"),
        (sc2 / (sc * F.sum("c"))).alias("simpson"),
        ((sc * F.sum("c")) / sc2).alias("effective_n"),
    )


@register(
    "quality_capture_recapture_users",
    oracle="""
    WITH w1 AS (
        SELECT DISTINCT user_id FROM events
        WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
    ),
    w2 AS (
        SELECT DISTINCT user_id FROM events
        WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
    ),
    m AS (
        SELECT count(*) AS n_both
        FROM w1 JOIN w2 USING (user_id)
    ),
    c AS (
        SELECT (SELECT count(*) FROM w1) AS n1,
               (SELECT count(*) FROM w2) AS n2,
               (SELECT n_both FROM m) AS m12,
               (SELECT count(DISTINCT user_id) FROM events)
                   AS n_observed
    )
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           CAST(m12 AS BIGINT) AS n_both,
           CAST(n_observed AS BIGINT) AS n_observed,
           (CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m12 + 1) - 1.0
               AS chapman_estimate,
           ((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m12 + 1) - 1.0)
               - n_observed AS est_unseen
    FROM c
    """,
    tags=("quality", "statistics", "population"),
)
def quality_capture_recapture_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Capture-recapture estimate of the TOTAL user population from
    two observation windows (first vs second half of the month) via
    the bias-corrected Chapman estimator
    N̂ = (n₁+1)(n₂+1)/(m+1) − 1 — the mark-recapture method ecology
    uses for fish and an analytics engine uses to answer "how many
    users exist that we have NOT yet seen" (dark-traffic sizing, QA
    of tracking coverage; the Good-Turing unseen-species idea applied
    to identities instead of words).  All four inputs are exact
    distinct-counts; the estimate is one double expression on them,
    identical cross-engine.

    Scale: three distinct aggregations over user_id (map-side partial
    distinct) — the same cost class as the flagship's exact
    countDistinct; windows with many captures generalize to the
    Schnabel multi-sample form, same table shape per sample."""
    ev = table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    w1 = ev.filter(F.col("ts") < cut).select("user_id").distinct()
    w2 = ev.filter(F.col("ts") >= cut).select("user_id").distinct()
    m = w1.join(w2, "user_id").agg(
        F.count(F.lit(1)).alias("m12")
    )
    c = (
        w1.agg(F.count(F.lit(1)).alias("n1"))
        .crossJoin(w2.agg(F.count(F.lit(1)).alias("n2")))
        .crossJoin(m)
        .crossJoin(
            ev.agg(
                F.countDistinct("user_id").alias("n_observed")
            )
        )
    )
    chapman = (
        (F.col("n1") + F.lit(1)).cast("double")
        * (F.col("n2") + F.lit(1))
    ) / (F.col("m12") + F.lit(1)) - F.lit(1.0)
    return c.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.col("m12").cast("bigint").alias("n_both"),
        F.col("n_observed").cast("bigint").alias("n_observed"),
        chapman.alias("chapman_estimate"),
        (chapman - F.col("n_observed")).alias("est_unseen"),
    )


#: ln(2) literal — the entropy-l-diversity gate at l = 2, read in log
#: space so neither engine calls exp (the round-ln convention).
LN2_LITERAL = 0.6931471805599453


@register(
    "quality_l_diversity_audit",
    oracle=f"""
    WITH cells AS (
        SELECT lang, n_chars // {KANON_BUCKET_CHARS} AS len_bucket,
               source, count(*) AS c
        FROM documents GROUP BY 1, 2, 3
    ),
    groups AS (
        SELECT lang, len_bucket,
               SUM(c) AS k,
               count(*) AS l_distinct,
               SUM(CAST(round(c * ln(c), 12) AS DECIMAL(38,12))) AS s
        FROM cells GROUP BY 1, 2
    ),
    scored AS (
        SELECT *,
               round(ln(CAST(k AS DOUBLE)), 12)
                   - CAST(s AS DOUBLE) / k AS h
        FROM groups
    )
    SELECT CASE WHEN l_distinct = 1 THEN 'l=1 leak'
                WHEN l_distinct = 2 THEN 'l=2'
                ELSE 'l>=3' END AS band,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(SUM(k) AS BIGINT) AS n_rows,
           CAST(min(l_distinct) AS BIGINT) AS min_l,
           CAST(SUM(CASE WHEN h < {LN2_LITERAL} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_entropy_below_l2
    FROM scored
    GROUP BY 1
    """,
    tags=("quality", "privacy"),
)
def quality_l_diversity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """l-diversity audit — the attribute-disclosure half of the
    privacy pair (the k-anonymity op bounds RE-IDENTIFICATION; this
    bounds what an attacker LEARNS once they pin the group: a QI group
    that is 50-anonymous but single-source still discloses everyone's
    source).  Quasi-identifiers (lang, length bucket — same
    {KANON_BUCKET_CHARS}-char convention), sensitive attribute =
    source.  Per group: distinct-l (how many sensitive values appear)
    and entropy l-diversity, read in LOG space — H >= ln(l) iff
    entropy-l >= l — against the ln(2) literal, so no engine calls
    exp (Machanavajjhala et al. 2007's both definitions).  Output is
    the release-gate band histogram: every group in the 'l=1 leak'
    band discloses its members' source outright.

    Exactness: H = ln(k) - (1/k) sum c ln c with every ln rounded to
    12 decimals before use and the c*ln(c) terms summed as
    DECIMAL(38,12) — the round-ln convention; all counts are exact
    BIGINTs off one groupBy.

    Scale: one map-side-combined groupBy over (QI, sensitive) cells
    (bounded by the attribute-domain product), one groupBy to QI
    groups, a 3-row band aggregate — corpus-size-independent state."""
    d = table(spark, sf_dir, "documents")
    cells = d.groupBy(
        "lang",
        F.expr(f"n_chars div {KANON_BUCKET_CHARS}").alias("len_bucket"),
        "source",
    ).agg(F.count(F.lit(1)).alias("c"))
    groups = cells.groupBy("lang", "len_bucket").agg(
        F.sum("c").alias("k"),
        F.count(F.lit(1)).alias("l_distinct"),
        F.sum(
            F.round(F.col("c") * F.log(F.col("c")), 12).cast(
                "decimal(38,12)"
            )
        ).alias("s"),
    )
    h = F.round(F.log(F.col("k").cast("double")), 12) - F.col(
        "s"
    ).cast("double") / F.col("k")
    scored = groups.select("k", "l_distinct", h.alias("h"))
    band = (
        F.when(F.col("l_distinct") == 1, F.lit("l=1 leak"))
        .when(F.col("l_distinct") == 2, F.lit("l=2"))
        .otherwise(F.lit("l>=3"))
    )
    return scored.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("k").cast("bigint").alias("n_rows"),
        F.min("l_distinct").cast("bigint").alias("min_l"),
        F.sum((F.col("h") < F.lit(LN2_LITERAL)).cast("int"))
        .cast("bigint")
        .alias("n_entropy_below_l2"),
    )


@register(
    "quality_tukey_fences_outliers",
    oracle="""
    WITH fences AS (
        SELECT event_type,
               count(*) AS n,
               round(quantile_cont(value, 0.25), 6) AS q1,
               round(quantile_cont(value, 0.75), 6) AS q3
        FROM events GROUP BY event_type
    ),
    lims AS (
        SELECT event_type, n, q1, q3,
               q1 - 1.5 * (q3 - q1) AS lo,
               q3 + 1.5 * (q3 - q1) AS hi
        FROM fences
    ),
    flagged AS (
        SELECT l.event_type, l.n, l.q1, l.q3, l.lo, l.hi,
               CAST(SUM(CASE WHEN e.value < l.lo OR e.value > l.hi
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM events e JOIN lims l USING (event_type)
        GROUP BY 1, 2, 3, 4, 5, 6
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           q1, q3, lo, hi, n_outliers,
           CAST(n_outliers AS DOUBLE) / n AS outlier_rate
    FROM flagged
    """,
    tags=("quality", "statistics"),
)
def quality_tukey_fences_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tukey boxplot fences per event type — the IQR outlier gate
    that completes the robust-outlier pair (the MAD op fences around
    the MEDIAN with a scale constant; Tukey fences at Q1/Q3 ±
    1.5*IQR are the boxplot convention every reviewer already reads,
    asymmetric when the distribution is): per type the quartiles,
    fences, and the exact count/rate of values outside them.  An
    outlier rate far above the ~0.7% a normal distribution implies
    flags heavy tails; one near zero flags clipped/synthetic data.

    Exactness: exact linear-interpolated quartiles (Spark percentile
    == DuckDB quantile_cont — the QQ op's convention), round-6 to
    absorb the interpolation's last ulp; fences one mirrored chain;
    outlier counting is integer conditional summing against those
    exact fence doubles.

    Scale: exact per-group quantiles buffer each group (documented
    cost of exactness; event types are few — the approx_percentile
    swap keeps the table shape for unbounded groups); the counting
    pass is one scan joined against the broadcast type-sized fence
    table."""
    ev = table(spark, sf_dir, "events")
    fences = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.expr("percentile(value, 0.25)"), 6
        ).alias("q1"),
        F.round(
            F.expr("percentile(value, 0.75)"), 6
        ).alias("q3"),
    )
    lims = fences.select(
        "event_type",
        "n",
        "q1",
        "q3",
        (F.col("q1") - F.lit(1.5) * (F.col("q3") - F.col("q1"))).alias(
            "lo"
        ),
        (F.col("q3") + F.lit(1.5) * (F.col("q3") - F.col("q1"))).alias(
            "hi"
        ),
    )
    flagged = (
        ev.join(F.broadcast(lims), "event_type")
        .groupBy("event_type", "n", "q1", "q3", "lo", "hi")
        .agg(
            F.sum(
                (
                    (F.col("value") < F.col("lo"))
                    | (F.col("value") > F.col("hi"))
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_outliers")
        )
    )
    return flagged.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        "q1",
        "q3",
        "lo",
        "hi",
        "n_outliers",
        (F.col("n_outliers").cast("double") / F.col("n")).alias(
            "outlier_rate"
        ),
    )



#: Simpson-reversal audit knobs: the two compared event cohorts, the
#: binary-success threshold on `value`, and the stratum count.  All
#: literals so both engines see the identical rule.
SIMPSON_GROUP_A = "click"
SIMPSON_GROUP_B = "view"
SIMPSON_SUCCESS_VALUE = 50.0
SIMPSON_N_STRATA = 4

SIMPSON_ORACLE = f"""
WITH base AS (
    SELECT user_id % {SIMPSON_N_STRATA} AS stratum,
           event_type,
           CASE WHEN value >= {SIMPSON_SUCCESS_VALUE} THEN 1 ELSE 0 END AS s
    FROM events
    WHERE event_type IN ('{SIMPSON_GROUP_A}', '{SIMPSON_GROUP_B}')
),
per AS (
    SELECT stratum,
           CAST(SUM(CASE WHEN event_type = '{SIMPSON_GROUP_A}'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN event_type = '{SIMPSON_GROUP_A}'
                    THEN s ELSE 0 END) AS BIGINT) AS s_a,
           CAST(SUM(CASE WHEN event_type = '{SIMPSON_GROUP_B}'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(SUM(CASE WHEN event_type = '{SIMPSON_GROUP_B}'
                    THEN s ELSE 0 END) AS BIGINT) AS s_b
    FROM base GROUP BY stratum
),
tot AS (
    SELECT CAST(-1 AS BIGINT) AS stratum,
           CAST(SUM(n_a) AS BIGINT) AS n_a, CAST(SUM(s_a) AS BIGINT) AS s_a,
           CAST(SUM(n_b) AS BIGINT) AS n_b, CAST(SUM(s_b) AS BIGINT) AS s_b
    FROM per
),
uni AS (
    SELECT * FROM per UNION ALL SELECT * FROM tot
),
signed AS (
    SELECT uni.*,
           CAST(sign(s_a * n_b - s_b * n_a) AS INTEGER) AS assoc_sign
    FROM uni
)
SELECT signed.*,
       (signed.stratum >= 0 AND signed.assoc_sign <> 0
        AND o.osign <> 0 AND signed.assoc_sign <> o.osign) AS reversed
FROM signed
CROSS JOIN (
    SELECT CAST(sign(s_a * n_b - s_b * n_a) AS INTEGER) AS osign FROM tot
) o
"""


@register(
    "quality_simpson_reversal_audit",
    oracle=SIMPSON_ORACLE,
    tags=("quality", "audit"),
)
def quality_simpson_reversal_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson's-paradox detector for cohorted A/B comparisons: per
    stratum (user cohort = user_id mod {N}) the success-rate association
    between two event cohorts, next to the aggregated association, with
    a per-stratum ``reversed`` flag when the stratified sign contradicts
    the pooled sign — the audit that catches a data mix whose pooled
    metric says A>B while every cohort says B>A (the textbook
    aggregation hazard for training-mix and experiment readouts).

    Exactness: rate comparison s_a/n_a vs s_b/n_b is decided on the
    BIGINT cross-product s_a·n_b − s_b·n_a (no division anywhere), so
    sign, flag, and all counts are integer-exact cross-engine; the
    pooled row rides stratum = −1 with reversed pinned false.

    Scale: ONE scan — conditional aggregates to a |strata|-row table
    (map-side combined), pooled row derived from the stratum table (no
    second scan), pooled sign broadcast back as a 1-row cross join.
    Stratum count is a literal; no global windows, no skew exposure."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(SIMPSON_GROUP_A, SIMPSON_GROUP_B)
    )
    s = F.when(
        F.col("value") >= F.lit(SIMPSON_SUCCESS_VALUE), F.lit(1)
    ).otherwise(F.lit(0))
    is_a = F.col("event_type") == SIMPSON_GROUP_A
    is_b = F.col("event_type") == SIMPSON_GROUP_B
    per = (
        ev.select(
            (F.col("user_id") % SIMPSON_N_STRATA).alias("stratum"),
            F.when(is_a, 1).otherwise(0).alias("a"),
            F.when(is_a, s).otherwise(0).alias("sa"),
            F.when(is_b, 1).otherwise(0).alias("b"),
            F.when(is_b, s).otherwise(0).alias("sb"),
        )
        .groupBy("stratum")
        .agg(
            F.sum("a").cast("bigint").alias("n_a"),
            F.sum("sa").cast("bigint").alias("s_a"),
            F.sum("b").cast("bigint").alias("n_b"),
            F.sum("sb").cast("bigint").alias("s_b"),
        )
    )
    tot = per.agg(
        F.lit(-1).cast("bigint").alias("stratum"),
        F.sum("n_a").cast("bigint").alias("n_a"),
        F.sum("s_a").cast("bigint").alias("s_a"),
        F.sum("n_b").cast("bigint").alias("n_b"),
        F.sum("s_b").cast("bigint").alias("s_b"),
    )
    cross = F.col("s_a") * F.col("n_b") - F.col("s_b") * F.col("n_a")
    signed = per.unionByName(tot).withColumn(
        "assoc_sign", F.signum(cross.cast("double")).cast("int")
    )
    osign = tot.select(
        F.signum(cross.cast("double")).cast("int").alias("osign")
    )
    return signed.crossJoin(F.broadcast(osign)).select(
        "stratum", "n_a", "s_a", "n_b", "s_b", "assoc_sign",
        (
            (F.col("stratum") >= 0)
            & (F.col("assoc_sign") != 0)
            & (F.col("osign") != 0)
            & (F.col("assoc_sign") != F.col("osign"))
        ).alias("reversed"),
    )


#: t-closeness release threshold (Li, Li & Venkatasubramanian, ICDE
#: 2007): a QI group violates when TVD(group, global) > 1/5.  The
#: comparison is done on the BIGINT cross-product num·5 > 2·k·N so the
#: flag is integer-exact.
T_CLOSENESS_DEN = 5

T_CLOSENESS_ORACLE = f"""
WITH cells AS (
    SELECT lang, n_chars // {KANON_BUCKET_CHARS} AS len_bucket,
           source, CAST(count(*) AS BIGINT) AS c
    FROM documents GROUP BY 1, 2, 3
),
gsrc AS (
    SELECT source, CAST(SUM(c) AS BIGINT) AS cv FROM cells GROUP BY 1
),
tot AS (SELECT CAST(SUM(cv) AS BIGINT) AS n FROM gsrc),
j AS (
    SELECT cells.lang, cells.len_bucket, cells.c, gsrc.cv, tot.n,
           SUM(cells.c) OVER (
               PARTITION BY cells.lang, cells.len_bucket
           ) AS k
    FROM cells JOIN gsrc USING (source) CROSS JOIN tot
),
agg AS (
    SELECT lang, len_bucket,
           MAX(k) AS k, MAX(n) AS n,
           SUM(ABS(c * n - k * cv) - k * cv) + MAX(k) * MAX(n) AS num
    FROM j GROUP BY lang, len_bucket
)
SELECT lang,
       CAST(len_bucket AS BIGINT) AS len_bucket,
       CAST(k AS BIGINT) AS k,
       CAST(num AS DOUBLE) / CAST(2 * k * n AS DOUBLE) AS tvd,
       (num * {T_CLOSENESS_DEN} > 2 * k * n) AS violates_t
FROM agg
"""


@register(
    "quality_t_closeness_audit",
    oracle=T_CLOSENESS_ORACLE,
    tags=("quality", "privacy"),
)
def quality_t_closeness_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """t-closeness audit — the third leg of the privacy triad after
    k-anonymity (re-identification) and l-diversity (attribute
    diversity): a group can be k-anonymous AND l-diverse while its
    sensitive-value DISTRIBUTION still leaks (90/10 where the corpus
    is 50/50 tells an attacker plenty).  Li et al. (ICDE 2007): flag
    QI groups whose distance to the global sensitive distribution
    exceeds t; for categorical attributes the EMD reduces to total
    variation distance TVD = ½ Σ_v |p_v − q_v|.  Same QI convention
    as the sibling audits (lang, KANON_BUCKET_CHARS length bucket),
    sensitive = source.

    Exactness: the same common-denominator BIGINT fold as
    corpus_term_dispersion_gries_dp — per present value the group
    contributes |c_v·N − k·C_v|, absent values close algebraically as
    k·N − Σ_present k·C_v, ONE float division per group for the
    reported TVD, and the violates_t flag never divides (num·5 >
    2·k·N cross-product).

    Scale: one map-side-combined groupBy over (QI, sensitive) cells
    (attribute-domain bounded), global value counts broadcast, group
    size via a hash-partitioned window on the QI key — the l-diversity
    cost shape exactly."""
    d = table(spark, sf_dir, "documents")

    cells = d.groupBy(
        "lang",
        F.expr(f"n_chars div {KANON_BUCKET_CHARS}").alias("len_bucket"),
        "source",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    glob = cells.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("cv")
    )
    tot = glob.agg(F.sum("cv").cast("bigint").alias("n"))
    j = (
        cells.join(F.broadcast(glob), "source")
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "k",
            F.sum("c").over(Window.partitionBy("lang", "len_bucket")),
        )
    )
    present = (
        F.abs(F.col("c") * F.col("n") - F.col("k") * F.col("cv"))
        - F.col("k") * F.col("cv")
    )
    agg = j.groupBy("lang", "len_bucket").agg(
        F.max("k").alias("k"),
        F.max("n").alias("n"),
        (F.sum(present) + F.max("k") * F.max("n")).alias("num"),
    )
    two = F.lit(2).cast("bigint")
    return agg.select(
        "lang",
        F.col("len_bucket").cast("bigint").alias("len_bucket"),
        F.col("k").cast("bigint").alias("k"),
        (
            F.col("num").cast("double")
            / (two * F.col("k") * F.col("n")).cast("double")
        ).alias("tvd"),
        (
            F.col("num") * T_CLOSENESS_DEN > two * F.col("k") * F.col("n")
        ).alias("violates_t"),
    )


JACKKNIFE_ORACLE = """
WITH per AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_i,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS s_i
    FROM documents GROUP BY 1
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS g,
           CAST(SUM(n_i) AS BIGINT) AS n,
           CAST(SUM(s_i) AS BIGINT) AS s
    FROM per
),
th AS (
    SELECT g, n, s,
           round(CAST(s - s_i AS DOUBLE)
                 / CAST(NULLIF(n - n_i, 0) AS DOUBLE), 12)
               AS ti
    FROM per CROSS JOIN tot
),
bar AS (
    SELECT CAST(SUM(CAST(ti AS DECIMAL(38,12))) AS DOUBLE) / MAX(g)
               AS tbar
    FROM th
),
sq AS (
    SELECT th.g, th.n, th.s, th.ti, bar.tbar FROM th CROSS JOIN bar
)
SELECT CAST(MAX(g) AS BIGINT) AS g,
       CAST(MAX(n) AS BIGINT) AS n_docs,
       round(CAST(MAX(s) AS DOUBLE) / MAX(n), 12) AS theta_hat,
       round(sqrt(CAST(MAX(g) - 1 AS DOUBLE) / MAX(g)
                  * CAST(SUM(CAST(round((ti - tbar) * (ti - tbar), 12)
                                  AS DECIMAL(38,12))) AS DOUBLE)), 12)
           AS jk_se
FROM sq
"""


@register(
    "quality_jackknife_source_variance",
    oracle=JACKKNIFE_ORACLE,
    tags=("quality", "statistics"),
)
def quality_jackknife_source_variance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delete-one-group jackknife standard error (Quenouille/Tukey;
    delete-a-group form per Kott 2001) for the corpus mean tokens-per-
    document, grouped by source — DETERMINISTIC resampling-based
    uncertainty with no RNG anywhere: θ̂_(i) recomputes the mean with
    source i deleted, and the jackknife variance (g−1)/g · Σ(θ̂_(i) −
    θ̄)² prices how much any single source swings the corpus statistic
    (the question a data-mix owner actually asks before adding or
    dropping a crawl shard).  Complements the drift tests (which
    compare two fixed slices) by quantifying estimator stability.

    Exactness: every θ̂_(i) is one round-12 division of BIGINT sums
    (closed form from per-source totals — the statistic is never
    recomputed by re-scanning); θ̄ and the squared deviations ride the
    DECIMAL(38,12) quantized-sum discipline; one sqrt at the end,
    round-12.

    Scale: one map-side-combined groupBy(source) is the only corpus
    pass; everything after runs on the |sources|-row frame (broadcast
    cross joins of 1-row totals).  Generalizes to delete-a-group
    jackknife over hash buckets when |sources| is too small or too
    large — same plan shape."""
    d = table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_i"),
        F.sum(F.size(words())).cast("bigint").alias("s_i"),
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("g"),
        F.sum("n_i").cast("bigint").alias("n"),
        F.sum("s_i").cast("bigint").alias("s"),
    )
    th = per.crossJoin(F.broadcast(tot)).select(
        "g",
        "n",
        "s",
        F.round(
            (F.col("s") - F.col("s_i")).cast("double")
            # NULLIF guard (r13 ADVICE): delete-one of a single source
            # leaves n == n_i — NULL in both engines, not div-by-zero.
            / F.nullif(F.col("n") - F.col("n_i"), F.lit(0)).cast("double"),
            12,
        ).alias("ti"),
    )
    bar = th.agg(
        (
            F.sum(F.col("ti").cast("decimal(38,12)")).cast("double")
            / F.max("g")
        ).alias("tbar")
    )
    sq = th.crossJoin(F.broadcast(bar))
    dev = (F.col("ti") - F.col("tbar")) * (F.col("ti") - F.col("tbar"))
    return sq.agg(
        F.max("g").cast("bigint").alias("g"),
        F.max("n").cast("bigint").alias("n_docs"),
        F.round(F.max("s").cast("double") / F.max("n"), 12).alias(
            "theta_hat"
        ),
        F.round(
            F.sqrt(
                (F.max("g") - 1).cast("double")
                / F.max("g")
                * F.sum(
                    F.round(dev, 12).cast("decimal(38,12)")
                ).cast("double")
            ),
            12,
        ).alias("jk_se"),
    )
