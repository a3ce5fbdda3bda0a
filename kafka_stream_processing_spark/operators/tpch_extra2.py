"""TPC-H patterns whose canonical form needs the partsupp table (absent
from the driver schema), adapted to lineitem-derived equivalents — plus
the two partsupp-free queries (Q6, Q15) the first tpch modules skipped.
Each keeps the *plan shape* that makes the original interesting:

- Q2  — correlated per-group MIN subquery, de-correlated to agg + join-back
- Q6  — scan-only filter + aggregate (pure pushdown showcase, no join)
- Q9  — computed profit measure over a multi-dim star, grouped two ways
- Q15 — aggregate view + scalar-max subquery, equality on exact decimal
- Q16 — distinct-count over join with NOT-IN (anti-join) exclusion
- Q20 — nested aggregate threshold feeding a semi-join chain
- Q21 — EXISTS + NOT-EXISTS self-correlation, de-correlated to one
        per-order aggregate join

The reference's single topology (UniqueUsersCounter.java:63-93) has no
joins at all; these queries exist to cover the join/subquery families of
SURVEY.md §2.1 at the depth a TPC-H-class engine needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_processing_spark.functions.exact import dec, dec_sum
from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import table


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
                AS DOUBLE) AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount >= 0.04 AND l_discount <= 0.06
      AND l_quantity < 24
    """,
    tags=("tpch",),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the pure-pushdown query — no join, every predicate
    eligible for parquet scan-level pushdown, one map-side partial agg.
    The plan should be scan → WholeStageCodegen(filter+partial agg) →
    single-row exchange; anything more is a regression
    (pinned in tests/test_plans.py)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dec_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "q2_min_price_supplier",
    oracle="""
    WITH eu AS (
        SELECT s_suppkey, s_name
        FROM supplier
        JOIN nation ON n_nationkey = s_nationkey
        JOIN region ON r_regionkey = n_regionkey
        WHERE r_name = 'EUROPE'
    ),
    px AS (
        SELECT l_partkey, l_suppkey, l_extendedprice
        FROM lineitem JOIN eu ON s_suppkey = l_suppkey
    ),
    m AS (
        SELECT l_partkey, min(l_extendedprice) AS minp
        FROM px GROUP BY 1
    )
    SELECT DISTINCT p_partkey, p_brand, s_name,
           CAST(x.l_extendedprice AS DOUBLE) AS min_price
    FROM px x
    JOIN m ON m.l_partkey = x.l_partkey AND x.l_extendedprice = m.minp
    JOIN part ON p_partkey = x.l_partkey
    JOIN eu ON eu.s_suppkey = x.l_suppkey
    WHERE p_size >= 40
    """,
    tags=("tpch",),
)
def q2_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 pattern: which EUROPE supplier offers each large part at
    its minimum observed price — the correlated MIN subquery, de-correlated
    into a per-part aggregate joined back on (partkey, price) equality.
    MIN over doubles selects an exact row value (no arithmetic), so the
    equality join-back is engine-stable without decimal quantization.

    Scale: region/nation/supplier fold to one broadcast dim (~10k rows at
    any SF); the per-part MIN and the join-back co-partition on l_partkey
    so AQE folds them into one shuffle of the filtered fact."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name")
    )
    li = table(spark, sf_dir, "lineitem")
    px = li.join(F.broadcast(eu), li.l_suppkey == F.col("s_suppkey")).select(
        "l_partkey", "l_suppkey", "l_extendedprice", "s_name"
    )
    m = px.groupBy("l_partkey").agg(F.min("l_extendedprice").alias("minp"))
    p = table(spark, sf_dir, "part").filter(F.col("p_size") >= 40)
    return (
        px.join(
            m.withColumnRenamed("l_partkey", "m_key"),
            (F.col("l_partkey") == F.col("m_key"))
            & (F.col("l_extendedprice") == F.col("minp")),
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            F.col("l_extendedprice").cast("double").alias("min_price"),
        )
        .distinct()
    )


@register(
    "q9_nation_profit",
    oracle="""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                    - CAST(0.5 * p_retailprice * l_quantity AS DECIMAL(18,6)))
                AS DOUBLE) AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
    tags=("tpch",),
)
def q9_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 pattern: per-(supplier nation, order year) profit, where
    profit is a computed measure spanning three tables (price, discount,
    and a part-derived cost — the partsupp supplycost adapted to a
    deterministic 0.5 * p_retailprice * l_quantity).  Both revenue and
    cost are quantized PER ROW before the subtraction/sum so the result
    is order-independent.

    Scale: the p_name LIKE filter prunes the broadcast part dim first, so
    only matching lineitem rows reach the single orderkey shuffle."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cost = F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(dec(revenue) - dec(cost)).cast("double").alias("profit"))
    )


@register(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey,
               SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
                   AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-04-01'
        GROUP BY 1
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM rev
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    """,
    tags=("tpch",),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the quarter's maximum revenue — an
    aggregate view consumed twice (once grouped, once for its scalar max)
    with an equality filter against the scalar.  The revenue stays
    DECIMAL through the max-equality comparison (double sums would make
    'equal to the max' nondeterministic), cast to double only on output.

    Scale: the rev view is one map-side-combined shuffle on l_suppkey
    (supplier-cardinality rows out); its scalar max is a broadcast join,
    as is the supplier dim — nothing rescans lineitem."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    rev = li.groupBy("l_suppkey").agg(F.sum(dec(revenue)).alias("total_rev"))
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    s = table(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx), F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


@register(
    "q16_part_supplier_coverage",
    oracle="""
    SELECT p_brand, p_type,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 5, 9, 13, 17, 21, 25)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY 1, 2
    """,
    tags=("tpch",),
)
def q16_part_supplier_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 pattern: how many distinct suppliers ship each
    (brand, type) of selected part sizes, excluding a blacklisted
    supplier set (negative balance, the partsupp-free stand-in for the
    original's complaint filter) — NOT IN realized as a broadcast anti
    join, then distinct-count over the join.

    Scale: both dims broadcast; the one shuffle is the partial-distinct
    aggregate on (brand, type, suppkey) — Spark expands countDistinct to
    a two-phase agg with map-side dedup, so hot (brand,type) groups don't
    funnel raw rows to one task."""
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25)
    )
    bad = table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@register(
    "q20_heavy_promo_shippers",
    oracle="""
    SELECT s_suppkey, s_name, n_name
    FROM supplier
    JOIN nation ON n_nationkey = s_nationkey
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_type = 'PROMO'
          AND l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 60
    )
    """,
    tags=("tpch",),
)
def q20_heavy_promo_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 pattern: suppliers who moved a heavy volume of some
    PROMO part in 1997 — a nested aggregate with a HAVING threshold
    (partsupp availqty adapted to a fixed quantity bar) feeding an IN,
    realized as aggregate → semi join.

    Scale: the inner aggregate groups on (suppkey, partkey) — high
    cardinality, well-spread — and only distinct qualifying suppkeys
    (≤ supplier cardinality) reach the semi join, which broadcasts."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 60)
        .select("l_suppkey")
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
    )


@register(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, count(*) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    tags=("tpch",),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 pattern: suppliers who were the SOLE late shipper on
    finished multi-supplier orders ("late" adapted to shipdate more than
    60 days after orderdate — the schema has no receipt/commit dates).
    The oracle keeps the canonical EXISTS / NOT-EXISTS self-correlation;
    the Spark plan de-correlates both into per-order window aggregates
    over ONE pass of the fact (distinct-supplier sets via collect_set
    windows sharing a single l_orderkey partitioning) — same truth:

        exists other-supplier line      ⇔ n_suppliers >= 2
        not exists other-supplier late  ⇔ n_late_suppliers == 1
                                          (the line itself is late)

    Scale: the textbook double-EXISTS plans two extra lineitem scans +
    shuffles; the groupBy-and-join-back de-correlation still scans the
    fact twice.  The window form scans lineitem ONCE and shuffles it once
    (both windows share the l_orderkey exchange, pinned in
    tests/test_plans.py).  Per-order collect_set state is bounded by
    suppliers-per-order (single digits), not lines; supplier broadcasts;
    the final top-20 is TakeOrderedAndProject."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = table(spark, sf_dir, "lineitem")
    # No broadcast hint: status-'F' orders are ~1/3 of the table — at
    # scale this is a shuffle join on orderkey, whose output partitioning
    # the windows below reuse (locally AQE broadcasts it on its own).
    lo = li.join(
        o.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).withColumn(
        # INTERVAL addition, not date_add: date_add truncates the
        # timestamp to DATE, silently shifting the lateness threshold to
        # midnight and diverging from the oracle's timestamp arithmetic
        # for any non-midnight orderdate.
        "is_late",
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
    )
    w = Window.partitionBy("l_orderkey")
    s = table(spark, sf_dir, "supplier")
    return (
        lo.withColumn("n_supp", F.size(F.collect_set("l_suppkey").over(w)))
        .withColumn(
            "n_late_supp",
            F.size(
                F.collect_set(
                    F.when(F.col("is_late"), F.col("l_suppkey"))
                ).over(w)
            ),
        )
        .filter(
            F.col("is_late") & (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
        )
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "q11_important_parts",
    oracle="""
    WITH nat_part AS (
        SELECT n_name AS nation, l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS part_value
        FROM lineitem
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN nation   ON n_nationkey = s_nationkey
        GROUP BY 1, 2
    ),
    nat_total AS (
        SELECT nation, SUM(part_value) AS total_value
        FROM nat_part GROUP BY 1
    )
    SELECT p.nation, p.l_partkey,
           CAST(p.part_value AS DOUBLE) AS part_value
    FROM nat_part p
    JOIN nat_total t ON t.nation = p.nation
    WHERE p.part_value > 0.005 * t.total_value
    """,
    tags=("tpch",),
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 pattern: per-(nation, part) traded value filtered
    against a FRACTION of the same aggregation at a coarser group level
    (partsupp availability value adapted to lineitem traded value) — the
    aggregate-reused-as-its-own-threshold shape.

    The threshold comparison multiplies the exact DECIMAL total by the
    fraction (one double multiply against a double-cast of an exact sum),
    identical on both engines.  Scale: ONE shuffle builds nat_part
    (map-side combined); nat_total re-aggregates its output (nation-
    cardinality rows) and broadcasts back — the fact is scanned and
    shuffled once."""
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    nat_part = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), "l_partkey")
        .agg(F.sum(dec("l_extendedprice")).alias("part_value"))
    )
    nat_total = nat_part.groupBy("nation").agg(
        F.sum("part_value").alias("total_value")
    )
    return (
        nat_part.join(
            F.broadcast(nat_total.withColumnRenamed("nation", "t_nation")),
            F.col("nation") == F.col("t_nation"),
        )
        .filter(
            F.col("part_value").cast("double")
            > 0.005 * F.col("total_value").cast("double")
        )
        .select("nation", "l_partkey", F.col("part_value").cast("double").alias("part_value"))
    )
