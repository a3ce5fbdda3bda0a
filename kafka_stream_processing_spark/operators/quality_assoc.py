"""Association and correlation measures: Pearson, Spearman, Kendall,
Cramer's V, mutual information, distance correlation, Hoeffding's D,
and Blomqvist's beta.

Pair statistics run on time-span- or domain-sized grids (hours x
values), never on corpus-sized row pairs; dominance joins and
double-centering identities keep everything BIGINT-exact until the
final scalar.  Split from quality.py in r09; semantics unchanged.
"""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_processing_spark.functions.exact import dec
from kafka_stream_processing_spark.operators.word_kernel import words
from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import table, fanout


@register(
    "quality_cramers_v_assoc",
    oracle="""
    WITH c AS (
        SELECT lang, source, count(*) AS n_obs
        FROM documents GROUP BY 1, 2
    ),
    langs AS (SELECT DISTINCT lang FROM documents),
    sources AS (SELECT DISTINCT source FROM documents),
    cells AS (
        SELECT l.lang, s.source, COALESCE(c.n_obs, 0) AS n_obs
        FROM langs l CROSS JOIN sources s
        LEFT JOIN c ON c.lang = l.lang AND c.source = s.source
    ),
    m AS (
        SELECT lang, source, n_obs,
               SUM(n_obs) OVER (PARTITION BY lang) AS rl,
               SUM(n_obs) OVER (PARTITION BY source) AS cs,
               SUM(n_obs) OVER () AS n,
               COUNT(*) OVER (PARTITION BY source) AS n_lang,
               COUNT(*) OVER (PARTITION BY lang) AS n_source
        FROM cells
    ),
    t AS (
        SELECT *, CAST(rl AS DOUBLE) * cs / n AS expected FROM m
    ),
    t2 AS (
        SELECT *,
               CAST(round((CAST(n_obs AS DOUBLE) - expected)
                          * (CAST(n_obs AS DOUBLE) - expected)
                          / expected, 6) AS DECIMAL(18,6)) AS term
        FROM t
    ),
    s AS (SELECT CAST(SUM(term) AS DOUBLE) AS chi2 FROM t2)
    SELECT lang, source,
           CAST(n_obs AS BIGINT) AS n_obs,
           expected,
           s.chi2 AS chi2,
           sqrt(s.chi2 / (CAST(n AS DOUBLE)
                          * (least(n_lang, n_source) - 1))) AS cramers_v
    FROM t2, s
    """,
    tags=("quality", "statistics", "association"),
)
def quality_cramers_v_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between the lang and source categorical
    columns — the effect-size companion to the chi² drift gate (chi²
    says "dependent or not at this n"; V ∈ [0,1] says HOW dependent,
    comparable across corpus sizes): build the COMPLETE r×c contingency
    table (distinct-lang × distinct-source cross join, left-joined
    counts — a structurally-zero cell still owes its full (0−e)²/e
    term, the same absent-category rule the Benford gate applies),
    expected counts e = row_tot·col_tot/n, per-cell terms rounded to 6
    decimals and summed exactly, then V = √(χ²/(n·(min(r,c)−1))).
    The window trick for the dimensions: in a complete cross join the
    per-lang cell count IS n_source and vice versa, so both dof inputs
    fall out of the same window pass that computes the margins — no
    second scan, no countDistinct.

    Scale: one corpus scan → r×c cell counts (map-side combined);
    margins and totals are window sums over the cell table (r·c rows —
    sketch-sized for any real categorical pair).  The distinct-value
    frames are the same histogram's projections, so the whole statistic
    is one aggregation plus arithmetic on its result."""
    docs = table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    langs = docs.select("lang").distinct()
    sources = docs.select("source").distinct()
    cells = (
        langs.crossJoin(sources)
        .join(c, ["lang", "source"], "left")
        .select(
            "lang",
            "source",
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
        )
    )
    wl = Window.partitionBy("lang")
    ws = Window.partitionBy("source")
    w = Window.partitionBy()
    m = cells.select(
        "lang",
        "source",
        "n_obs",
        F.sum("n_obs").over(wl).alias("rl"),
        F.sum("n_obs").over(ws).alias("cs"),
        F.sum("n_obs").over(w).alias("n"),
        F.count(F.lit(1)).over(ws).alias("n_lang"),
        F.count(F.lit(1)).over(wl).alias("n_source"),
    )
    expected = F.col("rl").cast("double") * F.col("cs") / F.col("n")
    t2 = m.withColumn("expected", expected).withColumn(
        "term",
        F.round(
            (F.col("n_obs").cast("double") - F.col("expected"))
            * (F.col("n_obs").cast("double") - F.col("expected"))
            / F.col("expected"),
            6,
        ).cast("decimal(18,6)"),
    )
    chi2 = F.sum("term").over(w).cast("double")
    return t2.select(
        "lang",
        "source",
        F.col("n_obs").cast("bigint").alias("n_obs"),
        "expected",
        chi2.alias("chi2"),
        F.sqrt(
            chi2
            / (
                F.col("n").cast("double")
                * (F.least("n_lang", "n_source") - 1)
            )
        ).alias("cramers_v"),
    )


@register(
    "quality_mutual_information",
    oracle="""
    WITH c AS (
        SELECT lang, source, count(*) AS n_obs
        FROM documents GROUP BY 1, 2
    ),
    m AS (
        SELECT lang, source, n_obs,
               SUM(n_obs) OVER (PARTITION BY lang) AS rl,
               SUM(n_obs) OVER (PARTITION BY source) AS cs,
               SUM(n_obs) OVER () AS n
        FROM c
    ),
    mi_t AS (
        SELECT CAST(round((CAST(n_obs AS DOUBLE) / n)
                          * ln(CAST(n_obs AS DOUBLE) * n
                               / (CAST(rl AS DOUBLE) * cs)), 6)
                    AS DECIMAL(18,6)) AS term,
               n
        FROM m
    ),
    hl_t AS (
        SELECT CAST(round((CAST(rl AS DOUBLE) / n)
                          * ln(CAST(rl AS DOUBLE) / n), 6)
                    AS DECIMAL(18,6)) AS term
        FROM (SELECT lang, count(*) AS rl,
                     SUM(count(*)) OVER () AS n
              FROM documents GROUP BY lang)
    ),
    hs_t AS (
        SELECT CAST(round((CAST(cs AS DOUBLE) / n)
                          * ln(CAST(cs AS DOUBLE) / n), 6)
                    AS DECIMAL(18,6)) AS term
        FROM (SELECT source, count(*) AS cs,
                     SUM(count(*)) OVER () AS n
              FROM documents GROUP BY source)
    ),
    s AS (
        SELECT (SELECT CAST(max(n) AS BIGINT) FROM mi_t) AS n,
               (SELECT CAST(SUM(term) AS DOUBLE) FROM mi_t) AS mi,
               -(SELECT CAST(SUM(term) AS DOUBLE) FROM hl_t) AS h_lang,
               -(SELECT CAST(SUM(term) AS DOUBLE) FROM hs_t) AS h_source
    )
    SELECT n, mi, h_lang, h_source,
           mi / sqrt(h_lang * h_source) AS nmi
    FROM s
    """,
    tags=("quality", "statistics", "association"),
)
def quality_mutual_information(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mutual information I(lang; source) with both marginal entropies
    and the sqrt-normalized NMI — the information-theoretic companion
    to Cramér's V (V says how far from independence in χ² units; MI
    says how many NATS one label reveals about the other, the quantity
    cluster-evaluation and feature-selection pipelines actually
    compare): I = Σ p_ls·ln(p_ls/(p_l·p_s)) over OBSERVED cells only
    (lim p→0 of p·ln p is 0, so structural zeros contribute nothing —
    the complete-table rule applies to χ², not MI), entropies from the
    marginal histograms, every libm term rounded to 6 decimals and
    summed exactly, NMI = I/√(H_l·H_s) ∈ [0,1].

    Scale: one r×c cell aggregation (map-side combined) + window
    margins — the Cramér kernel's shape; the two entropy scans are
    marginal-histogram-sized aggregates of the same pass's
    projections."""
    docs = table(spark, sf_dir, "documents")
    c = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    w = Window.partitionBy()
    m = c.select(
        "n_obs",
        F.sum("n_obs").over(Window.partitionBy("lang")).alias("rl"),
        F.sum("n_obs").over(Window.partitionBy("source")).alias("cs"),
        F.sum("n_obs").over(w).alias("n"),
    )
    mi_t = m.select(
        F.round(
            (F.col("n_obs").cast("double") / F.col("n"))
            * F.log(
                F.col("n_obs").cast("double")
                * F.col("n")
                / (F.col("rl").cast("double") * F.col("cs"))
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("term"),
        "n",
    )
    mi_row = mi_t.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("term").cast("double").alias("mi"),
    )

    def entropy(col: str, alias: str) -> DataFrame:
        marg = docs.groupBy(col).agg(F.count(F.lit(1)).alias("cnt"))
        t = marg.select(
            F.round(
                (
                    F.col("cnt").cast("double")
                    / F.sum("cnt").over(w)
                )
                * F.log(
                    F.col("cnt").cast("double") / F.sum("cnt").over(w)
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("term")
        )
        return t.agg((-F.sum("term").cast("double")).alias(alias))

    out = (
        mi_row.crossJoin(entropy("lang", "h_lang"))
        .crossJoin(entropy("source", "h_source"))
    )
    return out.select(
        "n",
        "mi",
        "h_lang",
        "h_source",
        (
            F.col("mi")
            / F.sqrt(F.col("h_lang") * F.col("h_source"))
        ).alias("nmi"),
    )


@register(
    "quality_spearman_corr",
    oracle="""
    WITH x AS (
        SELECT doc_id, n_chars AS xv,
               len(string_split(text, ' ')) AS yv
        FROM documents
    ),
    rx AS (
        SELECT xv,
               2 * (SUM(count(*)) OVER (ORDER BY xv) - count(*))
                   + count(*) + 1 AS r2
        FROM x GROUP BY xv
    ),
    ry AS (
        SELECT yv,
               2 * (SUM(count(*)) OVER (ORDER BY yv) - count(*))
                   + count(*) + 1 AS r2
        FROM x GROUP BY yv
    ),
    ranked AS (
        SELECT rx.r2 AS a, ry.r2 AS b
        FROM x JOIN rx ON rx.xv = x.xv JOIN ry ON ry.yv = x.yv
    ),
    s AS (
        SELECT count(*) AS n,
               CAST(SUM(a) AS BIGINT) AS sa,
               CAST(SUM(b) AS BIGINT) AS sb,
               CAST(SUM(a * a) AS BIGINT) AS saa,
               CAST(SUM(b * b) AS BIGINT) AS sbb,
               CAST(SUM(a * b) AS BIGINT) AS sab
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n,
           (CAST(n AS DOUBLE) * sab - CAST(sa AS DOUBLE) * sb)
               / (sqrt(CAST(n AS DOUBLE) * saa
                       - CAST(sa AS DOUBLE) * sa)
                  * sqrt(CAST(n AS DOUBLE) * sbb
                         - CAST(sb AS DOUBLE) * sb)) AS rho
    FROM s
    """,
    tags=("quality", "statistics", "robust"),
)
def quality_spearman_corr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spearman rank correlation between document length (n_chars) and
    whitespace token count — the robust monotone-association number a
    data card should quote beside any Pearson value (rank-based, so one
    concatenation artifact can't drag it): midranks come from the
    count-of-counts cumulative trick shared with the Mann-Whitney gate
    (rank of a tied value = cum_before + (c+1)/2; DOUBLING makes every
    midrank the integer 2·cum_before + c + 1, so all five moment sums
    are exact integers — Pearson on ranks is scale-invariant, hence
    ρ on doubled ranks IS Spearman's ρ), and the final formula is pure
    IEEE arithmetic on those integers, bit-identical cross-engine.

    Scale: two value-histogram aggregations (map-side combined,
    distinct-value-sized) + two narrow rank joins back + one 5-sum
    scalar aggregate; no global row sort — ranks never materialize an
    ordering, they come from cumulative counts over the value
    histogram.  Doubled-rank moment sums stay under 4n³ — switch the
    two square sums to DECIMAL(38,0) past ~10⁹ rows."""
    x = table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("xv"),
        F.size(words()).alias("yv"),
    )

    def rank2(col: str) -> DataFrame:
        h = x.groupBy(col).agg(F.count(F.lit(1)).alias("c"))
        wcum = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        return h.select(
            col,
            (
                2 * (F.sum("c").over(wcum) - F.col("c"))
                + F.col("c")
                + 1
            ).alias("r2"),
        )

    ranked = (
        x.join(rank2("xv").withColumnRenamed("r2", "a"), "xv")
        .join(rank2("yv").withColumnRenamed("r2", "b"), "yv")
        .select("a", "b")
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("a").cast("bigint").alias("sa"),
        F.sum("b").cast("bigint").alias("sb"),
        F.sum(F.col("a") * F.col("a")).cast("bigint").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("bigint").alias("sbb"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("sab"),
    )
    rho = (
        F.col("n").cast("double") * F.col("sab")
        - F.col("sa").cast("double") * F.col("sb")
    ) / (
        F.sqrt(
            F.col("n").cast("double") * F.col("saa")
            - F.col("sa").cast("double") * F.col("sa")
        )
        * F.sqrt(
            F.col("n").cast("double") * F.col("sbb")
            - F.col("sb").cast("double") * F.col("sb")
        )
    )
    return s.select(
        F.col("n").cast("bigint").alias("n"), rho.alias("rho")
    )


# ---------------------------------------------------------------------------
# Pearson correlation matrix
# ---------------------------------------------------------------------------

#: The lineitem numeric columns the correlation matrix covers.
PEARSON_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _pearson_oracle() -> str:
    sums = ["count(*) AS n"]
    for c in PEARSON_COLS:
        sums.append(f"SUM(CAST({c} AS DECIMAL(19,6))) AS s_{c}")
        sums.append(
            f"SUM(CAST({c} AS DECIMAL(19,6))"
            f" * CAST({c} AS DECIMAL(19,6))) AS ss_{c}"
        )
    pair_rows = []
    for i, a in enumerate(PEARSON_COLS):
        for b in PEARSON_COLS[i + 1:]:
            sums.append(
                f"SUM(CAST({a} AS DECIMAL(19,6))"
                f" * CAST({b} AS DECIMAL(19,6))) AS sp_{a}_{b}"
            )
            pair_rows.append(f"""
    SELECT '{a}' AS col_x, '{b}' AS col_y, CAST(n AS BIGINT) AS n,
           (CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)
            - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE))
           / (sqrt(CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)
                   - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE))
              * sqrt(CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)
                     - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)))
               AS corr
    FROM s""")
    return (
        "WITH s AS (SELECT " + ", ".join(sums) + " FROM lineitem)"
        + " UNION ALL ".join(pair_rows)
    )


@register(
    "quality_pearson_corr_lineitem",
    oracle=_pearson_oracle(),
    tags=("quality", "statistics"),
)
def quality_pearson_corr_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pearson correlation matrix over the four lineitem measures
    (quantity, price, discount, tax) — the first page of any numeric
    data profile, computed the only way that is deterministic AND
    single-pass at 100 TB: ONE aggregate produces every moment
    (n, Σx, Σx², Σxy for all 6 pairs = 15 sums) as EXACT decimal sums
    of per-row decimal(18,6)-quantized values (products carry 12 exact
    fraction digits — associative, partitioning-independent), and each
    pairwise r = (nΣxy−ΣxΣy)/(√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²)) is final
    IEEE arithmetic on those exact sums.  Never corr() per pair —
    that is 6 passes and order-dependent float accumulation.

    Scale: one map-side-combined scan, 15-cell state, 6-row output;
    the widest sum (price²) holds 26 integer digits of headroom in
    decimal(38,12)."""
    li = table(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in PEARSON_COLS:
        aggs.append(F.sum(dec(c)).alias(f"s_{c}"))
        aggs.append(F.sum(dec(c) * dec(c)).alias(f"ss_{c}"))
    pairs = []
    for i, a in enumerate(PEARSON_COLS):
        for b in PEARSON_COLS[i + 1:]:
            aggs.append(F.sum(dec(a) * dec(b)).alias(f"sp_{a}_{b}"))
            pairs.append((a, b))
    s = li.agg(*aggs)
    corr_cols = []
    for i, (a, b) in enumerate(pairs):
        corr = (
            F.col("n").cast("double") * F.col(f"sp_{a}_{b}").cast("double")
            - F.col(f"s_{a}").cast("double") * F.col(f"s_{b}").cast("double")
        ) / (
            F.sqrt(
                F.col("n").cast("double") * F.col(f"ss_{a}").cast("double")
                - F.col(f"s_{a}").cast("double")
                * F.col(f"s_{a}").cast("double")
            )
            * F.sqrt(
                F.col("n").cast("double") * F.col(f"ss_{b}").cast("double")
                - F.col(f"s_{b}").cast("double")
                * F.col(f"s_{b}").cast("double")
            )
        )
        corr_cols.append(corr.alias(f"c{i}"))
    one = s.select(F.col("n").cast("bigint").alias("n"), *corr_cols)
    # stack() fans the single moment row out to 6 pair rows WITHOUT
    # re-reading the input — a union of per-pair selects would replay
    # the scan+aggregate once per pair (test_plans pins 1 scan).
    stack_expr = (
        f"stack({len(pairs)}, "
        + ", ".join(
            f"'{a}', '{b}', c{i}" for i, (a, b) in enumerate(pairs)
        )
        + ") as (col_x, col_y, corr)"
    )
    return one.select(F.expr(stack_expr), "n").select(
        "col_x", "col_y", "n", "corr"
    )


@register(
    "quality_kendall_tau_corr",
    oracle="""
    WITH obs AS (
        SELECT n_chars AS x,
               len(string_split(text, ' ')) AS y
        FROM documents
    ),
    cells AS (
        SELECT x, y, count(*) AS nc FROM obs GROUP BY 1, 2
    ),
    tot AS (SELECT count(*) AS n FROM obs),
    pairs AS (
        SELECT
            CAST(SUM(CASE WHEN b.y > a.y
                          THEN a.nc * b.nc ELSE 0 END) AS BIGINT) AS c,
            CAST(SUM(CASE WHEN b.y < a.y
                          THEN a.nc * b.nc ELSE 0 END) AS BIGINT) AS d
        FROM cells a JOIN cells b ON b.x > a.x
    ),
    tx AS (
        SELECT CAST(COALESCE(SUM(t * (t - 1) // 2), 0) AS BIGINT) AS n1
        FROM (SELECT count(*) AS t FROM obs GROUP BY x) WHERE t > 1
    ),
    ty AS (
        SELECT CAST(COALESCE(SUM(t * (t - 1) // 2), 0) AS BIGINT) AS n2
        FROM (SELECT count(*) AS t FROM obs GROUP BY y) WHERE t > 1
    ),
    s AS (
        SELECT tot.n, tot.n * (tot.n - 1) // 2 AS n0,
               pairs.c, pairs.d, tx.n1, ty.n2
        FROM tot, pairs, tx, ty
    )
    SELECT CAST(n AS BIGINT) AS n,
           CAST(n0 AS BIGINT) AS n0_pairs,
           c AS concordant,
           d AS discordant,
           n1 AS ties_x,
           n2 AS ties_y,
           CAST(c - d AS DOUBLE)
               / sqrt(CAST(n0 - n1 AS DOUBLE) * (n0 - n2)) AS tau_b
    FROM s
    """,
    tags=("quality", "statistics", "robust"),
)
def quality_kendall_tau_corr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kendall τ-b between document length and whitespace token count —
    the third rank-association number beside Spearman's ρ (τ has the
    cleaner probabilistic reading: P(concordant) − P(discordant)) and
    the one with the textbook O(n²) trap, avoided here by counting
    dominance over the JOINT VALUE HISTOGRAM instead of observation
    pairs: concordant/discordant mass is Σ n_c·n_c' over cell pairs
    with x strictly greater and y strictly greater/smaller — a
    cell-table self-join whose cost is (distinct value pairs)², bounded
    by the VALUE DOMAIN product, never by row count.  Tie corrections
    n₁/n₂ come from the marginal histograms; everything is exact
    integer until the single final IEEE division — bit-identical
    cross-engine, no rounding discipline.

    Scale: one scan → cell histogram (map-side combined); the
    dominance join runs on cells (≤ |dom(x)|·|dom(y)| rows whatever
    the corpus size).  For genuinely continuous columns, quantize to
    the engine's 6-decimal grid first (τ on the quantized values) or
    range-band the join on x-buckets; the classic alternative is the
    O(n log n) Knight/BIT merge — a different kernel, not needed while
    domains stay histogram-sized."""
    obs = table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("x"),
        F.size(words()).alias("y"),
    )
    cells = obs.groupBy("x", "y").agg(F.count(F.lit(1)).alias("nc"))
    tot = obs.agg(F.count(F.lit(1)).alias("n"))
    a, b = cells.alias("a"), cells.alias("b")
    pairs = a.join(b, F.col("b.x") > F.col("a.x")).agg(
        F.sum(
            F.when(
                F.col("b.y") > F.col("a.y"),
                F.col("a.nc") * F.col("b.nc"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("c"),
        F.sum(
            F.when(
                F.col("b.y") < F.col("a.y"),
                F.col("a.nc") * F.col("b.nc"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("d"),
    )

    def tie_sum(col: str, alias: str) -> DataFrame:
        return (
            obs.groupBy(col)
            .agg(F.count(F.lit(1)).alias("t"))
            .filter(F.col("t") > 1)
            .agg(
                F.coalesce(
                    F.sum(F.expr("t * (t - 1) div 2")), F.lit(0)
                )
                .cast("bigint")
                .alias(alias)
            )
        )

    s = (
        tot.crossJoin(pairs)
        .crossJoin(tie_sum("x", "n1"))
        .crossJoin(tie_sum("y", "n2"))
        .withColumn("n0", F.expr("n * (n - 1) div 2"))
    )
    tau = (F.col("c") - F.col("d")).cast("double") / F.sqrt(
        (F.col("n0") - F.col("n1")).cast("double")
        * (F.col("n0") - F.col("n2"))
    )
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("n0").cast("bigint").alias("n0_pairs"),
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.col("n1").alias("ties_x"),
        F.col("n2").alias("ties_y"),
        tau.alias("tau_b"),
    )


@register(
    "quality_distance_correlation_hourly",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(SUM(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hourly),
    pair_sums AS (
        SELECT CAST(SUM(abs(a.x - b.x) * abs(a.y - b.y)) AS BIGINT) AS t1,
               CAST(SUM(abs(a.x - b.x) * abs(a.x - b.x)) AS BIGINT) AS t1x,
               CAST(SUM(abs(a.y - b.y) * abs(a.y - b.y)) AS BIGINT) AS t1y,
               CAST(SUM(abs(a.x - b.x)) AS BIGINT) AS sa,
               CAST(SUM(abs(a.y - b.y)) AS BIGINT) AS sb
        FROM hourly a, hourly b
    ),
    row_sums AS (
        SELECT a.h,
               CAST(SUM(abs(a.x - b.x)) AS BIGINT) AS r,
               CAST(SUM(abs(a.y - b.y)) AS BIGINT) AS s
        FROM hourly a, hourly b GROUP BY a.h
    ),
    cross_sums AS (
        SELECT CAST(SUM(r * s) AS BIGINT) AS tr,
               CAST(SUM(r * r) AS BIGINT) AS trx,
               CAST(SUM(s * s) AS BIGINT) AS try_
        FROM row_sums
    ),
    parts AS (
        SELECT tot.n,
               CAST(tot.n * tot.n * p.t1
                    - 2 * tot.n * c.tr + p.sa * p.sb AS BIGINT)
                   AS dcov2_num,
               CAST(tot.n * tot.n * p.t1x
                    - 2 * tot.n * c.trx + p.sa * p.sa AS BIGINT)
                   AS dvar2_x,
               CAST(tot.n * tot.n * p.t1y
                    - 2 * tot.n * c.try_ + p.sb * p.sb AS BIGINT)
                   AS dvar2_y
        FROM tot, pair_sums p, cross_sums c
    )
    SELECT n AS n_hours, dcov2_num, dvar2_x, dvar2_y,
           sqrt(CAST(dcov2_num AS DOUBLE)
                / sqrt(CAST(dvar2_x AS DOUBLE)
                       * CAST(dvar2_y AS DOUBLE))) AS dcor
    FROM parts
    """,
    tags=("quality", "statistics", "drift"),
)
def quality_distance_correlation_hourly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distance correlation (Székely-Rizzo-Bakirov 2007) between hourly
    click volume and hourly purchase volume — the dependence number the
    Pearson/Spearman/Kendall trio cannot deliver: dCor = 0 iff the two
    series are INDEPENDENT (not merely uncorrelated), so it catches the
    nonlinear/non-monotone couplings a funnel actually produces (e.g. a
    saturating click→purchase response reads near-zero in Pearson but
    not here).  Completes the pair-kernel family beside the energy
    distance (same |a-b| walk, two-sample flavor) and 1-Wasserstein.

    All three V-statistics are computed EXACTLY in integers via the
    double-centering identity n⁴·dCov² = n²·Σᵢⱼaᵢⱼbᵢⱼ − 2n·Σᵢrᵢsᵢ +
    (Σa)(Σb) with rᵢ the distance-matrix row sums — no per-row mean
    divisions, so both engines agree bit-for-bit on the three BIGINT
    components and the final dcor is one shared IEEE sqrt/division
    chain.  dcor² = n⁴dCov² / sqrt(n⁴dVarx · n⁴dVary).

    Scale: the heavy input scan collapses to the hour grid in ONE
    map-side-combined groupBy; the O(n²) pair kernel runs on the GRID,
    whose size is the TIME SPAN (n=720 hours for this corpus, n²=518k
    pair rows — a decade is ~9e4 hours), never the corpus row count.
    For multi-decade spans, re-grid to days (same operator shape,
    n=3650) — the grid choice, not the kernel, is the scale knob; the
    O(n log n) Huo-Székely merge is the known alternative if a fine
    grid over a long span is ever required."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("y"),
    )
    a, b = hourly.alias("a"), hourly.alias("b")
    dx = F.abs(F.col("a.x") - F.col("b.x"))
    dy = F.abs(F.col("a.y") - F.col("b.y"))
    pair_sums = a.crossJoin(b).agg(
        F.sum(dx * dy).cast("bigint").alias("t1"),
        F.sum(dx * dx).cast("bigint").alias("t1x"),
        F.sum(dy * dy).cast("bigint").alias("t1y"),
        F.sum(dx).cast("bigint").alias("sa"),
        F.sum(dy).cast("bigint").alias("sb"),
    )
    row_sums = (
        a.crossJoin(b)
        .groupBy(F.col("a.h"))
        .agg(
            F.sum(dx).cast("bigint").alias("r"),
            F.sum(dy).cast("bigint").alias("s"),
        )
    )
    cross_sums = row_sums.agg(
        F.sum(F.col("r") * F.col("s")).cast("bigint").alias("tr"),
        F.sum(F.col("r") * F.col("r")).cast("bigint").alias("trx"),
        F.sum(F.col("s") * F.col("s")).cast("bigint").alias("try_"),
    )
    tot = hourly.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    parts = (
        tot.crossJoin(pair_sums)
        .crossJoin(cross_sums)
        .select(
            F.col("n"),
            (
                F.col("n") * F.col("n") * F.col("t1")
                - 2 * F.col("n") * F.col("tr")
                + F.col("sa") * F.col("sb")
            )
            .cast("bigint")
            .alias("dcov2_num"),
            (
                F.col("n") * F.col("n") * F.col("t1x")
                - 2 * F.col("n") * F.col("trx")
                + F.col("sa") * F.col("sa")
            )
            .cast("bigint")
            .alias("dvar2_x"),
            (
                F.col("n") * F.col("n") * F.col("t1y")
                - 2 * F.col("n") * F.col("try_")
                + F.col("sb") * F.col("sb")
            )
            .cast("bigint")
            .alias("dvar2_y"),
        )
    )
    return parts.select(
        F.col("n").alias("n_hours"),
        "dcov2_num",
        "dvar2_x",
        "dvar2_y",
        F.sqrt(
            F.col("dcov2_num").cast("double")
            / F.sqrt(
                F.col("dvar2_x").cast("double")
                * F.col("dvar2_y").cast("double")
            )
        ).alias("dcor"),
    )


#: Shared final-step arithmetic for Hoeffding's D: written ONCE as SQL
#: text and executed verbatim by both engines (F.expr on the Spark
#: side), so the IEEE operation order is identical by construction.
_HOEFFDING_D_EXPR = (
    "30.0 * (CAST((n_hours - 2) * (n_hours - 3) AS DOUBLE)"
    " * CAST(d1_16 AS DOUBLE)"
    " + CAST(d2_16 AS DOUBLE)"
    " - 2.0 * CAST(n_hours - 2 AS DOUBLE) * CAST(d3_16 AS DOUBLE))"
    " / (16.0 * CAST(n_hours AS DOUBLE) * CAST(n_hours - 1 AS DOUBLE)"
    " * CAST(n_hours - 2 AS DOUBLE) * CAST(n_hours - 3 AS DOUBLE)"
    " * CAST(n_hours - 4 AS DOUBLE))"
)


@register(
    "quality_hoeffding_d_hourly",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(SUM(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    cells AS (
        SELECT x, y, CAST(count(*) AS BIGINT) AS nc
        FROM hourly GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hourly),
    mx AS (
        SELECT x,
               CAST(2 * (coalesce(SUM(t) OVER (ORDER BY x
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0)) + t - 1 AS BIGINT) AS r2
        FROM (SELECT x, CAST(count(*) AS BIGINT) AS t
              FROM hourly GROUP BY x)
    ),
    my AS (
        SELECT y,
               CAST(2 * (coalesce(SUM(t) OVER (ORDER BY y
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0)) + t - 1 AS BIGINT) AS s2
        FROM (SELECT y, CAST(count(*) AS BIGINT) AS t
              FROM hourly GROUP BY y)
    ),
    q AS (
        SELECT a.x, a.y, a.nc,
               CAST(4 + coalesce(SUM(CASE
                   WHEN b.x < a.x AND b.y < a.y THEN 4 * b.nc
                   WHEN b.x = a.x AND b.y < a.y THEN 2 * b.nc
                   WHEN b.x < a.x AND b.y = a.y THEN 2 * b.nc
                   WHEN b.x = a.x AND b.y = a.y THEN b.nc - 1
               END), 0) AS BIGINT) AS q4
        FROM cells a LEFT JOIN cells b
          ON b.x <= a.x AND b.y <= a.y
        GROUP BY a.x, a.y, a.nc
    ),
    terms AS (
        SELECT CAST(SUM(q.nc * (q.q4 - 4) * (q.q4 - 8)) AS BIGINT)
                   AS d1_16,
               CAST(SUM(q.nc * mx.r2 * (mx.r2 - 2)
                        * my.s2 * (my.s2 - 2)) AS BIGINT) AS d2_16,
               CAST(SUM(q.nc * (mx.r2 - 2) * (my.s2 - 2)
                        * (q.q4 - 4)) AS BIGINT) AS d3_16
        FROM q
        JOIN mx ON mx.x = q.x
        JOIN my ON my.y = q.y
    )
    SELECT n AS n_hours, d1_16, d2_16, d3_16,
           {_HOEFFDING_D_EXPR} AS hoeffding_d
    FROM terms, tot
    """,
    tags=("quality", "statistics", "drift"),
)
def quality_hoeffding_d_hourly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hoeffding's D (1948) between hourly click volume and hourly
    purchase volume — the RANK-based independence test beside the
    distance correlation's metric one: D estimates ∫(F_xy − F_xF_y)²,
    is invariant to monotone transforms of either margin (dCor is
    not), and its D1/D2/D3 sums are the classical published form
    D = 30·((n−2)(n−3)D1 + D2 − 2(n−2)D3) / (n(n−1)(n−2)(n−3)(n−4)),
    D1 = Σ(Qᵢ−1)(Qᵢ−2), D2 = Σ(Rᵢ−1)(Rᵢ−2)(Sᵢ−1)(Sᵢ−2),
    D3 = Σ(Rᵢ−2)(Sᵢ−2)(Qᵢ−1), with midrank tie credits (½ for a
    single-coordinate tie, ¼ for a double tie) in R, S and Q.

    Exactness: midranks live on a half-integer grid and Q on a quarter
    grid, so the engine carries R2 = 2(R−1), S2 = 2(S−1), Q4 = 4Q and
    the three sums D1_16/D2_16/D3_16 = 16·D1/D2/D3 as exact BIGINTs —
    hash-identical cross-engine; the single IEEE step is the final
    scalar, evaluated from ONE shared SQL expression text
    (_HOEFFDING_D_EXPR) so the operation order matches bit-for-bit.

    Scale: like quality_kendall_tau_corr, the kernel never touches
    observation pairs — ranks come from the MARGINAL histograms
    (domain-sized cumulative windows) and Q from a dominance join over
    the JOINT value histogram, cost (distinct cells)², bounded by the
    value-domain product whatever the corpus size; the corpus itself
    is scanned once into the hour grid (map-side combined).  For
    high-cardinality metrics, quantize to the engine's decimal grid
    first — the documented Kendall discipline."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("y"),
    )
    cells = hourly.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("nc")
    )
    tot = hourly.agg(F.count(F.lit(1)).cast("bigint").alias("n"))

    def midrank2(col: str, out: str) -> DataFrame:
        # R2 = 2*(#{v' < v}) + #{v' = v} - 1  (= 2*(midrank - 1)),
        # from the marginal histogram — the cumulative window frame is
        # domain-sized, not corpus-sized.
        marg = hourly.groupBy(col).agg(
            F.count(F.lit(1)).cast("bigint").alias("t")
        )
        w = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, -1
        )
        return marg.select(
            F.col(col),
            (
                2 * F.coalesce(F.sum("t").over(w), F.lit(0))
                + F.col("t")
                - 1
            )
            .cast("bigint")
            .alias(out),
        )

    mx = midrank2("x", "r2")
    my = midrank2("y", "s2")
    a, b = cells.alias("a"), cells.alias("b")
    w_q = (
        F.when(
            (F.col("b.x") < F.col("a.x"))
            & (F.col("b.y") < F.col("a.y")),
            4 * F.col("b.nc"),
        )
        .when(
            (F.col("b.x") == F.col("a.x"))
            & (F.col("b.y") < F.col("a.y")),
            2 * F.col("b.nc"),
        )
        .when(
            (F.col("b.x") < F.col("a.x"))
            & (F.col("b.y") == F.col("a.y")),
            2 * F.col("b.nc"),
        )
        .when(
            (F.col("b.x") == F.col("a.x"))
            & (F.col("b.y") == F.col("a.y")),
            F.col("b.nc") - 1,
        )
    )
    q = (
        a.join(
            b,
            (F.col("b.x") <= F.col("a.x"))
            & (F.col("b.y") <= F.col("a.y")),
            "left",
        )
        .groupBy(F.col("a.x"), F.col("a.y"), F.col("a.nc"))
        .agg(
            (4 + F.coalesce(F.sum(w_q), F.lit(0)))
            .cast("bigint")
            .alias("q4")
        )
    )
    terms = (
        q.join(mx, "x")
        .join(my, "y")
        .agg(
            F.sum(
                F.col("nc")
                * (F.col("q4") - 4)
                * (F.col("q4") - 8)
            )
            .cast("bigint")
            .alias("d1_16"),
            F.sum(
                F.col("nc")
                * F.col("r2")
                * (F.col("r2") - 2)
                * F.col("s2")
                * (F.col("s2") - 2)
            )
            .cast("bigint")
            .alias("d2_16"),
            F.sum(
                F.col("nc")
                * (F.col("r2") - 2)
                * (F.col("s2") - 2)
                * (F.col("q4") - 4)
            )
            .cast("bigint")
            .alias("d3_16"),
        )
    )
    return (
        terms.crossJoin(tot)
        .select(
            F.col("n").alias("n_hours"),
            "d1_16",
            "d2_16",
            "d3_16",
        )
        .withColumn("hoeffding_d", F.expr(_HOEFFDING_D_EXPR))
    )


@register(
    "quality_blomqvist_beta_hourly",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h,
               CAST(SUM(CASE WHEN event_type = 'click'
                             THEN 1 ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN 1 ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    mx AS (
        SELECT x AS med_x FROM (
            SELECT x, row_number() OVER (ORDER BY x) AS rn,
                   count(*) OVER () AS n
            FROM hourly
        ) WHERE rn = (n + 1) // 2
    ),
    my AS (
        SELECT y AS med_y FROM (
            SELECT y, row_number() OVER (ORDER BY y) AS rn,
                   count(*) OVER () AS n
            FROM hourly
        ) WHERE rn = (n + 1) // 2
    ),
    q AS (
        SELECT
            CAST(count(*) AS BIGINT) AS n_hours,
            CAST(SUM(CASE WHEN x > med_x AND y > med_y
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_pp,
            CAST(SUM(CASE WHEN x < med_x AND y < med_y
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_mm,
            CAST(SUM(CASE WHEN x > med_x AND y < med_y
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_pm,
            CAST(SUM(CASE WHEN x < med_x AND y > med_y
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_mp,
            CAST(SUM(CASE WHEN x = med_x OR y = med_y
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_on_median,
            CAST(any_value(med_x) AS BIGINT) AS med_x,
            CAST(any_value(med_y) AS BIGINT) AS med_y
        FROM hourly, mx, my
    )
    SELECT n_hours, med_x, med_y, n_pp, n_mm, n_pm, n_mp, n_on_median,
           CAST(n_pp + n_mm - n_pm - n_mp AS DOUBLE)
               / CAST(n_pp + n_mm + n_pm + n_mp AS DOUBLE) AS beta
    FROM q
    """,
    tags=("quality", "statistics", "robust"),
)
def quality_blomqvist_beta_hourly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blomqvist's β (1950 medial correlation) between hourly click and
    purchase volumes — the cheapest member of the association ladder
    (Pearson → Spearman → Kendall → Hoeffding → dCor): sign agreement
    relative to the MEDIANS, β = (n₊₊ + n₋₋ − n₊₋ − n₋₊)/(total off
    median), maximally robust (50% breakdown in each margin) and the
    one association number a monitoring dashboard can afford on every
    tick.  Points lying ON either median are excluded from the
    denominator (the classical discrete-margin convention) and
    reported in n_on_median so the exclusion mass is auditable.

    Exactness: both medians are the engine's standard LOWER order
    statistic at rank ⌈n/2⌉ ((n+1) div 2 — the lower-median convention
    of quality_length_outlier_mad), quadrant counts are exact integer
    comparisons against them, and the single IEEE step is the final
    ratio.

    Scale: one scan → hour grid (map-side combined); the median rank
    windows run over the GRID (time-span-sized — the Kendall/Hoeffding
    discipline); production frontier for an entity-scale variant is
    frontier.quantile_cuts(mode="approx") exactly as the Lorenz/RFM
    swap; one broadcast of the two scalars; one counting aggregate."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        )
        .cast("bigint")
        .alias("y"),
    )

    def lower_median(col: str, out: str) -> DataFrame:
        w = Window.orderBy(col)
        wn = Window.partitionBy()
        return (
            hourly.select(
                F.col(col),
                F.row_number().over(w).alias("rn"),
                F.count(F.lit(1)).over(wn).alias("n"),
            )
            .filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .select(F.col(col).cast("bigint").alias(out))
        )

    meds = lower_median("x", "med_x").crossJoin(
        lower_median("y", "med_y")
    )
    j = hourly.crossJoin(F.broadcast(meds))
    q = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum(
            F.when(
                (F.col("x") > F.col("med_x"))
                & (F.col("y") > F.col("med_y")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_pp"),
        F.sum(
            F.when(
                (F.col("x") < F.col("med_x"))
                & (F.col("y") < F.col("med_y")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_mm"),
        F.sum(
            F.when(
                (F.col("x") > F.col("med_x"))
                & (F.col("y") < F.col("med_y")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_pm"),
        F.sum(
            F.when(
                (F.col("x") < F.col("med_x"))
                & (F.col("y") > F.col("med_y")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_mp"),
        F.sum(
            F.when(
                (F.col("x") == F.col("med_x"))
                | (F.col("y") == F.col("med_y")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_on_median"),
        F.any_value(F.col("med_x")).alias("med_x"),
        F.any_value(F.col("med_y")).alias("med_y"),
    )
    return q.select(
        "n_hours",
        "med_x",
        "med_y",
        "n_pp",
        "n_mm",
        "n_pm",
        "n_mp",
        "n_on_median",
        (
            (
                F.col("n_pp")
                + F.col("n_mm")
                - F.col("n_pm")
                - F.col("n_mp")
            ).cast("double")
            / (
                F.col("n_pp")
                + F.col("n_mm")
                + F.col("n_pm")
                + F.col("n_mp")
            ).cast("double")
        ).alias("beta"),
    )



#: Bucket width for the n_chars axis of the weighted dCor grid — the
#: quantization knob the hourly kernel's docstring promises: the pair
#: kernel runs on the (length-bucket x vocab) VALUE GRID, so its cost
#: is grid-cardinality-squared regardless of corpus row count.
DCOR_LEN_BUCKET = 16

#: Shared combination step for the weighted-grid distance covariance:
#: n^4*dCov^2 = n^2*T1 - 2n*TR + SA*SB evaluated in DECIMAL(38,0) so
#: the identity stays EXACT past BIGINT range (the components are
#: count-products that grow as n^2 and n^3 of the document count; the
#: combination grows as n^4, which overflows BIGINT beyond ~55k docs).
#: ONE SQL text per component, executed verbatim by both engines.
#:
#: Width budget (ADVICE r09): each product's operand widths sum to
#: exactly 38 (DuckDB's multiply ceiling), balanced so the COMPONENT
#: casts can never be the binding constraint — a BIGINT component
#: (< 9.3e18) always fits DECIMAL(19/22/28,0), so the old silent
#: cross-engine divergence (Spark non-ANSI CAST→NULL at 1e18 while
#: DuckDB raises) is gone from the combination step.  At least one
#: operand of every product is >= 19 digits wide, forcing DuckDB's
#: hugeint path (the r09 decimal-internal-type gotcha).  The binding
#: bounds that REMAIN, explicitly: (a) the components themselves are
#: exact BIGINTs in both engines — TR ~ n^3*span^2 crosses 9.2e18
#: around ~2e5 docs at house grid spans (~1e3), where Spark's non-ANSI
#: SUM wraps silently while DuckDB's CAST raises — pinned headroom in
#: tests/test_round10_ops.py; (b) CAST(n*n AS DECIMAL(16,0)) bounds
#: n <= 1e8 docs, far beyond (a).  Past (a) the op needs the
#: DECIMAL-accumulated component variant, not wider casts here.
_DCOR_W_NUM = (
    "CAST("
    "CAST(CAST(CAST(n AS DECIMAL(20,0)) * CAST(n AS DECIMAL(10,0))"
    " AS DECIMAL(16,0)) * CAST({t1} AS DECIMAL(22,0))"
    " AS DECIMAL(38,0))"
    " - CAST(CAST(2 * n AS DECIMAL(10,0)) * CAST({tr} AS DECIMAL(28,0))"
    " AS DECIMAL(38,0))"
    " + CAST(CAST({sa} AS DECIMAL(19,0)) * CAST({sb} AS DECIMAL(19,0))"
    " AS DECIMAL(38,0))"
    " AS DECIMAL(38,0))"
)
_DCOR_W_PARTS = {
    "dcov2_num": _DCOR_W_NUM.format(t1="t1", tr="tr", sa="sa", sb="sb"),
    "dvar2_x": _DCOR_W_NUM.format(t1="t1x", tr="trx", sa="sa", sb="sa"),
    "dvar2_y": _DCOR_W_NUM.format(t1="t1y", tr="try_", sa="sb", sb="sb"),
}
_DCOR_W_FINAL = (
    "sqrt(CAST({num} AS DOUBLE) / sqrt(CAST({vx} AS DOUBLE)"
    " * CAST({vy} AS DOUBLE)))"
).format(
    num=_DCOR_W_PARTS["dcov2_num"],
    vx=_DCOR_W_PARTS["dvar2_x"],
    vy=_DCOR_W_PARTS["dvar2_y"],
)


#: Shared grid tail of the weighted-grid dCor oracles: everything from
#: the (xv, yv, m) cell collapse through the exact-decimal combination —
#: the docs CTE (which axes, which bucketing) is the only per-op part.
_DCOR_GRID_TAIL = """cells AS (
        SELECT xv, yv, CAST(count(*) AS BIGINT) AS m
        FROM docs GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(m) AS BIGINT) AS n FROM cells),
    pair_sums AS (
        SELECT CAST(SUM(a.m * b.m * abs(a.xv - b.xv)
                        * abs(a.yv - b.yv)) AS BIGINT) AS t1,
               CAST(SUM(a.m * b.m * abs(a.xv - b.xv)
                        * abs(a.xv - b.xv)) AS BIGINT) AS t1x,
               CAST(SUM(a.m * b.m * abs(a.yv - b.yv)
                        * abs(a.yv - b.yv)) AS BIGINT) AS t1y,
               CAST(SUM(a.m * b.m * abs(a.xv - b.xv)) AS BIGINT) AS sa,
               CAST(SUM(a.m * b.m * abs(a.yv - b.yv)) AS BIGINT) AS sb
        FROM cells a, cells b
    ),
    row_sums AS (
        SELECT a.xv, a.yv, max(a.m) AS m,
               CAST(SUM(b.m * abs(a.xv - b.xv)) AS BIGINT) AS r,
               CAST(SUM(b.m * abs(a.yv - b.yv)) AS BIGINT) AS s
        FROM cells a, cells b GROUP BY a.xv, a.yv
    ),
    cross_sums AS (
        SELECT CAST(SUM(m * r * s) AS BIGINT) AS tr,
               CAST(SUM(m * r * r) AS BIGINT) AS trx,
               CAST(SUM(m * s * s) AS BIGINT) AS try_
        FROM row_sums
    )
    SELECT tot.n AS n_docs,
           CAST({NUM} AS DOUBLE) AS dcov2_num,
           CAST({VX} AS DOUBLE) AS dvar2_x,
           CAST({VY} AS DOUBLE) AS dvar2_y,
           {FINAL} AS dcor
    FROM tot, pair_sums, cross_sums
    """


def _dcor_grid_oracle(docs_cte: str) -> str:
    """Full oracle text for a weighted-grid dCor op: per-op docs CTE
    (must yield columns xv, yv) + the shared exact-combination tail."""
    return (
        ("\n    WITH docs AS (" + docs_cte + "\n    ),\n    "
         + _DCOR_GRID_TAIL)
        .replace("{NUM}", _DCOR_W_PARTS["dcov2_num"])
        .replace("{VX}", _DCOR_W_PARTS["dvar2_x"])
        .replace("{VY}", _DCOR_W_PARTS["dvar2_y"])
        .replace("{FINAL}", _DCOR_W_FINAL)
    )


def _dcor_from_grid(docs: DataFrame) -> DataFrame:
    """Spark side of the shared grid kernel: collapse (xv, yv) docs to
    the multiplicity grid, run the O(g^2) pair kernel on CELLS, and
    combine through the exact decimal identity (_DCOR_W_NUM)."""
    cells = docs.groupBy("xv", "yv").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    )
    a, b = cells.alias("a"), cells.alias("b")
    mm = F.col("a.m") * F.col("b.m")
    dx = F.abs(F.col("a.xv") - F.col("b.xv"))
    dy = F.abs(F.col("a.yv") - F.col("b.yv"))
    pair_sums = a.crossJoin(b).agg(
        F.sum(mm * dx * dy).cast("bigint").alias("t1"),
        F.sum(mm * dx * dx).cast("bigint").alias("t1x"),
        F.sum(mm * dy * dy).cast("bigint").alias("t1y"),
        F.sum(mm * dx).cast("bigint").alias("sa"),
        F.sum(mm * dy).cast("bigint").alias("sb"),
    )
    row_sums = (
        a.crossJoin(b)
        .groupBy(F.col("a.xv"), F.col("a.yv"))
        .agg(
            F.max(F.col("a.m")).alias("m"),
            F.sum(F.col("b.m") * dx).cast("bigint").alias("r"),
            F.sum(F.col("b.m") * dy).cast("bigint").alias("s"),
        )
    )
    cross_sums = row_sums.agg(
        F.sum(F.col("m") * F.col("r") * F.col("s"))
        .cast("bigint")
        .alias("tr"),
        F.sum(F.col("m") * F.col("r") * F.col("r"))
        .cast("bigint")
        .alias("trx"),
        F.sum(F.col("m") * F.col("s") * F.col("s"))
        .cast("bigint")
        .alias("try_"),
    )
    tot = cells.agg(F.sum("m").cast("bigint").alias("n"))
    joined = tot.crossJoin(pair_sums).crossJoin(cross_sums)
    return joined.select(
        F.col("n").alias("n_docs"),
        F.expr(_DCOR_W_PARTS["dcov2_num"])
        .cast("double")
        .alias("dcov2_num"),
        F.expr(_DCOR_W_PARTS["dvar2_x"])
        .cast("double")
        .alias("dvar2_x"),
        F.expr(_DCOR_W_PARTS["dvar2_y"])
        .cast("double")
        .alias("dvar2_y"),
        F.expr(_DCOR_W_FINAL).alias("dcor"),
    )


@register(
    "quality_dcor_length_vocab",
    oracle=_dcor_grid_oracle(
        """
        SELECT CAST(n_chars // {B} AS BIGINT) AS xv,
               CAST(len(list_distinct(string_split(text, ' ')))
                    AS BIGINT) AS yv
        FROM documents""".replace("{B}", str(DCOR_LEN_BUCKET))
    ),
    tags=("quality", "statistics", "text"),
)
def quality_dcor_length_vocab(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distance correlation between document LENGTH (n_chars, bucketed)
    and per-document VOCABULARY size — the weighted-grid deployment the
    hourly dCor kernel's docstring promises: dCor = 0 iff the two
    quality signals are independent, so a corpus whose vocabulary
    saturates nonlinearly with length (the usual shape — Pearson reads
    it near zero once the saturation flattens) still shows up.  A data
    curator uses this to decide whether length and lexical diversity
    are separate filter axes or one.

    Unlike quality_distance_correlation_hourly (one row per hour), the
    input here is one row per DOCUMENT, so the pair kernel cannot run
    on rows: documents collapse to the (length-bucket x vocab) VALUE
    GRID with multiplicity m per cell, and every V-statistic becomes a
    multiplicity-weighted grid sum — the identity n^4*dCov^2 =
    n^2*Sum(m_i*m_j*a_ij*b_ij) - 2n*Sum(m_i*r_i*s_i) + (Sa)(Sb) holds
    verbatim with r_i the weighted row sums.  Components stay exact
    BIGINTs (bounded by n^3 * grid-span ~ 1e17 at 5e4 docs); the n^4
    combination step runs in DECIMAL(38,0) via ONE shared SQL text
    (_DCOR_W_NUM) because it overflows BIGINT beyond ~55k documents —
    the cast to DOUBLE happens once, on identical exact decimals.

    Scale: one map-side-combined groupBy collapses the corpus to the
    grid (<= (max_chars/16) * max_vocab cells ~ 1.2k here); the O(g^2)
    pair kernel never touches corpus rows.  At 100 TB the grid is the
    same size — the scan dominates and is one pass."""
    d = table(spark, sf_dir, "documents")
    docs = d.select(
        (F.col("n_chars") / DCOR_LEN_BUCKET)
        .cast("bigint")
        .alias("xv"),
        F.size(F.array_distinct(words()))
        .cast("bigint")
        .alias("yv"),
    )
    return _dcor_from_grid(docs)


#: Token-count bucket width for the tokens×violations dCor grid —
#: same role as DCOR_LEN_BUCKET on the length axis.
DCOR_TOK_BUCKET = 8


@register(
    "quality_dcor_tokens_violations",
    oracle=_dcor_grid_oracle(
        """
        SELECT CAST(n_words // {B} AS BIGINT) AS xv,
               CAST((CASE WHEN n_words >= 30 THEN 0 ELSE 1 END)
                  + (CASE WHEN total_chars >= 3 * n_words
                          AND total_chars <= 8 * n_words
                     THEN 0 ELSE 1 END)
                  + (CASE WHEN n_top * 8 <= n_words THEN 0 ELSE 1 END)
                  + (CASE WHEN n_stop >= 1 THEN 0 ELSE 1 END)
                    AS BIGINT) AS yv
        FROM (
            SELECT len(string_split(text, ' ')) AS n_words,
                   CAST(list_aggregate(
                       list_transform(string_split(text, ' '),
                                      w -> length(w)), 'sum')
                        AS BIGINT) AS total_chars,
                   list_max(list_transform(
                       list_distinct(string_split(text, ' ')),
                       w -> len(list_filter(string_split(text, ' '),
                                            t -> t = w)))) AS n_top,
                   len(list_filter(string_split(text, ' '),
                                   t -> t IN ('the', 'a', 'of', 'and',
                                              'to', 'in'))) AS n_stop
            FROM documents
        )""".replace("{B}", str(DCOR_TOK_BUCKET))
    ),
    tags=("quality", "statistics", "text", "pipeline"),
)
def quality_dcor_tokens_violations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distance correlation between document TOKEN COUNT (bucketed) and
    the number of Gopher-rule VIOLATIONS (0-4, the same four rules as
    quality_gopher_filters / quality_filter_interaction_matrix) — the
    HANDOFF r09 seed: the weighted-grid dCor kernel deployed on a
    second exact-integer pair.  The interaction matrix says WHICH rule
    combinations co-fire; this one number says whether quality failure
    is a length phenomenon AT ALL (dCor ~ 0 ⇒ the rule chain prunes
    independently of length, so a length filter adds information;
    large dCor ⇒ the violations are length-driven and a second length
    cut would double-count).

    Exactness: token counts and violation counts are exact integers
    from the SHARED gopher_feature_columns kernel (the Spark side) and
    its verbatim SQL (the oracle side), so the grid, every V-statistic
    component, and the DECIMAL(38,0) combination are bit-identical —
    the whole op rides _dcor_from_grid / _dcor_grid_oracle, ONE kernel
    text with quality_dcor_length_vocab.

    Scale: identical to the length×vocab deployment — one map-side
    groupBy to the (token-bucket × violations) grid (y-span is 5, so
    the grid is ~5× the token-bucket count), O(g²) pair kernel on
    cells, never corpus rows."""
    from kafka_stream_processing_spark.operators.pipeline import (
        gopher_feature_columns,
    )

    d = fanout(table(spark, sf_dir, "documents"))
    feats = d.select(*gopher_feature_columns())
    violations = (
        (F.col("n_words") < 30).cast("int")
        + (
            (F.col("total_chars") < 3 * F.col("n_words"))
            | (F.col("total_chars") > 8 * F.col("n_words"))
        ).cast("int")
        + (F.col("n_top") * 8 > F.col("n_words")).cast("int")
        + (F.col("n_stop") < 1).cast("int")
    )
    docs = feats.select(
        (F.col("n_words") / DCOR_TOK_BUCKET).cast("bigint").alias("xv"),
        violations.cast("bigint").alias("yv"),
    )
    return _dcor_from_grid(docs)
