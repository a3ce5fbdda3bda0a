"""Distribution-drift tests on the one-histogram-walk kernel: KS,
Cramer-von Mises, Anderson-Darling, Kuiper, Watson U-squared (and its
circadian deployment), Wasserstein, energy distance, PSI, chi-squared,
JS divergence, Hellinger/TV, Benford, and QQ deciles.

Every test reduces the corpus to a per-value histogram (map-side
combined groupBy over DISTINCT VALUES, not rows) and walks it with one
cumulative window -- state is value-cardinality-sized, independent of
corpus size, which is what makes the family viable at 100 TB.  Split
from quality.py in r09; semantics unchanged.

Kernels (``quality_kernel``): the src0-vs-rest gates (KS, Kuiper,
Watson, CvM, PSI, and the circadian click-vs-purchase split) build
their histogram and totals with ``_ref_vs_rest_hist`` and walk it with
``_ecdf`` or ``_midrank_walk``; the per-source gates (Anderson-Darling,
Hellinger/TV, Wasserstein, energy distance) read
``_ref_vs_source_walk``.  The oracles build the same CTEs from the
shared ``_POOLED_HIST_CTE`` / ``_REF_VS_SOURCE_CTE`` text.  Don't
hand-write another src0-vs-rest histogram here: tests/
test_quality_drift.py counts them.
"""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_processing_spark.operators.word_kernel import _word_counts
from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import table


from kafka_stream_processing_spark.operators.quality_kernel import (  # noqa: E501
    CHI2_CRIT_005,
    _CHI2_CRIT_SQL,
    _POOLED_HIST_CTE,
    _REF_VS_SOURCE_CTE,
    _REF_VS_SOURCE_WALK_CTE,
    _chi2_crit_005,
    _ecdf,
    _midrank_walk,
    _ref_vs_rest_hist,
    _ref_vs_source_walk,
)

#: Kolmogorov-Smirnov critical coefficient at alpha = 0.05.
KS_C005 = 1.358


@register(
    "quality_ks_drift_nchars",
    oracle=f"""
    {_POOLED_HIST_CTE}
    cum AS (
        SELECT v,
               SUM(ca_i) OVER (ORDER BY v) AS ca,
               SUM(cb_i) OVER (ORDER BY v) AS cb
        FROM hist
    ),
    tot AS (
        SELECT SUM(is_a) AS na, SUM(is_b) AS nb FROM rows_t
    )
    SELECT CAST(tot.na AS BIGINT) AS na,
           CAST(tot.nb AS BIGINT) AS nb,
           CAST(count(*) AS BIGINT) AS n_values,
           max(abs(CAST(cum.ca AS DOUBLE) / tot.na
                   - CAST(cum.cb AS DOUBLE) / tot.nb)) AS ks_d,
           {KS_C005} * sqrt((CAST(tot.na AS DOUBLE) + tot.nb)
                            / (CAST(tot.na AS DOUBLE) * tot.nb))
               AS critical_005,
           max(abs(CAST(cum.ca AS DOUBLE) / tot.na
                   - CAST(cum.cb AS DOUBLE) / tot.nb))
             > {KS_C005} * sqrt((CAST(tot.na AS DOUBLE) + tot.nb)
                                / (CAST(tot.na AS DOUBLE) * tot.nb))
               AS drift
    FROM cum, tot
    GROUP BY tot.na, tot.nb
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_ks_drift_nchars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test — distribution
    monitoring as a query: D = max |ECDF_A − ECDF_B| between the src0
    slice and the rest of the corpus over document length, against the
    α=0.05 critical value 1.358·√((n_a+n_b)/(n_a·n_b)).  This is the
    statistical complement to quality_snapshot_diff's row-level
    reconciliation: a backfill can leave every row hash intact while a
    NEW ingest source silently shifts the length distribution — exactly
    the change a KS gate on each arriving batch catches before the
    corpus drifts.  Exactness: ECDFs are double divisions of exact
    cumulative integers, max is order-free, and IEEE sqrt is correctly
    rounded — every output bit matches cross-engine with zero
    quantization needed.

    Scale: the per-value histogram is ONE groupBy (map-side combined to
    distinct-values rows); the cumulative window runs over the
    VALUE-DISTINCT histogram, not raw rows — for a discrete or binned
    column that is thousands of rows regardless of corpus size (bin
    continuous columns first, the standard KS-on-big-data move)."""
    cum = _ecdf(_ref_vs_rest_hist(table(spark, sf_dir, "documents")))
    diff = F.abs(
        F.col("ca").cast("double") / F.col("na")
        - F.col("cb").cast("double") / F.col("nb")
    )
    crit = F.lit(KS_C005) * F.sqrt(
        (F.col("na").cast("double") + F.col("nb"))
        / (F.col("na").cast("double") * F.col("nb"))
    )
    return cum.groupBy("na", "nb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        F.max(diff).alias("ks_d"),
        F.any_value(crit).alias("critical_005"),
        (F.max(diff) > F.any_value(crit)).alias("drift"),
    ).select(
        F.col("na").cast("bigint").alias("na"),
        F.col("nb").cast("bigint").alias("nb"),
        "n_values",
        "ks_d",
        "critical_005",
        "drift",
    )


@register(
    "quality_chi2_categorical_drift",
    oracle=f"""
    WITH rows_t AS (
        SELECT lang AS cat,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_a
        FROM documents
    ),
    cells AS (
        SELECT cat,
               SUM(is_a) AS oa,
               SUM(1 - is_a) AS ob
        FROM rows_t GROUP BY cat
    ),
    tot AS (
        SELECT SUM(oa) AS na, SUM(ob) AS nb, count(*) AS k FROM cells
    ),
    terms AS (
        SELECT c.cat,
               CAST(c.oa AS DOUBLE) AS oa, CAST(c.ob AS DOUBLE) AS ob,
               (CAST(c.oa + c.ob AS DOUBLE) * t.na) / (t.na + t.nb) AS ea,
               (CAST(c.oa + c.ob AS DOUBLE) * t.nb) / (t.na + t.nb) AS eb
        FROM cells c, tot t
    ),
    stat AS (
        SELECT SUM(CAST((oa - ea) * (oa - ea) / ea
                        + (ob - eb) * (ob - eb) / eb
                        AS DECIMAL(18,12))) AS chi2,
               count(*) - 1 AS dof
        FROM terms
    )
    SELECT CAST(dof AS INT) AS dof,
           CAST(chi2 AS DOUBLE) AS chi2,
           {_CHI2_CRIT_SQL} AS critical_005,
           CAST(chi2 AS DOUBLE) > {_CHI2_CRIT_SQL} AS drift
    FROM stat
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_chi2_categorical_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chi-squared homogeneity test — the CATEGORICAL drift gate pairing
    the KS test's continuous one: does the language distribution of the
    src0 slice match the rest of the corpus?  χ² = Σ (O−E)²/E over the
    2×k contingency table with expected counts from pooled marginals,
    compared to the α=0.05 critical value for k−1 degrees of freedom
    (a literal table through dof=30, a deterministic Wilson-Hilferty
    cube beyond it — the incomplete-gamma p-value is libm-dependent,
    the decision threshold is not, and the gate never returns a NULL
    verdict however many categories arrive).  Per-cell terms are
    quantized to
    DECIMAL(18,12) before the sum so the statistic is order-independent
    and bit-identical cross-engine.

    Scale: one groupBy(category) with map-side combine → a k-row cell
    table; everything after runs on k rows.  This is the gate for
    source/language/format mix shift — the drifts a KS on a single
    numeric column cannot see."""
    d = table(spark, sf_dir, "documents")
    # when/otherwise, not a cast: a NULL source counts with the rest, as
    # in the oracle's CASE WHEN (a cast would drop it from both sides).
    is_a = F.when(F.col("source") == "src0", 1).otherwise(0)
    cells = d.select(F.col("lang").alias("cat"), is_a.alias("is_a")).groupBy(
        "cat"
    ).agg(
        F.sum("is_a").alias("oa"),
        F.sum(1 - F.col("is_a")).alias("ob"),
    )
    tot = cells.agg(
        F.sum("oa").alias("na"),
        F.sum("ob").alias("nb"),
        F.count(F.lit(1)).alias("k"),
    )
    t = cells.crossJoin(F.broadcast(tot))
    ea = ((F.col("oa") + F.col("ob")).cast("double") * F.col("na")) / (
        F.col("na") + F.col("nb")
    )
    eb = ((F.col("oa") + F.col("ob")).cast("double") * F.col("nb")) / (
        F.col("na") + F.col("nb")
    )
    oa = F.col("oa").cast("double")
    ob = F.col("ob").cast("double")
    term = (
        (oa - ea) * (oa - ea) / ea + (ob - eb) * (ob - eb) / eb
    ).cast("decimal(18,12)")
    stat = t.agg(
        F.sum(term).alias("chi2"),
        (F.count(F.lit(1)) - 1).alias("dof"),
    )
    crit = _chi2_crit_005(F.col("dof"))
    return stat.select(
        F.col("dof").cast("int").alias("dof"),
        F.col("chi2").cast("double").alias("chi2"),
        crit.alias("critical_005"),
        (F.col("chi2").cast("double") > crit).alias("drift"),
    )


@register(
    "quality_js_divergence_sources",
    oracle="""
    WITH occ AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    cnt AS (
        SELECT source, w, count(*) AS c FROM occ GROUP BY 1, 2
    ),
    tot AS (
        SELECT source, SUM(c) AS n FROM cnt GROUP BY source
    ),
    p AS (
        SELECT cnt.source, cnt.w, CAST(cnt.c AS DOUBLE) / tot.n AS p
        FROM cnt JOIN tot USING (source)
    ),
    prs AS (
        SELECT a.source AS sa, b.source AS sb
        FROM tot a, tot b WHERE a.source < b.source
    ),
    vocab AS (SELECT DISTINCT w FROM cnt),
    grid AS (
        SELECT prs.sa, prs.sb, v.w,
               coalesce(pa.p, 0) AS pa, coalesce(pb.p, 0) AS pb
        FROM prs
        CROSS JOIN vocab v
        LEFT JOIN p pa ON pa.source = prs.sa AND pa.w = v.w
        LEFT JOIN p pb ON pb.source = prs.sb AND pb.w = v.w
    ),
    terms AS (
        SELECT sa, sb,
               CASE WHEN pa > 0
                    THEN CAST(round(pa * ln(pa / ((pa + pb) / 2)), 6)
                         AS DECIMAL(18,6))
                    ELSE CAST(0 AS DECIMAL(18,6)) END AS ta,
               CASE WHEN pb > 0
                    THEN CAST(round(pb * ln(pb / ((pa + pb) / 2)), 6)
                         AS DECIMAL(18,6))
                    ELSE CAST(0 AS DECIMAL(18,6)) END AS tb
        FROM grid
    )
    SELECT sa AS source_a, sb AS source_b,
           0.5 * (CAST(SUM(ta) AS DOUBLE) + CAST(SUM(tb) AS DOUBLE))
               AS js_divergence
    FROM terms
    GROUP BY 1, 2
    """,
    tags=("quality", "statistics", "mixture"),
)
def quality_js_divergence_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source-domain word
    distributions — the information-theoretic domain-similarity matrix
    mixture design actually consults (DoReMi-style reweighting and
    dedup-across-sources both assume you know WHICH domains are
    near-duplicates in distribution; JS is the symmetric, bounded
    [0, ln 2] measure for that, vs chi2's same/different verdict).
    JS(P,Q) = ½·KL(P‖M) + ½·KL(Q‖M) with M the even mixture; each
    p·ln(p/m) term is round-6-quantized into DECIMAL(18,6) (the LM
    family's ln convention) so the per-pair sum is exact and
    order-free; zero-probability terms contribute exactly 0 by the KL
    convention.

    SPARSE plan (the oracle keeps the dense sources²·vocab grid as the
    independent formulation): a word contributes a non-trivial term
    only when BOTH sources carry it — an a-only word's term is exactly
    round(pa·ln 2, 6), because m = pa/2 and pa/(pa/2) is EXACTLY 2.0
    in IEEE (halving and the division are both exact).  So per pair,
    Σ ta = Σ_both round(pa·ln(pa/m), 6)
         + [Q(sa) − Σ_both round(pa·ln 2, 6)]
    with Q(s) = Σ_w round(p·ln 2, 6) a per-SOURCE decimal total —
    and DECIMAL sums are exact and associative, so the complement
    subtraction reproduces the dense grid's sum bit-for-bit.  One
    self-equi-join on word replaces crossJoin(broadcast(vocab)).

    Scale: one groupBy(source, word) builds every distribution in a
    single pass; the self-join on word emits ≤ sources² rows per word
    (sources are dozens, so stopword skew is bounded); NO vocabulary
    broadcast and NO dense grid — at 10⁷–10⁸ terms the dense grid was
    the scale-killer, the sparse intersection is Heaps-sublinear.
    This is what makes the docstring's "costs less than one corpus
    scan" claim actually true."""
    d = table(spark, sf_dir, "documents")
    cnt = _word_counts(d, "source")
    tot = cnt.groupBy("source").agg(F.sum("c").alias("n"))
    ln2 = F.log(F.lit(2.0))
    p = cnt.join(tot, "source").select(
        "source",
        "w",
        (F.col("c").cast("double") / F.col("n")).alias("p"),
    ).withColumn(
        # the word's term if the OTHER source lacks it: round(p*ln2, 6)
        "q", F.round(F.col("p") * ln2, 6).cast("decimal(18,6)")
    ).localCheckpoint(eager=True)
    # ^ three consumers (pa, pb, qtot) would each replay the corpus
    # explode+groupBy without this; the checkpoint pins "one corpus
    # scan" physically — p itself is vocab×sources (Heaps-sublinear).
    qtot = p.groupBy("source").agg(F.sum("q").alias("q_total"))
    pa = p.select(
        F.col("source").alias("sa"),
        "w",
        F.col("p").alias("pa"),
        F.col("q").alias("qa"),
    )
    pb = p.select(
        F.col("source").alias("sb"),
        "w",
        F.col("p").alias("pb"),
        F.col("q").alias("qb"),
    )
    m = (F.col("pa") + F.col("pb")) / 2
    term_a = F.round(F.col("pa") * F.log(F.col("pa") / m), 6).cast(
        "decimal(18,6)"
    )
    term_b = F.round(F.col("pb") * F.log(F.col("pb") / m), 6).cast(
        "decimal(18,6)"
    )
    inter = (
        pa.join(pb, "w")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(
            F.sum(term_a).alias("ta_both"),
            F.sum(term_b).alias("tb_both"),
            F.sum("qa").alias("qa_both"),
            F.sum("qb").alias("qb_both"),
        )
    )
    # every ordered pair, even ones with an EMPTY word intersection
    # (their JS is ½(Q(sa)+Q(sb)) — two fully disjoint distributions)
    prs = (
        qtot.select(
            F.col("source").alias("sa"), F.col("q_total").alias("qa_total")
        )
        .crossJoin(
            qtot.select(
                F.col("source").alias("sb"),
                F.col("q_total").alias("qb_total"),
            )
        )
        .filter(F.col("sa") < F.col("sb"))
    )
    zero = F.lit(0).cast("decimal(18,6)")
    sum_ta = F.coalesce("ta_both", zero) + (
        F.col("qa_total") - F.coalesce("qa_both", zero)
    )
    sum_tb = F.coalesce("tb_both", zero) + (
        F.col("qb_total") - F.coalesce("qb_both", zero)
    )
    return prs.join(inter, ["sa", "sb"], "left").select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        (
            F.lit(0.5) * (sum_ta.cast("double") + sum_tb.cast("double"))
        ).alias("js_divergence"),
    )


#: Benford first-significant-digit proportions log10(1 + 1/d), written
#: as exact double literals so both engines compute identical expected
#: counts.
BENFORD_P = (
    0.3010299956639812,
    0.17609125905568124,
    0.12493873660829992,
    0.09691001300805642,
    0.07918124604762482,
    0.06694678963061322,
    0.05799194697768673,
    0.05115252244738129,
    0.04575749056067514,
)


_BENFORD_P_SQL = "CASE " + " ".join(
    f"WHEN digit = {d + 1} THEN {p}" for d, p in enumerate(BENFORD_P)
) + " END"


@register(
    "quality_benford_digit_drift",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS digit
        FROM lineitem
        WHERE l_extendedprice >= 1
    ),
    hist AS (
        SELECT digit, count(*) AS n_obs FROM digits GROUP BY digit
    ),
    -- literal 9-digit frame: a digit absent from the data still
    -- contributes its full (0 - np)^2 / np expected-count term, and
    -- the chi-square is always the 9-category / dof=8 table
    -- (ADVICE r06)
    obs AS (
        SELECT g.digit, COALESCE(h.n_obs, 0) AS n_obs
        FROM (SELECT unnest(generate_series(1, 9)) AS digit) g
        LEFT JOIN hist h ON h.digit = g.digit
    ),
    tot AS (SELECT SUM(n_obs) AS n FROM obs),
    terms AS (
        SELECT o.digit, o.n_obs, t.n,
               {_BENFORD_P_SQL} AS p_benford,
               CAST((CAST(o.n_obs AS DOUBLE) - {_BENFORD_P_SQL} * t.n)
                    * (CAST(o.n_obs AS DOUBLE) - {_BENFORD_P_SQL} * t.n)
                    / ({_BENFORD_P_SQL} * t.n)
                    AS DECIMAL(18,12)) AS term
        FROM obs o, tot t
    ),
    stat AS (
        SELECT CAST(SUM(term) AS DOUBLE) AS chi2 FROM terms
    )
    SELECT t.digit,
           CAST(t.n_obs AS BIGINT) AS n_obs,
           t.p_benford,
           CAST(t.n_obs AS DOUBLE) / t.n AS p_obs,
           s.chi2,
           s.chi2 > {CHI2_CRIT_005[8]} AS drift
    FROM terms t, stat s
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_benford_digit_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benford's-law first-digit gate — the synthetic-data tripwire
    (naturally occurring multi-scale amounts follow
    P(d) = log10(1+1/d); uniform or fabricated generators don't, which
    is why auditors and data-quality teams chi-square against Benford):
    first significant digits come from the INTEGER part as a string
    (floor → BIGINT → substr — deterministic on both engines; no
    log10/pow on doubles, whose boundary behavior is libm-dependent),
    χ² against the literal Benford proportions with the dof=8 critical
    value from the shared CHI2_CRIT_005 table.  On TPC-H-style uniform
    prices the gate correctly FIRES (p_obs ≈ 1/9 per digit) — the
    tripwire pays for itself by flagging generated data, and the
    per-digit rows show exactly which digits deviate.

    Scale: one scan → 9-row digit histogram (map-side combined);
    everything after runs on 9 rows.  Pairs with Zipf/Heaps as the
    numeric-column member of the generated-content tripwire family."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice") >= 1
    )
    digit = F.substring(
        F.floor("l_extendedprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    hist = li.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    # Literal 9-digit frame (ADVICE r06): an absent digit still
    # contributes its (0 - np)^2 / np term and dof stays the
    # 9-category value, so the gate never understates drift.
    frame = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    obs = (
        frame.join(hist, "digit", "left")
        .select("digit", F.coalesce("n_obs", F.lit(0)).alias("n_obs"))
    )

    n = F.sum("n_obs").over(Window.partitionBy())
    p_benford = F.lit(None).cast("double")
    for d, p in enumerate(BENFORD_P):
        p_benford = F.when(F.col("digit") == d + 1, F.lit(p)).otherwise(
            p_benford
        )
    terms = obs.select(
        "digit",
        "n_obs",
        n.alias("n"),
        p_benford.alias("p_benford"),
    ).withColumn(
        "term",
        (
            (F.col("n_obs").cast("double") - F.col("p_benford") * F.col("n"))
            * (F.col("n_obs").cast("double") - F.col("p_benford") * F.col("n"))
            / (F.col("p_benford") * F.col("n"))
        ).cast("decimal(18,12)"),
    )
    chi2 = F.sum("term").over(Window.partitionBy()).cast("double")
    return terms.select(
        "digit",
        F.col("n_obs").cast("bigint").alias("n_obs"),
        "p_benford",
        (F.col("n_obs").cast("double") / F.col("n")).alias("p_obs"),
        chi2.alias("chi2"),
        (chi2 > F.lit(CHI2_CRIT_005[8])).alias("drift"),
    )


# ---------------------------------------------------------------------------
# Population Stability Index
# ---------------------------------------------------------------------------

#: Fixed-width character-count bucket used by the PSI gate (same width as
#: the k-anonymity audit's quasi-identifier bucket).
PSI_BUCKET_CHARS = 100


#: Laplace-style smoothing mass added per bucket so empty buckets stay
#: finite (the industry-standard PSI fix for zero cells).
PSI_SMOOTH = 0.5


#: The conventional "significant population shift" PSI threshold.
PSI_DRIFT_THRESHOLD = 0.2


@register(
    "quality_psi_drift",
    oracle=f"""
    WITH rows_t AS (
        SELECT n_chars // {PSI_BUCKET_CHARS} AS bucket,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_a,
               CASE WHEN source = 'src0' THEN 0 ELSE 1 END AS is_b
        FROM documents
    ),
    hist AS (
        SELECT bucket, SUM(is_a) AS ca, SUM(is_b) AS cb
        FROM rows_t GROUP BY bucket
    ),
    tot AS (
        SELECT SUM(ca) AS na, SUM(cb) AS nb, COUNT(*) AS k FROM hist
    ),
    terms AS (
        SELECT h.bucket, h.ca, h.cb,
               (CAST(h.ca AS DOUBLE) + {PSI_SMOOTH})
                   / (CAST(t.na AS DOUBLE) + {PSI_SMOOTH} * t.k) AS p_ref,
               (CAST(h.cb AS DOUBLE) + {PSI_SMOOTH})
                   / (CAST(t.nb AS DOUBLE) + {PSI_SMOOTH} * t.k) AS p_cur
        FROM hist h, tot t
    ),
    terms2 AS (
        SELECT *,
               CAST(round((p_ref - p_cur) * ln(p_ref / p_cur), 6)
                    AS DECIMAL(18,6)) AS term
        FROM terms
    ),
    s AS (SELECT CAST(SUM(term) AS DOUBLE) AS psi FROM terms2)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(ca AS BIGINT) AS n_ref,
           CAST(cb AS BIGINT) AS n_cur,
           p_ref,
           p_cur,
           CAST(term AS DOUBLE) AS psi_term,
           s.psi AS psi,
           s.psi > {PSI_DRIFT_THRESHOLD} AS drift
    FROM terms2, s
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index over fixed-width n_chars buckets,
    reference slice source='src0' vs the rest — the scorecard-world
    drift gate that complements KS (which compares CDFs; PSI compares
    binned masses and is the number risk teams actually monitor):
    PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) with 0.5-per-bucket Laplace
    smoothing so a bucket present on one side only contributes a
    finite term instead of ±∞.  Both proportions are exact-integer
    ratios; each per-bucket term is one double multiply + one libm ln
    rounded to 6 decimals then summed as exact decimals (the engine's
    iterative-float rule), so the gate is bit-stable cross-engine.
    Fires at PSI > 0.2 (the conventional "significant shift" bar;
    0.1-0.2 is "monitor").

    Scale: one corpus scan → bucket histogram with map-side combine
    (state = n_buckets ≈ max(n_chars)/100 rows); everything after runs
    on the histogram.  Pairs with quality_ks_drift_nchars (same split,
    rank-based) and quality_chi2_categorical_drift (categorical) as
    the binned-mass member of the drift-gate family."""
    hist = _ref_vs_rest_hist(
        table(spark, sf_dir, "documents"),
        F.expr(f"n_chars div {PSI_BUCKET_CHARS}"),
    )
    w = Window.partitionBy()
    t = hist.select("*", F.count(F.lit(1)).over(w).alias("k"))
    p_ref = (F.col("ca_i").cast("double") + F.lit(PSI_SMOOTH)) / (
        F.col("na").cast("double") + F.lit(PSI_SMOOTH) * F.col("k")
    )
    p_cur = (F.col("cb_i").cast("double") + F.lit(PSI_SMOOTH)) / (
        F.col("nb").cast("double") + F.lit(PSI_SMOOTH) * F.col("k")
    )
    terms = t.select(
        "v",
        "ca_i",
        "cb_i",
        p_ref.alias("p_ref"),
        p_cur.alias("p_cur"),
    ).withColumn(
        "term",
        F.round(
            (F.col("p_ref") - F.col("p_cur"))
            * F.log(F.col("p_ref") / F.col("p_cur")),
            6,
        ).cast("decimal(18,6)"),
    )
    psi = F.sum("term").over(w).cast("double")
    return terms.select(
        F.col("v").cast("bigint").alias("bucket"),
        F.col("ca_i").cast("bigint").alias("n_ref"),
        F.col("cb_i").cast("bigint").alias("n_cur"),
        "p_ref",
        "p_cur",
        F.col("term").cast("double").alias("psi_term"),
        psi.alias("psi"),
        (psi > F.lit(PSI_DRIFT_THRESHOLD)).alias("drift"),
    )


# ---------------------------------------------------------------------------
# Cramér-von Mises two-sample drift (rank form, exact integers)
# ---------------------------------------------------------------------------

#: Asymptotic 5% critical value of the two-sample CvM T statistic.
CVM_CRIT_005 = 0.461


@register(
    "quality_cvm_drift",
    oracle=f"""
    WITH rows_t AS (
        SELECT n_chars AS v,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_a,
               CASE WHEN source = 'src0' THEN 0 ELSE 1 END AS is_b
        FROM documents
    ),
    hist AS (
        SELECT v, SUM(is_a) AS ca, SUM(is_b) AS cb
        FROM rows_t GROUP BY v
    ),
    tot AS (SELECT SUM(is_a) AS na, SUM(is_b) AS nb FROM rows_t),
    cum AS (
        SELECT v, ca, cb,
               coalesce(SUM(ca + cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS lt_comb,
               coalesce(SUM(ca) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS lt_a,
               coalesce(SUM(cb) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS lt_b
        FROM hist
    ),
    terms AS (
        SELECT
            CASE WHEN ca > 0 THEN
                ca * (2 * lt_comb + ca + cb + 1 - 2 * lt_a)
                   * (2 * lt_comb + ca + cb + 1 - 2 * lt_a)
                - 4 * (2 * lt_comb + ca + cb + 1 - 2 * lt_a)
                    * (ca * (ca + 1) // 2)
                + 4 * (ca * (ca + 1) * (2 * ca + 1) // 6)
            ELSE 0 END AS qa,
            CASE WHEN cb > 0 THEN
                cb * (2 * lt_comb + ca + cb + 1 - 2 * lt_b)
                   * (2 * lt_comb + ca + cb + 1 - 2 * lt_b)
                - 4 * (2 * lt_comb + ca + cb + 1 - 2 * lt_b)
                    * (cb * (cb + 1) // 2)
                + 4 * (cb * (cb + 1) * (2 * cb + 1) // 6)
            ELSE 0 END AS qb
        FROM cum
    ),
    u4 AS (
        SELECT t.na, t.nb,
               t.na * SUM(qa) + t.nb * SUM(qb) AS u4
        FROM terms, tot t GROUP BY t.na, t.nb
    )
    SELECT CAST(na AS BIGINT) AS na,
           CAST(nb AS BIGINT) AS nb,
           CAST(u4 AS DOUBLE) AS u4,
           CAST(u4 AS DOUBLE)
               / (4.0 * CAST(na AS DOUBLE) * nb * (na + nb))
             - (4.0 * CAST(na AS DOUBLE) * nb - 1.0)
               / (6.0 * (na + nb)) AS t_stat,
           CAST(u4 AS DOUBLE)
               / (4.0 * CAST(na AS DOUBLE) * nb * (na + nb))
             - (4.0 * CAST(na AS DOUBLE) * nb - 1.0)
               / (6.0 * (na + nb)) > {CVM_CRIT_005} AS drift
    FROM u4
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_cvm_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises drift test on document length
    (src0 vs rest) — the INTEGRATED companion of the KS gate: KS reads
    only the single worst ECDF gap, CvM sums the squared gap over the
    whole distribution, so it catches the diffuse many-small-
    differences drift KS under-weights.  Anderson's rank form
    T = U/(n·m·(n+m)) − (4nm−1)/(6(n+m)) with
    U = n·Σ(r_i − i)² + m·Σ(s_j − j)² is computed EXACTLY: with
    doubled midranks (ties → 2r = 2·#less + #eq + 1, an integer) every
    per-value tie block contributes the closed form
    c·a₀² − 4a₀·Σk + 4·Σk² (a₀ = 2R − 2·base; Σk, Σk² the triangular
    and square-pyramidal numbers), so 4U is ONE exact integer and T a
    single double expression — no per-element rank sort, just the
    value-distinct histogram with three exclusive cumulative windows.
    Fires at T > {CVM_CRIT_005} (asymptotic 5% point).

    Scale: state is the value-distinct length histogram (the KS
    monitor's bounded-state argument); the per-value closed form makes
    cost O(distinct values), never O(corpus).  Beyond ~1e8 docs the
    integer 4U term needs DECIMAL(38,0) — documented swap, same
    shape."""
    # The value-distinct histogram (with its totals) is materialized
    # once (it is histogram-sized) so the walk and the totals share ONE
    # corpus scan — the plan pin test_cvm_terms_stay_histogram_sized
    # enforces it.
    hist = _ref_vs_rest_hist(table(spark, sf_dir, "documents"))
    cum = _midrank_walk(hist.localCheckpoint(eager=True))

    def tie_block(c, lt_own):
        a0 = F.col("r2") - F.lit(2) * F.col(lt_own)
        t1 = F.expr(f"{c} * ({c} + 1) div 2")
        t2 = F.expr(f"{c} * ({c} + 1) * (2 * {c} + 1) div 6")
        return F.when(
            F.col(c) > 0,
            F.col(c) * a0 * a0 - F.lit(4) * a0 * t1 + F.lit(4) * t2,
        ).otherwise(F.lit(0))

    terms = cum.select(
        "na",
        "nb",
        tie_block("ca_i", "lt_a").alias("qa"),
        tie_block("cb_i", "lt_b").alias("qb"),
    )
    u4 = (
        terms.groupBy("na", "nb")
        .agg(F.sum("qa").alias("sqa"), F.sum("qb").alias("sqb"))
        .select(
            "na",
            "nb",
            (
                F.col("na") * F.col("sqa") + F.col("nb") * F.col("sqb")
            ).alias("u4"),
        )
    )
    t_stat = F.col("u4").cast("double") / (
        F.lit(4.0)
        * F.col("na").cast("double")
        * F.col("nb")
        * (F.col("na") + F.col("nb"))
    ) - (
        F.lit(4.0) * F.col("na").cast("double") * F.col("nb")
        - F.lit(1.0)
    ) / (
        F.lit(6.0) * (F.col("na") + F.col("nb"))
    )
    return u4.select(
        F.col("na").cast("bigint").alias("na"),
        F.col("nb").cast("bigint").alias("nb"),
        F.col("u4").cast("double").alias("u4"),
        t_stat.alias("t_stat"),
        (t_stat > F.lit(CVM_CRIT_005)).alias("drift"),
    )


@register(
    "quality_qq_deciles_sources",
    oracle="""
    WITH refl AS (
        SELECT quantile_cont(n_chars,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS ps
        FROM documents WHERE source = 'src0'
    ),
    ref AS (
        SELECT t.i AS q, round(refl.ps[t.i], 6) AS rv
        FROM refl, unnest(generate_series(1, 9)) AS t(i)
    ),
    curl AS (
        SELECT source, quantile_cont(n_chars,
               [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS ps
        FROM documents WHERE source <> 'src0' GROUP BY source
    ),
    cur AS (
        SELECT source, t.i AS q, round(curl.ps[t.i], 6) AS cv
        FROM curl, unnest(generate_series(1, 9)) AS t(i)
    )
    SELECT cur.source,
           CAST(cur.q AS INT) AS q,
           ref.rv AS ref_value,
           cur.cv AS cur_value,
           round(cur.cv - ref.rv, 6) AS gap
    FROM cur JOIN ref ON ref.q = cur.q
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_qq_deciles_sources(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """QQ diagnostic: deciles (q10..q90) of document length for every
    non-reference source plotted against the src0 reference deciles —
    the quantile-by-quantile view that LOCALIZES drift the scalar
    gates only detect (a KS/CvM alarm says "different"; the QQ gaps
    say "the upper tail is 40 chars longer").  Exact
    linear-interpolation quantiles on both engines (the
    quality_exact_percentiles convention — round(6) absorbs the
    interpolation's last ulp), one row per (source, decile) with the
    signed gap.

    Scale: exact per-group quantiles buffer each group (documented
    cost of exactness; sources are few) — unbounded group counts swap
    to approx_percentile, same table shape.  One scan for all sources
    via grouped aggregation; the 9-decile frame is a constant."""
    docs = table(spark, sf_dir, "documents")
    probs = "array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)"
    ref = (
        docs.filter(F.col("source") == "src0")
        .agg(F.expr(f"percentile(n_chars, {probs})").alias("ps"))
        .select(F.posexplode("ps").alias("qi", "rv0"))
        .select(
            (F.col("qi") + 1).cast("int").alias("q"),
            F.round(F.col("rv0"), 6).alias("rv"),
        )
    )
    cur = (
        docs.filter(F.col("source") != "src0")
        .groupBy("source")
        .agg(F.expr(f"percentile(n_chars, {probs})").alias("ps"))
        .select("source", F.posexplode("ps").alias("qi", "cv0"))
        .select(
            "source",
            (F.col("qi") + 1).cast("int").alias("q"),
            F.round(F.col("cv0"), 6).alias("cv"),
        )
    )
    return cur.join(F.broadcast(ref), "q").select(
        "source",
        F.col("q").cast("int").alias("q"),
        F.col("rv").alias("ref_value"),
        F.col("cv").alias("cur_value"),
        F.round(F.col("cv") - F.col("rv"), 6).alias("gap"),
    )


#: Asymptotic 5% upper-tail point of the two-sample Anderson-Darling
#: null distribution (Pettitt 1976, Table 1).  A literal, like the
#: KS/CvM gates, so both engines compare against the identical double.
AD2_CRIT_005 = 2.492


@register(
    "quality_anderson_darling_drift",
    oracle=f"""
    {_REF_VS_SOURCE_CTE}
    tot AS (SELECT s, SUM(a) AS na, SUM(b) AS nb FROM merged GROUP BY s),
    walked AS (
        SELECT m.s, m.a, m.b, t.na, t.nb, t.na + t.nb AS nn,
               m.a + m.b AS l,
               SUM(m.a) OVER (PARTITION BY m.s ORDER BY m.v
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS ca,
               SUM(m.a + m.b) OVER (PARTITION BY m.s ORDER BY m.v
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS cc
        FROM merged m JOIN tot t ON t.s = m.s
    ),
    terms AS (
        SELECT s, na, nb,
               round(CAST(l AS DOUBLE)
                     * (ca * nn - cc * na) * (ca * nn - cc * na)
                     / (CAST(cc AS DOUBLE) * (nn - cc)), 6) AS term
        FROM walked WHERE cc < nn
    ),
    agg AS (
        SELECT s, CAST(any_value(na) AS BIGINT) AS n_ref,
               CAST(any_value(nb) AS BIGINT) AS n_src,
               SUM(CAST(term AS DECIMAL(38,6))) AS num
        FROM terms GROUP BY s
    )
    SELECT s AS source, n_ref, n_src,
           CAST(num AS DOUBLE)
               / (CAST(n_ref AS DOUBLE) * n_src) AS a2,
           CAST(num AS DOUBLE)
               / (CAST(n_ref AS DOUBLE) * n_src) > {AD2_CRIT_005} AS drift
    FROM agg
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_anderson_darling_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample Anderson-Darling drift gate per source vs src0 — the
    tail-sensitive completion of the quadratic-EDF family: KS reads the
    single largest ECDF gap, CvM integrates the squared gap uniformly,
    and AD re-weights the same integral by 1/(H(1-H)) so discrepancies
    in the distribution TAILS (exactly where corpus length pathologies
    live — truncation, boilerplate floods) count most.  Pettitt's
    two-sample form A2 = (1/(na*nb)) * sum_i (MA_i*N - i*na)^2/(i*(N-i))
    evaluated over pooled DISTINCT values with tie weight l_j (each
    distinct value contributes its pooled multiplicity at the
    right-continuous ECDF step), gated at the asymptotic 5% point
    {AD2_CRIT_005}.

    Exactness: MA, C, l and the inner difference (CA*N - C*na) are
    exact BIGINTs off the shared ref-vs-source histogram
    (`_ref_vs_source_hist`); each value's term is ONE fixed IEEE
    double chain (l * diff * diff / (C * (N - C))) mirrored textually
    in the oracle, rounded to 6 decimals and summed as DECIMAL(38,6)
    so the sum is order-independent; the final /(na*nb) is one more
    mirrored division.

    Scale: identical bound to the KS/CvM/U gates — one groupBy to the
    per-(source, value) histogram with map-side combine, cumulative
    windows over distinct values per source, a per-source scalar
    aggregate out.  Nothing corpus-sized ever sorts or shuffles."""
    walked = _ref_vs_source_walk(spark, sf_dir).select(
        "s",
        "na",
        "nb",
        (F.col("na") + F.col("nb")).alias("nn"),
        (F.col("a") + F.col("b")).alias("l"),
        "ca",
        (F.col("ca") + F.col("cb")).alias("cc"),
    )
    diff = F.col("ca") * F.col("nn") - F.col("cc") * F.col("na")
    term = F.round(
        F.col("l").cast("double")
        * diff
        * diff
        / (F.col("cc").cast("double") * (F.col("nn") - F.col("cc"))),
        6,
    )
    agg = (
        walked.filter(F.col("cc") < F.col("nn"))
        .select("s", "na", "nb", term.alias("term"))
        .groupBy("s")
        .agg(
            F.any_value("na").cast("bigint").alias("n_ref"),
            F.any_value("nb").cast("bigint").alias("n_src"),
            F.sum(F.col("term").cast("decimal(38,6)")).alias("num"),
        )
    )
    a2 = F.col("num").cast("double") / (
        F.col("n_ref").cast("double") * F.col("n_src")
    )
    return agg.select(
        F.col("s").alias("source"),
        "n_ref",
        "n_src",
        a2.alias("a2"),
        (a2 > F.lit(AD2_CRIT_005)).alias("drift"),
    )


@register(
    "quality_hellinger_tv_drift",
    oracle=f"""
    {_REF_VS_SOURCE_CTE}
    tot AS (SELECT s, SUM(a) AS na, SUM(b) AS nb FROM merged GROUP BY s),
    terms AS (
        SELECT m.s, t.na, t.nb,
               round(sqrt((CAST(m.a AS DOUBLE) / t.na)
                          * (CAST(m.b AS DOUBLE) / t.nb)), 6) AS bc_term,
               round(abs(CAST(m.a AS DOUBLE) / t.na
                         - CAST(m.b AS DOUBLE) / t.nb), 6) AS tv_term
        FROM merged m JOIN tot t ON t.s = m.s
    ),
    agg AS (
        SELECT s, CAST(any_value(na) AS BIGINT) AS n_ref,
               CAST(any_value(nb) AS BIGINT) AS n_src,
               SUM(CAST(bc_term AS DECIMAL(38,6))) AS bc,
               SUM(CAST(tv_term AS DECIMAL(38,6))) AS tv2
        FROM terms GROUP BY s
    )
    SELECT s AS source, n_ref, n_src,
           CAST(bc AS DOUBLE) AS bhattacharyya,
           sqrt(greatest(0.0, 1.0 - CAST(bc AS DOUBLE))) AS hellinger,
           CAST(tv2 AS DOUBLE) / 2.0 AS tv_distance
    FROM agg
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_hellinger_tv_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hellinger distance + total-variation distance per source vs
    src0 over the document-length histogram — the bounded METRIC
    companions of the hypothesis-test gates: KS/CvM/AD answer "is this
    shift statistically real?", these answer "how FAR apart are the
    distributions on a [0,1] scale that doesn't grow with sample
    size", which is what a pipeline dashboard trends over time.
    Bhattacharyya coefficient BC = sum_v sqrt(p_v*q_v), Hellinger
    H = sqrt(1-BC), TV = (1/2) sum_v |p_v - q_v| (the largest possible
    probability disagreement over any event).

    Exactness: p and q are single double divisions off exact BIGINT
    histogram counts; sqrt and abs are IEEE correctly-rounded, so each
    term is deterministic; terms are rounded to 6 decimals and summed
    as DECIMAL(38,6) (order-independent); `greatest(0, 1-BC)` guards
    the one place accumulated upward rounding could push BC past 1 on
    identical distributions before the final sqrt.

    Scale: the shared ref-vs-source histogram kernel — one map-side
    combined groupBy, histogram-sized algebra, a per-source scalar row
    out."""
    t = _ref_vs_source_walk(spark, sf_dir)
    p = F.col("a").cast("double") / F.col("na")
    q = F.col("b").cast("double") / F.col("nb")
    terms = t.select(
        "s",
        "na",
        "nb",
        F.round(F.sqrt(p * q), 6).alias("bc_term"),
        F.round(F.abs(p - q), 6).alias("tv_term"),
    )
    agg = terms.groupBy("s").agg(
        F.any_value("na").cast("bigint").alias("n_ref"),
        F.any_value("nb").cast("bigint").alias("n_src"),
        F.sum(F.col("bc_term").cast("decimal(38,6)")).alias("bc"),
        F.sum(F.col("tv_term").cast("decimal(38,6)")).alias("tv2"),
    )
    bc_d = F.col("bc").cast("double")
    return agg.select(
        F.col("s").alias("source"),
        "n_ref",
        "n_src",
        bc_d.alias("bhattacharyya"),
        F.sqrt(F.greatest(F.lit(0.0), F.lit(1.0) - bc_d)).alias(
            "hellinger"
        ),
        (F.col("tv2").cast("double") / F.lit(2.0)).alias("tv_distance"),
    )


@register(
    "quality_wasserstein_drift",
    oracle=f"""
    {_REF_VS_SOURCE_CTE}
    {_REF_VS_SOURCE_WALK_CTE}
    terms AS (
        SELECT s, na, nb,
               round(abs(CAST(ca AS DOUBLE) / na
                         - CAST(cb AS DOUBLE) / nb)
                     * (v_next - v), 6) AS term
        FROM walked WHERE v_next IS NOT NULL
    )
    SELECT s AS source,
           CAST(any_value(na) AS BIGINT) AS n_ref,
           CAST(any_value(nb) AS BIGINT) AS n_src,
           CAST(SUM(CAST(term AS DECIMAL(38,6))) AS DOUBLE)
               AS wasserstein_1
    FROM terms GROUP BY s
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_wasserstein_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """1-Wasserstein (earth-mover) distance per source vs src0 over
    document length — the HORIZONTAL drift metric the vertical family
    cannot express: TV/Hellinger/JS compare probability MASS per value
    and are blind to how FAR the mass moved (shifting every document
    by one character and by a thousand characters score identically);
    W1 = integral |F_a - F_b| dv is exactly the average number of
    characters each document must 'travel' to turn one distribution
    into the other, in the column's own units — the quantity a
    capacity planner or tokenizer-budget owner actually wants.

    Computed exactly from the shared ref-vs-source histogram: W1 =
    sum over consecutive distinct values of |ECDF gap| * value gap
    (the closed form of the integral for step ECDFs — no binning, no
    approximation).  ECDF ratios are single double divisions of exact
    BIGINT cumulatives; each term rounds to 6 decimals into an
    order-independent DECIMAL(38,6) sum.

    Scale: the KS/CvM/AD kernel cost exactly — histogram groupBys,
    cumulative + lead windows over distinct values per source, one
    scalar row out per source."""
    walked = _ref_vs_source_walk(spark, sf_dir)
    term = F.round(
        F.abs(
            F.col("ca").cast("double") / F.col("na")
            - F.col("cb").cast("double") / F.col("nb")
        )
        * (F.col("v_next") - F.col("v")),
        6,
    )
    return (
        walked.filter(F.col("v_next").isNotNull())
        .select("s", "na", "nb", term.alias("term"))
        .groupBy("s")
        .agg(
            F.any_value("na").cast("bigint").alias("n_ref"),
            F.any_value("nb").cast("bigint").alias("n_src"),
            F.sum(F.col("term").cast("decimal(38,6)"))
            .cast("double")
            .alias("wasserstein_1"),
        )
        .select(
            F.col("s").alias("source"),
            "n_ref",
            "n_src",
            "wasserstein_1",
        )
    )


@register(
    "quality_energy_distance_drift",
    oracle=f"""
    {_REF_VS_SOURCE_CTE}
    {_REF_VS_SOURCE_WALK_CTE}
    terms AS (
        SELECT s, na, nb,
               round(CAST(v_next - v AS DOUBLE)
                     * (ca * (nb - cb) + cb * (na - ca))
                     / (CAST(na AS DOUBLE) * nb), 6) AS e_xy,
               round(CAST(v_next - v AS DOUBLE)
                     * (2.0 * ca * (na - ca))
                     / (CAST(na AS DOUBLE) * na), 6) AS e_xx,
               round(CAST(v_next - v AS DOUBLE)
                     * (2.0 * cb * (nb - cb))
                     / (CAST(nb AS DOUBLE) * nb), 6) AS e_yy
        FROM walked WHERE v_next IS NOT NULL
    ),
    agg AS (
        SELECT s, CAST(any_value(na) AS BIGINT) AS n_ref,
               CAST(any_value(nb) AS BIGINT) AS n_src,
               CAST(SUM(CAST(e_xy AS DECIMAL(38,6))) AS DOUBLE) AS exy,
               CAST(SUM(CAST(e_xx AS DECIMAL(38,6))) AS DOUBLE) AS exx,
               CAST(SUM(CAST(e_yy AS DECIMAL(38,6))) AS DOUBLE) AS eyy
        FROM terms GROUP BY s
    )
    SELECT s AS source, n_ref, n_src,
           exy AS e_cross, exx AS e_within_ref, eyy AS e_within_src,
           2.0 * exy - exx - eyy AS energy_distance
    FROM agg
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_energy_distance_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Energy distance per source vs src0 — the two-sample metric
    that is zero IFF the distributions are IDENTICAL (Székely-Rizzo):
    E = 2*E|X-Y| - E|X-X'| - E|Y-Y'|.  KS/CvM/AD read ECDF gaps, W1
    reads transport cost; energy distance is the member with a
    characteristic-function guarantee (it powers the energy
    two-sample test and distance correlation), and its three
    components are diagnostic on their own: e_cross vs the two
    within-sample mean absolute differences says whether the gap is
    location (cross up, withins flat) or dispersion (withins moved).

    The O(n^2) pair expectations collapse to O(distinct values): for
    sorted values, sum|x-y| = sum over consecutive gaps g_j of g_j *
    (#pairs straddling the gap) — CA*(nb-CB) + CB*(na-CA) for the
    cross term, 2*CA*(na-CA) within — all exact BIGINT counts from
    the SAME cumulative walk as the W1 op (one more column on one
    shared window pass at 100 TB).

    Exactness: integer straddle counts x integer gaps, one double
    division per term, round-6 DECIMAL(38,6) sums, mirrored final
    chain.

    Scale: the KS/W1 kernel class — histogram groupBys + per-source
    distinct-value windows, scalar rows out."""
    walked = _ref_vs_source_walk(spark, sf_dir)
    gap = (F.col("v_next") - F.col("v")).cast("double")
    e_xy = F.round(
        gap
        * (
            F.col("ca") * (F.col("nb") - F.col("cb"))
            + F.col("cb") * (F.col("na") - F.col("ca"))
        )
        / (F.col("na").cast("double") * F.col("nb")),
        6,
    )
    e_xx = F.round(
        gap
        * (F.lit(2.0) * F.col("ca") * (F.col("na") - F.col("ca")))
        / (F.col("na").cast("double") * F.col("na")),
        6,
    )
    e_yy = F.round(
        gap
        * (F.lit(2.0) * F.col("cb") * (F.col("nb") - F.col("cb")))
        / (F.col("nb").cast("double") * F.col("nb")),
        6,
    )
    agg = (
        walked.filter(F.col("v_next").isNotNull())
        .select(
            "s",
            "na",
            "nb",
            e_xy.alias("e_xy"),
            e_xx.alias("e_xx"),
            e_yy.alias("e_yy"),
        )
        .groupBy("s")
        .agg(
            F.any_value("na").cast("bigint").alias("n_ref"),
            F.any_value("nb").cast("bigint").alias("n_src"),
            F.sum(F.col("e_xy").cast("decimal(38,6)"))
            .cast("double")
            .alias("exy"),
            F.sum(F.col("e_xx").cast("decimal(38,6)"))
            .cast("double")
            .alias("exx"),
            F.sum(F.col("e_yy").cast("decimal(38,6)"))
            .cast("double")
            .alias("eyy"),
        )
    )
    return agg.select(
        F.col("s").alias("source"),
        "n_ref",
        "n_src",
        F.col("exy").alias("e_cross"),
        F.col("exx").alias("e_within_ref"),
        F.col("eyy").alias("e_within_src"),
        (
            F.lit(2.0) * F.col("exy") - F.col("exx") - F.col("eyy")
        ).alias("energy_distance"),
    )


# ---------------------------------------------------------------------------
# Kuiper two-sample drift (cyclic-sensitive KS variant) — exact
# integer gap maxima on the shared histogram walk
# ---------------------------------------------------------------------------

#: Asymptotic 5% critical constant of the two-sample Kuiper V statistic
#: (V* = V·sqrt(na·nb/(na+nb)); published one/two-sample asymptotic
#: table value — asymptotic, like the KS 1.358 gate above).
KUIPER_C005 = 1.747


@register(
    "quality_kuiper_drift",
    oracle=f"""
    {_POOLED_HIST_CTE}
    cum AS (
        SELECT v,
               SUM(ca_i) OVER (ORDER BY v) AS ca,
               SUM(cb_i) OVER (ORDER BY v) AS cb
        FROM hist
    ),
    tot AS (SELECT SUM(is_a) AS na, SUM(is_b) AS nb FROM rows_t),
    gaps AS (
        SELECT CAST(greatest(0, max(cum.ca * tot.nb - cum.cb * tot.na))
                    AS BIGINT) AS dplus_num,
               CAST(greatest(0, max(cum.cb * tot.na - cum.ca * tot.nb))
                    AS BIGINT) AS dminus_num,
               CAST(count(*) AS BIGINT) AS n_values,
               CAST(tot.na AS BIGINT) AS na,
               CAST(tot.nb AS BIGINT) AS nb
        FROM cum, tot GROUP BY tot.na, tot.nb
    )
    SELECT na, nb, n_values, dplus_num, dminus_num,
           CAST(dplus_num + dminus_num AS DOUBLE)
               / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS kuiper_v,
           {KUIPER_C005} * sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))
               AS critical_005,
           CAST(dplus_num + dminus_num AS DOUBLE)
               / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
             > {KUIPER_C005} * sqrt((CAST(na AS DOUBLE)
                    + CAST(nb AS DOUBLE))
                / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS drift
    FROM gaps
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_kuiper_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kuiper drift test — V = D⁺ + D⁻, the sum of the
    largest ECDF gap in EACH direction, where KS takes only the larger
    of the two.  The practical payoffs: (a) equal sensitivity in both
    tails (KS is center-weighted — a source that simultaneously gains
    short and loses long documents can cancel in D but not in V), and
    (b) invariance under cyclic shifts of the support, making this the
    correct gate for circular metrics (hour-of-day, day-of-week
    ingestion mix) where KS's origin-dependence is a bug.  Same
    src0-vs-rest split over document length as quality_ks_drift_nchars,
    so the two verdicts are directly comparable.

    Exactness: both directed gaps are carried as EXACT INTEGER maxima
    of ca·nb − cb·na on the cumulative histogram (0-floored — the sup
    of an ECDF difference is ≥ 0 since the gap vanishes at ±∞); the
    only IEEE steps are the final division and the asymptotic critical
    line (1.747 literal, same convention as the KS/AD gates).

    Scale: identical to the KS kernel — one map-side-combined groupBy
    to the value-distinct histogram, one cumulative window over
    DISTINCT VALUES (bin continuous columns first), scalar output."""
    cum = _ecdf(_ref_vs_rest_hist(table(spark, sf_dir, "documents")))
    gplus = F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")
    gaps = cum.groupBy("na", "nb").agg(
        F.greatest(F.lit(0), F.max(gplus))
        .cast("bigint")
        .alias("dplus_num"),
        F.greatest(F.lit(0), F.max(-gplus))
        .cast("bigint")
        .alias("dminus_num"),
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
    )
    v_stat = (
        (F.col("dplus_num") + F.col("dminus_num")).cast("double")
        / (F.col("na").cast("double") * F.col("nb").cast("double"))
    )
    crit = F.lit(KUIPER_C005) * F.sqrt(
        (F.col("na").cast("double") + F.col("nb").cast("double"))
        / (F.col("na").cast("double") * F.col("nb").cast("double"))
    )
    return gaps.select(
        F.col("na").cast("bigint").alias("na"),
        F.col("nb").cast("bigint").alias("nb"),
        "n_values",
        "dplus_num",
        "dminus_num",
        v_stat.alias("kuiper_v"),
        crit.alias("critical_005"),
        (v_stat > crit).alias("drift"),
    )


# ---------------------------------------------------------------------------
# Watson U² two-sample drift (cyclic CvM variant) — exact integer
# mean-centered gap sums on the shared histogram walk
# ---------------------------------------------------------------------------

#: Asymptotic 5% critical value of Watson's U² statistic (published
#: table value of the limiting distribution — asymptotic, like the KS
#: 1.358 / CvM 0.461 / Kuiper 1.747 gates).
WATSON_U2_CRIT_005 = 0.187


@register(
    "quality_watson_u2_drift",
    oracle=f"""
    {_POOLED_HIST_CTE}
    cum AS (
        SELECT v, ca_i + cb_i AS m,
               SUM(ca_i) OVER (ORDER BY v) AS ca,
               SUM(cb_i) OVER (ORDER BY v) AS cb
        FROM hist
    ),
    tot AS (SELECT SUM(is_a) AS na, SUM(is_b) AS nb FROM rows_t),
    sums AS (
        SELECT CAST(SUM(m * (ca * tot.nb - cb * tot.na)) AS BIGINT)
                   AS s1,
               CAST(SUM(m * (ca * tot.nb - cb * tot.na)
                          * (ca * tot.nb - cb * tot.na)) AS BIGINT)
                   AS s2,
               CAST(count(*) AS BIGINT) AS n_values,
               CAST(tot.na AS BIGINT) AS na,
               CAST(tot.nb AS BIGINT) AS nb
        FROM cum, tot GROUP BY tot.na, tot.nb
    ),
    parts AS (
        SELECT na, nb, n_values,
               CAST((na + nb) * s2 - s1 * s1 AS BIGINT) AS u2_num
        FROM sums
    )
    SELECT na, nb, n_values, u2_num,
           CAST(u2_num AS DOUBLE)
               / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                  * CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE)
                  * CAST(na + nb AS DOUBLE)) AS watson_u2,
           CAST(u2_num AS DOUBLE)
               / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                  * CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE)
                  * CAST(na + nb AS DOUBLE))
             > {WATSON_U2_CRIT_005} AS drift
    FROM parts
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_watson_u2_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watson's U² two-sample drift test — the MEAN-CENTERED CvM:
    U² = (na·nb/N²)·Σᵢ(dᵢ − d̄)² over the N combined observations,
    dᵢ = F_A(xᵢ) − F_B(xᵢ).  Subtracting the mean gap makes U²
    invariant under CYCLIC rotations of the support — the CvM-class
    companion of quality_kuiper_drift (sup-metric) and the correct
    quadratic-EDF gate for circular metrics (hour-of-day, day-of-week
    mix), while on the line it behaves like CvM with equalized tail
    sensitivity.  Same src0-vs-rest split over document length as the
    KS/CvM/AD/Kuiper family, so all five verdicts line up on one
    dashboard row.

    Exactness: with gᵥ = ca·nb − cb·na and multiplicity mᵥ on the
    distinct-value walk, U²·na·nb·N³ = N·Σmg² − (Σmg)² — carried as
    ONE exact BIGINT (u2_num); the only IEEE steps are the final
    division and the asymptotic 0.187 critical line.  The replay test
    pins the rotation-invariance theorem itself: cyclically shifting
    the binned support leaves u2_num unchanged.

    Scale: the KS kernel verbatim — one map-side-combined histogram
    groupBy, one cumulative window over DISTINCT VALUES (bin
    continuous columns first), scalar output."""
    cum = _ecdf(_ref_vs_rest_hist(table(spark, sf_dir, "documents")))
    m = F.col("ca_i") + F.col("cb_i")
    g = F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")
    sums = cum.groupBy("na", "nb").agg(
        F.sum(m * g).cast("bigint").alias("s1"),
        F.sum(m * g * g).cast("bigint").alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
    )
    n_comb = F.col("na") + F.col("nb")
    u2_num = (n_comb * F.col("s2") - F.col("s1") * F.col("s1")).cast(
        "bigint"
    )
    parts = sums.select(
        F.col("na").cast("bigint").alias("na"),
        F.col("nb").cast("bigint").alias("nb"),
        "n_values",
        u2_num.alias("u2_num"),
    )
    denom = (
        F.col("na").cast("double")
        * F.col("nb").cast("double")
        * (F.col("na") + F.col("nb")).cast("double")
        * (F.col("na") + F.col("nb")).cast("double")
        * (F.col("na") + F.col("nb")).cast("double")
    )
    u2 = F.col("u2_num").cast("double") / denom
    return parts.select(
        "na",
        "nb",
        "n_values",
        "u2_num",
        u2.alias("watson_u2"),
        (u2 > F.lit(WATSON_U2_CRIT_005)).alias("drift"),
    )


@register(
    "quality_circadian_drift_clicks_purchases",
    oracle=f"""
    WITH rows_t AS (
        SELECT CAST(hour(ts) AS BIGINT) AS v,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_b
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    hist AS (
        SELECT v, SUM(is_a) AS ca_i, SUM(is_b) AS cb_i
        FROM rows_t GROUP BY v
    ),
    cum AS (
        SELECT v, ca_i + cb_i AS m,
               SUM(ca_i) OVER (ORDER BY v) AS ca,
               SUM(cb_i) OVER (ORDER BY v) AS cb
        FROM hist
    ),
    tot AS (SELECT SUM(is_a) AS na, SUM(is_b) AS nb FROM rows_t),
    sums AS (
        SELECT CAST(SUM(m * (ca * tot.nb - cb * tot.na)) AS BIGINT)
                   AS s1,
               CAST(SUM(m * (ca * tot.nb - cb * tot.na)
                          * (ca * tot.nb - cb * tot.na)) AS BIGINT)
                   AS s2,
               CAST(greatest(0, max(ca * tot.nb - cb * tot.na))
                    AS BIGINT) AS dplus_num,
               CAST(greatest(0, max(cb * tot.na - ca * tot.nb))
                    AS BIGINT) AS dminus_num,
               CAST(count(*) AS BIGINT) AS n_hours_present,
               CAST(tot.na AS BIGINT) AS na,
               CAST(tot.nb AS BIGINT) AS nb
        FROM cum, tot GROUP BY tot.na, tot.nb
    )
    SELECT na, nb, n_hours_present,
           CAST((na + nb) * s2 - s1 * s1 AS BIGINT) AS u2_num,
           dplus_num, dminus_num,
           CAST((na + nb) * s2 - s1 * s1 AS DOUBLE)
               / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                  * CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE)
                  * CAST(na + nb AS DOUBLE)) AS watson_u2,
           CAST(dplus_num + dminus_num AS DOUBLE)
               / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) AS kuiper_v,
           CAST((na + nb) * s2 - s1 * s1 AS DOUBLE)
               / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                  * CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE)
                  * CAST(na + nb AS DOUBLE))
             > {WATSON_U2_CRIT_005} AS circadian_drift
    FROM sums
    """,
    tags=("quality", "drift", "statistics", "circular"),
)
def quality_circadian_drift_clicks_purchases(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Circadian-mix drift: do PURCHASES follow the same hour-of-day
    profile as CLICKS?  Hour-of-day is a genuinely CIRCULAR variable —
    23:00 and 00:00 are neighbors — so the linear KS/CvM gates are
    origin-dependent there (their verdict would change if the day
    'started' at a different hour), and this op deploys BOTH
    rotation-invariant statistics on the shared 24-point walk: Watson's
    U² (quadratic, the verdict gate at the asymptotic 0.187 line) and
    Kuiper's V (sup-form, reported alongside).  A click→purchase
    funnel whose conversions lag into different hours shows up here
    before it shows up in volume; the test pins that both numbers are
    invariant to rotating the 24-hour dial, which is the entire point.

    Exactness: identical integer carriers as the parent ops —
    u2_num = N·Σmg² − (Σmg)² and the two 0-floored directed gap
    maxima, all BIGINT on the hour histogram; IEEE only in the two
    final divisions and the critical line.

    Scale: ONE scan with the hour() projection pushed to it, one
    map-side-combined 24-row histogram, one 24-row window — the
    cheapest drift gate in the registry; state and output are
    O(24) forever."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    cum = _ecdf(
        _ref_vs_rest_hist(
            ev, F.hour("ts").cast("bigint"), F.col("event_type") == "click"
        )
    )
    m = F.col("ca_i") + F.col("cb_i")
    g = F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")
    sums = cum.groupBy("na", "nb").agg(
        F.sum(m * g).cast("bigint").alias("s1"),
        F.sum(m * g * g).cast("bigint").alias("s2"),
        F.greatest(F.lit(0), F.max(g)).cast("bigint").alias("dplus_num"),
        F.greatest(F.lit(0), F.max(-g))
        .cast("bigint")
        .alias("dminus_num"),
        F.count(F.lit(1)).cast("bigint").alias("n_hours_present"),
    )
    n_comb = (F.col("na") + F.col("nb")).cast("bigint")
    u2_num = (n_comb * F.col("s2") - F.col("s1") * F.col("s1")).cast(
        "bigint"
    )
    u2 = u2_num.cast("double") / (
        F.col("na").cast("double")
        * F.col("nb").cast("double")
        * n_comb.cast("double")
        * n_comb.cast("double")
        * n_comb.cast("double")
    )
    kv = (F.col("dplus_num") + F.col("dminus_num")).cast("double") / (
        F.col("na").cast("double") * F.col("nb").cast("double")
    )
    return sums.select(
        F.col("na").cast("bigint").alias("na"),
        F.col("nb").cast("bigint").alias("nb"),
        "n_hours_present",
        u2_num.alias("u2_num"),
        "dplus_num",
        "dminus_num",
        u2.alias("watson_u2"),
        kv.alias("kuiper_v"),
        (u2 > F.lit(WATSON_U2_CRIT_005)).alias("circadian_drift"),
    )

