"""Rank and group-comparison tests: Mann-Whitney (single and
FDR-batteries), Kruskal-Wallis, Friedman, Mood / Cucconi scale tests,
Cliff's delta, Hodges-Lehmann, runs test, Welch t / ANOVA variants,
Bartlett, Brown-Forsythe, Cochran-Armitage, two-proportion z, and
Jarque-Bera.

Midranks come from the same histogram walk as the EDF family (counts
per distinct value + one cumulative window); rank statistics stay
exact BIGINTs on doubled/quadrupled grids until ONE final IEEE step.
Split from quality.py in r09; semantics unchanged.

Kernels (``quality_kernel``): Cucconi, Mood and Ansari-Bradley walk
``_midrank_walk`` over the pooled ``_ref_vs_rest_hist``; Mann-Whitney
and its BH-FDR battery share the per-source U statistic and z of
``_mann_whitney_u``; Cliff's delta reads ``_ref_vs_source_hist``; the
Welch t, ANOVA F, Welch ANOVA and Bartlett gates start from
``_source_moments``.  Hodges-Lehmann's pair-difference cross join, the
k-sample grids (Kruskal-Wallis, Jonckheere, Kendall's W) and the
chi-squared cells stay per op: each is the only one of its shape.
"""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_processing_spark.operators.windowed import _events_daily
from kafka_stream_processing_spark.operators.word_kernel import words
from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import fanout, table


from kafka_stream_processing_spark.operators.quality_kernel import (  # noqa: E501
    CHI2_CRIT_005,
    KANON_BUCKET_CHARS,
    Z_CRIT_005,
    _CHI2_CRIT_SQL,
    _MIDRANK_WALK_CTE,
    _POOLED_HIST_CTE,
    _REF_VS_SOURCE_CTE,
    _chi2_crit_005,
    _mann_whitney_u,
    _midrank_walk,
    _ref_vs_rest_hist,
    _ref_vs_source_hist,
    _source_moments,
)

# ---------------------------------------------------------------------------
# Mann-Whitney U location-drift gate
# ---------------------------------------------------------------------------

#: Two-sided normal critical value at α = 0.05, written as an exact
#: double literal (the Φ⁻¹(0.975) convention of the z-approximation).
MWU_Z_CRIT_005 = 1.959963984540054


@register(
    "quality_mannwhitney_drift",
    oracle=f"""
    {_REF_VS_SOURCE_CTE}
    ranked AS (
        SELECT s, v, a, b, a + b AS m,
               COALESCE(SUM(a + b) OVER (
                   PARTITION BY s ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS sb
        FROM merged
    ),
    stats AS (
        SELECT s,
               SUM(a) AS na, SUM(b) AS nb,
               SUM(b * (2 * sb + m + 1)) AS r2,
               SUM(m * m * m - m) AS tie
        FROM ranked GROUP BY s
    ),
    scored AS (
        SELECT s, na, nb,
               r2 - nb * (nb + 1) AS u2,
               na * nb AS mu2,
               na + nb AS n,
               tie
        FROM stats
    )
    SELECT s AS source,
           CAST(na AS BIGINT) AS n_ref,
           CAST(nb AS BIGINT) AS n_src,
           CAST(u2 AS BIGINT) AS u2,
           (CAST(u2 AS DOUBLE) - CAST(mu2 AS DOUBLE))
               / (2.0 * sqrt((CAST(na AS DOUBLE) * nb / 12.0)
                             * ((n + 1.0)
                                - CAST(tie AS DOUBLE)
                                  / (CAST(n AS DOUBLE) * (n - 1.0)))))
               AS z,
           abs((CAST(u2 AS DOUBLE) - CAST(mu2 AS DOUBLE))
               / (2.0 * sqrt((CAST(na AS DOUBLE) * nb / 12.0)
                             * ((n + 1.0)
                                - CAST(tie AS DOUBLE)
                                  / (CAST(n AS DOUBLE) * (n - 1.0))))))
               > {MWU_Z_CRIT_005} AS drift
    FROM scored
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_mannwhitney_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mann-Whitney U location-drift gate — the nonparametric
    complement of the KS gate (KS sees SHAPE changes; rank-sum U sees
    location shifts with far more power when the change is a median
    drift, e.g. a source quietly switching to longer documents): each
    non-reference source's length distribution is rank-sum tested
    against src0 with EXACT midrank tie handling, computed entirely
    from the per-value count-of-counts histogram — doubled midranks
    (2·S_before + m + 1) keep every rank sum an INTEGER (the ×2 trick;
    U₂ = 2U is exact bigint), ties enter through the standard
    Σ(m³−m) variance correction, and the final z is one fixed IEEE
    chain over exact integers, mirrored textually in the oracle.

    Scale: one groupBy to the per-(source, value) histogram (map-side
    combined); the cumulative window runs over DISTINCT VALUES per
    source — histogram-sized, the same bound as the KS/chi²/Benford
    gates — and the verdict is a 1-row-per-source aggregate.  No
    corpus-scale sort: ranks come from cumulative counts, not
    row_number (the count-of-counts technique quality_key_skew_gini's
    histogram frontier uses)."""
    return _mann_whitney_u(spark, sf_dir).select(
        F.col("s").alias("source"),
        F.col("na").cast("bigint").alias("n_ref"),
        F.col("nb").cast("bigint").alias("n_src"),
        F.col("u2").cast("bigint").alias("u2"),
        "z",
        (F.abs(F.col("z")) > MWU_Z_CRIT_005).alias("drift"),
    )


# ---------------------------------------------------------------------------
# Brown-Forsythe variance-drift gate
# ---------------------------------------------------------------------------

@register(
    "quality_brown_forsythe_drift",
    oracle=f"""
    WITH x AS (SELECT source, doc_id, n_chars FROM documents),
    med AS (
        SELECT source, n_chars AS m FROM (
            SELECT source, n_chars,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY n_chars, doc_id) AS rn,
                   count(*) OVER (PARTITION BY source) AS n
            FROM x
        ) WHERE rn = (n + 1) // 2
    ),
    z AS (
        SELECT x.source, abs(x.n_chars - med.m) AS z
        FROM x JOIN med ON med.source = x.source
    ),
    grp AS (
        SELECT source, count(*) AS nj, SUM(z) AS sj,
               SUM(CAST(z AS BIGINT) * z) AS sj2
        FROM z GROUP BY source
    ),
    tot AS (
        SELECT count(*) AS k, SUM(nj) AS n, SUM(sj) AS s,
               SUM(sj2) AS sz2,
               SUM(CAST(sj AS DOUBLE) * sj / nj) AS sq
        FROM grp
    ),
    stat AS (
        SELECT k, n,
               (sq - CAST(s AS DOUBLE) * s / n) / (k - 1) AS msb,
               (CAST(sz2 AS DOUBLE) - sq) / (n - k) AS msw
        FROM tot
    ),
    scored AS (
        SELECT CAST(k AS BIGINT) AS k_groups,
               CAST(n AS BIGINT) AS n_total,
               msb / msw AS bf_f,
               k - 1 AS dof
        FROM stat
    )
    SELECT k_groups, n_total, bf_f,
           {_CHI2_CRIT_SQL} / dof AS critical_005,
           bf_f > {_CHI2_CRIT_SQL} / dof AS drift
    FROM scored
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_brown_forsythe_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brown-Forsythe variance-drift gate — the SPREAD member of the
    drift family (KS: shape, Mann-Whitney: location, chi²: category
    mix, Benford: digit law; this one fires when a source's length
    VARIANCE changes while its median holds — a template getting
    injected into otherwise-normal documents): one-way ANOVA on
    z_ij = |x_ij − median_j| with GROUP MEDIANS (the Brown-Forsythe
    robustification of Levene — medians are integers here, so every
    z is an integer and all sums are exact bigints), F = MSB/MSW as
    one textually-mirrored IEEE chain.  The α=0.05 threshold uses the
    dof₂→∞ form F ≈ χ²(k−1)/(k−1) via the shared literal-table +
    Wilson-Hilferty machinery — slightly anti-conservative at finite
    dof₂ (F(19, 480) ≈ 1.61 vs 1.587), documented rather than
    libm-dependent.

    Scale: per-source medians are PARTITIONED rank windows (the
    per-group analogue of the MAD gate's frontier; swap to
    percentile_approx per group at billions of rows — same statistic
    shape); everything after the |x−med| map is two levels of
    map-side-combined aggregation to a k-row then 1-row table."""
    d = table(spark, sf_dir, "documents").select(
        "source", "doc_id", "n_chars"
    )
    w_rank = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    w_n = Window.partitionBy("source")
    med = (
        d.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n", F.count(F.lit(1)).over(w_n))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("source", F.col("n_chars").alias("m"))
    )
    z = d.join(F.broadcast(med), "source").select(
        "source", F.abs(F.col("n_chars") - F.col("m")).alias("z")
    )
    grp = z.groupBy("source").agg(
        F.count(F.lit(1)).alias("nj"),
        F.sum("z").alias("sj"),
        F.sum(F.col("z").cast("bigint") * F.col("z")).alias("sj2"),
    )
    tot = grp.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("nj").alias("n"),
        F.sum("sj").alias("s"),
        F.sum("sj2").alias("sz2"),
        F.sum(
            F.col("sj").cast("double") * F.col("sj") / F.col("nj")
        ).alias("sq"),
    )
    msb = (
        F.col("sq") - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("k") - 1)
    msw = (F.col("sz2").cast("double") - F.col("sq")) / (
        F.col("n") - F.col("k")
    )
    stat = tot.select(
        F.col("k").cast("bigint").alias("k_groups"),
        F.col("n").cast("bigint").alias("n_total"),
        (msb / msw).alias("bf_f"),
        (F.col("k") - 1).alias("dof"),
    )
    crit_chi2 = _chi2_crit_005(F.col("dof"))
    crit = crit_chi2 / F.col("dof")
    return stat.select(
        "k_groups",
        "n_total",
        "bf_f",
        crit.alias("critical_005"),
        (F.col("bf_f") > crit).alias("drift"),
    )


@register(
    "quality_two_proportion_ztest",
    oracle=f"""
    WITH e AS (
        SELECT user_id % 2 AS variant,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
        FROM events
    ),
    agg AS (
        SELECT
            SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS n_a,
            SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS conv_a,
            SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS n_b,
            SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS conv_b
        FROM e
    ),
    p AS (
        SELECT *,
               CAST(conv_a AS DOUBLE) / n_a AS p_a,
               CAST(conv_b AS DOUBLE) / n_b AS p_b,
               CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS p_pool
        FROM agg
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(conv_a AS BIGINT) AS conv_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(conv_b AS BIGINT) AS conv_b,
           p_a, p_b,
           CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
                ELSE (p_a - p_b) / sqrt(p_pool * (1.0 - p_pool)
                                        * (1.0 / n_a + 1.0 / n_b))
           END AS z_stat,
           CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
                ELSE abs((p_a - p_b) / sqrt(p_pool * (1.0 - p_pool)
                                            * (1.0 / n_a + 1.0 / n_b)))
                     > {Z_CRIT_005}
           END AS significant_005
    FROM p
    """,
    tags=("quality", "statistics", "abtest"),
)
def quality_two_proportion_ztest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-proportion pooled z-test on purchase conversion, variants
    assigned by user_id parity — the A/B-experiment readout an
    analytics engine owes its users (the Mann-Whitney and
    Brown-Forsythe gates cover ordinal and variance shifts; this is
    the binary-outcome member): conversion counts are exact integer
    conditional sums from ONE scan, and every downstream step
    (p̂_a, p̂_b, pooled p̂, z = (p̂_a−p̂_b)/√(p̂(1−p̂)(1/n_a+1/n_b)))
    is IEEE-exact division/sqrt on those integers, written with
    identical operator structure on both engines, so the statistic is
    bit-identical cross-engine with no rounding discipline needed.
    Fires two-sided at |z| > 1.96.  user_id parity is the textbook
    deterministic hash-split (sample_hash_split generalizes it).

    Scale: one scan, four conditional-sum cells with map-side combine
    (constant state), then scalar arithmetic — the cheapest possible
    drift/test shape; valid at any SF because the z-test's n appears
    only inside the exact integer cells."""
    ev = table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("variant"),
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(0))
        .alias("conv"),
    )
    agg = ev.agg(
        F.sum(
            F.when(F.col("variant") == 0, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_a"),
        F.sum(
            F.when(F.col("variant") == 0, F.col("conv")).otherwise(
                F.lit(0)
            )
        ).alias("conv_a"),
        F.sum(
            F.when(F.col("variant") == 1, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_b"),
        F.sum(
            F.when(F.col("variant") == 1, F.col("conv")).otherwise(
                F.lit(0)
            )
        ).alias("conv_b"),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    p_pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    p = agg.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("conv_a").cast("bigint").alias("conv_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("conv_b").cast("bigint").alias("conv_b"),
        p_a.alias("p_a"),
        p_b.alias("p_b"),
        p_pool.alias("p_pool"),
    )
    z = (F.col("p_a") - F.col("p_b")) / F.sqrt(
        F.col("p_pool")
        * (F.lit(1.0) - F.col("p_pool"))
        * (
            F.lit(1.0) / F.col("n_a")
            + F.lit(1.0) / F.col("n_b")
        )
    )
    # An empty variant would otherwise emit inf/NULL division noise
    # dressed as a z-test; unreachable under user_id-parity assignment
    # on this data, but the guard keeps the contract honest for any
    # filtered deployment (HANDOFF r07 soft-spot).
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return p.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        "p_a",
        "p_b",
        F.when(both, z).alias("z_stat"),
        F.when(both, F.abs(z) > F.lit(Z_CRIT_005)).alias(
            "significant_005"
        ),
    )


@register(
    "quality_runs_test_daily",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               SUM(CAST(value AS DECIMAL(18,6))) AS x
        FROM events GROUP BY 1
    ),
    diffs AS (
        SELECT day,
               CASE WHEN x > lag(x) OVER (ORDER BY day) THEN 1
                    WHEN x < lag(x) OVER (ORDER BY day) THEN -1
               END AS s
        FROM daily
    ),
    signs AS (
        SELECT day, s,
               lag(s) OVER (ORDER BY day) AS prev
        FROM diffs WHERE s IS NOT NULL
    ),
    agg AS (
        SELECT SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS n1,
               SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS n2,
               1 + SUM(CASE WHEN prev IS NOT NULL AND s <> prev
                            THEN 1 ELSE 0 END) AS r
        FROM signs
    ),
    stat AS (
        SELECT n1, n2, r,
               1.0 + 2.0 * n1 * n2 / (n1 + n2) AS er,
               (2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2))
                   / ((CAST(n1 + n2 AS DOUBLE) * (n1 + n2))
                      * (n1 + n2 - 1)) AS vr
        FROM agg
    )
    SELECT CAST(n1 AS BIGINT) AS n_up,
           CAST(n2 AS BIGINT) AS n_down,
           CAST(r AS BIGINT) AS n_runs,
           er AS expected_runs,
           (r - er) / sqrt(vr) AS z_stat,
           abs((r - er) / sqrt(vr)) <= {Z_CRIT_005} AS random_005
    FROM stat
    """,
    tags=("quality", "statistics", "randomness"),
)
def quality_runs_test_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily revenue series' up/down
    moves — the randomness gate that catches AUTOCORRELATION the
    distribution tests can't see (a perfectly normal-looking series
    that always rises then always falls fails the runs count; the ACF
    op quantifies the structure, this one delivers the verdict): day
    signs from exact-decimal differences (ties dropped, the standard
    convention), runs counted as 1 + sign changes via one lag window
    over the filtered sign sequence, then z against the exact null
    moments E[R] = 1 + 2n₁n₂/n and the classical variance — all IEEE
    arithmetic on the three integers (n₁, n₂, R), bit-identical
    cross-engine, no rounding discipline.

    Scale: the series collapse is one map-side-combined groupBy(day);
    both lag windows run over the calendar-sized table.  At 100 TB
    per-key series partition the windows by key."""
    daily = _events_daily(spark, sf_dir)
    wd = Window.orderBy("day")
    diffs = daily.select(
        "day",
        F.when(F.col("x") > F.lag("x").over(wd), F.lit(1))
        .when(F.col("x") < F.lag("x").over(wd), F.lit(-1))
        .alias("s"),
    )
    signs = diffs.filter(F.col("s").isNotNull()).select(
        "day", "s", F.lag("s").over(wd).alias("prev")
    )
    agg = signs.agg(
        F.sum(
            F.when(F.col("s") == 1, F.lit(1)).otherwise(F.lit(0))
        ).alias("n1"),
        F.sum(
            F.when(F.col("s") == -1, F.lit(1)).otherwise(F.lit(0))
        ).alias("n2"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("s") != F.col("prev")),
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
        ).alias("r"),
    )
    er = F.lit(1.0) + F.lit(2.0) * F.col("n1") * F.col("n2") / (
        F.col("n1") + F.col("n2")
    )
    vr = (
        F.lit(2.0)
        * F.col("n1")
        * F.col("n2")
        * (
            F.lit(2.0) * F.col("n1") * F.col("n2")
            - F.col("n1")
            - F.col("n2")
        )
    ) / (
        (
            (F.col("n1") + F.col("n2")).cast("double")
            * (F.col("n1") + F.col("n2"))
        )
        * (F.col("n1") + F.col("n2") - 1)
    )
    stat = agg.select(
        F.col("n1").cast("bigint").alias("n_up"),
        F.col("n2").cast("bigint").alias("n_down"),
        F.col("r").cast("bigint").alias("n_runs"),
        er.alias("expected_runs"),
        ((F.col("r") - er) / F.sqrt(vr)).alias("z_stat"),
    )
    return stat.select(
        "n_up",
        "n_down",
        "n_runs",
        "expected_runs",
        "z_stat",
        (F.abs(F.col("z_stat")) <= F.lit(Z_CRIT_005)).alias(
            "random_005"
        ),
    )


@register(
    "quality_jarque_bera_nchars",
    oracle=f"""
    WITH s AS (
        SELECT count(*) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS sx,
               CAST(SUM(n_chars * n_chars) AS BIGINT) AS sxx,
               CAST(SUM(n_chars * n_chars * n_chars) AS BIGINT) AS sxxx,
               CAST(SUM(n_chars * n_chars * n_chars * n_chars)
                    AS BIGINT) AS sxxxx
        FROM documents
    ),
    m AS (
        SELECT n, sx, sxx, sxxx, sxxxx,
               CAST(sx AS DOUBLE) / n AS mu
        FROM s
    ),
    cm AS (
        SELECT n, mu,
               CAST(sxx AS DOUBLE) / n - mu * mu AS m2,
               CAST(sxxx AS DOUBLE) / n
                   - 3.0 * mu * (CAST(sxx AS DOUBLE) / n)
                   + 2.0 * mu * mu * mu AS m3,
               CAST(sxxxx AS DOUBLE) / n
                   - 4.0 * mu * (CAST(sxxx AS DOUBLE) / n)
                   + 6.0 * mu * mu * (CAST(sxx AS DOUBLE) / n)
                   - 3.0 * mu * mu * mu * mu AS m4
        FROM m
    ),
    sk AS (
        SELECT n, mu, m2,
               m3 / (m2 * sqrt(m2)) AS skewness,
               m4 / (m2 * m2) AS kurtosis
        FROM cm
    )
    SELECT CAST(n AS BIGINT) AS n,
           mu AS mean,
           skewness,
           kurtosis,
           CAST(n AS DOUBLE) / 6.0
               * (skewness * skewness
                  + (kurtosis - 3.0) * (kurtosis - 3.0) / 4.0) AS jb,
           CAST(n AS DOUBLE) / 6.0
               * (skewness * skewness
                  + (kurtosis - 3.0) * (kurtosis - 3.0) / 4.0)
               > {CHI2_CRIT_005[2]} AS non_normal
    FROM sk
    """,
    tags=("quality", "statistics", "drift"),
)
def quality_jarque_bera_nchars(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jarque-Bera normality gate on document length — the
    moment-based test that says WHETHER a Gaussian assumption is even
    admissible before anyone z-scores the column (the rolling-z and
    MAD ops assume rough symmetry; JB is the admission check): sample
    skewness and excess kurtosis derive from the four raw power sums —
    exact BIGINTs from ONE map-side-combined scan — via the standard
    central-moment expansions written with identical operator
    structure on both engines, so every IEEE step is bit-identical;
    JB = n/6·(S² + (K−3)²/4) against the χ²(2) critical value from
    the shared CHI2_CRIT_005 table.

    Scale: one scan, four integer cells.  The quartic power sum
    overflows BIGINT past ~10⁶ average-length docs per 2⁶³ — switch
    sxxxx to DECIMAL(38,0) there (same plan, still map-side
    combined)."""
    docs = table(spark, sf_dir, "documents")
    x = F.col("n_chars")
    s = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(x * x).cast("bigint").alias("sxx"),
        F.sum(x * x * x).cast("bigint").alias("sxxx"),
        F.sum(x * x * x * x).cast("bigint").alias("sxxxx"),
    )
    mu = F.col("sx").cast("double") / F.col("n")
    m = s.withColumn("mu", mu)
    m2 = F.col("sxx").cast("double") / F.col("n") - F.col("mu") * F.col(
        "mu"
    )
    m3 = (
        F.col("sxxx").cast("double") / F.col("n")
        - F.lit(3.0)
        * F.col("mu")
        * (F.col("sxx").cast("double") / F.col("n"))
        + F.lit(2.0) * F.col("mu") * F.col("mu") * F.col("mu")
    )
    m4 = (
        F.col("sxxxx").cast("double") / F.col("n")
        - F.lit(4.0)
        * F.col("mu")
        * (F.col("sxxx").cast("double") / F.col("n"))
        + F.lit(6.0)
        * F.col("mu")
        * F.col("mu")
        * (F.col("sxx").cast("double") / F.col("n"))
        - F.lit(3.0)
        * F.col("mu")
        * F.col("mu")
        * F.col("mu")
        * F.col("mu")
    )
    cm = m.withColumn("m2", m2).withColumn("m3", m3).withColumn(
        "m4", m4
    )
    sk = cm.withColumn(
        "skewness", F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))
    ).withColumn("kurtosis", F.col("m4") / (F.col("m2") * F.col("m2")))
    jb = (
        F.col("n").cast("double")
        / F.lit(6.0)
        * (
            F.col("skewness") * F.col("skewness")
            + (F.col("kurtosis") - F.lit(3.0))
            * (F.col("kurtosis") - F.lit(3.0))
            / F.lit(4.0)
        )
    )
    return sk.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("mu").alias("mean"),
        "skewness",
        "kurtosis",
        jb.alias("jb"),
        (jb > F.lit(CHI2_CRIT_005[2])).alias("non_normal"),
    )


@register(
    "quality_hodges_lehmann_shift",
    oracle="""
    WITH ha AS (
        SELECT n_chars AS v, count(*) AS ca
        FROM documents WHERE source = 'src0' GROUP BY 1
    ),
    hb AS (
        SELECT n_chars AS v, count(*) AS cb
        FROM documents WHERE source <> 'src0' GROUP BY 1
    ),
    tot AS (
        SELECT (SELECT SUM(ca) FROM ha) AS na,
               (SELECT SUM(cb) FROM hb) AS nb
    ),
    diffs AS (
        SELECT hb.v - ha.v AS d, SUM(ha.ca * hb.cb) AS w
        FROM ha, hb GROUP BY 1
    ),
    cum AS (
        SELECT d, SUM(w) OVER (ORDER BY d) AS cw FROM diffs
    ),
    ks AS (
        SELECT na, nb, na * nb AS wtot,
               (na * nb + 1) // 2 AS k1,
               (na * nb + 2) // 2 AS k2
        FROM tot
    ),
    v1 AS (SELECT min(d) AS d1 FROM cum, ks WHERE cw >= k1),
    v2 AS (SELECT min(d) AS d2 FROM cum, ks WHERE cw >= k2)
    SELECT CAST(ks.na AS BIGINT) AS na,
           CAST(ks.nb AS BIGINT) AS nb,
           CAST(ks.wtot AS BIGINT) AS n_pairs,
           (CAST(v1.d1 AS DOUBLE) + v2.d2) / 2.0 AS hl_shift
    FROM ks, v1, v2
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_hodges_lehmann_shift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hodges-Lehmann location-shift estimate between src0 and the
    rest of the corpus (document length): the median of ALL n_a·n_b
    pairwise differences — the robust EFFECT-SIZE companion to the
    Mann-Whitney gate (MW says whether the distributions differ; HL
    says by HOW MUCH, in the data's own units, immune to outliers).
    The quadratic pair set is never materialized per-document: both
    samples collapse to value-distinct histograms, each DISTINCT
    difference d carries weight ca·cb, and the weighted median reads
    off one cumulative window — the (W+1)//2 and (W+2)//2 order
    statistics averaged, all in exact integers until the final
    halving.

    Scale: cost is |V_a|·|V_b| distinct-value pairs (document lengths
    are domain-bounded), not n_a·n_b document pairs — the same
    histogram collapse that makes the KS/CvM family corpus-scale.
    The cumulative window runs over the difference-distinct table."""
    docs = table(spark, sf_dir, "documents")
    ha = (
        docs.filter(F.col("source") == "src0")
        .groupBy(F.col("n_chars").alias("va"))
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    hb = (
        docs.filter(F.col("source") != "src0")
        .groupBy(F.col("n_chars").alias("vb"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    diffs = (
        F.broadcast(ha)
        .crossJoin(hb)
        .groupBy((F.col("vb") - F.col("va")).alias("d"))
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("w"))
    )

    cum = diffs.select(
        "d",
        F.sum("w")
        .over(
            Window.orderBy("d").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        .alias("cw"),
    )
    tot = ha.agg(F.sum("ca").alias("na")).crossJoin(
        hb.agg(F.sum("cb").alias("nb"))
    )
    ks = tot.select(
        "na",
        "nb",
        (F.col("na") * F.col("nb")).alias("wtot"),
        F.expr("(na * nb + 1) div 2").alias("k1"),
        F.expr("(na * nb + 2) div 2").alias("k2"),
    )
    with_k = cum.crossJoin(F.broadcast(ks))
    v1 = with_k.filter(F.col("cw") >= F.col("k1")).agg(
        F.min("d").alias("d1")
    )
    v2 = with_k.filter(F.col("cw") >= F.col("k2")).agg(
        F.min("d").alias("d2")
    )
    return (
        ks.crossJoin(F.broadcast(v1))
        .crossJoin(F.broadcast(v2))
        .select(
            F.col("na").cast("bigint").alias("na"),
            F.col("nb").cast("bigint").alias("nb"),
            F.col("wtot").cast("bigint").alias("n_pairs"),
            (
                (F.col("d1").cast("double") + F.col("d2"))
                / F.lit(2.0)
            ).alias("hl_shift"),
        )
    )


#: Romano et al. magnitude thresholds for |Cliff's delta|.
CLIFFS_NEGLIGIBLE = 0.147


CLIFFS_SMALL = 0.33


CLIFFS_MEDIUM = 0.474


@register(
    "quality_cliffs_delta_effect",
    oracle=f"""
    {_REF_VS_SOURCE_CTE}
    walked AS (
        SELECT s, a, b,
               COALESCE(SUM(a) OVER (
                   PARTITION BY s ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS a_below,
               COALESCE(SUM(a) OVER (
                   PARTITION BY s ORDER BY v
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
               ), 0) AS a_above
        FROM merged
    ),
    agg AS (
        SELECT s,
               SUM(a) AS na, SUM(b) AS nb,
               SUM(b * a_below) AS n_gt,
               SUM(b * a_above) AS n_lt
        FROM walked GROUP BY s
    )
    SELECT s AS source,
           CAST(na AS BIGINT) AS n_ref,
           CAST(nb AS BIGINT) AS n_src,
           CAST(n_gt AS BIGINT) AS n_gt,
           CAST(n_lt AS BIGINT) AS n_lt,
           (CAST(n_gt AS DOUBLE) - CAST(n_lt AS DOUBLE))
               / (CAST(na AS DOUBLE) * nb) AS delta,
           CASE
               WHEN abs((CAST(n_gt AS DOUBLE) - CAST(n_lt AS DOUBLE))
                        / (CAST(na AS DOUBLE) * nb))
                    < {CLIFFS_NEGLIGIBLE} THEN 'negligible'
               WHEN abs((CAST(n_gt AS DOUBLE) - CAST(n_lt AS DOUBLE))
                        / (CAST(na AS DOUBLE) * nb))
                    < {CLIFFS_SMALL} THEN 'small'
               WHEN abs((CAST(n_gt AS DOUBLE) - CAST(n_lt AS DOUBLE))
                        / (CAST(na AS DOUBLE) * nb))
                    < {CLIFFS_MEDIUM} THEN 'medium'
               ELSE 'large'
           END AS magnitude
    FROM agg
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_cliffs_delta_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cliff's delta effect size per source vs src0 — the companion the
    Mann-Whitney gate needs at corpus scale: with millions of documents
    the U test flags ANY shift as significant, so the pipeline decision
    ("is this source's length distribution PRACTICALLY different?")
    needs a sample-size-free magnitude, delta = (#(x>y) - #(x<y)) /
    (n_a*n_b) in [-1, 1], labeled with the standard Romano thresholds.

    Counting dominant pairs never materializes the n_a*n_b pairs: from
    the shared ref-vs-source value histogram (`_ref_vs_source_hist` —
    the same kernel as the U test), two cumulative windows give, per
    distinct value, how many reference rows sit strictly below and
    strictly above; weighting by the source-side count `b` yields exact
    BIGINT pair counts, and delta is one double division.

    Scale: histogram-sized throughout — groupBy to per-(source, value)
    counts (map-side combined), windows over distinct values per
    source, a per-source scalar aggregate out.  Same bound as the
    KS/U/chi-squared gates."""
    merged = _ref_vs_source_hist(spark, sf_dir)
    w_below = (
        Window.partitionBy("s")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_above = (
        Window.partitionBy("s")
        .orderBy("v")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    walked = merged.select(
        "s",
        "a",
        "b",
        F.coalesce(F.sum("a").over(w_below), F.lit(0)).alias("a_below"),
        F.coalesce(F.sum("a").over(w_above), F.lit(0)).alias("a_above"),
    )
    agg = walked.groupBy("s").agg(
        F.sum("a").alias("na"),
        F.sum("b").alias("nb"),
        F.sum(F.col("b") * F.col("a_below")).alias("n_gt"),
        F.sum(F.col("b") * F.col("a_above")).alias("n_lt"),
    )
    delta = (
        F.col("n_gt").cast("double") - F.col("n_lt").cast("double")
    ) / (F.col("na").cast("double") * F.col("nb"))
    magnitude = (
        F.when(F.abs(delta) < CLIFFS_NEGLIGIBLE, F.lit("negligible"))
        .when(F.abs(delta) < CLIFFS_SMALL, F.lit("small"))
        .when(F.abs(delta) < CLIFFS_MEDIUM, F.lit("medium"))
        .otherwise(F.lit("large"))
    )
    return agg.select(
        F.col("s").alias("source"),
        F.col("na").cast("bigint").alias("n_ref"),
        F.col("nb").cast("bigint").alias("n_src"),
        F.col("n_gt").cast("bigint").alias("n_gt"),
        F.col("n_lt").cast("bigint").alias("n_lt"),
        delta.alias("delta"),
        magnitude.alias("magnitude"),
    )


@register(
    "quality_kruskal_wallis_drift",
    oracle=f"""
    WITH hist AS (
        SELECT source, n_chars AS v, count(*) AS c
        FROM documents GROUP BY 1, 2
    ),
    mv AS (SELECT v, SUM(c) AS m FROM hist GROUP BY v),
    cum AS (
        SELECT v, m,
               COALESCE(SUM(m) OVER (
                   ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS sb
        FROM mv
    ),
    per_src AS (
        SELECT h.source,
               SUM(h.c) AS n,
               SUM(h.c * (2 * cum.sb + cum.m + 1)) AS r2
        FROM hist h JOIN cum ON cum.v = h.v
        GROUP BY h.source
    ),
    tie AS (SELECT SUM(m * m * m - m) AS t FROM mv),
    tot AS (
        SELECT SUM(n) AS n,
               count(*) AS k,
               SUM(CAST(round(
                   CAST(r2 AS DOUBLE) * r2 / (4.0 * n), 6
               ) AS DECIMAL(38,6))) AS s
        FROM per_src
    ),
    stat AS (
        SELECT CAST(tot.k AS INT) AS k,
               CAST(tot.n AS BIGINT) AS n,
               12.0 * CAST(tot.s AS DOUBLE)
                   / (CAST(tot.n AS DOUBLE) * (tot.n + 1.0))
                   - 3.0 * (tot.n + 1.0) AS h,
               1.0 - CAST(tie.t AS DOUBLE)
                   / (CAST(tot.n AS DOUBLE) * tot.n * tot.n - tot.n)
                   AS tie_c,
               CAST(tot.k - 1 AS INT) AS dof
        FROM tot, tie
    )
    SELECT k, n, h,
           h / tie_c AS h_tie_corrected,
           dof,
           {{crit}} AS critical_005,
           h / tie_c > {{crit}} AS drift
    FROM stat
    """.replace("{crit}", _CHI2_CRIT_SQL),
    tags=("quality", "drift", "statistics"),
)
def quality_kruskal_wallis_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kruskal-Wallis K-sample rank test — the omnibus completion of
    the pairwise Mann-Whitney gate: does ANY of the k sources' length
    distribution sit at a different location, in one test, without k-1
    separate comparisons (and their multiplicity problem)?  H compares
    per-group rank sums against their pooled expectation; under H0 it
    is chi-squared with k-1 dof, so the verdict reuses the literal
    CHI2_CRIT_005 table (+ Wilson-Hilferty beyond dof 30) the
    chi-squared gate established.

    Exactness discipline: doubled midranks (2*below + m + 1) off the
    pooled count-of-counts histogram keep every per-group rank sum an
    exact BIGINT (no corpus sort, no float ranks); each group's
    R2^2/(4n_j) term is rounded to 6 decimals and summed as
    DECIMAL(38,6) so the k-term sum is order-independent; the final
    H chain is one fixed IEEE expression mirrored textually in the
    oracle, tie-corrected by the standard 1 - sum(m^3-m)/(N^3-N).

    Scale: one groupBy to the (source, value) histogram (map-side
    combined), one histogram-sized groupBy(v) for pooled counts, a
    cumulative window over DISTINCT VALUES only, then k-row algebra.
    The pooled-value window is single-partition but value-domain-sized
    (same bound as the KS/ROC-AUC gates), never corpus-sized."""
    hist = (
        table(spark, sf_dir, "documents")
        .groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    mv = hist.groupBy("v").agg(F.sum("c").alias("m"))
    w_prev = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = mv.select(
        "v",
        "m",
        F.coalesce(F.sum("m").over(w_prev), F.lit(0)).alias("sb"),
    )
    per_src = (
        hist.join(cum, "v")
        .groupBy("source")
        .agg(
            F.sum("c").alias("n"),
            F.sum(
                F.col("c")
                * (2 * F.col("sb") + F.col("m") + 1)
            ).alias("r2"),
        )
    )
    tie = mv.agg(
        F.sum(
            F.col("m") * F.col("m") * F.col("m") - F.col("m")
        ).alias("t")
    )
    tot = per_src.agg(
        F.sum("n").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.sum(
            F.round(
                F.col("r2").cast("double") * F.col("r2")
                / (F.lit(4.0) * F.col("n")),
                6,
            ).cast("decimal(38,6)")
        ).alias("s"),
    )
    st = tot.crossJoin(F.broadcast(tie))
    n_d = F.col("n").cast("double")
    h = (
        F.lit(12.0) * F.col("s").cast("double")
        / (n_d * (F.col("n") + F.lit(1.0)))
        - F.lit(3.0) * (F.col("n") + F.lit(1.0))
    )
    tie_c = F.lit(1.0) - F.col("t").cast("double") / (
        n_d * F.col("n") * F.col("n") - F.col("n")
    )
    stat = st.select(
        F.col("k").cast("int").alias("k"),
        F.col("n").cast("bigint").alias("n"),
        h.alias("h"),
        (h / tie_c).alias("h_tie_corrected"),
        (F.col("k") - 1).cast("int").alias("dof"),
    )
    crit = _chi2_crit_005(F.col("dof"))
    return stat.select(
        "k",
        "n",
        "h",
        "h_tie_corrected",
        "dof",
        crit.alias("critical_005"),
        (F.col("h_tie_corrected") > crit).alias("drift"),
    )


@register(
    "quality_welch_ttest_drift",
    oracle=f"""
    WITH moms AS (
        SELECT source,
               count(*) AS n,
               SUM(n_chars) AS s1,
               SUM(n_chars * n_chars) AS s2
        FROM documents GROUP BY source
    ),
    ref AS (SELECT n, s1, s2 FROM moms WHERE source = 'src0'),
    sides AS (
        SELECT m.source,
               ref.n AS na, m.n AS nb,
               CAST(ref.s1 AS DOUBLE) / ref.n AS ma,
               CAST(m.s1 AS DOUBLE) / m.n AS mb,
               (CAST(ref.s2 AS DOUBLE)
                   - CAST(ref.s1 AS DOUBLE) * ref.s1 / ref.n)
                   / (ref.n - 1.0) AS va,
               (CAST(m.s2 AS DOUBLE)
                   - CAST(m.s1 AS DOUBLE) * m.s1 / m.n)
                   / (m.n - 1.0) AS vb
        FROM moms m CROSS JOIN ref
        WHERE m.source <> 'src0'
    ),
    scored AS (
        SELECT source,
               CAST(na AS BIGINT) AS n_ref,
               CAST(nb AS BIGINT) AS n_src,
               ma AS mean_ref, mb AS mean_src,
               (mb - ma) / sqrt(va / na + vb / nb) AS t,
               (va / na + vb / nb) * (va / na + vb / nb)
                   / ((va / na) * (va / na) / (na - 1.0)
                      + (vb / nb) * (vb / nb) / (nb - 1.0)) AS dof_welch
        FROM sides
    )
    SELECT source, n_ref, n_src, mean_ref, mean_src, t, dof_welch,
           abs(t) > {MWU_Z_CRIT_005} AS drift
    FROM scored
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_welch_ttest_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Welch's unequal-variance t-test per source vs src0 — the
    parametric member of the location-drift trio (U test: rank-robust;
    Cliff's delta: magnitude; Welch: the classic mean comparison that
    does NOT assume equal variances, the failure mode of the pooled
    t-test when one source is much noisier than the reference).
    Welch-Satterthwaite approximates the dof; at corpus sample sizes
    the t is effectively normal, so the verdict uses the same z
    critical value as the U gate (documented large-sample reading).

    Exactness: n_chars is integral, so each side reduces to three
    exact BIGINT moments (n, sum, sum of squares) in ONE map-side
    combined groupBy; every downstream quantity is a fixed IEEE chain
    over those integers, mirrored textually in the oracle.

    Scale: one scan -> per-source moment rows (k rows), broadcast the
    1-row reference, k-row algebra out.  Nothing corpus-sized leaves
    the first aggregate."""
    moms = _source_moments(spark, sf_dir)
    ref = (
        moms.filter(F.col("source") == "src0")
        .select(
            F.col("n").alias("na_"),
            F.col("s").alias("ra1"),
            F.col("s2").alias("ra2"),
        )
    )
    sides = (
        moms.filter(F.col("source") != "src0")
        .crossJoin(F.broadcast(ref))
        .select(
            "source",
            F.col("na_").alias("na"),
            F.col("n").alias("nb"),
            (F.col("ra1").cast("double") / F.col("na_")).alias("ma"),
            (F.col("s").cast("double") / F.col("n")).alias("mb"),
            (
                (
                    F.col("ra2").cast("double")
                    - F.col("ra1").cast("double")
                    * F.col("ra1")
                    / F.col("na_")
                )
                / (F.col("na_") - F.lit(1.0))
            ).alias("va"),
            (
                (
                    F.col("s2").cast("double")
                    - F.col("s").cast("double") * F.col("s") / F.col("n")
                )
                / (F.col("n") - F.lit(1.0))
            ).alias("vb"),
        )
    )
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    t = (F.col("mb") - F.col("ma")) / F.sqrt(se2)
    dof_w = (se2 * se2) / (
        (F.col("va") / F.col("na"))
        * (F.col("va") / F.col("na"))
        / (F.col("na") - F.lit(1.0))
        + (F.col("vb") / F.col("nb"))
        * (F.col("vb") / F.col("nb"))
        / (F.col("nb") - F.lit(1.0))
    )
    return sides.select(
        "source",
        F.col("na").cast("bigint").alias("n_ref"),
        F.col("nb").cast("bigint").alias("n_src"),
        F.col("ma").alias("mean_ref"),
        F.col("mb").alias("mean_src"),
        t.alias("t"),
        dof_w.alias("dof_welch"),
        (F.abs(t) > MWU_Z_CRIT_005).alias("drift"),
    )


@register(
    "quality_friedman_daily_mix",
    oracle=f"""
    WITH counted AS (
        SELECT CAST(ts AS DATE) AS d, event_type AS t, count(*) AS c
        FROM events GROUP BY 1, 2
    ),
    days AS (SELECT DISTINCT d FROM counted),
    types AS (SELECT DISTINCT t FROM counted),
    grid AS (
        SELECT days.d, types.t, COALESCE(c.c, 0) AS c
        FROM days CROSS JOIN types
        LEFT JOIN counted c ON c.d = days.d AND c.t = types.t
    ),
    ranked AS (
        SELECT d, t, c,
               2 * (RANK() OVER (PARTITION BY d ORDER BY c) - 1)
               + COUNT(*) OVER (PARTITION BY d, c) + 1 AS r2
        FROM grid
    ),
    per_t AS (SELECT t, SUM(r2) AS r2sum FROM ranked GROUP BY t),
    consts AS (
        SELECT COUNT(DISTINCT d) AS b, COUNT(DISTINCT t) AS k,
               SUM(r2 * r2) AS a4
        FROM ranked
    ),
    stat AS (
        SELECT c.b, c.k,
               SUM((p.r2sum - c.b * (c.k + 1))
                   * (p.r2sum - c.b * (c.k + 1))) AS num,
               any_value(c.a4) - c.b * c.k * (c.k + 1) * (c.k + 1)
                   AS den
        FROM per_t p CROSS JOIN consts c
        GROUP BY c.b, c.k
    ),
    q AS (
        SELECT CAST(b AS BIGINT) AS n_blocks, CAST(k AS INT) AS k,
               (k - 1) * CAST(num AS DOUBLE) / NULLIF(den, 0) AS q_stat,
               CAST(k - 1 AS INT) AS dof
        FROM stat
    )
    SELECT n_blocks, k, q_stat, dof,
           {{crit}} AS critical_005,
           q_stat > {{crit}} AS drift
    FROM q
    """.replace("{crit}", _CHI2_CRIT_SQL),
    tags=("quality", "drift", "statistics"),
)
def quality_friedman_daily_mix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Friedman test on the daily event-type mix — the BLOCKED
    k-sample rank test the Kruskal-Wallis gate cannot replace: KW
    pools all rows and asks whether any group's location differs
    overall, while Friedman ranks the k event types WITHIN each day
    (each day is a block, removing day-to-day volume swings entirely)
    and asks whether the daily ordering of types is stable.  A type
    that quietly climbs the within-day ranking — even while total
    volume doubles — fires here and nowhere else.

    Statistic (tie-corrected, doubled-rank form): with r2 = 2*rank
    midranks (2*(rank-1) + #tied + 1, exact BIGINT per cell on the
    zero-filled day x type grid), Q = (k-1) * sum_j (R2_j - b(k+1))^2
    / (sum r2^2 - b*k*(k+1)^2).  Numerator and denominator are exact
    BIGINTs — the ONLY float operation is the final division — and
    under H0 Q is chi-squared with k-1 dof, so the verdict reuses the
    literal CHI2_CRIT_005 table + Wilson-Hilferty fallback.

    Scale: one groupBy(day, type) with map-side combine to a
    b*k-cell grid (days x types — calendar-sized, never event-sized),
    rank windows over k-row blocks, then k-row algebra."""
    counted = (
        table(spark, sf_dir, "events")
        .groupBy(
            F.col("ts").cast("date").alias("d"),
            F.col("event_type").alias("t"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    days = counted.select("d").distinct()
    types = counted.select("t").distinct()
    grid = (
        days.crossJoin(F.broadcast(types))
        .join(counted, ["d", "t"], "left")
        .select("d", "t", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
    )
    w_rank = Window.partitionBy("d").orderBy("c")
    w_eq = Window.partitionBy("d", "c")
    ranked = grid.select(
        "d",
        "t",
        (
            2 * (F.rank().over(w_rank) - 1)
            + F.count(F.lit(1)).over(w_eq)
            + 1
        ).alias("r2"),
    )
    per_t = ranked.groupBy("t").agg(F.sum("r2").alias("r2sum"))
    consts = ranked.agg(
        F.count_distinct(F.col("d")).alias("b"),
        F.count_distinct(F.col("t")).alias("k"),
        F.sum(F.col("r2") * F.col("r2")).alias("a4"),
    )
    joined = per_t.crossJoin(F.broadcast(consts))
    dev = F.col("r2sum") - F.col("b") * (F.col("k") + 1)
    stat = joined.groupBy("b", "k").agg(
        F.sum(dev * dev).alias("num"),
        (
            F.any_value("a4")
            - F.col("b") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1)
        ).alias("den"),
    )
    q_stat = (
        (F.col("k") - 1)
        * F.col("num").cast("double")
        / F.nullif(F.col("den"), F.lit(0))
    )
    q = stat.select(
        F.col("b").cast("bigint").alias("n_blocks"),
        F.col("k").cast("int").alias("k"),
        q_stat.alias("q_stat"),
        (F.col("k") - 1).cast("int").alias("dof"),
    )
    crit = _chi2_crit_005(F.col("dof"))
    return q.select(
        "n_blocks",
        "k",
        "q_stat",
        "dof",
        crit.alias("critical_005"),
        (F.col("q_stat") > crit).alias("drift"),
    )


@register(
    "quality_cochran_armitage_trend",
    oracle=f"""
    WITH rows_t AS (
        SELECT n_chars // {KANON_BUCKET_CHARS} AS w,
               CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    bins AS (
        SELECT w, count(*) AS n, SUM(y) AS r
        FROM rows_t GROUP BY w
    ),
    s AS (
        SELECT SUM(n) AS nn, SUM(r) AS rr, count(*) AS n_bins,
               SUM(w * r) AS a, SUM(w * n) AS b,
               SUM(w * w * n) AS c
        FROM bins
    ),
    stat AS (
        SELECT CAST(nn AS BIGINT) AS n,
               CAST(rr AS BIGINT) AS n_positive,
               CAST(n_bins AS BIGINT) AS n_bins,
               CAST(nn * a - rr * b AS BIGINT) AS t_prime,
               CAST(nn * a - rr * b AS DOUBLE)
                   / sqrt(CAST(rr * (nn - rr) AS DOUBLE)
                          * (nn * c - b * b) / nn) AS z
        FROM s
    )
    SELECT n, n_positive, n_bins, t_prime, z,
           abs(z) > {Z_CRIT_005} AS trend_005
    FROM stat
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_cochran_armitage_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran-Armitage trend test: does the proportion of English
    documents drift MONOTONICALLY across ordered length bins?  The
    chi-squared gate treats categories as unordered and needs a large
    scattered deviation to fire; Cochran-Armitage weights each bin by
    its ordinal score, so a steady composition SLOPE across document
    sizes — the classic symptom of one crawler feeding long docs from
    a different language mix — is detected with full power in one
    statistic.  Scores w = the bin index itself (n_chars div
    {KANON_BUCKET_CHARS}, the k-anonymity op's bucket convention).

    Statistic (integer-exact form): with per-bin (n_i, r_i) and
    A = sum w r, B = sum w n, C = sum w^2 n, the centered numerator
    T' = N*A - R*B is an exact BIGINT; Var(T') = R(N-R)(N*C - B^2)/N
    where N*C - B^2 is an exact BIGINT and the product/final divide
    are one mirrored IEEE chain; z = T'/sqrt(Var) is asymptotically
    standard normal (two-sided gate at the shared Z_CRIT literal).

    Scale: one map-side-combined groupBy to the length-bin table,
    then ONE aggregate of five integer moments — the chi-squared
    gate's cost class exactly."""
    rows_t = table(spark, sf_dir, "documents").select(
        F.expr(f"n_chars div {KANON_BUCKET_CHARS}").alias("w"),
        (F.col("lang") == "en").cast("bigint").alias("y"),
    )
    bins = rows_t.groupBy("w").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("r")
    )
    s = bins.agg(
        F.sum("n").alias("nn"),
        F.sum("r").alias("rr"),
        F.count(F.lit(1)).alias("n_bins"),
        F.sum(F.col("w") * F.col("r")).alias("a"),
        F.sum(F.col("w") * F.col("n")).alias("b"),
        F.sum(F.col("w") * F.col("w") * F.col("n")).alias("c"),
    )
    t_prime = F.col("nn") * F.col("a") - F.col("rr") * F.col("b")
    z = t_prime.cast("double") / F.sqrt(
        (F.col("rr") * (F.col("nn") - F.col("rr"))).cast("double")
        * (F.col("nn") * F.col("c") - F.col("b") * F.col("b"))
        / F.col("nn")
    )
    return s.select(
        F.col("nn").cast("bigint").alias("n"),
        F.col("rr").cast("bigint").alias("n_positive"),
        F.col("n_bins").cast("bigint").alias("n_bins"),
        t_prime.cast("bigint").alias("t_prime"),
        z.alias("z"),
        (F.abs(z) > F.lit(Z_CRIT_005)).alias("trend_005"),
    )


@register(
    "quality_anova_f_drift",
    oracle=f"""
    WITH g AS (
        SELECT source, count(*) AS n,
               SUM(n_chars) AS s, SUM(n_chars * n_chars) AS s2
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT SUM(n) AS nn, SUM(s) AS ss, SUM(s2) AS ss2,
               count(*) AS k,
               SUM(CAST(round(CAST(s AS DOUBLE) * s / n, 6)
                   AS DECIMAL(38,6))) AS sgs
        FROM g
    ),
    stat AS (
        SELECT CAST(nn AS BIGINT) AS n,
               CAST(k AS INT) AS k,
               CAST(sgs AS DOUBLE)
                   - CAST(ss AS DOUBLE) * ss / nn AS ssb,
               CAST(ss2 AS DOUBLE) - CAST(sgs AS DOUBLE) AS ssw,
               CAST(k - 1 AS INT) AS dof_between,
               CAST(nn - k AS BIGINT) AS dof_within
        FROM tot
    ),
    f AS (
        SELECT n, k, ssb, ssw, dof_between, dof_within,
               (ssb / dof_between) / (ssw / dof_within) AS f_stat
        FROM stat
    ),
    q AS (
        SELECT *, CAST(dof_between AS INT) AS dof,
               dof_between * f_stat AS chi2_approx
        FROM f
    )
    SELECT n, k, ssb, ssw, dof_between, dof_within, f_stat,
           chi2_approx,
           {{crit}} AS critical_005,
           chi2_approx > {{crit}} AS drift
    FROM q
    """.replace("{crit}", _CHI2_CRIT_SQL),
    tags=("quality", "drift", "statistics"),
)
def quality_anova_f_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One-way ANOVA F omnibus on document length across sources —
    the MEANS companion of the rank-based Kruskal-Wallis gate (KW
    detects any location shift distribution-free; F is the classical
    equal-means test whose between/within sum-of-squares decomposition
    also READS as 'how much of the length variance is explained by
    source' — eta^2 = SSB/(SSB+SSW) falls straight out of the output).
    Verdict via the large-N chi-squared limit (k-1)*F -> chi2_(k-1)
    (with dof_within in the hundreds of thousands the F and chi2
    critical points agree to three decimals), reusing the literal
    CHI2_CRIT_005 table + Wilson-Hilferty fallback — the same
    asymptotic convention as every other gate.

    Exactness: per-group (n, sum x, sum x^2) are exact BIGINTs
    (n_chars is integer); each group's S^2/n term rounds to 6
    decimals into a DECIMAL(38,6) sum (order-independent); SSB, SSW,
    and F are one mirrored IEEE chain.

    Scale: ONE map-side-combined groupBy(source) to a k-row moment
    table, then k-row algebra — the cheapest possible omnibus; the
    KW gate costs a value-histogram more."""
    g = _source_moments(spark, sf_dir)
    tot = g.agg(
        F.sum("n").alias("nn"),
        F.sum("s").alias("ss"),
        F.sum("s2").alias("ss2"),
        F.count(F.lit(1)).alias("k"),
        F.sum(
            F.round(
                F.col("s").cast("double") * F.col("s") / F.col("n"), 6
            ).cast("decimal(38,6)")
        ).alias("sgs"),
    )
    ssb = F.col("sgs").cast("double") - F.col("ss").cast(
        "double"
    ) * F.col("ss") / F.col("nn")
    ssw = F.col("ss2").cast("double") - F.col("sgs").cast("double")
    stat = tot.select(
        F.col("nn").cast("bigint").alias("n"),
        F.col("k").cast("int").alias("k"),
        ssb.alias("ssb"),
        ssw.alias("ssw"),
        (F.col("k") - 1).cast("int").alias("dof_between"),
        (F.col("nn") - F.col("k")).cast("bigint").alias("dof_within"),
    )
    f_stat = (F.col("ssb") / F.col("dof_between")) / (
        F.col("ssw") / F.col("dof_within")
    )
    q = stat.select(
        "*",
        f_stat.alias("f_stat"),
        F.col("dof_between").alias("dof"),
        (F.col("dof_between") * f_stat).alias("chi2_approx"),
    )
    crit = _chi2_crit_005(F.col("dof"))
    return q.select(
        "n",
        "k",
        "ssb",
        "ssw",
        "dof_between",
        "dof_within",
        "f_stat",
        "chi2_approx",
        crit.alias("critical_005"),
        (F.col("chi2_approx") > crit).alias("drift"),
    )


@register(
    "quality_welch_anova_drift",
    oracle=f"""
    WITH g AS (
        SELECT source, count(*) AS n,
               SUM(n_chars) AS s, SUM(n_chars * n_chars) AS s2
        FROM documents GROUP BY source HAVING count(*) >= 2
    ),
    w AS (
        SELECT source, n,
               CAST(s AS DOUBLE) / n AS xbar,
               CAST(n AS DOUBLE)
                   / ((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                      / (n - 1)) AS wj
        FROM g
    ),
    tot AS (
        SELECT count(*) AS k,
               CAST(SUM(n) AS BIGINT) AS n_total,
               CAST(SUM(CAST(round(wj, 12) AS DECIMAL(38,12)))
                    AS DOUBLE) AS wtot,
               CAST(SUM(CAST(round(wj * xbar, 12) AS DECIMAL(38,12)))
                    AS DOUBLE) AS m
        FROM w
    ),
    dev AS (
        SELECT t.k, t.n_total, t.wtot,
               CAST(SUM(CAST(round(
                   w.wj * (w.xbar - t.m / t.wtot)
                        * (w.xbar - t.m / t.wtot), 12)
               AS DECIMAL(38,12))) AS DOUBLE) AS num,
               CAST(SUM(CAST(round(
                   (1.0 - w.wj / t.wtot) * (1.0 - w.wj / t.wtot)
                       / (w.n - 1), 12)
               AS DECIMAL(38,12))) AS DOUBLE) AS lam
        FROM w CROSS JOIN tot t
        GROUP BY t.k, t.n_total, t.wtot
    ),
    stat AS (
        SELECT CAST(k AS INT) AS k, n_total,
               (num / (k - 1))
                   / (1.0 + (2.0 * (k - 2) / (CAST(k AS DOUBLE) * k - 1))
                            * lam) AS w_stat,
               CAST(k - 1 AS INT) AS dof
        FROM dev
    )
    SELECT k, n_total, w_stat, dof,
           (k - 1) * w_stat AS chi2_approx,
           {{crit}} AS critical_005,
           (k - 1) * w_stat > {{crit}} AS drift
    FROM stat
    """.replace("{crit}", _CHI2_CRIT_SQL),
    tags=("quality", "drift", "statistics"),
)
def quality_welch_anova_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Welch's heteroscedastic ANOVA on document length across
    sources — the omnibus the classical F test (quality_anova_f_drift)
    gets WRONG when group variances differ (its pooled SSW assumes
    homoscedasticity; with unequal n and unequal variance its size is
    badly off): Welch weights each group by w_j = n_j/s_j², centers at
    the weighted grand mean, and corrects the denominator by the
    Λ = Σ(1-w_j/W)²/(n_j-1) imbalance term (the k-sample extension of
    the registered pairwise Welch t).  Verdict via the same large-N
    (k-1)·W → chi²_(k-1) convention as the F gate, on the shared
    literal table.  Groups need n ≥ 2 (s² undefined below — mirrored
    HAVING).

    Exactness: per-group (n, Σx, Σx²) exact BIGINTs; x̄, s², w_j are
    fixed mirrored IEEE chains; the four cross-group sums (W, Σw x̄,
    numerator deviations, Λ) each quantize to round-12 DECIMAL(38,12)
    so they are order-independent.

    Scale: one map-side-combined groupBy(source) + k-row algebra with
    a broadcast totals row — the F gate's exact cost class."""
    g = _source_moments(spark, sf_dir).filter(F.col("n") >= 2)
    xbar = F.col("s").cast("double") / F.col("n")
    s2 = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    w = g.select(
        "source",
        "n",
        xbar.alias("xbar"),
        (F.col("n").cast("double") / s2).alias("wj"),
    )
    tot = w.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum(F.round(F.col("wj"), 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("wtot"),
        F.sum(
            F.round(F.col("wj") * F.col("xbar"), 12).cast(
                "decimal(38,12)"
            )
        )
        .cast("double")
        .alias("m"),
    )
    j = w.crossJoin(F.broadcast(tot))
    ctr = F.col("xbar") - F.col("m") / F.col("wtot")
    dev = j.groupBy("k", "n_total", "wtot").agg(
        F.sum(
            F.round(F.col("wj") * ctr * ctr, 12).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("num"),
        F.sum(
            F.round(
                (F.lit(1.0) - F.col("wj") / F.col("wtot"))
                * (F.lit(1.0) - F.col("wj") / F.col("wtot"))
                / (F.col("n") - 1),
                12,
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("lam"),
    )
    k_d = F.col("k").cast("double")
    w_stat = (F.col("num") / (F.col("k") - 1)) / (
        F.lit(1.0)
        + (F.lit(2.0) * (F.col("k") - 2) / (k_d * F.col("k") - 1))
        * F.col("lam")
    )
    stat = dev.select(
        F.col("k").cast("int").alias("k"),
        "n_total",
        w_stat.alias("w_stat"),
        (F.col("k") - 1).cast("int").alias("dof"),
    )
    crit = _chi2_crit_005(F.col("dof"))
    return stat.select(
        "k",
        "n_total",
        "w_stat",
        "dof",
        ((F.col("k") - 1) * F.col("w_stat")).alias("chi2_approx"),
        crit.alias("critical_005"),
        ((F.col("k") - 1) * F.col("w_stat") > crit).alias("drift"),
    )


@register(
    "quality_bartlett_homoscedasticity",
    oracle=f"""
    WITH g AS (
        SELECT source, count(*) AS n,
               SUM(n_chars) AS s, SUM(n_chars * n_chars) AS s2
        FROM documents GROUP BY source HAVING count(*) >= 2
    ),
    v AS (
        SELECT source, n,
               (CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n)
                   / (n - 1) AS var_j
        FROM g
    ),
    tot AS (
        SELECT count(*) AS k,
               CAST(SUM(n) AS BIGINT) AS n_total,
               CAST(SUM(CAST(round((n - 1) * var_j, 6)
                    AS DECIMAL(38,6))) AS DOUBLE) AS ssw,
               CAST(SUM(CAST(round((n - 1) * ln(var_j), 12)
                    AS DECIMAL(38,12))) AS DOUBLE) AS sum_ln,
               CAST(SUM(CAST(round(1.0 / (n - 1), 12)
                    AS DECIMAL(38,12))) AS DOUBLE) AS sum_inv
        FROM v
    ),
    stat AS (
        SELECT CAST(k AS INT) AS k, n_total,
               ((n_total - k)
                    * round(ln(ssw / (n_total - k)), 12)
                - sum_ln)
               / (1.0 + (sum_inv - 1.0 / (n_total - k))
                        / (3.0 * (k - 1))) AS k2,
               CAST(k - 1 AS INT) AS dof
        FROM tot
    )
    SELECT k, n_total, k2, dof,
           {{crit}} AS critical_005,
           k2 > {{crit}} AS heteroscedastic
    FROM stat
    """.replace("{crit}", _CHI2_CRIT_SQL),
    tags=("quality", "statistics"),
)
def quality_bartlett_homoscedasticity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bartlett's test for equal variances across sources — the
    PRECONDITION check for the classical ANOVA F gate (its pooled SSW
    assumes homoscedasticity) and the classical twin of the robust
    Brown-Forsythe op: K² = [(N-k)ln(s_p²) - Σ(n_j-1)ln(s_j²)] / C
    with the standard C = 1 + (Σ1/(n_j-1) - 1/(N-k))/(3(k-1)), χ²_(k-1)
    under H0 on the shared literal table.  The decision tree this
    completes: Bartlett fires → trust Welch ANOVA / Brown-Forsythe;
    quiet → the F gate's pooled variance is safe.

    Exactness: per-group (n, Σx, Σx²) exact BIGINTs; s_j² one
    mirrored chain; every ln is round-12 before use and every
    cross-group sum quantizes to DECIMAL (the pooled SSW at round-6
    DECIMAL(38,6), the ln and 1/(n-1) sums at round-12) so all three
    sums are order-independent; the final K² is one mirrored chain.
    Groups need n ≥ 2 (mirrored HAVING).

    Scale: the F/Welch gates' exact cost class — one
    map-side-combined groupBy(source), k-row algebra."""
    g = _source_moments(spark, sf_dir).filter(F.col("n") >= 2)
    var_j = (
        F.col("s2").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    ) / (F.col("n") - 1)
    v = g.select("source", "n", var_j.alias("var_j"))
    tot = v.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum(
            F.round((F.col("n") - 1) * F.col("var_j"), 6).cast(
                "decimal(38,6)"
            )
        )
        .cast("double")
        .alias("ssw"),
        F.sum(
            F.round(
                (F.col("n") - 1) * F.log(F.col("var_j")), 12
            ).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("sum_ln"),
        F.sum(
            F.round(F.lit(1.0) / (F.col("n") - 1), 12).cast(
                "decimal(38,12)"
            )
        )
        .cast("double")
        .alias("sum_inv"),
    )
    nk = F.col("n_total") - F.col("k")
    k2 = (
        nk * F.round(F.log(F.col("ssw") / nk), 12) - F.col("sum_ln")
    ) / (
        F.lit(1.0)
        + (F.col("sum_inv") - F.lit(1.0) / nk)
        / (F.lit(3.0) * (F.col("k") - 1))
    )
    stat = tot.select(
        F.col("k").cast("int").alias("k"),
        "n_total",
        k2.alias("k2"),
        (F.col("k") - 1).cast("int").alias("dof"),
    )
    crit = _chi2_crit_005(F.col("dof"))
    return stat.select(
        "k",
        "n_total",
        "k2",
        "dof",
        crit.alias("critical_005"),
        (F.col("k2") > crit).alias("heteroscedastic"),
    )


#: Benjamini-Hochberg two-sided z thresholds for m = 19 simultaneous
#: tests at FDR alpha = 0.05: entry i is Phi^{-1}(1 - (0.05*i/19)/2).
#: Computed offline by tools/gen_bh_z_table.py (Acklam inverse-normal
#: + Newton refinement on math.erfc; round-trip error < 2e-16, and
#: entry 19 equals the plain Z_CRIT_005 literal by construction since
#: alpha_19 = 0.05) and pinned here as literals so both engines
#: compare against identical doubles — the chi2-table convention.
BH_Z_CRIT_M19 = {
    1: 3.0077865564732678, 2: 2.7904699910890725, 3: 2.6565387878196844,
    4: 2.55804272698677, 5: 2.479466885301666, 6: 2.413745803735221,
    7: 2.357044229768459, 8: 2.3070392593928246, 9: 2.262213582661452,
    10: 2.2215195883378365, 11: 2.1842025393757645, 12: 2.149700064344467,
    13: 2.1175815000165485, 14: 2.0875094772894127, 15: 2.0592146098716695,
    16: 2.032478253088416, 17: 2.0071204231255324, 18: 1.9829911235270514,
    19: 1.9599639845400538,
}


_BH_Z_SQL = "CASE " + " ".join(
    f"WHEN rank = {i} THEN {v!r}" for i, v in BH_Z_CRIT_M19.items()
) + " END"


@register(
    "quality_mw_drift_fdr",
    oracle=f"""
    {_REF_VS_SOURCE_CTE}
    ranked_v AS (
        SELECT s, a, b, a + b AS m,
               COALESCE(SUM(a + b) OVER (PARTITION BY s ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS sb
        FROM merged
    ),
    stats AS (
        SELECT s, SUM(a) AS na, SUM(b) AS nb,
               SUM(b * (2 * sb + m + 1)) AS r2,
               SUM(m * m * m - m) AS tie
        FROM ranked_v GROUP BY s
    ),
    zs AS (
        SELECT s,
               (CAST(r2 - nb * (nb + 1) AS DOUBLE)
                    - CAST(na * nb AS DOUBLE))
               / (2.0 * sqrt((CAST(na AS DOUBLE) * nb / 12.0)
                   * ((na + nb + 1.0)
                      - CAST(tie AS DOUBLE)
                        / (CAST(na + nb AS DOUBLE) * (na + nb - 1.0)))))
                   AS z
        FROM stats
    ),
    ordered AS (
        SELECT s, z,
               row_number() OVER (ORDER BY abs(z) DESC, s) AS rank,
               count(*) OVER () AS m_tests
        FROM zs
    ),
    crits AS (
        SELECT *,
               CASE WHEN m_tests = 19 THEN {_BH_Z_SQL} END AS z_crit
        FROM ordered
    ),
    cut AS (
        SELECT *,
               max(CASE WHEN abs(z) >= z_crit THEN rank END)
                   OVER () AS i_star
        FROM crits
    )
    SELECT s AS source, z,
           CAST(rank AS INT) AS rank,
           z_crit,
           abs(z) > {Z_CRIT_005} AS raw_reject,
           CASE WHEN z_crit IS NULL THEN NULL
                ELSE i_star IS NOT NULL AND rank <= i_star
           END AS fdr_reject
    FROM cut
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_mw_drift_fdr(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benjamini-Hochberg FDR control across the per-source
    Mann-Whitney drift tests — the MULTIPLICITY fix the per-source
    gates are incomplete without: at alpha = 0.05 a 19-source
    dashboard expects ~1 false drift alarm per refresh, so acting on
    raw per-test verdicts means chasing ghosts.  BH's step-up rule
    (reject ranks 1..i*, i* = max i with p_(i) <= alpha*i/m) bounds
    the EXPECTED FALSE-DISCOVERY FRACTION at 5% while keeping far
    more power than Bonferroni.  Both verdicts are emitted per
    source (raw_reject vs fdr_reject) so the dashboard can show what
    multiplicity control changed.

    No p-values needed: BH on two-sided z-tests is equivalent to
    comparing |z|_(i) against Phi^{{-1}}(1 - (alpha*i/m)/2), and for
    the fixed m = 19 sources those thresholds are LITERALS
    (BH_Z_CRIT_M19, generated offline with an erfc-verified inverse
    normal — the chi2-critical-table convention extended to a rank
    table; entry 19 is the plain two-sided 5% point, one ulp from the
    quoted Z_CRIT literal, since alpha_m = alpha).  If a future corpus changes the source count the verdict
    degrades to NULL rather than silently using wrong thresholds
    (mirrored CASE in both engines).

    Scale: the MW kernel's histogram cost (shared shape with
    quality_mannwhitney_drift) plus windows over the m-row z table —
    the multiplicity layer is free."""
    zs = _mann_whitney_u(spark, sf_dir).select("s", "z")
    w_rank = Window.orderBy(F.abs(F.col("z")).desc(), "s")
    ordered = zs.select(
        "s",
        "z",
        F.row_number().over(w_rank).alias("rank"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m_tests"),
    )
    z_crit = F.lit(None).cast("double")
    for i, v in BH_Z_CRIT_M19.items():
        z_crit = F.when(F.col("rank") == i, F.lit(v)).otherwise(z_crit)
    crits = ordered.select(
        "*",
        F.when(F.col("m_tests") == 19, z_crit).alias("z_crit"),
    )
    i_star = F.max(
        F.when(F.abs(F.col("z")) >= F.col("z_crit"), F.col("rank"))
    ).over(Window.partitionBy())
    cut = crits.select("*", i_star.alias("i_star"))
    return cut.select(
        F.col("s").alias("source"),
        "z",
        F.col("rank").cast("int").alias("rank"),
        "z_crit",
        (F.abs(F.col("z")) > F.lit(Z_CRIT_005)).alias("raw_reject"),
        F.when(
            F.col("z_crit").isNull(), F.lit(None).cast("boolean")
        ).otherwise(
            F.col("i_star").isNotNull()
            & (F.col("rank") <= F.col("i_star"))
        ).alias("fdr_reject"),
    )


# ---------------------------------------------------------------------------
# Cucconi two-sample location-scale test — exact squared-midrank sums
# on the shared histogram walk
# ---------------------------------------------------------------------------

#: 5% critical value of the asymptotic Cucconi C statistic: under H0,
#: C is asymptotically standard-bivariate-normal quadratic, giving
#: p ≈ exp(−C) (Cucconi 1968; Marozzi 2009) — so the 5% line is
#: −ln(0.05), full double precision (asymptotic, like the KS/AD/Kuiper
#: gates).
CUCCONI_CRIT_005 = 2.995732273553991


#: Shared final-step arithmetic for the Cucconi C statistic, written
#: ONCE as SQL text and executed verbatim by both engines (F.expr on
#: the Spark side) so the IEEE operation order is identical.  Inputs:
#: na, nb (BIGINT), s4 = Σ_A(2a)² and t4 = Σ_A(2(N+1)−2a)² (BIGINT
#: squared doubled-midrank sums over sample A), with N = na + nb.
_CUCCONI_C_EXPR = (
    "(power((CAST(s4 AS DOUBLE) / 4.0"
    " - CAST(na AS DOUBLE) * CAST(na + nb + 1 AS DOUBLE)"
    "   * CAST(2 * (na + nb) + 1 AS DOUBLE) / 6.0)"
    " / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)"
    "   * CAST(na + nb + 1 AS DOUBLE)"
    "   * CAST(2 * (na + nb) + 1 AS DOUBLE)"
    "   * CAST(8 * (na + nb) + 11 AS DOUBLE) / 180.0), 2)"
    " + power((CAST(t4 AS DOUBLE) / 4.0"
    " - CAST(na AS DOUBLE) * CAST(na + nb + 1 AS DOUBLE)"
    "   * CAST(2 * (na + nb) + 1 AS DOUBLE) / 6.0)"
    " / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)"
    "   * CAST(na + nb + 1 AS DOUBLE)"
    "   * CAST(2 * (na + nb) + 1 AS DOUBLE)"
    "   * CAST(8 * (na + nb) + 11 AS DOUBLE) / 180.0), 2)"
    " - 2.0 * (2.0 * (CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE)"
    "   - 4.0)"
    "   / (CAST(2 * (na + nb) + 1 AS DOUBLE)"
    "      * CAST(8 * (na + nb) + 11 AS DOUBLE)) - 1.0)"
    " * ((CAST(s4 AS DOUBLE) / 4.0"
    " - CAST(na AS DOUBLE) * CAST(na + nb + 1 AS DOUBLE)"
    "   * CAST(2 * (na + nb) + 1 AS DOUBLE) / 6.0)"
    " / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)"
    "   * CAST(na + nb + 1 AS DOUBLE)"
    "   * CAST(2 * (na + nb) + 1 AS DOUBLE)"
    "   * CAST(8 * (na + nb) + 11 AS DOUBLE) / 180.0))"
    " * ((CAST(t4 AS DOUBLE) / 4.0"
    " - CAST(na AS DOUBLE) * CAST(na + nb + 1 AS DOUBLE)"
    "   * CAST(2 * (na + nb) + 1 AS DOUBLE) / 6.0)"
    " / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)"
    "   * CAST(na + nb + 1 AS DOUBLE)"
    "   * CAST(2 * (na + nb) + 1 AS DOUBLE)"
    "   * CAST(8 * (na + nb) + 11 AS DOUBLE) / 180.0)))"
    " / (2.0 * (1.0"
    " - power(2.0 * (CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE)"
    "   - 4.0)"
    "   / (CAST(2 * (na + nb) + 1 AS DOUBLE)"
    "      * CAST(8 * (na + nb) + 11 AS DOUBLE)) - 1.0, 2)))"
)


@register(
    "quality_cucconi_drift",
    oracle=f"""
    {_POOLED_HIST_CTE}
    {_MIDRANK_WALK_CTE}
    tot AS (SELECT SUM(is_a) AS na, SUM(is_b) AS nb FROM rows_t),
    sums AS (
        SELECT CAST(tot.na AS BIGINT) AS na,
               CAST(tot.nb AS BIGINT) AS nb,
               CAST(SUM(w.ca_i * (2 * w.lt + w.m + 1)
                              * (2 * w.lt + w.m + 1)) AS BIGINT) AS s4,
               CAST(SUM(w.ca_i
                    * (2 * (tot.na + tot.nb + 1) - (2 * w.lt + w.m + 1))
                    * (2 * (tot.na + tot.nb + 1) - (2 * w.lt + w.m + 1)))
                    AS BIGINT) AS t4
        FROM walk w, tot GROUP BY tot.na, tot.nb
    )
    SELECT na, nb, s4, t4,
           {_CUCCONI_C_EXPR} AS cucconi_c,
           exp(-({_CUCCONI_C_EXPR})) AS p_asymptotic,
           {_CUCCONI_C_EXPR} > {CUCCONI_CRIT_005} AS drift
    FROM sums
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_cucconi_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cucconi two-sample location-SCALE drift test — the rank test
    that watches BOTH moments at once: C combines the standardized sum
    of squared ranks (U, scale-and-location sensitive from the right)
    with the standardized sum of squared CONTRARY ranks (V, from the
    left), C = (U² + V² − 2ρUV)/(2(1−ρ²)), predating and often
    out-powering the better-known Lepage combination.  The MW gate
    (quality_mannwhitney_drift) misses a pure variance change and
    Bartlett/Brown-Forsythe miss a pure shift; a corpus source whose
    document lengths drift in EITHER moment trips this single gate.
    Same src0-vs-rest split over n_chars as the EDF family, so all the
    drift verdicts line up on one dashboard row.

    Exactness: midranks on the doubled grid — 2a = 2·(#below) + m + 1
    on the distinct-value walk — make Σ_A(2a)² and the contrary sum
    EXACT BIGINTs (s4/t4, hash-stable); U, V, ρ and C are evaluated
    from them in ONE shared SQL expression text (_CUCCONI_C_EXPR,
    F.expr'd on the Spark side) so the IEEE operation order matches
    bit-for-bit; the 5% line is the full-precision −ln(0.05) literal
    and p ≈ exp(−C) is reported alongside (asymptotic, like the KS/AD
    gates; ties enter through midranks, the standard large-sample
    treatment).

    Scale: the KS kernel verbatim — one map-side-combined histogram
    groupBy, one cumulative window over DISTINCT VALUES (bin
    continuous columns first), scalar output."""
    walk = _midrank_walk(
        _ref_vs_rest_hist(table(spark, sf_dir, "documents"))
    )
    r2 = F.col("r2")
    r2c = 2 * (F.col("na") + F.col("nb") + 1) - r2
    sums = walk.groupBy("na", "nb").agg(
        F.sum(F.col("ca_i") * r2 * r2).cast("bigint").alias("s4"),
        F.sum(F.col("ca_i") * r2c * r2c).cast("bigint").alias("t4"),
    )
    parts = sums.select(
        F.col("na").cast("bigint").alias("na"),
        F.col("nb").cast("bigint").alias("nb"),
        "s4",
        "t4",
    )
    return (
        parts.withColumn("cucconi_c", F.expr(_CUCCONI_C_EXPR))
        .withColumn("p_asymptotic", F.exp(-F.col("cucconi_c")))
        .withColumn(
            "drift", F.col("cucconi_c") > F.lit(CUCCONI_CRIT_005)
        )
    )


# ---------------------------------------------------------------------------
# Mood two-sample scale test — exact squared-central-midrank sum on
# the shared histogram walk
# ---------------------------------------------------------------------------

#: Shared final-step arithmetic for the Mood z-score (ONE SQL text,
#: both engines): M = m4/4, z = (M − na(N²−1)/12) /
#: sqrt(na·nb(N+1)(N²−4)/180), N = na+nb.
_MOOD_Z_EXPR = (
    "(CAST(m4 AS DOUBLE) / 4.0"
    " - CAST(na AS DOUBLE)"
    "   * (CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE) - 1.0)"
    "   / 12.0)"
    " / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)"
    "   * CAST(na + nb + 1 AS DOUBLE)"
    "   * (CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE) - 4.0)"
    "   / 180.0)"
)


@register(
    "quality_mood_scale_drift",
    oracle=f"""
    {_POOLED_HIST_CTE}
    {_MIDRANK_WALK_CTE}
    tot AS (SELECT SUM(is_a) AS na, SUM(is_b) AS nb FROM rows_t),
    sums AS (
        SELECT CAST(tot.na AS BIGINT) AS na,
               CAST(tot.nb AS BIGINT) AS nb,
               CAST(SUM(w.ca_i
                    * ((2 * w.lt + w.m + 1) - (tot.na + tot.nb + 1))
                    * ((2 * w.lt + w.m + 1) - (tot.na + tot.nb + 1)))
                    AS BIGINT) AS m4
        FROM walk w, tot GROUP BY tot.na, tot.nb
    )
    SELECT na, nb, m4,
           {_MOOD_Z_EXPR} AS z_mood,
           abs({_MOOD_Z_EXPR}) > {Z_CRIT_005} AS scale_drift
    FROM sums
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_mood_scale_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mood two-sample SCALE test — the rank-based variance gate that
    completes the triad on one walk: Mann-Whitney watches pure
    location (quality_mannwhitney_drift), this watches pure scale
    (M = Σ_A (aᵢ − (N+1)/2)², large when sample A's lengths spread
    into both tails of the pooled ranking), and Cucconi
    (quality_cucconi_drift) watches both jointly.  Unlike
    Bartlett/Brown-Forsythe (quality_bartlett_homoscedasticity), Mood
    needs no moment assumptions — a heavy-tailed length distribution
    cannot fake it out through its variance estimate.  Same
    src0-vs-rest split over n_chars as the whole drift family.

    Exactness: on the doubled-midrank grid, (2a − (N+1)) is an exact
    integer deviation, so M4 = Σ_A(2a − (N+1))² = 4M is ONE exact
    BIGINT (hash-stable); z is evaluated from it in ONE shared SQL
    expression text (_MOOD_Z_EXPR) against the full-precision
    ±1.96 literal — asymptotic with midrank ties, the standard
    large-sample treatment (same caveat class as the MW/Cucconi
    gates).

    Scale: the KS kernel verbatim — one map-side-combined histogram
    groupBy, one cumulative window over DISTINCT VALUES, scalar
    output."""
    walk = _midrank_walk(
        _ref_vs_rest_hist(table(spark, sf_dir, "documents"))
    )
    devi = F.col("r2") - (F.col("na") + F.col("nb") + 1)
    sums = walk.groupBy("na", "nb").agg(
        F.sum(F.col("ca_i") * devi * devi).cast("bigint").alias("m4")
    )
    parts = sums.select(
        F.col("na").cast("bigint").alias("na"),
        F.col("nb").cast("bigint").alias("nb"),
        "m4",
    )
    return (
        parts.withColumn("z_mood", F.expr(_MOOD_Z_EXPR))
        .withColumn(
            "scale_drift", F.abs(F.col("z_mood")) > F.lit(Z_CRIT_005)
        )
    )



#: Shared final-step arithmetic for the Ansari-Bradley z: ONE SQL text
#: executed verbatim by both engines (F.expr on the Spark side) so the
#: IEEE operation order is identical by construction.  All inputs are
#: exact BIGINTs on the doubled-score grid; the tie-corrected variance
#: is the generic linear-rank-statistic form Var(T) = na*nb/(N^2(N-1))
#: * (N*sum(a_i^2) - (sum a_i)^2) evaluated on the doubled scores.
_AB_Z_EXPR = (
    "(CAST(t2 AS DOUBLE)"
    " - CAST(na AS DOUBLE) * CAST(sum_s2 AS DOUBLE)"
    " / CAST(na + nb AS DOUBLE))"
    " / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)"
    " * (CAST(na + nb AS DOUBLE) * CAST(sum_s4 AS DOUBLE)"
    " - CAST(sum_s2 AS DOUBLE) * CAST(sum_s2 AS DOUBLE))"
    " / (CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE)"
    " * CAST(na + nb - 1 AS DOUBLE)))"
)


@register(
    "quality_ansari_bradley_drift",
    oracle=f"""
    {_POOLED_HIST_CTE}
    tot AS (SELECT SUM(is_a) AS na, SUM(is_b) AS nb FROM rows_t),
    {_MIDRANK_WALK_CTE}
    scored AS (
        SELECT w.ca_i, w.m,
               (tot.na + tot.nb + 1)
               - abs((2 * w.lt + w.m + 1) - (tot.na + tot.nb + 1))
                   AS s2
        FROM walk w, tot
    ),
    sums AS (
        SELECT CAST(tot.na AS BIGINT) AS na,
               CAST(tot.nb AS BIGINT) AS nb,
               CAST(SUM(s.ca_i * s.s2) AS BIGINT) AS t2,
               CAST(SUM(s.m * s.s2) AS BIGINT) AS sum_s2,
               CAST(SUM(s.m * s.s2 * s.s2) AS BIGINT) AS sum_s4
        FROM scored s, tot GROUP BY tot.na, tot.nb
    )
    SELECT na, nb, t2, sum_s2, sum_s4,
           {_AB_Z_EXPR} AS z_ab,
           abs({_AB_Z_EXPR}) > {Z_CRIT_005!r} AS scale_drift
    FROM sums
    """,
    tags=("quality", "drift", "statistics"),
)
def quality_ansari_bradley_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ansari-Bradley two-sample SCALE test — the folded-rank sibling
    of quality_mood_scale_drift on the identical histogram walk: where
    Mood squares the centered rank, A-B scores each observation by its
    distance from the NEAREST END of the pooled ordering (s_i = (N+1)/2
    - |r_i - (N+1)/2|), so a sample squeezed into the middle scores
    high and one pushed into the tails scores low.  Folded scores are
    location-sensitive in a different way than squared ones (linear,
    not quadratic, in the tail depth), so the two gates disagree
    exactly on the heavy-tail-vs-shoulder alternatives a length
    distribution drifts through — running both is the standard
    practice this pair of operators mirrors.

    Exactness: on the doubled-midrank grid the folded score
    s2 = (N+1) - |2r - (N+1)| is an exact integer, so T2 = Sum_A s2,
    Sum m*s2 and Sum m*s2^2 are three exact BIGINTs; z uses the
    GENERIC tie-corrected linear-rank variance (no no-ties moment
    formula), evaluated in ONE shared SQL expression text (_AB_Z_EXPR)
    — stricter than the Mood/MW asymptotic treatment, exact under any
    tie pattern.

    Scale: the KS kernel verbatim — one map-side-combined histogram
    groupBy over DISTINCT VALUES, one cumulative window, scalar
    output; state is value-cardinality-sized, never corpus-sized."""
    walk = _midrank_walk(
        _ref_vs_rest_hist(table(spark, sf_dir, "documents"))
    )
    n1 = F.col("na") + F.col("nb") + 1
    s2 = n1 - F.abs(F.col("r2") - n1)
    sums = walk.groupBy("na", "nb").agg(
        F.sum(F.col("ca_i") * s2).cast("bigint").alias("t2"),
        F.sum(F.col("m") * s2).cast("bigint").alias("sum_s2"),
        F.sum(F.col("m") * s2 * s2).cast("bigint").alias("sum_s4"),
    )
    parts = sums.select(
        F.col("na").cast("bigint").alias("na"),
        F.col("nb").cast("bigint").alias("nb"),
        "t2",
        "sum_s2",
        "sum_s4",
    )
    return parts.withColumn("z_ab", F.expr(_AB_Z_EXPR)).withColumn(
        "scale_drift", F.abs(F.col("z_ab")) > F.lit(Z_CRIT_005)
    )


#: Shared final arithmetic for the Jonckheere-Terpstra z below: the
#: tie-corrected null variance (Hollander-Wolfe) over the exact integer
#: aggregates, then z from the QUADRUPLED statistic (J4 = 4*J keeps the
#: half-tie credits integer).  ONE SQL text executed verbatim by both
#: engines — fixed operation order, IEEE arithmetic on exact ints.
_JT_VAR_EXPR = (
    "(CAST(a_term AS DOUBLE) / 72.0"
    " + CAST(sn3 AS DOUBLE) * CAST(st3 AS DOUBLE)"
    "   / (36.0 * CAST(n_total AS DOUBLE) * (n_total - 1)"
    "      * (n_total - 2))"
    " + CAST(sn2 AS DOUBLE) * CAST(st2 AS DOUBLE)"
    "   / (8.0 * CAST(n_total AS DOUBLE) * (n_total - 1)))"
)
_JT_Z_EXPR = (
    f"(CAST(j4 - e4 AS DOUBLE) / (4.0 * sqrt({_JT_VAR_EXPR})))"
)


@register(
    "quality_jonckheere_terpstra_trend",
    oracle=f"""
    WITH hist AS (
        SELECT source, CAST(n_chars AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    grid AS (SELECT DISTINCT v FROM hist),
    cells AS (
        SELECT s.source, g.v, COALESCE(h.c, 0) AS c
        FROM grid g
        CROSS JOIN (SELECT DISTINCT source FROM hist) s
        LEFT JOIN hist h ON h.source = s.source AND h.v = g.v
    ),
    cum AS (
        SELECT source, v, c,
               COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY v
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS below
        FROM cells
    ),
    jstat AS (
        SELECT CAST(SUM(4 * b.c * a.below + 2 * b.c * a.c)
                    AS BIGINT) AS j4
        FROM cum a JOIN cum b
          ON a.v = b.v AND a.source < b.source
    ),
    gsz AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ng
            FROM hist GROUP BY 1),
    tsz AS (SELECT v, CAST(SUM(c) AS BIGINT) AS tv
            FROM hist GROUP BY 1),
    moments AS (
        SELECT (SELECT SUM(ng) FROM gsz) AS n_total,
               (SELECT count(*) FROM gsz) AS n_groups,
               (SELECT SUM(ng * ng) FROM gsz) AS sn_sq,
               (SELECT SUM(ng * (ng - 1) * (2 * ng + 5)) FROM gsz)
                   AS sn_a,
               (SELECT SUM(tv * (tv - 1) * (2 * tv + 5)) FROM tsz)
                   AS st_a,
               (SELECT SUM(ng * (ng - 1) * (ng - 2)) FROM gsz) AS sn3,
               (SELECT SUM(tv * (tv - 1) * (tv - 2)) FROM tsz) AS st3,
               (SELECT SUM(ng * (ng - 1)) FROM gsz) AS sn2,
               (SELECT SUM(tv * (tv - 1)) FROM tsz) AS st2
    ),
    final AS (
        SELECT j.j4,
               m.n_total, m.n_groups, m.sn3, m.st3, m.sn2, m.st2,
               m.n_total * m.n_total - m.sn_sq AS e4,
               m.n_total * (m.n_total - 1) * (2 * m.n_total + 5)
                   - m.sn_a - m.st_a AS a_term
        FROM jstat j, moments m
    )
    SELECT CAST(n_total AS BIGINT) AS n_total,
           CAST(n_groups AS BIGINT) AS n_groups,
           j4, CAST(e4 AS BIGINT) AS e4,
           {_JT_VAR_EXPR} AS var_j,
           {_JT_Z_EXPR} AS z_stat,
           abs({_JT_Z_EXPR}) > {Z_CRIT_005} AS trend_005
    FROM final
    """,
    tags=("quality", "statistics", "drift"),
)
def quality_jonckheere_terpstra_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative trend test on document
    length across sources — the k-sample rank test the drift battery
    was missing: Kruskal-Wallis (registered) asks "do the sources
    differ AT ALL?" and burns power over every permutation of group
    medians; JT asks the pipeline's actual question — "does length
    trend MONOTONICALLY along the source order?" (crawl snapshots,
    dump versions, curriculum stages are all ordered) — and is the
    rank analog of the registered Cochran-Armitage test for binary
    rates.  Source order here is lexicographic (the house ordering for
    the synthetic catalog); any production ordering column slots in.

    Exactness: J is computed in QUADRUPLED integer units (4·#{x<y} +
    2·#{x=y} per ordered group pair) from per-source value histograms —
    the Kendall/Hoeffding dominance discipline, here as cumulative
    below-counts on the shared value grid so the pair stage is an
    equi-join on value, never a V² dominance join.  E[J4] = N² − Σn²
    is exact integer; the tie-corrected Hollander-Wolfe variance and z
    are ONE shared SQL text over the integer aggregates (components
    stay BIGINT-exact to ~3e9 rows; beyond, swap the value axis to the
    bucketed grid like the dCor ops).

    Scale: one map-side-combined histogram groupBy (value-grid-sized),
    a V×G cell grid with per-source cumulative windows, and a
    V×G² equi-join pair fold — corpus rows are touched once."""
    d = table(spark, sf_dir, "documents")
    hist = d.groupBy(
        "source", F.col("n_chars").cast("bigint").alias("v")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    grid = hist.select("v").distinct()
    sources = hist.select("source").distinct()
    cells = (
        grid.crossJoin(sources)
        .join(hist, ["source", "v"], "left")
        .select(
            "source", "v", F.coalesce(F.col("c"), F.lit(0)).alias("c")
        )
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = cells.select(
        "source",
        "v",
        "c",
        F.coalesce(F.sum("c").over(wcum), F.lit(0)).alias("below"),
    )
    a, b = cum.alias("a"), cum.alias("b")
    jstat = (
        a.join(
            b,
            (F.col("a.v") == F.col("b.v"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .agg(
            F.sum(
                4 * F.col("b.c") * F.col("a.below")
                + 2 * F.col("b.c") * F.col("a.c")
            )
            .cast("bigint")
            .alias("j4")
        )
    )
    gsz = hist.groupBy("source").agg(F.sum("c").alias("ng"))
    tsz = hist.groupBy("v").agg(F.sum("c").alias("tv"))
    ng, tv = F.col("ng"), F.col("tv")
    gm = gsz.agg(
        F.sum(ng).cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum(ng * ng).cast("bigint").alias("sn_sq"),
        F.sum(ng * (ng - 1) * (2 * ng + 5)).cast("bigint").alias("sn_a"),
        F.sum(ng * (ng - 1) * (ng - 2)).cast("bigint").alias("sn3"),
        F.sum(ng * (ng - 1)).cast("bigint").alias("sn2"),
    )
    tm = tsz.agg(
        F.sum(tv * (tv - 1) * (2 * tv + 5)).cast("bigint").alias("st_a"),
        F.sum(tv * (tv - 1) * (tv - 2)).cast("bigint").alias("st3"),
        F.sum(tv * (tv - 1)).cast("bigint").alias("st2"),
    )
    final = (
        jstat.crossJoin(F.broadcast(gm))
        .crossJoin(F.broadcast(tm))
        .select(
            "j4",
            "n_total",
            "n_groups",
            "sn3",
            "st3",
            "sn2",
            "st2",
            (F.col("n_total") * F.col("n_total") - F.col("sn_sq"))
            .cast("bigint")
            .alias("e4"),
            (
                F.col("n_total")
                * (F.col("n_total") - 1)
                * (2 * F.col("n_total") + 5)
                - F.col("sn_a")
                - F.col("st_a")
            )
            .cast("bigint")
            .alias("a_term"),
        )
    )
    return final.select(
        "n_total",
        "n_groups",
        "j4",
        "e4",
        F.expr(_JT_VAR_EXPR).alias("var_j"),
        F.expr(_JT_Z_EXPR).alias("z_stat"),
        F.expr(f"abs({_JT_Z_EXPR}) > {Z_CRIT_005}").alias("trend_005"),
    )


# ---------------------------------------------------------------------------
# Kendall's W: concordance among document rankers
# ---------------------------------------------------------------------------

#: The three deterministic document rankers whose agreement W measures
#: (Kendall & Babington Smith 1939, tie-corrected form): character
#: length, whitespace token count, distinct token count — the three
#: cheap "document size" proxies a pipeline might substitute for one
#: another; W answers whether they actually induce the same ordering.
KENDALL_W_RANKERS = 3


@register(
    "quality_kendall_w_concordance",
    oracle="""
    WITH d AS MATERIALIZED (
        SELECT doc_id,
               length(text) AS v1,
               len(string_split(text, ' ')) AS v2,
               len(list_distinct(string_split(text, ' '))) AS v3
        FROM documents
    ),
    h1 AS (
        SELECT v1 AS v, COUNT(*) AS m,
               COALESCE(SUM(COUNT(*)) OVER (ORDER BY v1
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS sb
        FROM d GROUP BY v1
    ),
    h2 AS (
        SELECT v2 AS v, COUNT(*) AS m,
               COALESCE(SUM(COUNT(*)) OVER (ORDER BY v2
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS sb
        FROM d GROUP BY v2
    ),
    h3 AS (
        SELECT v3 AS v, COUNT(*) AS m,
               COALESCE(SUM(COUNT(*)) OVER (ORDER BY v3
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS sb
        FROM d GROUP BY v3
    ),
    r AS (
        SELECT d.doc_id,
               (2 * a.sb + a.m + 1)
               + (2 * b.sb + b.m + 1)
               + (2 * c.sb + c.m + 1) AS r2
        FROM d
        JOIN h1 a ON a.v = d.v1
        JOIN h2 b ON b.v = d.v2
        JOIN h3 c ON c.v = d.v3
    ),
    s AS (
        SELECT COUNT(*) AS n,
               SUM(CAST(r2 AS DECIMAL(19,0))
                   * CAST(r2 AS DECIMAL(19,0))) AS s2
        FROM r
    ),
    tie AS (
        SELECT (SELECT SUM(m * m * m - m) FROM h1)
             + (SELECT SUM(m * m * m - m) FROM h2)
             + (SELECT SUM(m * m * m - m) FROM h3) AS t
    )
    SELECT s.n AS n_docs,
           CAST(tie.t AS BIGINT) AS tie_t,
           CAST(3 * (s.s2 - CAST(9 * s.n * (s.n + 1) * (s.n + 1)
                                 AS DECIMAL(38,0))) AS DOUBLE)
           / CAST(9 * (s.n * s.n * s.n - s.n) - 3 * tie.t AS DOUBLE)
               AS w,
           CAST(3 * (s.n - 1) AS DOUBLE)
           * (CAST(3 * (s.s2 - CAST(9 * s.n * (s.n + 1) * (s.n + 1)
                                    AS DECIMAL(38,0))) AS DOUBLE)
              / CAST(9 * (s.n * s.n * s.n - s.n) - 3 * tie.t AS DOUBLE))
               AS chi2
    FROM s, tie
    """,
    tags=("quality", "rank"),
)
def quality_kendall_w_concordance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kendall's coefficient of concordance W among the three
    document-size rankers (chars / tokens / distinct tokens) — the
    m-ranker generalization of the pairwise tau already in the
    registry: W = 1 means the rankers agree on one ordering, W = 0
    means no agreement beyond chance; chi2 = m(n−1)W is the Friedman
    statistic for the H0 of no concordance.

    Exactness discipline (the module's doubled-midrank convention):
    each ranker's average ranks come off its count-of-counts histogram
    as exact integers on the DOUBLED grid (2·below + ties + 1); the
    per-document rank sum R2 is a 3-term integer; Σ R2² runs as
    DECIMAL(19,0)² → DECIMAL(38,0) exact sums; the tie correction
    Σ(t³−t) is BIGINT; ONE final IEEE division (and one multiply for
    chi2) mirrors textually in the oracle.  The tie-corrected W
    identity on the doubled grid: W = 3(ΣR2² − 9n(n+1)²) /
    (9(n³−n) − 3T), since 12·ΣR² = 3·ΣR2².

    Scale: three histogram groupBys (map-side combined) + three
    histogram-sized broadcast joins back onto ONE document scan; the
    cumulative windows run over distinct VALUES only (the KS/Kruskal
    bounded-domain exception, never corpus-sized).  BIGINT holds n³
    to n ≈ 2M; beyond that the denominator moves to DECIMAL — the
    documented swap."""
    d = fanout(table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.length("text").alias("v1"),
        F.size(words()).alias("v2"),
        F.size(F.array_distinct(words())).alias(
            "v3"
        ),
    )
    d = d.localCheckpoint(eager=True)

    def hist(col: str) -> DataFrame:
        w_prev = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, -1
        )
        return (
            d.groupBy(F.col(col).alias("v"))
            .agg(F.count(F.lit(1)).alias("m"))
            .select(
                "v",
                "m",
                F.coalesce(F.sum("m").over(w_prev), F.lit(0)).alias(
                    "sb"
                ),
            )
        )

    h1, h2, h3 = hist("v1"), hist("v2"), hist("v3")
    dbl = lambda: 2 * F.col("sb") + F.col("m") + 1  # noqa: E731
    r = (
        d.join(
            F.broadcast(h1.select(F.col("v").alias("v1"),
                                  dbl().alias("d1"))),
            "v1",
        )
        .join(
            F.broadcast(h2.select(F.col("v").alias("v2"),
                                  dbl().alias("d2"))),
            "v2",
        )
        .join(
            F.broadcast(h3.select(F.col("v").alias("v3"),
                                  dbl().alias("d3"))),
            "v3",
        )
        .select(
            (F.col("d1") + F.col("d2") + F.col("d3")).alias("r2")
        )
    )
    s = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.col("r2").cast("decimal(19,0)")
            * F.col("r2").cast("decimal(19,0)")
        ).alias("s2"),
    )
    tsum = (
        h1.select("m")
        .unionByName(h2.select("m"))
        .unionByName(h3.select("m"))
        .agg(
            F.sum(
                F.col("m") * F.col("m") * F.col("m") - F.col("m")
            ).alias("t")
        )
    )
    n, s2, t = F.col("n"), F.col("s2"), F.col("t")
    num = (
        F.lit(3)
        * (
            s2
            - (F.lit(9) * n * (n + 1) * (n + 1)).cast("decimal(38,0)")
        )
    ).cast("double")
    den = (
        F.lit(9) * (n * n * n - n) - F.lit(3) * t
    ).cast("double")
    w_expr = num / den
    return s.crossJoin(F.broadcast(tsum)).select(
        n.cast("bigint").alias("n_docs"),
        t.cast("bigint").alias("tie_t"),
        w_expr.alias("w"),
        ((F.lit(3) * (n - 1)).cast("double") * w_expr).alias("chi2"),
    )
