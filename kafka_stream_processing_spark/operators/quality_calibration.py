"""Model-evaluation and calibration operators: isotonic regression
(minimax PAVA), Brier decomposition, expected calibration error, ROC
AUC, Poisson-bootstrap mean CIs, and A/B minimum-detectable-effect
power analysis.

Calibration bins are fixed-width buckets (histogram-sized state); the
bootstrap is one pass with B Poisson weights per row, map-side
combined.  Split from quality.py in r09; semantics unchanged.
"""


from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_processing_spark.operators.word_kernel import words
from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import table


from kafka_stream_processing_spark.operators.quality_kernel import (  # noqa: E501
    Z_CRIT_005,
)

# ---------------------------------------------------------------------------
# Deterministic Poisson bootstrap confidence interval
# ---------------------------------------------------------------------------

#: Number of bootstrap replicates.
BOOT_B = 64


#: Poisson(1) CDF literals (P(X <= k) for k = 0..6; k = 7 absorbs the
#: tail, P ~ 1e-5) — written as exact double literals so both engines
#: threshold on identical bits.
BOOT_POISSON_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238463,
    0.9963401531726563,
    0.9994058151824183,
    0.999916758850712,
)


#: 2^60 as a double — hash64 yields 60-bit integers; h / 2^60 is the
#: uniform variate.
_BOOT_SCALE = 1152921504606846976.0


#: Percentile-method ranks for a 95% interval over 64 sorted replicate
#: means: rank 2 (~2.5th pct) and rank 63 (~97.5th pct).  Stated as the
#: convention, not interpolated — interpolation rules differ by engine.
BOOT_LO_RANK = 2


BOOT_HI_RANK = 63


def _boot_weight_sql(u_expr: str = "u") -> str:
    """Poisson(1) multiplicity CASE over the uniform expression
    ``u_expr`` — interpolated directly (NOT post-hoc string
    replacement, which would corrupt any other literal ``u`` in the
    CASE text; ADVICE r06)."""
    branches = " ".join(
        f"WHEN {u_expr} < {t} THEN {k}"
        for k, t in enumerate(BOOT_POISSON_CDF)
    )
    return f"CASE {branches} ELSE 7 END"


@register(
    "quality_bootstrap_mean_ci",
    oracle=f"""
    WITH rep AS (
        SELECT d.doc_id, d.n_chars, u.b
        FROM documents d, unnest(generate_series(0, {BOOT_B - 1})) u(b)
    ),
    weighted AS (
        SELECT b, n_chars,
               {_boot_weight_sql(f"(CAST(('0x' || substr(md5(doc_id || '_boot_' || b), 1, 15)) AS BIGINT) / {_BOOT_SCALE})")} AS w
        FROM rep
    ),
    means AS (
        SELECT b,
               CAST(round(CAST(SUM(w * n_chars) AS DOUBLE) / SUM(w), 6)
                    AS DECIMAL(18,6)) AS m
        FROM weighted GROUP BY b
    ),
    ranked AS (
        SELECT m, row_number() OVER (ORDER BY m) AS rk FROM means
    ),
    stats AS (
        SELECT CAST(SUM(m) AS DOUBLE) AS s1,
               CAST(SUM(m * m) AS DOUBLE) AS s2
        FROM means
    ),
    point AS (
        SELECT count(*) AS n_docs,
               CAST(SUM(n_chars) AS DOUBLE) / count(*) AS point_mean
        FROM documents
    )
    SELECT CAST(p.n_docs AS BIGINT) AS n_docs,
           p.point_mean,
           s.s1 / {BOOT_B} AS boot_mean,
           sqrt((s.s2 - s.s1 * s.s1 / {BOOT_B}) / {BOOT_B - 1}) AS boot_se,
           CAST((SELECT m FROM ranked WHERE rk = {BOOT_LO_RANK}) AS DOUBLE)
               AS ci_lo,
           CAST((SELECT m FROM ranked WHERE rk = {BOOT_HI_RANK}) AS DOUBLE)
               AS ci_hi
    FROM point p, stats s
    """,
    tags=("quality", "statistics", "bootstrap"),
)
def quality_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap (Chamandy et al. 2012 — the bootstrap Google
    built for MapReduce) on the corpus mean document length: each of
    64 replicates gives every document an independent Poisson(1)
    multiplicity, so a "resample with replacement" of N docs never
    materializes — ONE pass computes every replicate's weighted sum,
    and the 2.5/97.5-percentile replicate means are the 95% CI.  This
    is how a 100 TB pipeline puts an error bar on any corpus statistic
    (dedup rate, mean quality score, token count) without a second
    pass, and the whole construction is DETERMINISTIC: the multiplicity
    comes from inverse-CDF lookup on a 60-bit md5 uniform, so reruns —
    and the DuckDB oracle — reproduce the interval bit-for-bit.

    Exactness: per-replicate sums are INTEGER (weight x n_chars);
    replicate means quantize to DECIMAL(18,6) before the cross-replicate
    moments, so s1/s2 are order-free; se/CI derive from those exact
    aggregates in identical double arithmetic.

    Scale: the explode is map-side (B rows per input row, combined to B
    partial sums per task before the one shuffle); cross-replicate state
    is B rows total.  B=64 trades +/-9% CI-endpoint noise for a 64x
    replication factor — raise B, not passes, when tighter intervals
    are needed."""
    from kafka_stream_processing_spark.operators.dedup import hash64

    d = table(spark, sf_dir, "documents")
    rep = d.select("doc_id", "n_chars").select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    )
    u = hash64(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit("_boot_"),
            F.col("b").cast("string"),
        )
    ) / F.lit(_BOOT_SCALE)
    w = F.lit(7)
    for k in range(len(BOOT_POISSON_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(BOOT_POISSON_CDF[k]), F.lit(k)).otherwise(w)
    means = (
        rep.select("b", "n_chars", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum("w").alias("n_b"),
            F.sum(F.col("w") * F.col("n_chars")).alias("s_b"),
        )
        .select(
            "b",
            F.round(
                F.col("s_b").cast("double") / F.col("n_b"), 6
            ).cast("decimal(18,6)").alias("m"),
        )
    )

    ranked = means.withColumn(
        "rk", F.row_number().over(Window.orderBy("m"))
    )
    stats = means.agg(
        F.sum("m").cast("double").alias("s1"),
        F.sum(F.col("m") * F.col("m")).cast("double").alias("s2"),
    )
    point = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (
            F.sum("n_chars").cast("double") / F.count(F.lit(1))
        ).alias("point_mean"),
    )
    lo = ranked.filter(F.col("rk") == BOOT_LO_RANK).select(
        F.col("m").cast("double").alias("ci_lo")
    )
    hi = ranked.filter(F.col("rk") == BOOT_HI_RANK).select(
        F.col("m").cast("double").alias("ci_hi")
    )
    b_lit = float(BOOT_B)
    return (
        point.crossJoin(stats)
        .crossJoin(lo)
        .crossJoin(hi)
        .select(
            "n_docs",
            "point_mean",
            (F.col("s1") / F.lit(b_lit)).alias("boot_mean"),
            F.sqrt(
                (F.col("s2") - F.col("s1") * F.col("s1") / F.lit(b_lit))
                / F.lit(float(BOOT_B - 1))
            ).alias("boot_se"),
            "ci_lo",
            "ci_hi",
        )
    )


# ---------------------------------------------------------------------------
# Isotonic calibration (PAVA via the minimax formula)
# ---------------------------------------------------------------------------

#: Character-bucket width for the isotonic calibration curve's bins.
ISO_BIN_CHARS = 25


#: Threshold defining the binary outcome being calibrated ("long doc"
#: = more than this many whitespace tokens).
ISO_TOKEN_THRESHOLD = 40


def _long_doc() -> Column:
    """The length classifier's outcome: 1 for a document of more than
    ISO_TOKEN_THRESHOLD whitespace tokens, else 0 (the oracles' CASE)."""
    return F.when(
        F.size(words()) > ISO_TOKEN_THRESHOLD, F.lit(1)
    ).otherwise(F.lit(0))


def _length_bins(docs: DataFrame, n: str, y: str) -> DataFrame:
    """Per ISO_BIN_CHARS length bin ``b`` of ``docs``: ``n`` documents
    and ``y`` long ones (exact integer counts, histogram-sized)."""
    return docs.groupBy(
        F.expr(f"n_chars div {ISO_BIN_CHARS}").alias("b")
    ).agg(F.count(F.lit(1)).alias(n), F.sum(_long_doc()).alias(y))


def _reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The train/test reliability table the Brier and ECE gates score:
    per length bin seen on both sides, the held-out src0 slice's
    ``n_test``/``y_test``, the forecast ``f_pred`` (the training pool's
    rate in the bin) and the observed test rate ``obs_rate``.  Test
    bins unseen in training drop (no forecast exists)."""
    docs = table(spark, sf_dir, "documents").withColumn(
        "is_test",
        F.when(F.col("source") == "src0", F.lit(1)).otherwise(F.lit(0)),
    )
    train = _length_bins(docs.filter(F.col("is_test") == 0), "nt", "yt")
    test = _length_bins(
        docs.filter(F.col("is_test") == 1), "n_test", "y_test"
    )
    return test.join(train, "b").select(
        "b",
        "n_test",
        "y_test",
        (F.col("yt").cast("double") / F.col("nt")).alias("f_pred"),
        (F.col("y_test").cast("double") / F.col("n_test")).alias(
            "obs_rate"
        ),
    )


def _score_hist(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Document length as the classifier score for the long-document
    outcome: per distinct ``score`` (n_chars) the ``pos``/``neg``
    documents with and without it, and the 1-row class totals
    ``n1``/``n0`` — the ROC, precision-recall and threshold-sweep ops'
    state."""
    labeled = table(spark, sf_dir, "documents").select(
        F.col("n_chars").alias("score"), _long_doc().alias("y")
    )
    hist = labeled.groupBy("score").agg(
        F.sum("y").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
    )
    return hist, hist.agg(F.sum("pos").alias("n1"), F.sum("neg").alias("n0"))


@register(
    "quality_isotonic_calibration",
    oracle=f"""
    WITH bins AS (
        SELECT n_chars // {ISO_BIN_CHARS} AS b,
               count(*) AS nb,
               SUM(CASE WHEN len(string_split(text, ' '))
                            > {ISO_TOKEN_THRESHOLD}
                        THEN 1 ELSE 0 END) AS yb
        FROM documents GROUP BY 1
    ),
    cum AS (
        SELECT b, nb, yb,
               SUM(nb) OVER (ORDER BY b) AS cn,
               SUM(yb) OVER (ORDER BY b) AS cy
        FROM bins
    ),
    rng AS (
        SELECT j.b AS jb, k.b AS kb,
               CAST(k.cy - j.cy + j.yb AS DOUBLE)
                   / (k.cn - j.cn + j.nb) AS avg_jk
        FROM cum j JOIN cum k ON j.b <= k.b
    ),
    m AS (
        SELECT i.b, r.jb, min(r.avg_jk) AS mn
        FROM cum i JOIN rng r ON r.jb <= i.b AND r.kb >= i.b
        GROUP BY i.b, r.jb
    ),
    fit AS (SELECT b, max(mn) AS fitted FROM m GROUP BY b)
    SELECT c.b AS bin,
           CAST(c.nb AS BIGINT) AS n,
           CAST(c.yb AS BIGINT) AS n_pos,
           CAST(c.yb AS DOUBLE) / c.nb AS rate_raw,
           f.fitted AS rate_isotonic
    FROM cum c JOIN fit f ON f.b = c.b
    """,
    tags=("quality", "calibration", "statistics"),
)
def quality_isotonic_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotonic (PAVA) calibration curve of P(long doc | length bin) —
    the monotone regression every score-calibration pipeline runs
    (Platt's logistic alternative assumes a shape; isotonic only
    assumes monotone), expressed DECLARATIVELY via the minimax
    characterization ŷᵢ = max_{j≤i} min_{k≥i} avg(y[j..k]) instead of
    the sequential pool-adjacent-violators loop: every range average
    is ONE double division of exact cumulative integer sums (identical
    operand bits ⇒ identical quotient bits cross-engine), and min/max
    never accumulate floats — so the fit is bit-stable with no
    rounding discipline, and the whole algorithm is three joins over
    the BIN table.  The sequential PAVA recursion is the python replay
    in tests; at bin granularity the two are provably equal.

    Scale: one corpus scan collapses to B bins (map-side combine); the
    minimax joins are O(B³) rows on the bin table (B ≤ a few hundred
    for any sane calibration curve — 10⁶ rows of join at B=100, still
    sketch-sized).  For B beyond that, run the classic O(B) PAVA
    driver-side on the collected bins, exactly as k-means collects
    centroids; the corpus-side cost is identical."""
    bins = _length_bins(table(spark, sf_dir, "documents"), "nb", "yb")
    return isotonic_minimax_fit(bins).select(
        F.col("b").alias("bin"),
        F.col("nb").cast("bigint").alias("n"),
        F.col("yb").cast("bigint").alias("n_pos"),
        (F.col("yb").cast("double") / F.col("nb")).alias("rate_raw"),
        F.col("fitted").alias("rate_isotonic"),
    )


def isotonic_minimax_fit(bins: DataFrame, part=None) -> DataFrame:
    """Shared minimax-PAVA kernel: given a bin table (columns ``part``*,
    ``b`` bin key, ``nb`` weight, ``yb`` positive count), return it with
    the isotonic ``fitted`` column — ŷᵢ = max_{j≤i} min_{k≥i}
    avg(y[j..k]) computed per ``part`` partition.  Every range average
    is ONE exact integer division; min/max never accumulate floats.
    Shared by the batch calibration gate and the streaming
    recalibration monitor (kernel reuse guard-tested)."""
    import functools as _ft

    part = list(part or [])
    wcum = (
        Window.partitionBy(*part)
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bins.select(
        *part,
        "b",
        "nb",
        "yb",
        F.sum("nb").over(wcum).alias("cn"),
        F.sum("yb").over(wcum).alias("cy"),
    ).localCheckpoint(eager=True)
    j, k, i = cum.alias("j"), cum.alias("k"), cum.alias("i")
    cond_jk = _ft.reduce(
        lambda a, c: a & (F.col(f"j.{c}") == F.col(f"k.{c}")),
        part,
        F.col("j.b") <= F.col("k.b"),
    )
    rng = j.join(k, cond_jk).select(
        *[F.col(f"j.{c}").alias(c) for c in part],
        F.col("j.b").alias("jb"),
        F.col("k.b").alias("kb"),
        (
            (
                F.col("k.cy") - F.col("j.cy") + F.col("j.yb")
            ).cast("double")
            / (F.col("k.cn") - F.col("j.cn") + F.col("j.nb"))
        ).alias("avg_jk"),
    )
    cond_i = _ft.reduce(
        lambda a, c: a & (F.col(f"i.{c}") == F.col(f"rng.{c}")),
        part,
        (F.col("rng.jb") <= F.col("i.b"))
        & (F.col("rng.kb") >= F.col("i.b")),
    )
    m = (
        i.join(rng.alias("rng"), cond_i)
        .groupBy(
            *[F.col(f"i.{c}").alias(c) for c in part],
            F.col("i.b").alias("b"),
            F.col("rng.jb").alias("jb"),
        )
        .agg(F.min("avg_jk").alias("mn"))
    )
    fit = m.groupBy(*part, "b").agg(F.max("mn").alias("fitted"))
    return cum.join(fit, [*part, "b"])


@register(
    "quality_brier_calibration_split",
    oracle=f"""
    WITH labeled AS (
        SELECT n_chars // {ISO_BIN_CHARS} AS b,
               CASE WHEN len(string_split(text, ' '))
                        > {ISO_TOKEN_THRESHOLD} THEN 1 ELSE 0 END AS y,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_test
        FROM documents
    ),
    train AS (
        SELECT b, count(*) AS nt, SUM(y) AS yt
        FROM labeled WHERE is_test = 0 GROUP BY b
    ),
    test AS (
        SELECT b, count(*) AS n_test, SUM(y) AS y_test
        FROM labeled WHERE is_test = 1 GROUP BY b
    ),
    bins AS (
        SELECT test.b,
               test.n_test, test.y_test,
               CAST(train.yt AS DOUBLE) / train.nt AS f_pred,
               CAST(test.y_test AS DOUBLE) / test.n_test AS obs_rate
        FROM test JOIN train ON train.b = test.b
    ),
    tot AS (
        SELECT SUM(n_test) AS n,
               CAST(SUM(y_test) AS DOUBLE) / SUM(n_test) AS obar
        FROM bins
    ),
    parts AS (
        SELECT
            CAST(SUM(CAST(round(
                n_test * (f_pred - obs_rate) * (f_pred - obs_rate),
                12) AS DECIMAL(28,12))) AS DOUBLE) / t.n AS rel,
            CAST(SUM(CAST(round(
                n_test * (obs_rate - t.obar) * (obs_rate - t.obar),
                12) AS DECIMAL(28,12))) AS DOUBLE) / t.n AS res,
            t.obar * (1.0 - t.obar) AS unc
        FROM bins, tot t GROUP BY t.n, t.obar
    )
    SELECT CAST(bins.b AS BIGINT) AS bin,
           CAST(bins.n_test AS BIGINT) AS n_test,
           bins.f_pred, bins.obs_rate,
           p.rel AS reliability,
           p.res AS resolution,
           p.unc AS uncertainty,
           p.rel - p.res + p.unc AS brier
    FROM bins, parts p
    """,
    tags=("quality", "calibration", "statistics"),
)
def quality_brier_calibration_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brier score with the MURPHY DECOMPOSITION on a train/test
    split: per-bin forecasts f_k are the TRAINING pool's empirical
    rates (the reliability-diagram table — the same length-bin →
    long-document outcome the isotonic op calibrates), evaluated on
    the held-out src0 slice, decomposed as Brier = REL − RES + UNC
    (reliability: how far forecasts sit from observed test rates;
    resolution: how much the bins separate outcomes; uncertainty:
    the base-rate floor ō(1−ō)) — the calibration EVALUATION the
    isotonic op's fit deserves, and exact: every rate is an integer
    ratio, every weighted square is rounded to 12 decimals and
    summed as exact decimals, and the decomposition identity holds
    exactly because forecasts are constant within bins.

    Scale: two conditional-sum groupBys to bin-sized tables (the
    histogram-state convention); everything after runs over the bin
    domain.  Test bins unseen in training drop (no forecast exists) —
    the standard reliability-diagram convention, mirrored on both
    engines."""
    bins = _reliability_bins(spark, sf_dir)
    tot = bins.agg(
        F.sum("n_test").alias("n"),
        (
            F.sum("y_test").cast("double") / F.sum("n_test")
        ).alias("obar"),
    )
    wb = bins.crossJoin(F.broadcast(tot))
    parts = wb.groupBy("n", "obar").agg(
        (
            F.sum(
                F.round(
                    F.col("n_test")
                    * (F.col("f_pred") - F.col("obs_rate"))
                    * (F.col("f_pred") - F.col("obs_rate")),
                    12,
                ).cast("decimal(28,12)")
            ).cast("double")
            / F.col("n")
        ).alias("rel"),
        (
            F.sum(
                F.round(
                    F.col("n_test")
                    * (F.col("obs_rate") - F.col("obar"))
                    * (F.col("obs_rate") - F.col("obar")),
                    12,
                ).cast("decimal(28,12)")
            ).cast("double")
            / F.col("n")
        ).alias("res"),
    ).select(
        "rel",
        "res",
        (F.col("obar") * (F.lit(1.0) - F.col("obar"))).alias("unc"),
    )
    return bins.crossJoin(F.broadcast(parts)).select(
        F.col("b").cast("bigint").alias("bin"),
        F.col("n_test").cast("bigint").alias("n_test"),
        "f_pred",
        "obs_rate",
        F.col("rel").alias("reliability"),
        F.col("res").alias("resolution"),
        F.col("unc").alias("uncertainty"),
        (F.col("rel") - F.col("res") + F.col("unc")).alias("brier"),
    )


@register(
    "quality_roc_auc_length_classifier",
    oracle=f"""
    WITH labeled AS (
        SELECT n_chars AS score,
               CASE WHEN len(string_split(text, ' '))
                        > {ISO_TOKEN_THRESHOLD} THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    hist AS (
        SELECT score, SUM(y) AS pos, count(*) - SUM(y) AS neg
        FROM labeled GROUP BY score
    ),
    cum AS (
        SELECT score, pos, neg,
               coalesce(SUM(pos + neg) OVER (ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS lt_comb
        FROM hist
    ),
    tot AS (
        SELECT SUM(pos) AS n1, SUM(neg) AS n0 FROM hist
    ),
    ranksum AS (
        SELECT SUM(pos * (2 * lt_comb + pos + neg + 1)) AS s2
        FROM cum
    )
    SELECT CAST(t.n1 AS BIGINT) AS n_pos,
           CAST(t.n0 AS BIGINT) AS n_neg,
           CAST(r.s2 AS BIGINT) AS rank_sum_x2,
           CAST(r.s2 - t.n1 * (t.n1 + 1) AS DOUBLE)
               / (2.0 * t.n1 * t.n0) AS auc
    FROM ranksum r, tot t
    """,
    tags=("quality", "calibration", "statistics"),
)
def quality_roc_auc_length_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT ROC-AUC of document length as a classifier for the
    long-document outcome, via the Mann-Whitney identity
    AUC = (R₊ − n₊(n₊+1)/2)/(n₊·n₋) with R₊ the positive class's
    midrank sum — completing the ML-evaluation family (the Brier op
    scores probability CALIBRATION; AUC scores pure RANKING, and the
    identity makes it a rank statistic, not a threshold sweep): using
    DOUBLED midranks (2R = 2·#less + #eq + 1, an integer — the
    Spearman/CvM convention) the whole computation is integer
    arithmetic on the score-distinct histogram with one exclusive
    cumulative window, ties handled exactly, and the final AUC is a
    single division.  No sorted threshold sweep, no trapezoid — the
    rank identity IS the area.

    Scale: histogram-sized state (score-distinct), one cumulative
    window over the score domain — the KS/CvM cost class.  Grouped
    AUCs (per source/model) partition the window by group."""
    hist, tot = _score_hist(spark, sf_dir)

    prev = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = hist.select(
        "pos",
        "neg",
        F.coalesce(
            F.sum(F.col("pos") + F.col("neg")).over(prev), F.lit(0)
        ).alias("lt_comb"),
    )
    ranksum = cum.agg(
        F.sum(
            F.col("pos")
            * (
                F.lit(2) * F.col("lt_comb")
                + F.col("pos")
                + F.col("neg")
                + F.lit(1)
            )
        ).alias("s2")
    )
    return ranksum.crossJoin(F.broadcast(tot)).select(
        F.col("n1").cast("bigint").alias("n_pos"),
        F.col("n0").cast("bigint").alias("n_neg"),
        F.col("s2").cast("bigint").alias("rank_sum_x2"),
        (
            (
                F.col("s2") - F.col("n1") * (F.col("n1") + F.lit(1))
            ).cast("double")
            / (F.lit(2.0) * F.col("n1") * F.col("n0"))
        ).alias("auc"),
    )


@register(
    "quality_expected_calibration_error",
    oracle=f"""
    WITH labeled AS (
        SELECT n_chars // {ISO_BIN_CHARS} AS b,
               CASE WHEN len(string_split(text, ' '))
                        > {ISO_TOKEN_THRESHOLD} THEN 1 ELSE 0 END AS y,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_test
        FROM documents
    ),
    train AS (
        SELECT b, count(*) AS nt, SUM(y) AS yt
        FROM labeled WHERE is_test = 0 GROUP BY b
    ),
    test AS (
        SELECT b, count(*) AS n_test, SUM(y) AS y_test
        FROM labeled WHERE is_test = 1 GROUP BY b
    ),
    bins AS (
        SELECT test.b,
               test.n_test,
               CAST(train.yt AS DOUBLE) / train.nt AS f_pred,
               CAST(test.y_test AS DOUBLE) / test.n_test AS obs_rate
        FROM test JOIN train ON train.b = test.b
    ),
    tot AS (SELECT SUM(n_test) AS n FROM bins),
    g AS (
        SELECT CAST(SUM(CAST(round(
                   n_test * abs(f_pred - obs_rate), 12)
               AS DECIMAL(28,12))) AS DOUBLE) / t.n AS ece,
               max(abs(f_pred - obs_rate)) AS mce
        FROM bins, tot t GROUP BY t.n
    )
    SELECT CAST(bins.b AS BIGINT) AS bin,
           CAST(bins.n_test AS BIGINT) AS n_test,
           bins.f_pred, bins.obs_rate,
           abs(bins.f_pred - bins.obs_rate) AS abs_gap,
           g.ece, g.mce
    FROM bins, g
    """,
    tags=("quality", "calibration", "statistics"),
)
def quality_expected_calibration_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Expected / maximum calibration error on the same train/test
    reliability table as the Brier decomposition: ECE is the
    bin-weighted mean |forecast - observed| (the single calibration
    number model cards quote), MCE the worst bin — together the
    L1/L-inf companions to Brier's quadratic view, and the gate a
    quality-classifier pipeline alarms on when its score drifts from
    reality.  Same forecasts (training pool's empirical rates per
    ISO_BIN_CHARS length bin), same held-out src0 evaluation, so the
    three calibration ops triangulate one reliability diagram.

    Exactness: every rate is an integer ratio; per-bin weighted gaps
    quantize to round-12 DECIMAL before the order-independent sum;
    MCE is a max over exact doubles — no float accumulation anywhere.

    Scale: identical to the Brier op — two conditional-sum groupBys
    to bin-sized tables, then bin-domain algebra only."""
    bins = _reliability_bins(spark, sf_dir)
    gap = F.abs(F.col("f_pred") - F.col("obs_rate"))
    g = bins.agg(
        (
            F.sum(
                F.round(F.col("n_test") * gap, 12).cast(
                    "decimal(28,12)"
                )
            ).cast("double")
            / F.sum("n_test")
        ).alias("ece"),
        F.max(gap).alias("mce"),
    )
    return bins.crossJoin(F.broadcast(g)).select(
        F.col("b").cast("bigint").alias("bin"),
        F.col("n_test").cast("bigint").alias("n_test"),
        "f_pred",
        "obs_rate",
        gap.alias("abs_gap"),
        "ece",
        "mce",
    )


#: z_{0.80} — the 80%-power point of the standard normal (literal, so
#: both engines compute the identical MDE).
Z_POWER_080 = 0.8416212335729143


@register(
    "quality_ab_minimum_detectable_effect",
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
               CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS p_pool
        FROM agg
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           p_pool,
           CASE WHEN n_a = 0 OR n_b = 0 THEN NULL
                ELSE ({Z_CRIT_005} + {Z_POWER_080})
                     * sqrt(p_pool * (1.0 - p_pool)
                            * (1.0 / n_a + 1.0 / n_b))
           END AS mde_abs,
           CASE WHEN n_a = 0 OR n_b = 0 OR p_pool = 0 THEN NULL
                ELSE ({Z_CRIT_005} + {Z_POWER_080})
                     * sqrt(p_pool * (1.0 - p_pool)
                            * (1.0 / n_a + 1.0 / n_b)) / p_pool
           END AS mde_rel
    FROM p
    """,
    tags=("quality", "statistics", "abtest"),
)
def quality_ab_minimum_detectable_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Minimum detectable effect for the A/B conversion test — the
    POWER half the z-test family is incomplete without: a
    non-significant quality_two_proportion_ztest result means nothing
    until you know what effect the sample COULD have detected.  MDE
    at alpha = 0.05 (two-sided) and 80% power is
    (z_alpha/2 + z_0.80) * sqrt(p(1-p)(1/n_a + 1/n_b)) on the pooled
    rate — the number an experimentation pipeline compares against
    the business-relevant effect size before declaring 'no
    difference', and the sizing rule for how long to keep the
    experiment running.  Same variant/conversion cells as the z-test
    op (user_id parity, purchase conversion), both z points literals,
    NULL-guarded for empty variants (the z-test ops' convention).

    Exactness: four integer cells from one conditional-sum aggregate;
    the MDE is one mirrored IEEE chain (sqrt correctly rounded).

    Scale: one map-side-combined aggregate over the scan — the
    cheapest cost class in the registry."""
    e = table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("variant"),
        (F.col("event_type") == "purchase").cast("int").alias("conv"),
    )
    agg = e.agg(
        F.sum((F.col("variant") == 0).cast("int")).alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0)).alias(
            "conv_a"
        ),
        F.sum((F.col("variant") == 1).cast("int")).alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0)).alias(
            "conv_b"
        ),
    )
    p_pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    pp = agg.select("n_a", "n_b", p_pool.alias("p_pool"))
    mde = (
        F.lit(Z_CRIT_005) + F.lit(Z_POWER_080)
    ) * F.sqrt(
        F.col("p_pool")
        * (F.lit(1.0) - F.col("p_pool"))
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return pp.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        "p_pool",
        F.when(ok, mde).alias("mde_abs"),
        F.when(ok & (F.col("p_pool") != 0), mde / F.col("p_pool")).alias(
            "mde_rel"
        ),
    )



@register(
    "quality_pr_auc_length_classifier",
    oracle=f"""
    WITH labeled AS (
        SELECT n_chars AS score,
               CASE WHEN len(string_split(text, ' '))
                        > {ISO_TOKEN_THRESHOLD} THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    hist AS (
        SELECT score, SUM(y) AS pos, count(*) - SUM(y) AS neg
        FROM labeled GROUP BY score
    ),
    cum AS (
        SELECT score,
               SUM(pos) OVER (ORDER BY score DESC) AS tp,
               SUM(neg) OVER (ORDER BY score DESC) AS fp,
               coalesce(SUM(pos) OVER (ORDER BY score DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS tp_prev
        FROM hist
    ),
    tot AS (SELECT SUM(pos) AS n1, SUM(neg) AS n0 FROM hist),
    terms AS (
        SELECT score, tp, fp,
               CAST(round(CAST((tp - tp_prev) * tp AS DOUBLE)
                          / (tp + fp), 12) AS DECIMAL(28,12)) AS term
        FROM cum
    ),
    ap AS (
        SELECT CAST(SUM(term) AS DOUBLE) / t.n1 AS average_precision
        FROM terms, tot t GROUP BY t.n1
    )
    SELECT c.score, CAST(c.tp AS BIGINT) AS tp,
           CAST(c.fp AS BIGINT) AS fp,
           CAST(c.tp AS DOUBLE) / (c.tp + c.fp) AS precision_at,
           CAST(c.tp AS DOUBLE) / t.n1 AS recall_at,
           CAST(t.n1 AS BIGINT) AS n_pos,
           CAST(t.n0 AS BIGINT) AS n_neg,
           a.average_precision
    FROM cum c, tot t, ap a
    """,
    tags=("quality", "calibration", "statistics"),
)
def quality_pr_auc_length_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Average precision (area under the precision-recall step curve)
    of document length as a classifier for the long-document outcome —
    the PR counterpart of quality_roc_auc_length_classifier, and the
    metric that matters when positives are rare (ROC-AUC is
    prevalence-blind; AP weights by the positive class): the step-sum
    AP = Σ_t (R_t − R_{{t−1}})·P_t over score-distinct thresholds —
    exactly the sklearn average_precision_score definition, which is
    TIE-ROBUST because tied scores collapse into one threshold (no
    per-row ranking, no tie-order dependence).

    Exactness: tp/fp are cumulative integers on the score-distinct
    histogram (one descending window, the ROC op's cost class);
    ΔTP·TP is BIGINT-exact, each threshold term has ONE division by
    the integer (TP+FP) then round-12 DECIMAL before the
    order-independent sum; AP divides once by n_pos.  Output is the
    full PR curve (per-threshold precision/recall) with AP attached
    to every row.

    Scale: histogram-sized state (score-distinct); one window over the
    score domain — identical bound to the ROC op."""
    hist, tot = _score_hist(spark, sf_dir)

    desc = Window.orderBy(F.col("score").desc())
    cum = hist.select(
        "score",
        F.sum("pos")
        .over(desc.rowsBetween(Window.unboundedPreceding, 0))
        .alias("tp"),
        F.sum("neg")
        .over(desc.rowsBetween(Window.unboundedPreceding, 0))
        .alias("fp"),
        F.coalesce(
            F.sum("pos").over(
                desc.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("tp_prev"),
    )
    terms = cum.select(
        F.round(
            ((F.col("tp") - F.col("tp_prev")) * F.col("tp")).cast(
                "double"
            )
            / (F.col("tp") + F.col("fp")),
            12,
        )
        .cast("decimal(28,12)")
        .alias("term")
    )
    ap = (
        terms.crossJoin(F.broadcast(tot))
        .groupBy("n1")
        .agg(
            (F.sum("term").cast("double") / F.col("n1")).alias(
                "average_precision"
            )
        )
        .select("average_precision")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ap))
        .select(
            "score",
            F.col("tp").cast("bigint").alias("tp"),
            F.col("fp").cast("bigint").alias("fp"),
            (
                F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))
            ).alias("precision_at"),
            (F.col("tp").cast("double") / F.col("n1")).alias("recall_at"),
            F.col("n1").cast("bigint").alias("n_pos"),
            F.col("n0").cast("bigint").alias("n_neg"),
            "average_precision",
        )
    )


#: Shared fixed-order MCC denominator text over the confusion counts
#: (tp, fp, tn, fn) — four separate float sqrts multiplied, so the
#: intermediate products never leave DOUBLE range (the all-BIGINT
#: product (tp+fp)(tp+fn)(tn+fp)(tn+fn) overflows at n ~ 1e5).
_MCC_SQL = (
    "(CAST(tp * tn - fp * fn AS DOUBLE)"
    " / (sqrt(CAST(tp + fp AS DOUBLE)) * sqrt(CAST(tp + fn AS DOUBLE))"
    " * sqrt(CAST(tn + fp AS DOUBLE)) * sqrt(CAST(tn + fn AS DOUBLE))))"
)


@register(
    "quality_mcc_youden_threshold_sweep",
    oracle=f"""
    WITH labeled AS (
        SELECT n_chars AS score,
               CASE WHEN len(string_split(text, ' '))
                        > {ISO_TOKEN_THRESHOLD} THEN 1 ELSE 0 END AS y
        FROM documents
    ),
    hist AS (
        SELECT score, SUM(y) AS pos, count(*) - SUM(y) AS neg
        FROM labeled GROUP BY score
    ),
    tot AS (SELECT SUM(pos) AS n1, SUM(neg) AS n0 FROM hist),
    cum AS (
        SELECT score,
               CAST(SUM(pos) OVER (ORDER BY score DESC) AS BIGINT) AS tp,
               CAST(SUM(neg) OVER (ORDER BY score DESC) AS BIGINT) AS fp
        FROM hist
    ),
    conf AS (
        SELECT c.score, c.tp, c.fp,
               CAST(t.n0 - c.fp AS BIGINT) AS tn,
               CAST(t.n1 - c.tp AS BIGINT) AS fn,
               CAST(c.tp AS DOUBLE) / t.n1
                   - CAST(c.fp AS DOUBLE) / t.n0 AS youden_j
        FROM cum c, tot t
    ),
    scored AS (
        SELECT score, tp, fp, tn, fn, youden_j,
               CASE WHEN (tp + fp) * (tn + fn) = 0
                         OR (tp + fn) * (tn + fp) = 0
                    THEN NULL ELSE {_MCC_SQL} END AS mcc
        FROM conf
    ),
    best AS (
        SELECT score AS best_youden_score FROM (
            SELECT score, row_number() OVER (
                ORDER BY youden_j DESC, score) AS rk
            FROM scored
        ) WHERE rk = 1
    )
    SELECT s.score, s.tp, s.fp, s.tn, s.fn, s.youden_j, s.mcc,
           b.best_youden_score
    FROM scored s, best b
    """,
    tags=("quality", "calibration", "statistics"),
)
def quality_mcc_youden_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matthews correlation and Youden's J across every decision
    threshold of the length classifier — the THRESHOLD-CHOICE member
    of the classifier-eval family (ROC-AUC and AP score the ranking;
    calibration scores the probabilities; this table says WHERE to cut,
    with the two standard prevalence-robust criteria), plus the argmax-
    Youden threshold attached to every row (the operating point a
    filter pipeline would deploy).

    Exactness: the confusion matrix is cumulative integers on the
    score-distinct histogram (one descending window — the ROC/PR cost
    class); the MCC numerator tp·tn − fp·fn is BIGINT-exact; the
    denominator multiplies FOUR separate float sqrts (one shared
    fixed-order text) so no integer product can overflow at any n;
    degenerate thresholds (an empty margin row/column) are NULL on
    both engines; Youden is two mirrored divisions.

    Scale: histogram-sized state; identical bound to the ROC-AUC op."""
    hist, tot = _score_hist(spark, sf_dir)

    desc = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select(
        "score",
        F.sum("pos").over(desc).cast("bigint").alias("tp"),
        F.sum("neg").over(desc).cast("bigint").alias("fp"),
    )
    conf = cum.crossJoin(F.broadcast(tot)).select(
        "score",
        "tp",
        "fp",
        (F.col("n0") - F.col("fp")).cast("bigint").alias("tn"),
        (F.col("n1") - F.col("tp")).cast("bigint").alias("fn"),
        (
            F.col("tp").cast("double") / F.col("n1")
            - F.col("fp").cast("double") / F.col("n0")
        ).alias("youden_j"),
    )
    scored = conf.select(
        "score",
        "tp",
        "fp",
        "tn",
        "fn",
        "youden_j",
        F.when(
            ((F.col("tp") + F.col("fp")) * (F.col("tn") + F.col("fn")) == 0)
            | (
                (F.col("tp") + F.col("fn")) * (F.col("tn") + F.col("fp"))
                == 0
            ),
            F.lit(None).cast("double"),
        )
        .otherwise(F.expr(_MCC_SQL))
        .alias("mcc"),
    )
    best = (
        scored.select(
            "score",
            F.row_number()
            .over(Window.orderBy(F.col("youden_j").desc(), "score"))
            .alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .select(F.col("score").alias("best_youden_score"))
    )
    return scored.crossJoin(F.broadcast(best))
