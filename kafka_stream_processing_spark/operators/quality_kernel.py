"""Shared kernel for the quality-operator families: the chi-squared
critical-value SQL (Wilson-Hilferty beyond the lookup table), the
normal critical value, the k-anonymity bucketing width, and the
two-sample drift kernels the EDF and rank families walk:

- ``_ref_vs_rest_hist``: the pooled reference-vs-rest value histogram
  (``ca_i``/``cb_i`` per distinct value) with its totals ``na``/``nb``;
  ``_ecdf`` and ``_midrank_walk`` are its two walks (the inclusive
  ECDF step and the exclusive below-counts of the doubled midrank).
- ``_ref_vs_source_hist``: src0 against each other source, one
  histogram per source; ``_ref_vs_source_walk`` adds the per-source
  totals and the cumulative ``(ca, cb, v_next)`` walk, and
  ``_mann_whitney_u`` the per-source midrank U statistic and z.
- ``_source_moments``: the exact per-source (n, sum, sum of squares).

The oracle CTEs those kernels mirror are shared strings too
(``_POOLED_HIST_CTE``, ``_MIDRANK_WALK_CTE``, ``_REF_VS_SOURCE_CTE``,
``_REF_VS_SOURCE_WALK_CTE``).

Extracted from the original single-module quality.py (r09 split) so
each family module imports ONE copy — the shared-kernel guards in
tests/ pin that batch and streaming callers run the same text.
"""


from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_processing_spark.sources.tables import table


#: Upper-tail chi-squared critical values at alpha = 0.05 by degrees of
#: freedom (literals, so both engines compare against identical doubles).
#: Standard published table through dof=30; beyond it both engines fall
#: back to the Wilson-Hilferty cube approximation (below) so the drift
#: gate NEVER returns a NULL verdict — a gate that silently stops gating
#: when the category count grows is worse than a slightly approximate
#: threshold.
CHI2_CRIT_005 = {1: 3.841, 2: 5.991, 3: 7.815, 4: 9.488, 5: 11.070,
                 6: 12.592, 7: 14.067, 8: 15.507, 9: 16.919, 10: 18.307,
                 11: 19.675, 12: 21.026, 13: 22.362, 14: 23.685,
                 15: 24.996, 16: 26.296, 17: 27.587, 18: 28.869,
                 19: 30.144, 20: 31.410, 21: 32.671, 22: 33.924,
                 23: 35.172, 24: 36.415, 25: 37.652, 26: 38.885,
                 27: 40.113, 28: 41.337, 29: 42.557, 30: 43.773}


#: z_{0.95} for the Wilson-Hilferty fallback (dof > 30):
#: crit = dof * b^3 with b = 1 - 2/(9*dof) + z*sqrt(2/(9*dof)).
#: The cube is spelled b*b*b (not pow) and sqrt/divide are IEEE
#: correctly-rounded, so the fallback is bit-identical cross-engine
#: just like the literal table.
_WH_Z095 = 1.6448536269514722


_WH_B_SQL = (
    f"(1 - 2.0 / (9 * dof) + {_WH_Z095} * sqrt(2.0 / (9 * dof)))"
)


_CHI2_CRIT_SQL = "CASE " + " ".join(
    f"WHEN dof = {k} THEN {v}" for k, v in CHI2_CRIT_005.items()
) + f" ELSE dof * {_WH_B_SQL} * {_WH_B_SQL} * {_WH_B_SQL} END"


def _chi2_crit_005(dof: Column) -> Column:
    """``_CHI2_CRIT_SQL`` as a Spark column over the integer ``dof``:
    the table value, else the Wilson-Hilferty cube in the same b*b*b
    spelling, so both engines compare against identical doubles."""
    dof_d = dof.cast("double")
    wh_b = (
        F.lit(1.0)
        - F.lit(2.0) / (F.lit(9.0) * dof_d)
        + F.lit(_WH_Z095) * F.sqrt(F.lit(2.0) / (F.lit(9.0) * dof_d))
    )
    crit = dof_d * wh_b * wh_b * wh_b
    for k, v in CHI2_CRIT_005.items():
        crit = F.when(dof == k, F.lit(v)).otherwise(crit)
    return crit


# ---------------------------------------------------------------------------
# Privacy and skew audits
# ---------------------------------------------------------------------------

#: k-anonymity bands: a group's size k determines its re-identification
#: risk class.  Frontiers are the conventional k=5 / k=20 policy cuts.
KANON_BUCKET_CHARS = 100


# ---------------------------------------------------------------------------
# Two-proportion z-test (A/B experiment readout)
# ---------------------------------------------------------------------------

#: Two-sided z critical value at alpha = 0.05.
Z_CRIT_005 = 1.959963984540054


# ---------------------------------------------------------------------------
# Two-sample drift kernels: the reference slice against the rest
# ---------------------------------------------------------------------------

#: Oracle text of ``_ref_vs_rest_hist`` over documents: ``rows_t`` flags
#: each row's side, ``hist`` counts both sides per distinct value.
_POOLED_HIST_CTE = """WITH rows_t AS (
        SELECT n_chars AS v,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_a,
               CASE WHEN source = 'src0' THEN 0 ELSE 1 END AS is_b
        FROM documents
    ),
    hist AS (
        SELECT v, SUM(is_a) AS ca_i, SUM(is_b) AS cb_i
        FROM rows_t GROUP BY v
    ),"""


#: Oracle text of ``_midrank_walk`` (the rows strictly below ``v``).
_MIDRANK_WALK_CTE = """walk AS (
        SELECT v, ca_i,
               coalesce(SUM(ca_i + cb_i) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS lt,
               ca_i + cb_i AS m
        FROM hist
    ),"""


def _ref_vs_rest_hist(
    rows: DataFrame, v: Column | None = None, is_ref: Column | None = None
) -> DataFrame:
    """The pooled two-sample histogram every reference-vs-rest drift
    gate walks: one row per distinct value ``v`` of ``rows`` with
    ``ca_i`` reference rows, ``cb_i`` rows of the rest, and the side
    totals ``na``/``nb`` on every row.  The reference is the rows where
    ``is_ref`` holds (default: ``source = 'src0'``); every other row is
    the rest, as in the oracles' ``CASE WHEN`` split.  ``v`` defaults
    to ``n_chars``.  Counts are exact BIGINTs, and the totals window
    runs over the value-distinct histogram, never over the rows."""
    if v is None:
        v = F.col("n_chars")
    if is_ref is None:
        is_ref = F.col("source") == "src0"
    is_a = F.when(is_ref, F.lit(1)).otherwise(F.lit(0))
    whole = Window.partitionBy()
    return (
        rows.groupBy(v.alias("v"))
        .agg(F.sum(is_a).alias("ca_i"), F.sum(1 - is_a).alias("cb_i"))
        .select(
            "v",
            "ca_i",
            "cb_i",
            F.sum("ca_i").over(whole).alias("na"),
            F.sum("cb_i").over(whole).alias("nb"),
        )
    )


def _ecdf(hist: DataFrame) -> DataFrame:
    """``hist`` (from ``_ref_vs_rest_hist``) with the ECDF numerators
    ``ca``/``cb``: reference and rest rows at or below ``v``.  The frame
    ends at the current value, so a tied block enters the step whole
    (the right-continuous ECDF)."""
    upto = Window.orderBy("v").rangeBetween(Window.unboundedPreceding, 0)
    return hist.select(
        "*",
        F.sum("ca_i").over(upto).alias("ca"),
        F.sum("cb_i").over(upto).alias("cb"),
    )


def _midrank_walk(hist: DataFrame) -> DataFrame:
    """``hist`` (from ``_ref_vs_rest_hist``) with the exclusive
    below-counts of the doubled-midrank tie convention: ``lt`` pooled
    rows strictly below ``v`` (``lt_a``/``lt_b`` per side), ``m`` rows
    tied at ``v``, and ``r2 = 2*lt + m + 1``, twice the midrank every
    row at ``v`` shares — an exact integer under any ties."""
    below = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    m = F.col("ca_i") + F.col("cb_i")
    return hist.select(
        "*",
        F.coalesce(F.sum(m).over(below), F.lit(0)).alias("lt"),
        F.coalesce(F.sum("ca_i").over(below), F.lit(0)).alias("lt_a"),
        F.coalesce(F.sum("cb_i").over(below), F.lit(0)).alias("lt_b"),
        m.alias("m"),
    ).withColumn("r2", 2 * F.col("lt") + F.col("m") + 1)


#: Oracle text of ``_ref_vs_source_hist``.
_REF_VS_SOURCE_CTE = """WITH x AS (SELECT source, n_chars AS v FROM documents),
    srcs AS (SELECT DISTINCT source AS s FROM x WHERE source <> 'src0'),
    ref_hist AS (
        SELECT v, count(*) AS a FROM x WHERE source = 'src0' GROUP BY v
    ),
    src_hist AS (
        SELECT source AS s, v, count(*) AS b
        FROM x WHERE source <> 'src0' GROUP BY 1, 2
    ),
    merged AS (
        SELECT s, v, SUM(a) AS a, SUM(b) AS b FROM (
            SELECT s, v, 0 AS a, b FROM src_hist
            UNION ALL
            SELECT srcs.s, r.v, r.a, 0 AS b FROM srcs CROSS JOIN ref_hist r
        ) GROUP BY 1, 2
    ),"""


#: Oracle text of the per-source totals and the walk of
#: ``_ref_vs_source_walk`` that the transport metrics read.
_REF_VS_SOURCE_WALK_CTE = """tot AS (SELECT s, SUM(a) AS na, SUM(b) AS nb FROM merged GROUP BY s),
    walked AS (
        SELECT m.s, m.v, t.na, t.nb,
               SUM(m.a) OVER (PARTITION BY m.s ORDER BY m.v
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS ca,
               SUM(m.b) OVER (PARTITION BY m.s ORDER BY m.v
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS cb,
               lead(m.v) OVER (PARTITION BY m.s ORDER BY m.v)
                   AS v_next
        FROM merged m JOIN tot t ON t.s = m.s
    ),"""


#: Two-sample (src0 vs each other source) value histogram: one row per
#: (source s, distinct value v) with the reference count `a` and the
#: source count `b`.  Histogram-sized, never corpus-sized.  Used by the
#: per-source walk (Anderson-Darling, Hellinger/TV, Wasserstein, energy
#: distance), the Mann-Whitney U (the single gate and its BH-FDR
#: battery) and Cliff's delta.
def _ref_vs_source_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    x = table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").alias("v")
    )
    srcs = (
        x.filter(F.col("source") != "src0")
        .select(F.col("source").alias("s"))
        .distinct()
    )
    ref_hist = (
        x.filter(F.col("source") == "src0")
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("a"))
    )
    src_hist = (
        x.filter(F.col("source") != "src0")
        .groupBy(F.col("source").alias("s"), "v")
        .agg(F.count(F.lit(1)).alias("b"))
    )
    return (
        src_hist.select("s", "v", F.lit(0).cast("bigint").alias("a"), "b")
        .unionByName(
            srcs.crossJoin(F.broadcast(ref_hist)).select(
                "s", "v", "a", F.lit(0).cast("bigint").alias("b")
            )
        )
        .groupBy("s", "v")
        .agg(F.sum("a").alias("a"), F.sum("b").alias("b"))
    )


def _ref_vs_source_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``_ref_vs_source_hist`` walked per source in value order: the
    source's totals ``na``/``nb`` on every row, the cumulative counts
    ``ca``/``cb`` at or below ``v`` (the two ECDF steps), and the next
    distinct value ``v_next`` (NULL on the source's last value), so
    ``v_next - v`` is the width each step spans."""
    per_source = Window.partitionBy("s")
    in_order = per_source.orderBy("v")
    upto = in_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return _ref_vs_source_hist(spark, sf_dir).select(
        "s",
        "v",
        "a",
        "b",
        F.sum("a").over(per_source).alias("na"),
        F.sum("b").over(per_source).alias("nb"),
        F.sum("a").over(upto).alias("ca"),
        F.sum("b").over(upto).alias("cb"),
        F.lead("v").over(in_order).alias("v_next"),
    )


def _mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Mann-Whitney U of each source against src0, off
    ``_ref_vs_source_hist``: one row per source ``s`` with the sample
    sizes ``na``/``nb``, the doubled statistic ``u2 = 2U`` (doubled
    midranks 2*below + m + 1 keep every rank sum an exact BIGINT) and
    its z, tie-corrected by Σ(m³−m) — one fixed IEEE chain over the
    integers, mirrored textually in the oracles."""
    below = (
        Window.partitionBy("s")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    m = F.col("a") + F.col("b")
    ranked = _ref_vs_source_hist(spark, sf_dir).select(
        "s",
        "a",
        "b",
        m.alias("m"),
        F.coalesce(F.sum(m).over(below), F.lit(0)).alias("sb"),
    )
    stats = ranked.groupBy("s").agg(
        F.sum("a").alias("na"),
        F.sum("b").alias("nb"),
        F.sum(
            F.col("b") * (2 * F.col("sb") + F.col("m") + 1)
        ).alias("r2"),
        F.sum(
            F.col("m") * F.col("m") * F.col("m") - F.col("m")
        ).alias("tie"),
    )
    scored = stats.select(
        "s",
        "na",
        "nb",
        (F.col("r2") - F.col("nb") * (F.col("nb") + 1)).alias("u2"),
        (F.col("na") * F.col("nb")).alias("mu2"),
        (F.col("na") + F.col("nb")).alias("n"),
        "tie",
    )
    z = (F.col("u2").cast("double") - F.col("mu2").cast("double")) / (
        F.lit(2.0)
        * F.sqrt(
            (F.col("na").cast("double") * F.col("nb") / F.lit(12.0))
            * (
                (F.col("n") + F.lit(1.0))
                - F.col("tie").cast("double")
                / (F.col("n").cast("double") * (F.col("n") - F.lit(1.0)))
            )
        )
    )
    return scored.select("s", "na", "nb", "u2", z.alias("z"))


def _source_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact moments of document length, one
    map-side-combined groupBy: ``n`` documents, ``s`` = Σ n_chars and
    ``s2`` = Σ n_chars² (BIGINTs — n_chars is integral, so every
    variance downstream starts from exact integers)."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("s"),
            F.sum(F.col("n_chars") * F.col("n_chars")).alias("s2"),
        )
    )
