"""Training-data pipeline operators: deterministic splits, stratified
sampling, quality-filter chains, PII scrubbing.

These are the operations a 100 TB pretraining corpus actually needs
between raw scrape and tokenizer, expressed as narrow single-pass
DataFrame transforms:

- splits/sampling hash the DOCUMENT KEY (never rand()) so assignment is
  reproducible run to run, immune to partitioning, and consistent across
  engines — rerunning the pipeline after adding data never moves an old
  document to a different split;
- quality rules compare integer cross-products (``n_top * 8 <= n_words``)
  instead of float ratios, so keep/drop decisions are bit-identical on
  any engine — no document flips sides over a 1-ulp division difference;
- the PII scrub deterministically INJECTS synthetic emails/phones first
  (the synthetic corpus contains none), so the regex path is genuinely
  exercised and oracle-checked rather than trivially counting zeros.

All pure built-in expressions (split/filter/transform/aggregate
higher-order functions) — zero Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_processing_spark.operators.dedup import hash64
from kafka_stream_processing_spark.operators.word_kernel import (
    _GRAMS_SQL,
    _word_grams,
    words,
)
from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import fanout, table


def split_assign(key: Column, train_pct: int = 80, val_pct: int = 10) -> Column:
    """Deterministic split label from a key column: bucket = md5-derived
    hash mod 100.  Stable under data growth (a doc's split never changes
    when other docs arrive), engine-portable (md5, not xxhash/murmur),
    and skew-free (md5 is uniform over keys)."""
    bucket = hash64(key.cast("string")) % 100
    return (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )


@register(
    "sample_hash_split",
    oracle="""
    WITH assigned AS (
        SELECT lang, n_chars,
               CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                         AS BIGINT) % 100 < 80 THEN 'train'
                    WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                         AS BIGINT) % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT split, lang,
           count(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM assigned
    GROUP BY 1, 2
    """,
    tags=("pipeline", "sampling"),
)
def sample_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment by hashed doc_id, audited as
    per-(split, lang) counts + payload volume.

    Scale: the assignment is a stateless map over the scan — no shuffle,
    no sampling pass, no driver coordination; only the audit aggregate
    exchanges (split, lang)-partial rows.  Writing the actual splits is
    ``df.write.partitionBy("split")`` on the same expression."""
    d = fanout(table(spark, sf_dir, "documents"))
    return (
        d.withColumn("split", split_assign(F.col("doc_id")))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@register(
    "sample_stratified_topn",
    oracle="""
    WITH ranked AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                                 AS BIGINT), doc_id
               ) AS rank
        FROM documents
    )
    SELECT doc_id, lang, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
    """,
    tags=("pipeline", "sampling"),
)
def sample_stratified_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sample: 10 docs per language, selected by
    hash order (a uniform 'random' order that is reproducible and
    engine-portable, unlike rand(seed) which neither survives
    repartitioning nor matches across engines).

    Scale: one shuffle on the stratum key; rank<=10 cuts each partition
    to k rows early.  For heavily skewed strata swap row_number for the
    two-phase per-partition-top-k + merge that window_topk uses."""
    d = fanout(table(spark, sf_dir, "documents"))
    w = Window.partitionBy("lang").orderBy(
        hash64(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 10)
        .select("doc_id", "lang", "rank")
    )


def gopher_feature_columns(text_col: str = "text") -> list[Column]:
    """The four rule-chain feature expressions (word count, total token
    chars, top-word count, stopword count) over a whitespace-tokenized
    text column.  Exported so robustness tests exercise the operator's
    OWN expressions against degenerate inputs."""
    toks = words(text_col)
    return [
        F.size(toks).alias("n_words"),
        F.aggregate(
            F.transform(toks, lambda w: F.length(w)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
        F.array_max(
            F.transform(
                F.array_distinct(toks),
                lambda w: F.size(F.filter(toks, lambda t: t == w)),
            )
        ).alias("n_top"),
        F.size(
            F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "to", "in"))
        ).alias("n_stop"),
    ]


@register(
    "quality_gopher_filters",
    oracle="""
    WITH feats AS (
        SELECT lang,
               len(string_split(text, ' ')) AS n_words,
               CAST(list_aggregate(list_transform(string_split(text, ' '),
                                                  w -> length(w)), 'sum')
                    AS BIGINT) AS total_chars,
               list_max(list_transform(
                   list_distinct(string_split(text, ' ')),
                   w -> len(list_filter(string_split(text, ' '),
                                        t -> t = w)))) AS n_top,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ('the', 'a', 'of', 'and', 'to', 'in')))
                   AS n_stop
        FROM documents
    ),
    flagged AS (
        SELECT lang,
               (n_words >= 30)                                   AS ok_minlen,
               (total_chars >= 3 * n_words
                AND total_chars <= 8 * n_words)                  AS ok_meanlen,
               (n_top * 8 <= n_words)                            AS ok_repetition,
               (n_stop >= 1)                                     AS ok_stopword
        FROM feats
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(SUM(CASE WHEN NOT ok_minlen THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fail_minlen,
           CAST(SUM(CASE WHEN NOT ok_meanlen THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fail_meanlen,
           CAST(SUM(CASE WHEN NOT ok_repetition THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fail_repetition,
           CAST(SUM(CASE WHEN NOT ok_stopword THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fail_stopword,
           CAST(SUM(CASE WHEN ok_minlen AND ok_meanlen AND ok_repetition
                          AND ok_stopword THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep
    FROM flagged
    GROUP BY lang
    """,
    tags=("pipeline", "quality"),
)
def quality_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rule chain (min length, mean word
    length band, top-word repetition cap, stopword presence), audited per
    language.  Every rule is an integer cross-product comparison —
    ``n_top * 8 <= n_words`` not ``n_top/n_words <= 0.125`` — so the
    keep/drop frontier is exact on both engines.

    Scale: all four rules compute in ONE projection over the scan
    (higher-order array functions, no explode, no join); the only
    shuffle carries 6 counters per language.  The repetition rule is
    O(unique_words x words) per doc — bounded by document length, not
    corpus size."""
    d = fanout(table(spark, sf_dir, "documents"))
    feats = d.select("lang", *gopher_feature_columns())
    ok_minlen = F.col("n_words") >= 30
    ok_meanlen = (F.col("total_chars") >= 3 * F.col("n_words")) & (
        F.col("total_chars") <= 8 * F.col("n_words")
    )
    ok_repetition = F.col("n_top") * 8 <= F.col("n_words")
    ok_stopword = F.col("n_stop") >= 1
    fail = lambda ok: F.sum(F.when(~ok, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return feats.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        fail(ok_minlen).alias("n_fail_minlen"),
        fail(ok_meanlen).alias("n_fail_meanlen"),
        fail(ok_repetition).alias("n_fail_repetition"),
        fail(ok_stopword).alias("n_fail_stopword"),
        F.sum(
            F.when(ok_minlen & ok_meanlen & ok_repetition & ok_stopword, 1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_keep"),
    )


_EMAIL_RE = "[a-z0-9]+@[a-z]+\\.[a-z]+"
_PHONE_RE = "\\+1-555-[0-9]{4}"


def pii_augmented() -> Column:
    """The deterministic PII injection (docs with doc_id % 3 == 0 get a
    synthetic email+phone appended).  Exported so tests assert on the
    operator's OWN expression chain, not a copy that could go stale."""
    return F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
    ).otherwise(F.col("text"))


def pii_scrubbed(augmented: Column) -> Column:
    """Email-then-phone redaction over the given text column."""
    return F.regexp_replace(
        F.regexp_replace(augmented, _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH augmented AS (
        SELECT doc_id, lang,
               CASE WHEN doc_id % 3 = 0
                    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                         || '@example.com or +1-555-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    ELSE text END AS text
        FROM documents
    )
    SELECT doc_id, lang,
           len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
           md5(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_hash,
           length(regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                 '{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_len
    FROM augmented
    """,
    tags=("pipeline", "text"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: count and replace email/phone patterns, emitting a
    content hash of the scrubbed text as the audit trail.  The synthetic
    corpus contains no PII, so a deterministic fraction of documents
    (doc_id % 3 == 0) first gets a synthetic email+phone appended —
    the scrubber is verified to find and redact EXACTLY those.

    Regexes stay in the RE2-compatible subset (char classes, counted
    repetition) so Spark (java.util.regex) and the DuckDB oracle (RE2)
    match identical spans.  Scale: stateless per-row regexp — narrow
    transform, no shuffle, whole-stage codegen."""
    d = fanout(table(spark, sf_dir, "documents"))
    augmented = pii_augmented()
    scrubbed = pii_scrubbed(augmented)
    return d.select(
        "doc_id",
        "lang",
        F.size(F.regexp_extract_all(augmented, F.lit(_EMAIL_RE), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(augmented, F.lit(_PHONE_RE), F.lit(0))).alias(
            "n_phones"
        ),
        F.md5(scrubbed.cast("binary")).alias("scrubbed_hash"),
        F.length(scrubbed).alias("scrubbed_len"),
    )


@register(
    "sample_mixture_weights",
    oracle="""
    WITH weighted AS (
        SELECT source, lang,
               CASE WHEN CAST(substr(source, 4) AS INT) < 10 THEN 100 ELSE 25
                    END AS keep_pct,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                    AS BIGINT) % 100 AS bucket
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(SUM(CASE WHEN bucket < keep_pct THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled
    FROM weighted
    GROUP BY source
    """,
    tags=("pipeline", "sampling"),
)
def sample_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted corpus mixing: each source gets an acceptance rate (here
    100% for src0-9, 25% for src10-19 — the quality-tiered downsampling
    every pretraining mixture does) applied via the SAME keyed-hash
    acceptance test as the train/val split — deterministic, reproducible
    under data growth, and uniform within each source.

    Scale: stateless map + per-source counters; the actual sampled WRITE
    is `df.filter(bucket < keep_pct)` on the same expression — no
    sampling pass, no rand(), no driver coordination.  Changing the
    mixture re-runs only the filter, and documents kept at rate p remain
    kept at any rate >= p (nested samples: bucket is fixed per doc), so
    mixture ablations are supersets of each other."""
    d = fanout(table(spark, sf_dir, "documents"))
    keep_pct = F.when(
        F.substring("source", 4, 10).cast("int") < 10, 100
    ).otherwise(25)
    bucket = hash64(F.col("doc_id").cast("string")) % 100
    return (
        d.withColumn("keep_pct", keep_pct)
        .withColumn("bucket", bucket)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("bucket") < F.col("keep_pct"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_sampled"),
        )
    )


@register(
    "sample_temperature_weights",
    oracle="""
    WITH counts AS (
        SELECT source, lang, count(*) AS n_docs
        FROM documents GROUP BY source, lang
    ),
    w AS (
        SELECT source, lang, n_docs,
               CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(18,12)) AS wdec
        FROM counts
    ),
    tot AS (
        SELECT CAST(SUM(wdec) AS DOUBLE) AS wsum,
               CAST(SUM(n_docs) AS BIGINT) AS n_total
        FROM w
    )
    SELECT w.source, w.lang, w.n_docs,
           CAST(w.wdec AS DOUBLE) / t.wsum AS temp_share,
           (CAST(w.wdec AS DOUBLE) / t.wsum)
               * t.n_total / w.n_docs AS epochs_at_budget
    FROM w, tot t
    """,
    tags=("sampling", "mixture"),
)
def sample_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting (the multilingual/domain
    balancing rule from the mT5/GPT-3 recipes, T=2 i.e. p ∝ n^(1/2)):
    per (source, lang) cell, the sampling share is sqrt(n)/Σsqrt(n) —
    upweighting small domains, damping head domains — and
    ``epochs_at_budget`` is how many passes over the cell one corpus-
    sized token budget implies under that share (>1 means the cell
    repeats, the number a curator actually reads).  sqrt is IEEE
    correctly-rounded on every engine (fractional pow() is NOT, which is
    why the exponent is 1/2 and not 0.7 — a pow(n, 0.7) frontier can
    drift a ulp between libms); the share denominator sums
    decimal-quantized weights, so it is order-independent.

    Scale: one two-level hash aggregate over the corpus (cells =
    sources × langs, thousands at most) and a broadcast of the 1-row
    total — the reweighting table is computed in one pass and THEN
    drives the actual resampling via sample_mixture_weights' kernel."""
    d = fanout(table(spark, sf_dir, "documents"))
    counts = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = counts.withColumn(
        "wdec", F.sqrt(F.col("n_docs").cast("double")).cast("decimal(18,12)")
    )
    tot = w.agg(
        F.sum("wdec").cast("double").alias("wsum"),
        F.sum("n_docs").cast("bigint").alias("n_total"),
    )
    share = F.col("wdec").cast("double") / F.col("wsum")
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        share.alias("temp_share"),
        (share * F.col("n_total") / F.col("n_docs")).alias("epochs_at_budget"),
    )


#: DoReMi hyper-parameters: iteration count, multiplicative step on the
#: excess loss, and the uniform-smoothing mix — module constants so the
#: Spark loop and the unrolled oracle CTEs can never disagree.
DOREMI_T = 5
DOREMI_ETA = 2.0
DOREMI_SMOOTH = 0.1
_DEC12 = "decimal(18,12)"


def _doremi_iter_sql(k: int, prev: str) -> str:
    """One unrolled DoReMi update as an oracle CTE: reference loss under
    the current weights (decimal-summed, order-independent), clipped
    excess, multiplicative reweight, normalize, mix with uniform.  Every
    sum is over decimal-quantized terms and every division is DOUBLE /
    DOUBLE, so both engines walk bit-identical weight trajectories."""
    return f"""it{k} AS (
        SELECT source, n_docs, loss,
               CAST({1.0 - DOREMI_SMOOTH} *
                        (CAST(rawdec AS DOUBLE)
                         / CAST(SUM(rawdec) OVER () AS DOUBLE))
                    + {DOREMI_SMOOTH} / (COUNT(*) OVER ())
                    AS DECIMAL(18,12)) AS alpha
        FROM (
            SELECT source, n_docs, loss,
                   CAST(CAST(alpha AS DOUBLE) * (1.0 + {DOREMI_ETA}
                        * GREATEST(0.0, loss
                            - CAST(SUM(CAST(CAST(alpha AS DOUBLE) * loss
                                            AS DECIMAL(18,12))) OVER ()
                                   AS DOUBLE)))
                        AS DECIMAL(18,12)) AS rawdec
            FROM {prev}
        )
    )"""


def _doremi_oracle() -> str:
    its = ",\n    ".join(
        _doremi_iter_sql(k, f"it{k - 1}" if k > 1 else "a0")
        for k in range(1, DOREMI_T + 1)
    )
    return f"""
    WITH d0 AS (
        SELECT source, count(*) AS n_docs,
               CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE)
                   / count(*) / 1000.0 AS loss
        FROM documents GROUP BY source
    ),
    a0 AS (
        SELECT source, n_docs, loss,
               CAST(1.0 / (COUNT(*) OVER ()) AS DECIMAL(18,12)) AS alpha
        FROM d0
    ),
    {its}
    SELECT source, n_docs, loss AS proxy_loss,
           CAST(alpha AS DOUBLE) AS doremi_weight,
           CAST(alpha AS DOUBLE) * (SUM(n_docs) OVER ()) / n_docs
               AS epochs_at_budget
    FROM it{DOREMI_T}
    """


@register(
    "sample_doremi_domain_weights",
    oracle=_doremi_oracle(),
    tags=("sampling", "mixture", "iterative"),
)
def sample_doremi_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style iterative domain reweighting (Xie et al. 2023): the
    mixture weights a pretraining run gives each source domain are not
    set by size (temperature sampling's rule) but LEARNED by iterating —
    domains whose proxy loss exceeds the current mixture's reference
    loss get multiplicatively upweighted, then weights renormalize and
    mix with uniform smoothing.  Five multiplicative-weights rounds of
    ``α ∝ α·(1 + η·max(0, ℓ_d − Σ α ℓ))``, the paper's Group-DRO update
    with the exp() replaced by its first-order form so both engines walk
    a bit-identical trajectory (exp is libm-dependent; +,*,/ are IEEE
    correctly-rounded).  The per-domain proxy loss here is a
    deterministic corpus statistic (mean n_chars/1000) standing in for
    the proxy model's per-domain log-loss — the swap-in dataflow, like
    quality_model_score_linear's hashed weights.  Composes with
    sample_temperature_weights: that rule is the closed form this one
    replaces when a proxy loss is available.

    Scale: ONE distributed aggregate over the corpus (per-domain count +
    decimal loss sum); the T iterations then run on the D-row domain
    table — window sums over ~dozens of rows, zero further corpus
    passes.  At 100 TB the cost is the single groupBy(source); the
    reweighting itself is free, exactly why DoReMi is a cheap pre-step
    before the real training run."""
    d = fanout(table(spark, sf_dir, "documents"))
    wall = Window.partitionBy()
    cur = (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (
                F.sum(F.col("n_chars").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
                / F.lit(1000.0)
            ).alias("loss"),
        )
        .withColumn(
            "alpha",
            (F.lit(1.0) / F.count(F.lit(1)).over(wall)).cast(_DEC12),
        )
    )
    for _ in range(DOREMI_T):
        ref = (
            F.sum(
                (F.col("alpha").cast("double") * F.col("loss")).cast(_DEC12)
            )
            .over(wall)
            .cast("double")
        )
        rawdec = (
            F.col("alpha").cast("double")
            * (
                F.lit(1.0)
                + F.lit(DOREMI_ETA)
                * F.greatest(F.lit(0.0), F.col("loss") - ref)
            )
        ).cast(_DEC12)
        cur = cur.withColumn("rawdec", rawdec)
        z = F.sum("rawdec").over(wall).cast("double")
        alpha = (
            F.lit(1.0 - DOREMI_SMOOTH)
            * (F.col("rawdec").cast("double") / z)
            + F.lit(DOREMI_SMOOTH) / F.count(F.lit(1)).over(wall)
        ).cast(_DEC12)
        cur = cur.withColumn("alpha", alpha).drop("rawdec")
    weight = F.col("alpha").cast("double")
    return cur.select(
        "source",
        "n_docs",
        F.col("loss").alias("proxy_loss"),
        weight.alias("doremi_weight"),
        (weight * F.sum("n_docs").over(wall) / F.col("n_docs")).alias(
            "epochs_at_budget"
        ),
    )


#: RHO-loss selection keeps the top 1/RHO_KEEP_FRAC of each domain by
#: excess (reducible) loss; salts distinguish the two proxy models.
#: The proxy kernel (buckets x Knuth-hash centi-weights) is
#: quality_model_score_linear's — imported so the two stay one model.
from kafka_stream_processing_spark.operators.quality_lm import (  # noqa: E402
    MODEL_BUCKETS as _RHO_BUCKETS,
    _WEIGHT_MULT as _RHO_MULT,
)

RHO_KEEP_FRAC = 5


@register(
    "sample_rho_loss_selection",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(lower(text), ' ') AS t
        FROM documents
    ),
    scored AS (
        SELECT doc_id, source,
               CAST(list_aggregate(list_transform(t, w ->
                   (CAST(('0x' || substr(md5(w || 'h'), 1, 15)) AS BIGINT)
                    % {_RHO_BUCKETS}) * {_RHO_MULT} % 2001 - 1000),
                   'sum') AS BIGINT)
               - CAST(list_aggregate(list_transform(t, w ->
                   (CAST(('0x' || substr(md5(w || 't'), 1, 15)) AS BIGINT)
                    % {_RHO_BUCKETS}) * {_RHO_MULT} % 2001 - 1000),
                   'sum') AS BIGINT) AS excess_centi
        FROM toks
    ),
    ranked AS (
        SELECT doc_id, source, excess_centi,
               row_number() OVER (PARTITION BY source
                                  ORDER BY excess_centi DESC, doc_id)
                   AS rn,
               count(*) OVER (PARTITION BY source) AS n
        FROM scored
    )
    SELECT doc_id, source, excess_centi,
           (rn - 1) * {RHO_KEEP_FRAC} < n AS selected
    FROM ranked
    """,
    tags=("sampling", "rho-loss"),
)
def sample_rho_loss_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RHO-loss-style learnability selection (Mindermann et al. 2022,
    "Prioritized Training on Points that are Learnable, Worth Learning,
    and Not Yet Learnt"): each doc gets two hashed-linear loss proxies —
    a TRAINING-model loss and a HOLDOUT-model loss (same kernel as
    quality_model_score_linear, token salt 't' / 'h' selects the weight
    table) — and the selection score is the REDUCIBLE loss
    ``holdout - train``: points the current model gets wrong but a
    held-out model finds predictable.  The top 20% per source domain is
    selected (deterministic doc_id tiebreak); swapping real per-example
    losses for the proxies is a column substitution, the selection
    dataflow is identical.

    Scale: both proxies are narrow higher-order expressions at scan
    speed (zero Python, zero shuffle); the only wide operation is ONE
    shuffle on the domain key for the rank/count window — the same
    shape as sample_stratified_topn, and the window state per domain is
    a counter, not a buffer."""
    d = fanout(table(spark, sf_dir, "documents"))
    t = words(F.lower(F.col("text")))

    def proxy(salt: str) -> Column:
        weight = lambda w: (  # noqa: E731
            (hash64(F.concat(w, F.lit(salt))) % _RHO_BUCKETS)
            * _RHO_MULT % 2001 - 1000
        )
        return F.aggregate(
            F.transform(t, weight), F.lit(0).cast("bigint"), lambda a, x: a + x
        )

    scored = d.select(
        "doc_id",
        "source",
        (proxy("h") - proxy("t")).cast("bigint").alias("excess_centi"),
    )
    w = Window.partitionBy("source").orderBy(
        F.col("excess_centi").desc(), "doc_id"
    )
    wc = Window.partitionBy("source")
    return scored.select(
        "doc_id",
        "source",
        "excess_centi",
        (
            (F.row_number().over(w) - 1) * RHO_KEEP_FRAC
            < F.count(F.lit(1)).over(wc)
        ).alias("selected"),
    )


# -------------------------------------------------------- end-to-end audit

#: Leading-words fingerprint width for the boilerplate-dedup stage and
#: the contamination drop threshold (drop when shared shingles reach
#: 1/CONTAM_DENOM of the doc's shingles — an integer cross-product, no
#: float frontier).
ATTRITION_PREFIX_W = 8
ATTRITION_CONTAM_DENOM = 10


def _attrition_oracle() -> str:
    # tokenizer has no import edge back to pipeline, so the fragment
    # resolves at registration time.
    from kafka_stream_processing_spark.operators.tokenizer import (
        _BPE_COUNT_SQL,
    )

    stage_sums = "\n".join(
        f"""           CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS {p}_docs,
           CAST(sum(CASE WHEN {cond} THEN n_words ELSE 0 END) AS BIGINT) AS {p}_ws,
           CAST(sum(CASE WHEN {cond} THEN n_bpe ELSE 0 END) AS BIGINT) AS {p}_bpe{"," if p != "c" else ""}"""
        for cond, p in (
            ("TRUE", "raw"), ("q_ok", "q"), ("d_ok", "d"), ("c_ok", "c"),
        )
    )
    return f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) AS n_words,
               CAST(list_aggregate(list_transform(string_split(text, ' '),
                                                  w -> length(w)), 'sum')
                    AS BIGINT) AS total_chars,
               list_max(list_transform(
                   list_distinct(string_split(text, ' ')),
                   w -> len(list_filter(string_split(text, ' '),
                                        x -> x = w)))) AS n_top,
               len(list_filter(string_split(text, ' '),
                               x -> x IN ('the', 'a', 'of', 'and', 'to', 'in')))
                   AS n_stop,
               {_BPE_COUNT_SQL} AS n_bpe,
               md5(array_to_string(string_split(text, ' ')[1:{ATTRITION_PREFIX_W}],
                                   ' ')) AS fp
        FROM documents
        WHERE source <> 'src0'
    ),
    flags1 AS (
        SELECT *, (n_words >= 30
                   AND total_chars BETWEEN 3 * n_words AND 8 * n_words
                   AND n_top * 8 <= n_words
                   AND n_stop >= 1) AS q_ok
        FROM base
    ),
    flags2 AS (
        SELECT *, q_ok AND coalesce(
                   sum(CASE WHEN q_ok THEN 1 ELSE 0 END)
                       OVER (PARTITION BY fp ORDER BY doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING), 0) = 0 AS d_ok
        FROM flags1
    ),
    sh AS (
        SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest({_GRAMS_SQL}) AS sh
            FROM flags1 WHERE len(t) >= 3
        )
    ),
    bench AS (
        SELECT DISTINCT sh FROM (
            SELECT unnest({_GRAMS_SQL}) AS sh
            FROM (SELECT string_split(text, ' ') AS t FROM documents
                  WHERE source = 'src0')
            WHERE len(t) >= 3
        )
    ),
    tot AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    shr AS (
        SELECT s.doc_id, count(*) AS n_shared
        FROM sh s JOIN bench b USING (sh) GROUP BY 1
    ),
    flags AS (
        SELECT f.*,
               f.d_ok AND (CASE WHEN tot.n_sh IS NULL THEN TRUE
                                WHEN coalesce(shr.n_shared, 0)
                                     * {ATTRITION_CONTAM_DENOM} >= tot.n_sh
                                     THEN FALSE
                                ELSE TRUE END) AS c_ok
        FROM flags2 f
        LEFT JOIN tot USING (doc_id)
        LEFT JOIN shr USING (doc_id)
    ),
    wide AS (
        SELECT
{stage_sums}
        FROM flags
    )
    SELECT 0 AS stage_id, 'raw' AS stage, raw_docs AS n_docs,
           raw_ws AS n_ws_tokens, raw_bpe AS n_bpe_tokens FROM wide
    UNION ALL
    SELECT 1, 'quality', q_docs, q_ws, q_bpe FROM wide
    UNION ALL
    SELECT 2, 'dedup_prefix', d_docs, d_ws, d_bpe FROM wide
    UNION ALL
    SELECT 3, 'decontaminated', c_docs, c_ws, c_bpe FROM wide
    """


@register(
    "pipeline_attrition_audit",
    oracle=_attrition_oracle(),
    tags=("pipeline", "audit"),
)
def pipeline_attrition_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation attrition audit: the document pool (every
    source except the benchmark source src0) flows through the
    pipeline's stages — Gopher quality rules -> leading-8-words
    fingerprint dedup (crawl boilerplate collapse, first-doc-wins by
    doc_id) -> n-gram decontamination against src0 (drop when shared
    shingles reach 10% of the doc's shingles) — and the audit reports,
    per stage, surviving documents, whitespace tokens, and BPE tokens
    (the trained merge-table tokenizer), i.e. exactly the numbers a
    data-curation run reports to decide whether a 100 TB crawl still
    yields the token budget after cleaning.

    Scale: ONE pass computes every per-doc flag — quality rules are
    narrow expressions; the dedup winner is a window over the 16-byte
    fingerprint (bodies never shuffle; the md5 key does); the
    contamination counts are the audited inverted-shingle join from
    contamination_ngram_overlap joined back by doc_id.  The four stage
    rows come from ONE aggregate over the flags (12 conditional sums)
    exploded via inline — no re-scan per stage, no driver loop.
    Survival is cumulative (a doc counts for stage k only if it passed
    1..k-1), matching how a real pipeline's stages compose."""
    from kafka_stream_processing_spark.operators.tokenizer import (
        bpe_token_count,
    )

    d = fanout(table(spark, sf_dir, "documents"))
    toks = words()
    pool = d.filter(F.col("source") != "src0").select(
        "doc_id",
        toks.alias("t"),
        bpe_token_count("text").alias("n_bpe"),
        F.md5(
            F.concat_ws(" ", F.slice(toks, 1, ATTRITION_PREFIX_W)).cast(
                "binary"
            )
        ).alias("fp"),
        *gopher_feature_columns(),
    )
    q_ok = (
        (F.col("n_words") >= 30)
        & (F.col("total_chars") >= 3 * F.col("n_words"))
        & (F.col("total_chars") <= 8 * F.col("n_words"))
        & (F.col("n_top") * 8 <= F.col("n_words"))
        & (F.col("n_stop") >= 1)
    )
    flags1 = pool.withColumn("q_ok", q_ok)
    w_prev = (
        Window.partitionBy("fp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flags2 = flags1.withColumn(
        "d_ok",
        F.col("q_ok")
        & (
            F.coalesce(
                F.sum(F.when(F.col("q_ok"), 1).otherwise(0)).over(w_prev),
                F.lit(0),
            )
            == 0
        ),
    )
    shingles = F.explode(F.array_distinct(_word_grams(F.col("t"))))
    sh = flags1.select("doc_id", shingles.alias("sh"))
    bench = (
        d.filter(F.col("source") == "src0")
        .select(toks.alias("t"))
        .select(shingles.alias("sh"))
        .distinct()
    )
    tot = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    shr = (
        sh.join(bench, "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    flags = (
        flags2.join(tot, "doc_id", "left")
        .join(shr, "doc_id", "left")
        .withColumn(
            "c_ok",
            F.col("d_ok")
            & F.when(F.col("n_sh").isNull(), F.lit(True))
            .when(
                F.coalesce(F.col("n_shared"), F.lit(0))
                * ATTRITION_CONTAM_DENOM
                >= F.col("n_sh"),
                F.lit(False),
            )
            .otherwise(F.lit(True)),
        )
    )

    def _sums(flag: Column | None, prefix: str) -> list[Column]:
        cond = F.lit(True) if flag is None else flag
        return [
            F.sum(F.when(cond, 1).otherwise(0))
            .cast("bigint")
            .alias(f"{prefix}_docs"),
            F.sum(F.when(cond, F.col("n_words")).otherwise(0))
            .cast("bigint")
            .alias(f"{prefix}_ws"),
            F.sum(F.when(cond, F.col("n_bpe")).otherwise(0))
            .cast("bigint")
            .alias(f"{prefix}_bpe"),
        ]

    wide = flags.agg(
        *_sums(None, "raw"),
        *_sums(F.col("q_ok"), "q"),
        *_sums(F.col("d_ok"), "d"),
        *_sums(F.col("c_ok"), "c"),
    )
    stages = [(0, "raw", "raw"), (1, "quality", "q"),
              (2, "dedup_prefix", "d"), (3, "decontaminated", "c")]
    return wide.select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(sid).alias("stage_id"),
                        F.lit(name).alias("stage"),
                        F.col(f"{p}_docs").alias("n_docs"),
                        F.col(f"{p}_ws").alias("n_ws_tokens"),
                        F.col(f"{p}_bpe").alias("n_bpe_tokens"),
                    )
                    for sid, name, p in stages
                ]
            )
        )
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

#: Hashed n-gram feature space for the DSIR importance estimator.  Small
#: enough that the per-bucket log-ratio table is a broadcast literal at
#: any corpus size (the paper uses 10k buckets at CommonCrawl scale —
#: the table is O(buckets), never O(corpus)).
DSIR_BUCKETS = 256

#: Keep fraction: the top 1/5 of the raw pool by importance weight.
DSIR_KEEP_DEN = 5

_DSIR_HASH = "CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT)"


def dsir_scored_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared DSIR importance-weight kernel: raw-pool documents with
    their exact-decimal log-weights (doc_id, source, n_words, lw) —
    hashed-unigram bucket log-ratios vs the src0 target, broadcast
    back onto the words (see sample_dsir_importance's docstring for
    the full derivation).  Used by the selection op and the ESS
    diagnostic (kernel reuse guard-tested)."""
    d = fanout(table(spark, sf_dir, "documents"))
    occ = d.select(
        "doc_id", "source", F.explode(words()).alias("w")
    ).select(
        "doc_id", "source", (hash64(F.col("w")) % DSIR_BUCKETS).alias("b")
    )
    is_t = (F.col("source") == "src0").cast("bigint")
    buckets = occ.groupBy("b").agg(
        F.sum(is_t).alias("ct"),
        F.sum(1 - is_t).alias("cr"),
    )
    wall = Window.partitionBy()
    lr = buckets.select(
        "b",
        F.round(
            F.log(
                (F.col("ct").cast("double") + 1)
                / (F.sum("ct").over(wall) + DSIR_BUCKETS)
            )
            - F.log(
                (F.col("cr").cast("double") + 1)
                / (F.sum("cr").over(wall) + DSIR_BUCKETS)
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("lr"),
    )
    return (
        occ.filter(F.col("source") != "src0")
        .join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("lr").alias("lw"),
        )
    )


@register(
    "sample_dsir_importance",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, source, {_DSIR_HASH} % {DSIR_BUCKETS} AS b
        FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
              FROM documents)
    ),
    buckets AS (
        SELECT b,
               SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
               SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cr
        FROM words GROUP BY b
    ),
    lr AS (
        SELECT b,
               CAST(round(
                   ln((CAST(ct AS DOUBLE) + 1)
                      / (SUM(ct) OVER () + {DSIR_BUCKETS}))
                 - ln((CAST(cr AS DOUBLE) + 1)
                      / (SUM(cr) OVER () + {DSIR_BUCKETS})), 6)
               AS DECIMAL(18,6)) AS lr
        FROM buckets
    ),
    scored AS (
        SELECT w.doc_id, w.source,
               count(*) AS n_words, SUM(lr.lr) AS lw
        FROM words w JOIN lr ON w.b = lr.b
        WHERE w.source <> 'src0'
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT doc_id, source, n_words, lw,
               row_number() OVER (ORDER BY lw DESC, doc_id) AS rn,
               count(*) OVER () AS n
        FROM scored
    )
    SELECT doc_id, source, CAST(n_words AS BIGINT) AS n_words,
           CAST(lw AS DOUBLE) AS log_weight,
           rn * {DSIR_KEEP_DEN} <= n AS selected
    FROM ranked
    """,
    tags=("pipeline", "sampling", "dsir"),
)
def sample_dsir_importance(
    spark: SparkSession, sf_dir: str, frontier: str = "exact"
) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023): select raw-pool documents whose hashed-unigram distribution
    looks like a trusted target domain.  The target here is the ``src0``
    slice (the same held-out convention contamination_ngram_overlap
    uses for its benchmark split); every other source is the raw pool.
    Per feature bucket b the estimator is the smoothed bag-of-words
    log-ratio  ln p_target(b) − ln p_raw(b)  (add-one over
    DSIR_BUCKETS); a document's importance log-weight is the sum of its
    word occurrences' bucket ratios, and the keep rule is the integer
    rank frontier ``rn * 5 <= n`` (top 20% by weight, doc_id tiebreak)
    — the deterministic analogue of the paper's Gumbel resample.
    Cross-engine exactness: each bucket's ln() is rounded to 6 decimals
    and cast DECIMAL(18,6) (the round-ln convention of
    text_tfidf_top_terms), so the per-doc sum is exact decimal
    arithmetic — order-independent and bit-identical on both engines.

    Scale: two passes over the exploded words — ONE groupBy(bucket)
    producing a 256-row table (map-side combine does nearly all of it),
    then a broadcast join of that table back onto the words and ONE
    groupBy(doc_id).  Bodies never shuffle; the only wide exchange is
    doc_id-keyed partial sums.  The global rank window is the sf-scale
    oracle form; ``frontier="approx"`` is the IMPLEMENTED 100 TB path
    (operators.frontier.quantile_cuts → percentile_approx threshold,
    broadcast 1-row cut, no total-order sort) — identical table
    layout, keep-set agreement pinned in tests/test_frontier.py."""
    scored = dsir_scored_weights(spark, sf_dir)
    wall = Window.partitionBy()
    if frontier == "approx":
        # Production path (VERDICT r06): the keep threshold comes from
        # a percentile_approx sketch instead of a global rank — no
        # total-order sort; ties AT the cut are all kept (value
        # semantics), which is the only place the keep-set can differ
        # from the exact rank form (pinned in tests/test_frontier.py).
        from kafka_stream_processing_spark.operators.frontier import (
            quantile_cuts,
        )

        cut = quantile_cuts(
            scored,
            "lw",
            [(DSIR_KEEP_DEN - 1, DSIR_KEEP_DEN)],
            mode="approx",
        )
        return scored.crossJoin(F.broadcast(cut)).select(
            "doc_id",
            "source",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.col("lw").cast("double").alias("log_weight"),
            (F.col("lw") >= F.col("cut_0")).alias("selected"),
        )
    rn = F.row_number().over(Window.orderBy(F.desc("lw"), "doc_id"))
    n = F.count(F.lit(1)).over(wall)
    return scored.select(
        "doc_id",
        "source",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("lw").cast("double").alias("log_weight"),
        (rn * DSIR_KEEP_DEN <= n).alias("selected"),
    )


# ---------------------------------------------------------------------------
# Split leakage audit (near-dup pairs straddling train/val/test)
# ---------------------------------------------------------------------------

from kafka_stream_processing_spark.operators.dedup import (  # noqa: E402
    MINHASH_PAIRS_ORACLE,
    dedup_minhash_lsh,
)

_SPLIT_SQL = (
    "CASE WHEN CAST(('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 15)) "
    "AS BIGINT) % 100 < 80 THEN 'train' "
    "WHEN CAST(('0x' || substr(md5(CAST({k} AS VARCHAR)), 1, 15)) "
    "AS BIGINT) % 100 < 90 THEN 'val' ELSE 'test' END"
)


#: Shared oracle: the split×split audit matrix over the MinHash+LSH
#: pair set — used verbatim by pipeline_split_leakage_audit (batch) and
#: stream_split_leakage_incremental (the ingest-time deployment, whose
#: accumulated pair set provably equals the batch pair set).
SPLIT_LEAKAGE_ORACLE = f"""
    WITH pairs AS (
        SELECT * FROM ({MINHASH_PAIRS_ORACLE})
    ),
    labeled AS (
        SELECT LEAST({_SPLIT_SQL.format(k="doc_a")},
                     {_SPLIT_SQL.format(k="doc_b")}) AS split_lo,
               GREATEST({_SPLIT_SQL.format(k="doc_a")},
                        {_SPLIT_SQL.format(k="doc_b")}) AS split_hi,
               doc_a, doc_b
        FROM pairs
    )
    SELECT split_lo, split_hi,
           split_lo <> split_hi AS is_leak,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(DISTINCT doc_a) + count(DISTINCT doc_b)
                AS BIGINT) AS n_doc_slots
    FROM labeled
    GROUP BY 1, 2
    """


@register(
    "pipeline_split_leakage_audit",
    oracle=SPLIT_LEAKAGE_ORACLE,
    tags=("pipeline", "dedup", "decontamination"),
)
def pipeline_split_leakage_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-leakage audit — the dedup-×-split composition every LLM
    eval pipeline needs and exact-match decontamination misses: a
    near-duplicate pair with one member in train and the other in
    val/test leaks the held-out answer into training (Lee et al. 2022
    measure exactly this inflation).  The audit classifies EVERY
    MinHash+LSH candidate pair (dedup_minhash_lsh's kernel, reused
    verbatim) by the canonical split of its two members
    (sample_hash_split's md5 rule, reused verbatim) and reports the
    split×split pair matrix with leak flags — release gate: rows with
    is_leak=true and n_pairs>0 mean dedup must run BEFORE splitting, or
    the straddling docs move/drop.

    Scale: the pair set costs what the banded LSH join costs (collision
    groups, never all-pairs); labeling is two stateless hash maps; the
    audit aggregate is a <=6-row matrix.  n_doc_slots counts pair
    endpoints distinctly per side (a doc in many leaky pairs is the
    usual offender — a boilerplate template)."""
    return split_leakage_matrix(dedup_minhash_lsh(spark, sf_dir))


def split_leakage_matrix(pairs: DataFrame) -> DataFrame:
    """The split×split audit matrix over a (doc_a, doc_b) pair frame —
    shared tail of the batch audit and its streaming deployment
    (stream_split_leakage_incremental)."""
    sa = split_assign(F.col("doc_a"))
    sb = split_assign(F.col("doc_b"))
    labeled = pairs.select(
        F.least(sa, sb).alias("split_lo"),
        F.greatest(sa, sb).alias("split_hi"),
        "doc_a",
        "doc_b",
    )
    return labeled.groupBy("split_lo", "split_hi").agg(
        (F.col("split_lo") != F.col("split_hi")).alias("is_leak"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        (F.countDistinct("doc_a") + F.countDistinct("doc_b"))
        .cast("bigint")
        .alias("n_doc_slots"),
    )


@register(
    "pipeline_leakage_remediation",
    oracle=f"""
    WITH pairs AS (
        SELECT * FROM ({MINHASH_PAIRS_ORACLE})
    ),
    leaky AS (
        SELECT doc_a, doc_b FROM pairs
        WHERE {_SPLIT_SQL.format(k="doc_a")}
           <> {_SPLIT_SQL.format(k="doc_b")}
    ),
    drops AS (SELECT DISTINCT doc_b AS doc_id FROM leaky),
    labeled AS (
        SELECT d.doc_id, {_SPLIT_SQL.format(k="d.doc_id")} AS split,
               (dr.doc_id IS NOT NULL) AS dropped
        FROM documents d LEFT JOIN drops dr ON dr.doc_id = d.doc_id
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dropped,
           CAST(SUM(CASE WHEN dropped THEN 0 ELSE 1 END) AS BIGINT)
               AS n_kept
    FROM labeled
    GROUP BY 1
    """,
    tags=("pipeline", "dedup", "decontamination"),
)
def pipeline_leakage_remediation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The remediation step the split-leakage AUDIT gates on: every
    near-dup pair straddling two splits is resolved by DROPPING the
    LATER member (larger doc_id — deterministic, and the convention
    exact dedup already uses for survivor election), so no held-out
    document retains a near-twin in train.  Dropping the later member
    of every leaky pair is sufficient whatever the pair graph's shape:
    any remaining cross-split pair would have its later member dropped
    by its own rule.  Output is the per-split release ledger
    (n_docs / n_dropped / n_kept) a dataset card publishes after
    decontamination.

    Scale: reuses the banded LSH pair kernel (collision groups, never
    all-pairs); the drop set is a pair-set-sized DISTINCT; the ledger
    is one broadcast anti-join-style left join of docs against drops
    (drops ≪ corpus) + a ≤3-row aggregate."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    sa = split_assign(F.col("doc_a"))
    sb = split_assign(F.col("doc_b"))
    drops = (
        pairs.filter(sa != sb)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    d = table(spark, sf_dir, "documents").select("doc_id")
    labeled = d.join(
        F.broadcast(drops.withColumn("dropped", F.lit(True))),
        "doc_id",
        "left",
    ).select(
        split_assign(F.col("doc_id")).alias("split"),
        F.coalesce("dropped", F.lit(False)).alias("dropped"),
    )
    return labeled.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("dropped").cast("int")).cast("bigint").alias("n_dropped"),
        F.sum((~F.col("dropped")).cast("int")).cast("bigint").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Neyman-allocated stratified sampling
# ---------------------------------------------------------------------------

#: Total sample budget for the Neyman allocation.
NEYMAN_BUDGET = 100

_HASH64_SQL = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
)


@register(
    "sample_neyman_allocation",
    oracle=f"""
    WITH base AS (
        SELECT lang, doc_id, n_chars FROM documents
    ),
    stats AS (
        SELECT lang, count(*) AS nh,
               SUM(n_chars) AS s1,
               SUM(CAST(n_chars AS BIGINT) * n_chars) AS s2
        FROM base GROUP BY lang
    ),
    wtd AS (
        SELECT lang, nh,
               sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nh)
                    / (nh - 1)) AS sd,
               nh * sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nh)
                         / (nh - 1)) AS w
        FROM stats
    ),
    tot AS (SELECT SUM(w) AS tw, count(*) AS k FROM wtd),
    fl AS (
        SELECT lang, nh, sd, w,
               floor({NEYMAN_BUDGET} * w / t.tw) AS fa,
               {NEYMAN_BUDGET} * w / t.tw
                   - floor({NEYMAN_BUDGET} * w / t.tw) AS rem
        FROM wtd, tot t
    ),
    alloc AS (
        SELECT lang, nh, sd,
               CAST(fa + CASE WHEN row_number() OVER (
                                  ORDER BY rem DESC, lang)
                              <= {NEYMAN_BUDGET} - SUM(fa) OVER ()
                         THEN 1 ELSE 0 END AS BIGINT) AS n_alloc
        FROM fl
    ),
    ranked AS (
        SELECT lang, doc_id, n_chars,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY {_HASH64_SQL}, doc_id) AS rk
        FROM base
    ),
    sampled AS (
        SELECT r.lang, count(*) AS n_sampled,
               SUM(r.n_chars) AS sampled_chars
        FROM ranked r JOIN alloc a ON a.lang = r.lang AND r.rk <= a.n_alloc
        GROUP BY r.lang
    )
    SELECT a.lang,
           CAST(a.nh AS BIGINT) AS n_stratum,
           a.sd AS std_chars,
           a.n_alloc,
           CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled,
           CAST(COALESCE(s.sampled_chars, 0) AS BIGINT) AS sampled_chars
    FROM alloc a LEFT JOIN sampled s ON s.lang = a.lang
    """,
    tags=("pipeline", "sampling", "statistics"),
)
def sample_neyman_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Neyman-allocated stratified sample — the survey-sampling optimum
    the uniform per-stratum quota (sample_stratified_topn) ignores:
    stratum h of a fixed budget gets n_h ∝ N_h·S_h (bigger AND more
    variable strata deserve more samples — minimizes the estimator
    variance for the corpus mean at fixed cost).  Integer allocations
    come from the LARGEST-REMAINDER method (floor the proportional
    share, hand the leftover units to the largest fractional
    remainders, stratum-name tiebreak) — the float shares are one
    identical IEEE chain on exact integer sums, so floors, remainders,
    and the final integer allocation are bit-stable cross-engine.  The
    sample itself is the deterministic md5-hash-rank prefix per stratum
    (sample_stratified_topn's rule), so the ledger's n_sampled ==
    n_alloc is verified by construction against real picks.

    Scale: stratum stats are one map-side-combined groupBy; allocation
    runs on the STRATA table (a handful of rows); the sampling rank is
    per-stratum (the stratified_topn shape).  Budget ≪ every N_h here;
    at true scale add a LEAST(n_h, N_h) cap and re-distribute."""
    base = table(spark, sf_dir, "documents").select(
        "lang", "doc_id", "n_chars"
    )
    stats = base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum("n_chars").alias("s1"),
        F.sum(F.col("n_chars").cast("bigint") * F.col("n_chars")).alias(
            "s2"
        ),
    )
    sd = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("nh")
        )
        / (F.col("nh") - 1)
    )
    wtd = stats.select(
        "lang", "nh", sd.alias("sd"), (F.col("nh") * sd).alias("w")
    )
    w_all = Window.partitionBy()
    share = NEYMAN_BUDGET * F.col("w") / F.sum("w").over(w_all)
    fl = wtd.select(
        "lang",
        "nh",
        "sd",
        F.floor(share).alias("fa"),
        (share - F.floor(share)).alias("rem"),
    )
    w_rank = Window.orderBy(F.desc("rem"), "lang")
    alloc = fl.select(
        "lang",
        "nh",
        "sd",
        (
            F.col("fa")
            + F.when(
                F.row_number().over(w_rank)
                <= NEYMAN_BUDGET - F.sum("fa").over(w_all),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_alloc"),
    )
    w_pick = Window.partitionBy("lang").orderBy(
        hash64(F.col("doc_id").cast("string")), "doc_id"
    )
    sampled = (
        base.withColumn("rk", F.row_number().over(w_pick))
        .join(F.broadcast(alloc.select("lang", "n_alloc")), "lang")
        .filter(F.col("rk") <= F.col("n_alloc"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
        )
    )
    return (
        alloc.join(sampled, "lang", "left")
        .select(
            "lang",
            F.col("nh").cast("bigint").alias("n_stratum"),
            F.col("sd").alias("std_chars"),
            "n_alloc",
            F.coalesce("n_sampled", F.lit(0))
            .cast("bigint")
            .alias("n_sampled"),
            F.coalesce("sampled_chars", F.lit(0))
            .cast("bigint")
            .alias("sampled_chars"),
        )
    )


# ---------------------------------------------------------------------------
# DSIR effective-sample-size diagnostic
# ---------------------------------------------------------------------------


@register(
    "sample_dsir_ess_diagnostic",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, source, {_DSIR_HASH} % {DSIR_BUCKETS} AS b
        FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
              FROM documents)
    ),
    buckets AS (
        SELECT b,
               SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS ct,
               SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS cr
        FROM words GROUP BY b
    ),
    lr AS (
        SELECT b,
               CAST(round(
                   ln((CAST(ct AS DOUBLE) + 1)
                      / (SUM(ct) OVER () + {DSIR_BUCKETS}))
                 - ln((CAST(cr AS DOUBLE) + 1)
                      / (SUM(cr) OVER () + {DSIR_BUCKETS})), 6)
               AS DECIMAL(18,6)) AS lr
        FROM buckets
    ),
    scored AS (
        SELECT w.doc_id, SUM(lr.lr) AS lw
        FROM words w JOIN lr ON w.b = lr.b
        WHERE w.source <> 'src0'
        GROUP BY 1
    ),
    mx AS (SELECT MAX(lw) AS m FROM scored),
    w AS (
        SELECT CAST(round(exp(CAST(lw - mx.m AS DOUBLE)), 6)
                    AS DECIMAL(18,6)) AS w
        FROM scored, mx
    ),
    s AS (
        SELECT count(*) AS n,
               SUM(w) AS sw,
               SUM(w * w) AS sww,
               SUM(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS n_zero
        FROM w
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           (SELECT CAST(m AS DOUBLE) FROM mx) AS max_log_weight,
           CAST(n_zero AS BIGINT) AS n_negligible,
           CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
               / CAST(sww AS DOUBLE) AS ess,
           CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)
               / CAST(sww AS DOUBLE) / n AS ess_fraction
    FROM s
    """,
    tags=("pipeline", "sampling", "dsir", "diagnostics"),
)
def sample_dsir_ess_diagnostic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Effective sample size of the DSIR importance weights — the
    health check importance-resampling pipelines publish BEFORE
    trusting a selection (Kish's ESS = (Σw)²/Σw²: when a handful of
    documents carry almost all the weight, ESS collapses and the
    resample is statistically a few documents pretending to be many):
    runs the EXACT shared dsir_scored_weights kernel (reuse
    guard-tested), shifts log-weights by their max (ESS is
    scale-invariant, and the shift keeps every exp argument ≤ 0 so
    exp ∈ (0,1]), rounds each weight to 6 decimals (the engine's
    libm-absorbing convention — exp here, ln elsewhere), and the two
    weight sums are exact decimal arithmetic with the final ratio the
    only unrounded IEEE step.  Also reports the count of documents
    whose weight rounds to exactly 0 — the "negligible under
    resampling" mass.

    Scale: everything up to `scored` is the DSIR kernel's cost
    (bucket table broadcast, bodies never shuffle); the diagnostic
    itself is one map-side-combined 4-cell aggregate plus a scalar
    max — constant state."""
    scored = dsir_scored_weights(spark, sf_dir)
    mx = scored.agg(F.max("lw").alias("m"))
    w = scored.crossJoin(F.broadcast(mx)).select(
        F.round(F.exp((F.col("lw") - F.col("m")).cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("w"),
        F.col("m"),
    )
    s = w.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("w")).alias("sww"),
        F.sum(
            F.when(F.col("w") == 0, F.lit(1)).otherwise(F.lit(0))
        ).alias("n_zero"),
        F.max("m").alias("m"),
    )
    ess = (
        F.col("sw").cast("double")
        * F.col("sw").cast("double")
        / F.col("sww").cast("double")
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("m").cast("double").alias("max_log_weight"),
        F.col("n_zero").cast("bigint").alias("n_negligible"),
        ess.alias("ess"),
        (ess / F.col("n")).alias("ess_fraction"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis)
# ---------------------------------------------------------------------------

#: Sample size of the weighted reservoir op.
ES_SAMPLE_K = 50
#: 60-bit md5-uniform scale (the bootstrap convention).
_ES_SCALE = 1152921504606846976.0


@register(
    "sample_weighted_reservoir_es",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               ln((CAST(('0x' || substr(md5(doc_id || '_es'), 1, 15))
                        AS BIGINT) + 1) / {_ES_SCALE}) / n_chars
                   AS es_key
        FROM documents
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS weight,
           es_key
    FROM keyed
    ORDER BY es_key DESC, doc_id
    LIMIT {ES_SAMPLE_K}
    """,
    tags=("sampling", "pipeline"),
)
def sample_weighted_reservoir_es(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis-Spirakis
    reservoir keys — each document draws a deterministic 60-bit md5
    uniform u (the Poisson-bootstrap convention; +1 keeps ln finite at
    u=0) and the top-{ES_SAMPLE_K} by key u^(1/w) form an exact
    weighted sample, here weighted by document length.  The key is
    compared in its monotone log form ln(u)/w (one ln per row, never
    summed, so no rounding discipline is needed — ordering identical
    doubles orders identically on both engines).  This is the
    distributed form of weighted reservoir sampling: mergeable (the
    top-k of a union is the top-k of the per-shard top-ks), one-pass,
    deterministic across reruns and engines — the sampler a
    quality-weighted pretraining mix actually needs (DSIR reweights;
    this SELECTS).

    Scale: the key is computed map-side; the cut is
    TakeOrderedAndProject (per-partition top-k, then a k-row merge on
    the driver) — no global sort, no shuffle of the corpus."""
    d = table(spark, sf_dir, "documents")
    u = (
        hash64(F.concat(F.col("doc_id").cast("string"), F.lit("_es")))
        + F.lit(1)
    ) / F.lit(_ES_SCALE)
    keyed = d.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("weight"),
        (F.log(u) / F.col("n_chars")).alias("es_key"),
    )
    return keyed.orderBy(
        F.col("es_key").desc(), F.col("doc_id")
    ).limit(ES_SAMPLE_K)


# ---------------------------------------------------------------------------
# Curriculum ordering by difficulty deciles
# ---------------------------------------------------------------------------

#: Number of difficulty buckets in the curriculum interleave.
CURRICULUM_BUCKETS = 10


@register(
    "pipeline_curriculum_order",
    oracle=f"""
    WITH bucketed AS (
        SELECT doc_id, n_chars,
               ntile({CURRICULUM_BUCKETS})
                   OVER (ORDER BY n_chars, doc_id) AS decile
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_chars, decile,
               row_number() OVER (PARTITION BY decile
                                  ORDER BY n_chars, doc_id)
                   AS within_rank
        FROM bucketed
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(decile AS INT) AS decile,
           CAST(within_rank AS BIGINT) AS within_rank,
           CAST(row_number() OVER (ORDER BY within_rank, decile,
                                   doc_id) AS BIGINT)
               AS curriculum_pos
    FROM ranked
    """,
    tags=("pipeline", "sampling", "curriculum"),
)
def pipeline_curriculum_order(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Curriculum construction: bucket documents into
    {CURRICULUM_BUCKETS} difficulty deciles (length as the difficulty
    proxy — swap in any score column, same dataflow) and interleave
    them round-robin (easiest-of-each-decile first, then
    second-easiest, ...), producing the deterministic training order
    a curriculum-learning run feeds its dataloader — every batch
    window sees the full difficulty spectrum instead of a monotone
    ramp's early easy bias.  ntile ties are deterministic under the
    (n_chars, doc_id) total order (both engines hand the first n mod k
    buckets the extra row — the registry's pinned ntile semantics);
    the interleave is pure integer window arithmetic.

    Scale: the oracle-checked form uses total-order windows; the
    production swap is frontier.quantile_cuts(mode="approx") for the
    decile boundaries plus frontier.global_rank(mode="distributed")
    for the final position — both exist as code with pinned
    equivalence.  The per-decile rank window partitions by bucket."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_chars")
    )
    bucketed = docs.select(
        "doc_id",
        "n_chars",
        F.ntile(CURRICULUM_BUCKETS)
        .over(Window.orderBy("n_chars", "doc_id"))
        .alias("decile"),
    )
    ranked = bucketed.select(
        "doc_id",
        "n_chars",
        "decile",
        F.row_number()
        .over(
            Window.partitionBy("decile").orderBy("n_chars", "doc_id")
        )
        .alias("within_rank"),
    )
    return ranked.select(
        "doc_id",
        "n_chars",
        F.col("decile").cast("int").alias("decile"),
        F.col("within_rank").cast("bigint").alias("within_rank"),
        F.row_number()
        .over(Window.orderBy("within_rank", "decile", "doc_id"))
        .cast("bigint")
        .alias("curriculum_pos"),
    )


# ---------------------------------------------------------------------------
# Temperature-sweep mixture calibration
# ---------------------------------------------------------------------------

#: Temperatures the sweep evaluates, chosen so every power is an exact
#: IEEE sqrt chain (n^1, n^(1/2), n^(1/4)) — no libm pow anywhere.
TEMP_SWEEP_TAUS = (1.0, 0.5, 0.25)


@register(
    "sample_temperature_sweep",
    oracle="""
    WITH counts AS (
        SELECT source, lang, count(*) AS n_docs
        FROM documents GROUP BY source, lang
    ),
    taus AS (SELECT unnest([1.0, 0.5, 0.25]) AS tau),
    w AS (
        SELECT t.tau, c.source, c.lang, c.n_docs,
               CAST(CASE t.tau
                    WHEN 1.0 THEN CAST(c.n_docs AS DOUBLE)
                    WHEN 0.5 THEN sqrt(CAST(c.n_docs AS DOUBLE))
                    ELSE sqrt(sqrt(CAST(c.n_docs AS DOUBLE)))
               END AS DECIMAL(18,12)) AS wdec
        FROM taus t CROSS JOIN counts c
    ),
    tot AS (
        SELECT tau, CAST(SUM(wdec) AS DOUBLE) AS wsum,
               count(*) AS n_cells
        FROM w GROUP BY tau
    ),
    shares AS (
        SELECT w.tau, CAST(w.wdec AS DOUBLE) / t.wsum AS share
        FROM w JOIN tot t USING (tau)
    )
    SELECT s.tau,
           CAST(any_value(t.n_cells) AS BIGINT) AS n_cells,
           max(s.share) AS max_share,
           1.0 / CAST(SUM(CAST(round(s.share * s.share, 12)
                AS DECIMAL(38,12))) AS DOUBLE) AS eff_cells_inv_simpson
    FROM shares s JOIN tot t USING (tau)
    GROUP BY s.tau
    """,
    tags=("sampling", "mixture", "evaluation"),
)
def sample_temperature_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature sweep for mixture balancing — the calibration curve
    over sample_temperature_weights' single operating point: for
    tau in (1, 1/2, 1/4) (proportional, mT5's T=2, heavier T=4
    flattening), the resulting mixture's concentration read as
    max_share (how dominant the head domain stays) and the
    inverse-Simpson effective cell count 1/sum(share^2) (how many
    domains the mixture 'really' samples from).  A pipeline picks tau
    where effective cells approach the domain count without
    epochs_at_budget exploding on the tail — this op gives the left
    side of that trade-off in one pass.

    Exactness: every power is an exact IEEE sqrt chain (n, sqrt n,
    sqrt sqrt n — no libm pow), quantized to DECIMAL(18,12) before the
    order-independent weight sum; shares are single double divisions;
    share^2 terms round-12 into a DECIMAL(38,12) sum; inverse Simpson
    avoids exp (the entropy-based effective count would need it).

    Scale: ONE groupBy to the (source, lang) cell table, a 3x literal
    fan-out, cell-domain-sized algebra — nothing corpus-sized after
    the scan."""
    counts = (
        table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    taus = spark.createDataFrame(
        [(t,) for t in TEMP_SWEEP_TAUS], "tau double"
    )
    n_d = F.col("n_docs").cast("double")
    wdec = (
        F.when(F.col("tau") == 1.0, n_d)
        .when(F.col("tau") == 0.5, F.sqrt(n_d))
        .otherwise(F.sqrt(F.sqrt(n_d)))
        .cast("decimal(18,12)")
    )
    w = F.broadcast(taus).crossJoin(counts).select(
        "tau", wdec.alias("wdec")
    )
    tot = w.groupBy("tau").agg(
        F.sum("wdec").cast("double").alias("wsum"),
        F.count(F.lit(1)).alias("n_cells"),
    )
    shares = w.join(tot, "tau").select(
        "tau",
        "n_cells",
        (F.col("wdec").cast("double") / F.col("wsum")).alias("share"),
    )
    return shares.groupBy("tau").agg(
        F.any_value("n_cells").cast("bigint").alias("n_cells"),
        F.max("share").alias("max_share"),
        (
            F.lit(1.0)
            / F.sum(
                F.round(F.col("share") * F.col("share"), 12).cast(
                    "decimal(38,12)"
                )
            ).cast("double")
        ).alias("eff_cells_inv_simpson"),
    )


@register(
    "quality_filter_interaction_matrix",
    oracle="""
    WITH feats AS (
        SELECT len(string_split(text, ' ')) AS n_words,
               CAST(list_aggregate(list_transform(string_split(text, ' '),
                                                  w -> length(w)), 'sum')
                    AS BIGINT) AS total_chars,
               list_max(list_transform(
                   list_distinct(string_split(text, ' ')),
                   w -> len(list_filter(string_split(text, ' '),
                                        t -> t = w)))) AS n_top,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ('the', 'a', 'of', 'and', 'to', 'in')))
                   AS n_stop
        FROM documents
    ),
    flagged AS (
        SELECT (n_words >= 30)                                  AS ok_minlen,
               (total_chars >= 3 * n_words
                AND total_chars <= 8 * n_words)                 AS ok_meanlen,
               (n_top * 8 <= n_words)                           AS ok_repetition,
               (n_stop >= 1)                                    AS ok_stopword
        FROM feats
    ),
    tot AS (SELECT count(*) AS n FROM flagged)
    SELECT ok_minlen, ok_meanlen, ok_repetition, ok_stopword,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) AS DOUBLE) / any_value(t.n) AS share,
           (CAST(ok_minlen AS INT) + CAST(ok_meanlen AS INT)
            + CAST(ok_repetition AS INT) + CAST(ok_stopword AS INT) = 3)
               AS solely_blocked
    FROM flagged, tot t
    GROUP BY 1, 2, 3, 4
    """,
    tags=("pipeline", "quality"),
)
def quality_filter_interaction_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filter interaction matrix for the Gopher rule chain — the
    ablation table quality_gopher_filters' per-rule marginals cannot
    give: per PASS/FAIL COMBINATION of the four rules, how many
    documents land there.  Reads off directly: which rules are
    redundant (their fail set is a subset of another's — the combo
    rows where only they fail are empty), which docs are 'solely
    blocked' by exactly one rule (flagged: relaxing that one rule
    admits exactly those rows), and the true joint keep rate (the
    all-true row) versus what independent marginals would predict.
    This is how a curation team decides which filter to tune without
    re-running the corpus 2^4 times.

    Exactness: the four flags are the SAME integer cross-product rule
    expressions as quality_gopher_filters (built on the exported
    gopher_feature_columns kernel); everything else is integer
    counting plus one share division.

    Scale: one projection over the scan (higher-order array
    functions, no explode), then one groupBy onto at most 16 rows —
    corpus-size-independent state, identical cost to the marginal
    audit it extends."""
    d = fanout(table(spark, sf_dir, "documents"))
    feats = d.select(*gopher_feature_columns())
    flagged = feats.select(
        (F.col("n_words") >= 30).alias("ok_minlen"),
        (
            (F.col("total_chars") >= 3 * F.col("n_words"))
            & (F.col("total_chars") <= 8 * F.col("n_words"))
        ).alias("ok_meanlen"),
        (F.col("n_top") * 8 <= F.col("n_words")).alias("ok_repetition"),
        (F.col("n_stop") >= 1).alias("ok_stopword"),
    )
    tot = flagged.agg(F.count(F.lit(1)).alias("n"))
    n_ok = (
        F.col("ok_minlen").cast("int")
        + F.col("ok_meanlen").cast("int")
        + F.col("ok_repetition").cast("int")
        + F.col("ok_stopword").cast("int")
    )
    return (
        flagged.groupBy(
            "ok_minlen", "ok_meanlen", "ok_repetition", "ok_stopword"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "ok_minlen",
            "ok_meanlen",
            "ok_repetition",
            "ok_stopword",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("n")).alias("share"),
            (n_ok == 3).alias("solely_blocked"),
        )
    )


#: Token budget for the water-fill allocation, as a fraction of the
#: corpus: numerator/denominator of an EXACT rational so the budget is
#: an integer floor both engines compute identically.
WATERFILL_BUDGET_NUM = 1
WATERFILL_BUDGET_DEN = 2


@register(
    "sample_token_budget_waterfill",
    oracle=f"""
    WITH supply AS (
        SELECT source,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS s
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(s) AS BIGINT) AS total,
               CAST(SUM(s) * {WATERFILL_BUDGET_NUM}
                    // {WATERFILL_BUDGET_DEN} AS BIGINT) AS b,
               CAST(count(*) AS BIGINT) AS n
        FROM supply
    ),
    ranked AS (
        SELECT source, s,
               row_number() OVER (ORDER BY s, source) AS k,
               coalesce(SUM(s) OVER (ORDER BY s, source
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS prefix,
               lag(s, 1, 0) OVER (ORDER BY s, source) AS s_prev
        FROM supply
    ),
    brk AS (
        SELECT r.k AS brk_k, r.prefix AS brk_prefix,
               CAST(tot.b - r.prefix AS DOUBLE)
                   / CAST(tot.n - r.k + 1 AS DOUBLE) AS level
        FROM ranked r, tot
        WHERE (tot.b - r.prefix) >= r.s_prev * (tot.n - r.k + 1)
          AND (tot.b - r.prefix) <= r.s * (tot.n - r.k + 1)
        ORDER BY r.k
        LIMIT 1
    )
    SELECT r.source,
           r.s AS supply_tokens,
           tot.b AS budget_tokens,
           brk.level AS fill_level,
           r.k < brk.brk_k AS clamped,
           CASE WHEN r.k < brk.brk_k THEN CAST(r.s AS DOUBLE)
                ELSE brk.level END AS allocation_tokens,
           CASE WHEN r.k < brk.brk_k THEN 1.0
                ELSE brk.level / CAST(r.s AS DOUBLE) END AS epochs
    FROM ranked r, tot, brk
    """,
    tags=("pipeline", "sampling", "planning"),
)
def sample_token_budget_waterfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-budget WATER-FILLING across sources — the allocation a
    data-constrained pretraining run computes when the target mixture
    wants equal shares but some domains run out of tokens (the repeat-
    factor planning of data-constrained scaling, Muennighoff et al.
    2023): given a budget B (here an exact half of the corpus), raise
    one common fill level L so every source contributes min(supply, L)
    and the contributions sum to B.  Sources below the level are
    CLAMPED (epochs = 1.0 — fully consumed); sources above it
    contribute L tokens (epochs = L/supply < 1).  sample_mixture_
    weights decides proportions; this op turns proportions plus FINITE
    supplies into an achievable plan.

    Exactness: supplies and the budget are exact BIGINTs; the unique
    breakpoint k — the rank where the level lands between the (k-1)th
    and kth smallest supplies — is selected by CROSS-MULTIPLIED integer
    inequalities (B - prefix ⋛ s·(n-k+1)), no division; L itself is
    ONE IEEE division of identical integers, and every output column
    derives from it per-row.  Boundary ties (level exactly at a
    supply) admit adjacent k candidates with identical L; both engines
    take the smallest k (ORDER BY k LIMIT 1 / orderBy.limit(1)), so
    the clamped set is pinned too.

    Scale: one map-side-combined token-count groupBy (the corpus scan
    is the whole cost) collapses to |sources| rows; the fill-level
    search is a window over that tiny table — at 100 TB the plan is
    scan → per-source partials → O(sources) algebra, no second pass."""
    d = table(spark, sf_dir, "documents")
    supply = d.groupBy("source").agg(
        F.sum(F.size(words()))
        .cast("bigint")
        .alias("s")
    )
    tot = supply.agg(
        F.sum("s").cast("bigint").alias("total"),
        # integer DIV, not floor(double): stays exact past 2^53 tokens
        F.expr(
            f"CAST(SUM(s) * {WATERFILL_BUDGET_NUM}"
            f" DIV {WATERFILL_BUDGET_DEN} AS BIGINT)"
        ).alias("b"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    w = Window.orderBy("s", "source")
    ranked = supply.select(
        "source",
        "s",
        F.row_number().over(w).alias("k"),
        F.coalesce(
            F.sum("s").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("prefix"),
        F.lag("s", 1, 0).over(w).alias("s_prev"),
    )
    cand = ranked.crossJoin(F.broadcast(tot))
    rem = F.col("b") - F.col("prefix")
    slots = F.col("n") - F.col("k") + 1
    brk = (
        cand.filter(
            (rem >= F.col("s_prev") * slots) & (rem <= F.col("s") * slots)
        )
        .orderBy("k")
        .limit(1)
        .select(
            F.col("k").alias("brk_k"),
            (rem.cast("double") / slots.cast("double")).alias("level"),
        )
    )
    out = ranked.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(brk))
    clamped = F.col("k") < F.col("brk_k")
    return out.select(
        "source",
        F.col("s").alias("supply_tokens"),
        F.col("b").alias("budget_tokens"),
        F.col("level").alias("fill_level"),
        clamped.alias("clamped"),
        F.when(clamped, F.col("s").cast("double"))
        .otherwise(F.col("level"))
        .alias("allocation_tokens"),
        F.when(clamped, F.lit(1.0))
        .otherwise(F.col("level") / F.col("s").cast("double"))
        .alias("epochs"),
    )


# ---------------------------------------------------------------------------
# PPS systematic sampling (Madow) with a distributed prefix sum
# ---------------------------------------------------------------------------

#: Sample size (selection points) and the prefix-sum bucket count for
#: the distributed cumulative sum (see the op docstring).
PPS_K = 100
PPS_BUCKETS = 32

#: Closed-form hit count per document — the number of systematic
#: selection points p_k = (2k+1)·T/(2K), k ∈ [0, K), falling in the
#: doc's cumulative-size interval [c, c+size).  Pure BIGINT:
#: #{k: (2k+1)T ≥ 2K·c} has smallest k = ceil((2K·c − T)/(2T)) =
#: (2K·c + T − 1) div (2T) (numerator always positive, so floor =
#: truncate and both engines' integer division agree), and the strict
#: upper end uses the same formula with c+size; the difference IS the
#: hit count, and it telescopes to exactly K over the corpus.
_PPS_HITS_SQL = (
    "((2 * {k} * cum + t - 1) {div} (2 * t)"
    " - (2 * {k} * cstart + t - 1) {div} (2 * t))"
)


def distributed_prefix_sum(d: DataFrame) -> DataFrame:
    """Exclusive cumulative sum of ``size`` in doc_id order WITHOUT a
    global window: doc_ids bucket by integer floor division on a
    broadcast max-id (the house novelty-curve pattern), per-bucket sums
    roll up to PPS_BUCKETS broadcast running offsets, and the
    within-bucket cumulative window partitions by bucket — the standard
    distributed prefix-sum.  Input (doc_id, size); output adds cstart.
    Shared by PPS systematic sampling and the corpus STTR chunking."""
    mx = d.agg(F.max("doc_id").alias("m"))
    bucketed = d.crossJoin(F.broadcast(mx)).select(
        "doc_id",
        "size",
        F.expr(f"doc_id * {PPS_BUCKETS} div (m + 1)").alias("bucket"),
    )
    bsum = bucketed.groupBy("bucket").agg(
        F.sum("size").cast("bigint").alias("bsize")
    )
    offsets = bsum.select(
        "bucket",
        F.coalesce(
            F.sum("bsize").over(
                Window.orderBy("bucket").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("offset"),
    )
    within = bucketed.select(
        "doc_id",
        "size",
        "bucket",
        F.coalesce(
            F.sum("size").over(
                Window.partitionBy("bucket")
                .orderBy("doc_id")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("wcum"),
    )
    return within.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        "size",
        (F.col("offset") + F.col("wcum")).cast("bigint").alias("cstart"),
    )


@register(
    "sample_pps_systematic",
    oracle=f"""
    WITH d AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS size
        FROM documents
    ),
    tot AS (SELECT CAST(SUM(size) AS BIGINT) AS t FROM d),
    cums AS (
        SELECT doc_id, size,
               CAST(coalesce(SUM(size) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS cstart
        FROM d
    ),
    hits AS (
        SELECT c.doc_id, c.size, c.cstart,
               CAST(c.cstart + c.size AS BIGINT) AS cum,
               tot.t
        FROM cums c, tot
    )
    SELECT doc_id, size, cstart,
           CAST({_PPS_HITS_SQL.format(k=PPS_K, div="//")} AS BIGINT)
               AS n_hits,
           CAST({PPS_K} AS BIGINT) * size / CAST(t AS DOUBLE)
               AS expected_hits
    FROM hits
    WHERE {_PPS_HITS_SQL.format(k=PPS_K, div="//")} >= 1
    """,
    tags=("pipeline", "sampling"),
)
def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size systematic sampling (Madow
    1949) of documents by token count — the PPS member of the sampling
    family (hash-split is uniform, stratified fixes per-group counts,
    the ES reservoir is weighted-without-replacement; PPS systematic
    is the census/audit standard when inclusion probability must be
    EXACTLY proportional to size with minimal variance): K = 100
    equally-spaced selection points at midpoint offset — p_k =
    (2k+1)·T/(2K) — walk the cumulative token sizes in doc_id order;
    a document is hit once per point inside its interval (docs larger
    than the step get multiplicities, the standard PPS behavior), and
    hit counts telescope to exactly K.

    Exactness: NO randomness (the midpoint offset is the
    deterministic textbook choice when reproducibility is required)
    and NO floats in selection — the point-in-interval test is
    cross-multiplied to BIGINT and collapsed to a closed-form integer
    division per document (numerators are always positive, so DuckDB
    floor-div and Spark div agree); expected_hits = K·size/T is the
    one mirrored float column (the Horvitz-Thompson weight feed).

    Scale — the real content of this op: the global cumulative sum is
    computed WITHOUT a global window (a single-task total-order sort
    is the engine's banned funnel): doc_ids bucket by integer floor
    division on a broadcast max-id (the house novelty-curve pattern),
    per-bucket sums roll up to PPS_BUCKETS rows whose running offsets
    broadcast back, and the within-bucket cumulative window partitions
    by bucket — two map-side-combined aggregates plus a window over
    bounded partitions, the standard distributed prefix-sum.  The
    oracle uses the plain global window (DuckDB is single-node; the
    VALUES must match, not the plan)."""
    d = fanout(table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.size(words()).cast("bigint").alias("size"),
    )
    tot = d.agg(F.sum("size").cast("bigint").alias("t"))
    hits = distributed_prefix_sum(d).crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "size",
        "cstart",
        (F.col("cstart") + F.col("size")).alias("cum"),
        "t",
    )
    n_hits = F.expr(_PPS_HITS_SQL.format(k=PPS_K, div="div"))
    return (
        hits.withColumn("n_hits", n_hits.cast("bigint"))
        .filter(F.col("n_hits") >= 1)
        .select(
            "doc_id",
            "size",
            "cstart",
            "n_hits",
            (
                F.lit(PPS_K).cast("bigint")
                * F.col("size")
                / F.col("t").cast("double")
            ).alias("expected_hits"),
        )
    )


#: Number of leakage-free group folds.
GROUP_KFOLD_K = 5

GROUP_KFOLD_ORACLE = f"""
WITH assign AS (
    SELECT source,
           CAST(('0x' || substr(md5(source), 1, 15)) AS BIGINT)
               % {GROUP_KFOLD_K} AS fold,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents GROUP BY 1, 2
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM assign)
SELECT fold,
       CAST(count(*) AS BIGINT) AS n_sources,
       CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       round(CAST(SUM(n_docs) AS DOUBLE) / CAST(MAX(n) AS DOUBLE), 12)
           AS doc_share
FROM assign CROSS JOIN tot
GROUP BY fold
"""


@register(
    "sample_group_kfold_hash",
    oracle=GROUP_KFOLD_ORACLE,
    tags=("sample", "pipeline"),
)
def sample_group_kfold_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free group k-fold assignment: every document's fold is a
    deterministic hash of its SOURCE, so all documents sharing a source
    land in the same fold — the split discipline that keeps near-
    duplicate documents from one crawl domain out of both train and
    held-out folds (random per-document splits leak shared boilerplate
    and inflate eval; cf. group k-fold in scikit-learn, here hash-
    assigned so the split is stable under corpus growth: adding a new
    source never moves an existing one).  Output is the fold-level
    audit: source/doc/token counts and the doc share per fold — the
    imbalance table that decides whether K or the grouping key needs
    revisiting.

    Exactness: fold = md5-derived 60-bit hash64(source) mod K (the
    house cross-engine hash, both operands nonnegative so both engines'
    % agree); all counts BIGINT; one round-12 division for the share.

    Scale: ONE map-side-combined groupBy(source, fold) — fold is a
    function of the group key so it adds nothing to the shuffle — then
    a K-row rollup.  Assignment of the full corpus (doc_id → fold) is
    the same expression as a narrow projection, no shuffle at all;
    this query materializes only the audit."""
    d = fanout(table(spark, sf_dir, "documents"))
    assign = d.groupBy(
        "source",
        (hash64(F.col("source")) % GROUP_KFOLD_K).alias("fold"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.size(words()))
        .cast("bigint")
        .alias("n_tokens"),
    )
    tot = assign.agg(F.sum("n_docs").cast("bigint").alias("n"))
    return (
        assign.crossJoin(F.broadcast(tot))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.round(
                F.sum("n_docs").cast("double") / F.max("n").cast("double"),
                12,
            ).alias("doc_share"),
        )
    )


HT_EVAL_ORACLE = f"""
WITH d AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS size,
           CAST(n_chars AS BIGINT) AS y
    FROM documents
),
tot AS (
    SELECT CAST(SUM(size) AS BIGINT) AS t,
           CAST(SUM(y) AS BIGINT) AS true_chars,
           CAST(count(*) AS BIGINT) AS true_docs
    FROM d
),
cums AS (
    SELECT doc_id, size, y,
           CAST(coalesce(SUM(size) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS cstart
    FROM d
),
hits AS (
    SELECT c.doc_id, c.size, c.y, c.cstart,
           CAST(c.cstart + c.size AS BIGINT) AS cum, tot.t
    FROM cums c, tot
),
sel AS MATERIALIZED (
    SELECT doc_id, size, y,
           CAST({_PPS_HITS_SQL.format(k=PPS_K, div="//")} AS BIGINT)
               AS n_hits
    FROM hits
    WHERE {_PPS_HITS_SQL.format(k=PPS_K, div="//")} >= 1
),
est AS MATERIALIZED (
    SELECT CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(SUM(n_hits) AS BIGINT) AS k_check,
           SUM(CAST(round(CAST(n_hits * y AS DOUBLE)
                          / CAST(size AS DOUBLE), 12)
                    AS DECIMAL(38,12))) AS s_chars,
           SUM(CAST(round(CAST(n_hits AS DOUBLE)
                          / CAST(size AS DOUBLE), 12)
                    AS DECIMAL(38,12))) AS s_docs
    FROM sel
)
SELECT 'total_chars' AS quantity,
       CAST(t.true_chars AS DOUBLE) AS truth,
       CAST(e.s_chars AS DOUBLE) * CAST(t.t AS DOUBLE) / {PPS_K}.0
           AS ht_estimate,
       (CAST(e.s_chars AS DOUBLE) * CAST(t.t AS DOUBLE) / {PPS_K}.0
        - CAST(t.true_chars AS DOUBLE)) / CAST(t.true_chars AS DOUBLE)
           AS rel_error,
       e.n_sampled, e.k_check
FROM est e CROSS JOIN tot t
UNION ALL
SELECT 'n_docs' AS quantity,
       CAST(t.true_docs AS DOUBLE) AS truth,
       CAST(e.s_docs AS DOUBLE) * CAST(t.t AS DOUBLE) / {PPS_K}.0
           AS ht_estimate,
       (CAST(e.s_docs AS DOUBLE) * CAST(t.t AS DOUBLE) / {PPS_K}.0
        - CAST(t.true_docs AS DOUBLE)) / CAST(t.true_docs AS DOUBLE)
           AS rel_error,
       e.n_sampled, e.k_check
FROM est e CROSS JOIN tot t
"""


@register(
    "sample_pps_hansen_hurwitz_eval",
    oracle=HT_EVAL_ORACLE,
    tags=("sample", "pipeline", "evaluation"),
)
def sample_pps_hansen_hurwitz_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hansen-Hurwitz / Horvitz-Thompson estimator audit of the PPS
    systematic sample (Hansen & Hurwitz 1943; the with-multiplicity
    estimator matching Madow systematic selection): estimate the
    corpus's total characters and document COUNT from only the
    sampled rows — est = (T/K) * Sum n_hits_i * y_i / size_i — and
    report relative error against the exact truth.  This is the
    audit that justifies trusting statistics computed on the
    downsampled corpus: the sampling family produces samples, this
    op closes the loop on whether they REWEIGHT correctly (rel_error
    for total_chars should be small because chars correlate with the
    token-size measure; n_docs has higher design variance -- both
    rows carry it so the drift is trended, not assumed).

    Exactness: selection reuses the PPS op's closed-form BIGINT
    point-in-interval division verbatim (no randomness, no floats in
    selection); per-doc estimator terms are round-12 doubles summed
    as DECIMAL(38,12) (the house weighted-term convention); the
    (T/K) blow-up and the relative errors are mirrored fixed-order
    double expressions.  Sum(n_hits) = K rides along as a structural
    check column.

    Scale: the sample stage is the PPS op's distributed prefix-sum
    (no global window); the estimator is one map-side-combined
    aggregate over the K-row-bounded sample joined back to nothing —
    the y values ride the selection frame."""
    d = fanout(table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.size(words()).cast("bigint").alias("size"),
        F.col("n_chars").cast("bigint").alias("y"),
    )
    tot = d.agg(
        F.sum("size").cast("bigint").alias("t"),
        F.sum("y").cast("bigint").alias("true_chars"),
        F.count(F.lit(1)).cast("bigint").alias("true_docs"),
    )
    hits = (
        distributed_prefix_sum(d.select("doc_id", "size"))
        .join(d.select("doc_id", "y"), "doc_id")
        .crossJoin(F.broadcast(tot.select("t")))
        .select(
            "doc_id",
            "size",
            "y",
            "cstart",
            (F.col("cstart") + F.col("size")).alias("cum"),
            "t",
        )
    )
    n_hits = F.expr(_PPS_HITS_SQL.format(k=PPS_K, div="div"))
    sel = (
        hits.withColumn("n_hits", n_hits.cast("bigint"))
        .filter(F.col("n_hits") >= 1)
        .select("doc_id", "size", "y", "n_hits")
    )
    est = sel.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.sum("n_hits").cast("bigint").alias("k_check"),
        F.sum(
            F.round(
                (F.col("n_hits") * F.col("y")).cast("double")
                / F.col("size").cast("double"),
                12,
            ).cast("decimal(38,12)")
        ).alias("s_chars"),
        F.sum(
            F.round(
                F.col("n_hits").cast("double")
                / F.col("size").cast("double"),
                12,
            ).cast("decimal(38,12)")
        ).alias("s_docs"),
    )
    j = est.crossJoin(F.broadcast(tot))
    rows = []
    for qty, s_col, truth_col in (
        ("total_chars", "s_chars", "true_chars"),
        ("n_docs", "s_docs", "true_docs"),
    ):
        ht = (
            F.col(s_col).cast("double")
            * F.col("t").cast("double")
            / F.lit(float(PPS_K))
        )
        rows.append(
            j.select(
                F.lit(qty).alias("quantity"),
                F.col(truth_col).cast("double").alias("truth"),
                ht.alias("ht_estimate"),
                (
                    (ht - F.col(truth_col).cast("double"))
                    / F.col(truth_col).cast("double")
                ).alias("rel_error"),
                "n_sampled",
                "k_check",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out
