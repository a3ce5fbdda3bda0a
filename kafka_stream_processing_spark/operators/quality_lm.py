"""Language-model scoring over the documents corpus: linear quality
models, CCNet-style perplexity buckets, unigram/bigram/trigram/4-gram
Kneser-Ney and interpolated LMs, OOV rates, and the train/held-out
memorization audit.

All token and n-gram statistics are SQL-expressed (explode -> groupBy
with map-side combine); probabilities stay exact integers as long as
possible and take ONE IEEE step at the end so DuckDB oracles match
bit-for-bit.  Split from quality.py in r09; semantics unchanged.
"""


from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_processing_spark.operators.dedup import hash64
from kafka_stream_processing_spark.operators.word_kernel import (
    _gram_rows,
    _word_counts,
    words,
)
from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import table, fanout


#: Hashed-feature space and weight granularity for the linear quality
#: classifier.  4096 buckets is a stand-in for a fastText-style hashed
#: vocabulary; weights are integer centi-units so scoring is bit-exact.
MODEL_BUCKETS = 4096


_WEIGHT_MULT = 2654435761  # Knuth multiplicative-hash constant


@register(
    "quality_model_score_linear",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(lower(text), ' ') AS t
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, len(t) AS n_tokens,
               CAST(list_aggregate(list_transform(t, w ->
                   (CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT)
                    % {MODEL_BUCKETS}) * {_WEIGHT_MULT} % 2001 - 1000),
                   'sum') AS BIGINT) AS score_centi
        FROM toks
    )
    SELECT doc_id, lang, n_tokens, score_centi,
           score_centi >= 0 AS keep
    FROM scored
    """,
    tags=("quality", "model"),
)
def quality_model_score_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the GPT-3/CCNet classifier stage),
    expressed as a hashed linear model: each lowercased token hashes into
    one of MODEL_BUCKETS features, each bucket carries a deterministic
    integer centi-weight ((bucket * Knuth) % 2001 - 1000 ∈ [-1000, 1000]),
    and the document score is the sum over token OCCURRENCES — exactly the
    dot product of a hashed bag-of-words with a dense weight vector.  The
    weights here are hash-derived stand-ins; swapping in trained fastText
    weights is a literal-table substitution, the dataflow is identical.

    Scale: scoring is a narrow higher-order expression over the scan
    (transform → aggregate, whole-stage codegen), zero shuffle and zero
    Python — at 100 TB the classifier runs at scan speed, which is why
    production pipelines run the cheap linear filter BEFORE any pairwise
    dedup.  Integer arithmetic keeps the keep/drop frontier bit-exact
    across engines (no float dot-product drift)."""
    d = fanout(table(spark, sf_dir, "documents"))
    t = words(F.lower(F.col("text")))
    weight = lambda w: (  # noqa: E731
        (hash64(w) % MODEL_BUCKETS) * _WEIGHT_MULT % 2001 - 1000
    )
    score = F.aggregate(
        F.transform(t, weight),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        "lang",
        F.size(t).alias("n_tokens"),
        score.cast("bigint").alias("score_centi"),
        (score >= 0).alias("keep"),
    )


@register(
    "quality_ccnet_perplexity_buckets",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, string_split(lower(text), ' ') AS t
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               CAST(list_aggregate(list_transform(t, w ->
                   (CAST(('0x' || substr(md5(w || 'p'), 1, 15)) AS BIGINT)
                    % {MODEL_BUCKETS}) * {_WEIGHT_MULT} % 2001),
                   'sum') AS BIGINT) // len(t) AS ppl_centi
        FROM toks
        WHERE len(t) > 0
    ),
    ranked AS (
        SELECT doc_id, lang, ppl_centi,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY ppl_centi, doc_id) AS rn,
               count(*) OVER (PARTITION BY lang) AS n
        FROM scored
    )
    SELECT doc_id, lang, ppl_centi,
           CASE WHEN rn * 3 <= n THEN 'head'
                WHEN rn * 3 <= 2 * n THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
    """,
    tags=("quality", "ccnet"),
)
def quality_ccnet_perplexity_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet's perplexity bucketing (Wenzek et al. 2020): score every
    document with a language-model perplexity proxy, then split EACH
    LANGUAGE into equal head/middle/tail terciles by rank — head is the
    cleanest third of that language's crawl, the slice CCNet keeps for
    pretraining.  The per-token loss here is the hashed stand-in (salt
    'p' on the shared quality-model kernel, non-negative 0..2000
    centi-nats, per-doc integer mean); swapping a real KenLM/GPT
    per-token NLL in is a column substitution.  Rank bucketing uses the
    integer frontier ``rn*3 <= k*n`` with a doc_id tiebreak so the
    tercile edges are bit-exact cross-engine (quantile thresholds on
    float scores are not).

    Scale: scoring is a narrow higher-order expression at scan speed;
    the tercile split is ONE shuffle on the language key — and language
    is the natural shard key of a multilingual crawl, so the window
    parallelizes across languages exactly as CCNet's per-language
    pipelines do.  State per language is a counter, not a buffer."""
    d = fanout(table(spark, sf_dir, "documents"))
    t = words(F.lower(F.col("text")))
    loss = lambda w: (  # noqa: E731
        (hash64(F.concat(w, F.lit("p"))) % MODEL_BUCKETS) * _WEIGHT_MULT % 2001
    )
    total = F.aggregate(
        F.transform(t, loss), F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    scored = d.filter(F.size(t) > 0).select(
        "doc_id",
        "lang",
        (total / F.size(t)).cast("bigint").alias("ppl_centi"),
    )
    w_rank = Window.partitionBy("lang").orderBy("ppl_centi", "doc_id")
    w_n = Window.partitionBy("lang")
    rn = F.row_number().over(w_rank)
    n = F.count(F.lit(1)).over(w_n)
    return scored.select(
        "doc_id",
        "lang",
        "ppl_centi",
        F.when(rn * 3 <= n, "head")
        .when(rn * 3 <= 2 * n, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


@register(
    "quality_unigram_lm_surprisal",
    oracle="""
    WITH occ AS (
        SELECT doc_id, lang, w
        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
              FROM documents)
    ),
    vocab AS (
        SELECT w, count(*) AS c FROM occ GROUP BY w
    ),
    lm AS (
        SELECT w,
               CAST(round(-ln(CAST(c AS DOUBLE) / SUM(c) OVER ()), 6)
                    AS DECIMAL(18,6)) AS surp
        FROM vocab
    ),
    doc_occ AS (
        SELECT doc_id, lang, w, count(*) AS k
        FROM occ GROUP BY 1, 2, 3
    )
    SELECT d.doc_id, d.lang,
           CAST(SUM(d.k) AS BIGINT) AS n_words,
           CAST(SUM(d.k * lm.surp) AS DOUBLE) / SUM(d.k)
               AS mean_surprisal
    FROM doc_occ d JOIN lm ON d.w = lm.w
    GROUP BY 1, 2
    """,
    tags=("quality", "lm"),
)
def quality_unigram_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram language model scoring: train word
    probabilities ON the corpus itself (MLE over all occurrences — every
    scored word is in-vocabulary by construction), then score each
    document by its mean surprisal −(1/n)·Σ ln p(w).  This is the real
    trained-model counterpart to quality_ccnet_perplexity_buckets'
    hashed per-token-loss stand-in: documents full of rare words score
    high, boilerplate of corpus-dominant words scores low — the same
    axis a KenLM wiki-model orders a crawl by (Wenzek et al. 2020),
    learned here from the data with zero out-of-band artifacts.
    Cross-engine exactness: per-word surprisal is round(ln, 6) cast
    DECIMAL(18,6) (the shared round-ln convention); the per-doc sum is
    k·surp over (doc, word) pairs — exact decimal arithmetic, and the
    final mean is one IEEE double division of identical operands.

    Scale: training is ONE groupBy(word) with map-side combine — vocab
    is Heaps-law sublinear (~10⁷ rows at 100 TB, a few hundred MB: still
    a broadcast).  Scoring pre-aggregates (doc, word) counts so the
    probability join touches distinct-words-per-doc rows, not raw
    occurrences, then ONE groupBy(doc_id).  Bodies never shuffle; if
    vocab ever outgrows broadcast, the join keys are already word-hashed
    and skew-free."""
    d = fanout(table(spark, sf_dir, "documents"))
    doc_occ = _word_counts(d, "doc_id", "lang", count="k")
    vocab = doc_occ.groupBy("w").agg(F.sum("k").alias("c"))
    lm = vocab.select(
        "w",
        F.round(
            -F.log(
                F.col("c").cast("double")
                / F.sum("c").over(Window.partitionBy())
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("surp"),
    )
    return (
        doc_occ.join(F.broadcast(lm), "w")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("k").cast("bigint").alias("n_words"),
            (
                F.sum(F.col("k") * F.col("surp")).cast("double")
                / F.sum("k")
            ).alias("mean_surprisal"),
        )
    )


#: Interpolation weight on the bigram term (Jelinek-Mercer smoothing);
#: the unigram back-off carries the rest.  A literal so both engines
#: fold the identical double.
LM_LAMBDA = 0.7


#: Beginning-of-document sentinel context ('<' never occurs in the
#: corpus vocabulary, so it cannot collide with a real word).
LM_BOS = "<s>"


#: Shared oracle CTEs: BOS-prefixed bigram occurrences (doc_id, lang,
#: w1, w2) — the single source both bigram LMs build on (interpolated
#: and Kneser-Ney), mirrored Spark-side by ``_gram_rows(..., bos=LM_BOS)``.
_BI_CTES = f"""toks AS (
        SELECT doc_id, lang,
               list_prepend('{LM_BOS}', string_split(text, ' ')) AS t
        FROM documents
    ),
    bi AS (
        SELECT doc_id, lang, t[k] AS w1, t[k + 1] AS w2
        FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) u(k)
    )"""


@register(
    "quality_bigram_lm_interpolated",
    oracle=f"""
    WITH {_BI_CTES},
    uni AS (
        SELECT w2 AS w, count(*) AS c FROM bi GROUP BY w2
    ),
    cb AS (
        SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2
    ),
    ctx AS (
        SELECT w1, SUM(c) AS c FROM cb GROUP BY w1
    ),
    lm AS (
        SELECT cb.w1, cb.w2,
               CAST(round(-ln(
                   {LM_LAMBDA} * (CAST(cb.c AS DOUBLE) / ctx.c)
                 + {1 - LM_LAMBDA} * (CAST(uni.c AS DOUBLE)
                                      / (SELECT SUM(c) FROM uni))), 6)
               AS DECIMAL(18,6)) AS surp
        FROM cb
        JOIN ctx ON cb.w1 = ctx.w1
        JOIN uni ON cb.w2 = uni.w
    ),
    doc_bi AS (
        SELECT doc_id, lang, w1, w2, count(*) AS k
        FROM bi GROUP BY 1, 2, 3, 4
    )
    SELECT d.doc_id, d.lang,
           CAST(SUM(d.k) AS BIGINT) AS n_tokens,
           CAST(SUM(d.k * lm.surp) AS DOUBLE) / SUM(d.k)
               AS mean_surprisal
    FROM doc_bi d
    JOIN lm ON d.w1 = lm.w1 AND d.w2 = lm.w2
    GROUP BY 1, 2
    """,
    tags=("quality", "lm"),
)
def quality_bigram_lm_interpolated(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interpolated bigram language model (Jelinek-Mercer smoothing):
    p(w₂|w₁) = λ·c(w₁w₂)/c(w₁·) + (1−λ)·c(w₂)/N, trained on the corpus
    and scoring every token in context — the first model in this engine
    family that penalizes IMPROBABLE SEQUENCES of common words, not just
    rare vocabulary (quality_unigram_lm_surprisal's blind spot; shuffled
    boilerplate scores identically there, higher here).  A '<s>'
    sentinel prepended per document gives the first token a real
    conditioning context (its ctx count = the document count), so every
    whitespace token is scored exactly once by one rule.  Cross-engine
    exactness: both probability terms are IEEE double divisions of
    identical integers, the λ-mix is two exact multiply-adds, and the
    single ln rounds to 6 decimals into DECIMAL(18,6) — the engine's
    round-ln convention — before the exact per-doc decimal sum.

    Scale: training is two groupBys (bigram, unigram) with map-side
    combine; the bigram table is O(distinct bigrams) — Heaps-law
    sublinear but bigger than vocab, so the scoring join is a SHUFFLE
    join on (w₁,w₂) by design (no forced broadcast; AQE picks broadcast
    while it fits).  Scoring pre-aggregates per-doc DISTINCT bigrams so
    join input is bounded by doc distinctness, then ONE groupBy(doc_id).
    Bodies never shuffle."""
    d = fanout(table(spark, sf_dir, "documents"))
    pairs = _gram_rows(d, 2, "doc_id", "lang", bos=LM_BOS)
    uni = pairs.groupBy(F.col("w2").alias("w")).agg(
        F.count(F.lit(1)).alias("c")
    )
    cb = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    ctx = cb.groupBy("w1").agg(F.sum("cb").alias("cc"))
    n_total = F.sum("c").over(Window.partitionBy())
    uni_p = uni.select(
        "w", (F.col("c").cast("double") / n_total).alias("pu")
    )
    lm = (
        cb.join(ctx, "w1")
        .join(uni_p, F.col("w2") == F.col("w"))
        .select(
            "w1",
            "w2",
            F.round(
                -F.log(
                    F.lit(LM_LAMBDA)
                    * (F.col("cb").cast("double") / F.col("cc"))
                    + F.lit(1 - LM_LAMBDA) * F.col("pu")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("surp"),
        )
    )
    doc_bi = pairs.groupBy("doc_id", "lang", "w1", "w2").agg(
        F.count(F.lit(1)).alias("k")
    )
    return (
        doc_bi.join(lm, ["w1", "w2"])
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("k").cast("bigint").alias("n_tokens"),
            (
                F.sum(F.col("k") * F.col("surp")).cast("double")
                / F.sum("k")
            ).alias("mean_surprisal"),
        )
    )


#: Absolute discount for Kneser-Ney smoothing — the textbook constant;
#: a literal so both engines fold the identical double.
KN_DISCOUNT = 0.75


@register(
    "quality_bigram_kneser_ney",
    oracle=f"""
    WITH {_BI_CTES},
    cb AS (
        SELECT w1, w2, count(*) AS c FROM bi GROUP BY 1, 2
    ),
    ctx AS (
        SELECT w1, SUM(c) AS total, count(*) AS n1fwd FROM cb GROUP BY w1
    ),
    bwd AS (
        SELECT w2, count(*) AS n1bwd FROM cb GROUP BY w2
    ),
    lm AS (
        SELECT cb.w1, cb.w2,
               CAST(round(-ln(
                   ((CAST(cb.c AS DOUBLE) - {KN_DISCOUNT}) / ctx.total)
                 + (({KN_DISCOUNT} * ctx.n1fwd) / ctx.total)
                   * (CAST(bwd.n1bwd AS DOUBLE)
                      / (SELECT count(*) FROM cb))), 6)
               AS DECIMAL(18,6)) AS surp
        FROM cb
        JOIN ctx ON cb.w1 = ctx.w1
        JOIN bwd ON cb.w2 = bwd.w2
    ),
    doc_bi AS (
        SELECT doc_id, lang, w1, w2, count(*) AS k
        FROM bi GROUP BY 1, 2, 3, 4
    )
    SELECT d.doc_id, d.lang,
           CAST(SUM(d.k) AS BIGINT) AS n_tokens,
           CAST(SUM(d.k * lm.surp) AS DOUBLE) / SUM(d.k)
               AS mean_surprisal
    FROM doc_bi d
    JOIN lm ON d.w1 = lm.w1 AND d.w2 = lm.w2
    GROUP BY 1, 2
    """,
    tags=("quality", "lm"),
)
def quality_bigram_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram LM (Kneser & Ney 1995; the Chen &
    Goodman 1999 benchmark winner and KenLM's default — the smoothing a
    CCNet-style quality filter actually runs): absolute discounting
    p(w₂|w₁) = max(c(w₁w₂)−D, 0)/c(w₁·) + D·N₁₊(w₁·)/c(w₁·) · p_cont(w₂),
    where the CONTINUATION probability p_cont(w₂) = N₁₊(·w₂)/N₁₊(··)
    counts how many distinct contexts a word follows rather than how
    often it occurs — the insight that 'francisco' is frequent but only
    ever follows 'san', so its back-off mass should be tiny.  That
    continuation-vs-frequency distinction is exactly what the
    interpolated model above cannot express; the three LMs (unigram /
    JM-interpolated / KN) form the standard smoothing ladder.  Every
    scored bigram is in-vocabulary (self-trained), so c ≥ 1 > D and the
    max() truncation never binds.  Cross-engine exactness: the
    probability is a fixed parenthesized chain of IEEE ops on
    integer-derived doubles, then one round(ln, 6) into DECIMAL(18,6)
    before the exact per-doc sum — the shared LM convention.

    Scale: identical dataflow to the interpolated model (one BOS-bigram
    kernel, _gram_rows, shared verbatim): two training groupBys plus
    one distinct-context groupBy, a shuffle join of per-doc DISTINCT
    bigrams against the O(distinct bigrams) LM table, ONE
    groupBy(doc_id).  Bodies never shuffle."""
    d = fanout(table(spark, sf_dir, "documents"))
    pairs = _gram_rows(d, 2, "doc_id", "lang", bos=LM_BOS)
    cb = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    ctx = cb.groupBy("w1").agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("n1fwd")
    )
    bwd = cb.groupBy("w2").agg(F.count(F.lit(1)).alias("n1bwd"))

    n1tot = F.count(F.lit(1)).over(Window.partitionBy())
    cb_tot = cb.withColumn("n1tot", n1tot)
    lm = (
        cb_tot.join(ctx, "w1")
        .join(bwd, "w2")
        .select(
            "w1",
            "w2",
            F.round(
                -F.log(
                    (
                        (F.col("c").cast("double") - F.lit(KN_DISCOUNT))
                        / F.col("total")
                    )
                    + (
                        (F.lit(KN_DISCOUNT) * F.col("n1fwd"))
                        / F.col("total")
                    )
                    * (F.col("n1bwd").cast("double") / F.col("n1tot"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("surp"),
        )
    )
    doc_bi = pairs.groupBy("doc_id", "lang", "w1", "w2").agg(
        F.count(F.lit(1)).alias("k")
    )
    return (
        doc_bi.join(lm, ["w1", "w2"])
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("k").cast("bigint").alias("n_tokens"),
            (
                F.sum(F.col("k") * F.col("surp")).cast("double")
                / F.sum("k")
            ).alias("mean_surprisal"),
        )
    )


#: Shared oracle CTEs for the trigram KN model: double-BOS-prefixed
#: trigram occurrences (doc_id, lang, w1, w2, w3).
_TRI_CTES = f"""toks3 AS (
        SELECT doc_id, lang,
               list_prepend('{LM_BOS}',
                   list_prepend('{LM_BOS}', string_split(text, ' '))) AS t
        FROM documents
    ),
    tri AS (
        SELECT doc_id, lang, t[k] AS w1, t[k + 1] AS w2, t[k + 2] AS w3
        FROM toks3, LATERAL unnest(generate_series(1, len(t) - 2)) u(k)
    )"""


@register(
    "quality_trigram_kneser_ney",
    oracle=f"""
    WITH {_TRI_CTES},
    c3 AS (
        SELECT w1, w2, w3, count(*) AS c FROM tri GROUP BY 1, 2, 3
    ),
    ctx3 AS (
        SELECT w1, w2, SUM(c) AS total, count(*) AS n1 FROM c3 GROUP BY 1, 2
    ),
    c2 AS (
        SELECT w2, w3, count(DISTINCT w1) AS c FROM tri GROUP BY 1, 2
    ),
    ctx2 AS (
        SELECT w2, SUM(c) AS total, count(*) AS n1 FROM c2 GROUP BY 1
    ),
    c1 AS (
        SELECT w3, count(*) AS c FROM c2 GROUP BY w3
    ),
    lm AS (
        SELECT c3.w1, c3.w2, c3.w3,
               CAST(round(-ln(
                   ((CAST(c3.c AS DOUBLE) - {KN_DISCOUNT}) / ctx3.total)
                 + (({KN_DISCOUNT} * ctx3.n1) / ctx3.total)
                   * (((CAST(c2.c AS DOUBLE) - {KN_DISCOUNT}) / ctx2.total)
                      + (({KN_DISCOUNT} * ctx2.n1) / ctx2.total)
                        * (CAST(c1.c AS DOUBLE)
                           / (SELECT SUM(c) FROM c1)))), 6)
               AS DECIMAL(18,6)) AS surp
        FROM c3
        JOIN ctx3 ON ctx3.w1 = c3.w1 AND ctx3.w2 = c3.w2
        JOIN c2 ON c2.w2 = c3.w2 AND c2.w3 = c3.w3
        JOIN ctx2 ON ctx2.w2 = c3.w2
        JOIN c1 ON c1.w3 = c3.w3
    ),
    doc_tri AS (
        SELECT doc_id, lang, w1, w2, w3, count(*) AS k
        FROM tri GROUP BY 1, 2, 3, 4, 5
    )
    SELECT d.doc_id, d.lang,
           CAST(SUM(d.k) AS BIGINT) AS n_tokens,
           CAST(SUM(d.k * lm.surp) AS DOUBLE) / SUM(d.k)
               AS mean_surprisal
    FROM doc_tri d
    JOIN lm ON d.w1 = lm.w1 AND d.w2 = lm.w2 AND d.w3 = lm.w3
    GROUP BY 1, 2
    """,
    tags=("quality", "lm"),
)
def quality_trigram_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram Kneser-Ney with the FULL two-level backoff recursion
    (Chen & Goodman 1999's interpolated form — the construction KenLM
    generalizes to 5-grams): the highest order discounts RAW trigram
    counts; the bigram level below it is built from CONTINUATION counts
    N₁₊(·w₂w₃) (how many distinct left-contexts attest the bigram —
    counted from the order above, never raw bigrams); the unigram floor
    counts distinct middles per word over that same table.  A double
    '<s>' prefix gives every token a full trigram context, so each
    whitespace token is scored exactly once by one three-level rule.
    This completes the n-gram ladder (unigram MLE → JM bigram → KN
    bigram → KN trigram) at the order where context genuinely
    disambiguates ('hash join build' vs 'hash join probe').
    Cross-engine exactness: a fixed parenthesized chain of IEEE ops on
    integer-derived doubles, one round(ln, 6) into DECIMAL(18,6), exact
    per-doc decimal sums — the LM family convention.

    Scale: four training groupBys (trigram, trigram-context, bigram
    continuation — a count-distinct over left contexts, plans as
    partial-distinct then count — and its margins); the scoring join
    keys on (w₁,w₂,w₃) against the O(distinct trigrams) LM table —
    Heaps-sublinear but the largest table in the family, so the join is
    a shuffle join by design with per-doc DISTINCT trigrams as probe
    input.  Bodies never shuffle."""
    d = fanout(table(spark, sf_dir, "documents"))
    tri = _gram_rows(d, 3, "doc_id", "lang", bos=LM_BOS)
    c3 = tri.groupBy("w1", "w2", "w3").agg(F.count(F.lit(1)).alias("c3"))
    ctx3 = c3.groupBy("w1", "w2").agg(
        F.sum("c3").alias("t3"), F.count(F.lit(1)).alias("n13")
    )
    c2 = tri.groupBy("w2", "w3").agg(F.countDistinct("w1").alias("c2"))
    ctx2 = c2.groupBy("w2").agg(
        F.sum("c2").alias("t2"), F.count(F.lit(1)).alias("n12")
    )
    c1 = c2.groupBy("w3").agg(F.count(F.lit(1)).alias("c1"))
    total1 = F.sum("c1").over(Window.partitionBy())
    c1t = c1.withColumn("tot1", total1)
    D = KN_DISCOUNT
    p2 = (
        (F.col("c2").cast("double") - F.lit(D)) / F.col("t2")
    ) + ((F.lit(D) * F.col("n12")) / F.col("t2")) * (
        F.col("c1").cast("double") / F.col("tot1")
    )
    p3 = (
        (F.col("c3").cast("double") - F.lit(D)) / F.col("t3")
    ) + ((F.lit(D) * F.col("n13")) / F.col("t3")) * p2
    lm = (
        c3.join(ctx3, ["w1", "w2"])
        .join(c2, ["w2", "w3"])
        .join(ctx2, "w2")
        .join(c1t, "w3")
        .select(
            "w1",
            "w2",
            "w3",
            F.round(-F.log(p3), 6).cast("decimal(18,6)").alias("surp"),
        )
    )
    doc_tri = tri.groupBy("doc_id", "lang", "w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("k")
    )
    return (
        doc_tri.join(lm, ["w1", "w2", "w3"])
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("k").cast("bigint").alias("n_tokens"),
            (
                F.sum(F.col("k") * F.col("surp")).cast("double")
                / F.sum("k")
            ).alias("mean_surprisal"),
        )
    )


#: Shared oracle CTEs for the 4-gram KN model: triple-BOS-prefixed
#: 4-gram occurrences (doc_id, lang, w1..w4).
_QUAD_CTES = f"""toks4 AS (
        SELECT doc_id, lang,
               list_prepend('{LM_BOS}', list_prepend('{LM_BOS}',
                   list_prepend('{LM_BOS}', string_split(text, ' ')))) AS t
        FROM documents
    ),
    quad AS (
        SELECT doc_id, lang,
               t[k] AS w1, t[k + 1] AS w2, t[k + 2] AS w3, t[k + 3] AS w4
        FROM toks4, LATERAL unnest(generate_series(1, len(t) - 3)) u(k)
    )"""


@register(
    "quality_fourgram_kneser_ney",
    oracle=f"""
    WITH {_QUAD_CTES},
    c4 AS (
        SELECT w1, w2, w3, w4, count(*) AS c FROM quad GROUP BY 1, 2, 3, 4
    ),
    ctx4 AS (
        SELECT w1, w2, w3, SUM(c) AS total, count(*) AS n1
        FROM c4 GROUP BY 1, 2, 3
    ),
    c3k AS (
        SELECT w2, w3, w4, count(DISTINCT w1) AS c FROM quad GROUP BY 1, 2, 3
    ),
    ctx3k AS (
        SELECT w2, w3, SUM(c) AS total, count(*) AS n1 FROM c3k GROUP BY 1, 2
    ),
    c2k AS (
        SELECT w3, w4, count(*) AS c FROM c3k GROUP BY 1, 2
    ),
    ctx2k AS (
        SELECT w3, SUM(c) AS total, count(*) AS n1 FROM c2k GROUP BY 1
    ),
    c1k AS (
        SELECT w4, count(*) AS c FROM c2k GROUP BY w4
    ),
    lm AS (
        SELECT c4.w1, c4.w2, c4.w3, c4.w4,
               CAST(round(-ln(
                   ((CAST(c4.c AS DOUBLE) - {KN_DISCOUNT}) / ctx4.total)
                 + (({KN_DISCOUNT} * ctx4.n1) / ctx4.total)
                   * (((CAST(c3k.c AS DOUBLE) - {KN_DISCOUNT}) / ctx3k.total)
                      + (({KN_DISCOUNT} * ctx3k.n1) / ctx3k.total)
                        * (((CAST(c2k.c AS DOUBLE) - {KN_DISCOUNT})
                            / ctx2k.total)
                           + (({KN_DISCOUNT} * ctx2k.n1) / ctx2k.total)
                             * (CAST(c1k.c AS DOUBLE)
                                / (SELECT SUM(c) FROM c1k))))), 6)
               AS DECIMAL(18,6)) AS surp
        FROM c4
        JOIN ctx4 ON ctx4.w1 = c4.w1 AND ctx4.w2 = c4.w2 AND ctx4.w3 = c4.w3
        JOIN c3k ON c3k.w2 = c4.w2 AND c3k.w3 = c4.w3 AND c3k.w4 = c4.w4
        JOIN ctx3k ON ctx3k.w2 = c4.w2 AND ctx3k.w3 = c4.w3
        JOIN c2k ON c2k.w3 = c4.w3 AND c2k.w4 = c4.w4
        JOIN ctx2k ON ctx2k.w3 = c4.w3
        JOIN c1k ON c1k.w4 = c4.w4
    ),
    doc_quad AS (
        SELECT doc_id, lang, w1, w2, w3, w4, count(*) AS k
        FROM quad GROUP BY 1, 2, 3, 4, 5, 6
    )
    SELECT d.doc_id, d.lang,
           CAST(SUM(d.k) AS BIGINT) AS n_tokens,
           CAST(SUM(d.k * lm.surp) AS DOUBLE) / SUM(d.k)
               AS mean_surprisal
    FROM doc_quad d
    JOIN lm ON d.w1 = lm.w1 AND d.w2 = lm.w2
           AND d.w3 = lm.w3 AND d.w4 = lm.w4
    GROUP BY 1, 2
    """,
    tags=("quality", "lm"),
)
def quality_fourgram_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-gram interpolated Kneser-Ney — the ladder's production order
    (KenLM's default for web-corpus quality scoring is 4- or 5-gram):
    raw counts at the top, then THREE levels of continuation counts,
    each derived from the distinct n-gram TYPES of the level above
    (N₁₊(·w₂w₃w₄) from raw 4-gram types, N₁₊(·w₃w₄) from those
    continuation trigram types, N₁₊(·w₄) from the continuation bigram
    types) — the Chen & Goodman recursion quality_trigram_kneser_ney
    documents, one level deeper.  A triple '<s>' prefix gives every
    token a full 4-gram context, so each token is scored exactly once.
    Cross-engine exactness: same fixed IEEE parenthesization chain,
    one round(ln, 6) into DECIMAL(18,6), exact per-doc decimal sums.

    Scale: five training groupBys, all map-side-combined; the LM table
    is O(distinct 4-grams) — the largest in the family and the reason
    production LMs prune singletons; the scoring join shuffles on
    (w1..w4) with per-doc DISTINCT 4-grams as probe input.  Bodies
    never shuffle."""
    d = fanout(table(spark, sf_dir, "documents"))
    quad = _gram_rows(d, 4, "doc_id", "lang", bos=LM_BOS)
    c4 = quad.groupBy("w1", "w2", "w3", "w4").agg(
        F.count(F.lit(1)).alias("c4")
    )
    ctx4 = c4.groupBy("w1", "w2", "w3").agg(
        F.sum("c4").alias("t4"), F.count(F.lit(1)).alias("n14")
    )
    c3k = quad.groupBy("w2", "w3", "w4").agg(
        F.countDistinct("w1").alias("c3k")
    )
    ctx3k = c3k.groupBy("w2", "w3").agg(
        F.sum("c3k").alias("t3"), F.count(F.lit(1)).alias("n13")
    )
    c2k = c3k.groupBy("w3", "w4").agg(F.count(F.lit(1)).alias("c2k"))
    ctx2k = c2k.groupBy("w3").agg(
        F.sum("c2k").alias("t2"), F.count(F.lit(1)).alias("n12")
    )
    c1k = c2k.groupBy("w4").agg(F.count(F.lit(1)).alias("c1k"))
    c1t = c1k.withColumn("tot1", F.sum("c1k").over(Window.partitionBy()))
    D = KN_DISCOUNT
    p1 = F.col("c1k").cast("double") / F.col("tot1")
    p2 = (
        (F.col("c2k").cast("double") - F.lit(D)) / F.col("t2")
    ) + ((F.lit(D) * F.col("n12")) / F.col("t2")) * p1
    p3 = (
        (F.col("c3k").cast("double") - F.lit(D)) / F.col("t3")
    ) + ((F.lit(D) * F.col("n13")) / F.col("t3")) * p2
    p4 = (
        (F.col("c4").cast("double") - F.lit(D)) / F.col("t4")
    ) + ((F.lit(D) * F.col("n14")) / F.col("t4")) * p3
    lm = (
        c4.join(ctx4, ["w1", "w2", "w3"])
        .join(c3k, ["w2", "w3", "w4"])
        .join(ctx3k, ["w2", "w3"])
        .join(c2k, ["w3", "w4"])
        .join(ctx2k, "w3")
        .join(c1t, "w4")
        .select(
            "w1",
            "w2",
            "w3",
            "w4",
            F.round(-F.log(p4), 6).cast("decimal(18,6)").alias("surp"),
        )
    )
    doc_quad = quad.groupBy("doc_id", "lang", "w1", "w2", "w3", "w4").agg(
        F.count(F.lit(1)).alias("k")
    )
    return (
        doc_quad.join(lm, ["w1", "w2", "w3", "w4"])
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("k").cast("bigint").alias("n_tokens"),
            (
                F.sum(F.col("k") * F.col("surp")).cast("double")
                / F.sum("k")
            ).alias("mean_surprisal"),
        )
    )


# ---------------------------------------------------------------------------
# OOV rate vs reference vocabulary
# ---------------------------------------------------------------------------

@register(
    "quality_oov_rate_by_source",
    oracle="""
    WITH vocab AS (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS w
        FROM documents WHERE source = 'src0'
    ),
    words AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents WHERE source <> 'src0'
    ),
    flagged AS (
        SELECT words.source, words.w,
               (vocab.w IS NULL) AS oov
        FROM words LEFT JOIN vocab ON vocab.w = words.w
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov_tokens,
           CAST(SUM(CASE WHEN oov THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS oov_rate,
           CAST(count(DISTINCT w) AS BIGINT) AS n_types,
           CAST(count(DISTINCT CASE WHEN oov THEN w END) AS BIGINT)
               AS n_oov_types
    FROM flagged
    GROUP BY source
    """,
    tags=("quality", "coverage"),
)
def quality_oov_rate_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Out-of-vocabulary rate per source against the trusted src0
    vocabulary — the coverage number that decides whether a fixed
    tokenizer/LM artifact transfers to a new ingest source (the batch
    counterpart of stream_lm_surprisal_scores' OOV accounting, and the
    quantity the BPE fertility audit implicitly depends on): token- and
    type-level OOV counts with one exact rate division.  A source whose
    type-OOV is high but token-OOV is low brings a long tail of rare
    novelty; the reverse signals a systematically different register —
    the two columns separate the cases.

    Scale: the reference vocabulary is Heaps-sublinear and BROADCAST
    (the stream LM's deployment shape); the token stream never
    shuffles for the flag — one narrow left join + one
    groupBy(source) with map-side combine."""
    d = table(spark, sf_dir, "documents")
    vocab = (
        d.filter(F.col("source") == "src0")
        .select(F.explode(words()).alias("w"))
        .distinct()
        .withColumn("in_vocab", F.lit(True))
    )
    occ = d.filter(F.col("source") != "src0").select(
        "source", F.explode(words()).alias("w")
    )
    flagged = occ.join(F.broadcast(vocab), "w", "left").select(
        "source", "w", F.col("in_vocab").isNull().alias("oov")
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.col("oov").cast("int")).cast("bigint").alias(
            "n_oov_tokens"
        ),
        (
            F.sum(F.col("oov").cast("int")).cast("double")
            / F.count(F.lit(1))
        ).alias("oov_rate"),
        F.countDistinct("w").cast("bigint").alias("n_types"),
        F.countDistinct(
            F.when(F.col("oov"), F.col("w"))
        ).cast("bigint").alias("n_oov_types"),
    )


# ---------------------------------------------------------------------------
# Train/held-out LM generalization gap — the memorization audit
# ---------------------------------------------------------------------------

#: Deterministic 90/10 document split for the generalization audit
#: (doc_id % HELDOUT_MOD == 0 → held out; the join_point_in_time_scd2
#: event_id % 17 probe convention).
HELDOUT_MOD = 10


@register(
    "quality_lm_train_heldout_gap",
    oracle=f"""
    WITH occ AS (
        SELECT doc_id, w,
               CASE WHEN doc_id % {HELDOUT_MOD} = 0
                    THEN 1 ELSE 0 END AS held
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
              FROM documents)
    ),
    vocab AS (
        SELECT w, count(*) AS c FROM occ WHERE held = 0 GROUP BY w
    ),
    consts AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n_tok,
               CAST(count(*) AS BIGINT) AS v
        FROM vocab
    ),
    lm AS (
        SELECT w,
               CAST(round(-ln(CAST(c + 1 AS DOUBLE)
                              / (consts.n_tok + consts.v + 1)), 6)
                    AS DECIMAL(18,6)) AS surp
        FROM vocab, consts
    ),
    unk AS (
        SELECT CAST(round(-ln(1.0 / (consts.n_tok + consts.v + 1)), 6)
                    AS DECIMAL(18,6)) AS surp
        FROM consts
    ),
    wcnt AS (
        SELECT held, w, count(*) AS k FROM occ GROUP BY held, w
    ),
    scored AS (
        SELECT wc.held, wc.k,
               coalesce(lm.surp, unk.surp) AS surp,
               CASE WHEN lm.w IS NULL THEN wc.k ELSE 0 END AS oov_k
        FROM wcnt wc
        LEFT JOIN lm ON lm.w = wc.w
        CROSS JOIN unk
    ),
    sides AS (
        SELECT held,
               CAST(SUM(k) AS BIGINT) AS tokens,
               CAST(SUM(oov_k) AS BIGINT) AS oov_tokens,
               SUM(k * surp) AS surp_sum
        FROM scored GROUP BY held
    ),
    docs AS (
        SELECT CAST(SUM(CASE WHEN doc_id % {HELDOUT_MOD} <> 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_train_docs,
               CAST(SUM(CASE WHEN doc_id % {HELDOUT_MOD} = 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_heldout_docs
        FROM documents
    ),
    wide AS (
        SELECT
            max(CASE WHEN held = 0 THEN tokens END) AS train_tokens,
            max(CASE WHEN held = 1 THEN tokens END) AS heldout_tokens,
            max(CASE WHEN held = 1 THEN oov_tokens END)
                AS heldout_oov_tokens,
            max(CASE WHEN held = 0 THEN surp_sum END) AS ts,
            max(CASE WHEN held = 1 THEN surp_sum END) AS hs
        FROM sides
    )
    SELECT d.n_train_docs, d.n_heldout_docs,
           w.train_tokens, w.heldout_tokens, w.heldout_oov_tokens,
           CAST(w.heldout_oov_tokens AS DOUBLE) / w.heldout_tokens
               AS oov_rate_heldout,
           CAST(w.ts AS DOUBLE) / w.train_tokens
               AS mean_surprisal_train,
           CAST(w.hs AS DOUBLE) / w.heldout_tokens
               AS mean_surprisal_heldout,
           CAST(w.hs AS DOUBLE) / w.heldout_tokens
               - CAST(w.ts AS DOUBLE) / w.train_tokens
               AS generalization_gap
    FROM wide w, docs d
    """,
    tags=("quality", "lm", "evaluation"),
)
def quality_lm_train_heldout_gap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train/held-out surprisal gap — the GENERALIZATION audit every
    corpus-trained quality model in the registry is missing: all the
    existing LM ops (unigram → 4-gram KN) train on the corpus they
    score, so their surprisals conflate model quality with
    memorization.  This op trains an add-one-smoothed unigram LM on
    the deterministic 90% document split (doc_id % {HELDOUT_MOD} ≠ 0)
    and scores BOTH sides: held-out mean surprisal minus train mean
    surprisal is the generalization gap — near zero for a split whose
    sides share the distribution (or a leaky split: pair with
    pipeline_split_leakage_audit), ballooning when the vocabulary is
    bursty/duplicated inside train (memorized mass scores cheap where
    it trained and expensive where it didn't).  Held-out OOV tokens
    take the UNK probability 1/(N+V+1) of the same Laplace frame and
    are reported as oov_rate_heldout beside the per-source OOV audit
    (quality_oov_rate_by_source).

    Exactness: per-word surprisal is round(−ln p, 6) DECIMAL(18,6)
    (the shared round-ln convention; Laplace numerator c+1 and
    denominator N+V+1 are exact integers), side sums are exact decimal
    k·surp accumulations over (side, word) counts, and the three
    output doubles divide/subtract identical operands on both engines.

    Scale: exactly the unigram LM's plan — ONE groupBy(side, word)
    whose train side is the vocab (Heaps-sublinear, broadcastable);
    scoring joins on (side, word) COUNTS, never raw occurrences; the
    split is an integer column, no shuffle added."""
    d = table(spark, sf_dir, "documents")
    held = (F.col("doc_id") % HELDOUT_MOD == 0).cast("int")
    wcnt = _word_counts(
        d.select(held.alias("held"), "text"), "held", count="k"
    )
    vocab = wcnt.filter(F.col("held") == 0).select(
        "w", F.col("k").alias("c")
    )
    consts = vocab.agg(
        F.sum("c").cast("bigint").alias("n_tok"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    lm = vocab.crossJoin(F.broadcast(consts)).select(
        "w",
        F.round(
            -F.log(
                (F.col("c") + 1).cast("double")
                / (F.col("n_tok") + F.col("v") + 1)
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("surp"),
    )
    unk = consts.select(
        F.round(
            -F.log(
                F.lit(1.0)
                / (F.col("n_tok") + F.col("v") + 1)
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("unk_surp")
    )
    scored = (
        wcnt.join(F.broadcast(lm), "w", "left")
        .crossJoin(F.broadcast(unk))
        .select(
            "held",
            "k",
            F.coalesce("surp", "unk_surp").alias("surp"),
            F.when(F.col("surp").isNull(), F.col("k"))
            .otherwise(F.lit(0))
            .alias("oov_k"),
        )
    )
    sides = scored.groupBy("held").agg(
        F.sum("k").cast("bigint").alias("tokens"),
        F.sum("oov_k").cast("bigint").alias("oov_tokens"),
        F.sum(F.col("k") * F.col("surp")).alias("surp_sum"),
    )
    docs = d.agg(
        F.sum(1 - held).cast("bigint").alias("n_train_docs"),
        F.sum(held).cast("bigint").alias("n_heldout_docs"),
    )
    wide = sides.agg(
        F.max(F.when(F.col("held") == 0, F.col("tokens"))).alias(
            "train_tokens"
        ),
        F.max(F.when(F.col("held") == 1, F.col("tokens"))).alias(
            "heldout_tokens"
        ),
        F.max(F.when(F.col("held") == 1, F.col("oov_tokens"))).alias(
            "heldout_oov_tokens"
        ),
        F.max(F.when(F.col("held") == 0, F.col("surp_sum"))).alias("ts"),
        F.max(F.when(F.col("held") == 1, F.col("surp_sum"))).alias("hs"),
    )
    mt = F.col("ts").cast("double") / F.col("train_tokens")
    mh = F.col("hs").cast("double") / F.col("heldout_tokens")
    return wide.crossJoin(F.broadcast(docs)).select(
        "n_train_docs",
        "n_heldout_docs",
        F.col("train_tokens").cast("bigint").alias("train_tokens"),
        F.col("heldout_tokens").cast("bigint").alias("heldout_tokens"),
        F.col("heldout_oov_tokens")
        .cast("bigint")
        .alias("heldout_oov_tokens"),
        (
            F.col("heldout_oov_tokens").cast("double")
            / F.col("heldout_tokens")
        ).alias("oov_rate_heldout"),
        mt.alias("mean_surprisal_train"),
        mh.alias("mean_surprisal_heldout"),
        (mh - mt).alias("generalization_gap"),
    )

