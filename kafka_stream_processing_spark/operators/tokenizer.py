"""Tokenizer-aware operators: a merge-table (BPE-style) subword
tokenizer expressed as staged string rewrites, and sequence packing by
REAL token budget rather than whitespace-token budget.

Production training pipelines pack documents into fixed context windows
by the model tokenizer's token count, not by whitespace words (a 512-
token budget measured in words overfills by the subword expansion
factor).  A real BPE tokenizer applies an ordered merge table
iteratively over adjacent symbol pairs (Sennrich et al. 2016); here the
merge table is FIXED (as a shipped tokenizer's merges.txt is) and each
merge rank is applied as one global leftmost non-overlapping string
rewrite over the space-separated symbol sequence — a staged
approximation with identical semantics in Spark (``replace``) and the
DuckDB oracle (``replace``), generated from one Python merge list so
the two engines cannot drift.

Scale: tokenization is a narrow per-document expression chain
(pre-tokenize regex -> per-word char spacing -> K chained literal
replaces -> split/size), all inside whole-stage codegen — zero Python,
zero shuffle, divides by executor count.  Packing is the same
shard-scoped prefix-sum as ``corpus.pack_sequences_token_budget``: one
shuffle on the shard key serves the window and the final aggregate.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_processing_spark.operators.word_kernel import (
    _word_counts,
    words,
)
from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import fanout, table

#: Ordered merge table (rank order = application order), LEARNED from
#: the corpus by ``tools/train_bpe_merges.py`` (classic BPE: most
#: frequent adjacent pair per rank, applied with the same staged
#: rewrite the serve path uses) and pinned in ``_bpe_merges.py`` with a
#: bit-equality reproduction test — the same trainer→constant loop as
#: the ANN codebooks.  Each entry merges two EXISTING symbols, so later
#: ranks build on earlier ones exactly as in a real BPE merges.txt
#: ("a n"->"an", "c an"->"can", then "s can"->"scan").
from kafka_stream_processing_spark.operators._bpe_merges import (  # noqa: E402
    BPE_MERGES,
)

#: Pre-tokenizer: letter runs / digit runs / single punctuation — the
#: same class split a GPT-2-style regex pre-tokenizer performs.
PRETOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

#: Tokens per packed training sequence, measured in BPE tokens.
BPE_PACK_BUDGET = 512


def bpe_unit_count(w: Column) -> Column:
    """Number of BPE symbols a single pre-token tokenizes to: space the
    chars, apply every merge rank in order, count remaining symbols."""
    s = F.trim(F.regexp_replace(w, "(.)", "$1 "))
    for a, b in BPE_MERGES:
        s = F.replace(s, F.lit(f"{a} {b}"), F.lit(a + b))
    return F.size(words(s))


def _bpe_units_sql(var: str) -> str:
    """The identical rewrite chain for the DuckDB oracle, generated from
    the same merge list."""
    s = f"trim(regexp_replace({var}, '(.)', '\\1 ', 'g'))"
    for a, b in BPE_MERGES:
        s = f"replace({s}, '{a} {b}', '{a}{b}')"
    return s


def bpe_token_count(text: Column | str) -> Column:
    """Total BPE tokens of a document: pre-tokenize, tokenize each
    pre-token, sum."""
    toks = F.regexp_extract_all(text, F.lit(PRETOKEN_RE), 0)
    return F.aggregate(
        F.transform(toks, lambda w: bpe_unit_count(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


_BPE_COUNT_SQL = (
    "CAST(coalesce(list_aggregate(list_transform("
    f"regexp_extract_all(text, '{PRETOKEN_RE}'), "
    f"w -> len(string_split({_bpe_units_sql('w')}, ' '))), 'sum'), 0) "
    "AS BIGINT)"
)


@register(
    "corpus_bpe_token_packing",
    oracle=f"""
    WITH counted AS (
        SELECT doc_id, lang,
               {_BPE_COUNT_SQL} AS n_bpe,
               len(string_split(text, ' ')) AS n_ws
        FROM documents
    ),
    packed AS (
        SELECT lang, doc_id, n_bpe, n_ws,
               sum(n_bpe) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) - n_bpe
                   AS cum_prev
        FROM counted
    )
    SELECT lang,
           CAST(cum_prev // {BPE_PACK_BUDGET} AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(n_bpe) AS BIGINT) AS seq_bpe_tokens,
           CAST(sum(n_ws) AS BIGINT) AS seq_ws_tokens
    FROM packed
    GROUP BY 1, 2
    """,
    tags=("corpus", "tokenizer", "packing"),
)
def corpus_bpe_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware greedy sequence packing: documents are measured
    in BPE tokens (merge-table tokenizer above), laid out in
    deterministic doc_id order per shard key (lang), and assigned to the
    training sequence whose token range their starting offset falls in
    (seq_id = tokens_before_doc div BUDGET).  seq_ws_tokens rides along
    to expose the whitespace-vs-subword budget gap the naive packer
    (corpus.pack_sequences_token_budget) would have mis-packed by.

    Scale: the token count is a narrow codegen expression chain — the
    K-merge rewrite costs O(K * word_len) per word with zero Python and
    zero shuffle; packing reuses the shard-scoped prefix-sum argument of
    pack_sequences_token_budget (at 100 TB, shard by hash64(doc_id) % K
    for K independent packing problems; sequences never cross shards)."""
    d = fanout(table(spark, sf_dir, "documents"))
    counted = d.select(
        "doc_id",
        "lang",
        bpe_token_count("text").alias("n_bpe"),
        F.size(words()).alias("n_ws"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = counted.withColumn(
        "cum_prev", F.sum("n_bpe").over(w) - F.col("n_bpe")
    )
    return (
        packed.withColumn(
            "seq_id", F.expr(f"cum_prev div {BPE_PACK_BUDGET}").cast("bigint")
        )
        .groupBy("lang", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe").cast("bigint").alias("seq_bpe_tokens"),
            F.sum("n_ws").cast("bigint").alias("seq_ws_tokens"),
        )
    )


@register(
    "tokenizer_fertility_by_lang",
    oracle=f"""
    WITH counted AS (
        SELECT lang,
               {_BPE_COUNT_SQL} AS n_bpe,
               len(string_split(text, ' ')) AS n_ws,
               len(text) AS n_chars
        FROM documents
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS bpe_tokens,
           CAST(SUM(n_ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS chars,
           CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws) AS fertility,
           CAST(SUM(n_bpe) * 100 AS DOUBLE) / SUM(n_chars)
               AS bpe_per_100_chars
    FROM counted
    GROUP BY lang
    """,
    tags=("tokenizer", "quality"),
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit: BPE tokens per whitespace word and per
    100 characters, by language.  Fertility is THE go/no-go metric for a
    tokenizer on a multilingual corpus — a vocabulary trained on one
    language's pair statistics fragments the others (higher
    tokens/word), which silently taxes their effective context length
    and compute share; production pipelines gate tokenizer rollouts on
    exactly this per-language table (e.g. the fertility comparisons in
    the XLM-R and BLOOM tokenizer analyses).  Uses the TRAINED merge
    table (corpus_bpe_token_packing's kernel, one source for both
    engines), so the audit measures the very tokenizer the packer ships.
    Ratios are one IEEE double division of identical integer sums —
    bit-exact cross-engine.

    Scale: the BPE count is the same zero-shuffle codegen expression
    chain the packer uses; the audit aggregate is ONE groupBy(lang) over
    integer partials (map-side combine leaves ~languages×partitions
    rows), so the whole audit costs one corpus scan and a exchange of a
    few dozen rows."""
    d = fanout(table(spark, sf_dir, "documents"))
    counted = d.select(
        "lang",
        bpe_token_count("text").alias("n_bpe"),
        F.size(words()).alias("n_ws"),
        F.length("text").alias("n_chars"),
    )
    return counted.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe").cast("bigint").alias("bpe_tokens"),
        F.sum("n_ws").cast("bigint").alias("ws_tokens"),
        F.sum("n_chars").cast("bigint").alias("chars"),
        (F.sum("n_bpe").cast("double") / F.sum("n_ws")).alias("fertility"),
        ((F.sum("n_bpe") * 100).cast("double") / F.sum("n_chars")).alias(
            "bpe_per_100_chars"
        ),
    )


#: Unigram-LM (SentencePiece-style) hard-EM knobs: candidate piece
#: lengths are 1-2 chars (seed vocab = every corpus char uni/bigram),
#: words longer than this cap are excluded IN BOTH ENGINES (bounds the
#: DP recursion depth; nothing in the test corpus approaches it), and
#: log-probs are scaled to integer micro-units so the Viterbi DP runs
#: on exact BIGINT arithmetic in both engines.
UNIGRAM_WORD_MAX_LEN = 32
UNIGRAM_SCORE_SCALE = "1000000000000.0"  # 1e12, identical literal
#: Fractional bits extracted by the repeated-squaring log2 (below).
UNIGRAM_LOG2_BITS = 40


def _log2_micro_units(cnt: int, total: int) -> int:
    """floor(log2(cnt/total) * 1e12) via exact double arithmetic.

    Mirrors the oracle's ``snorm``/``sbits`` recursive CTEs operation
    for operation: one correctly-rounded double division, exact *2.0
    normalization into [1, 2), then ``UNIGRAM_LOG2_BITS`` repeated
    squarings (each m*m correctly rounded, each /2.0 exact).  Because
    every step is an IEEE-754 basic operation — never libm — the
    resulting double, and hence the floored BIGINT, is bit-identical
    in CPython, the JVM, and DuckDB.  Requires cnt, total < 2^53
    (exact as doubles; documented corpus bound)."""
    m = cnt / total
    e = 0
    while m < 1.0:
        m *= 2.0
        e -= 1
    frac = 0.0
    sc = 0.5
    for _ in range(UNIGRAM_LOG2_BITS):
        m = m * m
        if m >= 2.0:
            frac += sc
            m = m / 2.0
        sc *= 0.5
    return math.floor((float(e) + frac) * float(UNIGRAM_SCORE_SCALE))

UNIGRAM_EM_ORACLE = f"""
WITH RECURSIVE toks AS (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents
),
words AS MATERIALIZED (
    SELECT word, CAST(count(*) AS BIGINT) AS freq,
           length(word) AS L
    FROM toks
    WHERE length(word) BETWEEN 1 AND {UNIGRAM_WORD_MAX_LEN}
    GROUP BY 1
),
subs AS (
    SELECT substr(word, t.i, 1) AS piece, freq
    FROM words, unnest(range(1, L + 1)) AS t(i)
    UNION ALL
    SELECT substr(word, t.i, 2) AS piece, freq
    FROM words, unnest(range(1, L)) AS t(i)
),
seeds AS MATERIALIZED (
    SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM subs GROUP BY 1
),
tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM seeds),
-- Bit-deterministic log2 micro-unit score (see the engine docstring):
-- normalize r = cnt/total to m*2^e with m in [1,2) by exact *2.0
-- doublings, then extract {UNIGRAM_LOG2_BITS} fractional bits of
-- log2(m) by repeated squaring.  Every operation is +,*,/ on IEEE
-- doubles (correctly rounded, hence bit-identical across engines) or
-- an exact power-of-two scaling — no libm ln anywhere in this path.
snorm AS (
    SELECT piece, CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS m,
           0 AS e
    FROM seeds CROSS JOIN tot
    UNION ALL
    SELECT piece, m * 2.0, e - 1 FROM snorm WHERE m < 1.0
),
snormed AS MATERIALIZED (
    SELECT piece, m, e FROM snorm WHERE m >= 1.0
),
sbits AS (
    SELECT piece, e, m, CAST(0 AS DOUBLE) AS frac,
           CAST(0.5 AS DOUBLE) AS sc, 0 AS it
    FROM snormed
    UNION ALL
    SELECT piece, e,
           CASE WHEN m * m >= 2.0 THEN (m * m) / 2.0 ELSE m * m END,
           CASE WHEN m * m >= 2.0 THEN frac + sc ELSE frac END,
           sc * 0.5, it + 1
    FROM sbits WHERE it < {UNIGRAM_LOG2_BITS}
),
scores AS MATERIALIZED (
    SELECT piece,
           CAST(floor((CAST(e AS DOUBLE) + frac)
                      * {UNIGRAM_SCORE_SCALE}) AS BIGINT) AS s
    FROM sbits WHERE it = {UNIGRAM_LOG2_BITS}
),
dp AS (
    SELECT w.word, w.freq, w.L, 1 AS i,
           s.s AS best, CAST('1' AS VARCHAR) AS path,
           CAST(0 AS BIGINT) AS best_prev, CAST('' AS VARCHAR) AS path_prev
    FROM words w JOIN scores s ON s.piece = substr(w.word, 1, 1)
    UNION ALL
    SELECT dp.word, dp.freq, dp.L, dp.i + 1,
           CASE WHEN dp.best_prev + s2.s >= dp.best + s1.s
                THEN dp.best_prev + s2.s ELSE dp.best + s1.s END,
           CASE WHEN dp.best_prev + s2.s >= dp.best + s1.s
                THEN dp.path_prev || '2' ELSE dp.path || '1' END,
           dp.best, dp.path
    FROM dp
    JOIN scores s1 ON s1.piece = substr(dp.word, dp.i + 1, 1)
    JOIN scores s2 ON s2.piece = substr(dp.word, dp.i, 2)
    WHERE dp.i < dp.L
),
fin AS MATERIALIZED (
    SELECT word, freq, path FROM dp WHERE i = L
),
walk AS (
    SELECT word, freq, path, 1 AS idx, 1 AS pos,
           substr(word, 1, CAST(substr(path, 1, 1) AS INT)) AS piece
    FROM fin
    UNION ALL
    SELECT word, freq, path, idx + 1,
           pos + CAST(substr(path, idx, 1) AS INT),
           substr(word, pos + CAST(substr(path, idx, 1) AS INT),
                  CAST(substr(path, idx + 1, 1) AS INT))
    FROM walk WHERE idx < length(path)
),
newcnt AS MATERIALIZED (
    SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM walk GROUP BY 1
),
tot2 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM newcnt)
SELECT piece,
       CAST(length(piece) AS BIGINT) AS piece_len,
       cnt,
       round(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 12) AS prob,
       round(ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 12)
           AS new_score
FROM newcnt CROSS JOIN tot2
"""


@register(
    "tokenizer_unigram_em",
    oracle=UNIGRAM_EM_ORACLE,
    tags=("tokenizer", "corpus"),
)
def tokenizer_unigram_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM subword tokenizer training, one hard-EM round
    (Kudo, ACL 2018 — the SentencePiece unigram model; the EM
    counterpart of this module's merge-table BPE): seed the piece
    vocabulary with every corpus character uni/bigram scored by
    ln(count/total), Viterbi-segment every distinct word under those
    scores (the hard E-step), then re-estimate piece probabilities
    from the segmentation counts (the M-step).  Output: the re-
    estimated piece table (piece, length, count, probability, new
    log-score) — round 2 of real training iterates exactly this.

    Exactness: seed log-probs are BIT-DETERMINISTIC by construction
    (r13 ADVICE fix — libm ln is only ~1-ulp accurate and NOT
    guaranteed identical between the JVM, DuckDB, and CPython, so a
    value near a .5 micro-unit boundary could round differently and
    flip a Viterbi path).  Each score is floor(log2(cnt/total)·1e12)
    where log2 is computed by exact power-of-two normalization plus
    40 repeated-squaring bit extractions — a formula using ONLY
    +,*,/ on IEEE doubles (correctly rounded, hence bit-identical in
    every conforming engine) and exact *2.0 / /2.0 scalings.  The
    engine side runs it in CPython over the collected charset-bounded
    seed table; the oracle side runs the identical recursion in SQL;
    floor (not round) avoids the half-even-vs-half-away rule split.
    log2 vs ln is a positive constant factor, so Viterbi argmax
    order is preserved.  The DP itself is pure INTEGER arithmetic —
    identical in the Arrow-batched pandas segmenter and the oracle's
    recursive-CTE DP (state carries (best_i, path_i, best_{{i-1}},
    path_{{i-1}}), the two-term recurrence for piece lengths ≤ 2;
    ties prefer the bigram branch via the same >= in both engines).
    Path reconstruction is a digit-string walk; the final
    probabilities are single round-12 divisions of BIGINTs.  Both
    per-round CTE chains are MATERIALIZED (the r11 gotcha).

    Scale: seed counting is explode → map-side-combined (piece) sums;
    the score table is bounded by |charset| + |charset|² — a
    broadcast-sized dict shipped into one mapInPandas over DISTINCT
    words (embarrassingly parallel, Arrow-batched, no shuffle); the
    M-step is one more hashed aggregation.  Nothing scales with raw
    corpus size except the two linear scans; at 100 TB the distinct-
    word frame is the working set, exactly as in SentencePiece's own
    corpus-frequency input format."""
    import pandas as pd  # noqa: F401

    d = fanout(table(spark, sf_dir, "documents"))
    vocab = (
        _word_counts(d, word="word", count="freq")
        .filter(
            (F.length("word") >= 1)
            & (F.length("word") <= UNIGRAM_WORD_MAX_LEN)
        )
        .withColumn("L", F.length("word"))
    )
    subs1 = vocab.select(
        F.explode(F.expr("sequence(1, L)")).alias("i"), "word", "freq"
    ).select(F.expr("substring(word, i, 1)").alias("piece"), "freq")
    subs2 = (
        vocab.filter(F.col("L") >= 2)
        .select(
            F.explode(F.expr("sequence(1, L - 1)")).alias("i"),
            "word",
            "freq",
        )
        .select(F.expr("substring(word, i, 2)").alias("piece"), "freq")
    )
    seeds = (
        subs1.unionByName(subs2)
        .groupBy("piece")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )
    # The seed table is charset-bounded (sketch-sized) by construction:
    # collect the exact BIGINT counts once, quantize driver-side with
    # the bit-deterministic log2 (mirrors the oracle's snorm/sbits
    # CTEs operation-for-operation), ship as a closure dict.
    seed_rows = seeds.collect()
    total = sum(int(r["cnt"]) for r in seed_rows)
    score_map = {
        r["piece"]: _log2_micro_units(int(r["cnt"]), total)
        for r in seed_rows
    }

    def _segment(batches):
        for pdf in batches:
            agg: dict[str, int] = {}
            for word, freq in zip(pdf["word"], pdf["freq"]):
                L = len(word)
                best_prev, path_prev = 0, ""
                best, path = score_map[word[0]], "1"
                for i in range(1, L):
                    s1 = score_map[word[i]]
                    s2 = score_map[word[i - 1 : i + 1]]
                    cand_bi = best_prev + s2
                    cand_uni = best + s1
                    if cand_bi >= cand_uni:
                        nbest, npath = cand_bi, path_prev + "2"
                    else:
                        nbest, npath = cand_uni, path + "1"
                    best_prev, path_prev = best, path
                    best, path = nbest, npath
                pos = 0
                for ch in path:
                    ln_p = int(ch)
                    piece = word[pos : pos + ln_p]
                    pos += ln_p
                    agg[piece] = agg.get(piece, 0) + int(freq)
            yield pd.DataFrame(
                {"piece": list(agg.keys()), "wcnt": list(agg.values())}
            )

    newcnt = (
        vocab.select("word", "freq")
        .mapInPandas(_segment, "piece string, wcnt long")
        .groupBy("piece")
        .agg(F.sum("wcnt").cast("bigint").alias("cnt"))
    )
    tot2 = newcnt.agg(F.sum("cnt").cast("bigint").alias("total"))
    prob = F.col("cnt").cast("double") / F.col("total").cast("double")
    return newcnt.crossJoin(F.broadcast(tot2)).select(
        "piece",
        F.length("piece").cast("bigint").alias("piece_len"),
        "cnt",
        F.round(prob, 12).alias("prob"),
        F.round(F.log(prob), 12).alias("new_score"),
    )
