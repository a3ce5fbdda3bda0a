"""Text analysis operators over the documents table: token statistics,
quality scoring, language-ID heuristic, document fingerprinting.

Everything is built-in string/array expressions (whole-stage codegen); no
Python touches the row path.  These are the per-document featurizers a
training-data pipeline runs before dedup/filtering at 100 TB — embarrassingly
parallel, no shuffle at all (narrow transformations over the scan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_processing_spark.operators.dedup import hash64
from kafka_stream_processing_spark.operators.word_kernel import (
    _gram_rows,
    _word_counts,
    _word_grams,
    split_words,
    words,
)
from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import fanout, table

#: Tiny per-language marker vocabularies for the n-gram/stopword heuristic.
#: Deliberately small and hard-coded so the Spark and SQL sides are
#: literal-for-literal identical.
_LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "los"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "les", "et"),
}

_STOPWORDS = ("the", "a", "of", "and", "to", "in")


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           lang,
           length(text) AS n_chars_computed,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_unique_tokens,
           CAST(list_aggregate(list_transform(string_split(text, ' '),
                                              w -> length(w)), 'sum') AS BIGINT)
               AS total_token_chars,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_ish_tokens
    FROM documents
    """,
    tags=("text",),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, unique tokens, a BPE-ish regex
    tokenizer (letter-runs / digit-runs / single punctuation)."""
    d = fanout(table(spark, sf_dir, "documents"))
    toks = words()
    return d.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_computed"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.aggregate(
            F.transform(toks, lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_token_chars"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0))
        .alias("n_bpe_ish_tokens"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id,
               length(text) AS n_chars,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '),
                               w -> list_contains({list(_STOPWORDS)!r}, w)))
                   AS n_stopwords,
               len(regexp_extract_all(text, '[^a-z0-9 ]')) AS n_punct
        FROM documents
    )
    SELECT doc_id,
           n_chars,
           n_tokens,
           CAST(n_stopwords AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
           CAST(n_chars AS DOUBLE) / n_tokens AS avg_token_len,
           (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 1 ELSE 0 END
            + CASE WHEN CAST(n_stopwords AS DOUBLE) / n_tokens > 0.05 THEN 1 ELSE 0 END
            + CASE WHEN CAST(n_punct AS DOUBLE) / n_chars < 0.1 THEN 1 ELSE 0 END)
               AS quality_score
    FROM feats
    """,
    tags=("text",),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (Gopher-rules style): length band,
    stopword density, punctuation density → integer score 0..3."""
    d = fanout(table(spark, sf_dir, "documents"))
    toks = words()
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    feats = d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda w: F.array_contains(stop_arr, w))).alias(
            "n_stopwords"
        ),
        F.size(F.regexp_extract_all("text", F.lit("[^a-z0-9 ]"), 0)).alias("n_punct"),
    )
    stop_ratio = F.col("n_stopwords").cast("double") / F.col("n_tokens")
    punct_ratio = F.col("n_punct").cast("double") / F.col("n_chars")
    return feats.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        (F.col("n_chars").cast("double") / F.col("n_tokens")).alias("avg_token_len"),
        (
            F.when(F.col("n_tokens").between(10, 1000), 1).otherwise(0)
            + F.when(stop_ratio > 0.05, 1).otherwise(0)
            + F.when(punct_ratio < 0.1, 1).otherwise(0)
        ).alias("quality_score"),
    )


def _lang_score_sql(markers: tuple[str, ...]) -> str:
    return (
        f"len(list_filter(string_split(text, ' '), "
        f"w -> list_contains({list(markers)!r}, w)))"
    )


#: Full oracle SELECT for the language-ID query — module-level so the
#: classifier-evaluation op below can embed it as a CTE and score the
#: exact same predictions.
_LANGID_ORACLE = f"""
    WITH scores AS (
        SELECT doc_id,
               lang,
               {_lang_score_sql(_LANG_MARKERS['en'])} AS score_en,
               {_lang_score_sql(_LANG_MARKERS['es'])} AS score_es,
               {_lang_score_sql(_LANG_MARKERS['de'])} AS score_de,
               {_lang_score_sql(_LANG_MARKERS['fr'])} AS score_fr
        FROM documents
    )
    SELECT doc_id,
           lang AS labeled_lang,
           CASE
               WHEN greatest(score_en, score_es, score_de, score_fr) = 0 THEN 'und'
               WHEN score_en >= greatest(score_es, score_de, score_fr) THEN 'en'
               WHEN score_es >= greatest(score_de, score_fr) THEN 'es'
               WHEN score_de >= score_fr THEN 'de'
               ELSE 'fr'
           END AS predicted_lang
    FROM scores
    """


@register(
    "text_language_id",
    oracle=_LANGID_ORACLE,
    tags=("text",),
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID (stopword voting with a fixed precedence
    order for ties; 'und' when no marker hits).  A real pipeline swaps the
    marker lists for character-n-gram profiles — same plan shape."""
    d = fanout(table(spark, sf_dir, "documents"))
    toks = words()

    def score(markers: tuple[str, ...]) -> Column:
        arr = F.array(*[F.lit(w) for w in markers])
        return F.size(F.filter(toks, lambda w: F.array_contains(arr, w)))

    scores = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        score(_LANG_MARKERS["en"]).alias("score_en"),
        score(_LANG_MARKERS["es"]).alias("score_es"),
        score(_LANG_MARKERS["de"]).alias("score_de"),
        score(_LANG_MARKERS["fr"]).alias("score_fr"),
    )
    best = F.greatest("score_en", "score_es", "score_de", "score_fr")
    return scores.select(
        "doc_id",
        "labeled_lang",
        F.when(best == 0, "und")
        .when(F.col("score_en") >= F.greatest("score_es", "score_de", "score_fr"), "en")
        .when(F.col("score_es") >= F.greatest("score_de", "score_fr"), "es")
        .when(F.col("score_de") >= F.col("score_fr"), "de")
        .otherwise("fr")
        .alias("predicted_lang"),
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf
        FROM toks GROUP BY 1, 2
    ),
    df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf
    FROM (
        SELECT *,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rn
        FROM scored
    )
    WHERE rn <= 3
    """,
    tags=("text",),
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with top-3 terms per document.  Scale: tf is the (doc,
    term) count of the exploded token stream and df counts its rows per
    term; df (vocabulary-sized) is broadcast back; ln() output rounded
    to 6 decimals for cross-libm determinism."""
    d = fanout(table(spark, sf_dir, "documents"))
    tf = _word_counts(d, "doc_id", word="term", count="tf")
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.count()  # scalar; at scale supply from catalog stats
    scored = (
        tf.join(F.broadcast(df), "term")
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
            ).alias("tfidf"),
        )
    )

    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
               AS fingerprint,
           md5(text) AS exact_hash
    FROM documents
    """,
    tags=("text", "dedup"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: bag-of-words canonical fingerprint (sorted
    distinct tokens → md5, robust to token order) plus the exact-text hash.
    Both engines md5 identical UTF-8 bytes → identical hex."""
    d = fanout(table(spark, sf_dir, "documents"))
    toks = words()
    return d.select(
        "doc_id",
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(toks)), " ").cast("binary")
        ).alias("fingerprint"),
        F.md5(F.col("text").cast("binary")).alias("exact_hash"),
    )


@register(
    "text_bigram_counts",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bigrams AS (
        SELECT t[i] || ' ' || t[i + 1] AS bigram
        FROM toks, unnest(range(1, len(t))) u(i)
    )
    SELECT bigram, count(*) AS n
    FROM bigrams
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 50
    """,
    tags=("text", "ngram"),
)
def text_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency (top 50, deterministic tiebreak) — the
    n-gram language-model statistic underlying contamination checks,
    boilerplate detection, and classic LM training.  Bigrams materialize
    via a JVM-side transform over token arrays + explode; no Python.

    Scale: the explode multiplies rows by ~tokens-per-doc before the
    count — at 100 TB, pre-aggregate per document first
    (aggregate-then-merge maps) or count on a hashed 64-bit bigram id
    instead of the string; the top-50 is TakeOrderedAndProject either
    way."""
    d = fanout(table(spark, sf_dir, "documents"))
    # Pre-project the split once: Generate is not codegen'd, so an
    # inlined split(text) re-tokenizes per textual occurrence (~4x here).
    bigrams = split_words(d).select(
        F.explode(_word_grams(F.col("words"), 2)).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(50)
    )


#: Winnowing parameters: word-3-gram hashes, window of 4 consecutive
#: gram hashes (guarantee: any shared run of 3+4-1 = 6 words produces at
#: least one shared fingerprint).
_WINNOW_W = 4


@register(
    "text_winnowing_fingerprints",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id,
               list_transform(
                   list_transform(range(1, greatest(len(t) - 1, 1)),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]),
                   g -> CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT))
                   AS h
        FROM toks
        WHERE len(t) >= 3
    ),
    fps AS (
        SELECT doc_id, len(h) AS n_grams,
               list_distinct(list_transform(
                   range(1, len(h) - {_WINNOW_W} + 2),
                   i -> list_aggregate(
                       list_slice(h, i, i + {_WINNOW_W} - 1), 'min')))
                   AS fp
        FROM grams
        WHERE len(h) >= {_WINNOW_W}
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(fp) AS BIGINT) AS n_fingerprints,
           list_aggregate(fp, 'min') AS min_fp,
           list_aggregate(fp, 'max') AS max_fp,
           CAST(list_aggregate(list_transform(fp, x -> x % 1000003), 'sum')
                AS BIGINT) AS fp_checksum
    FROM fps
    """,
    tags=("text", "fingerprint"),
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS local-fingerprinting
    scheme): hash every word-3-gram, slide a window of _WINNOW_W
    consecutive gram hashes, keep each window's minimum, dedupe — the
    selected set is guaranteed to share a fingerprint with any document
    that shares a 6-word run, at a ~2/(w+1) sampling rate instead of
    all-grams.  Emits per-doc fingerprint-set stats plus an
    order-insensitive checksum (sum of fps mod 1000003 — bounded, no
    bigint overflow).  Docs with fewer than _WINNOW_W grams carry no
    window and emit no row, matching the oracle's guard.

    Scale: selection is a narrow higher-order expression chain over the
    scan (no shuffle, whole-stage codegen) — the 100 TB fingerprint pass
    runs at scan speed and downstream plagiarism/overlap joins operate
    on the ~O(2n/w) selected hashes, never the raw grams.  Complements
    dedup_minhash_lsh: minhash bounds the SET-level signature, winnowing
    preserves LOCALITY (which passage matched)."""
    d = fanout(table(spark, sf_dir, "documents"))
    h = F.transform(_word_grams(F.col("words")), hash64)
    # Filter on the RAW word count, not size(h): a predicate on the
    # computed column would inline the whole md5+transform chain and
    # Catalyst pushes filters below the fanout exchange — the heavy
    # expression would then run single-threaded in the scan task AND
    # again in the parallel project (measured 3.7 s of the sf0.1 wall).
    # n_grams = words - 2, so size(h) >= W  <=>  words >= W + 2.
    grams = split_words(
        d.filter(F.size(words()) >= _WINNOW_W + 2), "doc_id"
    ).select("doc_id", h.alias("h"))
    # Sliding-window minimum by log-doubling (sparse-table rows): level k
    # holds pairwise mins at stride 2^(k-1), so each level is one O(n)
    # transform of O(1) element_at lookups — no per-position
    # slice-allocate + array_min rescan.  For W=4 that is two cheap
    # passes instead of O(n*W) work+allocation (with the cheap-filter
    # fix below: 34.1 s → 0.90 s at the 10x probe, SCALE.md); any window
    # min is then the min of (at most) two level-K entries:
    # min(p[i], p[i + W - 2^K]).
    def _pair_min(col, stride):
        # closure factory: F.transform inspects the lambda's arity, so
        # the captured stride/column can't ride in as default args
        return lambda i: F.least(
            F.element_at(col, i), F.element_at(col, i + stride)
        )

    cur, span = grams, 1  # current level column is named "p", span 2^k
    lvl = F.col("h")
    while span * 2 <= _WINNOW_W:
        nxt = F.transform(
            F.sequence(F.lit(1), F.size("h") - (span * 2 - 1)),
            _pair_min(lvl, span),
        )
        cur = cur.select("doc_id", "h", nxt.alias("p"))
        lvl, span = F.col("p"), span * 2
    if span == _WINNOW_W:  # power-of-two window: level K IS the answer
        win = lvl
    else:
        win = F.transform(
            F.sequence(F.lit(1), F.size("h") - (_WINNOW_W - 1)),
            _pair_min(lvl, _WINNOW_W - span),
        )
    fps = cur.select(
        "doc_id",
        F.size("h").cast("bigint").alias("n_grams"),
        F.array_distinct(win).alias("fp"),
    )
    return fps.select(
        "doc_id",
        "n_grams",
        F.size("fp").cast("bigint").alias("n_fingerprints"),
        F.array_min("fp").alias("min_fp"),
        F.array_max("fp").alias("max_fp"),
        F.aggregate(
            F.transform(F.col("fp"), lambda x: x % 1000003),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("fp_checksum"),
    )


#: Hashed-embedding geometry: tokens feature-hash into HASHED_EMB_DIM
#: buckets; weights are integer tf x scaled-idf so the vector is
#: bit-exact across engines (float log-idf would drift at the ulp).
HASHED_EMB_DIM = 16
_IDF_SCALE = 1000


#: The toks->tf->df->weighted->vec CTE chain producing the sparse
#: (doc_id, bucket, v) vectors — shared verbatim by this operator's
#: oracle and the sparse-retrieval operator in retrieval.py, so the
#: index build and the query path can never diverge.
_HASHED_VEC_CTES = f"""toks AS (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
        FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
    ),
    df AS (
        SELECT tok, count(*) AS df FROM tf GROUP BY 1
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
    weighted AS (
        SELECT t.doc_id,
               CAST(('0x' || substr(md5(t.tok), 1, 15)) AS BIGINT)
                   % {HASHED_EMB_DIM} AS bucket,
               t.tf * ((n.n_docs * {_IDF_SCALE}) // d.df) AS w
        FROM tf t JOIN df d ON d.tok = t.tok CROSS JOIN n
    ),
    vec AS (
        SELECT doc_id, bucket, CAST(SUM(w) AS BIGINT) AS v
        FROM weighted GROUP BY 1, 2
    )"""


def hashed_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sparse hashed tf-idf vectors as (doc_id, bucket, v) rows —
    the Spark twin of _HASHED_VEC_CTES, shared by the embedding
    exporter below and the sparse-retrieval operator."""
    d = fanout(table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        F.explode(words(F.lower(F.col("text")))).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = tf.select(F.countDistinct("doc_id").alias("n_docs"))
    weighted = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            (hash64(F.col("tok")) % HASHED_EMB_DIM).alias("bucket"),
            (
                F.col("tf")
                * F.expr(f"(n_docs * {_IDF_SCALE}) div df")
            ).alias("w"),
        )
    )
    return weighted.groupBy("doc_id", "bucket").agg(
        F.sum("w").cast("bigint").alias("v")
    )


@register(
    "text_hashed_tfidf_embedding",
    oracle=f"""
    WITH {_HASHED_VEC_CTES}
    SELECT doc_id,
           string_agg(CAST(v AS VARCHAR), ',' ORDER BY bucket) AS emb_csv,
           CAST(count(*) AS BIGINT) AS nnz,
           CAST(SUM(v) AS BIGINT) AS l1
    FROM vec
    GROUP BY doc_id
    """,
    tags=("text", "embedding"),
)
def text_hashed_tfidf_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed tf-idf document embedding (the hashing trick of
    Weinberger et al. 2009, the fastText/vowpal-wabbit input layer):
    every token hashes into one of 16 buckets, each (doc, bucket)
    accumulates ``tf x scaled_idf`` with integer idf
    (``n_docs*1000 // df`` — a float log-idf would drift at the ulp and
    break the cross-engine hash), and the per-doc sparse vector is
    emitted as an ordered CSV plus nnz/l1 audits (arrays serialize to
    strings for the comparator, package convention).  This bridges the
    text family to the similarity family: the output is a drop-in
    corpus for the cosine/ANN operators when no neural embedding
    exists.

    Scale: tf is one shuffle on (doc, token); df one more on token —
    both hashed keys with map-side partial aggregation; the df join
    rides the token shuffle already paid (no broadcast needed, the
    vocabulary is corpus-sized); bucket folding re-shuffles only
    (doc, bucket) pairs, at most 16 per doc.  No stage touches more
    than hashed-size keys; document bodies never shuffle."""
    return (
        hashed_vec(spark, sf_dir).groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("bucket", "v"))
                    ),
                    lambda s: s["v"].cast("string"),
                ),
                ",",
            ).alias("emb_csv"),
            F.count(F.lit(1)).cast("bigint").alias("nnz"),
            F.sum("v").cast("bigint").alias("l1"),
        )
    )


#: Documents whose hashed tf-idf vectors serve as sparse queries, and
#: the list depth of the sparse retriever.
SPARSE_N_QUERIES = 3
SPARSE_TOPK = 10


@register(
    "similarity_sparse_tfidf_topk",
    oracle=f"""
    WITH {_HASHED_VEC_CTES},
    q AS (
        SELECT doc_id AS query_id, bucket, v AS qv
        FROM vec WHERE doc_id < {SPARSE_N_QUERIES}
    ),
    dots AS (
        SELECT q.query_id, d.doc_id, CAST(sum(q.qv * d.v) AS BIGINT) AS dot
        FROM vec d JOIN q ON q.bucket = d.bucket
        WHERE d.doc_id <> q.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, doc_id, dot
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY dot DESC, doc_id) AS rn
        FROM dots
    )
    WHERE rn <= {SPARSE_TOPK}
    """,
    tags=("retrieval", "similarity", "sparse"),
)
def similarity_sparse_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector retrieval over the feature-hashed tf-idf index: the
    first SPARSE_N_QUERIES documents' sparse vectors are the queries,
    scored against every document by INTEGER dot product over the shared
    hash buckets — exact on any engine (no float norm, no ulp frontier)
    — ranked descending with doc_id tie-break.  The index side is the
    same (doc_id, bucket, v) kernel text_hashed_tfidf_embedding exports
    (one shared Spark function + one shared SQL fragment), so this IS
    the query path of that operator's index build: embedding-free
    retrieval for corpora with no neural encoder.

    Scale: the query vectors (<= HASHED_EMB_DIM rows each) broadcast;
    the index joins on bucket — at production dimensionality the bucket
    join is the classic impact-ordered postings scan, and the rank cap
    bounds per-query output.  No float appears anywhere: scores are
    exact BIGINTs end to end."""
    vec = hashed_vec(spark, sf_dir)
    q = vec.filter(F.col("doc_id") < SPARSE_N_QUERIES).select(
        F.col("doc_id").alias("query_id"),
        "bucket",
        F.col("v").alias("qv"),
    )
    dots = (
        vec.join(F.broadcast(q), "bucket")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("qv") * F.col("v")).cast("bigint").alias("dot"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), "doc_id")
    return (
        dots.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SPARSE_TOPK)
        .select("query_id", "doc_id", "dot")
    )


@register(
    "text_langid_confusion",
    oracle=f"""
    WITH preds AS ({_LANGID_ORACLE}),
    cells AS (
        SELECT labeled_lang, predicted_lang, count(*) AS n
        FROM preds GROUP BY 1, 2
    ),
    row_tot AS (
        SELECT labeled_lang, SUM(n) AS support FROM cells GROUP BY 1
    ),
    col_tot AS (
        SELECT predicted_lang, SUM(n) AS predicted_n FROM cells GROUP BY 1
    )
    SELECT c.labeled_lang, c.predicted_lang,
           CAST(c.n AS BIGINT) AS n,
           CAST(r.support AS BIGINT) AS support,
           CASE WHEN c.labeled_lang = c.predicted_lang
                THEN CAST(c.n AS DOUBLE) / r.support END AS recall,
           CASE WHEN c.labeled_lang = c.predicted_lang
                THEN CAST(c.n AS DOUBLE) / p.predicted_n END AS precision
    FROM cells c
    JOIN row_tot r ON r.labeled_lang = c.labeled_lang
    JOIN col_tot p ON p.predicted_lang = c.predicted_lang
    """,
    tags=("text", "evaluation"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation table for the language identifier: the
    full confusion matrix (labeled × predicted counts) with per-class
    precision and recall on the diagonal cells — the audit a curation
    pipeline runs before trusting a language filter to partition a
    multilingual crawl (misrouted documents silently poison per-language
    fertility, LM training, and mixture weights downstream).  Notably
    'zh' has no marker list, so it can NEVER appear on the diagonal —
    its support scatters into the other classes' columns, and the table
    turns that blind spot into visible rows (on this shared-vocabulary
    synthetic corpus it mostly misroutes to 'en') rather than silent
    attrition.  Predictions are the registered
    text_language_id query verbatim (shared oracle CTE, shared Spark
    callable), so this evaluates exactly what the filter ships.

    Scale: one groupBy over (label, prediction) pairs — a cells table
    bounded by languages², joined to its own margins; the expensive part
    is the lang-ID scan itself, already measured linear."""
    preds = text_language_id(spark, sf_dir)
    cells = preds.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_tot = cells.groupBy("labeled_lang").agg(
        F.sum("n").alias("support")
    )
    col_tot = cells.groupBy("predicted_lang").agg(
        F.sum("n").alias("predicted_n")
    )
    diag = F.col("labeled_lang") == F.col("predicted_lang")
    return (
        cells.join(row_tot, "labeled_lang")
        .join(col_tot, "predicted_lang")
        .select(
            "labeled_lang",
            "predicted_lang",
            F.col("n").cast("bigint").alias("n"),
            F.col("support").cast("bigint").alias("support"),
            F.when(diag, F.col("n").cast("double") / F.col("support")).alias(
                "recall"
            ),
            F.when(
                diag, F.col("n").cast("double") / F.col("predicted_n")
            ).alias("precision"),
        )
    )


#: Number of corpus-prefix checkpoints for the vocabulary-growth curve.
HEAPS_DECILES = 10


@register(
    "text_vocab_growth_heaps",
    oracle=f"""
    WITH ranked_docs AS (
        SELECT doc_id, text,
               row_number() OVER (ORDER BY doc_id) AS dr,
               count(*) OVER () AS n_docs
        FROM documents
    ),
    deciled AS (
        SELECT doc_id, text,
               CAST((dr * {HEAPS_DECILES} + n_docs - 1) // n_docs AS INT)
                   AS decile
        FROM ranked_docs
    ),
    occ AS (
        SELECT decile, unnest(string_split(text, ' ')) AS w
        FROM deciled
    ),
    tokens_per AS (
        SELECT decile, count(*) AS toks FROM occ GROUP BY decile
    ),
    first_seen AS (
        SELECT w, min(decile) AS decile FROM occ GROUP BY w
    ),
    new_types AS (
        SELECT decile, count(*) AS new_w FROM first_seen GROUP BY decile
    )
    SELECT t.decile,
           CAST(SUM(t2.toks) AS BIGINT) AS cum_tokens,
           CAST(SUM(coalesce(n2.new_w, 0)) AS BIGINT) AS vocab_size
    FROM tokens_per t
    JOIN tokens_per t2 ON t2.decile <= t.decile
    LEFT JOIN new_types n2 ON n2.decile = t2.decile
    GROUP BY t.decile
    """,
    tags=("text", "statistics"),
)
def text_vocab_growth_heaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law V ≈ K·nᵝ): distinct word
    types vs cumulative tokens at ten corpus-prefix checkpoints (docs
    in doc_id = ingest order) — the curve behind every 'vocab is
    Heaps-sublinear, so broadcast it' argument this engine's LM and
    tf-idf operators make; a release measures it rather than assumes
    it, and a flattening curve is also the classic signal the crawl
    has started re-reading itself.  Computed without any per-prefix
    rescan: each word contributes to vocab growth exactly at its
    FIRST-occurrence decile (min over an integer frontier), and the
    cumulative rollup is a decile×decile triangular join over ten rows.

    Scale: one groupBy(word) for first-occurrence deciles (map-side
    combined), one decile histogram — the corpus is scanned ONCE; the
    checkpoints table is K rows regardless of corpus size."""
    d = table(spark, sf_dir, "documents")
    deciled = d.select(
        "text",
        F.expr(
            f"(row_number() OVER (ORDER BY doc_id) * {HEAPS_DECILES} "
            "+ count(*) OVER () - 1) div count(*) OVER ()"
        )
        .cast("int")
        .alias("decile"),
    )
    occ = deciled.select(
        "decile", F.explode(words()).alias("w")
    )
    tokens_per = occ.groupBy("decile").agg(F.count(F.lit(1)).alias("toks"))
    first_seen = occ.groupBy("w").agg(F.min("decile").alias("decile"))
    new_types = first_seen.groupBy("decile").agg(
        F.count(F.lit(1)).alias("new_w")
    )
    t2 = tokens_per.select(
        F.col("decile").alias("d2"), F.col("toks").alias("toks2")
    )
    n2 = new_types.select(
        F.col("decile").alias("d2"), F.col("new_w").alias("new_w2")
    )
    tri = (
        tokens_per.select("decile")
        .join(t2, F.col("d2") <= F.col("decile"))
        .join(n2, "d2", "left")
    )
    return tri.groupBy("decile").agg(
        F.sum("toks2").cast("bigint").alias("cum_tokens"),
        F.sum(F.coalesce("new_w2", F.lit(0))).cast("bigint").alias("vocab_size"),
    )


@register(
    "text_zipf_rank_frequency",
    oracle="""
    WITH cnt AS (
        SELECT w, count(*) AS c FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ) GROUP BY w
    ),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, w) AS r FROM cnt
    ),
    pts AS (
        SELECT CAST(round(ln(CAST(r AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
               CAST(round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
        FROM ranked
    ),
    s AS (
        SELECT count(*) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx
        FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_types,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS zipf_slope,
           (sy - sx * ((n * sxy - sx * sy) / (n * sxx - sx * sx))) / n
               AS zipf_intercept
    FROM s
    """,
    tags=("text", "statistics"),
)
def text_zipf_rank_frequency(
    spark: SparkSession, sf_dir: str, rank_mode: str = "distributed"
) -> DataFrame:
    """Zipf's-law fit — the rank-frequency power law that pairs with the
    Heaps vocabulary-growth curve (the two are mathematically linked;
    together they are THE two corpus-statistics sanity plots a dataset
    release shows): OLS slope and intercept of ln(freq) on ln(rank)
    over the full vocabulary, rank tie-broken by word so the regression
    inputs are a total order.  Natural text sits near slope −1;
    machine-generated or template-heavy corpora flatten it — a cheap
    generated-content tripwire at corpus granularity.  Exactness:
    ln values round-6 into DECIMAL(18,6) (the engine's ln convention),
    Σx/Σy/Σxy/Σx² are exact decimal sums (products stay decimal), and
    the closed-form OLS runs as a fixed chain of IEEE double ops on
    those exact sums.

    Scale: one groupBy(word) (map-side combined, Heaps-sublinear
    output), one rank over the vocabulary — never the corpus — and a
    single scalar aggregate of four moments.  The OLS consumes EVERY
    rank (a top-k cut can't replace it), so the DEFAULT (driver-
    checked) path is ``rank_mode="distributed"`` since r13:
    operators.frontier.global_rank range-partitions on (freq desc,
    word) and composes per-partition row_numbers with broadcast prefix
    offsets — bit-identical ranks (the oracle still hashes green), no
    single-task sort (pinned in tests/test_frontier.py); the
    single-window form stays available as ``rank_mode="exact"``."""
    cnt = _word_counts(table(spark, sf_dir, "documents"))
    if rank_mode == "distributed":
        from kafka_stream_processing_spark.operators.frontier import (
            global_rank,
        )

        ranked = global_rank(
            cnt,
            [F.desc("c"), F.col("w")],
            mode="distributed",
            rank_name="r",
        ).select("c", "r")
    else:
        ranked = cnt.select(
            "c",
            F.row_number()
            .over(Window.orderBy(F.desc("c"), "w"))
            .alias("r"),
        )
    pts = ranked.select(
        F.round(F.log(F.col("r").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("x"),
        F.round(F.log(F.col("c").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_types"),
        slope.alias("zipf_slope"),
        ((F.col("sy") - F.col("sx") * slope) / F.col("n")).alias(
            "zipf_intercept"
        ),
    )


@register(
    "text_bigram_entropy",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    bi AS (
        SELECT doc_id, t[k] AS w1, t[k + 1] AS w2
        FROM toks, LATERAL unnest(generate_series(1, len(t) - 1)) u(k)
        WHERE len(t) >= 2
    ),
    c12 AS (
        SELECT doc_id, w1, w2, count(*) AS c FROM bi GROUP BY 1, 2, 3
    ),
    c1 AS (
        SELECT doc_id, w1, SUM(c) AS c1 FROM c12 GROUP BY 1, 2
    ),
    n AS (
        SELECT doc_id, SUM(c) AS n FROM c12 GROUP BY 1
    ),
    terms AS (
        SELECT c12.doc_id,
               CAST(round((CAST(c12.c AS DOUBLE) / n.n)
                          * ln(CAST(c12.c AS DOUBLE) / c1.c1), 6)
                    AS DECIMAL(18,6)) AS term
        FROM c12
        JOIN c1 ON c1.doc_id = c12.doc_id AND c1.w1 = c12.w1
        JOIN n ON n.doc_id = c12.doc_id
    )
    SELECT t.doc_id,
           CAST(n.n AS BIGINT) AS n_bigrams,
           -CAST(SUM(t.term) AS DOUBLE) AS bigram_entropy
    FROM terms t JOIN n ON n.doc_id = t.doc_id
    GROUP BY 1, 2
    """,
    tags=("text", "quality", "repetition"),
)
def text_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram CONDITIONAL entropy H(w₂|w₁) — the
    information-theoretic repetitiveness score complementing the
    dup-n-gram-fraction gate (quality_dup_ngram_fraction counts verbatim
    repeats; entropy also catches low-diversity text that never repeats
    a long n-gram exactly, e.g. template rotations — machine-generated
    spam scores LOW here while genuine prose scores near the corpus
    ceiling).  H = −Σ p(w₁,w₂)·ln p(w₂|w₁) over the document's OWN
    bigram distribution; each term is integer-count-derived, round-6
    decimal-quantized (the LM family convention), so the score is
    bit-stable cross-engine.

    Scale: one explode + three groupBys, ALL keyed by doc_id — a single
    hash partitioning reused across the chain (bigram counts, w₁
    margins, doc totals); no cross-document state whatsoever, so the
    operator is embarrassingly parallel at any corpus size."""
    d = fanout(table(spark, sf_dir, "documents"))
    bi = _gram_rows(d, 2, "doc_id")
    c12 = bi.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    c1 = c12.groupBy("doc_id", "w1").agg(F.sum("c").alias("c1"))
    n = c12.groupBy("doc_id").agg(F.sum("c").alias("n"))
    term = F.round(
        (F.col("c").cast("double") / F.col("n"))
        * F.log(F.col("c").cast("double") / F.col("c1")),
        6,
    ).cast("decimal(18,6)")
    return (
        c12.join(c1, ["doc_id", "w1"])
        .join(n, "doc_id")
        .select("doc_id", F.col("n"), term.alias("term"))
        .groupBy("doc_id", "n")
        .agg((-F.sum("term").cast("double")).alias("bigram_entropy"))
        .select(
            "doc_id",
            F.col("n").cast("bigint").alias("n_bigrams"),
            "bigram_entropy",
        )
    )


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction
# ---------------------------------------------------------------------------

#: RAKE phrase-delimiter stopwords — the engine's standard 6-word set
#: (quality_gopher_filters / text_quality_score use the same list).
RAKE_STOPWORDS = ("the", "a", "of", "and", "to", "in")
#: Number of keyphrases returned.
RAKE_TOPK = 15

_RAKE_STOP_SQL = ", ".join(f"'{w}'" for w in RAKE_STOPWORDS)


@register(
    "text_rake_keyphrases",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    words AS (
        SELECT doc_id, t[u.ord] AS w, u.ord,
               CASE WHEN t[u.ord] IN ({_RAKE_STOP_SQL}) THEN 1 ELSE 0 END
                   AS st
        FROM toks, LATERAL unnest(generate_series(1, len(t))) AS u(ord)
    ),
    marked AS (
        SELECT doc_id, w, ord, st,
               SUM(st) OVER (PARTITION BY doc_id ORDER BY ord) AS pid
        FROM words
    ),
    phr AS (
        SELECT doc_id, pid,
               string_agg(w, ' ' ORDER BY ord) AS phrase,
               count(*) AS n_words
        FROM marked WHERE st = 0 GROUP BY 1, 2
    ),
    wocc AS (
        SELECT n_words, unnest(string_split(phrase, ' ')) AS w FROM phr
    ),
    wscore AS (
        SELECT w,
               CAST(round(CAST(SUM(n_words) AS DOUBLE) / count(*), 6)
                    AS DECIMAL(18,6)) AS s
        FROM wocc GROUP BY w
    ),
    pdist AS (
        SELECT phrase, n_words, count(*) AS n_occurrences
        FROM phr GROUP BY 1, 2
    ),
    pscore AS (
        SELECT p.phrase,
               CAST(p.n_words AS BIGINT) AS n_words,
               CAST(p.n_occurrences AS BIGINT) AS n_occurrences,
               CAST(SUM(ws.s) AS DOUBLE) AS score
        FROM pdist p, unnest(string_split(p.phrase, ' ')) AS u(w), wscore ws
        WHERE ws.w = u.w
        GROUP BY 1, 2, 3
    )
    SELECT phrase, n_words, n_occurrences, score
    FROM pscore
    ORDER BY score DESC, phrase
    LIMIT {RAKE_TOPK}
    """,
    tags=("text", "keywords"),
)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) — the phrase-level
    complement of TextRank's single-word keywords: candidate phrases
    are maximal stopword-free word runs (phrase boundaries = the
    engine's standard 6-stopword set, positionally — a running
    stopword count per document partitions positions into phrases, so
    NO regex and no fold, both engines express the split relationally),
    each word scores deg/freq over phrase occurrences (deg counts the
    full length of every phrase an occurrence sits in), and a phrase
    scores the sum of its words' scores — computed as round-6
    DECIMAL(18,6) per word then EXACT decimal sums (the engine's
    round-ln convention), so cross-engine equality is bit-level.
    Returns the top 15 phrases by (score desc, phrase).

    Scale: the positional explode is doc-partitioned (one window per
    document over its own words — never global); word stats are one
    vocab-sized groupBy (Heaps-sublinear); the final cut is
    orderBy().limit(k) → TakeOrderedAndProject, the per-partition-heap
    top-k that never total-order-sorts the phrase table."""
    d = table(spark, sf_dir, "documents")
    occ = d.select(
        "doc_id",
        F.posexplode(words()).alias("ord", "w"),
    ).withColumn(
        "st", F.when(F.col("w").isin(*RAKE_STOPWORDS), 1).otherwise(0)
    )
    w_run = Window.partitionBy("doc_id").orderBy("ord")
    marked = occ.withColumn("pid", F.sum("st").over(w_run))
    phr = (
        marked.filter(F.col("st") == 0)
        .groupBy("doc_id", "pid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ord", "w"))
                    ),
                    lambda x: x["w"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("n_words"),
        )
    )
    wocc = phr.select(
        "n_words", F.explode(words("phrase")).alias("w")
    )
    wscore = wocc.groupBy("w").agg(
        F.round(
            F.sum("n_words").cast("double") / F.count(F.lit(1)), 6
        )
        .cast("decimal(18,6)")
        .alias("s")
    )
    pdist = phr.groupBy("phrase", "n_words").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    pscore = (
        pdist.select(
            "phrase",
            "n_words",
            "n_occurrences",
            F.explode(words("phrase")).alias("w"),
        )
        .join(F.broadcast(wscore), "w")
        .groupBy("phrase", "n_words", "n_occurrences")
        .agg(F.sum("s").cast("double").alias("score"))
    )
    return (
        pscore.orderBy(F.desc("score"), "phrase")
        .limit(RAKE_TOPK)
        .select(
            "phrase",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
            "score",
        )
    )


# ---------------------------------------------------------------------------
# Cohen's kappa for the language-ID classifier
# ---------------------------------------------------------------------------


@register(
    "quality_cohens_kappa_langid",
    oracle=f"""
    WITH preds AS ({_LANGID_ORACLE}),
    cells AS (
        SELECT labeled_lang, predicted_lang, count(*) AS n
        FROM preds GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(n) AS n FROM cells),
    po_t AS (
        SELECT COALESCE(SUM(n), 0) AS agree
        FROM cells WHERE labeled_lang = predicted_lang
    ),
    r AS (SELECT labeled_lang AS cls, SUM(n) AS rl FROM cells GROUP BY 1),
    c AS (SELECT predicted_lang AS cls, SUM(n) AS cl FROM cells GROUP BY 1),
    pe_t AS (
        SELECT CAST(COALESCE(SUM(r.rl * c.cl), 0) AS BIGINT) AS cross_sum
        FROM r JOIN c USING (cls)
    )
    SELECT CAST(tot.n AS BIGINT) AS n,
           CAST(po_t.agree AS DOUBLE) / tot.n AS po,
           CAST(pe_t.cross_sum AS DOUBLE)
               / (CAST(tot.n AS DOUBLE) * tot.n) AS pe,
           (CAST(po_t.agree AS DOUBLE) / tot.n
            - CAST(pe_t.cross_sum AS DOUBLE)
                  / (CAST(tot.n AS DOUBLE) * tot.n))
           / (1.0 - CAST(pe_t.cross_sum AS DOUBLE)
                        / (CAST(tot.n AS DOUBLE) * tot.n)) AS kappa
    FROM tot, po_t, pe_t
    """,
    tags=("quality", "statistics", "text"),
)
def quality_cohens_kappa_langid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohen's kappa for the marker-token language-ID classifier — the
    chance-corrected agreement the confusion matrix alone doesn't give
    (raw accuracy flatters any classifier on a skewed label mix; kappa
    subtracts what marginal guessing would score): runs the EXACT
    text_language_id predictions (kernel reuse — one Spark function,
    one shared SQL fragment, the text_langid_confusion convention),
    then κ = (p_o − p_e)/(1 − p_e) with p_o the exact-integer diagonal
    ratio and p_e = Σ_cls row·col / n² joined over the UNION of label
    classes (a class absent on one margin — 'und' is never a true
    label, 'zh' is never predicted — contributes 0 by the join, which
    is the definition).  Everything after the counts is IEEE
    arithmetic on integers — bit-identical cross-engine.

    Scale: the prediction pass is the language-ID scan; the statistic
    runs on the k×k cell table.  Margin cross-products stay exact
    BIGINTs to ~3·10⁹ rows; switch cross_sum to DECIMAL(38,0) past
    that."""
    preds = text_language_id(spark, sf_dir)
    cells = preds.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cells.agg(F.sum("n").alias("n"))
    po_t = cells.filter(
        F.col("labeled_lang") == F.col("predicted_lang")
    ).agg(F.coalesce(F.sum("n"), F.lit(0)).alias("agree"))
    r = cells.groupBy(F.col("labeled_lang").alias("cls")).agg(
        F.sum("n").alias("rl")
    )
    c = cells.groupBy(F.col("predicted_lang").alias("cls")).agg(
        F.sum("n").alias("cl")
    )
    pe_t = (
        r.join(c, "cls")
        .agg(
            F.coalesce(F.sum(F.col("rl") * F.col("cl")), F.lit(0))
            .cast("bigint")
            .alias("cross_sum")
        )
    )
    out = tot.crossJoin(po_t).crossJoin(pe_t)
    po = F.col("agree").cast("double") / F.col("n")
    pe = F.col("cross_sum").cast("double") / (
        F.col("n").cast("double") * F.col("n")
    )
    return out.select(
        F.col("n").cast("bigint").alias("n"),
        po.alias("po"),
        pe.alias("pe"),
        ((po - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Word burstiness (index of dispersion)
# ---------------------------------------------------------------------------

#: Minimum document frequency for a word to be scored (rare words'
#: dispersion estimates are noise).
BURST_MIN_DF = 5
#: How many top-dispersion words to report.
BURST_TOPK = 20


@register(
    "text_word_burstiness",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    per_doc AS (
        SELECT word, doc_id, count(*) AS k FROM toks GROUP BY 1, 2
    ),
    n_docs AS (SELECT count(*) AS nd FROM documents),
    stats AS (
        SELECT word,
               count(*) AS df,
               CAST(SUM(k) AS BIGINT) AS tf,
               CAST(SUM(k * k) AS BIGINT) AS sk2
        FROM per_doc GROUP BY word
    )
    SELECT word, CAST(df AS BIGINT) AS df, tf,
           CAST(sk2 AS DOUBLE) / tf
               - CAST(tf AS DOUBLE) / nd AS burstiness
    FROM stats, n_docs
    WHERE df >= {BURST_MIN_DF}
    ORDER BY CAST(sk2 AS DOUBLE) / tf
                 - CAST(tf AS DOUBLE) / nd DESC, word
    LIMIT {BURST_TOPK}
    """,
    tags=("text", "statistics", "corpus"),
)
def text_word_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Church-Gale word burstiness — the top-{BURST_TOPK} most
    OVERDISPERSED words by the index of dispersion D = Var(k)/E(k) of
    per-document counts with zero-docs included (content words burst:
    they recur within the few documents that mention them, D ≫ 1;
    function words sprinkle evenly, D ≈ 1 — the statistic topic models
    and stopword inducers rank by): the population identity collapses
    D to Σk²/Σk − Σk/N, TWO exact-integer divisions and a subtract —
    no variance accumulation, no rounding discipline, bit-identical
    cross-engine.  df ≥ {BURST_MIN_DF} guards the estimate; the final
    cut is orderBy().limit (TakeOrderedAndProject) with the word
    tiebreak.

    Scale: one (word, doc) aggregation (map-side combined, the tf-idf
    kernel's shape) then a vocab-sized moment pass; the top-k never
    sorts the vocab globally — TakeOrderedAndProject keeps k rows per
    partition."""
    per_doc = _word_counts(
        fanout(table(spark, sf_dir, "documents")),
        "doc_id",
        word="word",
        count="k",
    )
    nd = fanout(table(spark, sf_dir, "documents")).agg(
        F.count(F.lit(1)).alias("nd")
    )
    stats = per_doc.groupBy("word").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("k").cast("bigint").alias("tf"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("sk2"),
    )
    b = (
        stats.filter(F.col("df") >= BURST_MIN_DF)
        .crossJoin(F.broadcast(nd))
        .select(
            "word",
            F.col("df").cast("bigint").alias("df"),
            "tf",
            (
                F.col("sk2").cast("double") / F.col("tf")
                - F.col("tf").cast("double") / F.col("nd")
            ).alias("burstiness"),
        )
    )
    return b.orderBy(F.desc("burstiness"), "word").limit(BURST_TOPK)


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------

#: Minimum bigram count for a collocation to be scored (PMI of rare
#: pairs is maximal by construction — the classic PMI failure mode).
PMI_MIN_COUNT = 5
#: How many top collocations to report.
PMI_TOPK = 20


@register(
    "text_bigram_pmi_collocations",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    uni AS (
        SELECT u.w AS word, count(*) AS c
        FROM toks, unnest(t) u(w) GROUP BY 1
    ),
    nu AS (SELECT SUM(c) AS nu FROM uni),
    bi AS (
        SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS c12
        FROM toks, unnest(range(1, len(t))) u(i)
        GROUP BY 1, 2
    ),
    nb AS (SELECT SUM(c12) AS nb FROM bi),
    scored AS (
        SELECT b.w1, b.w2,
               CAST(b.c12 AS BIGINT) AS c12,
               CAST(u1.c AS BIGINT) AS c1,
               CAST(u2.c AS BIGINT) AS c2,
               ln((CAST(b.c12 AS DOUBLE) * nu.nu * nu.nu)
                  / ((CAST(nb.nb AS DOUBLE) * u1.c) * u2.c)) AS pmi
        FROM bi b
        JOIN uni u1 ON u1.word = b.w1
        JOIN uni u2 ON u2.word = b.w2, nu, nb
        WHERE b.c12 >= {PMI_MIN_COUNT}
    )
    SELECT w1, w2, c12, c1, c2, pmi
    FROM scored
    ORDER BY pmi DESC, w1, w2
    LIMIT {PMI_TOPK}
    """,
    tags=("text", "ngram", "statistics"),
)
def text_bigram_pmi_collocations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-{PMI_TOPK} bigram collocations by pointwise mutual
    information — the classic collocation miner (PMI spikes exactly
    when two words co-occur far above chance; with the
    count ≥ {PMI_MIN_COUNT} guard, because PMI of hapax pairs is
    maximal by construction): PMI = ln(p(w₁w₂)/(p(w₁)p(w₂))) computed
    as ONE ln of an exact integer rational (c₁₂·N_u²)/(N_b·c₁·c₂) —
    every product below 2⁵³ stays an exact double, so the ln argument
    is bit-identical cross-engine and no per-term rounding is needed;
    the word-level sibling of the document-level mutual-information
    gate.  Final cut orderBy().limit (TakeOrderedAndProject) with the
    (w1, w2) tiebreak.

    Scale: the bigram explode is the text_bigram_counts kernel
    (aggregate-then-merge or hashed ids at 100 TB, per that op's
    note); the two unigram joins are vocab-sized and
    broadcast-eligible; top-k never sorts the bigram table globally.
    Products overflow exact-double range only past ~10¹⁵ tokens —
    switch the rational to DECIMAL(38,0) there."""
    d = fanout(table(spark, sf_dir, "documents"))
    uni = _word_counts(d, word="word")
    nu = uni.agg(F.sum("c").alias("nu"))
    bi = (
        _gram_rows(d, 2)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    nb = bi.agg(F.sum("c12").alias("nb"))
    u1 = uni.select(F.col("word").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("c").alias("c2"))
    scored = (
        bi.filter(F.col("c12") >= PMI_MIN_COUNT)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("c12"),
            F.col("c1").cast("bigint").alias("c1"),
            F.col("c2").cast("bigint").alias("c2"),
            F.log(
                (F.col("c12").cast("double") * F.col("nu") * F.col("nu"))
                / (
                    (F.col("nb").cast("double") * F.col("c1"))
                    * F.col("c2")
                )
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(PMI_TOPK)


# ---------------------------------------------------------------------------
# Dunning log-likelihood keyness
# ---------------------------------------------------------------------------

#: Minimum combined count for a word to be keyness-scored.
KEYNESS_MIN_COUNT = 10
#: How many top keywords to report.
KEYNESS_TOPK = 20


@register(
    "text_keyness_loglikelihood",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    counts AS (
        SELECT word,
               SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS a,
               SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS b
        FROM toks GROUP BY word
    ),
    tot AS (SELECT SUM(a) AS ta, SUM(b) AS tb FROM counts),
    scored AS (
        SELECT c.word,
               CAST(c.a AS BIGINT) AS n_target,
               CAST(c.b AS BIGINT) AS n_rest,
               round(2.0 * (
                   (CASE WHEN c.a > 0 THEN c.a * ln(CAST(c.a AS DOUBLE)
                       / ((CAST(c.a + c.b AS DOUBLE) * t.ta)
                          / (t.ta + t.tb))) ELSE 0.0 END)
                 + (CASE WHEN c.b > 0 THEN c.b * ln(CAST(c.b AS DOUBLE)
                       / ((CAST(c.a + c.b AS DOUBLE) * t.tb)
                          / (t.ta + t.tb))) ELSE 0.0 END)), 6) AS g2,
               CASE WHEN CAST(c.a AS DOUBLE) * t.tb
                         > CAST(c.b AS DOUBLE) * t.ta
                    THEN 'target' ELSE 'rest' END AS key_direction
        FROM counts c, tot t
        WHERE c.a + c.b >= {KEYNESS_MIN_COUNT}
    )
    SELECT word, n_target, n_rest, g2, key_direction
    FROM scored
    ORDER BY g2 DESC, word
    LIMIT {KEYNESS_TOPK}
    """,
    tags=("text", "statistics", "corpus"),
)
def text_keyness_loglikelihood(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus keyness by Dunning's log-likelihood G² — THE corpus
    linguistics statistic for "which words distinguish corpus A from
    corpus B" (χ² misbehaves at the low counts word data lives in; G²
    doesn't), here scoring the src0 target slice against the rest:
    per word a 2-cell G² = 2·Σ O·ln(O/E) with expected counts from the
    pooled rate, zero cells contributing zero (the lim p→0 rule the MI
    gate documents), the direction decided by the EXACT integer
    cross-product a·T_b > b·T_a (never a float rate compare), and the
    score rounded to 6 decimals so ordering is libm-stable.  Completes
    the cross-corpus word family: PMI finds collocations WITHIN a
    corpus, burstiness finds topical words, keyness finds
    DISTINGUISHING words.

    Scale: one (word, 2-cell) aggregation (map-side combined,
    vocab-sized); totals broadcast; TakeOrderedAndProject top-k —
    never a global vocab sort."""
    toks = fanout(table(spark, sf_dir, "documents")).select(
        "source", F.explode(words()).alias("word")
    )
    is_t = (F.col("source") == "src0").cast("bigint")
    counts = toks.groupBy("word").agg(
        F.sum(is_t).alias("a"), F.sum(1 - is_t).alias("b")
    )
    tot = counts.agg(
        F.sum("a").alias("ta"), F.sum("b").alias("tb")
    )
    e_den = (F.col("ta") + F.col("tb"))
    term_a = F.when(
        F.col("a") > 0,
        F.col("a")
        * F.log(
            F.col("a").cast("double")
            / (
                (F.col("a") + F.col("b")).cast("double")
                * F.col("ta")
                / e_den
            )
        ),
    ).otherwise(F.lit(0.0))
    term_b = F.when(
        F.col("b") > 0,
        F.col("b")
        * F.log(
            F.col("b").cast("double")
            / (
                (F.col("a") + F.col("b")).cast("double")
                * F.col("tb")
                / e_den
            )
        ),
    ).otherwise(F.lit(0.0))
    scored = (
        counts.filter(
            F.col("a") + F.col("b") >= KEYNESS_MIN_COUNT
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "word",
            F.col("a").cast("bigint").alias("n_target"),
            F.col("b").cast("bigint").alias("n_rest"),
            F.round(F.lit(2.0) * (term_a + term_b), 6).alias("g2"),
            F.when(
                F.col("a").cast("double") * F.col("tb")
                > F.col("b").cast("double") * F.col("ta"),
                F.lit("target"),
            )
            .otherwise(F.lit("rest"))
            .alias("key_direction"),
        )
    )
    return scored.orderBy(F.desc("g2"), "word").limit(KEYNESS_TOPK)


# ---------------------------------------------------------------------------
# Yule's K lexical diversity (count-of-counts form)
# ---------------------------------------------------------------------------


@register(
    "text_yule_k_diversity",
    oracle="""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wc AS (SELECT w, count(*) AS m FROM words GROUP BY w),
    coc AS (SELECT m, count(*) AS vm FROM wc GROUP BY m),
    agg AS (
        SELECT SUM(m * vm) AS n_tokens,
               SUM(vm) AS vocab,
               SUM(m * m * vm) AS s2,
               SUM(CASE WHEN m = 1 THEN vm ELSE 0 END) AS hapax
        FROM coc
    )
    SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(vocab AS BIGINT) AS vocab,
           CAST(s2 AS BIGINT) AS s2,
           CAST(hapax AS BIGINT) AS hapax,
           CAST(hapax AS DOUBLE) / vocab AS hapax_ratio,
           10000.0 * (CAST(s2 AS DOUBLE) - n_tokens)
               / (CAST(n_tokens AS DOUBLE) * n_tokens) AS yule_k
    FROM agg
    """,
    tags=("text", "statistics", "diversity"),
)
def text_yule_k_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K lexical diversity of the corpus — the repeat-rate
    characteristic K = 10⁴·(Σm²V_m − N)/N² over the count-of-counts
    table (V_m = number of word types occurring exactly m times),
    plus the hapax-legomena count and ratio — the vocabulary-richness
    readouts that complete the lexical family (Heaps measures vocab
    GROWTH, Zipf the rank-frequency SHAPE, Good-Turing the unseen
    MASS; K is the size-invariant concentration a corpus card reports,
    and hapax_ratio is the noise/typo tell).  Everything up to the two
    final divisions is exact integer arithmetic on the count-of-counts
    table — the same compression Good-Turing uses, so the whole
    statistic costs two tiny aggregates beyond the word count.

    Scale: one word-count groupBy (map-side combined) → a
    count-of-counts table bounded by max frequency — the corpus
    never reappears after the first shuffle."""
    wc = _word_counts(table(spark, sf_dir, "documents"), count="m")
    coc = wc.groupBy("m").agg(F.count(F.lit(1)).alias("vm"))
    agg = coc.agg(
        F.sum(F.col("m") * F.col("vm")).alias("n_tokens"),
        F.sum("vm").alias("vocab"),
        F.sum(F.col("m") * F.col("m") * F.col("vm")).alias("s2"),
        F.sum(
            F.when(F.col("m") == 1, F.col("vm")).otherwise(F.lit(0))
        ).alias("hapax"),
    )
    return agg.select(
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("vocab").cast("bigint").alias("vocab"),
        F.col("s2").cast("bigint").alias("s2"),
        F.col("hapax").cast("bigint").alias("hapax"),
        (F.col("hapax").cast("double") / F.col("vocab")).alias(
            "hapax_ratio"
        ),
        (
            F.lit(10000.0)
            * (F.col("s2").cast("double") - F.col("n_tokens"))
            / (F.col("n_tokens").cast("double") * F.col("n_tokens"))
        ).alias("yule_k"),
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage spectrum
# ---------------------------------------------------------------------------


@register(
    "text_vocab_coverage_spectrum",
    oracle="""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    wc AS (SELECT w, count(*) AS m FROM words GROUP BY w),
    coc AS (SELECT m, count(*) AS vm FROM wc GROUP BY m),
    tot AS (SELECT SUM(m * vm) AS n FROM coc),
    cum AS (
        SELECT m, vm,
               SUM(vm) OVER (ORDER BY m DESC) AS types_ge,
               SUM(m * vm) OVER (ORDER BY m DESC) AS mass_ge
        FROM coc
    )
    SELECT CAST(m AS BIGINT) AS freq,
           CAST(vm AS BIGINT) AS n_types_at,
           CAST(types_ge AS BIGINT) AS n_types_ge,
           CAST(mass_ge AS BIGINT) AS mass_ge,
           CAST(mass_ge AS DOUBLE) / t.n AS mass_share
    FROM cum, tot t
    """,
    tags=("text", "statistics", "vocabulary"),
)
def text_vocab_coverage_spectrum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vocabulary coverage spectrum: for every distinct word frequency
    m (descending), how many types occur ≥ m times and what share of
    the total token MASS they cover — the truncation curve a
    tokenizer/vocab designer reads to pick a cutoff ("types with
    freq ≥ 5 cover 97% of tokens"), and the cumulative view that
    complements Zipf (shape), Heaps (growth), Good-Turing (unseen
    mass), and Yule's K (concentration).  Everything is integer
    arithmetic on the count-of-counts table; the single share column
    is one division by the exact token total.

    Scale: word-count shuffle once, then the count-of-counts table
    (bounded by max frequency) carries two cumulative windows over
    its few hundred rows — the corpus never reappears.  The
    descending cumulative window runs over the frequency DOMAIN, not
    the vocabulary, so no vocab-scale total-order sort exists."""
    wc = _word_counts(table(spark, sf_dir, "documents"), count="m")
    coc = wc.groupBy("m").agg(F.count(F.lit(1)).alias("vm"))
    tot = coc.agg(F.sum(F.col("m") * F.col("vm")).alias("n"))

    cum = (
        Window.orderBy(F.col("m").desc())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spectrum = coc.select(
        "m",
        "vm",
        F.sum("vm").over(cum).alias("types_ge"),
        F.sum(F.col("m") * F.col("vm")).over(cum).alias("mass_ge"),
    )
    return spectrum.crossJoin(F.broadcast(tot)).select(
        F.col("m").cast("bigint").alias("freq"),
        F.col("vm").cast("bigint").alias("n_types_at"),
        F.col("types_ge").cast("bigint").alias("n_types_ge"),
        F.col("mass_ge").cast("bigint").alias("mass_ge"),
        (F.col("mass_ge").cast("double") / F.col("n")).alias(
            "mass_share"
        ),
    )


@register(
    "text_readability_ari_cli",
    oracle="""
    WITH per_doc AS (
        SELECT source,
               len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS words,
               len(regexp_extract_all(text, '[.!?]+')) AS sentences,
               len(regexp_extract_all(text, '[A-Za-z0-9]')) AS alnum,
               len(regexp_extract_all(text, '[A-Za-z]')) AS letters
        FROM documents
    ),
    agg AS (
        SELECT source,
               count(*) AS n_docs,
               SUM(words) AS n_words,
               SUM(sentences) AS n_sentences,
               SUM(alnum) AS n_alnum,
               SUM(letters) AS n_letters
        FROM per_doc GROUP BY source
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_alnum AS BIGINT) AS n_alnum,
           CAST(n_letters AS BIGINT) AS n_letters,
           CASE WHEN n_words > 0 AND n_sentences > 0 THEN
               4.71 * (CAST(n_alnum AS DOUBLE) / n_words)
               + 0.5 * (CAST(n_words AS DOUBLE) / n_sentences)
               - 21.43
           END AS ari,
           CASE WHEN n_words > 0 THEN
               0.0588 * (100.0 * CAST(n_letters AS DOUBLE) / n_words)
               - 0.296 * (100.0 * CAST(n_sentences AS DOUBLE) / n_words)
               - 15.8
           END AS cli
    FROM agg
    """,
    tags=("text", "quality"),
)
def text_readability_ari_cli(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus readability per source: Automated Readability Index and
    Coleman-Liau Index — the two classic grade-level formulas that are
    CHARACTER-based rather than syllable-based, which makes them the
    only readability scores computable exactly and deterministically
    with integer counting (syllable estimation is heuristic and
    engine-dependent; chars/words/sentences are not).  Training-data
    curation uses these as cheap quality priors: a source whose ARI
    collapses toward 0 is fragment soup, one that spikes past ~20 is
    likely tables/code/boilerplate.

    Counting conventions (identical regexes both engines): words =
    maximal [A-Za-z0-9]+ runs, sentences = maximal [.!?]+ runs (so an
    ellipsis terminates one sentence, not three), alnum = [A-Za-z0-9]
    chars, letters = [A-Za-z] chars.  All four are exact BIGINTs per
    document, summed per source; ARI = 4.71*(chars/words) +
    0.5*(words/sentences) - 21.43 and CLI = 0.0588*L - 0.296*S - 15.8
    (L, S per 100 words) are each ONE fixed IEEE chain mirrored
    textually in the oracle, NULL-guarded when a source has no words
    or no sentence breaks.

    Scale: embarrassingly parallel — four regexp_count expressions in
    whole-stage codegen over the scan (no Python, no shuffle), then
    one map-side-combined groupBy(source) of bigint sums."""
    d = table(spark, sf_dir, "documents")
    per_doc = d.select(
        "source",
        F.regexp_count(F.col("text"), F.lit(r"[A-Za-z0-9]+")).alias(
            "words"
        ),
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")).alias(
            "sentences"
        ),
        F.regexp_count(F.col("text"), F.lit(r"[A-Za-z0-9]")).alias(
            "alnum"
        ),
        F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]")).alias(
            "letters"
        ),
    )
    agg = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("words").alias("n_words"),
        F.sum("sentences").alias("n_sentences"),
        F.sum("alnum").alias("n_alnum"),
        F.sum("letters").alias("n_letters"),
    )
    words_d = F.col("n_words").cast("double")
    sent_d = F.col("n_sentences").cast("double")
    ari = (
        F.lit(4.71) * (F.col("n_alnum").cast("double") / F.col("n_words"))
        + F.lit(0.5) * (words_d / F.col("n_sentences"))
        - F.lit(21.43)
    )
    cli = (
        F.lit(0.0588)
        * (F.lit(100.0) * F.col("n_letters").cast("double") / F.col("n_words"))
        - F.lit(0.296) * (F.lit(100.0) * sent_d / F.col("n_words"))
        - F.lit(15.8)
    )
    return agg.select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_sentences").cast("bigint").alias("n_sentences"),
        F.col("n_alnum").cast("bigint").alias("n_alnum"),
        F.col("n_letters").cast("bigint").alias("n_letters"),
        F.when(
            (F.col("n_words") > 0) & (F.col("n_sentences") > 0), ari
        ).alias("ari"),
        F.when(F.col("n_words") > 0, cli).alias("cli"),
    )


#: Chi-squared dof=1 critical value at alpha = 0.05 (literal, shared
#: reading convention with the CHI2_CRIT_005 table in quality_kernel.py).
MCNEMAR_CRIT_005 = 3.841


@register(
    "text_mcnemar_langid_vs_majority",
    oracle=f"""
    WITH preds AS ({_LANGID_ORACLE}),
    paired AS (
        SELECT CASE WHEN predicted_lang = labeled_lang
                    THEN 1 ELSE 0 END AS a_right,
               CASE WHEN labeled_lang = 'en' THEN 1 ELSE 0 END AS b_right
        FROM preds
    ),
    cells AS (
        SELECT CAST(SUM(a_right * b_right) AS BIGINT) AS both_right,
               CAST(SUM(a_right * (1 - b_right)) AS BIGINT) AS only_a,
               CAST(SUM((1 - a_right) * b_right) AS BIGINT) AS only_b,
               CAST(SUM((1 - a_right) * (1 - b_right)) AS BIGINT)
                   AS both_wrong
        FROM paired
    )
    SELECT both_right, only_a, only_b, both_wrong,
           CASE WHEN only_a + only_b > 0 THEN
               CAST((abs(only_a - only_b) - 1)
                    * (abs(only_a - only_b) - 1) AS DOUBLE)
                   / (only_a + only_b)
           END AS mcnemar_chi2,
           CASE WHEN only_a + only_b > 0 THEN
               CAST((abs(only_a - only_b) - 1)
                    * (abs(only_a - only_b) - 1) AS DOUBLE)
                   / (only_a + only_b) > {MCNEMAR_CRIT_005}
           END AS differs_005
    FROM cells
    """,
    tags=("text", "evaluation", "statistics"),
)
def text_mcnemar_langid_vs_majority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """McNemar's test: is the marker-voting language identifier
    actually BETTER than the majority-class baseline (always predict
    'en') on the same documents?  Accuracy comparisons on shared data
    are PAIRED — comparing two unpaired accuracy rates wastes the
    per-document correlation and over/under-states significance — and
    McNemar is the canonical paired test: only the DISCORDANT
    documents (exactly one classifier right) carry information, via
    the continuity-corrected chi2 = (|b-c|-1)^2/(b+c) with 1 dof.
    This is the gate a pipeline runs before swapping in a new
    language filter: 'its accuracy is 2 points higher' means nothing
    until McNemar says the discordance is not coin-flip noise.

    Predictions are the registered text_language_id query verbatim
    (shared _LANGID_ORACLE CTE, shared Spark callable).  All four
    contingency cells are exact integer conditional sums off one
    scan; the statistic is one mirrored division, gated at the
    dof=1 literal {MCNEMAR_CRIT_005}; NULL verdict when there are no
    discordant documents (the statistic is undefined — mirrored).

    Scale: the lang-ID scan dominates (measured linear); the paired
    table folds to FOUR integers in one map-side-combined aggregate."""
    preds = text_language_id(spark, sf_dir)
    a_right = (
        F.col("predicted_lang") == F.col("labeled_lang")
    ).cast("bigint")
    b_right = (F.col("labeled_lang") == "en").cast("bigint")
    cells = preds.select(
        a_right.alias("ar"), b_right.alias("br")
    ).agg(
        F.sum(F.col("ar") * F.col("br")).cast("bigint").alias(
            "both_right"
        ),
        F.sum(F.col("ar") * (1 - F.col("br"))).cast("bigint").alias(
            "only_a"
        ),
        F.sum((1 - F.col("ar")) * F.col("br")).cast("bigint").alias(
            "only_b"
        ),
        F.sum((1 - F.col("ar")) * (1 - F.col("br")))
        .cast("bigint")
        .alias("both_wrong"),
    )
    disc = F.col("only_a") + F.col("only_b")
    diff = F.abs(F.col("only_a") - F.col("only_b"))
    chi2 = ((diff - 1) * (diff - 1)).cast("double") / disc
    return cells.select(
        "both_right",
        "only_a",
        "only_b",
        "both_wrong",
        F.when(disc > 0, chi2).alias("mcnemar_chi2"),
        F.when(disc > 0, chi2 > F.lit(MCNEMAR_CRIT_005)).alias(
            "differs_005"
        ),
    )


# ---------------------------------------------------------------------------
# Character-trigram language profiles — the documented marker-list upgrade
# ---------------------------------------------------------------------------

#: Profile size: top-K character trigrams per labeled language.
NGRAM_PROFILE_K = 50

_TRIGRAMS_SQL = (
    "list_transform(range(1, length(text) - 1), p -> substr(text, p, 3))"
)


@register(
    "text_langid_char_ngram_profile",
    oracle=f"""
    WITH tris AS (
        SELECT doc_id, lang, unnest({_TRIGRAMS_SQL}) AS tri
        FROM documents WHERE length(text) >= 3
    ),
    counts AS (
        SELECT lang, tri, count(*) AS c FROM tris GROUP BY 1, 2
    ),
    profiles AS (
        SELECT lang AS plang, tri FROM (
            SELECT lang, tri,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY c DESC, tri) AS rn
            FROM counts
        ) WHERE rn <= {NGRAM_PROFILE_K}
    ),
    scores AS (
        SELECT t.doc_id, p.plang, count(*) AS score
        FROM tris t JOIN profiles p ON p.tri = t.tri
        GROUP BY 1, 2
    ),
    best AS (
        SELECT doc_id, plang FROM (
            SELECT doc_id, plang,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, plang) AS rn
            FROM scores
        ) WHERE rn = 1
    )
    SELECT d.doc_id,
           d.lang AS labeled_lang,
           COALESCE(b.plang, 'und') AS predicted_lang
    FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
    """,
    tags=("text", "evaluation"),
)
def text_langid_char_ngram_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Character-trigram-profile language ID — the upgrade the
    marker-list op's docstring promises ('a real pipeline swaps the
    marker lists for character-n-gram profiles'): per labeled
    language, the top-{NGRAM_PROFILE_K} character trigrams by corpus
    count form its profile (Cavnar-Trenkle's out-of-place method
    simplified to profile-hit counting, which keeps every score an
    exact integer); each document is scored by how many of its
    trigram OCCURRENCES hit each profile, argmax with (score desc,
    lang asc) determinism, 'und' when nothing hits.  Training and
    inference are the same corpus pass — the self-trained form a
    curation pipeline bootstraps with before it has labels elsewhere.

    Determinism: trigram extraction is pure substring windows
    (identical both engines), profile cut and argmax both carry
    explicit tiebreaks, scores are integers — no floats anywhere.

    Scale: the trigram explode is linear in corpus BYTES (the text
    ops' common cost); profiles are |langs| x K rows and BROADCAST
    into the scoring join; scoring collapses per (doc, lang) with
    map-side combine.  Nothing vocab-scale shuffles except the
    training groupBy, bounded by the trigram domain."""
    d = table(spark, sf_dir, "documents")
    tris = d.filter(F.length("text") >= 3).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 2), "
                "p -> substring(text, p, 3))"
            )
        ).alias("tri"),
    )
    counts = tris.groupBy("lang", "tri").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("lang").orderBy(F.desc("c"), "tri")
    profiles = (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= NGRAM_PROFILE_K)
        .select(F.col("lang").alias("plang"), "tri")
    )
    scores = (
        tris.join(F.broadcast(profiles), "tri")
        .groupBy("doc_id", "plang")
        .agg(F.count(F.lit(1)).alias("score"))
    )
    w_best = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), "plang"
    )
    best = (
        scores.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("doc_id", "plang")
    )
    return d.select("doc_id", F.col("lang").alias("labeled_lang")).join(
        best, "doc_id", "left"
    ).select(
        "doc_id",
        "labeled_lang",
        F.coalesce(F.col("plang"), F.lit("und")).alias(
            "predicted_lang"
        ),
    )


#: Vocabulary-profile size for the source-overlap matrix.
VOCAB_OVERLAP_K = 50


@register(
    "text_source_vocab_overlap",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    counts AS (
        SELECT source, w, count(*) AS c FROM toks GROUP BY 1, 2
    ),
    tops AS (
        SELECT source, w FROM (
            SELECT source, w,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY c DESC, w) AS rn
            FROM counts
        ) WHERE rn <= {VOCAB_OVERLAP_K}
    ),
    sizes AS (
        SELECT source, count(*) AS k FROM tops GROUP BY source
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_common
        FROM tops a JOIN tops b
          ON a.w = b.w AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT sa.source AS source_a, sb.source AS source_b,
           CAST(COALESCE(p.n_common, 0) AS BIGINT) AS n_common,
           CAST(COALESCE(p.n_common, 0) AS DOUBLE)
               / (sa.k + sb.k - COALESCE(p.n_common, 0)) AS jaccard
    FROM sizes sa JOIN sizes sb ON sa.source < sb.source
    LEFT JOIN pairs p
      ON p.source_a = sa.source AND p.source_b = sb.source
    """,
    tags=("text", "corpus", "dedup"),
)
def text_source_vocab_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Source-by-source vocabulary-overlap matrix: Jaccard similarity
    between every pair of sources' top-{VOCAB_OVERLAP_K} word
    profiles — near-duplicate detection at the SOURCE level, where
    document-level dedup cannot see it (two crawls of the same site
    share almost no exact documents but nearly identical head
    vocabularies).  A curation pipeline reads high-Jaccard pairs as
    merge candidates before computing mixture weights, so one corpus
    doesn't get double its intended sampling share under two names.

    Determinism: profile cut is (count desc, word asc) — the
    char-ngram profiler's convention; overlap counting and Jaccard
    are exact integers plus one division.  The complete pair grid
    comes from the sizes table (absent pairs = 0 overlap, not absent
    rows).

    Scale: one token-count groupBy (map-side combined, vocab-domain
    shuffle), a per-source top-K window over vocab-sized partitions,
    then a K·|sources|-row self-join — |sources|² output, trivially
    broadcastable; the corpus is scanned exactly once."""
    counts = _word_counts(table(spark, sf_dir, "documents"), "source")
    w_top = Window.partitionBy("source").orderBy(F.desc("c"), "w")
    tops = (
        counts.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= VOCAB_OVERLAP_K)
        .select("source", "w")
    )
    sizes = tops.groupBy("source").agg(F.count(F.lit(1)).alias("k"))
    a, b = tops.alias("a"), tops.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    grid = sa.join(
        sb, F.col("sa.source") < F.col("sb.source")
    ).select(
        F.col("sa.source").alias("source_a"),
        F.col("sb.source").alias("source_b"),
        F.col("sa.k").alias("ka"),
        F.col("sb.k").alias("kb"),
    )
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    return grid.join(pairs, ["source_a", "source_b"], "left").select(
        "source_a",
        "source_b",
        nc.cast("bigint").alias("n_common"),
        (
            nc.cast("double")
            / (F.col("ka") + F.col("kb") - nc)
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition filters (token n-gram form)
# ---------------------------------------------------------------------------

#: Gopher-inspired repetition gates (Rae et al. 2021 table A1 uses
#: character fractions; these are the token-occurrence analogues since
#: this corpus is single-line space-separated text): a document is
#: repetitive when its most frequent bigram covers more than 20% of
#: tokens, or duplicate trigrams (count >= 2) cover more than 18% of
#: trigram occurrences.
TOP_BIGRAM_FRAC_MAX = 0.20
DUP_TRIGRAM_FRAC_MAX = 0.18


def repetition_metrics(docs: DataFrame) -> DataFrame:
    """Shared per-document repetition kernel (doc_id, text in; doc_id,
    n_tokens, top_bigram_cnt, n_trigrams, dup_trigram_occ out) — used
    by the batch gate below AND stream_repetition_monitor, so the two
    evaluate ONE construction (the shared-kernel discipline the filter
    monitors follow)."""
    toks = docs.select("doc_id", words().alias("t"))
    base = toks.select(
        "doc_id", F.size("t").cast("bigint").alias("n_tokens")
    )
    bi = (
        toks.select(
            "doc_id", F.explode(_word_grams(F.col("t"), 2)).alias("g")
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").cast("bigint").alias("top_bigram_cnt"))
    )
    tri = (
        toks.select(
            "doc_id", F.explode(_word_grams(F.col("t"), 3)).alias("g")
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_trigrams"),
            F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("dup_trigram_occ"),
        )
    )
    return (
        base.join(bi, "doc_id", "left")
        .join(tri, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("top_bigram_cnt", F.lit(0)).alias(
                "top_bigram_cnt"
            ),
            F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
            F.coalesce("dup_trigram_occ", F.lit(0)).alias(
                "dup_trigram_occ"
            ),
        )
    )


def repetition_flag() -> Column:
    """The keep/drop rule over repetition_metrics' columns — one
    expression, shared by the batch gate and the streaming monitor."""
    top_frac = (2 * F.col("top_bigram_cnt")).cast("double") / F.col(
        "n_tokens"
    )
    dup_frac = F.when(
        F.col("n_trigrams") > 0,
        F.col("dup_trigram_occ").cast("double") / F.col("n_trigrams"),
    ).otherwise(F.lit(0.0))
    return (top_frac > F.lit(TOP_BIGRAM_FRAC_MAX)) | (
        dup_frac > F.lit(DUP_TRIGRAM_FRAC_MAX)
    )


@register(
    "text_repetition_gopher_rules",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t
        FROM documents
    ),
    bi AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS g
        FROM toks WHERE len(t) >= 2
    ),
    bic AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
    bia AS (
        SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_cnt
        FROM bic GROUP BY 1
    ),
    tri AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        FROM toks WHERE len(t) >= 3
    ),
    tric AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2),
    tria AS (
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_trigrams,
               CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
                   AS dup_trigram_occ
        FROM tric GROUP BY 1
    )
    SELECT k.doc_id, k.source,
           CAST(len(k.t) AS BIGINT) AS n_tokens,
           coalesce(bia.top_bigram_cnt, 0) AS top_bigram_cnt,
           coalesce(tria.n_trigrams, 0) AS n_trigrams,
           coalesce(tria.dup_trigram_occ, 0) AS dup_trigram_occ,
           CAST(2 * coalesce(bia.top_bigram_cnt, 0) AS DOUBLE)
               / len(k.t) AS top_bigram_frac,
           CASE WHEN coalesce(tria.n_trigrams, 0) > 0
                THEN CAST(tria.dup_trigram_occ AS DOUBLE)
                     / tria.n_trigrams
                ELSE 0.0 END AS dup_trigram_frac,
           (CAST(2 * coalesce(bia.top_bigram_cnt, 0) AS DOUBLE)
               / len(k.t) > {TOP_BIGRAM_FRAC_MAX}
            OR CASE WHEN coalesce(tria.n_trigrams, 0) > 0
                    THEN CAST(tria.dup_trigram_occ AS DOUBLE)
                         / tria.n_trigrams
                    ELSE 0.0 END > {DUP_TRIGRAM_FRAC_MAX})
               AS repetitive
    FROM toks k
    LEFT JOIN bia ON bia.doc_id = k.doc_id
    LEFT JOIN tria ON tria.doc_id = k.doc_id
    """,
    tags=("text", "quality", "dedup"),
)
def text_repetition_gopher_rules(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Intra-document repetition gates in the Gopher/MassiveText style
    (Rae et al. 2021, table A1): the most-frequent-bigram coverage and
    the duplicate-trigram coverage, per document, with the keep/drop
    flag a pretraining pipeline applies before any cross-document
    dedup.  text_quality_score watches lexical composition;
    dedup_* watch BETWEEN-document copies; this is the third axis —
    WITHIN-document loops (boilerplate, crawler traps, template spam)
    that poison an LM even when each document is globally unique.

    Both fractions are per-row IEEE divisions of exact integers (no
    cross-row float accumulation), so the threshold comparisons are
    bit-stable cross-engine.  The reference's pipeline has no document
    surface at all; the n-gram construction reuses the corpus-family
    convention (word n-grams from one split, occurrences kept).

    Scale: grams explode to ~2x corpus tokens, but both aggregations
    are (doc_id, gram)-keyed with map-side combine and collapse right
    back to one row per document — the same shuffle shape as
    text_tfidf_top_terms; no corpus-wide state."""
    d = table(spark, sf_dir, "documents")
    metrics = repetition_metrics(d.select("doc_id", "text"))
    joined = d.select("doc_id", "source").join(metrics, "doc_id")
    top_frac = (2 * F.col("top_bigram_cnt")).cast("double") / F.col(
        "n_tokens"
    )
    dup_frac = F.when(
        F.col("n_trigrams") > 0,
        F.col("dup_trigram_occ").cast("double") / F.col("n_trigrams"),
    ).otherwise(F.lit(0.0))
    return joined.select(
        "doc_id",
        "source",
        "n_tokens",
        "top_bigram_cnt",
        "n_trigrams",
        "dup_trigram_occ",
        top_frac.alias("top_bigram_frac"),
        dup_frac.alias("dup_trigram_frac"),
        repetition_flag().alias("repetitive"),
    )


# ---------------------------------------------------------------------------
# Standardized type-token ratio (STTR) over fixed corpus chunks
# ---------------------------------------------------------------------------

#: STTR chunk size in tokens (the corpus-linguistics standard is
#: 1000-token windows — Kubát & Milička 2013).  Partial tail chunks
#: are excluded, the standard convention.
STTR_CHUNK = 1000


@register(
    "text_sttr_chunked",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS size
        FROM documents
    ),
    cums AS (
        SELECT doc_id, toks,
               CAST(coalesce(SUM(size) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS BIGINT) AS cstart
        FROM d
    ),
    tot AS (
        SELECT CAST(SUM(len(toks)) AS BIGINT) AS t FROM d
    ),
    pos AS (
        SELECT (c.cstart + u.i - 1) // {STTR_CHUNK} AS chunk,
               c.toks[u.i] AS term
        FROM cums c,
             unnest(generate_series(1, len(c.toks))) u(i)
    ),
    full_chunks AS (
        SELECT p.chunk,
               CAST(count(DISTINCT p.term) AS BIGINT) AS n_types
        FROM pos p, tot
        WHERE p.chunk < tot.t // {STTR_CHUNK}
        GROUP BY 1
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(SUM(n_types) AS BIGINT) AS sum_types
        FROM full_chunks
    )
    SELECT f.chunk, f.n_types,
           CAST(f.n_types AS DOUBLE) / {STTR_CHUNK} AS ttr,
           CAST(a.sum_types AS DOUBLE) / ({STTR_CHUNK} * a.n_chunks)
               AS sttr,
           a.n_chunks
    FROM full_chunks f, agg a
    """,
    tags=("text", "statistics"),
)
def text_sttr_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized type-token ratio (STTR, Kubát & Milička JQL 2013)
    over fixed 1000-token corpus chunks — the SIZE-ROBUST lexical-
    diversity member of the text family (raw TTR falls with corpus
    size by Heaps' law, so corpora of different sizes can't be
    compared on it; Yule's K is frequency-spectrum-based; STTR fixes
    the window so the mean IS comparable): the corpus token stream in
    doc_id order splits into ⌊T/1000⌋ full chunks; each chunk's
    distinct-type count, its TTR, and the corpus STTR (mean TTR =
    Σ types / (1000·n_chunks), one exact-integer division).

    Exactness: the chunk id of every token is pure integer arithmetic
    on (document token offset + in-document position); type counts are
    exact distincts; both ratios are single mirrored IEEE divisions of
    BIGINTs.  Partial tail chunks are excluded on both engines.

    Scale: the document offsets ride `distributed_prefix_sum` (shared
    with PPS sampling — reuse guard-tested), so there is NO global
    window anywhere; tokens explode once and aggregate by
    (chunk, term) with map-side combine — the TF-IDF cost shape; the
    chunk table is T/1000 rows, output-bounded."""
    from kafka_stream_processing_spark.operators.pipeline import (
        distributed_prefix_sum,
    )

    d = fanout(table(spark, sf_dir, "documents")).select(
        "doc_id",
        words().alias("toks"),
        F.size(words()).cast("bigint").alias("size"),
    )
    offs = distributed_prefix_sum(d.select("doc_id", "size"))
    tot = d.agg(F.sum("size").cast("bigint").alias("t"))
    pos = (
        d.join(offs.select("doc_id", "cstart"), "doc_id")
        .select(
            "cstart",
            F.posexplode("toks").alias("i", "term"),
        )
        .select(
            F.expr(f"(cstart + i) div {STTR_CHUNK}").alias("chunk"),
            "term",
        )
    )
    full_chunks = (
        pos.crossJoin(F.broadcast(tot))
        .filter(F.col("chunk") < F.expr(f"t div {STTR_CHUNK}"))
        .groupBy("chunk")
        .agg(F.countDistinct("term").cast("bigint").alias("n_types"))
    )
    agg = full_chunks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("n_types").cast("bigint").alias("sum_types"),
    )
    return full_chunks.crossJoin(F.broadcast(agg)).select(
        "chunk",
        "n_types",
        (F.col("n_types").cast("double") / F.lit(STTR_CHUNK)).alias(
            "ttr"
        ),
        (
            F.col("sum_types").cast("double")
            / (F.lit(STTR_CHUNK) * F.col("n_chunks"))
        ).alias("sttr"),
        "n_chunks",
    )


#: Unicode script classes for the script-mix profile: each maps to a
#: single-char regex character class; endpoints are LITERAL characters
#: (not engine-specific escapes) so Java regex and DuckDB RE2 see the
#: identical pattern.
SCRIPT_CLASSES = {
    "latin": "[A-Za-z]",
    "digit": "[0-9]",
    "space": "[ ]",
    "thai": "[฀-๿]",
    "cjk": "[一-鿿]",
}


def _script_count(cls_pattern: str) -> Column:
    """Chars of a class = length lost when the class is deleted."""
    return (
        F.length("text")
        - F.length(F.regexp_replace("text", cls_pattern, ""))
    ).cast("bigint")


def _script_oracle() -> str:
    cnt = {
        k: (
            "CAST(length(text) - length(regexp_replace(text, '"
            + pat.replace("'", "''")
            + "', '', 'g')) AS BIGINT)"
        )
        for k, pat in SCRIPT_CLASSES.items()
    }
    cols = ",\n           ".join(
        f"{expr} AS n_{k}" for k, expr in cnt.items()
    )
    rest = " - ".join(f"n_{k}" for k in SCRIPT_CLASSES)
    return f"""
    WITH counted AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars,
               {cols}
        FROM documents
    )
    SELECT counted.*,
           CAST(n_chars - {rest} AS BIGINT) AS n_other
    FROM counted
    """


@register(
    "text_script_mix_profile",
    oracle=_script_oracle(),
    tags=("text", "multilingual"),
)
def text_script_mix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Unicode script composition: character counts by
    script class (basic-Latin letters, ASCII digits, spaces, Thai,
    CJK unified ideographs, other) — the language-routing signal a
    multilingual curation pipeline reads BEFORE language-ID (a doc
    that is 40% CJK and 40% Latin goes to a different pipeline than
    either pure stream, and char-n-gram langid over such a mix is
    garbage-in).  Complements text_langid_char_ngram_profile (which
    assumes a dominant script) and quality_oov_rate_by_source.

    Exactness: every count is `length(text) − length(text with the
    class deleted)` — pure BIGINT, zero floats; the class patterns are
    single-char character classes with LITERAL endpoint characters so
    Java regex and DuckDB RE2 compile the identical automaton; `other`
    closes the partition by subtraction.

    Scale: narrow per-document expression chain (regexp_replace +
    length inside whole-stage codegen), zero shuffle, zero Python —
    divides by executor count; the class list extends to the full
    Unicode script table without changing the plan shape."""
    d = fanout(table(spark, sf_dir, "documents"))
    counts = [
        _script_count(pat).alias(f"n_{k}")
        for k, pat in SCRIPT_CLASSES.items()
    ]
    counted = d.select(
        "doc_id", F.length("text").cast("bigint").alias("n_chars"), *counts
    )
    rest = None
    for k in SCRIPT_CLASSES:
        c = F.col(f"n_{k}")
        rest = c if rest is None else rest + c
    return counted.withColumn(
        "n_other", (F.col("n_chars") - rest).cast("bigint")
    )


# ---------------------------------------------------------------------------
# Fleiss' kappa across three language raters
# ---------------------------------------------------------------------------


@register(
    "quality_fleiss_kappa_langid",
    oracle=f"""
    WITH preds AS ({_LANGID_ORACLE}),
    per_item AS (
        SELECT 3 + 2 * (
                   (CASE WHEN labeled_lang = predicted_lang
                         THEN 1 ELSE 0 END)
                 + (CASE WHEN labeled_lang = 'en' THEN 1 ELSE 0 END)
                 + (CASE WHEN predicted_lang = 'en' THEN 1 ELSE 0 END)
               ) AS s_i
        FROM preds
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(s_i) AS BIGINT) AS s
        FROM per_item
    ),
    assigns AS (
        SELECT labeled_lang AS cls FROM preds
        UNION ALL SELECT predicted_lang FROM preds
        UNION ALL SELECT 'en' FROM preds
    ),
    cats AS (
        SELECT CAST(SUM(cj * cj) AS BIGINT) AS e FROM (
            SELECT count(*) AS cj FROM assigns GROUP BY cls
        )
    )
    SELECT n_docs,
           CAST(3 AS BIGINT) AS n_raters,
           CAST(s - 3 * n_docs AS DOUBLE)
               / CAST(6 * n_docs AS DOUBLE) AS pbar,
           CAST(e AS DOUBLE)
               / (CAST(3 * n_docs AS DOUBLE) * CAST(3 * n_docs AS DOUBLE))
               AS pe,
           (CAST(s - 3 * n_docs AS DOUBLE) / CAST(6 * n_docs AS DOUBLE)
            - CAST(e AS DOUBLE) / (CAST(3 * n_docs AS DOUBLE)
                                   * CAST(3 * n_docs AS DOUBLE)))
           / (1.0E0 - CAST(e AS DOUBLE) / (CAST(3 * n_docs AS DOUBLE)
                                           * CAST(3 * n_docs AS DOUBLE)))
               AS kappa
    FROM tot, cats
    """,
    tags=("quality", "statistics", "text"),
)
def quality_fleiss_kappa_langid(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971) across THREE language raters — the
    multi-rater generalization of the Cohen's-kappa op (which compares
    exactly two): rater 1 = the labeled lang column, rater 2 = the
    marker-token classifier (kernel reuse: the text_language_id
    predictions), rater 3 = the majority-class baseline (always 'en' —
    the same baseline text_mcnemar_langid_vs_majority tests against).
    One number answers "do the label, the classifier, and the skew
    baseline tell one coherent story, beyond chance?" — the agreement
    audit run before trusting ANY single rater as corpus truth.

    Exactness: with n = 3 raters, Σ_j n_ij² per item collapses to
    3 + 2·(pairwise-equality count) — a pure integer CASE sum; P̄ =
    (S − 3N)/(6N) and P̄_e = Σc_j²/(9N²) are single divisions of
    BIGINTs; κ nests identically in both engines.  Overflow bound:
    Σc_j² < 2^63 to ~1.7·10⁹ docs; DECIMAL(38,0) past that.

    Scale: the prediction scan + one groupBy over 3N category
    assignments; the statistic is computed on two 1-row frames.  More
    raters = more UNION ALL branches of the same scan, same shape."""
    preds = text_language_id(spark, sf_dir)
    eq = lambda a, b: F.when(a == b, 1).otherwise(0)  # noqa: E731
    l_, p_ = F.col("labeled_lang"), F.col("predicted_lang")
    per_item = preds.select(
        (
            F.lit(3)
            + F.lit(2)
            * (eq(l_, p_) + eq(l_, F.lit("en")) + eq(p_, F.lit("en")))
        ).alias("s_i")
    )
    tot = per_item.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("s_i").cast("bigint").alias("s"),
    )
    assigns = (
        preds.select(l_.alias("cls"))
        .unionAll(preds.select(p_.alias("cls")))
        .unionAll(preds.select(F.lit("en").alias("cls")))
    )
    cats = (
        assigns.groupBy("cls")
        .agg(F.count(F.lit(1)).alias("cj"))
        .agg(F.sum(F.col("cj") * F.col("cj")).cast("bigint").alias("e"))
    )
    out = tot.crossJoin(F.broadcast(cats))
    n3 = (F.lit(3) * F.col("n_docs")).cast("double")
    pbar = (F.col("s") - 3 * F.col("n_docs")).cast("double") / (
        F.lit(6) * F.col("n_docs")
    ).cast("double")
    pe = F.col("e").cast("double") / (n3 * n3)
    return out.select(
        "n_docs",
        F.lit(3).cast("bigint").alias("n_raters"),
        pbar.alias("pbar"),
        pe.alias("pe"),
        ((pbar - pe) / (F.lit(1.0) - pe)).alias("kappa"),
    )
