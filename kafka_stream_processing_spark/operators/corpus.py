"""Corpus-assembly operators: the step between a filtered document pool
and a tokenizer-ready training set.

Operations every large-scale pretraining pipeline runs that none of
the other modules cover:

- **sequence packing** (``pack_sequences_token_budget``): concatenate
  documents in deterministic order and chop into fixed token-budget
  training sequences — the packing that turns a variable-length corpus
  into fixed-shape batches;
- **benchmark contamination** (``contamination_ngram_overlap``): flag
  training documents sharing word n-grams with a held-out benchmark
  partition — the eval-integrity scan run before any training job;
- **repetition metric** (``quality_dup_ngram_fraction``): the
  duplicated-n-gram occurrence fraction (Gopher/CCNet-style repetition
  signal over OCCURRENCES, complementing quality_gopher_filters'
  top-single-word rule);
- **incremental ingestion dedup** (``dedup_incremental_new_batch``):
  admit a new document batch against an existing corpus fingerprint set
  — dedup as a streaming-ingest contract, not a one-shot batch job;
- **overlap chunking** (``corpus_chunk_overlap``): split documents into
  fixed-token-budget chunks with stride overlap — the RAG / embedding-
  indexing segmentation step;
- **inverted index build** (``index_inverted_postings``): term →
  (document frequency, occurrences, bounded postings sample) — the
  retrieval-side index a corpus search layer is built on.

The reference has no corpus surface at all (it processes one JSON event
stream, UniqueUsersCounter.java:63-93); these operators are part of the
engine's training-data extension, same charter as operators/pipeline.py.

Cross-engine determinism follows the package conventions: md5-derived
hashing only (dedup.hash64), integer cross-product thresholds, every
computed column aliased identically in Spark and oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_processing_spark.operators.dedup import hash64
from kafka_stream_processing_spark.operators.word_kernel import (
    _GRAMS_SQL,
    _word_counts,
    _word_grams,
    split_words,
    words,
)
from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import fanout, table

#: Tokens per packed training sequence (a stand-in for a model's context
#: length; the packing math is budget-agnostic).
PACK_BUDGET = 512

@register(
    "pack_sequences_token_budget",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT lang, doc_id, n_tokens,
               sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens
                   AS cum_prev
        FROM toks
    )
    SELECT lang,
           CAST(cum_prev // {PACK_BUDGET} AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
    FROM packed
    GROUP BY 1, 2
    """,
    tags=("corpus", "packing"),
)
def pack_sequences_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: documents are laid out in deterministic
    (shard, doc_id) order and assigned to the training sequence whose
    token range their starting offset falls in — ``seq_id =
    tokens_before_doc div BUDGET``.  Output audits each sequence's doc
    count and token fill (a seq_tokens far above BUDGET means one doc
    straddles into it — the consumer's truncate/continue policy decides).

    Scale: packing is a prefix-sum, and a prefix-sum over ONE global
    order is a single-partition sort — so the order is scoped per shard
    key (here ``lang``; at 100 TB a hash-bucket shard key
    ``hash64(doc_id) % K`` gives K independent, embarrassingly parallel
    packing problems, which is exactly how packing shards onto a
    cluster: sequences never cross shard boundaries).  One shuffle on
    the shard key serves both the window and the final per-sequence
    aggregate."""
    d = fanout(table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", "lang", F.size(words()).alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    packed = toks.withColumn(
        "cum_prev", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return (
        packed.withColumn(
            "seq_id", F.expr(f"cum_prev div {PACK_BUDGET}").cast("bigint")
        )
        .groupBy("lang", "seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
        )
    )


#: Shared with the streaming twin (streaming/joins.py
#: ``stream_contamination_scan``): stream and batch provably compute the
#: same drop-list, so they carry the same oracle.
CONTAMINATION_ORACLE = f"""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, source, sh FROM (
            SELECT doc_id, source, unnest({_GRAMS_SQL}) AS sh
            FROM toks
            WHERE len(t) >= 3
        )
    ),
    bench AS (SELECT DISTINCT sh FROM sh WHERE source = 'src0'),
    train AS (SELECT doc_id, sh FROM sh WHERE source <> 'src0'),
    totals AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY 1),
    shared AS (
        SELECT t.doc_id, count(*) AS n_shared
        FROM train t JOIN bench b ON b.sh = t.sh
        GROUP BY 1
    )
    SELECT s.doc_id, t.n_shingles, s.n_shared
    FROM shared s JOIN totals t ON t.doc_id = s.doc_id
    """


@register(
    "contamination_ngram_overlap",
    oracle=CONTAMINATION_ORACLE,
    tags=("corpus", "contamination"),
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: the docs of one source partition
    ('src0') stand in for a held-out benchmark suite; every OTHER
    document is scored by how many of its distinct word-3-grams also
    occur anywhere in the benchmark.  Emits only docs with ≥1 shared
    shingle (doc_id, n_shingles, n_shared) — the decontamination
    drop-list, thresholded by the consumer (e.g. drop when
    ``n_shared * 10 >= n_shingles``).

    Scale: the benchmark side of the join is the distinct shingle set of
    the EVAL SUITE — a few MB even for large benchmarks — so it is
    broadcast and the 100 TB training side joins without shuffling raw
    text (map-side semi join on the shingle); only matched (doc_id,
    shingle) pairs reach the count shuffle.  This is the decontamination
    architecture from the Gopher/GPT-3 appendices re-expressed as a
    broadcast equi-join.

    The per-doc distinct shingle sets come straight from
    ``_word_grams`` (array_distinct inside the row), so NO global
    distinct ever shuffles raw shingle strings — measured at sf0.1 the
    exploded-then-``.distinct()`` formulation cost 19 s against 3 s for
    this one.  The per-doc total rides THROUGH the explode as a constant
    column instead of being computed in a second train-side pass and
    re-attached with a shuffle join (the r04 formulation): one scan of
    the training side, one broadcast probe, one count shuffle.  Together
    with the engine-wide InferFiltersFromGenerate exclusion (session.py
    — the inferred `size(sh_arr)>0` filter inlined the whole shingle
    chain below the fanout exchange and re-ran it single-threaded),
    measured 61.3 s → 2.91 s at the 10x probe and 7.94 s → 1.27 s at
    sf0.1 (SCALE.md).

    A doc-level bloom/bitmap pre-gate before the explode (keep a doc
    only if some shingle hash hits the bench bucket set) is the right
    NEXT stage at production contamination ratios (<1% of a crawl hits
    an eval suite, so the explode volume drops ~100x); on this synthetic
    corpus it is measurably a pessimization — 4748 of 4750 train docs at
    sf0.1 share ≥1 shingle with the bench source (vocabulary is small),
    so the gate would add a full hash pass over every shingle and filter
    0.04% of rows.  The explode+broadcast-join form keeps the bench hash
    relation built once per TASK (vs per-ROW for an array_intersect
    against a broadcast bench array), which is why it wins at any
    contamination ratio."""
    d = fanout(table(spark, sf_dir, "documents"))
    docs = split_words(d, "doc_id", "source").select(
        "doc_id",
        "source",
        F.array_distinct(_word_grams(F.col("words"))).alias("sh_arr"),
    )
    bench = (
        docs.filter(F.col("source") == "src0")
        .select(F.explode("sh_arr").alias("sh"))
        .distinct()
    )
    train = docs.filter(F.col("source") != "src0")
    return (
        train.select(
            "doc_id",
            F.size("sh_arr").cast("bigint").alias("n_shingles"),
            F.explode("sh_arr").alias("sh"),
        )
        .join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(
            F.max("n_shingles").alias("n_shingles"),
            F.count(F.lit(1)).alias("n_shared"),
        )
        .select("doc_id", "n_shingles", "n_shared")
    )


@register(
    "quality_dup_ngram_fraction",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
        SELECT doc_id, unnest({_GRAMS_SQL}) AS gram
        FROM toks
        WHERE len(t) >= 3
    ),
    counted AS (
        SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup,
           (SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) * 5 <= SUM(c))
               AS ok_repetition
    FROM counted
    GROUP BY doc_id
    """,
    tags=("corpus", "quality"),
)
def quality_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occurrence-weighted repetition metric: per document, the number of
    3-gram OCCURRENCES belonging to a gram that appears ≥2 times in that
    document (Gopher's duplicate-n-gram-fraction family).  The keep rule
    is the integer cross-product ``n_dup * 5 <= n_grams`` (dup fraction
    ≤ 20%) so the frontier is bit-exact on both engines.  Docs shorter
    than one gram carry no signal and emit no row (same convention as
    the oracle's ``len(t) >= 3`` guard).

    Scale: unlike quality_gopher_filters' higher-order-function rule
    (O(distinct × words) per doc, zero shuffle), this explodes
    occurrences and aggregates on (doc_id, gram) — one narrow shuffle of
    hashed-size keys, the right trade once per-doc distinct counts grow;
    both formulations ship deliberately, pick by corpus shape."""
    d = fanout(table(spark, sf_dir, "documents"))
    grams = split_words(d, "doc_id").select(
        "doc_id", F.explode(_word_grams(F.col("words"))).alias("gram")
    )
    counted = grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    dup_occ = F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
    return counted.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        dup_occ.cast("bigint").alias("n_dup"),
        (dup_occ * 5 <= F.sum("c")).alias("ok_repetition"),
    )


@register(
    "dedup_incremental_new_batch",
    oracle="""
    WITH batch AS (
        SELECT doc_id, source, md5(text) AS h
        FROM documents WHERE doc_id % 5 = 0
    ),
    corpus AS (
        SELECT DISTINCT md5(text) AS h
        FROM documents WHERE doc_id % 5 <> 0
    ),
    ranked AS (
        SELECT b.doc_id, b.source,
               (c.h IS NOT NULL) AS in_corpus,
               row_number() OVER (PARTITION BY b.h ORDER BY b.doc_id) AS rn
        FROM batch b LEFT JOIN corpus c ON c.h = b.h
    )
    SELECT source,
           count(*) AS n_batch,
           CAST(SUM(CASE WHEN in_corpus THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_corpus,
           CAST(SUM(CASE WHEN NOT in_corpus AND rn > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_batch,
           CAST(SUM(CASE WHEN NOT in_corpus AND rn = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_accepted
    FROM ranked
    GROUP BY source
    """,
    tags=("corpus", "dedup", "incremental"),
)
def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup: a new batch (every 5th doc_id,
    simulating today's crawl) is admitted against the existing corpus's
    exact-text fingerprint set.  A batch doc is rejected if its md5
    already exists in the corpus (n_dup_corpus), or if an earlier batch
    doc carries the same text (n_dup_batch, lowest doc_id wins);
    accepted counts are audited per source.

    Scale: this is exact dedup restructured as a CONTRACT between runs —
    the corpus side is a pre-computed fingerprint table (32-char digests,
    not bodies) that each daily batch left-joins on hash, so daily cost
    is O(batch + matched fingerprints), never a corpus rescan.  The
    within-batch tie-break is a window over the batch only.  Both
    shuffles (join, window) ride the same hash key; at 100 TB the
    fingerprint table is itself hash-bucketed on h so the join
    co-locates without a corpus-side shuffle."""
    d = table(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", "source", F.md5(F.col("text").cast("binary")).alias("h")
    )
    corpus = (
        d.filter(F.col("doc_id") % 5 != 0)
        .select(F.md5(F.col("text").cast("binary")).alias("h"))
        .distinct()
    )
    ranked = (
        batch.join(
            corpus.withColumn("in_corpus", F.lit(True)), "h", "left"
        )
        .withColumn(
            "in_corpus", F.coalesce(F.col("in_corpus"), F.lit(False))
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("h").orderBy("doc_id")),
        )
    )
    flag = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")  # noqa: E731
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_batch"),
        flag(F.col("in_corpus")).alias("n_dup_corpus"),
        flag(~F.col("in_corpus") & (F.col("rn") > 1)).alias("n_dup_batch"),
        flag(~F.col("in_corpus") & (F.col("rn") == 1)).alias("n_accepted"),
    )


#: Overlap-chunking geometry: 64-token chunks, stride 48 (16-token
#: overlap) — the shape is a stand-in for an embedding model's input
#: budget; the math is budget-agnostic.
CHUNK_SIZE = 64
CHUNK_STRIDE = 48


@register(
    "corpus_chunk_overlap",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sized AS (
        SELECT doc_id, t, len(t) AS n,
               1 + (greatest(len(t) - {CHUNK_SIZE}, 0) + {CHUNK_STRIDE} - 1)
                   // {CHUNK_STRIDE} AS n_chunks
        FROM toks
    )
    SELECT doc_id,
           CAST(k AS BIGINT) AS chunk_id,
           CAST(k * {CHUNK_STRIDE} + 1 AS BIGINT) AS start_tok,
           CAST(least({CHUNK_SIZE}, n - k * {CHUNK_STRIDE}) AS BIGINT)
               AS chunk_tokens,
           md5(array_to_string(
               list_slice(t, k * {CHUNK_STRIDE} + 1,
                          k * {CHUNK_STRIDE} + {CHUNK_SIZE}), ' '))
               AS chunk_hash
    FROM sized, unnest(generate_series(0, n_chunks - 1)) u(k)
    """,
    tags=("corpus", "chunking"),
)
def corpus_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG / embedding-indexing segmentation: each document is cut into
    CHUNK_SIZE-token chunks every CHUNK_STRIDE tokens (trailing chunks
    may be short; consecutive chunks overlap by SIZE-STRIDE tokens so no
    retrieval boundary splits a fact).  Emits one row per chunk with its
    token offset, length, and an md5 content fingerprint — the payload an
    embedding indexer consumes.

    Scale: chunking is a narrow per-document transform (sequence →
    transform → explode), zero shuffle — at 100 TB it pipelines straight
    from the scan into the downstream embedding stage.  The explode
    multiplies rows ~n/STRIDE-fold, which is why the fingerprint is
    computed BEFORE any shuffle boundary: downstream exchanges move
    32-char digests, not repeated body slices."""
    d = fanout(table(spark, sf_dir, "documents"))
    t = words()
    sized = d.select("doc_id", t.alias("t"), F.size(t).alias("n")).withColumn(
        "n_chunks",
        1
        + F.expr(
            f"(greatest(n - {CHUNK_SIZE}, 0) + {CHUNK_STRIDE} - 1) "
            f"div {CHUNK_STRIDE}"
        ),
    )
    return sized.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("k"),
        "t",
        "n",
    ).select(
        "doc_id",
        F.col("k").cast("bigint").alias("chunk_id"),
        (F.col("k") * CHUNK_STRIDE + 1).cast("bigint").alias("start_tok"),
        F.least(
            F.lit(CHUNK_SIZE), F.col("n") - F.col("k") * CHUNK_STRIDE
        ).cast("bigint").alias("chunk_tokens"),
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("t"), F.col("k") * CHUNK_STRIDE + 1, CHUNK_SIZE)
            ).cast("binary")
        ).alias("chunk_hash"),
    )


#: Postings-list cap and document-frequency floor for the inverted index.
POSTINGS_CAP = 5
MIN_DF = 3


@register(
    "index_inverted_postings",
    oracle=f"""
    WITH occ AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    pairs AS (SELECT DISTINCT term, doc_id FROM occ),
    stats AS (
        SELECT term, count(*) AS n_occurrences
        FROM occ GROUP BY term
    ),
    posts AS (
        SELECT term, count(*) AS df,
               array_to_string(
                   list_slice(list_sort(list(doc_id)), 1, {POSTINGS_CAP}), ',')
                   AS postings
        FROM pairs GROUP BY term
        HAVING count(*) >= {MIN_DF}
    )
    SELECT p.term, p.df, s.n_occurrences, p.postings
    FROM posts p JOIN stats s ON s.term = p.term
    """,
    tags=("corpus", "indexing"),
)
def index_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: per term, document frequency, total
    occurrences, and the first POSTINGS_CAP doc_ids (ascending) as a
    bounded postings sample; terms below MIN_DF documents are dropped
    (they'd dominate the index with singletons).

    Scale: the classic unbounded-state trap here is ``collect_set(doc_id)``
    per term — a stopword's posting list is the whole corpus.  Instead the
    capped sample comes from a streaming window rank over the distinct
    (term, doc_id) pairs (state per group = POSTINGS_CAP rows, Spark plans
    a WindowGroupLimit push-down), and df/occurrence counts are plain
    two-level hash aggregates with map-side partials.  All three shuffles
    ride the same ``term`` key, so AQE coalesces them into one exchange
    reuse at scale."""
    d = fanout(table(spark, sf_dir, "documents"))
    occ = d.select("doc_id", F.explode(words()).alias("term"))
    pairs = occ.select("term", "doc_id").distinct()
    dfs = (
        pairs.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= MIN_DF)
    )
    stats = occ.groupBy("term").agg(F.count(F.lit(1)).alias("n_occurrences"))
    ranked = pairs.withColumn(
        "rn", F.row_number().over(Window.partitionBy("term").orderBy("doc_id"))
    )
    posts = (
        ranked.filter(F.col("rn") <= POSTINGS_CAP)
        .groupBy("term")
        .agg(
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias(
                "postings"
            )
        )
    )
    return (
        dfs.join(posts, "term")
        .join(stats, "term")
        .select("term", "df", "n_occurrences", "postings")
    )


def _two_bloom_bits():
    """k=2 bloom bit positions of the fingerprint column ``h``, exploded
    to one row each (column name ``bit``)."""
    return F.explode(
        F.array(
            F.col("h") % BLOOM_BITS,
            F.shiftright("h", 16) % BLOOM_BITS,
        )
    ).alias("bit")


def _bloom_mask() -> Column:
    return F.expr("shiftleft(cast(1 as bigint), cast(bit & 31 as int))")


def _bloom_words(fps: DataFrame) -> DataFrame:
    """Fold a fingerprint frame (column ``h``) into the packed bitmap:
    one row per touched word, bit_or of the 32-bit-wide masks."""
    return (
        fps.select(_two_bloom_bits())
        .select(F.shiftright("bit", 5).alias("word"), _bloom_mask().alias("m"))
        .groupBy("word")
        .agg(F.bit_or("m").alias("w"))
    )


#: Bloom prefilter geometry: 2^16 bits packed into 2048 32-bit-wide
#: BIGINT words, k = 2 bit positions per fingerprint (low 16 bits and
#: bits 16-31 of the 60-bit md5 hash).  At production scale M is the
#: knob: bits ~ 10x corpus cardinality keeps the false-positive rate
#: ~1%; the build below saturates deliberately at sf0.1 so the audit
#: columns exercise both outcomes.
BLOOM_BITS = 1 << 16
_BLOOM_H = "CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT)"


@register(
    "corpus_bloom_prefilter",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, {_BLOOM_H} AS h FROM documents
    ),
    corpus AS (SELECT DISTINCT h FROM docs WHERE doc_id % 5 <> 0),
    batch AS (SELECT doc_id, h FROM docs WHERE doc_id % 5 = 0),
    bits AS (
        SELECT u.b AS bit
        FROM corpus, unnest([h % {BLOOM_BITS}, (h >> 16) % {BLOOM_BITS}]) u(b)
    ),
    words AS (
        SELECT bit >> 5 AS word,
               bit_or(CAST(1 AS BIGINT) << CAST(bit & 31 AS INT)) AS w
        FROM bits GROUP BY 1
    ),
    probe AS (
        SELECT doc_id, u.b AS bit
        FROM batch, unnest([h % {BLOOM_BITS}, (h >> 16) % {BLOOM_BITS}]) u(b)
    ),
    hits AS (
        SELECT p.doc_id,
               CASE WHEN (coalesce(w.w, 0)
                          & (CAST(1 AS BIGINT) << CAST(p.bit & 31 AS INT)))
                         <> 0
                    THEN 1 ELSE 0 END AS hit
        FROM probe p LEFT JOIN words w ON w.word = p.bit >> 5
    ),
    maybe AS (SELECT doc_id, min(hit) = 1 AS bloom_maybe FROM hits GROUP BY 1)
    SELECT b.doc_id, m.bloom_maybe, (c.h IS NOT NULL) AS is_dup
    FROM batch b
    JOIN maybe m ON m.doc_id = b.doc_id
    LEFT JOIN corpus c ON c.h = b.h
    """,
    tags=("corpus", "bloom"),
)
def corpus_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataFrame-native Bloom filter build + probe: the corpus's exact-
    text fingerprints are folded into a 2^16-bit bitmap (2048 packed
    words built with a `bit_or` aggregate), and today's batch (every 5th
    doc_id, same contract as dedup_incremental_new_batch) probes it.
    Emits the audit frame (doc_id, bloom_maybe, is_dup): `bloom_maybe`
    is the filter's verdict, `is_dup` the exact membership — a row with
    (true, false) is a measured false positive, and (false, true) can
    never occur (no-false-negative property, pinned in tests).

    This is the ingest-pipeline prefilter pattern: the bitmap is ~8 KB
    regardless of corpus size, so at 100 TB it broadcasts to every
    executor for free and the expensive exact anti-join
    (dedup_incremental_new_batch) only runs for the `bloom_maybe`
    minority — the same role Spark's internal runtime bloom-filter join
    plays, materialized here as an explicit, persistable artifact.

    Scale: the build is one shuffle of (word, mask) pairs into <= 2048
    groups; the probe side joins a BROADCAST 2048-row word table and
    aggregates two hit bits per doc.  Nothing in the plan grows with
    corpus size except the build scan."""
    d = table(spark, sf_dir, "documents")
    docs = d.select("doc_id", hash64(F.col("text")).alias("h"))
    corpus = docs.filter(F.col("doc_id") % 5 != 0).select("h").distinct()
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    mask = _bloom_mask()
    words = _bloom_words(corpus)
    hits = (
        batch.select("doc_id", _two_bloom_bits())
        .withColumn("word", F.shiftright("bit", 5))
        .join(F.broadcast(words), "word", "left")
        .select(
            "doc_id",
            F.when(
                (F.coalesce(F.col("w"), F.lit(0)).bitwiseAND(mask)) != 0, 1
            )
            .otherwise(0)
            .alias("hit"),
        )
    )
    maybe = hits.groupBy("doc_id").agg(
        (F.min("hit") == 1).alias("bloom_maybe")
    )
    return (
        batch.join(maybe, "doc_id")
        .join(
            corpus.withColumn("in_c", F.lit(True)), "h", "left"
        )
        .select(
            "doc_id",
            "bloom_maybe",
            F.coalesce(F.col("in_c"), F.lit(False)).alias("is_dup"),
        )
    )


@register(
    "corpus_bloom_incremental_merge",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, doc_id % 3 AS day, {_BLOOM_H} AS h FROM documents
    ),
    bits AS (
        SELECT day, u.b >> 5 AS word,
               CAST(1 AS BIGINT) << CAST(u.b & 31 AS INT) AS m
        FROM docs, unnest([h % {BLOOM_BITS}, (h >> 16) % {BLOOM_BITS}]) u(b)
    ),
    partials AS (
        SELECT day, word, bit_or(m) AS w FROM bits GROUP BY 1, 2
    ),
    merged AS (
        SELECT word, bit_or(w) AS w_merged FROM partials GROUP BY 1
    ),
    full_build AS (
        SELECT word, bit_or(m) AS w_full FROM bits GROUP BY 1
    )
    SELECT m.word, m.w_merged, f.w_full,
           m.w_merged = f.w_full AS consistent
    FROM merged m JOIN full_build f ON f.word = m.word
    """,
    tags=("corpus", "bloom", "incremental"),
)
def corpus_bloom_incremental_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mergeable-bloom maintenance contract: the corpus is ingested in
    daily partitions (day = doc_id % 3 here), each day folds its OWN
    partial bitmap, and the serving bitmap is the bit_or MERGE of the
    partials — never a corpus rescan.  The operator emits, per touched
    word, the merged word, the full-rebuild word, and their equality:
    bit_or is associative/commutative/idempotent, so ``consistent`` must
    be true on every row (pinned), which is the property that makes the
    bloom filter maintainable incrementally at all — the same contract
    the HLL rollup (sketch_hll_daily_merge) pins for distinct counts.

    Scale: each day's delta costs one scan of THAT DAY plus a <=2048-
    group bit_or; the merge costs <=2048 rows per day regardless of
    corpus size.  At 100 TB the partial bitmaps are a tiny bucketed
    table keyed on word, and yesterday's serving bitmap never needs the
    raw corpus again."""
    d = table(spark, sf_dir, "documents")
    docs = d.select(
        (F.col("doc_id") % 3).alias("day"), hash64(F.col("text")).alias("h")
    )
    bits = docs.select("day", _two_bloom_bits()).select(
        "day",
        F.shiftright("bit", 5).alias("word"),
        _bloom_mask().alias("m"),
    )
    partials = bits.groupBy("day", "word").agg(F.bit_or("m").alias("w"))
    merged = partials.groupBy("word").agg(F.bit_or("w").alias("w_merged"))
    full_build = bits.groupBy("word").agg(F.bit_or("m").alias("w_full"))
    return merged.join(full_build, "word").select(
        "word",
        "w_merged",
        "w_full",
        (F.col("w_merged") == F.col("w_full")).alias("consistent"),
    )


@register(
    "corpus_data_card",
    oracle="""
    WITH base AS (
        SELECT doc_id, text, lang, source, n_chars,
               len(string_split(text, ' ')) AS n_words,
               md5(text) AS h
        FROM documents
    ),
    dup AS (
        SELECT count(*) AS n_docs,
               count(DISTINCT h) AS n_unique_texts,
               count(DISTINCT lang) AS n_langs,
               count(DISTINCT source) AS n_sources,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(n_words) AS BIGINT) AS total_words,
               CAST(min(n_words) AS BIGINT) AS min_words,
               CAST(max(n_words) AS BIGINT) AS max_words
        FROM base
    )
    SELECT n_docs, n_unique_texts,
           CAST(n_docs - n_unique_texts AS BIGINT) AS n_exact_dups,
           n_langs, n_sources, total_chars, total_words,
           min_words, max_words,
           CAST(total_words AS DOUBLE) / n_docs AS mean_words,
           CAST(n_docs - n_unique_texts AS DOUBLE) / n_docs AS dup_rate
    FROM dup
    """,
    tags=("corpus", "reporting"),
)
def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus data card — the one-row summary a dataset release
    ships (Gebru et al.'s datasheets, the model-card convention applied
    to data): document/unique-text/language/source counts, exact-dup
    rate (md5 identity, the same fingerprint dedup_exact_documents
    keys on), size totals, and length extremes — every number
    downstream docs quote, produced by the engine that produced the
    corpus so the card can never drift from the data.

    Scale: ONE scan with conditional/distinct aggregates (the
    quality_profile_orders single-pass discipline); the distinct-text
    count rides the same md5 fingerprint the dedup pass computes, so a
    pipeline that already deduped gets the card for one narrow
    aggregate over digests."""
    d = table(spark, sf_dir, "documents")
    n_words = F.size(words())
    base = d.select(
        "lang",
        "source",
        "n_chars",
        n_words.alias("n_words"),
        F.md5(F.col("text").cast("binary")).alias("h"),
    )
    agg = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("h").alias("n_unique_texts"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.min("n_words").cast("bigint").alias("min_words"),
        F.max("n_words").cast("bigint").alias("max_words"),
    )
    return agg.select(
        "n_docs",
        "n_unique_texts",
        (F.col("n_docs") - F.col("n_unique_texts"))
        .cast("bigint")
        .alias("n_exact_dups"),
        "n_langs",
        "n_sources",
        "total_chars",
        "total_words",
        "min_words",
        "max_words",
        (F.col("total_words").cast("double") / F.col("n_docs")).alias(
            "mean_words"
        ),
        (
            (F.col("n_docs") - F.col("n_unique_texts")).cast("double")
            / F.col("n_docs")
        ).alias("dup_rate"),
    )


# ---------------------------------------------------------------------------
# Count-Min sketch as relational algebra
# ---------------------------------------------------------------------------

#: Count-Min geometry: D independent hash rows x W buckets.  Error bound:
#: overcount <= e*N/W with probability 1 - (1/e)^D; W is the memory knob,
#: D the confidence knob.  D*W = 2048 cells regardless of stream size.
CM_D = 4
CM_W = 512

#: The same synthetic skew injection as sketch_heavy_hitters_mg
#: (operators/python_udfs.py): three hot keys over a ~10k-item singleton
#: long tail, so estimates face genuine collision mass.
_CM_ITEM_SQL = (
    "CASE WHEN user_id < 36 THEN 'hot_' || CAST(user_id % 3 AS VARCHAR) "
    "ELSE 'cold_' || CAST(event_id AS VARCHAR) END"
)

#: Full CM audit oracle — module-level so the streaming incremental
#: variant (streaming/joins.py) registers the SAME oracle: a correctly
#: merged stream-built sketch must equal the batch-built one exactly
#: (counting is linear).
CM_AUDIT_ORACLE = f"""
    WITH items AS (
        SELECT {_CM_ITEM_SQL} AS item FROM events
    ),
    cells AS (
        SELECT u.r AS r,
               CAST(('0x' || substr(md5(item || '#' || u.r), 1, 15))
                    AS BIGINT) % {CM_W} AS b,
               count(*) AS c
        FROM items, unnest(generate_series(0, {CM_D - 1})) u(r)
        GROUP BY 1, 2
    ),
    qkeys AS (
        SELECT 'hot_' || CAST(u.i AS VARCHAR) AS item
        FROM unnest(generate_series(0, 2)) u(i)
        UNION ALL
        SELECT 'cold_' || CAST(u.i AS VARCHAR)
        FROM unnest(generate_series(0, 19)) u(i)
    ),
    truth AS (
        SELECT q.item, count(i.item) AS true_count
        FROM qkeys q LEFT JOIN items i ON i.item = q.item
        GROUP BY 1
    ),
    probes AS (
        SELECT q.item, u.r,
               CAST(('0x' || substr(md5(q.item || '#' || u.r), 1, 15))
                    AS BIGINT) % {CM_W} AS b
        FROM qkeys q, unnest(generate_series(0, {CM_D - 1})) u(r)
    ),
    est AS (
        SELECT p.item, min(coalesce(cells.c, 0)) AS est_count
        FROM probes p
        LEFT JOIN cells ON cells.r = p.r AND cells.b = p.b
        GROUP BY 1
    )
    SELECT t.item,
           CAST(t.true_count AS BIGINT) AS true_count,
           CAST(e.est_count AS BIGINT) AS est_count,
           CAST(e.est_count - t.true_count AS BIGINT) AS overcount
    FROM truth t JOIN est e ON e.item = t.item
    """


@register(
    "sketch_countmin_freq",
    oracle=CM_AUDIT_ORACLE,
    tags=("sketch", "frequency"),
)
def sketch_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) expressed as PURE
    relational algebra — no custom state, no Python: the sketch IS a
    (row, bucket) -> count table built by one explode(D hashes) +
    groupBy, because counting is linear; point-query estimates are a
    broadcast join of the query keys to their D cells and a min.  By
    construction est >= true (pinned): collisions only ADD.  Beside
    Misra-Gries (which keeps candidate IDENTITY, Arrow mapInPandas) this
    is the other classic frequency sketch, and the relational form is
    the one that scales: the cell table is D*W rows whatever the stream
    size, and — like the engine's bloom bitmaps — MERGEABLE across
    shards/days by cell-wise SUM, so incremental maintenance is a
    union+groupBy, never a rebuild.  Absent keys are queried too: their
    estimate is pure collision mass (the honest CM answer), never NULL.

    Query set: the 3 injected hot keys + 20 fixed cold ids (present or
    absent) — the same inject-then-exercise convention as
    sketch_heavy_hitters_mg, sharing its item mapping verbatim."""
    ev = table(spark, sf_dir, "events")
    items = ev.select(cm_item_col().alias("item"))
    return cm_report(spark, cm_cells(items), items)


def cm_item_col() -> Column:
    """Spark mirror of ``_CM_ITEM_SQL`` (shared with the streaming
    incremental variant)."""
    return F.when(
        F.col("user_id") < 36,
        F.concat(F.lit("hot_"), (F.col("user_id") % 3).cast("string")),
    ).otherwise(F.concat(F.lit("cold_"), F.col("event_id").cast("string")))


def _cm_bucket(item: Column, r: Column) -> Column:
    return hash64(F.concat(item, F.lit("#"), r.cast("string"))) % CM_W


def cm_cells(items: DataFrame) -> DataFrame:
    """Fold an item frame (column ``item``) into the (r, b) -> c cell
    table — the sketch itself.  Linear, hence mergeable by cell-wise
    sum across batches/shards/days."""
    rows = F.explode(F.sequence(F.lit(0), F.lit(CM_D - 1))).alias("r")
    return (
        items.select("item", rows)
        .select("r", _cm_bucket(F.col("item"), F.col("r")).alias("b"))
        .groupBy("r", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cm_report(
    spark: SparkSession, cells: DataFrame, items: DataFrame
) -> DataFrame:
    """Estimate the fixed query-key set against a cell table and audit
    each estimate against the exact count from ``items``."""
    rows = F.explode(F.sequence(F.lit(0), F.lit(CM_D - 1))).alias("r")
    qkeys = spark.range(0, 3).select(
        F.concat(F.lit("hot_"), F.col("id").cast("string")).alias("item")
    ).unionAll(
        spark.range(0, 20).select(
            F.concat(F.lit("cold_"), F.col("id").cast("string")).alias("item")
        )
    )
    truth = qkeys.join(
        items.groupBy("item").agg(F.count(F.lit(1)).alias("tc")),
        "item",
        "left",
    ).select(
        "item",
        F.coalesce("tc", F.lit(0)).cast("bigint").alias("true_count"),
    )
    probes = qkeys.select("item", rows).select(
        "item", "r", _cm_bucket(F.col("item"), F.col("r")).alias("b")
    )
    est = (
        probes.join(cells, ["r", "b"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("est_count"))
    )
    return truth.join(est, "item").select(
        "item",
        "true_count",
        F.col("est_count").cast("bigint").alias("est_count"),
        (F.col("est_count") - F.col("true_count"))
        .cast("bigint")
        .alias("overcount"),
    )


# ---------------------------------------------------------------------------
# Good-Turing missing mass / species richness
# ---------------------------------------------------------------------------

@register(
    "corpus_good_turing_mass",
    oracle="""
    WITH cnt AS (
        SELECT w, count(*) AS c FROM (
            SELECT unnest(string_split(text, ' ')) AS w FROM documents
        ) GROUP BY w
    ),
    coc AS (
        SELECT c, count(*) AS m FROM cnt GROUP BY c
    ),
    s AS (
        SELECT SUM(m) AS n_types,
               SUM(c * m) AS n_tokens,
               COALESCE(SUM(CASE WHEN c = 1 THEN m END), 0) AS n1,
               COALESCE(SUM(CASE WHEN c = 2 THEN m END), 0) AS n2
        FROM coc
    )
    SELECT CAST(n_types AS BIGINT) AS n_types,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n1 AS BIGINT) AS n_singletons,
           CAST(n2 AS BIGINT) AS n_doubletons,
           CAST(n1 AS DOUBLE) / n_tokens AS missing_mass,
           CASE WHEN n2 > 0
                THEN n_types + (CAST(n1 AS DOUBLE) * n1)
                               / (2.0 * n2)
                ELSE CAST(n_types AS DOUBLE) END AS chao1_richness
    FROM s
    """,
    tags=("corpus", "statistics"),
)
def corpus_good_turing_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing missing mass and Chao1 species richness — the two
    numbers that answer "how much vocabulary haven't we seen yet?" for
    a growing corpus (the quantitative cousin of the Heaps curve):
    P(next token is a NEW type) ≈ N₁/N (the Good-Turing estimator —
    singleton mass predicts unseen mass) and the Chao1 lower bound on
    total type richness n_types + N₁²/(2N₂).  Both derive ENTIRELY
    from the count-of-counts table, all-integer until two final IEEE
    divisions — bit-stable cross-engine.  A crawl whose missing mass
    stops falling has stopped discovering; a dedup pass that leaves
    missing mass unchanged removed only seen-before material.

    Scale: one groupBy(word) (map-side combined, Heaps-sublinear) then
    one groupBy(count) to the count-of-counts histogram (≤ √(2N) rows
    — the quality_key_skew_gini bound), then a single 4-sum scalar
    aggregate."""
    d = table(spark, sf_dir, "documents")
    cnt = _word_counts(d)
    coc = cnt.groupBy("c").agg(F.count(F.lit(1)).alias("m"))
    s = coc.agg(
        F.sum("m").alias("n_types"),
        F.sum(F.col("c") * F.col("m")).alias("n_tokens"),
        F.coalesce(
            F.sum(F.when(F.col("c") == 1, F.col("m"))), F.lit(0)
        ).alias("n1"),
        F.coalesce(
            F.sum(F.when(F.col("c") == 2, F.col("m"))), F.lit(0)
        ).alias("n2"),
    )
    return s.select(
        F.col("n_types").cast("bigint").alias("n_types"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n1").cast("bigint").alias("n_singletons"),
        F.col("n2").cast("bigint").alias("n_doubletons"),
        (F.col("n1").cast("double") / F.col("n_tokens")).alias(
            "missing_mass"
        ),
        F.when(
            F.col("n2") > 0,
            F.col("n_types")
            + (F.col("n1").cast("double") * F.col("n1"))
            / (F.lit(2.0) * F.col("n2")),
        )
        .otherwise(F.col("n_types").cast("double"))
        .alias("chao1_richness"),
    )


# ---------------------------------------------------------------------------
# Bottom-k (KMV) distinct-count sketch — the oracle-checkable sketch
# ---------------------------------------------------------------------------

#: Sketch size for the bottom-k distinct estimator.  64 keeps the
#: sketch FULL at the driver-check scales (150 distinct users at
#: sf0.01) so the estimator path is what gets hash-checked, while the
#: not-full exact path exercises at sf0.001 (15 users).
BOTTOMK_K = 64

#: 16^15 = 2^60 — the hash-domain size of dedup.hash64, an exact
#: power-of-two double literal.
_H64_DOMAIN = 1152921504606846976.0


@register(
    "sketch_bottomk_distinct",
    oracle=f"""
    WITH hashes AS (
        SELECT DISTINCT CAST(('0x' || substr(
            md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        FROM events
    ),
    ranked AS (
        SELECT h, row_number() OVER (ORDER BY h) AS rn,
               count(*) OVER () AS n
        FROM hashes
    ),
    kth AS (
        SELECT any_value(n) AS n_exact,
               max(CASE WHEN rn = {BOTTOMK_K} THEN h END) AS h_k
        FROM ranked WHERE rn <= {BOTTOMK_K}
    )
    SELECT CAST(n_exact AS BIGINT) AS n_exact,
           CAST({BOTTOMK_K} AS INT) AS k,
           h_k IS NOT NULL AS sketch_full,
           h_k,
           CASE WHEN h_k IS NULL THEN CAST(n_exact AS DOUBLE)
                ELSE ({BOTTOMK_K} - 1.0) * {_H64_DOMAIN!r}
                     / CAST(h_k AS DOUBLE)
           END AS est_distinct,
           abs(CASE WHEN h_k IS NULL THEN CAST(n_exact AS DOUBLE)
                ELSE ({BOTTOMK_K} - 1.0) * {_H64_DOMAIN!r}
                     / CAST(h_k AS DOUBLE)
           END - n_exact) / n_exact AS rel_err
    FROM kth
    """,
    tags=("corpus", "sketch", "sampling"),
)
def sketch_bottomk_distinct(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bottom-k (KMV) distinct-count sketch of the user population —
    the registry's HASH-CHECKABLE sketch: unlike HLL (engine-specific
    register layouts, rows-only forever), the k minimum values of a
    deterministic cross-engine hash are a well-defined SET, so the
    estimate (k-1)/U_(k) with U_(k) = h_k / 2^60 (Bar-Yossef et al.'s
    KMV estimator) is bit-identical in both engines and the driver
    hash-checks it like any exact query.  Bottom-k sketches are also
    trivially mergeable (union then re-cut — pinned by test) and
    support set operations HLL cannot (intersection via k-min
    overlap), which is why warehouse engines ship them alongside HLL.
    When fewer than k distinct keys exist the sketch IS the exact set
    and the estimate degrades to the exact count (the sf0.001 path).

    Exactness: hashes are dedup.hash64 (top-15-hex md5 — the engine's
    only cross-engine hash); the k-th order statistic is an exact
    BIGINT via TakeOrderedAndProject; the estimator is one mirrored
    IEEE chain with the 2^60 domain as an exact power-of-two literal.

    Scale: distinct-hash collapse (the flagship's partial-distinct
    cost class) then a k-row TakeOrderedAndProject — no global sort;
    per-partition bottom-k merges associatively, which IS the
    production incremental form (same table shape per day/shard)."""
    hashes = (
        table(spark, sf_dir, "events")
        .select(hash64(F.col("user_id").cast("string")).alias("h"))
        .distinct()
    )
    n_exact = hashes.count()  # one scalar — sizes the error readout
    bottom = hashes.orderBy("h").limit(BOTTOMK_K)
    kth = bottom.agg(
        F.count(F.lit(1)).alias("in_sketch"),
        F.max("h").alias("h_k_candidate"),
    )
    full = F.col("in_sketch") == BOTTOMK_K
    h_k = F.when(full, F.col("h_k_candidate"))
    est = F.when(
        full,
        (F.lit(BOTTOMK_K) - F.lit(1.0))
        * F.lit(_H64_DOMAIN)
        / F.col("h_k_candidate").cast("double"),
    ).otherwise(F.lit(float(n_exact)))
    return kth.select(
        F.lit(n_exact).cast("bigint").alias("n_exact"),
        F.lit(BOTTOMK_K).cast("int").alias("k"),
        full.alias("sketch_full"),
        h_k.alias("h_k"),
        est.alias("est_distinct"),
        (F.abs(est - n_exact) / n_exact).alias("rel_err"),
    )


@register(
    "sketch_bottomk_jaccard",
    oracle=f"""
    WITH flags AS (
        SELECT CAST(('0x' || substr(
                   md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS in_a,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS in_b
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY 1
    ),
    ranked AS (
        SELECT h, in_a, in_b,
               row_number() OVER (ORDER BY h) AS rn
        FROM flags
    ),
    sk AS (
        SELECT count(*) AS k_used,
               CAST(SUM(in_a * in_b) AS BIGINT) AS n_both_sketch
        FROM ranked WHERE rn <= {BOTTOMK_K}
    ),
    exact AS (
        SELECT CAST(SUM(in_a * in_b) AS BIGINT) AS n_inter,
               count(*) AS n_union
        FROM flags
    )
    SELECT CAST({BOTTOMK_K} AS INT) AS k,
           CAST(sk.k_used AS BIGINT) AS k_used,
           sk.n_both_sketch,
           CAST(sk.n_both_sketch AS DOUBLE) / sk.k_used AS jaccard_est,
           CAST(exact.n_inter AS DOUBLE) / exact.n_union
               AS jaccard_exact,
           abs(CAST(sk.n_both_sketch AS DOUBLE) / sk.k_used
               - CAST(exact.n_inter AS DOUBLE) / exact.n_union)
               AS abs_err
    FROM sk, exact
    """,
    tags=("corpus", "sketch", "evaluation"),
)
def sketch_bottomk_jaccard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audience-overlap Jaccard from the bottom-k sketch — the set
    OPERATION HLL cannot do and the reason KMV sketches earn their
    place beside it: the k minimum hashes of the UNION are a uniform
    sample of the union, so the fraction of them belonging to both
    audiences estimates J(A, B) (Bar-Yossef et al.) — here click vs
    purchase user sets, with the exact Jaccard (the registered
    setops op's quantity) computed alongside so the driver
    hash-checks estimator AND ground truth in one row.  At production
    scale only the two k-row sketches move; the exact column is the
    small-data audit.

    Exactness: the union's bottom-k is a deterministic set (cross-
    engine md5 order statistics); membership flags and overlap counts
    are integers; both ratios are single mirrored divisions.

    Scale: one groupBy(user) with map-side combine to per-user flags
    (the setops op's shuffle), a k-row TakeOrderedAndProject, two
    scalar aggregates — and the sketch form is MERGEABLE: per-shard
    (h, in_a, in_b) bottom-k tables union-then-recut exactly like the
    distinct sketch."""
    flags = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy(hash64(F.col("user_id").cast("string")).alias("h"))
        .agg(
            F.max(
                (F.col("event_type") == "click").cast("int")
            ).alias("in_a"),
            F.max(
                (F.col("event_type") == "purchase").cast("int")
            ).alias("in_b"),
        )
    )
    exact = flags.agg(
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_inter"),
        F.count(F.lit(1)).alias("n_union"),
    ).collect()[0]
    sk = (
        flags.orderBy("h")
        .limit(BOTTOMK_K)
        .agg(
            F.count(F.lit(1)).alias("k_used"),
            F.sum(F.col("in_a") * F.col("in_b")).alias(
                "n_both_sketch"
            ),
        )
    )
    j_exact = float(exact["n_inter"]) / float(exact["n_union"])
    j_est = F.col("n_both_sketch").cast("double") / F.col("k_used")
    return sk.select(
        F.lit(BOTTOMK_K).cast("int").alias("k"),
        F.col("k_used").cast("bigint").alias("k_used"),
        F.col("n_both_sketch").cast("bigint").alias("n_both_sketch"),
        j_est.alias("jaccard_est"),
        F.lit(j_exact).alias("jaccard_exact"),
        F.abs(j_est - F.lit(j_exact)).alias("abs_err"),
    )


#: Number of corpus-order buckets for the novelty curve below.
NOVELTY_BUCKETS = 20


@register(
    "corpus_ngram_novelty_curve",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, g AS sh FROM (
            SELECT doc_id, unnest({_GRAMS_SQL}) AS g
            FROM t WHERE len(t) >= 3
        )
    ),
    first AS (
        SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh
    ),
    per_doc AS (
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN f.first_doc = s.doc_id
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        FROM sh s JOIN first f ON f.sh = s.sh
        GROUP BY s.doc_id
    ),
    mx AS (SELECT max(doc_id) AS max_id FROM documents),
    bucketed AS (
        SELECT d.doc_id * {NOVELTY_BUCKETS} // (mx.max_id + 1) AS bucket,
               coalesce(p.n_shingles, 0) AS n_shingles,
               coalesce(p.n_novel, 0) AS n_novel
        FROM documents d
        LEFT JOIN per_doc p ON p.doc_id = d.doc_id, mx
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_shingles) AS BIGINT) AS n_shingles,
           CAST(SUM(n_novel) AS BIGINT) AS n_novel,
           CASE WHEN SUM(n_shingles) > 0
                THEN CAST(SUM(n_novel) AS DOUBLE) / SUM(n_shingles)
                ELSE NULL END AS novelty_rate
    FROM bucketed GROUP BY bucket
    """,
    tags=("corpus", "dedup", "pipeline"),
)
def corpus_ngram_novelty_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """N-gram novelty curve in corpus order: for each of 20 equal
    doc_id-range slices, what fraction of the slice's distinct
    word-3-grams had NEVER appeared in any earlier document?  This is
    the data-scaling diagnostic the dedup family cannot give: dedup_*
    find near-copies, but a corpus can be copy-free and still
    exhausted — a novelty curve that decays toward zero says additional
    crawl batches stop contributing new token patterns (the
    data-constrained-scaling regime sample_token_budget_waterfill then
    plans repeats for), while a flat curve says the source still has
    headroom.  Read with tokenizer_fertility for the full
    "is more of this source worth it" answer.

    Exactness: novelty is pure integer set logic — a shingle's first
    occurrence is min(doc_id) over an equi-join, bucket ids are integer
    floor arithmetic on (doc_id, max_id) — so both engines agree
    bit-for-bit; the one division is guarded and final.

    Scale: the inverted-index shape shared with the n-gram Jaccard
    dedup — shingle fan-out, then first-occurrence via min(doc_id)
    OVER (PARTITION BY shingle): ONE shuffle on the shingle key serves
    the whole op (the jaccard op's df-window trick — a groupBy +
    join-back would recompute the fan-out for both join sides, 2× the
    dominant cost), then a 20-row aggregate.  No window over corpus
    ROWS keyed globally: the shingle window partitions by shingle, and
    the bucket id comes from a broadcast max-id crossJoin (the house
    incremental_daily_rollup pattern), NOT an ntile over a single
    global sort."""
    d = fanout(table(spark, sf_dir, "documents"))
    sh = split_words(d, "doc_id").select(
        "doc_id",
        F.explode(F.array_distinct(_word_grams(F.col("words")))).alias("sh"),
    )
    marked = sh.withColumn(
        "first_doc", F.min("doc_id").over(Window.partitionBy("sh"))
    )
    per_doc = marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum(
            F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_novel"),
    )
    mx = d.agg(F.max("doc_id").alias("max_id"))
    bucketed = (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .crossJoin(F.broadcast(mx))
        .select(
            # integer floor division — exact at any corpus size (the
            # double-division shortcut is only exact below 2^53)
            F.expr(f"doc_id * {NOVELTY_BUCKETS} div (max_id + 1)")
            .cast("bigint")
            .alias("bucket"),
            F.coalesce(F.col("n_shingles"), F.lit(0)).alias("n_shingles"),
            F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
        )
    )
    agg = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_shingles").cast("bigint").alias("n_shingles"),
        F.sum("n_novel").cast("bigint").alias("n_novel"),
    )
    return agg.select(
        "bucket",
        "n_docs",
        "n_shingles",
        "n_novel",
        F.when(
            F.col("n_shingles") > 0,
            F.col("n_novel").cast("double") / F.col("n_shingles"),
        ).alias("novelty_rate"),
    )


# ---------------------------------------------------------------------------
# AMS (Tug-of-War) F2 sketch as relational algebra
# ---------------------------------------------------------------------------

#: AMS geometry: AMS_GROUPS groups x AMS_PER_GROUP sign-estimators,
#: median-of-means combined.  Variance of one estimator <= 2*F2^2; the
#: mean of 4 quarters it; the median of 4 group means gives the
#: standard (eps, delta) control.  State is AMS_R integers whatever the
#: stream size — the linear-sketch property shared with Count-Min.
AMS_GROUPS = 4
AMS_PER_GROUP = 4
AMS_R = AMS_GROUPS * AMS_PER_GROUP


def _ams_sign_sql(item: str, r: str) -> str:
    """±1 four-wise-ish sign from the house md5 hash (one hex digit's
    parity; salt '#s' decorrelates from the Count-Min bucket hash)."""
    return (
        f"(1 - 2 * (CAST(('0x' || substr(md5({item} || '#s' || {r}), 1, 1))"
        f" AS BIGINT) % 2))"
    )


#: Full AMS audit oracle — module-level so the streaming incremental
#: variant (streaming/joins.py) registers the SAME oracle: the Z_r
#: vector is linear in the stream, so a correctly merged stream-built
#: sketch must equal the batch-built one integer for integer.
AMS_F2_ORACLE = f"""
    WITH items AS (
        SELECT {_CM_ITEM_SQL} AS item FROM events
    ),
    z AS (
        SELECT u.r AS r,
               CAST(SUM({_ams_sign_sql("item", "u.r")}) AS BIGINT) AS zr
        FROM items, unnest(generate_series(0, {AMS_R - 1})) u(r)
        GROUP BY 1
    ),
    groups AS (
        SELECT r // {AMS_PER_GROUP} AS g,
               CAST(SUM(zr * zr) AS BIGINT) AS gsum
        FROM z GROUP BY 1
    ),
    ranked AS (
        SELECT gsum, row_number() OVER (ORDER BY gsum, g) AS rk
        FROM groups
    ),
    med AS (
        SELECT CAST(SUM(gsum) AS BIGINT) AS med2
        FROM ranked WHERE rk IN (2, 3)
    ),
    truth AS (
        SELECT CAST(SUM(c * c) AS BIGINT) AS f2_true,
               CAST(SUM(c) AS BIGINT) AS n_items
        FROM (SELECT count(*) AS c FROM items GROUP BY item)
    )
    SELECT t.n_items, t.f2_true,
           CAST(m.med2 AS DOUBLE) / {2 * AMS_PER_GROUP} AS f2_est,
           CAST(m.med2 AS DOUBLE) / {2 * AMS_PER_GROUP} / t.f2_true - 1.0E0
               AS rel_err
    FROM truth t, med m
    """


def ams_sign_col() -> Column:
    """Spark mirror of ``_ams_sign_sql`` over columns item, r."""
    return F.lit(1) - F.lit(2) * (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("item"), F.lit("#s"), F.col("r").cast("string")
                    ).cast("binary")
                ),
                1,
                1,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )


def ams_z(items: DataFrame) -> DataFrame:
    """Fold an item frame (column ``item``) into the 16-row Z vector —
    the sketch itself.  Linear, hence mergeable by element-wise sum."""
    rows = F.explode(F.sequence(F.lit(0), F.lit(AMS_R - 1))).alias("r")
    return (
        items.select("item", rows)
        .select("r", ams_sign_col().alias("s"))
        .groupBy("r")
        .agg(F.sum("s").cast("bigint").alias("zr"))
    )


def ams_report(
    spark: SparkSession, z: DataFrame, items: DataFrame
) -> DataFrame:
    """Median-of-means F2 estimate from a Z vector, audited against the
    exact F2 from ``items`` (shared by batch and streaming variants)."""
    groups = (
        z.select(
            (F.col("r") / AMS_PER_GROUP).cast("bigint").alias("g"),
            (F.col("zr") * F.col("zr")).alias("z2"),
        )
        .groupBy("g")
        .agg(F.sum("z2").cast("bigint").alias("gsum"))
    )

    ranked = groups.select(
        "gsum",
        F.row_number().over(Window.orderBy("gsum", "g")).alias("rk"),
    )
    med = ranked.filter(F.col("rk").isin(2, 3)).agg(
        F.sum("gsum").cast("bigint").alias("med2")
    )
    truth = (
        items.groupBy("item")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("f2_true"),
            F.sum("c").cast("bigint").alias("n_items"),
        )
    )
    den = float(2 * AMS_PER_GROUP)
    return truth.crossJoin(F.broadcast(med)).select(
        "n_items",
        "f2_true",
        (F.col("med2").cast("double") / F.lit(den)).alias("f2_est"),
        (
            F.col("med2").cast("double") / F.lit(den) / F.col("f2_true")
            - F.lit(1.0)
        ).alias("rel_err"),
    )


@register(
    "sketch_ams_f2_estimate",
    oracle=AMS_F2_ORACLE,
    tags=("sketch", "frequency"),
)
def sketch_ams_f2_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS Tug-of-War second-moment sketch (Alon, Matias & Szegedy,
    STOC 1996) as PURE relational algebra — the F2 member of the
    sketch family (Count-Min answers point frequencies; bottom-k
    answers distinct counts; AMS answers Σf² — the self-join size /
    skew statistic that drives salting and skew-join planning
    decisions): 16 ±1-sign estimators Z_r = Σ_x s_r(x), combined
    median-of-means (4 groups × 4), audited against the exact
    F2 = Σ_item count².

    Exactness: signs are md5-parity integers (the house cross-engine
    hash), every Z_r and Z_r² is BIGINT, group sums stay scaled
    integers, and the 4-group median is the exact (2nd+3rd)-order-stat
    sum — ONE division by the literal 2·4 at the end, so both engines
    agree bit-for-bit on estimate AND error.

    Scale: the sketch IS 16 integers — one explode(16) + map-side
    combined SUM over the stream, mergeable across shards/days by
    plain addition (linear sketch, the Count-Min argument verbatim);
    the exact-F2 audit side is one groupBy(item), which is the thing
    the sketch exists to avoid at 100 TB — it rides along here as the
    oracle-checkable truth column."""
    ev = table(spark, sf_dir, "events")
    items = ev.select(cm_item_col().alias("item"))
    return ams_report(spark, ams_z(items), items)


DP_ORACLE = """
WITH toks AS (
    SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
    SELECT term, source, count(*) AS f FROM toks GROUP BY 1, 2
),
parts AS (
    SELECT source, count(*) AS toks_i FROM toks GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(toks_i) AS BIGINT) AS t_total,
           CAST(MIN(toks_i) AS BIGINT) AS toks_min
    FROM parts
),
j AS (
    SELECT tf.term, tf.f, parts.toks_i, tot.t_total, tot.toks_min,
           SUM(tf.f) OVER (PARTITION BY tf.term) AS ft
    FROM tf JOIN parts USING (source) CROSS JOIN tot
),
agg AS (
    SELECT term,
           MAX(ft) AS ft,
           count(*) AS n_parts,
           MAX(t_total) AS t_total,
           MAX(toks_min) AS toks_min,
           SUM(ABS(f * t_total - toks_i * ft) - toks_i * ft)
               + MAX(t_total) * MAX(ft) AS num
    FROM j GROUP BY term
)
SELECT term,
       CAST(ft AS BIGINT) AS tf,
       CAST(n_parts AS BIGINT) AS n_parts,
       CAST(num AS DOUBLE) / CAST(2 * ft * t_total AS DOUBLE) AS dp,
       CAST(num AS DOUBLE)
           / CAST(NULLIF(2 * ft * (t_total - toks_min), 0) AS DOUBLE)
           AS dp_norm
FROM agg
"""


@register(
    "corpus_term_dispersion_gries_dp",
    oracle=DP_ORACLE,
    tags=("corpus", "text"),
)
def corpus_term_dispersion_gries_dp(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gries' deviation-of-proportions (DP) dispersion per term across
    corpus parts (sources) — the corpus-linguistics standard for "is
    this term EVENLY used or does it live in one slice of the data?"
    (Gries 2008; Lijffijt & Gries 2012 for DP_norm).  A term's raw
    frequency says nothing about concentration: a training-mix audit
    wants to know whether 'function' is corpus-wide vocabulary or one
    crawl shard's boilerplate.  DP = Σ_i |v_i − s_i| / 2 where s_i is
    part i's token share and v_i the term's occurrence share in part i;
    DP_norm rescales by (1 − min_i s_i) so the maximum is 1 regardless
    of part sizing.

    Exactness: both proportions are ratios of BIGINT counts, so the
    fold runs on the common denominator — per present part the term
    contributes |f_ti·T − toks_i·f_t| (BIGINT), absent parts contribute
    toks_i·f_t, and Σ_absent toks_i·f_t = T·f_t − Σ_present toks_i·f_t
    closes the sum WITHOUT materializing absent (term, part) rows.
    Exactly ONE float division per output column, of integers < 2^53
    (exactly representable doubles), so both engines emit identical
    bits.  Integer-exactness bound: f_t·T < 2^63 (and < 2^53 for the
    float tail) — at corpus scales beyond that, normalize counts to
    per-million BEFORE the fold (float path, documented trade).

    Scale: token explode → (term, source) map-side-combined count;
    part sizes are a ≤|sources| frame broadcast onto the term
    postings; f_t rides a hash-partitioned window ON TERM (never a
    global window); output is vocab-sized.  No corpus-side broadcast,
    no skew funnel (stop-word heavy hitters spread across the
    (term, source) composite key before the per-term rollup)."""
    d = fanout(table(spark, sf_dir, "documents"))
    tf = _word_counts(d, "source", word="term", count="f")
    parts = tf.groupBy("source").agg(F.sum("f").alias("toks_i"))
    tot = parts.agg(
        F.sum("toks_i").cast("bigint").alias("t_total"),
        F.min("toks_i").cast("bigint").alias("toks_min"),
    )
    j = (
        tf.join(F.broadcast(parts), "source")
        .crossJoin(F.broadcast(tot))
        .withColumn("ft", F.sum("f").over(Window.partitionBy("term")))
    )
    present = (
        F.abs(F.col("f") * F.col("t_total") - F.col("toks_i") * F.col("ft"))
        - F.col("toks_i") * F.col("ft")
    )
    agg = j.groupBy("term").agg(
        F.max("ft").alias("ft"),
        F.count(F.lit(1)).alias("n_parts"),
        F.max("t_total").alias("t_total"),
        F.max("toks_min").alias("toks_min"),
        (
            F.sum(present) + F.max("t_total") * F.max("ft")
        ).alias("num"),
    )
    two = F.lit(2).cast("bigint")
    return agg.select(
        "term",
        F.col("ft").cast("bigint").alias("tf"),
        F.col("n_parts").cast("bigint").alias("n_parts"),
        (
            F.col("num").cast("double")
            / (two * F.col("ft") * F.col("t_total")).cast("double")
        ).alias("dp"),
        (
            F.col("num").cast("double")
            # NULLIF guard (r13 ADVICE): with a single source
            # t_total == toks_min and the normalizer is 0 — NULL in
            # both engines instead of engine-dependent inf semantics.
            / F.nullif(
                two * F.col("ft") * (F.col("t_total") - F.col("toks_min")),
                F.lit(0),
            ).cast("double")
        ).alias("dp_norm"),
    )


AMS_JOIN_ORACLE = f"""
    WITH a_items AS (
        SELECT CAST(user_id AS VARCHAR) AS item FROM events
        WHERE event_type = 'click'
    ),
    b_items AS (
        SELECT CAST(user_id AS VARCHAR) AS item FROM events
        WHERE event_type = 'purchase'
    ),
    za AS (
        SELECT u.r AS r,
               CAST(SUM({_ams_sign_sql("item", "u.r")}) AS BIGINT) AS zr
        FROM a_items, unnest(generate_series(0, {AMS_R - 1})) u(r)
        GROUP BY 1
    ),
    zb AS (
        SELECT u.r AS r,
               CAST(SUM({_ams_sign_sql("item", "u.r")}) AS BIGINT) AS zr
        FROM b_items, unnest(generate_series(0, {AMS_R - 1})) u(r)
        GROUP BY 1
    ),
    groups AS (
        SELECT za.r // {AMS_PER_GROUP} AS g,
               CAST(SUM(za.zr * zb.zr) AS BIGINT) AS gsum
        FROM za JOIN zb ON za.r = zb.r
        GROUP BY 1
    ),
    ranked AS (
        SELECT gsum, row_number() OVER (ORDER BY gsum, g) AS rk
        FROM groups
    ),
    med AS (
        SELECT CAST(SUM(gsum) AS BIGINT) AS med2
        FROM ranked WHERE rk IN (2, 3)
    ),
    truth AS (
        SELECT CAST(SUM(ca * cb) AS BIGINT) AS join_true,
               CAST(SUM(ca) AS BIGINT) AS n_a,
               CAST(SUM(cb) AS BIGINT) AS n_b
        FROM (
            SELECT item, count(*) AS ca FROM a_items GROUP BY 1
        ) a
        JOIN (
            SELECT item, count(*) AS cb FROM b_items GROUP BY 1
        ) b USING (item)
    )
    SELECT t.n_a, t.n_b, t.join_true,
           CAST(m.med2 AS DOUBLE) / {2 * AMS_PER_GROUP} AS join_est,
           CAST(m.med2 AS DOUBLE) / {2 * AMS_PER_GROUP} / t.join_true
               - 1.0E0 AS rel_err
    FROM truth t, med m
    """


@register(
    "sketch_ams_join_size_estimate",
    oracle=AMS_JOIN_ORACLE,
    tags=("sketch", "frequency", "planning"),
)
def sketch_ams_join_size_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AMS join-size estimation (Alon, Gibbons, Matias & Szegedy, PODS
    1999): the inner product Σ_k f_A(k)·f_B(k) — the equi-join output
    cardinality — estimated from two INDEPENDENTLY BUILT Tug-of-War
    sketches sharing one sign function: E[Z_A,r·Z_B,r] = |A ⋈ B|.
    This is the query-planning use of the AMS kernel (the F2 sketch
    prices self-join skew; this one prices the click ⋈ purchase
    attribution join before running it — the number a cost-based
    optimizer or a salting decision actually consumes), demonstrated
    on the per-user click/purchase frequency vectors.

    Exactness: both Z vectors ride the shared md5-parity sign kernel
    (``ams_sign_col`` / ``_ams_sign_sql``); products, group sums and
    the (2nd+3rd)-order-stat median are BIGINT; ONE division by the
    literal 2·AMS_PER_GROUP; truth Σ c_a·c_b is an exact BIGINT join
    audit.

    Scale: each side folds to AMS_R integers with one explode +
    map-side-combined SUM and NEVER sees the other side — the two
    sketches meet in a 16-row join.  That is the whole point: at
    100 TB the planner gets the join cardinality without shuffling
    either table; the sketches are linear, so per-shard/per-day
    Z vectors merge by addition.  The exact-truth audit side is the
    groupBy-join the sketch replaces."""
    ev = table(spark, sf_dir, "events")
    a_items = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").cast("string").alias("item")
    )
    b_items = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").cast("string").alias("item")
    )
    za = ams_z(a_items).withColumnRenamed("zr", "za")
    zb = ams_z(b_items).withColumnRenamed("zr", "zb")
    groups = (
        za.join(zb, "r")
        .select(
            (F.col("r") / AMS_PER_GROUP).cast("bigint").alias("g"),
            (F.col("za") * F.col("zb")).alias("p"),
        )
        .groupBy("g")
        .agg(F.sum("p").cast("bigint").alias("gsum"))
    )

    ranked = groups.select(
        "gsum",
        F.row_number().over(Window.orderBy("gsum", "g")).alias("rk"),
    )
    med = ranked.filter(F.col("rk").isin(2, 3)).agg(
        F.sum("gsum").cast("bigint").alias("med2")
    )
    ca = a_items.groupBy("item").agg(F.count(F.lit(1)).alias("ca"))
    cb = b_items.groupBy("item").agg(F.count(F.lit(1)).alias("cb"))
    truth = ca.join(cb, "item").agg(
        F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("join_true"),
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
    )
    den = float(2 * AMS_PER_GROUP)
    return truth.crossJoin(F.broadcast(med)).select(
        "n_a",
        "n_b",
        "join_true",
        (F.col("med2").cast("double") / F.lit(den)).alias("join_est"),
        (
            F.col("med2").cast("double") / F.lit(den) / F.col("join_true")
            - F.lit(1.0)
        ).alias("rel_err"),
    )
