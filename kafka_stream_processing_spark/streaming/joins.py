"""Stream-stream joins — absent from the reference entirely (SURVEY.md
§2.1) and one of the hardest things to retrofit onto a Kafka Streams-style
topology; in Structured Streaming it's declarative: watermark both sides,
join with an event-time range condition, state buffers only rows inside
the watermark horizon.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from kafka_stream_processing_spark.operators.corpus import (
    AMS_F2_ORACLE,
    BOTTOMK_K,
    CM_AUDIT_ORACLE,
    CONTAMINATION_ORACLE,
    ams_report,
    ams_z,
    cm_cells,
    cm_item_col,
    cm_report,
)
from kafka_stream_processing_spark.operators.tail_scoring import (
    _FS_THETA_V1_SQL,
    _FS_THETA_V2_SQL,
    EXT_Q_DEN,
    EXT_Q_NUM,
)
from kafka_stream_processing_spark.operators.text import (
    DUP_TRIGRAM_FRAC_MAX,
    TOP_BIGRAM_FRAC_MAX,
    repetition_flag,
    repetition_metrics,
)
from kafka_stream_processing_spark.operators.windowed import (
    PETTITT_LN40,
    _PERM_ENTROPY_EXPR,
    _event_day,
    _permutation_entropy,
)
from kafka_stream_processing_spark.operators.word_kernel import (
    _word_counts,
    _word_grams,
    split_words,
    words,
)
from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import (
    normalize_events,
    table,
)
from kafka_stream_processing_spark.streaming.unique_users import (
    _stream_chunked_source_dir,
    _stream_source_dir,
    _write_chunks,
    file_stream,
    fresh_run_dir,
    publish_staged_dir,
    run_foreach_batch,
    run_to_memory,
)


def _per_batch_cells(
    stream: DataFrame, key: str, cells: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """Run ``stream`` to completion and fold each micro-batch to the rows
    of ``cells(batch_df)``, every row tagged with the batch's ``min(key)``
    as ``chunk_min_<key>``.  The tag is data-derived, so results do not
    depend on batch order and an oracle can rebuild the same chunks
    relationally.  Returns all batches' rows as one batch DataFrame: the
    tag first, then the cells columns, with the cells frame's types.

    One Spark action per batch: the key is observed on the batch input
    (``DataFrame.observe``) while the cells frame is collected, so it
    costs no job of its own.  A batch that yields no cells, or whose key
    is null, contributes nothing.  The cells are collected to the
    driver, so ``cells`` must fold a batch to histogram- or sketch-sized
    output.  Avoid a global aggregate over a filtered groupBy: when the
    filter leaves nothing it still returns a row, but the planner has
    pruned the observed scan, and the batch fails on the missing key."""
    tag = f"chunk_min_{key}"
    rows: list[tuple] = []
    schema: StructType | None = None

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal schema
        seen = Observation()
        frame = cells(batch_df.observe(seen, F.min(key).alias(tag)))
        schema = schema or StructType(
            [StructField(tag, batch_df.schema[key].dataType)]
            + frame.schema.fields
        )
        got = frame.collect()
        # Read the key only when cells exist: an empty result can let the
        # planner drop the observed scan, and with it the observation.
        if got and (k := seen.get[tag]) is not None:
            rows.extend((k, *r) for r in got)

    run_foreach_batch(stream, fold)
    if schema is None:
        raise RuntimeError("per-batch cells: the stream delivered no batch")
    return stream.sparkSession.createDataFrame(rows, schema)


def _daily_revenue_cells(batch_df: DataFrame) -> DataFrame:
    """Cells ``(day, xm)``: revenue per calendar day of the batch, as
    exact micro-unit integers (a DECIMAL(_,6) sum scaled by 10^6)."""
    from kafka_stream_processing_spark.functions.exact import dec

    return batch_df.groupBy(
        _event_day().cast("string").alias("day")
    ).agg((F.sum(dec("value")) * F.lit(10**6)).cast("bigint").alias("xm"))


def _walk_against_src0(
    spark: SparkSession, sf_dir: str, hist: DataFrame
) -> DataFrame:
    """Merge each chunk's length histogram (``chunk_min_doc_id, v, c``,
    from _train_length_histograms) with the src0 reference histogram
    and walk both in value order: one row per chunk and per value
    present in either, with the reference count ``a`` and batch count
    ``b`` (0 where absent), the running counts ``ca``/``cb`` up to and
    including ``v``, and the chunk totals ``na``/``nb``.  All integers."""
    ref = (
        table(spark, sf_dir, "documents")
        .filter(F.col("source") == "src0")
        .groupBy(F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("a"))
    )
    zero = F.lit(0).cast("bigint")
    merged = (
        hist.select("chunk_min_doc_id", "v", zero.alias("a"),
                    F.col("c").alias("b"))
        .unionByName(
            hist.select("chunk_min_doc_id").distinct().crossJoin(ref)
            .select("chunk_min_doc_id", "v", "a", zero.alias("b"))
        )
        .groupBy("chunk_min_doc_id", "v")
        .agg(F.sum("a").alias("a"), F.sum("b").alias("b"))
    )
    chunk = Window.partitionBy("chunk_min_doc_id")
    upto = chunk.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return merged.select(
        "chunk_min_doc_id",
        "v",
        "a",
        "b",
        F.sum("a").over(upto).alias("ca"),
        F.sum("b").over(upto).alias("cb"),
        F.sum("a").over(chunk).alias("na"),
        F.sum("b").over(chunk).alias("nb"),
    )


@register(
    "stream_stream_join_click_purchase",
    oracle="""
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id AS user_id,
           epoch_us(p.ts) AS purchase_ts_us,
           epoch_us(c.ts) AS click_ts_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <= p.ts
    """,
    tags=("streaming", "joins"),
)
def stream_stream_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: every (purchase, click) pair where the
    same user clicked within the 10 minutes before the purchase — computed
    by an ACTUAL streaming join of two watermarked streams over the same
    source.

    Scale/state: the range condition bounds the buffered state — each
    side retains only rows within watermark + 10 min of event time, then
    drops them; without the time bound a stream-stream join's state grows
    forever (the same unbounded-state disease as the reference's HashSet,
    in join form).  One shuffle per side on user_id."""
    path = _stream_source_dir(sf_dir)

    def side(event_type: str, prefix: str) -> DataFrame:
        return (
            normalize_events(file_stream(spark, path, files_per_trigger=None))
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "5 seconds")
        )

    purchases = side("purchase", "purchase")
    clicks = side("click", "click")
    joined = purchases.join(
        clicks,
        (F.col("purchase_user") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "inner",
    )
    return run_to_memory(joined).select(
        "purchase_id",
        F.col("click_id"),
        F.col("purchase_user").alias("user_id"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        F.unix_micros("click_ts").alias("click_ts_us"),
    )


@register(
    "stream_static_enrich_join",
    oracle="""
    WITH profile AS (
        SELECT user_id,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        FROM events GROUP BY user_id
    ),
    tiered AS (
        SELECT e.event_id, e.user_id,
               CASE WHEN p.total_value >= 500 THEN 'high'
                    WHEN p.total_value >= 100 THEN 'mid'
                    ELSE 'low' END AS tier
        FROM events e JOIN profile p ON p.user_id = e.user_id
    )
    SELECT tier,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users
    FROM tiered
    GROUP BY tier
    """,
    tags=("streaming", "join"),
)
def stream_static_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: each micro-batch of the event stream is
    enriched against a BATCH-computed dimension (per-user lifetime value
    tiers) — the dimension-enrichment pattern every streaming pipeline
    needs and the reference cannot express (one topic in, no side
    inputs).  The static side is planned once and broadcast into every
    micro-batch; tier thresholds compare the exact decimal total so the
    tier frontier is engine-stable.

    Scale: the static side refreshes per RESTART, not per batch — for
    slowly-changing dims at 100 TB, periodically re-start the query or
    move to a stream-stream join with a changelog topic
    (stream_stream_join_click_purchase).  ONE streaming pass writes the
    enriched (tier, event_id, ev_user) rows; both audit aggregates run
    batch-side over the sink (streaming aggregation forbids
    countDistinct, and a second streaming query with stateful
    dropDuplicates would just duplicate source reads and state for a
    count the sink can compute)."""
    from kafka_stream_processing_spark.functions.exact import dec

    path = _stream_chunked_source_dir(sf_dir)

    profile = (
        normalize_events(spark.read.parquet(path))
        .groupBy("user_id")
        .agg(F.sum(dec("value")).cast("double").alias("total_value"))
        .withColumn(
            "tier",
            F.when(F.col("total_value") >= 500, "high")
            .when(F.col("total_value") >= 100, "mid")
            .otherwise("low"),
        )
        .select("user_id", "tier")
    )
    stream = (
        normalize_events(file_stream(spark, path))
        .select("event_id", F.col("user_id").alias("ev_user"))
    )
    enriched = stream.join(
        F.broadcast(profile), stream.ev_user == profile.user_id
    )
    return (
        run_to_memory(enriched.select("tier", "event_id", "ev_user"))
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("ev_user").alias("n_users"),
        )
    )


@register(
    "stream_stream_left_outer_join",
    # Append-mode outer semantics: matched pairs emit as they join;
    # UNMATCHED purchases emit with NULL click columns only once the
    # watermark passes the last instant a matching click could still
    # arrive (click_ts <= purchase_ts, so that instant IS purchase_ts).
    # The QUERY watermark is the MINIMUM across all watermarked inputs —
    # here the click stream ends hours before the purchase stream, so
    # late unmatched purchases are (correctly) withheld even though the
    # purchase stream itself has moved far past them.  The oracle
    # reproduces both rules, pinning the emission semantics exactly.
    oracle="""
    WITH wm AS (
        SELECT least(
            (SELECT max(ts) FROM events WHERE event_type = 'purchase'),
            (SELECT max(ts) FROM events WHERE event_type = 'click')
        ) - INTERVAL 5 SECOND AS w
    ),
    p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click')
    SELECT p.event_id AS purchase_id,
           c.event_id AS click_id,
           p.user_id AS user_id,
           epoch_us(p.ts) AS purchase_ts_us
    FROM p JOIN c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 10 MINUTE
     AND c.ts <= p.ts
    UNION ALL
    SELECT p.event_id, NULL, p.user_id, epoch_us(p.ts)
    FROM p, wm
    WHERE NOT EXISTS (
        SELECT 1 FROM c
        WHERE c.user_id = p.user_id
          AND c.ts >= p.ts - INTERVAL 10 MINUTE
          AND c.ts <= p.ts
    )
    AND p.ts < wm.w
    """,
    tags=("streaming", "joins"),
)
def stream_stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join: every purchase, paired with each
    click by the same user in the preceding 10 minutes, or NULL-extended
    if no such click exists — the attribution query where 'no touchpoint'
    is itself the answer.

    The outer side makes watermarks LOAD-BEARING for correctness, not
    just state GC: Spark can only emit a NULL-extended purchase once the
    watermark proves no matching click can still arrive — and the query
    watermark is the MIN across inputs, so a lagging click stream holds
    back null emission for the whole join (observed on this data: the
    click stream ends ~4 h before the purchases, withholding the final
    unmatched purchase).  The oracle's `p.ts < least(side maxes) - 5 s`
    gate checks both rules.  State bounds identical to the inner
    variant."""
    path = _stream_source_dir(sf_dir)

    def side(event_type: str, prefix: str) -> DataFrame:
        return (
            normalize_events(file_stream(spark, path, files_per_trigger=None))
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", "5 seconds")
        )

    purchases = side("purchase", "purchase")
    clicks = side("click", "click")
    joined = purchases.join(
        clicks,
        (F.col("purchase_user") == F.col("click_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "left_outer",
    )
    return run_to_memory(joined).select(
        "purchase_id",
        "click_id",
        F.col("purchase_user").alias("user_id"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
    )


def _stage_doc_chunks(sf_dir: str, where: str, label: str,
                      n_chunks: int = 3) -> str:
    """Stage a filtered slice of the documents table as N doc_id-ordered
    parquet chunk files so maxFilesPerTrigger=1 yields a genuine
    multi-batch stream.  mtime/size-keyed like _stream_chunked_source_dir
    so regenerated testdata re-stages.  ``where`` is a DuckDB predicate
    over the documents columns (staging-side only, never query-side); it
    is part of the cache key, so editing a call site's predicate can
    never silently reuse stale staged chunks."""
    import hashlib
    import os

    import duckdb

    src = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src)
    key = sf_dir.strip("/").replace("/", "_")
    wkey = hashlib.md5(where.encode()).hexdigest()[:8]
    d = os.path.join(
        "/tmp", "kssp_stream_src", key,
        f"{label}{n_chunks}o_{wkey}_{int(st.st_mtime_ns)}_{st.st_size}",
    )

    def build(tmp: str) -> None:
        t = duckdb.sql(
            f"SELECT * FROM '{src}' WHERE {where} ORDER BY doc_id"
        ).arrow()
        n = t.num_rows
        if n == 0:
            # A chunk-less directory would be cached by the marker and
            # then fail every later schema inference with no hint why.
            raise ValueError(
                f"document slice {where!r} matched 0 rows in {src}; "
                "refusing to stage an empty stream source"
            )
        step = max(1, (n + n_chunks - 1) // n_chunks)
        _write_chunks(tmp, [t.slice(i, step) for i in range(0, n, step)])

    return publish_staged_dir(d, build)


def _stream_doc_batch_source_dir(sf_dir: str) -> str:
    """The 'new crawl batch': every 5th doc_id (matches the incremental
    dedup oracles' batch definition)."""
    return _stage_doc_chunks(sf_dir, "doc_id % 5 = 0", "docbatch")


@register(
    "stream_ingest_dedup_static_corpus",
    oracle="""
    WITH batch AS (
        SELECT DISTINCT md5(text) AS h
        FROM documents WHERE doc_id % 5 = 0
    ),
    corpus AS (
        SELECT DISTINCT md5(text) AS h
        FROM documents WHERE doc_id % 5 <> 0
    ),
    accepted AS (
        SELECT h FROM batch
        EXCEPT
        SELECT h FROM corpus
    )
    SELECT CAST(count(*) AS BIGINT) AS n_accepted,
           CAST(SUM(CAST(('0x' || substr(h, 1, 15)) AS BIGINT) % 1000003)
                AS BIGINT) AS h_checksum
    FROM accepted
    """,
    tags=("streaming", "dedup", "incremental"),
)
def stream_ingest_dedup_static_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming twin of ``dedup_incremental_new_batch``: today's
    crawl arrives as a multi-micro-batch STREAM (3 doc_id-ordered chunks,
    one per trigger), is deduped against itself with stateful
    ``dropDuplicates`` on the content hash (state spans micro-batches —
    a text seen in chunk 0 is rejected in chunk 2), and admitted against
    the existing corpus's fingerprint table with a stream-static LEFT
    ANTI join.  The audit keys on the content hash alone (count +
    md5-derived checksum), so the result is independent of which
    duplicate row survived dedup — the property that makes a streaming
    dedup auditable cross-engine at all.

    Scale: dropDuplicates state is one row per distinct batch hash
    (bounded by the DAY'S crawl, not the corpus — the corpus side is the
    static anti-join table, hash-bucketed at 100 TB so each micro-batch
    probes without shuffling it); this is exactly the Kafka-ingest
    topology the reference's EXACTLY_ONCE config serves
    (UniqueUsersCounter.java:56,63), with the dedup contract made
    explicit instead of implicit in producer retries."""
    path = _stream_doc_batch_source_dir(sf_dir)

    # persist(): a stream-static join re-plans the STATIC side every
    # micro-batch — uncached, the full-corpus distinct would re-run once
    # per trigger (3x here, every trigger at scale).
    corpus = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 != 0)
        .select(F.md5(F.col("text").cast("binary")).alias("h"))
        .distinct()
        .persist()
    )
    stream = (
        file_stream(spark, path)
        .select(F.md5(F.col("text").cast("binary")).alias("h"))
        .dropDuplicates(["h"])
        .join(corpus, "h", "left_anti")
    )
    try:
        sink = run_to_memory(stream)
    finally:
        corpus.unpersist()
    checksum = (
        F.conv(F.substring(F.col("h"), 1, 15), 16, 10).cast("bigint")
        % 1000003
    )
    return sink.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_accepted"),
        F.sum(checksum).cast("bigint").alias("h_checksum"),
    )


def _stream_train_docs_source_dir(sf_dir: str) -> str:
    """The training pool: every non-benchmark document (matches the
    contamination oracles' train partition)."""
    return _stage_doc_chunks(sf_dir, "source <> 'src0'", "traindocs")


def _train_length_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``chunk_min_doc_id, v, c``: the document-length value histogram of
    each micro-batch of the training-pool stream."""
    stream = file_stream(spark, _stream_train_docs_source_dir(sf_dir))
    return _per_batch_cells(
        stream.select("doc_id", "n_chars"),
        "doc_id",
        lambda b: b.groupBy(F.col("n_chars").alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        ),
    )


@register(
    "stream_contamination_scan",
    oracle=CONTAMINATION_ORACLE,
    tags=("streaming", "contamination"),
)
def stream_contamination_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming decontamination: training documents arrive as a
    3-micro-batch stream and are scored against the STATIC benchmark
    shingle set — which enters the stream as ONE broadcast row holding
    the eval suite's distinct 3-gram array, so the per-document check is
    a narrow ``array_intersect`` with ZERO streaming state (append mode,
    no watermark, no aggregation): each doc's verdict is final the
    moment it arrives.  Emits the same (doc_id, n_shingles, n_shared)
    drop-list as the batch `contamination_ngram_overlap`, and the oracle
    IS that query's oracle — stream and batch provably agree.

    Scale: the stateless formulation is the point — a stateful
    explode-join-agg would keep per-doc counts in the state store for no
    reason when the bench set (a few MB for any real eval suite) fits in
    a broadcast; this is the decontamination gate a streaming ingest
    pipeline bolts between crawl and corpus-commit."""
    # persist(): the static side of a stream-static join re-plans every
    # micro-batch — uncached, the bench-set collect_set would re-run
    # once per trigger instead of materializing "ONE broadcast row".
    bench_row = (
        split_words(
            table(spark, sf_dir, "documents").filter(F.col("source") == "src0")
        )
        .select(
            F.explode(F.array_distinct(_word_grams(F.col("words")))).alias(
                "sh"
            )
        )
        .agg(F.collect_set("sh").alias("bench_set"))
        .persist()
    )
    path = _stream_train_docs_source_dir(sf_dir)
    from kafka_stream_processing_spark.session import default_parallelism

    # Each micro-batch is ONE staged parquet file = one scan task; the
    # per-doc intersect against the ~10k-shingle bench array is the
    # whole cost, so repartition the batch across the cluster first (a
    # stateless shuffle is append-safe).  Measured at sf0.1: 16.4 s ->
    # ~2 s end-to-end for the 3-trigger run.
    stream = (
        split_words(
            file_stream(spark, path).repartition(default_parallelism()),
            "doc_id",
        )
        .select(
            "doc_id",
            F.array_distinct(_word_grams(F.col("words"))).alias("sh_arr"),
        )
        .crossJoin(F.broadcast(bench_row))
        .select(
            "doc_id",
            F.size("sh_arr").cast("bigint").alias("n_shingles"),
            F.size(F.array_intersect("sh_arr", "bench_set"))
            .cast("bigint")
            .alias("n_shared"),
        )
        .filter(F.col("n_shared") >= 1)
    )
    try:
        sink = run_to_memory(stream)
    finally:
        bench_row.unpersist()
    return sink.select("doc_id", "n_shingles", "n_shared")


@register(
    "stream_lm_surprisal_scores",
    oracle="""
    WITH occ AS (
        SELECT doc_id, w
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
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
    )
    SELECT o.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(count(*) - count(lm.surp) AS BIGINT) AS n_oov,
           CASE WHEN count(lm.surp) > 0
                THEN CAST(SUM(lm.surp) AS DOUBLE) / count(lm.surp)
                ELSE NULL END AS mean_surprisal
    FROM occ o
    LEFT JOIN lm ON o.w = lm.w
    JOIN documents d ON d.doc_id = o.doc_id
    WHERE d.source <> 'src0'
    GROUP BY o.doc_id
    """,
    tags=("streaming", "quality", "lm"),
)
def stream_lm_surprisal_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming language-model quality scoring: ingest documents arrive
    as a 3-micro-batch stream and are scored against the STATIC
    corpus-trained unigram LM — which enters the stream as ONE broadcast
    row holding a word→surprisal MAP, so each document's mean surprisal
    is a narrow higher-order aggregate (``element_at`` per word) with
    ZERO streaming state: append mode, no watermark, no aggregation,
    verdict final on arrival.  Same stateless-formulation argument as
    stream_contamination_scan — a streamed explode-join-groupBy would
    park per-doc partial sums in the state store to recompute what one
    map lookup answers.  The oracle is quality_unigram_lm_surprisal's
    restricted to the streamed (non-benchmark) slice: stream and batch
    provably agree score-for-score.

    Scale: the LM map is O(vocab) — Heaps-law sublinear, the same
    broadcast-budget argument as the unigram operator; per-batch cost is
    scan → repartition → map lookups, divides by executor count.  The
    LM itself trains ONCE on the static corpus before the stream starts
    (exactly how a CCNet-style gate deploys: model artifact fixed,
    stream scored against it)."""
    from kafka_stream_processing_spark.session import default_parallelism

    vocab = _word_counts(table(spark, sf_dir, "documents"))
    surp = F.round(
        -F.log(
            F.col("c").cast("double") / F.sum("c").over(Window.partitionBy())
        ),
        6,
    ).cast("decimal(18,6)")
    # persist(): static side of a stream-static cross join re-plans per
    # micro-batch; uncached, the LM would re-train once per trigger.
    lm_row = (
        vocab.select("w", surp.alias("surp"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("w", "surp"))
            ).alias("lm")
        )
        .persist()
    )
    path = _stream_train_docs_source_dir(sf_dir)
    toks = words()
    # OOV convention: a word missing from the deployed LM artifact makes
    # element_at return NULL — NULLs are FILTERED (not folded, which
    # would silently null the whole document's score), counted into
    # n_oov, and the mean runs over in-vocab words only; an all-OOV
    # document scores NULL explicitly.  Deploy-fixed-artifact streams DO
    # see OOV tokens, so the degradation is deliberate and observable.
    found = F.filter(
        F.transform(toks, lambda w: F.element_at(F.col("lm"), w)),
        lambda x: x.isNotNull(),
    )
    total = F.aggregate(
        found,
        F.lit(0).cast("decimal(18,6)"),
        lambda acc, x: (acc + x).cast("decimal(18,6)"),
    )
    n_found = F.size(found)
    stream = (
        file_stream(spark, path)
        .repartition(default_parallelism())
        .crossJoin(F.broadcast(lm_row))
        .select(
            "doc_id",
            F.size(toks).cast("bigint").alias("n_words"),
            (F.size(toks) - n_found).cast("bigint").alias("n_oov"),
            F.when(
                n_found > 0, total.cast("double") / n_found
            ).alias("mean_surprisal"),
        )
    )
    try:
        sink = run_to_memory(stream)
    finally:
        lm_row.unpersist()
    return sink


@register(
    "stream_cdc_last_writer_wins",
    oracle="""
    SELECT user_id,
           epoch_us(ts) AS last_ts_us,
           event_id AS last_event_id,
           value AS last_value
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) = 1
    """,
    tags=("streaming", "cdc"),
)
def stream_cdc_last_writer_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply — streaming upserts merged into a versioned table with
    last-writer-wins semantics: keyed updates (user_id, versioned by
    (ts, event_id)) arrive over 3 micro-batches, and each batch MERGEs
    into the materialized target inside ``foreachBatch`` — read current
    generation, union the batch, keep the max-version row per key,
    write generation N+1 — the poor-man's MERGE INTO every lakehouse
    table format implements natively, expressed on plain parquet with
    atomic generation swap (new dir per epoch, last one wins).  The
    final table provably equals the batch answer "latest row per key
    over all events", which is the oracle — so replaying the CDC stream
    reconstructs the same table a batch rebuild would, the core CDC
    correctness contract.

    Scale: each merge touches the TARGET (keys-sized, not stream-sized)
    plus one batch — at 100 TB the target is partitioned by key-hash
    and the union+rank rewrites only matching partitions (what MERGE
    INTO's file-pruning does); versions give time-travel and crash
    atomicity for free (a failed epoch leaves the previous generation
    intact).  Per-key state lives in the table, NOT the state store —
    restarting the stream needs no state recovery, only the last
    generation pointer."""
    import os

    import shutil

    path = _stream_chunked_source_dir(sf_dir)
    base = fresh_run_dir(sf_dir, "kssp_cdc_target")
    state = {"gen": -1}

    w = Window.partitionBy("user_id").orderBy(
        F.desc("last_ts_us"), F.desc("last_event_id")
    )

    def merge_batch(batch_df, batch_id: int) -> None:
        updates = batch_df.select(
            "user_id",
            F.unix_micros("ts").alias("last_ts_us"),
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )
        if state["gen"] >= 0:
            prev = batch_df.sparkSession.read.parquet(
                os.path.join(base, f"gen={state['gen']}")
            )
            updates = prev.unionByName(updates)
        merged = (
            updates.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        merged.write.mode("overwrite").parquet(
            os.path.join(base, f"gen={state['gen'] + 1}")
        )
        state["gen"] += 1

    stream = normalize_events(file_stream(spark, path))
    run_foreach_batch(stream, merge_batch)
    if state["gen"] < 0:
        shutil.rmtree(base, ignore_errors=True)
        raise RuntimeError(
            "stream_cdc_last_writer_wins: the CDC stream delivered zero "
            f"micro-batches from {path} — no generation was materialized, "
            "so there is no table to return (check the chunked source dir)"
        )
    # Time-travel generations served their purpose (crash atomicity
    # during the run).  localCheckpoint (eager) detaches the returned
    # keys-sized table from its /tmp backing entirely, so a long-lived
    # session can re-trigger it at ANY later time regardless of the
    # sibling-run sweep above — and the whole run dir can be dropped
    # right now instead of waiting out the sweep cutoff (ADVICE r06).
    final = spark.read.parquet(
        os.path.join(base, f"gen={state['gen']}")
    ).localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return final


@register(
    "stream_ks_drift_monitor",
    oracle="""
    WITH train AS (
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY doc_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM documents WHERE source <> 'src0'
    ),
    chunked AS (
        SELECT doc_id, n_chars, rn // ((n + 2) // 3) AS chunk_id
        FROM train
    ),
    ref AS (SELECT n_chars AS v FROM documents WHERE source = 'src0'),
    hist_a AS (SELECT v, count(*) AS ca_i FROM ref GROUP BY v),
    hist_b AS (
        SELECT chunk_id, n_chars AS v, count(*) AS cb_i
        FROM chunked GROUP BY 1, 2
    ),
    keys AS (
        SELECT chunk_id, min(doc_id) AS chunk_min_doc_id, count(*) AS nb
        FROM chunked GROUP BY chunk_id
    ),
    allv AS (
        SELECT DISTINCT chunk_id, v FROM (
            SELECT chunk_id, v FROM hist_b
            UNION ALL
            SELECT k.chunk_id, a.v FROM keys k, hist_a a
        )
    ),
    cum AS (
        SELECT allv.chunk_id, allv.v,
               SUM(coalesce(hb.cb_i, 0)) OVER (PARTITION BY allv.chunk_id
                                               ORDER BY allv.v) AS cb,
               SUM(coalesce(ha.ca_i, 0)) OVER (PARTITION BY allv.chunk_id
                                               ORDER BY allv.v) AS ca
        FROM allv
        LEFT JOIN hist_b hb ON hb.chunk_id = allv.chunk_id AND hb.v = allv.v
        LEFT JOIN hist_a ha ON ha.v = allv.v
    )
    SELECT k.chunk_min_doc_id,
           CAST(k.nb AS BIGINT) AS n_batch,
           max(abs(CAST(cum.ca AS DOUBLE) / (SELECT count(*) FROM ref)
                   - CAST(cum.cb AS DOUBLE) / k.nb)) AS ks_d,
           1.358 * sqrt((CAST((SELECT count(*) FROM ref) AS DOUBLE) + k.nb)
                        / (CAST((SELECT count(*) FROM ref) AS DOUBLE) * k.nb))
               AS critical_005,
           max(abs(CAST(cum.ca AS DOUBLE) / (SELECT count(*) FROM ref)
                   - CAST(cum.cb AS DOUBLE) / k.nb))
             > 1.358 * sqrt((CAST((SELECT count(*) FROM ref) AS DOUBLE) + k.nb)
                            / (CAST((SELECT count(*) FROM ref) AS DOUBLE) * k.nb))
               AS drift
    FROM cum JOIN keys k ON k.chunk_id = cum.chunk_id
    GROUP BY k.chunk_min_doc_id, k.nb
    """,
    tags=("streaming", "drift", "quality"),
)
def stream_ks_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch distribution monitoring: every arriving ingest
    batch is KS-tested against the trusted src0 reference distribution
    (document length), emitting the batch's exact KS statistic, the
    α=0.05 critical value, and the drift verdict — the streaming
    deployment of quality_ks_drift_nchars, and what a production intake
    actually runs: the reference histogram is computed ONCE before the
    stream starts, each batch folds against it, and a drifting source
    pages before it pollutes the corpus.  Batches are identified by
    their min doc_id (a data-derived key), so the result is
    batch-ORDER-independent and the oracle reconstructs the same three
    ingest slices relationally.  The stream keeps only each batch's
    VALUE-DISTINCT length histogram (the bounded-state argument of the
    MG sketch and the global-top-k fold: distinct lengths are
    histogram-sized, never corpus-sized); the per-chunk KS walk over
    the reference ∪ batch values runs after the stream as integer
    running counts and one IEEE division per side, the same operations
    the oracle executes.

    Scale: the stream side aggregates each batch to its length
    histogram (map-side combine; one tiny collect per trigger); the
    reference histogram is O(distinct values).  Nothing in the
    streaming state store — a restart re-reads the reference, verdicts
    are per-batch final."""
    KS_C = 1.358
    hist = _train_length_histograms(spark, sf_dir)
    walk = _walk_against_src0(spark, sf_dir, hist)
    gap = F.abs(
        F.col("ca").cast("double") / F.col("na")
        - F.col("cb").cast("double") / F.col("nb")
    )
    crit = F.lit(KS_C) * F.sqrt(
        (F.col("na") + F.col("nb")).cast("double")
        / (F.col("na") * F.col("nb")).cast("double")
    )
    return (
        walk.groupBy("chunk_min_doc_id", "na", "nb")
        .agg(F.max(gap).alias("ks_d"))
        .select(
            "chunk_min_doc_id",
            F.col("nb").alias("n_batch"),
            "ks_d",
            crit.alias("critical_005"),
            (F.col("ks_d") > crit).alias("drift"),
        )
    )


@register(
    "stream_countmin_incremental",
    # SAME oracle as the batch sketch_countmin_freq: counting is linear,
    # so a correctly merged stream-built sketch must equal the
    # batch-built one CELL FOR CELL — the comparison pins the merge, not
    # just the estimates.
    oracle=CM_AUDIT_ORACLE,
    tags=("streaming", "sketch"),
)
def stream_countmin_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental Count-Min maintenance over a real 3-micro-batch
    stream: each ``foreachBatch`` folds its batch's (r, b) -> c cell
    table into a driver-held accumulator by CELL-WISE SUM — the
    mergeability that makes CM the sketch you can maintain per
    day/shard/topic and union later (the streaming twin of the
    bloom-bitmap incremental merge).  The final sketch answers the same
    23-key audit as the batch operator, against the same oracle: stream
    and batch sketches are provably IDENTICAL, not merely close.

    Scale: per-batch driver traffic is bounded by D*W = 2048 cells
    (collecting a SKETCH is the legal form of driver folding — same
    contract as stream_global_topk_foreachbatch's k rows); per-batch
    executor work is one explode + map-side-combined groupBy.  State
    lives in the accumulator, not the state store — restart recovery is
    re-folding from the last persisted sketch, exactly how a daily
    sketch pipeline resumes."""
    path = _stream_chunked_source_dir(sf_dir)
    acc: dict[tuple[int, int], int] = {}

    def fold_batch(batch_df, batch_id: int) -> None:
        cells = cm_cells(
            batch_df.select(cm_item_col().alias("item"))
        ).collect()  # <= D*W = 2048 rows per batch, by construction
        for row in cells:
            key = (row["r"], row["b"])
            acc[key] = acc.get(key, 0) + row["c"]

    stream = normalize_events(file_stream(spark, path))
    run_foreach_batch(stream, fold_batch)
    if not acc:
        raise RuntimeError(
            "stream_countmin_incremental: zero micro-batches delivered "
            f"from {path} — no sketch to report"
        )
    merged = spark.createDataFrame(
        [(r, b, c) for (r, b), c in sorted(acc.items())],
        schema="r int, b bigint, c bigint",
    )
    items = table(spark, sf_dir, "events").select(
        cm_item_col().alias("item")
    )
    return cm_report(spark, merged, items)



def _stream_embeddings_source_dir(sf_dir: str, n_chunks: int = 3) -> str:
    """Stage embeddings as N vec_id-ordered parquet chunks — the
    vector-ingest stream for index-maintenance queries.  Cache keyed on
    the source file's (mtime, size), same contract as the events
    staging."""
    import os

    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    key = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(
        "/tmp", "kssp_stream_src", key,
        f"embeddings_chunks{n_chunks}v2_{int(st.st_mtime_ns)}_{st.st_size}",
    )

    def build(tmp: str) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(src)
        t = t.take(pc.sort_indices(t, sort_keys=[("vec_id", "ascending")]))
        step = (t.num_rows + n_chunks - 1) // n_chunks
        chunks = [t.slice(i * step, step) for i in range(n_chunks)]
        _write_chunks(tmp, [c for c in chunks if c.num_rows])

    return publish_staged_dir(d, build)


def _ivf_hist_oracle() -> str:
    from kafka_stream_processing_spark.operators.similarity import (
        _argmin_cell_sql,
    )

    return f"""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ),
    assigned AS (
        SELECT vec_id, {_argmin_cell_sql()} AS cell FROM v
    )
    SELECT cell,
           CAST(count(*) AS BIGINT) AS n_vectors,
           min(vec_id) AS min_vec_id,
           max(vec_id) AS max_vec_id
    FROM assigned
    GROUP BY cell
    """


@register(
    "stream_ivf_index_maintenance",
    # Oracle: the batch IVF cell histogram — streaming ingest must land
    # every vector in the same cell the batch build would (assignment is
    # a pure function of the vector and the FIXED centroid artifact).
    oracle=_ivf_hist_oracle(),
    tags=("streaming", "similarity", "ann"),
)
def stream_ivf_index_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming vector-index maintenance: embeddings arrive over a
    3-micro-batch stream and each batch is assigned to its IVF cell by
    the TRAINED coarse quantizer (the reproduction-pinned centroid
    artifact) as a stateless map, appended to the index.  The final
    per-cell histogram (count + vec_id range) must equal the batch
    index build exactly — the contract that lets a production vector
    store ingest continuously and still serve the same cells a bulk
    rebuild would (FAISS's add() vs train() separation, expressed as a
    stream).

    Scale: assignment is whole-stage-codegen arithmetic against a
    broadcast literal centroid table — no state store, no shuffle
    inside the stream; the per-cell histogram is the only aggregate and
    runs batch-side over the sink.  Cell files at 100 TB are the
    partition key (cells partition-prune ANN probes — the
    similarity_ivf* family's layout story, maintained incrementally
    here)."""
    from kafka_stream_processing_spark.operators.similarity import ivf_cell

    path = _stream_embeddings_source_dir(sf_dir)

    from kafka_stream_processing_spark.session import default_parallelism

    stream = (
        file_stream(spark, path)
        # one chunk file = one input split; without the fan-out the whole
        # batch's quantizer arithmetic runs on a single core (real vector
        # ingest arrives as many files/offsets and would not need this)
        .repartition(default_parallelism())
        .select(
            "vec_id",
            ivf_cell(
                F.transform(F.col("embedding"), lambda x: x.cast("double"))
            ).alias("cell"),
        )
    )
    return (
        run_to_memory(stream)
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            F.max("vec_id").alias("max_vec_id"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming Benford first-digit monitor
# ---------------------------------------------------------------------------

def _benford_monitor_oracle() -> str:
    from kafka_stream_processing_spark.operators.quality_edf import (
        _BENFORD_P_SQL,
    )
    from kafka_stream_processing_spark.operators.quality_kernel import (
        CHI2_CRIT_005,
    )

    return f"""
    WITH ordered AS (
        SELECT event_id, value,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM events
    ),
    chunked AS (
        SELECT event_id, value, rn // ((n + 2) // 3) AS chunk_id
        FROM ordered
    ),
    keys AS (
        SELECT chunk_id, min(event_id) AS chunk_key
        FROM chunked GROUP BY 1
    ),
    hist AS (
        SELECT chunk_id,
               CAST(substr(CAST(CAST(floor(value) AS BIGINT) AS VARCHAR),
                           1, 1) AS INT) AS digit,
               count(*) AS n_obs
        FROM chunked WHERE value >= 1
        GROUP BY 1, 2
    ),
    frame AS (
        SELECT k.chunk_id, g.digit, COALESCE(h.n_obs, 0) AS n_obs
        FROM keys k
        CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS digit) g
        LEFT JOIN hist h
               ON h.chunk_id = k.chunk_id AND h.digit = g.digit
    ),
    tot AS (SELECT chunk_id, SUM(n_obs) AS nb FROM frame GROUP BY 1),
    terms AS (
        SELECT f.chunk_id, f.digit, f.n_obs, t.nb,
               CAST((CAST(f.n_obs AS DOUBLE) - {_BENFORD_P_SQL} * t.nb)
                    * (CAST(f.n_obs AS DOUBLE) - {_BENFORD_P_SQL} * t.nb)
                    / ({_BENFORD_P_SQL} * t.nb)
                    AS DECIMAL(18,12)) AS term
        FROM frame f JOIN tot t ON t.chunk_id = f.chunk_id
    ),
    stat AS (
        SELECT chunk_id, CAST(SUM(term) AS DOUBLE) AS chi2
        FROM terms GROUP BY 1
    )
    SELECT k.chunk_key AS chunk_min_event_id,
           t2.digit,
           CAST(t2.n_obs AS BIGINT) AS n_obs,
           s.chi2,
           s.chi2 > {CHI2_CRIT_005[8]} AS drift
    FROM terms t2
    JOIN stat s ON s.chunk_id = t2.chunk_id
    JOIN keys k ON k.chunk_id = t2.chunk_id
    """


@register(
    "stream_benford_digit_monitor",
    oracle=_benford_monitor_oracle(),
    tags=("streaming", "drift", "quality"),
)
def stream_benford_digit_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-micro-batch Benford first-digit gate — the streaming
    deployment of quality_benford_digit_drift, completing the
    per-batch drift-monitor family (KS on lengths, χ² on categories,
    Benford on amounts): each arriving batch folds to its 9-digit
    first-significant-digit histogram, and the χ² against the literal
    Benford proportions (absent digits INCLUDED via the 9-digit frame
    — the ADVICE r06 convention) yields a per-batch drift verdict
    before the batch joins the corpus.  Batches are identified by
    their min event_id (data-derived, batch-order-independent); chunk
    membership is deterministic because the staging sorts by
    (ts, event_id) and the oracle mirrors the same split rule
    arithmetically (the stream_update_mode_running_counts
    reconstruction).

    The stream side collects only the nine digit counts per trigger
    (sketch-sized driver state, the KS-monitor convention); χ² then
    runs as ONE batch DataFrame expression over the 27 collected cells
    using the exact decimal-term arithmetic the batch gate pins —
    cross-engine parity comes from the shared round-trip-stable
    DECIMAL(18,12) term convention, not from Python float re-derivation.

    Scale: per-trigger state is the 9-cell histogram regardless of
    batch size (map-side combined); nothing enters the streaming state
    store; verdicts are per-batch final, so a restart loses no state."""
    from kafka_stream_processing_spark.operators.quality_edf import BENFORD_P
    from kafka_stream_processing_spark.operators.quality_kernel import (
        CHI2_CRIT_005,
    )

    digit = F.when(
        F.col("value") >= 1,
        F.substring(
            F.floor("value").cast("bigint").cast("string"), 1, 1
        ).cast("int"),
    )
    stream = normalize_events(
        file_stream(spark, _stream_chunked_source_dir(sf_dir))
    )
    # One row of nine digit counts per batch (absent digits count 0),
    # unpivoted to (digit, n_obs) after the stream.
    per_batch = _per_batch_cells(
        stream,
        "event_id",
        lambda b: b.agg(*(
            F.count(F.when(digit == d, 1)).alias(f"d{d}")
            for d in range(1, 10)
        )),
    )
    hist_df = per_batch.select(
        "chunk_min_event_id",
        F.inline(F.array(*(
            F.struct(F.lit(d).alias("digit"), F.col(f"d{d}").alias("n_obs"))
            for d in range(1, 10)
        ))),
    )

    p_benford = F.lit(None).cast("double")
    for d, p in enumerate(BENFORD_P):
        p_benford = F.when(F.col("digit") == d + 1, F.lit(p)).otherwise(
            p_benford
        )
    w_chunk = Window.partitionBy("chunk_min_event_id")
    nb = F.sum("n_obs").over(w_chunk)
    terms = hist_df.select(
        "chunk_min_event_id",
        "digit",
        "n_obs",
        nb.alias("nb"),
        p_benford.alias("p"),
    ).withColumn(
        "term",
        (
            (F.col("n_obs").cast("double") - F.col("p") * F.col("nb"))
            * (F.col("n_obs").cast("double") - F.col("p") * F.col("nb"))
            / (F.col("p") * F.col("nb"))
        ).cast("decimal(18,12)"),
    )
    chi2 = F.sum("term").over(w_chunk).cast("double")
    return terms.select(
        "chunk_min_event_id",
        "digit",
        F.col("n_obs").cast("bigint").alias("n_obs"),
        chi2.alias("chi2"),
        (chi2 > F.lit(CHI2_CRIT_005[8])).alias("drift"),
    )


# ---------------------------------------------------------------------------
# Streaming incremental split-leakage audit
# ---------------------------------------------------------------------------

def _all_docs_chunked_source_dir(sf_dir: str) -> str:
    """All documents staged as 3 doc_id-ordered chunks (the full-corpus
    counterpart of _stream_train_docs_source_dir's train slice)."""
    return _stage_doc_chunks(sf_dir, "1 = 1", "docs_all")


def _split_leakage_oracle() -> str:
    from kafka_stream_processing_spark.operators.pipeline import (
        SPLIT_LEAKAGE_ORACLE,
    )

    return SPLIT_LEAKAGE_ORACLE


@register(
    "stream_split_leakage_incremental",
    # SAME oracle as the batch pipeline_split_leakage_audit: every LSH
    # pair is discovered exactly once — when its LATER member arrives
    # and collides against the accumulated band index — so the
    # accumulated pair set must equal the batch pair set and the audit
    # matrices must hash-match cell for cell.
    oracle=_split_leakage_oracle(),
    tags=("streaming", "pipeline", "dedup", "decontamination"),
)
def stream_split_leakage_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-leakage audit at INGEST time (the VERDICT r06 stretch):
    documents stream in over 3 micro-batches; each batch's MinHash band
    rows (dedup.minhash_band_rows — the batch kernel verbatim,
    stateless per batch) are joined against the ACCUMULATED band index,
    so every near-dup pair is discovered the moment its second member
    arrives — train/val/test leaks surface while the offending doc is
    still in flight, not in a nightly batch audit.  Pair discovery is
    provably complete and exactly-once: a pair's band collision is
    found only in the later member's batch (new×(index ∪ new), both
    orientations normalized by least/greatest, per-band distinct), so
    the union over batches equals dedup_minhash_lsh's pair set and the
    final matrix equals pipeline_split_leakage_audit — which is the
    oracle.

    State: the band index is a doc_id-keyed TABLE of O(bands/doc) rows
    maintained as atomic parquet generations (the CDC LWW pattern —
    crash leaves the previous generation intact; nothing lives in the
    streaming state store), and per-batch work is ONE bucketed
    equi-join of the batch's band rows against it: cost Σ per-bucket
    collisions, never all-pairs, exactly the batch kernel's bound
    applied incrementally.  Discovered pairs append as per-batch
    parquet — an audit LOG, replayable and idempotent.  The returned
    matrix is localCheckpoint-detached and all /tmp state is dropped
    before returning (the r07 CDC convention)."""
    import os
    import shutil

    from kafka_stream_processing_spark.operators.dedup import (
        minhash_band_rows,
    )
    from kafka_stream_processing_spark.operators.pipeline import (
        split_leakage_matrix,
    )

    path = _all_docs_chunked_source_dir(sf_dir)
    base = fresh_run_dir(sf_dir, "kssp_leak_idx")
    pairs_dir = os.path.join(base, "pairs")
    os.makedirs(pairs_dir, exist_ok=True)
    state = {"gen": -1}

    def merge_batch(batch_df, batch_id: int) -> None:
        s = batch_df.sparkSession
        new = minhash_band_rows(
            batch_df.select("doc_id", "text")
        ).localCheckpoint(eager=True)
        if state["gen"] >= 0:
            prev = s.read.parquet(os.path.join(base, f"gen={state['gen']}"))
            all_bands = prev.unionByName(new)
        else:
            all_bands = new
        n, o = new.alias("n"), all_bands.alias("o")
        cand = (
            n.join(
                o,
                (F.col("n.band") == F.col("o.band"))
                & (F.col("n.mh0") == F.col("o.mh0"))
                & (F.col("n.mh1") == F.col("o.mh1"))
                & (F.col("n.doc_id") != F.col("o.doc_id")),
            )
            .select(
                F.least("n.doc_id", "o.doc_id").alias("doc_a"),
                F.greatest("n.doc_id", "o.doc_id").alias("doc_b"),
                F.col("n.band").alias("band"),
            )
            .distinct()
        )
        cand.write.mode("overwrite").parquet(
            os.path.join(pairs_dir, f"batch={state['gen'] + 1}")
        )
        all_bands.write.mode("overwrite").parquet(
            os.path.join(base, f"gen={state['gen'] + 1}")
        )
        state["gen"] += 1

    stream = file_stream(spark, path)
    run_foreach_batch(stream, merge_batch)
    if state["gen"] < 0:
        shutil.rmtree(base, ignore_errors=True)
        raise RuntimeError(
            "stream_split_leakage_incremental: the document stream "
            f"delivered zero micro-batches from {path}"
        )
    pair_bands = spark.read.parquet(
        os.path.join(pairs_dir, "batch=*")
    )
    pairs = pair_bands.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_shared_bands")
    )
    final = split_leakage_matrix(pairs).localCheckpoint(eager=True)
    shutil.rmtree(base, ignore_errors=True)
    return final


# ---------------------------------------------------------------------------
# Streaming Mann-Whitney location-drift monitor
# ---------------------------------------------------------------------------

def _mwu_monitor_oracle() -> str:
    from kafka_stream_processing_spark.operators.quality_rank import (
        MWU_Z_CRIT_005,
    )

    z_sql = """(CAST(u2 AS DOUBLE) - CAST(mu2 AS DOUBLE))
               / (2.0 * sqrt((CAST(na AS DOUBLE) * nb / 12.0)
                             * ((n + 1.0)
                                - CAST(tie AS DOUBLE)
                                  / (CAST(n AS DOUBLE) * (n - 1.0)))))"""
    return f"""
    WITH train AS (
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY doc_id) - 1 AS rn,
               count(*) OVER () AS nn
        FROM documents WHERE source <> 'src0'
    ),
    chunked AS (
        SELECT doc_id, n_chars AS v, rn // ((nn + 2) // 3) AS chunk_id
        FROM train
    ),
    keys AS (
        SELECT chunk_id, min(doc_id) AS chunk_min_doc_id
        FROM chunked GROUP BY 1
    ),
    ref_hist AS (
        SELECT n_chars AS v, count(*) AS a
        FROM documents WHERE source = 'src0' GROUP BY 1
    ),
    b_hist AS (
        SELECT chunk_id, v, count(*) AS b FROM chunked GROUP BY 1, 2
    ),
    merged AS (
        SELECT chunk_id, v, SUM(a) AS a, SUM(b) AS b FROM (
            SELECT chunk_id, v, 0 AS a, b FROM b_hist
            UNION ALL
            SELECT k.chunk_id, r.v, r.a, 0 AS b
            FROM keys k CROSS JOIN ref_hist r
        ) GROUP BY 1, 2
    ),
    ranked AS (
        SELECT chunk_id, a, b, a + b AS m,
               COALESCE(SUM(a + b) OVER (
                   PARTITION BY chunk_id ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS sb
        FROM merged
    ),
    stats AS (
        SELECT chunk_id,
               SUM(a) AS na, SUM(b) AS nb,
               SUM(b * (2 * sb + m + 1)) AS r2,
               SUM(m * m * m - m) AS tie
        FROM ranked GROUP BY 1
    ),
    scored AS (
        SELECT chunk_id, na, nb,
               r2 - nb * (nb + 1) AS u2,
               na * nb AS mu2,
               na + nb AS n,
               tie
        FROM stats
    )
    SELECT k.chunk_min_doc_id,
           CAST(s.nb AS BIGINT) AS n_batch,
           CAST(s.u2 AS BIGINT) AS u2,
           {z_sql} AS z,
           abs({z_sql}) > {MWU_Z_CRIT_005} AS drift
    FROM scored s JOIN keys k ON k.chunk_id = s.chunk_id
    """


@register(
    "stream_mannwhitney_monitor",
    oracle=_mwu_monitor_oracle(),
    tags=("streaming", "drift", "quality"),
)
def stream_mannwhitney_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-micro-batch Mann-Whitney location monitor — the streaming
    deployment of quality_mannwhitney_drift beside the KS monitor
    (KS alarms on SHAPE, rank-sum U on LOCATION — a source quietly
    drifting to longer documents trips U long before the KS D budges):
    every arriving ingest batch is rank-sum tested against the trusted
    src0 length distribution with exact midrank tie handling.  The
    stream side collects only the VALUE-DISTINCT batch histogram per
    trigger (the KS monitor's bounded-state argument); U₂, the tie
    term, and the z chain run per chunk after the stream as the SAME
    exact-integer / fixed-IEEE arithmetic the batch gate pins, and the
    oracle reconstructs the three ingest slices relationally (chunk =
    doc_id rank thirds, the KS monitor's convention).

    Scale: per-trigger state is one value-histogram + the broadcast
    reference histogram (both distinct-values-sized); verdicts are
    per-batch final — nothing in the streaming state store, restart
    loses nothing."""
    from kafka_stream_processing_spark.operators.quality_rank import (
        MWU_Z_CRIT_005,
    )

    hist = _train_length_histograms(spark, sf_dir)
    walk = _walk_against_src0(spark, sf_dir, hist)
    m = F.col("a") + F.col("b")
    below = F.col("ca") + F.col("cb") - m  # ref+batch rows below v
    stats = walk.groupBy("chunk_min_doc_id", "na", "nb").agg(
        F.sum(F.col("b") * (2 * below + m + 1)).alias("r2"),
        F.sum(m * m * m - m).alias("tie"),
    )
    na, nb = F.col("na"), F.col("nb")
    n = na + nb
    u2 = F.col("r2") - nb * (nb + 1)
    z = (u2.cast("double") - (na * nb).cast("double")) / (
        F.lit(2.0)
        * F.sqrt(
            (na.cast("double") * nb / 12.0)
            * (
                (n + 1.0)
                - F.col("tie").cast("double")
                / (n.cast("double") * (n - 1.0))
            )
        )
    )
    return stats.select(
        "chunk_min_doc_id",
        nb.alias("n_batch"),
        u2.alias("u2"),
        z.alias("z"),
        (F.abs(z) > F.lit(MWU_Z_CRIT_005)).alias("drift"),
    )


# ---------------------------------------------------------------------------
# Streaming Good-Turing novelty monitor
# ---------------------------------------------------------------------------

def _gt_novelty_oracle() -> str:
    return """
    WITH docs AS (
        SELECT doc_id, text,
               row_number() OVER (ORDER BY doc_id) - 1 AS rn,
               count(*) OVER () AS nn
        FROM documents
    ),
    chunked AS (
        SELECT doc_id, text, rn // ((nn + 2) // 3) AS chunk_id FROM docs
    ),
    toks AS (
        SELECT chunk_id, string_split(text, ' ') AS t FROM chunked
    ),
    words AS (
        SELECT chunk_id,
               t[o] || ' ' || t[o+1] || ' ' || t[o+2] AS w
        FROM toks,
             LATERAL unnest(generate_series(1, len(t) - 2)) AS u(o)
        WHERE len(t) >= 3
    ),
    wc AS (SELECT chunk_id, w, count(*) AS c FROM words GROUP BY 1, 2),
    chunks AS (
        SELECT chunk_id, min(doc_id) AS chunk_min_doc_id
        FROM chunked GROUP BY 1
    ),
    minc AS (SELECT w, min(chunk_id) AS mc FROM wc GROUP BY 1),
    newc AS (SELECT mc AS chunk_id, count(*) AS n_new FROM minc GROUP BY 1),
    percw AS (
        SELECT ch.chunk_id, wc.w, SUM(wc.c) AS ccum
        FROM wc JOIN chunks ch ON wc.chunk_id <= ch.chunk_id
        GROUP BY 1, 2
    ),
    stats AS (
        SELECT chunk_id,
               count(*) AS n_types,
               SUM(ccum) AS n_tokens,
               COALESCE(SUM(CASE WHEN ccum = 1 THEN 1 END), 0) AS n1,
               COALESCE(SUM(CASE WHEN ccum = 2 THEN 1 END), 0) AS n2
        FROM percw GROUP BY 1
    )
    SELECT ch.chunk_min_doc_id,
           CAST(COALESCE(nw.n_new, 0) AS BIGINT) AS n_new_types,
           CAST(s.n_types AS BIGINT) AS n_types,
           CAST(s.n_tokens AS BIGINT) AS n_tokens,
           CAST(s.n1 AS BIGINT) AS n_singletons,
           CAST(s.n2 AS BIGINT) AS n_doubletons,
           CAST(s.n1 AS DOUBLE) / s.n_tokens AS missing_mass,
           CASE WHEN s.n2 > 0
                THEN s.n_types
                     + (CAST(s.n1 AS DOUBLE) * s.n1) / (2.0 * s.n2)
                ELSE CAST(s.n_types AS DOUBLE) END AS chao1_richness
    FROM stats s
    JOIN chunks ch ON ch.chunk_id = s.chunk_id
    LEFT JOIN newc nw ON nw.chunk_id = s.chunk_id
    """


@register(
    "stream_good_turing_novelty",
    oracle=_gt_novelty_oracle(),
    tags=("streaming", "corpus", "statistics"),
)
def stream_good_turing_novelty(
    spark: SparkSession, sf_dir: str, _source_path: str | None = None
) -> DataFrame:
    """Good-Turing novelty monitor at INGEST time — the streaming
    deployment of corpus_good_turing_mass (corpus.py:994), run over
    word 3-SHINGLE occurrences (the synthetic word vocabulary
    saturates at 31 types with zero singletons, which would make every
    estimator degenerate; the 3-gram type space is Heaps-open — ~16k
    types, ~9k singletons — so the trajectory is real): the corpus
    arrives over 3 micro-batches, each batch's shingle counts merge
    into the ACCUMULATED vocabulary, and the monitor emits the novelty
    trajectory after every batch — newly-discovered types, cumulative
    type/token counts, Good-Turing missing mass N₁/N and Chao1
    richness.  A crawl whose per-batch missing mass stops falling has
    stopped discovering vocabulary — the stop-crawling / stop-deduping
    signal available while ingest is still running rather than in a
    nightly batch audit.  Every count is an exact bigint; the two
    derived doubles are single IEEE divisions from those ints, so each
    batch's row is bit-identical to the oracle's relational
    reconstruction (cumulative shingle counts via a chunk≤c join).
    Micro-batch ORDER is data-derived, not filesystem-derived:
    cumulative state makes this the one monitor where arrival order is
    semantics, so each arriving batch is keyed by the ordinal in its
    chunk FILENAME and stashed, and folds drain in ordinal order (the
    scd2 stash-drain pattern, r10) — shuffled or equal chunk mtimes
    change nothing (pinned in tests/test_round10_ops.py).

    State: the accumulated vocab count table lives as atomic parquet
    generations (the CDC/split-leakage convention — crash leaves the
    previous generation intact; nothing in the streaming state store);
    it is Heaps-sublinear in the corpus (types ~ N^β, β≈0.5-0.7).
    Per batch: one left-anti join of the batch's type table against
    the previous generation (n_new), one groupBy(w) merge, one
    map-side-combined 4-int aggregate; the driver keeps only 8
    scalars per batch — sketch-sized, the Count-Min convention.  At
    100 TB the generation table becomes a bucketed table (or a MERGE
    target) keyed by word so the per-batch merge never reshuffles the
    accumulated side."""
    import os
    import re
    import shutil

    path = _source_path or _all_docs_chunked_source_dir(sf_dir)
    base = fresh_run_dir(sf_dir, "kssp_gt_vocab")
    ordinals = sorted(
        int(m.group(1))
        for f in os.listdir(path)
        if (m := re.match(r"chunk-(\d+)\.parquet$", f))
    )
    state = {"gen": -1, "idx": 0, "stashed": set()}
    pend_root = os.path.join(base, "pending")
    results: list[tuple[int, int, int, int, int, int, float, float]] = []

    def apply_batch(batch_df) -> None:
        s = batch_df.sparkSession
        bc = (
            split_words(batch_df)
            .select(F.explode(_word_grams(F.col("words"), 3)).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("c"))
            .localCheckpoint(eager=True)
        )
        min_doc = batch_df.agg(F.min("doc_id").alias("m")).collect()[0]["m"]
        if min_doc is None:
            return
        if state["gen"] >= 0:
            prev = s.read.parquet(os.path.join(base, f"gen={state['gen']}"))
            n_new = bc.join(prev, "w", "left_anti").count()
            merged = (
                prev.unionByName(bc)
                .groupBy("w")
                .agg(F.sum("c").alias("c"))
            )
        else:
            n_new = bc.count()
            merged = bc
        merged.write.mode("overwrite").parquet(
            os.path.join(base, f"gen={state['gen'] + 1}")
        )
        state["gen"] += 1
        row = (
            s.read.parquet(os.path.join(base, f"gen={state['gen']}"))
            .agg(
                F.count(F.lit(1)).alias("nt"),
                F.sum("c").alias("ntok"),
                F.coalesce(
                    F.sum(F.when(F.col("c") == 1, F.lit(1))), F.lit(0)
                ).alias("n1"),
                F.coalesce(
                    F.sum(F.when(F.col("c") == 2, F.lit(1))), F.lit(0)
                ).alias("n2"),
            )
            .collect()[0]
        )
        nt, ntok, n1, n2 = row["nt"], row["ntok"], row["n1"], row["n2"]
        chao1 = (
            nt + (float(n1) * n1) / (2.0 * n2) if n2 > 0 else float(nt)
        )
        results.append(
            (min_doc, n_new, nt, ntok, n1, n2, n1 / ntok, chao1)
        )

    def fold_batch(batch_df, batch_id: int) -> None:
        # one chunk file per trigger; the filename ordinal — not the
        # arrival position — decides when the cumulative fold runs
        row = batch_df.select(F.input_file_name().alias("f")).first()
        if row is None:
            return  # empty micro-batch
        m = re.search(r"chunk-(\d+)\.parquet", row["f"] or "")
        if m is None:
            raise RuntimeError(
                "stream_good_turing_novelty: micro-batch carries no "
                f"chunk ordinal (input_file_name={row['f']!r})"
            )
        ordinal = int(m.group(1))
        batch_df.write.mode("overwrite").parquet(
            os.path.join(pend_root, f"o={ordinal}")
        )
        state["stashed"].add(ordinal)
        while (
            state["idx"] < len(ordinals)
            and ordinals[state["idx"]] in state["stashed"]
        ):
            o = ordinals[state["idx"]]
            apply_batch(
                batch_df.sparkSession.read.parquet(
                    os.path.join(pend_root, f"o={o}")
                )
            )
            state["stashed"].discard(o)
            state["idx"] += 1

    stream = (
        file_stream(spark, path)
        .select("doc_id", "text")
    )
    run_foreach_batch(stream, fold_batch)
    shutil.rmtree(base, ignore_errors=True)
    if state["gen"] < 0:
        raise RuntimeError(
            "stream_good_turing_novelty: the document stream delivered "
            f"zero micro-batches from {path}"
        )
    if state["idx"] < len(ordinals):
        raise RuntimeError(
            "stream_good_turing_novelty: stream terminated with chunks "
            f"{ordinals[state['idx']:]} never delivered — the novelty "
            "trajectory is incomplete"
        )
    return spark.createDataFrame(
        results,
        "chunk_min_doc_id bigint, n_new_types bigint, n_types bigint, "
        "n_tokens bigint, n_singletons bigint, n_doubletons bigint, "
        "missing_mass double, chao1_richness double",
    )


# ---------------------------------------------------------------------------
# Streaming PSI monitor
# ---------------------------------------------------------------------------

def _psi_monitor_oracle() -> str:
    from kafka_stream_processing_spark.operators.quality_edf import (
        PSI_BUCKET_CHARS,
        PSI_DRIFT_THRESHOLD,
        PSI_SMOOTH,
    )

    return f"""
    WITH train AS (
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY doc_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM documents WHERE source <> 'src0'
    ),
    chunked AS (
        SELECT doc_id, n_chars // {PSI_BUCKET_CHARS} AS bucket,
               rn // ((n + 2) // 3) AS chunk_id
        FROM train
    ),
    keys AS (
        SELECT chunk_id, min(doc_id) AS chunk_min_doc_id,
               count(*) AS nb
        FROM chunked GROUP BY chunk_id
    ),
    ref AS (
        SELECT n_chars // {PSI_BUCKET_CHARS} AS bucket, count(*) AS ca
        FROM documents WHERE source = 'src0' GROUP BY 1
    ),
    hist_b AS (
        SELECT chunk_id, bucket, count(*) AS cb
        FROM chunked GROUP BY 1, 2
    ),
    allv AS (
        SELECT DISTINCT chunk_id, bucket FROM (
            SELECT chunk_id, bucket FROM hist_b
            UNION ALL
            SELECT k.chunk_id, r.bucket FROM keys k, ref r
        )
    ),
    cells AS (
        SELECT allv.chunk_id, allv.bucket,
               coalesce(r.ca, 0) AS ca, coalesce(hb.cb, 0) AS cb
        FROM allv
        LEFT JOIN ref r ON r.bucket = allv.bucket
        LEFT JOIN hist_b hb ON hb.chunk_id = allv.chunk_id
                           AND hb.bucket = allv.bucket
    ),
    m AS (
        SELECT chunk_id, ca, cb,
               SUM(ca) OVER (PARTITION BY chunk_id) AS na,
               SUM(cb) OVER (PARTITION BY chunk_id) AS nb,
               COUNT(*) OVER (PARTITION BY chunk_id) AS k
        FROM cells
    ),
    terms AS (
        SELECT chunk_id,
               (CAST(ca AS DOUBLE) + {PSI_SMOOTH})
                   / (CAST(na AS DOUBLE) + {PSI_SMOOTH} * k) AS p_ref,
               (CAST(cb AS DOUBLE) + {PSI_SMOOTH})
                   / (CAST(nb AS DOUBLE) + {PSI_SMOOTH} * k) AS p_cur
        FROM m
    ),
    t2 AS (
        SELECT chunk_id,
               CAST(round((p_ref - p_cur) * ln(p_ref / p_cur), 6)
                    AS DECIMAL(18,6)) AS term
        FROM terms
    ),
    agg AS (
        SELECT chunk_id, count(*) AS n_buckets,
               CAST(SUM(term) AS DOUBLE) AS psi
        FROM t2 GROUP BY chunk_id
    )
    SELECT k.chunk_min_doc_id,
           CAST(k.nb AS BIGINT) AS n_batch,
           CAST(a.n_buckets AS BIGINT) AS n_buckets,
           a.psi,
           a.psi > {PSI_DRIFT_THRESHOLD} AS drift
    FROM agg a JOIN keys k ON k.chunk_id = a.chunk_id
    """


@register(
    "stream_psi_monitor",
    oracle=_psi_monitor_oracle(),
    tags=("streaming", "drift", "quality"),
)
def stream_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch Population Stability Index against the trusted
    src0 reference — the streaming deployment of quality_psi_drift and
    the binned-mass sibling of stream_ks_drift_monitor (risk teams run
    BOTH: KS catches shape drift anywhere in the CDF, PSI weights the
    shift by where the mass actually moved): each arriving ingest batch
    folds to its fixed-width length-bucket histogram (map-side combine;
    one histogram-sized collect per trigger — the Benford monitor's
    bound), and ALL float arithmetic happens AFTER the stream on the
    collected integer histograms, in Spark expressions that mirror the
    batch gate exactly (0.5-smoothed proportions over the per-chunk
    ref∪batch bucket union, round-6 decimal terms, exact sum).
    Batches are keyed by min doc_id, so verdicts are batch-ORDER
    independent and the oracle reconstructs the same ingest slices
    relationally.

    Scale: streaming state is the per-trigger bucket histogram
    (≈ max(n_chars)/100 cells whatever the batch size); the reference
    histogram is computed once; nothing in the state store — restart
    re-reads the reference, verdicts are per-batch final."""
    from kafka_stream_processing_spark.operators.quality_edf import (
        PSI_BUCKET_CHARS,
        PSI_DRIFT_THRESHOLD,
        PSI_SMOOTH,
    )

    def bucket_hist(b: DataFrame) -> DataFrame:
        return b.groupBy(
            F.expr(f"n_chars div {PSI_BUCKET_CHARS}").alias("bucket")
        ).agg(F.count(F.lit(1)).alias("cb"))

    stream = file_stream(spark, _stream_train_docs_source_dir(sf_dir)).select(
        "doc_id", "n_chars"
    )
    hist_b = _per_batch_cells(stream, "doc_id", bucket_hist)
    ref = (
        table(spark, sf_dir, "documents")
        .filter(F.col("source") == "src0")
        .select(
            F.expr(f"n_chars div {PSI_BUCKET_CHARS}").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    keys = hist_b.groupBy("chunk_min_doc_id").agg(
        F.sum("cb").alias("nb_total")
    )
    allv = (
        hist_b.select("chunk_min_doc_id", "bucket")
        .unionByName(
            keys.select("chunk_min_doc_id").crossJoin(
                ref.select("bucket")
            )
        )
        .distinct()
    )
    cells = (
        allv.join(ref, "bucket", "left")
        .join(hist_b, ["chunk_min_doc_id", "bucket"], "left")
        .select(
            "chunk_min_doc_id",
            "bucket",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    w_chunk = Window.partitionBy("chunk_min_doc_id")
    m = cells.select(
        "chunk_min_doc_id",
        "ca",
        "cb",
        F.sum("ca").over(w_chunk).alias("na"),
        F.sum("cb").over(w_chunk).alias("nb"),
        F.count(F.lit(1)).over(w_chunk).alias("k"),
    )
    p_ref = (F.col("ca").cast("double") + F.lit(PSI_SMOOTH)) / (
        F.col("na").cast("double") + F.lit(PSI_SMOOTH) * F.col("k")
    )
    p_cur = (F.col("cb").cast("double") + F.lit(PSI_SMOOTH)) / (
        F.col("nb").cast("double") + F.lit(PSI_SMOOTH) * F.col("k")
    )
    terms = m.select(
        "chunk_min_doc_id",
        "nb",
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
    agg = terms.groupBy("chunk_min_doc_id").agg(
        F.max("nb").cast("bigint").alias("n_batch"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum("term").cast("double").alias("psi"),
    )
    return agg.select(
        "chunk_min_doc_id",
        "n_batch",
        "n_buckets",
        "psi",
        (F.col("psi") > F.lit(PSI_DRIFT_THRESHOLD)).alias("drift"),
    )


# ---------------------------------------------------------------------------
# Streaming A/B z-test monitor
# ---------------------------------------------------------------------------

def _ztest_monitor_oracle() -> str:
    from kafka_stream_processing_spark.operators.quality_kernel import (
        Z_CRIT_005,
    )

    return f"""
    WITH ordered AS (
        SELECT event_id, user_id, event_type,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM events
    ),
    chunked AS (
        SELECT event_id, user_id, event_type,
               rn // ((n + 2) // 3) AS chunk_id
        FROM ordered
    ),
    agg AS (
        SELECT chunk_id,
               min(event_id) AS chunk_min_event_id,
               SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
               SUM(CASE WHEN user_id % 2 = 0
                         AND event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS conv_a,
               SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS n_b,
               SUM(CASE WHEN user_id % 2 = 1
                         AND event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS conv_b
        FROM chunked GROUP BY chunk_id
    ),
    p AS (
        SELECT *,
               CAST(conv_a AS DOUBLE) / n_a AS p_a,
               CAST(conv_b AS DOUBLE) / n_b AS p_b,
               CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS p_pool
        FROM agg
    )
    SELECT chunk_min_event_id,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(conv_a AS BIGINT) AS conv_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(conv_b AS BIGINT) AS conv_b,
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
    """


@register(
    "stream_ab_ztest_monitor",
    oracle=_ztest_monitor_oracle(),
    tags=("streaming", "abtest", "quality"),
)
def stream_ab_ztest_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-micro-batch two-proportion z-test on purchase conversion
    (user_id-parity variants) — the streaming deployment of
    quality_two_proportion_ztest and the experiment-dashboard number a
    live A/B system recomputes per trigger (per-batch verdicts rather
    than a cumulative peeking sequence: each batch's z is final and
    batch-order-independent, keyed by min event_id; sequential/alpha-
    spending corrections are a driver-side policy over these rows):
    the stream folds each batch to FOUR integer cells (one conditional
    aggregate, constant state — the cheapest monitor in the family),
    and all derived arithmetic runs post-stream in Spark expressions
    identical to the batch gate's, so z is bit-identical cross-engine
    with no rounding discipline.  Chunk membership is deterministic
    via the (ts, event_id) staging sort mirrored by the oracle's
    row_number (the stream_update_mode_running_counts convention).

    Scale: per-trigger state is 4 integers whatever the batch size;
    nothing in the streaming state store — restarts lose no state and
    verdicts are per-batch final."""
    from kafka_stream_processing_spark.operators.quality_kernel import (
        Z_CRIT_005,
    )

    def arm_counts(b: DataFrame) -> DataFrame:
        aggs = []
        for arm, parity in (("a", 0), ("b", 1)):
            in_arm = F.col("user_id") % 2 == parity
            aggs += [
                F.sum(F.when(in_arm, F.lit(1)).otherwise(F.lit(0)))
                .alias(f"n_{arm}"),
                F.sum(
                    F.when(
                        in_arm & (F.col("event_type") == "purchase"),
                        F.lit(1),
                    ).otherwise(F.lit(0))
                ).alias(f"conv_{arm}"),
            ]
        return b.agg(*aggs)

    stream = normalize_events(
        file_stream(spark, _stream_chunked_source_dir(sf_dir))
    )
    cells = _per_batch_cells(stream, "event_id", arm_counts)
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    p_pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    p = cells.select(
        "chunk_min_event_id",
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        p_a.alias("p_a"),
        p_b.alias("p_b"),
        p_pool.alias("p_pool"),
    )
    z = (F.col("p_a") - F.col("p_b")) / F.sqrt(
        F.col("p_pool")
        * (F.lit(1.0) - F.col("p_pool"))
        * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    # Empty-variant guard mirrors quality_two_proportion_ztest: a
    # chunk where one arm has zero rows reports NULL, not inf noise.
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return p.select(
        "chunk_min_event_id",
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.when(both, z).alias("z_stat"),
        F.when(both, F.abs(z) > F.lit(Z_CRIT_005)).alias(
            "significant_005"
        ),
    )


# ---------------------------------------------------------------------------
# Streaming isotonic recalibration
# ---------------------------------------------------------------------------

def _isotonic_monitor_oracle() -> str:
    from kafka_stream_processing_spark.operators.quality_calibration import (
        ISO_BIN_CHARS,
        ISO_TOKEN_THRESHOLD,
    )

    return f"""
    WITH train AS (
        SELECT doc_id, n_chars, text,
               row_number() OVER (ORDER BY doc_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM documents WHERE source <> 'src0'
    ),
    chunked AS (
        SELECT doc_id,
               n_chars // {ISO_BIN_CHARS} AS b,
               CASE WHEN len(string_split(text, ' '))
                        > {ISO_TOKEN_THRESHOLD} THEN 1 ELSE 0 END AS y,
               rn // ((n + 2) // 3) AS chunk_id
        FROM train
    ),
    keys AS (
        SELECT chunk_id, min(doc_id) AS ck FROM chunked GROUP BY 1
    ),
    bins AS (
        SELECT chunk_id, b, count(*) AS nb, SUM(y) AS yb
        FROM chunked GROUP BY 1, 2
    ),
    cum AS (
        SELECT chunk_id, b, nb, yb,
               SUM(nb) OVER (PARTITION BY chunk_id ORDER BY b) AS cn,
               SUM(yb) OVER (PARTITION BY chunk_id ORDER BY b) AS cy
        FROM bins
    ),
    rng AS (
        SELECT j.chunk_id, j.b AS jb, k.b AS kb,
               CAST(k.cy - j.cy + j.yb AS DOUBLE)
                   / (k.cn - j.cn + j.nb) AS avg_jk
        FROM cum j JOIN cum k
          ON j.chunk_id = k.chunk_id AND j.b <= k.b
    ),
    m AS (
        SELECT i.chunk_id, i.b, r.jb, min(r.avg_jk) AS mn
        FROM cum i JOIN rng r
          ON r.chunk_id = i.chunk_id
         AND r.jb <= i.b AND r.kb >= i.b
        GROUP BY 1, 2, 3
    ),
    fit AS (
        SELECT chunk_id, b, max(mn) AS fitted FROM m GROUP BY 1, 2
    )
    SELECT k.ck AS chunk_min_doc_id,
           CAST(c.b AS BIGINT) AS bin,
           CAST(c.nb AS BIGINT) AS n,
           CAST(c.yb AS BIGINT) AS n_pos,
           CAST(c.yb AS DOUBLE) / c.nb AS rate_raw,
           f.fitted AS rate_isotonic
    FROM cum c
    JOIN fit f ON f.chunk_id = c.chunk_id AND f.b = c.b
    JOIN keys k ON k.chunk_id = c.chunk_id
    """


@register(
    "stream_isotonic_recalibration",
    oracle=_isotonic_monitor_oracle(),
    tags=("streaming", "calibration", "quality"),
)
def stream_isotonic_recalibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-micro-batch isotonic recalibration — each arriving ingest
    batch gets its OWN monotone calibration curve of P(long doc |
    length bin), the drift-robust way production systems keep a
    calibrated score head fresh (a global curve trained once goes
    stale as the input mix shifts; the per-batch curves are what a
    recalibration job publishes): the stream folds each trigger to an
    integer (bin, count, positives) histogram — the Benford/PSI
    monitor bound — and the minimax-PAVA fit runs POST-stream through
    the exact shared kernel the batch gate uses
    (quality.isotonic_minimax_fit, partitioned by chunk — kernel reuse
    guard-tested), so every per-chunk fitted value is one exact
    integer division selected by min/max, bit-identical cross-engine.
    Chunks keyed by min doc_id (batch-order independent; oracle
    reconstructs the same slices relationally).

    Scale: per-trigger state is the bin histogram; the O(B³) minimax
    joins run per chunk on bin tables.  Nothing in the streaming
    state store."""
    from kafka_stream_processing_spark.operators.quality_calibration import (
        _length_bins,
        isotonic_minimax_fit,
    )

    stream = file_stream(spark, _stream_train_docs_source_dir(sf_dir)).select(
        "doc_id", "n_chars", "text"
    )
    bins = _per_batch_cells(
        stream, "doc_id", lambda b: _length_bins(b, "nb", "yb")
    )
    fitted = isotonic_minimax_fit(bins, part=["chunk_min_doc_id"])
    return fitted.select(
        "chunk_min_doc_id",
        F.col("b").cast("bigint").alias("bin"),
        F.col("nb").cast("bigint").alias("n"),
        F.col("yb").cast("bigint").alias("n_pos"),
        (F.col("yb").cast("double") / F.col("nb")).alias("rate_raw"),
        F.col("fitted").alias("rate_isotonic"),
    )


# ---------------------------------------------------------------------------
# Streaming Pettitt changepoint monitor
# ---------------------------------------------------------------------------


def _pettitt_monitor_oracle() -> str:
    return f"""
    WITH ordered AS (
        SELECT event_id, ts, value,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM events
    ),
    chunked AS (
        SELECT event_id, ts, value, rn // ((n + 2) // 3) AS chunk_id
        FROM ordered
    ),
    keys AS (
        SELECT chunk_id, min(event_id) AS ck FROM chunked GROUP BY 1
    ),
    daily AS (
        SELECT chunk_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               SUM(CAST(value AS DECIMAL(18,6))) AS x
        FROM chunked GROUP BY 1, 2
    ),
    ranked AS (
        SELECT chunk_id, day, x,
               rank() OVER (PARTITION BY chunk_id ORDER BY x) AS rk,
               count(*) OVER (PARTITION BY chunk_id, x) AS eq,
               row_number() OVER (PARTITION BY chunk_id
                                  ORDER BY day) AS t,
               count(*) OVER (PARTITION BY chunk_id) AS nd
        FROM daily
    ),
    u AS (
        SELECT chunk_id, day, t, nd,
               t * (nd + 1)
                   - SUM(2 * (rk - 1) + eq + 1)
                         OVER (PARTITION BY chunk_id ORDER BY day
                               ROWS UNBOUNDED PRECEDING) AS u_t
        FROM ranked
    ),
    summary AS (
        SELECT chunk_id, max(abs(u_t)) AS k_stat, max(nd) AS n_days
        FROM u WHERE t < nd GROUP BY 1
    ),
    cp AS (
        SELECT u.chunk_id, min(u.day) AS change_day
        FROM u JOIN summary s ON s.chunk_id = u.chunk_id
        WHERE u.t < u.nd AND abs(u.u_t) = s.k_stat
        GROUP BY 1
    )
    SELECT k.ck AS chunk_min_event_id,
           CAST(u.day AS VARCHAR) AS day,
           CAST(u.u_t AS BIGINT) AS u_t,
           CAST(s.k_stat AS BIGINT) AS k_stat,
           CAST(c.change_day AS VARCHAR) AS change_day,
           (6.0 * CAST(s.k_stat AS DOUBLE) * CAST(s.k_stat AS DOUBLE))
               / (CAST(s.n_days AS DOUBLE) * s.n_days * s.n_days
                  + CAST(s.n_days AS DOUBLE) * s.n_days) AS pettitt_z,
           (6.0 * CAST(s.k_stat AS DOUBLE) * CAST(s.k_stat AS DOUBLE))
               / (CAST(s.n_days AS DOUBLE) * s.n_days * s.n_days
                  + CAST(s.n_days AS DOUBLE) * s.n_days)
               > {PETTITT_LN40} AS significant_005
    FROM u
    JOIN keys k ON k.chunk_id = u.chunk_id
    JOIN summary s ON s.chunk_id = u.chunk_id
    JOIN cp c ON c.chunk_id = u.chunk_id
    WHERE u.t < u.nd
    """


@register(
    "stream_pettitt_monitor",
    oracle=_pettitt_monitor_oracle(),
    tags=("streaming", "changepoint", "quality"),
)
def stream_pettitt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch Pettitt changepoint test on daily revenue — the
    streaming deployment of window_pettitt_changepoint and the
    monitor a revenue pipeline runs per ingest slice: each batch folds
    to its CALENDAR-sized daily-revenue cells (exact micro-unit
    integers — the histogram-sized driver state the KS/PSI monitors
    established), and ALL test arithmetic — midrank identity,
    U-trace, K, the log-space verdict — runs post-stream in Spark
    expressions identical to the batch operator's, partitioned by
    chunk.  Batches are keyed by min event_id (data-derived,
    batch-order-independent); chunk membership is deterministic via
    the (ts, event_id) staging sort mirrored by the oracle's
    row_number.  Ranks compare exact micro-unit BIGINTs, so ties are
    integer equality on both engines.

    Scale: per-trigger driver traffic is one daily histogram
    (≤ calendar days); nothing in the streaming state store — verdicts
    are per-batch final and a restart loses no state."""
    stream = normalize_events(
        file_stream(spark, _stream_chunked_source_dir(sf_dir))
    )
    daily = _per_batch_cells(
        stream, "event_id", _daily_revenue_cells
    ).withColumnRenamed("chunk_min_event_id", "ck")
    ranked = daily.select(
        "ck",
        "day",
        F.rank()
        .over(Window.partitionBy("ck").orderBy("xm"))
        .alias("rk"),
        F.count(F.lit(1))
        .over(Window.partitionBy("ck", "xm"))
        .alias("eq"),
        F.row_number()
        .over(Window.partitionBy("ck").orderBy("day"))
        .alias("t"),
        F.count(F.lit(1)).over(Window.partitionBy("ck")).alias("nd"),
    )
    cum = (
        Window.partitionBy("ck")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    u = ranked.select(
        "ck",
        "day",
        "t",
        "nd",
        (
            F.col("t") * (F.col("nd") + F.lit(1))
            - F.sum(
                F.lit(2) * (F.col("rk") - F.lit(1))
                + F.col("eq")
                + F.lit(1)
            ).over(cum)
        ).alias("u_t"),
    ).filter(F.col("t") < F.col("nd"))
    summary = u.groupBy("ck").agg(
        F.max(F.abs(F.col("u_t"))).alias("k_stat"),
        F.max("nd").alias("n_days"),
    )
    with_k = u.join(F.broadcast(summary), "ck")
    cp = (
        with_k.filter(F.abs(F.col("u_t")) == F.col("k_stat"))
        .groupBy("ck")
        .agg(F.min("day").alias("change_day"))
    )
    nd = F.col("n_days").cast("double")
    kd = F.col("k_stat").cast("double")
    z = (F.lit(6.0) * kd * kd) / (
        nd * F.col("n_days") * F.col("n_days") + nd * F.col("n_days")
    )
    return with_k.join(F.broadcast(cp), "ck").select(
        F.col("ck").alias("chunk_min_event_id"),
        F.col("day").cast("string").alias("day"),
        F.col("u_t").cast("bigint").alias("u_t"),
        F.col("k_stat").cast("bigint").alias("k_stat"),
        F.col("change_day").cast("string").alias("change_day"),
        z.alias("pettitt_z"),
        (z > F.lit(PETTITT_LN40)).alias("significant_005"),
    )


# ---------------------------------------------------------------------------
# Streaming Markov transition monitor
# ---------------------------------------------------------------------------


@register(
    "stream_markov_transition_monitor",
    oracle="""
    WITH ordered AS (
        SELECT event_id, ts, user_id, event_type,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM events
    ),
    chunked AS (
        SELECT event_id, ts, user_id, event_type,
               rn // ((n + 2) // 3) AS chunk_id
        FROM ordered
    ),
    keys AS (
        SELECT chunk_id, min(event_id) AS ck FROM chunked GROUP BY 1
    ),
    seq AS (
        SELECT chunk_id, event_type,
               lag(event_type) OVER (PARTITION BY chunk_id, user_id
                                     ORDER BY ts, event_id)
                   AS from_type
        FROM chunked
    ),
    c AS (
        SELECT chunk_id, from_type, event_type AS to_type,
               count(*) AS n
        FROM seq WHERE from_type IS NOT NULL
        GROUP BY 1, 2, 3
    )
    SELECT k.ck AS chunk_min_event_id,
           c.from_type, c.to_type,
           CAST(c.n AS BIGINT) AS n,
           CAST(SUM(c.n) OVER (PARTITION BY c.chunk_id, c.from_type)
                AS BIGINT) AS from_total,
           CAST(c.n AS DOUBLE)
               / SUM(c.n) OVER (PARTITION BY c.chunk_id, c.from_type)
               AS p
    FROM c JOIN keys k ON k.chunk_id = c.chunk_id
    """,
    tags=("streaming", "sequence", "quality"),
)
def stream_markov_transition_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-micro-batch Markov transition matrix — the streaming
    deployment of window_markov_event_transitions and the behavioral
    drift monitor a session pipeline runs per trigger: each batch
    folds its WITHIN-BATCH per-user adjacencies (lag over
    (ts, event_id), the registry tiebreak) into the |types|²
    transition cells — 25 integers of driver traffic per trigger, the
    most compact monitor in the family after the A/B z-test's four —
    and the MLE row normalization runs post-stream in Spark
    expressions identical to the batch operator's.  Batches are keyed
    by min event_id; transitions never cross batch boundaries
    (matching what a per-trigger monitor can actually see, and
    mirrored exactly by the oracle's per-chunk lag partition).

    Scale: per-trigger executor work is one window + one
    map-side-combined groupBy; driver state is the domain-bounded
    transition table.  Nothing in the streaming state store —
    verdicts per-batch final, restart loses nothing."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def transitions(b: DataFrame) -> DataFrame:
        return (
            b.select(
                F.lag("event_type").over(w).alias("from_type"),
                F.col("event_type").alias("to_type"),
            )
            .filter(F.col("from_type").isNotNull())
            .groupBy("from_type", "to_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    stream = normalize_events(
        file_stream(spark, _stream_chunked_source_dir(sf_dir))
    )
    c = _per_batch_cells(stream, "event_id", transitions)
    tot = Window.partitionBy("chunk_min_event_id", "from_type")
    return c.select(
        "chunk_min_event_id",
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.sum("n").over(tot).cast("bigint").alias("from_total"),
        (F.col("n").cast("double") / F.sum("n").over(tot)).alias("p"),
    )


# ---------------------------------------------------------------------------
# Streaming weighted-reservoir merge (Efraimidis-Spirakis)
# ---------------------------------------------------------------------------


def _es_stream_oracle() -> str:
    from kafka_stream_processing_spark.operators.pipeline import (
        ES_SAMPLE_K,
        _ES_SCALE,
    )

    return f"""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               ln((CAST(('0x' || substr(md5(doc_id || '_es'), 1, 15))
                        AS BIGINT) + 1) / {_ES_SCALE}) / n_chars
                   AS es_key
        FROM documents WHERE source <> 'src0'
    )
    SELECT doc_id,
           CAST(n_chars AS BIGINT) AS weight,
           es_key
    FROM keyed
    ORDER BY es_key DESC, doc_id
    LIMIT {ES_SAMPLE_K}
    """


@register(
    "stream_weighted_sample_merge",
    oracle=_es_stream_oracle(),
    tags=("streaming", "sampling"),
)
def stream_weighted_sample_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming Efraimidis-Spirakis weighted reservoir: each arriving
    micro-batch computes its own top-k by the deterministic md5 ES key
    and the driver MERGES it into a running k-row reservoir — the
    mergeability theorem (top-k of a union == top-k of per-shard
    top-ks) exercised as a real incremental pipeline, and the oracle
    is simply the BATCH sample over the same training pool: stream
    and batch provably select the SAME documents with the same keys
    (the Count-Min/bloom-merge audit pattern applied to sampling).

    Scale: per-trigger driver traffic is k rows (the legal top-k fold
    of stream_global_topk_foreachbatch); per-batch executor work is a
    map-side key + TakeOrderedAndProject.  State is the k-row
    reservoir, never the stream; restart re-merges from the persisted
    reservoir exactly like the sketch family."""
    from kafka_stream_processing_spark.operators.dedup import hash64
    from kafka_stream_processing_spark.operators.pipeline import (
        ES_SAMPLE_K,
        _ES_SCALE,
    )

    path = _stream_train_docs_source_dir(sf_dir)
    reservoir: list[tuple[float, int, int]] = []  # (-key, doc_id, w)

    def fold_batch(batch_df, batch_id: int) -> None:
        u = (
            hash64(
                F.concat(
                    F.col("doc_id").cast("string"), F.lit("_es")
                )
            )
            + F.lit(1)
        ) / F.lit(_ES_SCALE)
        rows = (
            batch_df.select(
                "doc_id",
                F.col("n_chars").cast("bigint").alias("weight"),
                (F.log(u) / F.col("n_chars")).alias("es_key"),
            )
            .orderBy(F.col("es_key").desc(), F.col("doc_id"))
            .limit(ES_SAMPLE_K)
            .collect()
        )
        for r in rows:
            reservoir.append(
                (-r["es_key"], int(r["doc_id"]), int(r["weight"]))
            )
        reservoir.sort()
        del reservoir[ES_SAMPLE_K:]

    stream = (
        file_stream(spark, path)
        .select("doc_id", "n_chars")
    )
    run_foreach_batch(stream, fold_batch)

    return spark.createDataFrame(
        [(doc_id, w, -negkey) for negkey, doc_id, w in reservoir],
        "doc_id bigint, weight bigint, es_key double",
    )


# ---------------------------------------------------------------------------
# Streaming funnel monitor
# ---------------------------------------------------------------------------


@register(
    "stream_funnel_monitor",
    oracle="""
    WITH ordered AS (
        SELECT event_id, ts, user_id, event_type,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM events
    ),
    chunked AS (
        SELECT event_id, ts, user_id, event_type,
               rn // ((n + 2) // 3) AS chunk_id
        FROM ordered
    ),
    keys AS (
        SELECT chunk_id, min(event_id) AS ck FROM chunked GROUP BY 1
    ),
    fc AS (
        SELECT chunk_id, user_id, min(ts) AS first_click
        FROM chunked WHERE event_type = 'click'
        GROUP BY 1, 2
    ),
    conv AS (
        SELECT fc.chunk_id, fc.user_id
        FROM fc JOIN chunked e
          ON e.chunk_id = fc.chunk_id
         AND e.user_id = fc.user_id
         AND e.event_type = 'purchase'
         AND e.ts > fc.first_click
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT k.ck AS chunk_min_event_id,
               (SELECT count(*) FROM fc WHERE fc.chunk_id = k.chunk_id)
                   AS n_clicked,
               (SELECT count(*) FROM conv
                WHERE conv.chunk_id = k.chunk_id) AS n_converted
        FROM keys k
    )
    SELECT chunk_min_event_id,
           CAST(n_clicked AS BIGINT) AS n_clicked,
           CAST(n_converted AS BIGINT) AS n_converted,
           CASE WHEN n_clicked > 0
                THEN CAST(n_converted AS DOUBLE) / n_clicked
           END AS conversion_rate
    FROM agg
    """,
    tags=("streaming", "funnel", "behavioral"),
)
def stream_funnel_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch click→purchase funnel — the streaming
    deployment of funnel_click_to_purchase and the live conversion
    dashboard number: each trigger folds its batch to TWO integers
    (clickers, converters-after-first-click) with the rate derived
    post-stream, keyed by min event_id; funnel membership is
    WITHIN-batch (what a per-trigger dashboard can see — the batch op
    remains the cross-batch truth, the same relationship the Markov
    monitor has to its batch matrix).  Chunk membership is
    deterministic via the (ts, event_id) staging sort mirrored by the
    oracle's row_number.

    Scale: per-trigger executor work is one user-keyed aggregate
    (map-side combined): a user converted iff their last purchase is
    later than their first click.  Driver state is two integers per
    trigger — the A/B monitor's shape.  Nothing in the streaming state
    store."""

    def funnel_counts(b: DataFrame) -> DataFrame:
        event = F.col("event_type")
        users = b.groupBy("user_id").agg(
            F.max((event == "click").cast("int")).alias("clicked"),
            F.min(F.when(event == "click", F.col("ts"))).alias("first"),
            F.max(F.when(event == "purchase", F.col("ts"))).alias("last"),
        )
        converted = F.col("user_id").isNotNull() & (
            F.col("last") > F.col("first")
        )
        return users.agg(
            F.count(F.when(F.col("clicked") == 1, 1)).alias("n_clicked"),
            F.count(F.when(converted, 1)).alias("n_converted"),
        )

    stream = normalize_events(
        file_stream(spark, _stream_chunked_source_dir(sf_dir))
    )
    c = _per_batch_cells(stream, "event_id", funnel_counts)
    return c.select(
        "chunk_min_event_id",
        "n_clicked",
        "n_converted",
        F.when(
            F.col("n_clicked") > 0,
            F.col("n_converted").cast("double") / F.col("n_clicked"),
        ).alias("conversion_rate"),
    )


# ---------------------------------------------------------------------------
# Streaming attribution monitor
# ---------------------------------------------------------------------------


@register(
    "stream_attribution_monitor",
    oracle="""
    WITH ordered AS (
        SELECT event_id, ts, user_id, event_type, value, props,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM events
    ),
    chunked AS (
        SELECT event_id, ts, user_id, event_type, value, props,
               rn // ((n + 2) // 3) AS chunk_id
        FROM ordered
    ),
    keys AS (
        SELECT chunk_id, min(event_id) AS ck FROM chunked GROUP BY 1
    ),
    clicks AS (
        SELECT chunk_id, user_id, ts AS c_ts, event_id AS c_id,
               'ch' || CAST(CAST(json_extract_string(props, '$.k')
                                 AS BIGINT) % 4 AS VARCHAR) AS channel
        FROM chunked WHERE event_type = 'click'
    ),
    pur AS (
        SELECT chunk_id, user_id, ts AS p_ts, event_id AS p_id, value
        FROM chunked WHERE event_type = 'purchase'
    ),
    j AS (
        SELECT p.chunk_id, p.p_id, p.value, c.channel, c.c_ts, c.c_id
        FROM pur p JOIN clicks c
          ON c.chunk_id = p.chunk_id
         AND c.user_id = p.user_id
         AND c.c_ts < p.p_ts
         AND c.c_ts >= p.p_ts - INTERVAL 7 DAY
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY chunk_id, p_id
                                  ORDER BY c_ts DESC, c_id DESC) AS rl,
               count(*) OVER (PARTITION BY chunk_id, p_id) AS cnt
        FROM j
    ),
    agg AS (
        SELECT chunk_id, channel,
               count(*) AS n_touches,
               SUM(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS n_last,
               CAST(COALESCE(SUM(CASE WHEN rl = 1
                             THEN CAST(value AS DECIMAL(18,6)) END),
                             0) AS DOUBLE) AS last_touch_credit,
               CAST(SUM(CAST(round(value / cnt, 6) AS DECIMAL(18,6)))
                    AS DOUBLE) AS linear_credit
        FROM ranked GROUP BY 1, 2
    )
    SELECT k.ck AS chunk_min_event_id,
           a.channel,
           CAST(a.n_touches AS BIGINT) AS n_touches,
           CAST(a.n_last AS BIGINT) AS n_last,
           a.last_touch_credit,
           a.linear_credit
    FROM agg a JOIN keys k ON k.chunk_id = a.chunk_id
    """,
    tags=("streaming", "attribution", "behavioral"),
)
def stream_attribution_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-micro-batch marketing attribution — the streaming
    deployment of join_attribution_multitouch and the HANDOFF r07
    idea seed: each trigger assembles WITHIN-BATCH click->purchase
    journeys (same user, click strictly before the purchase, 7-day
    lookback) and credits purchase value per synthetic channel
    (props.k % 4) under last-touch and linear models, keyed by the
    batch's min event_id.  Within-batch membership is what a
    per-trigger dashboard can see; the batch op stays the cross-batch
    truth — the Markov/funnel monitors' documented relationship.
    Chunk membership is deterministic via the (ts, event_id) staging
    sort mirrored by the oracle's row_number.

    Scale: per-trigger executor work is the batch op's user-keyed
    range join scoped to one micro-batch; driver state is
    channels x triggers rows of exact-decimal credit cells — the
    sketch-sized driver-state class.  Nothing in the streaming state
    store."""
    from kafka_stream_processing_spark.operators.relational import (
        ATTRIB_CHANNELS,
        ATTRIB_LOOKBACK_DAYS,
    )
    from kafka_stream_processing_spark.functions.exact import dec

    def channel_credit(batch_df: DataFrame) -> DataFrame:
        k = F.get_json_object("props", "$.k").cast("bigint")
        clicks = batch_df.filter(
            F.col("event_type") == "click"
        ).select(
            "user_id",
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_id"),
            F.concat(
                F.lit("ch"), (k % ATTRIB_CHANNELS).cast("string")
            ).alias("channel"),
        )
        pur = batch_df.filter(
            F.col("event_type") == "purchase"
        ).select(
            "user_id",
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
            "value",
        )
        j = pur.join(
            clicks,
            (clicks["user_id"] == pur["user_id"])
            & (F.col("c_ts") < F.col("p_ts"))
            & (
                F.col("c_ts")
                >= F.col("p_ts")
                - F.expr(f"INTERVAL {ATTRIB_LOOKBACK_DAYS} DAYS")
            ),
        ).select("p_id", "value", "channel", "c_ts", "c_id")
        ranked = j.select(
            "p_id",
            "value",
            "channel",
            F.row_number()
            .over(
                Window.partitionBy("p_id").orderBy(
                    F.desc("c_ts"), F.desc("c_id")
                )
            )
            .alias("rl"),
            F.count(F.lit(1))
            .over(Window.partitionBy("p_id"))
            .alias("cnt"),
        )
        zero = F.lit(0).cast("decimal(18,6)")
        return ranked.groupBy("channel").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            F.sum(
                F.when(F.col("rl") == 1, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("n_last"),
            F.coalesce(
                F.sum(F.when(F.col("rl") == 1, dec("value"))), zero
            )
            .cast("double")
            .alias("last_touch_credit"),
            F.sum(
                F.round(F.col("value") / F.col("cnt"), 6).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("linear_credit"),
        )

    stream = normalize_events(
        file_stream(spark, _stream_chunked_source_dir(sf_dir))
    )
    return _per_batch_cells(stream, "event_id", channel_credit)


# ---------------------------------------------------------------------------
# Streaming calibration (ECE) monitor
# ---------------------------------------------------------------------------

def _ece_monitor_oracle() -> str:
    from kafka_stream_processing_spark.operators.quality_calibration import (
        ISO_BIN_CHARS,
        ISO_TOKEN_THRESHOLD,
    )

    return f"""
    WITH test_rows AS (
        SELECT doc_id,
               n_chars // {ISO_BIN_CHARS} AS b,
               CASE WHEN len(string_split(text, ' '))
                        > {ISO_TOKEN_THRESHOLD} THEN 1 ELSE 0 END AS y,
               row_number() OVER (ORDER BY doc_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM documents WHERE source = 'src0'
    ),
    chunked AS (
        SELECT doc_id, b, y, rn // ((n + 2) // 3) AS chunk_id
        FROM test_rows
    ),
    keys AS (
        SELECT chunk_id, min(doc_id) AS chunk_min_doc_id
        FROM chunked GROUP BY chunk_id
    ),
    train AS (
        SELECT n_chars // {ISO_BIN_CHARS} AS b, count(*) AS nt,
               SUM(CASE WHEN len(string_split(text, ' '))
                            > {ISO_TOKEN_THRESHOLD}
                   THEN 1 ELSE 0 END) AS yt
        FROM documents WHERE source <> 'src0' GROUP BY 1
    ),
    cells AS (
        SELECT chunk_id, b, count(*) AS n_test, SUM(y) AS y_test
        FROM chunked GROUP BY 1, 2
    ),
    bins AS (
        SELECT c.chunk_id, c.n_test,
               CAST(t.yt AS DOUBLE) / t.nt AS f_pred,
               CAST(c.y_test AS DOUBLE) / c.n_test AS obs_rate
        FROM cells c JOIN train t ON t.b = c.b
    ),
    agg AS (
        SELECT chunk_id,
               CAST(SUM(n_test) AS BIGINT) AS n_scored,
               CAST(count(*) AS BIGINT) AS n_bins,
               CAST(SUM(CAST(round(
                   n_test * abs(f_pred - obs_rate), 12)
               AS DECIMAL(28,12))) AS DOUBLE) / SUM(n_test) AS ece,
               max(abs(f_pred - obs_rate)) AS mce
        FROM bins GROUP BY chunk_id
    )
    SELECT k.chunk_min_doc_id, a.n_scored, a.n_bins, a.ece, a.mce
    FROM agg a JOIN keys k USING (chunk_id)
    """


@register(
    "stream_ece_monitor",
    oracle=_ece_monitor_oracle(),
    tags=("streaming", "calibration", "quality"),
)
def stream_ece_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-micro-batch expected calibration error against the STATIC
    training-pool reliability table — the streaming deployment of
    quality_expected_calibration_error and the calibration member of
    the monitor family (KS watches shape, PSI watches binned mass,
    this watches whether the quality classifier's SCORES still mean
    what they claim on each arriving evaluation batch).  Forecasts
    (per-length-bin training rates) are computed once from the static
    pool; each src0 micro-batch folds to integer per-bin (n, sum y)
    cells — the Benford/PSI monitors' histogram-sized per-trigger
    bound — and ALL float math happens post-stream in Spark
    expressions mirroring the batch ECE gate (integer-ratio rates,
    round-12 DECIMAL(28,12) weighted-gap terms, exact sum; bins
    unseen in training are skipped by the same inner join).  Batches
    key by min doc_id so verdicts are batch-order independent and the
    oracle rebuilds the same slices relationally.

    Scale: zero state-store use — per-trigger state is one bin
    histogram; the train table is bin-sized and computed once.
    Restart replays cleanly (verdicts are per-batch final)."""
    from kafka_stream_processing_spark.operators.quality_calibration import (
        _length_bins,
    )

    path = _stage_doc_chunks(sf_dir, "source = 'src0'", "testdocs")
    stream = file_stream(spark, path).select("doc_id", "n_chars", "text")
    cells = _per_batch_cells(
        stream, "doc_id", lambda b: _length_bins(b, "n_test", "y_test")
    )
    train = _length_bins(
        table(spark, sf_dir, "documents").filter(F.col("source") != "src0"),
        "nt",
        "yt",
    )
    bins = cells.join(train, "b").select(
        "chunk_min_doc_id",
        "n_test",
        (F.col("yt").cast("double") / F.col("nt")).alias("f_pred"),
        (F.col("y_test").cast("double") / F.col("n_test")).alias(
            "obs_rate"
        ),
    )
    gap = F.abs(F.col("f_pred") - F.col("obs_rate"))
    return bins.groupBy("chunk_min_doc_id").agg(
        F.sum("n_test").cast("bigint").alias("n_scored"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
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


# ---------------------------------------------------------------------------
# Streaming exact-quantile monitor
# ---------------------------------------------------------------------------

#: Quantiles the streaming monitor reports per ingest batch.
QUANTILE_MONITOR_QS = (0.5, 0.9, 0.99)


def _quantile_monitor_oracle() -> str:
    qcols = ",\n           ".join(
        f"""max(CASE WHEN cum >= CAST(ceil({q} * nb) AS BIGINT)
                 AND cum - c < CAST(ceil({q} * nb) AS BIGINT)
            THEN v END) AS p{str(q)[2:]}"""
        for q in QUANTILE_MONITOR_QS
    )
    return f"""
    WITH train AS (
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY doc_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM documents WHERE source <> 'src0'
    ),
    chunked AS (
        SELECT doc_id, n_chars AS v, rn // ((n + 2) // 3) AS chunk_id
        FROM train
    ),
    keys AS (
        SELECT chunk_id, min(doc_id) AS chunk_min_doc_id,
               count(*) AS nb
        FROM chunked GROUP BY chunk_id
    ),
    hist AS (
        SELECT chunk_id, v, count(*) AS c
        FROM chunked GROUP BY 1, 2
    ),
    cum_t AS (
        SELECT chunk_id, v, c,
               SUM(c) OVER (PARTITION BY chunk_id ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS cum
        FROM hist
    ),
    j AS (
        SELECT c.chunk_id, c.v, c.c, c.cum, k.nb
        FROM cum_t c JOIN keys k USING (chunk_id)
    ),
    agg AS (
        SELECT chunk_id,
           {qcols}
        FROM j GROUP BY chunk_id
    )
    SELECT k.chunk_min_doc_id,
           CAST(k.nb AS BIGINT) AS n_batch,
           CAST(a.p5 AS BIGINT) AS p50,
           CAST(a.p9 AS BIGINT) AS p90,
           CAST(a.p99 AS BIGINT) AS p99
    FROM agg a JOIN keys k USING (chunk_id)
    """


@register(
    "stream_quantile_monitor",
    oracle=_quantile_monitor_oracle(),
    tags=("streaming", "quality", "statistics"),
)
def stream_quantile_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-micro-batch EXACT length quantiles (p50/p90/p99) of the
    ingest stream — the size dashboard a pipeline trends per batch
    (p99 length jumping is the first symptom of boilerplate floods or
    truncation bugs, before any distribution test fires).  Quantiles
    are the lower discrete statistic (smallest v with cumulative
    count >= ceil(q*n)) computed from the per-batch VALUE HISTOGRAM:
    each trigger folds to integer (value, count) cells — n_chars is
    domain-bounded, so per-trigger state is histogram-sized however
    large the batch — and the order statistics are read off the
    cumulative counts post-stream in Spark expressions; integer
    in, integer out, no interpolation, no floats anywhere.  Batches
    key by min doc_id (order-independent verdicts; the oracle
    rebuilds the same ingest slices relationally).

    Scale: the exact-histogram trick is the point — a naive per-batch
    sort is a per-trigger global sort, while the histogram is one
    map-side-combined groupBy whose size is the value domain, not the
    batch; for unbounded-domain columns the documented swap is the
    approx_percentile sketch (quality_approx_quantiles), same
    table shape."""
    hist = _train_length_histograms(spark, sf_dir)
    keys = hist.groupBy("chunk_min_doc_id").agg(
        F.sum("c").alias("nb")
    )
    w_cum = (
        Window.partitionBy("chunk_min_doc_id")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_t = hist.select(
        "chunk_min_doc_id",
        "v",
        "c",
        F.sum("c").over(w_cum).alias("cum"),
    ).join(keys, "chunk_min_doc_id")
    aggs = [
        F.max(
            F.when(
                (
                    F.col("cum")
                    >= F.ceil(F.lit(q) * F.col("nb")).cast("bigint")
                )
                & (
                    F.col("cum") - F.col("c")
                    < F.ceil(F.lit(q) * F.col("nb")).cast("bigint")
                ),
                F.col("v"),
            )
        )
        .cast("bigint")
        .alias(f"p{str(q)[2:]}")
        for q in QUANTILE_MONITOR_QS
    ]
    out = cum_t.groupBy("chunk_min_doc_id").agg(*aggs)
    return out.join(keys, "chunk_min_doc_id").select(
        "chunk_min_doc_id",
        F.col("nb").cast("bigint").alias("n_batch"),
        F.col("p5").alias("p50"),
        F.col("p9").alias("p90"),
        "p99",
    )


# ---------------------------------------------------------------------------
# Streaming curation-yield monitor (Gopher rule chain per ingest batch)
# ---------------------------------------------------------------------------

_YIELD_MONITOR_ORACLE = """
    WITH train AS (
        SELECT doc_id, text,
               row_number() OVER (ORDER BY doc_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM documents WHERE source <> 'src0'
    ),
    feats AS (
        SELECT doc_id, rn // ((n + 2) // 3) AS chunk_id,
               len(string_split(text, ' ')) AS n_words,
               CAST(list_aggregate(list_transform(string_split(text, ' '),
                                                  w -> length(w)), 'sum')
                    AS BIGINT) AS total_chars,
               list_max(list_transform(
                   list_distinct(string_split(text, ' ')),
                   w -> len(list_filter(string_split(text, ' '),
                                        t -> t = w)))) AS n_top,
               len(list_filter(string_split(text, ' '),
                               t -> t IN ('the', 'a', 'of', 'and', 'to',
                                          'in'))) AS n_stop
        FROM train
    ),
    flagged AS (
        SELECT chunk_id, doc_id,
               CASE WHEN n_words >= 30
                     AND total_chars >= 3 * n_words
                     AND total_chars <= 8 * n_words
                     AND n_top * 8 <= n_words
                     AND n_stop >= 1 THEN 1 ELSE 0 END AS keep
        FROM feats
    )
    SELECT min(doc_id) AS chunk_min_doc_id,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(SUM(keep) AS BIGINT) AS n_keep,
           CAST(SUM(keep) AS DOUBLE) / count(*) AS keep_rate
    FROM flagged GROUP BY chunk_id
    """


@register(
    "stream_filter_yield_monitor",
    oracle=_YIELD_MONITOR_ORACLE,
    tags=("streaming", "pipeline", "quality"),
)
def stream_filter_yield_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-micro-batch Gopher-filter keep rate — the curation-yield
    dashboard cell a streaming ingest pipeline watches per trigger: a
    keep-rate cliff on one batch means the upstream crawl changed
    (encoding break, boilerplate flood) long before any distribution
    gate fires.  The four rules are quality_gopher_filters' exact
    integer cross-product expressions (shared gopher_feature_columns
    kernel) evaluated INSIDE the stream as a stateless narrow
    projection — zero streaming state, verdicts final per batch,
    keyed by min doc_id so the oracle rebuilds the same ingest slices
    relationally.

    Scale: the filter is embarrassingly parallel per document; the
    per-trigger driver traffic is TWO integers (kept, total).  This
    is the operator the reference's linear topology most resembles —
    a per-record scorer folded to a per-window count — done with
    bounded state."""
    from kafka_stream_processing_spark.operators.pipeline import (
        gopher_feature_columns,
    )

    keep = (
        (F.col("n_words") >= 30)
        & (F.col("total_chars") >= 3 * F.col("n_words"))
        & (F.col("total_chars") <= 8 * F.col("n_words"))
        & (F.col("n_top") * 8 <= F.col("n_words"))
        & (F.col("n_stop") >= 1)
    ).cast("bigint")
    stream = file_stream(spark, _stream_train_docs_source_dir(sf_dir)).select(
        "doc_id", "text"
    )
    out = _per_batch_cells(
        stream,
        "doc_id",
        lambda b: b.select(*gopher_feature_columns())
        .select(keep.alias("keep"))
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum("keep").alias("n_keep"),
        ),
    )
    return out.select(
        "chunk_min_doc_id",
        "n_batch",
        "n_keep",
        (F.col("n_keep").cast("double") / F.col("n_batch")).alias(
            "keep_rate"
        ),
    )


# ---------------------------------------------------------------------------
# Streaming SCD2 history maintenance
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
    WITH marked AS (
        SELECT user_id, event_type, ts, event_id,
               CASE WHEN lag(event_type) OVER w IS NULL
                         OR lag(event_type) OVER w <> event_type
                    THEN 1 ELSE 0 END AS is_change
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    runs AS (
        SELECT user_id, event_type, ts,
               sum(is_change) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS run_id
        FROM marked
    ),
    hist AS (
        SELECT user_id, event_type, run_id,
               min(ts) AS valid_from, count(*) AS n_events
        FROM runs GROUP BY user_id, event_type, run_id
    )
    SELECT user_id, event_type,
           epoch_us(valid_from) AS valid_from_us,
           epoch_us(lead(valid_from) OVER (PARTITION BY user_id
                                           ORDER BY valid_from, run_id))
               AS valid_to_us,
           n_events
    FROM hist
    """


@register(
    "stream_scd2_incremental",
    oracle=_SCD2_ORACLE,
    tags=("streaming", "scd", "cdc"),
)
def stream_scd2_incremental(
    spark: SparkSession, sf_dir: str, _source_path: str | None = None
) -> DataFrame:
    """Streaming SCD2 maintenance: the slowly-changing-dimension
    history that scd2_user_type_history derives in one batch pass,
    maintained INCREMENTALLY as events arrive — each micro-batch
    folds its own per-user runs (the same change-flag/run-id windows,
    batch-local), then MERGEs against the table's OPEN rows: an open
    run whose type matches the batch's first run for that user is
    extended (n_events accumulates, valid_from survives); otherwise
    it closes at the new run's start.  Same generational-parquet
    target as the CDC op (atomic generation swap = crash safety;
    per-key state lives in the TABLE, not the state store).  The
    oracle is scd2_user_type_history's oracle VERBATIM — replaying
    the stream provably reconstructs the batch-derived history, the
    core incremental-maintenance contract.

    Correctness lever: the staged event chunks are contiguous slices
    of the global (ts, event_id) order, so applying them in CHUNK
    ORDER makes every merge strictly follow the previous one per
    user — the head-merge is the only cross-batch interaction; run
    ordering inside a batch carries the run's first event_id so
    valid_to closure resolves ties exactly as the batch oracle's
    (valid_from, run_id) lead does.  Application order is derived
    from DATA, not the filesystem: each arriving micro-batch is
    keyed by the ordinal in its chunk FILENAME and stashed; merges
    drain in ordinal order as soon as the next expected chunk is
    present (r09 VERDICT item 4 — FileStreamSource's
    oldest-mtime-first delivery is no longer load-bearing, so
    shuffled or equal chunk mtimes change nothing; pinned in
    tests/test_round10_ops.py).  At 100 TB the same contract comes
    from the upstream writer (ordinal-named commit files per epoch,
    e.g. Kafka partition offsets), and the reorder buffer is bounded
    by the source's out-of-orderness, never the table size.

    Scale: each merge touches open rows (≤ one per user) plus one
    batch; closed history is append-only and never rewritten — at
    100 TB the open-row table hash-partitions by user and the merge
    rewrites only matching partitions, while the batch-local run
    collapse shuffles once on user_id (the event stream's standard
    key)."""
    import os
    import re
    import shutil

    path = _source_path or _stream_chunked_source_dir(sf_dir)
    base = fresh_run_dir(sf_dir, "kssp_scd2_target")
    # Expected chunk ordinals, read from the staged filenames once —
    # empty chunks are never written, so the expected list (not a
    # dense 0..n-1 counter) drives the drain.
    ordinals = sorted(
        int(m.group(1))
        for f in os.listdir(path)
        if (m := re.match(r"chunk-(\d+)\.parquet$", f))
    )
    state = {"gen": -1, "idx": 0, "stashed": set()}
    pend_root = os.path.join(base, "pending")

    def apply_batch(batch_df) -> None:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        marked = batch_df.select(
            "user_id", "event_type", "ts", "event_id"
        ).withColumn(
            "is_change",
            F.when(
                F.lag("event_type").over(w).isNull()
                | (F.lag("event_type").over(w) != F.col("event_type")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        runs = marked.withColumn(
            "run_id",
            F.sum("is_change").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        batch_runs = runs.groupBy("user_id", "run_id").agg(
            F.any_value("event_type").alias("event_type"),
            F.unix_micros(F.min("ts")).alias("valid_from_us"),
            F.min(F.struct("ts", "event_id"))["event_id"].alias(
                "first_event_id"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
        if state["gen"] >= 0:
            prev = batch_df.sparkSession.read.parquet(
                os.path.join(base, f"gen={state['gen']}")
            )
        else:
            prev = batch_df.sparkSession.createDataFrame(
                [],
                "user_id bigint, event_type string, "
                "valid_from_us bigint, valid_to_us bigint, "
                "n_events bigint, first_event_id bigint",
            )
        closed_prev = prev.filter(F.col("valid_to_us").isNotNull())
        open_prev = prev.filter(F.col("valid_to_us").isNull())
        first_runs = batch_runs.filter(F.col("run_id") == 1).select(
            F.col("user_id").alias("fu"),
            F.col("event_type").alias("ft"),
            F.col("valid_from_us").alias("ff"),
            F.col("n_events").alias("fn"),
        )
        op = open_prev.join(
            first_runs, F.col("user_id") == F.col("fu"), "left"
        )
        # open rows: untouched users carry over; same-type heads extend;
        # different-type heads close the open row at the new run start.
        carried = op.filter(F.col("fu").isNull()).select(*prev.columns)
        extended = op.filter(
            F.col("fu").isNotNull() & (F.col("ft") == F.col("event_type"))
        ).select(
            "user_id",
            "event_type",
            "valid_from_us",
            F.lit(None).cast("bigint").alias("valid_to_us"),
            (F.col("n_events") + F.col("fn")).alias("n_events"),
            "first_event_id",
        )
        closed_now = op.filter(
            F.col("fu").isNotNull() & (F.col("ft") != F.col("event_type"))
        ).select(
            "user_id",
            "event_type",
            "valid_from_us",
            F.col("ff").alias("valid_to_us"),
            "n_events",
            "first_event_id",
        )
        # batch runs that were absorbed into an extended open row drop out
        absorbed = op.filter(
            F.col("fu").isNotNull() & (F.col("ft") == F.col("event_type"))
        ).select(F.col("user_id").alias("au"))
        fresh = batch_runs.join(
            absorbed,
            (F.col("user_id") == F.col("au")) & (F.col("run_id") == 1),
            "left_anti",
        ).select(
            "user_id",
            "event_type",
            "valid_from_us",
            F.lit(None).cast("bigint").alias("valid_to_us"),
            "n_events",
            "first_event_id",
        )
        # close within the union of (extended + fresh) per user: each
        # non-last run ends where the next begins — (valid_from,
        # first_event_id) mirrors the oracle's (valid_from, run_id).
        live = extended.unionByName(fresh)
        w_close = Window.partitionBy("user_id").orderBy(
            "valid_from_us", "first_event_id"
        )
        live_closed = live.withColumn(
            "valid_to_us",
            F.lead("valid_from_us").over(w_close),
        )
        out = (
            closed_prev.unionByName(carried)
            .unionByName(closed_now)
            .unionByName(live_closed.select(*prev.columns))
        )
        out.write.mode("overwrite").parquet(
            os.path.join(base, f"gen={state['gen'] + 1}")
        )
        state["gen"] += 1

    def merge_batch(batch_df, batch_id: int) -> None:
        # maxFilesPerTrigger=1 ⇒ exactly one chunk file per batch; its
        # filename ordinal — not its arrival position — decides when it
        # is applied.
        row = batch_df.select(F.input_file_name().alias("f")).first()
        if row is None:
            return  # empty micro-batch
        m = re.search(r"chunk-(\d+)\.parquet", row["f"] or "")
        if m is None:
            raise RuntimeError(
                "stream_scd2_incremental: micro-batch carries no chunk "
                f"ordinal (input_file_name={row['f']!r}) — cannot derive "
                "a data-driven application order"
            )
        ordinal = int(m.group(1))
        batch_df.write.mode("overwrite").parquet(
            os.path.join(pend_root, f"o={ordinal}")
        )
        state["stashed"].add(ordinal)
        # Drain every consecutive expected chunk that has arrived.
        while (
            state["idx"] < len(ordinals)
            and ordinals[state["idx"]] in state["stashed"]
        ):
            o = ordinals[state["idx"]]
            apply_batch(
                batch_df.sparkSession.read.parquet(
                    os.path.join(pend_root, f"o={o}")
                )
            )
            state["stashed"].discard(o)
            state["idx"] += 1

    stream = normalize_events(file_stream(spark, path))
    run_foreach_batch(stream, merge_batch)
    if state["gen"] < 0:
        shutil.rmtree(base, ignore_errors=True)
        raise RuntimeError(
            "stream_scd2_incremental: the event stream delivered zero "
            f"micro-batches from {path} — no generation materialized"
        )
    if state["idx"] < len(ordinals):
        missing = ordinals[state["idx"]:]
        shutil.rmtree(base, ignore_errors=True)
        raise RuntimeError(
            "stream_scd2_incremental: stream terminated with chunks "
            f"{missing} never delivered — history is incomplete"
        )
    final = (
        spark.read.parquet(os.path.join(base, f"gen={state['gen']}"))
        .select(
            "user_id",
            "event_type",
            "valid_from_us",
            "valid_to_us",
            "n_events",
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(base, ignore_errors=True)
    return final


# ---------------------------------------------------------------------------
# Streaming bottom-k (KMV) sketch maintenance
# ---------------------------------------------------------------------------

def _bottomk_stream_oracle() -> str:
    return f"""
    WITH ordered AS (
        SELECT event_id, user_id,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM events
    ),
    chunked AS (
        SELECT event_id, user_id, rn // ((n + 2) // 3) AS chunk_id
        FROM ordered
    ),
    keys AS (
        SELECT chunk_id, min(event_id) AS chunk_min_event_id
        FROM chunked GROUP BY chunk_id
    ),
    prefix AS (
        SELECT k.chunk_id, k.chunk_min_event_id,
               CAST(('0x' || substr(
                   md5(CAST(c.user_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   AS h
        FROM keys k JOIN chunked c ON c.chunk_id <= k.chunk_id
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT chunk_id, chunk_min_event_id, h,
               row_number() OVER (PARTITION BY chunk_id
                                  ORDER BY h) AS rn,
               count(*) OVER (PARTITION BY chunk_id) AS n_seen
        FROM prefix
    ),
    sk AS (
        SELECT chunk_id, any_value(chunk_min_event_id)
                   AS chunk_min_event_id,
               any_value(n_seen) AS n_exact_prefix,
               count(*) AS k_used,
               max(CASE WHEN rn = {BOTTOMK_K} THEN h END) AS h_k
        FROM ranked WHERE rn <= {BOTTOMK_K}
        GROUP BY chunk_id
    )
    SELECT chunk_min_event_id,
           CAST(n_exact_prefix AS BIGINT) AS n_exact_prefix,
           CAST(k_used AS BIGINT) AS k_used,
           h_k,
           CASE WHEN h_k IS NULL THEN CAST(k_used AS DOUBLE)
                ELSE ({BOTTOMK_K} - 1.0) * 1152921504606846976.0
                     / CAST(h_k AS DOUBLE)
           END AS est_distinct
    FROM sk
    """


@register(
    "stream_bottomk_maintenance",
    oracle=_bottomk_stream_oracle(),
    tags=("streaming", "sketch", "corpus"),
)
def stream_bottomk_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming bottom-k (KMV) sketch maintenance — the incremental
    form the batch sketch's mergeability promises: each micro-batch's
    per-partition bottom-k folds into a k-row driver sketch by
    union-then-recut (the KMV merge law), and every trigger emits the
    CUMULATIVE distinct-user estimate so a dashboard watches it
    converge as the stream drains.  Driver state is exactly k hashes
    (= the legal sketch-sized class: the same bound as the Count-Min
    and Misra-Gries monitors), independent of stream volume; the
    oracle reconstructs each chunk PREFIX relationally and re-derives
    the same order statistics — stream and batch provably agree at
    every trigger, not just at the end.

    Exactness: identical to sketch_bottomk_distinct — cross-engine
    md5 order statistics, exact BIGINT k-th minimum, one mirrored
    IEEE estimator chain, exact-count degradation while the sketch is
    unfilled.

    Scale: per trigger ONE distinct-hash collapse of the batch and a
    k-row TakeOrderedAndProject collect; the merge is O(k log k) on
    the driver.  This is the pattern for ANY mergeable sketch riding
    foreachBatch."""
    from kafka_stream_processing_spark.operators.dedup import hash64

    path = _stream_chunked_source_dir(sf_dir)
    sketch: set[int] = set()
    seen: set[int] = set()  # exact prefix count: test-scale audit only
    rows: list[tuple[int, int, int]] = []

    def fold_batch(batch_df, batch_id: int) -> None:
        key = batch_df.agg(F.min("event_id").alias("k")).collect()[0][
            "k"
        ]
        if key is None:
            return
        batch_hashes = [
            int(r["h"])
            for r in batch_df.select(
                hash64(F.col("user_id").cast("string")).alias("h")
            )
            .distinct()
            .orderBy("h")
            .limit(BOTTOMK_K)
            .collect()  # k rows per trigger, by construction
        ]
        sketch.update(batch_hashes)
        extra = sorted(sketch)[BOTTOMK_K:]
        for h in extra:
            sketch.discard(h)
        # exact prefix audit (unbounded at production scale — the
        # oracle's n_exact_prefix column exists to CHECK the sketch at
        # test scale; production dashboards drop it)
        seen.update(
            int(r["h"])
            for r in batch_df.select(
                hash64(F.col("user_id").cast("string")).alias("h")
            )
            .distinct()
            .collect()
        )
        rows.append((int(key), len(seen), len(sketch)))

    stream = normalize_events(file_stream(spark, path))
    snapshots: list[tuple[int, int, int, int | None]] = []
    state = {"i": 0}

    def fold_with_snapshot(batch_df, batch_id: int) -> None:
        fold_batch(batch_df, batch_id)
        if len(rows) > state["i"]:
            key, n_seen, k_used = rows[-1]
            h_k = (
                max(sorted(sketch)[:BOTTOMK_K])
                if len(sketch) >= BOTTOMK_K
                else None
            )
            snapshots.append((key, n_seen, k_used, h_k))
            state["i"] = len(rows)

    run_foreach_batch(stream, fold_with_snapshot)

    out = spark.createDataFrame(
        snapshots,
        "chunk_min_event_id bigint, n_exact_prefix bigint, "
        "k_used bigint, h_k bigint",
    )
    est = F.when(
        F.col("h_k").isNull(), F.col("k_used").cast("double")
    ).otherwise(
        (F.lit(BOTTOMK_K) - F.lit(1.0))
        * F.lit(1152921504606846976.0)
        / F.col("h_k").cast("double")
    )
    return out.select(
        "chunk_min_event_id",
        "n_exact_prefix",
        "k_used",
        "h_k",
        est.alias("est_distinct"),
    )


# ---------------------------------------------------------------------------
# Streaming privacy (l-diversity) monitor
# ---------------------------------------------------------------------------

def _l_diversity_monitor_oracle() -> str:
    from kafka_stream_processing_spark.operators.quality_kernel import (
        KANON_BUCKET_CHARS,
    )

    return f"""
    WITH train AS (
        SELECT doc_id, lang, source, n_chars,
               row_number() OVER (ORDER BY doc_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM documents WHERE source <> 'src0'
    ),
    chunked AS (
        SELECT doc_id, lang, source,
               n_chars // {KANON_BUCKET_CHARS} AS len_bucket,
               rn // ((n + 2) // 3) AS chunk_id
        FROM train
    ),
    keys AS (
        SELECT chunk_id, min(doc_id) AS chunk_min_doc_id,
               count(*) AS nb
        FROM chunked GROUP BY chunk_id
    ),
    groups AS (
        SELECT chunk_id, lang, len_bucket,
               count(*) AS k,
               count(DISTINCT source) AS l_distinct
        FROM chunked GROUP BY 1, 2, 3
    ),
    agg AS (
        SELECT chunk_id,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(min(l_distinct) AS BIGINT) AS min_l,
               CAST(SUM(CASE WHEN l_distinct = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_leak_groups,
               CAST(SUM(CASE WHEN l_distinct = 1 THEN k ELSE 0 END)
                    AS BIGINT) AS n_leak_rows
        FROM groups GROUP BY chunk_id
    )
    SELECT k.chunk_min_doc_id,
           CAST(k.nb AS BIGINT) AS n_batch,
           a.n_groups, a.min_l, a.n_leak_groups, a.n_leak_rows,
           CAST(a.n_leak_rows AS DOUBLE) / k.nb AS leak_row_rate
    FROM agg a JOIN keys k USING (chunk_id)
    """


@register(
    "stream_l_diversity_monitor",
    oracle=_l_diversity_monitor_oracle(),
    tags=("streaming", "privacy", "quality"),
)
def stream_l_diversity_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-micro-batch l-diversity audit — the privacy gate run at
    INGEST time rather than at release: each arriving batch's
    quasi-identifier groups (lang × length bucket, the batch audit's
    convention) are checked for single-source disclosure BEFORE the
    batch joins the corpus, so a crawl slice that would create l=1
    groups is quarantined while it is still one batch, not discovered
    at release review.  Per-trigger state is the QI-domain-bounded
    group table (the Benford/PSI monitors' histogram class); counts
    are integers, the leak rate one mirrored division; batches key by
    min doc_id so the oracle rebuilds the same ingest slices
    relationally.

    Note the deliberate semantics: the audit is WITHIN-batch (what
    does this slice disclose by itself) — the release-level audit
    over the accumulated corpus is the batch op; the pair mirrors the
    KS-monitor / KS-batch relationship.

    Scale: one groupBy per trigger bounded by the QI domain; zero
    state-store use; restart replays cleanly."""
    from kafka_stream_processing_spark.operators.quality_kernel import (
        KANON_BUCKET_CHARS,
    )

    def qi_groups(b: DataFrame) -> DataFrame:
        return (
            b.groupBy(
                "lang",
                F.expr(f"n_chars div {KANON_BUCKET_CHARS}").alias(
                    "len_bucket"
                ),
            )
            .agg(
                F.count(F.lit(1)).alias("k"),
                F.count_distinct("source").alias("l_distinct"),
            )
            .agg(
                F.sum("k").alias("n_batch"),
                F.count(F.lit(1)).alias("n_groups"),
                F.min("l_distinct").alias("min_l"),
                F.sum(
                    (F.col("l_distinct") == 1).cast("int")
                ).alias("n_leak_groups"),
                F.sum(
                    F.when(F.col("l_distinct") == 1, F.col("k")).otherwise(
                        0
                    )
                ).alias("n_leak_rows"),
            )
        )

    stream = file_stream(spark, _stream_train_docs_source_dir(sf_dir)).select(
        "doc_id", "lang", "source", "n_chars"
    )
    out = _per_batch_cells(stream, "doc_id", qi_groups)
    return out.select(
        "*",
        (
            F.col("n_leak_rows").cast("double") / F.col("n_batch")
        ).alias("leak_row_rate"),
    )


# ---------------------------------------------------------------------------
# Streaming 1-Wasserstein drift monitor
# ---------------------------------------------------------------------------

_W1_MONITOR_ORACLE = """
    WITH train AS (
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY doc_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM documents WHERE source <> 'src0'
    ),
    chunked AS (
        SELECT doc_id, n_chars AS v, rn // ((n + 2) // 3) AS chunk_id
        FROM train
    ),
    keys AS (
        SELECT chunk_id, min(doc_id) AS chunk_min_doc_id,
               count(*) AS nb
        FROM chunked GROUP BY chunk_id
    ),
    ref AS (
        SELECT n_chars AS v, count(*) AS a
        FROM documents WHERE source = 'src0' GROUP BY 1
    ),
    ref_n AS (SELECT SUM(a) AS na FROM ref),
    cur AS (
        SELECT chunk_id, v, count(*) AS b
        FROM chunked GROUP BY 1, 2
    ),
    merged AS (
        SELECT chunk_id, v, SUM(a) AS a, SUM(b) AS b FROM (
            SELECT c.chunk_id, c.v, 0 AS a, c.b FROM cur c
            UNION ALL
            SELECT k.chunk_id, r.v, r.a, 0 AS b
            FROM keys k CROSS JOIN ref r
        ) GROUP BY 1, 2
    ),
    walked AS (
        SELECT m.chunk_id, m.v,
               SUM(m.a) OVER (PARTITION BY m.chunk_id ORDER BY m.v
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS ca,
               SUM(m.b) OVER (PARTITION BY m.chunk_id ORDER BY m.v
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS cb,
               lead(m.v) OVER (PARTITION BY m.chunk_id ORDER BY m.v)
                   AS v_next
        FROM merged m
    ),
    terms AS (
        SELECT w.chunk_id,
               round(abs(CAST(w.ca AS DOUBLE) / rn.na
                         - CAST(w.cb AS DOUBLE) / k.nb)
                     * (w.v_next - w.v), 6) AS term
        FROM walked w
        JOIN keys k USING (chunk_id)
        CROSS JOIN ref_n rn
        WHERE w.v_next IS NOT NULL
    )
    SELECT k.chunk_min_doc_id,
           CAST(k.nb AS BIGINT) AS n_batch,
           CAST(SUM(CAST(t.term AS DECIMAL(38,6))) AS DOUBLE)
               AS wasserstein_1
    FROM terms t JOIN keys k USING (chunk_id)
    GROUP BY k.chunk_min_doc_id, k.nb
    """


@register(
    "stream_wasserstein_monitor",
    oracle=_W1_MONITOR_ORACLE,
    tags=("streaming", "drift", "quality"),
)
def stream_wasserstein_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-micro-batch 1-Wasserstein distance against the trusted src0
    reference — the HORIZONTAL member of the drift-monitor family (KS
    watches the largest ECDF gap, PSI the binned mass shift; W1 reads
    'how many characters did the typical document move', in the
    column's own units, so an alarm threshold is a business number
    rather than a statistic).  Each ingest batch folds to its integer
    value histogram per trigger (the exact-quantile monitor's bound —
    domain-sized state however large the batch) and the step-ECDF
    integral runs post-stream in Spark expressions mirroring the
    batch quality_wasserstein_drift gate exactly.

    Scale: per-trigger state is one value histogram; the reference
    histogram computes once; verdict math is windows over distinct
    values per chunk — zero state store, order-independent batch keys,
    relational chunk reconstruction in the oracle."""
    hist = _train_length_histograms(spark, sf_dir)
    walked = _walk_against_src0(spark, sf_dir, hist).withColumn(
        "v_next",
        F.lead("v").over(Window.partitionBy("chunk_min_doc_id").orderBy("v")),
    )
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
        .select("chunk_min_doc_id", "nb", term.alias("term"))
        .groupBy("chunk_min_doc_id", "nb")
        .agg(
            F.sum(F.col("term").cast("decimal(38,6)"))
            .cast("double")
            .alias("wasserstein_1")
        )
        .select(
            "chunk_min_doc_id",
            F.col("nb").cast("bigint").alias("n_batch"),
            "wasserstein_1",
        )
    )


# ---------------------------------------------------------------------------
# Streaming circadian drift monitor (per-batch Watson U² + Kuiper on
# the hour-of-day circle)
# ---------------------------------------------------------------------------

def _circadian_monitor_oracle() -> str:
    from kafka_stream_processing_spark.operators.quality_edf import (
        WATSON_U2_CRIT_005,
    )

    return f"""
    WITH ordered AS (
        SELECT event_id, ts, event_type,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM events
    ),
    chunked AS (
        SELECT event_id, ts, event_type,
               rn // ((n + 2) // 3) AS chunk_id
        FROM ordered
    ),
    keys AS (
        SELECT chunk_id, min(event_id) AS chunk_min_event_id
        FROM chunked GROUP BY chunk_id
    ),
    hist AS (
        SELECT chunk_id, CAST(hour(ts) AS BIGINT) AS v,
               SUM(CASE WHEN event_type = 'click'
                        THEN 1 ELSE 0 END) AS ca_i,
               SUM(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS cb_i
        FROM chunked WHERE event_type IN ('click', 'purchase')
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT chunk_id, v, ca_i + cb_i AS m,
               SUM(ca_i) OVER (PARTITION BY chunk_id ORDER BY v) AS ca,
               SUM(cb_i) OVER (PARTITION BY chunk_id ORDER BY v) AS cb
        FROM hist
    ),
    tot AS (
        SELECT chunk_id, SUM(ca_i) AS na, SUM(cb_i) AS nb
        FROM hist GROUP BY chunk_id
    ),
    sums AS (
        SELECT c.chunk_id,
               CAST(t.na AS BIGINT) AS na,
               CAST(t.nb AS BIGINT) AS nb,
               CAST(SUM(c.m * (c.ca * t.nb - c.cb * t.na)) AS BIGINT)
                   AS s1,
               CAST(SUM(c.m * (c.ca * t.nb - c.cb * t.na)
                            * (c.ca * t.nb - c.cb * t.na)) AS BIGINT)
                   AS s2,
               CAST(greatest(0, max(c.ca * t.nb - c.cb * t.na))
                    AS BIGINT) AS dplus_num,
               CAST(greatest(0, max(c.cb * t.na - c.ca * t.nb))
                    AS BIGINT) AS dminus_num
        FROM cum c JOIN tot t ON t.chunk_id = c.chunk_id
        GROUP BY c.chunk_id, t.na, t.nb
    ),
    parts AS (
        SELECT chunk_id, na, nb,
               CAST((na + nb) * s2 - s1 * s1 AS BIGINT) AS u2_num,
               dplus_num, dminus_num
        FROM sums
    )
    SELECT k.chunk_min_event_id, p.na, p.nb, p.u2_num,
           CASE WHEN p.na = 0 OR p.nb = 0 THEN NULL
                ELSE CAST(p.u2_num AS DOUBLE)
                     / (CAST(p.na AS DOUBLE) * CAST(p.nb AS DOUBLE)
                        * CAST(p.na + p.nb AS DOUBLE)
                        * CAST(p.na + p.nb AS DOUBLE)
                        * CAST(p.na + p.nb AS DOUBLE))
           END AS watson_u2,
           CASE WHEN p.na = 0 OR p.nb = 0 THEN NULL
                ELSE CAST(p.dplus_num + p.dminus_num AS DOUBLE)
                     / (CAST(p.na AS DOUBLE) * CAST(p.nb AS DOUBLE))
           END AS kuiper_v,
           CASE WHEN p.na = 0 OR p.nb = 0 THEN NULL
                ELSE CAST(p.u2_num AS DOUBLE)
                     / (CAST(p.na AS DOUBLE) * CAST(p.nb AS DOUBLE)
                        * CAST(p.na + p.nb AS DOUBLE)
                        * CAST(p.na + p.nb AS DOUBLE)
                        * CAST(p.na + p.nb AS DOUBLE))
                     > {WATSON_U2_CRIT_005}
           END AS circadian_drift
    FROM parts p JOIN keys k ON k.chunk_id = p.chunk_id
    """


@register(
    "stream_circadian_monitor",
    oracle=_circadian_monitor_oracle(),
    tags=("streaming", "drift", "circular"),
)
def stream_circadian_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-micro-batch circadian-mix drift — the streaming deployment
    of quality_circadian_drift_clicks_purchases: each arriving events
    batch folds to its ≤24-row hour-of-day click/purchase histogram
    (one histogram-sized collect per trigger, the PSI monitor's bound)
    and the rotation-invariant verdict pair — Watson's U² (gate) and
    Kuiper's V (reported) — is computed POST-stream from the collected
    integer histograms in expressions identical to the batch gate, so
    every u2_num BIGINT is hash-stable cross-engine.  Batches are
    keyed by min event_id (batch-ORDER independent; the oracle
    reconstructs the same chunks via the (ts, event_id) staging-sort
    row_number — the stream_ab_ztest_monitor convention), and a chunk
    with an empty arm reports NULL, not inf.

    Scale: per-trigger state is a ≤24-cell integer histogram whatever
    the batch size; nothing in the streaming state store — restarts
    lose no state, verdicts are per-batch final."""
    from kafka_stream_processing_spark.operators.quality_edf import (
        WATSON_U2_CRIT_005,
    )

    def hour_hist(b: DataFrame) -> DataFrame:
        return (
            b.filter(F.col("event_type").isin("click", "purchase"))
            .groupBy(F.hour("ts").cast("bigint").alias("v"))
            .agg(*(
                F.sum(
                    F.when(F.col("event_type") == t, F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ).alias(name)
                for t, name in (("click", "ca_i"), ("purchase", "cb_i"))
            ))
        )

    stream = normalize_events(
        file_stream(spark, _stream_chunked_source_dir(sf_dir))
    )
    hist = _per_batch_cells(stream, "event_id", hour_hist)
    w = (
        Window.partitionBy("chunk_min_event_id")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    wc = Window.partitionBy("chunk_min_event_id")
    cum = hist.select(
        "chunk_min_event_id",
        "v",
        (F.col("ca_i") + F.col("cb_i")).alias("m"),
        F.sum("ca_i").over(w).alias("ca"),
        F.sum("cb_i").over(w).alias("cb"),
        F.sum("ca_i").over(wc).alias("na"),
        F.sum("cb_i").over(wc).alias("nb"),
    )
    g = F.col("ca") * F.col("nb") - F.col("cb") * F.col("na")
    sums = cum.groupBy("chunk_min_event_id", "na", "nb").agg(
        F.sum(F.col("m") * g).cast("bigint").alias("s1"),
        F.sum(F.col("m") * g * g).cast("bigint").alias("s2"),
        F.greatest(F.lit(0), F.max(g)).cast("bigint").alias("dplus_num"),
        F.greatest(F.lit(0), F.max(-g))
        .cast("bigint")
        .alias("dminus_num"),
    )
    n_comb = (F.col("na") + F.col("nb")).cast("bigint")
    u2_num = (n_comb * F.col("s2") - F.col("s1") * F.col("s1")).cast(
        "bigint"
    )
    both = (F.col("na") > 0) & (F.col("nb") > 0)
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
        "chunk_min_event_id",
        F.col("na").cast("bigint").alias("na"),
        F.col("nb").cast("bigint").alias("nb"),
        u2_num.alias("u2_num"),
        F.when(both, u2).alias("watson_u2"),
        F.when(both, kv).alias("kuiper_v"),
        F.when(both, u2 > F.lit(WATSON_U2_CRIT_005)).alias(
            "circadian_drift"
        ),
    )


_REPETITION_MONITOR_ORACLE = f"""
    WITH train AS (
        SELECT doc_id, text,
               row_number() OVER (ORDER BY doc_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM documents WHERE source <> 'src0'
    ),
    toks AS (
        SELECT doc_id, rn // ((n + 2) // 3) AS chunk_id,
               string_split(text, ' ') AS t
        FROM train
    ),
    bi AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t)),
                      i -> t[i] || ' ' || t[i+1])) AS g
        FROM toks WHERE len(t) >= 2
    ),
    bic AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY 1, 2),
    bia AS (SELECT doc_id, max(c) AS top_bigram_cnt FROM bic GROUP BY 1),
    tri AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 1),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
        FROM toks WHERE len(t) >= 3
    ),
    tric AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY 1, 2),
    tria AS (
        SELECT doc_id,
               SUM(c) AS n_trigrams,
               SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_trigram_occ
        FROM tric GROUP BY 1
    ),
    flagged AS (
        SELECT k.chunk_id, k.doc_id,
               CASE WHEN
                   CAST(2 * coalesce(bia.top_bigram_cnt, 0) AS DOUBLE)
                       / len(k.t) > {TOP_BIGRAM_FRAC_MAX}
                   OR (coalesce(tria.n_trigrams, 0) > 0
                       AND CAST(tria.dup_trigram_occ AS DOUBLE)
                           / tria.n_trigrams > {DUP_TRIGRAM_FRAC_MAX})
               THEN 1 ELSE 0 END AS rep
        FROM toks k
        LEFT JOIN bia ON bia.doc_id = k.doc_id
        LEFT JOIN tria ON tria.doc_id = k.doc_id
    )
    SELECT min(doc_id) AS chunk_min_doc_id,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(SUM(rep) AS BIGINT) AS n_repetitive,
           CAST(SUM(rep) AS DOUBLE) / count(*) AS repetitive_rate
    FROM flagged GROUP BY chunk_id
    """


@register(
    "stream_repetition_monitor",
    oracle=_REPETITION_MONITOR_ORACLE,
    tags=("streaming", "quality", "text"),
)
def stream_repetition_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-micro-batch REPETITION rate — the within-document loop gauge
    deployed incrementally, completing the streaming curation dashboard
    next to stream_filter_yield_monitor (lexical composition) and
    stream_contamination_scan (eval overlap): a repetitive-rate spike
    on one batch means the crawler hit a template farm or a pagination
    trap in that slice of the crawl.  The per-document metrics are
    text.repetition_metrics and the keep/drop rule is text.
    repetition_flag — the SAME construction the batch gate
    text_repetition_gopher_rules evaluates, imported, not re-written
    (the shared-kernel discipline the filter monitors follow), and the
    oracle rebuilds the same ingest slices relationally so stream and
    batch provably agree per chunk.

    Scale: stateless per trigger — the n-gram aggregations are
    (doc_id, gram)-keyed with map-side combine INSIDE each batch and
    collapse to one flag per document; per-trigger driver traffic is
    two integers.  Zero streaming state, verdicts final per batch,
    min-doc_id keyed so batch order cannot matter."""
    stream = file_stream(spark, _stream_train_docs_source_dir(sf_dir)).select(
        "doc_id", "text"
    )
    out = _per_batch_cells(
        stream,
        "doc_id",
        lambda b: repetition_metrics(b)
        .select(repetition_flag().cast("bigint").alias("rep"))
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum("rep").alias("n_repetitive"),
        ),
    )
    return out.select(
        "chunk_min_doc_id",
        "n_batch",
        "n_repetitive",
        (
            F.col("n_repetitive").cast("double") / F.col("n_batch")
        ).alias("repetitive_rate"),
    )


def _perm_entropy_monitor_oracle() -> str:
    return """
    WITH ordered AS (
        SELECT event_id, ts, value,
               row_number() OVER (ORDER BY ts, event_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM events
    ),
    chunked AS (
        SELECT event_id, ts, value, rn // ((n + 2) // 3) AS chunk_id
        FROM ordered
    ),
    keys AS (
        SELECT chunk_id, min(event_id) AS ck FROM chunked GROUP BY 1
    ),
    daily AS (
        SELECT chunk_id, CAST(date_trunc('day', ts) AS DATE) AS day,
               SUM(CAST(value AS DECIMAL(18,6))) AS x
        FROM chunked GROUP BY 1, 2
    ),
    lagged AS (
        SELECT chunk_id, x AS x0,
               lead(x, 1) OVER (PARTITION BY chunk_id ORDER BY day) AS x1,
               lead(x, 2) OVER (PARTITION BY chunk_id ORDER BY day) AS x2
        FROM daily
    ),
    pat AS (
        SELECT chunk_id,
               CASE WHEN x1 < x0 THEN 1 ELSE 0 END AS a,
               CASE WHEN x2 < x0 THEN 1 ELSE 0 END AS b,
               CASE WHEN x2 < x1 THEN 1 ELSE 0 END AS c
        FROM lagged WHERE x2 IS NOT NULL
    ),
    counts AS (
        SELECT chunk_id,
               CAST(count(*) AS BIGINT) AS n_windows,
               CAST(SUM(CASE WHEN a=0 AND b=0 AND c=0 THEN 1 ELSE 0 END) AS BIGINT) AS p012,
               CAST(SUM(CASE WHEN a=0 AND b=0 AND c=1 THEN 1 ELSE 0 END) AS BIGINT) AS p021,
               CAST(SUM(CASE WHEN a=1 AND b=0 AND c=0 THEN 1 ELSE 0 END) AS BIGINT) AS p102,
               CAST(SUM(CASE WHEN a=1 AND b=1 AND c=0 THEN 1 ELSE 0 END) AS BIGINT) AS p120,
               CAST(SUM(CASE WHEN a=0 AND b=1 AND c=1 THEN 1 ELSE 0 END) AS BIGINT) AS p201,
               CAST(SUM(CASE WHEN a=1 AND b=1 AND c=1 THEN 1 ELSE 0 END) AS BIGINT) AS p210
        FROM pat GROUP BY chunk_id
    )
    SELECT k.ck AS chunk_min_event_id,
           n_windows, p012, p021, p102, p120, p201, p210,
           {H_EXPR} AS perm_entropy,
           ({H_EXPR}) / ln(6.0) AS perm_entropy_norm
    FROM counts c JOIN keys k ON k.chunk_id = c.chunk_id
    """.replace("{H_EXPR}", _PERM_ENTROPY_EXPR)


@register(
    "stream_permutation_entropy_monitor",
    oracle=_perm_entropy_monitor_oracle(),
    tags=("streaming", "timeseries", "quality"),
)
def stream_permutation_entropy_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-micro-batch permutation entropy (Bandt-Pompe m=3) of daily
    revenue — the streaming deployment of
    window_permutation_entropy_daily, completing the per-ingest-slice
    dynamics dashboard next to stream_pettitt_monitor (level shifts)
    and stream_markov_transition_monitor (event-type mixing): an
    entropy COLLAPSE on one batch means that slice's day-to-day
    dynamic turned mechanical (replayed traffic, a stuck generator, a
    bot ramp — few ordinal motifs dominating), which no mean/variance
    monitor sees because ordinal patterns ignore magnitude.

    Exactness: each batch folds to its calendar-sized daily cells as
    EXACT micro-unit integers (the Pettitt/KS monitor pattern), so the
    three comparisons per stride-1 triple are integer comparisons;
    counts are integers and the entropy is the SAME shared 6-term SQL
    fold as the batch ops (_PERM_ENTROPY_EXPR).  Batches are keyed by
    min event_id — data-derived and batch-order-independent.

    Scale: per-trigger driver traffic is one daily histogram
    (≤ calendar days, the documented histogram-sized-by-construction
    collect); no streaming state store — verdicts are per-batch final
    and a restart loses no state."""
    stream = normalize_events(
        file_stream(spark, _stream_chunked_source_dir(sf_dir))
    )
    daily = _per_batch_cells(stream, "event_id", _daily_revenue_cells)
    w = Window.partitionBy("chunk_min_event_id").orderBy("day")
    lagged = daily.select(
        "chunk_min_event_id",
        F.col("xm").alias("x0"),
        F.lead("xm", 1).over(w).alias("x1"),
        F.lead("xm", 2).over(w).alias("x2"),
    ).filter(F.col("x2").isNotNull())
    return _permutation_entropy(lagged, "chunk_min_event_id")


@register(
    "stream_ams_f2_incremental",
    # SAME oracle as the batch sketch_ams_f2_estimate: the Z vector is
    # linear in the stream, so a correctly merged stream-built sketch
    # must equal the batch-built one INTEGER FOR INTEGER — the
    # comparison pins the merge, not just the estimate.
    oracle=AMS_F2_ORACLE,
    tags=("streaming", "sketch"),
)
def stream_ams_f2_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental AMS F2 maintenance over a real 3-micro-batch stream:
    each ``foreachBatch`` folds its batch's 16-row Z vector into a
    driver-held accumulator by ELEMENT-WISE SUM — the linear-sketch
    mergeability that makes AMS the skew statistic you can maintain
    per day/shard/topic and union later (the F2 twin of
    stream_countmin_incremental).  The merged sketch answers the same
    audit as the batch operator, against the same oracle: stream and
    batch sketches are provably IDENTICAL, not merely close.

    Scale: per-batch driver traffic is exactly AMS_R = 16 integers
    (collecting a SKETCH is the legal form of driver folding — the
    Count-Min contract verbatim); per-batch executor work is one
    explode(16) + map-side-combined SUM.  Restart recovery is
    re-folding from the last persisted Z vector."""
    path = _stream_chunked_source_dir(sf_dir)
    acc: dict[int, int] = {}

    def fold_batch(batch_df, batch_id: int) -> None:
        z = ams_z(
            batch_df.select(cm_item_col().alias("item"))
        ).collect()  # exactly AMS_R = 16 rows per batch
        for row in z:
            acc[row["r"]] = acc.get(row["r"], 0) + row["zr"]

    stream = normalize_events(file_stream(spark, path))
    run_foreach_batch(stream, fold_batch)
    if not acc:
        raise RuntimeError(
            "stream_ams_f2_incremental: zero micro-batches delivered "
            f"from {path} — no sketch to report"
        )
    merged = spark.createDataFrame(
        [(r, z) for r, z in sorted(acc.items())],
        schema="r int, zr bigint",
    )
    items = table(spark, sf_dir, "events").select(
        cm_item_col().alias("item")
    )
    return ams_report(spark, merged, items)


# ---------------------------------------------------------------------------
# Streaming tail monitor: per-batch exact VaR + expected shortfall
# ---------------------------------------------------------------------------

#: Tail level: VaR rank = ceil(alpha * n_batch) with alpha = NUM/DEN.
TAIL_MONITOR_NUM, TAIL_MONITOR_DEN = 9, 10

_TAIL_MONITOR_ORACLE = f"""
    WITH train AS (
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY doc_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM documents WHERE source <> 'src0'
    ),
    chunked AS (
        SELECT doc_id, n_chars AS v, rn // ((n + 2) // 3) AS chunk_id
        FROM train
    ),
    keys AS (
        SELECT chunk_id, min(doc_id) AS chunk_min_doc_id,
               CAST(count(*) AS BIGINT) AS nb
        FROM chunked GROUP BY chunk_id
    ),
    hist AS (
        SELECT chunk_id, v, CAST(count(*) AS BIGINT) AS c
        FROM chunked GROUP BY 1, 2
    ),
    cum_t AS (
        SELECT chunk_id, v, c,
               SUM(c) OVER (PARTITION BY chunk_id ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS cum
        FROM hist
    ),
    j AS (
        SELECT c.chunk_id, c.v, c.c, c.cum, k.nb,
               (k.nb * {TAIL_MONITOR_NUM} + {TAIL_MONITOR_DEN} - 1)
                   // {TAIL_MONITOR_DEN} AS k
        FROM cum_t c JOIN keys k USING (chunk_id)
    ),
    agg AS (
        SELECT chunk_id,
               MAX(CASE WHEN cum >= k AND cum - c < k THEN v END)
                   AS var_v,
               CAST(SUM(CASE WHEN cum >= k
                             THEN v * LEAST(c, cum - k + 1)
                             ELSE 0 END) AS BIGINT) AS tail_sum,
               CAST(MAX(nb - k + 1) AS BIGINT) AS n_tail
        FROM j GROUP BY chunk_id
    )
    SELECT k.chunk_min_doc_id,
           k.nb AS n_batch,
           CAST(a.var_v AS BIGINT) AS var90,
           CAST(a.tail_sum AS DOUBLE) / CAST(a.n_tail AS DOUBLE)
               AS es90,
           a.n_tail
    FROM agg a JOIN keys k USING (chunk_id)
    """


@register(
    "stream_tail_es_monitor",
    oracle=_TAIL_MONITOR_ORACLE,
    tags=("streaming", "quality", "tails", "statistics"),
)
def stream_tail_es_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-micro-batch EXACT upper-tail VaR(0.9) and expected
    shortfall of document lengths on the ingest stream — the
    streaming twin of window_expected_shortfall_daily, and the
    monitor a pipeline trends to catch boilerplate floods by their
    TAIL MASS, not just the p99 point (stream_quantile_monitor):
    ES rises before the quantile moves when a batch's tail fattens.

    Exactness: each trigger folds to the integer (value, count)
    histogram (n_chars is domain-bounded, so per-trigger state is
    histogram-sized regardless of batch size — the
    stream_quantile_monitor pattern); post-stream, the VaR rank
    k = ceil(0.9 * n) is exact integer arithmetic, the straddling
    bucket contributes LEAST(c, cum - k + 1) rows, and ES is an
    exact BIGINT tail dot product with ONE final double division.
    Batches key by min doc_id (order-independent verdicts; the
    oracle rebuilds the same ingest slices relationally).

    Scale: one map-side-combined histogram groupBy per trigger; the
    post-stream math runs on histogram-sized frames.  For
    unbounded-domain value columns the documented swap is the
    approx_percentile sketch, same table shape."""
    hist = _train_length_histograms(spark, sf_dir)
    keys = hist.groupBy("chunk_min_doc_id").agg(
        F.sum("c").cast("bigint").alias("nb")
    )
    w_cum = (
        Window.partitionBy("chunk_min_doc_id")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    j = (
        hist.select(
            "chunk_min_doc_id",
            "v",
            "c",
            F.sum("c").over(w_cum).alias("cum"),
        )
        .join(keys, "chunk_min_doc_id")
        .withColumn(
            "k",
            F.expr(
                f"(nb * {TAIL_MONITOR_NUM} + {TAIL_MONITOR_DEN} - 1)"
                f" div {TAIL_MONITOR_DEN}"
            ),
        )
    )
    in_tail = F.col("cum") >= F.col("k")
    agg = j.groupBy("chunk_min_doc_id").agg(
        F.max(
            F.when(
                in_tail & (F.col("cum") - F.col("c") < F.col("k")),
                F.col("v"),
            )
        )
        .cast("bigint")
        .alias("var90"),
        F.sum(
            F.when(
                in_tail,
                F.col("v")
                * F.least(
                    F.col("c"), F.col("cum") - F.col("k") + 1
                ),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tail_sum"),
        F.max(F.col("nb") - F.col("k") + 1)
        .cast("bigint")
        .alias("n_tail"),
    )
    return agg.join(keys, "chunk_min_doc_id").select(
        "chunk_min_doc_id",
        F.col("nb").alias("n_batch"),
        "var90",
        (
            F.col("tail_sum").cast("double")
            / F.col("n_tail").cast("double")
        ).alias("es90"),
        "n_tail",
    )


# ---------------------------------------------------------------------------
# Streaming extremal-index monitor (Ferro-Segers per micro-batch)
# ---------------------------------------------------------------------------

_STREAM_EXTREMAL_ORACLE = f"""
    WITH train AS (
        SELECT doc_id, n_chars,
               row_number() OVER (ORDER BY doc_id) - 1 AS rn,
               count(*) OVER () AS n
        FROM documents WHERE source <> 'src0'
    ),
    chunked AS (
        SELECT doc_id, n_chars AS v, rn // ((n + 2) // 3) AS chunk_id
        FROM train
    ),
    keys AS (
        SELECT chunk_id, min(doc_id) AS chunk_min_doc_id,
               CAST(count(*) AS BIGINT) AS nb
        FROM chunked GROUP BY chunk_id
    ),
    idx AS MATERIALIZED (
        SELECT chunk_id, doc_id, v,
               row_number() OVER (PARTITION BY chunk_id
                                  ORDER BY v, doc_id) AS r,
               count(*) OVER (PARTITION BY chunk_id) AS n
        FROM chunked
    ),
    thr AS (
        SELECT chunk_id,
               MAX(CASE WHEN r = (n * {EXT_Q_NUM} + {EXT_Q_DEN} - 1)
                                 // {EXT_Q_DEN}
                        THEN v END) AS u
        FROM idx GROUP BY 1
    ),
    exc AS MATERIALIZED (
        SELECT i.chunk_id, i.doc_id,
               lag(i.doc_id) OVER (PARTITION BY i.chunk_id
                                   ORDER BY i.doc_id) AS prev_id
        FROM idx i JOIN thr t ON t.chunk_id = i.chunk_id
        WHERE i.v > t.u
    ),
    gaps AS (
        SELECT chunk_id, CAST(doc_id - prev_id AS BIGINT) AS g
        FROM exc WHERE prev_id IS NOT NULL
    ),
    sums AS MATERIALIZED (
        SELECT chunk_id,
               CAST(count(*) AS BIGINT) AS ng,
               CAST(MAX(g) AS BIGINT) AS gmax,
               CAST(SUM(g) AS BIGINT) AS sg,
               CAST(SUM(g * g) AS BIGINT) AS sg2,
               CAST(SUM(g - 1) AS BIGINT) AS sg1,
               CAST(SUM((g - 1) * (g - 2)) AS BIGINT) AS sg12
        FROM gaps GROUP BY 1
        HAVING count(*) >= 2
    )
    SELECT k.chunk_min_doc_id,
           k.nb AS n_batch,
           CAST(s.ng + 1 AS BIGINT) AS n_exceed,
           s.gmax AS max_gap,
           CAST(t.u AS BIGINT) AS threshold,
           LEAST(1.0, CASE WHEN s.gmax <= 2 THEN {_FS_THETA_V1_SQL}
                           ELSE {_FS_THETA_V2_SQL} END) AS theta
    FROM sums s
    JOIN thr t ON t.chunk_id = s.chunk_id
    JOIN keys k ON k.chunk_id = s.chunk_id
    """


@register(
    "stream_extremal_index_monitor",
    oracle=_STREAM_EXTREMAL_ORACLE,
    tags=("streaming", "quality", "tails", "statistics"),
)
def stream_extremal_index_monitor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-micro-batch extremal index (Ferro-Segers intervals
    estimator, JRSS-B 2003) of the document-length exceedance process
    on the ingest stream — the streaming twin of
    window_extremal_index_runs, and the clustering counterpart of
    stream_tail_es_monitor: ES says how FAT a batch's tail is, theta
    says whether its extremes arrive in CLUSTERS (theta << 1 — e.g.
    a crawler dumping one site's boilerplate run) or independently
    (theta ~ 1).  A tail monitor alone cannot tell those apart.

    Per trigger: the exceedance threshold is the batch's exact
    integer-rank {EXT_Q_NUM}/{EXT_Q_DEN} quantile of n_chars (derived
    from the collected value histogram — domain-bounded, the
    stream_quantile_monitor pattern); exceedance doc_id gaps are then
    computed DISTRIBUTED inside the batch via frontier.global_rank
    (mode="distributed": range-partitioned two-phase rank — no
    batch-sized single-task window, the r13 frontier rule) and fold
    to SIX BIGINT scalars (count, max, Σg, Σg², Σ(g−1), Σ(g−1)(g−2))
    — O(1) collected state per trigger, tighter than the histogram
    monitors.  Both Ferro-Segers variants evaluate post-stream from
    ONE shared fixed-order expression text over the exact sums
    (_FS_THETA_V1_SQL/_FS_THETA_V2_SQL, imported from the batch op),
    capped by LEAST(1, ·) on identical doubles in both engines.
    Batches key by min doc_id; chunks with fewer than 2 gaps emit no
    row (mirrored by the oracle's HAVING).

    Scale: per trigger ONE histogram groupBy + one filter + the
    two-phase rank + a 1-row aggregate; nothing batch-sized ever
    reaches the driver."""
    from kafka_stream_processing_spark.operators.frontier import (
        global_rank,
    )

    rows: list[tuple[int, int, int, int, int, int, int, int, int]] = []

    def fold_batch(batch_df, batch_id: int) -> None:
        head = batch_df.agg(
            F.min("doc_id").alias("k"),
            F.count(F.lit(1)).alias("nb"),
        ).collect()[0]
        if head["k"] is None:
            return
        nb = int(head["nb"])
        hist = sorted(
            (int(r["v"]), int(r["c"]))
            for r in batch_df.groupBy(
                F.col("n_chars").alias("v")
            )
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()  # value-domain-sized per trigger
        )
        k = (nb * EXT_Q_NUM + EXT_Q_DEN - 1) // EXT_Q_DEN
        cum, u = 0, None
        for v, c in hist:
            cum += c
            if cum >= k:
                u = v
                break
        exc = batch_df.filter(F.col("n_chars") > u).select("doc_id")
        ranked = global_rank(
            exc, [F.col("doc_id")], mode="distributed", rank_name="r"
        )
        a, b = ranked.alias("a"), ranked.alias("b")
        gaps = a.join(
            b, F.col("b.r") == F.col("a.r") + 1
        ).select(
            (F.col("b.doc_id") - F.col("a.doc_id"))
            .cast("bigint")
            .alias("g")
        )
        s = gaps.agg(
            F.count(F.lit(1)).cast("bigint").alias("ng"),
            F.max("g").alias("gmax"),
            F.sum("g").cast("bigint").alias("sg"),
            F.sum(F.col("g") * F.col("g")).cast("bigint").alias("sg2"),
            F.sum(F.col("g") - 1).cast("bigint").alias("sg1"),
            F.sum((F.col("g") - 1) * (F.col("g") - 2))
            .cast("bigint")
            .alias("sg12"),
        ).collect()[0]
        if s["ng"] is None or int(s["ng"]) < 2:
            return
        rows.append(
            (
                int(head["k"]),
                nb,
                int(u),
                int(s["ng"]),
                int(s["gmax"]),
                int(s["sg"]),
                int(s["sg2"]),
                int(s["sg1"]),
                int(s["sg12"]),
            )
        )

    path = _stream_train_docs_source_dir(sf_dir)
    stream = (
        file_stream(spark, path)
        .select("doc_id", "n_chars")
    )
    run_foreach_batch(stream, fold_batch)

    sums = spark.createDataFrame(
        rows,
        "chunk_min_doc_id bigint, nb bigint, u bigint, ng bigint,"
        " gmax bigint, sg bigint, sg2 bigint, sg1 bigint, sg12 bigint",
    )
    theta = F.expr(
        f"LEAST(1.0, CASE WHEN gmax <= 2 THEN {_FS_THETA_V1_SQL}"
        f" ELSE {_FS_THETA_V2_SQL} END)"
    )
    return sums.select(
        "chunk_min_doc_id",
        F.col("nb").alias("n_batch"),
        (F.col("ng") + 1).cast("bigint").alias("n_exceed"),
        F.col("gmax").alias("max_gap"),
        F.col("u").alias("threshold"),
        theta.alias("theta"),
    )
