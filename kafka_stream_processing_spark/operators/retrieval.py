"""Sparse and hybrid retrieval over the documents corpus: BM25 ranking
and reciprocal-rank fusion of sparse (BM25) and dense (embedding-cosine)
result lists.

The reference has no retrieval at all (it is a windowed counter,
UniqueUsersCounter.java:63-93); these operators belong to the
training-data extension surface: curating a corpus at scale needs
query-able retrieval — for decontamination lookups, for hard-negative
mining, and as the candidate generator in front of a reranker.  The
dense stage-1 (IVF+PQ shortlist -> exact rerank) already exists in
``operators/similarity.py``; this module adds the SPARSE side and the
standard way to combine the two (Cormack et al., "Reciprocal Rank
Fusion outperforms Condorcet and individual rank learning methods",
SIGIR 2009).

Scale design (100 TB):

- BM25 is two aggregations over the exploded postings stream (tf per
  (query, doc, term); df per term) — the same shape as the TF-IDF
  operator.  The QUERY side is tiny and broadcast; the corpus tokens
  shuffle once on term for df and once on (doc, term) for tf.  Document
  length is carried THROUGH the postings (max(dl) inside the tf
  aggregate) so no corpus-sized join is ever needed.
- The idf/length-normalization arithmetic runs in whole-stage codegen;
  per-term score components are quantized to DECIMAL(18,6) before the
  per-doc SUM (order-independent, exact — the engine-wide float
  convention, functions/exact.py).
- RRF fuses two top-K lists per query — K rows per query per side, a
  join between two (n_queries x K)-row frames: negligible at any scale;
  the cost lives entirely in the stage-1 retrievers, which are the
  operators already audited for scale (broadcast-query dense scan,
  postings-join sparse scan).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_processing_spark.functions.exact import dec
from kafka_stream_processing_spark.operators.similarity import (
    _cosine_pairs,
    _embeddings,
    _top_k,
    cosine_exact,
)
from kafka_stream_processing_spark.operators.word_kernel import words
from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import fanout, table

#: Okapi BM25 constants (the textbook defaults).
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10

#: Reciprocal-rank-fusion damping constant (Cormack et al. 2009 use 60)
#: and the stage-1 list depth each retriever feeds into the fusion.
RRF_K = 60
RRF_LIST_K = 20
RRF_TOPK = 10

#: Documents used as queries by the hybrid operator (their embeddings
#: drive the dense list, their token sets the sparse list).  Matches the
#: similarity module's convention of a small fixed evaluation query set.
HYBRID_N_QUERIES = 3

#: Fixed evaluation queries for the standalone BM25 operator — small
#: multi-term queries over the synthetic documents vocabulary.
BM25_QUERIES: tuple[tuple[int, tuple[str, ...]], ...] = (
    (0, ("spark", "window")),
    (1, ("hash", "merge", "join")),
    (2, ("customer", "query")),
)


def _bm25_component(
    tf: Column, df_: Column, dl: Column, avgdl: Column, n_docs: Column
) -> Column:
    """One term's BM25 contribution, quantized to DECIMAL(18,6) so the
    per-document SUM is order-independent.  Association mirrors the
    oracle SQL exactly: idf * ((tf * (k1+1)) / (tf + k1 * (...)))."""
    idf = F.log(
        F.lit(1.0) + (n_docs - df_ + F.lit(0.5)) / (df_ + F.lit(0.5))
    )
    tfn = (tf * F.lit(BM25_K1 + 1.0)) / (
        tf + F.lit(BM25_K1) * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * dl / avgdl)
    )
    return dec(F.round(idf * tfn, 6))


#: The identical component for the DuckDB oracle — generated from the
#: same constants, same operator association, same quantization.
_BM25_COMPONENT_SQL = (
    f"CAST(round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * "
    f"((tf * {BM25_K1 + 1.0}) / "
    f"(tf + {BM25_K1} * ({1.0 - BM25_B} + {BM25_B} * dl / avgdl))), 6) "
    f"AS DECIMAL(18,6))"
)

#: Shared corpus-statistics CTEs (doc lengths, corpus stats, postings).
_BM25_BASE_CTES = """dls AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    stats AS (
        SELECT count(*) AS n_docs,
               CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
        FROM dls
    ),
    toks AS (
        SELECT doc_id, len(string_split(text, ' ')) AS dl,
               unnest(string_split(text, ' ')) AS term
        FROM documents
    )"""


def _bm25_values_sql() -> str:
    rows = [
        f"({qid}, '{t}')" for qid, terms in BM25_QUERIES for t in terms
    ]
    return ", ".join(rows)


def _sparse_scored(
    toks: DataFrame, queries: DataFrame, stats: DataFrame,
    exclude_self: bool = False,
) -> DataFrame:
    """BM25 score per (query_id, doc_id).  ``queries`` is a small
    (query_id, term) frame — broadcast; ``toks`` is the exploded
    (doc_id, dl, term) postings stream."""
    df_ = (
        toks.join(F.broadcast(queries.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    tf = toks.join(F.broadcast(queries), "term")
    if exclude_self:
        tf = tf.filter(F.col("doc_id") != F.col("query_id"))
    tf = tf.groupBy("query_id", "doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl")
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc_id",
            _bm25_component(
                F.col("tf"), F.col("df"), F.col("dl"),
                F.col("avgdl"), F.col("n_docs"),
            ).alias("comp"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("comp").cast("double").alias("bm25"))
    )


def _doc_tokens(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    d = fanout(table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        F.size(words()).alias("dl"),
        F.explode(words()).alias("term"),
    )
    stats = d.select(F.size(words()).alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    return toks, stats


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH queries(query_id, term) AS (VALUES {_bm25_values_sql()}),
    {_BM25_BASE_CTES},
    df AS (
        SELECT term, count(DISTINCT doc_id) AS df
        FROM toks
        WHERE term IN (SELECT term FROM queries)
        GROUP BY 1
    ),
    tf AS (
        SELECT q.query_id, t.doc_id, t.term,
               count(*) AS tf, max(t.dl) AS dl
        FROM toks t JOIN queries q ON q.term = t.term
        GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT query_id, doc_id,
               CAST(sum({_BM25_COMPONENT_SQL}) AS DOUBLE) AS bm25
        FROM tf JOIN df USING (term) CROSS JOIN stats
        GROUP BY 1, 2
    )
    SELECT query_id, doc_id, bm25
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY bm25 DESC, doc_id) AS rn
        FROM scored
    )
    WHERE rn <= {BM25_TOPK}
    """,
    tags=("retrieval", "text"),
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 documents for a fixed set of multi-term queries.

    Scale: the query table (a handful of rows) broadcasts to the
    postings stream; tf and df are the only shuffles (both keyed
    aggregations over matched postings only — non-matching tokens are
    dropped by the broadcast semi-join before any exchange).  Document
    length rides inside the tf aggregate (max(dl)), so the corpus-sized
    doc-length table is never joined; corpus stats (n_docs, avgdl) are
    one broadcast row.  Per-term components quantize to DECIMAL(18,6)
    before the per-doc sum — order-independent, exact, and inside
    whole-stage codegen."""
    toks, stats = _doc_tokens(spark, sf_dir)
    qarr = F.array(
        *[
            F.struct(
                F.lit(qid).cast("int").alias("query_id"),
                F.lit(t).alias("term"),
            )
            for qid, terms in BM25_QUERIES
            for t in terms
        ]
    )
    queries = spark.range(1).select(F.inline(qarr))
    scored = _sparse_scored(toks, queries, stats)
    w = Window.partitionBy("query_id").orderBy(F.col("bm25").desc(), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= BM25_TOPK)
        .select("query_id", "doc_id", "bm25")
    )


def _rrf_term(rnk: Column) -> Column:
    """One list's RRF contribution: round(1/(RRF_K + rank), 6) as exact
    decimal; NULL rank (doc absent from that list) contributes 0."""
    return F.coalesce(
        dec(F.round(F.lit(1.0) / (F.lit(RRF_K) + rnk), 6)),
        F.lit(0).cast("decimal(18,6)"),
    )


@register(
    "similarity_hybrid_rrf_fusion",
    oracle=f"""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ),
    n AS (
        SELECT vec_id, emb,
               sqrt(CAST(list_aggregate(
                   list_transform(range(1, 65),
                                  i -> CAST(emb[i] * emb[i] AS DECIMAL(18,12))),
                   'sum') AS DOUBLE)) AS nrm
        FROM v
    ),
    dense_pairs AS (
        SELECT q.vec_id AS query_id, d.vec_id AS doc_id,
               CAST(list_aggregate(
                   list_transform(range(1, 65),
                                  i -> CAST(q.emb[i] * d.emb[i] AS DECIMAL(18,12))),
                   'sum') AS DOUBLE) / (q.nrm * d.nrm) AS cosine
        FROM n q JOIN n d ON d.vec_id <> q.vec_id
        WHERE q.vec_id < {HYBRID_N_QUERIES}
    ),
    dense_k AS (
        SELECT query_id, doc_id, rnk FROM (
            SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, doc_id) AS rnk
            FROM dense_pairs
        ) WHERE rnk <= {RRF_LIST_K}
    ),
    {_BM25_BASE_CTES},
    qterms AS (
        SELECT DISTINCT doc_id AS query_id, term
        FROM toks WHERE doc_id < {HYBRID_N_QUERIES}
    ),
    df AS (
        SELECT term, count(DISTINCT doc_id) AS df
        FROM toks
        WHERE term IN (SELECT term FROM qterms)
        GROUP BY 1
    ),
    tf AS (
        SELECT q.query_id, t.doc_id, t.term,
               count(*) AS tf, max(t.dl) AS dl
        FROM toks t JOIN qterms q ON q.term = t.term
        WHERE t.doc_id <> q.query_id
        GROUP BY 1, 2, 3
    ),
    sparse_scored AS (
        SELECT query_id, doc_id,
               CAST(sum({_BM25_COMPONENT_SQL}) AS DOUBLE) AS bm25
        FROM tf JOIN df USING (term) CROSS JOIN stats
        GROUP BY 1, 2
    ),
    sparse_k AS (
        SELECT query_id, doc_id, rnk FROM (
            SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY bm25 DESC, doc_id) AS rnk
            FROM sparse_scored
        ) WHERE rnk <= {RRF_LIST_K}
    ),
    fused AS (
        SELECT coalesce(d.query_id, s.query_id) AS query_id,
               coalesce(d.doc_id, s.doc_id) AS doc_id,
               CAST(coalesce(CAST(round(1.0 / ({RRF_K} + d.rnk), 6)
                                  AS DECIMAL(18,6)),
                             CAST(0 AS DECIMAL(18,6)))
                    + coalesce(CAST(round(1.0 / ({RRF_K} + s.rnk), 6)
                                    AS DECIMAL(18,6)),
                               CAST(0 AS DECIMAL(18,6)))
                    AS DOUBLE) AS rrf
        FROM dense_k d FULL OUTER JOIN sparse_k s
          ON s.query_id = d.query_id AND s.doc_id = d.doc_id
    )
    SELECT query_id, doc_id, rrf
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rrf DESC, doc_id) AS rn
        FROM fused
    )
    WHERE rn <= {RRF_TOPK}
    """,
    tags=("retrieval", "similarity", "hybrid"),
)
def similarity_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid dense+sparse retrieval: for each of the first
    HYBRID_N_QUERIES documents (used as more-like-this queries), take
    the top-20 neighbors by embedding cosine (dense) and the top-20 by
    BM25 over the query document's token set (sparse), then fuse the two
    rankings with reciprocal-rank fusion rrf = sum 1/(60 + rank) and
    return the fused top-10.  Documents and embeddings are row-aligned
    by id in the synthetic corpus (doc_id == vec_id), which is what
    makes the fusion join well-defined.

    Scale: the dense list is the audited broadcast-query scan from
    similarity_bruteforce_topk (swap in the IVF+PQ shortlist for
    billion-row corpora — same list schema, the fusion does not care);
    the sparse list is the BM25 postings pipeline above; the fusion
    itself joins two K-rows-per-query frames — constant work per query,
    independent of corpus size."""
    dense_pairs = _cosine_pairs(
        _embeddings(spark, sf_dir), HYBRID_N_QUERIES
    ).withColumnRenamed("neighbor_id", "doc_id")
    dense_k = _top_k(
        dense_pairs, RRF_LIST_K, F.col("cosine").desc(), "doc_id"
    ).select("query_id", "doc_id", F.col("rn").alias("rnk"))

    toks, stats = _doc_tokens(spark, sf_dir)
    qterms = (
        toks.filter(F.col("doc_id") < HYBRID_N_QUERIES)
        .select(F.col("doc_id").alias("query_id"), "term")
        .distinct()
    )
    sparse_scored = _sparse_scored(toks, qterms, stats, exclude_self=True)
    sparse_k = _top_k(
        sparse_scored, RRF_LIST_K, F.col("bm25").desc(), "doc_id"
    ).select("query_id", "doc_id", F.col("rn").alias("rnk"))

    fused = (
        dense_k.alias("d")
        .join(
            sparse_k.alias("s"),
            (F.col("s.query_id") == F.col("d.query_id"))
            & (F.col("s.doc_id") == F.col("d.doc_id")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("d.query_id"), F.col("s.query_id")).alias("query_id"),
            F.coalesce(F.col("d.doc_id"), F.col("s.doc_id")).alias("doc_id"),
            (_rrf_term(F.col("d.rnk")) + _rrf_term(F.col("s.rnk")))
            .cast("double")
            .alias("rrf"),
        )
    )
    return _top_k(fused, RRF_TOPK, F.col("rrf").desc(), "doc_id").select(
        "query_id", "doc_id", "rrf"
    )



# ---------------------------------------------------------------------------
# Query-likelihood ranking (Dirichlet smoothing)
# ---------------------------------------------------------------------------

#: Dirichlet smoothing mass (Zhai & Lafferty 2001 recommend 500-2500;
#: 1000 is the standard default).  In shared SQL text the constant is
#: written in E-notation so BOTH engines parse it as DOUBLE — a bare
#: `1000.0` parses as DECIMAL in DuckDB/Spark and drags decimal
#: division through the score (the r10 session-2 literal gotcha).
QL_MU = 1000.0
_QL_MU_SQL = "1.0E3"
QL_TOPK = 10


def _ql_scored(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Spark twin of `_ql_scored_ctes`: returns (scored, toks, qv) —
    the per-(query, doc) Dirichlet-QL scores, the exploded postings
    stream, and the in-vocab query-term frame (query_id, term, mu_pc)."""
    toks, _ = _doc_tokens(spark, sf_dir)
    d = fanout(table(spark, sf_dir, "documents"))
    ctot = d.select(F.size(words()).alias("dl")).agg(
        F.sum("dl").cast("bigint").alias("c")
    )
    qarr = F.array(
        *[
            F.struct(
                F.lit(qid).cast("int").alias("query_id"),
                F.lit(t).alias("term"),
            )
            for qid, terms in BM25_QUERIES
            for t in terms
        ]
    )
    queries = spark.range(1).select(F.inline(qarr))
    cf = (
        toks.join(F.broadcast(queries.select("term").distinct()), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cf"))
    )
    qv = (
        queries.join(cf, "term")
        .crossJoin(ctot)
        .select(
            "query_id",
            "term",
            (F.lit(QL_MU) * F.col("cf") / F.col("c")).alias("mu_pc"),
        )
    )
    qconst = qv.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_q"),
        F.sum(
            F.round(F.log(F.col("mu_pc")), 6).cast("decimal(18,6)")
        ).alias("b"),
    )
    tf = (
        toks.join(F.broadcast(qv), "term")
        .groupBy("query_id", "doc_id", "term", "mu_pc")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    matched = tf.groupBy("query_id", "doc_id").agg(
        F.count(F.lit(1)).alias("n_matched"),
        F.max("dl").alias("dl"),
        F.sum(
            F.round(
                F.log((F.col("tf") + F.col("mu_pc")) / F.col("mu_pc")), 6
            ).cast("decimal(18,6)")
        ).alias("a"),
    )
    scored = matched.join(F.broadcast(qconst), "query_id").select(
        "query_id",
        "doc_id",
        "n_matched",
        (
            F.col("a")
            + F.col("b")
            - F.col("n_q").cast("decimal(4,0)")
            * F.round(F.log(F.col("dl") + F.lit(QL_MU)), 6).cast(
                "decimal(18,6)"
            )
        )
        .cast("double")
        .alias("ql"),
    )
    return scored, toks, qv


def _ql_scored_ctes() -> str:
    """The Dirichlet-QL scoring chain (queries → scored) as shared CTE
    text — used verbatim by the QL ranking oracle and as the stage-1
    retriever of the RM3 expansion oracle."""
    return f"""queries(query_id, term) AS (VALUES {_bm25_values_sql()}),
    {_BM25_BASE_CTES},
    ctot AS (SELECT CAST(SUM(dl) AS BIGINT) AS c FROM dls),
    cf AS (
        SELECT term, CAST(count(*) AS BIGINT) AS cf
        FROM toks WHERE term IN (SELECT term FROM queries)
        GROUP BY 1
    ),
    qv AS (
        SELECT q.query_id, q.term,
               {_QL_MU_SQL} * cf.cf / ctot.c AS mu_pc
        FROM queries q JOIN cf USING (term) CROSS JOIN ctot
    ),
    qconst AS (
        SELECT query_id, count(*) AS n_q,
               SUM(CAST(round(ln(mu_pc), 6) AS DECIMAL(18,6))) AS b
        FROM qv GROUP BY 1
    ),
    tf AS (
        SELECT qv.query_id, t.doc_id, qv.term, qv.mu_pc,
               count(*) AS tf, max(t.dl) AS dl
        FROM toks t JOIN qv ON qv.term = t.term
        GROUP BY 1, 2, 3, 4
    ),
    matched AS (
        SELECT query_id, doc_id,
               count(*) AS n_matched,
               max(dl) AS dl,
               SUM(CAST(round(ln((tf + mu_pc) / mu_pc), 6)
                        AS DECIMAL(18,6))) AS a
        FROM tf GROUP BY 1, 2
    ),
    scored AS (
        SELECT m.query_id, m.doc_id, m.n_matched,
               CAST(m.a + qc.b
                    - CAST(qc.n_q AS DECIMAL(4,0))
                      * CAST(round(ln(m.dl + {_QL_MU_SQL}), 6)
                             AS DECIMAL(18,6))
                    AS DOUBLE) AS ql
        FROM matched m JOIN qconst qc USING (query_id)
    )"""


@register(
    "retrieval_query_likelihood_dirichlet",
    oracle=f"""
    WITH {_ql_scored_ctes()}
    SELECT query_id, doc_id,
           CAST(n_matched AS BIGINT) AS n_matched, ql
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY ql DESC, doc_id) AS rn
        FROM scored
    )
    WHERE rn <= {QL_TOPK}
    """,
    tags=("retrieval", "text"),
)
def retrieval_query_likelihood_dirichlet(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty,
    SIGIR 2001) for the fixed BM25 query set — the language-model
    member of the sparse-retrieval family (BM25 weights tf·idf
    heuristically; QL scores ln P(q|d) under a document language model
    smoothed toward the collection).  The score is decomposed so only
    MATCHED postings are ever touched:

        ln P(q|d) = Σ_{{t∈q∩d}} ln((tf + μ·p_t)/(μ·p_t))    (matched)
                  + Σ_{{t∈q}} ln(μ·p_t)                      (per query)
                  − |q|·ln(dl + μ)                           (per doc)

    with p_t = cf_t/|C|.  Query terms absent from the collection are
    dropped on BOTH engines (standard OOV handling — their smoothed
    probability is undefined).

    Exactness: every ln term is round-6 DECIMAL(18,6) before the
    order-independent sums (the engine's round-ln convention); the
    length term multiplies ONE rounded decimal by the integer |q|;
    μ is E-notation DOUBLE in the shared constants so no decimal
    literal sneaks into float math.

    Scale: identical shape to text_bm25_topk — the (tiny) query table
    broadcasts to the postings stream; cf and tf are the only
    shuffles; doc length rides inside the tf aggregate; |C| and the
    per-query constants are one broadcast row each.  Candidate docs =
    docs sharing ≥1 query term, never the full corpus."""
    scored, _, _ = _ql_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.col("ql").desc(), "doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= QL_TOPK)
        .select(
            "query_id",
            "doc_id",
            F.col("n_matched").cast("bigint").alias("n_matched"),
            "ql",
        )
    )


# ---------------------------------------------------------------------------
# Known-item retrieval evaluation against the exact near-dup truth
# ---------------------------------------------------------------------------

KNOWN_ITEM_TOPK = 10
#: Evaluation-sample bound: at most this many truth docs (smallest
#: doc_ids, deterministic) are issued as queries.  Without it the
#: query side is truth-doc-sized, which the ×10 replica-clique staging
#: proved degenerates to CORPUS-sized (every doc gains 9 exact copies,
#: so every doc is a truth doc and the broadcast-qterms postings join
#: goes quadratic — measured as a stuck ×10 probe, r11).  An eval
#: harness samples by design; the bound makes that explicit and
#: enforced.
KNOWN_ITEM_MAX_QUERIES = 200


def _known_item_oracle() -> str:
    from kafka_stream_processing_spark.operators.dedup import JACCARD_ORACLE

    return f"""
    WITH truth AS (
        {JACCARD_ORACLE}
    ),
    partners AS (
        SELECT doc_a AS query_id, doc_b AS partner FROM truth
        UNION ALL
        SELECT doc_b AS query_id, doc_a AS partner FROM truth
    ),
    qsel AS (
        SELECT DISTINCT query_id FROM partners
        ORDER BY query_id LIMIT {KNOWN_ITEM_MAX_QUERIES}
    ),
    {_BM25_BASE_CTES},
    qterms AS (
        SELECT DISTINCT t.doc_id AS query_id, t.term
        FROM toks t
        WHERE t.doc_id IN (SELECT query_id FROM qsel)
    ),
    df AS (
        SELECT term, count(DISTINCT doc_id) AS df
        FROM toks
        WHERE term IN (SELECT term FROM qterms)
        GROUP BY 1
    ),
    tf AS (
        SELECT q.query_id, t.doc_id, t.term,
               count(*) AS tf, max(t.dl) AS dl
        FROM toks t JOIN qterms q ON q.term = t.term
        WHERE t.doc_id <> q.query_id
        GROUP BY 1, 2, 3
    ),
    sparse_scored AS (
        SELECT query_id, doc_id,
               CAST(sum({_BM25_COMPONENT_SQL}) AS DOUBLE) AS bm25
        FROM tf JOIN df USING (term) CROSS JOIN stats
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, doc_id, rn FROM (
            SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY bm25 DESC, doc_id) AS rn
            FROM sparse_scored
        ) WHERE rn <= {KNOWN_ITEM_TOPK}
    ),
    m AS (
        SELECT p.query_id,
               count(*) AS n_truth,
               min(r.rn) AS first_hit_rank,
               count(r.rn) AS hits
        FROM partners p
        JOIN qsel USING (query_id)
        LEFT JOIN ranked r
          ON r.query_id = p.query_id AND r.doc_id = p.partner
        GROUP BY 1
    )
    SELECT query_id,
           CAST(n_truth AS BIGINT) AS n_truth,
           CAST(first_hit_rank AS BIGINT) AS first_hit_rank,
           CASE WHEN first_hit_rank IS NOT NULL
                THEN 1.0E0 / first_hit_rank ELSE 0.0E0 END AS rr,
           CAST(hits AS DOUBLE) / n_truth AS recall_at_10
    FROM m
    """


@register(
    "retrieval_known_item_recall_eval",
    oracle=_known_item_oracle(),
    tags=("retrieval", "evaluation", "dedup"),
)
def retrieval_known_item_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Known-item evaluation of sparse retrieval as a DECONTAMINATION
    tool — the fourth evaluation harness (with the ANN recall sweep,
    the MinHash estimate eval, and the SimHash recall eval): every doc
    that has a TRUE near-dup partner (exact word-3-gram Jaccard ≥ 0.3,
    the registered dedup_ngram_jaccard kernel) is issued as a BM25
    query (its distinct tokens, self excluded), and the table reports
    per query how the lexical retriever surfaces the known partners:
    reciprocal rank of the first partner, recall@10, and the partner
    count.  This is the measured answer to "can the BM25 index serve
    benchmark-decontamination lookups?" — the standard practice of
    querying the training corpus with eval-set items before training.

    Exactness: truth rides the inverted-index Jaccard kernel verbatim;
    BM25 rides the shared `_sparse_scored` kernel (round-6 decimal
    components); RR and recall are single mirrored IEEE divisions of
    exact integers.

    Scale: the query side is truth-doc-sized (an evaluation sample by
    construction — near-dup pairs only); the postings join is the
    text_bm25_topk shape (broadcast query terms into the exploded
    token stream, tf/df the only shuffles); metrics collapse to one
    row per query via one left join of the partner list against the
    top-10 lists."""
    from kafka_stream_processing_spark.operators.dedup import (
        dedup_ngram_jaccard,
    )

    truth = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    partners = truth.select(
        F.col("doc_a").alias("query_id"), F.col("doc_b").alias("partner")
    ).unionByName(
        truth.select(
            F.col("doc_b").alias("query_id"), F.col("doc_a").alias("partner")
        )
    )
    toks, stats = _doc_tokens(spark, sf_dir)
    # Bounded evaluation sample (KNOWN_ITEM_MAX_QUERIES smallest truth
    # docs) — orderBy().limit() plans as TakeOrderedAndProject, so the
    # selection never global-sorts even when truth is corpus-sized.
    qids = (
        partners.select("query_id")
        .distinct()
        .orderBy("query_id")
        .limit(KNOWN_ITEM_MAX_QUERIES)
    )
    partners = partners.join(F.broadcast(qids), "query_id")
    qterms = (
        toks.join(
            F.broadcast(qids), toks["doc_id"] == qids["query_id"]
        )
        .select("query_id", "term")
        .distinct()
    )
    scored = _sparse_scored(toks, qterms, stats, exclude_self=True)
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), "doc_id"
    )
    ranked = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNOWN_ITEM_TOPK)
        .select("query_id", F.col("doc_id").alias("partner"), "rn")
    )
    m = (
        partners.join(ranked, ["query_id", "partner"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_truth"),
            F.min("rn").alias("first_hit_rank"),
            F.count("rn").alias("hits"),
        )
    )
    return m.select(
        "query_id",
        F.col("n_truth").cast("bigint").alias("n_truth"),
        F.col("first_hit_rank").cast("bigint").alias("first_hit_rank"),
        F.when(
            F.col("first_hit_rank").isNotNull(),
            F.lit(1.0) / F.col("first_hit_rank"),
        )
        .otherwise(F.lit(0.0))
        .alias("rr"),
        (F.col("hits").cast("double") / F.col("n_truth")).alias(
            "recall_at_10"
        ),
    )


# ---------------------------------------------------------------------------
# RM3 pseudo-relevance-feedback query expansion
# ---------------------------------------------------------------------------

#: RM3 configuration (Lavrenko & Croft 2001; Abdul-Jaleel et al.,
#: TREC 2004): feedback depth, expansion-term count, and the
#: interpolation weight of the ORIGINAL query model.  Lambda is
#: E-notation in shared SQL so both engines parse DOUBLE.
RM3_FDBK_DOCS = 5
RM3_EXP_TERMS = 5
RM3_LAMBDA = 0.5
_RM3_LAMBDA_SQL = "5.0E-1"


@register(
    "retrieval_rm3_expansion",
    oracle=f"""
    WITH {_ql_scored_ctes()},
    fdbk AS MATERIALIZED (
        SELECT query_id, doc_id, ql FROM (
            SELECT query_id, doc_id, ql,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY ql DESC, doc_id) AS rn
            FROM scored
        ) WHERE rn <= {RM3_FDBK_DOCS}
    ),
    wmax AS (SELECT query_id, max(ql) AS mq FROM fdbk GROUP BY 1),
    uw AS (
        SELECT f.query_id, f.doc_id,
               CAST(round(exp(f.ql - w.mq), 12) AS DECIMAL(18,12)) AS uw
        FROM fdbk f JOIN wmax w USING (query_id)
    ),
    wsum AS (SELECT query_id, SUM(uw) AS su FROM uw GROUP BY 1),
    wts AS (
        SELECT u.query_id, u.doc_id,
               CAST(u.uw AS DOUBLE) / CAST(s.su AS DOUBLE) AS wd
        FROM uw u JOIN wsum s USING (query_id)
    ),
    ftf AS (
        SELECT w.query_id, w.wd, t.doc_id, t.term,
               count(*) AS tf, max(t.dl) AS dl
        FROM toks t JOIN wts w ON w.doc_id = t.doc_id
        GROUP BY 1, 2, 3, 4
    ),
    relmodel AS (
        SELECT query_id, term,
               SUM(CAST(round(wd * tf / dl, 12) AS DECIMAL(38,12)))
                   AS s_t
        FROM ftf GROUP BY 1, 2
    ),
    cand AS (
        SELECT r.query_id, r.term, r.s_t
        FROM relmodel r
        WHERE NOT EXISTS (
            SELECT 1 FROM queries q
            WHERE q.query_id = r.query_id AND q.term = r.term
        )
    ),
    exp_sel AS (
        SELECT query_id, term, s_t FROM (
            SELECT query_id, term, s_t,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY s_t DESC, term) AS rn
            FROM cand
        ) WHERE rn <= {RM3_EXP_TERMS}
    ),
    exp_norm AS (SELECT query_id, SUM(s_t) AS tot FROM exp_sel GROUP BY 1)
    SELECT query_id, term, weight, is_original FROM (
        SELECT q.query_id, q.term,
               {_RM3_LAMBDA_SQL} / qc.n_q AS weight,
               TRUE AS is_original
        FROM qv q JOIN qconst qc USING (query_id)
        UNION ALL
        SELECT e.query_id, e.term,
               (1.0E0 - {_RM3_LAMBDA_SQL})
               * (CAST(e.s_t AS DOUBLE) / CAST(n.tot AS DOUBLE))
                   AS weight,
               FALSE AS is_original
        FROM exp_sel e JOIN exp_norm n USING (query_id)
    )
    """,
    tags=("retrieval", "text"),
)
def retrieval_rm3_expansion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RM3 pseudo-relevance-feedback query expansion (Lavrenko & Croft
    2001 relevance models; the RM3 interpolation of Abdul-Jaleel et
    al.) — the FEEDBACK member of the sparse-retrieval family (BM25 /
    QL rank with the raw query; RM3 reads what the top-ranked docs are
    ABOUT and returns the expanded query model): stage-1 Dirichlet-QL
    retrieves the top-5 feedback docs per query; their softmax-
    normalized likelihoods weight a relevance model P(t|R) =
    Σ_d w_d·tf_{t,d}/dl_d over ALL feedback-doc terms; the top-5
    non-query terms are interpolated with the uniform original query
    model at λ = 0.5.  Output: one row per (query, term) of the
    expanded model with its weight and an is_original flag — the table
    a downstream retriever would consume.

    Exactness: stage-1 rides `_ql_scored` verbatim (shared CTE text);
    softmax weights are exp(ql − max_ql) quantized round-12 DECIMAL
    before the normalizing sum (max-subtraction keeps exp in [e⁻ˣ, 1],
    so round-12 loses nothing); relevance-model terms quantize
    round-12 before the order-independent sum; every remaining
    division is a single mirrored IEEE op on exact operands.

    Scale: stage-1 is the QL shape (broadcast query terms, postings
    shuffle); the feedback join touches only the postings of
    |queries|·5 docs (broadcast doc list, one semi-join); the
    relevance model is feedback-vocabulary-sized.  Nothing beyond
    stage-1 ever rescans the corpus."""
    scored, toks, qv = _ql_scored(spark, sf_dir)
    wr = Window.partitionBy("query_id").orderBy(
        F.col("ql").desc(), "doc_id"
    )
    fdbk = (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= RM3_FDBK_DOCS)
        .select("query_id", "doc_id", "ql")
    )
    wmax = fdbk.groupBy("query_id").agg(F.max("ql").alias("mq"))
    uw = fdbk.join(F.broadcast(wmax), "query_id").select(
        "query_id",
        "doc_id",
        F.round(F.exp(F.col("ql") - F.col("mq")), 12)
        .cast("decimal(18,12)")
        .alias("uw"),
    )
    wsum = uw.groupBy("query_id").agg(F.sum("uw").alias("su"))
    wts = uw.join(F.broadcast(wsum), "query_id").select(
        "query_id",
        "doc_id",
        (F.col("uw").cast("double") / F.col("su").cast("double")).alias(
            "wd"
        ),
    )
    ftf = (
        toks.join(F.broadcast(wts), "doc_id")
        .groupBy("query_id", "wd", "doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    relmodel = ftf.groupBy("query_id", "term").agg(
        F.sum(
            F.round(
                F.col("wd") * F.col("tf") / F.col("dl"), 12
            ).cast("decimal(38,12)")
        ).alias("s_t")
    )
    cand = relmodel.join(
        qv.select("query_id", "term"), ["query_id", "term"], "left_anti"
    )
    we = Window.partitionBy("query_id").orderBy(
        F.col("s_t").desc(), "term"
    )
    exp_sel = (
        cand.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= RM3_EXP_TERMS)
        .select("query_id", "term", "s_t")
    )
    exp_norm = exp_sel.groupBy("query_id").agg(F.sum("s_t").alias("tot"))
    n_q = qv.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_q"))
    originals = qv.join(F.broadcast(n_q), "query_id").select(
        "query_id",
        "term",
        (F.lit(RM3_LAMBDA) / F.col("n_q")).alias("weight"),
        F.lit(True).alias("is_original"),
    )
    expansions = exp_sel.join(F.broadcast(exp_norm), "query_id").select(
        "query_id",
        "term",
        (
            F.lit(1.0 - RM3_LAMBDA)
            * (F.col("s_t").cast("double") / F.col("tot").cast("double"))
        ).alias("weight"),
        F.lit(False).alias("is_original"),
    )
    return originals.unionByName(expansions)


# ---------------------------------------------------------------------------
# Maximal Marginal Relevance (MMR) diversity reranking
# ---------------------------------------------------------------------------

#: MMR configuration (Carbonell & Goldstein, SIGIR 1998): stage-1
#: shortlist depth, picks, and the relevance/diversity trade-off
#: lambda (E-notation in shared SQL so both engines parse DOUBLE).
MMR_N_QUERIES = 3
MMR_SHORTLIST = 20
MMR_K = 10
MMR_LAMBDA = 0.7
_MMR_LAMBDA_SQL = "7.0E-1"

_MMR_COS_SQL = (
    "CAST(list_aggregate(list_transform(range(1, 65),"
    " i -> CAST(q.emb[i] * d.emb[i] AS DECIMAL(18,12))), 'sum')"
    " AS DOUBLE) / (q.nrm * d.nrm)"
)


def _mmr_oracle() -> str:
    score = (
        f"{_MMR_LAMBDA_SQL} * r.rel"
        f" - (1.0E0 - {_MMR_LAMBDA_SQL}) * r.ms"
    )
    rounds = []
    for i in range(2, MMR_K + 1):
        rounds.append(f"""
    rem{i} AS (
        SELECT s.query_id, s.doc_id, s.rel FROM shortlist s
        WHERE NOT EXISTS (SELECT 1 FROM sel{i - 1} p
                          WHERE p.query_id = s.query_id
                            AND p.doc_id = s.doc_id)
    ),
    cand{i} AS (
        SELECT r.query_id, r.doc_id, r.rel,
               (SELECT max(pc.cos) FROM pairs pc JOIN sel{i - 1} p
                 ON pc.query_id = r.query_id AND pc.da = r.doc_id
                AND pc.db = p.doc_id AND p.query_id = r.query_id)
                   AS ms
        FROM rem{i} r
    ),
    pick{i} AS (
        SELECT query_id, doc_id, rel, ms, {i} AS rank FROM (
            SELECT r.*, row_number() OVER (
                PARTITION BY r.query_id
                ORDER BY {score} DESC, r.doc_id) AS rn
            FROM cand{i} r
        ) r WHERE rn = 1
    ),
    sel{i} AS MATERIALIZED (
        SELECT * FROM sel{i - 1}
        UNION ALL
        SELECT query_id, doc_id, rel, ms, rank FROM pick{i}
    )""")
    return f"""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ),
    n AS MATERIALIZED (
        SELECT vec_id, emb,
               sqrt(CAST(list_aggregate(
                   list_transform(range(1, 65),
                                  i -> CAST(emb[i] * emb[i] AS DECIMAL(18,12))),
                   'sum') AS DOUBLE)) AS nrm
        FROM v
    ),
    cos AS (
        SELECT q.vec_id AS query_id, d.vec_id AS doc_id,
               {_MMR_COS_SQL} AS rel
        FROM n q JOIN n d ON d.vec_id <> q.vec_id
        WHERE q.vec_id < {MMR_N_QUERIES}
    ),
    shortlist AS MATERIALIZED (
        SELECT query_id, doc_id, rel FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY rel DESC, doc_id) AS rn
            FROM cos
        ) WHERE rn <= {MMR_SHORTLIST}
    ),
    pairs AS MATERIALIZED (
        SELECT s1.query_id, s1.doc_id AS da, s2.doc_id AS db,
               {_MMR_COS_SQL} AS cos
        FROM shortlist s1
        JOIN shortlist s2 ON s2.query_id = s1.query_id
                         AND s2.doc_id <> s1.doc_id
        JOIN n q ON q.vec_id = s1.doc_id
        JOIN n d ON d.vec_id = s2.doc_id
    ),
    sel1 AS MATERIALIZED (
        SELECT query_id, doc_id, rel, 0.0E0 AS ms, 1 AS rank FROM (
            SELECT s.*, row_number() OVER (
                PARTITION BY s.query_id
                ORDER BY {_MMR_LAMBDA_SQL} * s.rel
                         - (1.0E0 - {_MMR_LAMBDA_SQL}) * 0.0E0 DESC,
                         s.doc_id) AS rn
            FROM shortlist s
        ) s WHERE rn = 1
    ),
    {",".join(rounds)}
    SELECT query_id, CAST(rank AS INT) AS rank, doc_id, rel,
           {_MMR_LAMBDA_SQL} * rel
           - (1.0E0 - {_MMR_LAMBDA_SQL}) * ms AS mmr_score
    FROM sel{MMR_K}
    """


@register(
    "retrieval_mmr_rerank",
    oracle=_mmr_oracle(),
    tags=("retrieval", "similarity", "rerank"),
)
def retrieval_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversity reranking (Carbonell &
    Goldstein, SIGIR 1998) over the dense retriever — the RERANK
    member of the retrieval family (BM25/QL/hybrid produce a
    relevance-ordered list; MMR re-orders it so each pick adds
    information instead of repeating the last one — the standard
    answer to near-dup-saturated neighborhoods, which is exactly what
    a deduplicating corpus pipeline queries look like): greedily pick
    K=10 of a 20-doc exact-cosine shortlist, each round maximizing
    λ·cos(q,d) − (1−λ)·max_{s∈picked} cos(d,s) with λ = 0.7.

    Exactness: every cosine rides the exact-decimal dot kernel with a
    single float division (the similarity-family convention), so both
    engines score candidates identically; each greedy round is an
    argmax over ≤20 rows with a doc_id tie-break — the k-core
    fixed-schedule precedent applied to selection (both engines run
    the IDENTICAL K unrolled rounds).  ms for the first pick is the
    empty-set maximum, pinned to 0 in both engines.

    Scale: stage-1 is the broadcast-query brute-force scan already
    audited (corpus never shuffles); everything after is
    (queries × shortlist²) rows — MMR is only ever run on a shortlist
    by construction, so the greedy loop costs K tiny joins regardless
    of corpus size."""
    n = _embeddings(spark, sf_dir)
    cos = _cosine_pairs(n, MMR_N_QUERIES).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("cosine").alias("rel"),
    )
    shortlist = (
        _top_k(cos, MMR_SHORTLIST, F.col("rel").desc(), "doc_id")
        .select("query_id", "doc_id", "rel")
        .localCheckpoint(eager=True)
    )
    # Reduce the corpus frame to shortlist members BEFORE any broadcast:
    # the full corpus is never broadcast (repo discipline — only the
    # ≤ queries × MMR_SHORTLIST id list and the reduced embedding frame
    # it selects are small by construction).  The semi-join broadcasts
    # the tiny id side, so the corpus scan stays shuffle-free here too.
    short_ids = shortlist.select("doc_id").distinct()
    short_emb = n.join(
        F.broadcast(short_ids),
        n["vec_id"] == short_ids["doc_id"],
        "left_semi",
    )
    na = short_emb.select(
        F.col("vec_id").alias("da"),
        F.col("emb").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    nb = short_emb.select(
        F.col("vec_id").alias("db"),
        F.col("emb").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    s2 = shortlist.select(
        F.col("query_id").alias("q2"), F.col("doc_id").alias("db")
    )
    pairs = (
        shortlist.select("query_id", F.col("doc_id").alias("da"))
        .join(s2, (F.col("q2") == F.col("query_id")) & (F.col("db") != F.col("da")))
        .join(F.broadcast(na), "da")
        .join(F.broadcast(nb), "db")
        .select(
            "query_id",
            "da",
            "db",
            cosine_exact(
                F.col("a_emb"), F.col("b_emb"),
                F.col("a_nrm"), F.col("b_nrm"),
            ).alias("cos"),
        )
        .localCheckpoint(eager=True)
    )
    lam = F.lit(MMR_LAMBDA)
    sel = (
        shortlist.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    (lam * F.col("rel") - (F.lit(1.0) - lam) * F.lit(0.0)).desc(),
                    "doc_id",
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "query_id",
            "doc_id",
            "rel",
            F.lit(0.0).alias("ms"),
            F.lit(1).alias("rank"),
        )
        .localCheckpoint(eager=True)
    )
    for i in range(2, MMR_K + 1):
        rem = shortlist.join(
            sel.select("query_id", "doc_id"), ["query_id", "doc_id"],
            "left_anti",
        )
        sel_keys = sel.select(
            "query_id", F.col("doc_id").alias("sel_doc")
        )
        ms = (
            rem.select("query_id", "doc_id")
            .join(
                pairs.select(
                    "query_id",
                    F.col("da").alias("doc_id"),
                    F.col("db").alias("sel_doc"),
                    "cos",
                ),
                ["query_id", "doc_id"],
            )
            .join(sel_keys, ["query_id", "sel_doc"])
            .groupBy("query_id", "doc_id")
            .agg(F.max("cos").alias("ms"))
        )
        cand = rem.join(ms, ["query_id", "doc_id"], "left").select(
            "query_id",
            "doc_id",
            "rel",
            F.coalesce(F.col("ms"), F.lit(0.0)).alias("ms"),
        )
        pick = (
            cand.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        (
                            lam * F.col("rel")
                            - (F.lit(1.0) - lam) * F.col("ms")
                        ).desc(),
                        "doc_id",
                    )
                ),
            )
            .filter(F.col("rn") == 1)
            .select(
                "query_id", "doc_id", "rel", "ms", F.lit(i).alias("rank")
            )
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return sel.select(
        "query_id",
        F.col("rank").cast("int").alias("rank"),
        "doc_id",
        "rel",
        (lam * F.col("rel") - (F.lit(1.0) - lam) * F.col("ms")).alias(
            "mmr_score"
        ),
    )
