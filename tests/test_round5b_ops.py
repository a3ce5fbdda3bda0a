"""Late-round-5 operator pins: BPE tokenizer vs an independent Python
reference, 3-D Morton bijectivity, BM25 ranking invariants, RRF fusion
score algebra, and the no-Python / no-cartesian plan shapes."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from kafka_stream_processing_spark import registry
from kafka_stream_processing_spark.operators import tokenizer as tok
from kafka_stream_processing_spark.operators.layout import (
    ZORDER3_DIM_BITS,
    morton3_interleave,
)
from kafka_stream_processing_spark.operators.retrieval import (
    BM25_QUERIES,
    RRF_K,
    RRF_LIST_K,
    RRF_TOPK,
)
from kafka_stream_processing_spark.plans.explain import plan_report

SPECS = registry.all_specs()


# ---------------------------------------------------------------- BPE


def _py_bpe_count(word: str) -> int:
    """Independent Python reference for the staged merge-table
    tokenizer: str.replace is the same leftmost non-overlapping global
    rewrite both engines implement."""
    s = " ".join(word)
    for a, b in tok.BPE_MERGES:
        s = s.replace(f"{a} {b}", a + b)
    return len(s.split(" "))


def test_bpe_merge_table_examples():
    """The TRAINED merge chains compose to whole-word tokens for the
    corpus's highest-frequency words, and never below 1 token."""
    assert _py_bpe_count("scan") == 1  # a n -> c an -> s can
    assert _py_bpe_count("column") == 1  # l u -> c o -> co lu -> colu m n
    assert _py_bpe_count("window") == 3  # w in dow
    for w in ("spark", "query", "a", "x", "merge", "table"):
        assert 1 <= _py_bpe_count(w) <= len(w)


def test_trained_bpe_merges_reproduce(spark):
    """The pinned merge table IS the trainer's output: re-train at
    TRAIN_SF and assert bit-equality — the serve-time constant can
    never drift from the trainer that claims to produce it."""
    from kafka_stream_processing_spark.operators import _bpe_merges as pinned
    from kafka_stream_processing_spark.tools.train_bpe_merges import (
        train_merges,
        word_frequencies,
    )

    trained = train_merges(word_frequencies(spark, pinned.TRAIN_SF))
    assert tuple(trained) == pinned.BPE_MERGES


def test_bpe_spark_matches_python_reference(spark, sf_small):
    """Per-document BPE token counts from the Spark expression chain
    equal the pure-Python reference applied to the same pre-tokenizer
    output — over every document at sf0.001."""
    import re

    got = {
        r["doc_id"]: r["n_bpe"]
        for r in spark.read.parquet(f"{sf_small}/documents.parquet")
        .select("doc_id", tok.bpe_token_count("text").alias("n_bpe"))
        .collect()
    }
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM '{sf_small}/documents.parquet'"
    ).fetchall()
    pat = re.compile(tok.PRETOKEN_RE)
    for doc_id, text in rows:
        want = sum(_py_bpe_count(w) for w in pat.findall(text))
        assert got[doc_id] == want, doc_id


def test_bpe_packing_budget_semantics(spark, sf_small):
    """Every packed sequence except possibly the last per lang starts
    within budget: cum_prev div BUDGET assignment means each seq_id's
    token fill is >= BUDGET unless it is the lang's final sequence."""
    out = SPECS["corpus_bpe_token_packing"].fn(spark, sf_small).collect()
    by_lang: dict[str, list] = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        rows.sort(key=lambda r: r["seq_id"])
        # seq_ids are dense from 0 (prefix-sum assignment cannot skip a
        # window unless one doc straddles it entirely — then n_docs of
        # the skipped seq would be 0 and it is simply absent; allow gaps
        # but require monotone growth and positive fills).
        for r in rows:
            assert r["n_docs"] >= 1
            assert r["seq_bpe_tokens"] >= 1
            assert r["seq_ws_tokens"] >= r["n_docs"]  # >=1 word per doc
        # subword expansion: BPE tokens per sequence are >= whitespace
        # tokens only if merges never cross spaces; here merges shrink
        # chars, so bpe >= ws (each word is >= 1 BPE token) holds and
        # the packer would overfill if it packed by ws count instead.
        for r in rows:
            assert r["seq_bpe_tokens"] >= r["seq_ws_tokens"]


# ------------------------------------------------------------ Morton-3D


def _py_morton3(x: int, y: int, z: int) -> int:
    m = 0
    for i in range(ZORDER3_DIM_BITS):
        m |= ((x >> i) & 1) << (3 * i)
        m |= ((y >> i) & 1) << (3 * i + 1)
        m |= ((z >> i) & 1) << (3 * i + 2)
    return m


def test_morton3_python_bijection():
    """The 3-D interleave is a bijection cell-grid -> [0, 2^18)."""
    n = 1 << ZORDER3_DIM_BITS
    seen = set()
    for x in range(n):
        for y in range(n):
            for z in range(n):
                seen.add(_py_morton3(x, y, z))
    assert len(seen) == n ** 3
    assert min(seen) == 0 and max(seen) == n ** 3 - 1


def test_morton3_spark_matches_python(spark):
    n = 1 << ZORDER3_DIM_BITS
    triples = [(x, y, z) for x in (0, 1, 13, n - 1)
               for y in (0, 7, n - 1) for z in (0, 21, n - 1)]
    df = spark.createDataFrame(triples, "x int, y int, z int").select(
        "x", "y", "z",
        morton3_interleave(F.col("x"), F.col("y"), F.col("z")).alias("mv"),
    )
    for r in df.collect():
        assert r["mv"] == _py_morton3(r["x"], r["y"], r["z"])


def test_zorder3_plan_no_python_no_cartesian(spark, sf_small):
    rep = plan_report(SPECS["layout_zorder3_lineitem"].fn(spark, sf_small))
    assert "BatchEvalPython" not in rep.text
    assert "ArrowEvalPython" not in rep.text
    assert "CartesianProduct" not in rep.text


# ----------------------------------------------------------------- BM25


def test_bm25_ranking_invariants(spark, sf_small):
    out = SPECS["text_bm25_topk"].fn(spark, sf_small).collect()
    con = duckdb.connect()
    texts = dict(
        con.execute(
            f"SELECT doc_id, text FROM '{sf_small}/documents.parquet'"
        ).fetchall()
    )
    qterms = {qid: set(terms) for qid, terms in BM25_QUERIES}
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(qterms)  # every query returns something
    for qid, rows in by_q.items():
        assert len(rows) <= 10
        scores = [r["bm25"] for r in sorted(rows, key=lambda r: r["doc_id"])]
        assert all(s > 0 for s in scores)
        # every returned doc contains at least one query term
        for r in rows:
            doc_tokens = set(texts[r["doc_id"]].split(" "))
            assert doc_tokens & qterms[qid], (qid, r["doc_id"])


def test_bm25_plan_broadcasts_queries(spark, sf_small):
    rep = plan_report(SPECS["text_bm25_topk"].fn(spark, sf_small))
    assert "CartesianProduct" not in rep.text
    assert "BroadcastHashJoin" in rep.text  # term-side semi/equi joins
    assert "BatchEvalPython" not in rep.text


# ------------------------------------------------------------------ RRF


def test_rrf_scores_come_from_valid_rank_algebra(spark, sf_small):
    """Every fused score must equal round(1/(K+r1),6) + round(1/(K+r2),6)
    for ranks r in 1..LIST_K (or 0 for a missing side) — the complete
    set of values RRF can emit.  Catches any drift in either stage-1
    list depth or the fusion arithmetic."""
    from decimal import Decimal

    terms = {round(1.0 / (RRF_K + r), 6) for r in range(1, RRF_LIST_K + 1)}
    terms = {Decimal(str(t)) for t in terms} | {Decimal(0)}
    valid = {float(a + b) for a in terms for b in terms} - {0.0}
    out = SPECS["similarity_hybrid_rrf_fusion"].fn(spark, sf_small).collect()
    assert out
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        assert len(rows) <= RRF_TOPK
        for r in rows:
            assert r["rrf"] in valid, r


def test_rrf_fusion_lifts_intersection(spark, sf_small):
    """Sanity: at least one query's fused top-10 contains a doc scored
    by BOTH retrievers (rrf > max single-list term), i.e. the fusion is
    actually fusing rather than concatenating."""
    out = SPECS["similarity_hybrid_rrf_fusion"].fn(spark, sf_small).collect()
    single_max = round(1.0 / (RRF_K + 1), 6)
    assert any(r["rrf"] > single_max + 1e-12 for r in out)


# ------------------------------------------------------------ Hilbert-3D


def _py_hilbert3(x: int, y: int, z: int) -> int:
    """Independent pure-Python Skilling transform (axes -> transposed ->
    interleaved index), written directly from the published algorithm,
    sharing no code with the operator."""
    X = [x, y, z]
    m = 1 << (ZORDER3_DIM_BITS - 1)
    q = m
    while q > 1:
        p = q - 1
        for i in range(3):
            if X[i] & q:
                X[0] ^= p
            else:
                t = (X[0] ^ X[i]) & p
                X[0] ^= t
                X[i] ^= t
        q >>= 1
    for i in range(1, 3):
        X[i] ^= X[i - 1]
    t = 0
    q = m
    while q > 1:
        if X[2] & q:
            t ^= q - 1
        q >>= 1
    for i in range(3):
        X[i] ^= t
    d = 0
    for j in range(ZORDER3_DIM_BITS):
        d |= ((X[0] >> j) & 1) << (3 * j + 2)
        d |= ((X[1] >> j) & 1) << (3 * j + 1)
        d |= ((X[2] >> j) & 1) << (3 * j)
    return d


def test_hilbert3_python_bijection_and_adjacency():
    """The 3-D curve is bijective over the full 64^3 grid AND every
    consecutive pair of curve positions is a unit grid step — the
    defining Hilbert property (Morton fails this everywhere a Z jump
    occurs)."""
    n = 1 << ZORDER3_DIM_BITS
    inv = [None] * (n ** 3)
    for x in range(n):
        for y in range(n):
            for z in range(n):
                d = _py_hilbert3(x, y, z)
                assert inv[d] is None
                inv[d] = (x, y, z)
    assert all(v is not None for v in inv)
    for d in range(1, n ** 3):
        a, b = inv[d - 1], inv[d]
        assert sum(abs(p - q) for p, q in zip(a, b)) == 1, (d, a, b)


def test_hilbert3_spark_matches_python(spark):
    from kafka_stream_processing_spark.operators.layout import hilbert3_index

    n = 1 << ZORDER3_DIM_BITS
    triples = [(x, y, z) for x in (0, 1, 22, n - 1)
               for y in (0, 9, n - 1) for z in (0, 37, n - 1)]
    df = spark.createDataFrame(triples, "cx int, cy int, cz int")
    for r in hilbert3_index(df).collect():
        assert r["hd"] == _py_hilbert3(r["cx"], r["cy"], r["cz"])


# ------------------------------------------------------- attrition audit


def test_attrition_stages_monotone(spark, sf_small):
    """Stage survival is cumulative: docs/tokens never increase down the
    pipeline, the raw row equals the src0-excluded pool, and BPE tokens
    dominate whitespace tokens at every stage."""
    import duckdb

    out = {r["stage_id"]: r
           for r in SPECS["pipeline_attrition_audit"].fn(spark, sf_small).collect()}
    assert [out[i]["stage"] for i in range(4)] == [
        "raw", "quality", "dedup_prefix", "decontaminated"]
    con = duckdb.connect()
    pool = con.execute(
        f"SELECT count(*) FROM '{sf_small}/documents.parquet' "
        "WHERE source <> 'src0'"
    ).fetchone()[0]
    assert out[0]["n_docs"] == pool
    for i in range(1, 4):
        for c in ("n_docs", "n_ws_tokens", "n_bpe_tokens"):
            assert out[i][c] <= out[i - 1][c]
    for i in range(4):
        assert out[i]["n_bpe_tokens"] >= out[i]["n_ws_tokens"]
        assert out[i]["n_docs"] > 0  # pipeline never annihilates the pool


# ------------------------------------------------- sparse tf-idf retrieval


def test_sparse_tfidf_dot_is_integer_exact(spark, sf_small):
    """Scores are exact BIGINT dot products recomputable from the
    embedding operator's own CSV export — pins that the retrieval op
    and the index op share one kernel."""
    emb = {
        r["doc_id"]: [int(x) for x in r["emb_csv"].split(",")]
        for r in SPECS["text_hashed_tfidf_embedding"].fn(spark, sf_small).collect()
    }
    # emb_csv is nnz values ordered by bucket — rebuild the dense vector
    # via the kernel instead (bucket ids matter); use hashed_vec directly.
    from kafka_stream_processing_spark.operators.text import hashed_vec

    dense: dict[int, dict[int, int]] = {}
    for r in hashed_vec(spark, sf_small).collect():
        dense.setdefault(r["doc_id"], {})[r["bucket"]] = r["v"]
    out = SPECS["similarity_sparse_tfidf_topk"].fn(spark, sf_small).collect()
    assert out
    for r in out:
        q, d = dense[r["query_id"]], dense[r["doc_id"]]
        want = sum(v * d.get(b, 0) for b, v in q.items())
        assert r["dot"] == want
        assert r["dot"] > 0
    assert set(emb) == set(dense)
