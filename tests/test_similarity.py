"""Similarity search operators: the shared vector-search kernels."""

from __future__ import annotations

import ast
import inspect
import pathlib
import re

from pyspark.sql import functions as F

import kafka_stream_processing_spark
from kafka_stream_processing_spark import registry
from kafka_stream_processing_spark.operators import similarity
from kafka_stream_processing_spark.operators.similarity import (
    N_QUERIES,
    RECALL_SWEEP_NPROBES,
    _top_k,
)

SPECS = registry.all_specs()

#: The embeddings read, whitespace removed: ``_embeddings`` is its home.
_EMBEDDINGS_READ = (
    'fanout(table(spark,sf_dir,"embeddings")).select('
    '"vec_id",_as_double_array("embedding").alias("emb"))'
)


def _package_sources() -> dict[str, str]:
    package = pathlib.Path(kafka_stream_processing_spark.__file__).parent
    return {
        str(p.relative_to(package)): p.read_text()
        for p in sorted(package.rglob("*.py"))
    }


def test_similarity_kernels_have_one_home():
    """The embeddings read, the query-set filter and the top-k window
    are written once each; a second copy is a hand-written kernel.  The
    one other row_number window is the probe sweep's ranking of all
    candidates, which no top-k cut may shorten."""
    sources = _package_sources()
    reads = {
        name: n
        for name, text in sources.items()
        if (n := re.sub(r"\s+", "", text).count(_EMBEDDINGS_READ))
    }
    assert reads == {"operators/similarity.py": 1}
    # the query set; clustering's ``vec_id < k`` picks seed centroids
    for name, want in (
        ("operators/similarity.py", 1),
        ("operators/retrieval.py", 0),
    ):
        assert sources[name].count('F.col("vec_id") <') == want, name
    source = inspect.getsource(similarity)
    assert source.count("F.row_number().over(") == 2


def test_pq_adc_topk_ranks_through_adc_topk():
    """similarity_pq_adc_topk has no LUT join of its own: it is the
    plain PQ search of ``_adc_topk`` over the raw vectors."""
    fn = ast.parse(
        inspect.getsource(similarity.similarity_pq_adc_topk)
    ).body[0]
    code = "\n".join(ast.unparse(node) for node in fn.body[1:])
    assert "_adc_topk(" in code
    assert "lut" not in code.lower()


def test_recall_and_ndcg_sweeps_share_candidates(spark, sf_small):
    """Both evals rank the same probed candidates: identical
    (nprobe, query_id, n_candidates) rows, one per query and budget."""
    cols = ["nprobe", "query_id", "n_candidates"]
    got = {}
    for name in ("similarity_ann_recall_eval", "similarity_ndcg_eval"):
        df = SPECS[name].fn(spark, sf_small).select(*cols)
        got[name] = sorted(tuple(r) for r in df.collect())
    recall, ndcg = got.values()
    assert recall == ndcg
    assert len(recall) == len(RECALL_SWEEP_NPROBES) * N_QUERIES


def test_top_k_ties_keep_lowest_ids(spark):
    """Equal scores rank by the id tie-break, lowest first, and each
    group keeps exactly min(k, n) rows — the cut the oracles'
    ``row_number() OVER (.. ORDER BY score, id)`` makes."""
    rows = (
        # group 0: six equal scores
        [(0, nid, 1.0) for nid in (9, 3, 7, 1, 5, 2)]
        # group 1: fewer rows than k
        + [(1, 4, 0.2), (1, 2, 0.2)]
        # group 2: a tie across the cut
        + [(2, 10, 0.5), (2, 8, 0.9), (2, 4, 0.9), (2, 6, 0.1), (2, 3, 0.5)]
    )
    df = spark.createDataFrame(
        rows, "query_id int, neighbor_id int, score double"
    )
    top = _top_k(df, 3, F.desc("score")).select(
        "query_id", "rn", "neighbor_id"
    )
    assert sorted(tuple(r) for r in top.collect()) == [
        (0, 1, 1), (0, 2, 2), (0, 3, 3),
        (1, 1, 2), (1, 2, 4),
        (2, 1, 4), (2, 2, 8), (2, 3, 3),
    ]
    asc = _top_k(df, 2, "score", tie="neighbor_id", by=("query_id",))
    assert sorted(
        (r.query_id, r.neighbor_id) for r in asc.collect()
    ) == [(0, 1), (0, 2), (1, 2), (1, 4), (2, 3), (2, 6)]
