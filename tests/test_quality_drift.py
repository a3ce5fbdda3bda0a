"""Two-sample drift gates: the shared reference-vs-rest kernels in
operators/quality_kernel.py and the calibration ops' length classifier."""

from __future__ import annotations

import ast
import inspect
import pathlib
import re

from kafka_stream_processing_spark import registry
from kafka_stream_processing_spark.operators import (
    quality_calibration,
    quality_edf,
    quality_kernel,
    quality_rank,
)
from kafka_stream_processing_spark.streaming import joins

SPECS = registry.all_specs()

#: The per-source Σ n_chars² aggregate, whitespace removed.
_MOMENT_S2 = 'F.sum(F.col("n_chars")*F.col("n_chars"))'


def _source(module) -> str:
    return pathlib.Path(module.__file__).read_text()


def _body(fn) -> str:
    """The function's code without its docstring."""
    node = ast.parse(inspect.getsource(fn)).body[0]
    return "\n".join(ast.unparse(stmt) for stmt in node.body[1:])


def test_drift_kernels_have_one_home():
    """The pooled src0-vs-rest histogram and the per-source moment
    aggregate are written once each, in quality_kernel.py; Mann-Whitney
    takes its U statistic from the shared kernel instead of building a
    reference histogram of its own."""
    texts = {
        m.__name__.rsplit(".", 1)[-1]: _source(m)
        for m in (quality_edf, quality_rank, quality_kernel)
    }
    hists = {n: t.count('alias("ca_i")') for n, t in texts.items()}
    assert hists == {"quality_edf": 0, "quality_rank": 0, "quality_kernel": 1}
    moments = {
        n: re.sub(r"\s+", "", t).count(_MOMENT_S2) for n, t in texts.items()
    }
    assert moments == {
        "quality_edf": 0, "quality_rank": 0, "quality_kernel": 1
    }
    code = _body(quality_rank.quality_mannwhitney_drift)
    assert "_mann_whitney_u(" in code
    assert "groupBy" not in code and "src0" not in code
    assert "_ref_vs_source_hist(" in _body(quality_kernel._mann_whitney_u)


def test_length_classifier_has_one_home():
    """The long-document label and the length bin are built once on the
    Spark side (the oracles spell them in SQL): the batch calibration
    ops and both streaming monitors call ``_length_bins`` /
    ``_long_doc``."""
    text = _source(quality_calibration) + _source(joins)
    assert text.count("> ISO_TOKEN_THRESHOLD") == 1
    assert text.count("n_chars div {ISO_BIN_CHARS}") == 1
    for fn in (joins.stream_isotonic_recalibration, joins.stream_ece_monitor):
        assert "_length_bins(" in _body(fn), fn.__name__


#: (source, value): ties inside and across the two sides, and one NULL
#: source, which counts with the rest as in the oracles' CASE WHEN.
_TIED = [
    ("src0", 1), ("src0", 2), ("src0", 2), ("src0", 5), ("src0", 5),
    ("src0", 5), ("src1", 2), ("src1", 3), ("src2", 5), ("src1", 7),
    ("src2", 7), (None, 3), ("src1", 1),
]


def _tied_hist(spark):
    from kafka_stream_processing_spark.operators.quality_kernel import (
        _ref_vs_rest_hist,
    )

    rows = spark.createDataFrame(_TIED, "source string, n_chars int")
    return _ref_vs_rest_hist(rows)


def test_midrank_walk_matches_python_ranks(spark):
    """Per distinct value: the side counts and totals, the exclusive
    below-counts, and a doubled midrank equal to twice the mean 1-based
    position of the tied block in the pooled sorted sample."""
    from kafka_stream_processing_spark.operators.quality_kernel import (
        _midrank_walk,
    )

    got = {r.v: r for r in _midrank_walk(_tied_hist(spark)).collect()}
    ref = [v for s, v in _TIED if s == "src0"]
    rest = [v for s, v in _TIED if s != "src0"]
    pooled = sorted(ref + rest)
    assert sorted(got) == sorted(set(pooled))
    for v, r in got.items():
        positions = [i + 1 for i, x in enumerate(pooled) if x == v]
        assert (r.ca_i, r.cb_i) == (ref.count(v), rest.count(v)), v
        assert (r.na, r.nb) == (len(ref), len(rest))
        assert r.lt == sum(x < v for x in pooled), v
        assert (r.lt_a, r.lt_b) == (
            sum(x < v for x in ref), sum(x < v for x in rest)
        ), v
        assert r.m == len(positions)
        assert r.r2 * len(positions) == 2 * sum(positions), v


def test_ecdf_matches_python_counts(spark):
    """The ECDF numerators count each side at or below the value: a
    tied block enters its step whole."""
    from kafka_stream_processing_spark.operators.quality_kernel import (
        _ecdf,
    )

    got = {r.v: (r.ca, r.cb) for r in _ecdf(_tied_hist(spark)).collect()}
    ref = [v for s, v in _TIED if s == "src0"]
    rest = [v for s, v in _TIED if s != "src0"]
    assert got == {
        v: (sum(x <= v for x in ref), sum(x <= v for x in rest))
        for v in set(ref + rest)
    }


def test_mann_whitney_and_fdr_share_z(spark, sf_small):
    """The single gate and its BH-FDR battery report the same z for
    every source, bit for bit."""
    single = {
        r.source: r.z
        for r in SPECS["quality_mannwhitney_drift"].fn(spark, sf_small)
        .collect()
    }
    battery = {
        r.source: r.z
        for r in SPECS["quality_mw_drift_fdr"].fn(spark, sf_small).collect()
    }
    assert len(single) == 19
    assert single == battery


def test_null_source_counts_with_the_rest(spark, sf_small, tmp_path):
    """A document with a NULL source: chi-squared counts it with the
    rest, as the oracle's CASE WHEN does; keyness and DSIR count it on
    neither side, as their oracles' ``source <> 'src0'`` does."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_util import run_differential

    src = pathlib.Path(sf_small)
    for f in src.glob("*.parquet"):
        shutil.copy(f, tmp_path / f.name)
    docs = pq.read_table(src / "documents.parquet")
    i = docs.schema.get_field_index("source")
    sources = docs.column("source").to_pylist()
    sources[0] = None
    docs = docs.set_column(
        i, docs.schema.field(i), pa.array(sources, pa.string())
    )
    (tmp_path / "documents.parquet").chmod(0o644)
    pq.write_table(docs, tmp_path / "documents.parquet")
    for name in (
        "quality_chi2_categorical_drift",
        "text_keyness_loglikelihood",
        "sample_dsir_importance",
    ):
        spec = SPECS[name]
        problems = run_differential(
            spark, str(tmp_path), name, spec.fn, spec.oracle
        )
        assert not problems, problems
