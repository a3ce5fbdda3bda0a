"""Round-13 operator tests outside the tail-scoring family (whose tests
live in tests/test_tail_scoring.py): the streaming tail monitor, the
Hansen-Hurwitz PPS estimator and the embedding-norm tail audit.
"""

from __future__ import annotations

import math


def test_stream_tail_monitor_replays_batch_es(spark, sf_small):
    """The streaming monitor's per-chunk VaR/ES must equal a pandas
    replay of the same deterministic 3-chunk slicing; ES >= VaR;
    chunk sizes sum to the train-slice size."""
    from kafka_stream_processing_spark.streaming.joins import (
        TAIL_MONITOR_DEN,
        TAIL_MONITOR_NUM,
        stream_tail_es_monitor,
    )

    out = (
        stream_tail_es_monitor(spark, sf_small)
        .toPandas()
        .sort_values("chunk_min_doc_id")
        .reset_index(drop=True)
    )
    assert len(out) == 3
    assert (out["es90"] >= out["var90"] - 1e-9).all()
    docs = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .filter("source <> 'src0'")
        .select("doc_id", "n_chars")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    n = len(docs)
    assert int(out["n_batch"].sum()) == n
    docs["chunk"] = docs.index // ((n + 2) // 3)
    for cid, grp in docs.groupby("chunk"):
        xs = sorted(int(v) for v in grp["n_chars"])
        nb = len(xs)
        k = (nb * TAIL_MONITOR_NUM + TAIL_MONITOR_DEN - 1) // (
            TAIL_MONITOR_DEN
        )
        row = out[out["chunk_min_doc_id"] == grp["doc_id"].min()].iloc[0]
        assert int(row["n_batch"]) == nb
        assert int(row["var90"]) == xs[k - 1]
        tail = xs[k - 1 :]
        assert int(row["n_tail"]) == len(tail)
        assert abs(row["es90"] - sum(tail) / len(tail)) < 1e-9


def test_hansen_hurwitz_structural_checks_and_replay(spark, sf_small):
    """Sum(n_hits) telescopes to exactly K; the chars estimator lands
    near truth (chars correlate with the token-size measure — assert
    a loose 25% envelope, it is a design-variance bound, not a
    tolerance); pandas replay of the estimator from the PPS sample."""
    from kafka_stream_processing_spark.operators.pipeline import (
        PPS_K,
        sample_pps_hansen_hurwitz_eval,
        sample_pps_systematic,
    )

    out = sample_pps_hansen_hurwitz_eval(spark, sf_small).toPandas()
    assert len(out) == 2
    assert (out["k_check"] == PPS_K).all()
    chars = out[out["quantity"] == "total_chars"].iloc[0]
    assert abs(chars["rel_error"]) < 0.25
    assert abs(
        chars["ht_estimate"] / chars["truth"] - 1.0 - chars["rel_error"]
    ) < 1e-9
    # replay from the registered PPS sample + raw docs
    sel = sample_pps_systematic(spark, sf_small).toPandas()
    docs = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .selectExpr(
            "doc_id",
            "n_chars",
            "size(split(text, ' ')) as size",
        )
        .toPandas()
    )
    m = sel.merge(docs, on="doc_id")
    t = int(docs["size"].sum())
    est = (
        sum(
            round(int(r["n_hits"]) * int(r["n_chars"]) / int(r["size_x"]), 12)
            for _, r in m.iterrows()
        )
        * t
        / PPS_K
    )
    assert abs(chars["ht_estimate"] - est) < 1e-6 * max(1.0, abs(est))


def test_norm_tail_audit_replay(spark, sf_small):
    """Pandas replay of VaR/ES/Hill/near-zero-share from the quantized
    squared norms; ES >= VaR; alpha consistency."""
    from kafka_stream_processing_spark.operators.similarity import (
        NORM_HILL_K,
        NORM_TAIL_DEN,
        NORM_TAIL_NUM,
        embedding_norm_tail_audit,
    )
    from decimal import Decimal, ROUND_HALF_UP

    out = embedding_norm_tail_audit(spark, sf_small).toPandas()
    assert len(out) == 1
    row = out.iloc[0]
    assert row["es95"] >= row["var95"] - 1e-12
    assert abs(row["hill_alpha"] * row["hill_h"] - 1.0) < 1e-9
    assert 0.0 <= row["near_zero_share"] <= 1.0

    embs = (
        spark.read.parquet(f"{sf_small}/embeddings.parquet")
        .selectExpr("vec_id", "cast(embedding as array<double>) e")
        .toPandas()
    )
    q = Decimal("0.000000000001")

    def n2(vec):
        s = Decimal(0)
        for x in vec:
            s += Decimal(x * x).quantize(q, rounding=ROUND_HALF_UP)
        return s

    vals = sorted(
        (n2(r["e"]), r["vec_id"]) for _, r in embs.iterrows()
    )
    n = len(vals)
    assert n == int(row["n_vecs"])
    k = (n * NORM_TAIL_NUM + NORM_TAIL_DEN - 1) // NORM_TAIL_DEN
    assert abs(row["var95"] - float(vals[k - 1][0])) < 1e-12
    tail = [v for v, _ in vals[k - 1 :]]
    assert abs(
        row["es95"] - float(sum(tail)) / len(tail)
    ) < 1e-9
    top = [float(v) for v, _ in vals[-(NORM_HILL_K + 1):]]
    hh = sum(
        round(math.log(x), 12) for x in top[1:]
    ) / NORM_HILL_K - round(math.log(top[0]), 12)
    assert abs(row["hill_h"] - hh) < 1e-9
