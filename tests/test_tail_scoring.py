"""Tail-scoring operator tests (operators/tail_scoring.py): property
pins and brute-force replays for the Hill, L-moment, pinball, CRPS,
conformal, expected-shortfall, extremal-index, Winkler, GEV,
Diebold-Mariano and Cliff's-delta registrations (all also ride the full
oracle-parity differential in tests/test_oracle_parity.py).
"""

from __future__ import annotations

import math

import pandas as pd


def test_hill_tail_index_matches_bruteforce(spark, sf_small):
    """Recompute the Hill estimator and POT columns brute-force in
    pandas for every emitted source; alpha = 1/H identity; exceed
    share in [0, 1]."""
    from kafka_stream_processing_spark.operators.tail_scoring import (
        HILL_K,
        POT_THRESHOLD_CHARS,
        quality_hill_tail_index,
    )

    out = quality_hill_tail_index(spark, sf_small).toPandas()
    assert len(out) > 0
    docs = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .select("source", "n_chars", "doc_id")
        .toPandas()
    )
    for _, row in out.iterrows():
        grp = docs[docs["source"] == row["source"]].sort_values(
            ["n_chars", "doc_id"], ascending=[False, True]
        )
        assert len(grp) == row["n_docs"] >= HILL_K + 1
        top = grp.head(HILL_K + 1)["n_chars"].to_numpy()
        h = sum(
            round(math.log(float(x)), 12) for x in top[:HILL_K]
        ) / HILL_K - round(math.log(float(top[HILL_K])), 12)
        assert abs(row["hill_h"] - h) < 1e-9
        assert abs(row["hill_alpha"] * row["hill_h"] - 1.0) < 1e-9
        exc = grp[grp["n_chars"] > POT_THRESHOLD_CHARS]
        assert int(row["n_exceed"]) == len(exc)
        if len(exc):
            me = (exc["n_chars"] - POT_THRESHOLD_CHARS).mean()
            assert abs(row["mean_excess"] - me) < 1e-9
        assert 0.0 <= row["exceed_share"] <= 1.0


def test_l_moments_match_bruteforce_and_bounds(spark, sf_small):
    """Recompute L-moments from the order-weighted-sum definition in
    pandas per event type; Hosking bounds: l2 >= 0, |t3| < 1,
    t4 in (-0.25 + 1.25*t3^2 - eps, 1)."""
    from kafka_stream_processing_spark.operators.tail_scoring import (
        window_l_moments_daily,
    )
    from pyspark.sql import functions as F

    from kafka_stream_processing_spark.functions.exact import dec
    from kafka_stream_processing_spark.sources.tables import table

    out = window_l_moments_daily(spark, sf_small).toPandas()
    assert len(out) > 0
    daily = (
        table(spark, sf_small, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(F.sum(dec("value")).alias("x"))
        .toPandas()
    )
    for _, row in out.iterrows():
        xs = sorted(
            float(v)
            for v in daily[daily["event_type"] == row["event_type"]]["x"]
        )
        n = len(xs)
        assert n == row["n_days"] >= 4
        b = [0.0] * 4
        for r in range(4):
            num = sum(
                x * math.comb(i, r) for i, x in enumerate(xs)
            )  # i is 0-based = (rank-1)
            b[r] = num / (n * math.comb(n - 1, r))
        l1 = b[0]
        l2 = 2 * b[1] - b[0]
        t3 = (6 * b[2] - 6 * b[1] + b[0]) / l2
        t4 = (20 * b[3] - 30 * b[2] + 12 * b[1] - b[0]) / l2
        assert abs(row["l1"] - l1) < 1e-6 * max(1.0, abs(l1))
        assert abs(row["l2"] - l2) < 1e-6 * max(1.0, abs(l2))
        assert abs(row["t3"] - t3) < 1e-9
        assert abs(row["t4"] - t4) < 1e-9
        assert row["l2"] >= 0
        assert abs(row["t3"]) < 1.0
        assert (
            0.25 * (5.0 * row["t3"] ** 2 - 1.0) - 1e-12
            <= row["t4"]
            < 1.0
        )


def test_pinball_coverage_monotone_and_loss_nonneg(spark, sf_small):
    """Per-day quantile ranks increase with tau, so empirical coverage
    must be non-decreasing in tau; pinball loss is non-negative; the
    three rows share one n_days (same filtered day set)."""
    from kafka_stream_processing_spark.operators.tail_scoring import (
        PINBALL_TAUS,
        window_pinball_loss_daily,
    )

    out = (
        window_pinball_loss_daily(spark, sf_small)
        .toPandas()
        .sort_values("tau")
        .reset_index(drop=True)
    )
    assert [round(t, 1) for t in out["tau"]] == [
        float(t) for t, _ in PINBALL_TAUS
    ]
    assert out["n_days"].nunique() == 1
    assert int(out["n_days"].iloc[0]) > 0
    assert (out["avg_pinball"] >= 0).all()
    cov = out["coverage"].to_numpy()
    assert all(cov[i] <= cov[i + 1] + 1e-12 for i in range(len(cov) - 1))
    assert ((out["coverage"] >= 0) & (out["coverage"] <= 1)).all()


def test_crps_bounded_by_mae_and_bruteforce_day(spark, sf_small):
    """CRPS = mae_term - spread/2 <= mae_term, and >= 0 for the
    empirical ensemble; brute-force replay of the energy form for the
    first scored day."""
    from kafka_stream_processing_spark.operators.tail_scoring import (
        PINBALL_WINDOW,
        window_crps_empirical_daily,
    )
    from pyspark.sql import functions as F

    from kafka_stream_processing_spark.functions.exact import dec
    from kafka_stream_processing_spark.sources.tables import table

    out = window_crps_empirical_daily(spark, sf_small).toPandas()
    assert len(out) > 0
    assert (out["crps"] <= out["mae_term"] + 1e-12).all()
    assert (out["crps"] >= -1e-12).all()

    daily = (
        table(spark, sf_small, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum(dec("value")).alias("x"))
        .toPandas()
    )
    daily["d"] = (
        pd.to_datetime(daily["day"]) - pd.Timestamp("1970-01-01")
    ).dt.days
    row = out.sort_values("d_epoch").iloc[0]
    d = int(row["d_epoch"])
    ens = [
        float(x)
        for dd, x in zip(daily["d"], daily["x"])
        if d - PINBALL_WINDOW <= dd <= d - 1
    ]
    assert len(ens) == PINBALL_WINDOW
    y = float(daily[daily["d"] == d]["x"].iloc[0])
    assert abs(row["actual"] - y) < 1e-9
    t1 = sum(abs(m - y) for m in ens) / PINBALL_WINDOW
    t2 = sum(abs(a - b) for a in ens for b in ens) / (
        2.0 * PINBALL_WINDOW * PINBALL_WINDOW
    )
    assert abs(row["crps"] - (t1 - t2)) < 1e-6


def test_conformal_rank_identity_and_split_accounting(spark, sf_small):
    """q_rank must equal ceil((n_cal+1)(1-alpha)) by exact integer
    arithmetic; the three splits partition the corpus; coverage is
    non-increasing in alpha (a 90% interval is wider than an 80%
    one); the distributed rank agrees with the exact single-window
    rank at the selected index (bit-identical q_hat)."""
    from kafka_stream_processing_spark.operators.tail_scoring import (
        CONFORMAL_ALPHAS,
        quality_conformal_coverage_audit,
    )

    out = (
        quality_conformal_coverage_audit(spark, sf_small)
        .toPandas()
        .sort_values("alpha")
        .reset_index(drop=True)
    )
    assert len(out) == len(CONFORMAL_ALPHAS)
    n_docs = spark.read.parquet(f"{sf_small}/documents.parquet").count()
    for _, row in out.iterrows():
        assert (
            int(row["n_train"]) + int(row["n_cal"]) + int(row["n_test"])
            == n_docs
        )
        num, den = {
            "0.1": (9, 10),
            "0.2": (8, 10),
        }[f"{row['alpha']:.1f}"]
        want = ((int(row["n_cal"]) + 1) * num + den - 1) // den
        assert int(row["q_rank"]) == want
        assert 0.0 <= row["coverage"] <= 1.0
    # alpha=0.1 radius/coverage >= alpha=0.2 radius/coverage
    assert out.iloc[0]["q_hat"] >= out.iloc[1]["q_hat"] - 1e-12
    assert out.iloc[0]["coverage"] >= out.iloc[1]["coverage"] - 1e-12


def test_expected_shortfall_dominates_var(spark, sf_small):
    """ES >= VaR always (mean of the at-and-above-VaR tail); ES and
    VaR non-decreasing in alpha per type; n_tail = n - ceil(alpha*n)
    + 1; brute-force replay per (type, alpha)."""
    from kafka_stream_processing_spark.operators.tail_scoring import (
        ES_ALPHAS,
        window_expected_shortfall_daily,
    )
    from pyspark.sql import functions as F

    from kafka_stream_processing_spark.functions.exact import dec
    from kafka_stream_processing_spark.sources.tables import table

    out = window_expected_shortfall_daily(spark, sf_small).toPandas()
    assert len(out) > 0
    assert (out["expected_shortfall"] >= out["var_value"] - 1e-9).all()
    daily = (
        table(spark, sf_small, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(F.sum(dec("value")).alias("x"))
        .toPandas()
    )
    alphas = {float(a): (num, den) for a, num, den in ES_ALPHAS}
    for _, row in out.iterrows():
        xs = sorted(
            float(v)
            for v in daily[daily["event_type"] == row["event_type"]]["x"]
        )
        n = len(xs)
        assert n == int(row["n_days"])
        num, den = alphas[round(float(row["alpha"]), 2)]
        k = (n * num + den - 1) // den
        assert abs(row["var_value"] - xs[k - 1]) < 1e-6
        tail = xs[k - 1 :]
        assert int(row["n_tail"]) == len(tail)
        assert abs(
            row["expected_shortfall"] - sum(tail) / len(tail)
        ) < 1e-6
    for et, grp in out.groupby("event_type"):
        g = grp.sort_values("alpha")
        assert g["var_value"].is_monotonic_increasing or len(g) < 2
        assert (
            g["expected_shortfall"].is_monotonic_increasing
            or len(g) < 2
        )


def test_extremal_index_bounds_and_replay(spark, sf_small):
    """theta in (0, 1]; brute-force Ferro-Segers replay from the raw
    daily series per type."""
    from kafka_stream_processing_spark.operators.tail_scoring import (
        EXT_Q_DEN,
        EXT_Q_NUM,
        window_extremal_index_runs,
    )
    from pyspark.sql import functions as F

    from kafka_stream_processing_spark.functions.exact import dec
    from kafka_stream_processing_spark.sources.tables import table

    out = window_extremal_index_runs(spark, sf_small).toPandas()
    assert len(out) > 0
    assert ((out["theta"] > 0) & (out["theta"] <= 1.0)).all()
    daily = (
        table(spark, sf_small, "events")
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(F.sum(dec("value")).alias("x"))
        .toPandas()
    )
    daily["d"] = (
        pd.to_datetime(daily["day"]) - pd.Timestamp("1970-01-01")
    ).dt.days
    for _, row in out.iterrows():
        grp = daily[daily["event_type"] == row["event_type"]].copy()
        xs = grp.sort_values(["x", "day"]).reset_index(drop=True)
        n = len(xs)
        k = (n * EXT_Q_NUM + EXT_Q_DEN - 1) // EXT_Q_DEN
        u = float(xs["x"].iloc[k - 1])
        assert abs(row["threshold"] - u) < 1e-9
        exc = sorted(grp[grp["x"].astype(float) > u]["d"])
        assert int(row["n_exceed"]) == len(exc)
        gaps = [b - a for a, b in zip(exc, exc[1:])]
        assert int(row["max_gap"]) == max(gaps)
        if max(gaps) <= 2:
            th = (
                2.0 * sum(gaps) * sum(gaps)
                / (len(gaps) * sum(g * g for g in gaps))
            )
        else:
            th = (
                2.0 * sum(g - 1 for g in gaps) ** 2
                / (
                    len(gaps)
                    * sum((g - 1) * (g - 2) for g in gaps)
                )
            )
        assert abs(row["theta"] - min(1.0, th)) < 1e-9


def test_winkler_score_dominates_width_and_nesting(spark, sf_small):
    """Interval score >= width (penalties are non-negative); the 80%
    interval (alpha=0.2) is wider with higher coverage than the 50%
    one (interval nesting by rank monotonicity); n_days shared."""
    from kafka_stream_processing_spark.operators.tail_scoring import (
        window_winkler_interval_score,
    )

    out = (
        window_winkler_interval_score(spark, sf_small)
        .toPandas()
        .sort_values("alpha")
        .reset_index(drop=True)
    )
    assert len(out) == 2
    assert (
        out["avg_interval_score"] >= out["avg_width"] - 1e-12
    ).all()
    assert (out["avg_width"] >= 0).all()
    assert out["n_days"].nunique() == 1
    # alpha=0.2 row (wider central interval) vs alpha=0.5 row
    assert out.iloc[0]["avg_width"] >= out.iloc[1]["avg_width"] - 1e-12
    assert out.iloc[0]["coverage"] >= out.iloc[1]["coverage"] - 1e-12
    assert ((out["coverage"] >= 0) & (out["coverage"] <= 1)).all()


def test_gev_shape_bruteforce_replay(spark, sf_small):
    """Replay weekly block maxima -> L-moments -> Hosking-Wallis-Wood
    shape in pandas; |t3| < 1, l2 >= 0."""
    from kafka_stream_processing_spark.operators.tail_scoring import (
        GEV_BLOCK_DAYS,
        window_gev_blockmax_shape,
    )
    from pyspark.sql import functions as F

    from kafka_stream_processing_spark.functions.exact import dec
    from kafka_stream_processing_spark.sources.tables import table

    out = window_gev_blockmax_shape(spark, sf_small).toPandas()
    assert len(out) == 1
    row = out.iloc[0]
    daily = (
        table(spark, sf_small, "events")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum(dec("value")).alias("x"))
        .toPandas()
    )
    daily["d"] = (
        pd.to_datetime(daily["day"]) - pd.Timestamp("1970-01-01")
    ).dt.days
    daily["blk"] = daily["d"] // GEV_BLOCK_DAYS
    grp = daily.groupby("blk").agg(n=("d", "size"), mx=("x", "max"))
    mxs = sorted(float(v) for v in grp[grp["n"] == GEV_BLOCK_DAYS]["mx"])
    n = len(mxs)
    assert n == int(row["n_blocks"]) >= 3
    b = [0.0] * 3
    for r in range(3):
        num = sum(x * math.comb(i, r) for i, x in enumerate(mxs))
        b[r] = num / (n * math.comb(n - 1, r))
    l2 = 2 * b[1] - b[0]
    t3 = (6 * b[2] - 6 * b[1] + b[0]) / l2
    c = 2.0 / (3.0 + t3) - math.log(2.0) / math.log(3.0)
    k = 7.8590 * c + 2.9554 * c * c
    assert abs(row["l1"] - b[0]) < 1e-6 * max(1.0, abs(b[0]))
    assert abs(row["l2"] - l2) < 1e-6 * max(1.0, abs(l2))
    assert abs(row["t3"] - t3) < 1e-9
    assert abs(row["gev_shape"] - k) < 1e-9
    assert row["l2"] >= 0
    assert abs(row["t3"]) < 1.0


def test_diebold_mariano_replay_and_mase_sign(spark, sf_small):
    """Replay the DM statistic in pandas; its sign must agree with the
    forecast-skill MASE (mase < 1 iff mean loss differential < 0 —
    both are built from the same sae7/sae1 sums); HLN factor
    identity."""
    from kafka_stream_processing_spark.operators.tail_scoring import (
        window_diebold_mariano_naive,
    )
    from kafka_stream_processing_spark.operators.windowed import (
        window_forecast_skill_scores,
    )

    out = window_diebold_mariano_naive(spark, sf_small).toPandas()
    assert len(out) == 1
    row = out.iloc[0]
    n = int(row["n_days"])
    assert abs(
        row["dm_hln"] - row["dm_stat"] * math.sqrt((n - 1) / n)
    ) < 1e-9
    assert row["var_loss_diff"] >= 0
    skill = window_forecast_skill_scores(spark, sf_small).toPandas()
    mase = float(skill.iloc[0]["mase_seasonal"])
    assert int(skill.iloc[0]["n_days"]) == n
    if abs(mase - 1.0) > 1e-9:
        assert (mase < 1.0) == (row["mean_loss_diff"] < 0)


def test_cliff_delta_pair_accounting_and_bruteforce(spark, sf_small):
    """P + Q + ties = n_s * n_o for every source; delta in [-1, 1];
    brute-force O(n^2) pair count replay for the two smallest
    sources."""
    from kafka_stream_processing_spark.operators.tail_scoring import (
        quality_cliff_delta_source_length,
    )

    out = quality_cliff_delta_source_length(spark, sf_small).toPandas()
    assert len(out) > 0
    assert ((out["delta"] >= -1) & (out["delta"] <= 1)).all()
    assert (
        out["n_pairs_greater"] + out["n_pairs_less"]
        <= out["n_s"] * out["n_o"]
    ).all()
    docs = (
        spark.read.parquet(f"{sf_small}/documents.parquet")
        .select("source", "n_chars")
        .toPandas()
    )
    assert (out["n_s"] + out["n_o"] == len(docs)).all()
    for _, row in out.nsmallest(2, "n_s").iterrows():
        xs = docs[docs["source"] == row["source"]]["n_chars"].to_numpy()
        ys = docs[docs["source"] != row["source"]]["n_chars"].to_numpy()
        p = sum(int((x > ys).sum()) for x in xs)
        q = sum(int((x < ys).sum()) for x in xs)
        assert int(row["n_pairs_greater"]) == p
        assert int(row["n_pairs_less"]) == q
        want = (p - q) / (len(xs) * len(ys))
        assert abs(row["delta"] - want) < 1e-12
        thr = [0.147, 0.33, 0.474]
        lab = (
            "negligible"
            if abs(want) < thr[0]
            else "small"
            if abs(want) < thr[1]
            else "medium"
            if abs(want) < thr[2]
            else "large"
        )
        assert row["magnitude"] == lab


def test_conformal_distributed_rank_matches_exact(spark, sf_small):
    """The conformal radius comes from frontier.global_rank(
    mode="distributed"); pin bit-identity against the exact
    single-window form on the same calibration residual frame."""
    from kafka_stream_processing_spark.operators.dedup import hash64
    from kafka_stream_processing_spark.operators.frontier import (
        global_rank,
    )
    from kafka_stream_processing_spark.operators.tail_scoring import (
        CONFORMAL_CAL_LO,
        CONFORMAL_TEST_LO,
    )
    from pyspark.sql import functions as F

    from kafka_stream_processing_spark.sources.tables import table

    feat = table(spark, sf_small, "documents").select(
        "doc_id",
        (hash64(F.col("doc_id").cast("string")) % 100).alias("bucket"),
        F.col("n_chars").cast("bigint").alias("x"),
    )
    cal = feat.filter(
        (F.col("bucket") >= CONFORMAL_CAL_LO)
        & (F.col("bucket") < CONFORMAL_TEST_LO)
    ).select("doc_id", F.col("x").cast("double").alias("resid"))
    cols = [F.col("resid"), F.col("doc_id")]
    got = (
        global_rank(cal, cols, mode="distributed", rank_name="rnk")
        .orderBy("rnk")
        .toPandas()
    )
    want = (
        global_rank(cal, cols, mode="exact", rank_name="rnk")
        .orderBy("rnk")
        .toPandas()
    )
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert got["rnk"].tolist() == want["rnk"].tolist()
