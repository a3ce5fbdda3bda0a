"""Round-10 pins: data-driven SCD2 batch ordering (r09 VERDICT item 4)
and the round's new operators."""

from __future__ import annotations

import os
import shutil
import time

import pyspark.sql.functions as F

from kafka_stream_processing_spark.registry import all_specs
from tests.oracle_util import compare_frames, duckdb_connection

SPECS = all_specs()


# --------------------------------------- SCD2 mtime-order independence


def _stage_chunks_with_mtimes(src: str, dst: str, mtimes) -> None:
    files = sorted(f for f in os.listdir(src) if f.startswith("chunk-"))
    assert len(files) >= 2, "fixture must stage a multi-chunk stream"
    os.makedirs(dst, exist_ok=True)
    for f, mt in zip(files, mtimes(len(files))):
        p = os.path.join(dst, f)
        shutil.copy(os.path.join(src, f), p)
        os.utime(p, (mt, mt))


def _scd2_against_oracle(spark, sf_small, source_path: str) -> None:
    spec = SPECS["stream_scd2_incremental"]
    actual = spec.fn(spark, sf_small, _source_path=source_path).toPandas()
    with duckdb_connection(sf_small) as con:
        expected = con.execute(spec.oracle).fetchdf()
    problems = compare_frames(actual, expected, "stream_scd2_incremental")
    assert not problems, problems[:3]


def test_scd2_incremental_survives_reversed_mtimes(spark, sf_small, tmp_path):
    """FileStreamSource delivers oldest-mtime-first, so REVERSED chunk
    mtimes feed the micro-batches in exactly the wrong order.  The
    filename-ordinal stash-and-drain must still reconstruct the batch
    SCD2 history bit-for-bit (r09 VERDICT item 4: processing order
    derives from data, never filesystem mtimes)."""
    from kafka_stream_processing_spark.streaming.unique_users import (
        _stream_chunked_source_dir,
    )

    src = _stream_chunked_source_dir(sf_small)
    alt = str(tmp_path / "reversed")
    now = int(time.time())
    _stage_chunks_with_mtimes(
        src, alt, lambda n: [now - 2 * i for i in range(n)]
    )
    _scd2_against_oracle(spark, sf_small, alt)


def test_scd2_incremental_survives_equal_mtimes(spark, sf_small, tmp_path):
    """Equal whole-second mtimes — the v2-staging tie case where
    FileStreamSource's delivery order is arbitrary — must also
    reconstruct the exact history."""
    from kafka_stream_processing_spark.streaming.unique_users import (
        _stream_chunked_source_dir,
    )

    src = _stream_chunked_source_dir(sf_small)
    alt = str(tmp_path / "equal")
    now = int(time.time())
    _stage_chunks_with_mtimes(src, alt, lambda n: [now] * n)
    _scd2_against_oracle(spark, sf_small, alt)


# ------------------------------- dCor combination-step width budget


def test_dcor_width_budget_and_component_headroom(spark, sf_small):
    """ADVICE r09: the combination step's component casts must never be
    the binding constraint.  Pin (1) the width budget arithmetic — each
    product's operand widths sum to exactly DuckDB's 38-digit multiply
    ceiling with at least one operand >= 19 wide (hugeint path), and a
    BIGINT component always fits its cast; (2) measured component
    headroom at fixture scale against the documented ~2e5-doc bound."""
    import re

    from kafka_stream_processing_spark.operators.quality_assoc import (
        _DCOR_W_NUM,
    )

    pairs = re.findall(
        r"DECIMAL\((\d+),0\)\) \* CAST\([^)]*\s?AS DECIMAL\((\d+),0\)",
        _DCOR_W_NUM,
    )
    assert len(pairs) == 4, _DCOR_W_NUM  # n*n inner + the 3 products
    inner, products = pairs[0], pairs[1:]
    for w1, w2 in products:
        assert int(w1) + int(w2) == 38, (w1, w2)
        assert max(int(w1), int(w2)) >= 19, (w1, w2)
        # a BIGINT component (< 9.3e18) always fits the wider cast
        assert max(int(w1), int(w2)) >= 19
    assert int(inner[0]) >= 19  # n*n computed on the hugeint path

    row = (
        SPECS["quality_dcor_length_vocab"].fn(spark, sf_small).first()
    )
    # all three quadratic forms are nonneg and the combination stayed
    # exact (no silent NULL anywhere in the decimal chain)
    assert row.dcov2_num is not None and row.dvar2_x is not None
    assert row.dvar2_y is not None and row.dcor is not None
    assert row.dvar2_x >= 0 and row.dvar2_y >= 0
    # measured headroom: at n docs the n^4-scale numerator must sit
    # well inside DECIMAL(38,0) — documents the growth-rate argument
    # behind the ~2e5-doc component bound (TR ~ n^3 span^2)
    n = row.n_docs
    assert max(abs(row.dcov2_num), row.dvar2_x, row.dvar2_y) < 1e38 * (
        n / 2e5
    ) ** 3 + 1e30


# ----------------------------- multiscale permutation entropy


def test_mpe_scale1_equals_single_scale_op(spark, sf_small):
    """The stride-1 row of the multiscale op must reproduce the
    single-scale op exactly (same kernel, same fold) — the
    shared-kernel guard."""
    single = (
        SPECS["window_permutation_entropy_daily"]
        .fn(spark, sf_small)
        .first()
        .asDict()
    )
    multi = {
        r.scale: r.asDict()
        for r in SPECS["window_multiscale_permutation_entropy"]
        .fn(spark, sf_small)
        .collect()
    }
    s1 = dict(multi[1])
    s1.pop("scale")
    assert s1 == single


def test_mpe_counts_and_entropy_laws(spark, sf_small):
    """Per scale: pattern counts partition the windows, entropy is in
    [0, ln 6], and longer strides see fewer windows (2s fewer rows
    survive the lead-null filter per extra stride unit)."""
    import math

    from kafka_stream_processing_spark.operators.windowed import (
        MPE_SCALES,
    )

    rows = {
        r.scale: r
        for r in SPECS["window_multiscale_permutation_entropy"]
        .fn(spark, sf_small)
        .collect()
    }
    assert sorted(rows) == sorted(MPE_SCALES)
    n_prev = None
    for s in sorted(rows):
        r = rows[s]
        parts = r.p012 + r.p021 + r.p102 + r.p120 + r.p201 + r.p210
        assert parts == r.n_windows, (s, parts, r.n_windows)
        assert 0.0 <= r.perm_entropy <= math.log(6.0) + 1e-12
        assert 0.0 <= r.perm_entropy_norm <= 1.0 + 1e-12
        if n_prev is not None:
            assert r.n_windows < n_prev  # strictly fewer windows per s
        n_prev = r.n_windows


# ----------------------------- dCor tokens x violations


def test_dcor_tokens_violations_consistent_with_interaction_matrix(
    spark, sf_small
):
    """Shared-kernel guard: the zero-violation document count implied
    by the dCor op's grid must equal the all-rules-pass row of
    quality_filter_interaction_matrix (both ride
    gopher_feature_columns), and dCor must be a valid reading."""
    from kafka_stream_processing_spark.operators.pipeline import (
        gopher_feature_columns,
    )
    from kafka_stream_processing_spark.operators.quality_assoc import (
        DCOR_TOK_BUCKET,
    )
    from kafka_stream_processing_spark.sources.tables import table

    row = SPECS["quality_dcor_tokens_violations"].fn(spark, sf_small).first()
    assert row.dvar2_x >= 0 and row.dvar2_y >= 0
    assert row.dcor is not None and 0.0 <= row.dcor <= 1.0 + 1e-12

    feats = table(spark, sf_small, "documents").select(
        *gopher_feature_columns()
    )
    n_clean = feats.filter(
        (F.col("n_words") >= 30)
        & (F.col("total_chars") >= 3 * F.col("n_words"))
        & (F.col("total_chars") <= 8 * F.col("n_words"))
        & (F.col("n_top") * 8 <= F.col("n_words"))
        & (F.col("n_stop") >= 1)
    ).count()
    matrix = {
        (r.ok_minlen, r.ok_meanlen, r.ok_repetition, r.ok_stopword): r.n_docs
        for r in SPECS["quality_filter_interaction_matrix"]
        .fn(spark, sf_small)
        .collect()
    }
    assert matrix.get((True, True, True, True), 0) == n_clean
    assert row.n_docs == sum(matrix.values())
    assert DCOR_TOK_BUCKET > 0


# ----------------------------- corpus n-gram novelty curve


def test_ngram_novelty_conservation_and_decay(spark, sf_small):
    """Set-logic laws: novel shingles across buckets partition the
    distinct-shingle universe (each shingle is novel exactly once, in
    its first doc's bucket), docs partition the corpus, rates live in
    [0,1], and the curve decays front-to-back on the fixture (later
    slices repeat earlier patterns)."""
    from kafka_stream_processing_spark.operators.word_kernel import (
        _word_grams,
    )
    from kafka_stream_processing_spark.sources.tables import table

    rows = sorted(
        SPECS["corpus_ngram_novelty_curve"].fn(spark, sf_small).collect(),
        key=lambda r: r.bucket,
    )
    d = table(spark, sf_small, "documents")
    n_docs = d.count()
    n_distinct_shingles = (
        d.select(
            F.explode(
                F.array_distinct(_word_grams(F.split("text", " ")))
            ).alias("sh")
        )
        .select("sh")
        .distinct()
        .count()
    )
    assert sum(r.n_docs for r in rows) == n_docs
    assert sum(r.n_novel for r in rows) == n_distinct_shingles
    for r in rows:
        if r.novelty_rate is not None:
            assert 0.0 <= r.novelty_rate <= 1.0
            assert r.n_novel <= r.n_shingles
    assert rows[0].novelty_rate > rows[-1].novelty_rate


# ----------------------------- streaming permutation-entropy monitor


def test_stream_perm_entropy_monitor_laws(spark, sf_small):
    """Per chunk: the six pattern counts partition the stride-1
    windows, entropy obeys its [0, ln 6] range, and the monitor emits
    one row per staged chunk keyed by min event_id."""
    import math

    rows = (
        SPECS["stream_permutation_entropy_monitor"]
        .fn(spark, sf_small)
        .collect()
    )
    assert len(rows) == 3  # the staged 3-chunk stream
    assert len({r.chunk_min_event_id for r in rows}) == 3
    for r in rows:
        parts = r.p012 + r.p021 + r.p102 + r.p120 + r.p201 + r.p210
        assert parts == r.n_windows
        assert 0.0 <= r.perm_entropy <= math.log(6.0) + 1e-12
        assert 0.0 <= r.perm_entropy_norm <= 1.0 + 1e-12


# ----------------------------- sample entropy


def test_sample_entropy_laws(spark, sf_small):
    """A >= matches are a subset of B matches (the third comparison
    only removes pairs), the tolerance is an actual observed move, and
    a constant series has SampEn exactly 0 (every template matches)."""
    row = SPECS["window_sample_entropy_daily"].fn(spark, sf_small).first()
    assert row.a_count <= row.b_count
    assert row.r_tol >= 0
    if row.sampen is not None:
        assert row.sampen >= 0.0
    # synthetic constant-series replay through the same kernel shape:
    # all |d|=0 <= any r, so A == B and sampen == 0 — checked in pure
    # python to pin the convention (index range, self-match exclusion)
    xs = [5] * 10
    n = len(xs)
    tpl = [(xs[i], xs[i + 1], xs[i + 2]) for i in range(n - 2)]
    r = 0
    b = sum(
        1
        for i in range(len(tpl))
        for j in range(i + 1, len(tpl))
        if abs(tpl[i][0] - tpl[j][0]) <= r
        and abs(tpl[i][1] - tpl[j][1]) <= r
    )
    a_ = sum(
        1
        for i in range(len(tpl))
        for j in range(i + 1, len(tpl))
        if abs(tpl[i][0] - tpl[j][0]) <= r
        and abs(tpl[i][1] - tpl[j][1]) <= r
        and abs(tpl[i][2] - tpl[j][2]) <= r
    )
    assert a_ == b and b > 0  # -ln(A/B) == 0


# ----------------------------- simhash recall eval


def test_simhash_recall_eval_consistency(spark, sf_small):
    """The eval's pair set is exactly the registered exact-Jaccard
    truth set; `recovered` agrees with membership in the banded op's
    output (banding is lossless at hamming<=3, so recovered pairs ARE
    banded pairs restricted to the truth set)."""
    truth = {
        (r.doc_a, r.doc_b)
        for r in SPECS["dedup_ngram_jaccard"].fn(spark, sf_small).collect()
    }
    banded = {
        (r.doc_a, r.doc_b)
        for r in SPECS["dedup_simhash_banded"].fn(spark, sf_small).collect()
    }
    rows = SPECS["dedup_simhash_recall_eval"].fn(spark, sf_small).collect()
    assert {(r.doc_a, r.doc_b) for r in rows} == truth
    for r in rows:
        assert r.recovered == (r.hamming <= 3)
        assert r.recovered == ((r.doc_a, r.doc_b) in banded)


# ------------------------- Good-Turing monitor mtime independence


def test_good_turing_novelty_survives_reversed_mtimes(
    spark, sf_small, tmp_path
):
    """The cumulative-vocabulary monitor was the last op whose
    semantics relied on FileStreamSource's oldest-mtime-first delivery.
    After the r10 stash-drain port: reversed chunk mtimes (delivery in
    exactly the wrong order) must still produce the oracle's novelty
    trajectory bit-for-bit."""
    from kafka_stream_processing_spark.streaming.joins import (
        _all_docs_chunked_source_dir,
    )

    src = _all_docs_chunked_source_dir(sf_small)
    alt = str(tmp_path / "gt_reversed")
    now = int(time.time())
    _stage_chunks_with_mtimes(
        src, alt, lambda n: [now - 2 * i for i in range(n)]
    )
    spec = SPECS["stream_good_turing_novelty"]
    actual = spec.fn(spark, sf_small, _source_path=alt).toPandas()
    with duckdb_connection(sf_small) as con:
        expected = con.execute(spec.oracle).fetchdf()
    problems = compare_frames(actual, expected, "stream_good_turing")
    assert not problems, problems[:3]


# ------------------------- Jonckheere-Terpstra


def test_jonckheere_terpstra_brute_force(spark, sf_small):
    """Independent replay: brute-force J4 over raw cross-group pairs
    and the Hollander-Wolfe tie-corrected variance from first
    principles must reproduce the operator's row exactly."""
    import duckdb
    import math

    rows = duckdb.connect().execute(
        f"SELECT source, n_chars FROM '{sf_small}/documents.parquet'"
    ).fetchall()
    groups = {}
    for s, x in rows:
        groups.setdefault(s, []).append(x)
    keys = sorted(groups)
    j4 = 0
    for i, g in enumerate(keys):
        for h in keys[i + 1:]:
            for x in groups[g]:
                for y in groups[h]:
                    if x < y:
                        j4 += 4
                    elif x == y:
                        j4 += 2
    n = len(rows)
    sizes = [len(groups[k]) for k in keys]
    from collections import Counter

    ties = Counter(x for _, x in rows)
    e4 = n * n - sum(m * m for m in sizes)
    a_term = (
        n * (n - 1) * (2 * n + 5)
        - sum(m * (m - 1) * (2 * m + 5) for m in sizes)
        - sum(t * (t - 1) * (2 * t + 5) for t in ties.values())
    )
    sn3 = sum(m * (m - 1) * (m - 2) for m in sizes)
    st3 = sum(t * (t - 1) * (t - 2) for t in ties.values())
    sn2 = sum(m * (m - 1) for m in sizes)
    st2 = sum(t * (t - 1) for t in ties.values())
    var = (
        a_term / 72.0
        + sn3 * st3 / (36.0 * n * (n - 1) * (n - 2))
        + sn2 * st2 / (8.0 * n * (n - 1))
    )
    z = (j4 - e4) / (4.0 * math.sqrt(var))

    row = (
        SPECS["quality_jonckheere_terpstra_trend"]
        .fn(spark, sf_small)
        .first()
    )
    assert row.n_total == n and row.n_groups == len(keys)
    assert row.j4 == j4 and row.e4 == e4
    assert math.isclose(row.var_j, var, rel_tol=1e-12)
    assert math.isclose(row.z_stat, z, rel_tol=1e-12)


# ------------------------- containment keep policy


def test_containment_keep_policy_laws(spark, sf_small):
    """Policy laws: the involved-doc set is exactly the union of both
    sides of the evidence op's rows; every containment relation has a
    kept participant (no chain drops all its members — the dominance
    order's maximal element survives); dropped docs have at least one
    dominating container."""
    evidence = (
        SPECS["dedup_shingle_containment"].fn(spark, sf_small).collect()
    )
    policy = {
        r.doc_id: r
        for r in SPECS["dedup_containment_keep_policy"]
        .fn(spark, sf_small)
        .collect()
    }
    involved = {r.inner_doc for r in evidence} | {
        r.outer_doc for r in evidence
    }
    assert set(policy) == involved
    assert any(r.kept for r in policy.values()) or not policy
    for r in policy.values():
        assert r.kept == (r.n_dominating_containers == 0)
    # each containment component keeps its dominance-maximal member:
    # the doc with the most shingles (ties to smallest id) among any
    # related pair can never be dominated by the other
    for e in evidence:
        pi, po = policy[e.inner_doc], policy[e.outer_doc]
        assert pi.kept or po.kept or (
            # both may be dropped only via THIRD-party dominators
            pi.n_dominating_containers > 0
            and po.n_dominating_containers > 0
        )


def test_containment_keep_policy_no_kernel_replay(spark, sf_small):
    """The policy's FINAL plan must read only the eagerly checkpointed
    frames — zero parquet scans means none of the three downstream
    branches can replay the shingle self-join (the 45 s → 18 s fix at
    the 10× probe)."""
    df = SPECS["dedup_containment_keep_policy"].fn(spark, sf_small)
    text = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "Scan parquet" not in text, text[:4000]
    assert "ExistingRDD" in text, text[:4000]


# ------------------------- Hurst R/S


def test_hurst_rs_python_replay(spark, sf_small):
    """Independent replay: block R/S values, per-size means, and the
    log-log slope recomputed in pure python from the exact micro-unit
    daily sums must match the operator to 1e-9."""
    import math

    import duckdb

    rows = duckdb.connect().execute(
        f"""SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000
                   AS BIGINT)
            FROM '{sf_small}/orders.parquet'
            GROUP BY o_orderdate ORDER BY o_orderdate"""
    ).fetchall()
    xs = [r[0] for r in rows]
    from kafka_stream_processing_spark.operators.windowed import (
        HURST_BLOCK_SIZES,
    )

    means = {}
    for s in HURST_BLOCK_SIZES:
        vals = []
        for b0 in range(0, len(xs) - s + 1, s):
            blk = xs[b0 : b0 + s]
            sx = sum(blk)
            cum = 0
            walk = []
            for k, x in enumerate(blk, start=1):
                cum += x
                walk.append(s * cum - k * sx)
            r_scaled = max(walk) - min(walk)
            s2var = s * sum(x * x for x in blk) - sx * sx
            if s2var > 0:
                vals.append(r_scaled / math.sqrt(s2var))
        means[s] = (len(vals), sum(round(v, 12) for v in vals) / len(vals))
    us = [math.log(s) for s in HURST_BLOCK_SIZES]
    vs = [math.log(means[s][1]) for s in HURST_BLOCK_SIZES]
    k = len(us)
    slope = (
        k * sum(u * v for u, v in zip(us, vs)) - sum(us) * sum(vs)
    ) / (k * sum(u * u for u in us) - sum(us) ** 2)

    row = SPECS["window_hurst_rs_daily"].fn(spark, sf_small).first()
    for s in HURST_BLOCK_SIZES:
        assert row[f"nb_{s}"] == means[s][0]
        assert math.isclose(row[f"mrs_{s}"], means[s][1], rel_tol=1e-9)
    assert math.isclose(row.hurst_h, slope, rel_tol=1e-9)
    assert 0.0 < row.hurst_h < 1.0


# ------------------------- Lo-MacKinlay variance ratio


def test_variance_ratio_python_replay(spark, sf_small):
    """Independent replay: exact integer variance numerators, VR(q),
    and the homoskedastic z recomputed in pure python from the
    micro-unit daily sums must match the operator to 1e-12."""
    import math

    import duckdb

    from kafka_stream_processing_spark.operators.windowed import (
        VR_Q_PERIODS,
    )

    rows = duckdb.connect().execute(
        f"""SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000
                   AS BIGINT)
            FROM '{sf_small}/orders.parquet'
            GROUP BY o_orderdate ORDER BY o_orderdate"""
    ).fetchall()
    xs = [r[0] for r in rows]

    def var_num(diffs):
        cnt = len(diffs)
        return cnt * sum(e * e for e in diffs) - sum(diffs) ** 2, cnt

    num1, n = var_num([b - a for a, b in zip(xs, xs[1:])])
    got = {
        r.q: r
        for r in SPECS["window_variance_ratio_daily"]
        .fn(spark, sf_small)
        .collect()
    }
    assert set(got) == set(VR_Q_PERIODS)
    for q in VR_Q_PERIODS:
        numq, m = var_num([xs[i] - xs[i - q] for i in range(q, len(xs))])
        vr = (numq * n * n) / (q * m * m * num1)
        z = (vr - 1.0) * math.sqrt(
            (3.0 * q * n) / (2.0 * (2.0 * q - 1.0) * (q - 1.0))
        )
        r = got[q]
        assert r.n_incr == n and r.m_overlap == m
        assert math.isclose(r.num_1_d, float(num1), rel_tol=1e-12)
        assert math.isclose(r.num_q_d, float(numq), rel_tol=1e-12)
        assert math.isclose(r.vr, vr, rel_tol=1e-12)
        assert math.isclose(r.z_homo, z, rel_tol=1e-12)
        # variance numerators are nonnegative quadratics by construction
        assert r.num_q_d >= 0 and r.num_1_d > 0


def test_variance_ratio_width_budget():
    """Pin the decimal width-budget discipline on the shared SQL text:
    every product's operand widths sum to exactly 38 with at least one
    operand >= 19 wide (DuckDB hugeint path), and the count operand of
    the count*sum product is 4 wide against the declared 34-wide sum
    (bound: sum of squares < 1e34 over a <= 9,999-day span)."""
    import re

    from kafka_stream_processing_spark.registry import all_specs

    oracle = all_specs()["window_variance_ratio_daily"].oracle
    pairs = re.findall(
        r"DECIMAL\((\d+),0\)\)\s*\* CAST\([^)]*\s?AS DECIMAL\((\d+),0\)",
        oracle,
    )
    assert len(pairs) >= 4, oracle
    for w1, w2 in pairs:
        assert int(w1) + int(w2) == 38, (w1, w2)
        assert max(int(w1), int(w2)) >= 19, (w1, w2)
    assert "DECIMAL(34,0)" in oracle and "DECIMAL(4,0)" in oracle


# ------------------------- multiscale sample entropy


def test_multiscale_sample_entropy_scale1_reproduces_single(
    spark, sf_small
):
    """The stride-1 row of the multiscale op must reproduce the
    single-scale SampEn bit-for-bit (same tolerance selection, same
    template convention, same counts)."""
    import math

    rows = {
        r.scale: r
        for r in SPECS["window_multiscale_sample_entropy"]
        .fn(spark, sf_small)
        .collect()
    }
    from kafka_stream_processing_spark.operators.windowed import (
        SAMPEN_SCALES,
    )

    assert set(rows) == set(SAMPEN_SCALES)
    one = SPECS["window_sample_entropy_daily"].fn(spark, sf_small).first()
    r1 = rows[1]
    assert r1.r_tol == one.r_tol
    assert r1.b_count == one.b_count and r1.a_count == one.a_count
    assert math.isclose(r1.sampen, one.sampen, rel_tol=0)
    # template-count law: stride-s loses exactly 2s tail rows vs the
    # day-grid length, so n_tpl is strictly decreasing in s
    ns = [rows[s].n_tpl for s in sorted(rows)]
    assert ns == sorted(ns, reverse=True) and ns[0] == one.n_days - 2
    # A-subset-of-B law per scale
    for r in rows.values():
        assert 0 <= r.a_count <= r.b_count
        assert r.sampen is None or r.sampen >= 0


# ------------------------- SemDeDup k-sweep calibration


def test_semdedup_k_sweep_pins_single_k_row(spark, sf_small):
    """The k=KMEANS_K sweep row must equal the aggregate of the
    registered single-k operator's per-cell audit (shared seed,
    tie-break, and decimal-cosine kernels), and the sweep's cost law
    must hold: candidate_pairs strictly decreases in k while n_cells
    equals k (every seed keeps itself)."""
    from kafka_stream_processing_spark.operators.clustering import (
        KMEANS_K,
        SEMDEDUP_K_SWEEP,
    )

    rows = {
        r.k: r
        for r in SPECS["dedup_semdedup_k_sweep"]
        .fn(spark, sf_small)
        .collect()
    }
    assert set(rows) == set(SEMDEDUP_K_SWEEP)
    single = (
        SPECS["dedup_semantic_semdedup"].fn(spark, sf_small).collect()
    )
    r8 = rows[KMEANS_K]
    assert r8.n_cells == len(single) == KMEANS_K
    assert r8.n_dup_pairs == sum(r.n_dup_pairs for r in single)
    # cells are disjoint, so per-cell distinct vec_b sums to the global
    assert r8.n_dropped == sum(r.n_dropped for r in single)
    assert r8.candidate_pairs == sum(
        r.n_vecs * (r.n_vecs - 1) // 2 for r in single
    )
    ks = sorted(rows)
    cand = [rows[k].candidate_pairs for k in ks]
    assert cand == sorted(cand, reverse=True)
    for k in ks:
        assert rows[k].n_cells == k
        assert 0 <= rows[k].n_dropped <= rows[k].n_dup_pairs
        assert rows[k].n_dup_pairs <= rows[k].candidate_pairs


# ------------------------- approximate entropy


def test_approximate_entropy_python_replay(spark, sf_small):
    """Independent replay: rank-selected tolerance, per-template match
    counts, and both Φ means recomputed in pure python must match the
    operator (1e-9; the round-12 decimal-sum makes the Φs reproducible
    to that scale), and the shared-tolerance law with SampEn holds."""
    import math

    import duckdb

    rows = duckdb.connect().execute(
        f"""SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000
                   AS BIGINT)
            FROM '{sf_small}/orders.parquet'
            GROUP BY o_orderdate ORDER BY o_orderdate"""
    ).fetchall()
    xs = [r[0] for r in rows]
    moves = sorted(abs(b - a) for a, b in zip(xs, xs[1:]))
    r_tol = moves[(len(moves) * 4 + 4) // 5 - 1]

    def phi(m):
        tpls = [tuple(xs[i : i + m]) for i in range(len(xs) - m + 1)]
        n = len(tpls)
        total = 0
        for a in tpls:
            c = sum(
                all(abs(u - v) <= r_tol for u, v in zip(a, b))
                for b in tpls
            )
            total += round(math.log(c / n), 12)
        return total / n, n

    p2, n2 = phi(2)
    p3, n3 = phi(3)
    row = (
        SPECS["window_approximate_entropy_daily"].fn(spark, sf_small).first()
    )
    assert row.r_tol == r_tol and row.n_tpl2 == n2 and row.n_tpl3 == n3
    assert math.isclose(row.phi2, p2, rel_tol=1e-9)
    assert math.isclose(row.phi3, p3, rel_tol=1e-9)
    assert math.isclose(row.apen, p2 - p3, rel_tol=1e-9)
    # self-match law: every C_i >= 1 so both Φ means are <= 0, and the
    # tolerance is the SAME integer SampEn selected (shared constants)
    assert row.phi2 <= 0 and row.phi3 <= 0
    one = SPECS["window_sample_entropy_daily"].fn(spark, sf_small).first()
    assert one.r_tol == row.r_tol


def test_semdedup_two_tier_equals_all_exact_kernel(spark, sf_small):
    """The float-prefilter band logic must emit EXACTLY the pair set
    the all-exact decimal kernel emits: rebuild the within-cell pairs
    with the pure cosine_exact >= threshold verdict for every pair and
    compare to the shipped audit's counts."""
    from pyspark.sql import functions as F

    from kafka_stream_processing_spark.operators.clustering import (
        KMEANS_K,
        assign_nearest,
    )
    from kafka_stream_processing_spark.operators.dedup import (
        COSINE_DUP_THRESHOLD,
    )
    from kafka_stream_processing_spark.operators.similarity import (
        _as_double_array,
        cosine_exact,
        l2_norm_exact,
    )
    from kafka_stream_processing_spark.sources.tables import fanout, table

    emb = fanout(table(spark, sf_small, "embeddings")).select(
        "vec_id", _as_double_array("embedding").alias("emb")
    )
    n = emb.withColumn("nrm", l2_norm_exact(F.col("emb")))
    cents = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cluster_id"), F.col("emb").alias("cvec")
    )
    members = assign_nearest(n, cents).select(
        "cluster_id", "vec_id", "emb", "nrm"
    )
    a, b = members.alias("a"), members.alias("b")
    cos = cosine_exact(
        F.col("a.emb"), F.col("b.emb"), F.col("a.nrm"), F.col("b.nrm")
    )
    exact = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.cluster_id").alias("cluster_id"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_dup_pairs"),
            F.countDistinct("vec_b").alias("n_dropped"),
        )
        .collect()
    )
    want = {
        r.cluster_id: (r.n_dup_pairs, r.n_dropped) for r in exact
    }
    got = {
        r.cluster_id: (r.n_dup_pairs, r.n_dropped)
        for r in SPECS["dedup_semantic_semdedup"]
        .fn(spark, sf_small)
        .collect()
        if r.n_dup_pairs > 0
    }
    assert got == want


# ------------------------- DFA


def test_dfa_alpha_python_replay(spark, sf_small):
    """Independent replay: per-block exact OLS-detrended fluctuation,
    per-size means, and the log-log slope recomputed in pure python
    from the daily order counts must match the operator to 1e-9; the
    exact integer A·C−B² must be nonnegative everywhere."""
    import math

    import duckdb

    from kafka_stream_processing_spark.operators.windowed import (
        DFA_BLOCK_SIZES,
        _dfa_c,
    )

    rows = duckdb.connect().execute(
        f"""SELECT CAST(count(*) AS BIGINT)
            FROM '{sf_small}/orders.parquet'
            GROUP BY o_orderdate ORDER BY o_orderdate"""
    ).fetchall()
    xs = [r[0] for r in rows]
    means = {}
    for s in DFA_BLOCK_SIZES:
        c = _dfa_c(s)
        vals = []
        for b0 in range(0, len(xs) - s + 1, s):
            blk = xs[b0 : b0 + s]
            sx = sum(blk)
            cum = 0
            ws = []
            for k, x in enumerate(blk, start=1):
                cum += x
                ws.append(s * cum - k * sx)
            a = s * sum(v * v for v in ws) - sum(ws) ** 2
            b = s * sum(k * v for k, v in enumerate(ws, start=1)) - (
                s * (s + 1) // 2
            ) * sum(ws)
            acb = a * c - b * b
            assert acb >= 0
            if acb > 0:
                vals.append(math.sqrt(acb / float(s**4 * c)))
        means[s] = (
            len(vals),
            sum(round(v, 12) for v in vals) / len(vals),
        )
    us = [math.log(s) for s in DFA_BLOCK_SIZES]
    vs = [math.log(means[s][1]) for s in DFA_BLOCK_SIZES]
    k = len(us)
    slope = (
        k * sum(u * v for u, v in zip(us, vs)) - sum(us) * sum(vs)
    ) / (k * sum(u * u for u in us) - sum(us) ** 2)
    row = SPECS["window_dfa_alpha_daily"].fn(spark, sf_small).first()
    for s in DFA_BLOCK_SIZES:
        assert row[f"nb_{s}"] == means[s][0]
        assert math.isclose(row[f"mf_{s}"], means[s][1], rel_tol=1e-9)
    assert math.isclose(row.dfa_alpha, slope, rel_tol=1e-9)
    # white-noise-ish arrivals: alpha should land near 0.5, far from
    # the degenerate 0/1 edges
    assert 0.1 < row.dfa_alpha < 0.9


def test_semdedup_salted_pair_stage_plan(spark, sf_small):
    """Pin the serial-funnel fix: the pair stage must fan out over the
    salted composite key via the user-specified repartition (exempt
    from AQE coalescing), with salt types aligned so no cast-induced
    re-exchange sneaks back in after it."""
    df = SPECS["dedup_semantic_semdedup"].fn(spark, sf_small)
    df.collect()
    txt = df._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in txt
    rep = [
        ln for ln in txt.splitlines()
        if "REPARTITION_BY_NUM" in ln and "salt" in ln
    ]
    assert rep, txt[:3000]
    # mismatched salt types would re-shuffle through a cast
    assert "cast(salt" not in txt, [
        ln.strip() for ln in txt.splitlines() if "cast(salt" in ln
    ]


def test_stage_x10_replicates_facts_consistently(tmp_path, sf_small):
    """The committed ×10 staging must (a) replicate each fact table
    exactly REPLICAS×, (b) keep dims untouched, (c) offset lineitem's
    orderkey in lockstep with orders so the join degree profile is
    preserved, and (d) keep primary keys unique."""
    import duckdb

    from kafka_stream_processing_spark.tools.stage_x10 import (
        DIMS,
        FACTS,
        REPLICAS,
        stage,
    )

    dst = str(tmp_path / "x10")
    stage(sf_small, dst)
    con = duckdb.connect()
    for t in FACTS:
        n0 = con.execute(
            f"SELECT count(*) FROM '{sf_small}/{t}.parquet'"
        ).fetchone()[0]
        n1 = con.execute(
            f"SELECT count(*) FROM '{dst}/{t}.parquet'"
        ).fetchone()[0]
        assert n1 == REPLICAS * n0, t
    for t in DIMS:
        n0 = con.execute(
            f"SELECT count(*) FROM '{sf_small}/{t}.parquet'"
        ).fetchone()[0]
        n1 = con.execute(
            f"SELECT count(*) FROM '{dst}/{t}.parquet'"
        ).fetchone()[0]
        assert n1 == n0, t
    # primary keys stay unique after offsetting
    for t, (keys, _) in FACTS.items():
        if t == "lineitem":
            continue  # composite (orderkey, linenumber) — checked below
        k = keys[0]
        dup = con.execute(
            f"SELECT count(*) - count(DISTINCT {k}) "
            f"FROM '{dst}/{t}.parquet'"
        ).fetchone()[0]
        assert dup == 0, t
    # orders<->lineitem joins in lockstep: per-replica join cardinality
    # equals REPLICAS x the original
    j0 = con.execute(
        f"""SELECT count(*) FROM '{sf_small}/orders.parquet' o
            JOIN '{sf_small}/lineitem.parquet' l
              ON l.l_orderkey = o.o_orderkey"""
    ).fetchone()[0]
    j1 = con.execute(
        f"""SELECT count(*) FROM '{dst}/orders.parquet' o
            JOIN '{dst}/lineitem.parquet' l
              ON l.l_orderkey = o.o_orderkey"""
    ).fetchone()[0]
    assert j1 == REPLICAS * j0


def test_variance_ratio_joint_consistent_with_per_q(spark, sf_small):
    """The joint row must be the exact max-|z| fold of the per-q op
    (shared kernel), and the reject flag must follow the SMM literal."""
    import math

    from kafka_stream_processing_spark.operators.windowed import (
        CHOW_DENNING_CRIT_5PCT,
        VR_Q_PERIODS,
    )

    per_q = (
        SPECS["window_variance_ratio_daily"].fn(spark, sf_small).collect()
    )
    joint = (
        SPECS["window_variance_ratio_joint"].fn(spark, sf_small).first()
    )
    assert joint.n_horizons == len(VR_Q_PERIODS) == len(per_q)
    want = max(abs(r.z_homo) for r in per_q)
    assert math.isclose(joint.max_abs_z, want, rel_tol=0)
    assert joint.reject_rw_5pct == int(want > CHOW_DENNING_CRIT_5PCT)


def test_bds_python_replay(spark, sf_small):
    """Independent replay of the m=2 BDS statistic — pair counts,
    per-point neighbor fold, correlation integrals, and the collapsed
    m=2 variance — in pure python to 1e-12, plus the law K >= C1^2
    (Cauchy-Schwarz) that the variance collapse relies on."""
    import math

    import duckdb

    rows = duckdb.connect().execute(
        f"""SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000
                   AS BIGINT)
            FROM '{sf_small}/orders.parquet'
            GROUP BY o_orderdate ORDER BY o_orderdate"""
    ).fetchall()
    xs = [r[0] for r in rows]
    moves = sorted(abs(b - a) for a, b in zip(xs, xs[1:]))
    r_tol = moves[(len(moves) * 4 + 4) // 5 - 1]
    tpl = list(zip(xs, xs[1:]))
    m = len(tpl)
    p1 = p2 = 0
    c = [0] * m
    for i in range(m):
        for j in range(i + 1, m):
            if abs(tpl[i][0] - tpl[j][0]) <= r_tol:
                p1 += 1
                c[i] += 1
                c[j] += 1
                if abs(tpl[i][1] - tpl[j][1]) <= r_tol:
                    p2 += 1
    t_sum = sum(v * (v - 1) for v in c)
    c1 = 2.0 * p1 / (m * (m - 1.0))
    c2 = 2.0 * p2 / (m * (m - 1.0))
    k = t_sum / (m * (m - 1.0) * (m - 2.0))
    assert k >= c1 * c1
    z = math.sqrt(m) * (c2 - c1 * c1) / (2.0 * (k - c1 * c1))
    row = SPECS["window_bds_test_daily"].fn(spark, sf_small).first()
    assert row.m_tpl == m and row.r_tol == r_tol
    assert row.p1 == p1 and row.p2 == p2 and row.t_sum == t_sum
    assert math.isclose(row.c1, c1, rel_tol=1e-12)
    assert math.isclose(row.c2, c2, rel_tol=1e-12)
    assert math.isclose(row.k_hat, k, rel_tol=1e-12)
    assert math.isclose(row.bds_z, z, rel_tol=1e-12)
