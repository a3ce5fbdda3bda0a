"""Physical-plan regression tests: the scale-critical properties of the
headline queries (pushdown, pruning, broadcast, codegen) are pinned here —
the engine's equivalent of asserting on the reference's
topology.describe() output (UniqueUsersCounter.java:96), but checking the
properties an optimizer must deliver rather than a topology shape.
"""

from __future__ import annotations

from kafka_stream_processing_spark import registry
from kafka_stream_processing_spark.operators.relational import (
    filter_project_events,
    q1_pricing_summary,
    q3_shipping_priority,
    q5_region_revenue,
)
from kafka_stream_processing_spark.plans.explain import plan_asserts, plan_report

SF = "/root/testdata/sf0.001"


def test_filter_and_projection_reach_parquet_scan(spark, sf_small):
    # 5 columns selected of 6; IN/range filters must appear in PushedFilters.
    plan_asserts(
        filter_project_events(spark, sf_small),
        pushed=True,
        codegen=True,
        max_scan_columns=5,
    )


def test_q1_prunes_scan_and_aggregates_map_side(spark, sf_small):
    # Q1 touches 7 of 11 lineitem columns; shipdate filter pushed; partial
    # (map-side) aggregation before the single exchange.  (Codegen ids are
    # not rendered inside a non-finalized AdaptiveSparkPlan, so codegen is
    # asserted on the shuffle-free filter_project plan above instead.)
    rep = plan_asserts(
        q1_pricing_summary(spark, sf_small),
        pushed=True,
        max_scan_columns=7,
    )
    assert "partial_sum" in rep.text, rep.text[:4000]
    assert rep.n_exchanges == 1, rep.text[:4000]


def test_q3_broadcasts_filtered_customer(spark, sf_small):
    plan_asserts(q3_shipping_priority(spark, sf_small), pushed=True, broadcast=True)


def test_q5_broadcasts_dimensions(spark, sf_small):
    rep = plan_asserts(q5_region_revenue(spark, sf_small), broadcast=True)
    # Exactly the never-grows dimensions (nation, region) are hinted —
    # >= 2 compile-time BroadcastHashJoins.  Supplier is deliberately
    # NOT hinted (it grows ~linearly with SF; a hint would override
    # AQE's size check and OOM executors at the 100 TB point) — AQE's
    # runtime broadcast conversion promotes it at small SF instead, so
    # the compile-time plan must still shuffle-join or later-convert it.
    assert rep.text.count("BroadcastHashJoin") >= 2, rep.text[:4000]


def test_flagship_is_two_phase_aggregate(spark, sf_small):
    rep = plan_report(registry.flagship(spark, sf_small))
    # countDistinct plans partial + final HashAggregate pairs around hash
    # exchanges keyed on (window[, uid]) — never the reference's
    # single-task constant-key funnel (UniqueUsersCounter.java:74-75).
    assert rep.text.count("HashAggregate") >= 2, rep.text[:4000]
    assert "hashpartitioning(" in rep.text, rep.text[:4000]
    assert rep.n_exchanges == 2, rep.text[:4000]


def test_topk_shares_one_shuffle_across_windows(spark, sf_small):
    rep = plan_report(
        registry.all_specs()["window_topk_orders_per_customer"].fn(spark, sf_small)
    )
    # All three window functions partition on o_custkey: Catalyst must plan
    # exactly ONE exchange, reused by both Window operators.
    assert rep.n_exchanges == 1, rep.text[:4000]


def test_orderby_limit_avoids_global_sort(spark, sf_small):
    rep = plan_report(
        registry.all_specs()["orderby_limit_top_lineitems"].fn(spark, sf_small)
    )
    assert "TakeOrderedAndProject" in rep.text, rep.text[:4000]


def test_embedding_dedup_buckets_not_nested_loop(spark, sf_small):
    """The registered embedding dedup must candidate-join on the LSH
    bucket (hash join on a 1-int key) — never the all-pairs
    BroadcastNestedLoopJoin that r01 shipped (VERDICT.md item 2)."""
    rep = plan_report(
        registry.all_specs()["dedup_embedding_cosine"].fn(spark, sf_small)
    )
    assert "BroadcastNestedLoopJoin" not in rep.text, rep.text[:4000]
    assert "CartesianProduct" not in rep.text, rep.text[:4000]
    assert "Join" in rep.text, rep.text[:4000]


def test_js_divergence_sparse_no_vocab_grid(spark, sf_small):
    """The JS-divergence matrix must compute SPARSE (r05 VERDICT item 3):
    the word-level work is a self-EQUI-join of the per-source
    distributions on the word key — never the dense
    crossJoin(broadcast(vocab)) grid, whose sources²×vocab rows are the
    scale-killer at a 10⁷–10⁸-term vocabulary.  The only nested-loop
    stages allowed are the pair enumeration over the per-SOURCE totals
    (a post-aggregation side of sources rows — dozens, fixed by the
    catalog, independent of corpus size)."""
    rep = plan_report(
        registry.all_specs()["quality_js_divergence_sources"].fn(
            spark, sf_small
        )
    )
    assert "CartesianProduct" not in rep.text, rep.text[:4000]
    # pair enumeration (tiny × tiny) + its left-join against the
    # intersection aggregate may both render nested-loop; the dense grid
    # would add a third with a vocab-distinct build side.
    assert rep.text.count("BroadcastNestedLoopJoin") <= 2, rep.text[:4000]
    # the word self-join must be a real equi-join (hash or sort-merge,
    # depending on runtime stats)
    assert (
        "SortMergeJoin" in rep.text
        or "ShuffledHashJoin" in rep.text
        or "BroadcastHashJoin" in rep.text
    ), rep.text[:4000]
    # the corpus is scanned ONCE, at the eager localCheckpoint of the
    # per-source word distribution — the final plan must read only the
    # vocab-sized checkpointed table, never re-derive from parquet.
    assert "Scan parquet" not in rep.text, rep.text[:4000]


def test_simhash_banded_not_cartesian(spark, sf_small):
    """The banded SimHash must candidate-join on (band, bandval) — no
    cartesian/nested-loop stage — and banding must be LOSSLESS against
    the 64-bit all-pairs formulation: Hamming <= 3 flips at most 3 of
    the 4 16-bit bands, so every true near-pair agrees exactly on >= 1
    band (Manku et al. pigeonhole; r09 VERDICT item 1)."""
    from pyspark.sql import functions as F

    from kafka_stream_processing_spark.operators.dedup import (
        SIMHASH64_MAX_HAMMING,
        SIMHASH64_N_BANDS,
        _simhash64_band_values,
    )

    specs = registry.all_specs()
    banded_df = specs["dedup_simhash_banded"].fn(spark, sf_small)
    rep = plan_report(banded_df)
    assert "BroadcastNestedLoopJoin" not in rep.text, rep.text[:4000]
    assert "CartesianProduct" not in rep.text, rep.text[:4000]

    # All-pairs twin over the SAME 64-bit signatures (test-only: the
    # quadratic formulation exists nowhere in the registered surface).
    sims = _simhash64_band_values(spark, sf_small)
    a, b = sims.alias("a"), sims.alias("b")
    hamming = sum(
        F.bit_count(F.col(f"a.b{k}").bitwiseXOR(F.col(f"b.b{k}")))
        for k in range(SIMHASH64_N_BANDS)
    )
    allpairs_df = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH64_MAX_HAMMING)
    )
    allpairs = {tuple(r) for r in allpairs_df.collect()}
    banded = {tuple(r) for r in banded_df.collect()}
    assert banded == allpairs
    assert allpairs, "fixture should contain at least one near-dup pair"


def test_simhash_banded_key_cardinality(spark, sf_small):
    """The r09 nibble banding was quadratic because its entire join-key
    domain was 4 bands × 16 nibble values = 64 keys — every bucket held
    ~n/16 of the corpus regardless of corpus size.  Pin the fix: with
    16-bit bands the observed key cardinality must SCALE with the corpus
    (unrelated docs draw ~uniform band values over 2¹⁶), and no bucket
    may hold a corpus-fraction of docs (the embedding-dedup bucket-pin
    pattern, test_embedding_dedup_buckets_not_nested_loop)."""
    from pyspark.sql import functions as F

    from kafka_stream_processing_spark.operators.dedup import (
        SIMHASH64_N_BANDS,
        _simhash64_band_values,
    )

    sims = _simhash64_band_values(spark, sf_small).cache()
    try:
        n_docs = sims.count()
        bands = sims.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).alias("band"),
                            F.col(f"b{k}").alias("bandval"),
                        )
                        for k in range(SIMHASH64_N_BANDS)
                    ]
                )
            ).alias("e")
        ).select("e.band", "e.bandval")
        per_bucket = bands.groupBy("band", "bandval").count()
        stats = per_bucket.agg(
            F.count(F.lit(1)).alias("n_keys"), F.max("count").alias("max_df")
        ).first()
        # Old nibble scheme: n_keys <= 64 no matter the corpus.  New
        # scheme at n docs over 2^16 values: near-distinct band values
        # (collisions only from true near-dups + birthday-rate noise).
        assert stats.n_keys >= SIMHASH64_N_BANDS * n_docs * 0.5, (
            f"band-key cardinality {stats.n_keys} does not scale with "
            f"corpus ({n_docs} docs) — banding has degenerated"
        )
        # No bucket holds a corpus-fraction: the quadratic scheme put
        # ~n/16 docs in every bucket; real near-dup clusters are tiny.
        assert stats.max_df <= max(8, n_docs // 16), (
            f"largest band bucket holds {stats.max_df} of {n_docs} docs"
        )
    finally:
        sims.unpersist()


def test_q6_is_pure_pushdown_single_exchange(spark, sf_small):
    """Q6 is the pushdown benchmark: no join, all three predicates in
    PushedFilters, only the 4 referenced lineitem columns read, and one
    single-row exchange after the map-side partial aggregate."""
    rep = plan_asserts(
        registry.all_specs()["q6_forecast_revenue"].fn(spark, sf_small),
        pushed=True,
        max_scan_columns=4,
    )
    assert "partial_sum" in rep.text, rep.text[:4000]
    assert rep.n_exchanges == 1, rep.text[:4000]


def test_q21_single_orderkey_shuffle_and_topk(spark, sf_small):
    """The de-correlated Q21 must scan lineitem ONCE (the textbook
    double-EXISTS scans it three times; groupBy-and-join-back twice):
    both collect_set windows share one l_orderkey partitioning, supplier
    broadcasts, and the final top-20 is TakeOrderedAndProject."""
    import re

    rep = plan_report(
        registry.all_specs()["q21_waiting_suppliers"].fn(spark, sf_small)
    )
    assert "TakeOrderedAndProject" in rep.text, rep.text[:4000]
    assert "BroadcastHashJoin" in rep.text, rep.text[:4000]
    # One scan per table: lineitem, orders, supplier.
    scans = re.findall(r"^\(\d+\) Scan parquet", rep.text, re.M)
    assert len(scans) == 3, rep.text[:4000]
    # Both windows share ONE l_orderkey exchange (two Window operators,
    # back to back, no exchange between them); the only other exchange is
    # the final per-supplier aggregate.
    assert len(re.findall(r"^\(\d+\) Window", rep.text, re.M)) <= 2, rep.text[:4000]
    assert rep.n_exchanges <= 3, rep.text[:4000]


def test_lateral_topk_decorrelates_to_window_group_limit(spark, sf_small):
    """The correlated LATERAL ... ORDER BY ... LIMIT 2 must de-correlate
    into WindowGroupLimit (per-partition partial top-k) — never a
    per-outer-row re-scan (nested-loop) of orders."""
    rep = plan_report(
        registry.all_specs()["sql_lateral_topk_per_customer"].fn(spark, sf_small)
    )
    assert "WindowGroupLimit" in rep.text, rep.text[:4000]
    assert "BroadcastNestedLoopJoin" not in rep.text, rep.text[:4000]
    assert "CartesianProduct" not in rep.text, rep.text[:4000]


def test_null_safe_join_plans_as_hash_join(spark, sf_small):
    """EqualNullSafe is a legitimate equi-join key: the `<=>` join must
    plan as a hash join (broadcast or shuffled), never the
    nested-loop/cartesian fallback of a theta join."""
    rep = plan_report(
        registry.all_specs()["join_null_safe_equality"].fn(spark, sf_small)
    )
    assert "HashJoin" in rep.text, rep.text[:4000]
    assert "BroadcastNestedLoopJoin" not in rep.text, rep.text[:4000]
    assert "CartesianProduct" not in rep.text, rep.text[:4000]


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_small):
    """With runtime bloom-filter injection on (thresholds scaled to the
    testdata), a selective dimension predicate semi-join-reduces the fact
    side BEFORE its shuffle: the lineitem scan gains a
    might_contain(bloom) filter built from filtered orders keys.  This is
    the 100 TB lever for selective star joins — shuffle only surviving
    fact rows — and results must be byte-identical either way."""
    from pyspark.sql import functions as F

    from kafka_stream_processing_spark.sources.tables import table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}

    def build():
        li = table(spark, sf_small, "lineitem")
        o = table(spark, sf_small, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    baseline = {tuple(r) for r in build().collect()}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = build()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:4000]
        assert "bloom_filter_agg" in plan, plan[:4000]
        assert {tuple(r) for r in df.collect()} == baseline
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_exact_substring_runs_plan_is_hash_joined(spark, sf_small):
    """The duplicate-gram join must be an equi-join on the 8-byte hash
    (SMJ or shuffled-hash; AQE may also broadcast the small dup side at
    this SF) — never a nested-loop/cartesian pairing of positions."""
    rep = plan_report(
        registry.all_specs()["dedup_exact_substring_runs"].fn(spark, sf_small)
    )
    assert "CartesianProduct" not in rep.text
    assert "BroadcastNestedLoopJoin" not in rep.text


def test_bloom_prefilter_probe_side_broadcasts(spark, sf_small):
    """The probe must join the <=2048-row packed-word table as a
    BroadcastHashJoin: the bitmap is the thing that stays small at any
    corpus size, and a shuffle here would defeat the operator."""
    rep = plan_report(
        registry.all_specs()["corpus_bloom_prefilter"].fn(spark, sf_small)
    )
    assert "BroadcastHashJoin" in rep.text, rep.text[:4000]
    assert "CartesianProduct" not in rep.text


def test_zorder_morton_code_is_codegen_arithmetic(spark, sf_small):
    """The interleave must fold into plain projected arithmetic (no
    Python eval in the plan) and the only wide operator is the 128-group
    aggregate plus the 1-row domain broadcast."""
    rep = plan_report(
        registry.all_specs()["layout_zorder_lineitem"].fn(spark, sf_small)
    )
    assert "shiftright" in rep.text or "SHIFTRIGHT" in rep.text
    assert "BatchEvalPython" not in rep.text
    assert "ArrowEvalPython" not in rep.text


def test_hilbert_walk_is_codegen_arithmetic(spark, sf_small):
    """Eight unrolled rotate/flip iterations must stay pure projected
    arithmetic — no Python evaluators, no shuffle beyond the 128-group
    aggregate and the 1-row domain broadcast."""
    rep = plan_report(
        registry.all_specs()["layout_hilbert_lineitem"].fn(spark, sf_small)
    )
    assert "BatchEvalPython" not in rep.text
    assert "ArrowEvalPython" not in rep.text
    assert "CartesianProduct" not in rep.text


def test_skyline_has_no_quadratic_join(spark, sf_small):
    """The engine-side skyline must stay the O(n log n) window
    frontier — the quadratic dominance test is the ORACLE's job.  No
    nested-loop / cartesian anywhere; the frontier join back is a
    broadcast hash join on p_size."""
    specs = registry.all_specs()
    rep = plan_report(specs["join_skyline_parts"].fn(spark, sf_small))
    assert "CartesianProduct" not in rep.text, rep.text[:4000]
    assert "BroadcastNestedLoopJoin" not in rep.text, rep.text[:4000]
    assert "BroadcastHashJoin" in rep.text, rep.text[:4000]


def test_burstiness_and_pmi_topk_never_globally_sort(spark, sf_small):
    """Both vocab-scale top-k cuts must plan as TakeOrderedAndProject
    (k rows per partition), not a single-partition global Sort."""
    specs = registry.all_specs()
    for name in ("text_word_burstiness", "text_bigram_pmi_collocations"):
        rep = plan_report(specs[name].fn(spark, sf_small))
        assert "TakeOrderedAndProject" in rep.text, (name, rep.text[:4000])


def test_pearson_matrix_is_one_aggregate_pass(spark, sf_small):
    """All 15 moments must come from ONE scan: a single pair of
    HashAggregates (partial + final) over a single lineitem scan — no
    per-pair passes, no join."""
    specs = registry.all_specs()
    rep = plan_report(
        specs["quality_pearson_corr_lineitem"].fn(spark, sf_small)
    )
    # one file-scan node = one "Location:" detail line in the
    # formatted plan (the bare string "Scan parquet" appears twice per
    # node: tree line + detail heading)
    assert rep.text.count("Location: InMemoryFileIndex") == 1, (
        rep.text[:4000]
    )
    assert "partial_sum" in rep.text, rep.text[:4000]


def test_debounce_single_user_shuffle(spark, sf_small):
    """The debounce lag window and the final aggregate must share the
    sessionization shape: exchanges bounded (user-key window shuffle +
    aggregate), no sort of the whole stream into one partition."""
    specs = registry.all_specs()
    rep = plan_report(specs["window_debounce_events"].fn(spark, sf_small))
    # window partitioned by (user_id, event_type) — a hash partitioning,
    # never a global single-partition sort
    assert "SinglePartition" not in rep.text.split("TakeOrdered")[0] or (
        "hashpartitioning" in rep.text
    ), rep.text[:4000]
    assert "hashpartitioning" in rep.text, rep.text[:4000]


def test_es_sampler_plans_take_ordered(spark, sf_small):
    """The weighted-reservoir cut must be TakeOrderedAndProject
    (per-partition top-k + k-row driver merge), never a global Sort —
    the map-side mergeability that makes it a reservoir."""
    specs = registry.all_specs()
    rep = plan_report(
        specs["sample_weighted_reservoir_es"].fn(spark, sf_small)
    )
    assert "TakeOrderedAndProject" in rep.text, rep.text[:4000]


def test_phash_banding_is_not_cartesian(spark, sf_small):
    """Candidate pairs must come from the band-key equi-join
    (SortMerge/ShuffledHash on (band, band_key)) — the pigeonhole
    banding that kills the all-pairs comparison."""
    specs = registry.all_specs()
    rep = plan_report(
        specs["multimodal_phash_near_dup"].fn(spark, sf_small)
    )
    assert "CartesianProduct" not in rep.text, rep.text[:4000]
    assert "BroadcastNestedLoopJoin" not in rep.text, rep.text[:4000]


def test_top_event_paths_take_ordered(spark, sf_small):
    """The path top-k runs on the |types|³-bounded table and must
    still plan as TakeOrderedAndProject, not a global Sort."""
    specs = registry.all_specs()
    rep = plan_report(
        specs["window_top_event_paths"].fn(spark, sf_small)
    )
    assert "TakeOrderedAndProject" in rep.text, rep.text[:4000]


def test_cvm_terms_stay_histogram_sized(spark, sf_small):
    """CvM must scan documents ONCE: the value-distinct histogram is
    materialized (localCheckpoint) and carries everything downstream,
    so the FINAL plan contains no parquet scan at all — both the
    terms branch and the totals branch read the checkpointed RDD."""
    specs = registry.all_specs()
    rep = plan_report(specs["quality_cvm_drift"].fn(spark, sf_small))
    assert rep.text.count("Location: InMemoryFileIndex") == 0, (
        rep.text[:4000]
    )
    assert "Scan ExistingRDD" in rep.text, rep.text[:4000]


def test_twonn_ivf_shortlist_is_cell_equi_join(spark, sf_small):
    """The shortlisted TwoNN's candidate pairs must come from the
    cell equi-join (hash/sort-merge on cell = probe_cell), never a
    cartesian/broadcast-nested-loop over the corpus — the whole point
    of the IVF swap over the exact all-pairs op."""
    specs = registry.all_specs()
    rep = plan_report(
        specs["embedding_twonn_ivf_shortlist"].fn(spark, sf_small)
    )
    assert "CartesianProduct" not in rep.text, rep.text[:4000]
    assert "BroadcastNestedLoopJoin" not in rep.text, rep.text[:4000]


def test_croston_has_no_fold_and_no_corpus_sort(spark, sf_small):
    """Croston's dyadic closed form must plan with NO Python stage
    (no applyInPandas/ArrowEvalPython — the fold it replaces) and no
    global Sort (per-part windows only)."""
    specs = registry.all_specs()
    rep = plan_report(
        specs["window_croston_intermittent"].fn(spark, sf_small)
    )
    assert "FlatMapGroupsInPandas" not in rep.text, rep.text[:4000]
    assert "ArrowEvalPython" not in rep.text, rep.text[:4000]


def test_markov_attribution_counting_is_distributed(spark, sf_small):
    """The attribution op's OUTPUT is a tiny driver-built frame, but
    its transition counting must run distributed: spot-check the
    intermediate (the same expressions the op collects) plans as
    window + hash aggregate with no cartesian join."""
    from kafka_stream_processing_spark.sources.tables import table
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    evs = table(spark, sf_small, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        "ts",
        "event_id",
        "event_type",
    )
    w_seq = Window.partitionBy("user_id", "day").orderBy(
        "ts", "event_id"
    )
    seq = evs.select(
        "user_id",
        "day",
        F.coalesce(
            F.lag("event_type").over(w_seq), F.lit("__START__")
        ).alias("from_state"),
        F.col("event_type").alias("to_state"),
    )
    cells = seq.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n")
    )
    rep = plan_report(cells)
    assert "CartesianProduct" not in rep.text
    assert "HashAggregate" in rep.text, rep.text[:4000]


def test_vocab_overlap_profile_join_broadcasts(spark, sf_small):
    """The K*|sources| profile self-join must broadcast (both sides
    are tiny after the top-K cut) — no shuffle of the token table
    ever reaches the pair stage."""
    specs = registry.all_specs()
    rep = plan_report(
        specs["text_source_vocab_overlap"].fn(spark, sf_small)
    )
    assert "CartesianProduct" not in rep.text, rep.text[:4000]


def test_circadian_filter_pushed_and_histogram_sized(spark, sf_small):
    """The circadian gate's event-type IN filter must reach the parquet
    scan (only click/purchase rows ever leave the source) and the plan
    must aggregate map-side before the single histogram exchange — the
    whole-corpus walk collapses to O(24) rows immediately."""
    spec = registry.all_specs()[
        "quality_circadian_drift_clicks_purchases"
    ]
    rep = plan_report(spec.fn(spark, sf_small))
    assert "In(event_type" in rep.text or "IN (click,purchase" in rep.text
    assert "CartesianProduct" not in rep.text
    assert "HashAggregate" in rep.text


def test_hoeffding_kernel_never_touches_observation_pairs(spark, sf_small):
    """Hoeffding's D must run on the joint-value-histogram dominance
    join (cells², domain-bounded), never a corpus-pair join: the plan
    may contain the small BNLJ over cells but no cartesian product of
    the events scan with itself before aggregation collapsed it."""
    spec = registry.all_specs()["quality_hoeffding_d_hourly"]
    df = spec.fn(spark, sf_small)
    rep = plan_report(df)
    # the only join inputs are post-aggregation (HashAggregate feeds
    # the join) — a pre-aggregation scan-scan join would show two
    # FileScans directly under the join operators
    assert rep.text.count("FileScan") <= 2  # events scan reused per branch
    assert "HashAggregate" in rep.text


def test_known_item_query_sample_is_take_ordered(spark, sf_small):
    """retrieval_known_item_recall_eval's KNOWN_ITEM_MAX_QUERIES bound
    is load-bearing at scale (r11: the ×10 replica-clique staging makes
    every doc a truth doc, and without the bound the postings join goes
    quadratic).  The bound must plan as TakeOrderedAndProject (per-task
    heaps + driver merge of 200 ids), NEVER a global sort, and the
    query-side joins must broadcast."""
    rep = plan_report(
        registry.all_specs()["retrieval_known_item_recall_eval"].fn(
            spark, sf_small
        )
    )
    assert "TakeOrderedAndProject" in rep.text, rep.text[:4000]
    assert "BroadcastHashJoin" in rep.text, rep.text[:4000]
    assert "CartesianProduct" not in rep.text, rep.text[:4000]


def test_hill_rank_windows_are_source_partitioned(spark, sf_small):
    """r13 tail family: the Hill top-K rank must be a per-source window
    (classic top-K), never an unpartitioned corpus sort, and the plan
    joins the two aggregate branches without a cartesian."""
    from kafka_stream_processing_spark.operators.tail_scoring import (
        quality_hill_tail_index,
    )
    import re

    df = quality_hill_tail_index(spark, sf_small)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^,]+)", plan)
    assert specs and all(s.startswith("source#") for s in specs), specs
    assert "CartesianProduct" not in plan


def test_pinball_day_grid_join_is_bounded_not_cartesian(spark, sf_small):
    """The trailing-window ensemble join is a range-predicate join on
    two CALENDAR-sized day frames — BroadcastNestedLoopJoin is the
    expected (bounded) shape; a CartesianProduct would mean the W-day
    band predicate was lost."""
    from kafka_stream_processing_spark.operators.tail_scoring import (
        window_pinball_loss_daily,
    )

    # Pin the engine-default broadcast thresholds for this assertion:
    # the pin is about the plan under the ENGINE's confs, and the
    # session-scoped fixture can carry state from earlier conf-matrix
    # tests (observed: a leaked -1 threshold degrades the range join
    # to CartesianProduct and flakes this test in full-suite order).
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        "spark.sql.adaptive.autoBroadcastJoinThreshold": str(
            32 * 1024 * 1024
        ),
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = window_pinball_loss_daily(spark, sf_small)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_conformal_rank_has_no_unpartitioned_window(spark, sf_small):
    """The conformal radius rank must come from the distributed
    two-phase form: every window in the executed plan is partitioned
    (by _pid or another key) — no single-task total sort."""
    from kafka_stream_processing_spark.operators.tail_scoring import (
        quality_conformal_coverage_audit,
    )
    import re

    df = quality_conformal_coverage_audit(spark, sf_small)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]+)\)", plan)
    assert specs, "expected at least one window in the conformal plan"
    for spec in specs:
        # ADVICE r13: reject ANY unpartitioned window, not just ones
        # ordered by a 'resid*' column.  A windowspecdefinition's
        # elements are: partition cols..., order cols (each carrying
        # 'ASC'/'DESC'), then the frame.  If the FIRST comma-separated
        # element already carries a sort direction, the partition-key
        # list is empty — a single-task total sort.
        first = spec.split(",")[0].strip()
        assert " ASC" not in first and " DESC" not in first, (
            f"unpartitioned window (no partition key before order "
            f"column): windowspecdefinition({spec})"
        )


def test_footrule_eval_reuses_broadcast_query_plans(spark, sf_small):
    """r14 footrule eval: the two ANN kernels keep their pinned
    shapes inside the composed plan — the corpus never shuffles (the
    query side is broadcast: BroadcastNestedLoopJoin for brute force),
    and no CartesianProduct appears anywhere."""
    from kafka_stream_processing_spark.operators.similarity import (
        similarity_rank_distance_ann_eval,
    )

    df = similarity_rank_distance_ann_eval(spark, sf_small)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_kendall_w_windows_are_histogram_sized(spark, sf_small):
    """r14 Kendall's W: the only windows in the plan are the three
    per-ranker cumulative sums over count-of-counts HISTOGRAMS (the
    KS/Kruskal bounded-domain exception) — each is fed by a groupBy,
    never by the raw document scan — and the rank maps join back to
    the single doc scan as broadcasts; no CartesianProduct."""
    import re

    from kafka_stream_processing_spark.operators.quality_rank import (
        quality_kendall_w_concordance,
    )

    df = quality_kendall_w_concordance(spark, sf_small)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    wspecs = re.findall(r"windowspecdefinition\(([^)]+)\)", plan)
    # the three cumulative sums (each spec may render twice in the
    # executed-plan text); every one must order by the histogram's
    # aggregated value column `v#...` — a corpus-sized window would
    # order by a raw doc column (v1/v2/v3 or doc_id)
    assert wspecs and len(wspecs) <= 6, wspecs
    for spec in wspecs:
        assert spec.strip().startswith("v#"), spec
    assert plan.count("BroadcastHashJoin") >= 3


def test_shingle_pipelines_split_text_once(spark, sf_small):
    """r14 optimization pin: the whitespace split feeding shingle/gram
    builders is projected ONCE (word_kernel.split_words) before the
    explode.  Generate and interpreted higher-order lambdas are not
    subexpression-eliminated, so an inline split inside _word_grams is
    re-tokenized for each of its ~5 textual occurrences per row
    (measured: minhash signature stage 1.71 s → 1.16 s at sf0.1; the
    winnowing gram projection 2.12 s → 1.42 s).  Pin: each kernel's
    optimized plan evaluates split(text ...) at most once per scan
    branch."""
    import re

    from kafka_stream_processing_spark.operators.dedup import (
        minhash_band_rows,
        _simhash64_band_values,
    )
    from kafka_stream_processing_spark.operators.text import (
        text_winnowing_fingerprints,
    )
    from kafka_stream_processing_spark.sources.tables import fanout, table

    # The signature kernels project words once (<=1 split(text...) in
    # the whole plan).  Winnowing additionally keeps the DELIBERATE
    # cheap size(split)>=W+2 pre-filter (its own docstring), which may
    # render in the Filter node and again in the scan's pushdown text —
    # so its bound is counted on the Project nodes ALONE (ADVICE r14:
    # a total-count bound would bake in how this Spark version renders
    # the pushed filter and could mask an inlined regression).
    checks = {
        "minhash_band_rows": (
            minhash_band_rows(fanout(table(spark, sf_small, "documents"))),
            False,
        ),
        "simhash64_band_values": (
            _simhash64_band_values(spark, sf_small),
            False,
        ),
        "text_winnowing_fingerprints": (
            text_winnowing_fingerprints(spark, sf_small),
            True,
        ),
    }
    for name, (df, project_only) in checks.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        if project_only:
            lines = [
                ln
                for ln in plan.splitlines()
                if re.search(r"\bProject\b", ln)
            ]
            n_split = sum(ln.count("split(text") for ln in lines)
            where = "Project nodes"
        else:
            n_split = plan.count("split(text")
            where = "physical plan"
        assert n_split <= 1, (
            f"{name}: split(text...) appears {n_split}x in the {where} "
            "(allowed 1) - the pre-projection regressed to "
            "inline re-evaluation"
        )
