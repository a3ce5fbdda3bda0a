"""Round-4 operator tests: plan-shape pins and structural invariants for
the r04 additions (overlap chunking, inverted index, hashed linear
quality model, k-means, SemDeDup, winnowing fingerprints, streaming
ingest dedup, int8 quantization, temperature mixture weights, PQ-ADC
and IVF+PQ ANN).  Value correctness is covered by the oracle-parity
sweep; these tests pin the SCALE properties (shuffle counts, broadcast
strategy, bounded window state) and the geometric/semantic invariants
the oracle can't see."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_stream_processing_spark.operators.corpus import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
    POSTINGS_CAP,
    corpus_chunk_overlap,
    index_inverted_postings,
)
from kafka_stream_processing_spark.operators.clustering import (
    KMEANS_K,
    cluster_kmeans_embeddings,
)
from kafka_stream_processing_spark.operators.quality_lm import (
    quality_model_score_linear,
)
from kafka_stream_processing_spark.operators.text import (
    text_winnowing_fingerprints,
)
from kafka_stream_processing_spark.plans.explain import plan_report
from kafka_stream_processing_spark.sources.tables import table


def test_chunking_is_narrow_single_fanout_exchange(spark, sf_small):
    rep = plan_report(corpus_chunk_overlap(spark, sf_small))
    # Only the fanout repartition — chunk explode + hashing never shuffle.
    assert rep.n_exchanges == 1, rep.text[:4000]
    assert "SortMergeJoin" not in rep.text


def test_chunk_geometry_covers_every_token(spark, sf_small):
    chunks = corpus_chunk_overlap(spark, sf_small).collect()
    docs = {
        r["doc_id"]: r["n"]
        for r in table(spark, sf_small, "documents")
        .select("doc_id", F.size(F.split("text", " ")).alias("n"))
        .collect()
    }
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(docs)
    for doc_id, rows in by_doc.items():
        n = docs[doc_id]
        rows.sort(key=lambda r: r["chunk_id"])
        for k, r in enumerate(rows):
            assert r["chunk_id"] == k
            assert r["start_tok"] == k * CHUNK_STRIDE + 1
            assert r["chunk_tokens"] == min(CHUNK_SIZE, n - k * CHUNK_STRIDE)
            assert r["chunk_tokens"] >= 1
        last = rows[-1]
        # Tail coverage: the last chunk reaches the last token, and one
        # more chunk would be redundant (start beyond n or fully inside).
        assert last["start_tok"] + last["chunk_tokens"] - 1 == n
        # Consecutive chunks overlap by SIZE - STRIDE when both are full.
        for a, b in zip(rows, rows[1:]):
            assert b["start_tok"] - a["start_tok"] == CHUNK_STRIDE


def test_inverted_index_plans_window_group_limit(spark, sf_small):
    rep = plan_report(index_inverted_postings(spark, sf_small))
    # The rank-filter postings cap must push down (bounded per-term state
    # BEFORE the full sort) — the difference between an index build that
    # survives stopwords at 100 TB and one that collects the corpus.
    assert "WindowGroupLimit" in rep.text, rep.text[:4000]


def test_inverted_index_postings_bounded_and_sorted(spark, sf_small):
    for r in index_inverted_postings(spark, sf_small).collect():
        posts = [int(x) for x in r["postings"].split(",")]
        assert 1 <= len(posts) <= POSTINGS_CAP
        assert posts == sorted(posts)
        assert len(posts) == min(r["df"], POSTINGS_CAP)
        assert r["n_occurrences"] >= r["df"]


def test_kmeans_broadcasts_centroids_no_cartesian(spark, sf_small):
    rep = plan_report(cluster_kmeans_embeddings(spark, sf_small))
    # Vectors never shuffle for assignment: centroids broadcast into a
    # map-side nested loop; no CartesianProduct, no SortMergeJoin of the
    # corpus against itself.
    assert rep.broadcast_join, rep.text[:4000]
    assert "CartesianProduct" not in rep.text
    assert "SortMergeJoin" not in rep.text


def test_kmeans_partitions_every_vector_once(spark, sf_small):
    out = cluster_kmeans_embeddings(spark, sf_small).collect()
    n_vectors = table(spark, sf_small, "embeddings").count()
    assert sum(r["n_vecs"] for r in out) == n_vectors
    assert 1 <= len(out) <= KMEANS_K
    assert all(r["total_dist2"] >= 0.0 for r in out)


def test_model_score_and_winnowing_are_scan_speed(spark, sf_small):
    for fn in (quality_model_score_linear, text_winnowing_fingerprints):
        rep = plan_report(fn(spark, sf_small))
        assert rep.n_exchanges == 1, rep.text[:4000]  # fanout only


def test_winnowing_fingerprint_set_shapes(spark, sf_small):
    rows = text_winnowing_fingerprints(spark, sf_small).collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_fingerprints"] <= r["n_grams"]
        assert r["min_fp"] <= r["max_fp"]
        assert r["fp_checksum"] >= 0


def test_winnowing_shared_run_guarantee(spark, sf_small):
    """Two documents sharing a >=6-word run must share a fingerprint
    (the winnowing guarantee: any w+n-1 = 6-token overlap contains a
    full hash window, and both sides select that window's minimum)."""
    df = (
        table(spark, sf_small, "documents")
        .select("doc_id", "text")
        .limit(2)
        .collect()
    )
    shared_run = " ".join(("alpha beta gamma delta epsilon zeta eta theta").split())
    a = df[0]["text"] + " " + shared_run
    b = shared_run + " " + df[1]["text"]
    probe = spark.createDataFrame(
        [(1, a, "en", "src0", len(a)), (2, b, "en", "src0", len(b))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        probe.write.parquet(f"{tmp}/documents.parquet")
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "embeddings"):
            table(spark, sf_small, t).limit(1).write.parquet(
                f"{tmp}/{t}.parquet"
            )
        out = {
            r["doc_id"]: r
            for r in text_winnowing_fingerprints(spark, tmp).collect()
        }
    # Recompute the full fingerprint sets for the two probe docs directly
    # (checksum equality is not set intersection, so recompute in Spark).
    from kafka_stream_processing_spark.operators.dedup import hash64
    from kafka_stream_processing_spark.operators.word_kernel import (
        _word_grams,
    )

    h = F.transform(_word_grams(F.split("text", " ")), hash64)
    fps = probe.select(
        "doc_id",
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(h) - 3),
                lambda i: F.array_min(F.slice(h, i, 4)),
            )
        ).alias("fp"),
    ).collect()
    sets = {r["doc_id"]: set(r["fp"]) for r in fps}
    assert sets[1] & sets[2], "documents sharing a 6+-word run must share a fingerprint"
    assert out[1]["n_fingerprints"] == len(sets[1])


def test_semdedup_candidates_are_cluster_equijoin(spark, sf_small):
    from kafka_stream_processing_spark.operators.clustering import (
        dedup_semantic_semdedup,
    )

    rep = plan_report(dedup_semantic_semdedup(spark, sf_small))
    # Assignment: broadcast nested loop of centroids only; pair stage:
    # hash equi-join on cluster_id — never an all-pairs cartesian of the
    # corpus with itself.
    assert rep.broadcast_join, rep.text[:4000]
    assert "CartesianProduct" not in rep.text


def test_semdedup_audit_is_consistent(spark, sf_small):
    from kafka_stream_processing_spark.operators.clustering import (
        KMEANS_K,
        dedup_semantic_semdedup,
    )

    out = dedup_semantic_semdedup(spark, sf_small).collect()
    n_vectors = table(spark, sf_small, "embeddings").count()
    assert sum(r["n_vecs"] for r in out) == n_vectors
    assert 1 <= len(out) <= KMEANS_K
    for r in out:
        # Dropped vectors are a subset of cluster members (minus the
        # canonical survivor); pairs bound drops from above.
        assert 0 <= r["n_dropped"] <= max(r["n_vecs"] - 1, 0)
        assert r["n_dropped"] <= r["n_dup_pairs"]


def test_stream_ingest_dedup_state_spans_micro_batches(spark, sf_small, tmp_path):
    """A text delivered in chunk 0 and re-delivered (different doc_id) in
    chunk 2 must be admitted exactly once: dropDuplicates state crosses
    micro-batch boundaries.  Built on a synthetic 3-chunk staging so the
    cross-batch duplicate provably exists (the testdata may not contain
    one)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from kafka_stream_processing_spark.streaming.unique_users import (
        file_stream,
        run_to_memory,
    )

    chunks = [
        [(0, "alpha beta"), (5, "gamma delta")],
        [(10, "epsilon zeta")],
        [(15, "alpha beta"), (20, "eta theta")],  # re-delivery of chunk-0 text
    ]
    src = tmp_path / "docbatch"
    src.mkdir()
    for i, rows in enumerate(chunks):
        pq.write_table(
            pa.table(
                {
                    "doc_id": [r[0] for r in rows],
                    "text": [r[1] for r in rows],
                }
            ),
            str(src / f"chunk-{i}.parquet"),
        )
    corpus = spark.createDataFrame(
        [("gamma delta",)], "text string"
    ).select(F.md5(F.col("text").cast("binary")).alias("h"))
    stream = (
        file_stream(spark, str(src))
        .select(F.md5(F.col("text").cast("binary")).alias("h"))
        .dropDuplicates(["h"])
        .join(corpus, "h", "left_anti")
    )
    accepted = [r["h"] for r in run_to_memory(stream).collect()]
    # alpha-beta admitted ONCE (chunk-2 redelivery suppressed by state);
    # gamma-delta rejected by the static corpus.  Assert on the sink ROW
    # count, not a set of hashes: if dropDuplicates state failed to span
    # micro-batches the redelivered row would appear TWICE in the sink
    # (4 rows), which a set would silently collapse back to 3.
    assert len(accepted) == 3
    assert len(set(accepted)) == len(accepted), "duplicate rows reached sink"


def test_int8_quantize_is_narrow_and_codes_in_range(spark, sf_small):
    from kafka_stream_processing_spark.operators.similarity import (
        embedding_int8_quantize_audit,
    )

    rep = plan_report(embedding_int8_quantize_audit(spark, sf_small))
    assert rep.n_exchanges == 1, rep.text[:4000]  # fanout only
    rows = embedding_int8_quantize_audit(spark, sf_small).collect()
    assert rows
    for r in rows:
        # floor-based symmetric quantization: codes live in [-128, 127]
        # (floor sends -amax to -128 only at the exact boundary ulp).
        assert -128 <= r["code_min"] <= r["code_max"] <= 127
        assert r["sum_abs_err"] >= 0.0
        assert r["n_zero"] >= 0


def test_temperature_weights_sum_to_one_and_boost_tail(spark, sf_small):
    from kafka_stream_processing_spark.operators.pipeline import (
        sample_temperature_weights,
    )

    rows = sample_temperature_weights(spark, sf_small).collect()
    assert abs(sum(r["temp_share"] for r in rows) - 1.0) < 1e-9
    n_total = sum(r["n_docs"] for r in rows)
    # Temperature flattening: every below-mean cell is guaranteed a
    # MORE-than-proportional share (N/Σ√n ≥ √mean by Cauchy-Schwarz, so
    # √n_i < √mean ⟹ boost); the largest cell is guaranteed damped.
    biggest = max(rows, key=lambda r: r["n_docs"])
    for r in rows:
        raw_share = r["n_docs"] / n_total
        if r["n_docs"] * len(rows) < n_total:
            assert r["temp_share"] > raw_share
        assert r["epochs_at_budget"] > 0.0
    if biggest["n_docs"] * len(rows) > n_total:
        assert biggest["temp_share"] < biggest["n_docs"] / n_total


def test_pq_adc_broadcasts_codebooks_no_cartesian(spark, sf_small):
    from kafka_stream_processing_spark.operators.similarity import (
        PQ_TOPK,
        similarity_pq_adc_topk,
    )

    df = similarity_pq_adc_topk(spark, sf_small)
    rep = plan_report(df)
    # Encode + LUT joins broadcast the tiny codebook/LUT sides; the ADC
    # ranking never touches the embedding column of the corpus rows.
    assert rep.broadcast_join, rep.text[:4000]
    assert "CartesianProduct" not in rep.text
    rows = df.collect()
    by_q: dict[int, list] = {}
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        assert r["approx_dist2"] >= 0.0
        by_q.setdefault(r["query_id"], []).append(r["approx_dist2"])
    assert set(by_q) == {0, 1, 2, 3, 4}
    for dists in by_q.values():
        assert len(dists) == PQ_TOPK
        assert dists == sorted(dists)


def test_ivfpq_prunes_candidates_to_probed_cells(spark, sf_small):
    from kafka_stream_processing_spark.operators.similarity import (
        IVF_NPROBE,
        PQ_TOPK,
        ivf_cell,
        probe_cells,
        similarity_ivfpq_topk,
        _as_double_array,
    )

    df = similarity_ivfpq_topk(spark, sf_small)
    rep = plan_report(df)
    assert rep.broadcast_join, rep.text[:4000]
    assert "CartesianProduct" not in rep.text
    rows = df.collect()
    emb = table(spark, sf_small, "embeddings").select(
        "vec_id", _as_double_array("embedding").alias("emb")
    )
    cells = {
        r["vec_id"]: r["cell"]
        for r in emb.select("vec_id", ivf_cell(F.col("emb")).alias("cell")).collect()
    }
    probed = {
        r["vec_id"]: r["p"]
        for r in emb.filter(F.col("vec_id") < 5)
        .select("vec_id", probe_cells(F.col("emb"), IVF_NPROBE).alias("p"))
        .collect()
    }
    by_q: dict[int, int] = {}
    for r in rows:
        # Every returned neighbor must live in one of its query's probed
        # cells (the IVF pruning contract), reported cell must match the
        # index assignment, and ADC distances are non-negative.
        assert r["cell"] == cells[r["neighbor_id"]]
        assert r["cell"] in probed[r["query_id"]]
        assert r["approx_dist2"] >= 0.0
        by_q[r["query_id"]] = by_q.get(r["query_id"], 0) + 1
    assert set(by_q) == {0, 1, 2, 3, 4}
    assert all(n <= PQ_TOPK for n in by_q.values())


def test_stream_contamination_matches_batch_scan(spark, sf_small):
    """Stream and batch decontamination must produce the identical
    drop-list (same docs, same counts) — the stream formulation is a
    stateless re-plan, not a different algorithm."""
    from kafka_stream_processing_spark.operators.corpus import (
        contamination_ngram_overlap,
    )
    from kafka_stream_processing_spark.streaming.joins import (
        stream_contamination_scan,
    )

    batch = {
        r["doc_id"]: (r["n_shingles"], r["n_shared"])
        for r in contamination_ngram_overlap(spark, sf_small).collect()
    }
    streamed = {
        r["doc_id"]: (r["n_shingles"], r["n_shared"])
        for r in stream_contamination_scan(spark, sf_small).collect()
    }
    assert streamed == batch
