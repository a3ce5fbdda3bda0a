"""Near-dup clustering: connected components over the Jaccard pair graph.

Pairwise near-dup detection (dedup.py) yields EDGES; deduplication needs
CLUSTERS (each component keeps one canonical document).  Components come
from one of two kernels, both labelling a node with the minimum node id
of its component; which applies depends on whether the edges carry a
block key.

Edges with no block key (the Jaccard pair graph, whose shingle joins
link any two documents) go through iterative min-label propagation, the
canonical Spark pattern for iterative graph algorithms:

    label(v) ← min(label(v), min over neighbors(label(u)))   until fixpoint

Each round (hop) is one join + one aggregate over the symmetric edge list,
which carries a self-loop per node so the aggregate also yields the node's
previous label.  Three hops are built lazily and then truncated by one
``localCheckpoint`` (the plan doesn't grow with the iteration count — the
classic iterative-Spark failure); the last hop's ``changed`` flag is counted
by the very action that materializes the checkpoint, so a group of three
rounds costs one driver round trip instead of two per round.  Convergence
is diameter-bounded — near-dup components are short chains, so a handful of
rounds; a hard cap turns pathological graphs into an explicit error rather
than a hang.

Edges produced by a blocked equi-join (entity resolution's brand blocks)
never cross a block, so neither does a component: ``_blocked_components``
hash-partitions the edges on the block key and closes each partition's
components in one vectorized pandas call.  That is a lazy plan with one
shuffle, no checkpoint, no driver round trip and no round cap.

Scale: the propagated state is (doc_id, label) pairs — 16 bytes/doc —
and only documents that appear in at least one near-dup pair enter the
graph at all (at 100 TB that's a small fraction of the corpus).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from kafka_stream_processing_spark.operators.dedup import (
    COSINE_DUP_THRESHOLD,
    FUZZY_EDIT_THRESHOLD,
    JACCARD_ORACLE,
    _EMB_NORM_CTE,
    _PAIR_COSINE_SQL,
    dedup_fuzzy_blocked_names,
    dedup_ngram_jaccard,
)
from kafka_stream_processing_spark.operators.similarity import (
    _embeddings,
    cosine_ge_two_tier,
    dist2_exact,
)
from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import fanout, table

MAX_ITERATIONS = 15
#: Min-label rounds per checkpoint, i.e. per Spark action.  MAX_ITERATIONS
#: must stay a multiple of it, or the cap moves.  On dedup_cluster_components
#: at sf0.01 (4 vCPUs, 10 warm runs each, order alternating) 1 hop per
#: action cost 22 jobs and a median 1.11 s, 3 cost 22 jobs and 1.16 s, 5
#: cost 24-25 jobs and 1.30 s; 2 and 4, which would move the cap, cost 19
#: and 23-24 jobs.  No divisor of the cap beat 3 beyond the run-to-run
#: spread (0.9-1.3 s), so 3 stays.
_HOPS_PER_ACTION = 3


def _min_label_hop(sym: DataFrame, labels: DataFrame | None) -> DataFrame:
    """One min-label round: (node, label, old).  ``sym`` holds a self-loop
    per node, so min(label) over (a, b) already includes the node's own
    label and the a = b row yields its previous label.  With ``labels``
    None every node's label is its own id (the initial labelling)."""
    if labels is None:
        nbr = sym.withColumn("label", F.col("b"))
    else:
        nbr = sym.join(labels.withColumnRenamed("node", "b"), "b")
    return nbr.groupBy(F.col("a").alias("node")).agg(
        F.min("label").alias("label"),
        F.min(F.when(F.col("a") == F.col("b"), F.col("label"))).alias("old"),
    )


def connected_components(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Min-label propagation over an undirected edge list.
    Returns (node, component) where component = min node id reachable.
    Raises RuntimeError if labels still change in round MAX_ITERATIONS."""
    s, d = F.col(src), F.col(dst)
    # Both directions plus a self-loop per endpoint, from one edge scan.
    arcs = [
        F.struct(x.alias("a"), y.alias("b"))
        for x, y in ((s, d), (d, s), (s, s), (d, d))
    ]
    sym = (
        edges.select(F.inline(F.array(*arcs)))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = None
    for _ in range(MAX_ITERATIONS // _HOPS_PER_ACTION):
        for _ in range(_HOPS_PER_ACTION):
            labels = _min_label_hop(sym, labels)
        labels = labels.select(
            "node", "label", (F.col("label") < F.col("old")).alias("changed")
        ).localCheckpoint(eager=False)
        # This count materializes the checkpoint and is the fixpoint test:
        # min-label is idempotent at a fixpoint, so "the group's last hop
        # changed nothing" is the per-round check at that round.
        changed = labels.filter("changed").count()
        labels = labels.select("node", "label")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {MAX_ITERATIONS} iterations"
    )


def _blocked_components(
    edges: DataFrame, block: str, src: str, dst: str
) -> DataFrame:
    """Connected components of an undirected edge list whose edges never
    cross a block: every node has one ``block`` value, so a component
    lies inside one block.  Returns (node, label) for every node on an
    edge, label = the minimum node id of its component (the same labels
    as ``connected_components``).  Ids are longs.

    The edges are hash-repartitioned on ``block``: by column, never
    ``rebalance``, because AQE merges whole shuffle partitions but never
    splits one key's rows, so each partition holds whole blocks.  One
    ``mapInPandas`` call per partition then closes its components in
    numpy: every root hooks onto the smallest root across its edges,
    and pointer jumping flattens the trees until each label is a root.
    A label only ever falls to a smaller node of the same component,
    so the loop ends at the exact minimum; it needs no round cap."""

    def close(batches):
        frames = list(batches)
        if not frames:
            return
        e = pd.concat(frames)
        a, b = e[src].to_numpy("int64"), e[dst].to_numpy("int64")
        nodes, ends = np.unique(np.concatenate((a, b)), return_inverse=True)
        u, v = np.split(ends, 2)
        # Labels index the sorted ``nodes``, so the smallest index is the
        # smallest id; every label is a root at the top of the loop.
        label = np.arange(len(nodes))
        while True:
            lu, lv = label[u], label[v]
            cross = lu != lv
            if not cross.any():
                break
            np.minimum.at(
                label, np.maximum(lu, lv)[cross], np.minimum(lu, lv)[cross]
            )
            while True:
                jumped = label[label]
                if np.array_equal(jumped, label):
                    break
                label = jumped
        yield pd.DataFrame({"node": nodes, "label": nodes[label]})

    return (
        edges.repartition(block)
        .select(src, dst)
        .mapInPandas(close, "node long, label long")
    )


@register(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        {JACCARD_ORACLE}
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, reach.r
        FROM reach JOIN edges e ON e.b = reach.node
    )
    SELECT node AS doc_id,
           min(r) AS cluster_id,
           count(*) AS cluster_size
    FROM (
        SELECT node, r FROM reach
    )
    GROUP BY node
    """,
    tags=("dedup", "iterative"),
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the 3-gram-Jaccard near-dup graph: each
    clustered document with its cluster id (min doc_id in the component,
    i.e. the canonical survivor) and the component's node count."""
    edges = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(edges, "doc_a", "doc_b")
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .alias("cluster_size"),
    )


@register(
    "dedup_pipeline_keep_stats",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        {JACCARD_ORACLE}
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, reach.r
        FROM reach JOIN edges e ON e.b = reach.node
    ),
    clusters AS (
        SELECT node, min(r) AS cluster_id FROM reach GROUP BY node
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(SUM(CASE WHEN cluster_id IS NOT NULL
                          AND cluster_id <> doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN cluster_id IS NULL
                          OR cluster_id = doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM documents LEFT JOIN clusters ON node = doc_id
    GROUP BY lang
    """,
    tags=("dedup", "pipeline"),
)
def dedup_pipeline_keep_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END dedup decision a corpus pipeline actually ships:
    near-dup edges → connected components → one canonical survivor per
    cluster (min doc_id) → per-language keep/drop audit over the WHOLE
    corpus (singletons never enter the graph and are always kept).

    Scale: the expensive part is the edge detection (inverted-index
    shingle join, see dedup_ngram_jaccard); components run on the small
    near-dup subgraph; the final audit joins the (doc_id, cluster_id)
    labels — a table the size of the duplicate set, broadcastable at any
    realistic dup rate — back to a single scan of documents."""
    edges = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(edges, "doc_a", "doc_b")
    d = fanout(table(spark, sf_dir, "documents"))
    labeled = d.join(
        F.broadcast(comp.withColumnRenamed("node", "doc_id")),
        "doc_id",
        "left",
    )
    dropped = F.col("label").isNotNull() & (F.col("label") != F.col("doc_id"))
    return labeled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(dropped, 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        F.sum(F.when(~dropped, 1).otherwise(0)).cast("bigint").alias("n_kept"),
    )


#: K-means geometry: 8 clusters over the 64-d embedding table, 2 Lloyd
#: iterations from a deterministic seed (the 8 lowest vec_ids).  Two
#: iterations keep the oracle SQL-expressible; the Spark loop is
#: iteration-count-agnostic.
KMEANS_K = 8
KMEANS_DIM = 64
_DEC = "decimal(18,12)"

#: Shared oracle CTE block — the seed-centroid nearest-cluster
#: assignment (c0 seed, d1 exact decimal distances, a1 argmin rank).
#: Expects an upstream CTE ``v(vec_id, emb)``.  Interpolated by BOTH the
#: k-means trainer and SemDeDup so the assignment frontier (seed choice,
#: tie-break, quantization) has a single source of truth.
_SEED_ASSIGN_CTES = f"""c0 AS (
        SELECT vec_id AS cluster_id, emb AS cvec FROM v
        WHERE vec_id < {KMEANS_K}
    ),
    d1 AS (
        SELECT v.vec_id, c.cluster_id,
               list_aggregate(list_transform(range(1, {KMEANS_DIM + 1}),
                   i -> CAST((v.emb[i] - c.cvec[i]) * (v.emb[i] - c.cvec[i])
                             AS DECIMAL(18,12))), 'sum') AS dist2
        FROM v, c0 c
    ),
    a1 AS (
        SELECT vec_id, cluster_id, dist2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist2, cluster_id) AS rn
        FROM d1
    )"""


def assign_nearest(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment, the Spark twin of _SEED_ASSIGN_CTES:
    ``vecs`` (vec_id, emb, *extras) against broadcast ``cents``
    (cluster_id, cvec) → one row per vector carrying its extras plus
    cluster_id and the exact-decimal dist2; ties to lowest cluster_id."""
    j = vecs.crossJoin(F.broadcast(cents)).withColumn(
        "dist2", dist2_exact(F.col("emb"), F.col("cvec"))
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "cluster_id")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn", "cvec")
    )


@register(
    "cluster_kmeans_embeddings",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ),
    {_SEED_ASSIGN_CTES},
    m1 AS (
        SELECT a.cluster_id, v.emb
        FROM a1 a JOIN v ON v.vec_id = a.vec_id WHERE a.rn = 1
    ),
    upd AS (
        SELECT cluster_id, i,
               CAST(SUM(CAST(emb[i] AS DECIMAL(18,12))) AS DOUBLE) / count(*)
                   AS comp
        FROM m1, unnest(generate_series(1, {KMEANS_DIM})) u(i)
        GROUP BY cluster_id, i
    ),
    c1 AS (
        SELECT cluster_id, list(comp ORDER BY i) AS cvec
        FROM upd GROUP BY cluster_id
    ),
    d2 AS (
        SELECT v.vec_id, c.cluster_id,
               list_aggregate(list_transform(range(1, {KMEANS_DIM + 1}),
                   i -> CAST((v.emb[i] - c.cvec[i]) * (v.emb[i] - c.cvec[i])
                             AS DECIMAL(18,12))), 'sum') AS dist2
        FROM v, c1 c
    ),
    a2 AS (
        SELECT vec_id, cluster_id, dist2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist2, cluster_id) AS rn
        FROM d2
    )
    SELECT cluster_id, count(*) AS n_vecs,
           CAST(SUM(dist2) AS DOUBLE) AS total_dist2
    FROM a2 WHERE rn = 1
    GROUP BY cluster_id
    """,
    tags=("clustering", "embeddings", "iterative"),
)
def cluster_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding table — the clustering step
    behind SemDeDup-style semantic dedup and IVF coarse-quantizer
    training (similarity.IVF_CENTROIDS documents its centroids as
    "production would train them"; this is that trainer).  Deterministic
    seed (the KMEANS_K lowest vec_ids), 2 iterations, exact decimal
    distance so assignment frontiers are bit-identical across engines.
    Output: per-cluster membership count and total squared distance (the
    k-means objective) after the second assignment.

    Scale: each iteration is (a) a map-side nested loop of the corpus
    against K broadcast centroids — no shuffle of the vectors, exactly
    the IVF assignment pattern — and (b) a centroid update that shuffles
    only (cluster_id, dim_index, component) triples, K×DIM groups
    regardless of corpus size.  Driver never sees a vector; iterations
    chain lazily (production would localCheckpoint per round like
    connected_components above)."""
    emb = _embeddings(spark, sf_dir).select("vec_id", "emb")
    cents0 = emb.filter(F.col("vec_id") < KMEANS_K).select(
        F.col("vec_id").alias("cluster_id"), F.col("emb").alias("cvec")
    )
    members = assign_nearest(emb, cents0).select("vec_id", "cluster_id", "emb")
    upd = (
        members.select(
            "cluster_id", F.posexplode("emb").alias("pos", "val")
        )
        .groupBy("cluster_id", "pos")
        .agg(
            (
                F.sum(F.col("val").cast(_DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias("comp")
        )
    )
    cents1 = upd.groupBy("cluster_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "comp"))),
            lambda s: s["comp"],
        ).alias("cvec")
    )
    return (
        assign_nearest(emb, cents1)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("dist2").cast("double").alias("total_dist2"),
        )
    )


#: Salt width for the within-cell pair stage of the SemDeDup audit —
#: see the plan note inside _semdedup_cell_audit.
SEMDEDUP_PAIR_SALT = 32


def _semdedup_cell_audit(
    spark: SparkSession, sf_dir: str, k: int
) -> DataFrame:
    """Per-cell SemDeDup audit at cluster count ``k`` — the single
    source of truth for dedup_semantic_semdedup (k = KMEANS_K) and
    every row of dedup_semdedup_k_sweep: seed-centroid assignment,
    within-cell exact-decimal cosine pairs, keep-lowest-vec_id drops.

    Plan note (measured, r10): keep the trailing sizes-LEFT-JOIN-drops
    aggregate ON TOP of the pair stage — with it Catalyst compiles the
    cosine into a codegen'd broadcast-join stage (251k pairs in ~1.3 s
    at sf0.1 for any k in the sweep); a bare join+filter+count of the
    same pair stage planned as an interpreted SortMergeJoin condition
    and ran 15-60x slower (22-89 s)."""
    n = _embeddings(spark, sf_dir)
    cents = n.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cluster_id"), F.col("emb").alias("cvec")
    )
    members = assign_nearest(n, cents).select(
        "cluster_id", "vec_id", "emb", "nrm"
    )
    # Salted within-cell pair join (r10, measured): the pair stage's
    # decimal cosine costs ~0.1 ms/pair interpreted, and with only k
    # join keys AQE coalesces the tiny pre-join shuffle to ONE task —
    # the whole quadratic stage ran serially (28 s at sf0.1, identical
    # wall at 4 and 32 cores).  Salting b by vec_id and replicating a
    # over all salt values keeps the pair set identical while giving
    # k x SALT join keys; the explicit repartition on the join keys is
    # user-specified, so AQE keeps the fan-out.  At 100 TB this is the
    # standard skew treatment: n x SALT replicated member rows shuffle,
    # which is << the Σ cell² candidate set they unlock.
    a = (
        members.withColumn(
            "salt",
            F.explode(
                F.array(
                    *[
                        F.lit(s).cast("bigint")
                        for s in range(SEMDEDUP_PAIR_SALT)
                    ]
                )
            ),
        )
        .repartition(
            SEMDEDUP_PAIR_SALT, F.col("cluster_id"), F.col("salt")
        )
        .alias("a")
    )
    b = members.withColumn(
        "salt", F.pmod(F.col("vec_id"), F.lit(SEMDEDUP_PAIR_SALT))
    ).alias("b")
    # Two-tier threshold test — float prefilter, exact decimal kernel
    # on the frontier band only; verdict bit-identical to the all-exact
    # kernel.  Shared helper: similarity.cosine_ge_two_tier.
    is_dup = cosine_ge_two_tier(
        F.col("a.emb"),
        F.col("b.emb"),
        F.col("a.nrm"),
        F.col("b.nrm"),
        COSINE_DUP_THRESHOLD,
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.cluster_id").alias("cluster_id"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            is_dup.alias("is_dup"),
        )
        .filter(F.col("is_dup"))
    )
    sizes = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    drops = pairs.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_dup_pairs"),
        F.countDistinct("vec_b").alias("n_dropped"),
    )
    return sizes.join(drops, "cluster_id", "left").select(
        "cluster_id",
        "n_vecs",
        F.coalesce("n_dup_pairs", F.lit(0)).cast("bigint").alias("n_dup_pairs"),
        F.coalesce("n_dropped", F.lit(0)).cast("bigint").alias("n_dropped"),
    )


def _semdedup_oracle() -> str:
    """Assemble the SemDeDup oracle from dedup.py's shared norm/cosine SQL
    fragments and this module's _SEED_ASSIGN_CTES — single source of truth
    for both the decimal-cosine convention and the assignment frontier."""
    return f"""{_EMB_NORM_CTE.format(extra="")},
    {_SEED_ASSIGN_CTES},
    m AS (
        SELECT a1.cluster_id, n.vec_id, n.emb, n.nrm
        FROM a1 JOIN n ON n.vec_id = a1.vec_id WHERE a1.rn = 1
    ),
    pairs AS (
        SELECT a.cluster_id, a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM m a JOIN m b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        WHERE {_PAIR_COSINE_SQL} >= {COSINE_DUP_THRESHOLD}
    ),
    sizes AS (SELECT cluster_id, count(*) AS n_vecs FROM m GROUP BY 1),
    drops AS (
        SELECT cluster_id, count(*) AS n_dup_pairs,
               count(DISTINCT vec_b) AS n_dropped
        FROM pairs GROUP BY 1
    )
    SELECT s.cluster_id, s.n_vecs,
           CAST(COALESCE(d.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped
    FROM sizes s LEFT JOIN drops d ON d.cluster_id = s.cluster_id
    """


@register(
    "dedup_semantic_semdedup",
    oracle=_semdedup_oracle(),
    tags=("dedup", "clustering", "embeddings"),
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, then
    find semantic duplicates ONLY within each cluster — pairwise cosine
    against every corpus vector is replaced by pairwise cosine within a
    k-means cell.  One Lloyd assignment from the deterministic seed
    (cluster_kmeans_embeddings' init), within-cluster pairs scored with
    exact decimal cosine at dedup.COSINE_DUP_THRESHOLD, keep-lowest-vec_id
    policy.  Output is the per-cluster audit a pipeline ships: members,
    duplicate pairs, and distinct dropped vectors.

    Scale: the quadratic term collapses from O(n²) to Σ_cell(size²) —
    the knob is k, exactly like the blocking key in
    dedup_fuzzy_blocked_names; assignment is the broadcast-centroid
    map-side pattern (no vector shuffle), and the pair join is an
    equi-join on cluster_id (hash join, AQE skew-split on hot cells).
    This is the architecture the SemDeDup paper runs on its 100-cluster
    LAION sweep, re-expressed as two Spark joins."""
    return _semdedup_cell_audit(spark, sf_dir, KMEANS_K)


#: Cluster counts for the SemDeDup calibration sweep.  Includes
#: KMEANS_K so one sweep row is pinned against the registered
#: single-k operator (shared assignment + cosine kernels).
SEMDEDUP_K_SWEEP = (2, 4, 8, 16, 32)


def _semdedup_k_sweep_oracle() -> str:
    return f"""{_EMB_NORM_CTE.format(extra="")},
    ks AS (SELECT unnest(ARRAY{list(SEMDEDUP_K_SWEEP)}) AS k),
    d AS (
        SELECT ks.k, x.vec_id, c.vec_id AS cluster_id,
               list_aggregate(list_transform(range(1, {KMEANS_DIM + 1}),
                   i -> CAST((x.emb[i] - c.emb[i])
                             * (x.emb[i] - c.emb[i])
                             AS DECIMAL(18,12))), 'sum') AS dist2
        FROM n x, ks, n c
        WHERE c.vec_id < ks.k
    ),
    a AS (
        SELECT k, vec_id, cluster_id,
               row_number() OVER (PARTITION BY k, vec_id
                                  ORDER BY dist2, cluster_id) AS rn
        FROM d
    ),
    m AS (
        SELECT a.k, a.cluster_id, x.vec_id, x.emb, x.nrm
        FROM a JOIN n x ON x.vec_id = a.vec_id WHERE a.rn = 1
    ),
    cells AS (
        SELECT k, cluster_id, CAST(count(*) AS BIGINT) AS cnt
        FROM m GROUP BY 1, 2
    ),
    sizes AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_cells,
               CAST(SUM(cnt * (cnt - 1) // 2) AS BIGINT)
                   AS candidate_pairs
        FROM cells GROUP BY 1
    ),
    pairs AS (
        SELECT a.k, a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM m a
        JOIN m b ON a.k = b.k AND a.cluster_id = b.cluster_id
               AND a.vec_id < b.vec_id
        WHERE {_PAIR_COSINE_SQL} >= {COSINE_DUP_THRESHOLD}
    ),
    drops AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_dup_pairs,
               CAST(count(DISTINCT vec_b) AS BIGINT) AS n_dropped
        FROM pairs GROUP BY 1
    )
    SELECT CAST(s.k AS BIGINT) AS k, s.n_cells, s.candidate_pairs,
           CAST(COALESCE(d2.n_dup_pairs, 0) AS BIGINT) AS n_dup_pairs,
           CAST(COALESCE(d2.n_dropped, 0) AS BIGINT) AS n_dropped
    FROM sizes s LEFT JOIN drops d2 ON d2.k = s.k
    """


@register(
    "dedup_semdedup_k_sweep",
    oracle=_semdedup_k_sweep_oracle(),
    tags=("dedup", "clustering", "embeddings", "calibration"),
)
def dedup_semdedup_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup k-calibration sweep — the table the paper's 100-cluster
    LAION choice comes from: for each cluster count k, how much
    duplicate mass does within-cell search still recover, and what does
    the candidate stage cost?  Per k: non-empty cells, Σ size·(size−1)/2
    candidate pairs (the quadratic term a planner budgets), duplicate
    pairs found, and distinct dropped vectors.  Read the curve from the
    k=2 row (near all-pairs recall, near all-pairs cost) down: the
    operating point is the largest k whose n_dropped is still flat —
    past it, cross-cell near-dups start escaping.  The k=KMEANS_K row
    is pinned equal to aggregating dedup_semantic_semdedup's per-cell
    audit (shared assignment seed, tie-break, and decimal-cosine
    kernels — single source of truth).

    Exactness: assignment distances and pair cosines use the exact
    DECIMAL(18,12) kernels shared with the k-means trainer and the
    single-k op, so cell frontiers and the ≥-threshold verdicts are
    bit-identical cross-engine; every output is a BIGINT count.

    Scale: each row aggregates ONE _semdedup_cell_audit pass — the
    broadcast-centroid assignment (corpus vectors never shuffle;
    ≤ Σk = 62 centroids broadcast in total) plus the cluster-keyed pair
    equi-join whose cost is exactly the candidate_pairs column being
    reported — the sweep MEASURES its own quadratic term per k.  See
    the helper's plan note for why the per-cell aggregate must stay on
    top of the pair stage.  Run at audit cadence to pick k, then ship
    dedup_semantic_semdedup at that k."""
    out = None
    for k in SEMDEDUP_K_SWEEP:
        audit = _semdedup_cell_audit(spark, sf_dir, k)
        row = audit.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum(F.expr("(n_vecs * (n_vecs - 1)) div 2"))
            .cast("bigint")
            .alias("candidate_pairs"),
            F.sum("n_dup_pairs").cast("bigint").alias("n_dup_pairs"),
            F.sum("n_dropped").cast("bigint").alias("n_dropped"),
        ).select(
            F.lit(k).cast("bigint").alias("k"),
            "n_cells",
            "candidate_pairs",
            "n_dup_pairs",
            "n_dropped",
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "dedup_entity_resolution_parts",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT a.p_partkey AS key_a, b.p_partkey AS key_b
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= {FUZZY_EDIT_THRESHOLD}
    ),
    edges AS (
        SELECT key_a AS a, key_b AS b FROM pairs
        UNION
        SELECT key_b, key_a FROM pairs
    ),
    reach(node, r) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.node
    ),
    comp AS (
        SELECT node, min(r) AS canonical FROM reach GROUP BY node
    ),
    assigned AS (
        SELECT p.p_partkey,
               coalesce(c.canonical, p.p_partkey) AS canonical_key
        FROM part p LEFT JOIN comp c ON c.node = p.p_partkey
    ),
    sizes AS (
        SELECT canonical_key, count(*) AS cluster_size
        FROM assigned GROUP BY 1
    )
    SELECT a.p_partkey, a.canonical_key,
           CAST(s.cluster_size AS BIGINT) AS cluster_size,
           a.p_partkey = a.canonical_key AS is_canonical
    FROM assigned a JOIN sizes s USING (canonical_key)
    """,
    tags=("dedup", "fuzzy", "iterative"),
)
def dedup_entity_resolution_parts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end entity resolution — the full record-linkage pipeline
    as one operator: blocked fuzzy matching (dedup_fuzzy_blocked_names'
    kernel, reused verbatim: brand-blocked equi-join + bounded edit
    distance ≤ 3) emits the match edges, min-label connected components
    (the blocked kernel) transitively close them — A~B and B~C merge
    even when A,C differ by 6 edits, exactly the closure pairwise
    matching cannot express — and every part is assigned its cluster's
    canonical survivor (min key), singletons included.  This
    is the master-data-management dedup shape: match → cluster →
    golden-record election.

    Scale: the match join is Σ_block(block²) (the blocking knob).
    Every match edge joins two parts of one brand, so no component
    crosses a brand block and the closure never needs a round that
    crosses blocks: ``_blocked_components`` shuffles the edges once by
    brand and closes each partition's blocks in one pandas call, whose
    memory is that partition's edges (16 bytes each, Σ block² bounds
    their count).  The final assignment is one left join of the part
    table against the component labels plus one window count per
    canonical key for the cluster size — bodies shuffle once.  The whole
    result is one lazy plan: building it runs no Spark job, and the
    caller's action runs it."""
    edges = dedup_fuzzy_blocked_names(spark, sf_dir)
    labels = _blocked_components(edges, "p_brand", "key_a", "key_b").select(
        F.col("node").alias("p_partkey"), F.col("label").alias("canonical")
    )
    parts = table(spark, sf_dir, "part").select("p_partkey")
    assigned = parts.join(labels, "p_partkey", "left").select(
        "p_partkey",
        F.coalesce("canonical", "p_partkey").alias("canonical_key"),
    )
    return assigned.select(
        "p_partkey",
        "canonical_key",
        F.count(F.lit(1))
        .over(Window.partitionBy("canonical_key"))
        .alias("cluster_size"),
        (F.col("p_partkey") == F.col("canonical_key")).alias("is_canonical"),
    )


#: Greedy k-center (farthest-first) coreset size; seeded at vec_id 0 so
#: the trajectory is deterministic.
KCENTER_K = 8

_D2_SQL = (
    "list_aggregate(list_transform(range(1, 65), "
    "i -> CAST((v.emb[i] - c.emb[i]) * (v.emb[i] - c.emb[i]) "
    "AS DECIMAL(18,12))), 'sum')"
)


def _kcenter_oracle() -> str:
    """Unrolled farthest-first traversal: cent_j = cent_{j-1} + the
    point maximizing min-distance-to-centers (decimal-exact, vec_id
    tiebreak); pick_j.md IS the coverage radius after cent_{j-1}."""
    ctes = [
        "cent0 AS (SELECT CAST(0 AS INT) AS k, vec_id, emb FROM v "
        "WHERE vec_id = 0)"
    ]
    for j in range(1, KCENTER_K + 1):
        ctes.append(f"""mind{j} AS (
        SELECT v.vec_id, MIN({_D2_SQL}) AS md
        FROM v, cent{j - 1} c GROUP BY v.vec_id
    )""")
        ctes.append(f"""pick{j} AS (
        SELECT vec_id, md FROM mind{j}
        QUALIFY row_number() OVER (ORDER BY md DESC, vec_id) = 1
    )""")
        if j < KCENTER_K:
            ctes.append(f"""cent{j} AS (
        SELECT * FROM cent{j - 1} UNION ALL
        SELECT {j}, p.vec_id, v.emb FROM pick{j} p JOIN v USING (vec_id)
    )""")
    radii = " UNION ALL ".join(
        f"SELECT c.k, c.vec_id AS center_id, CAST(p.md AS DOUBLE) AS radius2 "
        f"FROM cent{KCENTER_K - 1} c, pick{k + 1} p WHERE c.k = {k}"
        for k in range(KCENTER_K)
    )
    blocks = ",\n    ".join(ctes)
    return f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ),
    {blocks}
    {radii}
    """


@register(
    "sample_kcenter_coreset",
    oracle=_kcenter_oracle(),
    tags=("sampling", "embeddings", "iterative", "coreset"),
)
def sample_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (farthest-first traversal —
    Gonzalez 1985; the active-learning / data-pruning selection of
    Sener & Savarese 2018): starting from vec_id 0, repeatedly add the
    point FARTHEST from the chosen set, emitting each center with the
    coverage radius (max-min squared distance) the set achieves once
    that center joins.  Farthest-first is the 2-approximation to the
    optimal k-center cover, and the radius column is the quantity a
    data-pruning run watches: where it plateaus, additional coreset
    points stop buying coverage — diversity-based selection's
    diminishing-returns curve, oracle-checked.  Exactness: distances
    are the engine's decimal dist2 kernel, the argmax frontier is
    (md DESC, vec_id) on DECIMAL — every engine walks the identical
    trajectory.

    Scale: K passes over the vector table, each a broadcast of ≤K
    centers + a map-side min + ONE argmax reduction (the same
    driver-loop shape as graph_pagerank_trade; K is single digits for
    coreset seeding, and each pass's shuffle carries one row per
    partition after partial max).  The K collected rows are scalars —
    no data returns to the driver beyond the chosen ids."""
    v = (
        fanout(table(spark, sf_dir, "embeddings"))
        .select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
        )
        .persist()
    )
    seed = v.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("k"), "vec_id", F.col("emb").alias("cvec")
    )
    centers = [(0, seed)]
    rows = []  # (k, center_id, radius2-after-k)
    try:
        for j in range(1, KCENTER_K + 1):
            cents = centers[0][1]
            for _, c in centers[1:]:
                cents = cents.unionByName(c)
            mind = (
                v.crossJoin(F.broadcast(cents.select("cvec")))
                .withColumn("d2", dist2_exact(F.col("emb"), F.col("cvec")))
                .groupBy("vec_id")
                .agg(F.min("d2").alias("md"))
            )
            pick = mind.orderBy(F.desc("md"), "vec_id").limit(1).collect()[0]
            rows.append((j - 1, pick["md"]))
            if j < KCENTER_K:
                nxt = v.filter(F.col("vec_id") == pick["vec_id"]).select(
                    F.lit(j).alias("k"),
                    "vec_id",
                    F.col("emb").alias("cvec"),
                )
                centers.append((j, nxt))
        ids = [
            c.select("k", "vec_id").collect()[0] for _, c in centers
        ]
    finally:
        v.unpersist()
    out = [
        (int(ids[k]["k"]), int(ids[k]["vec_id"]), float(md))
        for k, md in rows
    ]
    return spark.createDataFrame(
        out, "k int, center_id bigint, radius2 double"
    )


# ---------------------------------------------------------------------------
# Top principal component by distributed power iteration
# ---------------------------------------------------------------------------

#: Embedding width (the embeddings table's fixed dimension).
PCA_DIM = 64
#: Power-iteration count — enough for convergence on any spectrum with
#: a visible gap; deterministic because the start vector is e₀ and each
#: iterate is re-rounded to 6 decimals before becoming literals.
PCA_ITERATIONS = 16


def _pca_load_centered(spark: SparkSession, sf_dir: str):
    """Load the embedding corpus (cast double, checkpointed) plus the
    per-dimension mean vector and row count — the shared setup of every
    power-iteration variant."""
    emb = table(spark, sf_dir, "embeddings").select(
        F.transform(
            F.col("embedding"), lambda e: e.cast("double")
        ).alias("x")
    ).localCheckpoint(eager=True)
    sums = (
        emb.select(F.posexplode("x").alias("dim", "val"))
        .groupBy("dim")
        # r14: exact DECIMAL sum (order-independent), so mu is the
        # identical double in any engine that replays CAST(val AS
        # DECIMAL(18,6)) — the float-sum form had nondeterministic low
        # bits, which blocked the top-PC op's exact SQL oracle.
        .agg(
            F.sum(F.col("val").cast("decimal(18,6)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    n = sums[0]["n"]
    mu = [0.0] * PCA_DIM
    for r in sums:
        mu[r["dim"]] = float(r["s"]) / r["n"]
    return emb, mu, n


def _pca_lit_arr(vals: list[float]):
    return F.array(*[F.lit(c) for c in vals])


def _pca_sql_arr(vals: list[float]) -> str:
    """SQL text for a double-array literal, exact through the text
    round-trip: repr() emits the shortest decimal that parses back to
    the identical IEEE double (Java Double.parseDouble is correctly
    rounded, same as Python's parser), so the engine's arithmetic is
    bit-for-bit the one the generated oracles replay.  String CAST
    rather than a bare numeric literal because Spark types undecorated
    decimals as DECIMAL, not DOUBLE."""
    return "array(" + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in vals) + ")"


def _pca_projected(emb, mu: list[float], vs: list[list[float]]):
    """The per-pass (dot0..dot{k-1}, dd) projection shared by the single
    and block matvec passes, built as ONE selectExpr call.

    r14 optimization-round finding: constructing the 64-wide Column
    trees through py4j cost ~1.1 s PER PASS in driver round-trips (the
    execution itself is ~0.2 s on the checkpointed corpus), so the
    16–48-pass iteration loops were dominated by expression-building
    overhead.  Building the identical expressions as SQL text parsed
    JVM-side (one py4j call) measured 5.97 s → 3.22 s over 4 passes,
    with bit-identical results (asserted in the A/B and re-proven by
    the oracle differentials).  The EXPRESSIONS are unchanged — same
    zip_with/aggregate/transform chain, same DECIMAL(18,6) casts, same
    0.0 double seed — only where they are parsed differs."""
    d_arr = f"zip_with(x, {_pca_sql_arr(mu)}, (a, b) -> a - b)"
    dots = [
        f"CAST(aggregate(zip_with({d_arr}, {_pca_sql_arr(v)}, "
        f"(a, b) -> a * b), CAST('0.0' AS DOUBLE), (acc, t) -> acc + t) "
        f"AS DECIMAL(18,6)) AS dot{j}"
        for j, v in enumerate(vs)
    ]
    return emb.selectExpr(
        *dots,
        f"transform({d_arr}, c -> CAST(c AS DECIMAL(18,6))) AS dd",
    )


def _pca_matvec_pass(emb, mu: list[float], v: list[float]) -> list[float]:
    """ONE distributed covariance matvec: w = Σⱼ (xⱼ−μ)·((xⱼ−μ)·v)
    (= n·Cv), with the round-6-decimal per-row discipline that makes the
    64 sums exact and order-independent (see
    embedding_top_pc_power_iteration's docstring).  Returns the 64
    partial-sum doubles; everything else (normalize, deflate, round)
    is driver-side arithmetic on this sketch-sized vector."""
    # Project dot + the rounded-decimal deviation array ONCE, then
    # run 64 tiny per-dimension sums over the projected columns —
    # keeps the expression tree linear in DIM (a 64-term dot inlined
    # into each of 64 aggregates is a 4096-node tree that chokes
    # codegen) and avoids a 64×N explode shuffle.
    # Plain DECIMAL cast, NOT round()+cast: the cast rounds the EXACT
    # binary value at scale 6 in both engines, and no double can be an
    # exact .5 tie at scale 6 (it would need a 5^6 denominator), so
    # the cast is rounding-mode-proof cross-engine.  round(x, 6) is
    # not: DuckDB rounds the scaled float x*1e6, whose own rounding
    # error flips near-tie rows vs Spark's exact BigDecimal rounding
    # (measured: 64/64 eigenvalue mismatches at 1e-7 before r14
    # dropped the round).
    # Expression text parsed JVM-side (see _pca_projected) — the py4j
    # Column-building overhead dominated these driver-sequential loops.
    projected = _pca_projected(emb, mu, [v])
    row = projected.selectExpr(
        *[f"sum(dot0 * dd[{i}]) AS w{i}" for i in range(PCA_DIM)]
    ).collect()[0]
    return [float(row[f"w{i}"] or 0.0) for i in range(PCA_DIM)]


def _pca_mu_cols_sql() -> str:
    """The exact-decimal mean columns shared by every generated PCA
    oracle.  float → DOUBLE → DECIMAL, never float → DECIMAL directly:
    DuckDB scales a FLOAT cast in float precision (measured: 158/32000
    values off by one quantum at sf0.001), while the engine always
    casts the element to double first."""
    return ",\n               ".join(
        f"CAST(SUM(CAST(CAST(embedding[{i + 1}] AS DOUBLE)"
        f" AS DECIMAL(18,6))) AS DOUBLE)"
        f" / COUNT(*) AS mu{i}"
        for i in range(PCA_DIM)
    )


def _pca_matvec_ctes(tag: str, prev_it: str) -> str:
    """One matvec pass as SQL: ``w{tag}`` (64 exact DECIMAL sums over
    embeddings × mu × the previous iterate) and ``wf{tag}`` (the sums
    cast DOUBLE as columns x0..x63) — the SQL twin of
    ``_pca_matvec_pass`` + the driver's float() conversion."""
    dims = range(PCA_DIM)
    dot_terms = " + ".join(
        f"(CAST(e.embedding[{i + 1}] AS DOUBLE) - m.mu{i}) * p.v{i}"
        for i in dims
    )
    dd_cols = ",\n                   ".join(
        f"CAST((CAST(e.embedding[{i + 1}] AS DOUBLE)"
        f" - m.mu{i}) AS DECIMAL(18,6)) AS dd{i}"
        for i in dims
    )
    w_cols = ",\n               ".join(
        f"SUM(dot * dd{i}) AS w{i}" for i in dims
    )
    f_cols = ", ".join(f"CAST(w{i} AS DOUBLE) AS x{i}" for i in dims)
    return f"""
    w{tag} AS MATERIALIZED (
        SELECT {w_cols}
        FROM (
            SELECT CAST({dot_terms} AS DECIMAL(18,6)) AS dot,
                   {dd_cols}
            FROM embeddings e, mu m, {prev_it} p
        )
    ),
    wf{tag} AS MATERIALIZED (SELECT {f_cols} FROM w{tag})"""


def _pca_sign_case_sql(src_cols: str = "v") -> str:
    """The first-nonzero-coordinate-positive sign convention as a CASE
    chain over columns ``{src_cols}0..{src_cols}63``."""
    return " ".join(
        f"WHEN {src_cols}{i} <> 0 THEN (CASE WHEN {src_cols}{i} < 0"
        f" THEN -1.0E0 ELSE 1.0E0 END)"
        for i in range(PCA_DIM)
    )


def _top_pc_oracle() -> str:
    """Generate the exact SQL replay of the power iteration (VERDICT
    r13 item 6 — the markov pattern applied to PCA): PCA_ITERATIONS
    materialized CTE passes, each performing the IDENTICAL IEEE-754
    operation sequence as the engine —

    - per-row ``dot`` accumulated left-to-right over dims (SQL ``+``
      is left-associative, matching F.aggregate's fold), rounded to 6
      decimals, cast DECIMAL(18,6);
    - per-dimension deviations rounded/cast the same way;
    - 64 exact DECIMAL sums (order-independent on both engines);
    - norm via ``sqrt`` of the left-to-right sum of squares (sqrt is
      correctly rounded per IEEE-754, unlike ln/exp — no libm risk);
    - the iterate re-quantized by ``floor(x*1e6 + 0.5)/1e6`` (only
      exact/correctly-rounded ops: *, +, floor, / — the engine uses
      the same formula instead of Python's half-even round()).

    Every double on both sides is therefore bit-identical; the
    differential runs with NO tolerance beyond the repo-standard
    1e-12."""
    dims = range(PCA_DIM)
    # float → DOUBLE → DECIMAL, never float → DECIMAL directly: DuckDB
    # scales a FLOAT cast in float precision (measured: 158/32000
    # values off by one quantum at sf0.001), while the engine always
    # casts the element to double first.
    mu_cols = ",\n               ".join(
        f"CAST(SUM(CAST(CAST(embedding[{i + 1}] AS DOUBLE)"
        f" AS DECIMAL(18,6))) AS DOUBLE)"
        f" / COUNT(*) AS mu{i}"
        for i in dims
    )
    it0 = ", ".join(
        f"{'1.0E0' if i == 0 else '0.0E0'} AS v{i}" for i in dims
    )
    passes = []
    prev = "it0"
    for k in range(1, PCA_ITERATIONS + 1):
        dot_terms = " + ".join(
            f"(CAST(e.embedding[{i + 1}] AS DOUBLE) - m.mu{i}) * p.v{i}"
            for i in dims
        )
        dd_cols = ",\n                   ".join(
            f"CAST((CAST(e.embedding[{i + 1}] AS DOUBLE)"
            f" - m.mu{i}) AS DECIMAL(18,6)) AS dd{i}"
            for i in dims
        )
        w_cols = ",\n               ".join(
            f"SUM(dot * dd{i}) AS w{i}" for i in dims
        )
        f_cols = ", ".join(f"CAST(w{i} AS DOUBLE) AS f{i}" for i in dims)
        sq = " + ".join(f"f{i}*f{i}" for i in dims)
        v_cols = ",\n               ".join(
            f"floor(f{i} / nrm * 1000000.0E0 + 0.5E0) / 1000000.0E0"
            f" AS v{i}"
            for i in dims
        )
        passes.append(f"""
    w{k} AS MATERIALIZED (
        SELECT {w_cols}
        FROM (
            SELECT CAST({dot_terms} AS DECIMAL(18,6)) AS dot,
                   {dd_cols}
            FROM embeddings e, mu m, {prev} p
        )
    ),
    wf{k} AS MATERIALIZED (SELECT {f_cols} FROM w{k}),
    n{k} AS MATERIALIZED (SELECT sqrt({sq}) AS nrm FROM wf{k}),
    it{k} AS MATERIALIZED (
        SELECT {v_cols}
        FROM wf{k}, n{k}
    )""")
        prev = f"it{k}"
    sign_branches = " ".join(
        f"WHEN v{i} <> 0 THEN (CASE WHEN v{i} < 0"
        f" THEN -1.0E0 ELSE 1.0E0 END)"
        for i in dims
    )
    unpivot = "\n    UNION ALL ".join(
        f"SELECT {i} AS dim, m.mu{i} AS mu, g.s * i.v{i} AS pc,"
        f" l.lam AS eigenvalue"
        f" FROM mu m, {prev} i, sgn g, lamc l"
        for i in dims
    )
    return f"""
    WITH mu AS MATERIALIZED (
        SELECT {mu_cols},
               COUNT(*) AS n
        FROM embeddings
    ),
    it0 AS (SELECT {it0}),{",".join(passes)},
    lamc AS (SELECT n.nrm / m.n AS lam FROM n{PCA_ITERATIONS} n, mu m),
    sgn AS (SELECT CASE {sign_branches} ELSE 1.0E0 END AS s
            FROM {prev}),
    final AS (
    {unpivot}
    )
    SELECT dim, mu, pc, eigenvalue FROM final ORDER BY dim
    """


@register(
    "embedding_top_pc_power_iteration",
    # r14 (VERDICT r13 item 6): EXACT SQL oracle — the generated CTE
    # chain replays the identical IEEE sequence (the markov pattern),
    # so the op leaves the rows-only set with no tolerance hacks.
    # tests/test_round7b_ops.py still pins the result against numpy's
    # exact eigendecomposition (cosine alignment + eigenvalue
    # agreement) as the independent replay.
    oracle=_top_pc_oracle(),
    tags=("similarity", "linear-algebra", "scale"),
)
def embedding_top_pc_power_iteration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top principal component of the embedding corpus by DISTRIBUTED
    power iteration — the whitening/PCA primitive (and the direction
    OPQ's trained rotation generalizes): each iteration computes
    w = Σⱼ (xⱼ−μ)·((xⱼ−μ)·v) in ONE aggregate pass — the matvec
    against the covariance WITHOUT materializing the covariance — and
    only the 64-double iterate returns to the driver (the legal
    sketch-sized state of the Count-Min/MG family; the corpus never
    moves).  Determinism despite float data: per-row dot products are
    rounded to 6 decimals and cast DECIMAL, per-dimension contributions
    are exact decimal products, so every aggregate is an
    order-independent exact sum (the engine's round-ln convention
    applied to linear algebra) — bit-identical across partitionings.

    Returns 64 rows (dim, mu, pc, eigenvalue): the per-dimension mean,
    the unit top component (sign fixed: first nonzero coordinate
    positive), and the covariance eigenvalue estimate (replicated).

    Convergence contract: power iteration converges at rate (λ₂/λ₁)ᵏ,
    so on a near-degenerate spectrum (this synthetic corpus is close
    to isotropic) the ITERATE may stay off the true eigenvector while
    its Rayleigh quotient is already within a percent of λ_max — the
    test therefore pins the eigenvalue ratio (≥97% of numpy's exact
    λ_max) and bit-exact rerun determinism, with the cosine alignment
    as a weaker secondary bound.

    Scale: PCA_ITERATIONS passes, each a single map-side-combinable
    aggregate over the corpus with 64 decimal sums — no shuffle wider
    than one row of partials per task, no per-row Python.  At 100 TB
    deflate for the next component by subtracting λ·vvᵀ contributions
    in the same pass (the standard deflation loop)."""
    emb, mu, n = _pca_load_centered(spark, sf_dir)
    v = [1.0] + [0.0] * (PCA_DIM - 1)
    lam = 0.0
    for _ in range(PCA_ITERATIONS):
        w = _pca_matvec_pass(emb, mu, v)
        # math.sqrt of a left-to-right sum of squares, and a floor-
        # based 6-decimal quantizer: every op here is exact or IEEE
        # correctly rounded, so the generated SQL oracle
        # (_top_pc_oracle) replays bit-identical doubles.  Python's
        # round() (half-even) and **0.5 (libm pow) were the two
        # non-portable steps — r14 swapped both.
        norm = math.sqrt(sum(c * c for c in w))
        if norm == 0.0:
            break
        lam = norm / n  # covariance eigenvalue: ||Σ d(d·v)|| / n, ||v||=1
        v = [math.floor(c / norm * 1e6 + 0.5) / 1e6 for c in w]
    # sign convention: first nonzero coordinate positive
    for c in v:
        if c != 0.0:
            if c < 0.0:
                v = [-c2 for c2 in v]
            break
    return spark.createDataFrame(
        [(i, mu[i], v[i], lam) for i in range(PCA_DIM)],
        "dim int, mu double, pc double, eigenvalue double",
    )


#: Number of principal components the deflation loop extracts.
PCA_DEFLATION_COMPONENTS = 3


def _sql_deflect(
    ctes: list[str], cur: str, tag: str, pcs: list[str], pcol: str = "p"
) -> str:
    """Append sequential Gram-Schmidt projection CTEs of frame `cur`
    (cols x0..x63) against each CTE in `pcs` (cols {pcol}0..{pcol}63),
    mirroring the engine's order exactly: c computed once as a
    left-to-right dot, then x_i − c·u_i per dimension.  Returns the
    final frame name."""
    dims = range(PCA_DIM)
    for t, pc in enumerate(pcs):
        dot = " + ".join(f"q.x{i} * u.{pcol}{i}" for i in dims)
        sub = ", ".join(
            f"q.x{i} - q.c * u.{pcol}{i} AS x{i}" for i in dims
        )
        ctes.append(
            f"{tag}c{t} AS (SELECT ({dot}) AS c, q.*"
            f" FROM {cur} q, {pc} u)"
        )
        ctes.append(
            f"{tag}d{t} AS (SELECT {sub} FROM {tag}c{t} q, {pc} u)"
        )
        cur = f"{tag}d{t}"
    return cur


def _sql_norm_quant(
    ctes: list[str], cur: str, ntag: str, ittag: str
) -> None:
    """Append the norm (sqrt of the left-to-right sum of squares) and
    floor-quantized-iterate CTEs for frame `cur` (cols x0..x63)."""
    dims = range(PCA_DIM)
    sq = " + ".join(f"x{i}*x{i}" for i in dims)
    vq = ",\n               ".join(
        f"floor(q.x{i} / r.nrm * 1000000.0E0 + 0.5E0)"
        f" / 1000000.0E0 AS v{i}"
        for i in dims
    )
    ctes.append(
        f"{ntag} AS MATERIALIZED (SELECT sqrt({sq}) AS nrm FROM {cur})"
    )
    ctes.append(
        f"{ittag} AS MATERIALIZED (\n        SELECT {vq}\n"
        f"        FROM {cur} q, {ntag} r)"
    )


def _deflation_oracle() -> str:
    """Generate the exact SQL replay of the DEFLATED power iteration
    (r14, extending the top-PC pattern): for each of the
    PCA_DEFLATION_COMPONENTS components, an init-iterate CTE chain
    (e_j, sequential Gram-Schmidt projections against the previously
    extracted sign-fixed components, norm, floor-quantize) followed by
    PCA_ITERATIONS matvec passes, each deflected against the same
    components with the engine's exact operation order (c computed
    once as a left-to-right dot, then x_i − c·p_i per dimension).
    Only exact DECIMAL sums and correctly-rounded IEEE +,−,×,/,sqrt,
    floor appear, so every double matches the engine bit-for-bit."""
    dims = range(PCA_DIM)
    ctes: list[str] = [
        f"""mu AS MATERIALIZED (
        SELECT {_pca_mu_cols_sql()},
               COUNT(*) AS n
        FROM embeddings
    )"""
    ]

    def deflect(cur: str, tag: str, pcs: list[str]) -> str:
        return _sql_deflect(ctes, cur, tag, pcs)

    def norm_quant(cur: str, ntag: str, ittag: str) -> None:
        _sql_norm_quant(ctes, cur, ntag, ittag)

    pcs: list[str] = []
    for j in range(PCA_DEFLATION_COMPONENTS):
        init = ", ".join(
            f"{'1.0E0' if i == j else '0.0E0'} AS x{i}" for i in dims
        )
        ctes.append(f"i{j}s AS (SELECT {init})")
        cur = deflect(f"i{j}s", f"i{j}", pcs)
        norm_quant(cur, f"i{j}n", f"it{j}_0")
        prev = f"it{j}_0"
        for k in range(1, PCA_ITERATIONS + 1):
            ctes.append(_pca_matvec_ctes(f"{j}_{k}", prev).lstrip(" \n").rstrip())
            cur = deflect(f"wf{j}_{k}", f"g{j}_{k}", pcs)
            norm_quant(cur, f"n{j}_{k}", f"it{j}_{k}")
            prev = f"it{j}_{k}"
        p_cols = ", ".join(f"g.s * i.v{i} AS p{i}" for i in dims)
        ctes.append(
            f"sg{j} AS (SELECT CASE {_pca_sign_case_sql('v')}"
            f" ELSE 1.0E0 END AS s FROM {prev})"
        )
        ctes.append(
            f"pc{j} AS MATERIALIZED (SELECT {p_cols} FROM {prev} i, sg{j} g)"
        )
        ctes.append(
            f"lm{j} AS (SELECT r.nrm / m.n AS lam"
            f" FROM n{j}_{PCA_ITERATIONS} r, mu m)"
        )
        pcs.append(f"pc{j}")
    unpivot = "\n    UNION ALL ".join(
        f"SELECT {j} AS component, {i} AS dim, m.mu{i} AS mu,"
        f" p.p{i} AS pc, l.lam AS eigenvalue"
        f" FROM mu m, pc{j} p, lm{j} l"
        for j in range(PCA_DEFLATION_COMPONENTS)
        for i in dims
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body},
    final AS (
    {unpivot}
    )
    SELECT component, dim, mu, pc, eigenvalue FROM final
    ORDER BY component, dim
    """


@register(
    "embedding_pca_deflation_top3",
    # r14: EXACT SQL oracle — the generated CTE chain replays every
    # deflected pass bit-identically (see _deflation_oracle), so the
    # op leaves the rows-only set.  tests/test_round7e_ops.py keeps
    # the independent numpy replay (orthonormality, eigenvalue
    # brackets, captured variance, bit-identical reruns).
    oracle=_deflation_oracle(),
    tags=("similarity", "linear-algebra", "scale"),
)
def embedding_pca_deflation_top3(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-{PCA_DEFLATION_COMPONENTS} principal components by DEFLATED
    power iteration — the multi-component follow-through the top-PC
    docstring promises (clustering.py:772): component j runs the same
    distributed covariance matvec kernel (_pca_matvec_pass — one
    aggregate pass per iteration, 64 exact decimal sums, the corpus
    never moves) but after every pass the 64-double iterate is
    PROJECTED driver-side onto the orthogonal complement of the
    already-found components (Gram-Schmidt deflation — for a symmetric
    covariance, power iteration on the complement converges to the
    next eigenpair).  All deflation arithmetic happens on sketch-sized
    driver vectors; the cluster work per component is identical to the
    top-PC op's.  The near-degenerate synthetic spectrum (λ₁/λ₂ ≈
    1.01-1.07) means individual eigenVECTORS are only loosely pinned —
    the tests therefore pin the rotation-invariant facts: orthonormal
    output, eigenvalue estimates bracketed by numpy's [λ₃, λ₁], and
    the captured-variance share of the true top-3 subspace.

    Returns {PCA_DEFLATION_COMPONENTS}×64 rows
    (component, dim, mu, pc, eigenvalue).

    Scale: components × PCA_ITERATIONS aggregate passes, each map-side
    combinable with O(DIM) state; deflation is O(k·DIM) driver flops
    per pass.  For k beyond a handful, switch to block orthogonal
    iteration (one pass carries k dots) — same kernel, k columns."""
    emb, mu, n = _pca_load_centered(spark, sf_dir)
    comps: list[list[float]] = []
    lams: list[float] = []
    for j in range(PCA_DEFLATION_COMPONENTS):
        v = [0.0] * PCA_DIM
        v[j] = 1.0
        # start vector must not be orthogonal-by-construction to the
        # target subspace; e_j with prior components projected out is
        # the deterministic choice (no randomness allowed — reruns must
        # be bit-identical).
        # Portable-exact driver arithmetic (r14, matching the top-PC
        # op): math.sqrt + the floor-based 6-decimal quantizer, so the
        # generated SQL oracle (_deflation_oracle) replays bit-identical
        # doubles — Python round() (half-even) and **0.5 (libm pow)
        # were the non-portable steps.
        for u in comps:
            c = sum(a * b for a, b in zip(v, u))
            v = [a - c * b for a, b in zip(v, u)]
        norm = math.sqrt(sum(c * c for c in v))
        v = [math.floor(c / norm * 1e6 + 0.5) / 1e6 for c in v]
        lam = 0.0
        for _ in range(PCA_ITERATIONS):
            w = _pca_matvec_pass(emb, mu, v)
            for u in comps:
                c = sum(a * b for a, b in zip(w, u))
                w = [a - c * b for a, b in zip(w, u)]
            norm = math.sqrt(sum(c * c for c in w))
            if norm == 0.0:
                break
            lam = norm / n
            v = [math.floor(c / norm * 1e6 + 0.5) / 1e6 for c in w]
        for c in v:
            if c != 0.0:
                if c < 0.0:
                    v = [-c2 for c2 in v]
                break
        comps.append(v)
        lams.append(lam)
    return spark.createDataFrame(
        [
            (j, i, mu[i], comps[j][i], lams[j])
            for j in range(PCA_DEFLATION_COMPONENTS)
            for i in range(PCA_DIM)
        ],
        "component int, dim int, mu double, pc double, eigenvalue double",
    )


def _pca_block_matvec_pass(
    emb, mu: list[float], vs: list[list[float]]
) -> list[list[float]]:
    """ONE aggregate pass carrying k covariance matvecs at once —
    the block form of _pca_matvec_pass the deflation docstring
    promises for scale: the centered deviation array is projected
    ONCE, each of the k iterate dots once, then k·DIM exact decimal
    sums run over the projected columns.  Cluster cost per iteration
    is ONE scan regardless of k (vs k scans for sequential
    deflation); state is k·DIM decimal cells, map-side combined."""
    k = len(vs)
    # Plain DECIMAL cast, not round()+cast — same cross-engine
    # rounding-mode-proof convention as _pca_matvec_pass (r14).
    # Expression text parsed JVM-side (see _pca_projected): the block
    # pass builds k·64 aggregate expressions, so the py4j overhead the
    # optimization round measured was ~3× the single-vector pass's.
    projected = _pca_projected(emb, mu, vs)
    row = projected.selectExpr(
        *[
            f"sum(dot{j} * dd[{i}]) AS w{j}_{i}"
            for j in range(k)
            for i in range(PCA_DIM)
        ]
    ).collect()[0]
    return [
        [float(row[f"w{j}_{i}"] or 0.0) for i in range(PCA_DIM)]
        for j in range(k)
    ]


def _block_oracle() -> str:
    """Generate the exact SQL replay of the BLOCK orthogonal
    iteration (r14, completing the PCA family's move out of the
    rows-only set): PCA_ITERATIONS materialized passes, each ONE
    aggregate CTE carrying all k covariance matvecs (k·DIM exact
    DECIMAL sums, mirroring _pca_block_matvec_pass), followed by the
    per-pass Gram-Schmidt QR replayed column-for-column with the
    engine's operation order; sign fix and rdiag/n eigenvalues at the
    end.  Same portable-op inventory as the other two PCA oracles —
    bit-identical doubles, no tolerance."""
    k = PCA_DEFLATION_COMPONENTS
    dims = range(PCA_DIM)
    ctes: list[str] = [
        f"""mu AS MATERIALIZED (
        SELECT {_pca_mu_cols_sql()},
               COUNT(*) AS n
        FROM embeddings
    )"""
    ]
    # init block: replay orthonormalize([e0..e_{k-1}]) — with exact
    # arithmetic it reproduces the unit basis, but replay it anyway so
    # the oracle cannot drift from the engine's init path.
    prev_its: list[str] = []
    for j in range(k):
        init = ", ".join(
            f"{'1.0E0' if i == j else '0.0E0'} AS x{i}" for i in dims
        )
        ctes.append(f"b0s{j} AS (SELECT {init})")
        cur = _sql_deflect(ctes, f"b0s{j}", f"b0g{j}", prev_its, "v")
        _sql_norm_quant(ctes, cur, f"b0n{j}", f"b0v{j}")
        prev_its.append(f"b0v{j}")
    for p in range(1, PCA_ITERATIONS + 1):
        aliases = ", ".join(
            f"{prev_its[j]} p{j}" for j in range(k)
        )
        dot_defs = ",\n                   ".join(
            "CAST("
            + " + ".join(
                f"(CAST(e.embedding[{i + 1}] AS DOUBLE) - m.mu{i})"
                f" * p{j}.v{i}"
                for i in dims
            )
            + f" AS DECIMAL(18,6)) AS dot{j}"
            for j in range(k)
        )
        dd_cols = ",\n                   ".join(
            f"CAST((CAST(e.embedding[{i + 1}] AS DOUBLE)"
            f" - m.mu{i}) AS DECIMAL(18,6)) AS dd{i}"
            for i in dims
        )
        w_cols = ",\n               ".join(
            f"SUM(dot{j} * dd{i}) AS w{j}_{i}"
            for j in range(k)
            for i in dims
        )
        ctes.append(f"""bw{p} AS MATERIALIZED (
        SELECT {w_cols}
        FROM (
            SELECT {dot_defs},
                   {dd_cols}
            FROM embeddings e, mu m, {aliases}
        )
    )""")
        new_its: list[str] = []
        for j in range(k):
            f_cols = ", ".join(
                f"CAST(w{j}_{i} AS DOUBLE) AS x{i}" for i in dims
            )
            ctes.append(
                f"b{p}f{j} AS (SELECT {f_cols} FROM bw{p})"
            )
            cur = _sql_deflect(
                ctes, f"b{p}f{j}", f"b{p}g{j}", new_its, "v"
            )
            _sql_norm_quant(ctes, cur, f"b{p}n{j}", f"b{p}v{j}")
            new_its.append(f"b{p}v{j}")
        prev_its = new_its
    last = PCA_ITERATIONS
    for j in range(k):
        ctes.append(
            f"sg{j} AS (SELECT CASE {_pca_sign_case_sql('v')}"
            f" ELSE 1.0E0 END AS s FROM b{last}v{j})"
        )
        p_cols = ", ".join(f"g.s * i.v{i} AS p{i}" for i in dims)
        ctes.append(
            f"pc{j} AS MATERIALIZED (SELECT {p_cols}"
            f" FROM b{last}v{j} i, sg{j} g)"
        )
        ctes.append(
            f"lm{j} AS (SELECT r.nrm / m.n AS lam"
            f" FROM b{last}n{j} r, mu m)"
        )
    unpivot = "\n    UNION ALL ".join(
        f"SELECT {j} AS component, {i} AS dim, m.mu{i} AS mu,"
        f" p.p{i} AS pc, l.lam AS eigenvalue"
        f" FROM mu m, pc{j} p, lm{j} l"
        for j in range(k)
        for i in dims
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body},
    final AS (
    {unpivot}
    )
    SELECT component, dim, mu, pc, eigenvalue FROM final
    ORDER BY component, dim
    """


@register(
    "embedding_pca_block_iteration_top3",
    # r14: EXACT SQL oracle — the generated CTE chain replays every
    # block pass and its Gram-Schmidt QR bit-identically (see
    # _block_oracle); the whole PCA iteration family is now
    # oracle-checked.  tests/test_round7f_ops.py keeps the numpy
    # replay (orthonormality, brackets, variance, reruns, deflation
    # subspace agreement).
    oracle=_block_oracle(),
    tags=("similarity", "linear-algebra", "scale"),
)
def embedding_pca_block_iteration_top3(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-{PCA_DEFLATION_COMPONENTS} principal components by BLOCK
    orthogonal iteration — the one-pass-per-iteration scale path the
    deflation op's docstring documents (clustering.py:842): every
    iteration runs ONE _pca_block_matvec_pass carrying all k iterate
    dots (k× fewer cluster scans than sequential deflation — measured
    ~2.7× wall at sf0.1), then re-orthonormalizes the k×64 block
    DRIVER-side by rounded Gram-Schmidt (deterministic: no randomness,
    6-decimal rounding after every normalize, e_j start block with
    prior columns projected out).  Eigenvalue estimates are the
    Gram-Schmidt R diagonal over n (the standard subspace-iteration
    readout — for column j, the residual norm after removing earlier
    components IS n·λ̂_j at convergence).  Same output contract as
    embedding_pca_deflation_top3; the near-degenerate synthetic
    spectrum again means tests pin rotation-invariant facts plus
    cross-op subspace agreement, not individual vectors.

    Scale: PCA_ITERATIONS scans total, independent of k; per-scan
    state k·DIM ≈ 192 decimal cells, map-side combined.  This is the
    variant to run at 100 TB; deflation remains as the
    reference-algorithm cross-check."""
    emb, mu, n = _pca_load_centered(spark, sf_dir)
    k = PCA_DEFLATION_COMPONENTS

    def orthonormalize(
        block: list[list[float]],
    ) -> tuple[list[list[float]], list[float]]:
        out: list[list[float]] = []
        rdiag: list[float] = []
        for w in block:
            for u in out:
                c = sum(a * b for a, b in zip(w, u))
                w = [a - c * b for a, b in zip(w, u)]
            # Portable-exact arithmetic (r14): math.sqrt + the
            # floor-based quantizer, so _block_oracle replays
            # bit-identical doubles (same swap as top-PC/deflation).
            norm = math.sqrt(sum(c * c for c in w))
            rdiag.append(norm)
            if norm == 0.0:
                out.append([0.0] * PCA_DIM)
            else:
                out.append(
                    [
                        math.floor(c / norm * 1e6 + 0.5) / 1e6
                        for c in w
                    ]
                )
        return out, rdiag

    block = []
    for j in range(k):
        v = [0.0] * PCA_DIM
        v[j] = 1.0
        block.append(v)
    block, _ = orthonormalize(block)
    rdiag = [0.0] * k
    for _ in range(PCA_ITERATIONS):
        w_block = _pca_block_matvec_pass(emb, mu, block)
        block, rdiag = orthonormalize(w_block)
    for j in range(k):
        for c in block[j]:
            if c != 0.0:
                if c < 0.0:
                    block[j] = [-c2 for c2 in block[j]]
                break
    lams = [r / n for r in rdiag]
    return spark.createDataFrame(
        [
            (j, i, mu[i], block[j][i], lams[j])
            for j in range(k)
            for i in range(PCA_DIM)
        ],
        "component int, dim int, mu double, pc double, eigenvalue double",
    )
