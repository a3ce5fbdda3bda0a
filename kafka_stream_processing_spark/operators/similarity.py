"""Similarity search over embedding columns (array<float>, 64-d).

Brute-force cosine top-k is the exactness baseline; LSH-bucketed variants
(random-hyperplane signatures) are the 100 TB path.  All vector math is
native Column expressions (zip_with/aggregate higher-order functions) —
JVM-side, no Python in the row path.

Cross-engine exactness: per-element products are computed in DOUBLE then
quantized to DECIMAL(18,12) before summation, making the reduction exact
and order-independent — Spark and DuckDB produce bit-identical cosines.

Kernels: a search is candidate generation, exact re-ranking, then a
per-query top-k, and each step has one private helper.  ``_embeddings``
is the embeddings read (fanned out, double vectors, exact norm ``nrm``;
dedup, clustering and retrieval use it too); ``_queries`` picks the
evaluation queries (``vec_id < N_QUERIES``, carried columns prefixed
``q_``); ``_cosine_pairs`` is the broadcast exact-cosine pair frame of
the brute-force ops; ``_top_k`` keeps the first k rows per group with
the id tie-break the oracles use.  The IVF ops take their index from
``_ivf_assigned``, their probes from ``_probes`` and their candidates
from ``_probe_candidates``; the two nprobe sweeps share ``_probe_sweep``
and differ only in their score.  The PQ ops rank through ``_adc_topk``,
and the cluster-quality ops build on ``_flat``, ``_centroids``,
``_centroid_sq`` and ``_label_moments``.
"""

from __future__ import annotations

import functools

import numpy as _np

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_stream_processing_spark.registry import register
from kafka_stream_processing_spark.sources.tables import fanout, table

_DEC = "decimal(18,12)"

#: Random-hyperplane LSH planes, generated once from a fixed seed and
#: rounded to 4 decimals so the SAME literals are embedded in the Spark
#: plan and the oracle SQL (both engines parse the decimal strings to
#: identical doubles).
_N_PLANES = 4
LSH_PLANES: list[list[float]] = [
    [float(x) for x in row]
    for row in _np.round(_np.random.RandomState(7).randn(_N_PLANES, 64), 4)
]

#: IVF coarse-quantizer centroids — TRAINED: output of the k-means
#: trainer (tools/train_codebooks.py runs cluster_kmeans_embeddings'
#: Lloyd iteration over the embedding table and pins the result;
#: tests/test_properties.py re-trains and asserts the literals match).
_N_CELLS = 8
IVF_NPROBE = 2

#: Size of the fixed evaluation query set (vec_id < N_QUERIES) shared by
#: every ANN operator and its oracle.  Deliberately distinct from
#: PQ_TOPK, which coincidentally also equals 5 — one selects WHICH
#: vectors are queries, the other how many neighbors are returned.
N_QUERIES = 5
from kafka_stream_processing_spark.operators._codebooks import (  # noqa: E402
    IVF_CENTROIDS,
    OPQ_CODEBOOKS,
    OPQ_DIM_ALLOC,
    PQ_CODEBOOKS,
    RPQ_CODEBOOKS,
)


def _as_double_array(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot_exact(a: Column, b: Column) -> Column:
    """Exact (decimal-quantized) dot product of two double arrays."""
    prods = F.zip_with(a, b, lambda x, y: (x * y).cast(_DEC))
    # The merge lambda must return the zero's exact type; the re-cast is
    # lossless (64 terms of |x|<=~10 stay far inside DECIMAL(18,12)).
    return F.aggregate(
        prods, F.lit(0).cast(_DEC), lambda acc, x: (acc + x).cast(_DEC)
    ).cast("double")


def l2_norm_exact(a: Column) -> Column:
    return F.sqrt(dot_exact(a, a))


def dist2_exact(a: Column, b: Column) -> Column:
    """Exact (per-term decimal-quantized) squared L2 distance of two
    double arrays, kept as DECIMAL for order-independent downstream sums
    and bit-exact ordering — the single shared kernel behind k-means,
    SemDeDup, and the PQ encode/ADC operators."""
    terms = F.zip_with(a, b, lambda x, y: ((x - y) * (x - y)).cast(_DEC))
    return F.aggregate(
        terms, F.lit(0).cast(_DEC), lambda acc, x: (acc + x).cast(_DEC)
    )


def cosine_exact(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    return dot_exact(a, b) / (norm_a * norm_b)


def cosine_ge_two_tier(
    a: Column,
    b: Column,
    norm_a: Column,
    norm_b: Column,
    threshold: Column | float,
) -> Column:
    """Boolean ``cosine_exact(a, b) >= threshold`` evaluated the cheap
    way: a plain float dot decides every pair that is CLEARLY in or
    out, and the 10×-costlier exact decimal kernel runs only inside a
    frontier band around the threshold (r10, measured 3.6 s vs 0.36 s
    kernel time over 499 k pairs).

    Exactness: the band half-width eps = 1e-9·(1 + nrm_a·nrm_b)
    dominates the worst-case |dec_dot − fl_dot| — per-term HALF_UP
    quantization to 1e-12 contributes ≤ 64·0.5e-12 and float64
    summation ≤ ~7e-15·nrm_a·nrm_b (Cauchy-Schwarz) — by >30×, so the
    verdict is bit-identical to the all-exact kernel (pinned in
    tests/test_round10_ops.py).  Both OR branches short-circuit, so
    the exact kernel is evaluated for band rows only."""
    thr = threshold if isinstance(threshold, Column) else F.lit(threshold)
    fl_dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nanb = norm_a * norm_b
    eps = F.lit(1e-9) * (F.lit(1.0) + nanb)
    dot_thr = thr * nanb
    return (fl_dot >= dot_thr + eps) | (
        (fl_dot > dot_thr - eps)
        & (cosine_exact(a, b, norm_a, norm_b) >= thr)
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, emb, nrm): the embeddings table spread over the cluster
    (one scan task otherwise), each vector as array<double> with its
    exact L2 norm.  Callers that never read ``nrm`` get it pruned."""
    emb = fanout(table(spark, sf_dir, "embeddings")).select(
        "vec_id", _as_double_array("embedding").alias("emb")
    )
    return emb.withColumn("nrm", l2_norm_exact(F.col("emb")))


def _queries(df: DataFrame, *cols: str, n: int = N_QUERIES) -> DataFrame:
    """The query rows of ``df`` (vec_id < n) as ``query_id`` plus each
    carried column prefixed ``q_``."""
    return df.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(c).alias(f"q_{c}") for c in cols],
    )


def _cosine_pairs(n: DataFrame, n_queries: int = N_QUERIES) -> DataFrame:
    """(query_id, neighbor_id, cosine): every query against every other
    vector of ``n`` (vec_id, emb, nrm) by exact cosine.  The query set is
    broadcast, so the corpus never shuffles (BroadcastNestedLoopJoin)."""
    q = _queries(n, "emb", "nrm", n=n_queries)
    return (
        n.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_exact(
                F.col("q_emb"), F.col("emb"), F.col("q_nrm"), F.col("nrm")
            ).alias("cosine"),
        )
    )


def _top_k(
    df: DataFrame,
    k: int,
    order: Column | str,
    tie: str = "neighbor_id",
    by: tuple[str, ...] = ("query_id",),
) -> DataFrame:
    """The first ``k`` rows of each ``by`` group by ``order``, ties to the
    lowest ``tie`` id — the ``row_number() OVER (PARTITION BY .. ORDER BY
    .., id)`` cut every oracle writes.  The rank is kept as ``rn``."""
    w = Window.partitionBy(*by).orderBy(order, tie)
    rn = F.row_number().over(w)
    return df.withColumn("rn", rn).filter(F.col("rn") <= k)


#: The oracles' embeddings read (CTE v: vec_id, emb as DOUBLE[]) — the
#: SQL twin of _embeddings.
_V_CTE = """v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    )"""

#: Brute-force top-10 oracle — module constant so composing evals
#: (similarity_rank_distance_ann_eval) can embed it as a subquery.
BF_TOPK_ORACLE = f"""
    WITH {_V_CTE},
    n AS (
        SELECT vec_id, emb,
               sqrt(CAST(list_aggregate(
                   list_transform(range(1, 65),
                                  i -> CAST(emb[i] * emb[i] AS DECIMAL(18,12))),
                   'sum') AS DOUBLE)) AS nrm
        FROM v
    ),
    pairs AS (
        SELECT q.vec_id AS query_id,
               d.vec_id AS neighbor_id,
               CAST(list_aggregate(
                   list_transform(range(1, 65),
                                  i -> CAST(q.emb[i] * d.emb[i] AS DECIMAL(18,12))),
                   'sum') AS DOUBLE) / (q.nrm * d.nrm) AS cosine
        FROM n q
        JOIN n d ON d.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine
    FROM (
        SELECT *,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rn
        FROM pairs
    )
    WHERE rn <= 10
    """


@register(
    "similarity_bruteforce_topk",
    oracle=BF_TOPK_ORACLE,
    headline=True,
    tags=("similarity",),
)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors.  Scale: the query set
    is broadcast (queries × corpus is a map-side nested loop, no shuffle of
    the corpus); top-k per query collapses via row_number — with millions
    of queries, switch to the LSH-bucketed variant below."""
    pairs = _cosine_pairs(_embeddings(spark, sf_dir))
    return _top_k(pairs, 10, F.col("cosine").desc()).select(
        "query_id", "neighbor_id", "cosine"
    )


@register(
    "embedding_dimension_stats",
    oracle="""
    WITH flat AS (
        SELECT t.i AS dim,
               CAST(embedding[t.i] AS DOUBLE) AS x
        FROM embeddings, unnest(range(1, 65)) AS t(i)
    )
    SELECT CAST(dim AS INT) - 1 AS dim,
           count(*) AS n,
           CAST(SUM(CAST(x AS DECIMAL(18,12))) AS DOUBLE) / count(*) AS mean,
           round(sqrt((CAST(SUM(CAST(x * x AS DECIMAL(18,12))) AS DOUBLE)
                       - CAST(SUM(CAST(x AS DECIMAL(18,12))) AS DOUBLE)
                         * CAST(SUM(CAST(x AS DECIMAL(18,12))) AS DOUBLE) / count(*))
                      / (count(*) - 1)), 6) AS stddev,
           min(x) AS min_val,
           max(x) AS max_val
    FROM flat
    GROUP BY 1
    """,
    tags=("similarity", "statistics"),
)
def embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension distribution statistics of the embedding column
    (posexplode → exact decimal moments) — the profiling step before
    choosing LSH planes / normalization in a vector pipeline.  Scale: one
    64x row expansion (pipelined, no shuffle) then a 64-group aggregate."""
    flat = _flat(fanout(table(spark, sf_dir, "embeddings")))
    dx = F.col("x").cast(_DEC)
    s = flat.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast(_DEC)).cast("double").alias("sxx"),
        F.min("x").alias("min_val"),
        F.max("x").alias("max_val"),
    )
    return s.select(
        "dim",
        "n",
        (F.col("sx") / F.col("n")).alias("mean"),
        F.round(
            F.sqrt(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                / (F.col("n") - 1)
            ),
            6,
        ).alias("stddev"),
        "min_val",
        "max_val",
    )


# ---------------------------------------------------------------------------
# LSH-bucketed ANN (the 100 TB path)
# ---------------------------------------------------------------------------


def _sql_plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in plane) + "]"


def _plane_dot_sql(plane: list[float]) -> str:
    """Exact dot of ``emb`` with a literal vector (an LSH plane or an
    IVF centroid), in DuckDB."""
    lit = _sql_plane_literal(plane)
    return (
        f"CAST(list_aggregate(list_transform(range(1, 65), "
        f"i -> CAST(emb[i] * ({lit})[i] AS DECIMAL(18,12))), 'sum') AS DOUBLE)"
    )


def _bucket_sql() -> str:
    terms = " + ".join(
        f"(CASE WHEN {_plane_dot_sql(p)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(LSH_PLANES)
    )
    return f"({terms})"


def lsh_bucket(emb: Column) -> Column:
    """Random-hyperplane signature: bit i = sign(emb · plane_i).  Exact
    decimal dots make the sign decision bit-identical across engines."""
    bucket = None
    for i, plane in enumerate(LSH_PLANES):
        plane_col = F.array(*[F.lit(x) for x in plane])
        term = F.when(dot_exact(emb, plane_col) > 0, 1 << i).otherwise(0)
        bucket = term if bucket is None else bucket + term
    return bucket.cast("int")


@register(
    "similarity_lsh_bucketed_topk",
    oracle=f"""
    WITH {_V_CTE},
    n AS (
        SELECT vec_id, emb,
               sqrt(CAST(list_aggregate(
                   list_transform(range(1, 65),
                                  i -> CAST(emb[i] * emb[i] AS DECIMAL(18,12))),
                   'sum') AS DOUBLE)) AS nrm,
               {_bucket_sql()} AS bucket
        FROM v
    ),
    pairs AS (
        SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, q.bucket AS bucket,
               CAST(list_aggregate(
                   list_transform(range(1, 65),
                                  i -> CAST(q.emb[i] * d.emb[i] AS DECIMAL(18,12))),
                   'sum') AS DOUBLE) / (q.nrm * d.nrm) AS cosine
        FROM n q
        JOIN n d ON d.bucket = q.bucket AND d.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, bucket, cosine
    FROM (
        SELECT *,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rn
        FROM pairs
    )
    WHERE rn <= 10
    """,
    tags=("similarity", "scale"),
)
def similarity_lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k with random-hyperplane LSH pre-filtering: candidates are
    only vectors in the query's bucket (16 buckets from 4 planes), then
    exact cosine re-ranking within the bucket.

    Scale: the bucket join replaces the brute-force cross join — the
    corpus shuffles once on bucket id and each query only scores ~1/2^P
    of it.  More planes → smaller buckets → cheaper-but-lossier; the
    production knob is (planes, multi-probe count)."""
    n = _embeddings(spark, sf_dir).withColumn(
        "bucket", lsh_bucket(F.col("emb"))
    )
    queries = _queries(n, "emb", "nrm", "bucket")
    pairs = (
        n.join(
            F.broadcast(queries),
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("bucket"),
            cosine_exact(
                F.col("q_emb"), F.col("emb"), F.col("q_nrm"), F.col("nrm")
            ).alias("cosine"),
        )
    )
    return _top_k(pairs, 10, F.col("cosine").desc()).select(
        "query_id", "neighbor_id", "bucket", "cosine"
    )


# ---------------------------------------------------------------------------
# IVF-style ANN (coarse quantization + probed search)
# ---------------------------------------------------------------------------


def _cell_score_sql(centroid: list[float]) -> str:
    """-2*x·c + ||c||^2 — monotone in squared L2 distance to the centroid
    (||x||^2 is constant per row, so it cancels in the argmin)."""
    sq = sum(v * v for v in centroid)
    return f"(-2.0 * {_plane_dot_sql(centroid)} + {sq!r})"


def _argmin_cell_sql() -> str:
    # The argmin cell is the first element of the sorted (score, cell)
    # list — same expression family as the probe list, and avoids a
    # correlated scalar subquery (DuckDB can't correlate into a derived
    # table).
    return f"CAST(({_probe_cells_sql()})[1] AS INT)"


def _centroids_lit() -> Column:
    """The whole centroid table as ONE nested-array literal.  Per-centroid
    F.array(*[F.lit(x) ...]) scatters 8x64 Literal nodes through the tree
    and Python-side Column construction + Catalyst analysis dominate the
    query (~2.5 s of a 3.3 s run at sf0.1); a single array<array<double>>
    literal collapses that to one node (measured: build+analyze 1.3 s →
    0.4 s).  The same pattern is how any model constant (codebook,
    vocabulary, quantizer) should enter a plan at scale."""
    return F.lit([[float(x) for x in c] for c in IVF_CENTROIDS])


def _centroid_sq_lit() -> Column:
    return F.lit([float(sum(v * v for v in c)) for c in IVF_CENTROIDS])


def centroid_scores(emb: Column) -> Column:
    """array<double>: -2*x·c + ||c||² per centroid (monotone in squared
    L2; ||x||² cancels in the argmin)."""
    return F.zip_with(
        _centroids_lit(),
        _centroid_sq_lit(),
        lambda c, sq: F.lit(-2.0) * dot_exact(emb, c) + sq,
    )


def probe_cells(emb: Column, nprobe: int) -> Column:
    """First `nprobe` cell ids by ascending (score, cell-index) — the
    sorted-struct formulation both engines share (struct sort is
    lexicographic by field order, so ties resolve to the lowest index).
    Each centroid score is evaluated exactly once per row."""
    structs = F.zip_with(
        centroid_scores(emb),
        F.sequence(F.lit(0), F.lit(_N_CELLS - 1)),
        lambda s, i: F.struct(s.alias("s"), i.alias("c")),
    )
    return F.slice(F.transform(F.array_sort(structs), lambda x: x["c"]), 1, nprobe)


def ivf_cell(emb: Column) -> Column:
    """Nearest-centroid assignment (deterministic: exact decimal dots;
    ties resolve to the lowest cell index on both engines)."""
    return F.element_at(probe_cells(emb, 1), 1).cast("int")


def _probe_cells_sql(nprobe: int = IVF_NPROBE) -> str:
    """The query's first `nprobe` cells by ascending (score, index)."""
    scores = [_cell_score_sql(c) for c in IVF_CENTROIDS]
    arr = "[" + ", ".join(scores) + "]"
    # Plain list_sort: DuckDB (and Spark array_sort) order structs
    # lexicographically by field order — (s, c) gives the score order with
    # the cell index as deterministic tie-break.
    return (
        f"list_slice(list_transform(list_sort(list_transform(range(1, 9), "
        f"j -> {{'s': ({arr})[j], 'c': j - 1}})), x -> x.c), 1, {nprobe})"
    )


def _ivf_assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, emb, nrm, cell): the IVF index — every vector with its
    nearest-centroid cell."""
    return _embeddings(spark, sf_dir).withColumn(
        "cell", ivf_cell(F.col("emb"))
    )


def _probes(assigned: DataFrame, nprobe: int = IVF_NPROBE) -> DataFrame:
    """(query_id, q_emb, q_nrm, probe_cell): one row per query and
    probed cell — the query's ``nprobe`` nearest cells."""
    return _queries(assigned, "emb", "nrm").withColumn(
        "probe_cell", F.explode(probe_cells(F.col("q_emb"), nprobe))
    )


def _probe_candidates(assigned: DataFrame, probes: DataFrame) -> DataFrame:
    """The IVF candidate rule: every vector in a probed cell of the query,
    the query itself excluded.  The probe list is broadcast and joins the
    corpus on cell id, so the corpus never shuffles."""
    return assigned.join(
        F.broadcast(probes),
        (F.col("cell") == F.col("probe_cell"))
        & (F.col("vec_id") != F.col("query_id")),
    )


#: IVF-probed top-10 oracle — module constant for the same reason.
IVF_TOPK_ORACLE = f"""
    WITH {_V_CTE},
    assigned AS (
        SELECT vec_id, emb,
               sqrt(CAST(list_aggregate(
                   list_transform(range(1, 65),
                                  i -> CAST(emb[i] * emb[i] AS DECIMAL(18,12))),
                   'sum') AS DOUBLE)) AS nrm,
               {_argmin_cell_sql()} AS cell
        FROM v
    ),
    probes AS (
        SELECT vec_id AS query_id, emb AS q_emb, nrm AS q_nrm,
               unnest({_probe_cells_sql()}) AS probe_cell
        FROM assigned
        WHERE vec_id < {N_QUERIES}
    ),
    pairs AS (
        SELECT p.query_id, d.vec_id AS neighbor_id, d.cell AS cell,
               CAST(list_aggregate(
                   list_transform(range(1, 65),
                                  i -> CAST(p.q_emb[i] * d.emb[i] AS DECIMAL(18,12))),
                   'sum') AS DOUBLE) / (p.q_nrm * d.nrm) AS cosine
        FROM probes p
        JOIN assigned d ON d.cell = p.probe_cell AND d.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cell, cosine
    FROM (
        SELECT *,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rn
        FROM pairs
    )
    WHERE rn <= 10
    """


@register(
    "similarity_ivf_probed_topk",
    oracle=IVF_TOPK_ORACLE,
    tags=("similarity", "scale"),
)
def similarity_ivf_probed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: corpus coarse-quantized to 8 cells (nearest of 8
    fixed centroids — stand-ins for trained k-means); each query probes
    its nprobe=2 nearest cells and re-ranks exactly within them.

    Scale: the index assignment is one narrow pass; search touches
    ~nprobe/8 of the corpus per query via an equi-join on cell id —
    the same plan shape as a real IVF index where cells are also the
    physical partitioning (cluster-prunable scan)."""
    assigned = _ivf_assigned(spark, sf_dir)
    # nprobe=2: argmin cell + runner-up, same sorted-struct expression
    # family as the assignment.
    pairs = _probe_candidates(assigned, _probes(assigned)).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        cosine_exact(
            F.col("q_emb"), F.col("emb"), F.col("q_nrm"), F.col("nrm")
        ).alias("cosine"),
    )
    return _top_k(pairs, 10, F.col("cosine").desc()).select(
        "query_id", "neighbor_id", "cell", "cosine"
    )


@register(
    "embedding_int8_quantize_audit",
    oracle=f"""
    WITH {_V_CTE},
    scaled AS (
        SELECT vec_id, emb,
               list_aggregate(list_transform(emb, x -> abs(x)), 'max')
                   AS amax
        FROM v
    ),
    coded AS (
        SELECT vec_id, amax,
               CASE WHEN amax = 0 THEN list_transform(emb, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(emb, x ->
                        CAST(floor(x / (amax / 127)) AS BIGINT))
               END AS codes,
               CASE WHEN amax = 0 THEN
                        list_transform(emb, x -> CAST(0 AS DECIMAL(18,12)))
                    ELSE list_transform(emb, x ->
                        CAST(abs(x - floor(x / (amax / 127)) * (amax / 127))
                             AS DECIMAL(18,12)))
               END AS errs
        FROM scaled
    )
    SELECT vec_id, amax,
           CAST(list_aggregate(codes, 'min') AS BIGINT) AS code_min,
           CAST(list_aggregate(codes, 'max') AS BIGINT) AS code_max,
           CAST(len(list_filter(codes, c -> c = 0)) AS BIGINT) AS n_zero,
           CAST(list_aggregate(errs, 'sum') AS DOUBLE) AS sum_abs_err
    FROM coded
    """,
    tags=("embeddings", "quantization"),
)
def embedding_int8_quantize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization audit — the compression step an ANN/vector
    store applies before indexing (4x memory cut vs float32): symmetric
    per-vector scale amax/127, codes = floor(x/scale), per-vector audit of
    code range, dead (zero) codes, and total absolute reconstruction
    error.  floor (not round) keeps the code frontier bit-exact across
    engines — IEEE division and floor are correctly-rounded everywhere,
    while round-half ties differ by rounding mode; the error sum is
    decimal-quantized per term, so order-independent.  All-zero vectors
    quantize to all-zero codes with zero error (the amax=0 guard).

    Scale: narrow per-vector expression chain over the scan (zero
    shuffle, codegen) — quantization runs at scan speed and downstream
    ANN operators move 64 bytes/vector instead of 256."""
    emb = _embeddings(spark, sf_dir)
    amax = F.array_max(F.transform(F.col("emb"), F.abs))
    scaled = emb.withColumn("amax", amax)
    scale = F.col("amax") / F.lit(127.0)
    code = lambda x: F.floor(x / scale).cast("bigint")  # noqa: E731
    zero_codes = F.transform(F.col("emb"), lambda x: F.lit(0).cast("bigint"))
    codes = F.when(F.col("amax") == 0, zero_codes).otherwise(
        F.transform(F.col("emb"), code)
    )
    # floor() evaluated once per element: errors reconstruct from the
    # CODES array (zip_with) instead of re-deriving floor(x/scale).  The
    # amax=0 branch needs no error guard — all elements are 0 there, and
    # 0 - 0*(0/127) = 0 with no division anywhere in the formula.
    coded = scaled.select("vec_id", "amax", codes.alias("codes"), "emb")
    errs = F.zip_with(
        F.col("emb"),
        F.col("codes"),
        lambda x, c: F.abs(x - c.cast("double") * scale).cast(_DEC),
    )
    return coded.select(
        "vec_id",
        "amax",
        F.array_min("codes").cast("bigint").alias("code_min"),
        F.array_max("codes").cast("bigint").alias("code_max"),
        F.size(F.filter("codes", lambda c: c == 0)).cast("bigint").alias("n_zero"),
        F.aggregate(
            errs, F.lit(0).cast(_DEC), lambda a, x: (a + x).cast(_DEC)
        ).cast("double").alias("sum_abs_err"),
    )


#: Product-quantization geometry: 64-d vectors split into 4 sub-spaces of
#: 16 dims; each sub-space has an 8-entry codebook — TRAINED per-sub-space
#: k-means output from tools/train_codebooks.py (pinned literals in
#: _codebooks.py, reproduction-tested), embedded identically in the Spark
#: plan and the oracle SQL.
PQ_M = 4
PQ_SUBDIM = 16
PQ_K = 8
PQ_TOPK = 5

#: Oracle CTE fragment: the PQ sub-vector split.  Expects an upstream
#: CTE ``v(vec_id, emb)``.
_PQ_SUB_CTE = f"""sub AS (
        SELECT vec_id, m,
               list_slice(emb, m * {PQ_SUBDIM} + 1,
                          m * {PQ_SUBDIM} + {PQ_SUBDIM}) AS s
        FROM v, unnest(generate_series(0, {PQ_M - 1})) u(m)
    )"""


def _cb_values_sql(codebooks: list[list[list[float]]]) -> str:
    """A trained codebook as a VALUES literal: (m, j, c) rows."""
    rows = ", ".join(
        f"({m}, {j}, [{', '.join(repr(x) for x in codebooks[m][j])}])"
        for m in range(len(codebooks))
        for j in range(len(codebooks[m]))
    )
    return f"SELECT * FROM (VALUES {rows}) t(m, j, c)"


def _pq_encode_ctes(codebooks: list[list[list[float]]]) -> str:
    """Oracle CTE block — codebook literal and nearest-code assignment.
    Expects an upstream ``sub`` CTE.  Single source of truth for the
    encode frontier: the PQ, IVF+PQ, OPQ, and residual-PQ operators all
    interpolate this, so a tie-break or quantization change can never
    drift between them."""
    return f"""cb AS (
        {_cb_values_sql(codebooks)}
    ),
    d0 AS (
        SELECT s.vec_id, s.m, c.j,
               list_aggregate(list_transform(range(1, {PQ_SUBDIM + 1}),
                   i -> CAST((s.s[i] - c.c[i]) * (s.s[i] - c.c[i])
                             AS DECIMAL(18,12))), 'sum') AS dist2
        FROM sub s JOIN cb c ON c.m = s.m
    ),
    asn AS (
        SELECT vec_id, m, j AS code FROM (
            SELECT vec_id, m, j,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY dist2, j) AS rn
            FROM d0
        ) WHERE rn = 1
    )"""


_PQ_LUT_CTE = f"""lut AS (
        SELECT q.vec_id AS query_id, c.m, c.j,
               list_aggregate(list_transform(range(1, {PQ_SUBDIM + 1}),
                   i -> CAST((q.s[i] - c.c[i]) * (q.s[i] - c.c[i])
                             AS DECIMAL(18,12))), 'sum') AS ddec
        FROM sub q JOIN cb c ON c.m = q.m
        WHERE q.vec_id < {N_QUERIES}
    )"""


def _pq_core_ctes(codebooks: list[list[list[float]]]) -> str:
    """Encode block plus the queries' whole-vector ADC lookup table."""
    return f"""{_pq_encode_ctes(codebooks)},
    {_PQ_LUT_CTE}"""


_PQ_CTES = f"""{_PQ_SUB_CTE},
    {_pq_core_ctes(PQ_CODEBOOKS)}"""


def _pq_sub(emb_df: DataFrame, *keys: str) -> DataFrame:
    """(keys..., m, s): each ``emb`` split into its PQ_M sub-vectors."""
    return emb_df.select(
        *keys,
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("emb"), m * PQ_SUBDIM + 1, PQ_SUBDIM)
                    for m in range(PQ_M)
                ]
            )
        ).alias("m", "s"),
    )


def _pq_codebook(
    spark: SparkSession, codebooks: list[list[list[float]]] | None = None
) -> DataFrame:
    """(cm, j, c): the trained per-sub-space codebooks as a local
    relation — the Spark twin of _cb_values_sql.  32 rows; always
    broadcast at the join."""
    codebooks = codebooks if codebooks is not None else PQ_CODEBOOKS
    return spark.createDataFrame(
        [
            (m, j, [float(x) for x in codebooks[m][j]])
            for m in range(len(codebooks))
            for j in range(len(codebooks[m]))
        ],
        "cm int, j int, c array<double>",
    )


def _pq_codes(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, code): nearest-codebook-entry assignment per sub-space
    (broadcast codebook, exact decimal distance, ties to lowest j)."""
    d = sub.join(F.broadcast(cb), F.col("m") == F.col("cm")).select(
        "vec_id", "m", "j", dist2_exact(F.col("s"), F.col("c")).alias("dist2")
    )
    return _top_k(d, 1, "dist2", tie="j", by=("vec_id", "m")).select(
        "vec_id", "m", F.col("j").alias("code")
    )


def _pq_lut(sub: DataFrame, cb: DataFrame) -> DataFrame:
    """(lq, lm, j, ddec): each query's ADC lookup table — its exact
    decimal sub-distance to every codebook entry."""
    return (
        _queries(sub, "m", "s")
        .join(F.broadcast(cb), F.col("q_m") == F.col("cm"))
        .select(
            F.col("query_id").alias("lq"),
            F.col("q_m").alias("lm"),
            "j",
            dist2_exact(F.col("q_s"), F.col("c")).alias("ddec"),
        )
    )


@register(
    "similarity_pq_adc_topk",
    oracle=f"""
    WITH {_V_CTE},
    {_PQ_CTES},
    cand AS (
        SELECT l.query_id, a.vec_id AS neighbor_id,
               SUM(l.ddec) AS adist
        FROM asn a JOIN lut l ON l.m = a.m AND l.j = a.code
        WHERE a.vec_id <> l.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, CAST(adist AS DOUBLE) AS approx_dist2
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM cand
    )
    WHERE rn <= {PQ_TOPK}
    """,
    tags=("similarity", "quantization"),
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., the vector-store
    compression standard): vectors are encoded as PQ_M codebook indices
    (one byte per sub-space — 4 bytes/vector vs 256 for float32), and
    queries rank candidates with Asymmetric Distance Computation: a
    query×codebook lookup table of PQ_M×PQ_K exact sub-distances, summed
    along each candidate's code word — the corpus's raw floats are never
    touched at query time.  Codebooks are TRAINED per-sub-space
    k-means output (tools/train_codebooks.py, pinned + reproduction-
    tested in _codebooks.py), embedded as identical literals in the
    Spark plan and the oracle.  Exact
    decimal sub-distances make encode and rank frontiers bit-identical
    across engines; ties break on neighbor_id.

    Scale: encoding is the broadcast-codebook assignment pattern (PQ_M
    small joins, vectors never shuffle); query-time state is the code
    table (4 bytes/vector) plus a PQ_M×PQ_K LUT per query — the ADC join
    is an equi-join on (sub-space, code), i.e. at 100 TB the ranking
    never reads the embedding column at all.  This is the memory-bound →
    compute-bound trade every billion-vector ANN service makes."""
    return _adc_topk(spark, _embeddings(spark, sf_dir), PQ_CODEBOOKS)


def _ivfpq_adc(spark: SparkSession, sf_dir: str):
    """Stage-1 of the IVF+PQ search, shared by similarity_ivfpq_topk and
    the two-stage reranker (mirror of the shared _IVFPQ_ADC_CTES oracle
    prefix): returns (emb, adc) where adc holds every cell-probed
    candidate with its ADC approximate squared distance."""
    emb = _ivf_assigned(spark, sf_dir)
    sub = _pq_sub(emb, "vec_id")
    cb = _pq_codebook(spark)
    asn = _pq_codes(sub, cb)
    lut = _pq_lut(sub, cb)
    cand = _probe_candidates(emb, _probes(emb)).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "cell"
    )
    adc = (
        cand.join(asn, F.col("neighbor_id") == asn.vec_id)
        .join(
            F.broadcast(lut),
            (F.col("lq") == F.col("query_id"))
            & (F.col("lm") == F.col("m"))
            & (F.col("j") == F.col("code")),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.any_value(F.col("cell")).alias("cell"),
            F.sum("ddec").alias("adist"),
        )
    )
    return emb, adc


#: The IVF+PQ candidate-and-ADC oracle prefix (CTEs v .. adc) — shared
#: verbatim by similarity_ivfpq_topk and the two-stage reranker so the
#: stage-1 semantics cannot drift between them.
_IVFPQ_ADC_CTES = f"""{_V_CTE},
    assigned AS (
        SELECT vec_id, {_argmin_cell_sql()} AS cell FROM v
    ),
    {_PQ_CTES},
    probes AS (
        SELECT vec_id AS query_id, unnest({_probe_cells_sql()}) AS probe_cell
        FROM v WHERE vec_id < {N_QUERIES}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, a.cell
        FROM probes p
        JOIN assigned a ON a.cell = p.probe_cell AND a.vec_id <> p.query_id
    ),
    adc AS (
        SELECT c.query_id, c.neighbor_id, any_value(c.cell) AS cell,
               SUM(l.ddec) AS adist
        FROM cand c
        JOIN asn s ON s.vec_id = c.neighbor_id
        JOIN lut l ON l.query_id = c.query_id AND l.m = s.m AND l.j = s.code
        GROUP BY 1, 2
    )"""


@register(
    "similarity_ivfpq_topk",
    oracle=f"""
    WITH {_IVFPQ_ADC_CTES}
    SELECT query_id, neighbor_id, cell,
           CAST(adist AS DOUBLE) AS approx_dist2
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM adc
    )
    WHERE rn <= {PQ_TOPK}
    """,
    tags=("similarity", "quantization", "scale"),
)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ — the billion-vector index layout (FAISS's IVFPQ): the
    coarse quantizer prunes the SEARCH SPACE (each query probes its
    nprobe=2 nearest of 8 cells) and product quantization compresses the
    RESIDENT DATA (candidates are ranked by 4-byte code words against the
    query's ADC lookup table, never their raw floats).  Composes the two
    registered single-technique operators: similarity_ivf_probed_topk's
    cell probe and similarity_pq_adc_topk's ADC kernel, sharing their
    exact-decimal determinism end to end.

    Scale: the two index structures cut orthogonal costs — IVF makes
    per-query work O(corpus·nprobe/cells), PQ makes per-candidate state
    4 bytes — which is why the composition, not either alone, is what
    serves at 10⁹ vectors: cells bound the candidate JOIN, codes bound
    the candidate BYTES.  Both joins are broadcast/equi-joins (cell id;
    (sub-space, code)); the corpus embedding column is read exactly once
    at index-build time."""
    _, adc = _ivfpq_adc(spark, sf_dir)
    return _top_k(adc, PQ_TOPK, "adist").select(
        "query_id",
        "neighbor_id",
        "cell",
        F.col("adist").cast("double").alias("approx_dist2"),
    )


def _adc_topk(
    spark: SparkSession, v: DataFrame, codebooks: list[list[list[float]]]
) -> DataFrame:
    """Plain (unpruned) PQ search over ``v`` (vec_id, emb): encode every
    vector against ``codebooks``, build the queries' lookup tables, sum
    each candidate's per-sub-space LUT entries along its code word, and
    keep the PQ_TOPK nearest per query (ties to lowest neighbor_id).
    The whole of similarity_pq_adc_topk and the OPQ operator after its
    permutation; the IVF-pruned variants fold the same join into their
    cell-candidate frames."""
    sub = _pq_sub(v, "vec_id")
    cb = _pq_codebook(spark, codebooks)
    asn = _pq_codes(sub, cb)
    lut = _pq_lut(sub, cb)
    cand = (
        asn.join(
            F.broadcast(lut),
            (F.col("lm") == F.col("m")) & (F.col("j") == F.col("code")),
        )
        .filter(F.col("vec_id") != F.col("lq"))
        .groupBy(
            F.col("lq").alias("query_id"), F.col("vec_id").alias("neighbor_id")
        )
        .agg(F.sum("ddec").alias("adist"))
    )
    return _top_k(cand, PQ_TOPK, "adist").select(
        "query_id",
        "neighbor_id",
        F.col("adist").cast("double").alias("approx_dist2"),
    )


_OPQ_ORDER = [d for _dims in OPQ_DIM_ALLOC for d in _dims]


def _opq_gather_sql() -> str:
    """The OPQ dimension allocation as a DuckDB gather literal."""
    return "[" + ", ".join(f"emb[{d + 1}]" for d in _OPQ_ORDER) + "]"


def opq_permute(emb: Column) -> Column:
    """Gather the embedding's dims in OPQ allocation order, so the plain
    contiguous sub-vector split downstream realizes the allocation."""
    return F.array(*[emb[d] for d in _OPQ_ORDER])


@register(
    "similarity_opq_rotated_pq_topk",
    oracle=f"""
    WITH v0 AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        FROM embeddings
    ),
    v AS (
        SELECT vec_id, {_opq_gather_sql()} AS emb FROM v0
    ),
    {_PQ_SUB_CTE},
    {_pq_core_ctes(OPQ_CODEBOOKS)},
    cand AS (
        SELECT l.query_id, a.vec_id AS neighbor_id,
               SUM(l.ddec) AS adist
        FROM asn a JOIN lut l ON l.m = a.m AND l.j = a.code
        WHERE a.vec_id <> l.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, CAST(adist AS DOUBLE) AS approx_dist2
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM cand
    )
    WHERE rn <= {PQ_TOPK}
    """,
    tags=("similarity", "quantization"),
)
def similarity_opq_rotated_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPQ-rotated product quantization (Ge et al. 2014, CVPR — FAISS's
    OPQ pre-transform): apply an orthogonal transform BEFORE the PQ
    sub-vector split so the sub-spaces carry balanced information, then
    encode/rank exactly as similarity_pq_adc_topk.  The transform here is
    the paper's permutation-restricted variant — the trainer ranks dims
    by total energy (exact decimal Σx²) and deals them to sub-spaces in
    snake order (tools/train_codebooks.opq_dim_allocation), and the
    codebooks are re-trained in the permuted space (OPQ_CODEBOOKS).  A
    permutation is an orthogonal matrix that both engines can apply
    EXACTLY (a gather, no float multiply), which a dense learned rotation
    could not guarantee bit-identical — distances in the permuted space
    equal raw-space distances exactly, so ADC error comes only from
    quantization, now spread evenly across sub-spaces.

    Scale: the gather is free (narrow projection, codegen); everything
    downstream is byte-identical in cost to plain PQ-ADC — same 4-byte
    codes, same broadcast LUT join.  OPQ is how a production index buys
    recall at zero query-time cost."""
    v = _embeddings(spark, sf_dir).select(
        "vec_id", opq_permute(F.col("emb")).alias("emb")
    )
    return _adc_topk(spark, v, OPQ_CODEBOOKS)


def _cents_values_sql() -> str:
    """The trained IVF centroids as a VALUES literal: (cell, cvec)."""
    rows = ", ".join(
        f"({i}, [{', '.join(repr(float(x)) for x in c)}])"
        for i, c in enumerate(IVF_CENTROIDS)
    )
    return f"SELECT * FROM (VALUES {rows}) t(cell, cvec)"


@register(
    "similarity_residual_pq_topk",
    oracle=f"""
    WITH {_V_CTE},
    cents AS (
        {_cents_values_sql()}
    ),
    assigned AS (
        SELECT vec_id, emb, {_argmin_cell_sql()} AS cell FROM v
    ),
    r AS (
        SELECT a.vec_id,
               list_transform(range(1, 65),
                              i -> a.emb[i] - c.cvec[i]) AS emb
        FROM assigned a JOIN cents c ON c.cell = a.cell
    ),
    sub AS (
        SELECT vec_id, m,
               list_slice(emb, m * {PQ_SUBDIM} + 1,
                          m * {PQ_SUBDIM} + {PQ_SUBDIM}) AS s
        FROM r, unnest(generate_series(0, {PQ_M - 1})) u(m)
    ),
    {_pq_encode_ctes(RPQ_CODEBOOKS)},
    probes AS (
        SELECT vec_id AS query_id, emb AS q_emb,
               unnest({_probe_cells_sql()}) AS probe_cell
        FROM v WHERE vec_id < {N_QUERIES}
    ),
    qres AS (
        SELECT p.query_id, p.probe_cell,
               list_transform(range(1, 65),
                              i -> p.q_emb[i] - c.cvec[i]) AS emb
        FROM probes p JOIN cents c ON c.cell = p.probe_cell
    ),
    qsub AS (
        SELECT query_id, probe_cell, m,
               list_slice(emb, m * {PQ_SUBDIM} + 1,
                          m * {PQ_SUBDIM} + {PQ_SUBDIM}) AS s
        FROM qres, unnest(generate_series(0, {PQ_M - 1})) u(m)
    ),
    lut AS (
        SELECT q.query_id, q.probe_cell, c.m, c.j,
               list_aggregate(list_transform(range(1, {PQ_SUBDIM + 1}),
                   i -> CAST((q.s[i] - c.c[i]) * (q.s[i] - c.c[i])
                             AS DECIMAL(18,12))), 'sum') AS ddec
        FROM qsub q JOIN cb c ON c.m = q.m
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, a.cell
        FROM probes p
        JOIN assigned a ON a.cell = p.probe_cell AND a.vec_id <> p.query_id
    ),
    adc AS (
        SELECT c.query_id, c.neighbor_id, any_value(c.cell) AS cell,
               SUM(l.ddec) AS adist
        FROM cand c
        JOIN asn s ON s.vec_id = c.neighbor_id
        JOIN lut l ON l.query_id = c.query_id AND l.probe_cell = c.cell
                  AND l.m = s.m AND l.j = s.code
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, cell,
           CAST(adist AS DOUBLE) AS approx_dist2
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM adc
    )
    WHERE rn <= {PQ_TOPK}
    """,
    tags=("similarity", "quantization", "scale"),
)
def similarity_residual_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual (two-level) product quantization — FAISS IVFPQ's
    encode_residual layout: level 1 is the trained coarse quantizer
    (each vector's cell centroid), level 2 PQ-encodes the RESIDUAL
    x − c_cell with codebooks trained on residuals (RPQ_CODEBOOKS).
    Residuals are far smaller in magnitude than raw vectors, so the same
    4-byte code budget quantizes a tighter distribution — the standard
    recall win over raw-vector IVFPQ.  Queries probe nprobe cells and
    build ONE ADC LUT PER PROBED CELL (the query's residual differs per
    cell), then candidates in a cell rank against that cell's LUT; all
    arithmetic is the shared exact-decimal kernel, ties to lowest
    neighbor_id.

    Scale: identical join shape to similarity_ivfpq_topk — cells bound
    the candidate JOIN, codes bound the candidate BYTES — plus an
    nprobe× LUT cost per query (PQ_M×PQ_K×nprobe entries, still
    broadcastable at millions of queries).  The residual subtraction is
    a narrow zip_with at encode time; the corpus floats are read once,
    at index build."""
    cents_lit = _centroids_lit()
    assigned = _ivf_assigned(spark, sf_dir)
    r = assigned.select(
        "vec_id",
        F.zip_with(
            F.col("emb"),
            F.element_at(cents_lit, F.col("cell") + 1),
            lambda x, c: x - c,
        ).alias("emb"),
    )
    sub = _pq_sub(r, "vec_id")
    cb = _pq_codebook(spark, RPQ_CODEBOOKS)
    asn = _pq_codes(sub, cb)
    probes = _probes(assigned)
    qres = probes.select(
        "query_id",
        "probe_cell",
        F.zip_with(
            F.col("q_emb"),
            F.element_at(cents_lit, F.col("probe_cell") + 1),
            lambda x, c: x - c,
        ).alias("emb"),
    )
    qsub = _pq_sub(qres, "query_id", "probe_cell")
    lut = qsub.join(F.broadcast(cb), F.col("m") == F.col("cm")).select(
        F.col("query_id").alias("lq"),
        F.col("probe_cell").alias("lcell"),
        F.col("m").alias("lm"),
        "j",
        dist2_exact(F.col("s"), F.col("c")).alias("ddec"),
    )
    cand = _probe_candidates(assigned, probes).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "cell"
    )
    adc = (
        cand.join(asn, F.col("neighbor_id") == asn.vec_id)
        .join(
            F.broadcast(lut),
            (F.col("lq") == F.col("query_id"))
            & (F.col("lcell") == F.col("cell"))
            & (F.col("lm") == F.col("m"))
            & (F.col("j") == F.col("code")),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(
            F.any_value(F.col("cell")).alias("cell"),
            F.sum("ddec").alias("adist"),
        )
    )
    return _top_k(adc, PQ_TOPK, "adist").select(
        "query_id",
        "neighbor_id",
        "cell",
        F.col("adist").cast("double").alias("approx_dist2"),
    )


#: Stage-1 shortlist width for the two-stage reranker: top-20 by ADC
#: enter the exact rerank, top PQ_TOPK leave it.
RERANK_SHORTLIST = 20


@register(
    "similarity_rerank_two_stage",
    oracle=f"""
    WITH {_IVFPQ_ADC_CTES},
    short AS (
        SELECT query_id, neighbor_id, adist
        FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY adist, neighbor_id) AS rn
            FROM adc
        )
        WHERE rn <= {RERANK_SHORTLIST}
    ),
    rer AS (
        SELECT s.query_id, s.neighbor_id, s.adist,
               list_aggregate(
                   list_transform(range(1, 65),
                       i -> CAST((q.emb[i] - d.emb[i]) * (q.emb[i] - d.emb[i])
                                 AS DECIMAL(18,12))),
                   'sum') AS ed
        FROM short s
        JOIN v q ON q.vec_id = s.query_id
        JOIN v d ON d.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id,
           CAST(ed AS DOUBLE) AS exact_dist2,
           CAST(adist AS DOUBLE) AS approx_dist2
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY ed, neighbor_id) AS rn
        FROM rer
    )
    WHERE rn <= {PQ_TOPK}
    """,
    tags=("similarity", "rerank", "scale"),
)
def similarity_rerank_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval — the production search architecture
    (bi-encoder ANN retrieve, then exact/cross-encoder rerank): stage 1
    is the IVF+PQ index (shared verbatim with similarity_ivfpq_topk via
    _ivfpq_adc / _IVFPQ_ADC_CTES) producing a top-{RERANK_SHORTLIST}
    shortlist per query by 4-byte-code ADC distance; stage 2 re-scores
    ONLY the shortlist against the raw 64-d vectors with the exact
    decimal kernel and emits the final top-{PQ_TOPK} by true squared
    L2.  Both distances are emitted so the audit shows what the rerank
    corrected.  Swapping the exact kernel for a cross-encoder model
    score is a column substitution — the shortlist-then-rescore
    dataflow is the deliverable.

    Scale: this is WHY two stages exist — the expensive scorer touches
    shortlist x queries rows (hundreds), never corpus x queries; the
    corpus's raw vectors are fetched for the shortlist by a broadcast
    semi-join (shortlist ids are tiny), so the full-vector column is
    read but never shuffled, and stage 1's costs are the IVF+PQ
    operator's own (cells bound the join, codes bound the bytes)."""
    emb, adc = _ivfpq_adc(spark, sf_dir)
    short = _top_k(adc, RERANK_SHORTLIST, "adist").select(
        "query_id", "neighbor_id", "adist"
    )
    nbr = emb.join(
        F.broadcast(short), emb.vec_id == F.col("neighbor_id")
    ).select("query_id", "neighbor_id", "adist", F.col("emb").alias("n_emb"))
    rer = nbr.join(F.broadcast(_queries(emb, "emb")), "query_id").select(
        "query_id",
        "neighbor_id",
        "adist",
        dist2_exact(F.col("q_emb"), F.col("n_emb")).alias("ed"),
    )
    return _top_k(rer, PQ_TOPK, "ed").select(
        "query_id",
        "neighbor_id",
        F.col("ed").cast("double").alias("exact_dist2"),
        F.col("adist").cast("double").alias("approx_dist2"),
    )


# ---------------------------------------------------------------------------
# Binary (sign) quantization + Hamming shortlist + exact rerank
# ---------------------------------------------------------------------------

#: Stage-1 shortlist depth and final top-k of the binary-hamming ANN.
HAMMING_SHORTLIST = 20
HAMMING_TOPK = 5


def _sign_pack(col: Column, half: int) -> Column:
    """Pack dims [half*32, half*32+32) sign bits into one BIGINT
    (bit i set iff the component is >= 0)."""
    acc: Column = F.lit(0).cast("bigint")
    for i in range(32):
        acc = acc + F.when(
            F.element_at(col, half * 32 + i + 1) >= 0,
            F.lit(1 << i).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
    return acc


def _sign_pack_sql(var: str, half: int) -> str:
    terms = " + ".join(
        f"CASE WHEN {var}[{half * 32 + i + 1}] >= 0 THEN {1 << i} ELSE 0 END"
        for i in range(32)
    )
    return f"CAST({terms} AS BIGINT)"


@register(
    "similarity_binary_hamming_topk",
    oracle=f"""
    WITH {_V_CTE},
    n AS (
        SELECT vec_id, emb,
               sqrt(CAST(list_aggregate(
                   list_transform(range(1, 65),
                                  i -> CAST(emb[i] * emb[i] AS DECIMAL(18,12))),
                   'sum') AS DOUBLE)) AS nrm
        FROM v
    ),
    packed AS (
        SELECT vec_id, emb, nrm,
               {_sign_pack_sql('emb', 0)} AS b0,
               {_sign_pack_sql('emb', 1)} AS b1
        FROM n
    ),
    ham AS (
        SELECT q.vec_id AS query_id,
               d.vec_id AS neighbor_id,
               CAST(bit_count(xor(q.b0, d.b0))
                    + bit_count(xor(q.b1, d.b1)) AS INT) AS hamming,
               CAST(list_aggregate(
                   list_transform(range(1, 65),
                                  i -> CAST(q.emb[i] * d.emb[i] AS DECIMAL(18,12))),
                   'sum') AS DOUBLE) / (q.nrm * d.nrm) AS cosine
        FROM packed q
        JOIN packed d ON d.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ),
    short AS (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY hamming, neighbor_id) AS hrn
        FROM ham
    )
    SELECT query_id, neighbor_id, hamming, cosine
    FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rn
        FROM short WHERE hrn <= {HAMMING_SHORTLIST}
    )
    WHERE rn <= {HAMMING_TOPK}
    """,
    tags=("similarity", "ann", "binary"),
)
def similarity_binary_hamming_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Binary-quantized ANN (sign hashing / binary codes, Charikar 2002
    SRP at 1 bit per dimension): each 64-d float vector collapses to a
    64-bit sign code packed into two BIGINT halves; stage 1 ranks the
    corpus by Hamming distance ``bit_count(xor)`` — 16 bytes of integer
    state per vector, a 16x memory cut over the floats and the cheapest
    distance a CPU can evaluate — and keeps a 20-deep shortlist; stage 2
    reranks only the survivors with the exact decimal cosine kernel
    (shared with similarity_bruteforce_topk) and emits top-5.  This is
    the third compression point in the engine's ANN family — float
    (bruteforce) / 4-byte PQ codes (ADC) / 2-word binary codes (here) —
    the standard memory-tier ladder of a production vector store.

    Scale: packing is a zero-shuffle codegen expression; stage 1
    broadcasts the 5 packed QUERY codes so the corpus floats never
    shuffle and the scan is integer-only (the float columns aren't even
    read until rerank — column pruning keeps them out of stage 1's
    scan); stage 2 touches shortlist x 64 floats.  The cosine is
    computed ONLY for shortlist survivors — at 100 TB that is the
    entire point (recall floor vs exact ground truth pinned in
    tests/test_round5c_ops.py)."""
    emb = _embeddings(spark, sf_dir)
    packed = emb.select(
        "vec_id",
        _sign_pack(F.col("emb"), 0).alias("b0"),
        _sign_pack(F.col("emb"), 1).alias("b1"),
    )
    ham = (
        packed.crossJoin(F.broadcast(_queries(packed, "b0", "b1")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.col("q_b0").bitwiseXOR(F.col("b0")))
                + F.bit_count(F.col("q_b1").bitwiseXOR(F.col("b1")))
            )
            .cast("int")
            .alias("hamming"),
        )
    )
    short = _top_k(ham, HAMMING_SHORTLIST, "hamming")
    reranked = (
        short.join(
            emb.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        )
        .join(F.broadcast(_queries(emb, "emb", "nrm")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            cosine_exact(
                F.col("q_emb"), F.col("emb"), F.col("q_nrm"), F.col("nrm")
            ).alias("cosine"),
        )
    )
    return _top_k(reranked, HAMMING_TOPK, F.desc("cosine")).select(
        "query_id", "neighbor_id", "hamming", "cosine"
    )


# ---------------------------------------------------------------------------
# ANN evaluation harness: recall-vs-nprobe sweep as a first-class query
# ---------------------------------------------------------------------------

RECALL_SWEEP_NPROBES = (1, 2, 4, 8)
RECALL_TOPK = 10


#: The sweeps' oracle base (CTEs v, assigned, cospairs): the IVF index
#: and the exact query x corpus cosines (the SQL twin of _probe_sweep).
_SWEEP_BASE_CTES = f"""{_V_CTE},
    assigned AS (
        SELECT vec_id, emb,
               sqrt(CAST(list_aggregate(
                   list_transform(range(1, 65),
                                  i -> CAST(emb[i] * emb[i] AS DECIMAL(18,12))),
                   'sum') AS DOUBLE)) AS nrm,
               {_argmin_cell_sql()} AS cell
        FROM v
    ),
    cospairs AS (
        SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
               CAST(list_aggregate(
                   list_transform(range(1, 65),
                                  i -> CAST(q.emb[i] * d.emb[i] AS DECIMAL(18,12))),
                   'sum') AS DOUBLE) / (q.nrm * d.nrm) AS cosine
        FROM assigned q
        JOIN assigned d ON d.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ),"""


def _sweep_ranked_sql(nprobe: int) -> str:
    """Oracle CTEs probes{n} and ranked{n}: one probe budget's
    candidates ranked by exact cosine and counted."""
    return f"""
    probes{nprobe} AS (
        SELECT vec_id AS query_id,
               unnest({_probe_cells_sql(nprobe)}) AS probe_cell
        FROM assigned WHERE vec_id < {N_QUERIES}
    ),
    ranked{nprobe} AS (
        SELECT p.query_id, d.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY p.query_id
                                  ORDER BY cos.cosine DESC, d.vec_id) AS rn,
               count(*) OVER (PARTITION BY p.query_id) AS n_candidates
        FROM probes{nprobe} p
        JOIN assigned d ON d.cell = p.probe_cell AND d.vec_id <> p.query_id
        JOIN cospairs cos ON cos.query_id = p.query_id
                         AND cos.neighbor_id = d.vec_id
    )"""


def _recall_branch_sql(nprobe: int) -> str:
    return _sweep_ranked_sql(nprobe) + f""",
    eval{nprobe} AS (
        SELECT r.query_id,
               {nprobe} AS nprobe,
               max(r.n_candidates) AS n_candidates,
               SUM(CASE WHEN r.rn <= {RECALL_TOPK}
                         AND e.neighbor_id IS NOT NULL
                        THEN 1 ELSE 0 END) AS hits
        FROM ranked{nprobe} r
        LEFT JOIN exact e ON e.query_id = r.query_id
                         AND e.neighbor_id = r.neighbor_id
        GROUP BY r.query_id
    )"""


def _recall_sweep_full_oracle() -> str:
    branches = ",".join(_recall_branch_sql(n) for n in RECALL_SWEEP_NPROBES)
    unions = " UNION ALL ".join(
        f"SELECT query_id, nprobe, n_candidates, hits FROM eval{n}"
        for n in RECALL_SWEEP_NPROBES
    )
    return f"""
    WITH {_SWEEP_BASE_CTES}
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rn
            FROM cospairs
        ) WHERE rn <= {RECALL_TOPK}
    ),
    {branches}
    SELECT CAST(nprobe AS INT) AS nprobe, query_id,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(hits AS DOUBLE) / {RECALL_TOPK} AS recall
    FROM ({unions})
    """


def _probe_sweep(spark: SparkSession, sf_dir: str, score: Column) -> DataFrame:
    """The IVF probe sweep behind the recall and NDCG evals: for each
    nprobe in RECALL_SWEEP_NPROBES, every query's candidates in its
    probed cells ranked by exact cosine (``rn``) and counted
    (``n_candidates``), left-joined to the exact top-RECALL_TOPK
    (``rel`` = RECALL_TOPK + 1 - exact rank, null off that list).  One
    row per (query_id, nprobe) with the ``score`` aggregate."""
    assigned = _ivf_assigned(spark, sf_dir)
    cospairs = _cosine_pairs(assigned)
    exact = _top_k(cospairs, RECALL_TOPK, F.desc("cosine")).select(
        "query_id",
        "neighbor_id",
        (F.lit(RECALL_TOPK) + 1 - F.col("rn")).alias("rel"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    evals = []
    for nprobe in RECALL_SWEEP_NPROBES:
        cands = (
            _probes(assigned, nprobe)
            .select("query_id", "probe_cell")
            .join(
                assigned.select(
                    F.col("vec_id").alias("neighbor_id"),
                    F.col("cell").alias("probe_cell"),
                ),
                "probe_cell",
            )
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id")
        )
        ranked = cands.join(cospairs, ["query_id", "neighbor_id"]).select(
            "query_id",
            "neighbor_id",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1))
            .over(Window.partitionBy("query_id"))
            .alias("n_candidates"),
        )
        evals.append(
            ranked.join(exact, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.lit(nprobe).cast("int").alias("nprobe"),
                F.max("n_candidates").alias("n_candidates"),
                score,
            )
        )
    return functools.reduce(DataFrame.unionByName, evals)


@register(
    "similarity_ann_recall_eval",
    oracle=_recall_sweep_full_oracle(),
    tags=("similarity", "ann", "evaluation"),
)
def similarity_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN evaluation harness as a first-class query: sweep the IVF
    probe budget (nprobe ∈ 1,2,4,8) and report per-query recall@10
    against the exact cosine ground truth plus the candidate count the
    budget paid for — the recall-vs-cost curve an index operator tunes
    nprobe on BEFORE committing a 100 TB build (FAISS ships this sweep
    as a CLI; here it is a query so the curve itself is oracle-checked
    and can run on any corpus sample).  All stages share the engine's
    exact decimal kernels, so recall numbers are bit-identical across
    engines — an evaluation you can regression-pin, not eyeball.

    Scale: ground truth is the brute-force pass (this op runs on an
    evaluation SAMPLE, never the full corpus — the whole point of the
    harness is to extrapolate before the big build); the four probe
    branches share one cell-assigned table and differ only in the
    probe-slice width.  n_candidates growth vs recall growth across the
    sweep IS the operator's output."""
    hits = F.sum(
        F.when(
            (F.col("rn") <= RECALL_TOPK) & F.col("rel").isNotNull(), 1
        ).otherwise(0)
    ).alias("hits")
    return _probe_sweep(spark, sf_dir, hits).select(
        "nprobe",
        "query_id",
        F.col("n_candidates").cast("bigint").alias("n_candidates"),
        (F.col("hits").cast("double") / RECALL_TOPK).alias("recall"),
    )


#: Shortlist depths swept by the rerank-depth evaluation.
RERANK_DEPTHS = (5, 10, 20, 40)


def _rerank_depth_oracle() -> str:
    branches = []
    for L in RERANK_DEPTHS:
        branches.append(f"""
    short{L} AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY adist, neighbor_id) AS rn
            FROM adc
        ) WHERE rn <= {L}
    ),
    final{L} AS (
        SELECT query_id, neighbor_id FROM (
            SELECT s.query_id, s.neighbor_id,
                   row_number() OVER (PARTITION BY s.query_id
                                      ORDER BY e.ed, s.neighbor_id) AS rn
            FROM short{L} s
            JOIN ed e ON e.query_id = s.query_id
                     AND e.neighbor_id = s.neighbor_id
        ) WHERE rn <= {PQ_TOPK}
    ),
    eval{L} AS (
        SELECT f.query_id, {L} AS depth,
               SUM(CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS hits
        FROM final{L} f
        LEFT JOIN gt g ON g.query_id = f.query_id
                      AND g.neighbor_id = f.neighbor_id
        GROUP BY f.query_id
    )""")
        # fall through — branches joined below
    unions = " UNION ALL ".join(
        f"SELECT query_id, depth, hits FROM eval{L}" for L in RERANK_DEPTHS
    )
    return f"""
    WITH {_IVFPQ_ADC_CTES},
    ed AS (
        SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
               list_aggregate(
                   list_transform(range(1, 65),
                       i -> CAST((q.emb[i] - d.emb[i]) * (q.emb[i] - d.emb[i])
                                 AS DECIMAL(18,12))),
                   'sum') AS ed
        FROM v q
        JOIN v d ON d.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    ),
    gt AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY ed, neighbor_id) AS rn
            FROM ed
        ) WHERE rn <= {PQ_TOPK}
    ),
    {",".join(b for b in branches)}
    SELECT CAST(depth AS INT) AS depth, query_id,
           CAST(hits AS BIGINT) AS hits,
           CAST(hits AS DOUBLE) / {PQ_TOPK} AS recall
    FROM ({unions})
    """


@register(
    "similarity_rerank_depth_eval",
    oracle=_rerank_depth_oracle(),
    tags=("similarity", "rerank", "evaluation"),
)
def similarity_rerank_depth_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rerank-depth sweep — the two-stage retriever's tuning knob as an
    oracle-checked curve (completing the evaluation-harness trio with
    the nprobe sweep and the MinHash error audit): for shortlist depths
    L ∈ 5..40, rerank the top-L ADC candidates exactly and measure
    final recall@5 against exact-L2 ground truth.  Deep shortlists pay
    L exact scorings per query for recall the 4-byte codes mis-ranked;
    the curve plateaus at the CANDIDATE-SET recall (what nprobe=2 cell
    pruning admits) — seeing both regimes on one curve is precisely how
    production picks (nprobe, L) pairs before a 100 TB index build.
    Stage 1 is shared verbatim with similarity_ivfpq_topk and the
    two-stage reranker (_ivfpq_adc / _IVFPQ_ADC_CTES).

    Scale: same contract as the other harnesses — ground truth is a
    queries×sample exact pass (5×N, never N²); the four depth branches
    share one ADC table and differ only in a rank cutoff."""
    emb, adc = _ivfpq_adc(spark, sf_dir)
    ed = (
        emb.crossJoin(F.broadcast(_queries(emb, "emb")))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            dist2_exact(F.col("q_emb"), F.col("emb")).alias("ed"),
        )
    )
    gt = (
        _top_k(ed, PQ_TOPK, "ed")
        .select("query_id", "neighbor_id")
        .withColumn("in_gt", F.lit(1))
    )
    ranked_adc = _top_k(adc, max(RERANK_DEPTHS), "adist")
    evals = []
    for L in RERANK_DEPTHS:
        short = ranked_adc.filter(F.col("rn") <= L).select(
            "query_id", "neighbor_id"
        )
        final = _top_k(
            short.join(ed, ["query_id", "neighbor_id"]), PQ_TOPK, "ed"
        ).select("query_id", "neighbor_id")
        evals.append(
            final.join(gt, ["query_id", "neighbor_id"], "left")
            .groupBy("query_id")
            .agg(
                F.lit(L).cast("int").alias("depth"),
                F.sum(
                    F.when(F.col("in_gt").isNotNull(), 1).otherwise(0)
                ).alias("hits"),
            )
        )
    return functools.reduce(DataFrame.unionByName, evals).select(
        "depth",
        "query_id",
        F.col("hits").cast("bigint").alias("hits"),
        (F.col("hits").cast("double") / PQ_TOPK).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Matryoshka (MRL) truncation-depth recall sweep
# ---------------------------------------------------------------------------

#: Prefix depths for the Matryoshka sweep; 64 (full width) is included so
#: the curve provably tops out at recall 1.0 (same identity pin as the
#: nprobe sweep's exhaustive branch).
MATRYOSHKA_DEPTHS = (8, 16, 32, 64)


def _matryoshka_oracle() -> str:
    """Independent dense formulation: one brute-force top-k per depth
    (the engine computes all depths in ONE pass via cumulative decimal
    segment sums — decimal addition is associative, so the two
    formulations are bit-identical)."""
    n_ctes, top_ctes, evals, unions = [], [], [], []
    for d in MATRYOSHKA_DEPTHS:
        n_ctes.append(f"""
    n{d} AS (
        SELECT vec_id, emb,
               sqrt(CAST(list_aggregate(
                   list_transform(range(1, {d + 1}),
                                  i -> CAST(emb[i] * emb[i]
                                            AS DECIMAL(18,12))),
                   'sum') AS DOUBLE)) AS nrm
        FROM v
    )""")
        top_ctes.append(f"""
    top{d} AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY CAST(list_aggregate(
                                    list_transform(
                                        range(1, {d + 1}),
                                        i -> CAST(q.emb[i] * c.emb[i]
                                                  AS DECIMAL(18,12))),
                                    'sum') AS DOUBLE)
                                / (q.nrm * c.nrm) DESC,
                                c.vec_id) AS rn
            FROM n{d} q JOIN n{d} c ON c.vec_id <> q.vec_id
            WHERE q.vec_id < {N_QUERIES}
        ) WHERE rn <= {RECALL_TOPK}
    )""")
        evals.append(f"""
    eval{d} AS (
        SELECT {d} AS depth, a.query_id, count(b.neighbor_id) AS hits
        FROM top{d} a LEFT JOIN top{MATRYOSHKA_DEPTHS[-1]} b
          ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
        GROUP BY 1, 2
    )""")
        unions.append(f"SELECT depth, query_id, hits FROM eval{d}")
    return f"""
    WITH {_V_CTE},
    {",".join(n_ctes)},
    {",".join(top_ctes)},
    {",".join(evals)}
    SELECT CAST(depth AS INT) AS depth, query_id,
           CAST(hits AS BIGINT) AS hits,
           CAST(hits AS DOUBLE) / {RECALL_TOPK} AS recall
    FROM ({" UNION ALL ".join(unions)})
    """


def _seg_dot(a: Column, b: Column, start: int, length: int) -> Column:
    """Decimal-exact dot product of one dimension SEGMENT [start,
    start+length) (1-based, F.slice convention) — the building block
    that makes every Matryoshka prefix a running decimal sum."""
    prods = F.zip_with(
        F.slice(a, start, length),
        F.slice(b, start, length),
        lambda x, y: (x * y).cast(_DEC),
    )
    return F.aggregate(
        prods, F.lit(0).cast(_DEC), lambda acc, x: (acc + x).cast(_DEC)
    )


@register(
    "similarity_matryoshka_recall_eval",
    oracle=_matryoshka_oracle(),
    tags=("similarity", "ann", "evaluation", "matryoshka"),
)
def similarity_matryoshka_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka (MRL, Kusupati et al. 2022) truncation sweep: recall@10
    of exact cosine search over the first 8/16/32/64 dimensions against
    the full-width ground truth — the adaptive-retrieval audit run
    before shipping truncated embeddings as the cheap first stage (a
    64→8 cut is an 8x index-size and bandwidth cut; this query measures
    exactly what that cut costs in recall, per query, oracle-checked).

    One corpus pass computes EVERY depth: each pair's prefix dot
    products are cumulative sums of per-segment decimal dots
    (dims 1-8, 9-16, 17-32, 33-64), and decimal addition is associative
    and exact, so cos@16 = (seg1+seg2)/(norms) is bit-identical to an
    independent 16-dim computation — the oracle deliberately uses the
    independent per-depth formulation to prove it.  Depth 64 is the
    identity row (recall 1.0 pinned in tests).

    Scale: the corpus never shuffles — the N_QUERIES query rows
    broadcast, one scan computes 4 segment dots per pair (cheaper than
    4 passes), and only (depth × query × k) rows leave the ranking.
    Like the nprobe sweep, this is an evaluation harness: it runs on a
    corpus SAMPLE to pick the deployment depth before the 100 TB index
    build."""
    segs = ((1, 8), (9, 8), (17, 16), (33, 32))
    base = _embeddings(spark, sf_dir).select(
        "vec_id",
        "emb",
        *[
            F.sqrt(
                sum(
                    [_seg_dot(F.col("emb"), F.col("emb"), s, ln)
                     for s, ln in segs[: i + 1]],
                    F.lit(0).cast(_DEC),
                ).cast("double")
            ).alias(f"nrm{d}")
            for i, d in enumerate(MATRYOSHKA_DEPTHS)
        ],
    )
    q = _queries(base, "emb", *[f"nrm{d}" for d in MATRYOSHKA_DEPTHS])
    pairs = base.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    seg_cols = [
        _seg_dot(F.col("q_emb"), F.col("emb"), s, ln) for s, ln in segs
    ]
    cosines = []
    for i, d in enumerate(MATRYOSHKA_DEPTHS):
        cum = sum(seg_cols[: i + 1], F.lit(0).cast(_DEC))
        cosines.append(
            F.struct(
                F.lit(d).cast("int").alias("depth"),
                (
                    cum.cast("double")
                    / (F.col(f"q_nrm{d}") * F.col(f"nrm{d}"))
                ).alias("cosine"),
            )
        )
    exploded = pairs.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.explode(F.array(*cosines)).alias("dc"),
    ).select(
        "query_id", "neighbor_id", F.col("dc.depth").alias("depth"),
        F.col("dc.cosine").alias("cosine"),
    )
    tops = _top_k(
        exploded, RECALL_TOPK, F.desc("cosine"), by=("depth", "query_id")
    ).select("depth", "query_id", "neighbor_id")
    truth = (
        tops.filter(F.col("depth") == MATRYOSHKA_DEPTHS[-1])
        .select("query_id", "neighbor_id")
        .withColumn("in_exact", F.lit(1))
    )
    return (
        tops.join(truth, ["query_id", "neighbor_id"], "left")
        .groupBy("depth", "query_id")
        .agg(
            F.sum(
                F.when(F.col("in_exact").isNotNull(), 1).otherwise(0)
            ).alias("hits")
        )
        .select(
            F.col("depth").cast("int").alias("depth"),
            "query_id",
            F.col("hits").cast("bigint").alias("hits"),
            (F.col("hits").cast("double") / RECALL_TOPK).alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# Contrastive pair mining (positives + semi-hard negatives)
# ---------------------------------------------------------------------------

#: Contrastive mining bands: ranks 1..POS are positives (potential
#: near-dups/paraphrases), ranks POS+1..POS+NEG are the SEMI-HARD
#: negative band — similar enough to carry gradient, far enough to be
#: genuinely negative (the FaceNet/SimCSE mining heuristic).
CONTRASTIVE_POS = 5
CONTRASTIVE_NEG = 10


@register(
    "sample_contrastive_pairs",
    oracle=f"""
    WITH {_V_CTE},
    n AS (
        SELECT vec_id, emb,
               sqrt(CAST(list_aggregate(
                   list_transform(range(1, 65),
                                  i -> CAST(emb[i] * emb[i]
                                            AS DECIMAL(18,12))),
                   'sum') AS DOUBLE)) AS nrm
        FROM v
    ),
    ranked AS (
        SELECT q.vec_id AS query_id, c.vec_id AS pair_id,
               CAST(list_aggregate(
                   list_transform(range(1, 65),
                                  i -> CAST(q.emb[i] * c.emb[i]
                                            AS DECIMAL(18,12))),
                   'sum') AS DOUBLE) / (q.nrm * c.nrm) AS cosine,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY CAST(list_aggregate(
                                list_transform(range(1, 65),
                                               i -> CAST(q.emb[i] * c.emb[i]
                                                         AS DECIMAL(18,12))),
                                'sum') AS DOUBLE) / (q.nrm * c.nrm) DESC,
                            c.vec_id) AS rank
        FROM n q JOIN n c ON c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}
    )
    SELECT query_id, pair_id, CAST(rank AS INT) AS rank,
           CASE WHEN rank <= {CONTRASTIVE_POS} THEN 'positive'
                ELSE 'hard_negative' END AS role,
           cosine
    FROM ranked
    WHERE rank <= {CONTRASTIVE_POS + CONTRASTIVE_NEG}
    """,
    tags=("sampling", "similarity", "contrastive"),
)
def sample_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining over the embedding corpus: for
    each anchor, the exact-cosine ranking is cut into a POSITIVE band
    (top 5 — near-dups/paraphrases, the rows a contrastive loss
    pulls together or a dedup would drop) and a SEMI-HARD NEGATIVE band
    (ranks 6..15 — the FaceNet/SimCSE heuristic: random
    negatives are too easy to carry gradient, the very top is
    positive-contaminated, the band just below is where the loss
    learns).  Deterministic by construction (exact decimal cosine,
    vec_id tiebreak), so the mined pair set is reproducible — the
    property batch miners need for resumable epoch builds.

    Scale: anchors broadcast (the corpus never shuffles — the
    bruteforce kernel's plan, shared verbatim); at production scale the
    exact ranking swaps for the IVF+PQ shortlist + exact rerank
    (similarity_rerank_two_stage) with the same band cut — this
    operator IS the band-cut contract the ANN variant must honor."""
    pairs = _cosine_pairs(_embeddings(spark, sf_dir))
    ranked = _top_k(
        pairs, CONTRASTIVE_POS + CONTRASTIVE_NEG, F.desc("cosine")
    )
    return ranked.select(
        "query_id",
        F.col("neighbor_id").alias("pair_id"),
        F.col("rn").cast("int").alias("rank"),
        F.when(
            F.col("rn") <= CONTRASTIVE_POS, F.lit("positive")
        ).otherwise(F.lit("hard_negative")).alias("role"),
        "cosine",
    )


# ---------------------------------------------------------------------------
# Per-label centroid separation
# ---------------------------------------------------------------------------


def _flat(emb: DataFrame, *cols: str) -> DataFrame:
    """(cols..., dim, x): one row per vector component of the raw
    embeddings table — 0-based ``dim``, the component as a double."""
    return emb.select(
        *cols, F.posexplode(_as_double_array("embedding")).alias("dim", "x")
    )


def _centroids(flat: DataFrame, *keys: str | Column) -> DataFrame:
    """(keys..., dim, c): the per-group centroid components — the
    DECIMAL(18,12) exact sum over the member count, so the mean is
    order-independent and matches the oracles bit for bit."""
    return flat.groupBy(*keys, "dim").agg(
        (
            F.sum(F.col("x").cast(_DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )


def _centroid_sq(cent: DataFrame, key: str = "label") -> DataFrame:
    """(key, cc): each centroid's squared norm as a DECIMAL(18,12) sum."""
    return cent.groupBy(key).agg(
        F.sum((F.col("c") * F.col("c")).cast(_DEC))
        .cast("double")
        .alias("cc")
    )


def _label_moments(emb: DataFrame, cent: DataFrame) -> DataFrame:
    """(label, n, sxx, cc): per label the member count, the exact sum of
    member squared norms and the centroid's squared norm — the inputs of
    the mean-centroid identity sum ||x - c||^2 = sxx - n * cc, so the
    scatter never touches member pairs."""
    sq = emb.select(
        "label",
        F.aggregate(
            F.transform(
                _as_double_array("embedding"),
                lambda v: (v * v).cast(_DEC),
            ),
            F.lit(0).cast(_DEC),
            lambda acc, v: (acc + v).cast(_DEC),
        )
        .cast("double")
        .alias("sq"),
    )
    sx = sq.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("sq").cast(_DEC)).cast("double").alias("sxx"),
    )
    return sx.join(_centroid_sq(cent), "label")


@register(
    "embedding_centroid_separation",
    oracle="""
    WITH flat AS (
        SELECT label, t.i AS dim,
               CAST(embedding[t.i] AS DOUBLE) AS x
        FROM embeddings, unnest(range(1, 65)) AS t(i)
    ),
    cent AS (
        SELECT label, dim,
               CAST(SUM(CAST(x AS DECIMAL(18,12))) AS DOUBLE)
                   / count(*) AS c
        FROM flat GROUP BY 1, 2
    ),
    cnt AS (SELECT label, count(*) AS n FROM embeddings GROUP BY 1),
    pr AS (
        SELECT a.label AS label_a, b.label AS label_b,
               CAST(SUM(CAST(a.c * b.c AS DECIMAL(18,12)))
                    AS DOUBLE) AS dot_ab,
               CAST(SUM(CAST(a.c * a.c AS DECIMAL(18,12)))
                    AS DOUBLE) AS dot_aa,
               CAST(SUM(CAST(b.c * b.c AS DECIMAL(18,12)))
                    AS DOUBLE) AS dot_bb,
               CAST(SUM(CAST((a.c - b.c) * (a.c - b.c)
                             AS DECIMAL(18,12))) AS DOUBLE) AS d2
        FROM cent a JOIN cent b
          ON a.dim = b.dim AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT CAST(label_a AS INT) AS label_a,
           CAST(label_b AS INT) AS label_b,
           CAST(na.n AS BIGINT) AS n_a,
           CAST(nb.n AS BIGINT) AS n_b,
           dot_ab / (sqrt(dot_aa) * sqrt(dot_bb)) AS cosine,
           sqrt(d2) AS l2_dist
    FROM pr
    JOIN cnt na ON na.label = pr.label_a
    JOIN cnt nb ON nb.label = pr.label_b
    """,
    tags=("similarity", "embedding", "statistics"),
)
def embedding_centroid_separation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise separation of per-label embedding centroids — cosine
    and L2 between every pair of class means, the diagnostic that
    tells a contrastive-training pipeline whether its label structure
    is geometrically real BEFORE mining pairs from it
    (sample_contrastive_pairs assumes separated classes; collapsed
    centroids mean the labels won't supervise anything), and the
    cluster-quality readout for cluster_kmeans_embeddings' assignment.
    Centroids use the embedding family's DECIMAL(18,12) exact-sum
    discipline per (label, dim); all three dot products and the
    squared distance are round-12 decimal sums over the 64-dim
    centroid pairs, so cosine and L2 are bit-stable cross-engine.

    Scale: the centroid aggregate is one map-side-combined groupBy
    over the posexploded corpus (64 rows × |labels| out); the pair
    join runs over |labels|·64 rows — both downstream tables are
    label-domain-sized, never corpus-sized, so the op costs one
    corpus scan regardless of SF."""
    emb = fanout(table(spark, sf_dir, "embeddings"))
    cent = _centroids(_flat(emb, "label"), "label")
    cnt = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    a, b = cent.alias("a"), cent.alias("b")
    pr = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.sum((F.col("a.c") * F.col("b.c")).cast(_DEC))
            .cast("double")
            .alias("dot_ab"),
            F.sum((F.col("a.c") * F.col("a.c")).cast(_DEC))
            .cast("double")
            .alias("dot_aa"),
            F.sum((F.col("b.c") * F.col("b.c")).cast(_DEC))
            .cast("double")
            .alias("dot_bb"),
            F.sum(
                (
                    (F.col("a.c") - F.col("b.c"))
                    * (F.col("a.c") - F.col("b.c"))
                ).cast(_DEC)
            )
            .cast("double")
            .alias("d2"),
        )
    )
    na, nb = cnt.alias("na"), cnt.alias("nb")
    return (
        pr.join(F.broadcast(na), F.col("na.label") == F.col("label_a"))
        .join(F.broadcast(nb), F.col("nb.label") == F.col("label_b"))
        .select(
            F.col("label_a").cast("int").alias("label_a"),
            F.col("label_b").cast("int").alias("label_b"),
            F.col("na.n").cast("bigint").alias("n_a"),
            F.col("nb.n").cast("bigint").alias("n_b"),
            (
                F.col("dot_ab")
                / (F.sqrt(F.col("dot_aa")) * F.sqrt(F.col("dot_bb")))
            ).alias("cosine"),
            F.sqrt(F.col("d2")).alias("l2_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Davies-Bouldin cluster-quality index over labels
# ---------------------------------------------------------------------------


@register(
    "embedding_davies_bouldin_index",
    oracle="""
    WITH flat AS (
        SELECT label, t.i AS dim,
               CAST(embedding[t.i] AS DOUBLE) AS x
        FROM embeddings, unnest(range(1, 65)) AS t(i)
    ),
    cent AS (
        SELECT label, dim,
               CAST(SUM(CAST(x AS DECIMAL(18,12))) AS DOUBLE)
                   / (count(*)) AS c
        FROM flat GROUP BY 1, 2
    ),
    sx AS (
        SELECT label, count(*) AS n,
               CAST(SUM(CAST(sq AS DECIMAL(18,12))) AS DOUBLE) AS sxx
        FROM (
            SELECT label,
                   CAST(list_aggregate(list_transform(range(1, 65),
                        i -> CAST(CAST(embedding[i] AS DOUBLE)
                                  * CAST(embedding[i] AS DOUBLE)
                                  AS DECIMAL(18,12))), 'sum')
                        AS DOUBLE) AS sq
            FROM embeddings
        ) GROUP BY label
    ),
    cc AS (
        SELECT label,
               CAST(SUM(CAST(c * c AS DECIMAL(18,12))) AS DOUBLE)
                   AS cc
        FROM cent GROUP BY label
    ),
    scat AS (
        SELECT sx.label, sx.n,
               sqrt(greatest(0.0, (sx.sxx - sx.n * cc.cc) / sx.n))
                   AS s
        FROM sx JOIN cc ON cc.label = sx.label
    ),
    pd AS (
        SELECT a.label AS la, b.label AS lb,
               sqrt(CAST(SUM(CAST((a.c - b.c) * (a.c - b.c)
                                  AS DECIMAL(18,12))) AS DOUBLE))
                   AS dist
        FROM cent a JOIN cent b
          ON a.dim = b.dim AND a.label <> b.label
        GROUP BY 1, 2
    ),
    r AS (
        SELECT pd.la AS label,
               max((si.s + sj.s) / pd.dist) AS db_component
        FROM pd
        JOIN scat si ON si.label = pd.la
        JOIN scat sj ON sj.label = pd.lb
        GROUP BY pd.la
    ),
    g AS (
        SELECT CAST(SUM(CAST(round(db_component, 12)
                             AS DECIMAL(18,12))) AS DOUBLE)
                   / count(*) AS db_index
        FROM r
    )
    SELECT CAST(scat.label AS INT) AS label,
           CAST(scat.n AS BIGINT) AS n,
           scat.s AS scatter,
           r.db_component,
           g.db_index
    FROM scat JOIN r ON r.label = scat.label, g
    """,
    tags=("similarity", "embedding", "clustering", "statistics"),
)
def embedding_davies_bouldin_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Davies-Bouldin cluster-quality index over the embedding labels
    — per-label scatter S_i = √(mean squared distance to centroid),
    pairwise similarity R_ij = (S_i + S_j)/d(c_i, c_j), per-label
    worst case DB_i = max_j R_ij, and the global index mean_i DB_i
    (lower = tighter, better-separated clusters) — the scalar verdict
    on top of embedding_centroid_separation's pairwise table, and the
    evaluation a kmeans/contrastive pipeline gates on.  Scatter never
    touches member PAIRS: Σ‖x−c‖² = Σ‖x‖² − n‖c‖² (the mean-centroid
    identity), so each label needs only its exact DECIMAL(18,12)
    moment sums; centroid distances reuse the round-12 decimal dot
    discipline; the final mean quantizes the ≤|labels| components
    before its exact sum.

    Scale: one corpus scan for moments (map-side combined), then
    everything runs on label-domain-sized tables (|labels|·64
    centroids, |labels|² pairs).  The greatest(0,·) guard absorbs the
    float-identity residue of a zero-scatter cluster."""
    emb = fanout(table(spark, sf_dir, "embeddings"))
    cent = _centroids(_flat(emb, "label"), "label")
    scat = _label_moments(emb, cent).select(
        "label",
        "n",
        F.sqrt(
            F.greatest(
                F.lit(0.0),
                (F.col("sxx") - F.col("n") * F.col("cc")) / F.col("n"),
            )
        ).alias("s"),
    )
    a, b = cent.alias("a"), cent.alias("b")
    pd = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") != F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("la"), F.col("b.label").alias("lb")
        )
        .agg(
            F.sqrt(
                F.sum(
                    (
                        (F.col("a.c") - F.col("b.c"))
                        * (F.col("a.c") - F.col("b.c"))
                    ).cast(_DEC)
                ).cast("double")
            ).alias("dist")
        )
    )
    si = scat.select(
        F.col("label").alias("la"), F.col("s").alias("s_i")
    )
    sj = scat.select(
        F.col("label").alias("lb"), F.col("s").alias("s_j")
    )
    r = (
        pd.join(F.broadcast(si), "la")
        .join(F.broadcast(sj), "lb")
        .groupBy(F.col("la").alias("label"))
        .agg(
            F.max(
                (F.col("s_i") + F.col("s_j")) / F.col("dist")
            ).alias("db_component")
        )
    )
    g = r.agg(
        (
            F.sum(F.round(F.col("db_component"), 12).cast(_DEC)).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("db_index")
    )
    return (
        scat.join(r, "label")
        .crossJoin(F.broadcast(g))
        .select(
            F.col("label").cast("int").alias("label"),
            F.col("n").cast("bigint").alias("n"),
            F.col("s").alias("scatter"),
            "db_component",
            "db_index",
        )
    )


# ---------------------------------------------------------------------------
# Simplified silhouette over labels
# ---------------------------------------------------------------------------


@register(
    "embedding_silhouette_lite",
    oracle="""
    WITH flat AS (
        SELECT vec_id, label, t.i AS dim,
               CAST(embedding[t.i] AS DOUBLE) AS x
        FROM embeddings, unnest(range(1, 65)) AS t(i)
    ),
    cent AS (
        SELECT label AS clabel, dim,
               CAST(SUM(CAST(x AS DECIMAL(18,12))) AS DOUBLE)
                   / count(*) AS c
        FROM flat GROUP BY 1, 2
    ),
    cc AS (
        SELECT clabel,
               CAST(SUM(CAST(c * c AS DECIMAL(18,12))) AS DOUBLE)
                   AS cc
        FROM cent GROUP BY clabel
    ),
    sq AS (
        SELECT vec_id,
               CAST(SUM(CAST(x * x AS DECIMAL(18,12))) AS DOUBLE)
                   AS sq
        FROM flat GROUP BY vec_id
    ),
    dots AS (
        SELECT f.vec_id, f.label, c.clabel,
               CAST(SUM(CAST(f.x * c.c AS DECIMAL(18,12)))
                    AS DOUBLE) AS dot
        FROM flat f JOIN cent c ON c.dim = f.dim
        GROUP BY 1, 2, 3
    ),
    dist AS (
        SELECT d.vec_id, d.label, d.clabel,
               sqrt(greatest(0.0, sq.sq - 2.0 * d.dot + cc.cc)) AS dd
        FROM dots d
        JOIN sq ON sq.vec_id = d.vec_id
        JOIN cc ON cc.clabel = d.clabel
    ),
    ab AS (
        SELECT vec_id, label,
               max(CASE WHEN clabel = label THEN dd END) AS a,
               min(CASE WHEN clabel <> label THEN dd END) AS b
        FROM dist GROUP BY 1, 2
    ),
    s AS (
        SELECT vec_id, label,
               (b - a) / greatest(a, b) AS sil
        FROM ab
    ),
    bylabel AS (
        SELECT label, count(*) AS n,
               CAST(SUM(CAST(round(sil, 12) AS DECIMAL(18,12)))
                    AS DOUBLE) / count(*) AS mean_sil
        FROM s GROUP BY label
    ),
    g AS (
        SELECT CAST(SUM(CAST(round(sil, 12) AS DECIMAL(18,12)))
                    AS DOUBLE) / count(*) AS global_mean_sil
        FROM s
    )
    SELECT CAST(bylabel.label AS INT) AS label,
           CAST(bylabel.n AS BIGINT) AS n,
           bylabel.mean_sil,
           g.global_mean_sil
    FROM bylabel, g
    """,
    tags=("similarity", "embedding", "clustering", "statistics"),
)
def embedding_silhouette_lite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SIMPLIFIED silhouette over the embedding labels — per vector,
    a = distance to its own centroid, b = distance to the nearest
    OTHER centroid, s = (b − a)/max(a, b); reported as per-label and
    global means — the per-POINT companion of the Davies-Bouldin
    index (DB judges clusters wholesale; silhouette exposes which
    labels harbor misassigned members), in the centroid-simplified
    form (Hruschka et al.) that replaces the classic O(n²) pairwise
    silhouette with the kmeans-assignment shape: every distance is
    ‖x‖² − 2x·c + ‖c‖² from exact DECIMAL(18,12) moment/dot sums,
    so a, b, and s are bit-stable cross-engine; the means quantize
    each s to 12 decimals before their exact sums.

    Scale: the dot table is n·|labels| rows (the kmeans assignment
    cost — linear in the corpus, no member pairs ever); centroid
    tables are label-domain-sized.  The greatest(a, b) denominator is
    safe: b > 0 whenever centroids are distinct."""
    flat = _flat(fanout(table(spark, sf_dir, "embeddings")), "vec_id", "label")
    cent = _centroids(flat, F.col("label").alias("clabel"))
    cc = _centroid_sq(cent, "clabel")
    sq = flat.groupBy("vec_id").agg(
        F.sum((F.col("x") * F.col("x")).cast(_DEC))
        .cast("double")
        .alias("sq")
    )
    dots = (
        flat.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(
            F.sum((F.col("x") * F.col("c")).cast(_DEC))
            .cast("double")
            .alias("dot")
        )
    )
    dist = (
        dots.join(sq, "vec_id")
        .join(F.broadcast(cc), "clabel")
        .select(
            "vec_id",
            "label",
            "clabel",
            F.sqrt(
                F.greatest(
                    F.lit(0.0),
                    F.col("sq")
                    - F.lit(2.0) * F.col("dot")
                    + F.col("cc"),
                )
            ).alias("dd"),
        )
    )
    ab = dist.groupBy("vec_id", "label").agg(
        F.max(
            F.when(F.col("clabel") == F.col("label"), F.col("dd"))
        ).alias("a"),
        F.min(
            F.when(F.col("clabel") != F.col("label"), F.col("dd"))
        ).alias("b"),
    )
    s = ab.select(
        "label",
        (
            (F.col("b") - F.col("a"))
            / F.greatest(F.col("a"), F.col("b"))
        ).alias("sil"),
    )
    bylabel = s.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.round(F.col("sil"), 12).cast(_DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_sil"),
    )
    g = s.agg(
        (
            F.sum(F.round(F.col("sil"), 12).cast(_DEC)).cast("double")
            / F.count(F.lit(1))
        ).alias("global_mean_sil")
    )
    return bylabel.crossJoin(F.broadcast(g)).select(
        F.col("label").cast("int").alias("label"),
        F.col("n").cast("bigint").alias("n"),
        "mean_sil",
        "global_mean_sil",
    )


# ---------------------------------------------------------------------------
# NDCG@k sweep: rank-quality counterpart of the recall sweep
# ---------------------------------------------------------------------------

import math as _math  # noqa: E402

#: Positional discounts 1/log2(p+1) for p = 1..RECALL_TOPK, computed
#: ONCE in Python and embedded as identical literals in the Spark plan
#: and the oracle (log2 is libm; a literal table is engine-free).
NDCG_DISCOUNTS: tuple[float, ...] = tuple(
    1.0 / _math.log2(p + 1) for p in range(1, RECALL_TOPK + 1)
)

#: Ideal DCG@k for the graded-relevance scheme rel(p) = k+1-p over the
#: exact top-k: the best ordering places relevance k at position 1.
#: Terms quantized to round-12 like the engine-side sum, then added in
#: ascending-position order — a single literal both engines divide by.
NDCG_IDCG: float = float(
    sum(
        round((RECALL_TOPK + 1 - p) * NDCG_DISCOUNTS[p - 1], 12)
        for p in range(1, RECALL_TOPK + 1)
    )
)

def _ndcg_disc_sql(rank_col: str) -> str:
    """Literal positional-discount CASE over `rank_col` (parameterized
    rather than post-hoc string-replaced — the ADVICE r06 lesson)."""
    return (
        f"CASE {rank_col} "
        + " ".join(
            f"WHEN {p} THEN {NDCG_DISCOUNTS[p - 1]!r}"
            for p in range(1, RECALL_TOPK + 1)
        )
        + " ELSE 0.0 END"
    )


def _ndcg_branch_sql(nprobe: int) -> str:
    return _sweep_ranked_sql(nprobe) + f""",
    eval{nprobe} AS (
        SELECT r.query_id,
               {nprobe} AS nprobe,
               max(r.n_candidates) AS n_candidates,
               SUM(CAST(CASE WHEN r.rn <= {RECALL_TOPK}
                        THEN round(CAST(COALESCE(e.rel, 0) AS DOUBLE)
                                   * ({_ndcg_disc_sql("r.rn")}),
                                   12)
                        ELSE 0 END AS DECIMAL(18,12))) AS dcg
        FROM ranked{nprobe} r
        LEFT JOIN exact_rel e ON e.query_id = r.query_id
                             AND e.neighbor_id = r.neighbor_id
        GROUP BY r.query_id
    )"""


def _ndcg_sweep_full_oracle() -> str:
    branches = ",".join(_ndcg_branch_sql(n) for n in RECALL_SWEEP_NPROBES)
    unions = " UNION ALL ".join(
        f"SELECT query_id, nprobe, n_candidates, dcg FROM eval{n}"
        for n in RECALL_SWEEP_NPROBES
    )
    return f"""
    WITH {_SWEEP_BASE_CTES}
    exact_rel AS (
        SELECT query_id, neighbor_id, {RECALL_TOPK} + 1 - rn AS rel FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rn
            FROM cospairs
        ) WHERE rn <= {RECALL_TOPK}
    ),
    {branches}
    SELECT CAST(nprobe AS INT) AS nprobe, query_id,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(dcg AS DOUBLE) AS dcg,
           CAST(dcg AS DOUBLE) / {NDCG_IDCG!r} AS ndcg
    FROM ({unions})
    """


@register(
    "similarity_ndcg_eval",
    oracle=_ndcg_sweep_full_oracle(),
    tags=("similarity", "ann", "evaluation"),
)
def similarity_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@k sweep over the IVF probe budget — the rank-QUALITY
    counterpart of similarity_ann_recall_eval: recall counts how many
    true neighbors an nprobe budget surfaces, NDCG@k scores WHERE they
    land (a hit at rank 1 is worth more than one scraped in at rank
    10), which is the metric that actually moves retrieval-augmented
    downstream tasks.  Graded relevance rel(p) = k+1-p comes from the
    exact-cosine top-k ranking; positional discounts 1/log2(p+1) are a
    Python-literal table embedded identically in both engines (no libm
    in either plan), per-position terms are quantized round-12 DECIMAL
    before the order-independent sum, and the ideal DCG is one shared
    literal divisor — so the whole curve is bit-identical
    cross-engine and regression-pinnable.

    Scale: identical bound to the recall sweep (shares its cell
    assignment, broadcast query set, and candidate join); runs on an
    evaluation sample, never the full corpus — tune nprobe here, then
    commit the 100 TB index build."""
    disc = F.lit(0.0)
    for p in range(RECALL_TOPK, 0, -1):
        disc = F.when(
            F.col("rn") == p, F.lit(NDCG_DISCOUNTS[p - 1])
        ).otherwise(disc)
    term = F.when(
        F.col("rn") <= RECALL_TOPK,
        F.round(
            F.coalesce(F.col("rel"), F.lit(0)).cast("double") * disc,
            12,
        ),
    ).otherwise(F.lit(0))
    dcg = F.sum(term.cast(_DEC)).alias("dcg")
    return _probe_sweep(spark, sf_dir, dcg).select(
        "nprobe",
        "query_id",
        F.col("n_candidates").cast("bigint").alias("n_candidates"),
        F.col("dcg").cast("double").alias("dcg"),
        (F.col("dcg").cast("double") / F.lit(NDCG_IDCG)).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# Calinski-Harabasz cluster-quality index over labels
# ---------------------------------------------------------------------------


@register(
    "embedding_calinski_harabasz",
    oracle="""
    WITH flat AS (
        SELECT label, t.i AS dim,
               CAST(embedding[t.i] AS DOUBLE) AS x
        FROM embeddings, unnest(range(1, 65)) AS t(i)
    ),
    cent AS (
        SELECT label, dim,
               CAST(SUM(CAST(x AS DECIMAL(18,12))) AS DOUBLE)
                   / (count(*)) AS c
        FROM flat GROUP BY 1, 2
    ),
    sx AS (
        SELECT label, count(*) AS n,
               CAST(SUM(CAST(sq AS DECIMAL(18,12))) AS DOUBLE) AS sxx
        FROM (
            SELECT label,
                   CAST(list_aggregate(list_transform(range(1, 65),
                        i -> CAST(CAST(embedding[i] AS DOUBLE)
                                  * CAST(embedding[i] AS DOUBLE)
                                  AS DECIMAL(18,12))), 'sum')
                        AS DOUBLE) AS sq
            FROM embeddings
        ) GROUP BY label
    ),
    cc AS (
        SELECT label,
               CAST(SUM(CAST(c * c AS DECIMAL(18,12))) AS DOUBLE)
                   AS cc
        FROM cent GROUP BY label
    ),
    w AS (
        SELECT sx.label, sx.n,
               sx.sxx - sx.n * cc.cc AS w_i
        FROM sx JOIN cc ON cc.label = sx.label
    ),
    gcent AS (
        SELECT dim,
               CAST(SUM(CAST(x AS DECIMAL(18,12))) AS DOUBLE)
                   / (count(*)) AS gc
        FROM flat GROUP BY dim
    ),
    btab AS (
        SELECT c.label,
               CAST(SUM(CAST((c.c - g.gc) * (c.c - g.gc)
                             AS DECIMAL(18,12))) AS DOUBLE) AS d2
        FROM cent c JOIN gcent g ON g.dim = c.dim
        GROUP BY c.label
    ),
    per AS (
        SELECT w.label, w.n, w.w_i, w.n * btab.d2 AS b_i
        FROM w JOIN btab ON btab.label = w.label
    ),
    tot AS (
        SELECT count(*) AS k, SUM(n) AS n,
               CAST(SUM(CAST(round(w_i, 6) AS DECIMAL(28,6)))
                    AS DOUBLE) AS w,
               CAST(SUM(CAST(round(b_i, 6) AS DECIMAL(28,6)))
                    AS DOUBLE) AS b
        FROM per
    )
    SELECT CAST(per.label AS INT) AS label,
           CAST(per.n AS BIGINT) AS n,
           per.w_i AS within_ss,
           per.b_i AS between_ss,
           (tot.b / (tot.k - 1.0)) / (tot.w / (tot.n - tot.k))
               AS ch_index
    FROM per, tot
    """,
    tags=("similarity", "embedding", "clustering", "statistics"),
)
def embedding_calinski_harabasz(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calinski-Harabasz (variance-ratio) cluster-quality index over
    the embedding labels — the third member of the internal-validity
    panel (silhouette: per-point view; Davies-Bouldin: worst-pair
    view; CH: the ANOVA-style global ratio (B/(k-1))/(W/(n-k)),
    HIGHER = better, and the one most sensitive to k in an elbow
    sweep).  Within-cluster scatter never touches member pairs:
    W_i = sum ||x-c_i||^2 = sum ||x||^2 - n_i ||c_i||^2 (the same
    mean-centroid identity the DB index uses); between-cluster scatter
    is n_i ||c_i - c_bar||^2 against the GLOBAL centroid.  Per-label
    terms quantize round-6 DECIMAL before the k-term sums, so the
    index is bit-identical cross-engine.

    Scale: one corpus scan for per-label moments (map-side combined),
    one for the global centroid (same scan shape), then label-domain
    algebra — |labels| x 64 centroid rows, nothing pairwise.  The
    kmeans -> silhouette/DB/CH panel is the model-selection loop a
    semantic-dedup pipeline runs before committing cluster-based
    sampling weights."""
    emb = fanout(table(spark, sf_dir, "embeddings"))
    flat = _flat(emb, "label")
    cent = _centroids(flat, "label")
    w = _label_moments(emb, cent).select(
        "label",
        "n",
        (F.col("sxx") - F.col("n") * F.col("cc")).alias("w_i"),
    )
    gcent = _centroids(flat).withColumnRenamed("c", "gc")
    btab = (
        cent.join(F.broadcast(gcent), "dim")
        .groupBy("label")
        .agg(
            F.sum(
                (
                    (F.col("c") - F.col("gc"))
                    * (F.col("c") - F.col("gc"))
                ).cast(_DEC)
            )
            .cast("double")
            .alias("d2")
        )
    )
    per = w.join(btab, "label").select(
        "label", "n", "w_i", (F.col("n") * F.col("d2")).alias("b_i")
    )
    tot = per.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").alias("nn"),
        F.sum(F.round(F.col("w_i"), 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("w"),
        F.sum(F.round(F.col("b_i"), 6).cast("decimal(28,6)"))
        .cast("double")
        .alias("b"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("label").cast("int").alias("label"),
        F.col("n").cast("bigint").alias("n"),
        F.col("w_i").alias("within_ss"),
        F.col("b_i").alias("between_ss"),
        (
            (F.col("b") / (F.col("k") - F.lit(1.0)))
            / (F.col("w") / (F.col("nn") - F.col("k")))
        ).alias("ch_index"),
    )


def _dist2_sql(a: str, b: str) -> str:
    """Exact squared-L2 DuckDB expression between two double-list
    columns (per-term DECIMAL(18,12) quantization — the SQL twin of
    ``dist2_exact``)."""
    return (
        "list_aggregate(list_transform(range(1, 65), "
        f"i -> CAST(({a}[i] - {b}[i]) * ({a}[i] - {b}[i]) "
        "AS DECIMAL(18,12))), 'sum')"
    )


#: Neighborhood size for the hubness audit (k-occurrence over top-k
#: squared-L2 neighbor lists).
HUBNESS_K = 5


def _allpairs_d2(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(v, pairs): the embeddings as v (i, emb) and the exact squared L2
    of every ordered pair of distinct vectors as pairs (i, j, d2) — the
    small-n exact neighbor lists (the SQL twin is _ALLPAIRS_NN_SQL)."""
    v = table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("i"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    d = v.select(F.col("i").alias("j"), F.col("emb").alias("emb_j"))
    pairs = v.join(d, F.col("i") != F.col("j")).select(
        "i",
        "j",
        dist2_exact(F.col("emb"), F.col("emb_j")).alias("d2"),
    )
    return v, pairs


def _two_nn(pairs: DataFrame) -> DataFrame:
    """(i, d1sq, d2sq): each point's first and second smallest d2 over
    ``pairs`` (i, j, d2), ties to the lowest j — the TwoNN evidence."""
    return (
        _top_k(pairs, 2, "d2", tie="j", by=("i",))
        .groupBy("i")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("d2"))).alias("d1sq"),
            F.max(F.when(F.col("rn") == 2, F.col("d2"))).alias("d2sq"),
        )
    )

_ALLPAIRS_NN_SQL = f"""
    {_V_CTE},
    pairs AS (
        SELECT q.vec_id AS i, d.vec_id AS j,
               {_dist2_sql('q.emb', 'd.emb')} AS d2
        FROM v q JOIN v d ON d.vec_id <> q.vec_id
    ),
    ranked AS (
        SELECT i, j, d2,
               row_number() OVER (PARTITION BY i ORDER BY d2, j) AS rn
        FROM pairs
    )
"""


@register(
    "embedding_intrinsic_dimension_twonn",
    oracle=f"""
    WITH {_ALLPAIRS_NN_SQL},
    two AS (
        SELECT i,
               MAX(CASE WHEN rn = 1 THEN d2 END) AS d1sq,
               MAX(CASE WHEN rn = 2 THEN d2 END) AS d2sq
        FROM ranked WHERE rn <= 2 GROUP BY i
    ),
    terms AS (
        SELECT i, d1sq,
               CASE WHEN d1sq > 0 THEN
                   round(0.5 * ln(CAST(d2sq AS DOUBLE)
                                  / CAST(d1sq AS DOUBLE)), 12)
               END AS log_mu
        FROM two
    ),
    agg AS (
        SELECT count(*) AS n_points,
               CAST(SUM(CASE WHEN d1sq = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_excluded,
               SUM(CAST(log_mu AS DECIMAL(38,12))) AS s
        FROM terms
    )
    SELECT CAST(n_points AS BIGINT) AS n_points,
           n_excluded,
           CAST(s AS DOUBLE) AS sum_log_mu,
           CAST(n_points - n_excluded AS DOUBLE)
               / CAST(s AS DOUBLE) AS twonn_dim
    FROM agg
    """,
    tags=("similarity", "embedding", "statistics"),
)
def embedding_intrinsic_dimension_twonn(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017) of the
    embedding manifold — the diagnostic that tells a pipeline whether
    a 64-dim embedding column actually CARRIES 64 dimensions: the MLE
    d = n / sum_i ln(mu_i) over the per-point ratio mu_i = r2_i/r1_i
    of second- to first-neighbor distance uses ONLY the two nearest
    neighbors, so it is immune to the curvature/density assumptions a
    PCA spectrum bakes in.  Low d with high ambient dim flags
    collapsed/duplicated embeddings before they poison ANN recall;
    points with r1 = 0 (exact vector duplicates) are excluded from the
    MLE and reported.

    Exactness: squared distances are the shared per-term
    DECIMAL(18,12) kernel (``dist2_exact``), so the top-2-by-(d2, j)
    cut is bit-deterministic; ln(mu^2)/2 terms follow the engine's
    round-ln(12) convention and sum as DECIMAL(38,12); the final
    n/S division is one mirrored IEEE op.

    Scale: written as the exact all-pairs form over the (bounded,
    2000-row) embeddings table — the same small-n-exact role as
    ``dedup_embedding_cosine_allpairs``.  At corpus scale the top-2
    lists come from the registered IVF/PQ shortlist kernels
    (similarity_ivf_probed_topk's cell-pruned candidates) instead of
    the self-join; the estimator (terms -> agg) is unchanged table
    shape and cost O(n)."""
    _, pairs = _allpairs_d2(spark, sf_dir)
    two = _two_nn(pairs)
    log_mu = F.when(
        F.col("d1sq") > 0,
        F.round(
            F.lit(0.5)
            * F.log(
                F.col("d2sq").cast("double") / F.col("d1sq").cast("double")
            ),
            12,
        ),
    )
    agg = two.select("d1sq", log_mu.alias("log_mu")).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum((F.col("d1sq") == 0).cast("bigint"))
        .cast("bigint")
        .alias("n_excluded"),
        F.sum(F.col("log_mu").cast("decimal(38,12)")).alias("s"),
    )
    return agg.select(
        F.col("n_points").cast("bigint").alias("n_points"),
        "n_excluded",
        F.col("s").cast("double").alias("sum_log_mu"),
        (
            (F.col("n_points") - F.col("n_excluded")).cast("double")
            / F.col("s").cast("double")
        ).alias("twonn_dim"),
    )


@register(
    "embedding_hubness_audit",
    oracle=f"""
    WITH {_ALLPAIRS_NN_SQL},
    occ AS (
        SELECT j, count(*) AS n_k
        FROM ranked WHERE rn <= {HUBNESS_K} GROUP BY j
    ),
    all_pts AS (SELECT vec_id FROM v),
    per_point AS (
        SELECT p.vec_id, COALESCE(o.n_k, 0) AS n_k
        FROM all_pts p LEFT JOIN occ o ON o.j = p.vec_id
    )
    SELECT CAST(n_k AS BIGINT) AS k_occurrence,
           CAST(count(*) AS BIGINT) AS n_points
    FROM per_point GROUP BY n_k ORDER BY n_k
    """,
    tags=("similarity", "embedding", "evaluation"),
)
def embedding_hubness_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hubness audit of the embedding space: the k-occurrence
    distribution N_k (how many points' top-{HUBNESS_K} neighbor lists
    each point appears in) as a count-of-counts histogram.  High-dim
    NN search concentrates: a few "hub" points appear in thousands of
    neighbor lists while "antihubs" (k_occurrence = 0) appear in none
    — a right-skewed N_k histogram is the standard early warning that
    cosine/L2 retrieval quality is degrading and that ANN recall
    evals will look deceptively good on hub-heavy queries.  Under no
    hubness N_k concentrates around k; the antihub row (k_occurrence
    0) and the histogram tail are the audit's two read-offs.

    Exactness: neighbor lists are the bit-deterministic top-k cut of
    the shared DECIMAL(18,12) squared-L2 kernel with (d2, j)
    tiebreak; everything after is integer counting.

    Scale: the all-pairs form is the small-n-exact baseline (the
    embeddings table is bounded); at corpus scale the top-k lists
    come from the IVF/PQ shortlist kernels and the audit itself stays
    two histogram-sized groupBys (occurrence count, then count-of-
    counts) — map-side combined, no corpus-wide sort."""
    v, pairs = _allpairs_d2(spark, sf_dir)
    occ = (
        _top_k(pairs, HUBNESS_K, "d2", tie="j", by=("i",))
        .groupBy("j")
        .agg(F.count(F.lit(1)).alias("n_k"))
    )
    per_point = (
        v.select(F.col("i").alias("vec_id"))
        .join(occ, F.col("vec_id") == F.col("j"), "left")
        .select(F.coalesce(F.col("n_k"), F.lit(0)).alias("n_k"))
    )
    return (
        per_point.groupBy("n_k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
        .select(
            F.col("n_k").cast("bigint").alias("k_occurrence"),
            "n_points",
        )
        .orderBy("k_occurrence")
    )


@register(
    "embedding_twonn_ivf_shortlist",
    oracle=f"""
    WITH {_V_CTE},
    assigned AS (
        SELECT vec_id, emb, {_argmin_cell_sql()} AS cell FROM v
    ),
    probes AS (
        SELECT vec_id AS i, emb AS qemb,
               unnest({_probe_cells_sql(2)}) AS pc
        FROM v
    ),
    pairs AS (
        SELECT p.i, d.vec_id AS j,
               {_dist2_sql('p.qemb', 'd.emb')} AS d2
        FROM probes p
        JOIN assigned d ON d.cell = p.pc AND d.vec_id <> p.i
    ),
    ranked AS (
        SELECT i, d2,
               row_number() OVER (PARTITION BY i ORDER BY d2, j) AS rn
        FROM pairs
    ),
    two AS (
        SELECT i,
               MAX(CASE WHEN rn = 1 THEN d2 END) AS d1sq,
               MAX(CASE WHEN rn = 2 THEN d2 END) AS d2sq
        FROM ranked WHERE rn <= 2 GROUP BY i
    ),
    full_t AS (
        SELECT v.vec_id, two.d1sq, two.d2sq
        FROM v LEFT JOIN two ON two.i = v.vec_id
    ),
    terms AS (
        SELECT vec_id,
               CASE WHEN d2sq IS NULL THEN 1 ELSE 0 END AS short,
               CASE WHEN d2sq IS NOT NULL AND d1sq = 0
                    THEN 1 ELSE 0 END AS excl,
               CASE WHEN d2sq IS NOT NULL AND d1sq > 0 THEN
                   round(0.5 * ln(CAST(d2sq AS DOUBLE)
                                  / CAST(d1sq AS DOUBLE)), 12)
               END AS log_mu
        FROM full_t
    ),
    agg AS (
        SELECT count(*) AS n_points,
               CAST(SUM(short) AS BIGINT) AS n_short,
               CAST(SUM(excl) AS BIGINT) AS n_excluded,
               SUM(CAST(log_mu AS DECIMAL(38,12))) AS s
        FROM terms
    )
    SELECT CAST(n_points AS BIGINT) AS n_points,
           n_short, n_excluded,
           CAST(s AS DOUBLE) AS sum_log_mu,
           CAST(n_points - n_short - n_excluded AS DOUBLE)
               / CAST(s AS DOUBLE) AS twonn_dim
    FROM agg
    """,
    tags=("similarity", "embedding", "ann", "statistics"),
)
def embedding_twonn_ivf_shortlist(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TwoNN intrinsic dimension over IVF-SHORTLISTED neighbor lists —
    the production form of embedding_intrinsic_dimension_twonn: each
    point's top-2 candidates come from its nprobe=2 nearest coarse
    cells (the registered IVF kernel: same centroids, same sorted-
    struct probe expression, same exact DECIMAL distance kernel, same
    (d2, j) tiebreak), so the self-join shrinks from all-pairs n^2 to
    sum over cells of (2-probe membership x cell size) — with the
    production sqrt(n)-cell quantizer that is ~n^1.5, and the cells
    are also the physical partitioning, so candidates co-locate.
    Points whose shortlist yields fewer than two candidates are
    reported (n_short) and excluded from the MLE alongside exact
    duplicates (n_excluded), making the estimator's evidence base
    explicit — shortlist recall loss shows up as a (reported,
    bounded) perturbation of d, pinned against the exact op by test.

    Exactness: identical discipline to the exact op — decimal d2,
    round-ln(12) terms, DECIMAL(38,12) sum, one mirrored final
    division; the probe list is the IVF ops' deterministic sorted-
    struct cut, so the candidate SET is bit-identical cross-engine.

    Scale: this IS the scale path (the exact op keeps the small-n
    oracle role); estimator stage O(n) after the cell-bounded join."""
    v = table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double_array("embedding").alias("emb")
    )
    assigned = v.select(
        F.col("vec_id").alias("j"),
        F.col("emb").alias("emb_j"),
        ivf_cell(F.col("emb")).alias("cell"),
    )
    probes = v.select(
        F.col("vec_id").alias("i"),
        F.col("emb").alias("qemb"),
        F.explode(probe_cells(F.col("emb"), 2)).alias("pc"),
    )
    pairs = probes.join(
        assigned,
        (F.col("cell") == F.col("pc")) & (F.col("j") != F.col("i")),
    ).select(
        "i",
        "j",
        dist2_exact(F.col("qemb"), F.col("emb_j")).alias("d2"),
    )
    two = _two_nn(pairs)
    full_t = v.select("vec_id").join(
        two, F.col("vec_id") == F.col("i"), "left"
    )
    short = F.col("d2sq").isNull().cast("bigint")
    excl = (
        F.col("d2sq").isNotNull() & (F.col("d1sq") == 0)
    ).cast("bigint")
    log_mu = F.when(
        F.col("d2sq").isNotNull() & (F.col("d1sq") > 0),
        F.round(
            F.lit(0.5)
            * F.log(
                F.col("d2sq").cast("double")
                / F.col("d1sq").cast("double")
            ),
            12,
        ),
    )
    agg = full_t.select(
        short.alias("short"), excl.alias("excl"), log_mu.alias("log_mu")
    ).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("short").cast("bigint").alias("n_short"),
        F.sum("excl").cast("bigint").alias("n_excluded"),
        F.sum(F.col("log_mu").cast("decimal(38,12)")).alias("s"),
    )
    return agg.select(
        F.col("n_points").cast("bigint").alias("n_points"),
        "n_short",
        "n_excluded",
        F.col("s").cast("double").alias("sum_log_mu"),
        (
            (
                F.col("n_points") - F.col("n_short") - F.col("n_excluded")
            ).cast("double")
            / F.col("s").cast("double")
        ).alias("twonn_dim"),
    )


ANISOTROPY_ORACLE = """
WITH flat AS (
    SELECT t.i AS dim,
           CAST(embedding[t.i] AS DOUBLE) AS x
    FROM embeddings, unnest(range(1, 65)) AS t(i)
),
per AS (
    SELECT dim, count(*) AS n,
           SUM(CAST(x AS DECIMAL(18,12))) AS s,
           SUM(CAST(x * x AS DECIMAL(18,12))) AS ss
    FROM flat GROUP BY dim
),
d1 AS (
    SELECT n, ss, CAST(s AS DOUBLE) / n AS mu FROM per
),
d2 AS (
    SELECT n, ss,
           CAST(mu * mu AS DECIMAL(18,12)) AS mu2,
           CAST(CAST(ss AS DOUBLE) / n - mu * mu
                AS DECIMAL(18,12)) AS vr
    FROM d1
)
SELECT CAST(MAX(n) AS BIGINT) AS n,
       CAST(count(*) AS BIGINT) AS dim,
       CAST(SUM(ss) AS DOUBLE) / MAX(n) AS mean_sq_norm,
       CAST(SUM(mu2) AS DOUBLE) AS mu_sq_norm,
       CAST(SUM(mu2) AS DOUBLE)
           / (CAST(SUM(ss) AS DOUBLE) / MAX(n))
           AS common_direction_energy,
       CAST(SUM(vr) AS DOUBLE) AS var_total,
       CAST(MAX(vr) AS DOUBLE) / CAST(SUM(vr) AS DOUBLE)
           AS var_max_share
FROM d2
"""


@register(
    "embedding_anisotropy_common_direction",
    oracle=ANISOTROPY_ORACLE,
    tags=("similarity", "statistics"),
)
def embedding_anisotropy_common_direction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Anisotropy audit of the embedding space: the common-direction
    energy ‖μ‖² / E[‖x‖²] (the share of total vector energy sitting in
    the single mean direction — the quantity "All-but-the-top" (Mu &
    Viswanath, ICLR 2018) shows dominates trained embeddings and hurts
    cosine retrieval) plus the per-dimension variance concentration
    (max-dim share of total variance).  High common-direction energy ⇒
    cosines are inflated toward 1 and the ANN/semdedup thresholds in
    this module need recalibration or mean-centering first — this is
    the one-row go/no-go that decides it.

    Exactness: per-dim Σx and Σx² ride the DECIMAL(18,12) quantized
    sums (order-independent); every division is float-on-exact-
    decimal-operands with the IDENTICAL nesting in both engines; the
    64-row final fold re-quantizes μ² and variance to decimal before
    summing, so the one output row is bit-identical cross-engine.

    Scale: one 64× pipelined row expansion (no shuffle) → 64-group
    map-side-combined aggregate → 64-row driver-sized fold.  Nothing
    here depends on corpus size except the one linear scan; the mean
    vector this flags for removal is exactly what the PCA family
    (embedding_top_pc_power_iteration) then extracts."""
    flat = _flat(fanout(table(spark, sf_dir, "embeddings")))
    per = flat.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(_DEC)).alias("s"),
        F.sum((F.col("x") * F.col("x")).cast(_DEC)).alias("ss"),
    )
    d1 = per.select(
        "n", "ss", (F.col("s").cast("double") / F.col("n")).alias("mu")
    )
    d2 = d1.select(
        "n",
        "ss",
        (F.col("mu") * F.col("mu")).cast(_DEC).alias("mu2"),
        (F.col("ss").cast("double") / F.col("n") - F.col("mu") * F.col("mu"))
        .cast(_DEC)
        .alias("vr"),
    )
    return d2.agg(
        F.max("n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("dim"),
        (F.sum("ss").cast("double") / F.max("n")).alias("mean_sq_norm"),
        F.sum("mu2").cast("double").alias("mu_sq_norm"),
        (
            F.sum("mu2").cast("double")
            / (F.sum("ss").cast("double") / F.max("n"))
        ).alias("common_direction_energy"),
        F.sum("vr").cast("double").alias("var_total"),
        (F.max("vr").cast("double") / F.sum("vr").cast("double")).alias(
            "var_max_share"
        ),
    )


# ---------------------------------------------------------------------------
# Embedding norm tail audit: VaR/ES + Hill index of squared L2 norms
# ---------------------------------------------------------------------------

#: Upper-tail level for the norm VaR/ES: ceil(alpha * n), alpha = 19/20.
NORM_TAIL_NUM, NORM_TAIL_DEN = 19, 20
#: Hill order-statistic count over the largest squared norms.
NORM_HILL_K = 25
#: Near-zero squared-norm threshold (exact decimal literal — a vector
#: this small is a collapsed/zero embedding).
NORM_ZERO_SQ = "0.000001"

NORM_TAIL_ORACLE = f"""
WITH v AS (
    SELECT vec_id,
           list_aggregate(list_transform(range(1, 65),
               i -> CAST(CAST(embedding[i] AS DOUBLE)
                         * CAST(embedding[i] AS DOUBLE)
                         AS DECIMAL(18,12))), 'sum') AS n2
    FROM embeddings
),
idx AS MATERIALIZED (
    SELECT vec_id, n2,
           row_number() OVER (ORDER BY n2, vec_id) AS r,
           count(*) OVER () AS n
    FROM v
),
tail AS (
    SELECT CAST(MAX(n) AS BIGINT) AS n_vecs,
           MAX(CASE WHEN r = (n * {NORM_TAIL_NUM} + {NORM_TAIL_DEN} - 1)
                             // {NORM_TAIL_DEN}
                    THEN CAST(n2 AS DOUBLE) END) AS var95,
           CAST(SUM(CASE WHEN r >= (n * {NORM_TAIL_NUM}
                                    + {NORM_TAIL_DEN} - 1)
                                   // {NORM_TAIL_DEN}
                         THEN CAST(n2 AS DECIMAL(38,12)) END)
                AS DOUBLE)
               / CAST(SUM(CASE WHEN r >= (n * {NORM_TAIL_NUM}
                                          + {NORM_TAIL_DEN} - 1)
                                         // {NORM_TAIL_DEN}
                               THEN 1 ELSE 0 END) AS DOUBLE) AS es95,
           CAST(SUM(CASE WHEN n2 < CAST({NORM_ZERO_SQ}
                                        AS DECIMAL(18,12))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_near_zero
    FROM idx
),
hill AS (
    SELECT SUM(CASE WHEN n - r + 1 <= {NORM_HILL_K}
                    THEN CAST(round(ln(CAST(n2 AS DOUBLE)), 12)
                              AS DECIMAL(28,12)) END) AS sum_ln_top,
           MAX(CASE WHEN n - r + 1 = {NORM_HILL_K} + 1
                    THEN round(ln(CAST(n2 AS DOUBLE)), 12)
               END) AS ln_xk1
    FROM idx WHERE CAST(n2 AS DOUBLE) > 0
)
SELECT t.n_vecs, t.var95, t.es95, t.n_near_zero,
       CAST(t.n_near_zero AS DOUBLE) / CAST(t.n_vecs AS DOUBLE)
           AS near_zero_share,
       CAST(h.sum_ln_top AS DOUBLE) / {NORM_HILL_K} - h.ln_xk1
           AS hill_h,
       1.0 / (CAST(h.sum_ln_top AS DOUBLE) / {NORM_HILL_K} - h.ln_xk1)
           AS hill_alpha
FROM tail t CROSS JOIN hill h
"""


@register(
    "embedding_norm_tail_audit",
    oracle=NORM_TAIL_ORACLE,
    tags=("similarity", "embedding", "tails", "quality"),
)
def embedding_norm_tail_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tail audit of the embedding squared-L2-norm distribution:
    upper-tail VaR(0.95)/expected shortfall, the Hill index over the
    {NORM_HILL_K} largest norms, and the collapsed-vector share
    (||x||^2 below an exact decimal epsilon).  Norm outliers are the
    embedding-space failure modes that break cosine ANN — huge-norm
    vectors dominate inner-product retrieval and near-zero vectors
    make cosine undefined — so the tail readout belongs beside the
    hubness and anisotropy audits.  Working on SQUARED norms avoids
    any sqrt: the statistics are order-isomorphic (Hill alpha of n2
    is exactly half the alpha of the norm — stated so readers don't
    misread the scale).

    Exactness: n2 is the house per-term DECIMAL(18,12) quantized sum
    (the ``dist2_exact`` kernel applied to the vector with itself);
    VaR/Hill ranks are exact integer ceil-ranks over the (n2, vec_id)
    total order; ES averages an exact DECIMAL(38,12) tail sum with
    one final double division; ln enters only through the round-12
    double convention.

    Scale: the engine-side rank is frontier.global_rank(
    mode="distributed") — range-partitioned two-phase, no single-task
    sort (the frontier rule); both aggregates are map-side combined;
    the output is one row."""
    from kafka_stream_processing_spark.operators.frontier import (
        global_rank,
    )

    v = fanout(table(spark, sf_dir, "embeddings")).select(
        "vec_id",
        dist2_exact(
            F.col("embedding").cast("array<double>"),
            F.array([F.lit(0.0)] * 64),
        ).alias("n2"),
    )
    ranked = global_rank(
        v, [F.col("n2"), F.col("vec_id")], mode="distributed",
        rank_name="r",
    )
    n_df = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    idx = ranked.crossJoin(F.broadcast(n_df))
    k = F.expr(
        f"(n * {NORM_TAIL_NUM} + {NORM_TAIL_DEN} - 1)"
        f" div {NORM_TAIL_DEN}"
    )
    in_tail = F.col("r") >= k
    tail = idx.agg(
        F.max("n").cast("bigint").alias("n_vecs"),
        F.max(
            F.when(F.col("r") == k, F.col("n2").cast("double"))
        ).alias("var95"),
        (
            F.sum(
                F.when(in_tail, F.col("n2").cast("decimal(38,12)"))
            ).cast("double")
            / F.sum(F.when(in_tail, 1).otherwise(0)).cast("double")
        ).alias("es95"),
        F.sum(
            F.when(
                F.col("n2")
                < F.expr(
                    f"CAST({NORM_ZERO_SQ} AS DECIMAL(18,12))"
                ),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_near_zero"),
    )
    ln12 = F.round(F.log(F.col("n2").cast("double")), 12)
    hill = (
        idx.filter(F.col("n2").cast("double") > 0)
        .agg(
            F.sum(
                F.when(
                    F.col("n") - F.col("r") + 1 <= NORM_HILL_K,
                    ln12.cast("decimal(28,12)"),
                )
            ).alias("sum_ln_top"),
            F.max(
                F.when(
                    F.col("n") - F.col("r") + 1 == NORM_HILL_K + 1,
                    ln12,
                )
            ).alias("ln_xk1"),
        )
    )
    h = (
        F.col("sum_ln_top").cast("double") / F.lit(NORM_HILL_K)
        - F.col("ln_xk1")
    )
    return tail.crossJoin(F.broadcast(hill)).select(
        "n_vecs",
        "var95",
        "es95",
        "n_near_zero",
        (
            F.col("n_near_zero").cast("double")
            / F.col("n_vecs").cast("double")
        ).alias("near_zero_share"),
        h.alias("hill_h"),
        (F.lit(1.0) / h).alias("hill_alpha"),
    )


# ---------------------------------------------------------------------------
# ANN ranking quality by rank distance (Fagin's top-k footrule)
# ---------------------------------------------------------------------------

#: Top-k list length shared by the exact and IVF rankers, and the
#: "missing" placement rank (k+1) of Fagin/Kumar/Sivakumar's F^(k+1)
#: footrule extension for comparing top-k lists that need not contain
#: the same items (Comparing Top k Lists, SIAM J. Discrete Math 2003).
ANN_RANK_K = 10
#: Max footrule distance between two disjoint top-k lists:
#: 2·Σ_{i=1..k}(k+1−i) = k(k+1).
ANN_RANK_MAXF = ANN_RANK_K * (ANN_RANK_K + 1)


@register(
    "similarity_rank_distance_ann_eval",
    oracle=f"""
    WITH exact_l AS (
        SELECT * FROM ({BF_TOPK_ORACLE})
    ),
    approx_l AS (
        SELECT * FROM ({IVF_TOPK_ORACLE})
    ),
    er AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS re
        FROM exact_l
    ),
    ar AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS ra
        FROM approx_l
    ),
    j AS (
        SELECT COALESCE(e.query_id, a.query_id) AS query_id,
               e.re AS re, a.ra AS ra
        FROM er e FULL OUTER JOIN ar a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    )
    SELECT query_id,
           CAST(SUM(CASE WHEN re IS NOT NULL AND ra IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
           CAST(SUM(abs(COALESCE(re, {ANN_RANK_K + 1})
                        - COALESCE(ra, {ANN_RANK_K + 1}))) AS BIGINT)
               AS footrule,
           CAST(SUM(abs(COALESCE(re, {ANN_RANK_K + 1})
                        - COALESCE(ra, {ANN_RANK_K + 1}))) AS DOUBLE)
               / {ANN_RANK_MAXF}.0E0 AS nfd
    FROM j
    GROUP BY query_id
    ORDER BY query_id
    """,
    tags=("similarity", "eval"),
)
def similarity_rank_distance_ann_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RANK-distance quality of the IVF index vs exact search — the
    ordering-sensitive complement of the recall@k harness
    (similarity_ann_recall_eval measures SET overlap; two indexes
    with identical recall can still order survivors very differently,
    which is what a reranker or a user actually sees).  Per query:
    Fagin's F^(k+1) footrule between the exact brute-force top-10 and
    the IVF-probed top-10 — each list ranked by (cosine DESC,
    neighbor_id), items absent from the other list placed at rank
    k+1 — plus the raw overlap count and the footrule normalized by
    its disjoint-lists maximum k(k+1).

    Exactness: ranks are integers from the same deterministic
    (cosine, neighbor_id) orderings both base ops pin; the footrule
    sum is pure BIGINT; nfd divides by a small integer constant —
    nothing float-fragile anywhere.

    Scale: reuses both registered ANN kernels (broadcast query side —
    the corpus never shuffles); the rank join touches 2·|Q|·k rows —
    driver-trivial at any corpus size since |Q| is the eval query set,
    not the corpus."""
    exact = similarity_bruteforce_topk(spark, sf_dir)
    approx = similarity_ivf_probed_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", "cosine"
    )
    # Both lists hold at most ANN_RANK_K rows per query: the cut only ranks.
    er = _top_k(exact, ANN_RANK_K, F.col("cosine").desc()).select(
        "query_id", "neighbor_id", F.col("rn").alias("re")
    )
    ar = _top_k(approx, ANN_RANK_K, F.col("cosine").desc()).select(
        "query_id", "neighbor_id", F.col("rn").alias("ra")
    )
    miss = F.lit(ANN_RANK_K + 1)
    j = er.join(ar, ["query_id", "neighbor_id"], "full_outer")
    dist = F.abs(
        F.coalesce(F.col("re"), miss) - F.coalesce(F.col("ra"), miss)
    )
    return (
        j.groupBy("query_id")
        .agg(
            F.sum(
                F.when(
                    F.col("re").isNotNull() & F.col("ra").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_overlap"),
            F.sum(dist).cast("bigint").alias("footrule"),
            (
                F.sum(dist).cast("double") / F.lit(float(ANN_RANK_MAXF))
            ).alias("nfd"),
        )
        .orderBy("query_id")
    )
