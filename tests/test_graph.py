"""Invariants for the iterative graph operators (clustering components
already have oracle parity; these pin the algebraic properties)."""

from __future__ import annotations

import random
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from kafka_stream_processing_spark import registry
from kafka_stream_processing_spark.operators.clustering import (
    MAX_ITERATIONS,
    _blocked_components,
    connected_components,
)

SPECS = registry.all_specs()


def test_pagerank_bounds_and_conservation(spark, sf_small):
    """Every rank is at least the teleport mass; total mass never
    exceeds 1 (our formulation drops dangling mass rather than
    redistributing it, so sum <= 1); the nation set is complete."""
    rows = SPECS["graph_pagerank_trade"].fn(spark, sf_small).collect()
    assert len(rows) == 25
    total = sum(r.pagerank for r in rows)
    assert all(r.pagerank >= 0.006 - 1e-12 for r in rows)
    assert total <= 1.0 + 1e-9
    # Guaranteed floor is the teleport mass alone (25 * 0.006): damped
    # inflow can decay arbitrarily through dangling-mass loss.
    assert total >= 0.15 - 1e-9


def test_components_labels_are_canonical_members(spark, sf_small):
    """Each cluster id is the minimum doc_id of its own cluster, and
    every member's cluster_size agrees."""
    rows = SPECS["dedup_cluster_components"].fn(spark, sf_small).collect()
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        ids = sorted(m.doc_id for m in members)
        assert ids[0] == cid, (cid, ids[:3])
        assert {m.cluster_size for m in members} == {len(members)}


def _path_edges(spark, n: int):
    return spark.range(n - 1, numPartitions=1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )


def _long_values(spark, rows, names: str):
    """``rows`` as an inline VALUES table of longs: planned in the JVM and
    run without Python workers (a parallelized list on the test session
    is a Python RDD with one worker per partition)."""
    values = ", ".join(
        "(" + ", ".join(f"CAST({v} AS BIGINT)" for v in r) + ")" for r in rows
    )
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({names})")


def _union_find(edges) -> dict[int, int]:
    """Each endpoint of ``edges`` → the minimum node of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@contextmanager
def _sql_conf(spark, **conf):
    """Session SQL confs set for the block, restored (or unset) after."""
    before = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _jobs_in_group(spark, group: str, action) -> int:
    """Spark jobs that ``action()`` submits, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        for key in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
            sc.setLocalProperty(f"spark.{key}", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_connected_components_path_at_cap_converges(spark):
    """A 15-node path needs 14 rounds to carry label 0 to its far end and
    a 15th to see no change: it converges exactly at MAX_ITERATIONS."""
    rows = connected_components(_path_edges(spark, 15), "src", "dst").collect()
    assert sorted(r.node for r in rows) == list(range(15))
    assert {r.label for r in rows} == {0}


def test_connected_components_path_past_cap_raises(spark):
    """One node more and round 15 still changes a label: the cap holds."""
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_path_edges(spark, 16), "src", "dst").collect()


#: Several components, duplicate edges, both directions, src > dst and
#: an input self-loop.
_MIXED_EDGES = [
    (1, 2), (2, 1), (2, 3), (3, 2), (1, 2),  # duplicates, both ways
    (9, 4), (7, 4), (8, 9),  # src > dst
    (20, 20),  # self-loop only
    (30, 31), (32, 31), (33, 32), (30, 33),  # a cycle
    (100, 50), (50, 60), (60, 55),
]


def test_connected_components_matches_union_find(spark):
    """Several components, duplicate edges, both directions, src > dst
    and an input self-loop: labels equal a Python union-find's minimum."""
    want = _union_find(_MIXED_EDGES)
    df = _long_values(spark, _MIXED_EDGES, "src, dst")
    got = {
        r.node: r.label
        for r in connected_components(df, "src", "dst").collect()
    }
    assert got == want


def test_connected_components_job_count_guard(spark):
    """Rounds are grouped into one Spark action each, with the fixpoint
    flag counted by that action: the 15-node path (15 rounds) must stay
    well under the one-checkpoint-plus-one-check-per-round job count
    (185 jobs on Spark 4.1 with 8 shuffle partitions)."""
    edges = _path_edges(spark, 15)
    n_jobs = _jobs_in_group(
        spark,
        "connected_components_job_count_guard",
        lambda: connected_components(edges, "src", "dst").collect(),
    )
    assert 0 < n_jobs < 93, n_jobs


def test_blocked_components_match_union_find(spark):
    """The blocked closure labels every node with its component's
    minimum, as a Python union-find does, with no round cap: a 40-node
    chain in one block (more rounds than MAX_ITERATIONS, where the
    min-label kernel raises), a cycle, duplicate and reversed edges, a
    self-loop and a seeded random graph, in several blocks.  The blocks
    are closed once all in one shuffle partition and once spread over
    eight."""
    chain = [(i + 1, i) for i in range(39)]  # reversed: 1→0, 2→1, ...
    assert len(chain) > MAX_ITERATIONS  # rounds min-label would need
    rng = random.Random(7)
    scatter = [(rng.randrange(40), rng.randrange(40)) for _ in range(30)]
    blocks = {0: chain, 1: _MIXED_EDGES[:5], 2: _MIXED_EDGES[5:9],
              3: _MIXED_EDGES[9:13], 4: _MIXED_EDGES[13:], 5: scatter}
    edges = _long_values(
        spark,
        [(k + 1000 * b, a + 1000 * b, b) for b, es in blocks.items()
         for k, a in es],
        "src, dst, blk",
    )
    want = _union_find(
        (k + 1000 * b, a + 1000 * b) for b, es in blocks.items()
        for k, a in es
    )
    layouts = (
        {"spark.sql.shuffle.partitions": "1"},
        {"spark.sql.shuffle.partitions": "8",
         "spark.sql.adaptive.coalescePartitions.enabled": "false"},
    )
    spread = []
    for conf in layouts:
        with _sql_conf(spark, **conf):
            comp = _blocked_components(edges, "blk", "src", "dst")
            rows = comp.select(
                "node", "label", F.spark_partition_id().alias("pid")
            ).collect()
        assert {r.node: r.label for r in rows} == want
        assert len(rows) == len(want)
        spread.append(len({r.pid for r in rows}))
    assert spread[0] == 1 and spread[1] > 1, spread


def test_entity_resolution_builds_without_a_spark_job(spark, sf_small):
    """Building the entity-resolution frame runs no Spark job: the
    blocked closure is part of the lazy plan, so the caller's one action
    runs the whole pass (no checkpoint or convergence count while
    building).  The forced action's job count is not pinned: AQE varies
    it across repeats."""
    fn = SPECS["dedup_entity_resolution_parts"].fn
    n_jobs = _jobs_in_group(
        spark, "entity_resolution_build", lambda: fn(spark, sf_small)
    )
    assert n_jobs == 0


def test_graph_operators_share_one_trade_edge_join():
    """The trade-edge join lives in one kernel (``_trade_pairs``); a
    second lineitem scan in operators/graph.py is a hand copy of it."""
    import inspect

    from kafka_stream_processing_spark.operators import graph

    source = inspect.getsource(graph)
    assert source.count('table(spark, sf_dir, "lineitem")') == 1


def test_bfs_from_source_is_the_all_pairs_case_of_its_source(spark, sf_small):
    """Single-source BFS is the one-seed case of the all-sources loop:
    its rows are the ``_all_pairs_hops`` rows of that source."""
    from kafka_stream_processing_spark.operators import graph

    single = SPECS["graph_bfs_hops_from_source"].fn(spark, sf_small).collect()
    pairs = graph._all_pairs_hops(spark, sf_small).collect()
    source = min(r.src for r in pairs)
    want = sorted((r.node, r.hops) for r in pairs if r.src == source)
    assert sorted((r.node, r.hops) for r in single) == want
    assert len(want) > 1
