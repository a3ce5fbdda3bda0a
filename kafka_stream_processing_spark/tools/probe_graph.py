"""Probe the graph iteration kernels on the synthetic 10⁴-node graph.

VERDICT r13 item 4: the registered graph ops are oracle-checked on the
bounded 25-node nation trade graph; this probe MEASURES (instead of
docstring-asserting) that the shared iteration kernels hold their
documented plan shapes and scale sub-quadratically when the graph is
~400× the node count and ~200× the edge count.

What runs (on the exact kernel functions the registered ops call —
`graph._ktruss_decompose` and `graph._ppr_power_iterate`, factored in
r14 precisely so this probe cannot drift from the product path):

- **k-truss peeling** at TRUSS_ROUNDS rounds: each round is the
  x<y<z triangle three-way self-join (cost Σ deg², NOT |V|² — the
  scale argument under test) plus an integer filter.
- **PPR power iteration** at PPR_ITERATIONS rounds: each round is one
  hash join of edge fractions against the rank table plus a map-side
  combined sum.

Assertions (hard failures, not prints):
- no CartesianProduct / BroadcastNestedLoopJoin anywhere in either
  executed plan;
- results are sane: nonempty truss output, PPR mass within (0, 1+α].

Noop-forced timing per probe_x10's protocol (count() lets Catalyst
prune branches — the r10 lesson), best of 2 warm runs.

Usage:
    python -m kafka_stream_processing_spark.tools.probe_graph \
        [--graph-dir /tmp/kssp_graph] [--sf-dir /root/testdata/sf0.1]

Stage the graph first:  python -m kafka_stream_processing_spark.tools.stage_graph
"""

from __future__ import annotations

import sys
import time

from pyspark.sql import functions as F

from kafka_stream_processing_spark.tools.probe_x10 import force


def _timed(label: str, build, checks) -> float:
    """Best-of-2 warm noop-forced wall clock; runs plan + sanity
    checks once on the warm frame."""
    df = build()
    force(df)  # warm
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{label}: CartesianProduct"
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"{label}: BroadcastNestedLoopJoin"
    )
    checks(df)
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        force(build())
        best = min(best, time.time() - t0)
    print(f"{label}: {best:.2f} s", flush=True)
    return best


def main(graph_dir: str, sf_dir: str) -> None:
    from kafka_stream_processing_spark.operators.graph import (
        PPR_ALPHA,
        _edge_fractions,
        _ktruss_decompose,
        _ppr_power_iterate,
        _sig_adj_df,
        _symmetric,
        _trade_frac_df,
    )
    from kafka_stream_processing_spark.session import get_spark
    from kafka_stream_processing_spark.sources.tables import table

    spark = get_spark("kssp-graph-probe", cpus=32, shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    edges = spark.read.parquet(f"{graph_dir}/graph_edges.parquet")
    nodes = spark.read.parquet(f"{graph_dir}/graph_nodes.parquet")
    n_nodes, n_edges = nodes.count(), edges.count()
    print(f"synthetic graph: {n_nodes} nodes, {n_edges} edges", flush=True)

    # --- k-truss ---------------------------------------------------
    def truss_checks(df) -> None:
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("in_truss").cast("int")).alias("kept"),
        ).collect()[0]
        assert agg.n == n_edges, (agg.n, n_edges)
        assert 0 < agg.kept < n_edges, agg.kept
        print(f"  truss kept {agg.kept}/{agg.n} edges", flush=True)

    adj_syn = (
        edges.select("a", "b").localCheckpoint(eager=True)
    )
    t_truss_syn = _timed(
        "ktruss synthetic(10k nodes)",
        lambda: _ktruss_decompose(adj_syn),
        truss_checks,
    )
    adj_nat = _sig_adj_df(spark, sf_dir)
    t_truss_nat = _timed(
        "ktruss nation(25 nodes)",
        lambda: _ktruss_decompose(adj_nat),
        lambda df: None,
    )

    # --- PPR -------------------------------------------------------
    def ppr_checks(df) -> None:
        agg = df.agg(
            F.count(F.lit(1)).alias("n"), F.sum("r").alias("mass")
        ).collect()[0]
        assert agg.n == n_nodes, (agg.n, n_nodes)
        # damped sum: mass ∈ (0, 1+α]; leaks through dangling nodes
        assert 0.0 < agg.mass <= 1.0 + PPR_ALPHA, agg.mass
        print(f"  ppr mass {agg.mass:.6f} over {agg.n} nodes", flush=True)

    # Directed view: each undirected edge both ways, w-weighted, through
    # the same edge-fraction kernel as the registered ops.
    frac_syn = _edge_fractions(_symmetric(edges, "w").toDF("src", "dst", "w"))
    t_ppr_syn = _timed(
        "ppr synthetic(10k nodes)",
        lambda: _ppr_power_iterate(nodes, frac_syn),
        ppr_checks,
    )
    frac_nat = _trade_frac_df(spark, sf_dir)
    nodes_nat = table(spark, sf_dir, "nation").select(
        F.col("n_name").alias("node")
    )
    t_ppr_nat = _timed(
        "ppr nation(25 nodes)",
        lambda: _ppr_power_iterate(nodes_nat, frac_nat),
        lambda df: None,
    )

    print(
        f"SUMMARY nodes x{n_nodes / 25:.0f}: "
        f"ktruss {t_truss_syn / t_truss_nat:.1f}x wall | "
        f"ppr {t_ppr_syn / t_ppr_nat:.1f}x wall",
        flush=True,
    )


def parse_argv(argv: list[str]) -> tuple[str, str]:
    graph_dir, sf_dir = "/tmp/kssp_graph", "/root/testdata/sf0.1"
    it = iter(argv)
    for a in it:
        if a == "--graph-dir":
            graph_dir = next(it)
        elif a == "--sf-dir":
            sf_dir = next(it)
        else:
            raise SystemExit(f"unknown arg {a}")
    return graph_dir, sf_dir


if __name__ == "__main__":
    g, s = parse_argv(sys.argv[1:])
    main(g, s)
