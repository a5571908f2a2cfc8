"""Three-decade scale probe for the graph-algorithm family (round 5).

The round-2 probe (tools/scale_probe.py) measured ONE decade on the
TPC-H-derived KNOWS graph. This probe synthesizes a skew-degree directed
graph at THREE decades — 100k / 1M / 10M edges — with structure held
CONSTANT per node as the graph grows (fixed mean out-degree, fixed hub
fraction, ring backbone so everything is one component), so wall time
should track data ~linearly for the round-bounded algorithms; a
superlinear bend is an operator problem, not a fixture artifact.

Fixture shape per rung (n nodes, 10n edge draws before self-loop/dup
removal): 20% of edges land on the n/1000 hub nodes (the web/social
shape that punishes naive triangle joins), the rest on near-neighbors;
plus the (i → i+1 mod n) ring.

Measured: PageRank (10 supersteps), connected components (alternating
star contraction), triangle count (canonical-edge join), k-core peel
(k=2 to fixpoint).

Usage: python tools/graph_scale_probe.py [base_nodes] [rungs]
(defaults 10_000 and 3 → 100k / 1M / 10M edge draws).
Each algorithm is timed by ``isolated_probe.gated_passes`` (min of the
passes accepted by bench.py's two-axis calibration gate). Prints one
markdown row per (algorithm, rung) for PLANS.md.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from isolated_probe import _calib_gate, gated_passes  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def synth_graph(spark, n_nodes: int, deg: int = 10):
    """Deterministic skew-degree graph: (nodes, edges) localCheckpointed.

    20% of draws target the hub set (n/1000 nodes), 80% a near-neighbor;
    self-loops dropped, duplicates kept (the algorithms canonicalize /
    distinct internally where their semantics require it) — plus the
    ring backbone (one giant component, diameter n: the star-contraction
    stress case)."""
    par = spark.sparkContext.defaultParallelism
    n_hubs = max(n_nodes // 1000, 1)
    e = spark.range(n_nodes * deg).repartition(par)
    src = (F.col("id") % n_nodes).alias("src")
    h = F.abs(F.hash(F.col("id").cast("string"))).cast("long")
    dst = (
        F.when(h % 5 == 0, h % n_hubs)
        .otherwise((F.col("id") % n_nodes + 1 + h % 97) % n_nodes)
        .cast("long")
        .alias("dst")
    )
    ring = spark.range(n_nodes).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n_nodes).alias("dst")
    )
    edges = (
        e.select(src, dst)
        .filter(F.col("src") != F.col("dst"))
        .unionByName(ring)
        .localCheckpoint(eager=True)
    )
    nodes = spark.range(n_nodes).select(F.col("id")).localCheckpoint(
        eager=True
    )
    return nodes, edges


def main() -> None:
    base = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    rungs = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from rs_graphdb_spark.algorithms.graph_algos import (
        connected_components,
        k_core,
        pagerank,
        triangle_count,
    )
    from rs_graphdb_spark.session import get_spark

    spark = get_spark("graph-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    gate = _calib_gate()

    for r in range(rungs):
        n = base * 10 ** r
        nodes, edges = synth_graph(spark, n)
        ne = edges.count()

        def probe(tag, fn):
            rows = []
            res = gated_passes(spark.sparkContext, tag,
                               lambda: rows.append(fn().count()), gate)
            print(
                f"| {tag} | {n:,} nodes / {ne:,} edges | {rows[-1]:,} rows"
                f" | {res['min']:.1f} s |",
                flush=True,
            )

        probe("PageRank 10 iters", lambda: pagerank(nodes, edges, 0.85, 10))
        probe("connected components", lambda: connected_components(nodes, edges))
        probe("triangle count", lambda: triangle_count(edges))
        probe("k-core k=2", lambda: k_core(nodes, edges, k=2))
        nodes.unpersist()
        edges.unpersist()


if __name__ == "__main__":
    main()
