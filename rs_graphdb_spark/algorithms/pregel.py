"""DataFrame-Pregel: the shared driver-loop harness for vertex-centric
iterative graph algorithms (SURVEY.md §7 phase 4).

Reference algorithms are single-process HashMap loops (e.g. PageRank
`/root/reference/src/algorithms/pagerank.rs:9-65`); the distributed
re-expression is bulk-synchronous message passing over DataFrames:

    messages  = vertices ⋈ edges → groupBy(dst).agg(agg_msg)
    vertices' = vertices ⟕ messages → update expression

Each superstep is one shuffle (the groupBy); vertex state is checkpointed
every ``CHECKPOINT_EVERY`` supersteps and after the last one to truncate
lineage — the standard driver pattern Catalyst cannot express in a single
plan (SURVEY.md §4.3.1).

Callers (``algorithms.graph_algos``): ``pagerank`` (unweighted and
``weight_col``), ``personalized_pagerank``, ``label_propagation`` and
``k_core``. Frontier BFS is the other loop shape and has its own single
loop, ``operators.traversal.bfs_distances`` (``expand`` runs on it).

Not on this harness:

- ``connected_components``: star contraction rewrites the edge set each
  round, so it is not vertex-centric.
- ``hits``: each superstep needs both edge directions.
- SCC coloring and ``weighted_shortest_paths``: each step is a
  union-then-aggregate over vertex state and messages; a port of SCC
  coloring onto ``pregel()`` measured 10-20 % slower on ``SEGMENT_RING``
  because the update needs an extra join.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CHECKPOINT_EVERY = 5


def pregel(
    vertices: DataFrame,
    edges: DataFrame,
    msg_expr: Column,
    agg_msg: Callable[[Column], Column],
    update: Callable[[DataFrame, DataFrame], DataFrame],
    max_iter: int,
    until_converged: Callable[[DataFrame, DataFrame], bool] | None = None,
) -> DataFrame:
    """Generic BSP loop.

    vertices: (id, <state cols>); edges: (src, dst, ...). Both are read
    once per superstep, so callers pass materialized frames.
    msg_expr: built from src-state and edge columns, evaluated on
    vertices⋈edges; agg_msg: aggregator over ``msg`` per dst; update:
    (vertices, messages(id, agg)) → new vertices. ``until_converged``
    (old, new) → bool stops early; the new state is then checkpointed
    every superstep, since the convergence test reads it.
    """
    for i in range(max_iter):
        msgs = (
            vertices.join(edges, vertices["id"] == edges["src"])
            .select(F.col("dst").alias("id"), msg_expr.alias("msg"))
            .groupBy("id")
            .agg(agg_msg(F.col("msg")).alias("agg"))
        )
        new_vertices = update(vertices, msgs)
        if (
            until_converged is not None
            or (i + 1) % CHECKPOINT_EVERY == 0
            or i == max_iter - 1
        ):
            new_vertices = new_vertices.localCheckpoint(eager=True)
        if until_converged is not None and until_converged(vertices, new_vertices):
            return new_vertices
        vertices = new_vertices
    return vertices
