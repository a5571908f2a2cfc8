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
plan (SURVEY.md §4.3.1). A loop with a convergence test checkpoints every
superstep and reads the new state's row count off that checkpoint's own
job (``pyspark.sql.Observation``), so the test costs no job of its own:
the Pregelix way of ending on an unchanged state (VLDB 2014).

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

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

CHECKPOINT_EVERY = 5


def pregel(
    vertices: DataFrame,
    edges: DataFrame,
    msg_expr: Column,
    agg_msg: Callable[[Column], Column],
    update: Callable[[DataFrame, DataFrame], DataFrame],
    max_iter: int,
    until_converged: Callable[[int, int], bool] | None = None,
) -> DataFrame:
    """Generic BSP loop.

    vertices: (id, <state cols>); edges: (src, dst, ...). Both are read
    once per superstep, so callers pass materialized frames.
    msg_expr: built from src-state and edge columns, evaluated on
    vertices⋈edges; agg_msg: aggregator over ``msg`` per dst; update:
    (vertices, messages(id, agg)) → new vertices. ``until_converged``
    (old row count, new row count) → bool stops early; the new state is
    then checkpointed every superstep and its row count observed on that
    checkpoint, so only the input's count is a job of its own.
    """
    n_old = None if until_converged is None else vertices.count()
    for i in range(max_iter):
        msgs = (
            vertices.join(edges, vertices["id"] == edges["src"])
            .select(F.col("dst").alias("id"), msg_expr.alias("msg"))
            .groupBy("id")
            .agg(agg_msg(F.col("msg")).alias("agg"))
        )
        new_vertices = update(vertices, msgs)
        if until_converged is not None:
            rows = Observation()
            new_vertices = new_vertices.observe(
                rows, F.count(F.lit(1)).alias("n")
            ).localCheckpoint(eager=True)
            n_new = rows.get["n"]
            if until_converged(n_old, n_new):
                return new_vertices
            n_old = n_new
        elif (i + 1) % CHECKPOINT_EVERY == 0 or i == max_iter - 1:
            new_vertices = new_vertices.localCheckpoint(eager=True)
        vertices = new_vertices
    return vertices
