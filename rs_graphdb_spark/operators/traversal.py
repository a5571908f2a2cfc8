"""Variable-length traversal as driver-side iterative DataFrame loops.

Reference: `Query::out_variable_length` (`/root/reference/src/query.rs:171-218`),
`in_variable_length` (`:228-275`), `undirected_variable_length` (`:285-354`) —
BFS expansion with a visited set, collecting nodes whose BFS depth falls in
``[min_hops, max_hops]``.

Semantics here: **BFS distance from the start SET** (min over start nodes) —
the reference shares one visited set across start nodes, so its results are
iteration-order dependent (SURVEY.md §3.4 quirk #6); set-distance is the
order-independent formalization.

Scale notes: each level is one self-join + anti-join; `localCheckpoint`
every ``CHECKPOINT_EVERY`` levels cuts lineage growth; the frontier is
deduped per level so the working set is bounded by |V|, not by path count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rs_graphdb_spark.algorithms.pregel import CHECKPOINT_EVERY
from rs_graphdb_spark.graph import PropertyGraph

#: bounded expansions at or below this depth compose one lazy plan (no
#: per-level checkpoints / emptiness probes — see `expand`); deeper or
#: unbounded expansions run the eager `bfs_distances` loop.
_LAZY_MAX_HOPS = 3


def _edges_for(graph: PropertyGraph, rel_type: str, direction: str):
    es = graph.edges[rel_type]
    if direction == "out":
        return es.df.select("src", "dst"), es.dst_label
    if direction == "in":
        r = es.reversed()
        return r.df.select("src", "dst"), r.dst_label
    if direction == "both":
        if es.src_label != es.dst_label:
            raise ValueError("undirected traversal needs a homogeneous edge set")
        fwd = es.df.select("src", "dst")
        return fwd.unionByName(
            es.df.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ), es.dst_label
    raise ValueError(f"direction must be out/in/both, got {direction!r}")


def expand(
    graph: PropertyGraph,
    frontier_ids: DataFrame,
    rel_type: str,
    min_hops: int,
    max_hops: int | None,
    direction: str = "out",
) -> tuple[DataFrame, str | None]:
    """Nodes at BFS distance in [min_hops, max_hops] from the start set.

    ``frontier_ids``: single-column ``id`` DataFrame. ``max_hops=None``
    means expand to fixpoint (reference `*n..` forms). Returns
    (ids DataFrame, reached label) — label is None only for min_hops == 0
    on a heterogeneous chain where start/target labels differ.
    """
    edges, dst_label = _edges_for(graph, rel_type, direction)
    es = graph.edges[rel_type]
    homogeneous = es.src_label == es.dst_label

    # Shallow bounded expansions (*1..2 and friends): build ONE lazy plan
    # instead of the eager per-level loop. The loop costs ~4 driver-
    # synchronized jobs per level (edge materialization, level checkpoint,
    # emptiness probe, visited union) — pure latency for depths the plan
    # optimizer handles fine; lineage depth is bounded by the hop count so
    # checkpointing buys nothing, and an empty level just unions an empty
    # frame (the early break is an optimization, not a semantics change).
    # The edge frame is referenced max_hops times (≤3 scans of the source
    # parquet) instead of being materialized once — cheaper on both ends.
    if max_hops is not None and max_hops <= _LAZY_MAX_HOPS:
        start = frontier_ids.select("id").dropDuplicates(["id"])
        visited = start
        current = start
        result = start if min_hops == 0 else None
        for depth in range(1, max_hops + 1):
            nxt = (
                current.join(edges, current["id"] == edges["src"])
                .select(F.col("dst").alias("id"))
                .dropDuplicates(["id"])
                .join(visited, "id", "left_anti")
            )
            visited = visited.unionByName(nxt)
            if depth >= min_hops:
                result = nxt if result is None else result.unionByName(nxt)
            current = nxt
            if not homogeneous:
                break
        if result is None:
            result = start.limit(0)
        out_label = dst_label if (min_hops > 0 or homogeneous) else None
        return result.dropDuplicates(["id"]), out_label

    # Deeper or unbounded: the eager BFS loop, whose per-level checkpoints
    # bound lineage and whose emptiness test terminates the fixpoint.
    # Heterogeneous single-rel chains exhaust after one hop.
    dists = bfs_distances(graph, frontier_ids, rel_type, direction,
                          max_hops if homogeneous else 1)
    out_label = dst_label if (min_hops > 0 or homogeneous) else None
    return dists.filter(F.col("dist") >= min_hops).select("id"), out_label


def bfs_distances(
    graph: PropertyGraph,
    start_ids: DataFrame,
    rel_type: str,
    direction: str = "out",
    max_depth: int | None = None,
    stop_at: DataFrame | None = None,
) -> DataFrame:
    """BFS layering: (id, dist) for every reachable node.

    Reference `bfs_shortest_path` (`src/algorithms/shortest_path.rs:326-403`)
    generalized to all-targets; ``stop_at`` enables early exit once any
    target id is reached (has_path / point-to-point shortest path).
    """
    edges, _ = _edges_for(graph, rel_type, direction)
    edges = edges.localCheckpoint(eager=True)
    visited = start_ids.select("id").dropDuplicates(["id"]).withColumn(
        "dist", F.lit(0)
    ).localCheckpoint(eager=True)
    current = visited.select("id")
    depth = 0
    while max_depth is None or depth < max_depth:
        depth += 1
        nxt = (
            current.join(edges, current["id"] == edges["src"])
            .select(F.col("dst").alias("id"))
            .dropDuplicates(["id"])
            .join(visited.select("id"), "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt.withColumn("dist", F.lit(depth)))
        if depth % CHECKPOINT_EVERY == 0:
            visited = visited.localCheckpoint(eager=True)
        if stop_at is not None and not nxt.join(stop_at, "id").isEmpty():
            break
        current = nxt
    return visited


def has_path(
    graph: PropertyGraph,
    src_id: int,
    dst_id: int,
    rel_type: str,
    direction: str = "out",
    max_depth: int | None = 64,
) -> bool:
    """Reachability (`src/algorithms/shortest_path.rs:314-323`)."""
    spark = graph.edges[rel_type].df.sparkSession
    # JVM-side one-row literals: a pickled-list relation would re-run a
    # Python worker task on every action over the plan (session.local_df)
    start = spark.range(1).select(F.lit(int(src_id)).cast("long").alias("id"))
    target = spark.range(1).select(F.lit(int(dst_id)).cast("long").alias("id"))
    reached = bfs_distances(graph, start, rel_type, direction, max_depth, target)
    return not reached.join(target, "id").isEmpty()


def shortest_path_length(
    graph: PropertyGraph,
    src_id: int,
    dst_id: int,
    rel_type: str,
    direction: str = "out",
    max_depth: int | None = 64,
) -> int | None:
    """Unweighted shortest-path length — the reference's Dijkstra has all
    edge weights fixed to 1 (`src/algorithms/shortest_path.rs:404-451`), so
    BFS depth IS its answer."""
    spark = graph.edges[rel_type].df.sparkSession
    # JVM-side one-row literals: a pickled-list relation would re-run a
    # Python worker task on every action over the plan (session.local_df)
    start = spark.range(1).select(F.lit(int(src_id)).cast("long").alias("id"))
    target = spark.range(1).select(F.lit(int(dst_id)).cast("long").alias("id"))
    dists = bfs_distances(graph, start, rel_type, direction, max_depth, target)
    row = dists.join(target, "id").select("dist").first()
    return None if row is None else row["dist"]


def shortest_path_counts(
    graph: PropertyGraph,
    start_id: int,
    rel_type: str,
    direction: str = "out",
    max_depth: int | None = 8,
) -> DataFrame:
    """All-shortest-paths counting: (id, dist, n_paths) per reachable node.

    Reference `count_all_shortest_paths`
    (`/root/reference/src/algorithms/shortest_path.rs:282-312`), generalized
    from one target to all targets. Level-synchronous BFS where each level
    carries the number of shortest paths: n_paths(v) = Σ n_paths(u) over
    frontier predecessors u→v. Any shortest walk passes through each
    predecessor at that predecessor's own BFS depth, so per-level summation
    is exact.
    """
    edges, _ = _edges_for(graph, rel_type, direction)
    edges = edges.localCheckpoint(eager=True)
    spark = edges.sparkSession
    current = spark.range(1).select(
        F.lit(int(start_id)).cast("long").alias("id"),
        F.lit(1).cast("long").alias("n_paths"),
    )
    visited = current.withColumn("dist", F.lit(0)).localCheckpoint(eager=True)
    depth = 0
    while max_depth is None or depth < max_depth:
        depth += 1
        nxt = (
            current.join(edges, current["id"] == edges["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("n_paths").alias("n_paths"))
            .join(visited.select("id"), "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(
            nxt.withColumn("dist", F.lit(depth))
        ).localCheckpoint(eager=True)
        current = nxt
    return visited.select("id", "dist", "n_paths")


def all_simple_paths_counts(
    graph: PropertyGraph,
    start_id: int,
    rel_type: str,
    max_depth: int = 5,
    direction: str = "out",
) -> DataFrame:
    """Count cycle-free paths from a start node, grouped by length.

    Reference `all_simple_paths` (`/root/reference/src/algorithms/
    traversal.rs:239-302`): path extension with an ARRAY<LONG> path column
    and `!array_contains(path, next)` as the cycle guard. Path count can be
    exponential — max_depth is the same safety cap as the reference's
    max_depth argument (SURVEY.md §7 "what's hard" #2).
    """
    edges, _ = _edges_for(graph, rel_type, direction)
    edges = edges.localCheckpoint(eager=True)
    spark = edges.sparkSession
    paths = spark.range(1).select(
        F.lit(int(start_id)).cast("long").alias("id"),
        F.array(F.lit(int(start_id)).cast("long")).alias("path"),
    )
    counts: list[tuple[int, int]] = []
    for depth in range(1, max_depth + 1):
        paths = (
            paths.join(edges, paths["id"] == edges["src"])
            .filter(~F.array_contains("path", F.col("dst")))
            .select(
                F.col("dst").alias("id"),
                F.array_append("path", F.col("dst")).alias("path"),
            )
            .localCheckpoint(eager=True)
        )
        n = paths.count()
        if n == 0:
            break
        counts.append((depth, n))
    from rs_graphdb_spark.session import local_df

    return local_df(spark, counts, "depth int, n_paths long")


def weighted_shortest_paths(
    graph: PropertyGraph,
    start_id: int,
    rel_type: str,
    weight: "F.Column",
    direction: str = "out",
    max_iters: int = 32,
) -> DataFrame:
    """Single-source weighted shortest paths (id, cost) by iterative
    relaxation (distributed Bellman-Ford).

    Upgrade over the reference's Dijkstra, which fixes every edge weight
    to 1 (`/root/reference/src/algorithms/shortest_path.rs:404-451`,
    comment at `:404`): a priority queue doesn't distribute, but
    relax-all-edges-per-round does (SURVEY.md §2.12). Converges in
    ≤ longest-shortest-path-hops rounds; stops early at fixpoint.

    ``weight``: Column expression over the edge DataFrame (must be
    non-negative for the fixpoint argument to hold).
    """
    es = graph.edges[rel_type]
    edges = es.df.select("src", "dst", weight.alias("w"))
    if direction == "in":
        edges = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    elif direction == "both":
        edges = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    edges = edges.localCheckpoint(eager=True)
    spark = edges.sparkSession
    dists = spark.range(1).select(
        F.lit(int(start_id)).cast("long").alias("id"),
        F.lit(0).cast("long").alias("cost"),
    ).localCheckpoint(
        eager=True
    )
    for _ in range(max_iters):
        relaxed = (
            dists.join(edges, dists["id"] == edges["src"])
            .select(F.col("dst").alias("id"), (F.col("cost") + F.col("w")).alias("cost"))
        )
        new_dists = (
            dists.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint(eager=True)
        )
        # fixpoint: no node improved and no node added
        improved = new_dists.join(
            dists.withColumnRenamed("cost", "old"), "id", "left_outer"
        ).filter(F.col("old").isNull() | (F.col("cost") < F.col("old")))
        done = improved.isEmpty()
        dists = new_dists
        if done:
            break
    else:
        # The fixpoint argument only holds if relaxation actually converged;
        # returning overestimated costs silently would be wrong.
        raise RuntimeError(
            f"weighted_shortest_paths did not converge in max_iters={max_iters} "
            "rounds; raise max_iters (bound = longest shortest path in hops)"
        )
    return dists


def shortest_path_with_rels(
    edges: DataFrame,
    start: int,
    end: int,
    max_depth: int = 10,
) -> DataFrame:
    """Point-to-point shortest path carrying the full node AND edge-id
    arrays (reference ``shortest_path_with_rels``,
    `src/algorithms/traversal.rs:436-676` — returns ``Path{nodes, rels}``).

    ``edges``: (edge_id, src, dst). Returns one row (path ARRAY<LONG>,
    rels ARRAY<LONG>, hops INT) — the LEXICOGRAPHICALLY SMALLEST of the
    minimum-hop paths, or zero rows if unreachable within ``max_depth``.

    Scale shape: BFS frontier loop, but each level prunes to one best
    (lex-min) candidate path per node — two paths to the same node extend
    identically, so dominated prefixes can never produce a better final
    path. Frontier stays <= |V| rows regardless of path multiplicity
    (all-simple-paths enumeration is the separate, opt-in operator).
    """
    from pyspark.sql import Window

    spark = edges.sparkSession
    edges = edges.select("edge_id", "src", "dst").localCheckpoint(eager=True)
    frontier = spark.range(1).select(
        F.lit(int(start)).cast("long").alias("node"),
        F.array(F.lit(int(start)).cast("long")).alias("path"),
        F.array().cast("array<long>").alias("rels"),
    )
    if start == end:
        return frontier.select(
            "path", "rels", (F.size("path") - 1).alias("hops")
        )
    w = Window.partitionBy("node").orderBy("path", "rels")
    for _ in range(max_depth):
        frontier = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .filter(~F.array_contains("path", F.col("dst")))
            .select(
                F.col("dst").alias("node"),
                F.concat("path", F.array("dst")).alias("path"),
                F.concat("rels", F.array("edge_id")).alias("rels"),
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .localCheckpoint(eager=True)
        )
        if frontier.isEmpty():
            break
        hit = frontier.filter(F.col("node") == end)
        if not hit.isEmpty():
            return hit.select(
                "path", "rels", (F.size("path") - 1).alias("hops")
            )
    return spark.createDataFrame(
        [], "path array<long>, rels array<long>, hops int"
    )


def random_walks(
    edges: DataFrame,
    starts: DataFrame,
    walk_length: int = 10,
    walks_per_node: int = 2,
    seed: str = "w",
) -> DataFrame:
    """Deterministic DeepWalk-style random walks over a directed edge set
    — the graph → embedding-training bridge (walk corpora feed skip-gram /
    node2vec training exactly like token streams feed LLM pretraining).

    Determinism contract (matches the rest of the engine): the "random"
    neighbor choice at ``(node, walk, step)`` is the md5 of the seeded
    triple, mod out-degree, over a dst-sorted neighbor ranking — no RNG,
    so runs are reproducible across clusters AND the DuckDB oracle can
    replay every walk bit-for-bit. Walks stop early at sink nodes.

    Scale shape: one join per step against a ranked-adjacency frame
    (edges + per-src row_number + out-degree, built once and
    checkpointed); the walk frontier is (start, walk, node) — bounded by
    |starts| × walks_per_node rows per step, never path-enumerating.
    Returns (start, walk, step, node) including step 0.
    """
    from pyspark.sql import Window

    from rs_graphdb_spark.functions.dedup import md5_long

    w = Window.partitionBy("src").orderBy("dst")
    adj = (
        edges.select("src", "dst")
        .dropDuplicates()
        .withColumn("_rank", F.row_number().over(w))
        .withColumn("_deg", F.count("*").over(Window.partitionBy("src")))
        .localCheckpoint(eager=True)
    )
    frontier = starts.select(F.col("id").alias("start")).crossJoin(
        F.broadcast(
            starts.sparkSession.range(walks_per_node).select(
                F.col("id").cast("int").alias("walk")
            )
        )
    ).withColumn("node", F.col("start"))
    out = frontier.withColumn("step", F.lit(0))
    for step in range(1, walk_length + 1):
        choice = md5_long(
            F.concat_ws("_", F.lit(seed), F.col("start").cast("string"),
                        F.col("walk").cast("string"), F.lit(str(step)),
                        F.col("node").cast("string"))
        )
        frontier = (
            frontier.join(adj, frontier["node"] == adj["src"])
            .filter(F.col("_rank") == (choice % F.col("_deg")) + 1)
            .select("start", "walk", F.col("dst").alias("node"))
        )
        if step % CHECKPOINT_EVERY == 0:
            frontier = frontier.localCheckpoint(eager=True)
        out = out.unionByName(frontier.withColumn("step", F.lit(step)))
    return out


def sample_neighbors(
    edges: DataFrame,
    seeds: DataFrame,
    fanouts: "list[int]",
    seed: str = "ns",
) -> DataFrame:
    """Deterministic k-hop neighborhood sampling (the GraphSAGE minibatch
    shape): hop h keeps at most ``fanouts[h]`` out-neighbors per frontier
    node, chosen by md5 rank — no RNG, so minibatches reproduce across
    runs/engines and the DuckDB oracle can replay them.

    Returns the sampled edge list (hop, src, dst) with hop 1-based; the
    union of endpoints is the minibatch subgraph. Scale shape: one join +
    one window rank per hop over a checkpointed edge frame; frontier size
    is bounded by seeds × Π fanouts (the caps ARE the point — unbounded
    k-hop expansion over a hub node explodes, sampling doesn't)."""
    from pyspark.sql import Window

    from rs_graphdb_spark.functions.dedup import md5_long

    e = edges.select("src", "dst").dropDuplicates().localCheckpoint(eager=True)
    frontier = seeds.select(F.col("id").alias("node")).dropDuplicates()
    spark = edges.sparkSession
    from rs_graphdb_spark.session import local_df

    out = local_df(spark, [], "hop int, src long, dst long")
    for hop, fanout in enumerate(fanouts, start=1):
        ranked = (
            frontier.join(e, frontier["node"] == e["src"])
            .select("src", "dst")
            .withColumn(
                "_r",
                md5_long(F.concat_ws("_", F.lit(seed), F.lit(str(hop)),
                                     F.col("src").cast("string"),
                                     F.col("dst").cast("string"))),
            )
        )
        w = Window.partitionBy("src").orderBy(F.col("_r").asc(), F.col("dst").asc())
        picked = (
            ranked.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= fanout)
            .select(F.lit(hop).alias("hop"), "src", "dst")
            .localCheckpoint(eager=True)
        )
        out = out.unionByName(picked)
        frontier = picked.select(F.col("dst").alias("node")).dropDuplicates()
    return out


def node2vec_walks(
    edges: DataFrame,
    starts: DataFrame,
    walk_length: int = 10,
    walks_per_node: int = 1,
    p: float = 1.0,
    q: float = 1.0,
    seed: str = "n2v",
) -> DataFrame:
    """Deterministic node2vec walks: like :func:`random_walks` but with
    the 2nd-order p/q bias — from state (prev → node), a candidate next
    hop ``dst`` weighs ``1/p`` when it backtracks (dst == prev), ``1``
    when it stays near (dst adjacent to prev in the undirected view), and
    ``1/q`` otherwise. p > 1 discourages returning, q < 1 encourages
    outward exploration (DFS-like), q > 1 keeps walks local (BFS-like).

    The weighted choice is still RNG-free: u = md5(state)/2^31 picks the
    first candidate (dst-ordered) whose cumulative weight share exceeds
    u — reproducible across runs, clusters, and a driver-side replica.

    Scale shape per step: one join for candidates, one broadcast-able
    left join flagging prev-adjacency, one window cumsum — frontier stays
    at starts × walks rows. Returns (start, walk, step, node).
    """
    from pyspark.sql import Window

    from rs_graphdb_spark.functions.dedup import md5_long

    M = 1 << 31
    e = edges.select("src", "dst").dropDuplicates().localCheckpoint(eager=True)
    und = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates().localCheckpoint(eager=True)

    frontier = starts.select(F.col("id").alias("start")).crossJoin(
        F.broadcast(
            starts.sparkSession.range(walks_per_node).select(
                F.col("id").cast("int").alias("walk")
            )
        )
    ).withColumn("node", F.col("start")).withColumn(
        "prev", F.lit(None).cast("long")
    )
    out = frontier.select("start", "walk", F.lit(0).alias("step"), "node")
    for step in range(1, walk_length + 1):
        cands = frontier.join(e, frontier["node"] == e["src"]).select(
            "start", "walk", "prev", "node", "dst"
        )
        near = und.select(
            F.col("src").alias("dst"), F.col("dst").alias("prev"),
            F.lit(True).alias("_near"),
        )
        cands = cands.join(near, ["dst", "prev"], "left").withColumn(
            "_w",
            F.when(F.col("dst") == F.col("prev"), F.lit(1.0 / p))
            .when(F.col("_near"), F.lit(1.0))
            .otherwise(F.lit(1.0 / q)),
        )
        grp = Window.partitionBy("start", "walk")
        cum_w = grp.orderBy(F.col("dst").asc()).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        u = (
            md5_long(
                F.concat_ws("_", F.lit(seed), F.col("start").cast("string"),
                            F.col("walk").cast("string"), F.lit(str(step)),
                            F.col("node").cast("string"))
            ) % M
        ) / F.lit(float(M))
        picked = (
            cands.withColumn("_cum", F.sum("_w").over(cum_w))
            .withColumn("_tot", F.sum("_w").over(grp))
            .filter(F.col("_cum") > u * F.col("_tot"))
            .withColumn(
                "_rn",
                F.row_number().over(
                    Window.partitionBy("start", "walk").orderBy(F.col("dst").asc())
                ),
            )
            .filter(F.col("_rn") == 1)
            .select("start", "walk", F.col("node").alias("prev"),
                    F.col("dst").alias("node"))
        )
        if step % CHECKPOINT_EVERY == 0:
            picked = picked.localCheckpoint(eager=True)
        frontier = picked
        out = out.unionByName(
            frontier.select("start", "walk", F.lit(step).alias("step"), "node")
        )
    return out
