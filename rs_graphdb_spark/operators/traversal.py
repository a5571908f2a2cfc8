"""Hops and variable-length traversal as DataFrame joins and driver loops.

One hop operator serves `Query` and the Cypher compiler, as the
reference's one adjacency step serves its executor and its `Query` API
(`src/storage/mem_store.rs:30-31`): :func:`edges_for` is the one
edge-direction rule, :func:`hop` the one step (or per-row BFS), and
:func:`attach` the one target-join rule.

Reference: `Query::out_variable_length` (`/root/reference/src/query.rs:171-218`),
`in_variable_length` (`:228-275`), `undirected_variable_length` (`:285-354`) —
BFS expansion with a visited set, collecting nodes whose BFS depth falls in
``[min_hops, max_hops]``.

Semantics here: **BFS distance from the start SET** (min over start nodes) —
the reference shares one visited set across start nodes, so its results are
iteration-order dependent (SURVEY.md §3.4 quirk #6); set-distance is the
order-independent formalization. A ``key`` (Cypher binds every origin)
makes it the distance from each key value's own start set.

Scale notes: each level is one self-join + anti-join; `localCheckpoint`
every ``CHECKPOINT_EVERY`` levels cuts lineage growth; the frontier is
deduped per level so the working set is bounded by |V| (per key), not by
path count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rs_graphdb_spark.algorithms.pregel import CHECKPOINT_EVERY
from rs_graphdb_spark.graph import PropertyGraph

#: bounded expansions at or below this depth compose one lazy plan (no
#: per-level checkpoints / emptiness probes — see `expand`); deeper or
#: unbounded expansions run the eager `bfs_distances` loop.
_LAZY_MAX_HOPS = 3


def edges_for(graph: PropertyGraph, rel_type: str, direction: str, cols=()):
    """``rel_type``'s edges as a (src, dst, *cols) frame oriented for
    ``direction`` (out, in or both), and the label at the dst end.
    ``cols`` are edge column names or expressions over the edge table."""
    es = graph.edges[rel_type]
    fwd = es.df.select("src", "dst", *cols)
    rev = es.df.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *cols)
    if direction == "out":
        return fwd, es.dst_label
    if direction == "in":
        return rev, es.src_label
    if direction == "both":
        if es.src_label != es.dst_label:
            raise ValueError("undirected hop needs homogeneous edge type")
        return fwd.unionByName(rev), es.dst_label
    raise ValueError(f"direction must be out/in/both, got {direction!r}")


def match_props(df: DataFrame, props) -> Column:
    """AND of ``col == lit`` over pattern props (key, value). A key the
    table has never seen matches nothing (reference partial-match
    scenario `merge_comprehensive_test.rs:410-430`)."""
    cond = F.lit(True)
    for k, v in props:
        cond = cond & ((F.col(k) == F.lit(v)) if k in df.columns else F.lit(False))
    return cond


def node_frame(graph: PropertyGraph, label: str, prefix: str = "",
               props=()) -> DataFrame:
    """``label``'s node rows matching ``props`` (:func:`match_props`),
    columns renamed ``prefix + name``. A label the graph lacks has no
    rows, only an id column (reference parity: MATCH on a label with no
    store is empty, `tests/with_clause_test.rs:245-257`)."""
    if label not in graph.nodes:
        spark = next(iter(graph.nodes.values())).sparkSession
        return spark.range(0).select(F.col("id").alias(prefix + "id"))
    df = graph.nodes[label]
    if props:
        df = df.filter(match_props(df, props))
    return df.select([F.col(c).alias(prefix + c) for c in df.columns])


def attach(graph: PropertyGraph, frame: DataFrame, label: str,
           prefix: str = "", props=(), needed: bool = False) -> DataFrame:
    """The target-join rule: inner-join ``label``'s node table
    (:func:`node_frame`) to ``frame`` on ``prefix + "id"`` when the caller
    reads its columns (``needed``), ``props`` filter it, or
    ``graph.edge_integrity`` is false — the join then drops dangling
    endpoints and repeats duplicate ids. Under integrity every endpoint
    exists once, so the id-only frame is already exact."""
    if not (needed or props or not graph.edge_integrity):
        return frame
    return frame.join(node_frame(graph, label, prefix, props), prefix + "id")


def hop(graph: PropertyGraph, frame: DataFrame, rel_type: str,
        direction: str = "out", hops=(1, 1), src: str = "id",
        dst: str = "id", edge_cols=()) -> tuple[DataFrame, str]:
    """One pattern step: every row of ``frame`` joined, at its node id in
    column ``src``, to the ``rel_type`` edges in ``direction``. The far
    end lands in column ``dst`` (replacing it when ``dst`` is already a
    column), ``edge_cols`` ride along. ``hops=(lo, hi)`` other than (1, 1)
    binds every node at BFS distance lo..hi (``hi=None``: to fixpoint) from
    the row's own ``src`` id. Returns (frame, far-end label); the far-end
    node table is not joined — see :func:`attach`."""
    edges, label = edges_for(graph, rel_type, direction, edge_cols)
    keep = [c for c in frame.columns if c != dst]
    if hops == (1, 1):
        e = edges.select(F.col("src").alias("__src"),
                         F.col("dst").alias("__dst"), *edge_cols)
        return (frame.join(e, F.col(src) == F.col("__src"))
                .select(F.col("__dst").alias(dst), *edge_cols, *keep)), label
    starts = frame.select(F.col(src).alias("__src"), F.col(src).alias("id"))
    pairs, reached = expand(graph, starts, rel_type, *hops, direction,
                            key=("__src",))
    if reached is None:  # zero hops over a heterogeneous set: drop origins
        pairs = pairs.join(node_frame(graph, label), "id", "left_semi")
    return (frame.join(pairs, F.col(src) == F.col("__src"))
            .select(F.col("id").alias(dst), *keep)), label


def expand(
    graph: PropertyGraph,
    frontier_ids: DataFrame,
    rel_type: str,
    min_hops: int,
    max_hops: int | None,
    direction: str = "out",
    key: tuple[str, ...] = (),
) -> tuple[DataFrame, str | None]:
    """Nodes at BFS distance in [min_hops, max_hops] from the start set.

    ``frontier_ids``: an ``id`` column plus the ``key`` columns; with a
    key, distance is from each key value's own start set and the result
    keeps the key. ``max_hops=None`` means expand to fixpoint (reference
    `*n..` forms). Returns (``key`` + ``id`` DataFrame, reached label) —
    label is None only for min_hops == 0 on a heterogeneous chain where
    start/target labels differ.
    """
    edges, dst_label = edges_for(graph, rel_type, direction)
    es = graph.edges[rel_type]
    homogeneous = es.src_label == es.dst_label
    ids = [*key, "id"]

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
        start = frontier_ids.select(*ids).dropDuplicates(ids)
        visited = start
        current = start
        result = start if min_hops == 0 else None
        for depth in range(1, max_hops + 1):
            nxt = (
                current.join(edges, current["id"] == edges["src"])
                .select(*key, F.col("dst").alias("id"))
                .dropDuplicates(ids)
                .join(visited, ids, "left_anti")
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
        return result.dropDuplicates(ids), out_label

    # Deeper or unbounded: the eager BFS loop, whose per-level checkpoints
    # bound lineage and whose emptiness test terminates the fixpoint.
    # Heterogeneous single-rel chains exhaust after one hop.
    dists = bfs_distances(graph, frontier_ids, rel_type, direction,
                          max_hops if homogeneous else 1, key=key)
    out_label = dst_label if (min_hops > 0 or homogeneous) else None
    return dists.filter(F.col("dist") >= min_hops).select(*ids), out_label


def bfs_distances(
    graph: PropertyGraph,
    start_ids: DataFrame,
    rel_type: str,
    direction: str = "out",
    max_depth: int | None = None,
    stop_at: DataFrame | None = None,
    key: tuple[str, ...] = (),
) -> DataFrame:
    """BFS layering: (*key, id, dist) for every reachable node — per key
    value when ``key`` names columns of ``start_ids`` (see `expand`).

    Reference `bfs_shortest_path` (`src/algorithms/shortest_path.rs:326-403`)
    generalized to all-targets; ``stop_at`` enables early exit once any
    target id is reached (has_path / point-to-point shortest path).
    """
    edges, _ = edges_for(graph, rel_type, direction)
    edges = edges.localCheckpoint(eager=True)
    ids = [*key, "id"]
    visited = start_ids.select(*ids).dropDuplicates(ids).withColumn(
        "dist", F.lit(0)
    ).localCheckpoint(eager=True)
    current = visited.select(*ids)
    depth = 0
    while max_depth is None or depth < max_depth:
        depth += 1
        nxt = (
            current.join(edges, current["id"] == edges["src"])
            .select(*key, F.col("dst").alias("id"))
            .dropDuplicates(ids)
            .join(visited.select(*ids), ids, "left_anti")
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
    return shortest_path_length(graph, src_id, dst_id, rel_type, direction,
                                max_depth) is not None


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
    edges, _ = edges_for(graph, rel_type, direction)
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
    edges, _ = edges_for(graph, rel_type, direction)
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
    edges, _ = edges_for(graph, rel_type, direction, (weight.alias("w"),))
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
