"""Graph algorithms as iterative DataFrame programs (SURVEY.md §2.12).

Each mirrors a reference algorithm's *semantics*; the execution is
DataFrame-Pregel / canonical-edge joins, never adjacency HashMaps.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from rs_graphdb_spark.algorithms.pregel import pregel


def _undirected(edges: DataFrame) -> DataFrame:
    """Symmetrize an edge list: both directions, self-loops dropped,
    deduped — the reference's undirected neighbor-set view
    (`src/algorithms/triangle.rs:46-108`)."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return (
        fwd.unionByName(rev)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _rank_update(teleport: Column, damping: float):
    """PageRank-family ``pregel`` update: rank = teleport + d·Σ msgs."""

    def update(vs: DataFrame, msgs: DataFrame) -> DataFrame:
        return (
            vs.drop("rank")
            .join(msgs, "id", "left")
            .withColumn(
                "rank", teleport + F.lit(damping) * F.coalesce("agg", F.lit(0.0))
            )
            .drop("agg")
        )

    return update


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 20,
    weight_col: str | None = None,
) -> DataFrame:
    """PageRank (`/root/reference/src/algorithms/pagerank.rs:9-65`):
    uniform 1/n init, pull along in-edges, rank = (1−d)/n + d·Σ rank/out_deg,
    fixed iteration count, final sum-normalization. Returns (id, rank).

    ``weight_col`` switches to weighted PageRank: a message carries
    rank · w / Σw_out(src) instead of rank / out_deg (the unweighted code
    path is untouched — identical arithmetic, identical oracle hashes).

    Runs on ``pregel``: one shuffle per superstep (the groupBy(dst));
    out-degrees precomputed once and carried in the vertex state.
    """
    n = nodes.count()
    if weight_col is not None:
        edges = edges.select(
            "src", "dst", F.col(weight_col).cast("double").alias("_w")
        ).localCheckpoint(eager=True)
        # weights must be strictly positive: a NULL weight would NULL the
        # per-src sum (silently vanishing that node's rank mass) and a
        # non-positive total flips message signs (r2 advice #3). One cheap
        # agg over the already-checkpointed edges.
        bad = edges.filter(
            F.col("_w").isNull() | F.isnan("_w") | (F.col("_w") <= 0)
        ).limit(1).count()
        if bad:
            raise ValueError(
                f"pagerank: weight_col {weight_col!r} contains NULL/NaN/"
                "non-positive values; weights must be strictly positive"
            )
        out_deg = edges.groupBy("src").agg(F.sum("_w").alias("out_deg"))
    else:
        edges = edges.select("src", "dst").localCheckpoint(eager=True)
        out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    # state: (id, rank, out_deg) — carrying out_deg avoids a per-iter join
    state = (
        nodes.select("id")
        .join(out_deg, nodes["id"] == out_deg["src"], "left")
        .select("id", F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
        .withColumn("rank", F.lit(1.0 / n))
        .localCheckpoint(eager=True)
    )
    msg = F.col("rank") / F.col("out_deg")
    if weight_col is not None:
        msg = F.col("rank") * F.col("_w") / F.col("out_deg")
    state = pregel(state, edges, msg, F.sum,
                   _rank_update(F.lit((1.0 - damping) / n), damping), iterations)
    total = state.agg(F.sum("rank")).first()[0]
    return state.select("id", (F.col("rank") / F.lit(total)).alias("rank"))


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 30
) -> DataFrame:
    """Undirected connected components (`src/algorithms/community.rs:6-52`)
    via alternating large-star / small-star contractions — the published
    MapReduce CC algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14). Returns (id, component) with
    component = min node id in the component.

    Why not per-edge min-label propagation: that needs O(diameter) rounds
    — on a 100 TB graph with chain-like regions that is millions of rounds
    (and a round cap silently truncates labels mid-flight). Star
    contractions converge in O(log) alternations regardless of diameter:
    large-star hangs every strictly-larger neighbor of u under
    min(N(u) ∪ {u}); small-star re-hangs u and its smaller neighbors under
    the same minimum; the edge set contracts toward a star forest rooted
    at each component's minimum. 30 alternations covers > 2^30-node
    components; if the cap ever fires we raise instead of returning a
    half-contracted forest.

    Convergence signature sums run in DECIMAL(38,0): with 64-bit id
    namespaces a BIGINT sum overflows at ~10^6 rows and ANSI mode turns
    that into a job-killing ARITHMETIC_OVERFLOW (found by the 10× scale
    probe, PLANS.md). The signature, and the first edge set's emptiness,
    are observed on the checkpoint jobs (``Observation``) instead of
    being jobs of their own.
    """
    first = Observation()
    e = (
        _undirected(edges)
        .filter(F.col("src") != F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
        .observe(first, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )

    def _dec(c):
        return F.sum(F.col(c).cast("decimal(38,0)"))

    # pair-sensitive convergence signature: count + per-column sums
    # alone can collide (two child→parent pairs swapping parents keeps
    # all three), so also sum an order-independent per-ROW hash of
    # (u, v) — any change to the edge multiset moves it (r2 advice #2)
    pair_hash = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col("u"), F.col("v"))), 1, 12),
        16,
        10,
    ).cast("decimal(38,0)")
    signature = (
        F.count(F.lit(1)).alias("n"),
        _dec("u").alias("su"),
        _dec("v").alias("sv"),
        F.sum(pair_hash).alias("sh"),
    )
    prev = None
    converged = first.get["n"] == 0
    for _ in range(max_rounds):
        if converged:
            break
        # large-star: (v, m) for every neighbor v > u, m = min(N(u) ∪ {u})
        und = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = und.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("u", "mn").alias("m")
        )
        e = (
            und.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star: canonicalize u > v, re-hang u and its smaller
        # neighbors under the minimum
        dir_e = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = dir_e.groupBy("u").agg(F.min("v").alias("m"))
        sig = Observation()
        e = (
            dir_e.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .observe(sig, *signature)
            .localCheckpoint(eager=True)
        )
        cur = tuple(sig.get[k] for k in ("n", "su", "sv", "sh"))
        if cur == prev:
            converged = True
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components did not stabilize in max_rounds={max_rounds} "
            "alternations (bound is logarithmic in component size — raise it)"
        )
    comp_map = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    return (
        nodes.select("id")
        .join(comp_map, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count (`src/algorithms/triangle.rs:46-108`):
    canonical-edge (a<b) self-join — each triangle counted exactly once
    via a<b<c ordering. Returns a 1-row DataFrame (n_triangles)."""
    canon = (
        _undirected(edges)
        .filter(F.col("src") < F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e1 = canon.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = canon.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = canon.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    return (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count("*").alias("n_triangles"))
    )


def per_node_triangles(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation (`src/algorithms/triangle.rs:110-159`).
    Returns (id, n_triangles) for nodes in ≥1 triangle."""
    canon = (
        _undirected(edges)
        .filter(F.col("src") < F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e1 = canon.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = canon.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = canon.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tris = e1.join(e2, "b").join(e3, ["a", "c"])
    ids = (
        tris.select(F.col("a").alias("id"))
        .unionByName(tris.select(F.col("b").alias("id")))
        .unionByName(tris.select(F.col("c").alias("id")))
    )
    return ids.groupBy("id").agg(F.count("*").alias("n_triangles"))


def clustering_coefficient(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Local clustering coefficient 2T/(d(d−1))
    (`src/algorithms/triangle.rs:204-316`). Returns (id, coefficient)."""
    und = _undirected(edges).localCheckpoint(eager=True)
    deg = und.groupBy("src").agg(F.count("*").alias("deg")).withColumnRenamed(
        "src", "id"
    )
    tri = per_node_triangles(edges)
    return (
        nodes.select("id")
        .join(deg, "id", "left")
        .join(tri, "id", "left")
        .select(
            "id",
            F.when(
                F.coalesce("deg", F.lit(0)) >= 2,
                2.0
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
            )
            .otherwise(0.0)
            .alias("coefficient"),
        )
    )


def degree_centrality(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(in+out degree)/(n−1) (`src/algorithms/centrality.rs:6-30`)."""
    n = nodes.count()
    out_d = edges.groupBy("src").agg(F.count("*").alias("od"))
    in_d = edges.groupBy("dst").agg(F.count("*").alias("idg"))
    return (
        nodes.select("id")
        .join(out_d, nodes["id"] == out_d["src"], "left")
        .join(in_d, nodes["id"] == in_d["dst"], "left")
        .select(
            "id",
            (
                (F.coalesce("od", F.lit(0)) + F.coalesce("idg", F.lit(0)))
                / F.lit(float(n - 1))
            ).alias("centrality"),
        )
    )


def k_core(nodes: DataFrame, edges: DataFrame, k: int, max_iter: int = 100
           ) -> DataFrame:
    """k-core via iterative peeling (`src/algorithms/kcore.rs:60-156`):
    repeatedly drop nodes with undirected degree < k. Returns surviving
    (id, degree) where degree is within the core."""
    und = _undirected(edges).localCheckpoint(eager=True)
    alive = nodes.select(
        "id", F.lit(None).cast("long").alias("degree")
    ).localCheckpoint(eager=True)

    def peel(vs: DataFrame, msgs: DataFrame) -> DataFrame:
        # msgs.agg = number of live neighbors (und is symmetric)
        return (
            vs.join(msgs, "id", "left")
            .filter(F.coalesce("agg", F.lit(0)) >= k)
            .select("id", F.col("agg").alias("degree"))
        )

    def stable(n_old: int, n_new: int) -> bool:
        return n_new == n_old or n_new == 0

    return pregel(alive, und, F.lit(1), F.count, peel, max_iter, stable)


def label_propagation(
    nodes: DataFrame, edges: DataFrame, iterations: int = 10
) -> DataFrame:
    """Community detection by synchronous label propagation — the
    reference's "Louvain" is exactly this greedy neighbor-majority move
    with no modularity term (`src/algorithms/louvain.rs:6-86`).
    Deterministic tie-break: (count desc, label asc) — ``F.mode`` with
    ``deterministic=True`` returns the lowest of the most frequent labels.
    Returns (id, community)."""
    und = _undirected(edges).localCheckpoint(eager=True)
    labels = nodes.select("id").withColumn("community", F.col("id")).localCheckpoint(
        eager=True
    )
    return pregel(
        labels, und, F.col("community"), lambda c: F.mode(c, True),
        lambda vs, msgs: vs.join(msgs, "id", "left").select(
            "id", F.coalesce("agg", "community").alias("community")),
        iterations,
    )


def strongly_connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    max_rounds: int = 64,
    max_prop_iters: int = 64,
) -> DataFrame:
    """SCC via the distributed coloring algorithm — the documented
    substitution for the reference's Kosaraju DFS
    (`/root/reference/src/algorithms/scc.rs:58-158`): DFS finish order does
    not distribute, forward/backward reachability does (SURVEY.md §2.12).

    Per round over the unassigned induced subgraph:
      0. TRIM: iteratively peel nodes with no in-edges or no out-edges
         within the remaining subgraph — each is provably a singleton SCC
         (it cannot lie on any cycle). On DAG-ish graphs this resolves
         almost everything without a single coloring round; without it the
         coloring loop can burn one round per singleton (the standard
         FW-BW-Trim refinement of the coloring algorithm);
      1. forward max-id propagation to fixpoint → color(v) = max id that
         reaches v;
      2. roots r with color(r) == r;
      3. backward sweep from roots restricted to same-color nodes — those
         reached form SCC(r).
    Iteration count is bounded by component diameter; every frontier is
    localCheckpoint'ed to cut lineage (SURVEY.md §4.3.1).

    Returns (id, scc) with scc = max member id.
    """
    e_all = edges.select("src", "dst").dropDuplicates().localCheckpoint(eager=True)
    remaining = nodes.select("id").localCheckpoint(eager=True)
    out: DataFrame | None = None

    for _ in range(max_rounds):
        if remaining.isEmpty():
            break
        # trim: nodes outside both endpoint sets of the remaining-induced
        # edge relation can't be on a cycle → singleton SCCs. Peeled a
        # bounded number of sweeps (each peel exposes new trivial nodes;
        # a pathological pure-chain DAG would otherwise turn the peel
        # itself into an O(length) driver loop — leftovers just fall
        # through to the coloring sweep, which handles them correctly).
        for _ in range(8):
            e_rem = (
                e_all.join(remaining.withColumnRenamed("id", "src"), "src")
                .join(remaining.withColumnRenamed("id", "dst"), "dst")
            )
            has_out = e_rem.select(F.col("src").alias("id")).dropDuplicates()
            has_in = e_rem.select(F.col("dst").alias("id")).dropDuplicates()
            cyclic = has_out.join(has_in, "id", "inner").localCheckpoint(eager=True)
            trivial = remaining.join(cyclic, "id", "left_anti")
            if trivial.isEmpty():
                break
            singles = trivial.select("id", F.col("id").alias("scc"))
            out = (
                singles if out is None else out.unionByName(singles)
            ).localCheckpoint(eager=True)
            remaining = cyclic
        if remaining.isEmpty():
            break
        e = (
            e_all.join(remaining.withColumnRenamed("id", "src"), "src")
            .join(remaining.withColumnRenamed("id", "dst"), "dst")
            .localCheckpoint(eager=True)
        )
        colors = remaining.withColumn("color", F.col("id"))
        for _ in range(max_prop_iters):
            msgs = (
                colors.join(e, colors["id"] == e["src"])
                .select(F.col("dst").alias("id"), "color")
            )
            upd = (
                colors.select("id", "color").unionByName(msgs)
                .groupBy("id").agg(F.max("color").alias("color"))
                .localCheckpoint(eager=True)
            )
            changed = (
                upd.join(colors.withColumnRenamed("color", "old"), "id")
                .filter(F.col("color") != F.col("old"))
            )
            colors = upd
            if changed.isEmpty():
                break
        # backward sweep from roots within same-color territory
        member = (
            colors.filter(F.col("color") == F.col("id"))
            .select("id", F.col("color").alias("scc"))
            .localCheckpoint(eager=True)
        )
        frontier = member
        while True:
            prev = (
                frontier.join(e, frontier["id"] == e["dst"])
                .select(F.col("src").alias("id"), "scc")
                .join(colors, "id")
                .filter(F.col("color") == F.col("scc"))
                .select("id", "scc")
                .join(member, "id", "left_anti")
                .dropDuplicates(["id"])
                .localCheckpoint(eager=True)
            )
            if prev.isEmpty():
                break
            member = member.unionByName(prev).localCheckpoint(eager=True)
            frontier = prev
        out = member if out is None else out.unionByName(member)
        remaining = remaining.join(member, "id", "left_anti").localCheckpoint(
            eager=True
        )
    # Every round peels ≥1 SCC, so termination is guaranteed; if the cap
    # still fires (adversarial chain needing >max_rounds), refuse to return
    # a silently incomplete assignment.
    if not remaining.isEmpty():
        raise RuntimeError(
            f"SCC did not assign all nodes within max_rounds={max_rounds}; "
            "raise max_rounds (each round resolves at least one component)"
        )
    return out if out is not None else nodes.select("id", F.col("id").alias("scc"))


def betweenness_sampled(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 6,
) -> DataFrame:
    """Sampled-source Brandes betweenness on DataFrames.

    Reference betweenness is a per-source simplified path count
    (`/root/reference/src/algorithms/centrality.rs:33-112`); we implement
    proper Brandes dependency accumulation over a source SAMPLE (the
    standard scale approach — exact per included source), truncated at
    ``max_depth``. Forward pass: level-synchronous BFS carrying σ (number
    of shortest paths), keyed by (source, node) so all sources run in ONE
    set of jobs rather than |S| sequential BFS runs. Backward pass: Brandes
    δ(v) = Σ_children σ_v/σ_w (1+δ(w)), one join per level.

    Returns (id, bc) for nodes with bc > 0.
    """
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    lvl = (
        sources.select(F.col("id").alias("s"))
        .withColumn("v", F.col("s"))
        .withColumn("sigma", F.lit(1).cast("long"))
        .localCheckpoint(eager=True)
    )
    levels = [lvl]
    seen = lvl.select("s", "v").localCheckpoint(eager=True)
    for _ in range(max_depth):
        nxt = (
            levels[-1].join(e, F.col("v") == F.col("src"))
            .select("s", F.col("dst").alias("v"), "sigma")
            .join(seen, ["s", "v"], "left_anti")
            .groupBy("s", "v").agg(F.sum("sigma").alias("sigma"))
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        levels.append(nxt)
        seen = seen.unionByName(nxt.select("s", "v")).localCheckpoint(eager=True)

    delta = levels[-1].select(
        "s", "v", F.lit(0.0).alias("delta")
    )
    acc: DataFrame | None = None
    for d in range(len(levels) - 1, 0, -1):
        child = (
            levels[d].join(delta, ["s", "v"], "left_outer")
            .fillna(0.0, subset=["delta"])
            .select("s", "v", "sigma", "delta")
        )
        parent_delta = (
            child.join(e, child["v"] == e["dst"])
            .select("s", F.col("src").alias("pv"), "sigma", "delta")
            .join(
                levels[d - 1].select("s", F.col("v").alias("pv"),
                                     F.col("sigma").alias("psigma")),
                ["s", "pv"],
            )
            .select(
                "s", F.col("pv").alias("v"),
                (F.col("psigma") / F.col("sigma") * (1 + F.col("delta"))).alias("c"),
            )
            .groupBy("s", "v").agg(F.sum("c").alias("delta"))
            .localCheckpoint(eager=True)
        )
        contrib = parent_delta.filter(F.col("v") != F.col("s"))
        acc = contrib if acc is None else acc.unionByName(contrib)
        delta = parent_delta
    if acc is None:
        from rs_graphdb_spark.session import local_df

        return local_df(edges.sparkSession, [], "id long, bc double")
    return (
        acc.groupBy(F.col("v").alias("id"))
        .agg(F.sum("delta").alias("bc"))
        .filter(F.col("bc") > 1e-12)
    )


def collect_edge_list(
    edges_df: DataFrame, max_edges: int = 100_000
) -> list[tuple[int, int]]:
    """Size-guarded driver-side materialization of an edge set for the
    inherently-sequential algorithms (A*, DFS preorder).

    The guard runs BEFORE ``collect()``: ``limit(max+1).count()`` touches at
    most max+1 rows executor-side, so a too-large subgraph raises without
    ever shipping rows to the driver (at 100× scale the collect itself
    would OOM the driver before any in-Python guard could fire).
    """
    if edges_df.limit(max_edges + 1).count() > max_edges:
        raise ValueError(
            f"subgraph too large for driver-side algorithm (> {max_edges} edges); "
            "use the distributed analogs (weighted_shortest_paths / bfs_layers)"
        )
    return [(r[0], r[1]) for r in edges_df.select("src", "dst").collect()]


def dfs_preorder(
    edges_rows: list[tuple[int, int]], start: int, max_nodes: int = 100_000
) -> list[int]:
    """DFS preorder on a COLLECTED subgraph — DFS order is inherently
    sequential (reference `src/algorithms/traversal.rs:61-138`), so it runs
    driver-side with a size guard, matching the reference's own small-graph
    guidance (`ALGORITHMS.md:171-184`). Neighbors visit in ascending id
    order for determinism."""
    if len(edges_rows) > max_nodes:
        raise ValueError(f"subgraph too large for driver-side DFS ({len(edges_rows)} edges)")
    adj: dict[int, list[int]] = {}
    for s, d in edges_rows:
        adj.setdefault(s, []).append(d)
    for vs in adj.values():
        vs.sort()
    order: list[int] = []
    seen: set[int] = set()
    stack = [start]
    while stack:
        v = stack.pop()
        if v in seen:
            continue
        seen.add(v)
        order.append(v)
        stack.extend(reversed(adj.get(v, [])))
    return order


def astar(
    edges_rows: list[tuple[int, int]],
    coords: dict[int, tuple[float, float]],
    start: int,
    goal: int,
    heuristic=None,
    cost_fn=None,
    max_nodes: int = 100_000,
):
    """A* on a COLLECTED subgraph with user-supplied Python heuristic /
    cost callables — the reference's only UDF surface
    (`/root/reference/src/algorithms/astar.rs:82-217`; euclidean /
    manhattan variants `:219-283`). Priority-queue search is inherently
    sequential, so this runs driver-side under a size guard; the
    distributed analog for big graphs is `weighted_shortest_paths`.

    Returns (cost, path) or None if unreachable.
    """
    import heapq
    import math

    if len(edges_rows) > max_nodes:
        raise ValueError("subgraph too large for driver-side A*")

    def _euclid(a: int, b: int) -> float:
        (x1, y1), (x2, y2) = coords[a], coords[b]
        return math.sqrt((x1 - x2) ** 2 + (y1 - y2) ** 2)

    h = heuristic or (lambda v: _euclid(v, goal))
    c = cost_fn or _euclid
    adj: dict[int, list[int]] = {}
    for s, d in edges_rows:
        adj.setdefault(s, []).append(d)
    best: dict[int, float] = {start: 0.0}
    parent: dict[int, int] = {}
    pq = [(h(start), start)]
    while pq:
        _, v = heapq.heappop(pq)
        if v == goal:
            path = [v]
            while path[-1] != start:
                path.append(parent[path[-1]])
            return best[v], path[::-1]
        for w in adj.get(v, ()):
            g2 = best[v] + c(v, w)
            if g2 < best.get(w, float("inf")):
                best[w] = g2
                parent[w] = v
                heapq.heappush(pq, (g2 + h(w), w))
    return None


def max_core_number(nodes: DataFrame, edges: DataFrame, k_max: int = 64) -> int:
    """Largest k with a non-empty k-core (reference ``max_core_number``,
    `src/algorithms/kcore.rs:195-210`). Driver loop over ``k_core`` with
    doubling+binary search: O(log k_max) peels instead of the reference's
    linear scan — each peel is the distributed operator above."""
    if nodes.isEmpty() or edges.isEmpty():
        return 0
    # exponential probe: find first empty k
    lo, hi = 1, 2
    while hi <= k_max and not k_core(nodes, edges, hi).isEmpty():
        lo, hi = hi, hi * 2
    if hi > k_max:
        return k_max
    # invariant: k_core(lo) non-empty, k_core(hi) empty
    while hi - lo > 1:
        mid = (lo + hi) // 2
        if k_core(nodes, edges, mid).isEmpty():
            hi = mid
        else:
            lo = mid
    return lo


def personalized_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    source_ids: DataFrame,
    damping: float = 0.85,
    iterations: int = 20,
) -> DataFrame:
    """Personalized PageRank (beyond-reference variant of ``pagerank``):
    the teleport vector is uniform over ``source_ids`` instead of all
    nodes, so rank mass concentrates in the sources' neighborhoods —
    the standard seed-expansion / recommendation primitive.

    Same plan shape as ``pagerank``: one shuffle per superstep, state
    carries out-degree, teleport column joined once up front."""
    n_src = source_ids.count()
    if n_src == 0:
        raise ValueError("personalized_pagerank needs at least one source")
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    teleport = source_ids.select("id").withColumn("p", F.lit(1.0 / n_src))
    state = (
        nodes.select("id")
        .join(out_deg, nodes["id"] == out_deg["src"], "left")
        .select("id", F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
        .join(teleport, "id", "left")
        .withColumn("p", F.coalesce("p", F.lit(0.0)))
        .withColumn("rank", F.col("p"))
        .localCheckpoint(eager=True)
    )
    state = pregel(state, edges, F.col("rank") / F.col("out_deg"), F.sum,
                   _rank_update((1.0 - damping) * F.col("p"), damping), iterations)
    total = state.agg(F.sum("rank")).first()[0] or 1.0
    return state.select("id", (F.col("rank") / total).alias("rank"))


def hits(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 10,
) -> DataFrame:
    """HITS hubs-and-authorities (beyond-reference companion to
    ``pagerank``): authority = sum of in-neighbor hub scores, hub = sum
    of out-neighbor authority scores, L1-normalized each superstep (L1
    keeps the oracle exact — no sqrt). Returns (id, hub, authority).

    Two shuffles per superstep (one per direction), state carried in a
    single frame like ``pagerank``."""
    edges = edges.select("src", "dst").localCheckpoint(eager=True)
    state = (
        nodes.select("id")
        .withColumn("hub", F.lit(1.0))
        .withColumn("auth", F.lit(1.0))
        .localCheckpoint(eager=True)
    )
    for i in range(iterations):
        auth_msgs = (
            state.join(edges, state["id"] == edges["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("a_new"))
        )
        # normalization totals stay IN the plan (crossJoin with a 1-row
        # agg) — a .first() here would block the driver twice per superstep
        state = (
            state.drop("auth")
            .join(auth_msgs, "id", "left")
            .withColumn("auth", F.coalesce("a_new", F.lit(0.0)))
            .drop("a_new")
        )
        a_tot = state.agg(F.sum("auth").alias("_t"))
        state = state.crossJoin(a_tot).withColumn(
            "auth", F.col("auth") / F.when(F.col("_t") == 0, 1.0).otherwise(F.col("_t"))
        ).drop("_t")
        hub_msgs = (
            state.join(edges, state["id"] == edges["dst"])
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("auth").alias("h_new"))
        )
        state = (
            state.drop("hub")
            .join(hub_msgs, "id", "left")
            .withColumn("hub", F.coalesce("h_new", F.lit(0.0)))
            .drop("h_new")
        )
        h_tot = state.agg(F.sum("hub").alias("_t"))
        state = state.crossJoin(h_tot).withColumn(
            "hub", F.col("hub") / F.when(F.col("_t") == 0, 1.0).otherwise(F.col("_t"))
        ).drop("_t")
        if (i + 1) % 2 == 0 or i == iterations - 1:
            state = state.localCheckpoint(eager=True)
    return state.select("id", "hub", F.col("auth").alias("authority"))


def node_similarity(edges: DataFrame, min_jaccard: float = 0.0) -> DataFrame:
    """Neighbor-set Jaccard between node pairs (the standard graph
    node-similarity / link-prediction primitive; beyond-reference).
    Returns (a, b, jaccard) for a < b sharing >= 1 undirected neighbor.

    Sparse formulation: pairs materialize ONLY via a shared-neighbor
    equi-join (shuffle key = the common neighbor), never all-pairs —
    same shape as the n-gram similarity join, so hub nodes are the skew
    axis (cap or sample super-hub adjacency at 100 TB)."""
    und = _undirected(edges).localCheckpoint(eager=True)
    deg = und.groupBy("src").agg(F.count("*").alias("n"))
    inter = (
        und.alias("x")
        .join(
            und.alias("y"),
            (F.col("x.dst") == F.col("y.dst")) & (F.col("x.src") < F.col("y.src")),
        )
        .groupBy(F.col("x.src").alias("a"), F.col("y.src").alias("b"))
        .agg(F.count("*").alias("i"))
    )
    na = deg.select(F.col("src").alias("a"), F.col("n").alias("na"))
    nb = deg.select(F.col("src").alias("b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "a").join(nb, "b")
        .select(
            "a", "b",
            (F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def adamic_adar(edges: DataFrame) -> DataFrame:
    """Adamic–Adar link-prediction score: for each pair (a, b) with >= 1
    common undirected neighbor z, score = sum 1/ln(deg(z)) — rare shared
    neighbors count more. Same sparse shared-neighbor join as
    ``node_similarity``. Returns (a, b, score)."""
    und = _undirected(edges).localCheckpoint(eager=True)
    deg = und.groupBy("src").agg(F.count("*").alias("n"))
    # deg-1 neighbors can never be COMMON neighbors (need two members),
    # and 1/ln(1) divides by zero under ANSI — drop them before the join
    wz = und.join(deg.filter(F.col("n") >= 2), "src").select(
        F.col("dst").alias("member"),
        F.col("src").alias("z"),
        (1.0 / F.log(F.col("n"))).alias("w"),
    )
    return (
        wz.alias("x")
        .join(
            wz.alias("y"),
            (F.col("x.z") == F.col("y.z"))
            & (F.col("x.member") < F.col("y.member")),
        )
        .groupBy(F.col("x.member").alias("a"), F.col("y.member").alias("b"))
        .agg(F.sum(F.col("x.w")).alias("score"))
    )
