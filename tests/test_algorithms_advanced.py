"""SCC / betweenness / A* / DFS on hand-built micro-graphs with exact
expected outputs (reference test style, SURVEY.md §5)."""

import pytest
from pyspark.sql import functions as F

from rs_graphdb_spark.algorithms.graph_algos import (
    astar,
    betweenness_sampled,
    dfs_preorder,
    strongly_connected_components,
)


def test_scc_two_cycles_and_dag_tail(spark):
    # cycle {1,2,3}, cycle {4,5}, dag node 6 hanging off
    edges = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 4), (3, 6), (6, 4)]
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["scc"] for r in strongly_connected_components(nodes, e).collect()}
    assert got[1] == got[2] == got[3] == 3
    assert got[4] == got[5] == 5
    assert got[6] == 6


def test_betweenness_path_graph(spark):
    # path 1→2→3→4: with all 4 sources, bc(2)=σ-paths through 2 = pairs
    # (1,3),(1,4) → 2; bc(3)= (1,4),(2,4) → 2
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    sources = spark.createDataFrame([(i,) for i in range(1, 5)], "id long")
    got = {r["id"]: r["bc"] for r in betweenness_sampled(e, sources).collect()}
    assert got == {2: 2.0, 3: 2.0}


def test_betweenness_diamond_split(spark):
    # 1→2→4, 1→3→4: two shortest paths; 2 and 3 each carry 1/2
    e = spark.createDataFrame([(1, 2), (1, 3), (2, 4), (3, 4)], "src long, dst long")
    sources = spark.createDataFrame([(1,)], "id long")
    got = {r["id"]: r["bc"] for r in betweenness_sampled(e, sources).collect()}
    assert got == {2: 0.5, 3: 0.5}


def test_astar_euclidean_grid():
    # straight line beats detour
    coords = {1: (0.0, 0.0), 2: (1.0, 0.0), 3: (2.0, 0.0), 4: (1.0, 5.0)}
    edges = [(1, 2), (2, 3), (1, 4), (4, 3)]
    cost, path = astar(edges, coords, 1, 3)
    assert path == [1, 2, 3]
    assert abs(cost - 2.0) < 1e-9


def test_astar_unreachable():
    coords = {1: (0.0, 0.0), 2: (1.0, 0.0)}
    assert astar([(2, 1)], coords, 1, 2) is None


def test_dfs_preorder_order():
    # 1 → {2, 5}; 2 → {3, 4}: preorder visits 2's subtree before 5
    edges = [(1, 5), (1, 2), (2, 4), (2, 3)]
    assert dfs_preorder(edges, 1) == [1, 2, 3, 4, 5]


def test_pregel_min_label_propagation(spark):
    # components via pregel: state = current min label, message = my label,
    # aggregate = min, update = min(state, best incoming)
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from rs_graphdb_spark.algorithms.pregel import pregel

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (5, 6), (6, 5)], "src long, dst long"
    )
    vertices = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 5, 6)], "id long"
    ).withColumn("comp", F.col("id"))

    def update(vs: DataFrame, msgs: DataFrame) -> DataFrame:
        return (
            vs.join(msgs, "id", "left_outer")
            .select("id", F.least(F.col("comp"), F.coalesce("agg", F.col("comp"))).alias("comp"))
        )

    out = pregel(
        vertices, edges,
        msg_expr=F.col("comp"),
        agg_msg=F.min,
        update=update,
        max_iter=5,
    )
    got = {r["id"]: r["comp"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_personalized_pagerank_concentrates_on_seed(spark):
    from rs_graphdb_spark.algorithms.graph_algos import personalized_pagerank

    # chain 1 -> 2 -> 3 plus isolated 9; seed {1}
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 9)], "id long")
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "id long")
    r = {row.id: row.rank for row in
         personalized_pagerank(nodes, edges, seeds, iterations=20).collect()}
    assert r[1] > r[2] > r[3] > 0
    assert r[9] == 0.0                       # unreachable from the seed
    assert abs(sum(r.values()) - 1.0) < 1e-9  # normalized


def test_hits_hub_authority_structure(spark):
    from rs_graphdb_spark.algorithms.graph_algos import hits

    # star: 1,2,3 all point at 4 -> 4 is the authority, 1-3 equal hubs
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], "id long")
    edges = spark.createDataFrame([(1, 4), (2, 4), (3, 4)], "src long, dst long")
    r = {row.id: (row.hub, row.authority) for row in
         hits(nodes, edges, iterations=4).collect()}
    assert r[4][1] == 1.0 and r[4][0] == 0.0
    assert abs(r[1][0] - 1 / 3) < 1e-9 and r[1][0] == r[2][0] == r[3][0]
    assert r[1][1] == 0.0


def test_node_similarity_and_adamic_adar(spark):
    import math

    from rs_graphdb_spark.algorithms.graph_algos import adamic_adar, node_similarity

    # 1 and 2 share neighbors {3, 4}; 1 also has 5 exclusively
    edges = spark.createDataFrame(
        [(1, 3), (1, 4), (1, 5), (2, 3), (2, 4)], "src long, dst long"
    )
    sim = {(r.a, r.b): r.jaccard for r in node_similarity(edges).collect()}
    # N(1)={3,4,5}, N(2)={3,4} -> J = 2/3
    assert abs(sim[(1, 2)] - 2 / 3) < 1e-9
    aa = {(r.a, r.b): r.score for r in adamic_adar(edges).collect()}
    # common neighbors 3 and 4, each deg 2 -> score = 2/ln(2)
    assert abs(aa[(1, 2)] - 2 / math.log(2)) < 1e-9


def _union_find_components(n_nodes, edge_list):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min member id per component
    roots = {}
    for i in range(n_nodes):
        r = find(i)
        roots.setdefault(r, i)  # first (smallest) member seen
    return {i: roots[find(i)] for i in range(n_nodes)}


def test_cc_stars_match_union_find_random_graphs(spark):
    """Alternating large/small-star CC vs a driver-side union-find oracle
    over seeded random graphs (sparse, dense, and with isolated nodes)."""
    import random

    from rs_graphdb_spark.algorithms.graph_algos import connected_components

    for seed, n, m in [(1, 60, 40), (2, 120, 200), (3, 40, 8)]:
        rng = random.Random(seed)
        edge_list = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        expect = _union_find_components(n, edge_list)
        nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
        edges = spark.createDataFrame(edge_list or [(0, 0)], "src long, dst long")
        got = {
            r["id"]: r["component"]
            for r in connected_components(nodes, edges).collect()
        }
        assert got == expect, f"seed={seed}"


def test_cc_stars_long_path_logarithmic_rounds(spark):
    """A 400-node path has diameter 399 — per-edge min-label propagation
    needs ~200 rounds (and silently truncates at a round cap); star
    contraction must finish within the default 30 alternations and assign
    everyone component 0."""
    from rs_graphdb_spark.algorithms.graph_algos import connected_components

    n = 400
    nodes = spark.range(n).select(F.col("id"))
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    comp = connected_components(nodes, edges)
    assert comp.filter(F.col("component") != 0).count() == 0


def test_scc_trim_resolves_dag_without_coloring(spark):
    """A pure DAG is all singleton SCCs — the trim step must resolve it
    (and a cycle hanging off the DAG must still be found by coloring)."""
    from rs_graphdb_spark.algorithms.graph_algos import strongly_connected_components

    # DAG: 0->1->2->3,  0->2, 1->3 ; cycle: 10->11->12->10 fed by 3->10
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 2), (1, 3), (3, 10), (10, 11), (11, 12), (12, 10)],
        "src long, dst long",
    )
    nodes = spark.createDataFrame([(i,) for i in [0, 1, 2, 3, 10, 11, 12]], "id long")
    got = {r["id"]: r["scc"] for r in strongly_connected_components(nodes, edges).collect()}
    assert got[0] == 0 and got[1] == 1 and got[2] == 2 and got[3] == 3
    assert got[10] == got[11] == got[12] == 12


def test_weighted_pagerank(spark):
    """Weight-1 weighted PR equals unweighted PR; skewed weights move rank
    mass toward the heavy edge's target."""
    from rs_graphdb_spark.algorithms.graph_algos import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(4)], "id long")
    # 0 points to 1 (heavy) and 2 (light); 1,2 point to 3
    edges = spark.createDataFrame(
        [(0, 1, 9.0), (0, 2, 1.0), (1, 3, 1.0), (2, 3, 1.0), (3, 0, 1.0)],
        "src long, dst long, w double",
    )
    flat = edges.withColumn("w", F.lit(1.0))
    un = {r["id"]: round(r["rank"], 10)
          for r in pagerank(nodes, edges, 0.85, 8).collect()}
    w1 = {r["id"]: round(r["rank"], 10)
          for r in pagerank(nodes, flat, 0.85, 8, weight_col="w").collect()}
    assert un == w1
    wt = {r["id"]: r["rank"]
          for r in pagerank(nodes, edges, 0.85, 8, weight_col="w").collect()}
    assert wt[1] > un[1] and wt[2] < un[2]  # mass follows the heavy edge


def test_weighted_pagerank_rejects_bad_weights(spark):
    """NULL / non-positive weights would silently vanish rank mass (NULL
    out-degree sums) or flip message signs — they must raise instead
    (r2 advice #3)."""
    from rs_graphdb_spark.algorithms.graph_algos import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(3)], "id long")
    for bad_w in [None, 0.0, -2.0]:
        edges = spark.createDataFrame(
            [(0, 1, 1.0), (1, 2, bad_w)], "src long, dst long, w double"
        )
        with pytest.raises(ValueError, match="strictly positive"):
            pagerank(nodes, edges, 0.85, 2, weight_col="w")


# ---------------------------------------------------------------------------
# pregel()/bfs_distances ports ≡ the hand-written loops they replaced.
# The ``_old_*`` functions are verbatim copies of the deleted loops.
# ---------------------------------------------------------------------------

_OLD_CHECKPOINT_EVERY = 5


def _old_pagerank(nodes, edges, damping, iterations, weight_col=None):
    n = nodes.count()
    if weight_col is not None:
        edges = edges.select(
            "src", "dst", F.col(weight_col).cast("double").alias("_w")
        ).localCheckpoint(eager=True)
        out_deg = edges.groupBy("src").agg(F.sum("_w").alias("out_deg"))
    else:
        edges = edges.select("src", "dst").localCheckpoint(eager=True)
        out_deg = edges.groupBy("src").agg(F.count("*").alias("out_deg"))
    state = (
        nodes.select("id")
        .join(out_deg, nodes["id"] == out_deg["src"], "left")
        .select("id", F.coalesce("out_deg", F.lit(0)).alias("out_deg"))
        .withColumn("rank", F.lit(1.0 / n))
        .localCheckpoint(eager=True)
    )
    base = (1.0 - damping) / n
    for i in range(iterations):
        msg_val = (
            (F.col("rank") * F.col("_w") / F.col("out_deg"))
            if weight_col is not None
            else (F.col("rank") / F.col("out_deg"))
        )
        msgs = (
            state.join(edges, state["id"] == edges["src"])
            .select(F.col("dst").alias("id"), msg_val.alias("msg"))
            .groupBy("id")
            .agg(F.sum("msg").alias("in_sum"))
        )
        state = (
            state.drop("rank")
            .join(msgs, "id", "left")
            .withColumn(
                "rank", F.lit(base) + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0))
            )
            .drop("in_sum")
        )
        if (i + 1) % _OLD_CHECKPOINT_EVERY == 0 or i == iterations - 1:
            state = state.localCheckpoint(eager=True)
    total = state.agg(F.sum("rank")).first()[0]
    return state.select("id", (F.col("rank") / F.lit(total)).alias("rank"))


def _old_personalized_pagerank(nodes, edges, source_ids, damping, iterations):
    n_src = source_ids.count()
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
    d = damping
    for i in range(iterations):
        msgs = (
            state.join(edges, state["id"] == edges["src"])
            .select(
                F.col("dst").alias("id"),
                (F.col("rank") / F.col("out_deg")).alias("msg"),
            )
            .groupBy("id")
            .agg(F.sum("msg").alias("in_sum"))
        )
        state = (
            state.drop("rank")
            .join(msgs, "id", "left")
            .withColumn(
                "rank",
                (1.0 - d) * F.col("p") + d * F.coalesce("in_sum", F.lit(0.0)),
            )
            .drop("in_sum")
        )
        if (i + 1) % _OLD_CHECKPOINT_EVERY == 0 or i == iterations - 1:
            state = state.localCheckpoint(eager=True)
    total = state.agg(F.sum("rank")).first()[0] or 1.0
    return state.select("id", (F.col("rank") / total).alias("rank"))


def _old_k_core(nodes, edges, k, max_iter=100):
    from rs_graphdb_spark.algorithms.graph_algos import _undirected

    und = _undirected(edges).localCheckpoint(eager=True)
    alive = nodes.select("id").localCheckpoint(eager=True)
    for i in range(max_iter):
        live_edges = (
            und.join(alive.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(alive.withColumnRenamed("id", "dst"), "dst", "left_semi")
        )
        deg = live_edges.groupBy("src").agg(F.count("*").alias("degree"))
        survivors = (
            alive.join(deg, alive["id"] == deg["src"], "left")
            .filter(F.coalesce("degree", F.lit(0)) >= k)
            .select("id", "degree")
            .localCheckpoint(eager=True)
        )
        n_alive, n_surv = alive.count(), survivors.count()
        alive = survivors.select("id")
        if n_surv == n_alive or n_surv == 0:
            return survivors
    return survivors


def _old_label_propagation(nodes, edges, iterations):
    from rs_graphdb_spark.algorithms.graph_algos import _undirected

    und = _undirected(edges).localCheckpoint(eager=True)
    labels = nodes.select("id").withColumn("community", F.col("id")).localCheckpoint(
        eager=True
    )
    for i in range(iterations):
        votes = (
            labels.join(und, labels["id"] == und["src"])
            .groupBy(F.col("dst").alias("id"), F.col("community"))
            .agg(F.count("*").alias("n"))
        )
        best = votes.groupBy("id").agg(
            F.max(F.struct(F.col("n"), (-F.col("community")).alias("neg"))).alias("_b")
        ).select("id", (-F.col("_b.neg")).alias("new_community"))
        labels = (
            labels.join(best, "id", "left")
            .select(
                "id",
                F.coalesce("new_community", F.col("community")).alias("community"),
            )
        )
        if (i + 1) % _OLD_CHECKPOINT_EVERY == 0 or i == iterations - 1:
            labels = labels.localCheckpoint(eager=True)
    return labels


def _old_expand(graph, frontier_ids, rel_type, min_hops, max_hops, direction):
    from rs_graphdb_spark.operators.traversal import edges_for

    edges, dst_label = edges_for(graph, rel_type, direction)
    es = graph.edges[rel_type]
    homogeneous = es.src_label == es.dst_label
    edges = edges.localCheckpoint(eager=True)
    start = frontier_ids.select("id").dropDuplicates(["id"]).localCheckpoint(
        eager=True
    )
    visited = start
    current = start
    result = start if min_hops == 0 else None
    depth = 0
    while max_hops is None or depth < max_hops:
        depth += 1
        nxt = (
            current.join(edges, current["id"] == edges["src"])
            .select(F.col("dst").alias("id"))
            .dropDuplicates(["id"])
            .join(visited, "id", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        if depth % _OLD_CHECKPOINT_EVERY == 0:
            visited = visited.localCheckpoint(eager=True)
        if depth >= min_hops:
            result = nxt if result is None else result.unionByName(nxt)
        current = nxt
        if not homogeneous:
            break
    if result is None:
        result = start.limit(0)
    out_label = dst_label if (min_hops > 0 or homogeneous) else None
    return result.dropDuplicates(["id"]), out_label


def _random_graph(spark, seed, base, n=24, m=48):
    """Seeded random multigraph (self-loops and duplicate edges included)
    over ids base..base+n-1, with strictly positive weights."""
    import random

    from rs_graphdb_spark.session import local_df

    rng = random.Random(seed)
    ids = [base + i for i in range(n)]
    rows = [(rng.choice(ids), rng.choice(ids), rng.uniform(0.1, 3.0))
            for _ in range(m)]
    nodes = local_df(spark, [(i,) for i in ids], "id long")
    edges = local_df(spark, rows, "src long, dst long, w double")
    return nodes, edges


def _parity_graphs(spark):
    """(name, nodes, edges): random graphs with ids from 0, from −50 and
    from 2³³; an empty edge set; a 6-ring where every vertex ties."""
    from rs_graphdb_spark.session import local_df

    out = [(f"random@{base}", *_random_graph(spark, seed, base))
           for seed, base in ((1, 0), (2, -50), (3, 1 << 33))]
    out.append(("empty", local_df(spark, [(i,) for i in range(5)], "id long"),
                local_df(spark, [], "src long, dst long, w double")))
    ring = [(i, (i + 1) % 6, 1.0) for i in range(6)]
    out.append(("ring", local_df(spark, [(i,) for i in range(6)], "id long"),
                local_df(spark, ring, "src long, dst long, w double")))
    return out


def _ranks_close(new, old):
    a = {r["id"]: r["rank"] for r in new.collect()}
    b = {r["id"]: r["rank"] for r in old.collect()}
    assert a.keys() == b.keys()
    for i, x in a.items():
        assert abs(x - b[i]) <= 1e-12 * max(abs(b[i]), 1e-300), (i, x, b[i])


def test_pregel_pagerank_family_matches_old_loops(spark):
    from rs_graphdb_spark.algorithms.graph_algos import (
        pagerank, personalized_pagerank)

    for name, nodes, edges in _parity_graphs(spark):
        # 6 supersteps cross the CHECKPOINT_EVERY boundary
        _ranks_close(pagerank(nodes, edges, 0.85, 6),
                     _old_pagerank(nodes, edges, 0.85, 6))
        if name != "empty":
            _ranks_close(pagerank(nodes, edges, 0.85, 6, weight_col="w"),
                         _old_pagerank(nodes, edges, 0.85, 6, weight_col="w"))
        seeds = nodes.orderBy("id").limit(2)
        _ranks_close(personalized_pagerank(nodes, edges, seeds, 0.85, 6),
                     _old_personalized_pagerank(nodes, edges, seeds, 0.85, 6))


def test_pregel_label_propagation_and_k_core_match_old_loops(spark):
    from rs_graphdb_spark.algorithms.graph_algos import (
        k_core, label_propagation)

    def rows(df, *cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    graphs = _parity_graphs(spark)
    for name, nodes, edges in graphs:
        for iters in (1, 3):
            assert (rows(label_propagation(nodes, edges, iters), "id", "community")
                    == rows(_old_label_propagation(nodes, edges, iters),
                            "id", "community")), (name, iters)
        # k=2 keeps a core; k=10 peels every vertex (empty core)
        for k in (2, 10):
            new = rows(k_core(nodes, edges, k), "id", "degree")
            assert new == rows(_old_k_core(nodes, edges, k), "id", "degree"), (
                name, k)
            if k == 10:
                assert new == []
    # every ring vertex ties between its two neighbors: lowest label wins
    _, ring_nodes, ring_edges = graphs[-1]
    got = dict(rows(label_propagation(ring_nodes, ring_edges, 1), "id", "community"))
    assert got == {0: 1, 1: 0, 2: 1, 3: 2, 4: 3, 5: 0}


def test_expand_on_bfs_distances_matches_old_loop(spark):
    from rs_graphdb_spark.graph import EdgeSet, PropertyGraph
    from rs_graphdb_spark.operators.traversal import expand

    for seed, base in ((4, 0), (5, -50), (6, 1 << 33)):
        nodes, edges = _random_graph(spark, seed, base, n=20, m=26)
        g = PropertyGraph(
            nodes={"N": nodes, "M": nodes},
            edges={"E": EdgeSet(df=edges.select("src", "dst"), src_label="N",
                                dst_label="N"),
                   "H": EdgeSet(df=edges.select("src", "dst"), src_label="N",
                                dst_label="M")})
        start = nodes.orderBy("id").limit(2)
        cases = [("E", d, mn, mx) for d in ("out", "in", "both")
                 for mn, mx in ((0, None), (2, None), (1, 5))]
        cases += [("H", "out", mn, mx) for mn, mx in ((0, None), (1, 4), (2, 6))]
        for rel, d, mn, mx in cases:
            new, new_label = expand(g, start, rel, mn, mx, d)
            old, old_label = _old_expand(g, start, rel, mn, mx, d)
            assert new_label == old_label
            assert (sorted(r["id"] for r in new.collect())
                    == sorted(r["id"] for r in old.collect())), (seed, rel, d, mn, mx)
