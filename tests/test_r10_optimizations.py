"""Round-10 optimization parity tests.

Every optimization in this round keeps the operator's OUTPUT bit-identical
(fold-left Arrow kernels reproduce the expression engines' IEEE op order;
plan-level elisions drop provably-1:1 joins). These tests pin each claim
directly: expr engine vs arrow engine on the same inputs, dirty rows
included, and eager vs lazy traversal plans.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from rs_graphdb_spark.session import local_df


def _vec_rows(n, dim, seed, dirty=True):
    rng = np.random.default_rng(seed)
    rows = [(i, [float(x) for x in rng.standard_normal(dim)])
            for i in range(n)]
    if dirty:
        rows += [
            (n + 1, None),                           # null vector
            (n + 2, [1.0] * (dim - 1)),              # short
            (n + 3, [1.0] * (dim + 3)),              # long
            (n + 4, [1.0] * (dim - 1) + [None]),     # null element
            (n + 5, [0.0] * dim),                    # zero norm
        ]
    return rows


def test_knn_bruteforce_engines_bit_identical(spark):
    from rs_graphdb_spark.functions.similarity import knn_bruteforce

    emb = local_df(spark, _vec_rows(300, 16, seed=11),
                   "vec_id long, v array<double>")
    q = emb.filter("vec_id < 4 or vec_id > 300")  # includes dirty queries
    a = sorted(tuple(r) for r in knn_bruteforce(
        emb, q, "vec_id", "v", k=7, engine="expr").collect())
    b = sorted(tuple(r) for r in knn_bruteforce(
        emb, q, "vec_id", "v", k=7, engine="arrow").collect())
    assert a == b and len(a) > 0
    # cos values bit-identical, not just round-equal
    for (qa, na_, ca, ra), (qb, nb, cb, rb) in zip(a, b):
        assert (ca is None) == (cb is None)
        if ca is not None:
            assert ca == cb  # exact float equality


def test_cosine_pairs_arrow_matches_expression(spark):
    from rs_graphdb_spark.functions.dedup import cosine, cosine_pairs_arrow

    rows = _vec_rows(200, 8, seed=5)
    df = local_df(spark, rows, "id long, v array<double>")
    x = df.select(F.col("id").alias("a"), F.col("v").alias("va"))
    y = df.select(F.col("id").alias("b"), F.col("v").alias("vb"))
    pairs = x.join(y, F.col("a") + 1 == F.col("b"))
    expr = {(r["a"], r["b"]): r["c"] for r in pairs.select(
        "a", "b", cosine(F.col("va"), F.col("vb")).alias("c")).collect()}
    arrow = {(r["a"], r["b"]): r["cos"] for r in cosine_pairs_arrow(
        pairs.select("a", "b", "va", "vb"), "va", "vb").collect()}
    assert set(expr) == set(arrow) and len(expr) > 100
    for kk in expr:
        assert (expr[kk] is None) == (arrow[kk] is None)
        if expr[kk] is not None:
            assert expr[kk] == arrow[kk]  # bit-exact


def test_assign_engines_bit_identical(spark):
    from rs_graphdb_spark.functions.clustering import _assign

    rng = np.random.default_rng(7)
    rows = _vec_rows(400, 32, seed=7)
    rows.append((991, [float("nan")] * 32))  # all-NaN distances
    df = local_df(spark, rows, "id long, _v array<double>")
    cents = [[float(x) for x in rng.standard_normal(32)] for _ in range(5)]
    a = {r["id"]: r["cluster"]
         for r in _assign(df, "_v", cents, engine="expr").collect()}
    b = {r["id"]: r["cluster"]
         for r in _assign(df, "_v", cents, engine="arrow").collect()}
    assert a == b
    # dirty rows land on cluster 0 (the expression array_min semantics)
    for did in (401, 402, 403, 404, 991):
        assert a[did] == 0


def test_banded_codes_arrow_default_matches_expr_route(spark):
    from rs_graphdb_spark.functions.similarity import knn_lsh_banded

    emb = local_df(spark, _vec_rows(250, 64, seed=3),
                   "vec_id long, embedding array<double>")
    q = emb.filter("vec_id < 3")
    expr = sorted(
        (r["query_id"], r["neighbor_id"], r["cos"], r["rank"])
        for r in knn_lsh_banded(emb, q, "vec_id", "embedding", k=10,
                                arrow_codes_above=10 ** 9).collect())
    arrow = sorted(
        (r["query_id"], r["neighbor_id"], r["cos"], r["rank"])
        for r in knn_lsh_banded(emb, q, "vec_id", "embedding",
                                k=10).collect())
    assert expr == arrow and len(expr) > 0


def test_lazy_expand_matches_eager(spark):
    import rs_graphdb_spark.operators.traversal as trav
    from rs_graphdb_spark.graph import EdgeSet, PropertyGraph

    pairs = [(i, i + 1) for i in range(50)] + [(10, 40), (40, 12), (3, 3)]
    edges = local_df(spark, pairs, "src long, dst long")
    nodes = local_df(spark, [(i,) for i in range(60)], "id long")
    g = PropertyGraph(nodes={"N": nodes},
                      edges={"E": EdgeSet(df=edges, src_label="N",
                                          dst_label="N")})
    start = local_df(spark, [(3,), (10,)], "id long")
    # expected answer: driver-side BFS distances from the start set
    dist, level, depth = {3: 0, 10: 0}, {3, 10}, 0
    while level:
        depth += 1
        level = {b for a, b in pairs if a in level and b not in dist}
        dist.update((b, depth) for b in level)
    for mn, mx in ((1, 2), (0, 3), (2, 2), (1, 1), (0, None), (2, None),
                   (1, 5)):
        lazy, _ = trav.expand(g, start, "E", mn, mx, "out")
        old = trav._LAZY_MAX_HOPS
        trav._LAZY_MAX_HOPS = -1
        try:
            eager, _ = trav.expand(g, start, "E", mn, mx, "out")
        finally:
            trav._LAZY_MAX_HOPS = old
        want = sorted(i for i, d in dist.items()
                      if d >= mn and (mx is None or d <= mx))
        assert sorted(r["id"] for r in lazy.collect()) == want, (mn, mx)
        assert sorted(r["id"] for r in eager.collect()) == want, (mn, mx)


def test_hop_narrow_frame_count_equals_joined_count(spark, graph):
    from rs_graphdb_spark import Query

    q = Query(graph=graph).from_label("Customer").where(
        F.col("c_nationkey") == 3).out("PLACED").out("CONTAINS")
    # narrow path (hop_frontier set on loader graphs)
    assert q.hop_frontier is not None
    narrow = q.count().collect()[0]["cnt"]
    # force the attribute-joined path
    wide = q.frontier.agg(F.count("*").alias("cnt")).collect()[0]["cnt"]
    assert narrow == wide > 0
    # a select referencing a target-node column falls back to the join
    rows = (Query(graph=graph).from_label("Customer")
            .where(F.col("c_nationkey") == 3).out("PLACED")
            .select("id", "o_orderpriority").limit(1).collect())
    assert rows and rows[0]["o_orderpriority"] is not None
