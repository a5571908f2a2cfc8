"""One hop operator for Cypher and `Query` (`operators/traversal.hop`).

Pins the plan shape it buys (a Cypher hop chain joins no node table it
does not read), Cypher-vs-`Query` parity with and without
``edge_integrity``, the multi-path join on node ids, and the writes that
keep ``edge_integrity``.
"""

from __future__ import annotations

from dataclasses import replace

import pytest
from pyspark.sql import functions as F

from rs_graphdb_spark.cypher.compiler import CypherCompileError, execute_cypher
from rs_graphdb_spark.graph import EdgeSet, PropertyGraph
from rs_graphdb_spark.query import Query
from rs_graphdb_spark.session import local_df

THREE_HOP = ("MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part)"
             "-[:SUPPLIED_BY]->(s:Supplier) WHERE c.c_nationkey = 3 "
             "RETURN count(*) AS n")


def _joins(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("Join ")


def _scans(df) -> int:
    return df._jdf.queryExecution().optimizedPlan().toString().count("Relation ")


def _three_hop_query(g):
    return (Query(graph=g).from_label("Customer")
            .where(F.col("c_nationkey") == 3)
            .out("PLACED").out("CONTAINS").out("SUPPLIED_BY").count("n"))


@pytest.fixture(scope="module")
def people(spark):
    """P{1: ann (age NULL), 2: bob (30), 3: cy (40)}, K: 1→2, 1→3, 2→3."""
    nodes = local_df(spark, [(1, "ann", None), (2, "bob", 30), (3, "cy", 40)],
                     "id long, name string, age long")
    edges = local_df(spark, [(1, 1, 2), (2, 1, 3), (3, 2, 3)],
                     "edge_id long, src long, dst long")
    return PropertyGraph(nodes={"P": nodes},
                         edges={"K": EdgeSet(df=edges, src_label="P", dst_label="P")})


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cypher_three_hop_plans_like_the_query_chain(graph):
    cy = execute_cypher(graph, THREE_HOP)
    q = _three_hop_query(graph)
    assert _joins(cy) == _joins(q) == 3
    assert _scans(cy) == _scans(q) == 4
    assert sorted(cy.inputFiles()) == sorted(q.inputFiles())
    assert cy.collect() == q.collect()


@pytest.mark.parametrize("integrity", [True, False])
def test_cypher_and_query_hops_agree(graph, integrity):
    g = replace(graph, edge_integrity=integrity)
    # the lowest customer id with a two-hop KNOWS path
    e = g.edges["KNOWS"].df
    start = (e.alias("x").join(e.alias("y"), F.col("x.dst") == F.col("y.src"))
             .agg(F.min("x.src")).first()[0])

    def ids(df):
        return sorted(r[0] for r in df.collect())

    def cypher(text):
        return ids(execute_cypher(g, text))

    def query():
        return Query(graph=g).from_label("Customer").where(F.col("id") == start)

    out_q = (Query(graph=g).from_label("Customer")
             .where(F.col("c_nationkey") == 3).out("PLACED"))
    assert cypher("MATCH (c:Customer)-[:PLACED]->(o:Order) "
                  "WHERE c.c_nationkey = 3 RETURN o") == ids(out_q.select("id"))
    in_q = (Query(graph=g).from_label("Order")
            .where(F.col("o_totalprice") > 200000.0).in_("PLACED"))
    assert cypher("MATCH (o:Order)<-[:PLACED]-(c:Customer) "
                  "WHERE o.o_totalprice > 200000.0 RETURN c") == ids(in_q.select("id"))
    # one origin: per-origin and start-set BFS distance coincide
    both = cypher(f"MATCH (a:Customer {{id: {start}}})-[:KNOWS]-(b:Customer) "
                  "RETURN DISTINCT b")
    assert both and both == ids(
        query().undirected_variable_length("KNOWS", 1, 1).select("id"))
    for pat, lo, hi in (("*1..2", 1, 2), ("*2..", 2, None)):
        got = cypher(f"MATCH (a:Customer {{id: {start}}})-[:KNOWS{pat}]->"
                     "(b:Customer) RETURN b")
        assert got and got == ids(
            query().out_variable_length("KNOWS", lo, hi).select("id")), pat
    # the target table joins only without integrity (or when read)
    count = "MATCH (c:Customer)-[:PLACED]->(o:Order) RETURN count(*) AS n"
    assert _joins(execute_cypher(g, count)) == (1 if integrity else 2)


def test_dangling_endpoint_excluded_without_integrity(spark, people):
    dangling = local_df(spark, [(4, 2, 99)], "edge_id long, src long, dst long")
    es = people.edges["K"]
    g = replace(people, edges={"K": replace(es, df=es.df.unionByName(dangling))})
    assert not g.edge_integrity
    for hops, lo, hi in (("", 1, 1), ("*1..2", 1, 2)):
        cy = execute_cypher(g, f"MATCH (a:P {{name: 'bob'}})-[:K{hops}]->(b:P) RETURN b")
        q = Query(graph=g).from_label_and_prop_eq("P", "name", "bob")
        q = q.out("K") if hi == 1 else q.out_variable_length("K", lo, hi)
        assert _rows(cy) == _rows(q.select("id")) == [(3,)]


def test_multi_path_match_keeps_nodes_with_null_props(people):
    # ann's age is NULL: a join on every shared column dropped all her rows
    want = [("ann", "bob", "bob"), ("ann", "bob", "cy"), ("ann", "cy", "bob"),
            ("ann", "cy", "cy"), ("bob", "cy", "cy")]
    for second in ("(a:P)", "(a)"):  # an unlabeled bound start takes a's label
        df = execute_cypher(people, f"MATCH (a:P)-[:K]->(b:P), {second}-[:K]->(c:P) "
                                    "RETURN a.name, b.name, c.name")
        assert _rows(df) == want, second


def test_path_may_close_a_cycle(spark, people):
    edges = local_df(spark, [(1, 1, 2), (2, 2, 1), (3, 2, 3)],
                     "edge_id long, src long, dst long")
    g = replace(people, edges={"K": EdgeSet(df=edges, src_label="P", dst_label="P")})
    df = execute_cypher(g, "MATCH (a:P)-[:K]->(b:P)-[:K]->(a) RETURN a.name, b.name")
    assert _rows(df) == [("ann", "bob"), ("bob", "ann")]
    df = execute_cypher(g, "MATCH (a:P)-[:K]->(b:P)-[:K]->(a {name: 'bob'}) "
                           "RETURN a.name, b.name")
    assert _rows(df) == [("bob", "ann")]


@pytest.mark.parametrize("stmt", [
    "MATCH (n:P) WHERE n.name = 'ann' SET n.id = 7",
    "MERGE (n:P {name: 'ann'}) ON MATCH SET n.id = 7",
    "FOREACH (n IN [1] | SET n.id = 7)",
])
def test_set_of_id_is_rejected(people, stmt):
    with pytest.raises(CypherCompileError, match="id"):
        execute_cypher(people, stmt)


def test_set_delete_foreach_keep_edge_integrity(graph):
    assert graph.edge_integrity
    cid = graph.nodes["Customer"].agg(F.min("id")).first()[0]
    for stmt in ("MATCH (c:Customer) WHERE c.c_custkey = 1 SET c.c_comment = 'x'",
                 "MATCH (c:Customer) WHERE c.c_custkey = 2 DELETE c",
                 f"FOREACH (n IN [{cid}] | SET n.c_comment = 'y')"):
        assert execute_cypher(graph, stmt).edge_integrity, stmt
    for stmt in ("CREATE (n:Customer {c_custkey: 999999})",
                 "MERGE (n:Customer {c_custkey: 999998})"):
        assert not execute_cypher(graph, stmt).edge_integrity, stmt
    # after a SET the chain still skips every intermediate node table: its
    # joins are the fresh chain's plus the one SET left in Customer's plan
    g = execute_cypher(graph, "MATCH (c:Customer) WHERE c.c_custkey = 1 "
                              "SET c.c_comment = 'x'")
    assert (_joins(_three_hop_query(g))
            == _joins(_three_hop_query(graph)) + _joins(g.nodes["Customer"]))
    assert _three_hop_query(g).collect() == _three_hop_query(graph).collect()
