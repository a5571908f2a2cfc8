"""The reference's 21 MERGE scenarios, ported 1:1.

Source: `/root/reference/tests/merge_comprehensive_test.rs` (the densest
behavioral spec in the reference: node MERGE, relationship MERGE,
performance shapes scaled down, boundary cases). Fixture mirrors its
`create_test_db()`: Person{Alice 30, Bob 25, Charlie 35} and
KNOWS{Alice→Bob, Bob→Charlie}.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rs_graphdb_spark.cypher import execute_cypher
from rs_graphdb_spark.cypher.parser import CypherSyntaxError, parse_cypher
from rs_graphdb_spark.graph import EdgeSet, PropertyGraph
from rs_graphdb_spark.session import local_df


def _person_graph(spark, people=None, edges=None) -> PropertyGraph:
    people = people if people is not None else [
        (1, "Alice", 30), (2, "Bob", 25), (3, "Charlie", 35)
    ]
    edges = edges if edges is not None else [(1, 1, 2), (2, 2, 3)]
    # local_df: Arrow-path literals — pickled-list frames cost a Python
    # worker task on every subsequent action (see session.local_df)
    return PropertyGraph(
        nodes={"Person": local_df(spark, people, "id long, name string, age long")},
        edges={"KNOWS": EdgeSet(
            df=local_df(spark, edges, "edge_id long, src long, dst long"),
            src_label="Person", dst_label="Person")},
    )


def _names(g, label="Person"):
    return [r["name"] for r in g.nodes[label].collect()]


# ==================== node MERGE (merge_comprehensive_test.rs:37-148) ======

def test_node_merge_create_basic(spark):
    g = execute_cypher(_person_graph(spark),
                       "MERGE (n:Person {name: 'David', age: 28})")
    assert sorted(_names(g)) == ["Alice", "Bob", "Charlie", "David"]


def test_node_merge_match_existing(spark):
    g = execute_cypher(_person_graph(spark),
                       "MERGE (n:Person {name: 'Alice', age: 30})")
    assert g.nodes["Person"].count() == 3  # matched, nothing created


def test_node_merge_on_create(spark):
    g = execute_cypher(
        _person_graph(spark),
        "MERGE (n:Person {name: 'David', age: 28}) ON CREATE SET n.city = 'NYC'",
    )
    david = g.nodes["Person"].filter(F.col("name") == "David").first()
    assert david["city"] == "NYC"


def test_node_merge_on_match(spark):
    g = execute_cypher(
        _person_graph(spark),
        "MERGE (n:Person {name: 'Alice', age: 30}) ON MATCH SET n.last_seen = 2024",
    )
    assert g.nodes["Person"].count() == 3
    alice = g.nodes["Person"].filter(F.col("name") == "Alice").first()
    assert alice["last_seen"] == 2024


def test_node_merge_idempotent(spark):
    q = "MERGE (n:Person {name: 'David', age: 28})"
    g = execute_cypher(execute_cypher(_person_graph(spark), q), q)
    assert g.nodes["Person"].filter(F.col("name") == "David").count() == 1


# ==================== relationship MERGE (:150-276) ========================

def test_rel_merge_create_new(spark):
    g = execute_cypher(
        _person_graph(spark),
        "MERGE (a:Person {name: 'Alice2', age: 30})-[r:KNOWS]->"
        "(b:Person {name: 'Bob2', age: 25})",
    )
    assert g.nodes["Person"].count() == 5  # both endpoints created
    assert g.edges["KNOWS"].df.count() == 3  # one new edge


def test_rel_merge_match_existing(spark):
    g0 = _person_graph(spark)
    g = execute_cypher(
        g0,
        "MERGE (a:Person {name: 'Alice', age: 30})-[r:KNOWS]->"
        "(b:Person {name: 'Bob', age: 25})",
    )
    assert g.nodes["Person"].count() == 3
    assert g.edges["KNOWS"].df.count() == 2  # fully matched → no-op


def test_rel_merge_create_nodes_and_rel(spark):
    g = execute_cypher(
        _person_graph(spark),
        "MERGE (a:Person {name: 'David', age: 28})-[r:FRIENDS]->"
        "(b:Person {name: 'Eve', age: 27})",
    )
    assert g.nodes["Person"].count() == 5  # two nodes created
    assert g.edges["FRIENDS"].df.count() == 1  # new rel type opened


def test_rel_merge_on_create(spark):
    g = execute_cypher(
        _person_graph(spark),
        "MERGE (a:Person {name: 'David', age: 28})-[r:FRIENDS]->"
        "(b:Person {name: 'Eve', age: 27}) ON CREATE SET r.since = 2024",
    )
    rel = g.edges["FRIENDS"].df.first()
    assert rel["since"] == 2024
    assert g.nodes["Person"].count() == 5


def test_rel_merge_direction_incoming(spark):
    g = execute_cypher(
        _person_graph(spark),
        "MERGE (a:Person {name: 'Alice3', age: 30})<-[r:KNOWS]-"
        "(b:Person {name: 'Bob3', age: 25})",
    )
    people = {r["name"]: r["id"] for r in g.nodes["Person"].collect()}
    new = g.edges["KNOWS"].df.filter(F.col("src") == people["Bob3"]).first()
    assert new["dst"] == people["Alice3"]  # edge runs Bob3 → Alice3


# ==================== performance shapes, scaled down (:280-371) ===========

def test_performance_merge_with_index(spark):
    users = [(i, f"User{i}", 20 + i % 50) for i in range(100)]
    g0 = PropertyGraph(
        nodes={"User": local_df(spark, users, "id long, name string, age long")},
        edges={},
    )
    g = execute_cypher(g0, "MERGE (n:User {id: 50, name: 'User50'})")
    assert g.nodes["User"].count() == 100  # matched the existing row
    g = execute_cypher(g0, "MERGE (n:User {id: 999, name: 'User999'})")
    assert g.nodes["User"].count() == 101


def test_performance_merge_create_batch(spark):
    g = PropertyGraph(
        nodes={"User": local_df(spark, [], "id long, uid long, name string")},
        edges={},
    )
    for i in range(10):  # reference runs 100; shape is identical
        g = execute_cypher(g, f"MERGE (n:User {{uid: {i}, name: 'User{i}'}})")
    assert g.nodes["User"].count() == 10


def test_performance_merge_relationship(spark):
    nodes = [(i, i) for i in range(10)]
    g = PropertyGraph(
        nodes={"Node": local_df(spark, nodes, "id long, nid long")},
        edges={},
    )
    q = "MERGE (a:Node {nid: 0})-[r:LINK]->(b:Node {nid: 1})"
    g = execute_cypher(execute_cypher(g, q), q)  # twice → still one edge
    assert g.edges["LINK"].df.count() == 1


# ==================== boundary cases (:374-535) ============================

def test_merge_empty_db(spark):
    g0 = PropertyGraph(
        nodes={"Person": local_df(spark, [], "id long, name string, age long")},
        edges={},
    )
    g = execute_cypher(g0, "MERGE (n:Person {name: 'First', age: 1})")
    assert _names(g) == ["First"]


def test_merge_new_label_creates_it(spark):
    # a label the graph lacks matches nothing: MERGE opens it, like CREATE;
    # its first id is the first one in the label's namespace
    from rs_graphdb_spark.graph import label_base

    q = "MERGE (n:Q {x: 1})"
    g = execute_cypher(execute_cypher(_person_graph(spark), q), q)
    assert [(r["id"], r["x"]) for r in g.nodes["Q"].collect()] == [(label_base("Q") + 1, 1)]
    assert g.nodes["Person"].count() == 3


def test_merge_no_label_no_props(spark):
    g0 = _person_graph(spark)
    g = execute_cypher(g0, "MERGE (n)")
    # matches ANY node on a non-empty graph → no-op
    assert g.nodes["Person"].count() == 3


def test_merge_partial_match(spark):
    # Alice exists WITHOUT city → the full pattern matches nothing and a
    # SECOND Alice is created (reference: alices == 2)
    g = execute_cypher(
        _person_graph(spark),
        "MERGE (n:Person {name: 'Alice', age: 30, city: 'NYC'})",
    )
    assert g.nodes["Person"].filter(F.col("name") == "Alice").count() == 2


def test_merge_with_multiple_props(spark):
    g = execute_cypher(
        _person_graph(spark),
        "MERGE (n:Person {name: 'Alice', age: 30, city: 'LA', status: 'active'})",
    )
    created = g.nodes["Person"].filter(F.col("city") == "LA").first()
    assert created["status"] == "active" and created["age"] == 30


def test_merge_concurrent_same_pattern(spark):
    g = _person_graph(spark)
    for _ in range(3):  # reference simulates concurrent same-pattern MERGEs
        g = execute_cypher(g, "MERGE (n:Person {name: 'Unique', age: 99})")
    assert g.nodes["Person"].filter(F.col("name") == "Unique").count() == 1


def test_merge_invalid_syntax(spark):
    with pytest.raises(CypherSyntaxError):
        parse_cypher("MERGE (n:Person")  # missing )


def test_merge_unsupported_variable(spark):
    with pytest.raises(CypherSyntaxError):
        parse_cypher("MERGE (n:Person {name: $name})")  # parameters unsupported


def test_stress_merge_nodes(spark):
    g = PropertyGraph(
        nodes={"User": local_df(spark, [], "id long, uid long")},
        edges={},
    )
    for i in range(15):  # reference runs 10k; same loop shape
        g = execute_cypher(g, f"MERGE (n:User {{uid: {i}}})")
    assert g.nodes["User"].count() == 15


# ============ multi-rel MERGE (multi_rel_merge_exec_test.rs:16-103) ========

def _node_graph(spark, rows=(), links=()):
    return PropertyGraph(
        nodes={"Node": local_df(
            spark, list(rows), "id long, nid string, value long")},
        edges={"LINK": EdgeSet(
            df=local_df(spark, list(links), "edge_id long, src long, dst long"),
            src_label="Node", dst_label="Node")},
    )


CHAIN = ("MERGE (a:Node {nid: '1'})-[r1:LINK]->(b:Node {nid: '2'})"
         "-[r2:LINK]->(c:Node {nid: '3'})")


def test_multi_rel_merge_create_path(spark):
    """Empty db → 3 nodes and 2 rels created (:16-31)."""
    g = execute_cypher(_node_graph(spark), CHAIN)
    assert g.nodes["Node"].count() == 3
    assert g.edges["LINK"].df.count() == 2
    nid = {r["nid"]: r["id"] for r in g.nodes["Node"].collect()}
    links = {(r["src"], r["dst"]) for r in g.edges["LINK"].df.collect()}
    assert links == {(nid["1"], nid["2"]), (nid["2"], nid["3"])}


def test_multi_rel_merge_match_existing(spark):
    """Full path already present → pure match, nothing mutated (:33-56)."""
    g0 = _node_graph(
        spark,
        rows=[(1, "1", 10), (2, "2", 20), (3, "3", 30)],
        links=[(1, 1, 2), (2, 2, 3)],
    )
    g = execute_cypher(g0, CHAIN)
    assert g.nodes["Node"].count() == 3
    assert g.edges["LINK"].df.count() == 2


def test_multi_rel_merge_partial_match(spark):
    """First two nodes + first rel exist → MERGE creates the missing
    third node and second rel only (:58-81)."""
    g0 = _node_graph(
        spark, rows=[(1, "1", 10), (2, "2", 20)], links=[(1, 1, 2)]
    )
    g = execute_cypher(g0, CHAIN)
    assert g.nodes["Node"].count() == 3
    assert g.edges["LINK"].df.count() == 2
    nid3 = g.nodes["Node"].filter(F.col("nid") == "3").first()["id"]
    assert (2, nid3) in {
        (r["src"], r["dst"]) for r in g.edges["LINK"].df.collect()
    }


def test_multi_rel_merge_on_create(spark):
    """ON CREATE SET a.new = 1 fires on path creation and targets the
    NODE bound to `a` (:83-103)."""
    g = execute_cypher(_node_graph(spark), CHAIN + " ON CREATE SET a.new = 1")
    row = g.nodes["Node"].filter(F.col("nid") == "1").first()
    assert row["new"] == 1
    others = g.nodes["Node"].filter(F.col("nid") != "1").collect()
    assert all(r["new"] is None for r in others)
    assert g.edges["LINK"].df.count() == 2


def test_multi_rel_merge_on_create_skipped_on_full_match(spark):
    """Existing full path → ON CREATE SET must NOT fire."""
    g0 = _node_graph(
        spark,
        rows=[(1, "1", 10), (2, "2", 20), (3, "3", 30)],
        links=[(1, 1, 2), (2, 2, 3)],
    )
    g = execute_cypher(g0, CHAIN + " ON CREATE SET a.new = 1")
    assert "new" not in g.nodes["Node"].columns


def test_multi_rel_merge_idempotent(spark):
    """Running the chain MERGE twice leaves one copy of everything."""
    g = execute_cypher(_node_graph(spark), CHAIN)
    g = execute_cypher(g, CHAIN)
    assert g.nodes["Node"].count() == 3
    assert g.edges["LINK"].df.count() == 2


def test_multi_rel_merge_four_node_chain_parses(spark):
    """Parse forms from multi_rel_merge_test.rs:8-13 (incl. 3-hop)."""
    for q in (
        "MERGE (a)-[r1:REL1]->(b)-[r2:REL2]->(c)",
        "MERGE (a:Person)-[r1:KNOWS]->(b:Person)-[r2:KNOWS]->(c:Person)",
        "MERGE (a)-[r1:REL]->(b)-[r2:REL]->(c)-[r3:REL]->(d)",
    ):
        stmt = parse_cypher(q)
        assert len(stmt.path.hops) in (2, 3)
