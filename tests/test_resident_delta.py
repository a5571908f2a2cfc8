"""Resident served state: a cached base plus a bounded write delta
(`operators/dml.py`, delta rule; `sources/http_server.py`, residency).

Pins that a served label's plan and the jobs of writes and reads do not
grow with the write count, that the delta gives the rows the lineage
rewrite gave, that residency changes no result and costs construction
nothing, that the server releases what it holds, and that a write voids
``edge_integrity`` only for the tables it writes.
"""

from __future__ import annotations

import random
import uuid
from contextlib import contextmanager
from dataclasses import replace as dc_replace

import pytest
from pyspark.sql import functions as F

from rs_graphdb_spark.cypher.compiler import execute_cypher
from rs_graphdb_spark.graph import EdgeSet, PropertyGraph, holds, label_base
from rs_graphdb_spark.loaders import load_tpch_graph
from rs_graphdb_spark.operators import dml
from rs_graphdb_spark.query import Query
from rs_graphdb_spark.session import local_df
from rs_graphdb_spark.sources.http_server import GraphHTTPServer, _catalog_counts

SF = "/root/testdata/sf0.001"
CUST = label_base("Customer")
THREE_HOP = ("MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part)"
             "-[:SUPPLIED_BY]->(s:Supplier) WHERE c.c_nationkey = 3 "
             "RETURN count(*) AS n")


@contextmanager
def _jobs(spark):
    """Collects the ids of the Spark jobs launched inside the block."""
    sc = spark.sparkContext
    group = f"resident-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    ids = []
    try:
        yield ids
    finally:
        sc.setJobGroup(None, None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _call(server, method, path, body=None):
    """One request through the server's router, on this thread (so its
    jobs carry this thread's job group)."""
    return server._route(method, path, lambda: body or {})


def _shape(df) -> tuple[int, int]:
    """(leaves, joins) of a frame's optimized plan."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.collectLeaves().size(), plan.toString().count("Join ")


def _cached(df) -> bool:
    return df.storageLevel.useMemory


def _resident(server) -> None:
    """Wait for the caches the server's first request registers."""
    server._residency.join()


@pytest.fixture
def served(spark):
    s = GraphHTTPServer(load_tpch_graph(spark, SF)).start()
    yield s
    s.stop()


# -- bound: nothing grows with the write count --------------------------------

def test_plan_and_jobs_stay_flat_over_200_writes(spark, served):
    """200 mixed Cypher CREATE, SET and DELETE writes on Customer: the
    label's plan, the jobs of each write kind and the jobs of each read
    are the same after the last writes as after the first."""
    reads = {
        "query": ("POST", "/query", {"label": "Customer", "property": "c_custkey",
                                     "value": 7, "out_rel": "PLACED"}),
        "stats": ("GET", "/stats", None),
        "node": ("GET", f"/nodes/{CUST + 8}", None),
        "cypher": ("POST", "/cypher", {"query": THREE_HOP}),
    }

    def write(i):
        kind = ("create", "set", "delete")[i % 3]
        if kind == "create":
            q = (f"CREATE (n:Customer {{c_custkey: {5000 + i}, c_name: 'w{i}', "
                 "c_acctbal: 0.5, c_nationkey: 99})")
        elif kind == "set":
            q = f"MATCH (c:Customer) WHERE c.c_custkey = {5000 + i - 1} SET c.c_acctbal = {i}.5"
        else:  # a seed customer
            q = f"MATCH (c:Customer) WHERE c.c_custkey = {20 + i // 3} DELETE c"
        with _jobs(spark) as ids:
            assert _call(served, "POST", "/cypher", {"query": q}) == {"ok": True}
        return kind, len(ids)

    def read_jobs():
        out = {}
        for name, (method, path, body) in reads.items():
            with _jobs(spark) as ids:
                _call(served, method, path, body)
            out[name] = len(ids)
        return out

    read_jobs()
    _resident(served)
    read_jobs()  # first touch fills the resident caches
    first_reads = read_jobs()
    first_writes = dict(write(i) for i in range(3))
    first_shape = _shape(served.graph.nodes["Customer"])
    for i in range(3, 197):
        write(i)
    last_writes = dict(write(i) for i in range(197, 200))
    assert _shape(served.graph.nodes["Customer"]) == first_shape == (2, 0)
    assert last_writes == first_writes
    assert read_jobs() == first_reads
    nodes, _ = _catalog_counts(served.graph)
    seed = load_tpch_graph(spark, SF).nodes["Customer"].count()
    assert nodes["Customer"] == seed + 67 - 66


# -- parity with the lineage rewrite ------------------------------------------

def _lineage_update(df, keys, updates):
    """Copy of the rewrite SET used before the delta: a flag join of a
    checkpointed key frame."""
    keys = keys.localCheckpoint(eager=True)
    flagged = df.join(keys.withColumn("__m", F.lit(True)), keys.columns, "left")
    added = [k for k in updates if k not in df.columns]
    return dml.set_props(flagged, F.col("__m"), updates).select(*df.columns, *added)


def _lineage_delete(graph, label, victims):
    """Copy of the rewrite DELETE used before the delta: anti-joins."""
    victims = victims.localCheckpoint(eager=True)
    nodes = {**graph.nodes, label: graph.nodes[label].join(victims, "id", "left_anti")}
    edges = {}
    for rel, es in graph.edges.items():
        df = es.df
        if holds(es.src_label, label):
            df = df.join(victims.withColumnRenamed("id", "src"), "src", "left_anti")
        if holds(es.dst_label, label):
            df = df.join(victims.withColumnRenamed("id", "dst"), "dst", "left_anti")
        edges[rel] = dc_replace(es, df=df)
    return dc_replace(graph, nodes=nodes, edges=edges)


def _table(df):
    """A table as its schema and its sorted rows, columns by name."""
    cols = sorted(df.columns)
    schema = {f.name: f.dataType.simpleString() for f in df.schema}
    rows = sorted((tuple(r[c] for c in cols) for r in df.collect()), key=repr)
    return schema, rows


def _micro(spark) -> PropertyGraph:
    nodes = local_df(spark, [(i, f"p{i}", 20 + i) for i in range(1, 9)],
                     "id long, name string, age long")
    edges = local_df(spark, [(i, 1 + i % 8, 1 + (3 * i) % 8, float(i)) for i in range(1, 13)],
                     "edge_id long, src long, dst long, w double")
    return PropertyGraph(nodes={"P": nodes},
                         edges={"K": EdgeSet(df=edges, src_label="P", dst_label="P")})


@pytest.mark.parametrize("cap", [dml.DELTA_CAP, 3])
def test_random_writes_match_the_lineage_rewrite(spark, monkeypatch, cap):
    """A seeded random write sequence — inserts (duplicate ids, new and
    widened columns, dangling edges), updates by key frame, by predicate
    and by literal key, deletes with cascade — gives the rows and schema
    the lineage rewrite gives, with and without compaction."""
    monkeypatch.setattr(dml, "DELTA_CAP", cap)
    rng = random.Random(20261020)
    new, old = _micro(spark), _micro(spark)
    next_node, next_edge = 100, 100
    for _ in range(24):
        op = rng.choice(["node", "node", "edge", "key_set", "pred_set",
                         "edge_set", "delete", "edge_delete"])
        if op == "node":
            nid = rng.choice([next_node, rng.randint(1, 8)])  # sometimes a duplicate id
            next_node += 1
            age = rng.choice([30, 30.5, None])
            cols = "id long, name string" + (", tag string" if rng.random() < 0.3 else "")
            vals = [nid, f"n{nid}"] + (["t"] if "tag" in cols else [])
            rows = local_df(spark, [tuple(vals)], cols).withColumn(
                "age", F.lit(age) if age is not None else F.lit(None).cast("long"))
            new = dml.insert(new, "P", rows)
            o = old.nodes["P"].unionByName(rows, allowMissingColumns=True)
            old = dc_replace(old, nodes={"P": o})
        elif op == "edge":
            e = local_df(spark, [(next_edge, rng.randint(1, 9), rng.randint(1, 9), 0.5)],
                         "edge_id long, src long, dst long, w double")
            next_edge += 1
            new = dml.insert(new, "K", e, rel=True)
            old = dc_replace(old, edges={"K": dc_replace(
                old.edges["K"], df=old.edges["K"].df.unionByName(e))})
        elif op in ("key_set", "pred_set"):
            lo = rng.randint(18, 32)
            updates = {"name": F.lit(f"s{lo}")}
            if rng.random() < 0.5:
                updates["score"] = F.lit(rng.choice([1, 2.5]))
            if op == "key_set":
                keys = new.nodes["P"].filter(F.col("age") >= lo).select("id").distinct()
                new, _ = dml.update(new, "P", keys, updates)
                okeys = old.nodes["P"].filter(F.col("age") >= lo).select("id").distinct()
                o = _lineage_update(old.nodes["P"], okeys, updates)
            else:
                cond = F.col("age") < lo
                new, _ = dml.update(new, "P", cond, updates)
                o = dml.set_props(old.nodes["P"], cond, updates)
            old = dc_replace(old, nodes={"P": o})
        elif op == "edge_set":
            ids = [rng.randint(1, 14), rng.randint(1, 14)]
            new, _ = dml.update(new, "K", ids, {"w": F.lit(-1.0)}, rel=True)
            old = dc_replace(old, edges={"K": dc_replace(old.edges["K"], df=dml.set_props(
                old.edges["K"].df, F.col("edge_id").isin(ids), {"w": F.lit(-1.0)}))})
        elif op == "delete":
            lo = rng.randint(18, 40)
            new = dml.delete_ids(new, "P", new.nodes["P"].filter(F.col("age") == lo).select("id"))
            old = _lineage_delete(old, "P", old.nodes["P"].filter(F.col("age") == lo).select("id"))
        else:
            eid = rng.randint(1, 14)
            new = dml.delete_edges(new, "K", [eid])
            old = dc_replace(old, edges={"K": dc_replace(
                old.edges["K"], df=old.edges["K"].df.filter(F.col("edge_id") != eid))})
        assert _table(new.nodes["P"]) == _table(old.nodes["P"]), op
        assert _table(new.edges["K"].df) == _table(old.edges["K"].df), op
    assert cap != 3 or new.deltas[(False, "P")].base.is_cached  # compacted at least once
    dml.release(new)


# -- residency -----------------------------------------------------------------

def test_construction_runs_no_job_and_residency_changes_no_result(spark):
    g = load_tpch_graph(spark, SF)
    frames = list(g.nodes.values()) + [es.df for es in g.edges.values()]
    before = {
        "three_hop": execute_cypher(g, THREE_HOP).collect(),
        "counts": _catalog_counts(g),
        "knows": sorted(map(tuple, g.edges["KNOWS"].df.collect())),
    }
    with _jobs(spark) as ids:
        server = GraphHTTPServer(g)
    server.start()
    try:
        assert ids == []
        assert not any(_cached(df) for df in frames)
        assert _call(server, "GET", "/labels")["labels"] == sorted(g.nodes)
        _resident(server)
        assert all(_cached(df) for df in frames)
        rows = _call(server, "POST", "/cypher", {"query": THREE_HOP})["rows"]
        assert [r["n"] for r in rows] == [r["n"] for r in before["three_hop"]]
        stats = _call(server, "GET", "/stats")
        assert (stats["nodes"], stats["rels"]) == before["counts"]
        assert sorted(map(tuple, server.graph.edges["KNOWS"].df.collect())) == before["knows"]
    finally:
        server.stop()
    assert not any(_cached(df) for df in frames)


def test_a_first_grpc_request_makes_the_tables_resident(spark):
    from rs_graphdb_spark.sources import protowire as pw

    g = load_tpch_graph(spark, SF)
    server = GraphHTTPServer(g).start()
    try:
        assert server._residency is None
        body = pw.encode_cypher_request("MATCH (n:Nation) RETURN count(*) AS n")
        assert server._route_grpc("POST", "/grpc/ExecuteCypher", body)
        _resident(server)
        assert _cached(g.nodes["Nation"]) and _cached(g.edges["KNOWS"].df)
    finally:
        server.stop()
    assert not _cached(g.nodes["Nation"])


def test_compaction_releases_the_old_base_and_old_readers_stay_right(spark, served, monkeypatch):
    monkeypatch.setattr(dml, "DELTA_CAP", 4)
    _call(served, "GET", "/stats")
    _resident(served)
    old_graph = served.graph
    old_base = old_graph.nodes["Customer"]
    want = sorted(map(tuple, old_base.collect()))
    assert _cached(old_base)
    for i in range(6):
        _call(served, "PUT", f"/nodes/{CUST + i + 1}", {"properties": {"c_acctbal": 0.25}})
    d = served.graph.deltas[(False, "Customer")]
    assert d.base is not old_base and _cached(d.base) and d.size() < 6
    assert not _cached(old_base)
    assert sorted(map(tuple, old_graph.nodes["Customer"].collect())) == want
    acct = served.graph.nodes["Customer"].filter(F.col("c_acctbal") == 0.25).count()
    assert acct == 6
    served.stop()
    assert not _cached(d.base)


# -- edge_integrity per table --------------------------------------------------

def test_creates_void_integrity_only_for_their_tables(spark, served):
    g = served.graph
    want = execute_cypher(g, THREE_HOP).collect()
    new = [{"labels": ["Customer"], "properties": {"id": CUST + 90001, "c_custkey": 90001}}]
    _call(served, "POST", "/batch/nodes", {"nodes": new})
    # a KNOWS edge from a seed customer to one that does not exist
    _call(served, "POST", "/rels", {"rel_type": "KNOWS", "edge_id": 990001,
                                    "src": CUST + 1, "dst": CUST + 99999})
    h = served.graph
    assert not h.edge_integrity
    assert not h.has_integrity("KNOWS") and not h.has_integrity("Customer")
    assert h.has_integrity("PLACED", "Order", "CONTAINS", "Part", "SUPPLIED_BY", "Supplier")
    cy = execute_cypher(h, THREE_HOP)
    assert _shape(cy)[1] == 3
    assert cy.collect() == want
    # a KNOWS hop into Customer still joins Customer, and drops the dangling edge
    knows = execute_cypher(h, f"MATCH (a:Customer)-[:KNOWS]->(b:Customer) "
                              f"WHERE a.id = {CUST + 1} RETURN b.id AS b")
    assert _shape(knows)[1] >= 2
    q = (Query(graph=h).from_label_and_prop_eq("Customer", "id", CUST + 1)
         .out("KNOWS").select("id"))
    assert sorted(r[0] for r in knows.collect()) == sorted(r[0] for r in q.collect())
    assert CUST + 99999 not in {r[0] for r in q.collect()}
