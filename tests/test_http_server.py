"""HTTP serving layer: in-process round-trips against the reference's
route contract (`tests/server_api_test.rs` analog)."""

import json
import urllib.error
import urllib.request

import pytest

from rs_graphdb_spark.loaders import load_tpch_graph
from rs_graphdb_spark.sources.http_server import GraphHTTPServer

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def server(spark):
    g = load_tpch_graph(spark, SF)
    s = GraphHTTPServer(g).start()
    yield s
    s.stop()


def _post(server, path, body):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}{path}",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


def test_query_route(server):
    status, out = _post(server, "/query", {
        "label": "Nation", "property": "n_nationkey", "value": 3,
    })
    assert status == 200
    assert len(out["rows"]) == 1 and out["rows"][0]["n_nationkey"] == 3


def test_cypher_route_read(server):
    status, out = _post(server, "/cypher", {
        "query": "MATCH (n:Nation) WHERE n.n_regionkey = 1 "
                 "RETURN n.n_name AS name ORDER BY name",
    })
    assert status == 200 and len(out["rows"]) > 0
    names = [r["name"] for r in out["rows"]]
    assert names == sorted(names)


def test_cypher_route_dml_mutates_served_graph(server):
    status, out = _post(server, "/cypher", {
        "query": "CREATE (n:Nation {n_name: 'SERVERLAND', n_regionkey: 0})",
    })
    assert status == 200 and out == {"ok": True}
    _, out2 = _post(server, "/query", {
        "label": "Nation", "property": "n_name", "value": "SERVERLAND",
    })
    assert len(out2["rows"]) == 1


def test_search_route(server):
    status, out = _post(server, "/search", {
        "q": "machinery", "labels": ["Customer"],
    })
    assert status == 200 and len(out["rows"]) > 0
    assert all(r["label"] == "Customer" for r in out["rows"])


def test_bad_request_is_400_not_crash(server):
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as e:
        _post(server, "/query", {"property": "x"})  # missing label
    assert e.value.code == 400
    # server still alive
    status, _ = _post(server, "/query", {"label": "Region"})
    assert status == 200


def test_unknown_route_404(server):
    import urllib.error

    with pytest.raises(urllib.error.HTTPError) as e:
        _post(server, "/nope", {})
    assert e.value.code == 404


def _call(server, method, path, body=None, timeout=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}{path}",
        data=json.dumps(body).encode() if body is not None else None,
        headers={"Content-Type": "application/json"},
        method=method,
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return resp.status, json.loads(resp.read())


def test_rest_metadata_routes(server):
    st, root = _call(server, "GET", "/")
    assert st == 200 and root["status"] == "ok"
    st, labels = _call(server, "GET", "/labels")
    assert "Customer" in labels["labels"]
    st, rts = _call(server, "GET", "/rel-types")
    assert "PLACED" in rts["rel_types"]
    st, stats = _call(server, "GET", "/stats")
    assert stats["nodes"]["Region"] == 5 and stats["rels"]["IN_REGION"] == 25


def test_rest_node_crud_roundtrip(server):
    # create
    st, out = _call(server, "POST", "/nodes", {
        "labels": ["Widget"], "properties": {"id": 900001, "name": "w1"},
    })
    assert st == 200 and out["created"] == 1
    st, got = _call(server, "GET", "/nodes/900001")
    assert got["rows"][0]["name"] == "w1"
    # a write that would turn the string column `name` bigint answers 400
    # and leaves the served graph readable and unchanged
    for method, path, body in (
        ("PUT", "/nodes/900001", {"properties": {"name": 7}}),
        ("POST", "/cypher", {"query": "MATCH (n:Widget) WHERE n.id = 900001 "
                                      "SET n.name = 7"}),
    ):
        with pytest.raises(urllib.error.HTTPError) as e:
            _call(server, method, path, body)
        with e.value as err:
            assert err.code == 400 and "'name' is string" in err.read().decode()
        st, got = _call(server, "GET", "/nodes/900001")
        assert st == 200 and got["rows"][0]["name"] == "w1"
    # a new key takes the value's type
    st, _ = _call(server, "PUT", "/nodes/900001", {"properties": {"tags": ["x"]}})
    st, got = _call(server, "GET", "/nodes/900001")
    assert st == 200 and got["rows"][0]["tags"] == ["x"]
    # update merges props
    st, _ = _call(server, "PUT", "/nodes/900001", {"properties": {"name": "w2"}})
    st, got = _call(server, "GET", "/nodes/900001")
    assert got["rows"][0]["name"] == "w2"
    # delete
    st, _ = _call(server, "DELETE", "/nodes/900001")
    try:
        _call(server, "GET", "/nodes/900001")
        assert False, "expected 404"
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_rest_rel_crud_and_neighbors(server):
    st, out = _call(server, "POST", "/batch/nodes", {"nodes": [
        {"labels": ["Widget"], "properties": {"id": 900010, "name": "a"}},
        {"labels": ["Widget"], "properties": {"id": 900011, "name": "b"}},
    ]})
    assert out["created"] == 2
    st, out = _call(server, "POST", "/rels", {
        "rel_type": "LINKS", "edge_id": 990001, "src": 900010, "dst": 900011,
    })
    assert out["created"] == 1
    st, got = _call(server, "GET", "/rels/990001")
    assert got["rows"][0]["dst"] == 900011 and got["rows"][0]["rel_type"] == "LINKS"
    st, nb = _call(server, "GET", "/nodes/900010/neighbors")
    assert {"id": 900011, "rel_type": "LINKS", "direction": "out"} in nb["rows"]
    st, _ = _call(server, "DELETE", "/rels/990001")
    try:
        _call(server, "GET", "/rels/990001")
        assert False, "expected 404"
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_rest_cache_routes(server):
    st, out = _call(server, "GET", "/cache/stats")
    assert st == 200 and "stats" in out
    st, out = _call(server, "POST", "/cache/clear", {})
    assert out["ok"] is True


def _post_pb(server, path, blob):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}{path}",
        data=blob,
        headers={"Content-Type": "application/x-protobuf"},
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status, resp.read()


def test_protowire_roundtrips():
    """Codec self-consistency for every graphdb.proto message shape,
    including negative ints, bools, doubles, and multi-entry maps."""
    from rs_graphdb_spark.sources import protowire as pw

    props = {"name": "Alice", "age": 30, "score": -2.5, "neg": -7, "ok": True}
    assert pw.decode_node(pw.encode_node(5, ["Person", "User"], props)) == {
        "id": 5, "labels": ["Person", "User"], "properties": props
    }
    rel = pw.decode_relationship(
        pw.encode_relationship(9, 1, 2, "KNOWS", {"since": 2024}))
    assert rel == {"id": 9, "start": 1, "end": 2, "rel_type": "KNOWS",
                   "properties": {"since": 2024}}
    assert pw.decode_create_node_request(
        pw.encode_create_node_request(["N"], props)
    ) == {"labels": ["N"], "properties": props}
    assert pw.decode_create_rel_request(
        pw.encode_create_rel_request(3, 4, "LINK", {})
    ) == {"start": 3, "end": 4, "rel_type": "LINK", "properties": {}}
    assert pw.decode_cypher_request(pw.encode_cypher_request("MATCH (n)")) == "MATCH (n)"
    rows = [{"a": 1, "b": "x"}, {"a": -2, "b": "y"}]
    assert pw.decode_cypher_response(pw.encode_cypher_response(rows)) == rows


def test_grpc_execute_cypher_route(server):
    """protobuf-over-HTTP ExecuteCypher: same rows as the JSON route."""
    from rs_graphdb_spark.sources import protowire as pw

    q = ("MATCH (n:Nation) WHERE n.n_regionkey = 1 "
         "RETURN n.n_name AS name ORDER BY name")
    status, blob = _post_pb(server, "/grpc/ExecuteCypher",
                            pw.encode_cypher_request(q))
    assert status == 200
    rows = pw.decode_cypher_response(blob)
    _, js = _post(server, "/cypher", {"query": q})
    assert [r["name"] for r in rows] == [r["name"] for r in js["rows"]]


def test_grpc_create_node_and_relationship(server):
    """CreateNode / CreateRelationship RPCs mutate the served graph and
    echo the created entities (graphdb.proto:59-64 semantics)."""
    from rs_graphdb_spark.sources import protowire as pw

    status, blob = _post_pb(
        server, "/grpc/CreateNode",
        pw.encode_create_node_request(
            ["Nation"], {"n_name": "PROTOLAND", "n_regionkey": 2}),
    )
    assert status == 200
    node = pw.decode_node(blob)
    assert node["labels"] == ["Nation"]
    assert node["properties"]["n_name"] == "PROTOLAND"
    nid = node["id"]
    _, out = _post(server, "/query", {
        "label": "Nation", "property": "n_name", "value": "PROTOLAND"})
    assert len(out["rows"]) == 1

    status, blob = _post_pb(
        server, "/grpc/CreateRelationship",
        pw.encode_create_rel_request(nid, nid, "SELF", {}),
    )
    assert status == 200
    rel = pw.decode_relationship(blob)
    assert rel["start"] == nid and rel["end"] == nid and rel["rel_type"] == "SELF"


def test_grpc_create_node_on_new_labels_gets_namespaced_ids(server):
    """CreateNode without an id on two new labels: each node gets the
    first id of its label's namespace, and GET reads it back."""
    from rs_graphdb_spark.graph import label_base
    from rs_graphdb_spark.sources import protowire as pw

    ids = []
    for lb in ("Kappa", "Lambda"):
        status, blob = _post_pb(server, "/grpc/CreateNode",
                                pw.encode_create_node_request([lb], {"x": 1}))
        assert status == 200
        ids.append(pw.decode_node(blob)["id"])
    assert ids == [label_base("Kappa") + 1, label_base("Lambda") + 1]
    status, _, raw = _get(server, f"/nodes/{ids[1]}")
    assert status == 200
    assert [(r["id"], r["x"]) for r in json.loads(raw)["rows"]] == [(ids[1], 1)]


def _get(server, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{server.port}{path}") as r:
        ct = r.headers.get("Content-Type", "")
        raw = r.read()
        return r.status, ct, raw


def test_sysinfo_queries_dbs_routes(server):
    """Reference routes /sysinfo /queries /dbs (server.rs:99-101)."""
    status, _, raw = _get(server, "/sysinfo")
    info = json.loads(raw)
    assert status == 200
    assert info["kernel_version"].startswith("spark-")
    assert info["node_id_count"] > 0 and info["store_size"] >= info["node_id_count"]
    assert "h" in info["uptime"] or "m" in info["uptime"]
    assert info["databases"][0]["name"] == "default"

    status, _, raw = _get(server, "/queries")
    assert status == 200 and isinstance(json.loads(raw)["queries"], list)

    status, _, raw = _get(server, "/dbs")
    dbs = json.loads(raw)["databases"]
    assert status == 200 and dbs[0]["name"] == "default" and dbs[0]["node_count"] > 0


def test_ui_route_serves_html(server):
    status, ct, raw = _get(server, "/ui")
    assert status == 200 and "text/html" in ct and b"<html>" in raw
    # the UI is a real console over the reference-parity data routes:
    # it must reference each endpoint it consumes
    for route in (b"/stats", b"/cypher", b"/nodes", b"/rels"):
        assert route in raw
    # and carry the console + graph view + details panels
    for marker in (b"Cypher console", b"Graph view", b"Node details"):
        assert marker in raw


def test_ui_behavior_parity_surface(server):
    """r7: the single-file UI carries the Vue app's behavioral surface
    (web-ui/src/stores + components), not just the console: history and
    favorites stores on the SAME localStorage keys, the :commands over
    /sysinfo //queries //dbs, force layout + expand-neighbors, and
    JSON+CSV export."""
    _status, _ct, raw = _get(server, "/ui")
    # stores (queryHistory.ts / favorites.ts key + cap parity)
    for marker in (b"graphdb_query_history", b"graphdb_favorites",
                   b"MAX_HISTORY = 100", b"Query history", b"Favorites"):
        assert marker in raw
    # commands store (commands.ts) over the parity routes
    for marker in (b":sysinfo", b":queries", b":dbs", b"/sysinfo"):
        assert marker in raw
    # GraphView behaviors: force iteration, physics toggle, dblclick
    # expand, drag-to-pin, per-label colors, arrowheads
    for marker in (b"forceTick", b"physics", b"expandNeighbors",
                   b"labelColor", b"marker-end"):
        assert marker in raw
    # ExportDialog parity: both formats
    for marker in (b"exportRows('json')", b"exportRows('csv')"):
        assert marker in raw


def test_cache_cleanup_route(server):
    status, out = _post(server, "/cache/cleanup", {})
    assert status == 200 and out["ok"] is True and out["evicted"] >= 0


def test_invalid_json_body_is_client_error(server):
    """Malformed JSON must 4xx, never crash the server (reference
    test_invalid_json, server_api_test.rs:553-573)."""
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/nodes",
        data=b"{invalid json}",
        headers={"Content-Type": "application/json"},
    )
    try:
        urllib.request.urlopen(req)
        raise AssertionError("expected a client error")
    except urllib.error.HTTPError as e:
        assert 400 <= e.code < 500
    # the server survives and still answers
    status, _, _ = _get(server, "/labels")
    assert status == 200


def test_get_nonexistent_node_and_rel(server):
    """Unknown ids 404 cleanly, never crash (reference
    test_get_nonexistent_node/rel, server_api_test.rs:515-551)."""
    for path in ("/nodes/999999999999", "/rels/999999999999"):
        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{server.port}{path}")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    status, _, _ = _get(server, "/labels")  # server survives
    assert status == 200


def test_dbs_totals_equal_stats_sums(server):
    """/dbs counts the catalog in the same single job as /stats."""
    _, stats = _call(server, "GET", "/stats")
    _, dbs = _call(server, "GET", "/dbs")
    db = dbs["databases"][0]
    assert db["node_count"] == sum(stats["nodes"].values())
    assert db["rel_count"] == sum(stats["rels"].values())


# -- error status codes --------------------------------------------------------

def _status(server, method, path, body=None):
    try:
        return _call(server, method, path, body)[0]
    except urllib.error.HTTPError as e:
        with e:
            return e.code


def test_bad_input_is_400(server):
    # Cypher syntax error, Cypher compile error, unknown column (Spark
    # AnalysisException)
    assert _status(server, "POST", "/cypher", {"query": "MATCH (n:Nation RETURN"}) == 400
    assert _status(server, "POST", "/cypher", {"query": "MATCH (n) RETURN n.x"}) == 400
    assert _status(server, "POST", "/query", {
        "label": "Region", "property": "no_such_column", "value": 1}) == 400


def test_unexpected_error_is_500_and_logged(server, monkeypatch, caplog):
    def boom(method, path, body_fn):
        raise RuntimeError("engine bug")

    monkeypatch.setattr(server, "_route_locked", boom)
    with caplog.at_level("ERROR", logger="rs_graphdb_spark.sources.http_server"):
        with pytest.raises(urllib.error.HTTPError) as e:
            _call(server, "GET", "/labels")
    with e.value:
        assert e.value.code == 500
        assert json.loads(e.value.read()) == {"error": "internal error: RuntimeError"}
    rec = next(r for r in caplog.records if r.name.endswith("http_server"))
    assert "GET /labels" in rec.getMessage()
    assert rec.exc_info and "engine bug" in str(rec.exc_info[1])


# -- read/write concurrency ----------------------------------------------------

READ_TIMEOUT_S = 60


def _in_thread(fn, *args):
    import threading

    out = {}

    def run():
        try:
            out["result"] = fn(*args)
        except Exception as exc:  # surfaced by the asserting test
            out["error"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    return t, out


def test_reads_do_not_wait_for_the_write_lock(server):
    """Reads answer while a writer holds the lock; a Cypher CREATE sent
    at the same time lands only once the lock is released."""
    from rs_graphdb_spark.graph import label_base

    create = {"query": "CREATE (n:Nation {n_name: 'LOCKLAND', n_regionkey: 0})"}
    lockland = {"label": "Nation", "property": "n_name", "value": "LOCKLAND"}
    server._lock.acquire()
    try:
        writer, result = _in_thread(_call, server, "POST", "/cypher", create)
        reads = [
            ("POST", "/query", {"label": "Nation", "property": "n_nationkey", "value": 3}),
            ("POST", "/search", {"q": "machinery", "labels": ["Customer"]}),
            ("POST", "/cypher", {"query": "MATCH (n:Nation) WHERE n.n_regionkey = 1 "
                                          "RETURN n.n_name AS name"}),
            ("GET", f"/nodes/{label_base('Customer') + 1}", None),
            ("GET", f"/nodes/{label_base('Customer') + 1}/neighbors", None),
        ]
        for method, path, body in reads:
            status, out = _call(server, method, path, body, READ_TIMEOUT_S)
            assert status == 200 and out["rows"], path
        assert writer.is_alive(), result
        assert _call(server, "POST", "/query", lockland, READ_TIMEOUT_S)[1]["rows"] == []
    finally:
        server._lock.release()
    writer.join(READ_TIMEOUT_S)
    assert result == {"result": (200, {"ok": True})}
    assert len(_call(server, "POST", "/query", lockland)[1]["rows"]) == 1


def test_concurrent_cypher_creates_lose_no_update(server):
    """Concurrent Cypher CREATEs (more writer threads than a small box has
    cores, with frequent thread switches) all land: none compiles against
    a graph another writer is about to replace."""
    import sys

    writers_n = 6
    _, before = _call(server, "GET", "/stats")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        writers = [
            _in_thread(_call, server, "POST", "/cypher", {
                "query": f"CREATE (n:Nation {{n_name: 'RACE{i}', n_regionkey: 0}})"})
            for i in range(writers_n)
        ]
        for t, result in writers:
            t.join(READ_TIMEOUT_S)
            assert result == {"result": (200, {"ok": True})}
    finally:
        sys.setswitchinterval(interval)
    _, after = _call(server, "GET", "/stats")
    assert after["nodes"]["Nation"] == before["nodes"]["Nation"] + writers_n


# -- /neighbors: one scan per edge set ------------------------------------------

def _two_branch_neighbors(g, node_id):
    """The earlier form of the route: one filtered scan per direction."""
    from pyspark.sql import functions as F

    parts = []
    for rt, es in g.edges.items():
        parts.append(es.df.filter(F.col("src") == node_id).select(
            F.col("dst").alias("id"), F.lit(rt).alias("rel_type"),
            F.lit("out").alias("direction")))
        parts.append(es.df.filter(F.col("dst") == node_id).select(
            F.col("src").alias("id"), F.lit(rt).alias("rel_type"),
            F.lit("in").alias("direction")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("rel_type", "direction", "id")


def test_neighbors_match_two_branch_form(server):
    from rs_graphdb_spark.graph import label_base
    from rs_graphdb_spark.sources.http_server import _neighbors

    _call(server, "POST", "/batch/nodes", {"nodes": [
        {"labels": ["Widget"], "properties": {"id": 900020, "name": "hub"}},
        {"labels": ["Widget"], "properties": {"id": 900021, "name": "spoke"}},
    ]})
    for eid, src, dst in ((990020, 900020, 900021), (990021, 900021, 900020)):
        _call(server, "POST", "/rels", {
            "rel_type": "WIRED", "edge_id": eid, "src": src, "dst": dst})
    g = server.graph
    ids = [label_base("Order") + 5, label_base("Customer") + 19,
           label_base("Part") + 3, label_base("Supplier") + 1, 900020]
    for node_id in ids:
        want = [r.asDict() for r in _two_branch_neighbors(g, node_id).collect()]
        got = [r.asDict() for r in _neighbors(g, node_id).collect()]
        assert want, node_id
        assert got == want, node_id
    assert _call(server, "GET", "/nodes/900020/neighbors")[1]["rows"] == [
        {"id": 900021, "rel_type": "WIRED", "direction": "in"},
        {"id": 900021, "rel_type": "WIRED", "direction": "out"},
    ]


def test_neighbors_self_loop_is_both_out_and_in(server):
    _call(server, "POST", "/nodes", {
        "labels": ["Widget"], "properties": {"id": 900030, "name": "loop"}})
    _call(server, "POST", "/rels", {
        "rel_type": "LOOPS", "edge_id": 990030, "src": 900030, "dst": 900030})
    rows = _call(server, "GET", "/nodes/900030/neighbors")[1]["rows"]
    assert rows == [
        {"id": 900030, "rel_type": "LOOPS", "direction": "in"},
        {"id": 900030, "rel_type": "LOOPS", "direction": "out"},
    ]


def test_neighbors_plan_scans_each_edge_set_once(spark):
    """Each edge set with a side that can hold the id is scanned once, and
    only those: a namespaced id reads its label's sets, a raw id reads
    every set, and a label with no incident set reads none."""
    from rs_graphdb_spark.graph import label_base
    from rs_graphdb_spark.sources.http_server import _neighbors

    def leaves(df):
        return df._jdf.queryExecution().optimizedPlan().collectLeaves().size()

    g = load_tpch_graph(spark, SF)
    incident = {
        "Customer": {"PLACED", "CUST_NATION", "KNOWS", "SEGMENT_RING"},
        "Order": {"PLACED", "CONTAINS", "NEXT_ORDER"},
    }
    for label, rel_types in incident.items():
        assert rel_types == {rt for rt, es in g.edges.items()
                             if label in (es.src_label, es.dst_label)}
        node_id = label_base(label) + 5
        assert leaves(_neighbors(g, node_id)) == sum(
            leaves(g.edges[rt].df) for rt in rel_types)
    per_set = sum(leaves(es.df) for es in g.edges.values())
    assert leaves(_neighbors(g, 900020)) == per_set
    assert leaves(_two_branch_neighbors(g, 900020)) == 2 * per_set
    assert _neighbors(g, label_base("Document") + 1) is None


def test_pruned_neighbors_match_full_scan(server):
    """The pruned scan answers exactly what a scan of every edge set does:
    ids of every catalog label, of a label created by Cypher, raw ids, a
    namespaced id on a "Node"-typed rel (self-loop included), and labels
    with no incident set."""
    from rs_graphdb_spark.graph import label_base
    from rs_graphdb_spark.sources.http_server import _neighbors

    cust = label_base("Customer")
    assert _call(server, "POST", "/cypher", {
        "query": "CREATE (a:Gadget {name: 'g1'})-[:PLUGS]->(b:Gadget {name: 'g2'})",
    })[0] == 200
    _call(server, "POST", "/batch/rels", {"rels": [
        {"rel_type": "TAGGED", "edge_id": 990050, "src": cust + 19, "dst": 900050},
        {"rel_type": "TAGGED", "edge_id": 990051, "src": cust + 7, "dst": cust + 7},
    ]})
    g = server.graph
    gadgets = [r["id"] for r in g.nodes["Gadget"].select("id").collect()]
    firsts = [g.nodes[lb].select("id").first()["id"] for lb in sorted(g.nodes)]
    ids = [*firsts, *gadgets, cust + 19, cust + 7, label_base("Order") + 5,
           label_base("Part") + 3, 900020, 900030, 900050]
    for node_id in ids:
        want = [r.asDict() for r in _two_branch_neighbors(g, node_id).collect()]
        nb = _neighbors(g, node_id)
        got = [] if nb is None else [r.asDict() for r in nb.collect()]
        assert got == want, node_id
    rows = _call(server, "GET", f"/nodes/{cust + 7}/neighbors")[1]["rows"]
    assert {"id": cust + 7, "rel_type": "TAGGED", "direction": "in"} in rows
    assert {"id": cust + 7, "rel_type": "TAGGED", "direction": "out"} in rows
    doc = label_base("Document") + 1
    assert _call(server, "GET", f"/nodes/{doc}/neighbors")[1]["rows"] == []


# -- the endpoint namespace rule on writes --------------------------------------

def test_writes_outside_a_sides_namespace_answer_400(server):
    """An edge whose endpoint lies in another label's namespace than its
    side declares, or a node posted under another label than its id's
    namespace, answers 400 and leaves the served graph as it was."""
    from rs_graphdb_spark.graph import label_base
    from rs_graphdb_spark.sources import protowire as pw

    order, cust = label_base("Order") + 5, label_base("Customer") + 19
    _, before = _call(server, "GET", "/stats")
    graph = server.graph
    for path, body in (
        ("/rels", {"rel_type": "KNOWS", "edge_id": 990060, "src": order, "dst": cust}),
        ("/batch/rels", {"rels": [
            {"rel_type": "KNOWS", "edge_id": 990061, "src": cust, "dst": cust + 1},
            {"rel_type": "KNOWS", "edge_id": 990062, "src": cust, "dst": order},
        ]}),
        ("/nodes", {"labels": ["Customer"], "properties": {"id": order}}),
        ("/batch/nodes", {"nodes": [
            {"labels": ["Customer"], "properties": {"id": cust + 900000}},
            {"labels": ["Part"], "properties": {"id": cust + 900001}},
        ]}),
    ):
        with pytest.raises(urllib.error.HTTPError) as e:
            _call(server, "POST", path, body)
        with e.value as err:
            assert err.code == 400 and "id namespace" in err.read().decode(), path
    with pytest.raises(urllib.error.HTTPError) as e:
        _post_pb(server, "/grpc/CreateRelationship",
                 pw.encode_create_rel_request(order, cust, "KNOWS", {}))
    with e.value as err:
        assert err.code == 400
    assert server.graph is graph
    assert _call(server, "GET", "/stats")[1] == before


def test_delete_cascades_into_wildcard_edge_sets(server):
    """A rel type opened over HTTP declares "Node" sides; deleting one of
    its endpoints removes the edge."""
    _call(server, "POST", "/batch/nodes", {"nodes": [
        {"labels": ["Widget"], "properties": {"id": 900040, "name": "a"}},
        {"labels": ["Widget"], "properties": {"id": 900041, "name": "b"}},
    ]})
    _call(server, "POST", "/rels", {
        "rel_type": "LINKS", "edge_id": 990040, "src": 900040, "dst": 900041})
    _call(server, "DELETE", "/nodes/900040")
    rows = _call(server, "GET", "/nodes/900041/neighbors")[1]["rows"]
    assert all(r["id"] != 900040 for r in rows), rows
    assert _status(server, "GET", "/rels/990040") == 404


def test_deleted_order_leaves_no_knows_edge(server):
    """A KNOWS edge can never hold an Order id, so deleting that Order
    leaves no dangling KNOWS edge behind."""
    from pyspark.sql import functions as F

    from rs_graphdb_spark.graph import label_base

    g = server.graph
    order = g.nodes["Order"].select("id").orderBy(F.desc("id")).first()["id"]
    cust = label_base("Customer") + 23
    status = _status(server, "POST", "/rels", {
        "rel_type": "KNOWS", "edge_id": 990070, "src": order, "dst": cust})
    _call(server, "DELETE", f"/nodes/{order}")
    knows = server.graph.edges["KNOWS"].df
    assert knows.filter((F.col("src") == order) | (F.col("dst") == order)).count() == 0
    assert status == 400
