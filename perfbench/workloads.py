"""The three ways the engine is used, driven through its public API.

``Session`` owns the SparkSession, the loaded graph and, for the served
workload, the in-process ``GraphHTTPServer``. Each ``run_*`` function takes a
plan (``plan.build``) and returns one ``Result`` per op, timed end to end
(build, action and collect under a row cap) and checked against the oracle.
"""

from __future__ import annotations

import json
import threading
import time
import traceback
import urllib.error
import urllib.request
from dataclasses import dataclass, field

from oracle import CUSTOMER, ORDER, canon, fingerprint, read_sql, same
from plan import Op

ROW_CAP = 1000


@dataclass
class Result:
    op: Op
    start: float
    latency: float
    ok: bool
    error: str | None = None
    fp: str | None = None
    info: dict = field(default_factory=dict)


def _fail_text(exc: BaseException) -> str:
    return "".join(traceback.format_exception_only(type(exc), exc)).strip()[:400]


class Session:
    """SparkSession + graph (+ server): what one set-up produces."""

    def __init__(self, sf_dir: str, workload: str, tracer, checkpoint_dir: str):
        self.sf_dir, self.workload, self.tracer = sf_dir, workload, tracer
        self.checkpoint_dir = checkpoint_dir
        self.spark = self.graph = self.server = None
        self.docs = self.emb = None

    def start(self) -> None:
        from pyspark.sql import functions as F

        from rs_graphdb_spark import get_spark, load_tpch_graph

        tr = self.tracer
        with tr.span("session.start"):
            self.spark = get_spark("perfbench")
        self.spark.sparkContext.setCheckpointDir(self.checkpoint_dir)
        with tr.span("loaders.load"):
            self.graph = load_tpch_graph(self.spark, self.sf_dir)
            if self.workload.startswith("batch"):
                self.docs = self.spark.read.parquet(f"{self.sf_dir}/documents.parquet")
                self.emb = self.spark.read.parquet(
                    f"{self.sf_dir}/embeddings.parquet").select(
                    "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        if self.workload == "serve_mixed":
            from rs_graphdb_spark.sources.http_server import GraphHTTPServer

            with tr.span("http.start"):
                self.server = GraphHTTPServer(self.graph).start()

    def stop(self) -> None:
        if self.server is not None:
            self.server.stop()
            self.server._thread.join(timeout=30)
            self.server = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


# ---------------------------------------------------------------------------
# interactive_read: one analyst session, fluent Query / Cypher / traversal
# ---------------------------------------------------------------------------

def _interactive_plan(g, op: Op):
    """(span family, build -> runnable action) for one interactive op."""
    from pyspark.sql import functions as F

    from rs_graphdb_spark import Query, execute_cypher
    from rs_graphdb_spark.operators import traversal

    p = op.params
    q = Query(graph=g)
    if op.type == "point_lookup":
        return "query", lambda: q.from_label("Customer").where_prop_eq(
            "c_custkey", p["custkey"]).select("id", "c_name", "c_acctbal")
    if op.type == "one_hop_count":
        return "query", lambda: q.from_label("Customer").where_prop_eq(
            "c_nationkey", p["nation"]).out("PLACED").count("cnt")
    if op.type == "three_hop_count":
        return "query", lambda: (
            q.from_label("Customer").where_prop_eq("c_nationkey", p["nation"])
            .out("PLACED").out("CONTAINS").out("SUPPLIED_BY").count("cnt"))
    if op.type == "grouped_agg":
        return "query", lambda: (
            q.from_label("Customer").where_prop_in("c_nationkey", p["nations"])
            .out("PLACED", edge_cols=("totalprice",), carry=("c_mktsegment",))
            .group_by_agg(["c_mktsegment"], {
                "n_orders": F.count("*"),
                "total_revenue": F.sum(
                    F.col("totalprice").cast("decimal(18,2)")).cast("double"),
            }))
    if op.type == "var_length":
        lo = p["cust_lo"]
        return "query", lambda: (
            q.from_label("Order").where_prop_between("o_custkey", lo, lo + 49)
            .where_prop_eq("o_orderpriority", p["priority"])
            .out_variable_length("NEXT_ORDER", 1, 2).select("id"))
    if op.type == "cypher_match":
        return "cypher", lambda: execute_cypher(g, _cypher_count(p))
    if op.type == "shortest_path":
        src = CUSTOMER + p["src"]

        def sp():
            d = traversal.shortest_path_length(
                g, src, src + p["hops"], "KNOWS", max_depth=p["hops"])
            return [[d]]
        return "traversal", sp
    raise ValueError(op.type)


def _cypher_count(p: dict) -> str:
    return (f"MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_nationkey = "
            f"{p['nation']} AND o.o_totalprice > {p['min_price']} "
            f"RETURN count(*) AS n")


def _cypher_3hop(p: dict) -> str:
    return ("MATCH (c:Customer)-[:PLACED]->(o:Order)-[:CONTAINS]->(p:Part)"
            f"-[:SUPPLIED_BY]->(s:Supplier) WHERE c.c_nationkey = {p['nation']} "
            "RETURN count(*) AS n")


def run_interactive(sess: Session, ops: list[Op], expected: dict, t0: float) -> list[Result]:
    tr = sess.tracer
    out = []
    for op in ops:
        family, build = _interactive_plan(sess.graph, op)
        start = time.perf_counter()
        err = rows = None
        try:
            with tr.span("op", op=op.index, type=op.type):
                if family == "traversal":
                    with tr.span("traversal.shortest_path"):
                        rows = build()
                else:
                    with tr.span(f"{family}.build.{op.type}"):
                        df = build()
                    with tr.span(f"{family}.action.{op.type}"):
                        rows = [list(r) for r in df.limit(ROW_CAP).collect()]
        except Exception as exc:  # noqa: BLE001 — a failed op is a result
            err = _fail_text(exc)
        lat = time.perf_counter() - start
        ok = err is None and same(rows, expected[op.index])
        if err is None and not ok:
            err = f"wrong answer: got {canon(rows)[:5]} want {canon(expected[op.index])[:5]}"
        out.append(Result(op, start - t0, lat, ok, err, rows is not None and fingerprint(rows) or None))
    return out


# ---------------------------------------------------------------------------
# serve_mixed: closed-loop HTTP clients, reads and writes
# ---------------------------------------------------------------------------

NEW_NODE = {"c_nationkey": 99, "c_mktsegment": "BENCH"}


def _new_node(key: int, acctbal: float) -> dict:
    return {"id": CUSTOMER + key, "c_custkey": key, "c_name": f"bench#{key}",
            "c_acctbal": acctbal, **NEW_NODE}


def _node_row(r: dict) -> list:
    return [r.get(c) for c in ("id", "c_custkey", "c_name", "c_nationkey",
                               "c_acctbal", "c_mktsegment")]


class Client:
    """One closed-loop HTTP client: next request only after the last reply."""

    def __init__(self, port: int):
        self.base = f"http://127.0.0.1:{port}"
        self.state: dict[int, dict | None] = {}  # custkey -> expected node

    def call(self, method: str, path: str, body=None) -> tuple[int, dict]:
        data = None if body is None else json.dumps(body).encode()
        req = urllib.request.Request(self.base + path, data=data, method=method,
                                     headers={"Content-Type": "application/json"})
        try:
            with urllib.request.urlopen(req, timeout=120) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as e:
            with e:
                return e.code, json.loads(e.read() or b"{}")

    def request(self, op: Op) -> tuple[int, dict, dict | None]:
        """(status, reply, the exact reply a write or read-your-writes
        check expects; None for seed reads, checked against the oracle)."""
        p = op.params
        t = op.type
        if t == "cypher":
            return (*self.call("POST", "/cypher", {"query": _cypher_count(p)}), None)
        if t == "cypher_3hop":
            return (*self.call("POST", "/cypher", {"query": _cypher_3hop(p)}), None)
        if t == "query":
            return (*self.call("POST", "/query", {
                "label": "Customer", "property": "c_custkey", "value": p["custkey"],
                "out_rel": "PLACED"}), None)
        if t == "node":
            return (*self.call("GET", f"/nodes/{CUSTOMER + p['custkey']}"), None)
        if t == "neighbors":
            return (*self.call("GET", f"/nodes/{ORDER + p['orderkey']}/neighbors"), None)
        if t == "batch_nodes":
            nodes = [_new_node(k, 0.0) for k in p["keys"]]
            for n in nodes:
                self.state[n["c_custkey"]] = n
            return (*self.call("POST", "/batch/nodes", {"nodes": [
                {"labels": ["Customer"], "properties": n} for n in nodes]}),
                {"ok": True, "created": len(nodes)})
        if t == "rels":
            return (*self.call("POST", "/rels", {
                "rel_type": "KNOWS", "edge_id": p["edge_id"],
                "src": CUSTOMER + p["src"], "dst": CUSTOMER + p["dst"]}),
                {"ok": True, "created": 1})
        if t == "put_node":
            self.state[p["key"]] = {**self.state[p["key"]], "c_acctbal": p["acctbal"]}
            return (*self.call("PUT", f"/nodes/{CUSTOMER + p['key']}",
                                           {"properties": {"c_acctbal": p["acctbal"]}}),
                    {"ok": True})
        if t == "cypher_create":
            n = _new_node(p["key"], 0.5)
            self.state[p["key"]] = n
            props = ", ".join(f"{k}: {json.dumps(v)}".replace('"', "'") for k, v in n.items())
            return (*self.call("POST", "/cypher", {
                "query": f"CREATE (n:Customer {{{props}}})"}), {"ok": True})
        if t == "cypher_update":
            match = f"MATCH (n:Customer) WHERE n.c_custkey = {p['key']}"
            if p["op"] == "set":
                self.state[p["key"]] = {**self.state[p["key"]], "c_acctbal": p["acctbal"]}
                q = f"{match} SET n.c_acctbal = {p['acctbal']}"
            else:
                self.state[p["key"]] = None
                q = f"{match} DELETE n"
            return (*self.call("POST", "/cypher", {"query": q}), {"ok": True})
        if t == "ryw":
            key = p["custkey"]
            if p.get("via") == "cypher":
                n = self.state.get(key)
                return (*self.call("POST", "/cypher", {"query": (
                    f"MATCH (n:Customer) WHERE n.c_custkey = {key} "
                    f"RETURN n.c_name AS name, n.c_acctbal AS bal")}),
                    {"rows": [] if n is None else
                     [{"name": n["c_name"], "bal": n["c_acctbal"]}]})
            if "expect_neighbor" in p:
                return (*self.call("GET", f"/nodes/{CUSTOMER + key}/neighbors"),
                        {"rows": [{"id": CUSTOMER + p["expect_neighbor"],
                                   "rel_type": "KNOWS", "direction": "out"}]})
            return (*self.call("GET", f"/nodes/{CUSTOMER + key}"),
                    {"rows": [self.state[key]]})
        raise ValueError(t)


def _check_serve(op: Op, status: int, reply: dict, want, expected: dict) -> str | None:
    if want is not None:  # writes and read-your-writes: the exact reply
        if status != 200 or reply != want:
            return f"HTTP {status}: {str(reply)[:200]} (want {want})"
        return None
    if status != 200:
        return f"HTTP {status}: {str(reply)[:200]}"
    rows = reply.get("rows", [])
    if op.type in ("cypher", "cypher_3hop"):
        got = [[r["n"]] for r in rows]
    elif op.type == "query":
        got = [[r["id"]] for r in rows]
    elif op.type == "node":
        got = [_node_row(r) for r in rows]
    else:  # neighbors
        got = [[r["id"], r["rel_type"], r["direction"]] for r in rows]
    if not same(got, expected[op.index]):
        return f"wrong answer: got {canon(got)[:5]} want {canon(expected[op.index])[:5]}"
    return None


def route_of(op: Op) -> str:
    """The server route an op's request goes to."""
    if op.type in ("cypher_3hop", "cypher_create", "cypher_update"):
        return "cypher"
    if op.type == "ryw":
        if op.params.get("via") == "cypher":
            return "cypher"
        return "neighbors" if "expect_neighbor" in op.params else "node"
    return op.type


def run_serve(sess: Session, plan: list[list[Op]], expected: list[dict], t0: float) -> list[Result]:
    tr = sess.tracer
    results: list[list[Result]] = [[] for _ in plan]

    def loop(c: int) -> None:
        cl = Client(sess.server.port)
        for op in plan[c]:
            route = route_of(op)
            start = time.perf_counter()
            try:
                with tr.span(f"http.client.{route}", op=op.index, client=c):
                    status, reply, want = cl.request(op)
                err = _check_serve(op, status, reply, want, expected[c])
            except Exception as exc:  # noqa: BLE001 — a failed op is a result
                err = _fail_text(exc)
            lat = time.perf_counter() - start
            results[c].append(Result(op, start - t0, lat, err is None, err,
                                     info={"route": route}))

    threads = [threading.Thread(target=loop, args=(c,), name=f"client-{c}")
               for c in range(len(plan))]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=170)
        if th.is_alive():
            raise RuntimeError(f"{th.name} did not finish")
    return [r for rs in results for r in rs]


def serve_final_checks(sess: Session, stats_rows: list, net: dict) -> list[str]:
    """The served graph must equal the seed graph plus the net writes."""
    cl = Client(sess.server.port)
    status, reply = cl.call("GET", "/stats")
    if status != 200:
        return [f"/stats HTTP {status}: {reply}"]
    want = {k: v for k, v in stats_rows}
    want["n:Customer"] += net["Customer"]
    want["r:KNOWS"] += net["KNOWS"]
    got = {f"n:{k}": v for k, v in reply["nodes"].items()}
    got.update({f"r:{k}": v for k, v in reply["rels"].items()})
    return [] if got == want else [f"/stats {got} != seed + net writes {want}"]


# ---------------------------------------------------------------------------
# batch: analytics job + corpus job per pass
# ---------------------------------------------------------------------------

def _job(sess: Session, op: Op, sets: list):
    from pyspark.sql import functions as F

    from rs_graphdb_spark.algorithms import graph_algos as ga
    from rs_graphdb_spark.functions import dedup, similarity
    from rs_graphdb_spark.operators import traversal

    g, p = sess.graph, op.params
    cust, knows = g.nodes["Customer"], g.edges["KNOWS"].df
    t = op.type
    if t == "pagerank":
        r = ga.pagerank(cust, knows, p["damping"], p["iterations"])
        return r.select("id", F.round("rank", 8)).orderBy(
            F.col("round(rank, 8)").desc(), "id").limit(20).collect()
    if t == "connected_components":
        return ga.connected_components(cust, knows).select("id", "component").collect()
    if t == "label_propagation":
        return ga.label_propagation(cust, knows, p["iterations"]).groupBy(
            "community").agg(F.count("*").alias("sz")).collect()
    if t == "k_core":
        return ga.k_core(cust, knows, k=p["k"]).select("id").collect()
    if t == "strongly_connected_components":
        return ga.strongly_connected_components(
            cust.select("id"), g.edges["SEGMENT_RING"].df).select("id", "scc").collect()
    if t == "bfs_distances":
        lo = CUSTOMER + p["start_lo"]
        start = cust.filter(F.col("id").between(lo, lo + p["n_start"] - 1)).select("id")
        return traversal.bfs_distances(g, start, "KNOWS", "out", max_depth=p["max_depth"]
                                       ).select("id", "dist").collect()
    if t == "shingle_sets":
        sets[:] = [dedup.shingle_sets(sess.docs, "doc_id", "text")]
        return sets[0].agg(F.sum(F.size("sets"))).collect()
    if t == "exact_dedup_groups":
        return dedup.exact_dedup_groups(sess.docs, "doc_id", "text").select(
            "fp", "n_docs", "keeper").collect()
    if t in ("minhash_dedup_pairs", "ngram_jaccard_pairs"):
        fn = getattr(dedup, t)
        return fn(sess.docs, "doc_id", "text", threshold=p["threshold"],
                  sets_df=sets[0], **({"engine": p["engine"]} if "engine" in p else {})
                  ).select("a", "b", F.round("jaccard", 6)).collect()
    if t == "knn_bruteforce":
        qs = sess.emb.filter(F.col("vec_id").isin(p["query_ids"]))
        return similarity.knn_bruteforce(sess.emb, qs, "vec_id", "embedding", k=p["k"]).select(
            "query_id", "neighbor_id", F.round("cos", 6), "rank").collect()
    raise ValueError(t)


#: span name per batch job; layers.py names per-layer metrics after these
JOB_SPAN = {
    "pagerank": "algorithms.pagerank",
    "connected_components": "algorithms.connected_components",
    "label_propagation": "algorithms.label_propagation",
    "k_core": "algorithms.k_core",
    "strongly_connected_components": "algorithms.strongly_connected_components",
    "bfs_distances": "traversal.bfs_distances",
    "shingle_sets": "dedup.shingle",
    "exact_dedup_groups": "dedup.exact",
    "minhash_dedup_pairs": "dedup.minhash",
    "ngram_jaccard_pairs": "dedup.ngram",
    "knn_bruteforce": "similarity.knn",
}


def run_batch(sess: Session, ops: list[Op], expected: dict | None, t0: float) -> list[Result]:
    tr = sess.tracer
    out = []
    sets: list = []
    for op in ops:
        start = time.perf_counter()
        err = rows = None
        try:
            with tr.span("op", op=op.index, type=op.type):
                with tr.span(JOB_SPAN[op.type]):
                    rows = [list(r) for r in _job(sess, op, sets)]
        except Exception as exc:  # noqa: BLE001 — a failed op is a result
            err = _fail_text(exc)
        lat = time.perf_counter() - start
        ok = err is None
        if ok and expected is not None and not same(rows, expected[op.index]):
            ok = False
            err = f"wrong answer: got {canon(rows)[:3]} want {canon(expected[op.index])[:3]}"
        info = {"job": op.params["job"], "rows": len(rows or [])}
        if op.type == "shingle_sets" and rows:
            info["postings"] = rows[0][0]
        out.append(Result(op, start - t0, lat, ok, err,
                          rows is not None and fingerprint(rows) or None, info))
    return out


def expected_reads(oracle, ops: list[Op]) -> dict[int, list]:
    """Oracle answers for every checkable read, keyed by op index."""
    return {op.index: oracle.rows(read_sql(op.type, op.params))
            for op in ops if op.kind == "read" and op.type != "ryw"}
