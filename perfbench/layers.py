"""Per-layer metrics of a traced run, named after the engine's modules.

``PER_LAYER`` is the one list of per-layer metric names and units;
``BENCHMARK.json`` carries the same list (``tests/test_plan.py`` checks it).
Every traced run reports every name: a layer a workload does not use
reports 0, which is itself the prediction for that workload.
"""

from __future__ import annotations

import pathlib
import statistics

from spans import COUNTERS, Span, counters_by_group, read_event_logs, subtree_groups, summarize

#: Query-builder op types reported per type: the served /query route. The
#: by-hand interactive_read workload's op types are in its spans file.
QUERY_OPS = ("http_query",)
ROUTES = ("cypher", "query", "node", "neighbors", "batch_nodes", "rels", "put_node")
ALGORITHMS = ("pagerank", "connected_components", "label_propagation", "k_core",
              "strongly_connected_components")
DERIVED = ("SUPPLIED_BY", "KNOWS", "SEGMENT_RING", "NEXT_ORDER")
#: layer -> span-name prefixes that belong to it
LAYERS = {
    "loaders": ("loaders.",),
    "query": ("query.",),
    "cypher": ("cypher.",),
    "traversal": ("traversal.",),
    "dml": ("dml.",),
    "http": ("http.server",),
    "algorithms": ("algorithms.",),
    "dedup": ("dedup.", "similarity."),
}
LAYER_COUNTERS = ("jobs", "tasks", "executor_run_pct", "shuffle_write_mb", "task_skew")
COUNTER_UNITS = {"jobs": "count", "stages": "count", "tasks": "count",
                 "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s",
                 "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
                 "input_mb": "MB", "task_skew": "ratio"}
#: per-layer Spark counters; executor time as a share of the run's total
LAYER_COUNTER_UNITS = {**COUNTER_UNITS, "executor_run_pct": "%"}
CORPUS_SPANS = ("dedup.shingle", "dedup.exact", "dedup.minhash", "dedup.ngram", "similarity.knn")


def _names() -> dict[str, str]:
    """Times a layer spends on only one of the workloads are given as a share
    (%) of the measured client-seconds (clients x wall): an unused layer then
    reads 0 % rather than a constant 0 s. Times every workload spends stay in
    seconds. The seconds behind every share are in the report's
    ``per_layer_seconds``."""
    m = {"session.start_s": "s", "loaders.load_s": "s", "loaders.derived_edges_s": "s"}
    m.update({f"loaders.derived_edge_rows.{d}": "count" for d in DERIVED})
    m.update({"query.build_pct.http_query": "%", "query.action_pct.http_query": "%",
              "cypher.parse_pct": "%", "cypher.compile_pct": "%", "cypher.statements": "count",
              "traversal.call_pct": "%", "traversal.jobs": "count",
              "dml.call_pct": "%", "dml.calls": "count", "graph.plan_nodes": "count"})
    for r in ROUTES:
        m[f"http.client_pct.{r}"] = "%"
        m[f"http.engine_pct.{r}"] = "%"
        m[f"http.jobs_per_request.{r}"] = "count"
    m.update({"http.outside_engine_pct": "%", "http.lock_wait_pct": "%"})
    for a in ALGORITHMS:
        m.update({f"algorithms.{a}.pct": "%", f"algorithms.{a}.jobs": "count",
                  f"algorithms.{a}.stages": "count"})
    m.update({f"{k}.pct": "%" for k in CORPUS_SPANS})
    m.update({"dedup.postings": "count", "dedup.pairs_out": "count"})
    m.update({f"spark.{c}": COUNTER_UNITS[c] for c in COUNTERS})
    for layer in LAYERS:
        m.update({f"spark.{layer}.{c}": LAYER_COUNTER_UNITS[c] for c in LAYER_COUNTERS})
    m["trace.spans"] = "count"
    return m


PER_LAYER = _names()


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _in(span: Span, prefixes: tuple[str, ...]) -> bool:
    return span.name.startswith(prefixes)


def _top(spans: list[Span], prefixes: tuple[str, ...]) -> list[Span]:
    """Spans of a layer that no other span of the same layer encloses."""
    by_id = {s.id: s for s in spans}

    def nested(s: Span) -> bool:
        p = by_id.get(s.parent)
        while p is not None:
            if _in(p, prefixes):
                return True
            p = by_id.get(p.parent)
        return False

    return [s for s in spans if _in(s, prefixes) and not nested(s)]


def per_layer_metrics(spans: list[Span], log_dir: pathlib.Path, results, extra: dict,
                      client_seconds: float) -> tuple[dict, dict]:
    """(metrics as BENCHMARK.json names them, the seconds behind each share)."""
    jobs, stages = read_event_logs(log_dir)
    buckets = counters_by_group(jobs, stages)

    def spark(roots: list[Span]) -> dict:
        return summarize([buckets[g] for g in subtree_groups(spans, roots) if g in buckets])

    def total(ss) -> float:
        return sum(s.dur for s in ss)

    named = lambda n: [s for s in spans if s.name == n]  # noqa: E731
    m = dict.fromkeys(PER_LAYER, 0.0)
    secs: dict[str, float] = {}  # share metric -> seconds
    m["session.start_s"] = _med(s.dur for s in named("session.start"))
    m["loaders.load_s"] = _med(s.dur for s in named("loaders.load"))
    m["loaders.derived_edges_s"] = total(s for s in spans if s.name.startswith("loaders.derived."))
    for d, n in extra.get("derived", {}).items():
        m[f"loaders.derived_edge_rows.{d}"] = n

    engine_by_id = {s.id: s for s in spans if s.name == "http.engine"}
    builds = named("query.build.http_query")
    secs["query.build_pct.http_query"] = total(builds)
    # the /query action is the rest of its engine call (collect under the cap)
    secs["query.action_pct.http_query"] = sum(
        engine_by_id[b.parent].dur - b.dur for b in builds if b.parent in engine_by_id)
    secs["cypher.parse_pct"] = total(named("cypher.parse"))
    secs["cypher.compile_pct"] = total(named("cypher.compile"))
    m["cypher.statements"] = len(named("cypher.parse"))
    trav = _top(spans, LAYERS["traversal"])
    secs["traversal.call_pct"] = total(trav)
    m["traversal.jobs"] = spark(trav)["jobs"]
    dml = _top(spans, LAYERS["dml"])
    secs["dml.call_pct"] = total(dml)
    m["dml.calls"] = len(dml)
    m["graph.plan_nodes"] = extra.get("plan_nodes", 0)

    servers = named("http.server")
    engines = list(engine_by_id.values())
    for r in ROUTES:
        secs[f"http.client_pct.{r}"] = total(named(f"http.client.{r}"))
        secs[f"http.engine_pct.{r}"] = total(s for s in engines if s.attrs.get("route") == r)
        mine = [s for s in servers if s.attrs.get("route") == r]
        if mine:
            m[f"http.jobs_per_request.{r}"] = spark(mine)["jobs"] / len(mine)
    clients = [s for s in spans if s.name.startswith("http.client.")]
    secs["http.outside_engine_pct"] = total(clients) - total(engines)
    secs["http.lock_wait_pct"] = total(servers) - total(engines)

    for a in ALGORITHMS:
        calls = named(f"algorithms.{a}")
        secs[f"algorithms.{a}.pct"] = total(calls)
        if calls:
            c = [spark([s]) for s in calls]
            m[f"algorithms.{a}.jobs"] = _med(x["jobs"] for x in c)
            m[f"algorithms.{a}.stages"] = _med(x["stages"] for x in c)
    for name in CORPUS_SPANS:
        secs[f"{name}.pct"] = total(named(name))
    first = {}
    for r in results:
        first.setdefault(r.op.type, r.info)
    m["dedup.postings"] = first.get("shingle_sets", {}).get("postings", 0)
    m["dedup.pairs_out"] = sum(first.get(t, {}).get("rows", 0)
                               for t in ("minhash_dedup_pairs", "ngram_jaccard_pairs"))

    setup = ("session.", "loaders.", "http.start")
    measured = [s for s in spans if s.parent is None and not s.name.startswith(setup)]
    whole = spark(measured)
    m.update({f"spark.{k}": v for k, v in whole.items()})
    for layer, prefixes in LAYERS.items():
        c = spark(_top(spans, prefixes))
        c["executor_run_pct"] = (100.0 * c["executor_run_s"] / whole["executor_run_s"]
                                 if whole["executor_run_s"] else 0.0)
        m.update({f"spark.{layer}.{k}": c[k] for k in LAYER_COUNTERS})
    m["trace.spans"] = len(spans)
    for k, v in secs.items():
        m[k] = 100.0 * v / client_seconds
    return {k: float(v) for k, v in m.items()}, secs
