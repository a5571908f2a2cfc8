"""Graph export / persistence sinks.

Reference: whole-graph JSON / Graphviz DOT export
(`/root/reference/src/graph/db.rs:679-757`,
`src/visualization/export.rs`, formats `src/visualization/mod.rs:311-316`)
and the sled persistence trees (`src/storage/sled_store.rs:24-89`).

Spark-first: persistence IS parquet datasets per label/rel-type (all five
reference storage engines collapse into this — SURVEY.md §1.4); JSON
export is distributed ``toJSON``; DOT is a driver-side formatter over a
size-guarded collect (presentation output, not engine work).
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from rs_graphdb_spark.graph import EdgeSet, PropertyGraph
from rs_graphdb_spark.session import read_parquet


def save_graph(graph: PropertyGraph, path: str) -> None:
    """Persist all node/edge tables as parquet datasets under ``path``
    (layout: path/nodes/<Label>/, path/edges/<REL_TYPE>/ + _meta.json).
    At cluster scale add partitioning/bucketing options here per table."""
    meta = {"nodes": sorted(graph.nodes), "edges": {}}
    for label, df in graph.nodes.items():
        df.write.mode("overwrite").parquet(f"{path}/nodes/{label}")
    for rt, es in graph.edges.items():
        es.df.write.mode("overwrite").parquet(f"{path}/edges/{rt}")
        meta["edges"][rt] = {"src_label": es.src_label, "dst_label": es.dst_label}
    spark = next(iter(graph.nodes.values())).sparkSession
    spark.createDataFrame([(json.dumps(meta),)], "meta string").coalesce(1).write.mode(
        "overwrite"
    ).json(f"{path}/_meta")


def save_graph_bucketed(
    graph: PropertyGraph,
    db: str,
    buckets: int = 32,
    location: str | None = None,
) -> None:
    """Persist the graph as BUCKETED catalog tables: nodes bucketed+sorted
    by ``id``, edges by ``src`` — the traversal join key on each side.

    This is the cluster-scale physical layout (SURVEY §4.3 #4 / PLANS.md):
    a reload-then-traverse (``nodes.id == edges.src``) reads co-located
    buckets and skips BOTH the Exchange and (via sortBy) the Sort of a
    sort-merge join, turning every hop into a zipper merge of pre-sorted
    bucket files. At 100 TB pick ``buckets`` so one bucket of the biggest
    table ~= 128-512 MB; bucket counts must match across tables that join
    (Spark also accepts one being a multiple of the other).

    Bucketing metadata lives in the session catalog (``saveAsTable`` —
    plain ``.parquet()`` writes cannot record it). ``location`` makes the
    tables external under ``location/<table>``.
    """
    spark = next(iter(graph.nodes.values())).sparkSession
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    meta = {"nodes": sorted(graph.nodes), "edges": {}}

    def _write(df, key: str | None, table: str) -> None:
        # The session catalog may be in-memory (fresh per process) while a
        # managed table's warehouse directory survives on disk — a bare
        # re-create then fails with LOCATION_ALREADY_EXISTS. Drop any
        # same-name entry and write external (under ``location``) so the
        # on-disk path is reusable across processes.
        spark.sql(f"DROP TABLE IF EXISTS {db}.{table}")
        w = df.write.mode("overwrite").format("parquet")
        if key is not None:
            # one file per bucket, not per task
            w = df.repartition(buckets, key).write.mode("overwrite").bucketBy(
                buckets, key
            ).sortBy(key).format("parquet")
        if location:
            w = w.option("path", f"{location}/{table}")
        w.saveAsTable(f"{db}.{table}")

    for label, df in graph.nodes.items():
        _write(df, "id", f"nodes_{label.lower()}")
    for rt, es in graph.edges.items():
        _write(es.df, "src", f"edges_{rt.lower()}")
        meta["edges"][rt] = {
            "src_label": es.src_label, "dst_label": es.dst_label, "name": rt,
        }
    meta["labels"] = {label.lower(): label for label in graph.nodes}
    _write(
        spark.createDataFrame([(json.dumps(meta),)], "meta string"),
        None,
        "graph_meta",
    )


def load_graph_bucketed(spark: SparkSession, db: str) -> PropertyGraph:
    """Reopen a bucketed graph from the catalog. DataFrames come back
    with bucket metadata attached, so joins on ``id``/``src`` against a
    same-bucket-count table plan with no Exchange."""
    meta = json.loads(spark.table(f"{db}.graph_meta").first()["meta"])
    g = PropertyGraph()
    for label in meta["nodes"]:
        g.nodes[label] = spark.table(f"{db}.nodes_{label.lower()}")
    for rt, info in meta["edges"].items():
        g.edges[rt] = EdgeSet(
            df=spark.table(f"{db}.edges_{rt.lower()}"),
            src_label=info["src_label"],
            dst_label=info["dst_label"],
        )
    return g


def load_graph(spark: SparkSession, path: str) -> PropertyGraph:
    """Reopen a saved graph (the analog of sled recovery-on-open,
    `src/storage/sled_store.rs:36-89` — no index rebuild needed: parquet
    stats/pushdown replace the indexes)."""
    meta = json.loads(spark.read.json(f"{path}/_meta").first()["meta"])
    g = PropertyGraph()
    for label in meta["nodes"]:
        g.nodes[label] = read_parquet(spark, f"{path}/nodes/{label}")
    for rt, info in meta["edges"].items():
        g.edges[rt] = EdgeSet(
            df=read_parquet(spark, f"{path}/edges/{rt}"),
            src_label=info["src_label"],
            dst_label=info["dst_label"],
        )
    return g


def stream_results(df, batch_size: int = 100):
    """Batched result streaming with batch-end progress markers — the
    analog of the reference's ``QueryStream``/``StreamItem`` protocol
    (`/root/reference/src/query_stream.rs:49-95`: items, then a
    ``batch_end`` marker carrying ``batch_index`` and ``progress`` 0..1).

    Yields ``("row", Row)`` items interleaved with
    ``("batch_end", {"batch_index": i, "progress": p, "rows": n})``
    markers. Rows arrive through ``toLocalIterator`` (one partition
    resident driver-side at a time — the Spark-native backpressure that
    replaces the reference's bounded mpsc channel); the total for the
    progress fraction is one count() job, same as the reference's
    up-front total (`query_stream.rs:238-256`).

    The count and the row iteration read ONE materialized snapshot
    (``localCheckpoint``) — on a nondeterministic or concurrently-changing
    source a double execution could drift, overshooting progress past 1.0
    or under-reporting the final marker (r2 advice #4). Progress is also
    clamped and the last marker forced to exactly 1.0."""
    df = df.localCheckpoint(eager=True)
    total = df.count()
    if total == 0:
        yield ("batch_end", {"batch_index": 0, "progress": 1.0, "rows": 0})
        return
    emitted = 0
    batch_index = 0
    in_batch = 0
    for row in df.toLocalIterator():
        yield ("row", row)
        emitted += 1
        in_batch += 1
        if in_batch == batch_size:
            yield (
                "batch_end",
                {
                    "batch_index": batch_index,
                    "progress": min(1.0, emitted / total),
                    "rows": in_batch,
                },
            )
            batch_index += 1
            in_batch = 0
    if in_batch:
        yield (
            "batch_end",
            {"batch_index": batch_index, "progress": 1.0, "rows": in_batch},
        )
    elif emitted and emitted != total:
        # snapshot makes this unreachable in practice, but if the final
        # full batch under-ran the precomputed total, still close at 1.0
        yield (
            "batch_end",
            {"batch_index": batch_index, "progress": 1.0, "rows": 0},
        )


def export_json(graph: PropertyGraph, labels: list[str] | None = None):
    """Distributed JSON export: iterator of JSON strings per node row
    (`db.export_graph("json")`, `src/graph/db.rs:679-700`)."""
    for label, df in sorted(graph.nodes.items()):
        if labels and label not in labels:
            continue
        yield from (r for r in df.toJSON().toLocalIterator())


def export_dot(
    graph: PropertyGraph,
    rel_types: list[str],
    name_cols: dict[str, str] | None = None,
    max_nodes: int = 10_000,
) -> str:
    """Graphviz DOT export of a subgraph (`src/visualization/export.rs`;
    DOT format `src/graph/db.rs:714-757`). Driver-side with a size guard —
    DOT is a presentation format, nobody renders 10^9 nodes."""
    name_cols = name_cols or {}
    lines = ["digraph G {"]
    seen_nodes: set[int] = set()
    for rt in rel_types:
        es = graph.edges[rt]
        edges = es.df.select("src", "dst").limit(max_nodes).collect()
        for r in edges:
            seen_nodes.add(r["src"])
            seen_nodes.add(r["dst"])
            lines.append(f'  n{r["src"]} -> n{r["dst"]} [label="{rt}"];')
        if len(seen_nodes) > max_nodes:
            raise ValueError(f"subgraph exceeds {max_nodes} nodes; filter first")
    for label, df in graph.nodes.items():
        col = name_cols.get(label)
        if col is None:
            continue
        rows = df.select("id", col).filter(
            F.col("id").isin(list(seen_nodes)[:max_nodes])
        ).collect()
        for r in rows:
            lines.append(f'  n{r["id"]} [label="{r[col]}"];')
    lines.append("}")
    return "\n".join(lines)


def graph_view(
    graph: PropertyGraph,
    rel_types: list[str] | None = None,
    name_cols: dict[str, str] | None = None,
    max_nodes: int = 10_000,
    node_ids: list[int] | None = None,
) -> dict:
    """Assemble a GraphView dict {nodes: [...], edges: [...]} for UI
    consumption (reference `GraphView`/`VisNode`/`VisEdge`,
    `/root/reference/src/visualization/mod.rs:27-180`). Driver-side,
    size-guarded presentation output.

    ``rel_types`` defaults to every edge set (`to_graph_view`);
    ``node_ids`` restricts to a subgraph — nodes in the list plus the
    edges whose BOTH endpoints are in it (`to_subgraph_view`,
    `tests/visualization_test.rs:51-70`). Each node carries its labels
    list and full property dict like the reference's ``VisNode``."""
    name_cols = name_cols or {}
    keep = set(node_ids) if node_ids is not None else None
    edges_out = []
    seen_ids: set[int] = set()
    for rt in (rel_types if rel_types is not None else sorted(graph.edges)):
        es = graph.edges[rt]
        for r in es.df.select("src", "dst").limit(max_nodes).collect():
            if keep is not None and (r["src"] not in keep or r["dst"] not in keep):
                continue
            edges_out.append(
                {"source": r["src"], "target": r["dst"],
                 "type": rt, "rel_type": rt}
            )
            seen_ids.add(r["src"])
            seen_ids.add(r["dst"])
    wanted = keep if keep is not None else seen_ids
    if len(wanted) > max_nodes:
        raise ValueError(f"subgraph exceeds {max_nodes} nodes; filter first")
    nodes_out = []
    for label, df in sorted(graph.nodes.items()):
        col = name_cols.get(label)
        rows = df.filter(F.col("id").isin(list(wanted)))
        for r in rows.collect():
            props = {k: v for k, v in r.asDict().items() if k != "id"}
            nodes_out.append({
                "id": r["id"], "label": label, "labels": [label],
                "name": r[col] if col else str(r["id"]),
                "props": props,
            })
    return {"nodes": nodes_out, "edges": edges_out}
