"""Edge-case parity with the reference test suite (SURVEY.md §5):
aggregation numerics on empty/single-value inputs, percentile parameter
validation, skip/limit boundaries, pagination identity.

Reference: `tests/aggregation_enhanced_test.rs:20-501`,
`tests/skip_limit_test.rs:28-156`.
"""

import pytest
from pyspark.sql import functions as F

from rs_graphdb_spark.loaders import load_tpch_graph
from rs_graphdb_spark.query import Query

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def g(spark):
    return load_tpch_graph(spark, SF)


def _empty(g):
    return Query(graph=g).from_label("Customer").where(F.lit(False))


# -- aggregation numerics ----------------------------------------------------

def test_count_on_empty_frontier(g):
    assert _empty(g).count().first()["cnt"] == 0


def test_sum_avg_on_empty_frontier_is_null(g):
    # reference errors on non-Int sums and skips empty; SQL semantics: NULL
    row = _empty(g).sum_("c_acctbal").first()
    assert row["sum_val"] is None
    assert _empty(g).avg_("c_acctbal").first()["avg_val"] is None


def test_stdev_single_value_is_null_sample(g, spark):
    # sample stddev of n=1 is undefined (NULL); population is 0.0 — the
    # reference's Cypher path returns NULL for n<2
    # (`src/cypher/executor.rs:482-501`)
    one = Query(graph=g).from_label("Customer").where(F.col("c_custkey") == 1)
    assert one.stdev("c_acctbal").first()["stdev_val"] is None
    assert one.stdev("c_acctbal", population=True).first()["stdev_val"] == 0.0


def test_stdev_sample_vs_population(g):
    q = Query(graph=g).from_label("Nation")
    samp = q.stdev("n_regionkey").first()["stdev_val"]
    pop = q.stdev("n_regionkey", population=True).first()["stdev_val"]
    assert samp > pop > 0


def test_percentile_bounds(g):
    q = Query(graph=g).from_label("Customer")
    lo = q.percentile_cont("c_acctbal", 0.0).first()[0]
    hi = q.percentile_cont("c_acctbal", 1.0).first()[0]
    mid = q.percentile_cont("c_acctbal", 0.5).first()[0]
    mn = q.min_("c_acctbal").first()[0]
    mx = q.max_("c_acctbal").first()[0]
    assert lo == mn and hi == mx and mn < mid < mx


def test_percentile_invalid_param_raises(g):
    # reference validates q ∈ [0,1] (`src/query.rs:534-574`)
    q = Query(graph=g).from_label("Customer")
    with pytest.raises(Exception):
        q.percentile_cont("c_acctbal", 1.5).first()


def test_percentile_disc_is_an_actual_value(g):
    q = Query(graph=g).from_label("Customer")
    v = q.percentile_disc("c_acctbal", 0.37).first()[0]
    assert (
        Query(graph=g).from_label("Customer")
        .where(F.col("c_acctbal") == v).df.count() > 0
    )


# -- skip / limit boundaries (`tests/skip_limit_test.rs`) --------------------

def test_skip_past_end_is_empty(g):
    n = g.nodes["Customer"].count()
    q = Query(graph=g).from_label("Customer").order_by("c_custkey")
    assert q.skip(n + 10).df.count() == 0


def test_skip_zero_is_identity(g):
    q = Query(graph=g).from_label("Customer").order_by("c_custkey")
    assert q.skip(0).df.count() == g.nodes["Customer"].count()


def test_limit_zero_and_over_length(g):
    n = g.nodes["Customer"].count()
    q = Query(graph=g).from_label("Customer").order_by("c_custkey")
    assert q.limit(0).df.count() == 0
    assert q.limit(n + 100).df.count() == n


def test_paginate_equals_skip_limit(g):
    # identity pinned by the reference (`tests/skip_limit_test.rs:28-156`)
    q = Query(graph=g).from_label("Customer").order_by("c_custkey")
    a = [r["c_custkey"] for r in q.skip(40).limit(25).df.collect()]
    b = [r["c_custkey"] for r in q.paginate(40, 25).df.collect()]
    assert a == b and len(a) == 25


def test_pagination_covers_all_rows_once(g):
    q = Query(graph=g).from_label("Customer").order_by("c_custkey")
    n = g.nodes["Customer"].count()
    seen = []
    page = 0
    while True:
        rows = q.paginate(page * 37, 37).df.collect()
        if not rows:
            break
        seen.extend(r["c_custkey"] for r in rows)
        page += 1
    assert len(seen) == n and len(set(seen)) == n
    assert seen == sorted(seen)


# -- round-2 hardening (VERDICT/ADVICE follow-ups) ---------------------------

def test_collect_edge_list_guard_fires_before_collect(g):
    """A too-large subgraph must raise from the size guard, not OOM the
    driver: the guard counts executor-side before any collect."""
    from rs_graphdb_spark.algorithms.graph_algos import collect_edge_list

    edges = g.edges["KNOWS"].df
    with pytest.raises(ValueError, match="too large"):
        collect_edge_list(edges, max_edges=10)
    # and under the cap it returns the real edge list
    small = edges.limit(5)
    assert len(collect_edge_list(small, max_edges=10)) == 5


def test_delete_nodes_null_predicate_keeps_row(g, spark):
    """WHERE over a nullable prop: NULL rows are survivors (3VL), and their
    edges are NOT cascaded away."""
    from pyspark.sql import functions as F
    from dataclasses import replace as dc_replace
    from rs_graphdb_spark.operators.dml import delete_nodes

    cust = g.nodes["Customer"]
    # poke a NULL into c_acctbal for one known row
    key = cust.select("id").orderBy("id").first()["id"]
    poked = cust.withColumn(
        "c_acctbal",
        F.when(F.col("id") == key, F.lit(None)).otherwise(F.col("c_acctbal")),
    )
    g2 = dc_replace(g, nodes={**g.nodes, "Customer": poked})
    before_edges = g2.edges["KNOWS"].df.count()
    out = delete_nodes(g2, "Customer", F.col("c_acctbal") < -999999.0)
    # nothing matches the predicate; the NULL row must survive
    assert out.nodes["Customer"].count() == cust.count()
    assert not out.nodes["Customer"].filter(F.col("id") == key).isEmpty()
    assert out.edges["KNOWS"].df.count() == before_edges


def test_merge_nodes_duplicate_incoming_keys(g, spark):
    """Duplicate keys in MERGE input must not multiply existing rows or
    mint duplicate ids."""
    from rs_graphdb_spark.operators.dml import merge_nodes

    n_before = g.nodes["Nation"].count()
    incoming = spark.createDataFrame(
        [(5, "dup-a"), (5, "dup-b"), (999, "new-x"), (999, "new-y")],
        "n_nationkey int, note string",
    )
    # ON MATCH may set a key the table lacks: NULL on unmatched rows
    for on_match in (None, {"touched": F.lit(True)}):
        out = merge_nodes(g, "Nation", "n_nationkey", incoming, on_match=on_match)
        got = out.nodes["Nation"]
        assert got.count() == n_before + 1  # one create, no multiplication
        assert got.groupBy("id").count().filter(F.col("count") > 1).isEmpty()
        if on_match:
            touched = {r["n_nationkey"] for r in got.filter("touched").collect()}
            assert touched == {5}
            assert got.filter(F.col("touched").isNull()).count() == n_before


def test_set_props_type_rule(spark):
    """A write may not change a column's type: a string into a bigint
    column (or a number into a string column) raises, naming the column
    and both types; numeric widening, NULL and new keys pass. Every
    update sees the pre-SET row."""
    from rs_graphdb_spark.operators.dml import set_props
    from rs_graphdb_spark.session import local_df

    df = local_df(spark, [(1, "a", 30), (2, "b", 40)],
                  "id long, name string, age long")
    hit = F.col("id") == 1
    with pytest.raises(ValueError, match=r"'age' is bigint.*string"):
        set_props(df, hit, {"age": F.lit("abc")})
    with pytest.raises(ValueError, match=r"'age' is bigint.*string"):
        set_props(df, hit, {"age": F.lit("30")})
    with pytest.raises(ValueError, match=r"'name' is string.*int"):
        set_props(df, hit, {"name": F.lit(7)})
    out = set_props(df, hit, {"age": F.lit(1.5), "name": F.lit(None),
                              "tags": F.lit(["x"])})
    assert dict(out.dtypes) == {"id": "bigint", "name": "string",
                                "age": "double", "tags": "array<string>"}
    assert [tuple(r) for r in out.orderBy("id").collect()] == [
        (1, None, 1.5, ["x"]), (2, "b", 40.0, None)]
    out = set_props(df, F.col("age") > 35, {"age": F.lit(0), "old": F.lit(True)})
    assert [(r["age"], r["old"]) for r in out.orderBy("id").collect()] == [
        (30, None), (0, True)]


def test_scc_raises_rather_than_dropping_nodes(spark):
    """With a tiny round cap the algorithm must raise, never silently omit
    nodes. Trim resolves all acyclic nodes, so the adversarial input is a
    descending CHAIN OF 2-CYCLES — every node is on a cycle (trim can't
    peel any) and max-id coloring resolves exactly one cycle per round."""
    from rs_graphdb_spark.algorithms.graph_algos import (
        strongly_connected_components,
    )

    # cycles {0,1} {2,3} {4,5} {6,7}, chained high→low: 2→1, 4→3, 6→5
    pairs = [(2 * k, 2 * k + 1) for k in range(4)]
    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    edges += [(2 * k, 2 * k - 1) for k in range(1, 4)]
    nodes = spark.createDataFrame([(i,) for i in range(8)], "id long")
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="max_rounds"):
        strongly_connected_components(nodes, edges_df, max_rounds=2)
    full = {
        r["id"]: r["scc"]
        for r in strongly_connected_components(nodes, edges_df, max_rounds=8).collect()
    }
    assert all(full[2 * k] == full[2 * k + 1] == 2 * k + 1 for k in range(4))


def test_scc_trim_handles_descending_chain_fast(spark):
    """The round-1 pathological input — a descending singleton chain that
    used to need one coloring round per node — now resolves entirely in
    the trim phase, inside a 2-round cap."""
    from rs_graphdb_spark.algorithms.graph_algos import (
        strongly_connected_components,
    )

    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "id long")
    edges = spark.createDataFrame(
        [(i, i - 1) for i in range(2, 7)], "src long, dst long"
    )
    full = strongly_connected_components(nodes, edges, max_rounds=2)
    assert full.count() == 6
    assert full.filter(F.col("id") != F.col("scc")).count() == 0


def test_weighted_sssp_raises_on_nonconvergence(spark, g):
    from rs_graphdb_spark.operators.traversal import weighted_shortest_paths
    from pyspark.sql import functions as F

    start = g.edges["KNOWS"].df.agg(F.min("src")).first()[0]
    with pytest.raises(RuntimeError, match="converge"):
        weighted_shortest_paths(g, start, "KNOWS", F.lit(1), max_iters=1)


def test_ngram_stop_shingle_cap_bounds_candidates(spark):
    """A hot shingle shared by every doc must not blow up the candidate
    count when the DF cap is on."""
    from rs_graphdb_spark.functions.dedup import ngram_jaccard_pairs

    rows = [(i, f"the common header unique{i} tail{i} word{i} more{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, body string")
    capped = ngram_jaccard_pairs(
        df, "doc_id", "body", threshold=0.0, max_shingle_df=5
    )
    uncapped = ngram_jaccard_pairs(
        df, "doc_id", "body", threshold=0.0, max_shingle_df=None
    )
    assert capped.count() < uncapped.count()
    assert uncapped.count() == 30 * 29 / 2  # hot shingle pairs everything


def test_ngram_relative_stop_cap_fires_at_corpus_scale(spark):
    """The RELATIVE df cap (max_shingle_df_frac) must cut a shingle that
    lands in a fixed fraction of the corpus once ceil(frac*n) clears the
    small-corpus floor of 100 — equivalently to the absolute cap at the
    same effective value."""
    from rs_graphdb_spark.functions.dedup import ngram_jaccard_pairs

    # 150 docs all sharing one hot header; effective frac cap =
    # max(100, ceil(0.5 * 150)) = 100 < df(hot)=150 → fires
    rows = [(i, f"the common header unique{i} tail{i} word{i} more{i}")
            for i in range(150)]
    df = spark.createDataFrame(rows, "doc_id long, body string")
    rel = ngram_jaccard_pairs(
        df, "doc_id", "body", threshold=0.0,
        max_shingle_df=None, max_shingle_df_frac=0.5,
    )
    abs_equiv = ngram_jaccard_pairs(
        df, "doc_id", "body", threshold=0.0,
        max_shingle_df=100, max_shingle_df_frac=None,
    )
    got = {(r["a"], r["b"], r["jaccard"]) for r in rel.collect()}
    want = {(r["a"], r["b"], r["jaccard"]) for r in abs_equiv.collect()}
    assert got == want
    # the hot header is cut: no all-pairs blowup
    assert len(got) < 150 * 149 / 2
    # below the floor the relative cap is inert: same corpus truncated to
    # 30 docs → cap = max(100, 15) = 100 → nothing cut
    small = df.filter(F.col("doc_id") < 30)
    inert = ngram_jaccard_pairs(
        small, "doc_id", "body", threshold=0.0,
        max_shingle_df=None, max_shingle_df_frac=0.5,
    )
    assert inert.count() == 30 * 29 / 2
