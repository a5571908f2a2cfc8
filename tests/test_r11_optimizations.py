"""Round-11 optimization parity tests.

Every r11 optimization keeps the operator's OUTPUT identical; these pin
each claim: fused multi-sub-space PQ training vs the sequential form,
the knn_lsh Arrow corpus-code route vs the expression form, the
knn_bruteforce query-side collect guard's fallback, the bpe_train
strict-path merge-count delegation, JVM-side empty seeds, and the
dedup pipelines after their barrier removal.
"""

from __future__ import annotations

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from rs_graphdb_spark.session import local_df


def _clustered_rows(n, dim, n_clusters, seed=7, noise=0.05):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    return [
        (i, [float(x) for x in centers[i % n_clusters]
             + noise * rng.standard_normal(dim)])
        for i in range(n)
    ]


def test_pq_train_fused_equals_sequential(spark):
    """The fused one-job-per-iteration multi-sub-space Lloyd must be
    bit-identical to m sequential ivf_centroids trainings on the sliced
    columns (the r10 form), including a null-vector row (assigns a null
    cluster that the centroid update ignores in both forms)."""
    from rs_graphdb_spark.functions.similarity import ivf_centroids, pq_train

    rows = _clustered_rows(260, 32, 12)
    rows[50] = (50, None)  # null vector OUTSIDE the seed-id range
    df = local_df(spark, rows, "vec_id long, v array<double>").cache()

    def sequential(m, ks, iters):
        dsub = 32 // m
        return [
            ivf_centroids(
                df.select(
                    "vec_id",
                    F.slice("v", j * dsub + 1, dsub).alias("_sub")),
                "vec_id", "_sub", k=ks, iters=iters)
            for j in range(m)
        ]

    for m, ks, iters in [(4, 8, 2), (8, 8, 1)]:
        assert pq_train(df, "vec_id", "v", m=m, ks=ks, iters=iters) == \
            sequential(m, ks, iters), (m, ks, iters)
    df.unpersist()


def test_knn_lsh_arrow_codes_equal_expression_route(spark):
    """knn_lsh's corpus codes now come from the fold-left Arrow kernel;
    the result set must equal the all-expression form (codes are
    bit-identical, so buckets — hence candidates, cosines and ranks —
    agree exactly), including dirty corpus rows (code 0 both ways)."""
    from rs_graphdb_spark.functions.dedup import cosine_pairs_arrow
    from rs_graphdb_spark.functions.similarity import (
        _hyperplanes, hyperplane_code, knn_lsh)
    from pyspark.sql import Window

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(16)])
            for i in range(400)]
    rows += [(401, None), (402, [1.0] * 15), (403, [None] + [1.0] * 15)]
    emb = local_df(spark, rows, "vec_id long, v array<double>")
    qs = emb.filter("vec_id < 5")

    got = knn_lsh(emb, qs, "vec_id", "v", k=8, n_planes=6, dim=16)

    # all-expression replica (the r10 route)
    planes = _hyperplanes(16, 6)
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"),
        hyperplane_code(F.col("v"), planes).alias("code"))
    q = qs.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        hyperplane_code(F.col("v"), planes).alias("code"))
    scored = cosine_pairs_arrow(
        c.join(F.broadcast(q), "code")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv"), "qv", "cv")
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id"))
    want = (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 8)
            .select("query_id", "neighbor_id", "cos", "rank"))

    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_knn_bruteforce_collect_guard_falls_back(spark, monkeypatch):
    """Above KNN_BF_COLLECT_MAX query rows, engine='auto' must produce
    the same results via the expr broadcast path (no driver collect of
    the full query side), and engine='arrow' must refuse."""
    import rs_graphdb_spark.functions.similarity as sim

    emb = local_df(
        spark,
        [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(40)],
        "vec_id long, v array<double>")
    qs = emb.filter("vec_id < 12")
    baseline = sorted(map(tuple, sim.knn_bruteforce(
        emb, qs, "vec_id", "v", k=5).collect()))

    monkeypatch.setattr(sim, "KNN_BF_COLLECT_MAX", 8)
    guarded = sorted(map(tuple, sim.knn_bruteforce(
        emb, qs, "vec_id", "v", k=5).collect()))
    assert guarded == baseline
    with pytest.raises(ValueError, match="KNN_BF_COLLECT_MAX"):
        sim.knn_bruteforce(emb, qs, "vec_id", "v", k=5, engine="arrow")


def test_bpe_strict_guard_delegates_to_batched(spark, monkeypatch):
    """Above BPE_STRICT_MAX_MERGES the strict path must auto-delegate to
    the batched path (bounded job count) and still train; under the
    guard (or with strict_unbounded=True) strict order is unchanged."""
    import rs_graphdb_spark.functions.bpe as bpe

    docs = local_df(
        spark,
        [(1, "low lower lowest newer newest wide widest low low"),
         (2, "low lower newest newer wide wide widest lowest")],
        "doc_id long, text string")

    monkeypatch.setattr(bpe, "BPE_STRICT_MAX_MERGES", 4)
    # the guard rewrites rounds_batch, observable via merges shape, and
    # says so at runtime
    with pytest.warns(UserWarning, match="BPE_STRICT_MAX_MERGES") as rec:
        merges_guarded, _ = bpe.bpe_train(docs, "text", num_merges=6)
    assert "strict_unbounded=True" in str(rec[0].message)
    assert rec[0].filename == __file__  # stacklevel points at the caller
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        merges_strict, _ = bpe.bpe_train(docs, "text", num_merges=6,
                                         strict_unbounded=True)
    g = [(r["rank"], r["l"], r["r"]) for r in merges_guarded.collect()]
    s = [(r["rank"], r["l"], r["r"]) for r in merges_strict.collect()]
    assert len(g) == len(s) == 6
    # the batched path keeps count-ordered greedy selection: the TOP
    # merge (strict round 0's argmax) is always selected first
    assert g[0] == s[0]
    # at/below the guard the strict path is untouched
    merges_small, _ = bpe.bpe_train(docs, "text", num_merges=4)
    small = [(r["rank"], r["l"], r["r"]) for r in merges_small.collect()]
    assert small == s[:4]


def test_bpe_production_merge_count_bounded_jobs(spark):
    """r10 VERDICT #6's done-criterion: a 1k-merge training request on
    the strict default completes in BOUNDED rounds (the guard delegates
    to the batched path: ceil(1000/256) = 4 candidate rounds at most,
    ending early when the vocabulary is fully merged) instead of 1000
    sequential driver roundtrips."""
    import time

    from rs_graphdb_spark.functions.bpe import bpe_train

    docs = local_df(
        spark,
        [(1, "low lower lowest newer newest wide widest low"),
         (2, "bright brighter brightest low lower wide")],
        "doc_id long, text string")
    t0 = time.time()
    merges, vocab = bpe_train(docs, "text", num_merges=1000)
    rows = merges.collect()
    wall = time.time() - t0
    # tiny vocabulary fully merges long before 1000; the request must
    # terminate promptly (a 1000-sequential-job path would take minutes)
    assert 0 < len(rows) < 1000
    assert wall < 120, wall
    # ranks contiguous from 0 and every merged symbol well-formed
    ranks = sorted(r["rank"] for r in rows)
    assert ranks == list(range(len(rows)))


def test_local_df_empty_seed_is_jvm_side(spark):
    """Empty literal frames must not be Python-RDD-backed: the optimized
    plan shows no RDD scan, the schema is exact, and a union over the
    seed stays JVM-side."""
    df = local_df(spark, [], "edge_id long, src long, dst long")
    assert df.schema.simpleString() == \
        "struct<edge_id:bigint,src:bigint,dst:bigint>"
    assert df.count() == 0
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in plan
    one = local_df(spark, [(1, 2, 3)], "edge_id long, src long, dst long")
    assert df.unionByName(one).count() == 1


def test_minhash_and_ngram_results_survive_barrier_removal(spark):
    """The dedup pipelines lost their eager persist/checkpoint barriers;
    pair sets must be unchanged and reusable across several actions
    (the lazy result checkpoint materializes once)."""
    from rs_graphdb_spark.functions.dedup import (
        minhash_dedup_pairs, ngram_jaccard_pairs)

    docs = local_df(
        spark,
        [(i, f"the quick brown fox {i % 4} jumps over the lazy dog "
             f"shard{i % 4}") for i in range(24)]
        + [(100, "xx"), (101, "")],  # short docs → empty shingle sets
        "doc_id long, text string")
    mh = minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8)
    ng = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    mh_rows = sorted((r["a"], r["b"], round(r["jaccard"], 9))
                     for r in mh.collect())
    ng_rows = sorted((r["a"], r["b"], round(r["jaccard"], 9))
                     for r in ng.collect())
    assert len(mh_rows) > 0 and len(ng_rows) > 0
    # near-dup groups of 6 docs each (i % 4 buckets): every within-group
    # pair is exact-identical text → jaccard 1.0 pairs present
    assert any(j == 1.0 for _, _, j in mh_rows)
    # repeat actions reuse the lazy checkpoint: identical output
    assert mh_rows == sorted((r["a"], r["b"], round(r["jaccard"], 9))
                             for r in mh.collect())
    # minhash pairs at J>=0.8 are a subset of exact-jaccard pairs at 0.5
    ng_keys = {(a, b) for a, b, _ in ng_rows}
    assert all((a, b) in ng_keys for a, b, _ in mh_rows)


def test_ngram_packed_engine_bit_equals_legacy(spark):
    """The packed narrow-exchange n-gram route (one long pair key,
    inline sizes, lossless emission prune) must produce a bit-identical
    (a, b, jaccard) set to the legacy two-long-key + size-join form, at
    several thresholds, with the stop cap inert AND firing, and must
    refuse / fall back for unpackable ids."""
    from rs_graphdb_spark.functions.dedup import ngram_jaccard_pairs

    docs = [
        (i, f"alpha beta gamma delta {i % 5} epsilon zeta theta "
            f"shard{i % 5} " * (1 + i % 4))
        for i in range(50)
    ] + [(90, "xx"), (91, ""), (92, "alpha beta gamma")]
    df = local_df(spark, docs, "doc_id long, text string")

    def rows(out):
        return sorted((r["a"], r["b"], r["jaccard"]) for r in out.collect())

    for t in (0.3, 0.5, 0.8):
        for caps in ({}, {"max_shingle_df": 8},
                     {"max_shingle_df": None, "max_shingle_df_frac": None}):
            a = rows(ngram_jaccard_pairs(df, "doc_id", "text", threshold=t,
                                         engine="legacy", **caps))
            b = rows(ngram_jaccard_pairs(df, "doc_id", "text", threshold=t,
                                         engine="packed", **caps))
            assert a == b, (t, caps)

    neg = local_df(spark, [(-1, "a b c d e"), (2, "a b c d e")],
                   "doc_id long, text string")
    # auto falls back to legacy for unpackable ids; packed refuses
    assert rows(ngram_jaccard_pairs(neg, "doc_id", "text")) == \
        rows(ngram_jaccard_pairs(neg, "doc_id", "text", engine="legacy"))
    with pytest.raises(ValueError, match="packed-route"):
        ngram_jaccard_pairs(neg, "doc_id", "text", engine="packed")


def test_ngram_auto_route_accepts_string_ids(spark):
    """engine='auto' must check the id dtype before parsing the id
    bounds as integers: string doc ids route to the legacy form and give
    its pairs instead of raising ValueError."""
    from rs_graphdb_spark.functions.dedup import ngram_jaccard_pairs

    docs = local_df(spark, [("doc-a", "a b c d e f"), ("doc-b", "a b c d e")],
                    "doc_id string, text string")

    def rows(out):
        return sorted((r["a"], r["b"], r["jaccard"]) for r in out.collect())

    auto = rows(ngram_jaccard_pairs(docs, "doc_id", "text"))
    assert auto == rows(ngram_jaccard_pairs(docs, "doc_id", "text",
                                            engine="legacy"))
    assert auto == [("doc-a", "doc-b", 0.75)]
