"""Training-data pipeline operators: dedup, similarity, multimodal.

Reference-style micro-fixtures (SURVEY.md §5: hand-built inputs + exact
assertions), upgraded with known-answer checks.
"""

import pyspark.sql.functions as F
import pytest

from rs_graphdb_spark.functions.dedup import (
    embedding_near_dup_pairs,
    exact_dedup_groups,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)
from rs_graphdb_spark.functions.multimodal import (
    documents_as_media,
    extract_features,
    frame_sample,
)
from rs_graphdb_spark.functions.similarity import knn_bruteforce, knn_ivf, knn_lsh


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base.replace("lazy dog", "sleepy dog", 1)  # one shingle region differs
    far = "completely different content about spark dataframes and shuffles"
    return spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)], "doc_id long, text string"
    )


def test_exact_dedup_groups(docs):
    groups = {r["keeper"]: r["n_docs"] for r in exact_dedup_groups(docs, "doc_id", "text").collect()}
    assert groups[1] == 2  # docs 1 and 2 identical
    assert groups[3] == 1 and groups[4] == 1


def test_exact_dedup_normalization(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello   world"), (3, "HELLO world?")],
        "doc_id long, text string",
    )
    assert exact_dedup_groups(df, "doc_id", "text").count() == 1


def test_minhash_pairs_find_near_dups(docs):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in
             minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert not any(4 in p for p in pairs)


def test_ngram_jaccard_exact(docs):
    pairs = {(r["a"], r["b"]): r["jaccard"] for r in
             ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0
    assert not any(4 in p for p in pairs)


def test_simhash_near_dups(docs):
    pairs = {(r["a"], r["b"]): r["hamming"] for r in
             simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3).collect()}
    assert pairs[(1, 2)] == 0
    assert not any(4 in p for p in pairs)


def test_embedding_near_dup_and_knn(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near-dup of 1
        (3, [0.0, 1.0, 0.0]),      # orthogonal
        (4, [0.7, 0.7, 0.0]),      # diagonal
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    dups = {(r["a"], r["b"]) for r in
            embedding_near_dup_pairs(emb, "vec_id", "embedding", 0.95).collect()}
    assert dups == {(1, 2)}

    knn = knn_bruteforce(emb, emb.filter(F.col("vec_id") == 1), "vec_id", "embedding", k=2)
    got = [r["neighbor_id"] for r in knn.orderBy("rank").collect()]
    assert got == [2, 4]


def test_knn_lsh_subset_of_bruteforce(spark):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(40)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 3)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in knn_bruteforce(emb, q, "vec_id", "embedding", k=40).collect()}
    # 2 planes → 4 buckets: enough collisions in a 40-vector corpus
    approx = {(r["query_id"], r["neighbor_id"])
              for r in knn_lsh(emb, q, "vec_id", "embedding", k=5, n_planes=2, dim=16).collect()}
    # every ANN hit is a true (query, corpus) pair; ANN ranks by the same cosine
    assert approx <= exact and len(approx) > 0


def test_multimodal_real_decode_roundtrip(docs):
    """documents_as_images renders REAL BMP/PGM/PNG bytes; extract_features
    must parse them back (header walk / inflate / de-filter) to the exact
    dims and pixel sum the generator used."""
    from rs_graphdb_spark.functions.multimodal import documents_as_images

    media = documents_as_images(docs)
    feats = {r["media_id"]: r for r in extract_features(media).collect()}
    raw = {r["doc_id"]: r["text"] for r in docs.collect()}
    fmt_by_mod = {0: "bmp", 1: "pgm", 2: "png"}
    for mid, row in feats.items():
        b = raw[mid].encode()
        n = len(b)
        w, h = n % 64 + 16, (n // 64) % 64 + 16
        assert row["media_type"] == fmt_by_mod[mid % 3]
        assert (row["width"], row["height"]) == (w, h)
        assert row["checksum"] == sum(b[: w * h])
        assert row["n_bytes"] > n  # real container carries a header


def test_multimodal_corrupt_rows_isolated(docs):
    """A corrupt payload yields NULL features on ITS row only — the batch
    (and job) survives (per-row decode isolation)."""
    from rs_graphdb_spark.functions.multimodal import documents_as_images

    media = documents_as_images(docs, corrupt_every=2)  # doc 2, 4 corrupt
    rows = {r["media_id"]: r for r in extract_features(media).collect()}
    assert rows[2]["media_type"] == "unknown"
    assert rows[2]["width"] is None and rows[2]["checksum"] is None
    assert rows[2]["n_bytes"] == 8  # b"CORRUPT!"
    assert rows[1]["media_type"] == "pgm" and rows[1]["width"] is not None


def test_decode_image_negative_paths():
    """Driver-free codec checks: truncation, garbage, and a CRC-tampered
    PNG all return all-None instead of raising."""
    from rs_graphdb_spark.functions.multimodal import decode_image, encode_image

    px = bytes(range(256)) * 2
    blob = encode_image(px[:20 * 25], 20, 25, "png")
    tampered = bytearray(blob)
    tampered[45] ^= 0xFF  # inside IHDR/IDAT region → CRC mismatch
    for bad in [b"", b"CORRUPT!", b"BMgarbage", b"P5\n99", blob[:-9],
                bytes(tampered)]:
        assert decode_image(bad) == (None, None, None, None)
    fmt, w, h, ck = decode_image(blob)
    assert (fmt, w, h, ck) == ("png", 20, 25, sum(px[:20 * 25]))


def test_frame_sample_fanout(docs):
    media = documents_as_media(docs)
    frames = frame_sample(media, every_n_bytes=100)
    raw = {r["doc_id"]: r["text"].encode() for r in docs.collect()}
    rows = frames.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["media_id"], []).append(r)
        assert r["frame_byte"] == raw[r["media_id"]][r["frame_off"]]
    for mid, lst in by_doc.items():
        assert len(lst) == (len(raw[mid]) + 99) // 100


def test_knn_ivf_full_probe_equals_bruteforce(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 3)
    exact = {(r["query_id"], r["neighbor_id"], r["rank"])
             for r in knn_bruteforce(emb, q, "vec_id", "embedding", k=5).collect()}
    full = {(r["query_id"], r["neighbor_id"], r["rank"])
            for r in knn_ivf(emb, q, "vec_id", "embedding", k=5,
                             n_clusters=4, n_probe=4).collect()}
    assert full == exact


def test_knn_ivf_partial_probe_subset(spark):
    import random

    rng = random.Random(12)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 3)
    exact_pairs = {(r["query_id"], r["neighbor_id"])
                   for r in knn_bruteforce(emb, q, "vec_id", "embedding", k=60).collect()}
    approx = knn_ivf(emb, q, "vec_id", "embedding", k=5,
                     n_clusters=6, n_probe=2).collect()
    assert len(approx) > 0
    assert {(r["query_id"], r["neighbor_id"]) for r in approx} <= exact_pairs


def test_deterministic_split_stable_and_partitioned(spark):
    from rs_graphdb_spark.functions.sampling import deterministic_split

    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    out = deterministic_split(df, "doc_id")
    rows = {r.doc_id: r.split for r in out.collect()}
    assert set(rows.values()) == {"train", "val", "test"}
    n = len(rows)
    n_train = sum(1 for s in rows.values() if s == "train")
    assert 0.8 * n < n_train < 0.97 * n
    # stability: re-running and subsetting never reassigns
    again = {r.doc_id: r.split
             for r in deterministic_split(df.filter("doc_id < 100"), "doc_id").collect()}
    assert all(rows[k] == v for k, v in again.items())


def test_group_aware_split_keeps_groups_together(spark):
    from rs_graphdb_spark.functions.sampling import group_aware_split
    from rs_graphdb_spark.functions.text import fingerprint

    rows = [(i, f"some text number {i % 7}") for i in range(70)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = group_aware_split(df.withColumn("fp", fingerprint("text")), "fp")
    per_group = out.groupBy("fp").agg(F.countDistinct("split").alias("k")).collect()
    assert all(r.k == 1 for r in per_group)


def test_pack_greedy_bins_are_contiguous_and_bounded(spark):
    from rs_graphdb_spark.functions.sampling import pack_greedy

    df = spark.createDataFrame(
        [(i, 10 + (i * 37) % 90) for i in range(200)], "doc_id long, sz long"
    )
    out = pack_greedy(df, "doc_id", "sz", budget=300, shards=4).collect()
    max_sz = max(r.sz for r in out)
    by_bin = {}
    for r in out:
        by_bin.setdefault((r.shard, r.bin), []).append(r)
    for (shard, b), docs in by_bin.items():
        assert sum(r.sz for r in docs) <= 300 + max_sz  # one-doc overrun max
    # bins within a shard are contiguous in doc_id order
    for shard in {r.shard for r in out}:
        seq = sorted((r.doc_id for r in out if r.shard == shard))
        bins = [next(r.bin for r in out if r.doc_id == d) for d in seq]
        assert bins == sorted(bins)


def test_near_dup_clusters_keeper_semantics(spark):
    from rs_graphdb_spark.functions.dedup import near_dup_clusters

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base), (2, base + "!"),            # near-dups of each other
        (3, "completely different text about spark dataframes at scale ok"),
        (4, base + "?"),                       # third member of cluster 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.cluster, r.keep) for r in
           near_dup_clusters(df, "doc_id", "text", threshold=0.8).collect()}
    assert out[1] == (1, True)
    assert out[2] == (1, False) and out[4] == (1, False)
    assert out[3] == (3, True)   # singleton keeps itself


def test_profile_single_pass_stats(spark):
    from rs_graphdb_spark.functions.profile import profile

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None), (2, None, 3.5)],
        "k long, s string, v double",
    )
    out = {r.col_name: r for r in profile(df, ["k", "s", "v"]).collect()}
    assert out["k"].n == 3 and out["k"].n_null == 0 and out["k"].n_distinct == 2
    assert out["k"].min_num == 1.0 and out["k"].max_num == 2.0
    assert out["s"].n_null == 1 and out["s"].min_str == "a" and out["s"].max_str == "b"
    assert out["v"].n_null == 1 and out["v"].max_num == 3.5
    # single job: the plan has exactly one scan of the input
    plan = profile(df, ["k", "s", "v"])._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") <= 1


def test_kmeans_separates_obvious_blobs(spark):
    from rs_graphdb_spark.functions.clustering import kmeans, kmeans_assign

    # Three well-separated blobs; ids 0,1,2 are one per blob, so the
    # deterministic init (vectors of the k smallest ids) pins cluster i
    # to blob i and the labelling is exact, not just up-to-permutation.
    import random

    rng = random.Random(7)
    centers = [[0.0, 0.0], [10.0, 10.0], [-10.0, 10.0]]
    rows = []
    for i in range(30):
        c = i % 3
        rows.append((i, [centers[c][0] + rng.gauss(0, 0.3),
                         centers[c][1] + rng.gauss(0, 0.3)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    assign = {r.vec_id: r.cluster
              for r in kmeans_assign(emb, "vec_id", "embedding",
                                     k=3, iterations=3).collect()}
    assert len(assign) == 30
    for i in range(30):
        assert assign[i] == i % 3

    summary = {r.cluster: r for r in
               kmeans(emb, "vec_id", "embedding", k=3, iterations=3).collect()}
    assert sorted(summary) == [0, 1, 2]
    assert all(summary[c].n_members == 10 for c in summary)
    # tight blobs: mean distance well under the inter-center spacing
    assert all(summary[c].mean_dist < 1.0 for c in summary)
    # centroid of blob 1 is near (10, 10): norm ~ sqrt(200)
    assert abs(summary[1].centroid_norm - 200 ** 0.5) < 0.5


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    from rs_graphdb_spark.functions.clustering import kmeans

    # Two identical points, k=2: cluster 1's member migrates to cluster 0
    # (ties break to the lowest index), leaving cluster 1 empty — it must
    # survive with its previous centroid rather than crash or vanish.
    emb = spark.createDataFrame(
        [(0, [1.0, 1.0]), (1, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r.cluster: r for r in
           kmeans(emb, "vec_id", "embedding", k=2, iterations=2).collect()}
    assert out[0].n_members == 2
    assert 1 not in out  # no members, so no summary row — but no crash


def test_minhash_incremental_probe(spark, docs):
    """Incremental ingest: index docs 1-3, probe doc 4 + a near-dup of
    doc 1 arriving as a new batch — pairs must match a full-corpus run
    restricted to new-side pairs, without re-shingling the corpus."""
    from rs_graphdb_spark.functions.dedup import (
        minhash_index,
        minhash_probe,
        minhash_dedup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog " * 5
    new = spark.createDataFrame(
        [(5, base), (6, "unrelated fresh content entirely new words")],
        "doc_id long, text string",
    )
    banded, sets = minhash_index(docs, "doc_id", "text")
    got = {
        (r["a"], r["b"]): round(r["jaccard"], 6)
        for r in minhash_probe(
            banded, sets, new, "doc_id", "text", threshold=0.5
        ).collect()
    }
    # doc 5 duplicates docs 1/2 exactly and nearly-duplicates doc 3
    assert got[(1, 5)] == 1.0 and got[(2, 5)] == 1.0
    assert (3, 5) in got
    assert not any(6 in p for p in got)
    # equivalence: full-corpus pairs restricted to new ids
    full = {
        (r["a"], r["b"]): round(r["jaccard"], 6)
        for r in minhash_dedup_pairs(
            docs.unionByName(new), "doc_id", "text", threshold=0.5
        ).collect()
        if r["b"] >= 5
    }
    assert got == full


def test_embedding_lsh_pairs_subset_of_exact(spark):
    """LSH-bucketed near-dup pairs must be a subset of the exact all-pairs
    result (same threshold) and must catch identical vectors (which always
    share a bucket)."""
    import random

    from rs_graphdb_spark.functions.dedup import embedding_near_dup_pairs
    from rs_graphdb_spark.functions.similarity import embedding_near_dup_lsh

    rng = random.Random(11)
    vecs = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(30)]
    vecs.append(list(vecs[0]))  # 30 duplicates 0 exactly
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r["a"], r["b"]) for r in
        embedding_near_dup_pairs(df, "vec_id", "embedding", 0.4).collect()
    }
    lsh = {
        (r["a"], r["b"]) for r in
        embedding_near_dup_lsh(df, "vec_id", "embedding", 0.4).collect()
    }
    assert lsh <= exact
    assert (0, 30) in lsh


def test_knn_lsh_multi_probe_recall(spark):
    """Distance-1 multi-probe must find at least every single-probe
    neighbor and close some of the gap to exact brute force."""
    import random

    rng = random.Random(23)
    vecs = [(i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(200)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    qs = df.filter(F.col("vec_id") < 3)

    def pairs(res):
        return {(r["query_id"], r["neighbor_id"]) for r in res.collect()}

    exact = pairs(knn_bruteforce(df, qs, "vec_id", "embedding", k=10))
    single = pairs(knn_lsh(df, qs, "vec_id", "embedding", k=10))
    multi = pairs(knn_lsh(df, qs, "vec_id", "embedding", k=10, multi_probe=True))
    assert len(multi & exact) >= len(single & exact)
    assert len(multi) >= len(single)


def test_hash_sample_deterministic_and_stable(spark):
    """Same rows kept across runs; growing the table never evicts a
    previously-kept row; fraction lands near target."""
    from rs_graphdb_spark.functions.sampling import hash_sample

    small = spark.range(2000).select(F.col("id").alias("doc_id"))
    big = spark.range(4000).select(F.col("id").alias("doc_id"))
    kept_small = {r["doc_id"] for r in hash_sample(small, "doc_id", 0.2).collect()}
    kept_again = {r["doc_id"] for r in hash_sample(small, "doc_id", 0.2).collect()}
    kept_big = {r["doc_id"] for r in hash_sample(big, "doc_id", 0.2).collect()}
    assert kept_small == kept_again
    assert kept_small <= kept_big  # growth never reassigns
    assert 0.15 < len(kept_small) / 2000 < 0.25


def test_stratified_hash_sample_fractions(spark):
    from rs_graphdb_spark.functions.sampling import stratified_hash_sample

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
    )
    out = stratified_hash_sample(
        df, "doc_id", "lang", {"en": 0.5}, default_fraction=0.1
    )
    counts = {r["lang"]: r["cnt"] for r in
              out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert 0.4 < counts["en"] / 2000 < 0.6
    assert 0.05 < counts["de"] / 2000 < 0.15
    # zero default drops unlisted strata entirely
    none_default = stratified_hash_sample(df, "doc_id", "lang", {"en": 0.5})
    assert none_default.filter(F.col("lang") == "de").count() == 0


def test_repetition_ratio_and_quality_filter(spark):
    from rs_graphdb_spark.functions.text import quality_filter, repetition_ratio

    rows = [
        # clean prose: long enough, low repetition, alphabetic
        (1, "the quick brown fox jumps over a lazy dog while many other "
            "animals watch the scene from afar with great interest today"),
        # boilerplate loop: one sentence repeated — high repetition
        (2, "click here to subscribe now " * 20),
        # too short
        (3, "hello world"),
        # symbol soup: alpha ratio too low
        (4, "@@## $$%% 1234 ^^&& " * 10),
        # empty
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["rep"], r["keep"])
        for r in df.select(
            "doc_id",
            repetition_ratio("text").alias("rep"),
            quality_filter("text").alias("keep"),
        ).collect()
    }
    assert out[1][0] < 0.1 and out[1][1] is True
    assert out[2][0] > 0.8 and out[2][1] is False
    assert out[3][1] is False          # below min_tokens
    assert out[4][1] is False          # alpha ratio
    assert out[5][0] == 0.0 and out[5][1] is False


def test_repetition_signals(spark):
    """Gopher-style dup-line / top-ngram / dup-ngram char fractions:
    hand-computed values on constructed docs, all fractions in [0, 1]."""
    from rs_graphdb_spark.functions.text import repetition_signals

    rows = [
        (1, "a b c d e a b c d e a b c d e"),   # cyclic 5-token loop
        (2, "the quick brown fox jumps over lazy dog"),
        (3, "x\ny\nx\nz z z\nx"),                # 3 of 5 lines are 'x'
        (4, "hi"),                               # too short for any gram
        (5, ""),
        (6, "aa aa aa aa"),                      # single repeated token
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", repetition_signals("text").alias("r")
        ).select("doc_id", "r.*").collect()
    }
    # doc 1: 14 bigram occurrences, 'a b' occurs 3× → 3/14; every 5-gram
    # occurs ≥2× → dup share 1.0
    assert out[1]["top_ngram_char_frac"] == round(3 / 14, 6)
    assert out[1]["dup_ngram_char_frac"] == 1.0
    # doc 2: all bigrams unique → top share = longest bigram's char share
    assert 0 < out[2]["top_ngram_char_frac"] < 0.25
    assert out[2]["dup_ngram_char_frac"] == 0.0
    # doc 3: lines x,y,x,'z z z',x → 2 repeats / 5 lines; repeat chars 2
    # of 9 line chars ('zzz' counts 3)
    assert out[3]["dup_line_frac"] == 0.4
    assert out[3]["dup_line_char_frac"] == round(2 / 9, 6)
    # degenerate docs: all zero, never null
    for d in (4, 5):
        assert all(v == 0.0 for k, v in out[d].asDict().items()
                   if k != "doc_id")
    # doc 6: the only bigram 'aa aa' repeats → both shares 1.0 (top) and
    # 0.0 (5-gram impossible on 4 tokens)
    assert out[6]["top_ngram_char_frac"] == 1.0
    assert out[6]["dup_ngram_char_frac"] == 0.0


def test_ngram_contamination(spark):
    """A training doc quoting a benchmark question is flagged even when
    globally dissimilar; clean docs are not."""
    from rs_graphdb_spark.functions.dedup import ngram_contamination

    bench = spark.createDataFrame(
        [(100, "what is the capital of france")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "a long essay about geography that asks what is the capital "
                "of france among many other things entirely its own"),
            (2, "completely unrelated text about spark shuffle partitions"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n_hits"] for r in
           ngram_contamination(train, bench, "doc_id", "text").collect()}
    assert 1 in out and out[1] >= 4  # the quoted 6-gram yields 4 3-gram hits
    assert 2 not in out


def test_kmv_sketch_estimate_and_merge(spark):
    """KMV distinct-count: ~accurate at k=256, exact below k, and
    merge(sketch(A), sketch(B)) must equal sketch(A ∪ B) exactly."""
    from rs_graphdb_spark.functions.profile import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    a = spark.range(10_000).select(F.concat(F.lit("u"), F.col("id")).alias("v"))
    sk = kmv_sketch(a, "v", k=256)
    est = kmv_estimate(sk, k=256).first()
    assert 8_000 < est["estimate"] < 12_000  # ~1/sqrt(k) relative error
    # below-k: exact
    small = spark.range(100).select(F.col("id").cast("string").alias("v"))
    assert kmv_estimate(kmv_sketch(small, "v", k=256), k=256).first()["estimate"] == 100.0
    # mergeability: overlapping halves
    b = spark.range(5_000, 15_000).select(F.concat(F.lit("u"), F.col("id")).alias("v"))
    union_direct = {r["h"] for r in kmv_sketch(a.unionByName(b), "v", k=256).collect()}
    merged = {r["h"] for r in kmv_merge(kmv_sketch(a, "v", k=256),
                                        kmv_sketch(b, "v", k=256), k=256).collect()}
    assert merged == union_direct


def test_shingles_short_doc_yields_empty_not_error(spark):
    """Documents with fewer than k tokens must produce an empty shingle
    set, not a SparkRuntimeException (r2 advice #1): one short doc in a
    continuous-ingest batch must never kill the job."""
    from rs_graphdb_spark.functions.dedup import shingle_sets, shingles

    df = spark.createDataFrame(
        [(1, "one two"), (2, ""), (3, "a"), (4, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["s"] for r in df.select("doc_id", shingles("text", 3).alias("s")).collect()}
    assert got[1] == [] and got[2] == [] and got[3] == []
    assert got[4] == ["alpha beta gamma", "beta gamma delta"]
    # and the full pair pipeline tolerates the short docs end-to-end
    sets_df = shingle_sets(df, "doc_id", "text")
    pairs = minhash_dedup_pairs(df, "doc_id", "text", sets_df=sets_df)
    assert pairs.count() == 0


def test_minhash_collapse_exact_equals_uncollapsed(spark):
    """Exact-duplicate collapse must emit the identical pair set (same
    jaccard values) as the uncollapsed pipeline on a corpus with exact
    dup groups, near-dups, and singletons."""
    from rs_graphdb_spark.functions.dedup import minhash_dedup_pairs, shingle_sets

    base = "the quick brown fox jumps over the lazy dog " * 5
    near = base.replace("lazy dog", "sleepy dog", 1)
    rows = [(1, base), (2, base), (3, base),        # 3-way exact dup group
            (4, near), (5, near),                   # near-dup pair group
            (6, "completely different content about spark shuffles here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sets_df = shingle_sets(df, "doc_id", "text")
    fast = {(r["a"], r["b"]): round(r["jaccard"], 9)
            for r in minhash_dedup_pairs(df, "doc_id", "text", threshold=0.5,
                                         sets_df=sets_df, collapse_exact=True).collect()}
    slow = {(r["a"], r["b"]): round(r["jaccard"], 9)
            for r in minhash_dedup_pairs(df, "doc_id", "text", threshold=0.5,
                                         sets_df=sets_df, collapse_exact=False).collect()}
    assert fast == slow
    assert fast[(1, 2)] == 1.0 and fast[(1, 3)] == 1.0 and fast[(2, 3)] == 1.0
    assert fast[(4, 5)] == 1.0  # near-dup group is itself an exact dup pair
    assert (1, 4) in fast and fast[(1, 4)] < 1.0
    assert not any(6 in p for p in fast)


def test_minhash_signature_np_equals_sql_form(spark, monkeypatch):
    """The Arrow-batched numpy signature must be bit-identical to the
    interpreted SQL `transform` form — including the empty-set sentinel
    row and across the chunk boundary of the blocked matmul (chunk width
    shrunk so a small fixture spans several chunks)."""
    import rs_graphdb_spark.functions.dedup as dd

    monkeypatch.setattr(dd, "_SIG_CHUNK_COLS", 7)  # force many tiny chunks
    rows = [(1, "the quick brown fox jumps over the lazy dog " * 3),
            (2, "a b"),                                # < k tokens → empty set
            (3, "pack my box with five dozen liquor jugs and more text"),
            (4, "sphinx of black quartz judge my vow " * 10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # plan barrier before the pandas UDF (the engine's `_pin` rule: UDF
    # inputs are always staged columns, never inline HOF expressions —
    # Spark 4.1 flakily fails to extract a pandas UDF whose child is a
    # doubly-nested transform, surfacing as INTERNAL_ERROR "Cannot
    # evaluate expression"; every production path already stages)
    hashed = df.select(
        "doc_id", dd.shingle_hashes("text").alias("sh")
    ).localCheckpoint(eager=True)
    sql_form = hashed.select(
        "doc_id", dd.minhash_signature(F.col("sh")).alias("sig"))
    np_form = hashed.select(
        "doc_id", dd.minhash_signature_np()(F.col("sh")).alias("sig"))
    a = {r["doc_id"]: r["sig"] for r in sql_form.collect()}
    b = {r["doc_id"]: r["sig"] for r in np_form.collect()}
    assert a == b
    assert a[2] == [dd.MERSENNE_P] * dd.NUM_HASHES  # empty-set sentinel


def test_token_mixture_plan_and_apply(spark):
    from rs_graphdb_spark.functions.sampling import (
        apply_token_mixture,
        mixture_plan,
    )
    from rs_graphdb_spark.functions.text import token_count

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = docs.withColumn("n_tok", token_count("text").cast("long"))
    plan = mixture_plan(
        docs, "source", "n_tok", token_budget=2000,
        weights={"src0": 0.5, "src1": 0.25}, default_weight=0.05,
    )
    rows = {r["source"]: r for r in plan.collect()}
    # src0 asked for 1000 tokens; with ~150 tokens total it caps at 1.0
    assert rows["src0"]["target_tokens"] == 1000.0
    for r in rows.values():
        assert 0.0 <= r["keep_frac"] <= 1.0
        if r["target_tokens"] >= r["total_tokens"]:
            assert r["keep_frac"] == 1.0
    out = apply_token_mixture(docs, "doc_id", "source", plan, seed=1)
    # capped sources keep every doc
    full = {s for s, r in rows.items() if r["keep_frac"] == 1.0}
    kept = {r["source"]: r["c"] for r in out.groupBy("source").count()
            .withColumnRenamed("count", "c").collect()}
    src_n = {r["source"]: r["c"] for r in docs.groupBy("source").count()
             .withColumnRenamed("count", "c").collect()}
    for s in full:
        assert kept.get(s) == src_n[s]
    # zero-weight default would drop; here default 0.05 keeps a fraction
    assert sum(kept.values()) < sum(src_n.values())
    # deterministic: same seed, same rows
    out2 = apply_token_mixture(docs, "doc_id", "source", plan, seed=1)
    assert out.select("doc_id").exceptAll(out2.select("doc_id")).count() == 0
    # schema passthrough: no helper columns leak
    assert set(out.columns) == set(docs.columns)


def test_resize_image_roundtrips_all_formats(spark):
    import numpy as np

    from rs_graphdb_spark.functions.multimodal import (
        decode_image,
        decode_pixels,
        documents_as_images,
        resize_image,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    media = documents_as_images(docs.limit(30), corrupt_every=7)
    out = resize_image(media, 8, 5).collect()
    assert len(out) == 30
    n_ok = 0
    for r in out:
        fmt, w, h, _ = decode_image(bytes(r["payload"]))
        if fmt is None:
            continue  # corrupt rows pass through still-corrupt
        n_ok += 1
        assert (w, h) == (8, 5), (fmt, w, h)
        assert r["meta"]["declared_w"] == 8 and r["meta"]["declared_h"] == 5
    assert n_ok >= 20  # most rows decoded and resized

    # pixel-level check: 2x2 gradient upscaled 4x4 via nearest neighbor
    from rs_graphdb_spark.functions.multimodal import encode_image

    px = bytes([0, 100, 200, 255])
    payload = encode_image(px, 2, 2, "png")
    row = spark.createDataFrame(
        [(1, "image", bytearray(payload), ("t", 2, 2))],
        "media_id long, media_type string, payload binary, "
        "meta struct<source:string, declared_w:int, declared_h:int>",
    )
    res = resize_image(row, 4, 4).first()
    fmt, w, h, arr = decode_pixels(bytes(res["payload"]))
    assert (fmt, w, h) == ("png", 4, 4)
    want = np.array([[0, 0, 100, 100], [0, 0, 100, 100],
                     [200, 200, 255, 255], [200, 200, 255, 255]], dtype=np.uint8)
    assert (arr == want).all()


def test_resize_image_bmp_row_order_preserved(spark):
    # bottom-up BMP storage must canonicalize: top row stays the top row
    import numpy as np

    from rs_graphdb_spark.functions.multimodal import (
        decode_pixels,
        encode_image,
        resize_image,
    )

    px = bytes([10, 10, 240, 240])  # top row dark, bottom row bright
    payload = encode_image(px, 2, 2, "bmp")
    fmt, w, h, arr = decode_pixels(payload)
    assert (arr == np.array([[10, 10], [240, 240]])).all()
    row = spark.createDataFrame(
        [(1, "image", bytearray(payload), ("t", 2, 2))],
        "media_id long, media_type string, payload binary, "
        "meta struct<source:string, declared_w:int, declared_h:int>",
    )
    res = resize_image(row, 2, 1).first()
    fmt2, w2, h2, arr2 = decode_pixels(bytes(res["payload"]))
    assert (fmt2, w2, h2) == ("bmp", 2, 1)
    assert (arr2 == np.array([[10, 10]])).all()  # kept the TOP row


def test_png_filter_variety_roundtrip():
    """PNGs encoded with per-row filter variety (types 0-4, the shape of
    wild PNGs) must decode to the original pixels — exercising the
    Sub/Up/Average/Paeth de-filter paths, incl. the vectorized Sub
    (VERDICT r3 item #4)."""
    import numpy as np

    from rs_graphdb_spark.functions.multimodal import (
        _pixels_png, encode_image)

    rng = np.random.RandomState(7)
    for w, h in ((16, 16), (61, 23), (1, 9), (40, 1)):
        px = rng.randint(0, 256, size=w * h, dtype=np.uint8).tobytes()
        for filters in ((0, 1, 2, 3, 4), (4,), (1,), (3,), (2, 4, 1)):
            blob = encode_image(px, w, h, "png", png_filters=filters)
            fmt, gw, gh, arr = _pixels_png(blob)
            assert (fmt, gw, gh) == ("png", w, h)
            assert arr.tobytes() == px, f"filters={filters} {w}x{h}"
        # filter choice never changes the file length (oracle contract)
        assert len(encode_image(px, w, h, "png")) == len(
            encode_image(px, w, h, "png", png_filters=(4,)))


def test_png_defilter_sub_vectorized_wraps():
    """The cumsum Sub de-filter must wrap mod 256 exactly like the
    per-pixel loop (values that overflow uint8)."""
    import numpy as np

    from rs_graphdb_spark.functions.multimodal import (
        _pixels_png, encode_image)

    # pixels chosen so Sub deltas overflow repeatedly
    px = bytes([250, 251, 252, 3, 7, 200, 199, 1] * 4)
    blob = encode_image(px, 8, 4, "png", png_filters=(1,))
    assert _pixels_png(blob)[3].tobytes() == px


def test_duplicate_spans_detects_long_shared_runs(spark):
    """Documents sharing an identical k-token run must pair with the
    right DISTINCT-span count; globally-similar docs with no k-run must
    not (the MassiveText exact-substring family)."""
    from rs_graphdb_spark.functions.dedup import duplicate_spans
    from rs_graphdb_spark.session import local_df

    run = " ".join(f"tok{i}" for i in range(12))  # 12-token shared run
    docs = local_df(spark, [
        (1, "alpha " + run + " omega"),
        (2, "beta gamma " + run),
        # same vocabulary, shuffled order: high Jaccard, no shared run
        (3, "alpha omega " + " ".join(f"tok{i}" for i in range(11, -1, -1))),
        (4, "unrelated words entirely different content here now"),
    ], "doc_id long, text string")
    got = {(r["a"], r["b"]): r["n_spans"]
           for r in duplicate_spans(docs, "doc_id", "text", k=10).collect()}
    # a 12-token run shares 12-10+1 = 3 distinct 10-grams
    assert got == {(1, 2): 3}


def test_duplicate_span_extents_coalesce_long_block(spark):
    """r8: a long shared block must collapse to ONE merged extent per
    pair side with the exact token range, not a row per grid hit; two
    separated blocks stay two extents; offsets track each side."""
    from rs_graphdb_spark.functions.dedup import duplicate_span_extents
    from rs_graphdb_spark.session import local_df

    block = " ".join(f"tok{i}" for i in range(40))   # 40-token block
    blk2 = " ".join(f"alt{i}" for i in range(15))    # second, separate
    filler = " ".join(f"pad{i}" for i in range(20))
    docs = local_df(spark, [
        (1, block + " " + filler + " " + blk2),
        (2, "lead0 lead1 lead2 " + block + " " + blk2 + " tail0"),
        (3, "no overlap with anything here at all zero shared"),
    ], "doc_id long, text string")
    rows = [((r["a"], r["b"], r["doc"]),
             (r["start_tok"], r["end_tok"], r["n_spans"]))
            for r in duplicate_span_extents(
                docs, "doc_id", "text", k=10).collect()]
    # doc1: block at tokens [0,40) -> 31 grid spans merge into ONE
    # extent; blk2 sits after 20 filler tokens at [60,75) -> its own
    # extent (6 spans). Two extents, not 37 grid rows.
    ex1 = sorted(v for k, v in rows if k == (1, 2, 1))
    assert ex1 == [(0, 40, 31), (60, 75, 6)]
    # in doc2 the two blocks are ADJACENT (block at [3,43), blk2 at
    # [43,58): last block span starts at 33, first blk2 span at 43 —
    # exactly k apart, so the extents touch and coalesce into one)
    ex2 = sorted(v for k, v in rows if k == (1, 2, 2))
    assert ex2 == [(3, 58, 37)]
    assert not [k for k, _ in rows if 3 in k[:2]]


def test_duplicate_span_extents_adjacent_islands_merge(spark):
    """Two grid runs whose extents touch (pos - prev == k) merge into
    one island; a gap of one token splits them."""
    from rs_graphdb_spark.functions.dedup import duplicate_span_extents
    from rs_graphdb_spark.session import local_df

    a = " ".join(f"w{i}" for i in range(10))        # tokens 0..9
    b = " ".join(f"x{i}" for i in range(10))        # tokens 10..19
    docs_touch = local_df(spark, [
        (1, a + " " + b),
        (2, a + " SEP " + b + " more filler here"),
    ], "doc_id long, text string")
    rows = [
        (r["doc"], r["start_tok"], r["end_tok"], r["n_spans"])
        for r in duplicate_span_extents(
            docs_touch, "doc_id", "text", k=10).collect()
    ]
    # doc1 has spans at pos 0 (a) and pos 10 (b): 10 - 0 == k -> MERGE
    assert (1, 0, 20, 2) in rows
    # doc2 has them at 0 and 11 (SEP between): 11 - 0 > k -> two extents
    d2 = sorted(t for t in rows if t[0] == 2)
    assert d2 == [(2, 0, 10, 1), (2, 11, 21, 1)]


def test_score_weighted_sample_deterministic_and_proportional(spark):
    """score_weighted_sample keeps rows with probability score/max —
    deterministically (same set twice), monotonically (score 0 never,
    score >= max always), and roughly proportionally."""
    from rs_graphdb_spark.functions.sampling import score_weighted_sample

    df = spark.range(4000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 101).alias("score")
    )
    kept1 = {r["doc_id"] for r in
             score_weighted_sample(df, "doc_id", "score", 100).collect()}
    kept2 = {r["doc_id"] for r in
             score_weighted_sample(df, "doc_id", "score", 100).collect()}
    assert kept1 == kept2
    zero = {r["doc_id"] for r in df.filter("score = 0").collect()}
    full = {r["doc_id"] for r in df.filter("score >= 100").collect()}
    assert not (kept1 & zero) and full <= kept1
    # overall keep rate ≈ E[score]/100 = 50/100
    assert 0.40 < len(kept1) / 4000 < 0.60
    import pytest

    with pytest.raises(ValueError):
        score_weighted_sample(df, "doc_id", "score", 0)


def test_minhash_signatures_arrow_equals_pandas_form(spark):
    """The mapInArrow signature frame must be bit-identical to the
    pandas_udf form (which is itself pinned to the SQL form), including
    empty-set sentinel rows; the shared kernel must be chunk-invariant."""
    import numpy as np

    import rs_graphdb_spark.functions.dedup as dd

    rows = [(1, "the quick brown fox jumps over the lazy dog " * 3),
            (2, "a b"),
            (3, "pack my box with five dozen liquor jugs and more text"),
            (4, "sphinx of black quartz judge my vow " * 10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # staged input per the engine's `_pin` plan-barrier rule (see
    # test_minhash_signature_np_equals_sql_form)
    hashed = df.select(
        "doc_id", dd.shingle_hashes("text").alias("sh")
    ).localCheckpoint(eager=True)
    a = {r["doc_id"]: r["sig"]
         for r in dd.minhash_signatures_arrow(hashed).collect()}
    b = {r["doc_id"]: r["sig"] for r in hashed.select(
        "doc_id", dd.minhash_signature_np()(F.col("sh")).alias("sig")
    ).collect()}
    assert a == b and a[2] == [dd.MERSENNE_P] * dd.NUM_HASHES
    # kernel chunk-invariance, exercised directly (no Spark serialization
    # between the monkeypatched module and the Python worker)
    A = np.array([x for x, _ in dd.HASH_PARAMS], dtype=np.int64)[:, None]
    B = np.array([y for _, y in dd.HASH_PARAMS], dtype=np.int64)[:, None]
    lens = np.array([5, 0, 9, 3])
    flat = np.arange(17, dtype=np.int64) * 97 + 5
    big = dd._sig_mins(lens, flat, A, B, chunk_cols=1 << 22)
    small = dd._sig_mins(lens, flat, A, B, chunk_cols=4)
    assert (big == small).all() and (big[1] == dd.MERSENNE_P).all()


def test_wav_codec_roundtrip_and_negative_paths():
    """encode_wav/decode_wav: exact PCM16 roundtrip, chunk-walk
    validation failures on malformed inputs."""
    import numpy as np
    import pytest

    from rs_graphdb_spark.functions.multimodal import decode_wav, encode_wav

    s = (np.arange(500) % 509 - 250).astype(np.int16)
    blob = encode_wav(s, 22050)
    rate, got = decode_wav(blob)
    assert rate == 22050 and (got == s).all()
    # empty stream roundtrips
    rate0, got0 = decode_wav(encode_wav(np.array([], dtype=np.int16), 8000))
    assert rate0 == 8000 and len(got0) == 0
    for bad in (b"", b"RIFFxxxx", b"RIFF\x00\x00\x00\x00WAVE",
                blob[:30], blob[:12] + blob[20:]):
        with pytest.raises(ValueError):
            decode_wav(bad)
    # data-before-fmt ordering must be rejected
    import struct
    pcm = b"\x01\x00\x02\x00"
    body = b"WAVE" + b"data" + struct.pack("<I", len(pcm)) + pcm
    with pytest.raises(ValueError, match="before fmt"):
        decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_audio_features_and_resample(spark):
    """The WAV pipeline end-to-end on Spark: features recover the exact
    integer aggregates, corrupt rows isolate, resample preserves the
    nearest-neighbor arithmetic and re-encodes a decodable WAV."""
    from rs_graphdb_spark.functions.multimodal import (
        audio_features, documents_as_audio, resample_audio)
    from rs_graphdb_spark.session import local_df

    docs = local_df(spark, [
        (0, "abcdefgh"),          # corrupt (0 % 3 == 0 with corrupt_every=3)
        (1, "hello world"),
        (2, "x" * 5000),          # clipped to 4000 samples
    ], "doc_id long, text string")
    wav = documents_as_audio(docs, corrupt_every=3)
    feats = {r["media_id"]: r for r in audio_features(wav).collect()}
    assert feats[0]["media_type"] == "unknown" and feats[0]["n_samples"] == -1
    exp1 = [abs(ord(c) - 96) for c in "hello world"]
    assert feats[1]["n_samples"] == 11
    assert feats[1]["sum_abs"] == sum(exp1) and feats[1]["peak"] == max(exp1)
    assert feats[2]["n_samples"] == 4000
    assert feats[2]["sample_rate"] == 8000 + 2 * 1000
    rs = {r["media_id"]: r for r in
          audio_features(resample_audio(wav, 4000)).collect()}
    assert rs[0]["media_type"] == "unknown"          # corrupt passthrough
    ns, rate = 11, 9000
    m = max(1, ns * 4000 // rate)
    assert rs[1]["n_samples"] == m and rs[1]["sample_rate"] == 4000
    assert rs[1]["sum_abs"] == sum(
        abs(ord("hello world"[j * ns // m]) - 96) for j in range(m))


def test_avi_codec_roundtrip_and_negative_paths():
    """encode_avi/decode_avi: exact frame roundtrip (incl. stride
    padding for non-multiple-of-4 widths), validating walk rejects
    malformed containers."""
    import numpy as np
    import pytest

    from rs_graphdb_spark.functions.multimodal import decode_avi, encode_avi

    frames = [((np.arange(48) * (i + 1)) % 256).astype(np.uint8).tobytes()
              for i in range(3)]
    blob = encode_avi(frames, 8, 6)
    w, h, got = decode_avi(blob)
    assert (w, h, len(got)) == (8, 6, 3)
    assert all(g.reshape(-1).tobytes() == f for g, f in zip(got, frames))
    w2, _, g2 = decode_avi(encode_avi([bytes(range(30))] * 2, 5, 6))
    assert w2 == 5 and g2[0].reshape(-1).tobytes() == bytes(range(30))
    for bad in (b"NOTAVI!!", blob[:40], blob[:-20]):
        with pytest.raises(ValueError):
            decode_avi(bad)
    # declared-vs-found frame count mismatch must be caught
    tampered = blob.replace(b"00db", b"zzzz", 1)
    with pytest.raises(ValueError, match="declared"):
        decode_avi(tampered)


def test_sample_video_frames_real_parse(spark):
    """sample_video_frames must parse the AVI container and emit every
    2nd frame with its exact pixel checksum; corrupt payloads isolate."""
    from rs_graphdb_spark.functions.multimodal import (
        documents_as_video, sample_video_frames)
    from rs_graphdb_spark.session import local_df

    text = "".join(chr(97 + (i % 26)) for i in range(200))  # 200 chars
    docs = local_df(spark, [(0, "bad"), (1, text)], "doc_id long, text string")
    vid = documents_as_video(docs, corrupt_every=7)  # 0 corrupt, 1 good
    rows = sample_video_frames(vid, every_n=2).collect()
    by = {}
    for r in rows:
        by.setdefault(r["media_id"], []).append(r)
    assert by[0][0]["frame_idx"] == -1            # corrupt isolation
    nf = min(max(200 // 48, 1), 8)                # 4 frames → keep 0, 2
    kept = sorted(r["frame_idx"] for r in by[1])
    assert kept == [i for i in range(0, nf, 2)]
    f0 = next(r for r in by[1] if r["frame_idx"] == 0)
    assert f0["checksum"] == sum(ord(c) for c in text[:48])
    assert (f0["width"], f0["height"]) == (8, 6)


def test_jpeg_flat_even_blocks_roundtrip_exact():
    """Flat 8x8 blocks with EVEN values survive baseline JPEG bit-exactly
    (DC = 8*(v-128) is divisible by the Annex-K DC quant step 16) — the
    property the driver fixture's index-arithmetic oracle rests on."""
    import numpy as np

    from rs_graphdb_spark.functions.multimodal import decode_jpeg, encode_jpeg

    rng = np.random.RandomState(11)
    for wb, hb in ((2, 2), (7, 3), (1, 1), (6, 7)):
        vals = (rng.randint(0, 128, size=(hb, wb)) * 2).astype(np.uint8)
        pix = np.repeat(np.repeat(vals, 8, 0), 8, 1)
        blob = encode_jpeg(pix.tobytes(), wb * 8, hb * 8)
        w, h, out = decode_jpeg(blob)
        assert (w, h) == (wb * 8, hb * 8)
        assert np.array_equal(out, pix)


def test_jpeg_decode_matches_direct_dct_reference():
    """Decoder dequant+IDCT must equal an independent O(N^4) direct-DCT
    evaluation of the spec formulas (not the decoder's vectorized path)."""
    import numpy as np

    from rs_graphdb_spark.functions import multimodal as mm

    rng = np.random.RandomState(3)
    blk = rng.randint(0, 256, (8, 8)).astype(np.uint8)
    blob = mm.encode_jpeg(blk.tobytes(), 8, 8, quality=50)
    _, _, out = mm.decode_jpeg(blob)
    q = mm._scaled_quant(50)
    B = blk.astype(float) - 128

    def c(u):
        return 1 / np.sqrt(2) if u == 0 else 1.0

    Fc = np.zeros((8, 8))
    for u in range(8):
        for v in range(8):
            Fc[u, v] = 0.25 * c(u) * c(v) * sum(
                B[x, y]
                * np.cos((2 * x + 1) * u * np.pi / 16)
                * np.cos((2 * y + 1) * v * np.pi / 16)
                for x in range(8) for y in range(8))
    qf = np.round(Fc / q) * q
    R = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            R[x, y] = 0.25 * sum(
                c(u) * c(v) * qf[u, v]
                * np.cos((2 * x + 1) * u * np.pi / 16)
                * np.cos((2 * y + 1) * v * np.pi / 16)
                for u in range(8) for v in range(8))
    exp = np.clip(np.round(R + 128), 0, 255).astype(np.uint8)
    assert np.array_equal(out, exp)


def test_jpeg_lossy_error_bounds_and_dispatch():
    import numpy as np

    from rs_graphdb_spark.functions.multimodal import (
        decode_image, decode_jpeg, decode_pixels, encode_jpeg)

    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(24, 17)).astype(np.uint8)  # non-mult-of-8
    blob = encode_jpeg(img.tobytes(), 17, 24, quality=90)
    w, h, out = decode_jpeg(blob)
    assert (w, h) == (17, 24)
    err = np.abs(out.astype(int) - img.astype(int))
    assert err.max() <= 40 and err.mean() < 12  # worst case: white noise
    yy, xx = np.mgrid[0:40, 0:40]
    smooth = ((np.sin(yy / 9) + np.cos(xx / 11)) * 50 + 128).astype(np.uint8)
    blob = encode_jpeg(smooth.tobytes(), 40, 40, quality=90)
    _, _, out = decode_jpeg(blob)
    assert np.abs(out.astype(int) - smooth.astype(int)).max() <= 6
    fmt, w2, h2, ck = decode_image(blob)
    assert fmt == "jpeg" and (w2, h2) == (40, 40)
    assert ck == int(out.astype(np.int64).sum())
    fmt, _, _, arr = decode_pixels(blob)
    assert fmt == "jpeg" and arr.shape == (40, 40)


def test_jpeg_corrupt_and_unsupported_isolation():
    from rs_graphdb_spark.functions.multimodal import decode_image, encode_jpeg

    good = encode_jpeg(bytes(range(64)), 8, 8)
    assert decode_image(b"\xff\xd8NOTJPEG") == (None, None, None, None)
    assert decode_image(good[:40]) == (None, None, None, None)  # truncated
    # progressive marker (SOF2) must refuse, isolated as unknown
    prog = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    assert decode_image(prog) == (None, None, None, None)
    assert decode_image(good)[0] == "jpeg"


def test_jpeg_restart_interval_decode():
    """The decoder must honor DRI: byte-aligned RSTn every MCU with the DC
    predictor reset — hand-built stream (our encoder never emits DRI)."""
    import struct

    import numpy as np

    from rs_graphdb_spark.functions import multimodal as mm

    vals = [60, 130, 200]  # three flat even-valued MCUs
    dc_codes = mm._huff_codes(mm._JPEG_DC_BITS, mm._JPEG_DC_VALS)
    ac_codes = mm._huff_codes(mm._JPEG_AC_BITS, mm._JPEG_AC_VALS)
    scan = bytearray()
    for i, v in enumerate(vals):
        bw = mm._BitWriter()
        diff = (v - 128) // 2  # quantized DC, predictor reset each restart
        size = abs(diff).bit_length()
        ln, code = dc_codes[size]
        bw.put(code, ln)
        if size:
            bw.put(diff if diff >= 0 else diff + (1 << size) - 1, size)
        ln, code = ac_codes[0x00]
        bw.put(code, ln)
        scan += bw.finish()
        if i < len(vals) - 1:
            scan += bytes([0xFF, 0xD0 + i])
    q = mm._scaled_quant(50)
    dqt = bytes([0]) + bytes(int(x) for x in q[mm._ZZ_ROWS, mm._ZZ_COLS])
    sof = struct.pack(">BHHB", 8, 8, 24, 1) + bytes([1, 0x11, 0])
    blob = (
        b"\xff\xd8"
        + mm._jpeg_segment(0xDB, dqt)
        + mm._jpeg_segment(0xC0, sof)
        + mm._jpeg_segment(0xC4, bytes([0x00]) + bytes(mm._JPEG_DC_BITS)
                           + bytes(mm._JPEG_DC_VALS))
        + mm._jpeg_segment(0xC4, bytes([0x10]) + bytes(mm._JPEG_AC_BITS)
                           + bytes(mm._JPEG_AC_VALS))
        + mm._jpeg_segment(0xDD, struct.pack(">H", 1))
        + mm._jpeg_segment(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
        + bytes(scan)
        + b"\xff\xd9"
    )
    w, h, out = mm.decode_jpeg(blob)
    assert (w, h) == (24, 8)
    want = np.repeat(np.repeat(np.array([vals], dtype=np.uint8), 8, 0), 8, 1)
    assert np.array_equal(out, want)


def test_documents_as_jpegs_oracle_layout(spark):
    """Fixture layout contract: decoded checksum == 64 * sum of
    even-truncated text bytes (the DuckDB twin's index arithmetic)."""
    from rs_graphdb_spark.functions.multimodal import (
        documents_as_jpegs, extract_features)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    feats = {
        r["media_id"]: r
        for r in extract_features(
            documents_as_jpegs(docs.limit(40), corrupt_every=7)
        ).collect()
    }
    for row in docs.limit(40).collect():
        did, data = row["doc_id"], row["text"].encode("utf-8")
        f = feats[did]
        if did % 7 == 0:
            assert f["media_type"] == "unknown" and f["checksum"] is None
            continue
        n = len(data)
        wb, hb = n % 6 + 2, (n // 6) % 6 + 2
        assert (f["media_type"], f["width"], f["height"]) == (
            "jpeg", wb * 8, hb * 8)
        want = 64 * sum(b - b % 2 for b in data[:min(n, wb * hb)])
        assert f["checksum"] == want, did


def test_resize_image_jpeg_roundtrip(spark):
    import numpy as np

    from rs_graphdb_spark.functions.multimodal import (
        decode_pixels, encode_jpeg, resize_image)

    rng = np.random.RandomState(9)
    src = rng.randint(0, 256, size=(32, 32)).astype(np.uint8)
    payload = encode_jpeg(src.tobytes(), 32, 32, quality=90)
    row = spark.createDataFrame(
        [(1, "image", bytearray(payload), ("t", 32, 32))],
        "media_id long, media_type string, payload binary, "
        "meta struct<source:string, declared_w:int, declared_h:int>",
    )
    res = resize_image(row, 16, 16).first()
    fmt, w, h, arr = decode_pixels(bytes(res["payload"]))
    assert (fmt, w, h) == ("jpeg", 16, 16)
    # NN-resample of the DECODED source, then one more lossy generation:
    # bound the drift rather than demand equality
    _, _, _, dec = decode_pixels(payload)
    idx = np.arange(16) * 32 // 16
    want = dec[idx][:, idx].astype(int)
    assert np.abs(arr.astype(int) - want).mean() < 16


def test_bigram_lm_hand_computed(spark):
    """Add-1 bigram LM on a 2-doc corpus: hand-checked counts, smoothing,
    and perplexity; empty doc scores NULL; shuffle-join path ≡ broadcast."""
    import math

    from rs_graphdb_spark.functions.lm import (
        bigram_counts, ccnet_buckets, lm_vocab_size, score_bigram_lm)
    from rs_graphdb_spark.session import local_df

    train = local_df(spark, [(1, "a b a b"), (2, "a b c")],
                     "doc_id long, text string")
    lm = bigram_counts(train)
    counts = {(r["w1"], r["w2"]): r["cnt"] for r in lm.collect()}
    # bigrams: <s>-a ×2, a-b ×3, b-a ×1, b-c ×1
    assert counts == {("<s>", "a"): 2, ("a", "b"): 3,
                      ("b", "a"): 1, ("b", "c"): 1}
    V = lm_vocab_size(lm)
    assert V == 3  # successors: a, b, c

    # min_count prunes hapax bigram types (b-a, b-c); V shrinks with them
    pruned = bigram_counts(train, min_count=2)
    assert {(r["w1"], r["w2"]) for r in pruned.collect()} == {
        ("<s>", "a"), ("a", "b")}
    assert lm_vocab_size(pruned) == 2

    score = local_df(spark, [(10, "a b"), (11, "z"), (12, "")],
                     "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           score_bigram_lm(score, "doc_id", "text", lm, V).collect()}
    # doc 10: <s>-a (cb=2, cw(<s>)=2) and a-b (cb=3, cw(a)=3)
    assert (out[10]["n_bigrams"], out[10]["n_matched"],
            out[10]["sum_cb"]) == (2, 2, 5)
    want = -(math.log((2 + 1) / (2 + 3)) + math.log((3 + 1) / (3 + 3))) / 2
    assert abs(out[10]["nll"] - want) < 1e-12
    assert abs(out[10]["ppl"] - math.exp(want)) < 1e-12
    # doc 11: one unseen bigram <s>-z → (0+1)/(2+3)
    assert (out[11]["n_matched"], out[11]["sum_cb"]) == (0, 0)
    assert abs(out[11]["nll"] - -math.log(1 / 5)) < 1e-12
    # doc 12: empty → zero bigrams, NULL nll/ppl
    assert out[12]["n_bigrams"] == 0 and out[12]["nll"] is None

    # shuffle-join path returns identical rows
    shuf = {r["doc_id"]: r for r in
            score_bigram_lm(score, "doc_id", "text", lm, V,
                            broadcast_lm=False).collect()}
    for k in out:
        assert out[k].asDict() == shuf[k].asDict()

    # bucket labels: empty / head / tail edges
    buck = {r["doc_id"]: r["b"] for r in
            score_bigram_lm(score, "doc_id", "text", lm, V)
            .select("doc_id",
                    ccnet_buckets("nll", 0.6, 1.2).alias("b")).collect()}
    assert buck[10] == "head" and buck[11] == "tail" and buck[12] == "empty"

    import pytest as _pt
    with _pt.raises(ValueError):
        ccnet_buckets("nll", 2.0, 1.0)
    with _pt.raises(ValueError):
        score_bigram_lm(score, "doc_id", "text", lm, 0)


def test_semantic_dedup_chain_not_transitive(spark):
    """SemDeDup drop rule: b falls to its smallest ≥τ neighbor; a chain
    a~b~c with cos(a,c) < τ keeps BOTH a and c (no transitive closure)."""
    import math

    from rs_graphdb_spark.functions.similarity import semantic_dedup

    # unit vectors on a plane at 0°, 35°, 72°: cos(35°)≈0.819 ≥ 0.8 so
    # 2 drops to 1; cos(37°)≈0.799 and cos(72°)≈0.309 are both < 0.8 so
    # 3 has NO ≥τ neighbor and survives even though 2 (its 37° chain
    # link) was itself dropped — plus an orthogonal singleton on axis z
    def v(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0]

    emb = spark.createDataFrame(
        [(1, v(0)), (2, v(35)), (3, v(72)), (4, [0.0, 0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in
           semantic_dedup(emb, "vec_id", "embedding", k=1, iterations=1,
                          threshold=0.8).collect()}
    assert out[1]["keep"] is True and out[1]["dup_of"] is None
    assert out[2]["keep"] is False and out[2]["dup_of"] == 1
    assert out[3]["keep"] is True and out[3]["dup_of"] is None
    assert out[4]["keep"] is True
    # the drop rule ignores whether the smaller neighbor itself survived:
    # at τ=0.79 both cos(35°) and cos(37°) qualify → 3 falls to 2 (its
    # smallest ≥τ neighbor), not to 1
    out79 = {r["vec_id"]: r for r in
             semantic_dedup(emb, "vec_id", "embedding", k=1, iterations=1,
                            threshold=0.79).collect()}
    assert out79[3]["keep"] is False and out79[3]["dup_of"] == 2


def test_interpolated_trigram_lm_hand_computed(spark):
    """Interpolated trigram scoring on a 2-doc corpus: exact counts and
    the lam·P3 + (1−lam)·P2 mix verified against hand arithmetic."""
    import math

    from rs_graphdb_spark.functions.lm import (
        bigram_counts, lm_vocab_size, ngram_counts, score_interpolated_lm)
    from rs_graphdb_spark.session import local_df

    train = local_df(spark, [(1, "a b c"), (2, "a b d")],
                     "doc_id long, text string")
    lm2 = bigram_counts(train)
    lm3 = ngram_counts(train, n=3)
    tri = {r["g"]: r["cnt"] for r in lm3.collect()}
    # trigrams (double-BOS): <s> <s> a ×2, <s> a b ×2, a b c, a b d
    assert tri == {"<s> <s> a": 2, "<s> a b": 2, "a b c": 1, "a b d": 1}
    V = lm_vocab_size(lm2)
    assert V == 4  # successors a, b, c, d

    score = local_df(spark, [(10, "a b c"), (11, "z"), (12, "")],
                     "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           score_interpolated_lm(score, "doc_id", "text", lm2, lm3, V,
                                 lam=0.7).collect()}
    r = out[10]
    assert (r["n_trigrams"], r["n_matched3"], r["sum_cb3"]) == (3, 3, 5)

    # hand mix: c2/cw from the bigram LM (<s>a×2, ab×2, bc, bd)
    def p(c123, c12, c23, c2):
        return (0.7 * (c123 + 1) / (c12 + V)
                + (1.0 - 0.7) * (c23 + 1) / (c2 + V))

    want = -(math.log(p(2, 2, 2, 2))      # <s> <s> a ; bigram <s> a
             + math.log(p(2, 2, 2, 2))    # <s> a b ; bigram a b
             + math.log(p(1, 2, 1, 2))    # a b c  ; bigram b c
             ) / 3
    assert abs(r["nll"] - want) < 1e-12
    # shuffle-join path returns identical rows (the large-vocab fallback)
    shuf = {r["doc_id"]: r.asDict() for r in
            score_interpolated_lm(score, "doc_id", "text", lm2, lm3, V,
                                  lam=0.7, broadcast_lm=False).collect()}
    for i in out:
        assert out[i].asDict() == shuf[i]

    # unseen TOKEN but seen contexts: trigram <s> <s> z smooths over
    # c12(<s> <s>)=2, bigram <s> z over c2(<s>)=2 — both floors 1/(2+V);
    # (1.0 − 0.7) deliberately, NOT the literal 0.3 (different doubles)
    r11 = out[11]
    assert (r11["n_trigrams"], r11["n_matched3"]) == (1, 0)
    want11 = -math.log(0.7 / (2 + V) + (1.0 - 0.7) / (2 + V))
    assert abs(r11["nll"] - want11) < 1e-12
    assert out[12]["n_trigrams"] == 0 and out[12]["nll"] is None


def test_soft_dedup_weights(docs, spark):
    """Cluster of 2 (docs 1,2) gets micro-weight 500000 each; singletons
    keep the full 1000000 — totals preserve one-doc-per-cluster mass."""
    from rs_graphdb_spark.functions.dedup import (
        near_dup_clusters, soft_dedup_weights)

    cl = near_dup_clusters(docs, "doc_id", "text", threshold=0.9)
    out = {r["doc_id"]: r for r in soft_dedup_weights(cl).collect()}
    # docs 1,2 are identical → same cluster; doc 4 is always a singleton
    assert out[1]["cluster"] == out[2]["cluster"]
    assert out[1]["n_dups"] >= 2
    assert out[1]["weight_micro"] == 1_000_000 // out[1]["n_dups"]
    assert out[4]["n_dups"] == 1 and out[4]["weight_micro"] == 1_000_000
    # mass conservation up to floor loss: Σ weights ≈ one unit per cluster
    sizes: dict = {}
    for r in out.values():
        sizes[r["cluster"]] = sizes.get(r["cluster"], 0) + 1
    want = sum(n * (1_000_000 // n) for n in sizes.values())
    assert sum(r["weight_micro"] for r in out.values()) == want


def test_chunk_documents_whitespace_runs(spark):
    """Whitespace-run splitting: newlines/tabs/space-runs never mint
    empty tokens against the budget (round-6 fix — the old single-space
    split counted them)."""
    from rs_graphdb_spark.functions.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "a  b\tc\nd   e"),          # runs of spaces, tab, newline
         (2, "  leading and trailing  "),
         (3, "")],
        "doc_id long, text string",
    )
    out = {(r["doc_id"], r["chunk_idx"]): r
           for r in chunk_documents(df, "doc_id", "text",
                                    max_tokens=3, overlap=1).collect()}
    assert out[(1, 0)]["chunk_text"] == "a b c"
    assert out[(1, 1)]["chunk_text"] == "c d e"
    assert out[(1, 1)]["n_tokens"] == 3
    assert max(i for d, i in out if d == 1) == 1  # exactly 2 chunks
    assert out[(2, 0)]["chunk_text"] == "leading and trailing"
    assert out[(2, 0)]["n_tokens"] == 3
    # empty doc still yields its one (empty) chunk
    assert out[(3, 0)]["n_tokens"] == 0 and out[(3, 0)]["chunk_text"] == ""


def test_chunk_documents_bpe_budget(spark):
    """token_re budgets in BPE-ish pieces: letters runs, single digits,
    single punct — '2026!' is three tokens, not one."""
    from rs_graphdb_spark.functions.text import chunk_documents

    df = spark.createDataFrame([(1, "year 2026! ok")], "doc_id long, text string")
    out = sorted(
        chunk_documents(df, "doc_id", "text", max_tokens=4, overlap=0,
                        token_re=r"[a-z]+|[0-9]|[^a-z0-9\s]").collect(),
        key=lambda r: r["chunk_idx"],
    )
    # pieces: year 2 0 2 | 6 ! ok
    assert [r["chunk_text"] for r in out] == ["year 2 0 2", "6 ! ok"]
    assert [r["n_tokens"] for r in out] == [4, 3]


def test_semantic_dedup_zero_norm_vectors(spark):
    """Zero embeddings have undefined cosine (0/0) — the finite-cosine
    pair guard keeps them out of both sides of the duplicate relation:
    a zero vector is never dropped and never becomes dup_of for a real
    doc (round-6 advice fix)."""
    from rs_graphdb_spark.functions.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]),      # zero vector, smallest id
         (2, [1.0, 0.0, 0.0]),
         (3, [1.0, 0.0, 0.0]),      # true duplicate of 2
         (4, [0.0, 0.0, 0.0])],     # second zero vector
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in
           semantic_dedup(emb, "vec_id", "embedding", k=1, iterations=1,
                          threshold=0.9).collect()}
    assert out[1]["keep"] is True and out[1]["dup_of"] is None
    assert out[4]["keep"] is True and out[4]["dup_of"] is None  # not dup of 1
    assert out[2]["keep"] is True
    assert out[3]["keep"] is False and out[3]["dup_of"] == 2    # not 1


def test_kn_lm_hand_computed(spark):
    """Interpolated bigram Kneser-Ney with absolute discount D=0.75:
    exact hand arithmetic over a 2-doc train corpus, exercising all
    three paths — seen bigram, unseen bigram in a seen context, and
    full continuation backoff on an unseen context."""
    import math

    from rs_graphdb_spark.functions.lm import (
        bigram_counts, lm_vocab_size, score_kn_lm)

    train = spark.createDataFrame(
        [(0, "a b a c"), (1, "a b")], "doc_id long, text string")
    lm = bigram_counts(train)
    # LM types: {<s> a:2, a b:2, b a:1, a c:1} -> T=4
    # ctx: <s>(cw=2,fo=1) a(cw=3,fo=2) b(cw=1,fo=1)
    # cont: a=2 b=1 c=1 ; V={a,b,c}=3 ; T+V=7
    V = lm_vocab_size(lm)
    assert V == 3
    score = spark.createDataFrame(
        [(10, "a b z"), (11, "z a"), (12, "")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           score_kn_lm(score, "doc_id", "text", lm, V).collect()}
    D, tv = 0.75, 7.0
    pc = lambda ct: (ct + 1.0) / tv                      # noqa: E731
    seen = lambda cb, cw, fo, ct: (                      # noqa: E731
        max(cb - D, 0.0) / cw + D * fo / cw * pc(ct))
    # doc 10: <s>a (cb2 cw2 fo1 ct_a2), a b (cb2 cw3 fo2 ct_b1),
    #         b z (cb0 cw1 fo1 ct_z0)
    r = out[10]
    assert (r["n_bigrams"], r["n_matched"], r["sum_cont"]) == (3, 2, 3)
    want = -(math.log(seen(2, 2, 1, 2)) + math.log(seen(2, 3, 2, 1))
             + math.log(seen(0, 1, 1, 0))) / 3
    assert abs(r["nll"] - want) < 1e-12
    # doc 11: <s>z seen-context/unseen-word, z a fully unseen context
    r = out[11]
    assert (r["n_bigrams"], r["n_matched"], r["sum_cont"]) == (2, 0, 2)
    want = -(math.log(seen(0, 2, 1, 0)) + math.log(pc(2))) / 2
    assert abs(r["nll"] - want) < 1e-12
    # per-context normalization: sum over the observed vocab + floor
    # mass must be exactly 1 for a seen context (discount bookkeeping)
    total = sum(seen({"a": 2, "c": 1}.get(w, 0), 3, 2,
                     {"a": 2, "b": 1, "c": 1}.get(w, 0))
                for w in ["a", "b", "c"])
    assert abs(total - 1.0) < 1e-12
    assert out[12]["nll"] is None and out[12]["n_bigrams"] == 0


def test_jpeg_color_420_constant_tiles_roundtrip_exact():
    """4:2:0 color: 16x16 tiles whose Y is even and whose Cb/Cr sit on
    multiples of the chroma DC step (17) from 128 quantize EXACTLY
    (constant blocks carry only DC), so the full interleaved decode must
    reproduce the YCbCr planes bit-exactly — pinned through the RGB
    round-trip with an invertible-choice color."""
    import numpy as np

    from rs_graphdb_spark.functions.multimodal import (
        decode_jpeg, encode_jpeg_color)

    # build RGB whose BT.601 transform lands on (even Y, 128±17k chroma):
    # choose YCbCr targets then invert to RGB, rounding — then recompute
    # the forward transform to get the values the encoder will see
    h, w = 32, 32
    ycc = np.zeros((h, w, 3))
    targets = [(90, 128, 128), (128, 111, 145), (166, 145, 111),
               (200, 128, 145)]
    for t, (yy, cb, cr) in enumerate(targets):
        ty, tx = divmod(t, 2)
        ycc[ty * 16:(ty + 1) * 16, tx * 16:(tx + 1) * 16] = (yy, cb, cr)
    y, cb, cr = ycc[..., 0], ycc[..., 1], ycc[..., 2]
    r = y + 1.402 * (cr - 128)
    g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
    b = y + 1.772 * (cb - 128)
    rgb = np.clip(np.round(np.stack([r, g, b], -1)), 0, 255).astype(np.uint8)

    payload = encode_jpeg_color(rgb.tobytes(), w, h, quality=50)
    dw, dh, out = decode_jpeg(payload)
    assert (dw, dh, out.shape) == (w, h, (h, w, 3))
    # the decoded RGB differs from the input only by the two rounding
    # steps (RGB->YCbCr on non-exact doubles): tolerance 2
    assert int(np.abs(out.astype(int) - rgb.astype(int)).max()) <= 2


def test_jpeg_color_444_and_dispatch():
    """4:4:4 (no subsampling) decodes through the same interleaved path;
    random smooth content stays within lossy bounds; grayscale files
    still decode 2-D (dispatch by component count)."""
    import numpy as np

    from rs_graphdb_spark.functions.multimodal import (
        decode_jpeg, encode_jpeg, encode_jpeg_color)

    rng = np.random.default_rng(7)
    h, w = 24, 17  # non-multiple of 8/16: exercises padding + crop
    base = rng.integers(60, 200, size=(3, 3, 3))
    smooth = np.clip(np.kron(base, np.ones((12, 8, 1)))[:h, :w], 0, 255)
    rgb = smooth.astype(np.uint8)
    for subsample in (True, False):
        payload = encode_jpeg_color(rgb.tobytes(), w, h, quality=90,
                                    subsample=subsample)
        dw, dh, out = decode_jpeg(payload)
        assert (dw, dh, out.shape) == (w, h, (h, w, 3))
        err = np.abs(out.astype(int) - rgb.astype(int))
        # blockwise-constant content: subsampling loses nothing material
        assert int(err.max()) <= 24 and float(err.mean()) <= 6.0, (
            subsample, int(err.max()), float(err.mean()))
    gray = encode_jpeg(bytes(range(64)) * 4, 16, 16, quality=50)
    _, _, g_out = decode_jpeg(gray)
    assert g_out.shape == (16, 16)


def test_jpeg_color_chroma_upsampling_structure():
    """A color image whose chroma flips between the left and right half
    must keep the flip boundary after 2x subsample + replication — the
    upsampled chroma is piecewise constant at 2-pixel granularity."""
    import numpy as np

    from rs_graphdb_spark.functions.multimodal import (
        decode_jpeg, encode_jpeg_color)

    h, w = 16, 32
    rgb = np.zeros((h, w, 3), np.uint8)
    rgb[:, :16] = (200, 60, 60)   # reddish
    rgb[:, 16:] = (60, 60, 200)   # blueish
    payload = encode_jpeg_color(rgb.tobytes(), w, h, quality=75)
    _, _, out = decode_jpeg(payload)
    left = out[:, :14].astype(int)
    right = out[:, 18:].astype(int)
    assert left[..., 0].mean() > left[..., 2].mean() + 50   # red side
    assert right[..., 2].mean() > right[..., 0].mean() + 50  # blue side


def test_kmeans_assign_table_matches_literal_path(spark):
    """The broadcast-centroid-matrix GEMM assignment must agree with the
    literal-folded path on well-separated clusters (ties are the only
    legitimate divergence), and semantic_dedup(assign='table') must
    reproduce the literal path's keep/dup_of decisions."""
    import numpy as np

    from rs_graphdb_spark.functions.clustering import (
        kmeans_assign, kmeans_assign_table)
    from rs_graphdb_spark.functions.similarity import semantic_dedup

    rng = np.random.default_rng(11)
    centers = np.array([[10.0, 0, 0], [0, 10.0, 0], [0, 0, 10.0]])
    rows = [
        (i, (centers[i % 3] + rng.normal(0, 0.3, 3)).tolist())
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lit = {r["vec_id"]: r["cluster"] for r in
           kmeans_assign(emb, "vec_id", "embedding", k=3, iterations=2)
           .collect()}
    tab = {r["vec_id"]: r["cluster"] for r in
           kmeans_assign_table(emb, "vec_id", "embedding", k=3, iterations=2)
           .collect()}
    assert lit == tab
    a = sorted(semantic_dedup(emb, "vec_id", "embedding", k=3, iterations=2,
                              threshold=0.98, assign="literal").collect())
    b = sorted(semantic_dedup(emb, "vec_id", "embedding", k=3, iterations=2,
                              threshold=0.98, assign="table").collect())
    assert [(r["vec_id"], r["keep"], r["dup_of"]) for r in a] == \
           [(r["vec_id"], r["keep"], r["dup_of"]) for r in b]


def test_jpeg_color_422_and_restart_interval():
    """4:2:2 sampling and DRI/RSTn in the interleaved color stream: the
    decoder must byte-align, reset all three DC predictors per restart,
    and reproduce the no-restart decode exactly (same coefficients,
    different entropy framing)."""
    import numpy as np

    from rs_graphdb_spark.functions.multimodal import (
        decode_jpeg, encode_jpeg_color)

    rng = np.random.default_rng(3)
    h, w = 32, 48
    # 16-px tiles: chroma blocks never straddle a color boundary, so the
    # error bound holds for every sampling mode (8-px tiles would be
    # legitimately averaged across edges by 4:2:0's 2x2 box filter)
    base = rng.integers(50, 210, size=(2, 3, 3))
    rgb = np.clip(np.kron(base, np.ones((16, 16, 1))), 0, 255).astype(np.uint8)

    for mode in ("420", "422", "444"):
        plain = encode_jpeg_color(rgb.tobytes(), w, h, quality=75,
                                  subsample=mode)
        with_rst = encode_jpeg_color(rgb.tobytes(), w, h, quality=75,
                                     subsample=mode, restart_interval=2)
        assert b"\xff\xdd" in with_rst            # DRI present
        assert any(bytes([0xFF, 0xD0 + i]) in with_rst for i in range(8))
        _, _, a = decode_jpeg(plain)
        dw, dh, b = decode_jpeg(with_rst)
        assert (dw, dh) == (w, h)
        assert (a == b).all(), mode               # framing-only difference
        err = np.abs(a.astype(int) - rgb.astype(int))
        assert int(err.max()) <= 26, (mode, int(err.max()))


def test_jpeg_nondivisible_sampling_ratio_decode():
    """Baseline JPEG legally allows sampling grids where hmax/hi is NOT
    an integer (e.g. Y h=3, Cb h=2 -> 3:2 upsampling). The decoder's
    replication upsample must use index arithmetic, not repeat(hmax//hi)
    (advisor r6 #4 — repeat() produced undersized planes and np.stack
    raised). Hand-assembled stream via the encoder's own primitives:
    constant blocks quantize exactly, so the chroma boundary position
    pins the 3:2 index mapping."""
    import struct

    import numpy as np

    from rs_graphdb_spark.functions import multimodal as mm

    w, h = 48, 8  # one MCU row, mcu_w = 8*3 = 24 -> 2 MCUs
    # Y constant 128 (DC exactly 0); Cb at 2/3 horizontal resolution
    # (32 samples) flips 111 -> 145 at its block 2 (multiples of 17 from
    # 128: exact at the q50 chroma DC step); Cr at 1/3 (16), constant
    y_plane = np.full((8, 48), 128.0)
    cb_plane = np.full((8, 32), 111.0)
    cb_plane[:, 16:] = 145.0
    cr_plane = np.full((8, 16), 128.0)

    qy, qc = mm._scaled_quant(50), mm._scaled_quant_c(50)
    zzy, bwy, _ = mm._plane_zz(y_plane, qy)
    zzb, bwb, _ = mm._plane_zz(cb_plane, qc)
    zzr, bwr, _ = mm._plane_zz(cr_plane, qc)
    dcy = mm._huff_codes(mm._JPEG_DC_BITS, mm._JPEG_DC_VALS)
    acy = mm._huff_codes(mm._JPEG_AC_BITS, mm._JPEG_AC_VALS)
    dcc = mm._huff_codes(mm._JPEG_DC_BITS_C, mm._JPEG_DC_VALS_C)
    acc = mm._huff_codes(mm._JPEG_AC_BITS_C, mm._JPEG_AC_VALS_C)
    out = mm._BitWriter()
    pdc = [0, 0, 0]
    for mx in range(2):  # interleaved: 3 Y + 2 Cb + 1 Cr per MCU
        for hh in range(3):
            pdc[0] = mm._write_block(out, zzy[mx * 3 + hh], pdc[0], dcy, acy)
        for hh in range(2):
            pdc[1] = mm._write_block(out, zzb[mx * 2 + hh], pdc[1], dcc, acc)
        pdc[2] = mm._write_block(out, zzr[mx], pdc[2], dcc, acc)

    app0 = b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0)
    dqt0 = bytes([0x00]) + bytes(int(v) for v in qy[mm._ZZ_ROWS, mm._ZZ_COLS])
    dqt1 = bytes([0x01]) + bytes(int(v) for v in qc[mm._ZZ_ROWS, mm._ZZ_COLS])
    sof0 = struct.pack(">BHHB", 8, h, w, 3) + bytes(
        [1, (3 << 4) | 1, 0, 2, (2 << 4) | 1, 1, 3, (1 << 4) | 1, 1]
    )
    dht = (
        mm._jpeg_segment(0xC4, bytes([0x00]) + bytes(mm._JPEG_DC_BITS)
                         + bytes(mm._JPEG_DC_VALS))
        + mm._jpeg_segment(0xC4, bytes([0x10]) + bytes(mm._JPEG_AC_BITS)
                           + bytes(mm._JPEG_AC_VALS))
        + mm._jpeg_segment(0xC4, bytes([0x01]) + bytes(mm._JPEG_DC_BITS_C)
                           + bytes(mm._JPEG_DC_VALS_C))
        + mm._jpeg_segment(0xC4, bytes([0x11]) + bytes(mm._JPEG_AC_BITS_C)
                           + bytes(mm._JPEG_AC_VALS_C))
    )
    sos = bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    payload = (
        b"\xff\xd8" + mm._jpeg_segment(0xE0, app0)
        + mm._jpeg_segment(0xDB, dqt0) + mm._jpeg_segment(0xDB, dqt1)
        + mm._jpeg_segment(0xC0, sof0) + dht
        + mm._jpeg_segment(0xDA, sos) + out.finish() + b"\xff\xd9"
    )

    dw, dh, rgb = mm.decode_jpeg(payload)
    assert (dw, dh, rgb.shape) == (w, h, (h, w, 3))
    # index-arithmetic upsample maps target x -> cb[x*2//3]: the flip at
    # cb sample 16 lands at pixel x=24 (24*2//3 = 16)
    for cb, xs in ((111.0, range(0, 24)), (145.0, range(24, 48))):
        want = np.clip(np.round([
            128.0,                       # r: cr == 128
            128.0 - 0.344136 * (cb - 128.0),
            128.0 + 1.772 * (cb - 128.0),
        ]), 0, 255).astype(int)
        got = rgb[:, list(xs)].astype(int)
        assert (np.abs(got - want[None, None, :]) <= 1).all(), (cb, got[0, 0])


def test_compression_ratio_non_long_id_types(spark):
    """Advisor r6 #2: the id column passes through mapInArrow untouched,
    so its declared type must match the input (string / int32 ids used
    to crash against the hardcoded `long`)."""
    from rs_graphdb_spark.functions.cleaning import compression_ratio
    from rs_graphdb_spark.session import local_df

    for id_val, schema in ((u"doc-7", "doc_id string, text string"),
                           (7, "doc_id int, text string")):
        df = local_df(spark, [(id_val, "spam and eggs " * 50)], schema)
        out = compression_ratio(df, "doc_id", "text").collect()
        assert len(out) == 1 and out[0]["doc_id"] == id_val
        assert out[0]["n_bytes"] == 14 * 50


def test_semantic_dedup_gemm_pair_scan_parity(spark):
    """r7 dim-probe fix: the GEMM pair scan (auto-routed above dim 64)
    must reproduce the expr path exactly on separated fixtures —
    clusters, keep flags, dup_of targets — including the zero-norm
    contract and the proportional-salting path."""
    import numpy as np

    from rs_graphdb_spark.functions.similarity import semantic_dedup
    from rs_graphdb_spark.session import local_df

    dim = 96  # > SEMDEDUP_PAIR_EXPR_DIM_MAX -> auto routes to GEMM
    rng = np.random.default_rng(11)
    rows = []
    for g in range(40):  # pairs (2g, 2g+1): odd is a perturbation
        v = rng.standard_normal(dim)
        rows.append((2 * g, [float(x) for x in v]))
        rows.append((2 * g + 1,
                     [float(x) for x in v + 0.02 * rng.standard_normal(dim)]))
    rows.append((999, [0.0] * dim))  # zero-norm: never a dup either way
    emb = local_df(spark, rows, "vec_id long, embedding array<double>")

    kw = dict(k=4, iterations=2, threshold=0.9)
    expr = {r["vec_id"]: (r["cluster"], r["keep"], r["dup_of"])
            for r in semantic_dedup(emb, "vec_id", "embedding",
                                    pair_scan="expr", **kw).collect()}
    gemm = {r["vec_id"]: (r["cluster"], r["keep"], r["dup_of"])
            for r in semantic_dedup(emb, "vec_id", "embedding",
                                    pair_scan="gemm", **kw).collect()}
    auto = {r["vec_id"]: (r["cluster"], r["keep"], r["dup_of"])
            for r in semantic_dedup(emb, "vec_id", "embedding",
                                    **kw).collect()}
    assert expr == gemm == auto
    assert sum(1 for _c, keep, _d in expr.values() if not keep) >= 30
    assert expr[999][1] is True and expr[999][2] is None


def test_mjpeg_avi_roundtrip_and_frame_isolation(spark):
    """MJPEG-in-AVI (r6 VERDICT item #4): biCompression='MJPG' routes
    each movi chunk through the baseline JPEG decoder; flat even-valued
    blocks round-trip exactly; a corrupt member isolates to None AT ITS
    INDEX instead of killing the container."""
    import numpy as np

    from rs_graphdb_spark.functions.multimodal import (
        decode_avi, encode_avi_mjpeg, encode_jpeg)

    def flat_frame(vals):
        px = np.repeat(np.repeat(
            np.array(vals, np.uint8).reshape(2, 2), 8, 0), 8, 1).tobytes()
        return encode_jpeg(px, 16, 16)

    f0, f1, f2 = flat_frame([10, 20, 30, 40]), flat_frame([50, 60, 70, 80]), \
        flat_frame([90, 100, 110, 120])
    w, h, frames = decode_avi(encode_avi_mjpeg([f0, f1, f2], 16, 16))
    assert (w, h, len(frames)) == (16, 16, 3)
    assert [int(f.astype(int).sum()) for f in frames] == [
        64 * 100, 64 * 260, 64 * 420]
    assert np.array_equal(frames[0][:8, :8], np.full((8, 8), 10))

    # corrupt member frame -> None at index 1, neighbors still decode
    _, _, fr = decode_avi(encode_avi_mjpeg(
        [f0, b"\xff\xd8JUNK", f2], 16, 16))
    assert fr[1] is None and fr[0] is not None and fr[2] is not None
    # wrong-dims member (valid JPEG, 8x8) also isolates
    tiny = encode_jpeg(bytes([4] * 64), 8, 8)
    _, _, fr2 = decode_avi(encode_avi_mjpeg([f0, tiny], 16, 16))
    assert fr2[1] is None and fr2[0] is not None


def test_mjpeg_fixture_sampling_matches_arithmetic(spark):
    """documents_as_mjpeg_videos + sample_video_frames: every sampled
    frame checksum equals the index-arithmetic prediction; whole-corrupt
    payloads give one (-1) row; frame-corrupt docs read -1 at index 2."""
    from rs_graphdb_spark.functions.multimodal import (
        documents_as_mjpeg_videos, sample_video_frames)
    from rs_graphdb_spark.session import local_df

    texts = {
        0: "abcdefghijklmnopqrstuvwxyz",   # whole-corrupt (0 % 5 == 0)
        1: "hello world! chunky text",     # 5 frames
        2: "ab",                           # short -> 1 frame, padding
        3: "x" * 40,                       # frame-corrupt (3 % 3 == 0)
        4: "MixedCase 123 text here",
    }
    df = local_df(spark, list(texts.items()), "doc_id long, text string")
    vid = documents_as_mjpeg_videos(df, corrupt_every=5,
                                    corrupt_frame_every=3)
    out = sample_video_frames(vid, every_n=2).collect()
    got = {(r["media_id"], r["frame_idx"]): r["checksum"] for r in out}

    assert got[(0, -1)] == -1  # container corrupt
    for did, text in texts.items():
        if did == 0:
            continue
        data = text.encode()
        nf = min(max(len(data) // 4, 1), 6)
        for f in range(0, nf, 2):
            want = 64 * sum(
                b - b % 2 for b in data[f * 4:(f + 1) * 4])
            if did % 3 == 0 and f == 2 and nf > 2:
                want = -1  # the isolated corrupt member
            assert got[(did, f)] == want, (did, f, got[(did, f)], want)


def test_banded_ann_arrow_codes_parity(spark):
    """knn_lsh_banded's numpy-GEMM code path (routed above
    arrow_codes_above corpus rows) must reproduce the expression path
    exactly — same buckets, same candidates, same top-k."""
    import numpy as np

    from rs_graphdb_spark.functions.similarity import knn_lsh_banded
    from rs_graphdb_spark.session import local_df

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(64)])
            for i in range(400)]
    emb = local_df(spark, rows, "vec_id long, embedding array<double>")
    qd = emb.filter("vec_id < 4")

    def run(thr):
        return sorted(
            (r["query_id"], r["neighbor_id"], round(r["cos"], 9), r["rank"])
            for r in knn_lsh_banded(emb, qd, "vec_id", "embedding", k=10,
                                    arrow_codes_above=thr).collect()
        )

    expr, arrow = run(10**9), run(0)
    assert expr == arrow and len(expr) > 0


def test_remove_duplicate_spans_cuts_higher_id_copy(spark):
    """r9: the removal pass — duplicated runs cut from the HIGHER id of
    each pair, lower id keeps its copy, untouched docs pass through,
    and a doc in two pairs loses the union of its b-side extents."""
    from rs_graphdb_spark.functions.dedup import remove_duplicate_spans
    from rs_graphdb_spark.session import local_df

    block = " ".join(f"tok{i}" for i in range(12))   # shared 12 tokens
    blk2 = " ".join(f"alt{i}" for i in range(11))
    docs = local_df(spark, [
        (1, block + " solo1 solo2"),
        (2, "lead " + block + " tail"),               # b of (1,2)
        (3, blk2 + " three3"),
        (4, "x0 x1 " + blk2 + " " + block),           # b of (1,4)+(3,4)
        (5, "independent text nothing shared here"),
    ], "doc_id long, text string")
    out = {r["doc_id"]: (r["clean_text"], r["n_removed"])
           for r in remove_duplicate_spans(
               docs, "doc_id", "text", k=10).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    # lower ids keep their text verbatim (token-joined)
    assert out[1] == (block + " solo1 solo2", 0)
    assert out[3] == (blk2 + " three3", 0)
    assert out[5][1] == 0
    # doc2 loses the block, keeps lead/tail
    assert out[2] == ("lead tail", 12)
    # doc4 is the b side of BOTH pairs: loses blk2 AND block
    assert out[4] == ("x0 x1", 23)


def test_remove_duplicate_spans_overlapping_intervals_union(spark):
    """Extents from different pairs overlapping in one doc must merge
    before cutting (no double-count, no split)."""
    from rs_graphdb_spark.functions.dedup import remove_duplicate_spans
    from rs_graphdb_spark.session import local_df

    run = [f"t{i}" for i in range(20)]                # 20-token run
    left = " ".join(run[:14])                          # tokens 0..13
    right = " ".join(run[6:])                          # tokens 6..19
    docs = local_df(spark, [
        (1, left),
        (2, right),
        (3, " ".join(run) + " end0 end1"),  # b of both, overlapping cuts
    ], "doc_id long, text string")
    out = {r["doc_id"]: (r["clean_text"], r["n_removed"])
           for r in remove_duplicate_spans(
               docs, "doc_id", "text", k=10).collect()}
    # doc3: [0,14) from pair (1,3) and [6,20) from (2,3) union to
    # [0,20) — exactly the 20-token run removed once
    assert out[3] == ("end0 end1", 20)
    assert out[1][1] == 0 and out[2][1] == 0
