"""Product quantization (IVF-PQ rung): codebooks, ADC scoring, recall."""

import math
import random

import pyspark.sql.functions as F
import pytest

from rs_graphdb_spark.session import local_df

from rs_graphdb_spark.functions.similarity import (
    knn_bruteforce,
    knn_pq_adc,
    pq_encode,
)
from rs_graphdb_spark.functions.similarity import pq_train as _pq_train_raw


#: r11 test budget (r10 VERDICT #1: the driver's pytest run timed out):
#: a dozen tests here rebuilt byte-identical codebooks from the same
#: module-scoped fixture — pq_train is deterministic by contract
#: (pinned by test_pq_train_shapes_and_determinism, which still calls
#: the RAW trainer for its second build), so identical (frame, args)
#: yield identical books and one distributed training per distinct
#: configuration serves the whole module.
#:
#: Only the module-scoped fixture frames are memoized, keyed by fixture
#: name: an ``id(df)`` key can be reused by CPython for a later frame
#: once the first is garbage-collected. The fixtures register here; the
#: dict keeps each frame alive, so the identity match below is exact.
_fixture_frames: dict = {}
_books_memo: dict = {}
_cents_memo: dict = {}


def _fixture_name(df):
    return next((n for n, f in _fixture_frames.items() if f is df), None)


def pq_train(df, id_col, vec_col, **kw):
    name = _fixture_name(df)
    if name is None:
        return _pq_train_raw(df, id_col, vec_col, **kw)
    # repr-keyed: kwargs may carry (deterministic) nested float lists
    # (residual_centroids), which are unhashable but repr-stable
    key = (name, id_col, vec_col, repr(sorted(kw.items())))
    if key not in _books_memo:
        _books_memo[key] = _pq_train_raw(df, id_col, vec_col, **kw)
    return _books_memo[key]


def _cents(df, id_col, vec_col, k, iters):
    """Module-memoized ivf_centroids over the shared fixtures (same
    budget rationale as the pq_train wrapper; Lloyd is deterministic)."""
    from rs_graphdb_spark.functions.similarity import ivf_centroids

    name = _fixture_name(df)
    if name is None:
        return ivf_centroids(df, id_col, vec_col, k, iters)
    key = (name, id_col, vec_col, k, iters)
    if key not in _cents_memo:
        _cents_memo[key] = ivf_centroids(df, id_col, vec_col, k, iters)
    return _cents_memo[key]


def _clustered_vectors(n=240, dim=32, n_clusters=12, noise=0.05):
    """Planted-cluster fixture: PQ's intended regime (real embedding
    tables are clustered; the driver's synthetic table is near-random —
    PQ's worst case — so the recall evidence lives here)."""
    rng = random.Random(7)
    centers = [[rng.gauss(0, 1) for _ in range(dim)]
               for _ in range(n_clusters)]
    rows = []
    for i in range(n):
        c = centers[i % n_clusters]
        rows.append((i, [x + rng.gauss(0, noise) for x in c]))
    return rows


@pytest.fixture(scope="module")
def clustered(spark):
    df = local_df(spark, 
        _clustered_vectors(), "vec_id long, v array<double>"
    ).cache()
    _fixture_frames["clustered"] = df
    return df


def test_pq_train_shapes_and_determinism(clustered):
    books = pq_train(clustered, "vec_id", "v", m=4, ks=8, iters=2)
    assert len(books) == 4
    assert all(len(b) == 8 for b in books)
    assert all(len(c) == 8 for b in books for c in b)  # dim 32 / m 4
    books2 = _pq_train_raw(clustered, "vec_id", "v", m=4, ks=8, iters=2)
    assert books == books2  # no randomness — reproducible builds


def test_pq_train_rejects_indivisible_dim(clustered):
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(clustered, "vec_id", "v", m=5)


def test_pq_encode_codes_and_recon_norm(clustered):
    books = pq_train(clustered, "vec_id", "v", m=4, ks=8, iters=2)
    enc = pq_encode(clustered, "vec_id", "v", books).collect()
    for r in enc:
        assert len(r["codes"]) == 4
        assert all(0 <= c < 8 for c in r["codes"])
        # recon_n2 must equal the norm² of the actual reconstruction
        recon = [w for j, c in enumerate(r["codes"]) for w in books[j][c]]
        assert r["recon_n2"] == pytest.approx(
            sum(w * w for w in recon), rel=1e-12)


def test_adc_equals_explicit_reconstruction_cosine(spark, clustered):
    # ADC lookup-table scoring must equal cosine(q, decode(codes))
    books = pq_train(clustered, "vec_id", "v", m=4, ks=8, iters=2)
    q = clustered.filter(F.col("vec_id") < 3)
    adc = {(r["query_id"], r["neighbor_id"]): r["adc_cos"]
           for r in knn_pq_adc(
               clustered, q, "vec_id", "v", books, k=5).collect()}
    vecs = {r["vec_id"]: r["v"] for r in clustered.collect()}
    codes = {r["vec_id"]: r["codes"]
             for r in pq_encode(clustered, "vec_id", "v", books).collect()}
    for (qi, ni), got in adc.items():
        qv = vecs[qi]
        recon = [w for j, c in enumerate(codes[ni]) for w in books[j][c]]
        dot = sum(a * b for a, b in zip(qv, recon))
        want = dot / (math.sqrt(sum(a * a for a in qv))
                      * math.sqrt(sum(b * b for b in recon)))
        assert got == pytest.approx(want, abs=1e-9)


def test_pq_retrieves_true_neighborhood_on_clustered_data(clustered):
    # the intended regime: on clustered data every ADC top-10 neighbor
    # should come from the query's true cluster (vec_id % 12 by
    # construction). Within a tight cluster all pairwise cosines are
    # near-identical, so top-10 SET overlap vs exact is tie-noise —
    # neighborhood membership is the meaningful PQ recall claim; the
    # exact cross-engine hit count is separately pinned by q44:pq_recall.
    books = pq_train(clustered, "vec_id", "v", m=4, ks=16, iters=3)
    q = clustered.filter(F.col("vec_id") < 8)
    pq = knn_pq_adc(clustered, q, "vec_id", "v", books, k=10).collect()
    assert len(pq) == 80
    same = sum(1 for r in pq
               if r["neighbor_id"] % 12 == r["query_id"] % 12)
    assert same / len(pq) >= 0.9, same / len(pq)
    # and the exact search agrees on the neighborhood, so PQ ≈ exact at
    # the cluster granularity
    ex = knn_bruteforce(clustered, q, "vec_id", "v", k=10).collect()
    same_ex = sum(1 for r in ex
                  if r["neighbor_id"] % 12 == r["query_id"] % 12)
    assert same_ex == len(ex)


def test_codes_df_standing_index_path(clustered):
    # scoring a persisted codes table (no raw vectors on the corpus
    # side) must give the same answers as encode-on-the-fly
    books = pq_train(clustered, "vec_id", "v", m=4, ks=8, iters=2)
    enc = pq_encode(clustered, "vec_id", "v", books).localCheckpoint()
    q = clustered.filter(F.col("vec_id") < 3)
    direct = {(r["query_id"], r["neighbor_id"], round(r["adc_cos"], 9))
              for r in knn_pq_adc(
                  clustered, q, "vec_id", "v", books, k=5).collect()}
    standing = {(r["query_id"], r["neighbor_id"], round(r["adc_cos"], 9))
                for r in knn_pq_adc(
                    clustered, q, "vec_id", "v", books, k=5,
                    codes_df=enc).collect()}
    assert direct == standing


def test_pq_bytes_reduction(clustered):
    # the headline lever: m small codes per vector vs dim doubles
    books = pq_train(clustered, "vec_id", "v", m=4, ks=8, iters=1)
    enc = pq_encode(clustered, "vec_id", "v", books)
    assert dict(enc.dtypes)["codes"] == "array<int>"
    # 32 doubles (256 B) -> 4 codes; with ks<=256 these serialize as
    # bytes in a columnar store: 64x raw reduction before overheads
    (row,) = enc.limit(1).collect()
    assert len(row["codes"]) == 4


def test_ivf_pq_full_probe_equals_pq_adc(spark, clustered):
    # n_probe == n_clusters degenerates to exactly the flat ADC search
    from rs_graphdb_spark.functions.similarity import knn_ivf_pq
    books = pq_train(clustered, "vec_id", "v", m=4, ks=8, iters=2)
    q = clustered.filter(F.col("vec_id") < 4)
    flat = {(r["query_id"], r["neighbor_id"], r["rank"])
            for r in knn_pq_adc(
                clustered, q, "vec_id", "v", books, k=5).collect()}
    full = {(r["query_id"], r["neighbor_id"], r["rank"])
            for r in knn_ivf_pq(
                clustered, q, "vec_id", "v", books, k=5,
                n_clusters=6, n_probe=6, iters=2).collect()}
    assert full == flat


def test_ivf_pq_pruned_probe_stays_in_neighborhood(spark, clustered):
    # n_probe=1 on planted clusters: every hit still lands in the true
    # cluster (the cell prune finds the right Voronoi region)
    from rs_graphdb_spark.functions.similarity import knn_ivf_pq
    books = pq_train(clustered, "vec_id", "v", m=4, ks=16, iters=2)
    q = clustered.filter(F.col("vec_id") < 6)
    rows = knn_ivf_pq(clustered, q, "vec_id", "v", books, k=10,
                      n_clusters=12, n_probe=1, iters=3).collect()
    assert rows  # pruned probe still returns candidates
    same = sum(1 for r in rows
               if r["neighbor_id"] % 12 == r["query_id"] % 12)
    assert same / len(rows) >= 0.9


# ---------------------------------------------------------------------------
# r8 VERDICT items #2/#3: GEMM engines + standing index layout
# ---------------------------------------------------------------------------


def test_encode_arrow_parity_ks16(clustered):
    """expr ≡ arrow on codes + recon_n2 at the suite's regime — same
    argmin convention (ties to lowest index), same norm table."""
    books = pq_train(clustered, "vec_id", "v", m=4, ks=8, iters=2)
    expr = {r["vec_id"]: (r["codes"], r["recon_n2"])
            for r in pq_encode(clustered, "vec_id", "v", books,
                               encode_engine="expr").collect()}
    arrow = {r["vec_id"]: (r["codes"], r["recon_n2"])
             for r in pq_encode(clustered, "vec_id", "v", books,
                                encode_engine="arrow").collect()}
    assert set(expr) == set(arrow)
    for i in expr:
        assert expr[i][0] == arrow[i][0], i
        assert arrow[i][1] == pytest.approx(expr[i][1], abs=1e-9)


def test_adc_arrow_parity_ks16(spark, clustered):
    """expr ≡ arrow ADC top-k: same neighbors, same ranks, scores to
    float tolerance (fold order differs between engines)."""
    books = pq_train(clustered, "vec_id", "v", m=4, ks=8, iters=2)
    qs = clustered.filter(F.col("vec_id") < 4)
    expr = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_cos"])
            for r in knn_pq_adc(clustered, qs, "vec_id", "v", books,
                                k=5, adc_engine="expr").collect()}
    arrow = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["adc_cos"])
             for r in knn_pq_adc(clustered, qs, "vec_id", "v", books,
                                 k=5, adc_engine="arrow").collect()}
    assert set(expr) == set(arrow) and len(expr) == 4 * 5
    for key in expr:
        assert expr[key][0] == arrow[key][0], key
        assert arrow[key][1] == pytest.approx(expr[key][1], abs=1e-9)


def test_adc_engine_routing_and_validation(spark, clustered):
    from rs_graphdb_spark.functions.similarity import (
        _PQ_ARROW_MIN_CELLS, _use_pq_arrow)
    assert not _use_pq_arrow("auto", 8, 16)        # 128 cells → expr
    assert _use_pq_arrow("auto", 8, 256)           # 2048 cells → arrow
    assert _use_pq_arrow("auto", 8, _PQ_ARROW_MIN_CELLS // 8)
    with pytest.raises(ValueError, match="engine"):
        _use_pq_arrow("numpy", 8, 16)


def test_production_ks256_adc_runs_via_arrow(spark):
    """The regime the expression plan cannot express: m=8/ks=256 LUTs
    (2048 cells). auto must route to arrow and return exact ADC top-k
    vs a numpy reference."""
    import numpy as np

    rows = _clustered_vectors(n=300, dim=64, n_clusters=20)
    df = local_df(spark, rows, "vec_id long, v array<double>")
    books = pq_train(df, "vec_id", "v", m=8, ks=256, iters=1)
    qs = df.filter(F.col("vec_id") < 3)
    got = knn_pq_adc(df, qs, "vec_id", "v", books, k=5).collect()
    assert {r["query_id"] for r in got} == {0, 1, 2}
    # numpy reference: encode + LUT scoring, identical formulas
    bk = np.asarray(books)
    m, ks, dsub = bk.shape
    v = np.asarray([r[1] for r in rows])
    codes = np.stack([
        np.argmin(((v[:, j * dsub:(j + 1) * dsub][:, None, :]
                    - bk[j][None, :, :]) ** 2).sum(axis=2), axis=1)
        for j in range(m)
    ], axis=1)
    rn = np.sqrt(np.stack([
        (bk[j][codes[:, j]] ** 2).sum(axis=1) for j in range(m)
    ], axis=1).sum(axis=1))
    for q in range(3):
        qv = v[q]
        lut = np.stack([bk[j] @ qv[j * dsub:(j + 1) * dsub]
                        for j in range(m)])
        dots = lut[np.arange(m)[:, None], codes.T].sum(axis=0)
        qn = np.sqrt((qv * qv).sum())
        sc = np.where((rn > 0) & (qn > 0), dots / (qn * rn), 0.0)
        want = sorted(
            ((i, s) for i, s in enumerate(sc) if i != q),
            key=lambda t: (-t[1], t[0]))[:5]
        mine = sorted(
            ((r["neighbor_id"], r["adc_cos"]) for r in got
             if r["query_id"] == q),
            key=lambda t: (-t[1], t[0]))
        assert [w[0] for w in want] == [g[0] for g in mine]
        for (wi, ws), (gi, gs) in zip(want, mine):
            assert gs == pytest.approx(ws, abs=1e-9)


def test_ivf_pq_arrow_full_probe_equals_flat_adc(spark, clustered):
    from rs_graphdb_spark.functions.similarity import knn_ivf_pq
    books = pq_train(clustered, "vec_id", "v", m=4, ks=8, iters=2)
    qs = clustered.filter(F.col("vec_id") < 3)
    flat = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in knn_pq_adc(clustered, qs, "vec_id", "v", books,
                                k=5, adc_engine="arrow").collect()}
    full = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in knn_ivf_pq(clustered, qs, "vec_id", "v", books,
                                k=5, n_clusters=6, n_probe=6,
                                adc_engine="arrow").collect()}
    assert flat == full


def test_standing_index_equals_direct(spark, clustered, tmp_path):
    """write_pq_index + knn_pq_indexed ≡ knn_ivf_pq on the same
    codebooks/centroids — the standing layout changes WHERE codes live,
    never a score (r8 VERDICT item #3)."""
    from rs_graphdb_spark.functions.similarity import (
        ivf_centroids, knn_ivf_pq, knn_pq_indexed, write_pq_index)
    books = pq_train(clustered, "vec_id", "v", m=4, ks=8, iters=2)
    cents = _cents(clustered, "vec_id", "v", 6, 2)
    idx = str(tmp_path / "pqidx")
    meta = write_pq_index(clustered, "vec_id", "v", idx,
                          codebooks=books, centroids=cents)
    assert meta["m"] == 4 and meta["n_clusters"] == 6
    for n_probe in (2, 6):
        direct = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                               round(r["adc_cos"], 9))
                  for r in knn_ivf_pq(
                      clustered, clustered.filter(F.col("vec_id") < 4),
                      "vec_id", "v", books, k=5, n_clusters=6,
                      n_probe=n_probe, adc_engine="expr").collect()}
        # recomputed centroids inside knn_ivf_pq must match the stored
        # ones (deterministic Lloyd) for this equality to be exact
        indexed = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                                round(r["adc_cos"], 9))
                   for r in knn_pq_indexed(
                       spark, idx, clustered.filter(F.col("vec_id") < 4),
                       "vec_id", "v", k=5, n_probe=n_probe,
                       adc_engine="expr").collect()}
        assert direct == indexed, n_probe


def test_standing_index_probe_is_partition_pruned(spark, clustered,
                                                  tmp_path):
    """The probe's cell filter must reach the parquet source as a
    PartitionFilter (the bm25/zorder precedent) — a probe scans only
    its cell= directories."""
    from rs_graphdb_spark.functions.similarity import (
        ivf_centroids, knn_pq_indexed, write_pq_index)
    books = pq_train(clustered, "vec_id", "v", m=4, ks=8, iters=2)
    cents = _cents(clustered, "vec_id", "v", 6, 2)
    idx = str(tmp_path / "pqidx2")
    write_pq_index(clustered, "vec_id", "v", idx,
                   codebooks=books, centroids=cents)
    out = knn_pq_indexed(
        spark, idx, clustered.filter(F.col("vec_id") < 2),
        "vec_id", "v", k=3, n_probe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "cell" in pf  # non-empty partition filter on the cell key


def test_standing_index_arrow_engine_same_neighbors(spark, clustered,
                                                    tmp_path):
    from rs_graphdb_spark.functions.similarity import (
        ivf_centroids, knn_pq_indexed, write_pq_index)
    books = pq_train(clustered, "vec_id", "v", m=4, ks=8, iters=2)
    cents = _cents(clustered, "vec_id", "v", 6, 2)
    idx = str(tmp_path / "pqidx3")
    write_pq_index(clustered, "vec_id", "v", idx,
                   codebooks=books, centroids=cents)
    qs = clustered.filter(F.col("vec_id") < 3)
    a = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in knn_pq_indexed(spark, idx, qs, "vec_id", "v", k=5,
                                 n_probe=3, adc_engine="expr").collect()}
    b = {(r["query_id"], r["rank"]): r["neighbor_id"]
         for r in knn_pq_indexed(spark, idx, qs, "vec_id", "v", k=5,
                                 n_probe=3, adc_engine="arrow").collect()}
    assert a == b


def test_append_pq_index_equals_full_rebuild(spark, tmp_path):
    """Append B onto an index built over A (same codebooks/centroids)
    ≡ building over A∪B directly — probes return identical results;
    old code files are byte-untouched by the append."""
    import hashlib
    import os

    from rs_graphdb_spark.functions.similarity import (
        append_pq_index, ivf_centroids, knn_pq_indexed, write_pq_index)
    rows = _clustered_vectors(n=300, dim=32, n_clusters=10)
    full = local_df(spark, rows, "vec_id long, v array<double>")
    a = full.filter(F.col("vec_id") < 200)
    b = full.filter(F.col("vec_id") >= 200)
    books = pq_train(a, "vec_id", "v", m=4, ks=8, iters=2)
    cents = ivf_centroids(a, "vec_id", "v", 6, 2)

    ref = str(tmp_path / "ref")
    write_pq_index(full, "vec_id", "v", ref,
                   codebooks=books, centroids=cents)
    inc = str(tmp_path / "inc")
    write_pq_index(a, "vec_id", "v", inc,
                   codebooks=books, centroids=cents)

    def code_md5s(p):
        out = {}
        for root, _d, files in os.walk(f"{p}/codes"):
            for f in files:
                if f.endswith(".parquet"):
                    with open(os.path.join(root, f), "rb") as fh:
                        out[os.path.join(root, f)] = hashlib.md5(
                            fh.read()).hexdigest()
        return out

    before = code_md5s(inc)
    assert append_pq_index(spark, inc, b, "vec_id", "v",
                           batch_id="b1") == "committed"
    after = code_md5s(inc)
    for f, h in before.items():  # standing files never rewritten
        assert after[f] == h
    qs = full.filter(F.col("vec_id") < 4)
    for n_probe in (2, 6):
        want = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                             round(r["adc_cos"], 9))
                for r in knn_pq_indexed(spark, ref, qs, "vec_id", "v",
                                        k=5, n_probe=n_probe).collect()}
        got = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                            round(r["adc_cos"], 9))
               for r in knn_pq_indexed(spark, inc, qs, "vec_id", "v",
                                       k=5, n_probe=n_probe).collect()}
        assert want == got, n_probe


def test_append_pq_index_idempotency_and_crash_guard(spark, tmp_path):
    import os

    from rs_graphdb_spark.functions.similarity import (
        append_pq_index, ivf_centroids, write_pq_index)
    rows = _clustered_vectors(n=120, dim=32, n_clusters=6)
    a = local_df(spark, rows[:80], "vec_id long, v array<double>")
    b = local_df(spark, rows[80:], "vec_id long, v array<double>")
    books = pq_train(a, "vec_id", "v", m=4, ks=8, iters=1)
    cents = ivf_centroids(a, "vec_id", "v", 4, 1)
    idx = str(tmp_path / "pq")
    write_pq_index(a, "vec_id", "v", idx,
                   codebooks=books, centroids=cents)
    assert append_pq_index(spark, idx, b, "vec_id", "v",
                           batch_id="x") == "committed"
    # committed retry: no double ingest
    assert append_pq_index(spark, idx, b, "vec_id", "v",
                           batch_id="x") == "skipped-duplicate"
    # stale marker: EVERY new ingest refused until rebuild/override
    os.makedirs(f"{idx}/_batches", exist_ok=True)
    open(f"{idx}/_batches/dead.pending", "w").write("dead")
    with pytest.raises(RuntimeError, match="stale pending"):
        append_pq_index(spark, idx, b, "vec_id", "v", batch_id="y")
    with pytest.raises(RuntimeError, match="stale pending"):
        append_pq_index(spark, idx, b, "vec_id", "v")
    assert append_pq_index(
        spark, idx, b.filter(F.col("vec_id") >= 115), "vec_id", "v",
        batch_id="y", allow_stale_pending=True) == "committed"


def test_adc_arrow_empty_query_set(spark, clustered):
    """Arrow ADC with zero queries returns an empty, well-typed frame
    (the kernel must not choke on an empty LUT list)."""
    books = pq_train(clustered, "vec_id", "v", m=4, ks=8, iters=1)
    qs = clustered.filter(F.col("vec_id") < 0)
    out = knn_pq_adc(clustered, qs, "vec_id", "v", books, k=5,
                     adc_engine="arrow")
    assert out.count() == 0
    assert set(out.columns) == {"query_id", "neighbor_id", "adc_cos",
                                "rank"}


# ---------------------------------------------------------------------------
# r9 advisor: null/ragged vectors, typed ids, committed-marker recovery
# ---------------------------------------------------------------------------


_DIRTY_ROWS = [
    (1, [1.0, 2.0, 3.0, 4.0]),        # clean
    (2, None),                        # null vector
    (3, [1.0, 2.0]),                  # short: sub0 encodes, sub1 null
    (4, [1.0, None, 3.0, 4.0]),       # null element: sub0 null, sub1 ok
    (5, [1.0, 2.0, 3.0, 4.0, 5.0]),   # long: truncates like F.slice
    (6, [1.0, 2.0, 3.0]),             # ragged: sub1 incomplete
    (7, []),                          # empty
]
_DIRTY_BOOKS = [[[0.0, 0.0], [1.0, 2.0]], [[3.0, 4.0], [9.0, 9.0]]]


def test_pq_encode_null_ragged_expr_arrow_parity(spark):
    """r9 advisor (medium): the arrow kernel previously crashed on a
    null/ragged vector (np.reshape) while the expr path emitted a
    null-codes row — 'auto' silently changed semantics at m·ks ≥ 512.
    Both engines must now agree per-subspace: a complete sub-slice
    still encodes, anything else yields a NULL code, and recon_n2 is
    NULL whenever any code is."""
    df = local_df(spark, _DIRTY_ROWS, "vec_id long, v array<double>")
    expr = {r["vec_id"]: (r["codes"], r["recon_n2"])
            for r in pq_encode(df, "vec_id", "v", _DIRTY_BOOKS,
                               encode_engine="expr").collect()}
    arrow = {r["vec_id"]: (r["codes"], r["recon_n2"])
             for r in pq_encode(df, "vec_id", "v", _DIRTY_BOOKS,
                                encode_engine="arrow").collect()}
    assert set(expr) == set(arrow) == {1, 2, 3, 4, 5, 6, 7}
    for i in expr:
        assert arrow[i][0] == expr[i][0], i
        if expr[i][1] is None:
            assert arrow[i][1] is None, i
        else:
            assert arrow[i][1] == pytest.approx(expr[i][1], abs=1e-12), i
    # the pinned semantics themselves (probe-derived, not just parity)
    assert expr[1] == ([1, 0], 30.0)
    assert expr[2] == ([None, None], None)
    assert expr[3] == ([1, None], None)
    assert expr[4] == ([None, 0], None)
    assert expr[5] == ([1, 0], 30.0)
    assert expr[6] == ([1, None], None)
    assert expr[7] == ([None, None], None)


def test_adc_arrow_null_vector_rows_match_expr(spark, clustered):
    """A null-vector corpus row scores 0.0 in the expr ADC (the
    when().otherwise(0.0)); the arrow kernel must agree instead of
    crashing on the null codes."""
    from pyspark.sql import functions as F2
    dirty = clustered.limit(20).unionByName(
        local_df(spark, [(999, None), (998, [1.0, None])],
                              "vec_id long, v array<double>"))
    books = pq_train(clustered, "vec_id", "v", m=4, ks=8, iters=1)
    qs = clustered.filter(F2.col("vec_id") < 2)
    expr = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                         round(r["adc_cos"], 9))
            for r in knn_pq_adc(dirty, qs, "vec_id", "v", books, k=22,
                                adc_engine="expr").collect()}
    arrow = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                          round(r["adc_cos"], 9))
             for r in knn_pq_adc(dirty, qs, "vec_id", "v", books, k=22,
                                 adc_engine="arrow").collect()}
    assert expr == arrow
    # the null rows ARE in the candidate pool at 0.0, not dropped
    assert any(n in (998, 999) and s == 0.0
               for n, s in expr.values())


def test_adc_arrow_nonlong_ids(spark, clustered):
    """r9 advisor: the arrow ADC schema was inferred as long-or-string
    from the first query id; int32/double ids crashed with an Arrow
    schema mismatch. The DDL now derives from the actual column type."""
    from pyspark.sql import functions as F2
    for t in ("int", "double", "string"):
        df = clustered.limit(40).select(
            F2.col("vec_id").cast(t).alias("vec_id"), "v")
        books = pq_train(df, "vec_id", "v", m=4, ks=8, iters=1)
        qs = df.limit(2)
        rows = knn_pq_adc(df, qs, "vec_id", "v", books, k=3,
                          adc_engine="arrow").collect()
        assert len(rows) == 6, t
        assert dict(knn_pq_adc(df, qs, "vec_id", "v", books, k=3,
                               adc_engine="arrow").dtypes)["query_id"] \
            == t, t


def test_pq_committed_pending_marker_autoclears(spark, tmp_path):
    """r9 advisor: a pending marker for a batch that IS in
    meta['batches'] (crash between meta flip and marker remove) is
    provably committed — auto-cleared, not refused."""
    import os

    from rs_graphdb_spark.functions.similarity import (
        append_pq_index, ivf_centroids, write_pq_index)
    rows = _clustered_vectors(n=120, dim=32, n_clusters=6)
    a = local_df(spark, rows[:80], "vec_id long, v array<double>")
    b = local_df(spark, rows[80:100],
                              "vec_id long, v array<double>")
    c = local_df(spark, rows[100:],
                              "vec_id long, v array<double>")
    books = pq_train(a, "vec_id", "v", m=4, ks=8, iters=1)
    cents = ivf_centroids(a, "vec_id", "v", 4, 1)
    idx = str(tmp_path / "pqauto")
    write_pq_index(a, "vec_id", "v", idx,
                   codebooks=books, centroids=cents)
    assert append_pq_index(spark, idx, b, "vec_id", "v",
                           batch_id="b1") == "committed"
    open(f"{idx}/_batches/b1.pending", "w").write("b1")
    assert append_pq_index(spark, idx, c, "vec_id", "v",
                           batch_id="b2") == "committed"
    assert not os.path.exists(f"{idx}/_batches/b1.pending")


def test_rebuild_pq_index_recovers_from_crash(spark, tmp_path):
    """r9 VERDICT item #5: crash marker → refuse → rebuild (stored
    quantizer) → ingest proceeds; rebuilt probes ≡ a clean build's
    probes exactly."""
    import os

    from rs_graphdb_spark.functions.similarity import (
        append_pq_index, ivf_centroids, knn_pq_indexed, rebuild_pq_index,
        write_pq_index)
    rows = _clustered_vectors(n=240, dim=32, n_clusters=8)
    full = local_df(spark, rows, "vec_id long, v array<double>")
    a = full.filter(F.col("vec_id") < 160)
    b = full.filter(F.col("vec_id") >= 160)
    books = pq_train(a, "vec_id", "v", m=4, ks=8, iters=2)
    cents = ivf_centroids(a, "vec_id", "v", 6, 2)
    idx = str(tmp_path / "pqreb")
    write_pq_index(a, "vec_id", "v", idx,
                   codebooks=books, centroids=cents)
    os.makedirs(f"{idx}/_batches", exist_ok=True)
    open(f"{idx}/_batches/dead.pending", "w").write("dead")
    with pytest.raises(RuntimeError, match="stale pending"):
        append_pq_index(spark, idx, b, "vec_id", "v", batch_id="x")
    meta = rebuild_pq_index(spark, idx, full, "vec_id", "v")
    assert meta.get("batches", []) == []
    assert not os.path.exists(f"{idx}/_batches/dead.pending")
    clean = str(tmp_path / "pqclean")
    write_pq_index(full, "vec_id", "v", clean,
                   codebooks=books, centroids=cents)
    qs = full.filter(F.col("vec_id") < 4)
    for n_probe in (2, 6):
        want = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                             round(r["adc_cos"], 9))
                for r in knn_pq_indexed(spark, clean, qs, "vec_id", "v",
                                        k=5, n_probe=n_probe).collect()}
        got = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                            round(r["adc_cos"], 9))
               for r in knn_pq_indexed(spark, idx, qs, "vec_id", "v",
                                       k=5, n_probe=n_probe).collect()}
        assert want == got, n_probe
    # ingest proceeds after recovery
    nxt = local_df(spark, 
        _clustered_vectors(n=250, dim=32, n_clusters=8)[240:],
        "vec_id long, v array<double>")
    assert append_pq_index(spark, idx, nxt, "vec_id", "v",
                           batch_id="y") == "committed"


# ---------------------------------------------------------------------------
# r9 VERDICT item #2: batch-mode probing — no driver-side query collect
# ---------------------------------------------------------------------------


def _standing_index(spark, tmp_path, name, n_clusters=6):
    from rs_graphdb_spark.functions.similarity import (
        ivf_centroids, write_pq_index)
    rows = _clustered_vectors(n=240, dim=32, n_clusters=8)
    corpus = local_df(spark, rows, "vec_id long, v array<double>")
    books = pq_train(corpus, "vec_id", "v", m=4, ks=8, iters=2)
    cents = ivf_centroids(corpus, "vec_id", "v", n_clusters, 2)
    idx = str(tmp_path / name)
    write_pq_index(corpus, "vec_id", "v", idx,
                   codebooks=books, centroids=cents)
    return corpus, idx


def test_batch_mode_equals_collected(spark, tmp_path):
    """knn_pq_indexed(batch_mode=True) ≡ the collected serving path —
    same neighbors, ranks, scores — on both engines and probe widths."""
    from rs_graphdb_spark.functions.similarity import knn_pq_indexed
    corpus, idx = _standing_index(spark, tmp_path, "bm")
    qs = corpus.filter(F.col("vec_id") < 6)
    for engine in ("expr", "arrow"):
        for n_probe in (2, 6):
            want = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                                 round(r["adc_cos"], 9))
                    for r in knn_pq_indexed(
                        spark, idx, qs, "vec_id", "v", k=5,
                        n_probe=n_probe, adc_engine=engine).collect()}
            got = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                                round(r["adc_cos"], 9))
                   for r in knn_pq_indexed(
                       spark, idx, qs, "vec_id", "v", k=5,
                       n_probe=n_probe, adc_engine=engine,
                       batch_mode=True).collect()}
            assert want == got, (engine, n_probe)


def test_batch_mode_never_collects_queries(spark, tmp_path, monkeypatch):
    """The batch path must build its whole plan without a driver-side
    query collect (the serving path's contract explicitly collects);
    with parquet-backed queries the executed plan also carries no
    LocalTableScan — nothing of the query set ever rode through the
    driver."""
    from pyspark.sql import DataFrame as SparkDF

    from rs_graphdb_spark.functions.similarity import knn_pq_indexed
    corpus, idx = _standing_index(spark, tmp_path, "bmnc")
    qpath = str(tmp_path / "queries.parquet")
    corpus.filter(F.col("vec_id") < 4).write.parquet(qpath)
    qs = spark.read.parquet(qpath)

    def _boom(self):
        raise AssertionError("driver-side collect in batch mode")

    monkeypatch.setattr(SparkDF, "collect", _boom)
    try:
        out = knn_pq_indexed(spark, idx, qs, "vec_id", "v", k=5,
                             n_probe=3, batch_mode=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        monkeypatch.undo()
    assert "LocalTableScan" not in plan
    assert out.count() == 4 * 5


def test_batch_mode_arrow_blocked_candidates(spark, tmp_path):
    """The cogroup kernel's candidate-axis blocking (tiny block size
    forced via a big query fan) must not change results — fold-merge of
    per-block top-(k+1) is exact."""
    from rs_graphdb_spark.functions.similarity import knn_pq_indexed
    corpus, idx = _standing_index(spark, tmp_path, "bmblk", n_clusters=2)
    # n_clusters=2 → ~120 codes per cell, larger than one top-k fold
    qs = corpus.filter(F.col("vec_id") < 8)
    a = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                      round(r["adc_cos"], 9))
         for r in knn_pq_indexed(spark, idx, qs, "vec_id", "v", k=7,
                                 n_probe=1, adc_engine="arrow",
                                 batch_mode=True).collect()}
    b = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                      round(r["adc_cos"], 9))
         for r in knn_pq_indexed(spark, idx, qs, "vec_id", "v", k=7,
                                 n_probe=1, adc_engine="expr",
                                 batch_mode=True).collect()}
    assert a == b


# ---------------------------------------------------------------------------
# r9 VERDICT item #3: residual IVF-PQ encoding
# ---------------------------------------------------------------------------


def _strong_clusters(n=200, dim=16, n_clusters=6, spread=5.0, noise=0.3):
    """Coarse-dominated fixture: cluster centers far apart relative to
    in-cluster noise — the regime where residual encoding visibly
    beats raw-vector PQ at equal bytes (the coarse quantizer explains
    most of the variance; raw codebooks waste their ks on it)."""
    rng = random.Random(11)
    centers = [[rng.gauss(0, spread) for _ in range(dim)]
               for _ in range(n_clusters)]
    return [(i, [x + rng.gauss(0, noise) for x in centers[i % n_clusters]])
            for i in range(n)]


@pytest.fixture(scope="module")
def strong(spark):
    df = local_df(spark, 
        _strong_clusters(), "vec_id long, v array<double>").cache()
    _fixture_frames["strong"] = df
    return df


def _res_setup(strong):
    from rs_graphdb_spark.functions.similarity import ivf_centroids

    cents = _cents(strong, "vec_id", "v", 6, 2)
    books = pq_train(strong, "vec_id", "v", m=4, ks=8, iters=2,
                     residual_centroids=cents)
    return cents, books


def test_residual_encode_expr_arrow_parity(spark, strong):
    """Residual pq_encode: expr ≡ arrow exactly — codes, cell, and
    recon_n2 (to 1e-9) — including null / short / ragged vectors,
    which are all-or-nothing (null cell + NULL codes array + null
    recon, both engines)."""
    cents, books = _res_setup(strong)
    rows = strong.collect()
    dirty = local_df(spark, 
        [(r["vec_id"], r["v"]) for r in rows[:50]]
        + [(900, None), (901, rows[0]["v"][:5]),
           (902, [None] + rows[1]["v"][1:]),
           (903, rows[2]["v"] + [7.0])],  # long: truncates to dim
        "vec_id long, v array<double>")
    e = pq_encode(dirty, "vec_id", "v", books, encode_engine="expr",
                  residual_centroids=cents).orderBy("vec_id").collect()
    a = pq_encode(dirty, "vec_id", "v", books, encode_engine="arrow",
                  residual_centroids=cents).orderBy("vec_id").collect()
    assert len(e) == len(a) == 54
    for re_, ra in zip(e, a):
        assert (re_["vec_id"], re_["cell"], re_["codes"]) == \
               (ra["vec_id"], ra["cell"], ra["codes"])
        if re_["recon_n2"] is None:
            assert ra["recon_n2"] is None
        else:
            assert ra["recon_n2"] == pytest.approx(re_["recon_n2"],
                                                   abs=1e-9)
    by_id = {r["vec_id"]: r for r in e}
    for bad in (900, 901, 902):
        r = by_id[bad]
        assert r["cell"] is None and r["codes"] is None \
            and r["recon_n2"] is None
    long_r = by_id[903]
    assert long_r["cell"] == by_id[2]["cell"]
    assert long_r["codes"] == by_id[2]["codes"]


def test_residual_recon_n2_is_true_norm(strong):
    """recon_n2 on the residual path = ‖c_cell + r̂‖² of the ACTUAL
    reconstruction (coarse centroid + codebook picks) — the cross
    terms are real, not the orthogonal-subspace shortcut."""
    cents, books = _res_setup(strong)
    for r in pq_encode(strong, "vec_id", "v", books,
                       residual_centroids=cents).collect():
        rec = list(cents[r["cell"]])
        dsub = len(books[0][0])
        for j, c in enumerate(r["codes"]):
            for t in range(dsub):
                rec[j * dsub + t] += books[j][c][t]
        assert r["recon_n2"] == pytest.approx(
            sum(w * w for w in rec), rel=1e-9)


def test_residual_recall_beats_raw_at_equal_bytes(spark, strong):
    """The point of the upgrade: same m·ks byte budget, planted
    clusters → residual recall@5 (vs exact cosine) strictly above the
    raw-vector path's."""
    from rs_graphdb_spark.functions.similarity import knn_ivf_pq

    cents, books_res = _res_setup(strong)
    books_raw = pq_train(strong, "vec_id", "v", m=4, ks=8, iters=2)
    qs = strong.filter(F.col("vec_id") < 20)
    exact = {}
    for r in knn_bruteforce(strong, qs, "vec_id", "v", k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(books, residual):
        got = {}
        for r in knn_ivf_pq(strong, qs, "vec_id", "v", books, k=5,
                            n_clusters=6, n_probe=6,
                            residual=residual, centroids=cents
                            ).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(len(got.get(q, set()) & e) for q, e in exact.items()
                   ) / sum(len(e) for e in exact.values())

    r_raw = recall(books_raw, False)
    r_res = recall(books_res, True)
    assert r_res > r_raw, (r_res, r_raw)
    assert r_res >= 0.4


def test_residual_ivf_pq_expr_equals_arrow(strong):
    from rs_graphdb_spark.functions.similarity import knn_ivf_pq

    cents, books = _res_setup(strong)
    qs = strong.filter(F.col("vec_id") < 6)
    for n_probe in (2, 6):
        out = {}
        for eng in ("expr", "arrow"):
            out[eng] = {
                (r["query_id"], r["rank"]): (r["neighbor_id"],
                                             round(r["adc_cos"], 9))
                for r in knn_ivf_pq(strong, qs, "vec_id", "v", books,
                                    k=5, n_clusters=6, n_probe=n_probe,
                                    adc_engine=eng, residual=True,
                                    centroids=cents).collect()}
        assert out["expr"] == out["arrow"], n_probe


def test_residual_standing_index_paths_agree(spark, tmp_path, strong):
    """write_pq_index(residual=True) → every probe path (serving expr/
    arrow, batch expr/arrow) returns the identical ranking; full probe
    equals the ad-hoc knn_ivf_pq(residual=True) on the same
    codebooks."""
    from rs_graphdb_spark.functions.similarity import (
        ivf_centroids, knn_ivf_pq, knn_pq_indexed, write_pq_index)

    cents = _cents(strong, "vec_id", "v", 6, 2)
    idx = str(tmp_path / "res_idx")
    meta = write_pq_index(strong, "vec_id", "v", idx, m=4, ks=8,
                          centroids=cents, residual=True)
    assert meta["residual"] is True
    books = meta["codebooks"]
    qs = strong.filter(F.col("vec_id") < 6)
    want = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                         round(r["adc_cos"], 9))
            for r in knn_ivf_pq(strong, qs, "vec_id", "v", books, k=5,
                                n_clusters=6, n_probe=6, residual=True,
                                centroids=cents).collect()}
    for eng in ("expr", "arrow"):
        for batch in (False, True):
            got = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                                round(r["adc_cos"], 9))
                   for r in knn_pq_indexed(
                       spark, idx, qs, "vec_id", "v", k=5, n_probe=6,
                       adc_engine=eng, batch_mode=batch).collect()}
            assert got == want, (eng, batch)
    # partial probe: serving == batch on both engines
    for eng in ("expr", "arrow"):
        serve = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                              round(r["adc_cos"], 9))
                 for r in knn_pq_indexed(
                     spark, idx, qs, "vec_id", "v", k=5, n_probe=2,
                     adc_engine=eng).collect()}
        batch = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                              round(r["adc_cos"], 9))
                 for r in knn_pq_indexed(
                     spark, idx, qs, "vec_id", "v", k=5, n_probe=2,
                     adc_engine=eng, batch_mode=True).collect()}
        assert serve == batch, eng


def test_residual_append_preserves_quantizer(spark, tmp_path, strong):
    """append_pq_index on a residual index encodes new batches as
    residuals against the STORED centroids/codebooks — write(A)+
    append(B) probes exactly like write(A∪B) with the same books."""
    from rs_graphdb_spark.functions.similarity import (
        append_pq_index, ivf_centroids, knn_pq_indexed, pq_train,
        write_pq_index)

    a = strong.filter(F.col("vec_id") < 150)
    b = strong.filter(F.col("vec_id") >= 150)
    cents = ivf_centroids(a, "vec_id", "v", 6, 2)
    books = pq_train(a, "vec_id", "v", m=4, ks=8, iters=2,
                     residual_centroids=cents)
    inc = str(tmp_path / "res_inc")
    write_pq_index(a, "vec_id", "v", inc, codebooks=books,
                   centroids=cents, residual=True)
    assert append_pq_index(spark, inc, b, "vec_id", "v",
                           batch_id="b1") == "committed"
    full = str(tmp_path / "res_full")
    write_pq_index(strong, "vec_id", "v", full, codebooks=books,
                   centroids=cents, residual=True)
    qs = strong.filter(F.col("vec_id") < 6)
    for n_probe in (2, 6):
        gi = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                           round(r["adc_cos"], 9))
              for r in knn_pq_indexed(spark, inc, qs, "vec_id", "v",
                                      k=5, n_probe=n_probe).collect()}
        gf = {(r["query_id"], r["rank"]): (r["neighbor_id"],
                                           round(r["adc_cos"], 9))
              for r in knn_pq_indexed(spark, full, qs, "vec_id", "v",
                                      k=5, n_probe=n_probe).collect()}
        assert gi == gf, n_probe
