"""Similarity search over embedding columns (`array<float>`).

Beyond-reference surface (the reference has no vector operations; its
spatial analog is the A* euclidean heuristic,
`/root/reference/src/algorithms/astar.rs:219-283`).

Two paths:

- **brute-force top-k** — exact: broadcast the (small) query set against
  the corpus, cosine via JVM-side ``zip_with``/``aggregate``, per-query
  top-k via window rank. At 100 TB the corpus side stays partitioned and
  un-shuffled; only the k winners per partition reach the final shuffle
  (TakeOrdered-style via the rank filter).
- **random-hyperplane LSH** — approximate scale path: sign-bit bucket code
  per vector, candidates restricted to the query's bucket (optionally
  multi-probe to neighboring codes), exact cosine rerank inside buckets.
  Hyperplanes are seeded-deterministic so runs are reproducible.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rs_graphdb_spark.functions.dedup import cosine, cosine_pairs_arrow


def _hyperplanes(dim: int, n_planes: int, seed: int = 0x5EED) -> list[list[float]]:
    """Deterministic gaussian hyperplanes (seeded — reproducible runs)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


#: knn_bruteforce query-side driver-collect cap (r10 VERDICT #5 /
#: ADVICE #3): the arrow engine collects the query vectors to the driver
#: and embeds them in the mapInArrow closure — fine for the contract's
#: bounded query set, a silent driver OOM + fat task closure if someone
#: feeds a corpus-sized frame. Above the cap, engine='auto' falls back
#: to the expr broadcast-join path (bit-identical results — pinned by
#: the parity pytest — and Spark-managed memory that fails loudly at its
#: own documented limits instead of OOMing the driver mid-collect);
#: an explicit engine='arrow' raises. ~10k rows of dim-64 doubles is
#: ≈5 MB of closure — the same order as a broadcast side.
KNN_BF_COLLECT_MAX = 10_000


def hyperplane_code(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit LSH bucket code: bit i = (vec · plane_i) >= 0."""
    code = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(w) for w in plane]), lambda x, y: x * y),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        code = code + F.when(dot >= 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return code


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    query_id_col: str | None = None,
    engine: str = "auto",
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k most similar corpus
    vectors (self-matches excluded). Deterministic tie-break: similarity
    desc, then neighbor id asc. The query side is broadcast/collected (the
    bounded side by contract) — the corpus never shuffles for the join.

    ``engine``: 'expr' is the original JVM ``zip_with``/``aggregate``
    form; 'arrow' scores each Arrow batch with a numpy kernel whose
    summation ORDER is the expression path's exact left-to-right fold, so
    the two engines are bit-identical (pytest-pinned) — the expr form
    evaluates the fold via interpreted lambda steps (~1 µs/element: the
    r10 bench measured 0.65 s for 10k dim-64 cosines, >100× the
    arithmetic), and only per-batch top-k candidate rows leave Python.
    'auto' = arrow while the query side fits :data:`KNN_BF_COLLECT_MAX`,
    else the expr broadcast path (identical results — the engines are
    bit-equal)."""
    qid = query_id_col or id_col
    if engine not in ("auto", "expr", "arrow"):
        raise ValueError(f"engine must be 'auto'|'expr'|'arrow', got {engine!r}")
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    if engine in ("auto", "arrow"):
        # GUARDED collect (r10 VERDICT #5): limit(cap+1) bounds driver
        # memory to cap+1 rows in the same single action — no separate
        # count() job on the hot path. Over the cap, 'auto' falls back
        # to the (bit-identical) expr broadcast path; explicit 'arrow'
        # refuses rather than silently OOMing the driver.
        q_rows = [
            (r["i"], r["v"])
            for r in queries.select(
                F.col(qid).alias("i"),
                F.col(vec_col).cast("array<double>").alias("v"))
            .limit(KNN_BF_COLLECT_MAX + 1).collect()
        ]
        if len(q_rows) > KNN_BF_COLLECT_MAX:
            if engine == "arrow":
                raise ValueError(
                    f"knn_bruteforce(engine='arrow'): query side exceeds "
                    f"KNN_BF_COLLECT_MAX={KNN_BF_COLLECT_MAX} rows — the "
                    "arrow engine collects the query set to the driver; "
                    "use engine='expr' (broadcast join) or reduce the "
                    "query set")
        else:
            cand = _knn_bf_candidates_arrow(
                corpus, id_col, vec_col, q_rows, k,
                qid_dtype=queries.schema[qid].dataType)
            return (
                cand.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "neighbor_id", "cos", "rank")
            )
    q = queries.select(F.col(qid).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("qv"), F.col("cv")).alias("cos"))
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _knn_bf_candidates_arrow(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    q_rows: list[tuple],
    k: int,
    qid_dtype,
) -> DataFrame:
    """mapInArrow exact-cosine candidate scan: per batch, per query, the
    dot/norm folds run vectorized across rows but element-by-element over
    the dimension axis — ``acc += V[:, j] * q[j]`` — which is the SAME
    IEEE-754 double operation sequence as the expression path's
    ``aggregate(zip_with(...), 0.0, (s, v) -> s + v)``, so every cos is
    bit-identical and the downstream window rank can never disagree with
    the expr engine. Only the per-batch top-k rows per query leave Python
    (global top-k ⊆ union of per-batch top-k under a total order), so
    Arrow egress is O(batches · queries · k).

    Expression-path null semantics, reproduced exactly: a corpus vector
    whose length differs from the query's, is null, or contains a null
    element gets a NULL cos (``zip_with`` pads mismatched lengths with
    nulls → the fold is null); a zero norm gives NULL (``try_divide``);
    NaN sorts FIRST on the descending rank (Spark NaN > +Inf) and nulls
    LAST, ties break by neighbor id ascending (binary/UTF-8 order for
    strings — identical to Python str order)."""
    import numpy as np
    import pyarrow as pa

    nid_pa = _pa_type(corpus.schema[id_col].dataType)
    qid_pa = _pa_type(qid_dtype)
    id_type = corpus.schema[id_col].dataType.simpleString()
    qid_type = qid_dtype.simpleString()

    # per query: (qid, qvec np | None, norm | None, dim)
    prepped = []
    for qid_val, qv in q_rows:
        if qv is None or any(x is None for x in qv):
            prepped.append((qid_val, None, None, -1))
            continue
        qnp = np.asarray(qv, dtype=np.float64)
        na2 = 0.0
        for x in qnp:
            na2 += x * x
        prepped.append((qid_val, qnp, float(np.sqrt(na2)), len(qnp)))

    def _topk_indices(key1, ids_np, idx_pool):
        """Indices of the k candidate rows by (key1 asc, id asc)."""
        if len(idx_pool) == 0:
            return idx_pool
        sub_key = key1[idx_pool]
        # rank ids once (object-safe); lexsort on (id_rank, key1)
        id_rank = np.empty(len(idx_pool), dtype=np.int64)
        id_rank[np.argsort(ids_np[idx_pool], kind="stable")] = np.arange(
            len(idx_pool))
        order = np.lexsort((id_rank, sub_key))
        return idx_pool[order[:k]]

    def _fn(batches):
        for batch in batches:
            ids = batch.column(0)
            arr = batch.column(1)
            n = len(arr)
            if n == 0 or not prepped:
                continue
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            ids_np = ids.to_numpy(zero_copy_only=False)
            offs = arr.offsets.to_numpy(zero_copy_only=False)
            avals = arr.values
            lens = np.diff(offs)
            fast = arr.null_count == 0 and avals.null_count == 0
            if fast:
                vnp = avals.to_numpy(zero_copy_only=False).astype(
                    np.float64, copy=False)
                row_ok = np.ones(n, dtype=bool)
            else:
                # element/row nulls present: per-row validity via pylist
                vecs = arr.to_pylist()
                row_ok = np.array(
                    [v is not None and all(x is not None for x in v)
                     for v in vecs], dtype=bool)
            out_q, out_n, out_c = [], [], []
            gathered: dict[int, tuple] = {}
            for qid_val, qnp, na, dq in prepped:
                key1 = np.full(n, np.inf)  # null cos sorts last
                cos = np.full(n, np.nan)
                valid = np.zeros(n, dtype=bool)
                if qnp is not None:
                    mask = row_ok & (lens == dq)
                    midx = np.flatnonzero(mask)
                    if len(midx):
                        if dq not in gathered:
                            if fast:
                                v = vnp[offs[midx][:, None]
                                        + np.arange(dq)[None, :]]
                            else:
                                v = np.asarray(
                                    [vecs[i] for i in midx],
                                    dtype=np.float64)
                            nb2 = np.zeros(len(midx))
                            for j in range(dq):
                                col = v[:, j]
                                nb2 += col * col
                            gathered[dq] = (midx, v, np.sqrt(nb2))
                        midx, v, nb = gathered[dq]
                        dot = np.zeros(len(midx))
                        for j in range(dq):
                            dot += v[:, j] * qnp[j]
                        denom = na * nb
                        c = np.where(denom != 0.0, dot / np.where(
                            denom != 0.0, denom, 1.0), np.nan)
                        ok = denom != 0.0
                        cos[midx] = c
                        valid[midx] = ok
                        key1[midx[ok]] = np.where(
                            np.isnan(c[ok]), -np.inf, -c[ok])
                # self-match exclusion
                pool = np.flatnonzero(ids_np != qid_val)
                top = _topk_indices(key1, ids_np, pool)
                for i in top:
                    out_q.append(qid_val)
                    out_n.append(ids_np[i])
                    out_c.append(float(cos[i]) if valid[i] else None)
            if out_q:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(out_q, type=qid_pa),
                     pa.array(out_n, type=nid_pa),
                     pa.array(out_c, type=pa.float64())],
                    ["query_id", "neighbor_id", "cos"],
                )

    return corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).mapInArrow(
        _fn,
        f"query_id {qid_type}, neighbor_id {id_type}, cos double",
    )


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 0x5EED,
    multi_probe: bool = False,
) -> DataFrame:
    """Approximate top-k: hyperplane-LSH bucketing then exact rerank within
    the query's bucket. With n_planes=8 the corpus splits into ≤256
    buckets, so per-query candidate work drops ~256× vs brute force; at
    100 TB, bucket the corpus table on the code at write time so the probe
    is a partition-pruned scan, not a join over everything.

    ``multi_probe=True`` additionally probes the n_planes codes at Hamming
    distance 1 from the query's code (the standard recall knob: each
    flipped bit visits the bucket just across one hyperplane) — candidate
    work rises ~(n_planes+1)× per query, recall rises accordingly, and
    the corpus side still never moves.

    Deterministic (seeded planes) — the driver oracle reproduces the
    single-probe form with the same plane literals."""
    planes = _hyperplanes(dim, n_planes, seed)
    # Corpus-side codes via the fold-left Arrow kernel (r10 VERDICT #4):
    # a single-table code IS `_banded_codes_arrow` at tables=1 —
    # identical planes (`_hyperplanes(dim, 1·n_planes, seed)`), identical
    # bit weights (1 << i), and the kernel's fold-left accumulation is
    # bit-identical to the expression fold incl. Spark's `NaN >= 0 →
    # true` and dirty-row → code-0 semantics (pinned by the banded
    # parity pytest; a knn_lsh-shape parity test pins this route too).
    # The expression form costs n_planes·dim interpreted HOF steps per
    # corpus row — the kernel is one numpy pass per Arrow batch. The
    # tiny query side keeps the expression (bit-equal, so buckets agree).
    if corpus.schema[id_col].dataType.simpleString() == "bigint":
        c = _banded_codes_arrow(
            corpus, id_col, vec_col, "neighbor_id", "cv",
            1, n_planes, dim, seed,
        ).drop("tbl")
    else:  # non-long ids: keep the schema-preserving expression form
        c = corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            hyperplane_code(F.col(vec_col), planes).alias("code"),
        )
    qcode = hyperplane_code(F.col(vec_col), planes)
    if multi_probe:
        probe_codes = F.array_distinct(
            F.array(qcode, *[
                qcode.bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(n_planes)
            ])
        )
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.explode(probe_codes).alias("code"),
        )
    else:
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            qcode.alias("code"),
        )
    scored = cosine_pairs_arrow(
        c.join(F.broadcast(q), "code")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv"),
        "qv", "cv")
    if multi_probe:  # a neighbor can collide on several probe codes
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def knn_lsh_banded(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    tables: int = 8,
    planes_per_table: int = 4,
    dim: int = 64,
    seed: int = 0x5EED,
    arrow_codes_above: int = 0,
) -> DataFrame:
    """Amplified (multi-table) approximate top-k — the production ANN
    recall shape: ``tables`` independent hash tables of
    ``planes_per_table`` sign bits each, candidates = any-table
    collision (OR-amplification), exact cosine rerank over the distinct
    candidate set. Single-probe :func:`knn_lsh` keeps per-query work
    minimal but has near-zero recall when true neighbors are only
    moderately similar (cos ≈ 0.4 collides with P ≈ 0.63^p in one
    table); OR across T tables lifts per-neighbor recall to
    1−(1−0.63^p)^T ≈ 0.75 at (T=8, p=4) — the driver pins this as an
    integer hits-vs-exact floor (q44:recall_*), so an LSH parameter
    regression fails the gate, not a probe.

    Plan: corpus codes are a scan-stage projection; the T-way explode is
    the standard LSH space-for-recall trade (T·n code rows — at 100 TB,
    write them bucketed by (tbl, code) so probes prune partitions); the
    query side broadcasts; rerank touches only distinct candidates.

    Code computation defaults to the Arrow kernel at EVERY size (r10):
    the expression form costs T·p·dim interpreted HOF ops PER ROW (HOF
    dots never codegen — measured 5.8 s for 50k rows at T=8, p=4,
    dim=64, and 2.5 s of the 4.3 s r10 q123 bench at only 2k rows); the
    ``mapInArrow`` kernel now accumulates with the expression fold's
    exact left-to-right IEEE order, so codes are bit-identical to the
    SQL twin at any size and the old ≥10k-row routing gate (plus its
    corpus.count() action) is gone. ``arrow_codes_above > 0`` keeps the
    legacy size-gated routing for the expr≡arrow parity pytest.

    The rerank also dedups multi-table collisions AFTER the kernel cos,
    so the exchange carries (id, id, cos), not the vector payloads."""
    use_arrow = (
        True if arrow_codes_above <= 0
        else corpus.count() > arrow_codes_above
    )

    if use_arrow:
        def with_codes(df: DataFrame, idname: str, vname: str) -> DataFrame:
            return _banded_codes_arrow(
                df, id_col, vec_col, idname, vname,
                tables, planes_per_table, dim, seed,
            )
    else:
        codes = banded_hyperplane_codes(
            F.col(vec_col), tables, planes_per_table, dim, seed
        )

        def with_codes(df: DataFrame, idname: str, vname: str) -> DataFrame:
            return df.select(
                F.col(id_col).alias(idname),
                F.col(vec_col).alias(vname),
                F.explode(F.array(*[
                    F.struct(F.lit(t).alias("tbl"), c.alias("code"))
                    for t, c in enumerate(codes)
                ])).alias("e"),
            ).select(idname, vname, F.col("e.tbl").alias("tbl"),
                     F.col("e.code").alias("code"))

    c = with_codes(corpus, "neighbor_id", "cv")
    q = with_codes(queries, "query_id", "qv")
    cand = (
        cosine_pairs_arrow(
            c.join(F.broadcast(q), ["tbl", "code"])
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id", "qv", "cv"),
            "qv", "cv")
        # a pair colliding in several tables scores identically — dedupe
        # AFTER the (cheap, map-side) kernel so the exchange ships
        # (id, id, cos) rows, not the two vectors (guide §2.3: shuffle
        # keys + metadata, never payloads; the duplicate scoring is at
        # most T× of a vectorized kernel, the old order shuffled ~1 KB of
        # vector per candidate row to save it)
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def _banded_codes_arrow(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    idname: str,
    vname: str,
    tables: int,
    planes_per_table: int,
    dim: int,
    seed: int,
) -> DataFrame:
    """All T banded sign codes per row via ONE numpy GEMM per Arrow batch
    (V @ planesᵀ → sign bits → per-table codes), emitted T-way exploded
    as ``(idname, vname, tbl, code)`` — the wide-plane scale path for
    :func:`knn_lsh_banded` (the expression form costs T·p·dim
    interpreted ops per row; see the dim/sf1 measurements in its
    docstring)."""
    import numpy as np
    import pyarrow as pa

    planes = np.asarray(
        _hyperplanes(dim, tables * planes_per_table, seed), dtype=np.float64
    )  # (T·p, dim)
    weights = (1 << np.arange(planes_per_table)).astype(np.int64)

    def _fn(batches):
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            vecs = batch.column(1).to_pylist()
            n = len(ids)
            # Fold-left accumulation over the dimension axis — the exact
            # IEEE-754 op order of the expression form's
            # aggregate(zip_with(...)) fold, so arrow and expr codes are
            # bit-identical and the route no longer needs a size gate to
            # protect twin parity (sign bits only disagree when the dot
            # lands within summation-order noise of 0.0).
            clean = np.array(
                [v is not None and len(v) == dim
                 and all(x is not None for x in v) for v in vecs],
                dtype=bool)
            codes = np.zeros((n, tables), dtype=np.int64)
            cidx = np.flatnonzero(clean)
            if len(cidx):
                v = np.asarray([vecs[i] for i in cidx], dtype=np.float64)
                acc = np.zeros((len(cidx), planes.shape[0]))
                for j in range(dim):
                    acc += v[:, j][:, None] * planes[None, :, j]
                # Spark NaN semantics: NaN compares greater than any
                # value, so `NaN >= 0` is TRUE there (numpy says False)
                bits = (acc >= 0.0) | np.isnan(acc)  # (nc, T·p)
                codes[cidx] = (
                    bits.reshape(len(cidx), tables, planes_per_table)
                    @ weights
                ).astype(np.int64)
            # dirty rows (null / ragged / null element): the expression
            # path's fold is NULL, `when(NULL >= 0)` falls to the
            # otherwise(0) branch for every bit — code 0 in every table.
            rep = np.repeat(np.arange(n), tables)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids[rep], type=pa.int64()),
                    pa.array([vecs[i] for i in rep],
                             type=pa.list_(pa.float64())),
                    pa.array(np.tile(np.arange(tables), n),
                             type=pa.int32()),
                    pa.array(codes.reshape(-1), type=pa.int64()),
                ],
                [idname, vname, "tbl", "code"],
            )

    return df.select(
        F.col(id_col).cast("long"),
        F.col(vec_col).cast("array<double>"),
    ).mapInArrow(
        _fn,
        f"{idname} long, {vname} array<double>, tbl int, code long",
    )


def banded_hyperplane_codes(
    vec: Column, tables: int, planes_per_table: int, dim: int, seed: int = 0x5EED
) -> list[Column]:
    """One sign-code per hash table — AND within a table (all
    ``planes_per_table`` bits must match), OR across ``tables`` (any table
    collision makes a candidate). The same amplification scheme as MinHash
    banding, for angular distance."""
    planes = _hyperplanes(dim, tables * planes_per_table, seed)
    return [
        hyperplane_code(vec, planes[t * planes_per_table:(t + 1) * planes_per_table])
        for t in range(tables)
    ]


def lsh_params_for(
    n_vectors: int,
    threshold: float = 0.95,
    target_recall: float = 0.999,
    target_bucket: int = 16,
    max_tables: int = 64,
) -> tuple[int, int]:
    """Size (tables, planes_per_table) for :func:`embedding_near_dup_lsh`
    to the CORPUS, not a constant: with p planes a table has 2^p buckets,
    so any FIXED p leaves average bucket size n/2^p growing linearly and
    candidate mass O(n²/2^p) — quadratic at scale (measured: the r5 ANN
    probe's 100k rung with the old fixed (8, 4) = 16 buckets/table built
    ~2.5G candidate pairs and OOM'd the JVM). Scaling p ≈ log2(n /
    target_bucket) pins the average bucket (and therefore candidates per
    table ≈ n·bucket/2) LINEAR in n; tables then restore recall, growing
    only ~n^0.15 for cosine thresholds near 1 (hyperplane collision
    q = (1 − acos(t)/π)^p, recall = 1 − (1−q)^T)."""
    import math

    p = max(4, math.ceil(math.log2(max(2, n_vectors) / target_bucket)))
    q = (1.0 - math.acos(threshold) / math.pi) ** p
    t = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - q)))
    # candidate mass ≈ T · n · (bucket−1)/2 — the verify-stage budget the
    # caller pays; target_bucket=16 keeps it ≈ 8·T·n rows (measured at
    # the 1M rung: bucket 61 → 855M candidates spilled 24 GB and died,
    # bucket ~15 → ~250M verifies fine)
    return min(t, max_tables), p


def embedding_near_dup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    tables: int = 8,
    planes_per_table: int = 4,
    dim: int = 64,
    seed: int = 0x5EED,
) -> DataFrame:
    """Near-dup pairs by cosine ≥ threshold, LSH-banded — the scale path
    for `dedup.embedding_near_dup_pairs`' exact all-pairs form: vectors
    are bucketed per hash table by a hyperplane sign code, candidates are
    pairs colliding in ANY table, and candidates are exact-cosine
    verified. The join key is (table, code) — bucket-local, never O(n²).
    False positives: none (exact verify). False negatives: banding misses
    only; with 8 tables × 4 planes a cos=0.9 pair is missed with
    P ≈ 2e-3, and the probability decays further as cosine → 1.

    Deterministic (seeded planes) → exactly reproducible by a SQL twin
    embedding the same plane literals.

    SIZE (tables, planes_per_table) TO THE CORPUS via
    :func:`lsh_params_for` — the defaults suit the ≤50k-vector driver
    fixtures (and stay fixed there because the oracle twin embeds these
    exact plane literals); a fixed plane count at 100× the corpus makes
    candidate generation quadratic (see lsh_params_for's docstring for
    the measured failure).

    Exact-duplicate collapse (on by default): real corpora carry many
    bit-identical embeddings (mirrored shards, re-crawls), and k copies
    of one vector put k entries into EVERY bucket — candidate work grows
    k² per buckets instead of 1. Vectors are first grouped by an exact
    content hash, LSH runs over one representative per group, and member
    pairs are expanded afterwards — candidate generation is linear in
    DISTINCT vectors; only the (inherently quadratic) emitted pair list
    scales with duplicate multiplicity. Output is pair-for-pair identical
    to the uncollapsed form (members share their representative's
    buckets, so the candidate set is unchanged)."""
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    vh = F.md5(F.array_join(F.transform("v", lambda x: x.cast("string")), ","))
    groups = (
        base.withColumn("vh", vh)
        .groupBy("vh")
        .agg(
            F.min("id").alias("id"),
            F.sort_array(F.collect_list("id")).alias("members"),
            F.first("v").alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    codes = banded_hyperplane_codes(F.col("v"), tables, planes_per_table, dim, seed)
    c = groups.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("tbl"), code.alias("code"))
                for t, code in enumerate(codes)
            ])
        ).alias("e"),
    ).select("id", "e.tbl", "e.code")
    # BUCKET-LOCAL verification: shuffle each representative's VECTOR to
    # its T buckets once (traffic = T·n·~520 B — the inherent LSH cost),
    # then score every co-bucket pair with a blockwise numpy GEMM inside
    # applyInPandas and emit ONLY pairs ≥ threshold. The earlier design
    # (emit all candidate pairs, then join vectors on for an exact-cosine
    # verify) attached a 512-byte vector to EVERY candidate pair — ~130
    # GB of shuffle at the 1M-vector probe rung (T=35, avg bucket 16 →
    # 250M candidates), which filled the disk; survivors here are
    # corpus-sized, not candidate-sized. Cosine per pair is order-
    # deterministic (fixed dimension order) so cross-table duplicates
    # carry identical values and one dropDuplicates canonicalizes.
    import numpy as np
    import pandas as pd

    thr = float(threshold)

    def _verify(pdf: "pd.DataFrame") -> "pd.DataFrame":
        k = len(pdf)
        if k < 2:
            return pd.DataFrame({"ra": [], "rb": [], "cos": []}).astype(
                {"ra": "int64", "rb": "int64", "cos": "float64"})
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        V = np.asarray(list(pdf["v"].to_numpy()[order]), dtype=np.float64)
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        ras, rbs, cs = [], [], []
        # blockwise rows: a hot bucket's k×k Gram matrix never
        # materializes whole — peak memory is block×k doubles
        block = 1024
        for s in range(0, k, block):
            e = min(s + block, k)
            G = V[s:e] @ V.T  # (block, k)
            bi, bj = np.nonzero(G >= thr)
            keep = (bi + s) < bj  # upper triangle only (ra < rb)
            ras.append(ids[bi[keep] + s])
            rbs.append(ids[bj[keep]])
            cs.append(G[bi[keep], bj[keep]])
        return pd.DataFrame({
            "ra": np.concatenate(ras), "rb": np.concatenate(rbs),
            "cos": np.concatenate(cs),
        })

    par = df.sparkSession.sparkContext.defaultParallelism
    members = c.join(
        groups.select("id", "v").hint("shuffle_hash"), "id"
    )
    survivor_pairs = (
        members.repartition(par, "tbl", "code")
        .groupBy("tbl", "code")
        .applyInPandas(_verify, "ra long, rb long, cos double")
        .dropDuplicates(["ra", "rb"])
    )
    # member-list expansion only for pairs that already passed the
    # threshold (shuffle_hash: the group frame is a localCheckpoint leaf
    # Catalyst cannot size — an AQE runtime broadcast of the 1-GB vector
    # frame blew spark.driver.maxResultSize at the probe rung)
    ga = groups.select(F.col("id").alias("ra"), F.col("members").alias("_ms_a"))
    gb = groups.select(F.col("id").alias("rb"), F.col("members").alias("_ms_b"))
    survivors = (
        survivor_pairs.join(ga.hint("shuffle_hash"), "ra")
        .join(gb.hint("shuffle_hash"), "rb")
    )
    cross = (
        survivors
        .select(F.explode("_ms_a").alias("ia"), "_ms_b", "cos")
        .select("ia", F.explode("_ms_b").alias("ib"), "cos")
    )
    within = (
        groups.filter(F.size("members") > 1)
        .withColumn("cos", cosine(F.col("v"), F.col("v")))
        .filter(F.col("cos") >= threshold)  # self-cosine ≈ 1.0; keeps the
        # uncollapsed form's semantics for any threshold > 1
        .select(F.col("members").alias("ms"), "cos")
        .select(F.posexplode("ms").alias("i", "ia"), F.col("ms"), "cos")
        .select("ia",
                F.explode(F.slice("ms", F.col("i") + 2, F.size("ms"))).alias("ib"),
                "cos")
    )
    return (
        cross.unionByName(within)
        .select(F.least("ia", "ib").alias("a"), F.greatest("ia", "ib").alias("b"),
                "cos")
        .dropDuplicates(["a", "b"])
    )


#: ivf_centroids assignment routing threshold on k·dim (ops per row of
#: the literal-expression argmin) — below it the expr path is exact-
#: twin territory; above it the broadcast-centroid GEMM wins by orders
#: of magnitude and the plan stays centroid-count-independent
_IVF_GEMM_MIN_KDIM = 2048


def ivf_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 16,
    iters: int = 3,
) -> list[list[float]]:
    """Deterministic IVF codebook: seeds = vectors of the k smallest ids,
    then a fixed number of Lloyd iterations (assignment distributed,
    centroid update is a k-row aggregate). No randomness → reproducible
    builds; at real scale persist the codebook with the table.

    Assignment routes by expression size (r9): `_nearest_centroid`
    folds k·dim literal ops per row — right at the suite's k·dim ≤
    ~10³, but interpreted-HOF-slow and plan-heavy at production PQ
    codebooks (ks=256 × dsub=128 = 32k ops/row — measured 280 s for a
    2k-row sample). At or above ``_IVF_GEMM_MIN_KDIM`` the assignment
    is `clustering._assign_gemm`'s broadcast-centroid numpy GEMM (same
    argmin, ties to lowest index)."""
    seeds = [
        list(r["v"]) for r in corpus.select(
            F.col(id_col).alias("i"), F.col(vec_col).alias("v")
        ).orderBy("i").limit(k).collect()
    ]
    cents = seeds
    par = corpus.sparkSession.sparkContext.defaultParallelism
    corpus = corpus.repartition(par, id_col)  # fan out single-split inputs
    use_gemm = seeds and k * len(seeds[0]) >= _IVF_GEMM_MIN_KDIM
    for _ in range(iters):
        if use_gemm:
            from rs_graphdb_spark.functions.clustering import _assign_gemm

            assigned = _assign_gemm(
                corpus.select(F.col(vec_col).alias("v")), "v", cents
            ).select("v", F.col("cluster").alias("c"))
        else:
            assigned = corpus.select(
                F.col(vec_col).alias("v"),
                _nearest_centroid(F.col(vec_col), cents).alias("c"),
            )
        dim = len(cents[0])
        agg = assigned.groupBy("c").agg(
            *[F.avg(F.element_at("v", i + 1)).alias(f"d{i}") for i in range(dim)],
        ).collect()
        new = {r["c"]: [r[f"d{i}"] for i in range(dim)] for r in agg}
        cents = [new.get(ci, cents[ci]) for ci in range(k)]  # keep empty clusters
    return cents


def _nearest_centroid(vec: Column, cents: list[list[float]]) -> Column:
    """Index of the nearest centroid by squared euclidean — one expression,
    JVM-side."""
    dists = F.array(*[
        F.aggregate(
            F.zip_with(vec, F.array(*[F.lit(w) for w in c]), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda s, v: s + v,
        )
        for c in cents
    ])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def quantize_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    levels: int = 256,
) -> DataFrame:
    """Per-vector min-max scalar quantization (the int8 SQ compression
    step of a production vector store): code = floor((x − mn)/span ·
    (levels−1) + 0.5), span = max − mn. Returns (id, mn, span, codes).

    A constant vector (span = 0) quantizes to all-zero codes and
    dequantizes exactly to mn. floor(x + 0.5) is used instead of
    round() — Spark HALF_UP and DuckDB half-away rounding agree on it
    by construction, so codes are cross-engine exact integers.

    Scale shape: pure scan-stage projection, zero shuffle. At dim 1024
    this takes an 8 KB array<double> row to ~1 KB of int codes + two
    doubles — the byte-reduction lever for every shuffle in the
    similarity family (LSH banding, pair scans, GEMM inputs), measured
    as the width-axis remedy in PLANS.md "Round-7 embedding-DIMENSION
    scale probe".

    The (vec, mn, span) inputs are bound ONCE through the
    single-element-``transform`` idiom — a plain expression reference
    would re-inline array_min per element (the PLANS.md landmine)."""
    vec = F.col(vec_col)
    top = F.lit(float(levels - 1))
    mn_e = F.array_min(vec)
    sp_e = F.array_max(vec) - F.array_min(vec)
    codes = F.transform(
        F.array(F.struct(vec.alias("v"), mn_e.alias("mn"), sp_e.alias("sp"))),
        lambda s: F.transform(
            s["v"],
            lambda x: F.when(s["sp"] == 0.0, F.lit(0)).otherwise(
                F.floor(((x - s["mn"]) / s["sp"]) * top + 0.5).cast("int")
            ),
        ),
    )[0]
    return df.select(
        F.col(id_col),
        mn_e.alias("mn"),
        sp_e.alias("span"),
        codes.alias("codes"),
    )


def dequantize_embeddings(
    qdf: DataFrame,
    id_col: str,
    levels: int = 256,
    vec_col: str = "v",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: x' = mn + (code/(levels−1))
    · span. Same bind-once discipline; pure projection."""
    top = F.lit(float(levels - 1))
    dq = F.transform(
        F.array(F.struct(F.col("codes").alias("c"), F.col("mn").alias("mn"),
                         F.col("span").alias("sp"))),
        lambda s: F.transform(
            s["c"], lambda c: s["mn"] + ((c / top) * s["sp"])
        ),
    )[0]
    return qdf.select(F.col(id_col), dq.alias(vec_col))


def knn_bruteforce_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    levels: int = 256,
) -> DataFrame:
    """Exact top-k over scalar-quantized vectors: quantize both sides,
    dequantize, rank by cosine — the quality-vs-bytes measurement form
    (recall@k vs the float path is the q44:sq_recall driver part). The
    corpus is quantized once at the scan; only the (broadcast) query set
    pays a second quantization."""
    cq = dequantize_embeddings(
        quantize_embeddings(corpus, id_col, vec_col, levels), id_col, levels)
    qq = dequantize_embeddings(
        quantize_embeddings(queries, id_col, vec_col, levels), id_col, levels)
    return knn_bruteforce(cq, qq, id_col, "v", k=k)


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    iters: int = 3,
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize the corpus into Voronoi
    cells, probe only the query's ``n_probe`` nearest cells, exact cosine
    rerank inside them. ``n_probe == n_clusters`` degenerates to EXACT
    brute force (the oracle-checkable configuration). At 100 TB, write the
    corpus partitioned by cell so a probe is a partition-pruned scan."""
    cents = ivf_centroids(corpus, id_col, vec_col, n_clusters, iters)
    par = corpus.sparkSession.sparkContext.defaultParallelism
    corpus = corpus.repartition(par, id_col)
    c = _with_cell(
        corpus.select(F.col(id_col).alias("neighbor_id"),
                      F.col(vec_col).alias("cv")),
        "cv", cents,
    )
    # per-query probe list: n_probe nearest centroids
    dists = F.array(*[
        F.aggregate(
            F.zip_with(F.col(vec_col), F.array(*[F.lit(w) for w in cc]),
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda s, v: s + v,
        )
        for cc in cents
    ])
    order = F.array_sort(
        F.transform(dists, lambda d, i: F.struct(d.alias("d"), i.alias("i")))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.explode(
            F.transform(F.slice(order, 1, n_probe), lambda s: s["i"].cast("int"))
        ).alias("cell"),
    )
    scored = cosine_pairs_arrow(
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "cv"),
        "qv", "cv",
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def pq_train(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    ks: int = 16,
    iters: int = 2,
    residual_centroids: list[list[float]] | None = None,
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou et al., the IVF-PQ rung
    above int8 SQ): split the vector into ``m`` contiguous sub-spaces
    and Lloyd-train an independent ``ks``-centroid codebook per
    sub-space — ``codebooks[j][c]`` is centroid ``c`` of sub-space
    ``j``. Training reuses :func:`ivf_centroids` wholesale on the
    sliced column (deterministic seeds = sub-vectors of the ks smallest
    ids), so every codebook is reproducible and oracle-checkable by the
    same unrolled-Lloyd CTE shape as q50:km_*.

    The codebook is tokenizer-grade metadata (m·ks·(dim/m) floats —
    dim·ks total, independent of corpus size); each of the m trainings
    is itself distributed. At 100 TB: train on a sample partition,
    persist the codebook with the table (the no-randomness contract
    makes retrains reproducible).

    ``residual_centroids`` (r9 VERDICT item #3 — FAISS ``IndexIVFPQ``'s
    residual encoding): train the codebooks on ``v − c_cell(v)``
    (each vector minus its assigned coarse centroid) instead of the
    raw vectors. Residuals concentrate the per-sub-space variance the
    coarse quantizer already explained away, so the same m·ks byte
    budget buys materially better recall (measured in PLANS.md).
    Rows whose vector is null/short/ragged carry no residual and are
    excluded from training (they PQ-encode to null codes anyway)."""
    if residual_centroids is not None:
        dim = len(residual_centroids[0])
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        res = _pq_residuals(corpus, id_col, vec_col, residual_centroids)
        corpus = res.filter(F.col("_rv").isNotNull()).select(
            F.col(id_col), F.col("_rv").alias(vec_col))
    else:
        dim = len(corpus.select(F.col(vec_col).alias("v")).first()["v"])
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    # FUSED multi-sub-space Lloyd (r11, guide §1.2): the m sub-space
    # trainings were m sequential ivf_centroids calls — m·(iters+1)
    # driver-synchronized jobs, each a full corpus scan (m=8, iters=3 →
    # 32 jobs; scheduler latency dominated pq_train end to end at any
    # corpus size, and the corpus was scanned m× per iteration round).
    # All m assignments run in ONE job per iteration (per-sub-space
    # branches unioned, grouped by (sub-space, cluster)), seeded by ONE
    # collect of the ks smallest-id rows sliced per sub-space (the exact
    # seed rows each sequential training collected). The per-branch
    # assignment expression, per-group avg inputs, and empty-cluster
    # keep-previous rule are the sequential form's — results are
    # bit-identical (pinned by the r11 fused≡sequential parity pytest).
    seed_rows = [
        list(r["v"]) for r in corpus.select(
            F.col(id_col).alias("i"), F.col(vec_col).alias("v")
        ).orderBy("i").limit(ks).collect()
    ]
    books = [
        [row[j * dsub:(j + 1) * dsub] for row in seed_rows]
        for j in range(m)
    ]
    par = corpus.sparkSession.sparkContext.defaultParallelism
    corpus = corpus.repartition(par, id_col)  # fan out single-split inputs
    use_gemm = bool(seed_rows) and ks * dsub >= _IVF_GEMM_MIN_KDIM
    for _ in range(iters):
        parts = []
        for j in range(m):
            sub = corpus.select(
                F.slice(F.col(vec_col), j * dsub + 1, dsub).alias("v"))
            if use_gemm:
                from rs_graphdb_spark.functions.clustering import _assign_gemm

                a = _assign_gemm(sub, "v", books[j]).select(
                    "v", F.col("cluster").alias("c"))
            else:
                a = sub.select(
                    "v", _nearest_centroid(F.col("v"), books[j]).alias("c"))
            parts.append(a.select(F.lit(j).alias("_j"), "v", "c"))
        allj = parts[0]
        for p in parts[1:]:
            allj = allj.unionByName(p)
        agg = allj.groupBy("_j", "c").agg(
            *[F.avg(F.element_at("v", i + 1)).alias(f"d{i}")
              for i in range(dsub)],
        ).collect()
        new = {(r["_j"], r["c"]): [r[f"d{i}"] for i in range(dsub)]
               for r in agg}
        books = [
            [new.get((j, ci), books[j][ci]) for ci in range(ks)]
            for j in range(m)
        ]
    return books


def _pq_n2_lit(codebooks: list[list[list[float]]]):
    """Literal m×ks table of centroid squared norms (query-independent —
    sub-space reconstructions are orthogonal, so ‖x̂‖² = Σⱼ ‖c_{j,code}‖²)."""
    return F.array(*[
        F.array(*[F.lit(float(sum(w * w for w in c))) for c in book])
        for book in codebooks
    ])


#: engine routing threshold on m·ks (the `_SEMDEDUP_GEMM_MIN_K` /
#: `arrow_codes_above` discipline): the expression forms build m·ks
#: sub-expressions per row (encode: centroid distances; ADC: LUT dots)
#: — exact and fastest at the suite's m=8/ks=16 = 128 cells, but at
#: production PQ (m=8/ks=256 = 2048 cells, dim 1024) the plan carries
#: hundreds of thousands of literals and Catalyst analysis dominates
#: (r8 VERDICT item #2). At or above this many cells, encode and ADC
#: route to numpy GEMM kernels (`_assign_gemm` precedent).
_PQ_ARROW_MIN_CELLS = 512


def _use_pq_arrow(engine: str, m: int, ks: int) -> bool:
    if engine not in ("auto", "expr", "arrow"):
        raise ValueError(
            f"engine must be 'auto'|'expr'|'arrow', got {engine!r}")
    return engine == "arrow" or (
        engine == "auto" and m * ks >= _PQ_ARROW_MIN_CELLS)


def _pq_books_np(codebooks):
    import numpy as np

    return np.asarray(codebooks, dtype=np.float64)  # (m, ks, dsub)


def _pq_codes_arrow(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
) -> DataFrame:
    """mapInArrow PQ encode (the production-`ks` path of
    :func:`pq_encode`): per batch, one numpy GEMM per sub-space gives
    all ks squared distances at once — argmin ties break to the lowest
    index, the `_nearest_centroid` convention. The codebook ships via
    closure (dim·ks floats — bounded metadata). Output schema matches
    the expression path exactly: (id, codes ARRAY<INT>, recon_n2).

    Null/ragged vectors carry the EXPRESSION path's per-subspace
    semantics (r9 advisor, pinned by probe + pytest): a sub-slice with
    exactly dsub non-null elements still encodes; any other sub-slice
    (null vector, short vector, null element) yields a NULL code; and
    ``recon_n2`` is NULL whenever any code is (the expr aggregate over
    a null). Long vectors truncate to m·dsub like ``F.slice``. The
    clean-batch fast path is untouched — dirty rows are split out per
    batch, so 'auto' routing can never turn a null-tolerant encode
    into a job-killing reshape."""
    import numpy as np
    import pyarrow as pa

    books = _pq_books_np(codebooks)
    m, ks, dsub = books.shape
    c2 = (books * books).sum(axis=2)  # (m, ks)
    width = m * dsub

    def _encode_clean(v):
        codes = np.empty((v.shape[0], m), dtype=np.int32)
        recon = np.zeros(v.shape[0], dtype=np.float64)
        for j in range(m):
            s = v[:, j * dsub:(j + 1) * dsub]          # (n, dsub)
            d2 = (
                (s * s).sum(axis=1)[:, None]
                - 2.0 * (s @ books[j].T)
                + c2[j][None, :]
            )                                           # (n, ks)
            codes[:, j] = np.argmin(d2, axis=1)
            recon += c2[j][codes[:, j]]
        return codes, recon

    def _fn(batches):
        for batch in batches:
            ids = batch.column(0)
            arr = batch.column(1)
            n = len(arr)
            if n == 0:
                continue
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            offs = arr.offsets.to_numpy(zero_copy_only=False)
            avals = arr.values
            # clean-batch fast path with NO python objects: offsets +
            # vectorized gather in, codes out as a ListArray over a
            # flat numpy buffer (the to_pylist round-trip measured ~2 s
            # per 20k×1024 batch set — more than the GEMMs themselves)
            if (arr.null_count == 0 and avals.null_count == 0
                    and bool((np.diff(offs) >= width).all())):
                vnp = avals.to_numpy(zero_copy_only=False)
                v = vnp[offs[:-1, None] + np.arange(width)[None, :]]
                codes, recon = _encode_clean(v)
                yield pa.RecordBatch.from_arrays(
                    [
                        ids,
                        pa.ListArray.from_arrays(
                            np.arange(0, (n + 1) * m, m,
                                      dtype=np.int32),
                            pa.array(codes.ravel(), type=pa.int32())),
                        pa.array(recon, type=pa.float64()),
                    ],
                    ["_pqid", "codes", "recon_n2"],
                )
                continue
            vecs = arr.to_pylist()
            clean = [
                v is not None and len(v) >= width
                and all(x is not None for x in v[:width])
                for v in vecs
            ]
            codes_out: list = [None] * n
            recon_out: list = [None] * n
            cidx = [i for i in range(n) if clean[i]]
            if cidx:
                v = np.asarray([vecs[i][:width] for i in cidx],
                               dtype=np.float64)
                codes, recon = _encode_clean(v)
                for p, i in enumerate(cidx):
                    codes_out[i] = codes[p].tolist()
                    recon_out[i] = float(recon[p])
            for i in range(n):
                if clean[i]:
                    continue
                v = vecs[i]
                row = []
                for j in range(m):
                    sub = (None if v is None
                           else v[j * dsub:(j + 1) * dsub])
                    if (sub is None or len(sub) != dsub
                            or any(x is None for x in sub)):
                        row.append(None)
                    else:
                        s = np.asarray(sub, dtype=np.float64)
                        d2 = ((books[j] - s[None, :]) ** 2).sum(axis=1)
                        row.append(int(np.argmin(d2)))
                codes_out[i] = row
                recon_out[i] = (
                    float(sum(c2[j][row[j]] for j in range(m)))
                    if all(c is not None for c in row) else None)
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(codes_out, type=pa.list_(pa.int32())),
                    pa.array(recon_out, type=pa.float64()),
                ],
                ["_pqid", "codes", "recon_n2"],
            )

    id_type = corpus.schema[id_col].dataType.simpleString()
    return corpus.select(
        F.col(id_col).alias("_pqid"),
        F.col(vec_col).cast("array<double>"),
    ).mapInArrow(
        _fn, f"_pqid {id_type}, codes array<int>, recon_n2 double"
    ).withColumnRenamed("_pqid", id_col)


def _pq_query_luts(queries: DataFrame, id_col: str, vec_col: str,
                   codebooks) -> list[tuple]:
    """Collect the query side (the BOUNDED side — it is broadcast in
    the expression path) and build each query's m×ks dot-product LUT
    with one numpy GEMM per sub-space: (query_id, lut (m, ks), ‖q‖,
    qvec) per query."""
    import numpy as np

    books = _pq_books_np(codebooks)
    m, ks, dsub = books.shape
    out = []
    for r in queries.select(F.col(id_col).alias("i"),
                            F.col(vec_col).cast("array<double>")
                            .alias("v")).collect():
        q = np.asarray(r["v"], dtype=np.float64)
        lut = np.stack([
            books[j] @ q[j * dsub:(j + 1) * dsub] for j in range(m)
        ])  # (m, ks)
        out.append((r["i"], lut, float(np.sqrt((q * q).sum())), q))
    return out


def _pa_type(dtype):
    """pyarrow type for a Spark DataType (PySpark's own converter; the
    Arrow kernels must emit exactly the declared schema — r9 advisor:
    inferring 'long vs string' from the first qid value broke every
    other id type)."""
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(dtype)


def _adc_candidates_arrow(
    codes: DataFrame,
    qluts: list[tuple],
    k: int,
    probe_cells: dict | None = None,
    qid_dtype=None,
    cents_np=None,
) -> DataFrame:
    """mapInArrow ADC scan over a (neighbor_id, codes, recon_n2[, cell])
    table: per batch, scoring one query is ONE fancy-indexing gather —
    sum over j of lut[j][codes[:, j]] — and only the per-batch
    top-(k+1) rows per query leave Python (k+1 so a self-match can
    never displace a true neighbor), so Arrow traffic is O(batches ·
    queries · k), not O(n · queries). Callers post-filter self-pairs
    and take the global window top-k. ``probe_cells`` (query_id →
    frozenset of cells) masks each query to its probed IVF cells.

    ``qid_dtype`` is the Spark DataType of the query id column — the
    output schema is derived from it (r9 advisor note; defaults to the
    neighbor_id type, the self-join case). Null/ragged codes rows
    (null vectors at encode time) score 0.0, exactly the expression
    path's ``F.when(null-cond).otherwise(0.0)``; null cells are never
    probed, matching the expr join-on-cell drop.

    ``cents_np`` (residual indexes, r9 VERDICT item #3): the coarse
    centroid matrix — each valid candidate's dot gains the
    per-(query, cell) scalar dot(q, c_cell), the additive cell term of
    residual-encoded reconstructions (cosine ADC needs no per-cell LUT
    rebuild). Requires ``probe_cells`` (cells ride the batch)."""
    import numpy as np
    import pyarrow as pa

    has_cell = probe_cells is not None
    if cents_np is not None and not has_cell:
        raise ValueError("residual ADC requires probe_cells")
    qc_by_qid = (
        {qid: np.asarray(cents_np, dtype=np.float64) @ qv
         for qid, _lut, _qn, qv in qluts}
        if cents_np is not None else None)
    nbr_dt = codes.schema["neighbor_id"].dataType
    qid_dt = qid_dtype if qid_dtype is not None else nbr_dt
    pa_nbr, pa_qid = _pa_type(nbr_dt), _pa_type(qid_dt)
    mwidth = int(qluts[0][1].shape[0]) if qluts else 0

    def _fn(batches):
        for batch in batches:
            nbr_raw = batch.column(0).to_pylist()
            n = len(nbr_raw)
            if n == 0:
                continue
            cd_raw = batch.column(1).to_pylist()
            rn_raw = batch.column(2).to_pylist()
            valid = np.array([
                c is not None and len(c) == mwidth and r is not None
                and all(x is not None for x in c)
                for c, r in zip(cd_raw, rn_raw)
            ], dtype=bool)
            nbr = np.asarray(nbr_raw)
            vsel = np.flatnonzero(valid)
            cd = (np.asarray([cd_raw[i] for i in vsel], dtype=np.int64)
                  if len(vsel) else np.empty((0, mwidth), dtype=np.int64))
            rsqrt = np.sqrt(np.maximum(np.asarray(
                [rn_raw[i] for i in vsel], dtype=np.float64), 0.0))
            valid_pos = np.cumsum(valid) - 1  # row → compacted index
            cells = (np.asarray(
                [c if c is not None else -1
                 for c in batch.column(3).to_pylist()], dtype=np.int64)
                if has_cell else None)
            jdx = np.arange(mwidth)
            out_q, out_n, out_s = [], [], []
            for qid, lut, qn, _qv in qluts:
                if has_cell:
                    mask = np.isin(cells, list(probe_cells[qid]))
                    if not mask.any():
                        continue
                    sel = np.flatnonzero(mask)
                else:
                    sel = np.arange(n)
                sc = np.zeros(len(sel), dtype=np.float64)
                mv = valid[sel]
                if mv.any() and qn > 0.0:
                    vp = valid_pos[sel[mv]]
                    dots = lut[jdx[:, None], cd[vp].T].sum(axis=0)
                    if qc_by_qid is not None:
                        dots = dots + qc_by_qid[qid][cells[sel[mv]]]
                    ok = rsqrt[vp] > 0.0
                    sc[mv] = np.where(
                        ok, dots / np.where(ok, qn * rsqrt[vp], 1.0), 0.0)
                nbrq = nbr[sel]
                top = min(k + 1, len(sc))
                order = np.lexsort((nbrq, -sc))[:top]
                out_q.extend([qid] * top)
                out_n.extend(nbrq[order].tolist())
                out_s.extend(sc[order].tolist())
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_q, type=pa_qid),
                 pa.array(out_n, type=pa_nbr),
                 pa.array(out_s, type=pa.float64())],
                ["query_id", "neighbor_id", "adc_cos"],
            )

    cols = ["neighbor_id", "codes", "recon_n2"] + (
        ["cell"] if has_cell else [])
    nbr_t = nbr_dt.simpleString()
    qid_t = qid_dt.simpleString()
    return codes.select(*cols).mapInArrow(
        _fn,
        f"query_id {qid_t}, neighbor_id {nbr_t}, adc_cos double",
    )


#: residual pq_encode's expression path folds a k·m·ks cross-term
#: literal table (dot of each coarse-centroid sub-slice with each
#: codebook centroid) — exact and oracle-friendly at suite scale, but
#: Catalyst-heavy beyond it; 'auto' routes to the arrow kernel at or
#: above this many cross-term cells even when m·ks alone is small.
_PQ_RESIDUAL_EXPR_MAX = 8192


def _pq_codes_res_arrow(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    cents: list[list[float]],
) -> DataFrame:
    """mapInArrow RESIDUAL PQ encode, FUSED: coarse-cell assignment,
    residual subtraction, per-sub-space argmin (ties → lowest index)
    and ``recon_n2`` = ‖c_cell + r̂‖² — the actual reconstruction,
    cross terms included — in ONE numpy pass over raw vectors. The
    clean-batch path never touches python objects: list offsets plus a
    vectorized gather slice each row's first ``dim`` values, and codes
    leave as a ListArray built from a flat numpy buffer (an earlier
    version materialized an intermediate residual column of
    array<double> through two python stages — that serialization cost
    ~10× the whole encode at 20k×1024). Null/short/ragged vectors
    (all-or-nothing for residual encoding) take the per-row fallback
    batch path and emit null cell/codes/recon_n2, matching the
    expression path; long vectors truncate to dim like ``F.slice``."""
    import numpy as np
    import pyarrow as pa

    books = _pq_books_np(codebooks)
    m, ks, dsub = books.shape
    dim = m * dsub
    C = np.ascontiguousarray(np.asarray(cents, dtype=np.float64))
    c2 = (C * C).sum(axis=1)
    b2 = [(books[j] * books[j]).sum(axis=1) for j in range(m)]

    def _encode(V, out_codes, out_rec):
        cl = np.argmin(c2[None, :] - 2.0 * (V @ C.T), axis=1)
        R = V - C[cl]
        rec = C[cl].copy()
        for j in range(m):
            s = R[:, j * dsub:(j + 1) * dsub]
            d2 = ((s * s).sum(axis=1)[:, None]
                  - 2.0 * (s @ books[j].T) + b2[j][None, :])
            out_codes[:, j] = np.argmin(d2, axis=1)
            rec[:, j * dsub:(j + 1) * dsub] += books[j][out_codes[:, j]]
        out_rec[:] = (rec * rec).sum(axis=1)
        return cl

    def _fn(batches):
        for batch in batches:
            ids = batch.column(0)
            arr = batch.column(1)
            n = len(arr)
            if n == 0:
                continue
            if isinstance(arr, pa.ChunkedArray):
                arr = arr.combine_chunks()
            offs = arr.offsets.to_numpy(zero_copy_only=False)
            lens = np.diff(offs)
            vals = arr.values
            clean_all = (arr.null_count == 0 and vals.null_count == 0
                         and bool((lens >= dim).all()))
            if clean_all:
                vnp = vals.to_numpy(zero_copy_only=False)
                V = vnp[offs[:-1, None] + np.arange(dim)[None, :]]
                codes = np.empty((n, m), dtype=np.int32)
                rec2 = np.empty(n, dtype=np.float64)
                cl = _encode(V, codes, rec2)
                yield pa.RecordBatch.from_arrays(
                    [
                        ids,
                        pa.array(cl.astype(np.int32)),
                        pa.ListArray.from_arrays(
                            np.arange(0, (n + 1) * m, m,
                                      dtype=np.int32),
                            pa.array(codes.ravel(), type=pa.int32())),
                        pa.array(rec2, type=pa.float64()),
                    ],
                    ["_pqid", "cell", "codes", "recon_n2"],
                )
                continue
            vecs = arr.to_pylist()
            cell_out: list = [None] * n
            codes_out: list = [None] * n
            recon_out: list = [None] * n
            cidx = [i for i in range(n)
                    if vecs[i] is not None and len(vecs[i]) >= dim
                    and not any(x is None for x in vecs[i][:dim])]
            if cidx:
                V = np.asarray([vecs[i][:dim] for i in cidx],
                               dtype=np.float64)
                codes = np.empty((len(cidx), m), dtype=np.int32)
                rec2 = np.empty(len(cidx), dtype=np.float64)
                cl = _encode(V, codes, rec2)
                for p, i in enumerate(cidx):
                    cell_out[i] = int(cl[p])
                    codes_out[i] = codes[p].tolist()
                    recon_out[i] = float(rec2[p])
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array(cell_out, type=pa.int32()),
                    pa.array(codes_out, type=pa.list_(pa.int32())),
                    pa.array(recon_out, type=pa.float64()),
                ],
                ["_pqid", "cell", "codes", "recon_n2"],
            )

    id_type = corpus.schema[id_col].dataType.simpleString()
    return corpus.select(
        F.col(id_col).alias("_pqid"),
        F.col(vec_col).cast("array<double>"),
    ).mapInArrow(
        _fn,
        f"_pqid {id_type}, cell int, codes array<int>, recon_n2 double",
    ).withColumnRenamed("_pqid", id_col)


def pq_encode(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    encode_engine: str = "auto",
    residual_centroids: list[list[float]] | None = None,
) -> DataFrame:
    """PQ-encode: (id, codes ARRAY<INT> length m, recon_n2). Each code
    is the argmin-distance centroid of its sub-space (ties → lowest
    index, the :func:`ivf_centroids` convention); ``recon_n2`` = ‖x̂‖²
    of the reconstruction, precomputed from the code-norm table so ADC
    scoring never touches the codebook per pair.

    Bytes: m small ints (+1 double) per vector — at m=8/ks=256 that is
    8 bytes against dim·8 for the raw array<double> (512 B at dim 64,
    8 KB at dim 1024): the 32×-plus width lever for every
    similarity-family shuffle, one rung past int8 SQ's 8×. Pure
    scan-stage projection, zero shuffle; codes referenced ONCE via the
    single-element-transform idiom (the PLANS.md re-inline landmine —
    each code is a ks-way argmin expression).

    ``encode_engine`` routes the argmin (r8 VERDICT item #2): ``expr``
    below ``_PQ_ARROW_MIN_CELLS`` = m·ks cells (pure codegen, the
    oracle-twinned path), the :func:`_pq_codes_arrow` numpy GEMM at or
    above it — production m=8/ks=256 encodes in one batched GEMM per
    sub-space instead of a 2048-expression plan.

    ``residual_centroids`` (r9 VERDICT item #3): encode the RESIDUAL
    ``v − c_cell(v)`` against codebooks trained with the same centroids
    (:func:`pq_train`), and return an extra ``cell`` column — the
    output is the complete IVF-PQ row. ``recon_n2`` becomes
    ‖c_cell + r̂‖² (coarse norm + 2·cross-terms + residual-recon norm;
    the sub-space-orthogonality shortcut only covers the last term).
    ADC scoring then needs one extra per-(query, probed-cell) scalar
    dot(q, c_cell) — for cosine/dot the cell contribution separates
    ADDITIVELY (dot(q, c+r̂) = dot(q,c) + Σⱼ LUT[j][codeⱼ]), so unlike
    L2-convention FAISS no per-cell LUT rebuild is needed. Null/short/
    ragged vectors are all-or-nothing here: null cell + null codes
    (no per-sub-space salvage without a cell). 'auto' also routes to
    the arrow kernel when the k·m·ks cross-term table would exceed
    ``_PQ_RESIDUAL_EXPR_MAX`` literals."""
    if residual_centroids is not None:
        m = len(codebooks)
        ks = len(codebooks[0])
        dsub = len(codebooks[0][0])
        if len(residual_centroids[0]) != m * dsub:
            raise ValueError(
                f"centroid dim {len(residual_centroids[0])} != "
                f"m*dsub {m * dsub}")
        kc = len(residual_centroids)
        if (_use_pq_arrow(encode_engine, m, ks)
                or (encode_engine == "auto"
                    and kc * m * ks >= _PQ_RESIDUAL_EXPR_MAX)):
            return _pq_codes_res_arrow(corpus, id_col, vec_col,
                                       codebooks, residual_centroids)
        res = _pq_residuals(corpus, id_col, vec_col, residual_centroids)
        import numpy as np

        bk = _pq_books_np(codebooks)
        C = np.asarray(residual_centroids, dtype=np.float64)
        n2 = _pq_n2_lit(codebooks)
        cn2_lit = F.array(*[
            F.lit(float((c * c).sum())) for c in C])
        # cross[cell][j][code] = dot(c_cell sub-slice j, book_j[code])
        cross_lit = F.array(*[
            F.array(*[
                F.array(*[
                    F.lit(float(
                        C[ci, j * dsub:(j + 1) * dsub] @ bk[j][co]))
                    for co in range(ks)
                ])
                for j in range(m)
            ])
            for ci in range(kc)
        ])
        codes = F.when(
            F.col("_rv").isNotNull(),
            F.array(*[
                _nearest_centroid(
                    F.slice(F.col("_rv"), j * dsub + 1, dsub),
                    codebooks[j])
                for j in range(m)
            ]),
        ).otherwise(F.lit(None).cast("array<int>"))
        # bind cell AND codes once (re-inline landmine)
        row = F.transform(
            F.array(F.struct(F.col("cell").alias("cl"),
                             codes.alias("cd"))),
            lambda s: F.struct(
                s["cd"].alias("codes"),
                (
                    F.element_at(cn2_lit, s["cl"] + 1)
                    + F.aggregate(
                        F.sequence(F.lit(0), F.lit(m - 1)),
                        F.lit(0.0),
                        lambda acc, j: acc
                        + 2.0 * F.element_at(
                            F.element_at(
                                F.element_at(cross_lit, s["cl"] + 1),
                                j + 1),
                            F.element_at(s["cd"], j + 1) + 1)
                        + F.element_at(
                            F.element_at(n2, j + 1),
                            F.element_at(s["cd"], j + 1) + 1),
                    )
                ).alias("recon_n2"),
            ),
        )[0]
        return res.select(
            F.col(id_col), F.col("cell"), row.alias("_r")
        ).select(id_col, "cell", F.col("_r.codes").alias("codes"),
                 F.col("_r.recon_n2").alias("recon_n2"))
    if _use_pq_arrow(encode_engine, len(codebooks), len(codebooks[0])):
        return _pq_codes_arrow(corpus, id_col, vec_col, codebooks)
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    n2 = _pq_n2_lit(codebooks)
    codes = F.array(*[
        _nearest_centroid(
            F.slice(F.col(vec_col), j * dsub + 1, dsub), codebooks[j])
        for j in range(m)
    ])
    row = F.transform(
        F.array(codes),
        lambda cd: F.struct(
            cd.alias("codes"),
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0.0),
                lambda acc, j: acc + F.element_at(
                    F.element_at(n2, j + 1),
                    F.element_at(cd, j + 1) + 1),
            ).alias("recon_n2"),
        ),
    )[0]
    return corpus.select(
        F.col(id_col), row.alias("_r")
    ).select(id_col, F.col("_r.codes").alias("codes"),
             F.col("_r.recon_n2").alias("recon_n2"))


def knn_pq_adc(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]],
    k: int = 10,
    codes_df: DataFrame | None = None,
    adc_engine: str = "auto",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query build the
    m×ks lookup table of sub-space dot products ONCE (query side only —
    m·ks dots of dim/m each), then score every corpus vector from its
    codes alone: dot(q, x̂) = Σⱼ LUT[j][codeⱼ] — O(m) per candidate, the
    PQ speed shape (dim/m fewer flops than brute force, on top of the
    32× byte cut). Approximate cosine = that dot / (‖q‖·‖x̂‖), with
    ‖x̂‖ precomputed at encode time.

    Plan: queries (with LUT columns) broadcast; the corpus-side codes
    table never shuffles. Pass ``codes_df`` (a persisted
    :func:`pq_encode` output) to score a standing index without
    touching raw vectors — compose with :func:`knn_ivf`'s cell
    partitioning for the full IVF-PQ layout (cell = partition key,
    codes columnar: a probe is a partition-pruned scan of m-byte
    codes). ``adc_engine`` (r8 VERDICT item #2): the expression LUT is
    exact and right-sized for the suite's m·ks = 128; at or above
    ``_PQ_ARROW_MIN_CELLS`` cells (production m=8/ks=256 = 2048) the
    scan routes to :func:`_adc_candidates_arrow` — per-query LUTs built
    by one numpy GEMM per sub-space, scoring one fancy-indexed gather
    per batch, only per-batch top-(k+1) rows leaving Python
    (expr≡arrow parity pytest-pinned at ks=16)."""
    m = len(codebooks)
    if _use_pq_arrow(adc_engine, m, len(codebooks[0])):
        c = codes_df if codes_df is not None else pq_encode(
            corpus, id_col, vec_col, codebooks)
        c = c.select(F.col(id_col).alias("neighbor_id"),
                     "codes", "recon_n2")
        qluts = _pq_query_luts(queries, id_col, vec_col, codebooks)
        cand = _adc_candidates_arrow(
            c, qluts, k, qid_dtype=queries.schema[id_col].dataType,
        ).filter(F.col("query_id") != F.col("neighbor_id"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("adc_cos").desc(), F.col("neighbor_id"))
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "adc_cos", "rank")
        )
    dsub = len(codebooks[0][0])
    qv = F.col(vec_col)
    lut = F.array(*[
        F.array(*[
            F.aggregate(
                F.zip_with(
                    F.slice(qv, j * dsub + 1, dsub),
                    F.array(*[F.lit(float(w)) for w in codebooks[j][c]]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0), lambda s, v: s + v,
            )
            for c in range(len(codebooks[j]))
        ])
        for j in range(m)
    ])
    qn = F.sqrt(F.aggregate(
        F.zip_with(qv, qv, lambda x, y: x * y),
        F.lit(0.0), lambda s, v: s + v,
    ))
    q = queries.select(
        F.col(id_col).alias("query_id"), lut.alias("lut"), qn.alias("qn"))
    c = codes_df if codes_df is not None else pq_encode(
        corpus, id_col, vec_col, codebooks)
    c = c.select(F.col(id_col).alias("neighbor_id"), "codes", "recon_n2")
    dot = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc + F.element_at(
            F.element_at(F.col("lut"), j + 1),
            F.element_at(F.col("codes"), j + 1) + 1),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.when(
                (F.col("recon_n2") > 0.0) & (F.col("qn") > 0.0),
                dot / (F.col("qn") * F.sqrt(F.col("recon_n2"))),
            ).otherwise(F.lit(0.0)).alias("adc_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_cos", "rank")
    )


def knn_ivf_pq(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[list[float]]] | None,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    iters: int = 3,
    adc_engine: str = "auto",
    residual: bool = False,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """The full IVF-PQ layout (Jégou et al.): coarse Voronoi cells for
    candidate PRUNING (:func:`knn_ivf`'s machinery) + PQ codes for
    candidate SCORING (:func:`knn_pq_adc`'s ADC) — the two levers
    compose multiplicatively: a probe touches n_probe/n_clusters of the
    corpus, and each touched row costs O(m) lookups over m-byte codes
    instead of O(dim) flops over dim·8 bytes.

    ``n_probe == n_clusters`` degenerates to exactly
    :func:`knn_pq_adc` (pytest-pinned). At 100 TB: write the codes
    table partitioned by ``cell`` (the :func:`pq_encode` output plus
    this cell column) so a probe is a partition-pruned scan of m-byte
    codes — raw vectors never leave the encode job. ``adc_engine``
    routes the scoring like :func:`knn_pq_adc`; on the arrow path the
    probe list per query is computed driver-side from the same
    centroid table (queries are the bounded collected side either
    way) — :func:`write_pq_index` + :func:`knn_pq_indexed` make this
    layout STANDING (r8 VERDICT item #3).

    ``residual=True`` (r9 VERDICT item #3, the FAISS ``IndexIVFPQ``
    recipe): codes quantize ``v − c_cell(v)`` instead of the raw
    vector — same byte budget, materially better recall (PLANS.md) —
    and ADC gains the additive per-(query, probed-cell) scalar
    dot(q, c_cell). ``codebooks=None`` trains them here (residual
    codebooks need the centroids first); ``centroids`` reuses a
    precomputed coarse table."""
    cents = (centroids if centroids is not None
             else ivf_centroids(corpus, id_col, vec_col, n_clusters,
                                iters))
    if codebooks is None:
        codebooks = pq_train(
            corpus, id_col, vec_col,
            residual_centroids=cents if residual else None)
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    if residual:
        c = pq_encode(
            corpus, id_col, vec_col, codebooks,
            encode_engine=adc_engine, residual_centroids=cents,
        ).select(F.col(id_col).alias("neighbor_id"),
                 "codes", "recon_n2", "cell")
    else:
        enc = pq_encode(corpus, id_col, vec_col, codebooks,
                        encode_engine=adc_engine)
        cell = _with_cell(corpus.select(id_col, vec_col), vec_col,
                          cents).select(id_col, "cell")
        c = enc.join(cell, id_col).select(
            F.col(id_col).alias("neighbor_id"),
            "codes", "recon_n2", "cell")
    if _use_pq_arrow(adc_engine, m, len(codebooks[0])):
        qluts = _pq_query_luts(queries, id_col, vec_col, codebooks)
        probes = {qid: _probe_cells_np(qvec, cents, n_probe)
                  for qid, _lut, _qn, qvec in qluts}
        all_cells = sorted({p for s in probes.values() for p in s})
        cand = _adc_candidates_arrow(
            c.filter(F.col("cell").isin(all_cells)), qluts, k,
            probe_cells=probes,
            qid_dtype=queries.schema[id_col].dataType,
            cents_np=cents if residual else None,
        ).filter(F.col("query_id") != F.col("neighbor_id"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("adc_cos").desc(), F.col("neighbor_id"))
        return (
            cand.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "adc_cos", "rank")
        )
    qv = F.col(vec_col)
    dists = F.array(*[
        F.aggregate(
            F.zip_with(qv, F.array(*[F.lit(w) for w in cc]),
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda s, v: s + v,
        )
        for cc in cents
    ])
    order = F.array_sort(
        F.transform(dists, lambda d, i: F.struct(d.alias("d"), i.alias("i")))
    )
    lut = F.array(*[
        F.array(*[
            F.aggregate(
                F.zip_with(
                    F.slice(qv, j * dsub + 1, dsub),
                    F.array(*[F.lit(float(w)) for w in codebooks[j][c_]]),
                    lambda x, y: x * y,
                ),
                F.lit(0.0), lambda s, v: s + v,
            )
            for c_ in range(len(codebooks[j]))
        ])
        for j in range(m)
    ])
    qn = F.sqrt(F.aggregate(
        F.zip_with(qv, qv, lambda x, y: x * y),
        F.lit(0.0), lambda s, v: s + v,
    ))
    q = queries.select(
        F.col(id_col).alias("query_id"), lut.alias("lut"), qn.alias("qn"),
        F.col(vec_col).cast("array<double>").alias("_qv"),
        F.explode(
            F.transform(F.slice(order, 1, n_probe),
                        lambda s: s["i"].cast("int"))
        ).alias("cell"),
    )
    if residual:
        # additive cell term: dot(q, c_cell) per (query, probed cell)
        lit_cents = F.array(*[
            F.array(*[F.lit(float(w)) for w in cc]) for cc in cents])
        q = q.withColumn(
            "qc",
            F.aggregate(
                F.zip_with(F.col("_qv"),
                           F.element_at(lit_cents, F.col("cell") + 1),
                           lambda x, y: x * y),
                F.lit(0.0), lambda s, v: s + v,
            ))
    q = q.drop("_qv")
    dot = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc + F.element_at(
            F.element_at(F.col("lut"), j + 1),
            F.element_at(F.col("codes"), j + 1) + 1),
    )
    num = (F.col("qc") + dot) if residual else dot
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.when(
                (F.col("recon_n2") > 0.0) & (F.col("qn") > 0.0),
                num / (F.col("qn") * F.sqrt(F.col("recon_n2"))),
            ).otherwise(F.lit(0.0)).alias("adc_cos"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_cos", "rank")
    )


#: above this k, semantic_dedup switches from literal-folded centroids to
#: the broadcast-centroid-matrix GEMM assignment (Catalyst plan size caps
#: the literal path around 10³ centroids; the paper's regime is k ∝ N)
SEMDEDUP_LITERAL_K_MAX = 256


#: expression pair scan above this vector width routes to the GEMM form
#: (r7 dim-probe: at dim 1024 the pair join shipped two 8 KB vectors per
#: candidate pair and evaluated cosine in interpreted HOF expressions —
#: the within-cluster scan was shuffle-WIDTH-bound, 7× wall for 4× dim)
SEMDEDUP_PAIR_EXPR_DIM_MAX = 64


def _with_cell(df: DataFrame, vec_col: str, cents) -> DataFrame:
    """Append the coarse-cell column: `_nearest_centroid` literal
    expression below `_IVF_GEMM_MIN_KDIM` = k·dim (the oracle-twinned
    path), `clustering._assign_gemm`'s broadcast-centroid numpy GEMM at
    or above it — production IVF uses 4k-65k coarse cells, where the
    literal plan is both Catalyst-heavy and interpreted-HOF-slow."""
    if cents and len(cents) * len(cents[0]) >= _IVF_GEMM_MIN_KDIM:
        from rs_graphdb_spark.functions.clustering import _assign_gemm

        return _assign_gemm(df, vec_col, cents).withColumnRenamed(
            "cluster", "cell")
    return df.withColumn("cell", _nearest_centroid(F.col(vec_col), cents))


def _pq_residuals(df: DataFrame, id_col: str, vec_col: str,
                  cents) -> DataFrame:
    """(id, cell, _rv) rows for residual PQ (r9 VERDICT item #3):
    ``cell`` = nearest coarse centroid over the vector's first ``dim``
    elements (`_nearest_centroid` tie convention), ``_rv`` = that slice
    minus the centroid. Residual encoding is all-or-nothing — without a
    cell there is no residual — so a null/short/ragged vector yields
    NULL cell and NULL _rv (downstream: null codes + null recon_n2,
    never probed). Long vectors truncate to dim like ``F.slice``.
    Routes expr/GEMM on k·dim like :func:`_with_cell`; the kernel
    assigns and subtracts in one blocked GEMM pass."""
    dim = len(cents[0])
    if cents and len(cents) * dim >= _IVF_GEMM_MIN_KDIM:
        import numpy as np
        import pandas as pd

        C = np.ascontiguousarray(np.asarray(cents, dtype=np.float64))
        c2 = (C * C).sum(axis=1)
        id_t = df.schema[id_col].dataType.simpleString()

        def _fn(batches):
            for pdf in batches:
                vecs = pdf[vec_col].tolist()
                n = len(vecs)
                if n == 0:
                    continue
                ok = np.array([
                    v is not None and len(v) >= dim
                    and not any(x is None for x in v[:dim])
                    for v in vecs], dtype=bool)
                cell: list = [None] * n
                rv: list = [None] * n
                if ok.any():
                    vsel = np.flatnonzero(ok)
                    V = np.asarray([vecs[i][:dim] for i in vsel],
                                   dtype=np.float64)
                    cl = np.argmin(c2[None, :] - 2.0 * (V @ C.T),
                                   axis=1)
                    R = V - C[cl]
                    for p, i in enumerate(vsel):
                        cell[i] = int(cl[p])
                        rv[i] = R[p].tolist()
                yield pd.DataFrame({id_col: pdf[id_col], "cell": cell,
                                    "_rv": rv})

        return df.select(
            id_col, F.col(vec_col).cast("array<double>").alias(vec_col)
        ).mapInPandas(_fn, f"{id_col} {id_t}, cell int,"
                           " _rv array<double>")
    sl = F.slice(F.col(vec_col).cast("array<double>"), 1, dim)
    valid = (F.col(vec_col).isNotNull()
             & (F.size(vec_col) >= dim)
             & F.forall(sl, lambda x: x.isNotNull()))
    lit_cents = F.array(*[
        F.array(*[F.lit(float(w)) for w in c]) for c in cents])
    cell = F.when(valid, _nearest_centroid(sl, cents)).otherwise(
        F.lit(None).cast("int"))
    # bind cell ONCE (re-inline landmine): it indexes lit_cents AND is
    # a projected column
    row = F.transform(
        F.array(cell),
        lambda cl: F.struct(
            cl.alias("cell"),
            F.zip_with(sl, F.element_at(lit_cents, cl + 1),
                       lambda x, y: x - y).alias("_rv"),
        ),
    )[0]
    return df.select(F.col(id_col), row.alias("_r")).select(
        id_col, F.col("_r.cell").alias("cell"),
        F.col("_r._rv").alias("_rv"))


def _with_probe_cells(df: DataFrame, vec_col: str, cents,
                      n_probe: int) -> DataFrame:
    """DISTRIBUTED probe-cell assignment (r9 VERDICT item #2 — the
    n_probe generalization of :func:`_with_cell`): explode each row
    into its ``n_probe`` nearest coarse cells, never collecting the
    query side. Below ``_IVF_GEMM_MIN_KDIM`` = k·dim the ranking is the
    expression (d, i) struct-sort (ties → lowest index, exactly the
    expr IVF path); at or above it, a mapInPandas kernel GEMMs each
    row block against the broadcast centroid matrix and takes a stable
    argsort prefix (same tie convention). Null/ragged vectors emit no
    probe rows on either path (the expr sort is null, the kernel
    filters them)."""
    kc = len(cents)
    n_probe = min(n_probe, kc)
    if cents and kc * len(cents[0]) >= _IVF_GEMM_MIN_KDIM:
        import numpy as np

        C = np.ascontiguousarray(np.asarray(cents, dtype=np.float64))
        c2 = (C * C).sum(axis=1)
        dim = C.shape[1]
        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema.fields
        ) + ", cell int"

        def _fn(batches):
            for pdf in batches:
                ok = pdf[vec_col].map(
                    lambda v: v is not None and len(v) == dim
                    and not any(x is None for x in v))
                pdf = pdf[ok]
                if len(pdf) == 0:
                    continue
                vecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
                d2 = c2[None, :] - 2.0 * (vecs @ C.T)  # +‖v‖² is const
                order = np.argsort(d2, axis=1,
                                   kind="stable")[:, :n_probe]
                rep = pdf.loc[pdf.index.repeat(n_probe)].copy()
                rep["cell"] = order.reshape(-1).astype("int32")
                yield rep

        return df.mapInPandas(_fn, out_schema)
    qv = F.col(vec_col)
    dists = F.array(*[
        F.aggregate(
            F.zip_with(qv, F.array(*[F.lit(float(w)) for w in cc]),
                       lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda s, v: s + v,
        )
        for cc in cents
    ])
    order = F.array_sort(
        F.transform(dists,
                    lambda d, i: F.struct(d.alias("d"), i.alias("i"))))
    return df.withColumn(
        "cell",
        F.explode(F.transform(F.slice(order, 1, n_probe),
                              lambda s: s["i"].cast("int"))))


def _pq_batch_adc_cogrouped(
    qcells: DataFrame,
    codes: DataFrame,
    books,
    k: int,
    cents=None,
) -> DataFrame:
    """Per-cell cogrouped ADC for BATCH-mode probing: queries and codes
    each shuffle ONCE on ``cell``; inside a cell, all probing queries
    build their LUTs with one GEMM per sub-space and score every code
    row by fancy-indexed gather — (query, candidate) pair rows never
    materialize, and only per-(query, cell) top-(k+1) rows leave Python
    (a query probing p cells yields ≤ p·(k+1) candidates; its global
    top-k is within its per-cell top-(k+1) sets). Score semantics match
    :func:`_adc_candidates_arrow` exactly, null-codes rows scoring 0.0
    included. The candidate axis is blocked so the per-group score
    matrix stays ~32 MB regardless of cell size. ``cents`` (residual
    indexes): every query×candidate dot in the group gains
    dot(q, c_cell) — one GEMV per group, since a cogroup IS one
    cell."""
    import numpy as np
    import pandas as pd

    bk = _pq_books_np(books)
    m, ks, dsub = bk.shape
    C = (np.asarray(cents, dtype=np.float64)
         if cents is not None else None)
    qt = qcells.schema["query_id"].dataType.simpleString()
    nt = codes.schema["neighbor_id"].dataType.simpleString()

    def _fn(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"query_id": pd.Series(dtype=object),
             "neighbor_id": pd.Series(dtype=object),
             "adc_cos": pd.Series(dtype=float)})
        if len(left) == 0 or len(right) == 0:
            return empty
        Q = np.array(left["_qv"].tolist(), dtype=np.float64)
        qn = np.sqrt((Q * Q).sum(axis=1))
        qc = (Q @ C[int(left["cell"].iloc[0])]
              if C is not None else None)
        luts = np.stack(
            [Q[:, j * dsub:(j + 1) * dsub] @ bk[j].T for j in range(m)],
            axis=1)                                   # (q, m, ks)
        nq = len(left)
        cd_raw = right["codes"].tolist()
        rn_raw = right["recon_n2"].tolist()
        nbr_all = right["neighbor_id"].to_numpy()
        valid = np.array([
            c is not None and len(c) == m and r is not None
            and not pd.isna(r) and not any(
                x is None or (isinstance(x, float) and np.isnan(x))
                for x in c)
            for c, r in zip(cd_raw, rn_raw)], dtype=bool)
        vsel = np.flatnonzero(valid)
        cd = (np.asarray([cd_raw[i] for i in vsel], dtype=np.int64)
              if len(vsel) else np.empty((0, m), dtype=np.int64))
        rsq = np.sqrt(np.maximum(np.asarray(
            [rn_raw[i] for i in vsel], dtype=np.float64), 0.0))
        nbr_v = nbr_all[vsel]
        nbr_i = nbr_all[~valid]
        topn = k + 1
        bn = max(256, (1 << 22) // max(1, nq))  # ~32 MB score blocks
        run_s = [np.empty(0, dtype=np.float64) for _ in range(nq)]
        run_n = [np.empty(0, dtype=object) for _ in range(nq)]

        def _fold(qi, sc, nb):
            s = np.concatenate([run_s[qi], sc])
            b = np.concatenate([run_n[qi], nb])
            keep = np.lexsort((b, -s))[:topn]
            run_s[qi], run_n[qi] = s[keep], b[keep]

        for s0 in range(0, len(cd), bn):
            cdb, rqb = cd[s0:s0 + bn], rsq[s0:s0 + bn]
            nbb = nbr_v[s0:s0 + bn]
            S = np.zeros((nq, len(cdb)), dtype=np.float64)
            for j in range(m):
                S += luts[:, j, :][:, cdb[:, j]]
            if qc is not None:
                S += qc[:, None]
            ok = (rqb[None, :] > 0.0) & (qn[:, None] > 0.0)
            S = np.where(ok, S / np.where(ok, qn[:, None] * rqb[None, :],
                                          1.0), 0.0)
            nbbo = nbb.astype(object)
            for qi in range(nq):
                _fold(qi, S[qi], nbbo)
        if len(nbr_i):  # null-codes rows: 0.0 like the expr path
            zs = np.zeros(min(topn, len(nbr_i)))
            nb = np.sort(nbr_i)[:topn].astype(object)
            for qi in range(nq):
                _fold(qi, zs, nb)
        qids = left["query_id"].to_numpy()
        out_q, out_n, out_s = [], [], []
        for qi in range(nq):
            out_q.extend([qids[qi]] * len(run_s[qi]))
            out_n.extend(run_n[qi].tolist())
            out_s.extend(run_s[qi].tolist())
        if not out_q:
            return empty
        return pd.DataFrame(
            {"query_id": out_q, "neighbor_id": out_n, "adc_cos": out_s})

    return qcells.groupby("cell").cogroup(codes.groupby("cell")) \
        .applyInPandas(
            _fn, f"query_id {qt}, neighbor_id {nt}, adc_cos double")


def _probe_cells_np(qvec, cents, n_probe: int) -> frozenset:
    """Driver-side probe list: the n_probe nearest coarse centroids by
    squared euclidean, ties to the lowest index — the same (d, i)
    struct-sort order as the expression path."""
    import numpy as np

    q = np.asarray(qvec, dtype=np.float64)
    cm = np.asarray(cents, dtype=np.float64)
    d = ((cm - q[None, :]) ** 2).sum(axis=1)
    order = sorted(range(len(cents)), key=lambda i: (d[i], i))
    return frozenset(order[:n_probe])


def write_pq_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    m: int = 8,
    ks: int = 16,
    n_clusters: int = 16,
    iters: int = 2,
    codebooks: list[list[list[float]]] | None = None,
    centroids: list[list[float]] | None = None,
    residual: bool = False,
) -> dict:
    """Materialize the STANDING IVF-PQ layout (r8 VERDICT item #3 —
    :func:`knn_ivf_pq` recomputes cells+codes per call; a standing
    index pays encode once): the codes table (id, codes, recon_n2)
    written as parquet PARTITIONED BY the coarse ``cell``, plus an
    atomic ``_meta.json`` carrying the codebooks + coarse centroids
    (dim·ks + n_clusters·dim floats — bounded metadata, the
    `write_bm25_index` discipline: staged tmp + ``os.replace`` commit).

    A probe then reads ONLY its ``cell=`` directories (PartitionFilters
    — plan-asserted in tests) of m-byte codes; raw vectors never leave
    this job. ``residual=True`` (r9 VERDICT item #3): codes quantize
    ``v − c_cell(v)`` (codebooks trained on residuals when trained
    here), recorded in the meta so every probe path adds the
    per-(query, cell) dot term automatically. Returns the meta dict."""
    import json
    import os

    if centroids is None:
        centroids = ivf_centroids(corpus, id_col, vec_col, n_clusters,
                                  iters)
    if codebooks is None:
        codebooks = pq_train(
            corpus, id_col, vec_col, m=m, ks=ks, iters=iters,
            residual_centroids=centroids if residual else None)
    os.makedirs(path, exist_ok=True)
    if residual:
        rows = pq_encode(corpus, id_col, vec_col, codebooks,
                         residual_centroids=centroids)
    else:
        enc = pq_encode(corpus, id_col, vec_col, codebooks)
        cell = _with_cell(corpus.select(id_col, vec_col), vec_col,
                          centroids).select(id_col, "cell")
        rows = enc.join(cell, id_col)
    (
        rows.repartition("cell")
        .write.partitionBy("cell").mode("overwrite")
        .parquet(os.path.join(path, "codes"))
    )
    meta = {
        "id_col": id_col,
        "m": len(codebooks),
        "ks": len(codebooks[0]),
        "dsub": len(codebooks[0][0]),
        "n_clusters": len(centroids),
        "residual": bool(residual),
        "codebooks": [[[float(w) for w in c] for c in b]
                      for b in codebooks],
        "centroids": [[float(w) for w in c] for c in centroids],
    }
    tmp = os.path.join(path, "_meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, "_meta.json"))
    return meta


def load_pq_index_meta(path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, "_meta.json")) as f:
        return json.load(f)


def append_pq_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str,
    vec_col: str,
    batch_id: str | None = None,
    allow_stale_pending: bool = False,
) -> str:
    """Incremental ingest into a standing :func:`write_pq_index` layout
    (the `append_bm25_index` / dedup_ingest_sink shape — a production
    embedding table GROWS; re-encoding the corpus per batch defeats the
    standing index): the new batch is encoded with the STORED codebooks
    and assigned to cells with the STORED centroids (so scores for old
    vectors never change and the index stays one consistent quantizer),
    then APPENDED into the same ``cell=`` partition dirs — existing
    code files are never touched. Per-batch cost is O(batch).

    Idempotency/crash contract mirrors ``append_bm25_index``: committed
    batch_ids live in ``_meta.json["batches"]`` (a retry returns
    ``"skipped-duplicate"``); a ``_batches/*.pending`` marker without a
    commit means a crashed append may have left partial code files, so
    EVERY new ingest refuses until the index is rebuilt
    (``write_pq_index`` from the source table — codes are derivable
    state) or the caller passes ``allow_stale_pending=True``. The meta
    flip is the commit point. Single-writer contract."""
    import json
    import os
    import uuid

    meta = load_pq_index_meta(path)
    if batch_id is None:
        batch_id = uuid.uuid4().hex
    if batch_id in meta.get("batches", []):
        return "skipped-duplicate"
    bdir = os.path.join(path, "_batches")
    os.makedirs(bdir, exist_ok=True)
    committed = set(meta.get("batches", []))
    stale = []
    for p in sorted(os.listdir(bdir)):
        if not p.endswith(".pending"):
            continue
        if p[:-len(".pending")] in committed:
            # provably committed: meta flip landed, only the marker
            # cleanup was lost (crash between os.replace and os.remove
            # — r9 advisor note). Clear instead of refusing forever.
            os.remove(os.path.join(bdir, p))
        else:
            stale.append(p)
    if stale and not allow_stale_pending:
        raise RuntimeError(
            f"stale pending marker(s) {stale} in {bdir}: a previous "
            "ingest crashed mid-append and the codes table may hold "
            "partial files. Rebuild with write_pq_index from the "
            "source table, then re-ingest; or pass "
            "allow_stale_pending=True if the crash is known to predate "
            "the codes append.")
    pending = os.path.join(bdir, f"{batch_id}.pending")
    with open(pending, "w") as f:
        f.write(batch_id)
    books = meta["codebooks"]
    if meta.get("residual"):
        rows = pq_encode(new_vectors, id_col, vec_col, books,
                         residual_centroids=meta["centroids"])
    else:
        enc = pq_encode(new_vectors, id_col, vec_col, books)
        cell = _with_cell(new_vectors.select(id_col, vec_col), vec_col,
                          meta["centroids"]).select(id_col, "cell")
        rows = enc.join(cell, id_col)
    (
        rows
        .withColumnRenamed(id_col, meta["id_col"])
        .repartition("cell")
        .write.partitionBy("cell").mode("append")
        .parquet(os.path.join(path, "codes"))
    )
    meta.setdefault("batches", []).append(batch_id)
    tmp = os.path.join(path, "_meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(path, "_meta.json"))
    os.remove(pending)  # after the commit point — the batch is durable
    return "committed"


def rebuild_pq_index(
    spark,
    path: str,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
) -> dict:
    """Recovery path for a stale-pending standing index (r9 VERDICT
    item #5): re-encode the source corpus with the STORED codebooks and
    coarse centroids (one consistent quantizer — every surviving
    vector's code and score is bit-identical to the pre-crash index) in
    a STAGED sibling directory, then atomically swap it into place,
    clearing all pending markers. ``batches`` resets — a rebuild is a
    new ingest epoch, so ``corpus`` must be the full source of truth
    including any batch whose crash triggered the rebuild.

    The swap is two directory renames; a crash between them leaves the
    complete staged tree beside the path (resumable by re-running).
    Returns the fresh meta."""
    import os
    import shutil
    import uuid

    meta = load_pq_index_meta(path)
    staged = path.rstrip("/") + f"._rebuild-{uuid.uuid4().hex[:8]}"
    write_pq_index(corpus, id_col, vec_col, staged,
                   codebooks=meta["codebooks"],
                   centroids=meta["centroids"],
                   residual=bool(meta.get("residual")))
    retired = path.rstrip("/") + "._retired"
    shutil.rmtree(retired, ignore_errors=True)
    os.replace(path, retired)
    os.replace(staged, path)
    shutil.rmtree(retired, ignore_errors=True)
    return load_pq_index_meta(path)


def _knn_pq_batch(
    meta: dict,
    codes: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    n_probe: int,
    adc_engine: str,
) -> DataFrame:
    """Batch-mode scoring body of :func:`knn_pq_indexed` — no
    driver-side query collect anywhere: probe cells via
    :func:`_with_probe_cells`, then either the cogrouped ADC kernel
    (arrow) or the LUT expressions joined on ``cell`` (expr). Residual
    indexes add the per-(query, cell) dot term on both engines."""
    books = meta["codebooks"]
    cents = meta["centroids"]
    res = bool(meta.get("residual"))
    m, dsub = meta["m"], meta["dsub"]
    c = codes.select(
        F.col(meta["id_col"]).alias("neighbor_id"),
        "codes", "recon_n2", "cell")
    qbase = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("_qv"))
    qc = _with_probe_cells(qbase, "_qv", cents, n_probe)
    if _use_pq_arrow(adc_engine, m, meta["ks"]):
        scored = _pq_batch_adc_cogrouped(
            qc, c, books, k, cents=cents if res else None,
        ).filter(F.col("query_id") != F.col("neighbor_id"))
    else:
        qv = F.col("_qv")
        lut = F.array(*[
            F.array(*[
                F.aggregate(
                    F.zip_with(
                        F.slice(qv, j * dsub + 1, dsub),
                        F.array(*[F.lit(float(w)) for w in books[j][ci]]),
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0), lambda s, v: s + v,
                )
                for ci in range(len(books[j]))
            ])
            for j in range(m)
        ])
        qn = F.sqrt(F.aggregate(
            F.zip_with(qv, qv, lambda x, y: x * y),
            F.lit(0.0), lambda s, v: s + v,
        ))
        extra = []
        if res:
            lit_cents = F.array(*[
                F.array(*[F.lit(float(w)) for w in cc])
                for cc in cents])
            extra = [F.aggregate(
                F.zip_with(F.col("_qv"),
                           F.element_at(lit_cents, F.col("cell") + 1),
                           lambda x, y: x * y),
                F.lit(0.0), lambda s, v: s + v,
            ).alias("qc")]
        q = qc.select("query_id", lut.alias("lut"), qn.alias("qn"),
                      "cell", *extra)
        dot = F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, j: acc + F.element_at(
                F.element_at(F.col("lut"), j + 1),
                F.element_at(F.col("codes"), j + 1) + 1),
        )
        num = (F.col("qc") + dot) if res else dot
        scored = (
            c.join(q.hint("shuffle_hash"), "cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id", "neighbor_id",
                F.when(
                    (F.col("recon_n2") > 0.0) & (F.col("qn") > 0.0),
                    num / (F.col("qn") * F.sqrt(F.col("recon_n2"))),
                ).otherwise(F.lit(0.0)).alias("adc_cos"),
            )
            .dropDuplicates(["query_id", "neighbor_id"])
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_cos", "rank")
    )


def knn_pq_indexed(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    n_probe: int = 4,
    adc_engine: str = "auto",
    batch_mode: bool = False,
) -> DataFrame:
    """Probe a standing :func:`write_pq_index` layout: per query pick
    the ``n_probe`` nearest coarse cells (driver-side — the centroid
    table is index metadata), scan ONLY those ``cell=`` partitions
    (``cell IN (...)`` reaches the parquet source as a
    PartitionFilter), ADC-score the codes, exact window top-k.
    Full probe (``n_probe == n_clusters``) equals :func:`knn_pq_adc`
    on the same codebooks exactly (pytest-pinned). Engine routing as
    :func:`knn_pq_adc`.

    ``batch_mode=True`` (r9 VERDICT item #2) is the CORPUS-SIZED query
    path — an index-join dedup or embedding-table self-join where
    collecting the query vectors driver-side (the serving contract
    above) would OOM the driver: probe cells are assigned DISTRIBUTED
    (:func:`_with_probe_cells` — expr struct-sort below k·dim =
    ``_IVF_GEMM_MIN_KDIM``, blocked GEMM kernel above), and scoring
    joins queries to codes on ``cell``. Results equal the collected
    path exactly (pytest-pinned; probe-cell near-ties under float
    rounding are the only theoretical divergence). On the arrow engine
    the join IS :func:`_pq_batch_adc_cogrouped` — one shuffle per side,
    pair rows never materialized, O(q·n_probe·k) kernel egress; the
    expr engine keeps the oracle-twinned LUT expressions, evaluated per
    probe row. The whole-cell scan trade is inherent: a corpus-sized
    batch probes essentially every cell, so there is no ``cell IN``
    prune — use the default serving mode for bounded query sets."""
    meta = load_pq_index_meta(path)
    books = meta["codebooks"]
    cents = meta["centroids"]
    import os

    codes = spark.read.parquet(os.path.join(path, "codes"))
    if batch_mode:
        return _knn_pq_batch(meta, codes, queries, id_col, vec_col,
                             k, n_probe, adc_engine)
    qrows = queries.select(
        F.col(id_col).alias("i"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).collect()
    probes = {r["i"]: _probe_cells_np(r["v"], cents, n_probe)
              for r in qrows}
    all_cells = sorted({p for s in probes.values() for p in s})
    c = codes.filter(F.col("cell").isin(all_cells)).select(
        F.col(meta["id_col"]).alias("neighbor_id"),
        "codes", "recon_n2", "cell")
    res = bool(meta.get("residual"))
    if _use_pq_arrow(adc_engine, meta["m"], meta["ks"]):
        qluts = _pq_query_luts(queries, id_col, vec_col, books)
        cand = _adc_candidates_arrow(
            c, qluts, k, probe_cells=probes,
            qid_dtype=queries.schema[id_col].dataType,
            cents_np=cents if res else None)
        scored = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    else:
        m, dsub = meta["m"], meta["dsub"]
        qv = F.col(vec_col)
        lut = F.array(*[
            F.array(*[
                F.aggregate(
                    F.zip_with(
                        F.slice(qv, j * dsub + 1, dsub),
                        F.array(*[F.lit(float(w)) for w in books[j][ci]]),
                        lambda x, y: x * y,
                    ),
                    F.lit(0.0), lambda s, v: s + v,
                )
                for ci in range(len(books[j]))
            ])
            for j in range(m)
        ])
        qn = F.sqrt(F.aggregate(
            F.zip_with(qv, qv, lambda x, y: x * y),
            F.lit(0.0), lambda s, v: s + v,
        ))
        from rs_graphdb_spark.session import local_df

        probe_rows = local_df(
            spark,
            [(qid, int(cl)) for qid, cells in probes.items()
             for cl in sorted(cells)],
            f"_qi {queries.schema[id_col].dataType.simpleString()},"
            f" cell int",
        )
        joined = (
            queries.select(F.col(id_col).alias("_qi"),
                           lut.alias("lut"), qn.alias("qn"),
                           F.col(vec_col).cast("array<double>")
                           .alias("_qv"))
            .join(probe_rows, "_qi")
        )
        extra = []
        if res:
            lit_cents = F.array(*[
                F.array(*[F.lit(float(w)) for w in cc])
                for cc in cents])
            extra = [F.aggregate(
                F.zip_with(F.col("_qv"),
                           F.element_at(lit_cents, F.col("cell") + 1),
                           lambda x, y: x * y),
                F.lit(0.0), lambda s, v: s + v,
            ).alias("qc")]
        q = joined.select(F.col("_qi").alias("query_id"), "lut", "qn",
                          "cell", *extra)
        dot = F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, j: acc + F.element_at(
                F.element_at(F.col("lut"), j + 1),
                F.element_at(F.col("codes"), j + 1) + 1),
        )
        num = (F.col("qc") + dot) if res else dot
        scored = (
            c.join(F.broadcast(q), "cell")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select(
                "query_id", "neighbor_id",
                F.when(
                    (F.col("recon_n2") > 0.0) & (F.col("qn") > 0.0),
                    num / (F.col("qn") * F.sqrt(F.col("recon_n2"))),
                ).otherwise(F.lit(0.0)).alias("adc_cos"),
            )
            .dropDuplicates(["query_id", "neighbor_id"])
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_cos", "rank")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 4,
    iterations: int = 3,
    threshold: float = 0.95,
    assign: str = "auto",
    pair_scan: str = "auto",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pruning over
    an embedding column — k-means cluster the vectors, then WITHIN each
    cluster drop every point that has a smaller-id neighbor with cosine
    ≥ ``threshold``. Returns one row per input:
    ``(id_col, cluster, keep, dup_of)`` where ``dup_of`` is the smallest
    such neighbor id (NULL for keepers).

    The drop rule (smallest id in the ε-neighborhood wins) is the
    deterministic form of the paper's keep-one-per-ball policy — no
    transitive closure, so a chain a~b~c with cos(a,c) < τ keeps a AND c,
    matching SemDeDup rather than clustering-based dedup
    (:func:`rs_graphdb_spark.functions.dedup.near_dup_clusters` is the
    transitive variant).

    Scale shape (100 TB): clustering IS the candidate generator — the
    all-pairs join is per-cluster, never global. k grows with the corpus
    (the paper uses ~0.1–1% of N) so expected cluster size stays
    bounded. ``assign`` picks the k-means path: ``"literal"`` folds the
    centroids into the plan (scan-stage projection, exact left-fold
    parity with the oracle — but Catalyst plan size caps k ≈ 10³);
    ``"table"`` is the production-k path (broadcast-centroid-matrix
    GEMM via :func:`clustering.kmeans_assign_table`, k bounded by
    executor memory, the Abbas et al. k ∝ N regime); ``"auto"``
    (default) switches at ``SEMDEDUP_LITERAL_K_MAX``. Either way the
    pair join shuffles each cluster once on its id. A pathological
    mega-cluster is the LSH-banded case — route it to
    `embedding_near_dup_lsh` per cluster if observed.

    Zero-norm vectors are never duplicates of anything (cosine is
    undefined there — NaN/NULL from the 0/0 — and both Spark and DuckDB
    order NaN ABOVE all numbers, so an unguarded ``>= threshold`` would
    mark a zero embedding duplicate of every same-cluster point); the
    pair filter requires a finite cosine, so they come back ``keep=true``
    and can never be a ``dup_of`` target.

    ``pair_scan`` picks the within-cluster scan: ``"expr"`` is the
    codegen'd join + HOF-cosine filter (exact left-fold parity with the
    oracle twin — the driver-checked configuration); ``"gemm"`` unions
    role-tagged rows into cluster-salt groups and scores each b-block
    against the FULL cluster with a blockwise numpy GEMM inside
    ``applyInPandas`` (the embedding_near_dup_lsh verify shape) — each
    vector crosses the shuffle ONCE PER SALT instead of once per
    candidate pair, which at dim ≥ 768 is the difference between
    O(n·dim·salt) and O(pairs·dim) bytes. ``"auto"`` (default) routes by
    measured width: expr at dim ≤ 64, GEMM above. GEMM sums in a
    different order than the left-fold, so pairs within an ulp of the
    threshold may flip — parity on separated fixtures is pytest-pinned,
    and the oracle configuration (dim=16) stays on the expr path.
    """
    from .clustering import kmeans_assign, kmeans_assign_table

    if assign not in ("auto", "literal", "table"):
        raise ValueError(f"assign must be auto|literal|table, got {assign!r}")
    if pair_scan not in ("auto", "expr", "gemm"):
        raise ValueError(
            f"pair_scan must be auto|expr|gemm, got {pair_scan!r}")
    use_table = assign == "table" or (
        assign == "auto" and k > SEMDEDUP_LITERAL_K_MAX
    )
    emb = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    asg = (
        kmeans_assign_table(df, id_col, vec_col, k=k, iterations=iterations)
        if use_table
        else kmeans_assign(df, id_col, vec_col, k=k, iterations=iterations)
    )
    x = emb.join(
        asg.select(F.col(id_col).alias("_id"), "cluster"), "_id"
    ).localCheckpoint()  # assignment reused by both join sides
    left = x.select(F.col("cluster"), F.col("_id").alias("_a"),
                    F.col("_v").alias("_va"))
    right = x.select(F.col("cluster"), F.col("_id").alias("_b"),
                     F.col("_v").alias("_vb"))
    # The join key has only k distinct values and pair WORK per cluster
    # is quadratic in its size — k-means sizes are SKEWED, so a uniform
    # fan-out either under-splits the mega-clusters (uniform low-salt at
    # k=200/sf1 measured +60% wall on the skew tail) or replicates the
    # whole right side for clusters that don't need it (r6 advice #3).
    # Salt each cluster PROPORTIONALLY to its share of Σm², targeting
    # ~4 pair-scan tasks per core overall, so only oversized clusters
    # replicate. The size table is k rows (one small agg + collect);
    # past k = 2¹⁸ clusters alone dwarf any core count → no salting.
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    salt_rows: list[tuple[int, int]] = []
    if k <= (1 << 18):
        sizes = x.groupBy("cluster").agg(F.count("*").alias("m")).collect()
        work = sum(r["m"] ** 2 for r in sizes) or 1
        # ~16 pair-scan tasks per core: fine granularity rides out
        # stragglers/size mis-estimates; replication stays bounded
        # because only clusters owning >1/target of Σm² salt at all
        target = 16 * par
        for r in sizes:
            s = -(-r["m"] ** 2 * target // work)  # ceil(share of tasks)
            if s > 1:
                salt_rows.append((int(r["cluster"]), int(min(s, 64))))
    row0 = x.select("_v").first()
    dim = len(row0["_v"]) if row0 is not None and row0["_v"] is not None else 0
    use_gemm = pair_scan == "gemm" or (
        pair_scan == "auto" and dim > SEMDEDUP_PAIR_EXPR_DIM_MAX
    )
    if use_gemm:
        dup_of = _semantic_pair_scan_gemm(
            spark, x, salt_rows, float(threshold), par
        )
        return (
            x.join(dup_of, x["_id"] == dup_of["_b"], "left")
            .select(
                F.col("_id").alias(id_col),
                "cluster",
                F.col("dup_of").isNull().alias("keep"),
                "dup_of",
            )
        )
    if salt_rows:
        from rs_graphdb_spark.session import local_df

        sm = F.broadcast(local_df(spark, salt_rows, "cluster int, __ns int"))
        lsalt = (
            left.join(sm, "cluster", "left")
            .withColumn(
                "__salt",
                F.when(F.col("__ns").isNull(), F.lit(0)).otherwise(
                    F.pmod(F.hash("_a"), F.col("__ns"))
                ),
            )
            .drop("__ns")
        )
        rsalt = (
            right.join(sm, "cluster", "left")
            .withColumn(
                "__salt",
                F.explode(F.sequence(
                    F.lit(0), F.coalesce(F.col("__ns"), F.lit(1)) - 1
                )),
            )
            .drop("__ns")
        )
        pairs = lsalt.join(rsalt, ["cluster", "__salt"]).drop("__salt")
    else:
        pairs = left.join(right, "cluster")
    # Zero-norm guard comes FREE from cosine()'s try_divide: a zero
    # embedding yields NULL cosine, and `NULL >= threshold` is NULL →
    # filtered — so the pair filter references cosine exactly ONCE and
    # stays a codegen'd tight loop (an explicit null/NaN guard either
    # re-inlines the aggregate 3× via projection collapse or, bound
    # through a transform lambda, drops the whole filter to interpreted
    # eval — both measured ~1.6× on the sf1 pair scan).
    dup_of = (
        pairs
        .filter(F.col("_a") < F.col("_b"))
        .filter(cosine(F.col("_va"), F.col("_vb")) >= threshold)
        .groupBy("_b")
        .agg(F.min("_a").alias("dup_of"))
    )
    return (
        x.join(dup_of, x["_id"] == dup_of["_b"], "left")
        .select(
            F.col("_id").alias(id_col),
            "cluster",
            F.col("dup_of").isNull().alias("keep"),
            "dup_of",
        )
    )


def _semantic_pair_scan_gemm(spark, x, salt_rows, thr: float, par: int):
    """Wide-dim within-cluster pair scan (r7 dim-probe fix): role-tagged
    union → one ``applyInPandas`` per (cluster, salt) group → blockwise
    numpy GEMM, emitting ``(_b, dup_of)`` for b-rows that have a
    smaller-id neighbor at cosine ≥ thr.

    'b' rows hash into exactly ONE salt; 'a' rows replicate to every
    salt of their cluster (same proportional salt table as the expr
    path), so each task scores a b-block against the FULL cluster and
    its verdict is final. Shuffle bytes are n·dim·(1 + avg replication)
    — independent of pair count — vs the expr join's pairs·2·dim. Zero-
    norm vectors normalize to NaN rows; every NaN comparison is False,
    so they are neither duplicates nor dup_of targets (the try_divide
    contract, kept bit-for-bit).
    """
    import numpy as np
    import pandas as pd

    if salt_rows:
        from rs_graphdb_spark.session import local_df

        sm = F.broadcast(local_df(spark, salt_rows, "cluster int, __ns int"))
        base = x.join(sm, "cluster", "left")
        b_rows = (
            base.withColumn(
                "__salt",
                F.when(F.col("__ns").isNull(), F.lit(0)).otherwise(
                    F.pmod(F.hash("_id"), F.col("__ns"))
                ),
            )
            .withColumn("__role", F.lit(0))
            .drop("__ns")
        )
        a_rows = (
            base.withColumn(
                "__salt",
                F.explode(F.sequence(
                    F.lit(0), F.coalesce(F.col("__ns"), F.lit(1)) - 1
                )),
            )
            .withColumn("__role", F.lit(1))
            .drop("__ns")
        )
        both = b_rows.unionByName(a_rows)
    else:
        tag = lambda role: (  # noqa: E731
            x.withColumn("__salt", F.lit(0)).withColumn("__role", F.lit(role))
        )
        both = tag(0).unionByName(tag(1))

    sent = np.iinfo(np.int64).max

    def _scan(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({
            "_b": pd.Series(dtype="int64"),
            "dup_of": pd.Series(dtype="int64"),
        })
        a = pdf[pdf["__role"] == 1]
        b = pdf[pdf["__role"] == 0]
        if len(a) == 0 or len(b) == 0:
            return empty

        def unit(rows):
            v = np.asarray(list(rows), dtype=np.float64)
            n = np.linalg.norm(v, axis=1, keepdims=True)
            with np.errstate(divide="ignore", invalid="ignore"):
                return v / n  # zero rows -> NaN -> all comparisons False

        ida = a["_id"].to_numpy()
        order = np.argsort(ida)
        ida = ida[order]
        va = unit(a["_v"].to_numpy()[order])
        idb = b["_id"].to_numpy()
        vb = unit(b["_v"].to_numpy())
        outs_b, outs_d = [], []
        # blockwise b-rows: the score block stays ~32 MB however hot the
        # cluster is (same bound as the near-dup GEMM verify)
        block = max(1, (1 << 22) // max(len(ida), 1))
        for s in range(0, len(idb), block):
            e = min(s + block, len(idb))
            g = vb[s:e] @ va.T
            with np.errstate(invalid="ignore"):
                mask = (g >= thr) & (ida[None, :] < idb[s:e, None])
            cand = np.where(mask, ida[None, :], sent)
            dmin = cand.min(axis=1)
            hit = dmin < sent
            outs_b.append(idb[s:e][hit])
            outs_d.append(dmin[hit])
        if not outs_b:
            return empty
        return pd.DataFrame({
            "_b": np.concatenate(outs_b),
            "dup_of": np.concatenate(outs_d),
        })

    return (
        both.repartition(par, "cluster", "__salt")
        .groupBy("cluster", "__salt")
        .applyInPandas(_scan, "_b long, dup_of long")
        # each _b lives in exactly one salt group; the agg is a cheap
        # safety canonicalization over the (small) duplicate set
        .groupBy("_b")
        .agg(F.min("dup_of").alias("dup_of"))
    )
