"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference surface (the reference's closest relative is the exact
full-text token index, `/root/reference/src/index_advanced.rs:52-88`);
these are the standard document-dedup family re-expressed Spark-first:

- **exact**: md5 fingerprint of the normalized token stream → hash-groupBy.
- **MinHash + LSH**: shingle → minhash signature → banded bucket join →
  exact-Jaccard verification of candidates. The only pairwise work is
  within LSH buckets, so cost is ~linear in corpus size at 100 TB instead
  of O(n²).
- **SimHash**: per-token hash bit-vote → packed signature; near-dup pairs
  via chunk banding (pigeonhole: hamming ≤ k is guaranteed caught by
  k+1 chunks) + exact hamming verify.
- **n-gram Jaccard**: exact sparse similarity join (explode distinct
  shingles, equi-join on shingle, group to intersection counts) — the
  exact fallback when recall must be 1.0.
- **embedding cosine**: near-dup by cosine over a normalized embedding
  column (see also `functions/similarity.py` for top-k search).

Determinism contract: every hash is derived from md5 so the DuckDB oracle
can reproduce values bit-for-bit; no JVM-private hash (xxhash64/crc32) in
any result-visible value. All expressions are JVM-side built-ins except
the minhash signature, which has an Arrow-batched numpy twin
(:func:`minhash_signature_np`, bit-identical by property test) used in
the hot path because higher-order SQL functions are interpreted, never
codegen'd. No row-at-a-time Python anywhere.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rs_graphdb_spark.functions.text import tokenize

#: Mersenne prime 2^31-1: universal-hash modulus. Token hashes are reduced
#: mod P before a*h+b so products stay < 2^62 (no 64-bit overflow, and the
#: same arithmetic is exact in DuckDB's signed BIGINT).
MERSENNE_P = (1 << 31) - 1

#: MinHash permutation count and LSH banding (32 bands × 4 rows). For the
#: dedup threshold J=0.8 the miss probability per true pair is
#: (1 - 0.8^4)^32 ≈ 5e-8.
NUM_HASHES = 128
LSH_BANDS = 32
LSH_ROWS = 4

SIMHASH_BITS = 32
SIMHASH_CHUNKS = 4  # catches hamming ≤ 3 exactly (pigeonhole)


def _hash_params(n: int = NUM_HASHES, seed: int = 0xC0FFEE) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    ``(a*h + b) mod P``; identical constants are embedded in the oracle."""
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P)) for _ in range(n)]


HASH_PARAMS = _hash_params()


def md5_long(col: Column) -> Column:
    """First 8 hex chars of md5 as a long (32-bit domain): the
    oracle-reproducible base hash (DuckDB: ``('0x'||substr(md5(x),1,8))::BIGINT``)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def shingles(col: Column | str, k: int = 3, mode: str = "ascii") -> Column:
    """Distinct word-level k-gram shingles of a text column.

    Documents with fewer than k tokens yield an EMPTY set rather than a
    runtime error: ``sequence(0, n-k)`` with n < k would produce a
    descending sequence whose first slice start is 0 — a
    SparkRuntimeException that would kill a whole ingest job for one
    short document (r2 advice #1; same guard shape as
    ``repetition_ratio``).

    The token array is bound ONCE as a lambda variable (single-element
    ``transform`` idiom): referenced as a plain expression inside the
    per-shingle lambda it would re-run the regexp tokenizer for EVERY
    shingle — O(L²) per document (the round-6 document-LENGTH probe
    measured 12× on 10×-longer docs at equal token mass; the corpus-size
    probes' ~55-token docs never exposed it)."""
    return F.transform(
        F.array(tokenize(col, mode)),
        lambda toks: F.when(
            F.size(toks) >= k,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - k),
                    lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
                )
            ),
        ).otherwise(F.array().cast("array<string>")),
    )[0]


def shingle_hashes(
    col: Column | str, k: int = 3, mode: str = "ascii"
) -> Column:
    """Shingle set → array of 31-bit hashes (mod P), the minhash input."""
    return F.transform(
        shingles(col, k, mode), lambda s: md5_long(s) % MERSENNE_P
    )


def minhash_signature(hashes: Column) -> Column:
    """MinHash signature: for each permutation i, min over the shingle-hash
    set of ``(a_i*h + b_i) mod P``. Empty set → P (sentinel, never a real
    hash value).

    Expressed as ONE nested ``transform`` over literal coefficient arrays
    rather than NUM_HASHES unrolled column expressions — the unrolled form
    produces a codegen unit that takes tens of seconds to compile; this
    form is a single tight loop (measured ~10× faster end-to-end)."""
    a_arr = F.array(*[F.lit(a).cast("long") for a, _ in HASH_PARAMS])
    b_arr = F.array(*[F.lit(b).cast("long") for _, b in HASH_PARAMS])
    return F.transform(
        F.sequence(F.lit(0), F.lit(NUM_HASHES - 1)),
        lambda i: F.coalesce(
            F.array_min(
                F.transform(
                    hashes,
                    lambda h: (F.element_at(a_arr, i + 1) * h
                               + F.element_at(b_arr, i + 1)) % MERSENNE_P,
                )
            ),
            F.lit(MERSENNE_P).cast("long"),
        ),
    )


def minhash_signature_np() -> Column:
    """Arrow-batched numpy form of :func:`minhash_signature` — bit-for-bit
    identical output (property-pinned), ~2.4× faster.

    Why it exists: higher-order SQL functions (``transform``) are
    interpreted, never whole-stage-codegen'd, so the 128-permutation ×
    per-shingle arithmetic is the one hot loop the JVM can't compile.
    Here a whole Arrow batch flattens into ONE (128, Σ|sh|) int64
    broadcast ``(A·h + B) mod P`` followed by ``minimum.reduceat`` at the
    per-document offsets — no per-row Python, no per-element dispatch.

    Exactness: a, h < 2³¹ so a·h + b < 2⁶² — int64 never overflows and
    the modulus matches the SQL/DuckDB arithmetic exactly. The flattened
    matrix is chunked to ≤ 2²² hash columns (~4 GB peak) so a skewed
    batch of huge documents cannot OOM a Python worker.

    Feed this a STAGED column (checkpoint/persist barrier, the `_pin`
    rule), never an inline shingle expression: Spark 4.1 flakily fails
    to extract a pandas UDF whose child is a doubly-nested ``transform``
    (INTERNAL_ERROR "Cannot evaluate expression" at collect). Every
    engine path stages; pinned by the property tests."""
    from pyspark.sql.functions import pandas_udf

    A = np.array([a for a, _ in HASH_PARAMS], dtype=np.int64)[:, None]
    B = np.array([b for _, b in HASH_PARAMS], dtype=np.int64)[:, None]

    @pandas_udf("array<long>")
    def _sig(sh: pd.Series) -> pd.Series:
        lens = np.fromiter((len(h) for h in sh), dtype=np.int64, count=len(sh))
        nz = np.flatnonzero(lens)
        flat = (
            np.concatenate([np.asarray(sh.iat[i], dtype=np.int64) for i in nz])
            if nz.size else np.empty(0, dtype=np.int64)
        )
        out = _sig_mins(lens, flat, A, B)
        return pd.Series(list(out))

    return _sig


#: numpy-signature chunk width (hash columns per broadcast block). The
#: (128, chunk) intermediate must fit CPU cache, not just RAM: measured
#: sweep on 10k-doc/600k-hash batches — 1<<22 (4 GB block) 2.40 s,
#: 1<<16 0.76 s, 1<<14 (16 MB block) 0.41 s, 1<<12 0.50 s. The old 4 GB
#: "cap" was also a fleet-killer at 32 concurrent workers (128 GB of
#: transient numpy per job — the r5 sf-500k superlinear bend). Module-
#: level so tests can shrink it to exercise the chunk-boundary path.
_SIG_CHUNK_COLS = 1 << 14


def _sig_mins(lens: np.ndarray, flat: np.ndarray, A, B,
              chunk_cols: int | None = None) -> np.ndarray:
    """Shared minhash kernel: per-document 128-hash minima over the
    flattened hash stream (``lens[i]`` hashes per doc), chunked at
    document boundaries to ≤ ``chunk_cols`` (default
    :data:`_SIG_CHUNK_COLS`) columns. Returns an (n_docs, 128) int64
    matrix; empty docs get MERSENNE_P sentinels."""
    if chunk_cols is None:
        chunk_cols = _SIG_CHUNK_COLS
    out = np.full((len(lens), NUM_HASHES), MERSENNE_P, dtype=np.int64)
    nz = np.flatnonzero(lens)
    if nz.size:
        bounds = np.concatenate(([0], np.cumsum(lens[nz])))
        start_doc = 0
        while start_doc < nz.size:
            end_doc = start_doc + 1
            while (end_doc < nz.size
                   and bounds[end_doc + 1] - bounds[start_doc]
                   <= chunk_cols):
                end_doc += 1
            seg = flat[bounds[start_doc]:bounds[end_doc]]
            m = (A * seg[None, :] + B) % MERSENNE_P
            offs = bounds[start_doc:end_doc] - bounds[start_doc]
            out[nz[start_doc:end_doc]] = np.minimum.reduceat(
                m, offs, axis=1
            ).T
            start_doc = end_doc
    return out


def minhash_signatures_arrow(df: DataFrame) -> DataFrame:
    """``(doc_id, sh ARRAY<LONG>)`` → ``(doc_id, sig ARRAY<LONG>)`` via
    ``mapInArrow`` — the same kernel as :func:`minhash_signature_np`
    (bit-identical, property-pinned) but reading the shingle hashes
    straight out of the Arrow list buffers and writing the signatures
    back as one flat values+offsets array: no per-row Python objects on
    either side. Measured: ≈ equal to the pandas_udf form at sf0.1 (both
    ~0.4 s warm — worker startup dominates small corpora) and 26% faster
    at sf1 (0.60 s vs 0.81 s), the gap widening with rows because the
    pandas path converts every list cell to/from Python objects. The
    pandas form stays as the property-test twin."""
    import pyarrow as pa

    A = np.array([a for a, _ in HASH_PARAMS], dtype=np.int64)[:, None]
    B = np.array([b for _, b in HASH_PARAMS], dtype=np.int64)[:, None]

    def _sign(batches):
        for batch in batches:
            sh = batch.column("sh")
            if isinstance(sh, pa.ChunkedArray):
                sh = sh.combine_chunks()
            n = len(sh)
            lens = np.asarray(sh.value_lengths().fill_null(0),
                              dtype=np.int64)
            flat = np.asarray(sh.flatten(), dtype=np.int64)
            mins = _sig_mins(lens, flat, A, B)
            sig = pa.ListArray.from_arrays(
                np.arange(0, (n + 1) * NUM_HASHES, NUM_HASHES,
                          dtype=np.int32),
                pa.array(mins.reshape(-1), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("doc_id"), sig], ["doc_id", "sig"]
            )

    return df.select("doc_id", "sh").mapInArrow(
        _sign, "doc_id long, sig array<bigint>"
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature become candidate
    pairs ``(a, b)`` with a < b.

    Grouped-posting form: explode (band, band-hash) keys, ONE groupBy
    shuffle collects each bucket's doc list, and co-bucket pairs stream
    out of a posexplode+slice (the same bounded-memory pair emitter as
    :func:`_posting_pairs`). This replaces the earlier bucket self-join,
    which shuffled both sides and evaluated the banding expression twice
    — measured 2× faster at sf0.1 with an identical pair set. Per-row
    memory is one bucket's doc list; bucket sizes are bounded in practice
    because exact duplicates are collapsed upstream
    (``collapse_exact``), so a bucket holds only genuinely-distinct
    near-dup documents."""
    banded = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.md5(
                    F.array_join(F.slice(F.col(sig_col), i * rows + 1, rows), ",")
                ),
            )
        ).alias("band", "bh"),
    )
    buckets = (
        banded.groupBy("band", "bh")
        # array_distinct: a duplicated input id would otherwise appear
        # twice in a bucket list and self-pair (a, a) — upstream callers
        # currently guarantee distinct ids, but the function stays safe
        # under its own contract
        .agg(F.array_distinct(F.sort_array(F.collect_list("doc"))).alias("ds"))
        .filter(F.size("ds") > 1)
    )
    return (
        buckets.select(F.posexplode("ds").alias("i", "a"), "ds")
        .select(
            "a",
            F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("b"),
        )
        .dropDuplicates(["a", "b"])
    )


def exact_jaccard(pairs: DataFrame, sets_df: DataFrame, id_col: str, set_col: str) -> DataFrame:
    """Verify candidate pairs with exact Jaccard over the shingle arrays.

    ``pairs``: (a, b); ``sets_df``: (id_col, set_col array). Returns
    (a, b, jaccard). Set arithmetic is JVM-side ``array_intersect``."""
    sa = sets_df.select(F.col(id_col).alias("a"), F.col(set_col).alias("sa"))
    sb = sets_df.select(F.col(id_col).alias("b"), F.col(set_col).alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    # try_divide: two empty sets (possible once short docs shingle to [])
    # define jaccard as NULL, which no >= threshold filter keeps
    return (
        pairs.join(sa, "a").join(sb, "b")
        .select(
            "a", "b",
            F.try_divide(inter, F.size("sa") + F.size("sb") - inter).alias("jaccard"),
        )
    )


def _pin(df: DataFrame, eager: bool) -> DataFrame:
    """Cut-or-cache a frame consumed by several downstream passes.

    ``eager=True`` (corpus jobs): eager ``localCheckpoint`` — severs
    lineage NOW at the cost of one up-front Spark job. ``eager=False``
    (the continuous sink's micro-batch path): lazy ``persist()`` — no
    extra job; the first downstream action materializes the cache and
    later consumers reuse it. The per-batch floor of the ingest sink is
    almost entirely fixed per-job overhead, so micro-batches skip every
    eager job they can (r4 verdict #3).

    Either way the pin is a PLAN BARRIER: the minhash pandas-UDF
    signature column and the shingle array must never be re-inlined by
    project-collapse into their many downstream uses — an unmaterialized
    ``persist`` (InMemoryRelation) blocks that exactly like a
    checkpoint does. Lazy pins are registered for
    :func:`release_lazy_pins`, which the owning micro-batch calls once
    its writes land (a long-lived sink would otherwise accumulate
    cached blocks per batch)."""
    if eager:
        return df.localCheckpoint(eager=True)
    df = df.persist()
    _LAZY_PINNED.append(df)
    return df


#: lazy `_pin` registry — drained by release_lazy_pins() at the end of the
#: micro-batch that created the pins (single-writer, like the sink itself)
_LAZY_PINNED: list[DataFrame] = []


def release_lazy_pins() -> None:
    """Unpersist every frame lazily pinned since the last call — the
    continuous ingest sink's end-of-batch cleanup (its writes are done;
    the cached blocks must not outlive the batch)."""
    while _LAZY_PINNED:
        try:
            _LAZY_PINNED.pop().unpersist()
        except Exception:
            pass


def _materialize_result(result: DataFrame, *release: DataFrame) -> DataFrame:
    """Eagerly materialize a (small) final pair set, then drop references
    to the big intermediates so their persist/checkpoint blocks can be
    reclaimed immediately instead of living as long as the caller keeps
    the lazy result. In a long-lived session (or a bench loop) the leaked
    blocks otherwise accumulate per call and turn into GC/eviction churn."""
    out = result.localCheckpoint(eager=True)
    for frame in release:
        try:
            frame.unpersist()
        except Exception:
            pass
    return out


def _lazy_result(result: DataFrame) -> DataFrame:
    """Lazy-checkpoint a final pair set that pins NO intermediates: the
    first action materializes it and later consumers reuse the blocks —
    multi-consumer semantics identical to :func:`_materialize_result`,
    but WITHOUT the extra driver-synchronized job per call (r11, guide
    §1.2: the dedup pipelines were paying 2-3 eager barriers per
    invocation — signature checkpoint, result checkpoint — that existed
    to protect frames the current single-consumption plans no longer
    re-evaluate). Only valid when nothing needs releasing after the
    result lands (callers with persisted intermediates must keep the
    eager form, or the release would race the first computation)."""
    return result.localCheckpoint(eager=False)


def shingle_sets(df: DataFrame, id_col: str, text_col: str, k: int = 3,
                 eager: bool = True, mode: str = "ascii") -> DataFrame:
    """The shared shingle frame: (doc_id, sets ARRAY<STRING>), fanned out
    and checkpointed once. MinHash, n-gram Jaccard, and the cluster
    decision all consume THIS frame — in a pipeline that runs several
    dedup passes over one corpus, shingling is computed exactly once.

    NB: repartition must precede the projection — an Exchange above the
    Project would leave the expensive shingle compute on the original
    (possibly single) input split. Checkpointed BEFORE deriving hashes:
    project-collapse would otherwise inline the shingle expression once
    per derived column."""
    par = df.sparkSession.sparkContext.defaultParallelism
    out = (
        df.repartition(par, id_col)
        .select(F.col(id_col).alias("doc_id"),
                shingles(text_col, k, mode).alias("sets"))
        # content hash rides along in the one checkpointed pass — the
        # exact-duplicate collapse in minhash_dedup_pairs reads it for
        # free instead of re-hashing every set per dedup pass
        .withColumn("_gh", F.md5(F.array_join("sets", "\x1f")))
    )
    return _pin(out, eager)


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    k: int = 3,
    sets_df: DataFrame | None = None,
    collapse_exact: bool | str = "auto",
    mode: str = "ascii",
) -> DataFrame:
    """MinHash/LSH near-duplicate pairs with exact-Jaccard verification.

    Pipeline: shingle → minhash → band-bucket join → candidates →
    exact Jaccard ≥ threshold. False positives: impossible (exact verify).
    False negatives: banding miss probability only (≈5e-8 at J=0.8).

    ``collapse_exact``: documents with IDENTICAL shingle arrays — exact
    duplicates after normalization, the most common dup shape in crawled
    corpora — are grouped by a content hash first; the 128-hash
    signatures, banding and Jaccard verification run once per DISTINCT
    document, and member pairs expand afterwards (cross-group pairs
    inherit their representatives' verified Jaccard, within-group pairs
    are exactly 1.0). k copies of one document cost one signature instead
    of k, and k bucket entries collapse to 1 (k² candidate work → 1).
    The emitted pair set is identical to the uncollapsed form.
    ``"auto"`` (default) collapses only when a cheap hash-count pre-pass
    shows a MATERIAL dup fraction; ``True`` forces the collapse whenever
    any dup group exists; ``False`` disables it.

    Pass a precomputed ``sets_df`` (from :func:`shingle_sets`) to share the
    shingle frame across dedup passes."""
    if sets_df is None:
        sets_df = shingle_sets(df, id_col, text_col, k, mode=mode)
    # short docs yield empty shingle sets; drop them here or their
    # all-sentinel signatures would collide in every LSH band
    nonempty = sets_df.filter(F.size("sets") > 0)
    groups = None
    if collapse_exact:
        # hash-only pre-pass: shuffle (doc_id, 32-byte hash) — never the
        # shingle arrays — and SKIP collapse when a cheap agg shows the
        # corpus has no exact-dup groups at all (the extra join/expansion
        # stages would be pure overhead)
        # the content hash is precomputed in the shared shingle frame;
        # derive it only for ad-hoc sets_df inputs without the column
        gh = (
            nonempty.select("doc_id", "_gh")
            if "_gh" in nonempty.columns
            else nonempty.select(
                "doc_id", F.md5(F.array_join("sets", "\x1f")).alias("_gh")
            )
        )
        stats = gh.agg(
            F.count("*").alias("n"), F.countDistinct("_gh").alias("d")
        ).first()
        # "auto" collapses only when dup groups save MATERIAL work: the
        # group build + semi-join + pair expansion cost ~4 extra stages,
        # which a handful of dup docs in an otherwise-distinct corpus
        # never repays (measured: 8 dups in 5k docs made the collapsed
        # path net-slower). 1% duplicated rows (min 32) is the
        # break-even; collapse_exact=True forces it for any dup group.
        n_dup = stats["n"] - stats["d"]
        floor = 1 if collapse_exact is True else max(32, stats["n"] // 100)
        if n_dup >= floor:
            groups = (
                gh.groupBy("_gh")
                .agg(
                    F.min("doc_id").alias("doc_id"),
                    F.sort_array(F.collect_list("doc_id")).alias("_members"),
                )
                .drop("_gh")
                .localCheckpoint(eager=True)
            )
            nonempty = nonempty.join(
                groups.select("doc_id"), "doc_id", "left_semi"
            )
    # ONE lazy plan from the checkpointed shingle frame to the verified
    # pairs (r11, guide §1.2/§2.4): the eager signature checkpoint and
    # the base.persist() date from the bucket SELF-join era — the
    # grouped-posting LSH consumes the signature column exactly once
    # (explode bands → groupBy), and the Jaccard verify reads the
    # shingle arrays straight off the checkpointed sets_df, so nothing
    # in this plan is evaluated twice and every barrier was a pure
    # driver-synchronized job (3 jobs + their scheduling latency per
    # call — the r10 scaling block measured q44 core-INSENSITIVE, i.e.
    # latency-bound, at sf0.1).
    base = nonempty.withColumn(
        "sh", F.transform("sets", lambda s: md5_long(s) % MERSENNE_P)
    )
    sigs = minhash_signatures_arrow(base)
    cands = lsh_candidate_pairs(sigs, "doc_id", "sig")
    verified = exact_jaccard(
        cands, nonempty.select("doc_id", "sets"), "doc_id", "sets"
    ).filter(F.col("jaccard") >= threshold)
    if groups is None:
        return _lazy_result(verified)
    ga = groups.select(F.col("doc_id").alias("a"), F.col("_members").alias("_ma"))
    gb = groups.select(F.col("doc_id").alias("b"), F.col("_members").alias("_mb"))
    cross = (
        verified.join(ga, "a").join(gb, "b")
        .select(F.explode("_ma").alias("ia"), "_mb", "jaccard")
        .select("ia", F.explode("_mb").alias("ib"), "jaccard")
    )
    within = (
        groups.filter(F.size("_members") > 1)
        .select(F.col("_members").alias("ms"))
        .select(F.posexplode("ms").alias("i", "ia"), F.col("ms"))
        .select("ia",
                F.explode(F.slice("ms", F.col("i") + 2, F.size("ms"))).alias("ib"))
        .withColumn("jaccard", F.lit(1.0))
        .filter(F.col("jaccard") >= threshold)
    )
    out = (
        cross.unionByName(within)
        .select(F.least("ia", "ib").alias("a"),
                F.greatest("ia", "ib").alias("b"), "jaccard")
    )
    return _lazy_result(out)


def _posting_pairs(g: DataFrame) -> DataFrame:
    """Grouped posting lists ``(ds sorted ARRAY<LONG>)`` → one (a, b) row
    per co-posting pair with a < b. posexplode + slice keeps per-row
    memory at ONE posting array (≤ max_shingle_df longs) — a flattened
    all-combinations array for a df=10k shingle would be 50M structs in a
    single row."""
    return (
        g.select(F.col("ds"), F.posexplode("ds").alias("i", "a"))
        .select(
            "a",
            F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("b"),
        )
    )


#: auto-route floor for the packed exchange (total shingle postings):
#: below it the pair exchange is too small to repay the packed build's
#: extra stages (see the routing comment in ngram_jaccard_pairs).
_NGRAM_PACKED_MIN_POSTINGS = 1_000_000

#: packed-posting layout: doc id in the high bits, the doc's non-stop
#: shingle-set size in the low _PACK_N_BITS. Sorting packed longs sorts
#: by doc id (size is a function of the doc), so pair emission order —
#: hence the emitted pair set — matches the legacy sorted-doc-array form.
_PACK_N_BITS = 21
_PACK_N_MASK = (1 << _PACK_N_BITS) - 1


def _ngram_pairs_packed(sh: DataFrame, cap: int | None,
                        threshold: float) -> DataFrame:
    """Narrow-exchange exact n-gram Jaccard (r11, guide §2.2/§2.3).

    The legacy form shuffled one (a BIGINT, b BIGINT) row per co-posting
    pair into groupBy(a, b) — 142M 16-byte keys at the sf1 stress corpus
    — then probed the aggregated ~116M pair groups through TWO size
    joins to compute jaccard. Here:

    - document frequencies come from a partial-aggregated count (tiny
      reduce side), the stop set — AT MOST Σpostings/cap shingles, i.e.
      ~(1/frac)·avg_doc_size rows under the relative cap, corpus-size
      INDEPENDENT — broadcasts into an anti-join (no corpus reshuffle);
    - per-doc non-stop sizes join into the postings BEFORE grouping, so
      every posting-list entry is ONE packed long (doc << 21 | n);
    - pair emission prunes provably-non-qualifying pairs (min(n) <
      t·max(n) − 1 ⟹ jaccard ≤ min/max < t under any double rounding,
      because i ≤ min(n), union ≥ max(n), and 1/max ≫ ulp) — ~19%
      of the sf1 stress mass — and emits ONE long key
      (a << 32 | b) plus the na+nb sum, so the big exchange carries 8+8
      bytes and the aggregate's group key is a single long;
    - jaccard = i / (nsum − i) on the aggregated row — the SAME long
      operands the legacy division saw, hence bit-identical doubles and
      an identical ≥ threshold pair set (pinned by the engine-parity
      pytest and the q42/q46 oracle twins)."""
    dfreq = sh.groupBy("s").agg(F.count("*").alias("df_"))
    if cap is not None:
        stop = dfreq.filter(F.col("df_") > cap).select("s")
        sh = sh.join(F.broadcast(stop), "s", "left_anti")
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n"))
    packed = (
        sh.join(sizes, "doc")
        .select(
            "s",
            (F.shiftleft(F.col("doc").cast("long"), _PACK_N_BITS)
             + F.col("n")).alias("pn"),
        )
    )
    g = (
        packed.groupBy("s")
        .agg(F.sort_array(F.collect_list("pn")).alias("ds"))
        .filter(F.size("ds") >= 2)
        .select("ds")
    )
    nmask = F.lit(_PACK_N_MASK).cast("long")
    pairs = (
        g.select(F.col("ds"), F.posexplode("ds").alias("i", "pa"))
        .select(
            "pa",
            F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("pb"),
        )
        .select(
            F.col("pa").bitwiseAND(nmask).alias("na"),
            F.col("pb").bitwiseAND(nmask).alias("nb"),
            (F.shiftleft(F.shiftright("pa", _PACK_N_BITS), 32)
             + F.shiftright("pb", _PACK_N_BITS)).alias("ab"),
        )
        .filter(
            F.least("na", "nb")
            >= F.lit(float(threshold)) * F.greatest("na", "nb") - F.lit(1.0)
        )
        .select("ab", (F.col("na") + F.col("nb")).alias("nsum"))
    )
    agg = pairs.groupBy("ab").agg(
        F.count("*").alias("i"), F.first("nsum").alias("nsum"))
    return _lazy_result(
        agg.select(
            F.shiftright("ab", 32).alias("a"),
            F.col("ab").bitwiseAND(F.lit((1 << 32) - 1).cast("long")).alias("b"),
            (F.col("i") / (F.col("nsum") - F.col("i"))).alias("jaccard"),
        ).filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    k: int = 3,
    max_shingle_df: int | None = 10_000,
    max_shingle_df_frac: float | None = 0.05,
    sets_df: DataFrame | None = None,
    mode: str = "ascii",
    engine: str = "auto",
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via the sparse explode-join.

    Scale path: pairs only materialize for docs sharing ≥1 shingle, and the
    shuffle key is the shingle itself. One bound keeps the self-join
    linear-ish at 100 TB:

    - hot ("stop") shingles are removed by document frequency BEFORE the
      join. The effective cap is
      ``min(max_shingle_df, max(100, ceil(max_shingle_df_frac · n_docs)))``
      — the ABSOLUTE cap bounds per-shingle blowup at max_df² regardless
      of corpus size, while the RELATIVE cap (default 5% of documents)
      scales with the corpus, so a boilerplate shingle that lands in a
      fixed fraction of an ever-growing crawl is cut at every scale (a
      fixed 10k cap stops firing the moment the corpus passes
      10k/frac docs). The floor of 100 keeps the relative cap inert on
      small corpora, where stop-shingle semantics would otherwise kick
      in at df 1-2. Jaccard is then computed over each document's
      non-stop shingle set (numerator and denominator consistently), the
      standard stop-shingle semantics; the DuckDB oracle twin applies
      the identical cap. NB: on a mirrored/scale-proportional corpus the
      relative cap fires at every scale or none — that scale-invariance
      is the point.

    Pass a precomputed ``sets_df`` (from :func:`shingle_sets`) to share the
    shingle frame across dedup passes.

    ``engine``: ``"auto"`` routes integer-id corpora (ids in [0, 2³¹),
    per-doc shingle sets under 2²¹) through :func:`_ngram_pairs_packed`
    — the r11 narrow-exchange form of the SAME computation (guide §2.3):
    sizes ride the postings as packed longs, provably-non-qualifying
    pairs are pruned at emission, the pair exchange carries ONE long key
    instead of two, and jaccard is computed inline (no post-aggregation
    size joins). Pair set and jaccard doubles are bit-identical to the
    legacy form (division operands are the same longs; the emission
    prune only drops pairs with min(n) < t·max(n) − 1, which the final
    filter provably rejects under any rounding since i ≤ min(n) and
    union ≥ max(n)). ``"legacy"`` forces the r10 form (the parity twin);
    ``"packed"`` asserts the fast route."""
    if engine not in ("auto", "packed", "legacy"):
        raise ValueError(
            f"engine must be 'auto'|'packed'|'legacy', got {engine!r}")
    if sets_df is None:
        sets_df = shingle_sets(df, id_col, text_col, k, mode=mode)
    sh = sets_df.select(
        F.col("doc_id").alias("doc"), F.explode("sets").alias("s")
    )
    caps = []
    if max_shingle_df is not None:
        caps.append(max_shingle_df)
    stats = None
    if max_shingle_df_frac is not None or engine in ("auto", "packed"):
        # one bounded-metadata action serves both the relative cap and
        # the packed-route decision (the old path paid the same single
        # count() action for the cap)
        stats = sets_df.agg(
            F.count("*").alias("n"),
            F.count("doc_id").alias("nn"),  # null ids force the legacy path
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
            F.max(F.size("sets")).alias("mx"),
            F.sum(F.size("sets")).alias("postings"),
        ).first()
    if max_shingle_df_frac is not None:
        import math

        caps.append(max(100, math.ceil(max_shingle_df_frac * stats["n"])))
    cap = min(caps) if caps else None
    # the dtype conjunct comes first: lo/hi of a string id column are
    # strings, which the int() bounds below cannot parse
    packable = (
        engine != "legacy"
        and stats is not None
        and dict(sets_df.dtypes).get("doc_id", "").startswith(
            ("bigint", "int", "smallint", "tinyint"))
        and stats["lo"] is not None
        and stats["nn"] == stats["n"]
        and int(stats["lo"]) >= 0
        and int(stats["hi"]) < (1 << 31)
        and int(stats["mx"] or 0) < (1 << 21)
    )
    if engine == "auto" and packable and (
            int(stats["postings"] or 0) < _NGRAM_PACKED_MIN_POSTINGS):
        # small corpora: the packed route's extra build-side stages
        # (df count, stop anti-join, size join, regroup) are fixed
        # scheduling latency that the tiny pair exchange never repays —
        # measured 1.25 s legacy vs 2.07 s packed at 270k postings, and
        # 10.7 s legacy vs 6.9 s packed at 2.7M (pair mass grows
        # superlinearly in postings for a fixed vocabulary, so the
        # routing is scale-monotone; any 100 TB corpus is far above it)
        packable = False
    if engine == "packed" and not packable:
        raise ValueError("corpus does not satisfy the packed-route bounds")
    if packable:
        return _ngram_pairs_packed(sh, cap, threshold)
    # ONE shuffle on the shingle builds the grouped posting lists; the
    # stop-shingle cap is a filter on the same frame (no separate
    # df-count job + anti-join pass). (doc, s) rows are unique by
    # construction (sets are array_distinct), so size(ds) = document
    # frequency.
    g = sh.groupBy("s").agg(F.collect_list("doc").alias("ds"))
    if cap is not None:
        g = g.filter(F.size("ds") <= cap)
    g = g.localCheckpoint(eager=True)
    # per-doc non-stop set size — BEFORE the df≥2 cut below: doc-unique
    # shingles never form pairs but absolutely count in the union size
    sizes = (
        g.select(F.explode("ds").alias("doc"))
        .groupBy("doc").agg(F.count("*").alias("n"))
    )
    gp = g.filter(F.size("ds") >= 2).select(F.array_sort("ds").alias("ds"))
    inter = _posting_pairs(gp).groupBy("a", "b").agg(F.count("*").alias("i"))
    na = sizes.select(F.col("doc").alias("a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc").alias("b"), F.col("n").alias("nb"))
    return _lazy_result(
        inter.join(na, "a").join(nb, "b")
        .select("a", "b", (F.col("i") / (F.col("na") + F.col("nb") - F.col("i"))).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    sets_df: DataFrame | None = None,
    eager: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Build the persistable LSH index of a corpus: ``(banded, sets)``
    where ``banded`` = (doc, band, bh) band-bucket keys and ``sets`` =
    (doc_id, sets) shingle sets for exact verification.

    This is the incremental-ingest layout: at 100 TB both frames are
    written once (``banded`` bucketed by (band, bh), ``sets`` by doc_id)
    and every future batch probes them without re-shingling or
    re-signing the corpus.

    ``eager=False`` (micro-batch path): lineage pins are lazy
    ``persist()`` instead of eager checkpoints — see :func:`_pin`; the
    caller unpersists the returned frames when the batch retires."""
    if sets_df is None:
        sets_df = shingle_sets(df, id_col, text_col, k, eager=eager)
    hashed = sets_df.filter(F.size("sets") > 0).withColumn(
        "sh", F.transform("sets", lambda s: md5_long(s) % MERSENNE_P)
    )
    sigs = _pin(minhash_signatures_arrow(hashed), eager)
    banded = sigs.select(
        F.col("doc_id").alias("doc"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.md5(F.array_join(F.slice(F.col("sig"), i * rows + 1, rows), ","))
                    .alias("bh"),
                )
                for i in range(bands)
            ])
        ).alias("e"),
    ).select("doc", "e.band", "e.bh")
    return _pin(banded, eager), sets_df


def minhash_probe(
    index_banded: DataFrame,
    index_sets: DataFrame,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    k: int = 3,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    new_banded: DataFrame | None = None,
    new_sets: DataFrame | None = None,
    broadcast_new: bool = False,
    eager: bool = True,
) -> DataFrame:
    """Incremental near-dup pairs: NEW documents against an existing
    :func:`minhash_index` corpus, plus among the new documents themselves
    — without touching the corpus text. Returns (a, b, jaccard) with
    a < b, exact-verified.

    Scale shape: only the new batch is shingled/signed; the join key is
    (band, bh) against the bucketed index, so a probe reads only the
    colliding buckets (partition-pruned when the index is written
    bucketed by that key). This is how a continuously-ingesting 100 TB
    pipeline runs dedup per arriving batch at batch-sized cost.

    ``new_banded``/``new_sets``: precomputed :func:`minhash_index` frames
    for ``new_df`` — pass them when the caller already signed the batch
    (the continuous ingest sink does) so the batch is signed exactly
    once. ``broadcast_new=True`` broadcasts the (small) batch side of
    the corpus join, so the standing index is scanned without an
    Exchange — the probe then costs batch-work + pruned index I/O, with
    zero corpus-sized shuffles. ``eager=False`` (micro-batch path): the
    candidate frame is lazily persisted and the result is returned
    unmaterialized — two fewer up-front jobs per batch; the caller owns
    the returned frame's lifecycle (see :func:`_pin`)."""
    if new_banded is None or new_sets is None:
        new_banded, new_sets = minhash_index(
            new_df, id_col, text_col, k, bands, rows, eager=eager
        )
    probe_side = F.broadcast(new_banded) if broadcast_new else new_banded
    vs_corpus = (
        probe_side.alias("n")
        .join(
            index_banded.alias("i"),
            (F.col("n.band") == F.col("i.band")) & (F.col("n.bh") == F.col("i.bh")),
        )
        .filter(F.col("n.doc") != F.col("i.doc"))
        .select(
            F.least(F.col("n.doc"), F.col("i.doc")).alias("a"),
            F.greatest(F.col("n.doc"), F.col("i.doc")).alias("b"),
        )
    )
    vs_new = (
        new_banded.alias("l")
        .join(
            new_banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("a"), F.col("r.doc").alias("b"))
    )
    cands = vs_corpus.unionByName(vs_new).dropDuplicates(["a", "b"])
    index_side_sets = index_sets.select("doc_id", "sets")
    if broadcast_new:
        # candidate set is collision-bounded (≪ corpus); materialize it,
        # then push the colliding doc ids down into the corpus sets scan
        # so exact verification reads only colliding rows instead of the
        # whole (doc_id, sets) table. With `sets` written sorted by
        # doc_id, the In filter prunes row groups via min/max stats.
        # (lazy mode: the cand_ids collect right below materializes the
        # persist in the SAME job instead of a separate checkpoint job)
        cands = _materialize_result(cands) if eager else _pin(cands, False)
        cand_ids = [
            r[0]
            for r in cands.select(F.explode(F.array("a", "b")).alias("d"))
            .dropDuplicates()
            .limit(100_001)
            .collect()
        ]
        if len(cand_ids) <= 100_000:
            index_side_sets = index_side_sets.filter(
                F.col("doc_id").isin(cand_ids)
            )
    # project both sides to the verification columns: a persisted index
    # holds exactly (doc_id, sets) while a fresh shingle frame also
    # carries the _gh content hash
    all_sets = (
        index_side_sets
        .unionByName(new_sets.select("doc_id", "sets"))
        .dropDuplicates(["doc_id"])
    )
    verified = exact_jaccard(cands, all_sets, "doc_id", "sets")
    out = verified.filter(F.col("jaccard") >= threshold)
    if not eager:
        return _pin(out, False)
    return _materialize_result(out)


def write_minhash_index(
    banded: DataFrame, sets_df: DataFrame, index_dir: str
) -> None:
    """Persist a :func:`minhash_index` in the STANDING-INDEX layout the
    continuous ingest sink probes at O(batch) cost:

    - ``banded/`` partitioned by ``bp = substring(bh, 1, 1)`` (16
      directories) and sorted by ``bh`` within files — a probe filtered
      to the batch's band-hash prefixes scans only colliding partitions
      (visible as ``PartitionFilters`` in the plan) and the exact
      ``bh IN (...)`` pushdown skips non-colliding row groups via
      parquet min/max stats.
    - ``sets/`` range-partitioned and sorted by ``doc_id`` so the
      exact-verify stage's colliding-id pushdown prunes the same way.

    At 100 TB the same layout holds (a bucketed table on ``bh`` is the
    further step once batches grow past broadcast size); nothing here is
    local-mode specific."""
    import os

    par = banded.sparkSession.sparkContext.defaultParallelism
    (
        banded.withColumn("bp", F.substring("bh", 1, 1))
        .repartition(16, "bp")
        .sortWithinPartitions("bh")
        .write.partitionBy("bp")
        .mode("overwrite")
        .parquet(os.path.join(index_dir, "banded"))
    )
    (
        sets_df.select("doc_id", "sets")
        .repartitionByRange(max(2, par // 4), "doc_id")
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite")
        .parquet(os.path.join(index_dir, "sets"))
    )


def compact_minhash_index(spark, index_dir: str) -> None:
    """Rewrite an append-grown standing index into the canonical
    :func:`write_minhash_index` layout in one pass — the maintenance
    job a long-running ingest schedules periodically (every epoch adds
    a handful of small files per partition; compaction restores one
    sorted file per ``bp=`` dir and tight row-group stats, keeping
    probe pruning effective as the stream ages).

    Swap is staged-then-rename per directory: a crash mid-swap leaves
    either the old or the new layout (never a mix inside one dir); run
    it from the single maintenance owner, not concurrently with the
    ingest sink's foreachBatch (same single-writer assumption the sink
    itself documents)."""
    import os
    import shutil
    import uuid

    banded_dir = os.path.join(index_dir, "banded")
    sets_dir = os.path.join(index_dir, "sets")
    banded = spark.read.parquet(banded_dir)
    if "bp" in banded.columns:
        banded = banded.drop("bp")
    banded = banded.select("doc", "band", "bh")
    sets_df = spark.read.parquet(sets_dir).select("doc_id", "sets")
    staging = os.path.join(index_dir, f"_compact-{uuid.uuid4().hex[:8]}")
    write_minhash_index(banded, sets_df, staging)
    for name in ("banded", "sets"):
        old = os.path.join(index_dir, name)
        retired = os.path.join(index_dir, f"_old-{name}")
        shutil.rmtree(retired, ignore_errors=True)
        os.replace(old, retired)
        os.replace(os.path.join(staging, name), old)
        shutil.rmtree(retired, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)


def load_banded_pruned(
    spark, banded_dir: str, probe_banded: DataFrame,
    max_pushdown: int | None = None,
):
    """Read a standing ``banded`` index directory scoped to the buckets a
    probe batch can collide with. Returns the (possibly pruned) banded
    DataFrame with columns (doc, band, bh).

    Two pruning levels when the directory uses the
    :func:`write_minhash_index` ``bp=`` partition layout: partition
    pruning on the batch's bh prefixes, then an exact ``bh IN`` pushdown
    (row-group skip) when the batch holds ≤ ``max_pushdown`` distinct
    band hashes. ``max_pushdown`` defaults to the session's
    ``spark.sql.parquet.pushdown.inFilterThreshold`` (100 in
    :mod:`rs_graphdb_spark.session` — capped there because larger IN
    lists StackOverflow the parquet filter converter): above the
    threshold the scan converts the IN to a min/max range that skips no
    row groups over uniform hashes, so collecting more values buys
    nothing — row-group pruning genuinely applies only to very small
    batches (~3 docs at 32 bands/doc); bigger batches rely on the
    ``bp=`` partition pruning alone. A flat (unpartitioned) directory is
    read as-is — compatibility with indexes written by plain
    ``.parquet()`` appends."""
    import os

    if max_pushdown is None:
        max_pushdown = int(
            spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold", "100")
        )
    banded = spark.read.parquet(banded_dir)
    if "bp" not in banded.columns:
        return banded
    # ONE driver round-trip for both pruning levels: the prefix set, the
    # distinct-bh count, and (when small enough for the IN pushdown) the
    # bh values themselves — per-batch floor cost is per-JOB, so the two
    # collects this used to be were pure overhead (r4 verdict #3)
    row = probe_banded.agg(
        F.collect_set(F.substring("bh", 1, 1)).alias("bp"),
        F.count_distinct("bh").alias("nbh"),
    ).collect()[0]
    banded = banded.filter(F.col("bp").isin(list(row["bp"]))).drop("bp")
    if row["nbh"] <= max_pushdown:
        bhs = [
            r[0] for r in probe_banded.select("bh").dropDuplicates().collect()
        ]
        banded = banded.filter(F.col("bh").isin(bhs))
    return banded


def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    k: int = 3,
    sets_df: DataFrame | None = None,
) -> DataFrame:
    """The end-to-end dedup decision: MinHash/LSH pair graph → connected
    components → per-cluster keeper (minimum id). Returns one row per
    document: (doc_id, cluster, keep) — ``cluster`` is the min doc id of
    its near-dup component (its own id when it has no near-dups) and
    ``keep`` marks the cluster representative to retain.

    This is what a 100 TB dedup pass actually emits: the pair join and
    component computation run over the (tiny) duplicate subgraph only —
    documents with no candidate pair never enter the iteration."""
    from rs_graphdb_spark.algorithms.graph_algos import connected_components

    spark = df.sparkSession
    pairs = minhash_dedup_pairs(
        df, id_col, text_col, threshold=threshold, k=k, sets_df=sets_df
    )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    nodes = (
        pairs.select(F.col("a").alias("id"))
        .unionByName(pairs.select(F.col("b").alias("id")))
        .dropDuplicates(["id"])
    )
    comp = connected_components(nodes, edges)
    out = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("cluster"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster"))
    )
    return out


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 50,
    max_span_df: int | None = 10_000,
    mode: str = "ascii",
) -> DataFrame:
    """Long-duplicate-span detection (the MassiveText / "Deduplicating
    Training Data Makes Language Models Better" family): two documents
    sharing ANY identical k-token span (k=50 tokens by convention) are
    near-certainly sharing boilerplate or quoted text even when their
    global Jaccard is low — the complement of whole-document near-dup.

    Returns ``(a, b, n_spans)`` with a < b: the number of DISTINCT
    shared k-token spans per document pair. Scale shape: spans hash to
    one md5 long each at scan (never shuffling span text), one groupBy
    builds posting lists, co-posting pairs stream from the bounded
    emitter (:func:`_posting_pairs`); ``max_span_df`` cuts degenerate
    boilerplate spans the same way the Jaccard join cuts stop shingles.
    The full suffix-array construction the paper uses finds partially
    overlapping spans too; the k-gram grid here is the standard
    distributed approximation (a duplicated run of length L ≥ k shares
    ⌈L−k+1⌉ grid spans, so any duplication ≥ k tokens is caught)."""
    # Fan out under-split inputs (r11, guide §6 — the q104 lesson): the
    # k=50 shingle walk + per-span md5 is the expensive projection and a
    # small dense parquet file scans as 1-2 splits; hash-repartition by
    # id when the source is under-parallel (cheap text exchange, full-
    # width compute; already-split production tables skip it). Counts
    # downstream are integers — order-free, results unchanged.
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par, id_col)
    # 60-bit span hash (15 md5 hex chars — the 32-bit md5_long used for
    # minhash seeds birthday-collides already at ~20k distinct spans;
    # found as a false pair in the driver diff). At 60 bits a collision
    # costs one spurious pair, never a missed one.
    spans = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.transform(
                shingles(text_col, k, mode),
                lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10)
                .cast("long"),
            )
        ).alias("h"),
    )
    g = spans.groupBy("h").agg(
        F.array_distinct(F.sort_array(F.collect_list("doc"))).alias("ds")
    ).filter(F.size("ds") >= 2)
    if max_span_df is not None:
        g = g.filter(F.size("ds") <= max_span_df)
    pairs = _posting_pairs(g.select("ds"))
    return _lazy_result(
        pairs.groupBy("a", "b").agg(F.count("*").alias("n_spans"))
    )


def duplicate_span_extents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 50,
    max_span_df: int | None = 10_000,
    mode: str = "ascii",
) -> DataFrame:
    """Merged duplicate EXTENTS per doc pair (r7 VERDICT item #7 — the
    Lee-et-al exact-substring output a removal pass needs):
    :func:`duplicate_spans` reports k-gram GRID hits, so two docs
    sharing a 500-token boilerplate block emit ~450 overlapping span
    rows; this coalesces them into the one maximal token range. Returns
    ``(a, b, doc, start_tok, end_tok, n_spans)`` with a < b — one row
    per merged extent per SIDE of the pair (``doc`` ∈ {a, b};
    ``end_tok`` exclusive; a duplicated run of length L ≥ k appears as
    exactly one extent of length L).

    Plan shape: positional span hashes at scan (60-bit md5, never
    shuffling span text), one groupBy(h) builds postings, the bounded
    pair emitter streams co-posting pairs, positions re-attach on the
    SAME hash key, then gaps-and-islands per (a, b, doc) — the
    sessionize machinery: two consecutive span starts merge while
    ``pos − prev ≤ k`` (overlapping or touching). ``max_span_df`` cuts
    degenerate boilerplate spans as in :func:`duplicate_spans`."""
    from pyspark.sql.window import Window

    spans = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.transform(
                F.array(tokenize(text_col, mode)),
                lambda toks: F.when(
                    F.size(toks) >= k,
                    F.transform(
                        F.sequence(F.lit(0), F.size(toks) - k),
                        lambda i: F.conv(
                            F.substring(
                                F.md5(F.array_join(
                                    F.slice(toks, i + 1, k), " ")),
                                1, 15),
                            16, 10).cast("long"),
                    ),
                ).otherwise(F.array().cast("array<long>")),
            )[0]
        ).alias("pos", "h"),
    ).localCheckpoint()  # scanned twice: postings + position re-attach
    g = spans.groupBy("h").agg(
        F.array_distinct(F.sort_array(F.collect_list("doc"))).alias("ds")
    ).filter(F.size("ds") >= 2)
    if max_span_df is not None:
        g = g.filter(F.size("ds") <= max_span_df)
    ph = (
        g.select("h", F.col("ds"), F.posexplode("ds").alias("i", "a"))
        .select(
            "h", "a",
            F.explode(F.slice("ds", F.col("i") + 2, F.size("ds"))).alias("b"),
        )
    )
    sides = (
        ph.join(spans, "h")
        .filter((F.col("doc") == F.col("a")) | (F.col("doc") == F.col("b")))
        .select("a", "b", "doc", "pos")
        .dropDuplicates(["a", "b", "doc", "pos"])
    )
    w = Window.partitionBy("a", "b", "doc").orderBy("pos")
    isl = (
        sides.withColumn(
            "_new",
            F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0))
            .otherwise(F.lit(1)),
        )
        .withColumn(
            "island",
            F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return _materialize_result(
        isl.groupBy("a", "b", "doc", "island")
        .agg(
            F.min("pos").alias("start_tok"),
            (F.max("pos") + k).alias("end_tok"),
            F.count("*").alias("n_spans"),
        )
        .drop("island"),
        spans,
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 50,
    max_span_df: int | None = 10_000,
    mode: str = "ascii",
) -> DataFrame:
    """The exact-substring REMOVAL pass (Lee et al. "Deduplicating
    Training Data Makes Language Models Better") that CONSUMES
    :func:`duplicate_span_extents`: for every pair (a < b) sharing a
    duplicated run, the run is cut from the HIGHER id (the b side) so
    exactly one copy of each duplicated block survives corpus-wide for
    a pair; a doc in many pairs loses the UNION of its b-side extents
    (overlapping extents merged into disjoint intervals first — the
    same gaps-and-islands machinery, this time keyed per doc).

    Returns ``(doc_id, clean_text, n_removed)`` for every input doc:
    ``clean_text`` is the surviving TOKEN stream rejoined with single
    spaces (removal operates in token space — the positions the extents
    are expressed in), ``n_removed`` the count of tokens cut. Docs
    untouched by any extent pass through with ``n_removed = 0``.

    Plan shape: the extent computation is the audited
    `duplicate_span_extents` plan; the removal itself is one window
    pass over the extent set (sized by the duplicate subgraph, not the
    corpus) + one equi-join of per-doc interval arrays back onto the
    corpus scan — left UNFORCED so AQE broadcasts it when the dup set
    is small and falls back to a shuffle when it is not — where a
    codegen two-arg `filter` drops covered token positions."""
    from pyspark.sql.window import Window

    ext = duplicate_span_extents(df, id_col, text_col, k, max_span_df,
                                 mode)
    rem = ext.filter(F.col("doc") == F.col("b")).select(
        "doc", "start_tok", "end_tok")
    w = Window.partitionBy("doc").orderBy("start_tok", "end_tok")
    flg = rem.withColumn(
        "_pe",
        F.max("end_tok").over(w.rowsBetween(Window.unboundedPreceding, -1)),
    ).withColumn(
        "_new",
        F.when(F.col("start_tok") <= F.col("_pe"), F.lit(0))
        .otherwise(F.lit(1)),
    ).withColumn(
        "island",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ivs = (
        flg.groupBy("doc", "island")
        .agg(F.min("start_tok").alias("s"), F.max("end_tok").alias("e"))
        .groupBy("doc")
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("ivs"))
    )
    docs = df.select(F.col(id_col).alias("doc"),
                     tokenize(text_col, mode).alias("t"))
    kept = F.when(F.col("ivs").isNull(), F.col("t")).otherwise(
        F.filter(
            F.col("t"),
            lambda _x, i: ~F.exists(
                F.col("ivs"),
                lambda v: (i >= v["s"]) & (i < v["e"]),
            ),
        )
    )
    cleaned = docs.join(ivs, "doc", "left") \
        .select("doc", "t", kept.alias("kt"))
    return cleaned.select(
        F.col("doc").alias("doc_id"),
        F.array_join("kt", " ").alias("clean_text"),
        (F.size("t") - F.size("kt")).cast("long").alias("n_removed"),
    )


def ngram_contamination(
    train_df: DataFrame,
    bench_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    train_sets: DataFrame | None = None,
    mode: str = "ascii",
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    k-gram with a benchmark/eval set — the standard guard against test-set
    leakage into a pretraining corpus (beyond near-dup: a doc QUOTING a
    benchmark question must be caught even when globally dissimilar).

    Returns (doc_id, n_hits, n_shingles, hit_ratio) for training docs with
    ≥1 benchmark shingle. Scale shape: the benchmark shingle set is small
    (evals are MBs, corpora are TBs) → distinct-shingle semi-join with the
    benchmark side broadcast; the corpus is scanned once, never shuffled
    on anything but its own exploded shingles."""
    if train_sets is None:
        train_sets = shingle_sets(train_df, id_col, text_col, k,
                                  mode=mode)
    bench = (
        bench_df.select(F.explode(shingles(text_col, k, mode)).alias("s"))
        .dropDuplicates()
    )
    tr = train_sets.select("doc_id", F.size("sets").alias("n_shingles"),
                           F.explode("sets").alias("s"))
    hits = (
        tr.join(F.broadcast(bench), "s")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count("*").alias("n_hits"))
    )
    return hits.select(
        "doc_id", "n_hits", "n_shingles",
        F.round(F.col("n_hits") / F.greatest("n_shingles", F.lit(1)), 6).alias(
            "hit_ratio"
        ),
    )


def simhash(
    col: Column | str, bits: int = SIMHASH_BITS, mode: str = "ascii"
) -> Column:
    """SimHash: per-token 32-bit hash, per-bit ±1 vote weighted by token
    multiplicity, packed into a long. Pure expression (no shuffle)."""
    toks = tokenize(col, mode)
    hs = F.transform(toks, md5_long)
    packed = F.lit(0).cast("long")
    for j in range(bits):
        vote = F.aggregate(
            hs,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )
        packed = packed + F.when(vote > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return packed


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    chunks: int = SIMHASH_CHUNKS,
    mode: str = "ascii",
) -> DataFrame:
    """SimHash near-dup pairs: chunk banding (pigeonhole-complete for
    hamming ≤ chunks-1) then exact hamming verify via bit_count(xor)."""
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    par = df.sparkSession.sparkContext.defaultParallelism
    # fan out single-split inputs + materialize signatures once (see
    # minhash_dedup_pairs) — the banded self-join reads them twice
    sigs = (
        df.repartition(par, id_col)
        .select(F.col(id_col).alias("doc"),
                simhash(text_col, bits, mode).alias("sig"))
        .localCheckpoint(eager=True)
    )
    banded = sigs.select(
        "doc", "sig",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("chunk"),
                    F.shiftright("sig", i * chunk_bits).bitwiseAND(F.lit(mask)).alias("ch"),
                )
                for i in range(chunks)
            ])
        ).alias("e"),
    ).select("doc", "sig", "e.chunk", "e.ch")
    l, r = banded.alias("l"), banded.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.ch") == F.col("r.ch"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("a"), F.col("r.doc").alias("b"),
            F.bit_count(F.col("l.sig").bitwiseXOR(F.col("r.sig"))).alias("hamming"),
        )
        .dropDuplicates(["a", "b"])
    )
    return _materialize_result(cands.filter(F.col("hamming") <= max_hamming))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by normalized-token fingerprint: one row per distinct
    content, with group size and the surviving (minimum) id."""
    from rs_graphdb_spark.functions.text import fingerprint

    return (
        df.select(F.col(id_col).alias("doc_id"), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float-array columns, JVM-side
    (``zip_with`` dot product + ``aggregate`` norms).

    A zero-norm side yields NULL (``try_divide``), not NaN and not an
    ANSI DIVIDE_BY_ZERO error — cosine is undefined there, and NULL
    propagates through ``>= threshold`` filters as not-a-match in both
    ANSI and legacy sessions (the driver makes no ANSI promise)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, v: s + v * v))
    return F.try_divide(dot, na * nb)


def cosine_pairs_arrow(df: DataFrame, a_col: str, b_col: str,
                       alias: str = "cos") -> DataFrame:
    """:func:`cosine` over per-row vector pairs as a fold-left Arrow
    kernel: every other column passes through untouched; the two vector
    columns are consumed and replaced by one ``alias`` double.

    Bit-identical to the expression form — the dot/norm folds run
    vectorized across ROWS but element-by-element over the dimension
    axis (``acc += A[:, j] * B[:, j]``), the exact IEEE-754 sequence of
    ``aggregate(zip_with(...), 0.0, (s, v) -> s + v)`` — because the
    expression form pays ~1 µs per interpreted HOF element step (HOF
    lambdas never reach codegen; the r10 bench measured 0.65 s for 10k
    dim-64 cosines). Null semantics reproduced exactly: length-mismatch
    pairs (``zip_with`` pads with nulls), null vectors, null elements
    and zero norms (``try_divide``) all yield NULL."""
    import numpy as np
    import pyarrow as pa

    other = [c for c in df.columns if c not in (a_col, b_col)]
    in_df = df.select(
        *other,
        F.col(a_col).cast("array<double>").alias("_ca"),
        F.col(b_col).cast("array<double>").alias("_cb"),
    )
    ddl = ", ".join(
        f"`{c}` {in_df.schema[c].dataType.simpleString()}" for c in other
    )
    ddl = (ddl + ", " if ddl else "") + f"`{alias}` double"
    ia, ib = len(other), len(other) + 1

    def _row_clean(arr):
        """(values_np | pylist, offsets, row-validity) for one list col."""
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        offs = arr.offsets.to_numpy(zero_copy_only=False)
        vals = arr.values
        if arr.null_count == 0 and vals.null_count == 0:
            return (vals.to_numpy(zero_copy_only=False), offs,
                    np.ones(len(arr), dtype=bool), None)
        lst = arr.to_pylist()
        ok = np.array(
            [v is not None and all(x is not None for x in v) for v in lst],
            dtype=bool)
        return None, offs, ok, lst

    def _fn(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            va, offa, oka, lsta = _row_clean(batch.column(ia))
            vb, offb, okb, lstb = _row_clean(batch.column(ib))
            lens_a = np.diff(offa)
            lens_b = np.diff(offb)
            cos = np.full(n, np.nan)
            valid = np.zeros(n, dtype=bool)
            ok = oka & okb & (lens_a == lens_b)
            for d in np.unique(lens_a[ok]):
                idx = np.flatnonzero(ok & (lens_a == d))
                if d == 0:
                    continue  # zero-dim: norms 0 -> try_divide NULL
                if va is not None:
                    A = va[offa[idx][:, None] + np.arange(d)[None, :]]
                else:
                    A = np.asarray([lsta[i] for i in idx], dtype=np.float64)
                if vb is not None:
                    B = vb[offb[idx][:, None] + np.arange(d)[None, :]]
                else:
                    B = np.asarray([lstb[i] for i in idx], dtype=np.float64)
                dot = np.zeros(len(idx))
                na2 = np.zeros(len(idx))
                nb2 = np.zeros(len(idx))
                for j in range(d):
                    ca, cb = A[:, j], B[:, j]
                    dot += ca * cb
                    na2 += ca * ca
                    nb2 += cb * cb
                denom = np.sqrt(na2) * np.sqrt(nb2)
                good = denom != 0.0
                cos[idx] = np.where(
                    good, dot / np.where(good, denom, 1.0), np.nan)
                valid[idx] = good
            out = [None if not valid[i] else float(cos[i]) for i in range(n)]
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(len(other))]
                + [pa.array(out, type=pa.float64())],
                other + [alias],
            )

    return in_df.mapInArrow(_fn, ddl)


def embedding_near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95
) -> DataFrame:
    """Embedding near-dup pairs by cosine ≥ threshold.

    This is the exact all-pairs form (self-join) — correct at any scale but
    O(n²); the 100 TB path is the LSH-bucketed variant in
    `functions/similarity.py` (`hyperplane_lsh_buckets`), which makes the
    join bucket-local."""
    par = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(par, id_col)
    x = df.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    y = df.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        cosine_pairs_arrow(
            x.join(y, F.col("a") < F.col("b")).select("a", "b", "va", "vb"),
            "va", "vb")
        .filter(F.col("cos") >= threshold)
    )


def soft_dedup_weights(
    clusters: DataFrame,
    scale: int = 1_000_000,
) -> DataFrame:
    """SoftDeDup-style down-weighting: instead of DROPPING near-dups,
    every member of a duplicate cluster gets weight ``1/cluster_size``
    so repeated content contributes one document's worth of training
    mass in aggregate (the soft alternative to the keeper policy).

    Input is :func:`near_dup_clusters` output ``(doc_id, cluster,
    keep)``; returns ``(doc_id, cluster, n_dups, weight_micro)`` where
    ``weight_micro = floor(scale / n_dups)`` — INTEGER micro-weights
    (the classifier-micro-weight convention) so the oracle comparison is
    bit-exact; divide by ``scale`` at the training boundary.

    Plan: one window count over the cluster key — same exchange the
    cluster assignment already produced. A pathological mega-cluster is
    bounded by the dedup pair graph itself (LSH-banded, never all-pairs).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("cluster")
    n = F.count("*").over(w)
    return clusters.select(
        "doc_id",
        "cluster",
        n.cast("long").alias("n_dups"),
        F.floor(F.lit(float(scale)) / n).cast("long").alias("weight_micro"),
    )
