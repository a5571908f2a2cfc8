"""Benchmark inputs: an sf0.1-shaped TPC-H-ish dataset and its sf1 scale-up.

The tables have the schemas the engine's loader and the repository's DuckDB
oracle twins expect (``rs_graphdb_spark.loaders.TABLES``). They are generated
with NumPy from a fixed data seed, so every run in a checkout reads the same
bytes and the set-up, oracle and sf1 build are paid once per checkout. The
run seed (``--seed``) draws the operation sequence and its parameters.

``sf1`` is ``tools/make_bigsf.py 10`` applied to the generated sf0.1: ten
key-shifted copies, every document with nine near-duplicate twins.

Both builds are idempotent: a ``manifest.json`` written last marks a finished
build and records rows and bytes per table and shingle postings per corpus.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
import subprocess
import sys

import numpy as np

#: Bump when the generator changes, so stale checkouts rebuild.
DATA_VERSION = 1
DATA_SEED = 20_240_917

SF01 = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["large", "hot", "small", "cold", "red", "blue", "fast", "slow"]
PART_NOUNS = ["ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "screw"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window dup"
).split()

DAY_MS = 86_400_000
EPOCH_1995_MS = 788_918_400_000  # 1995-01-01T00:00:00
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00


def _write(table, path: pathlib.Path) -> None:
    import pyarrow.parquet as pq

    pq.write_table(table, path)


def _dataset_tables(rng: np.random.Generator) -> dict:
    import pyarrow as pa

    n = SF01
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n["customer"], dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, ck.size), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, ck.size), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, ck.size)],
    })
    sk = np.arange(n["supplier"], dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, sk.size), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, sk.size), 2),
    })
    pk = np.arange(n["part"], dtype=np.int64)
    names = np.array([f"{a} {b}" for a in PART_WORDS for b in PART_NOUNS])
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, names.size, pk.size)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, pk.size)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, pk.size)],
        "p_size": pa.array(rng.integers(1, 51, pk.size), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    ok = np.arange(n["orders"], dtype=np.int64)
    odate = EPOCH_1995_MS + rng.integers(0, 2404, ok.size) * DAY_MS
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n["customer"], ok.size).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, ok.size)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, ok.size), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("ms")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, ok.size)],
    })
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], m).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], m).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": pa.array(
            EPOCH_1995_MS + rng.integers(1, 2500, m) * DAY_MS, pa.timestamp("ms")),
    })
    e = n["events"]
    ts = EPOCH_2024_US + np.sort(rng.integers(0, 30 * 86_400_000_000, e))
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, e).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(60.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    t["documents"] = _documents(rng, n["documents"])
    d = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, d)
    vecs = centers[labels] + rng.normal(0.0, 1.5, (d, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(d, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def _documents(rng: np.random.Generator, n: int):
    """Bag-of-words documents over a small vocabulary. About 4% are edited
    copies of an earlier document (near duplicates for the Jaccard and
    MinHash joins) and about 0.3% are exact copies (exact-dedup groups)."""
    import pyarrow as pa

    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.04:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words + ["dup"]))
        elif i > 10 and r < 0.043:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(VOCAB[:-1])[rng.integers(0, len(VOCAB) - 1, k)]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


#: Postings = distinct word 3-grams per document, summed: the exact input
#: size ``ngram_jaccard_pairs`` compares with its packed-route threshold
#: (same tokenizer as ``rs_graphdb_spark.functions.text.TOKEN_RE``).
POSTINGS_SQL = """
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM {source}
    )
    SELECT count(*) FROM (
        SELECT doc_id, unnest(list_distinct(list_transform(
            range(len(t) - 2), i -> array_to_string(t[i + 1:i + 3], ' '))))
        FROM toks WHERE len(t) >= 3
    )
"""


def _manifest(out: pathlib.Path, extra: dict) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        tables = {}
        for f in sorted(out.glob("*.parquet")):
            rows = con.execute(f"SELECT count(*) FROM '{f}'").fetchone()[0]
            tables[f.stem] = {"rows": int(rows), "bytes": f.stat().st_size}
        postings = con.execute(
            POSTINGS_SQL.format(source=f"'{out / 'documents.parquet'}'")).fetchone()[0]
    finally:
        con.close()
    return {"version": DATA_VERSION, "data_seed": DATA_SEED, "tables": tables,
            "postings": int(postings), **extra}


def _finished(out: pathlib.Path) -> dict | None:
    try:
        m = json.loads((out / "manifest.json").read_text())
    except (OSError, ValueError):
        return None
    return m if m.get("version") == DATA_VERSION else None


def _publish(tmp: pathlib.Path, out: pathlib.Path, manifest: dict) -> None:
    (tmp / "manifest.json").write_text(json.dumps(manifest, indent=1))
    if out.exists():
        shutil.rmtree(out)
    os.replace(tmp, out)


def ensure_sf01(work: pathlib.Path) -> tuple[pathlib.Path, dict]:
    """Generate the sf0.1 dataset under ``work`` once; return (dir, manifest)."""
    out = work / "sf0.1"
    if (m := _finished(out)) is not None:
        return out, m
    tmp = work / "sf0.1.partial"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    rng = np.random.default_rng(DATA_SEED)
    for name, table in _dataset_tables(rng).items():
        _write(table, tmp / f"{name}.parquet")
    m = _manifest(tmp, {"scale": "sf0.1"})
    _publish(tmp, out, m)
    return out, m


def ensure_sf1(work: pathlib.Path, root: pathlib.Path) -> tuple[pathlib.Path, dict]:
    """Build sf1 = ``tools/make_bigsf.py 10`` over the generated sf0.1."""
    src, _ = ensure_sf01(work)
    out = work / "sf1"
    if (m := _finished(out)) is not None:
        return out, m
    tmp = work / "sf1.partial"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run(
        [sys.executable, str(root / "tools" / "make_bigsf.py"), "10",
         str(src), str(tmp)],
        check=True, stdout=subprocess.DEVNULL, cwd=root, timeout=600,
    )
    m = _manifest(tmp, {"scale": "sf1", "factor": 10})
    _publish(tmp, out, m)
    return out, m
