"""Expected answers from DuckDB over the same parquet files.

Every expected answer is a pure function of the dataset and the op's
parameters, so answers are cached in one JSON file per dataset and computed
before the engine starts: oracle time never lands in a measured region.
Batch jobs use the repository's own DuckDB twins (``__spark_entry__``).
"""

from __future__ import annotations

import hashlib
import json
import math
import pathlib

from rs_graphdb_spark.graph import label_base

CUSTOMER = label_base("Customer")
ORDER = label_base("Order")
PART = label_base("Part")

#: The loader's derived KNOWS edge set (``loaders.load_tpch_graph``).
KNOWS = """
    SELECT a.c_custkey AS src_key, b.c_custkey AS dst_key
    FROM customer a JOIN customer b
      ON b.c_custkey IN (a.c_custkey + 1, a.c_custkey + 2)
     AND b.c_mktsegment = a.c_mktsegment
"""

NEXT_ORDER = """
    SELECT src, dst FROM (
        SELECT o_orderkey AS src,
               lead(o_orderkey) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey) AS dst
        FROM orders) WHERE dst IS NOT NULL
"""

STATS = f"""
    SELECT 'n:Customer', count(*) FROM customer
    UNION ALL SELECT 'n:Document', count(*) FROM documents
    UNION ALL SELECT 'n:Embedding', count(*) FROM embeddings
    UNION ALL SELECT 'n:Nation', count(*) FROM nation
    UNION ALL SELECT 'n:Order', count(*) FROM orders
    UNION ALL SELECT 'n:Part', count(*) FROM part
    UNION ALL SELECT 'n:Region', count(*) FROM region
    UNION ALL SELECT 'n:Supplier', count(*) FROM supplier
    UNION ALL SELECT 'r:PLACED', count(*) FROM orders
    UNION ALL SELECT 'r:CONTAINS', count(*) FROM lineitem
    UNION ALL SELECT 'r:SUPPLIED_BY', count(*) FROM
        (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    UNION ALL SELECT 'r:CUST_NATION', count(*) FROM customer
    UNION ALL SELECT 'r:SUPP_NATION', count(*) FROM supplier
    UNION ALL SELECT 'r:IN_REGION', count(*) FROM nation
    UNION ALL SELECT 'r:KNOWS', count(*) FROM ({KNOWS})
    UNION ALL SELECT 'r:SEGMENT_RING', count(*) FROM customer
    UNION ALL SELECT 'r:NEXT_ORDER', count(*) FROM ({NEXT_ORDER})
"""

_COUNT_PLACED = """
    SELECT count(*) FROM customer JOIN orders ON o_custkey = c_custkey
    WHERE c_nationkey = {nation}{extra}
"""


def read_sql(op_type: str, p: dict) -> str:
    """DuckDB twin of one interactive or served read."""
    if op_type == "point_lookup":
        return (f"SELECT {CUSTOMER} + c_custkey AS id, c_name, c_acctbal "
                f"FROM customer WHERE c_custkey = {p['custkey']}")
    if op_type == "one_hop_count":
        return _COUNT_PLACED.format(nation=p["nation"], extra="")
    if op_type in ("cypher_match", "cypher"):
        return _COUNT_PLACED.format(
            nation=p["nation"], extra=f" AND o_totalprice > {p['min_price']}")
    if op_type in ("three_hop_count", "cypher_3hop"):
        return f"""
            SELECT count(*) FROM customer
            JOIN orders ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            JOIN (SELECT DISTINCT l_partkey AS pk, l_suppkey FROM lineitem) sp
              ON sp.pk = l_partkey
            WHERE c_nationkey = {p['nation']}
        """
    if op_type == "grouped_agg":
        return f"""
            SELECT c_mktsegment, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
            FROM customer JOIN orders ON o_custkey = c_custkey
            WHERE c_nationkey IN ({', '.join(map(str, p['nations']))})
            GROUP BY c_mktsegment
        """
    if op_type == "var_length":
        lo = p["cust_lo"]
        return f"""
            WITH e AS ({NEXT_ORDER}),
            s AS (SELECT o_orderkey AS k FROM orders
                  WHERE o_custkey BETWEEN {lo} AND {lo + 49}
                    AND o_orderpriority = '{p['priority']}'),
            h1 AS (SELECT e.dst AS k FROM e JOIN s ON e.src = s.k),
            h2 AS (SELECT e2.dst AS k FROM e e2 JOIN h1 ON e2.src = h1.k)
            SELECT DISTINCT {ORDER} + k AS id
            FROM (SELECT k FROM h1 UNION SELECT k FROM h2) u
            WHERE k NOT IN (SELECT k FROM s)
        """
    if op_type == "shortest_path":
        src, dst = p["src"], p["src"] + p["hops"]
        return f"""
            WITH RECURSIVE k AS ({KNOWS}),
            walk AS (
                SELECT {src} AS node, 0 AS dist
                UNION ALL
                SELECT k.dst_key, walk.dist + 1
                FROM walk JOIN k ON k.src_key = walk.node
                WHERE walk.dist < {p['hops']}
            )
            SELECT CAST(min(dist) AS INTEGER) FROM walk WHERE node = {dst}
        """
    if op_type == "query":
        return (f"SELECT {ORDER} + o_orderkey FROM orders "
                f"WHERE o_custkey = {p['custkey']}")
    if op_type == "node":
        return (f"SELECT {CUSTOMER} + c_custkey AS id, c_custkey, c_name, "
                f"c_nationkey, c_acctbal, c_mktsegment FROM customer "
                f"WHERE c_custkey = {p['custkey']}")
    if op_type == "neighbors":
        k = p["orderkey"]
        return f"""
            SELECT {CUSTOMER} + o_custkey, 'PLACED', 'in' FROM orders
              WHERE o_orderkey = {k}
            UNION ALL SELECT {PART} + l_partkey, 'CONTAINS', 'out' FROM lineitem
              WHERE l_orderkey = {k}
            UNION ALL SELECT {ORDER} + dst, 'NEXT_ORDER', 'out' FROM ({NEXT_ORDER})
              WHERE src = {k}
            UNION ALL SELECT {ORDER} + src, 'NEXT_ORDER', 'in' FROM ({NEXT_ORDER})
              WHERE dst = {k}
        """
    raise ValueError(f"no oracle for {op_type!r}")


def job_sql(job: str, p: dict) -> str:
    """The repository's DuckDB twin of one batch job (``__spark_entry__``)."""
    import __spark_entry__ as entry

    base = entry._oracle_base()
    if job == "pagerank":
        return entry._pagerank_sql(KNOWS, damping=p["damping"],
                                   iterations=p["iterations"])
    if job == "label_propagation":
        return entry._lpa_sql(KNOWS, iterations=p["iterations"])
    if job == "k_core":
        return entry._kcore_sql(KNOWS, k=p["k"], rounds=10)
    if job == "connected_components":
        return base["q33_connected_components"]
    if job == "strongly_connected_components":
        return base["q60_scc"]
    if job == "bfs_distances":
        lo = p["start_lo"]
        return _replace_once(_replace_once(
            base["q55_bfs_layers"], "WHERE c_custkey < 10",
            f"WHERE c_custkey BETWEEN {lo} AND {lo + p['n_start'] - 1}"),
            "walk.dist < 4", f"walk.dist < {p['max_depth']}")
    if job == "exact_dedup_groups":
        return base["q43_exact_dedup"]
    if job in ("minhash_dedup_pairs", "ngram_jaccard_pairs"):
        fixed = 0.8 if job == "minhash_dedup_pairs" else 0.5
        if p["threshold"] != fixed:
            raise ValueError(f"the repository's {job} twin is fixed at {fixed}")
        return base["q44_minhash_lsh_dedup" if fixed == 0.8 else "q46_ngram_jaccard"]
    if job == "knn_bruteforce":
        ids = ", ".join(map(str, p["query_ids"]))
        return _replace_once(_replace_once(
            base["q48_knn_bruteforce"], "WHERE vec_id < 5", f"WHERE vec_id IN ({ids})"),
            "rank <= 10", f"rank <= {p['k']}")
    if job == "shingle_sets":
        from data import POSTINGS_SQL

        return POSTINGS_SQL.format(source="documents")
    raise ValueError(f"no oracle for job {job!r}")


def _replace_once(sql: str, old: str, new: str) -> str:
    """Re-parameterize a repository twin; fail loudly if its text moved."""
    if sql.count(old) != 1:
        raise ValueError(f"oracle twin no longer contains {old!r} exactly once")
    return sql.replace(old, new)


def _plain(v):
    if isinstance(v, float):
        return v
    if hasattr(v, "item"):
        return v.item()
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    return v


class Oracle:
    """DuckDB answers for one dataset directory, cached on disk."""

    def __init__(self, sf_dir: pathlib.Path, cache: pathlib.Path):
        self.sf_dir = sf_dir
        self.cache_path = cache
        try:
            self.cache = json.loads(cache.read_text())
        except (OSError, ValueError):
            self.cache = {}
        self._con = None

    def rows(self, sql: str) -> list[list]:
        key = hashlib.sha256(sql.encode()).hexdigest()
        if key not in self.cache:
            if self._con is None:
                import duckdb

                self._con = duckdb.connect()
                self._con.execute("SET threads TO 2")
                self._con.execute("SET enable_progress_bar = false")
                for f in sorted(self.sf_dir.glob("*.parquet")):
                    self._con.execute(
                        f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
            self.cache[key] = [_plain(list(r)) for r in self._con.execute(sql).fetchall()]
        return self.cache[key]

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
            tmp = self.cache_path.with_suffix(".tmp")
            tmp.write_text(json.dumps(self.cache))
            tmp.replace(self.cache_path)


def canon(rows) -> list:
    """Order-independent form of a result: rows as lists, sorted."""
    return sorted((_plain(list(r)) for r in rows), key=repr)


def same(a, b, tol: float = 1e-6) -> bool:
    """Equal up to row order; floats within ``tol`` (6-dp rounding flips)."""
    a, b = canon(a), canon(b)
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=tol):
                    return False
            elif x != y:
                return False
    return True


def fingerprint(rows) -> str:
    """Order-independent digest of a result (floats at 6 dp)."""
    def norm(v):
        if isinstance(v, float):
            return round(v, 6)
        if isinstance(v, list):
            return [norm(x) for x in v]
        return v

    body = json.dumps([norm(r) for r in canon(rows)], default=str)
    return hashlib.sha256(body.encode()).hexdigest()[:16]
