"""Local oracle-differential checker mirroring the driver's t2 gate.

Runs each __spark_entry__.queries() entry on Spark and its oracle_sql()
twin on DuckDB at the given sf dir, then compares row count, sorted column
names, and the sorted value matrix. Floats compared exactly first, with a
1e-9 relative fallback reported separately (the driver hashes values, so
anything needing the fallback is a WARNING to fix, not a pass).

Usage: python tools/check.py [sf_dir] [query_name ...]

Set CHECK_VANILLA=1 to run with a driver-like session instead of the
engine's tuned factory: default confs, a deliberately non-UTC timezone,
Arrow off. The driver makes no promises about its SparkSession — this
mode catches session-dependent results (a timezone-sensitive epoch
conversion slipped through round 2 until probed this way).
"""

from __future__ import annotations

import sys
import time
import traceback
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    df = df.reindex(sorted(df.columns), axis=1)
    # canonicalize cell types: lists/arrays → tuples for sortability
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, tuple, np.ndarray))).any():
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple, np.ndarray)) else v
            )
        elif str(df[c].dtype).startswith(("float", "Float")):
            df[c] = df[c].astype("float64")
        elif str(df[c].dtype).startswith(("int", "Int", "uint")):
            df[c] = df[c].astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: v.item() if hasattr(v, "item") else v)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str:
    if len(spark_pdf) != len(duck_pdf):
        return f"ROWS {len(spark_pdf)} vs {len(duck_pdf)}"
    a_cols, b_cols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if a_cols != b_cols:
        return f"COLS {a_cols} vs {b_cols}"
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if a.equals(b):
        return "OK"
    # locate mismatches
    diffs = []
    for c in a.columns:
        if not a[c].equals(b[c]):
            try:
                import numpy as np

                av, bv = a[c].astype(float), b[c].astype(float)
                close = np.allclose(av, bv, rtol=1e-9, atol=1e-9, equal_nan=True)
                mx = float((av - bv).abs().max())
                diffs.append(f"{c}: maxdiff={mx:.3e}{' (close)' if close else ''}")
            except (TypeError, ValueError):
                bad = (a[c] != b[c]) & ~(a[c].isna() & b[c].isna())
                n = int(bad.sum())
                ex = (
                    f" e.g. {a[c][bad].iloc[0]!r} vs {b[c][bad].iloc[0]!r}"
                    if n else ""
                )
                if n:
                    diffs.append(f"{c}: {n} cells differ{ex}")
    return "VALUES " + "; ".join(diffs) if diffs else "OK(after-normalize)"


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import os

    import __spark_entry__ as entry_mod

    if os.environ.get("CHECK_VANILLA"):
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check-vanilla")
            .config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("WARN")
    else:
        from rs_graphdb_spark.session import get_spark

        spark = get_spark("check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    failed = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"{name:28s} SPARK ERROR\n{traceback.format_exc()}")
            failed.append(name)
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"{name:28s} rows-only: {len(sdf)} rows  [{t_spark:.1f}s]")
            continue
        t1 = time.time()
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"{name:28s} ORACLE ERROR\n{traceback.format_exc()}")
            failed.append(name)
            continue
        t_duck = time.time() - t1
        verdict = compare(name, sdf, ddf)
        flag = "" if verdict == "OK" else " <<<<"
        print(
            f"{name:28s} {verdict} ({len(sdf)} rows) "
            f"[spark {t_spark:.1f}s / duck {t_duck:.1f}s]{flag}"
        )
        if verdict != "OK":
            failed.append(name)
    print(f"\n{len(failed)} failing: {failed}" if failed else "\nALL OK")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
