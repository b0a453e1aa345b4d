"""Local differential harness mirroring the driver's correctness gate:
run every registered Spark query and its DuckDB oracle on the same parquet
tables, compare row-count + column names + order-insensitive values.

Usage: python tools/parity.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from data_ingestion_auto_spark.sources.tables import TABLES  # noqa: E402


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # Bound DuckDB's footprint when it shares a process with the Spark
    # JVM: 32 worker threads x aggressive buffer growth occasionally
    # trips native allocation failures on this host (observed as
    # jemalloc EAGAIN warnings / libc aborts mid-suite). Results are
    # unaffected — DuckDB output is deterministic at any thread count and
    # the comparison is order-insensitive.
    con.execute("SET threads = 8")
    con.execute("SET memory_limit = '24GB'")
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize cell values, sort rows."""
    df = df[sorted(df.columns)].copy()

    def cell(v):
        if v is None or (isinstance(v, float) and np.isnan(v)):
            return "<NULL>"
        if isinstance(v, (np.floating, float)):
            f = float(v)
            return "-0.0" if f == 0 else repr(f)
        if isinstance(v, (np.integer, int)):
            return str(int(v))
        if isinstance(v, (np.bool_, bool)):
            return str(bool(v))
        if isinstance(v, (pd.Timestamp,)):
            return v.isoformat()
        if isinstance(v, (list, np.ndarray)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    try:
        out = df.map(cell)
    except AttributeError:  # pandas < 2.1
        out = df.applymap(cell)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    errs: list[str] = []
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        errs.append(f"columns differ: spark={sorted(spark_df.columns)} duck={sorted(duck_df.columns)}")
        return errs
    if len(spark_df) != len(duck_df):
        errs.append(f"row count differs: spark={len(spark_df)} duck={len(duck_df)}")
    a, b = _canon(spark_df), _canon(duck_df)
    if len(a) == len(b) and not a.equals(b):
        neq = (a != b).any(axis=1)
        idx = neq[neq].index[:3]
        for i in idx:
            errs.append(f"row {i} differs:\n  spark={a.loc[i].to_dict()}\n  duck ={b.loc[i].to_dict()}")
    return errs


def run(sf_dir: str, only: list[str] | None = None) -> int:
    from data_ingestion_auto_spark import plans
    from data_ingestion_auto_spark.session import get_session

    # Python workers start in Spark's own working directory; they find
    # the package only through PYTHONPATH, which the JVM passes down.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )
    spark = get_session("parity")
    con = duck_connection(sf_dir)
    failures = 0
    names = only or list(plans.REGISTRY)
    for qname in names:
        q = plans.REGISTRY[qname]
        try:
            sdf = q.spark(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {qname}: spark raised {type(e).__name__}: {e}")
            failures += 1
            continue
        if q.oracle is None:
            print(f"ok   {qname}: rows-only ({len(sdf)} rows)")
            continue
        try:
            ddf = con.execute(q.oracle).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {qname}: duckdb raised {type(e).__name__}: {e}")
            failures += 1
            continue
        errs = compare(qname, sdf, ddf)
        if errs:
            failures += 1
            print(f"FAIL {qname}:")
            for e in errs:
                print("  " + e)
        else:
            print(f"ok   {qname}: {len(sdf)} rows match")
    return failures


if __name__ == "__main__":
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = args[1:] if args and os.path.isdir(args[0]) else args
    rc = run(sf_dir, only or None)
    sys.exit(1 if rc else 0)
