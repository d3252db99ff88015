"""Oracle-parity harness — mimics the driver's t2 check.

Runs every entry in ``__spark_entry__.queries()`` on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet corpus, then
compares row count, column names, and an order-insensitive canonical
value representation. Used by tests/test_oracle_parity.py and runnable
directly: ``python tests/parity.py [sf_dir]``.
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql.types import ArrayType, MapType, StructType

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per corpus table. The caller
    owns it: reuse it across queries and close it (``with`` closes)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize cell values to strings, sort rows."""
    df = df[sorted(df.columns)].copy()

    def norm_cell(v):
        if v is None or (isinstance(v, float) and np.isnan(v)) or v is pd.NaT:
            return "NULL"
        if isinstance(v, (np.floating, float)):
            return repr(float(v))
        if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
            return str(int(v))
        if isinstance(v, (pd.Timestamp,)):
            return v.isoformat()
        if isinstance(v, (np.ndarray, list)):
            return "[" + ",".join(norm_cell(x) for x in v) + "]"
        return str(v)

    out = df.apply(lambda col: col.map(norm_cell))
    out = out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)
    return out


def compare_query(
    spark, name: str, fn, sql: str, sf_dir: str, con: duckdb.DuckDBPyConnection
) -> list[str]:
    """Return a list of mismatch descriptions (empty = pass). ``con`` is
    a :func:`duckdb_conn` over the same ``sf_dir``."""
    problems: list[str] = []
    sdf = fn(spark, sf_dir)
    # The driver's canonicalizer (pandas sort_values over raw cells)
    # crashes on list/dict cells — r4's quantize_embeddings red row. Any
    # complex-typed output column is therefore a harness-level failure
    # here too, even though canonicalize() below happens to stringify
    # arrays: serialize (to_json / array_join) in the query wrapper.
    complex_cols = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    if complex_cols:
        problems.append(
            f"{name}: complex-typed output columns {complex_cols} — the "
            "driver canonicalizer cannot hash these; serialize them in "
            "the query wrapper"
        )
        return problems
    spark_pd = sdf.toPandas()
    duck_pd = con.execute(sql).df()
    if sorted(spark_pd.columns) != sorted(duck_pd.columns):
        problems.append(
            f"{name}: column mismatch spark={sorted(spark_pd.columns)} "
            f"duck={sorted(duck_pd.columns)}"
        )
        return problems
    if len(spark_pd) != len(duck_pd):
        problems.append(
            f"{name}: row count spark={len(spark_pd)} duck={len(duck_pd)}"
        )
        return problems
    a, b = canonicalize(spark_pd), canonicalize(duck_pd)
    if not a.equals(b):
        neq = (a != b).any(axis=1)
        idx = list(a.index[neq])[:3]
        for i in idx:
            problems.append(
                f"{name}: value mismatch row {i}:\n  spark={a.loc[i].to_dict()}\n"
                f"  duck ={b.loc[i].to_dict()}"
            )
    return problems


def run_all(spark, sf_dir: str, only: list[str] | None = None) -> dict[str, list[str]]:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results: dict[str, list[str]] = {}
    with duckdb_conn(sf_dir) as con:
        for name, fn in qs.items():
            if only and name not in only:
                continue
            try:
                results[name] = compare_query(
                    spark, name, fn, oracles[name], sf_dir, con
                )
            except Exception as e:  # noqa: BLE001
                results[name] = [f"{name}: EXCEPTION {type(e).__name__}: {e}"]
    return results


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from dataeng_azure_spotify_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    spark = get_spark(app_name="parity")
    res = run_all(spark, sf_dir, only)
    n_fail = 0
    for name, probs in res.items():
        status = "PASS" if not probs else "FAIL"
        if probs:
            n_fail += 1
        print(f"[{status}] {name}")
        for p in probs:
            print("   ", p)
    print(f"\n{len(res) - n_fail}/{len(res)} queries pass")
    sys.exit(1 if n_fail else 0)
