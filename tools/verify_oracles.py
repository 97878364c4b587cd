"""Local stand-in for the driver's correctness gate.

Runs every registry query on Spark and its DuckDB oracle on the same
parquet, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted,
floats canonicalized). Usage:

    python tools/verify_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_knlp_spark import registry  # noqa: E402
from etl_knlp_spark.catalog import TABLES, table_path  # noqa: E402
from etl_knlp_spark.session import get_spark  # noqa: E402


def _canon_obj(v):
    """Order-PRESERVING canonical string for object-column values
    (r15 comparator review): the old `str(sorted(v))` for lists would
    have greened a wrong-ORDER array result (tokenize-style outputs
    are order-semantic) — an unsoundness in the gate itself. Sets
    stay sorted (unordered by definition); lists/tuples/ndarrays keep
    their order and normalize to one spelling (Spark's toPandas
    yields python lists, DuckDB's .df() yields ndarrays — equal
    contents must hash equal); floats inside containers round to the
    same 9dp as scalar float columns. No registered query returns a
    container column today (verified over all 300 oracles at
    sf0.001), so this changes no current hash — it closes the design
    space for future ones."""
    if isinstance(v, set) or type(v).__name__ == "frozenset":
        return str(sorted(_canon_obj(x) for x in v))
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return str([_canon_obj(x) for x in v])
    if isinstance(v, float):
        return repr(round(v, 9))
    return str(v)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]").astype(str)
        elif s.dtype == object:
            df[c] = s.map(_canon_obj)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(9)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    import hashlib

    return hashlib.md5(canon(df).to_csv(index=False).encode()).hexdigest()


def oracle_connection(sf_dir: str, threads: int | None = None) -> duckdb.DuckDBPyConnection:
    """A fresh DuckDB connection with one view per catalog table over
    `sf_dir`'s parquet. `threads` pins DuckDB's thread count; None keeps
    the library default, which is what the driver's gate runs at."""
    con = duckdb.connect()
    if threads is not None:
        con.sql(f"SET threads={int(threads)}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
    return con


def run_sweep(spark, sf_dir: str, only: set[str] | None = None) -> list[str]:
    """Run every registered query on the GIVEN session and compare
    against its DuckDB oracle; returns the failure list. Split out of
    main() so tools/determinism_probe.py can drive the identical
    comparison under a deliberately perturbed session."""
    only = only or set()
    con = oracle_connection(sf_dir)
    qs, oracles = registry.all_queries(), registry.all_oracles()
    failures = []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: spark error\n{traceback.format_exc()}")
            continue
        if name not in oracles:
            print(f"ok(rows-only)  {name}: {len(sdf)} rows, cols={list(sdf.columns)}")
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: oracle error\n{traceback.format_exc()}")
            continue
        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rows {len(sdf)} vs {len(odf)}")
        if sorted(sdf.columns) != sorted(odf.columns):
            problems.append(f"cols {sorted(sdf.columns)} vs {sorted(odf.columns)}")
        elif value_hash(sdf) != value_hash(odf):
            problems.append("value-hash mismatch")
            a, b = canon(sdf), canon(odf)
            diff = a.compare(b) if a.shape == b.shape else None
            if diff is not None and len(diff):
                print(diff.head(5))
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"OK    {name}: {len(sdf)} rows")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(cpus=16)
    return 1 if run_sweep(spark, sf_dir, only) else 0


if __name__ == "__main__":
    sys.exit(main())
