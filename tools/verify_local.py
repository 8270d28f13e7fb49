"""Local mimic of the driver's correctness gate.

Runs every queries() entry at a given sf dir, runs the matching
oracle_sql() in DuckDB over the same parquet files, and compares
(columns sorted by name, rows sorted, values exact-after-normalization).

Usage: python tools/verify_local.py [sf_dir] [query_name ...]
       python tools/verify_local.py [sf_dir] --shard I/N   (run the I-th
       of N interleaved slices of the full registry — each shard is its
       own process/SparkSession, so N shards sweep ~N× faster on a box
       with spare cores; tools/verify_sharded.sh drives all N)
"""

from __future__ import annotations

import math
import os
import sys
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from riptable_spark.queries import ORACLES, QUERIES, load_all  # noqa: E402
from riptable_spark.session import get_spark  # noqa: E402
from riptable_spark.sources.io import TABLES  # noqa: E402


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df = df[sorted(df.columns)]
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif s.dtype == object:
            import datetime as _dt

            if s.map(lambda v: v is None or isinstance(v, _dt.date)).all() and s.notna().any():
                # Spark DateType arrives as datetime.date objects; unify
                # with DuckDB's datetime64 DATE representation
                df[c] = pd.to_datetime(s).astype("datetime64[us]")
            else:
                # decode bytes / lists deterministically
                df[c] = s.map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("Int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("boolean")
    df = df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)
    return df


def compare(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if list(a.columns) != list(b.columns):
        return False, f"column mismatch: spark={list(a.columns)} oracle={list(b.columns)}"
    if len(a) != len(b):
        return False, f"rowcount mismatch: spark={len(a)} oracle={len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) and pd.api.types.is_float_dtype(bv):
            ok = np.allclose(av.fillna(-9e99), bv.fillna(-9e99), rtol=0, atol=0, equal_nan=True)
            exact = ok
        else:
            exact = av.equals(bv)
        if not exact:
            mask = ~((av.isna() & bv.isna()) | (av == bv))
            idx = mask[mask].index[:5].tolist()
            detail = "; ".join(f"row{i}: spark={av[i]!r} oracle={bv[i]!r}" for i in idx)
            if not idx:
                detail = f"dtype-only: spark={av.dtype} oracle={bv.dtype}"
            return False, f"value mismatch in '{c}' ({int(mask.sum())} rows): {detail}"
    return True, "ok"


def main() -> int:
    load_all()
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and os.path.isdir(sys.argv[1]) else "/root/testdata/sf0.01"
    args = [a for a in sys.argv[1:] if not os.path.isdir(a)]
    shard = None
    if "--shard" in args:
        i = args.index("--shard")
        shard = tuple(int(x) for x in args[i + 1].split("/"))
        args = args[:i] + args[i + 2:]
    names = args or list(QUERIES)
    if shard is not None:
        idx, n = shard
        names = [q for j, q in enumerate(names) if j % n == idx]
    unknown = [n for n in names if n not in QUERIES]
    if unknown:
        print(f"ERROR: unknown query name(s) {unknown} (a mistyped sf dir lands here too)")
        print(f"known: {sorted(QUERIES)[:8]} ... ({len(QUERIES)} total)")
        return 2
    spark = get_spark("verify_local")
    con = duck_connection(sf_dir)
    failures = []
    import time as _time

    for name in names:
        fn = QUERIES[name]
        t0 = _time.perf_counter()
        try:
            if name not in ORACLES:
                # rows-only check: count on the cluster, never collect
                n = fn(spark, sf_dir).count()
                print(f"SKIP  {name}: no oracle (rows-only) — spark rows={n}")
                continue
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: spark query raised\n{traceback.format_exc()}")
            continue
        try:
            odf = con.execute(ORACLES[name]).fetchdf()
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: oracle raised\n{traceback.format_exc()}")
            continue
        try:
            ok, msg = compare(normalize(sdf), normalize(odf))
        except Exception as e:
            ok, msg = False, f"compare raised: {type(e).__name__}: {e}"
        status = "PASS " if ok else "FAIL "
        if not ok:
            failures.append(name)
        dt = _time.perf_counter() - t0
        print(f"{status} {name}: rows={len(sdf)} t={dt:.2f}s {msg if not ok else ''}")
    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
