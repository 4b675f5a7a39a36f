#!/usr/bin/env python3
"""Replicate the external driver's correctness gate locally.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
twin on DuckDB over the same parquet tables, comparing row count, column
names, and every value (floats bit-compared, NaN==NaN). Rows-only
entries (no oracle) are executed for count/schema stability.

Usage: python scripts/gate_replica.py [SF_DIR] [query ...]
       (default SF_DIR /root/testdata/sf0.01, default = all queries)
"""

from __future__ import annotations

import math
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
import numpy as np  # noqa: E402

TABLES = ["documents", "events"]


def _norm(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    return df.sort_values(list(df.columns), na_position="last").reset_index(
        drop=True
    )


def _eq(a, b) -> bool:
    if a is b:
        return True
    try:
        if a == b:
            return True
    except Exception:
        pass
    na = a is None or (isinstance(a, float) and math.isnan(a))
    nb = b is None or (isinstance(b, float) and math.isnan(b))
    return na and nb


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as E
    from qamd_spark.session import get_spark

    names = sys.argv[2:] or sorted(E.queries())
    oracles = E.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf}/{t}.parquet')"
        )
    spark = get_spark("gate-replica")
    n_green = n_rows_only = n_bad = 0
    for name in names:
        try:
            sdf = E.queries()[name](spark, sf)
            if name not in oracles:
                n = sdf.count()
                assert len(sdf.columns) > 0
                print(f"{name} ROWS-ONLY {n}")
                n_rows_only += 1
                continue
            sp = _norm(sdf.toPandas())
            dk = _norm(con.sql(oracles[name]).df())
            ok = list(sp.columns) == list(dk.columns) and len(sp) == len(dk)
            bad_col = None
            if ok:
                for c in sp.columns:
                    a, b = sp[c].to_numpy(), dk[c].to_numpy()
                    if np.issubdtype(sp[c].dtype, np.floating):
                        col_ok = bool(
                            np.allclose(a.astype(float), b.astype(float),
                                        rtol=0, atol=0, equal_nan=True)
                        )
                    else:
                        col_ok = all(_eq(x, y) for x, y in zip(a, b))
                    if not col_ok:
                        ok, bad_col = False, c
                        break
            if ok:
                print(f"{name} GREEN {len(sp)}")
                n_green += 1
            else:
                print(f"{name} MISMATCH rows={len(sp)}/{len(dk)} col={bad_col}")
                n_bad += 1
        except Exception as e:  # keep sweeping; report at the end
            print(f"{name} ERROR {type(e).__name__}: {e}")
            n_bad += 1
    print(f"SUMMARY green={n_green} rows_only={n_rows_only} bad={n_bad}")
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
