"""Local stand-in for the driver's correctness gate.

Runs every __spark_entry__.queries() entry and its oracle_sql() DuckDB
twin on the same sf dir, canonicalizes both (columns sorted by name, rows
sorted by all columns), and compares values exactly (strings/ints) or to
1e-9 (floats — both sides already round to 4dp, so any real mismatch
shows up). Prints a per-query PASS/FAIL table.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("int64") // 10**6
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None else
                              (list(v) if isinstance(v, (np.ndarray,))
                               else v))
    sortable = [c for c in df.columns
                if not df[c].map(lambda v: isinstance(v, list)).any()]
    df = df.sort_values(sortable, kind="mergesort").reset_index(drop=True)
    return df


def compare(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if len(a) != len(b):
        return False, f"row count {len(a)} vs {len(b)}"
    if sorted(a.columns) != sorted(b.columns):
        return False, f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    for c in a.columns:
        va, vb = a[c], b[c]
        fa = pd.to_numeric(va, errors="coerce")
        fb = pd.to_numeric(vb, errors="coerce")
        both_num = fa.notna().equals(vb.notna() & fb.notna()) and \
            fa.notna().sum() == va.notna().sum()
        if pd.api.types.is_float_dtype(va) or pd.api.types.is_float_dtype(vb):
            na_a, na_b = va.isna().to_numpy(), vb.isna().to_numpy()
            if not (na_a == na_b).all():
                i = int(np.argmax(na_a != na_b))
                return False, f"col {c}: null mismatch at row {i}"
            x = fa.to_numpy(dtype=float)[~na_a]
            y = fb.to_numpy(dtype=float)[~na_b]
            if len(x) and not np.allclose(x, y, rtol=0, atol=1e-9,
                                          equal_nan=True):
                i = int(np.argmax(~np.isclose(x, y, rtol=0, atol=1e-9)))
                return False, (f"col {c}: {x[i]!r} vs {y[i]!r} "
                               f"(maxdiff {np.abs(x - y).max():.3e})")
        else:
            sa = va.map(lambda v: None if v is None or
                        (isinstance(v, float) and np.isnan(v)) else v)
            sb = vb.map(lambda v: None if v is None or
                        (isinstance(v, float) and np.isnan(v)) else v)
            if not sa.astype(str).equals(sb.astype(str)):
                neq = (sa.astype(str) != sb.astype(str))
                i = int(np.argmax(neq.to_numpy()))
                return False, f"col {c} row {i}: {sa[i]!r} vs {sb[i]!r}"
    return True, "ok"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from openmldb_spark import get_spark
    spark = get_spark("check-correctness")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * "
                    f"FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # The driver's correctness artifact records at most 50 entries
    # (round 4 silently dropped queries 51-52); fail loudly here so a
    # new entry can never push an existing one out of the gate.
    if len(qs) > 50:
        print(f"FATAL: queries() has {len(qs)} entries > driver cap 50; "
              "consolidate before adding more")
        sys.exit(2)
    stray = set(oracles) - set(qs)
    if stray:
        print(f"FATAL: oracle_sql() keys with no queries() twin: "
              f"{sorted(stray)}")
        sys.exit(2)
    n_pass = n_fail = n_skip = 0
    emitted: list[str] = []       # appended ONLY where a verdict prints
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception:
            print(f"FAIL  {name:32s} SPARK ERROR")
            emitted.append(name)
            traceback.print_exc()
            n_fail += 1
            continue
        if name not in oracles:
            print(f"SKIP  {name:32s} rows-only ({len(sdf)} rows, "
                  f"{time.time()-t0:.1f}s)")
            emitted.append(name)
            assert len(sdf) >= 0
            n_skip += 1
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception:
            print(f"FAIL  {name:32s} ORACLE ERROR")
            emitted.append(name)
            traceback.print_exc()
            n_fail += 1
            continue
        try:
            ok, msg = compare(canon(sdf), canon(odf))
        except Exception:
            print(f"FAIL  {name:32s} COMPARE ERROR")
            emitted.append(name)
            traceback.print_exc()
            n_fail += 1
            continue
        status = "PASS" if ok else "FAIL"
        if ok:
            n_pass += 1
        else:
            n_fail += 1
        print(f"{status}  {name:32s} {len(sdf):6d} rows "
              f"{time.time()-t0:5.1f}s  {msg if not ok else ''}")
        emitted.append(name)
    # Complete-by-construction: with no filter, every queries() entry
    # must have printed exactly ONE PASS/FAIL/SKIP verdict above.
    # `emitted` is appended only beside each print, so this names both
    # silently-dropped queries AND double-printed ones (a bare counter
    # is fooled by offsetting errors) — guarding future refactors; a
    # dropped query can never read as green.
    if not only and sorted(emitted) != sorted(qs):
        missing = sorted(set(qs) - set(emitted))
        dupes = sorted({n for n in emitted if emitted.count(n) > 1})
        print(f"FATAL: gate incomplete — missing {missing}, "
              f"double-printed {dupes}")
        n_fail += max(1, len(missing) + len(dupes))
    print(f"\n{n_pass} pass, {n_fail} fail, {n_skip} skip")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
