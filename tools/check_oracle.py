#!/usr/bin/env python3
"""Local approximation of the driver's correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (written by graft.Verify),
runs the matching SQL from oracle_sql.json in DuckDB with the sf-dir
tables registered as views, sorts columns by name and rows by all
columns, and compares cell-by-cell.
"""
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main(sf_dir, out_dir):
    con = duckdb.connect()
    import os
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # driver fixtures are single files; Spark-written fixtures
        # (e.g. the `Soak make-sf1` overflow corpus) are directories of parts
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    n_pass = n_fail = 0
    for name, sql in sorted(oracles.items()):
        try:
            got = con.sql(
                f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            want = con.sql(sql).df()
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            n_fail += 1
            continue
        ok, msg = compare(got, want)
        if ok:
            print(f"PASS {name} ({len(want)} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: {msg}")
            n_fail += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0


def compare(got, want):
    gc, wc = sorted(got.columns), sorted(want.columns)
    if gc != wc:
        return False, f"columns differ: spark={gc} oracle={wc}"
    if len(got) != len(want):
        return False, f"row count differs: spark={len(got)} oracle={len(want)}"
    g = got[gc].sort_values(by=gc, kind="mergesort").reset_index(drop=True)
    w = want[wc].sort_values(by=wc, kind="mergesort").reset_index(drop=True)
    # The driver hashes raw values, so int64 1 vs float64 1.0 is a
    # mismatch there even though == says equal here. DuckDB HUGEINT
    # (from sum(int)/sum(bigint)) surfaces as float64 in pandas — the
    # q33 round-2 failure mode. Be at least as strict as the driver.
    for c in gc:
        gk, wk = g[c].dtype.kind, w[c].dtype.kind
        if {gk, wk} == {"i", "f"} or {gk, wk} == {"u", "f"}:
            return False, (f"col {c} dtype kind differs: spark={g[c].dtype} "
                           f"oracle={w[c].dtype} (HUGEINT→float64 leak?)")
    for c in gc:
        for i, (a, b) in enumerate(zip(g[c], w[c])):
            if not cell_eq(a, b):
                return False, f"col {c} row {i}: spark={a!r} oracle={b!r}"
    return True, ""


def cell_eq(a, b):
    if a is None and b is None:
        return True
    try:
        if isinstance(a, float) or isinstance(b, float):
            if (a is None or (isinstance(a, float) and math.isnan(a))) and \
               (b is None or (isinstance(b, float) and math.isnan(b))):
                return True
            return a == b
    except TypeError:
        pass
    return str(a) == str(b)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
