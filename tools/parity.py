#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB oracle compare.

Usage: python3 tools/parity.py <sfDir> <verifyOutDir>

An oracle query that DuckDB cannot run (out of memory, SQL error) is
reported as `✗ <name>: ORACLE-ERROR <type>: <msg>` and counted as a
fail; the remaining queries are still checked and the script exits
non-zero.

For each <name>/ parquet dir in verifyOutDir, runs oracle_sql.json[name]
in DuckDB against the sfDir tables and compares: row count, column
names (sorted), and per-row values (rows sorted, floats compared
exactly after both sides round-trip through float64).

Additionally, EVERY query output (including rows-only ones with no
oracle) is pushed through the driver harness's canonicalization shape
— pandas `sort_values` over all columns — because that path crashes
on unsortable column types (array<int> → "unhashable type:
numpy.ndarray", the round-8 embed_quantize err) even when this
script's own stringify-compare would pass. A query is only OK if both
checks are green: output contract = scalar, pandas-sortable columns.
"""
import json, math, sys
import duckdb
import pandas as pd

def canon(rows, cols):
    # sort columns by name, then rows by value tuple (stringified)
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = repr(v)  # exact double repr
            else:
                v = str(v)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out), [cols[i] for i in idx]

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders",
              "lineitem","events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    n_pass = n_fail = 0
    import os
    for name in sorted(os.listdir(out_dir)):
        if not os.path.isdir(f"{out_dir}/{name}"):
            continue
        got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
        g_rows, g_cols = got.fetchall(), [d[0] for d in got.description]
        # driver-shaped canonicalization: pandas sort_values over all
        # columns must not throw (it does on array-typed columns)
        try:
            pdf = pd.DataFrame(g_rows, columns=g_cols)
            pdf[sorted(g_cols)].sort_values(by=sorted(g_cols))
        except Exception as e:
            print(f"  ✗ {name}: PANDAS-CANON {type(e).__name__}: {e}")
            n_fail += 1
            continue
        if name not in oracle:
            print(f"  ~ {name}: rows-only ({len(g_rows)} rows, pandas-canon ok)")
            continue
        try:
            exp = con.sql(oracle[name])
            e_rows, e_cols = exp.fetchall(), [d[0] for d in exp.description]
        except Exception as e:
            print(f"  ✗ {name}: ORACLE-ERROR {type(e).__name__}: {e}")
            n_fail += 1
            continue
        gc, gn = canon(g_rows, g_cols)
        ec, en = canon(e_rows, e_cols)
        if gn != en:
            print(f"  ✗ {name}: COLS spark={gn} oracle={en}"); n_fail += 1
        elif len(gc) != len(ec):
            print(f"  ✗ {name}: ROWS spark={len(gc)} oracle={len(ec)}"); n_fail += 1
        elif gc != ec:
            bad = next(i for i in range(len(gc)) if gc[i] != ec[i])
            print(f"  ✗ {name}: VALUES differ at sorted-row {bad}:")
            print(f"      spark : {gc[bad]}")
            print(f"      oracle: {ec[bad]}")
            n_fail += 1
        else:
            print(f"  ✓ {name} ({len(gc)} rows)"); n_pass += 1
    print(f"{n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)

main()
