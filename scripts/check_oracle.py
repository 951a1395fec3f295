#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle compare.

Usage: check_oracle.py <sfDir> <verifyOutDir>
Registers each parquet table as a DuckDB view, runs every oracle SQL
from oracle_sql.json, and compares (schema-name-sorted, row-sorted)
values against the Spark parquet output. Each query gets a fresh
in-memory database, so one query's failure (an out-of-memory error
leaves DuckDB unable to pin blocks, an error leaves a transaction
aborted) cannot fail the queries after it.
"""
import sys, json, glob, math
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]

def connect():
    con = duckdb.connect()
    for t in ["region","nation","customer","supplier","part","orders","lineitem",
              "events","documents","embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    return con

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
fails, passes, skipped = [], [], []
import os
present = {d.rstrip("/").split("/")[-1] for d in glob.glob(f"{outdir}/*/")}
for q in oracle:
    if q not in present:
        fails.append((q, "NO OUTPUT WRITTEN (query failed in Verify)"))
for name in sorted(glob.glob(f"{outdir}/*/")):
    q = name.rstrip("/").split("/")[-1]
    con = connect()
    if q not in oracle:
        n = con.execute(f"SELECT count(*) FROM '{name}/*.parquet'").fetchone()[0]
        skipped.append((q, n))
        con.close()
        continue
    try:
        # arrow-level TYPE check first: DuckDB SUM(BIGINT) returns HUGEINT
        # (decimal128 in arrow) while Spark writes int64 — values compare
        # equal in pandas but a typed hasher diverges. Catch that class here.
        def tclass(t):
            import pyarrow.types as pt
            if pt.is_integer(t): return "int"
            if pt.is_floating(t): return "float"
            if pt.is_decimal(t): return "decimal"
            if pt.is_string(t) or pt.is_large_string(t): return "str"
            if pt.is_boolean(t): return "bool"
            if pt.is_date(t): return "date"
            if pt.is_timestamp(t): return "timestamp"
            if pt.is_list(t) or pt.is_large_list(t): return "list"
            return str(t)
        ea = con.execute(oracle[q]).arrow()
        ga = con.execute(f"SELECT * FROM '{name}/*.parquet'").arrow()
        et = {f.name: tclass(f.type) for f in ea.schema}
        gt = {f.name: tclass(f.type) for f in ga.schema}
        tmis = [(c, gt.get(c), et.get(c)) for c in sorted(set(et) | set(gt))
                if et.get(c) != gt.get(c)]
        if tmis:
            fails.append((q, "TYPE-MISMATCH " + ", ".join(
                f"{c}: got {g} != exp {e}" for c, g, e in tmis)))
            continue
        exp = ea.to_pandas()
        got = ga.to_pandas()
        exp = exp[sorted(exp.columns)]
        got = got[sorted(got.columns)]
        if list(exp.columns) != list(got.columns):
            fails.append((q, f"cols {list(got.columns)} != {list(exp.columns)}"))
            continue
        if len(exp) != len(got):
            fails.append((q, f"rows {len(got)} != {len(exp)}"))
            continue
        er = [tuple(r) for r in exp.itertuples(index=False)]
        gr = [tuple(r) for r in got.itertuples(index=False)]
        bad = None
        for i, (a, b) in enumerate(zip(er, gr)):
            for x, y in zip(a, b):
                eq = (x == y) or (isinstance(x, float) and isinstance(y, float)
                                  and (x != x and y != y or x == y))
                if x is None and y is None: eq = True
                try:
                    import pandas as pd
                    if pd.isna(x) and pd.isna(y): eq = True
                except Exception: pass
                if not eq:
                    bad = (i, x, y); break
            if bad: break
        if bad:
            fails.append((q, f"row {bad[0]}: got {bad[2]!r} != exp {bad[1]!r}"))
        else:
            passes.append(q)
    except Exception as e:
        fails.append((q, f"oracle error: {e}"))
    finally:
        con.close()

print(f"PASS ({len(passes)}):", " ".join(passes))
print(f"ROWS-ONLY ({len(skipped)}):", " ".join(f"{q}={n}" for q, n in skipped))
print(f"FAIL ({len(fails)}):")
for q, msg in fails: print(f"  {q}: {msg}")
sys.exit(1 if fails else 0)
