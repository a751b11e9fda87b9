#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: run each oracle SQL in
DuckDB over the sf tables, compare against the Verify parquet dumps
(columns sorted by name, rows sorted, exact values)."""
import sys, json, glob, math, atexit, shutil, tempfile
import duckdb, pandas as pd

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
# Bounded memory: DuckDB defaults to 80 % of RAM, and one full-surface
# run reached 13.5 GB on a 16 GB box. Half of MemTotal, with a temp
# directory to spill into, leaves room for the rest of the machine.
mem_kb = next(int(l.split()[1]) for l in open("/proc/meminfo")
              if l.startswith("MemTotal:"))
spill = tempfile.mkdtemp(prefix="selfcheck-duckdb-", dir="/tmp")
atexit.register(shutil.rmtree, spill, True)
con.execute(f"SET memory_limit = '{mem_kb // 2 // 1024}MB'")
con.execute(f"SET temp_directory = '{spill}'")
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

fails, passes = [], 0
for name in sorted(oracle):
    try:
        ora = con.execute(oracle[name]).fetchdf()
        got = pd.concat([pd.read_parquet(f) for f in
                         sorted(glob.glob(f"{outdir}/{name}/*.parquet"))])
    except Exception as e:
        fails.append((name, f"load/exec error: {e}")); continue
    if sorted(ora.columns) != sorted(got.columns):
        fails.append((name, f"cols oracle={sorted(ora.columns)} got={sorted(got.columns)}")); continue
    if len(ora) != len(got):
        fails.append((name, f"rows oracle={len(ora)} got={len(got)}")); continue
    # dtype drift (e.g. DuckDB HUGEINT->float64 vs Spark int64) passes a
    # lenient == but may fail a strict driver hash — surface it loudly
    for c in sorted(ora.columns):
        do, dg = str(ora[c].dtype), str(got[c].dtype)
        if do != dg:
            fails.append((name, f"dtype col {c}: oracle={do} got={dg}")); break
    if fails and fails[-1][0] == name: continue
    o, g = norm(ora), norm(got)
    bad = None
    for c in o.columns:
        ov, gv = o[c].tolist(), g[c].tolist()
        for i, (a, b) in enumerate(zip(ov, gv)):
            eq = (a == b) or (a is None and b is None)
            try:
                if not eq and isinstance(a, float) and isinstance(b, float):
                    eq = (math.isnan(a) and math.isnan(b)) or a == b
            except Exception: pass
            if not eq and pd.isna(a) and pd.isna(b): eq = True
            if not eq:
                bad = f"col {c} row {i}: oracle={a!r} got={b!r}"; break
        if bad: break
    if bad: fails.append((name, bad)); continue
    # order-sensitive pass: emulate a driver that does NOT sort rows —
    # our total ORDER BY must reproduce DuckDB's row order exactly
    o2 = ora.reindex(sorted(ora.columns), axis=1).reset_index(drop=True)
    g2 = got.reindex(sorted(got.columns), axis=1).reset_index(drop=True)
    order_ok = True
    for c in o2.columns:
        for i, (a, b) in enumerate(zip(o2[c].tolist(), g2[c].tolist())):
            eq = (a == b) or (pd.isna(a) and pd.isna(b))
            if not eq:
                fails.append((name, f"ROW-ORDER col {c} row {i}: oracle={a!r} got={b!r}"))
                order_ok = False; break
        if not order_ok: break
    if order_ok: passes += 1

# rows-only for non-oracle queries
rows_only = []
for p in sorted(glob.glob(f"{outdir}/*/")):
    name = p.rstrip('/').split('/')[-1]
    if name in oracle: continue
    try:
        n = len(pd.concat([pd.read_parquet(f) for f in glob.glob(p + "*.parquet")]))
    except Exception as e:
        rows_only.append((name, f"ERROR {e}")); continue
    rows_only.append((name, n))

print(f"ORACLE PASS {passes}/{len(oracle)}")
for n, why in fails: print(f"  FAIL {n}: {why}")
print("ROWS-ONLY:")
for n, r in rows_only: print(f"  {n}: {r}")
