#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate.

Runs graft.Verify (Spark) into a temp dir, then replays every oracle SQL in
DuckDB over the same parquet tables and diffs the results the way the driver
does: columns sorted by name, rows sorted, values compared.

Usage: tools/check.py [sfdir] [only_query ...]
"""
import json, math, subprocess, sys, tempfile, glob, os

SFDIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])
TABLES = ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]

out = os.environ.get("GRAFT_VERIFY_OUT")
made_out = not out
if out:
    print(f"[replay] reusing Verify outputs in {out}", file=sys.stderr)
else:
    out = tempfile.mkdtemp(prefix="graft_verify_")
    # thread count: SPARK_GRAFT_CPUS, else graft.Battery's default
    r = subprocess.run(["tools/run_local.sh","graft.Verify",SFDIR,out])
    if r.returncode != 0:
        sys.exit("Verify failed")

import duckdb

def fresh_con():
    # one connection per oracle: a single long-lived connection accumulates
    # enough buffer/temp state across ~100 replays that the heaviest oracle
    # can hit a DuckDB allocation failure late in the battery
    c = duckdb.connect()
    for t in TABLES:
        # a table may be a single file (driver layout) or a sharded directory
        # (make_sf1 layout) — glob the parts in the directory case
        path = f"{SFDIR}/{t}.parquet"
        src = f"{path}/*.parquet" if os.path.isdir(path) else path
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    return c

con = fresh_con()

oracle = json.load(open(f"{out}/oracle_sql.json"))

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return f"{v:.4f}"
    return str(v)

def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)

fails, passes, skips = [], [], []
# GRAFT_CHECK_JSON=path dumps a driver-style CORRECTNESS artifact:
# {query: {rows_match, schema_match, hash_match, spark_rows, oracle_rows, err}}
record = {}
import time
for name in sorted(oracle):
    if ONLY and name not in ONLY: continue
    t0 = time.time()
    print(f"[oracle] {name} ...", file=sys.stderr, flush=True)
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        fails.append((name, "spark result missing"))
        record[name] = dict(rows_match=False, schema_match=False,
                            hash_match=False, spark_rows=0, oracle_rows=None,
                            err="spark result missing")
        continue
    con.close(); con = fresh_con()
    s = con.execute(f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')")
    scols = [d[0] for d in s.description]; srows = s.fetchall()
    rec = dict(rows_match=False, schema_match=False, hash_match=False,
               spark_rows=len(srows), oracle_rows=None, err=None)
    record[name] = rec
    try:
        o = con.execute(oracle[name])
        ocols = [d[0] for d in o.description]; orows = o.fetchall()
    except Exception as e:
        rec["err"] = f"oracle sql error: {e}"
        fails.append((name, rec["err"])); continue
    rec["oracle_rows"] = len(orows)
    rec["schema_match"] = sorted(scols) == sorted(ocols)
    if not rec["schema_match"]:
        rec["err"] = f"schema mismatch spark={sorted(scols)} oracle={sorted(ocols)}"
        fails.append((name, rec["err"])); continue
    a, b = canon(scols, srows), canon(ocols, orows)
    rec["rows_match"] = len(a) == len(b)
    if not rec["rows_match"]:
        rec["err"] = f"row count spark={len(a)} oracle={len(b)}"
        fails.append((name, rec["err"])); continue
    if a != b:
        diff = next((i for i,(x,y) in enumerate(zip(a,b)) if x != y), None)
        rec["err"] = f"value mismatch at sorted row {diff}: spark={a[diff]} oracle={b[diff]}"
        fails.append((name, rec["err"])); continue
    rec["hash_match"] = True
    passes.append(name)
    print(f"[oracle] {name} ok ({time.time()-t0:.1f}s)", file=sys.stderr, flush=True)

rows_only = [q for q in glob.glob(f"{out}/*/") if os.path.basename(q.rstrip('/')) not in oracle]
for q in sorted(rows_only):
    n = os.path.basename(q.rstrip('/'))
    if ONLY and n not in ONLY: continue
    cnt = con.execute(f"SELECT count(*) FROM read_parquet('{q}/*.parquet')").fetchone()[0]
    record[n] = dict(rows_match=None, schema_match=None, hash_match=None,
                     spark_rows=cnt, oracle_rows=None, err="no_oracle")
    (passes if cnt > 0 else fails).append((n + " [rows-only]", "0 rows")[0:1][0] if cnt > 0 else (n, "rows-only: 0 rows"))

if os.environ.get("GRAFT_CHECK_JSON"):
    with open(os.environ["GRAFT_CHECK_JSON"], "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

print(f"\nPASS ({len(passes)}):", *passes)
if fails:
    print(f"\nFAIL ({len(fails)}):")
    for n, why in fails: print(f"  {n}: {why}")
    print(f"\nVerify outputs kept in {out}")
    sys.exit(1)
if made_out:  # a green run's outputs are not needed again
    import shutil
    shutil.rmtree(out)
print("\nALL GREEN")
