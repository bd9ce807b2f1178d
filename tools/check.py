#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate: load each
<out>/<name> parquet written by graft.Verify, run the matching oracle SQL
from <out>/oracle_sql.json in DuckDB over the raw testdata tables, and
compare (columns sorted by name, rows sorted, values hashed)."""
import sys, json, glob, hashlib, atexit, shutil, tempfile
import duckdb
import pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/vout"
# optional third arg: write a CORRECTNESS_rN-shaped json artifact here
json_out = sys.argv[3] if len(sys.argv) > 3 else None
results = {}

def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")

# a bounded DuckDB spills large joins to disk instead of being OOM-killed
# (or failing with Out of Memory) on a machine shared with the engine
spill_dir = tempfile.mkdtemp(prefix="duckdb-check-", dir="/tmp")
atexit.register(shutil.rmtree, spill_dir, True)
con = duckdb.connect(config={
    "memory_limit": f"{mem_total_bytes() * 6 // 10 // 2**20}MB",
    "temp_directory": spill_dir})
for t in ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

oracle = json.load(open(f"{out}/oracle_sql.json"))

def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def h(df: pd.DataFrame) -> str:
    return hashlib.md5(df.to_csv(index=False, float_format=None).encode()).hexdigest()

fails = []
def record(name, rows_match, schema_match, hash_match, sr, orr, err):
    results[name] = {"rows_match": rows_match, "schema_match": schema_match,
                     "hash_match": hash_match, "spark_rows": sr,
                     "oracle_rows": orr, "err": err}
for name, sql in sorted(oracle.items()):
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output"); fails.append(name)
        record(name, False, False, False, 0, 0, "no spark output"); continue
    try:
        got = canon(pd.concat([pd.read_parquet(f) for f in files]))
        exp = canon(con.execute(sql).fetchdf())
    except Exception as e:
        print(f"FAIL {name}: {e}"); fails.append(name)
        record(name, False, False, False, 0, 0, str(e)[:200]); continue
    if list(got.columns) != list(exp.columns):
        print(f"FAIL {name}: cols {list(got.columns)} vs {list(exp.columns)}")
        fails.append(name)
        record(name, len(got) == len(exp), False, False, len(got), len(exp),
               "schema mismatch"); continue
    if len(got) != len(exp):
        print(f"FAIL {name}: rows {len(got)} vs {len(exp)}"); fails.append(name)
        record(name, False, True, False, len(got), len(exp), None); continue
    if h(got) != h(exp):
        diff = (got != exp) & ~(got.isna() & exp.isna())
        bad = diff.any(axis=0)
        print(f"FAIL {name}: value mismatch in cols {list(bad[bad].index)}")
        for c in list(bad[bad].index)[:3]:
            m = diff[c]
            print(f"  {c}: got {got.loc[m, c].head(3).tolist()} exp {exp.loc[m, c].head(3).tolist()}")
        fails.append(name)
        record(name, True, True, False, len(got), len(exp), None); continue
    print(f"PASS {name} ({len(got)} rows)")
    record(name, True, True, True, len(got), len(exp), None)

print(f"\n{len(oracle)-len(fails)}/{len(oracle)} pass")
if json_out:
    with open(json_out, "w") as f:
        json.dump(results, f, indent=1)
    print(f"wrote {json_out}")
sys.exit(1 if fails else 0)
