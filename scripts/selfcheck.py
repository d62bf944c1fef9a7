#!/usr/bin/env python3
"""Local stand-in for the driver's t2 correctness gate (NOT library code).

Usage: python3 scripts/selfcheck.py [--only a,b,...] [sfDir] [outDir]

Reads outDir/<name>/ parquet dumps written by graft.Verify plus
outDir/oracle_sql.json, runs each oracle SQL in DuckDB over the same
testdata parquet, and compares: columns sorted by name, rows sorted,
values compared exactly (mirrors the driver's hash-match).
--only checks just the named queries (for a subset dump, e.g. one
written with SPARK_GRAFT_ONLY); a name with no oracle is a FAIL.
"""
import sys, json, glob
import duckdb

only = None
if "--only" in sys.argv:
    i = sys.argv.index("--only")
    if i + 1 >= len(sys.argv):
        sys.exit("--only needs a comma-separated list of query names")
    only = [n.strip() for n in sys.argv[i + 1].split(",") if n.strip()]
    del sys.argv[i:i + 2]
sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

con = duckdb.connect()
for t in TABLES:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fails = 0
if only is not None:
    for name in sorted(set(only) - set(oracle)):
        print(f"FAIL {name}: no oracle")
        fails += 1
    oracle = {n: q for n, q in oracle.items() if n in only}
total = len(oracle) + fails
for name, sql in sorted(oracle.items()):
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        print(f"FAIL {name}: no spark output")
        fails += 1
        continue
    try:
        got = con.sql(f"SELECT * FROM read_parquet({files!r})").df()
        exp = con.sql(sql).df()
    except Exception as e:
        print(f"FAIL {name}: {e}")
        fails += 1
        continue
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        print(f"FAIL {name}: columns {list(got.columns)} != {list(exp.columns)}")
        fails += 1
        continue
    gs = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    es = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    if len(gs) != len(es):
        print(f"FAIL {name}: rows {len(gs)} != {len(es)}")
        fails += 1
        continue
    # exact value compare (hash-match analog); report dtype drift as info
    mismatch = None
    for c in gs.columns:
        a, b = gs[c], es[c]
        eq = (a == b) | (a.isna() & b.isna())
        if not eq.all():
            i = eq.idxmin()
            mismatch = (c, a[i], b[i])
            break
    if mismatch:
        c, a, b = mismatch
        print(f"FAIL {name}: col {c} spark={a!r} oracle={b!r}")
        fails += 1
    else:
        dt = [(c, str(gs[c].dtype), str(es[c].dtype))
              for c in gs.columns if str(gs[c].dtype) != str(es[c].dtype)]
        note = f" (dtype drift: {dt})" if dt else ""
        print(f"OK   {name}: {len(gs)} rows{note}")
print(f"{total-fails}/{total} queries match")
sys.exit(1 if fails else 0)
