"""Simulate the driver harness: vanilla SparkSession, import __spark_entry__,
smoke entry() at sf0.001, run every queries() entry at sf0.01 and compare to
oracle_sql() via DuckDB (row count + column names + sorted values).

Usage: python scripts/drive_contract.py [name_substring ...]
With args, only queries whose name contains one of the substrings run
(and the entry() smoke is skipped) — for fast dev iteration."""
import os, sys, math
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
ONLY = [a for a in sys.argv[1:] if not a.startswith("-")]
# override the comparison scale factor (driver uses sf0.01); e.g.
#   DRIVE_SF_DIR=/root/testdata/sf0.1 python scripts/drive_contract.py bm25
SF_DIR = os.environ.get("DRIVE_SF_DIR", "/root/testdata/sf0.01")
import duckdb
from pyspark.sql import SparkSession

import __spark_entry__ as e

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false").getOrCreate())

# --- t1 smoke ---
if not ONLY:
    df = e.entry(spark)
    rows = df.collect()
    print("SMOKE entry() rows:", len(rows), "cols:", df.columns)
    assert len(rows) > 0

# --- t2 correctness ---
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

qs, oracles = e.queries(), e.oracle_sql()
n_fail = 0
for name, fn in qs.items():
    if ONLY and not any(s in name for s in ONLY):
        continue
    got = fn(spark, SF_DIR).toPandas()
    if name not in oracles:
        print(f"{name}: rows-only, {len(got)} rows")
        continue
    want = con.execute(oracles[name]).fetchdf()
    ok_rows = len(got) == len(want)
    ok_cols = sorted(got.columns) == sorted(want.columns)
    g = got.reindex(sorted(got.columns), axis=1).sort_values(by=sorted(got.columns), ignore_index=True)
    w = want.reindex(sorted(want.columns), axis=1).sort_values(by=sorted(want.columns), ignore_index=True)
    bad = 0
    for c in g.columns:
        for a, b in zip(g[c].tolist(), w[c].tolist()):
            if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
                continue
            if a != b:
                bad += 1
                if bad <= 3:
                    print("  mismatch", c, repr(a), repr(b))
    status = "MATCH" if (ok_rows and ok_cols and bad == 0) else "FAIL"
    if status == "FAIL":
        n_fail += 1
    print(f"{name}: {status} rows={len(got)}/{len(want)} cols_ok={ok_cols} value_mismatches={bad}")

# non-zero exit on any mismatch so callers can trust the exit code
# (a truncated log can otherwise hide a FAIL line)
sys.exit(1 if n_fail else 0)
