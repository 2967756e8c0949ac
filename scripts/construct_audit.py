"""Catalog-wide plan-CONSTRUCTION audit: time how long each query takes
to BUILD (python expression construction + Catalyst analysis, no
execution beyond any eager fit the operator performs by design).

This is the instrument that found the round-9 py4j construction
epidemic: classic PySpark pays one driver round-trip per Column node and
dozens per higher-order-function lambda, so literal-heavy builders (the
ANN/k-means centroid family) were spending seconds of data-invariant
driver time per query — invisible in `.explain` and easy to misread as
execution cost in the bench. Construction cost is pure overhead at any
scale: a 1000-executor cluster pays it serially on the driver before a
single task launches.

Method: one warm pass over the whole catalog first (imports, JIT, fit
memos), then each query's `fn(spark, sf).schema` is timed — schema
access forces analysis. Queries with eager driver loops (k-means seeds,
connected-components checkpoints, PCA power steps) legitimately run jobs
here; the point of the ranking is the LAZY queries near the top, whose
construction share should be small.

Usage: python scripts/construct_audit.py [--json out.json]
Run on an idle box; numbers are min-of-1 by design (construction has
little variance once warm).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    from fireball_data_processing_spark import queries as catalog
    from fireball_data_processing_spark.session import get_spark

    spark = get_spark("construct-audit")
    spark.sparkContext.setLogLevel("ERROR")
    names = list(catalog.REGISTRY)
    for n in names:  # warm: imports, JIT, eager-fit memos
        try:
            _ = catalog.REGISTRY[n].fn(spark, SF_DIR).schema
        except Exception:
            pass
    out: dict[str, float] = {}
    failed: dict[str, str] = {}
    for n in names:
        t0 = time.perf_counter()
        try:
            _ = catalog.REGISTRY[n].fn(spark, SF_DIR).schema
        except Exception as e:
            # a query that throws during construction must NOT rank as
            # "cheap" — record it as failed and keep it out of the timing
            failed[n] = f"{type(e).__name__}: {e}"[:200]
            continue
        out[n] = round(time.perf_counter() - t0, 3)
    for name, sec in sorted(out.items(), key=lambda kv: -kv[1])[:30]:
        print(f"{sec:7.2f}  {name}")
    if failed:
        print(f"\nFAILED during construction ({len(failed)}):")
        for name, err in sorted(failed.items()):
            print(f"  {name}: {err}")
    if "--json" in sys.argv:
        path = sys.argv[sys.argv.index("--json") + 1]
        with open(path, "w") as f:
            json.dump({"construct_sec": out, "failed": failed}, f, indent=1)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
