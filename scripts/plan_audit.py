"""Catalog-wide physical-plan audit -> PLANS.md.

For every query in the catalog, build the DataFrame (sf0.001 — plan
shape is scale-independent), capture the pre-execution physical plan,
and count the features that matter at 100 TB:

- parquet scans (duplicated-subtree detector: a frame consumed twice
  plans its scan twice),
- hash/range exchanges (each is a full shuffle of some stream),
- broadcast joins vs sort-merge joins vs cartesian products,
- Python execution nodes: BatchEvalPython is the row-at-a-time slow
  path (policy: ZERO anywhere); ArrowEvalPython / MapInPandas /
  FlatMapGroupsInPandas are the sanctioned Arrow-batched edges,
- shrinking suffix window frames (a bounded start, ``unboundedFollowing``
  end): Spark recomputes such a frame for every row, O(n^2) per window
  partition (policy: ZERO anywhere; a suffix is the reversed order's
  running frame, or the partition total minus a running prefix).

Usage: python scripts/plan_audit.py [--write]
  --write rewrites PLANS.md at the repo root; without it the table
  prints to stdout. Exits non-zero if any query plans a
  BatchEvalPython node, a shrinking suffix frame, or a CartesianProduct
  without an explicit allowlist entry below.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMOKE = "/root/testdata/sf0.001"

# queries whose semantics genuinely require the flagged construct
ALLOWED_CARTESIAN = {
    # exact brute-force baseline: |Q| x |N| by definition (labeled as such)
    "ann_cosine_topk",
}


# a window frame ending at unboundedFollowing whose start is not
# unboundedPreceding (the whole-partition frame is evaluated once)
_SUFFIX_FRAME = re.compile(
    r"specifiedwindowframe\((?:RowFrame|RangeFrame), "
    r"(?!unboundedpreceding\$\(\))[^,]+, unboundedfollowing\$\(\)\)"
)


def _global_windows(phys: str) -> int:
    """Window nodes with an EMPTY partition spec — WindowExec moves the
    whole input to one partition, so each of these must sit on a frame
    whose cardinality is bounded by construction (day/bucket/vocab/k
    grain) or carry a documented diagnostic-only escape (e.g.
    lorenz_gini's exact global sort, pre-bucketable at 100 TB).
    Bracket-group shapes (verified empirically on Spark 4.1):
    ``[exprs], [part], [order]`` partitioned+ordered;
    ``[exprs], [part]`` partitioned-unordered (part group has no
    ASC/DESC); ``[exprs], [order]`` GLOBAL ordered (order group has
    ASC/DESC); ``[exprs]`` GLOBAL unordered (empty spec)."""
    n = 0
    for line in phys.splitlines():
        if re.search(r"\bWindow \[", line):
            groups = re.findall(r"\[[^\[\]]*(?:\[[^\[\]]*\][^\[\]]*)*\]", line)
            if len(groups) == 1 or (
                len(groups) == 2
                and re.search(r" (ASC|DESC)\b", groups[-1])
            ):
                n += 1
    return n


def audit() -> list[dict]:
    from pyspark.sql import SparkSession

    from fireball_data_processing_spark import queries as catalog

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name, fn in catalog.queries().items():
        try:
            df = fn(spark, SMOKE)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("extended")
            s = buf.getvalue()
            phys = s[s.index("== Physical Plan ==") :]
        except Exception as e:  # noqa: BLE001 - audit must cover the rest
            rows.append({"name": name, "error": repr(e)[:120]})
            continue
        rows.append(
            {
                "name": name,
                "scans": phys.count("Scan parquet"),
                "exchanges": len(
                    re.findall(r"Exchange (?:hash|range)partitioning", phys)
                ),
                "bhj": phys.count("BroadcastHashJoin")
                + phys.count("BroadcastNestedLoopJoin"),
                "smj": phys.count("SortMergeJoin"),
                "cartesian": phys.count("CartesianProduct"),
                "py_row": phys.count("BatchEvalPython"),
                "py_arrow": phys.count("ArrowEvalPython")
                + phys.count("MapInPandas")
                + phys.count("FlatMapGroupsInPandas"),
                "gwin": _global_windows(phys),
                "suffix": len(_SUFFIX_FRAME.findall(phys)),
            }
        )
    spark.stop()
    return rows


def render(rows: list[dict]) -> str:
    out = [
        "# PLANS — catalog-wide physical-plan audit",
        "",
        "Machine-generated by `scripts/plan_audit.py` (pre-execution plans at",
        "sf0.001; plan shape is scale-independent). Columns: parquet scans,",
        "hash/range exchanges (shuffles), broadcast joins, sort-merge joins,",
        "cartesian products, row-at-a-time Python nodes (policy: zero),",
        "Arrow-batched Python nodes (sanctioned edges), and GLOBAL windows",
        "(empty partition spec — single-partition at execution, so each",
        "must ride a frame bounded by construction: day/bucket/vocab/k",
        "grain, pagination's own semantics, or a documented",
        "diagnostic-only escape like lorenz_gini's exact global sort).",
        "(Codegen spans are not visible pre-execution under AQE, so they",
        "are not counted.)",
        "",
        "| query | scans | shuffles | bcast | smj | cartesian | pyRow | pyArrow | gwin |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    errs = []
    for r in rows:
        if "error" in r:
            errs.append(f"- `{r['name']}`: {r['error']}")
            continue
        out.append(
            "| `{name}` | {scans} | {exchanges} | {bhj} | {smj} | {cartesian}"
            " | {py_row} | {py_arrow} | {gwin} |".format(**r)
        )
    if errs:
        out += ["", "## Errors", ""] + errs
    ok = [r for r in rows if "error" not in r]
    out += ["", "## Summary", "", f"- {len(ok)} queries audited, {len(errs)} errors"]
    # every query can error at once (e.g. missing testdata) — the summary
    # must not mask that behind a max()-of-empty ValueError
    if ok:
        out += [
            f"- row-at-a-time Python nodes: {sum(r['py_row'] for r in ok)} (policy 0)",
            f"- shrinking suffix window frames: {sum(r['suffix'] for r in ok)}"
            " (policy 0)",
            f"- cartesian products: {sum(r['cartesian'] for r in ok)}"
            f" (allowlisted: {sorted(ALLOWED_CARTESIAN)})",
            f"- max shuffles in one query:"
            f" {max((r['exchanges'], r['name']) for r in ok)}",
            f"- max parquet scans in one query:"
            f" {max((r['scans'], r['name']) for r in ok)}",
            f"- queries with global windows:"
            f" {sum(1 for r in ok if r['gwin'])}"
            f" ({sum(r['gwin'] for r in ok)} nodes — each audited to a"
            " bounded-cardinality frame, pagination semantics, or a"
            " documented diagnostic escape; see the grain notes in the"
            " operator docstrings)",
        ]
    out += [
        "",
        "Reading the outliers: a query consuming a runtime-persisted shared",
        "frame plans each consumer's subtree separately, so its static scan",
        "and shuffle counts overstate execution (the cache serves every",
        "consumer after the first); multi-stage pipelines (ingest gates, the",
        "corpus capstone, sketch rollups) legitimately shuffle once per",
        "stage; star joins scan once per dimension table but broadcast them.",
        "The two streaming-capstone rows read all-zero BY CONSTRUCTION:",
        "their queries run a real Structured Streaming job and return the",
        "final table localCheckpoint-materialized (so earlier returned",
        "frames survive workspace reuse), which leaves only a checkpoint",
        "scan in the audited plan — the plans that matter there are the",
        "PER-EPOCH micro-batch plan (broadcast anti-join or band-index",
        "lookups + codegen gates + a (source, lang)-grain shuffle; a",
        "single-split micro-batch aggregates exchange-FREE via the",
        "coalesce(1) fast path) and the final merge (one scan + one",
        "exchange), documented in streaming/capstone.py and pinned by",
        "tests/test_capstone_stream.py.",
        "",
    ]
    return "\n".join(out)


def main() -> int:
    rows = audit()
    text = render(rows)
    if "--write" in sys.argv:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "PLANS.md"), "w") as f:
            f.write(text)
        print("wrote PLANS.md")
    else:
        print(text)

    bad = 0
    for r in rows:
        if "error" in r:
            print(f"AUDIT ERROR {r['name']}: {r['error']}", file=sys.stderr)
            bad += 1
        elif r["py_row"]:
            print(f"ROW-PYTHON {r['name']}: {r['py_row']} nodes", file=sys.stderr)
            bad += 1
        elif r["suffix"]:
            print(f"SUFFIX-FRAME {r['name']}: {r['suffix']} frames", file=sys.stderr)
            bad += 1
        elif r["cartesian"] and r["name"] not in ALLOWED_CARTESIAN:
            print(f"CARTESIAN {r['name']}", file=sys.stderr)
            bad += 1
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
