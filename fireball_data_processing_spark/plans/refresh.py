"""CDC-driven selective recompute: re-process only what changed.

A training corpus is rebuilt from recurring crawls; when <1% of
documents changed, re-running the full cleaning/feature pipeline over
100 TB is the single largest avoidable cost in the system. This module
is the consumer side of :mod:`..operators.snapshots`: the snapshot diff
names the changed keys, two semi joins split the work, and ONLY the
changed slice flows through the (arbitrarily expensive) per-document
pipeline — prior outputs for unchanged keys are carried forward
verbatim, removed keys drop out.

Contract: for any *per-row* pipeline ``process`` (one output row per
input key, no cross-document state) and a fingerprint that covers every
column ``process`` reads,

    ``incremental_refresh(new, old, process(old), process)``
    ``  == process(new)``  (row-for-row)

— which is exactly what the catalog query's oracle checks, by computing
both sides and comparing per-group content checksums. Pipelines with
cross-document state (corpus-level dedup, DF-dependent scores) need the
aggregate-partials machinery in :mod:`.incremental` instead; the
docstring constraint is the dividing line.

Scale shape: the diff shuffles (key, fingerprint) only; the two semi
joins and the final union are key-partitioned and payload-pruning
(unchanged documents' TEXT never moves — only their prior OUTPUT rows
do, and only if the caller's outputs are narrower than documents,
which is the normal case for feature tables).

Complement to the reference's whole-dataset checksum memoization
(``utils.py:71-79``), refined to per-row granularity.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fireball_data_processing_spark.operators.snapshots import snapshot_diff

__all__ = ["incremental_refresh"]


def incremental_refresh(
    new_docs: DataFrame,
    old_docs: DataFrame,
    prior_outputs: DataFrame,
    process: Callable[[DataFrame], DataFrame],
    origin_col: str | None = None,
) -> DataFrame:
    """Outputs for the NEW snapshot, recomputing only added/changed keys.

    ``new_docs`` / ``old_docs`` must carry ``doc_id`` and a precomputed
    ``fp`` column (see :func:`..operators.snapshots.fingerprint`)
    covering every column ``process`` reads. ``prior_outputs`` is
    ``process(old_docs)`` from the previous build, keyed by ``doc_id``.
    ``process`` must be per-row (one output row per key, no
    cross-document state) — see the module docstring.

    With ``origin_col`` set, the result carries a provenance column
    ('refreshed' for recomputed rows, 'carried' for reused ones) so
    build reports can attest how much work the diff saved.
    """
    # the diff feeds TWO consumers (stale + fresh semi joins); without a
    # persist the full-outer-join subtree — including both snapshot
    # fingerprint scans — plans and executes twice. The diff is narrow
    # (key + status, ~50 B/row), so caching it is the cheap side of that
    # trade at any scale; spill-to-disk covers corpora whose key set
    # outgrows executor memory.
    diff = snapshot_diff(old_docs, new_docs, "doc_id").persist()
    stale = diff.filter(F.col("status").isin("added", "changed")).select("doc_id")
    fresh = diff.filter(F.col("status") == "unchanged").select("doc_id")
    refreshed = process(new_docs.join(stale, on="doc_id", how="left_semi"))
    carried = prior_outputs.join(fresh, on="doc_id", how="left_semi")
    if origin_col is not None:
        refreshed = refreshed.withColumn(origin_col, F.lit("refreshed"))
        carried = carried.withColumn(origin_col, F.lit("carried"))
    return carried.unionByName(refreshed)
