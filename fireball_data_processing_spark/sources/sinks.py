"""Sinks (SURVEY.md S7/S8/S11/S13) and result memoization (S6/S9).

The reference writes gzipped JSONL per instance (``dataset/utils.py:70-87``)
and per-heuristic CSVs whose header row carries the dataset checksum for
memoization (``heuristic_worker.py:118-121``, validated at
``dataset/dataset.py:41-49``). Spark-side:

- JSONL(.gz): ``df.write.json`` with gzip codec — one file per partition,
  never a single-file ``coalesce(1)`` merge.
- CSV results: ``df.write.csv``; the checksum travels as a sidecar
  ``_checksum`` file next to the output (a header row inside a distributed
  CSV has no well-defined position).
- memoization: skip recompute when the sidecar checksum matches the current
  input checksum — the engine-level analog of the reference's
  ``--force-recompute`` flow (``heuristic_worker.py:95-110``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def write_jsonl(df: DataFrame, path: str) -> None:
    """S7 JSONL.gz sink."""
    df.write.mode("overwrite").option("compression", "gzip").json(path)


def write_results_csv(
    df: DataFrame, path: str, checksum: str | None = None
) -> None:
    """S8 CSV result sink with checksum sidecar."""
    df.write.mode("overwrite").option("header", True).csv(path)
    if checksum is not None:
        with open(os.path.join(path, "_checksum"), "w") as f:
            f.write(checksum)


def read_result_checksum(path: str) -> str | None:
    """S9: the sidecar checksum of a previous result, if any."""
    p = os.path.join(path, "_checksum")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return f.read().strip()


def memoized(path: str, input_checksum: str) -> bool:
    """True when a previous result at ``path`` is still valid for
    ``input_checksum`` (reference heuristic_worker.py:95-110)."""
    return read_result_checksum(path) == input_checksum
