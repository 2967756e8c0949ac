"""Streaming weighted reservoir — the stateful ingest twin of
``operators/sampling.py weighted_sample_topn`` (Efraimidis & Spirakis
2006): maintain, per bucket, the ``n`` rows with the largest
``u ** (1/w)`` reservoir keys seen SO FAR across micro-batches, where
``u`` is the deterministic md5 uniform. ES keys make the reservoir
MERGEABLE — the top-n of a union is the top-n of the per-part top-ns —
so the cross-batch state is exactly the current reservoir, bounded at
``n`` rows per bucket, and the final reservoir equals the batch
operator's output over the same rows regardless of how ingestion was
micro-batched (parity-tested; the same property that makes the batch
form retry-stable makes the stream form replay-stable).

Plan shape:

- The ES key is computed IN THE STREAM PLAN as the same pure codegen
  expression the batch operator uses (``hash_rank`` + ``pow`` rounded
  to 12 dp) — no Python touches the corpus-sized stream except the
  Arrow-batched state step.
- ``applyInPandasWithState`` groups by bucket; per batch the handler
  concatenates the carried reservoir with the batch's candidate rows
  and takes the top ``n`` by (key DESC, id ASC) — one vectorized sort
  over at most ``n + batch_rows(bucket)`` rows.
- Output mode is APPEND: each micro-batch emits the bucket's current
  reservoir SNAPSHOT tagged with a monotone per-bucket ``step``, so a
  consumer reads the max-step rows for the live sample and the history
  doubles as an admission audit trail.

Extends the reference's deterministic-sampling surface (SURVEY §2.6
O5/O8 are batch head-N/split ops) with the continuous-ingest form a
quality-weighted corpus sampler needs at scale.
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fireball_data_processing_spark.operators.sampling import hash_rank
from fireball_data_processing_spark.streaming.heuristics_stream import (
    append_with_state,
)

__all__ = ["stream_weighted_reservoir"]


def stream_weighted_reservoir(
    spark: SparkSession,
    source_dir: str,
    file_schema: StructType | str,
    bucket_col: str,
    id_col: str,
    weight_col: str,
    n: int,
) -> DataFrame:
    """Streaming per-bucket weighted top-``n`` (unsalted hash ranks). Output rows
    ``(bucket, step, doc_id, es_key)``: one reservoir snapshot per
    (bucket, micro-batch that touched it), ``step`` monotone per
    bucket. Rows with non-positive/null weight never enter (the batch
    operator's contract). State is the JSON-encoded reservoir —
    ``[[id, es_key], ...]`` sorted by (key DESC, id ASC) — bounded at
    ``n`` entries per bucket; keys are rounded BEFORE storage, so the
    state round-trips exactly and restart-from-checkpoint reproduces
    the run (restart-tested)."""
    out_schema = (
        "bucket string, step bigint, doc_id bigint, es_key double"
    )
    state_schema = "step bigint, payload string"

    def fn(key, pdf_iter, state):
        step, payload = state.get if state.exists else (0, "[]")
        res = [(int(i), float(k)) for i, k in json.loads(payload)]
        emitted = []
        for pdf in pdf_iter:
            cand = res + [
                (int(i), float(k))
                for i, k in zip(pdf["__id"], pdf["__es"])
            ]
            # (key DESC, id ASC): sort on (-key, id) ascending
            cand.sort(key=lambda t: (-t[1], t[0]))
            res = cand[:n]
            step += 1
            emitted.extend(
                (key[0], int(step), i, k) for i, k in res
            )
        state.update((int(step), json.dumps(res)))
        yield pd.DataFrame(
            emitted, columns=["bucket", "step", "doc_id", "es_key"]
        ).astype(
            {"step": "int64", "doc_id": "int64", "es_key": "float64"}
        )

    stream = (
        spark.readStream.schema(file_schema).parquet(source_dir)
        .filter(F.col(weight_col) > 0)
        .select(
            F.col(bucket_col).cast("string").alias("bucket"),
            F.col(id_col).cast("long").alias("__id"),
            F.round(
                F.pow(
                    hash_rank(F.col(id_col)),
                    F.lit(1.0) / F.col(weight_col),
                ),
                12,
            ).alias("__es"),
        )
    )
    return append_with_state(
        stream.groupBy("bucket"), fn, out_schema, state_schema
    )
