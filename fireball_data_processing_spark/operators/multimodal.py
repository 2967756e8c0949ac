"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

Design (the 100 TB pattern):

- media rides in a ``binary`` column next to a typed metadata struct
  (mime, width/height or duration, source uri). Parquet stores it fine;
  Spark never interprets the bytes until a decode stage runs.
- feature extraction runs as an **Arrow-batched ``mapInPandas`` stage** so
  bytes cross the JVM->Python boundary once per batch, not once per row;
  partition sizing keeps batches in memory.
- real decode kernels need codec libraries, so ``fake_features`` provides a
  deterministic md5-based stand-in and the Spark-side plumbing (schema,
  batching, partitioning) is fully testable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

FEATURE_DIM = 8

MEDIA_SCHEMA = "media_id bigint, mime string, data binary"
FEATURE_SCHEMA = (
    "media_id bigint, mime string, n_bytes bigint, digest string, "
    + ", ".join(f"f{i} double" for i in range(FEATURE_DIM))
)


def fake_features(data: bytes) -> list[float]:
    """Deterministic stand-in feature vector: FEATURE_DIM floats derived
    from the md5 digest. Same contract (bytes -> fixed-dim vector) as a
    real embedding kernel."""
    d = hashlib.md5(data).digest()
    return [d[i] / 255.0 for i in range(FEATURE_DIM)]


def extract_features(df: DataFrame) -> DataFrame:
    """mapInPandas feature extraction over a media table
    (``MEDIA_SCHEMA`` -> ``FEATURE_SCHEMA``). One Arrow batch per call;
    bytes never leave the executor."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["data"].map(lambda b: fake_features(bytes(b)))
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["data"].map(len).astype("int64"),
                    "digest": pdf["data"].map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                }
            )
            for i in range(FEATURE_DIM):
                out[f"f{i}"] = feats.map(lambda v, i=i: v[i])
            yield out

    return df.mapInPandas(run, schema=FEATURE_SCHEMA)
