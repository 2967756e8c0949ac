"""Multimodal columns: images/audio/video as opaque binary + typed metadata.

Design (the 100 TB pattern):

- media rides in a ``binary`` column next to a typed metadata struct
  (mime, width/height or duration, source uri). Parquet stores it fine;
  Spark never interprets the bytes until a decode stage runs.
- decode / feature-extract / resize / frame-sample run as **Arrow-batched
  ``mapInPandas`` stages** so bytes cross the JVM->Python boundary once per
  batch, not once per row; partition sizing keeps batches in memory.
- the decode kernels themselves need codec libraries that are NOT in this
  container — they are STUBBED: ``decode_image`` raises
  ``NotImplementedError`` unless a decoder is importable, and
  ``fake_features`` provides a deterministic md5-based stand-in so the
  Spark-side plumbing (schema, batching, partitioning) is fully testable.
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


def decode_image(data: bytes):  # pragma: no cover - container has no codecs
    """Real decode path, gated on an importable decoder (PIL/cv2)."""
    try:
        import PIL.Image  # noqa: F401
        import io

        return PIL.Image.open(io.BytesIO(data))
    except ImportError as e:
        raise NotImplementedError(
            "image decoding requires PIL/cv2, not present in this container; "
            "use fake_features for plumbing tests"
        ) from e


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


def frame_sample_plan(df: DataFrame) -> DataFrame:
    """Video frame-sampling plumbing: emits one row per 10th frame index
    using metadata only (frame decode itself is the stubbed kernel). Shows
    the explode-then-decode shape that keeps the expensive stage narrow."""
    from pyspark.sql import functions as F

    n_frames = F.coalesce(
        F.get_json_object(F.col("mime"), "$.n_frames").cast("int"), F.lit(0)
    )
    # zero-frame media (or metadata-less rows, where n_frames coalesces to
    # 0) must yield NO sampled frames — explode of the empty array drops
    # them instead of emitting a bogus frame 0
    idx = F.when(
        n_frames > 0,
        F.sequence(F.lit(0), n_frames - 1, F.lit(10)),
    ).otherwise(F.array().cast("array<int>"))
    return df.select("media_id", F.explode(idx).alias("frame_idx"))
