"""Connector-seam source adapter: batch/stream parity through
open_event_stream for a file source (event-time normalization applied)
and the ingest capstone driven through the seam."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from fireball_data_processing_spark.plans.heuristics import (
    SIMPLE,
    heuristic_exprs,
    heuristics_matrix,
)
from fireball_data_processing_spark.schema import SYNTHETIC_STREAM
from fireball_data_processing_spark.sources.tables import load_table
from fireball_data_processing_spark.streaming.sources_stream import (
    open_event_stream,
)

SMOKE = "/root/testdata/sf0.001"
S = SYNTHETIC_STREAM
#: SIMPLE with distinct aggregations swapped for mergeable sketches: the
#: heuristics a stream can aggregate incrementally
STREAM_SAFE = tuple(
    "num_participants_approx" if n == "num_participants" else n for n in SIMPLE
)


def raw_table_schema(spark: SparkSession, sf_dir: str, name: str):
    """On-disk schema of a table, BEFORE event-time normalization.

    Streaming readers must declare the file schema exactly as written
    (``readStream.schema(...)``); the stream builders then apply
    ``normalize_event_time`` themselves, so batch and streaming plans see
    the same int64-nanos event time.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema


def _run_to_memory(spark, df, name, mode="complete"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def _assert_rows_equal(got, want):
    assert got.keys() == want.keys()
    for k, row in want.items():
        for col, val in row.items():
            g = got[k][col]
            if isinstance(val, float):
                assert abs(g - val) < 1e-9, (k, col, g, val)
            else:
                assert g == val, (k, col, g, val)


def test_open_event_stream_file_source_batch_parity(spark):
    # the batch heuristic EXPRESSIONS run unchanged on the adapter's
    # stream — the seam's whole contract
    src = tempfile.mkdtemp(prefix="fb_seam_")
    try:
        shutil.copy(os.path.join(SMOKE, "events.parquet"), src)
        stream = open_event_stream(
            spark,
            fmt="parquet",
            schema=raw_table_schema(spark, SMOKE, "events"),
            path=src,
        )
        # ts must arrive normalized to int64 nanos, same as load_table
        assert dict(stream.dtypes)["ts"] == "bigint"
        exprs = heuristic_exprs(S, STREAM_SAFE)
        agg = stream.groupBy(F.col(S.instance_col)).agg(*exprs.values())
        got = {
            r[S.instance_col]: r.asDict()
            for r in _run_to_memory(spark, agg, "seam_parity").collect()
        }
        batch = load_table(spark, SMOKE, "events")
        want = {
            r[S.instance_col]: r.asDict()
            for r in heuristics_matrix(batch, S, STREAM_SAFE).collect()
        }
        _assert_rows_equal(got, want)
    finally:
        shutil.rmtree(src, ignore_errors=True)


import pytest

pytestmark = pytest.mark.slow  # driver-budget split (r13): long
# end-to-end runs excluded from the default suite; run with -m slow


@pytest.mark.parametrize("gate", ["exact", "near"])
def test_capstone_through_kinesis_shaped_seam(spark, tmp_path, gate):
    """Drive the ingest CAPSTONE end-to-end through the connector seam
    with a rate-limited record source — documents arrive as JSON
    records, one file per micro-batch. The final table must be
    row-identical to the direct file-stream run: the swap to a real
    connector is the open_event_stream call itself
    (``open_event_stream(spark, fmt=..., schema=DOC_SCHEMA,
    options={"streamName": ..., "region": ...})``) — nothing in the
    pipeline below it changes. Parameterized over BOTH dedup gates: the
    seam is orthogonal to the gate, and this pins it."""
    from pyspark.sql import functions as F

    from fireball_data_processing_spark.operators.dedup import (
        minhash_signature,
    )
    from fireball_data_processing_spark.streaming.capstone import (
        read_pipeline_totals,
        run_ingest_pipeline,
        run_ingest_pipeline_from_stream,
        stage_incoming_slices,
    )
    from fireball_data_processing_spark.streaming.dedup_stream import (
        corpus_band_index,
        corpus_hash_index,
    )

    d = load_table(spark, SMOKE, "documents")
    corpus = d.filter(F.pmod(F.col("doc_id"), F.lit(4)) == 0)
    incoming = d.filter(F.pmod(F.col("doc_id"), F.lit(4)) != 0)
    if gate == "exact":
        index = corpus_hash_index(corpus).localCheckpoint()
    else:
        index = corpus_band_index(
            minhash_signature(corpus), num_hashes=8, band_size=2
        ).localCheckpoint()
    doc_schema = "doc_id bigint, text string, source string, lang string"

    # record-source staging: each slice as one JSON-lines file
    seam_staging = str(tmp_path / "seam_staging")
    for s in range(3):
        incoming.filter(
            F.pmod(F.xxhash64(F.col("doc_id")), F.lit(3)) == s
        ).select("doc_id", "text", "source", "lang").coalesce(1).write.mode(
            "overwrite"
        ).json(f"{seam_staging}/slice={s}")
    stream = open_event_stream(
        spark,
        fmt="json",
        schema=doc_schema,
        path=seam_staging,
        options={"maxFilesPerTrigger": "1", "recursiveFileLookup": "true"},
    )
    run_ingest_pipeline_from_stream(
        stream, index, str(tmp_path / "seam_out"), str(tmp_path / "seam_ckpt"),
        gate=gate,
    )
    via_seam = sorted(
        (r["source"], r["lang"], r["n_docs"], r["n_tokens"])
        for r in read_pipeline_totals(
            spark, str(tmp_path / "seam_out")
        ).collect()
    )

    # reference run: the direct file micro-batch source
    direct_staging = str(tmp_path / "direct_staging")
    stage_incoming_slices(incoming, direct_staging)
    run_ingest_pipeline(
        spark, direct_staging, incoming.schema, index,
        str(tmp_path / "direct_out"), str(tmp_path / "direct_ckpt"),
        gate=gate,
    )
    direct = sorted(
        (r["source"], r["lang"], r["n_docs"], r["n_tokens"])
        for r in read_pipeline_totals(
            spark, str(tmp_path / "direct_out")
        ).collect()
    )
    assert via_seam == direct
    assert len(via_seam) > 0
    # the seam really rate-limited: one epoch partial per staged file
    parts = spark.read.parquet(str(tmp_path / "seam_out"))
    assert parts.select("batch_id").distinct().count() == 3
