"""Structured Streaming parity: the same heuristic expressions produce the
same results incrementally (file stream, availableNow trigger) as in batch."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from fireball_data_processing_spark.plans.heuristics import (
    STREAM_SAFE,
    heuristics_matrix,
)
from fireball_data_processing_spark.schema import SYNTHETIC_STREAM
from fireball_data_processing_spark.sources.tables import load_table, raw_table_schema
from fireball_data_processing_spark.streaming.heuristics_stream import (
    stream_heuristics,
)

pytestmark = pytest.mark.slow  # driver-budget split (r13): long
# end-to-end runs excluded from the default suite; run with -m slow

SMOKE = "/root/testdata/sf0.001"


def test_stream_heuristics_matches_batch(spark):
    src = tempfile.mkdtemp(prefix="fb_stream_")
    try:
        shutil.copy(os.path.join(SMOKE, "events.parquet"), src)
        batch_df = load_table(spark, SMOKE, "events")
        file_schema = raw_table_schema(spark, SMOKE, "events")

        stream = stream_heuristics(spark, src, file_schema, SYNTHETIC_STREAM)
        q = (
            stream.writeStream.format("memory")
            .queryName("heur_stream")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

        got = {
            r["user_id"]: r.asDict()
            for r in spark.sql("SELECT * FROM heur_stream").collect()
        }
        want = {
            r["user_id"]: r.asDict()
            for r in heuristics_matrix(
                batch_df, SYNTHETIC_STREAM, STREAM_SAFE
            ).collect()
        }
        assert got.keys() == want.keys()
        for uid, row in want.items():
            for col, val in row.items():
                g = got[uid][col]
                if isinstance(val, float):
                    assert abs(g - val) < 1e-9, (uid, col, g, val)
                else:
                    assert g == val, (uid, col, g, val)
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_stateful_fsm_stream_matches_batch(spark):
    import os
    import shutil
    import tempfile

    from fireball_data_processing_spark.streaming.heuristics_stream import (
        buffer_flush_fsm,
        fsm_extract,
        stateful_buffer_flush_stream,
    )

    src = tempfile.mkdtemp(prefix="fb_fsm_stream_")
    try:
        shutil.copy(os.path.join(SMOKE, "events.parquet"), src)
        batch_df = load_table(spark, SMOKE, "events")

        stream = stateful_buffer_flush_stream(
            spark, src, raw_table_schema(spark, SMOKE, "events"), SYNTHETIC_STREAM,
            buffer_types=("view",), flush_types=("purchase",),
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("fsm_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["user_id"], r["anchor_id"]): (r["n_buffered"], r["buffered_sum"])
            for r in spark.sql("SELECT * FROM fsm_stream").collect()
        }
        want_df = fsm_extract(
            batch_df, SYNTHETIC_STREAM,
            buffer_flush_fsm(("view",), ("purchase",), SYNTHETIC_STREAM),
            "user_id bigint, anchor_id bigint, n_buffered bigint, buffered_sum double",
        )
        want = {
            (r["user_id"], r["anchor_id"]): (r["n_buffered"], r["buffered_sum"])
            for r in want_df.collect()
        }
        assert got == want and len(got) > 0
    finally:
        shutil.rmtree(src, ignore_errors=True)


def test_watermarked_window_append_emits_closed_windows(spark, tmp_path):
    """Append mode + watermark: windows are emitted once the watermark
    (advanced by batch 2's later events) passes their end."""
    import pandas as pd

    from fireball_data_processing_spark.streaming.windowed import (
        windowed_counts_stream,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    import os

    os.makedirs(src)

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf.astype({"ts": "int64"}).to_parquet(os.path.join(src, name))

    hour = 3_600_000_000_000  # ns
    base = 1_700_000_000_000_000_000
    # batch 1: two users in hour-window 0
    write_batch("b1.parquet", [
        (1, base + 100, 1, "view", 1.5, "{}"),
        (2, base + 200, 1, "view", 2.5, "{}"),
        (3, base + 300, 2, "view", 4.0, "{}"),
    ])
    schema = ("event_id bigint, ts bigint, user_id bigint, event_type string, "
              "value double, props string")

    out = str(tmp_path / "out")

    def run_once():
        stream = windowed_counts_stream(spark, src, schema, SYNTHETIC_STREAM)
        q = (
            stream.writeStream.format("parquet").option("path", out)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        try:
            return spark.read.parquet(out).collect()
        except Exception:
            return []  # sink has no data files yet

    first = run_once()
    assert first == []  # watermark hasn't passed window end yet

    # batch 2: events 3 hours later -> watermark closes window 0
    write_batch("b2.parquet", [
        (4, base + 3 * hour, 1, "view", 9.0, "{}"),
    ])
    second = run_once()
    got = {(r["user_id"]): (r["n_events"], r["window_value"]) for r in second}
    assert got == {1: (2, 4.0), 2: (1, 4.0)}


def test_state_narration_fsm_matches_declarative_plan(spark):
    # G14: the explicit 3-state runner (search -> record-state ->
    # record-narration) must agree row-for-row with the window-function
    # formulation the catalog query uses
    from fireball_data_processing_spark.queries import get
    from fireball_data_processing_spark.streaming.heuristics_stream import (
        fsm_extract,
        state_narration_fsm,
    )

    ev = load_table(spark, SMOKE, "events")
    fsm = fsm_extract(
        ev,
        SYNTHETIC_STREAM,
        state_narration_fsm(SYNTHETIC_STREAM),
        "user_id bigint, anchor_id bigint, n_state bigint, "
        "n_narration bigint, narration_value double",
    )
    declarative = get("fsm_state_narration").fn(spark, SMOKE)
    a = sorted(map(tuple, fsm.collect()))
    b = sorted(map(tuple, declarative.collect()))
    assert len(a) > 0
    assert a == b


def test_near_new_documents_matches_batch_lsh(spark):
    # NEAR-dup gate parity: gating sf0.01 docs against the sf0.001 corpus
    # band index must keep exactly the docs that lsh_candidate_pairs
    # finds NO cross partner for (same bands)
    import pyspark.sql.functions as F

    from fireball_data_processing_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )
    from fireball_data_processing_spark.streaming.dedup_stream import (
        content_hash,
        corpus_band_index,
        near_new_documents,
    )

    corpus = load_table(spark, SMOKE, "documents")
    idx = corpus_band_index(minhash_signature(corpus), num_hashes=8, band_size=2)
    incoming = load_table(spark, "/root/testdata/sf0.01", "documents")
    got = {
        r["h"]
        for r in near_new_documents(incoming, idx)
        .select(content_hash().alias("h"))
        .distinct()
        .collect()
    }

    # independent expectation via the batch LSH pipeline: union corpus +
    # incoming with tagged ids; incoming docs with any cross candidate pair
    # are near-dups, the rest are near-new
    tagged = corpus.select(
        F.concat(F.lit("c"), F.col("doc_id")).alias("doc_id"), "text"
    ).unionByName(
        incoming.select(
            F.concat(F.lit("i"), F.col("doc_id")).alias("doc_id"), "text"
        )
    )
    sigs = minhash_signature(tagged)
    pairs = lsh_candidate_pairs(sigs, num_hashes=8, band_size=2)
    cross_dup_ids = {
        uid
        for r in pairs.collect()
        for uid in (r["id_a"], r["id_b"])
        if uid.startswith("i")
        and (r["id_a"].startswith("c") != r["id_b"].startswith("c"))
    }
    want_lsh = {
        r["h"]
        for r in incoming.filter(
            ~F.concat(F.lit("i"), F.col("doc_id")).isin(cross_dup_ids)
        )
        .select(content_hash().alias("h"))
        .distinct()
        .collect()
    }
    assert got == want_lsh
    # the gate actually gates: some docs pass, some are stopped
    n_in = incoming.select(content_hash()).distinct().count()
    assert 0 < len(got) < n_in


def test_interval_join_stream_matches_batch(spark, tmp_path):
    """Stream-stream interval join parity: replaying the events file
    through two watermarked stream sides must produce exactly the batch
    interval join's pairs (the `purchase_view_interval_join` semantics).
    availableNow drains everything, so append mode emits every pair."""
    import pyspark.sql.functions as F

    from fireball_data_processing_spark.streaming.join_stream import (
        interval_join_stream,
    )

    src = str(tmp_path / "join_stream_src")
    os.makedirs(src)
    shutil.copy("/root/testdata/sf0.001/events.parquet", src)
    ev = load_table(spark, SMOKE, "events")

    out = interval_join_stream(
        spark,
        src,
        raw_table_schema(spark, SMOKE, "events"),
        SYNTHETIC_STREAM,
    )
    q = (
        out.writeStream.format("memory")
        .queryName("interval_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["anchor_id"], r["match_id"], r["gap_micros"])
        for r in spark.sql("SELECT * FROM interval_join").collect()
    }

    gap_us = 10 * 60 * 1_000_000
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("anchor_id"),
        "user_id",
        F.expr("ts div 1000").alias("p_us"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("match_id"),
        F.col("user_id").alias("v_user"),
        F.expr("ts div 1000").alias("v_us"),
    )
    want = {
        (r["anchor_id"], r["match_id"], r["p_us"] - r["v_us"])
        for r in p.join(
            v,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("v_us") >= F.col("p_us") - gap_us)
            & (F.col("v_us") <= F.col("p_us")),
        ).collect()
    }
    assert want, "batch twin found no pairs — test data assumption broken"
    assert got == want


def test_interval_join_stream_drops_late_matches(spark, tmp_path):
    """Watermark semantics: a match arriving after the watermark has
    passed it is dropped — the pair is NOT emitted — while fresh pairs
    keep flowing. This is the bounded-state contract: state for old
    anchors is reclaimable precisely because late matches are refused."""
    import pandas as pd

    from fireball_data_processing_spark.streaming.join_stream import (
        interval_join_stream,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    schema = (
        "event_id bigint, ts bigint, user_id bigint, event_type string, "
        "value double, props string"
    )

    def write_batch(name, rows):
        pd.DataFrame(rows, columns=cols).astype({"ts": "int64"}).to_parquet(
            os.path.join(src, name)
        )

    minute = 60_000_000_000  # ns
    t0 = 1_700_000_000_000_000_000

    sink = str(tmp_path / "sink")

    def run_once():
        out = interval_join_stream(spark, src, schema, SYNTHETIC_STREAM)
        q = (
            out.writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        try:
            return {
                (r["anchor_id"], r["match_id"])
                for r in spark.read.parquet(sink).collect()
            }
        except Exception:
            return set()  # sink has no data files yet

    # batch 1: purchase P(id=1) at t0, view V1(id=2) 5 min earlier -> pair
    write_batch("b1.parquet", [
        (1, t0, 7, "purchase", 1.0, "{}"),
        (2, t0 - 5 * minute, 7, "view", 1.0, "{}"),
    ])
    got1 = run_once()
    assert (1, 2) in got1

    # batch 2: events 3 hours later advance the watermark way past t0
    write_batch("b2.parquet", [
        (3, t0 + 180 * minute, 7, "purchase", 1.0, "{}"),
        (4, t0 + 178 * minute, 7, "view", 1.0, "{}"),
    ])
    got2 = run_once()
    assert (3, 4) in got2  # fresh pair flows

    # batch 3: a LATE view 2 min before the original purchase — behind
    # the watermark, must be dropped, never joined to anchor 1
    write_batch("b3.parquet", [
        (5, t0 - 2 * minute, 7, "view", 1.0, "{}"),
    ])
    got3 = run_once()
    assert (1, 5) not in got3


def test_stream_scrub_segments_matches_batch(spark, tmp_path):
    # segment-scrub gate: streamed output (epoch-partitioned parquet)
    # must equal the batch scrub of the same files against the same index
    from fireball_data_processing_spark.streaming.dedup_stream import (
        corpus_segment_index,
        scrub_segments,
        stream_scrub_segments,
    )

    corpus = load_table(spark, SMOKE, "documents")
    index = corpus_segment_index(corpus, seg_words=8, min_docs=1)

    src = str(tmp_path / "scrub_src")
    os.makedirs(src)
    shutil.copy("/root/testdata/sf0.01/documents.parquet", src)
    incoming = load_table(spark, "/root/testdata/sf0.01", "documents")

    out_dir = str(tmp_path / "scrub_out")
    q = stream_scrub_segments(
        spark, src, incoming.schema, index, out_dir,
        str(tmp_path / "scrub_ckpt"),
    )
    q.awaitTermination(120)

    got = sorted(
        map(
            tuple,
            spark.read.parquet(out_dir)
            .select("doc_id", "text", "n_segments", "n_removed_segments")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            scrub_segments(incoming, index, seg_words=8)
            .select("doc_id", "text", "n_segments", "n_removed_segments")
            .collect(),
        )
    )
    assert got == want
    assert len(got) == incoming.count()
    # the gate actually scrubs something against the smoke corpus
    assert any(r[3] > 0 for r in got)


def test_stream_scrub_replay_is_idempotent(spark, tmp_path):
    # a re-run with a FRESH checkpoint replays every file into the same
    # epoch partitions; dynamic overwrite must leave one copy, not two
    from fireball_data_processing_spark.streaming.dedup_stream import (
        corpus_segment_index,
        stream_scrub_segments,
    )

    corpus = load_table(spark, SMOKE, "documents")
    index = corpus_segment_index(corpus, seg_words=8, min_docs=1)
    src = str(tmp_path / "replay_src")
    os.makedirs(src)
    shutil.copy("/root/testdata/sf0.001/documents.parquet", src)
    incoming = load_table(spark, SMOKE, "documents")
    out_dir = str(tmp_path / "replay_out")

    for attempt in range(2):
        q = stream_scrub_segments(
            spark, src, incoming.schema, index, out_dir,
            str(tmp_path / f"replay_ckpt{attempt}"),
        )
        q.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == incoming.count()


def test_stream_quality_gate_matches_batch(spark, tmp_path):
    # quality-gate parity: streamed admissions (epoch-partitioned
    # parquet) must equal the batch gate over the same files against
    # the same frozen LM + threshold
    import pyspark.sql.functions as F

    from fireball_data_processing_spark.streaming.quality_stream import (
        corpus_lm_index,
        quality_gate,
        stream_quality_gate,
    )

    corpus = load_table(spark, SMOKE, "documents")
    lm = corpus_lm_index(corpus)

    src = str(tmp_path / "qg_src")
    os.makedirs(src)
    shutil.copy("/root/testdata/sf0.01/documents.parquet", src)
    incoming = load_table(spark, "/root/testdata/sf0.01", "documents")

    out_dir = str(tmp_path / "qg_out")
    q = stream_quality_gate(
        spark, src, incoming.schema, lm, out_dir,
        str(tmp_path / "qg_ckpt"), max_avg_neg_log2=4.95,
    )
    q.awaitTermination(120)

    cols = ["doc_id", "passes_gopher", "avg_neg_log2_bigram_prob",
            "n_bigrams", "passes_lm", "passes_quality"]
    got = sorted(map(tuple, spark.read.parquet(out_dir).select(*cols).collect()))
    want = sorted(
        map(
            tuple,
            quality_gate(incoming, lm, 4.95)
            .filter(F.col("passes_quality"))
            .select(*cols)
            .collect(),
        )
    )
    assert got == want
    # the gate discriminates: some admitted, some rejected
    assert 0 < len(got) < incoming.count(), len(got)


def test_stream_quality_gate_restart_and_growth(spark, tmp_path):
    # exactly-once across restart: batch 1 processes file A; the stream
    # stops; file B arrives; a NEW query on the SAME checkpoint must
    # process only B — the union equals the batch gate over A+B with no
    # duplicated A rows
    import pyspark.sql.functions as F

    from fireball_data_processing_spark.streaming.quality_stream import (
        corpus_lm_index,
        quality_gate,
        stream_quality_gate,
    )

    corpus = load_table(spark, SMOKE, "documents")
    lm = corpus_lm_index(corpus)
    incoming = load_table(spark, SMOKE, "documents")
    half = incoming.filter(F.col("doc_id") % 2 == 0)
    other = incoming.filter(F.col("doc_id") % 2 == 1)

    src = str(tmp_path / "qgr_src")
    os.makedirs(src)
    out_dir = str(tmp_path / "qgr_out")
    ckpt = str(tmp_path / "qgr_ckpt")

    def _drop_file(df, name):
        stage = str(tmp_path / ("stage_" + name))
        df.coalesce(1).write.parquet(stage)
        part = next(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        shutil.copy(os.path.join(stage, part), os.path.join(src, name))

    _drop_file(half, "a.parquet")
    q = stream_quality_gate(
        spark, src, incoming.schema, lm, out_dir, ckpt, max_avg_neg_log2=4.95
    )
    q.awaitTermination(120)
    n_first = spark.read.parquet(out_dir).count()
    assert n_first == quality_gate(half, lm, 4.95).filter("passes_quality").count()

    _drop_file(other, "b.parquet")
    q2 = stream_quality_gate(
        spark, src, incoming.schema, lm, out_dir, ckpt, max_avg_neg_log2=4.95
    )
    q2.awaitTermination(120)

    cols = ["doc_id", "passes_gopher", "avg_neg_log2_bigram_prob",
            "n_bigrams", "passes_lm", "passes_quality"]
    got = sorted(map(tuple, spark.read.parquet(out_dir).select(*cols).collect()))
    want = sorted(
        map(
            tuple,
            quality_gate(incoming, lm, 4.95)
            .filter(F.col("passes_quality"))
            .select(*cols)
            .collect(),
        )
    )
    assert got == want


def test_stream_weighted_reservoir_matches_batch(spark, tmp_path):
    """The mergeable-reservoir property end-to-end: after the stream
    consumes all files (in two micro-batch groups), each bucket's
    MAX-STEP snapshot must equal the batch weighted_sample_topn over
    the union of all rows — regardless of how ingestion was batched."""
    import os

    import pandas as pd
    import pyspark.sql.functions as F

    from fireball_data_processing_spark.operators.sampling import (
        weighted_sample_topn,
    )
    from fireball_data_processing_spark.streaming.reservoir_stream import (
        stream_weighted_reservoir,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    rows1 = [("a", 1, 10), ("a", 2, 500), ("b", 3, 7), ("a", 4, 40)]
    rows2 = [("a", 5, 900), ("b", 6, 7), ("b", 7, 0), ("c", 8, 3)]
    cols = ["src_name", "doc_id", "w"]
    pd.DataFrame(rows1, columns=cols).to_parquet(os.path.join(src, "b1.parquet"))
    pd.DataFrame(rows2, columns=cols).to_parquet(os.path.join(src, "b2.parquet"))
    schema = "src_name string, doc_id bigint, w bigint"

    stream = stream_weighted_reservoir(
        spark, src, schema, bucket_col="src_name", id_col="doc_id",
        weight_col="w", n=2,
    )
    q = (
        stream.writeStream.format("memory").queryName("wres")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    snap = spark.sql(
        "SELECT * FROM wres WHERE (bucket, step) IN "
        "(SELECT bucket, MAX(step) FROM wres GROUP BY bucket)"
    )
    got = {(r["bucket"], r["doc_id"], r["es_key"]) for r in snap.collect()}

    batch = spark.createDataFrame(rows1 + rows2, schema)
    want = {
        (r["src_name"], r["doc_id"], r["es_key"])
        for r in weighted_sample_topn(
            batch, F.col("src_name"), F.col("w"), n=2,
            key=F.col("doc_id"),
        ).collect()
    }
    assert got == want
    # zero-weight row 7 must never have been admitted at any step
    assert spark.sql(
        "SELECT COUNT(*) AS c FROM wres WHERE doc_id = 7"
    ).first()["c"] == 0


def test_stream_weighted_reservoir_restart_continues_state(spark, tmp_path):
    """Reservoir state survives a checkpoint restart: rows ingested
    after the restart compete against the reservoir carried from the
    first run, and the final snapshot equals the batch operator over
    everything ingested across both runs."""
    import os

    import pandas as pd
    import pyspark.sql.functions as F

    from fireball_data_processing_spark.operators.sampling import (
        weighted_sample_topn,
    )
    from fireball_data_processing_spark.streaming.reservoir_stream import (
        stream_weighted_reservoir,
    )

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    cols = ["src_name", "doc_id", "w"]
    rows1 = [("a", i, 100 + i) for i in range(8)]
    rows2 = [("a", i, 5000) for i in range(8, 12)]
    pd.DataFrame(rows1, columns=cols).to_parquet(os.path.join(src, "b1.parquet"))
    schema = "src_name string, doc_id bigint, w bigint"

    def run_once():
        stream = stream_weighted_reservoir(
            spark, src, schema, bucket_col="src_name", id_col="doc_id",
            weight_col="w", n=3,
        )
        q = (
            stream.writeStream.format("parquet").option("path", out)
            .outputMode("append").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(120)

    run_once()
    pd.DataFrame(rows2, columns=cols).to_parquet(os.path.join(src, "b2.parquet"))
    run_once()

    res = spark.read.parquet(out)
    last = res.filter(
        F.col("step") == res.agg(F.max("step")).first()[0]
    )
    got = {(r["doc_id"], r["es_key"]) for r in last.collect()}
    batch = spark.createDataFrame(rows1 + rows2, schema)
    want = {
        (r["doc_id"], r["es_key"])
        for r in weighted_sample_topn(
            batch, F.col("src_name"), F.col("w"), n=3,
            key=F.col("doc_id"),
        ).collect()
    }
    assert got == want


def test_stream_histogram_quantiles_match_batch_sketch(spark, tmp_path):
    # streamed fixed-grid histogram state, merged, must reproduce the
    # batch sketch's estimates when the frozen (lo, hi) equal the batch
    # min/max (same bucket geometry)
    from fireball_data_processing_spark.operators.sketches import (
        histogram_quantiles,
    )
    from fireball_data_processing_spark.sources.tables import raw_table_schema
    from fireball_data_processing_spark.streaming.quantile_stream import (
        read_stream_quantiles,
        stream_histogram_sink,
    )

    batch = load_table(spark, "/root/testdata/sf0.01", "events")
    lo, hi = batch.selectExpr("min(value)", "max(value)").first()

    src = str(tmp_path / "hq_src")
    os.makedirs(src)
    shutil.copy("/root/testdata/sf0.01/events.parquet", src)
    state = str(tmp_path / "hq_state")
    q = stream_histogram_sink(
        spark, src, raw_table_schema(spark, "/root/testdata/sf0.01", "events"),
        "value", lo, hi, 128, state, str(tmp_path / "hq_ckpt"),
    )
    q.awaitTermination(120)

    got = {
        r["q"]: (r["est"], r["n"])
        for r in read_stream_quantiles(spark, state, lo, hi, 128).collect()
    }
    want = {
        r["q"]: r["est"] for r in histogram_quantiles(batch, "value").collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][0] == want[k], (k, got[k], want[k])
        assert got[k][1] == batch.count()


def test_stream_histogram_epoch_replay_is_idempotent(spark, tmp_path):
    # re-writing the SAME epoch must not double its counts (the
    # dynamic-partition overwrite contract)
    from fireball_data_processing_spark.streaming.quantile_stream import (
        histogram_buckets,
        read_stream_quantiles,
    )
    from fireball_data_processing_spark.streaming.sinks_stream import (
        write_epoch_partition,
    )

    df = spark.createDataFrame([(float(v),) for v in range(100)], "value double")
    state = str(tmp_path / "state")
    counts = histogram_buckets(df, "value", 0.0, 100.0, 10)
    write_epoch_partition(counts, 0, state)
    write_epoch_partition(counts, 0, state)  # replay
    n = read_stream_quantiles(spark, state, 0.0, 100.0, 10).first()["n"]
    assert n == 100


def test_histogram_buckets_clamp_out_of_range(spark):
    from fireball_data_processing_spark.streaming.quantile_stream import (
        histogram_buckets,
    )

    df = spark.createDataFrame(
        [(-5.0,), (0.5,), (9.5,), (50.0,)], "value double"
    )
    got = {
        r["bucket"]: r["cnt"]
        for r in histogram_buckets(df, "value", 0.0, 10.0, 10).collect()
    }
    assert got == {0: 2, 9: 2}  # -5 clamps to bucket 0, 50 to bucket 9
