"""End-to-end distill pipeline over a real ingested corpus: gzipped JSONL
instance dirs -> typed events -> triples -> author filter -> regex stage.
The integrated form of reference stages distill1 -> distill2 -> distill3a
(single DAG, no per-stage re-reads)."""

from __future__ import annotations

import gzip
import json

import pytest

from pyspark.sql import functions as F

from fireball_data_processing_spark.plans.distill import (
    assemble_triples,
    author_filter,
    ic_regex_stage,
)
from fireball_data_processing_spark.schema import FIREBALL_STREAM
from fireball_data_processing_spark.sources.events import chunk_files, load_event_stream


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    root = tmp_path_factory.mktemp("distill_corpus")
    events = [
        {"combat_id": "i1", "event_type": "message", "timestamp": 1.0,
         "author_id": "alice", "content": "we sneak in (ooc: rolling now)"},
        {"combat_id": "i1", "event_type": "message", "timestamp": 2.0,
         "author_id": "dm", "content": "the door creaks open"},
        {"combat_id": "i1", "event_type": "message", "timestamp": 3.0,
         "author_id": "randy", "content": "hi what game is this"},
        {"combat_id": "i1", "event_type": "command", "timestamp": 4.0,
         "author_id": "alice", "content": "!attack goblin",
         "command_name": "attack"},
        {"combat_id": "i1", "event_type": "message", "timestamp": 5.0,
         "author_id": "alice", "content": "(fully ooc aside)"},
        {"combat_id": "i1", "event_type": "message", "timestamp": 6.0,
         "author_id": "dm", "content": "it hits home"},
    ]
    d = root / "i1"
    d.mkdir()
    with gzip.open(d / "chunk-000.jsonl.gz", "wt") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")
    return str(root)


def test_distill_1_2_3a_end_to_end(spark, corpus):
    events = load_event_stream(spark, chunk_files(corpus))

    # distill1: triples around command anchors, message payloads carry
    # (author, content)
    triples = assemble_triples(
        events.withColumn(
            "payload", F.struct(F.col("author_id"), F.col("content"))
        ),
        FIREBALL_STREAM.__class__(instance_col="instance_id", seq_col="seq",
                                  ts_col="timestamp", type_col="event_type"),
        utterance_predicate=F.col("event_type") == "message",
        anchor_predicate=F.col("event_type") == "command",
        payload_col="payload",
        order_expr=F.col("timestamp"),
    )
    t = triples.collect()
    assert len(t) == 1
    row = t[0]
    assert row["n_before"] == 3 and row["n_after"] == 2

    # distill2: keep only command-author or DM utterances
    filtered = author_filter(
        triples.withColumn("allowed", F.array(F.lit("alice"), F.lit("dm"))),
        F.col("allowed"),
    ).collect()[0]
    assert [m["author_id"] for m in filtered["before_payloads"]] == ["alice", "dm"]
    assert [m["author_id"] for m in filtered["after_payloads"]] == ["alice", "dm"]

    # distill3a: strip parentheticals, drop now-blank utterances
    flat = spark.createDataFrame(
        [(m["author_id"], m["content"])
         for m in filtered["before_payloads"] + filtered["after_payloads"]],
        "author_id string, content string",
    )
    cleaned = ic_regex_stage(flat, "content").collect()
    contents = [r["content"] for r in cleaned]
    assert "we sneak in " in contents  # parenthetical removed
    assert "the door creaks open" in contents
    assert "it hits home" in contents
    assert not any("ooc" in c for c in contents)
    assert len(cleaned) == 3  # the fully-parenthetical aside vanished
