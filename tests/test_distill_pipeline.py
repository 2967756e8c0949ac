"""End-to-end distill pipeline over a real ingested corpus: gzipped JSONL
instance dirs -> typed events -> triples -> author filter -> regex stage.
The integrated form of reference stages distill1 -> distill2 -> distill3a
(single DAG, no per-stage re-reads)."""

from __future__ import annotations

import gzip
import json

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

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


def _nearest_triples(instances):
    """Brute-force distill1 over ``{instance: [(type, order, seq), ...]}``:
    every utterance scans every anchor of its instance. The nearest anchor
    by order distance wins; an anchor at the utterance's own order is both
    backward and forward, and equidistance goes backward. Among anchors
    tied on the order value, backward means the highest seq and forward
    the lowest (the nearest in stream order)."""
    out = {}
    for inst, rows in instances.items():
        anchors = [(o, q) for t, o, q in rows if t == "command"]
        sides = {q: ([], []) for _, q in anchors}
        for t, o, q in rows:
            if t != "message":
                continue
            bwd = max((a for a in anchors if a[0] <= o), default=None)
            fwd = min((a for a in anchors if a[0] >= o), default=None)
            if bwd is None and fwd is None:
                continue
            a = bwd if fwd is None or (bwd is not None and o - bwd[0] <= fwd[0] - o) else fwd
            sides[a[1]][0 if o < a[0] else 1].append((o, q))
        for q, (before, after) in sides.items():
            has = bool(before or after)
            out[(inst, q)] = (
                len(before), len(after),
                [p for _, p in sorted(before)] if has else None,
                [p for _, p in sorted(after)] if has else None,
            )
    return out


@given(st.lists(
    st.lists(st.tuples(st.sampled_from(("command", "message", "state")),
                       st.integers(0, 4)), max_size=16),
    min_size=1, max_size=6,
))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture])
def test_triples_match_brute_force_nearest_with_ties(spark, instances):
    """assemble_triples against the brute-force nearest anchor, on order
    values drawn from 0..4 so anchors tie with anchors and utterances."""
    from fireball_data_processing_spark.schema import StreamSchema

    data = {f"i{k}": [(t, o, q + 1) for q, (t, o) in enumerate(evs)]
            for k, evs in enumerate(instances)}
    events = spark.createDataFrame(
        [(i, q, t, o) for i, rows in data.items() for t, o, q in rows],
        "inst string, seq bigint, event_type string, ord bigint",
    )
    triples = assemble_triples(
        events,
        StreamSchema(instance_col="inst", seq_col="seq"),
        utterance_predicate=F.col("event_type") == "message",
        anchor_predicate=F.col("event_type") == "command",
        payload_col="seq",
        order_expr=F.col("ord"),
    )
    got = {(r["inst"], r["anchor_id"]): (r["n_before"], r["n_after"],
                                          r["before_payloads"], r["after_payloads"])
           for r in triples.collect()}
    assert got == _nearest_triples(data)
