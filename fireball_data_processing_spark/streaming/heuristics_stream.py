"""Streaming heuristics: the same aggregation expressions, incremental.

The reference is batch-only but stream-shaped (Kinesis Firehose provenance,
README.md:45-48). Because the heuristics are declared as Column aggregates
(plans/heuristics.py), the streaming mode reuses them verbatim over
``readStream`` — this is the "declare once, run batch or streaming" payoff
of the Spark-first design (cf. the Structured Streaming paper, SIGMOD '18).

Only the SIMPLE (non-windowed) heuristics stream: ordered per-instance
windows need either event-time watermarking + stateful operators or the
batch path. The FSM extractors (G13/G14) are the stateful analog — see
``fsm_extract`` for the batch form; the streaming form is
``applyInPandasWithState`` over the same per-instance generator.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, GroupedData, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fireball_data_processing_spark.plans.heuristics import (
    STREAM_SAFE,
    heuristic_exprs,
)
from fireball_data_processing_spark.schema import StreamSchema
from fireball_data_processing_spark.sources.tables import normalize_event_time


def stream_heuristics(
    spark: SparkSession,
    source_dir: str,
    file_schema: StructType | str,
    s: StreamSchema,
) -> DataFrame:
    """Incremental per-instance ``STREAM_SAFE`` heuristics over a file
    stream (exact distinct aggregations cannot run incrementally; their
    ``*_approx`` variants do).

    Swap the parquet file source for a Kinesis/Kafka source in production;
    the aggregation layer is source-agnostic.
    """
    stream = normalize_event_time(
        spark.readStream.schema(file_schema).parquet(source_dir),
        s.ts_col,
    )
    exprs = heuristic_exprs(s, STREAM_SAFE)
    return stream.groupBy(F.col(s.instance_col)).agg(*exprs.values())


def fsm_extract(
    df: DataFrame,
    s: StreamSchema,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    out_schema: StructType | str,
) -> DataFrame:
    """G13/G14 per-instance FSM extraction (reference
    old/distill_rp_commands.py:24-127): inherently sequential per instance,
    parallel across instances — ``groupBy(instance).applyInPandas``.

    ``fn`` receives one instance's events as a pandas frame (NOT guaranteed
    sorted; sort by the seq column first) and returns extracted rows.
    """
    return df.groupBy(s.instance_col).applyInPandas(
        lambda pdf: fn(pdf.sort_values(s.seq_col)), schema=out_schema
    )


def stateful_buffer_flush_stream(
    spark: SparkSession,
    source_dir: str,
    file_schema: StructType | str,
    s: StreamSchema,
    buffer_types: tuple[str, ...],
    flush_types: tuple[str, ...],
) -> DataFrame:
    """G13's streaming form: the same buffer/flush FSM as ``fsm_extract``,
    incremental via ``applyInPandasWithState`` — the (buffered count, sum)
    carries across micro-batches in GroupState, so a command in batch N
    flushes utterances that arrived in batch N-1.

    Within-batch rows are sorted by seq; cross-batch order is arrival order
    (the Kinesis/Firehose property the reference's layout assumes:
    time-ordered chunk delivery).
    """
    if isinstance(file_schema, StructType):
        inst_type = file_schema[s.instance_col].dataType.simpleString()
    else:  # DDL string: fall back to the synthetic stream's bigint key
        inst_type = "bigint"
    out_schema = (
        f"{s.instance_col} {inst_type}, anchor_id bigint, "
        "n_buffered bigint, buffered_sum double"
    )
    state_schema = "buf_n bigint, buf_sum double"

    def fn(key, pdf_iter, state):
        # vectorized within each micro-batch: cumulative-sum segmentation on
        # the type column (the same trick the DuckDB oracle uses); only the
        # carry-in/carry-out buffer state is scalar — no per-row Python
        buf_n, buf_sum = state.get if state.exists else (0, 0.0)
        rows = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(s.seq_col)
            anchors, counts, sums, buf_n, buf_sum = _segment_buffer_flush(
                pdf, s, buffer_types, flush_types, buf_n, buf_sum
            )
            rows.extend(
                (key[0], int(a), int(n), round(v, 6))
                for a, n, v in zip(anchors, counts, sums)
            )
        state.update((int(buf_n), float(buf_sum)))
        yield pd.DataFrame(
            rows,
            columns=[s.instance_col, "anchor_id", "n_buffered", "buffered_sum"],
        ).astype({"anchor_id": "int64", "n_buffered": "int64",
                  "buffered_sum": "float64"})

    stream = normalize_event_time(
        spark.readStream.schema(file_schema).parquet(source_dir),
        s.ts_col,
    )
    return append_with_state(
        stream.groupBy(F.col(s.instance_col)), fn, out_schema, state_schema
    )


def append_with_state(
    grouped: GroupedData,
    fn: Callable,
    out_schema: StructType | str,
    state_schema: StructType | str,
) -> DataFrame:
    """``applyInPandasWithState`` in append mode with no timeout: the
    state handler ``fn`` emits each row once and keeps its carry in
    ``state_schema``."""
    return grouped.applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def _segment_buffer_flush(
    pdf: pd.DataFrame,
    s: StreamSchema,
    buffer_types: tuple[str, ...],
    flush_types: tuple[str, ...],
    carry_n: int,
    carry_sum: float,
) -> tuple:
    """Vectorized core of the buffer/flush FSM over one already-sorted
    frame: flush event k consumes the buffer-role events between flush k-1
    and k (segment = shifted cumulative flush count), with the carry-in
    buffer applied to the first flush. Returns (anchor ids, counts, sums,
    carry-out n, carry-out sum) — all numpy, no per-row Python."""
    import numpy as np

    is_flush = pdf[s.type_col].isin(flush_types).to_numpy()
    is_buf = pdf[s.type_col].isin(buffer_types).to_numpy()
    if s.measure_col:
        vals = pdf[s.measure_col].astype("float64").to_numpy()
    else:
        vals = np.zeros(len(pdf))
    seg = np.cumsum(is_flush) - is_flush  # flush row k sits in segment k
    n_flush = int(is_flush.sum())
    bn = np.bincount(seg[is_buf], minlength=n_flush + 1)
    bs = np.bincount(seg[is_buf], weights=vals[is_buf], minlength=n_flush + 1)
    if n_flush == 0:
        return (np.empty(0), np.empty(0), np.empty(0),
                carry_n + int(bn[0]), carry_sum + float(bs[0]))
    counts = bn[:n_flush].astype("int64")
    sums = bs[:n_flush].copy()
    counts[0] += carry_n
    sums[0] += carry_sum
    anchors = pdf[s.seq_col].to_numpy()[is_flush]
    return (anchors, counts, sums, int(bn[n_flush]), float(bs[n_flush]))


# event roles of the reference's state/narration transition table
_STATE_TYPES = ("purchase",)
_RESET_TYPES = ("signup",)
_NARRATION_TYPES = ("view",)


def state_narration_fsm(
    s: StreamSchema,
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """G14: the reference's 3-state transition table (search=1 ->
    record-state=2 -> record-narration=3, reference
    old/distill_state_narration.py:74-155) as an explicit per-instance
    runner for ``fsm_extract``:

    - state 1: a state-role event starts the state buffer -> 2 (:93-99)
    - state 2: state-role appends; reset-role clears WITHOUT emitting -> 1
      (:114-118); qualifying narration-role starts narration -> 3 (:120-126)
    - state 3: state-role flushes the (state, narration) pair and starts
      the next buffer -> 2 (:129-135); reset-role flushes -> 1 (:136-140);
      narration-role appends (:141-147)
    - end of instance: flush (:152-155); a flush only emits when both
      buffers are non-empty (:68-71)

    Narration events with measure below 2.0 are skipped entirely (the
    1-word-utterance skip, :76-78). The production path is the declarative
    window formulation (queries.q_fsm_state_narration) — the transition
    table reduces to two cumulative-sum segmentations — and this runner is
    parity-tested against that plan.
    """

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        rows: list[tuple] = []
        if len(pdf):
            inst = pdf[s.instance_col].iloc[0]
            state = 1
            state_buf: list[int] = []
            narr: list[float] = []

            def flush() -> None:
                if state_buf and narr:
                    rows.append(
                        (inst, state_buf[0], len(state_buf), len(narr),
                         round(sum(narr), 6))
                    )

            for eid, etype, val in zip(
                pdf[s.seq_col].to_numpy(),
                pdf[s.type_col].to_numpy(),
                pdf[s.measure_col].to_numpy(),
            ):
                if etype in _NARRATION_TYPES and not (val >= 2.0):
                    continue
                if state == 1:
                    if etype in _STATE_TYPES:
                        state_buf = [int(eid)]
                        state = 2
                elif state == 2:
                    if etype in _STATE_TYPES:
                        state_buf.append(int(eid))
                    elif etype in _RESET_TYPES:
                        state_buf, narr = [], []
                        state = 1
                    elif etype in _NARRATION_TYPES:
                        narr.append(float(val))
                        state = 3
                else:
                    if etype in _STATE_TYPES:
                        flush()
                        state_buf, narr = [int(eid)], []
                        state = 2
                    elif etype in _RESET_TYPES:
                        flush()
                        state_buf, narr = [], []
                        state = 1
                    elif etype in _NARRATION_TYPES:
                        narr.append(float(val))
            flush()
        out = pd.DataFrame(
            rows,
            columns=[s.instance_col, "anchor_id", "n_state", "n_narration",
                     "narration_value"],
        )
        return out.astype(
            {"anchor_id": "int64", "n_state": "int64",
             "n_narration": "int64", "narration_value": "float64"}
        )

    return fn


def buffer_flush_fsm(
    buffer_types: tuple[str, ...],
    flush_types: tuple[str, ...],
    s: StreamSchema,
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """A concrete FSM in the reference's RP->command shape: buffer
    message-role events; each command-role event flushes the buffer into
    one extracted row (anchor id, buffered count, buffered measure sum)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        # same vectorized segmentation core as the streaming form, carry = 0
        anchors, counts, sums, _, _ = _segment_buffer_flush(
            pdf, s, buffer_types, flush_types, 0, 0.0
        )
        inst = pdf[s.instance_col].iloc[0] if len(pdf) else None
        out = pd.DataFrame(
            {
                s.instance_col: [inst] * len(anchors),
                "anchor_id": anchors,
                "n_buffered": counts,
                "buffered_sum": [round(v, 6) for v in sums],
            },
            columns=[s.instance_col, "anchor_id", "n_buffered", "buffered_sum"],
        )
        # pin dtypes so empty partitions survive Arrow conversion
        return out.astype(
            {"anchor_id": "int64", "n_buffered": "int64", "buffered_sum": "float64"}
        )

    return fn
