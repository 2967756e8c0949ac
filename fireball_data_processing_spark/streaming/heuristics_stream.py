"""Per-instance FSM extraction (G13/G14): the stateful analog of the
heuristics aggregates.

The reference's RP->command extractor walks one instance's events in
order, buffering message-role events until a command-role event flushes
them. That is inherently sequential per instance and parallel across
instances, so it runs as ``groupBy(instance).applyInPandas`` over a
vectorized per-instance core (:func:`fsm_extract`,
:func:`buffer_flush_fsm`).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from fireball_data_processing_spark.schema import StreamSchema


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


def _segment_buffer_flush(
    pdf: pd.DataFrame,
    s: StreamSchema,
    buffer_types: tuple[str, ...],
    flush_types: tuple[str, ...],
) -> tuple:
    """Vectorized core of the buffer/flush FSM over one already-sorted
    frame: flush event k consumes the buffer-role events between flush k-1
    and k (segment = shifted cumulative flush count). Returns (anchor ids,
    counts, sums) — all numpy, no per-row Python."""
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
    anchors = pdf[s.seq_col].to_numpy()[is_flush]
    return anchors, bn[:n_flush].astype("int64"), bs[:n_flush]


def buffer_flush_fsm(
    buffer_types: tuple[str, ...],
    flush_types: tuple[str, ...],
    s: StreamSchema,
) -> Callable[[pd.DataFrame], pd.DataFrame]:
    """A concrete FSM in the reference's RP->command shape: buffer
    message-role events; each command-role event flushes the buffer into
    one extracted row (anchor id, buffered count, buffered measure sum)."""

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        anchors, counts, sums = _segment_buffer_flush(
            pdf, s, buffer_types, flush_types
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
