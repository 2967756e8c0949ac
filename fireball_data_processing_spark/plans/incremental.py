"""Incremental heuristics: mergeable partial aggregates for corpus growth.

The reference memoizes whole-corpus heuristic results and recomputes
from scratch when the corpus changes (``heuristic_worker.py`` +
checksum memoization, SURVEY S6). At 100 TB, "the corpus grew by one
day" must NOT cost a full recompute: keep a per-instance PARTIALS
table, compute partials for the new chunk only, merge, finalize.

The algebra: every heuristic of ``plans.heuristics.SIMPLE``, with
``num_participants`` replaced by ``num_participants_approx``, decomposes
into per-instance sums/counts plus a DataSketches HLL sketch for the
distinct-participants estimate — all order-independent and mergeable,
which is the same property that would make them streamable. The
window-dependent heuristics (``WINDOWED``: A12/A14/A15, turn changes)
carry cross-row state that straddles chunk boundaries and are excluded.

Cost model: partials for a chunk scan ONLY the chunk; the merge is an
aggregation over two vocabulary-of-instances-sized tables; finalize is
a projection. Nothing rescans history.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fireball_data_processing_spark.plans.heuristics import (
    _is_command,
    _is_message,
    _is_utterance,
    _measure,
)
from fireball_data_processing_spark.schema import StreamSchema

__all__ = [
    "heuristic_partials",
    "merge_heuristic_partials",
    "finalize_heuristics",
]

_SUM_COLS = (
    "n_events",
    "n_messages",
    "n_commands",
    "n_utterances",
    "n_utter_measured",
    "sum_utter_measure",
)


def heuristic_partials(events: DataFrame, s: StreamSchema) -> DataFrame:
    """Per-instance mergeable partials for the mergeable heuristic set
    (module docstring): plain sums/counts plus an HLL sketch (binary) of message
    authors. One pass over ``events`` — call it on the NEW chunk only."""
    return events.groupBy(F.col(s.instance_col)).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(_is_message(s), 1)).alias("n_messages"),
        F.count(F.when(_is_command(s), 1)).alias("n_commands"),
        F.count(F.when(_is_utterance(s), 1)).alias("n_utterances"),
        # denominator for the average must count only rows F.avg would:
        # utterances with a NON-NULL measure (attachment-only messages
        # carry none) — dividing by all utterances breaks batch parity
        F.count(F.when(_is_utterance(s), _measure(s))).alias(
            "n_utter_measured"
        ),
        F.coalesce(
            F.sum(F.when(_is_utterance(s), _measure(s))), F.lit(0.0)
        ).alias("sum_utter_measure"),
        F.hll_sketch_agg(
            F.when(_is_message(s), F.col(s.author_col))
        ).alias("participants_hll"),
    )


def merge_heuristic_partials(
    s: StreamSchema, *partials: DataFrame
) -> DataFrame:
    """Merge any number of partials tables (history + new chunks): union
    then one aggregation — sums add, sketches union. Instances present
    in several chunks collapse to one row; nothing rescans events."""
    if not partials:
        raise ValueError("need at least one partials frame")
    merged = partials[0]
    for p in partials[1:]:
        merged = merged.unionByName(p)
    return merged.groupBy(F.col(s.instance_col)).agg(
        *[F.sum(c).alias(c) for c in _SUM_COLS],
        F.hll_union_agg("participants_hll").alias("participants_hll"),
    )


def finalize_heuristics(partials: DataFrame) -> DataFrame:
    """Project the mergeable heuristic values (module docstring) from a
    partials table (null-on-zero ratio semantics identical to the batch matrix;
    ``num_participants_approx`` here is the DataSketches HLL estimate —
    mergeable by construction, vs the batch matrix's HLL++
    ``approx_count_distinct``, so small estimate differences between
    the two APPROX variants are expected; the exact-count comparison is
    what tests pin)."""
    n_msg = F.col("n_messages")
    n_cmd = F.col("n_commands")
    n_utt = F.col("n_utter_measured")
    return partials.select(
        partials.columns[0],
        F.col("n_events").alias("event_count"),
        n_msg.alias("message_count"),
        n_cmd.alias("command_count"),
        F.when(n_msg > 0, n_cmd.cast("double") / n_msg.cast("double")).alias(
            "message_to_command_ratio"
        ),
        F.when(n_utt > 0, F.col("sum_utter_measure") / n_utt.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("average_message_length"),
        F.hll_sketch_estimate("participants_hll").alias(
            "num_participants_approx"
        ),
        n_cmd.alias("num_turns"),
        (F.col("sum_utter_measure") / (n_cmd + F.lit(1)).cast("double")).alias(
            "avg_words_between_commands"
        ),
    )
