"""The heuristics engine (SURVEY.md section 2.4) as one grouped aggregation.

The reference computes 14 per-instance heuristics with one full corpus scan
*per heuristic* (``heuristic_worker.py:129-131``), each a hand-written
Python fold ``Iterable[dict] -> float``. Here every heuristic is a named
Column aggregate over ``groupBy(instance)`` and the whole suite is **one
job, one scan, one shuffle**:

    events -> [window pass: per-instance derived columns]
           -> groupBy(instance).agg(<all heuristics>)

The window pass and the groupBy share the same hash partitioning on the
instance key, so Spark performs a single exchange; at 100 TB the plan cost
is the scan plus one shuffle of the (pruned) event columns.

Heuristics are parameterized by ``StreamSchema`` so the same expressions run
on the real FIREBALL event stream and on any other event table (the driver's
synthetic ``events``). Reference semantics each expression reproduces are
cited per function (file:line into /root/reference).

Pluggable-heuristic surface (reference ``heuristics/__init__.py:20-43``,
U1): ``register_heuristic`` adds a named expression factory.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from fireball_data_processing_spark.schema import StreamSchema

# ----------------------------------------------------------------------
# role predicates
# ----------------------------------------------------------------------


def _is_message(s: StreamSchema) -> Column:
    return F.col(s.type_col).isin(*s.message_types)


def _is_command(s: StreamSchema) -> Column:
    return F.col(s.type_col).isin(*s.command_types)


def _is_utterance(s: StreamSchema) -> Column:
    """Message-role events refined by the schema's utterance predicate
    (the reference's non-bot, non-command-invocation filter,
    heuristics/ratio.py:15-25)."""
    base = _is_message(s)
    if s.extra_utterance_predicate is not None:
        base = base & s.extra_utterance_predicate()
    return base


def _measure(s: StreamSchema) -> Column:
    """Per-event numeric measure: word count of `content` in the reference
    (``' '``-split semantics, heuristics/ratio.py:24), or the schema's
    declared measure column."""
    if s.measure_col is not None:
        return F.col(s.measure_col)
    return F.size(F.split(F.col("content"), " "))


def _ev_ts(s: StreamSchema) -> Column:
    """Event time as an exactly-representable scalar.

    - ``nanos_long``: int64 nanoseconds truncated to whole microseconds
      (integer ``div``), matching DuckDB's TIMESTAMP_NS -> TIMESTAMP read of
      the same parquet. Keeping int64 until the final subtraction makes
      deltas bit-identical across engines.
    - ``double_seconds`` (FIREBALL): raw float epoch seconds, pass-through.
    - ``timestamp``: TimestampType -> int64 microseconds.
    """
    c = F.col(s.ts_col)
    if s.ts_unit == "nanos_long":
        return F.expr(f"{s.ts_col} div 1000")
    if s.ts_unit == "timestamp":
        return F.unix_micros(c)
    return c


def _ts_delta_micros(s: StreamSchema, later: Column, earlier: Column) -> Column:
    """``later - earlier`` in whole int64 microseconds: the integer
    encodings subtract exactly; float epoch seconds round the delta to the
    microsecond (half away from zero, the same in Spark and DuckDB)."""
    d = later - earlier
    if s.ts_unit in ("nanos_long", "timestamp"):
        return d
    return F.round(d * F.lit(1000000.0)).cast("bigint")


# ----------------------------------------------------------------------
# window pass: derived per-event columns (one exchange on the instance key)
# ----------------------------------------------------------------------

def with_stream_features(df: DataFrame, s: StreamSchema) -> DataFrame:
    """Add the per-instance ordered-window columns the heuristics need.

    All windows partition by the instance key, so this is a single exchange
    reused by the subsequent groupBy.
    """
    inst = F.col(s.instance_col)
    seq = F.col(s.seq_col)
    w_inst = Window.partitionBy(inst)
    w_ord = w_inst.orderBy(seq)

    is_msg = _is_message(s)
    is_utt = _is_utterance(s)
    is_cmd = _is_command(s)

    out = df.withColumn("_ev_ts", _ev_ts(s))
    # seq of the last command in the instance (A12: exclude the trailing,
    # unterminated segment — reference heuristics/zhu.py:24-37).
    out = out.withColumn(
        "_last_cmd_seq", F.max(F.when(is_cmd, seq)).over(w_inst)
    )
    # author's most recent prior message timestamp (A14 —
    # reference heuristics/feng.py:3-17: per-author as-of lookup).
    # Dedupe the partition columns when author IS the instance key (the
    # synthetic stream): hash-partitioning on (k, k) is a *different*
    # exchange than on (k), and would add a full extra shuffle.
    auth_part = (
        [inst]
        if s.author_col == s.instance_col
        else [inst, F.col(s.author_col)]
    )
    w_auth_prior = (
        Window.partitionBy(*auth_part).orderBy(seq)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = out.withColumn(
        "_prev_msg_ts",
        F.last(F.when(is_utt, F.col("_ev_ts")), ignorenulls=True).over(w_auth_prior),
    )
    # had the author any prior message at all (A15 —
    # reference heuristics/feng.py:19-36).
    out = out.withColumn(
        "_had_prior_msg",
        F.max(F.when(is_utt, F.lit(1)).otherwise(F.lit(0))).over(w_auth_prior),
    )
    # turn-change flag (P11, reference heuristics/utils.py:20-28): does the
    # current event's type differ from the previous event's type — on the
    # FIREBALL schema the comparand is the current combatant id; the
    # generic form compares a null-safe expression against its lag.
    out = out.withColumn(
        "_prev_type", F.lag(F.col(s.type_col)).over(w_ord)
    )
    return out


# ----------------------------------------------------------------------
# heuristic expressions (aggregates over groupBy(instance))
# ----------------------------------------------------------------------

_HeuristicFactory = Callable[[StreamSchema], Column]
_REGISTRY: dict[str, _HeuristicFactory] = {}
# heuristic_exprs' unbound Columns by (schema, names): building them is
# ~1,500 py4j calls, about half of a heuristics_matrix build
_EXPRS: dict[tuple[StreamSchema, tuple[str, ...]], dict[str, Column]] = {}


def register_heuristic(name: str) -> Callable[[_HeuristicFactory], _HeuristicFactory]:
    def deco(fn: _HeuristicFactory) -> _HeuristicFactory:
        _REGISTRY[name] = fn
        _EXPRS.clear()
        return fn
    return deco


@register_heuristic("event_count")
def _event_count(s: StreamSchema) -> Column:
    # reference heuristics/count.py:5-6
    return F.count(F.lit(1))


@register_heuristic("message_count")
def _message_count(s: StreamSchema) -> Column:
    # reference heuristics/count.py:1-2
    return F.count(F.when(_is_message(s), 1))


@register_heuristic("command_count")
def _command_count(s: StreamSchema) -> Column:
    return F.count(F.when(_is_command(s), 1))


@register_heuristic("message_to_command_ratio")
def _message_to_command_ratio(s: StreamSchema) -> Column:
    # reference heuristics/ratio.py:1-12: #command / #message. The reference
    # raises ZeroDivisionError with no messages; we return null instead
    # (documented divergence — a crash is not a result).
    msgs = F.count(F.when(_is_message(s), 1))
    cmds = F.count(F.when(_is_command(s), 1))
    return F.when(msgs > 0, cmds.cast("double") / msgs.cast("double"))


@register_heuristic("average_message_length")
def _average_message_length(s: StreamSchema) -> Column:
    # reference heuristics/ratio.py:15-25: mean measure over messages,
    # 0.0 when the instance has none.
    return F.coalesce(
        F.avg(F.when(_is_utterance(s), _measure(s))), F.lit(0.0)
    )


@register_heuristic("num_participants")
def _num_participants(s: StreamSchema) -> Column:
    # reference heuristics/zhu.py:40-46: distinct authors over messages.
    return F.countDistinct(F.when(_is_message(s), F.col(s.author_col)))


@register_heuristic("num_participants_approx")
def _num_participants_approx(s: StreamSchema) -> Column:
    # 100 TB / streaming alternate for num_participants: HLL sketch —
    # mergeable (order-independent), so batch and incremental agree;
    # exact distinct is neither streamable nor cheap at scale.
    return F.approx_count_distinct(
        F.when(_is_message(s), F.col(s.author_col))
    )


@register_heuristic("num_turns")
def _num_turns(s: StreamSchema) -> Column:
    # reference heuristics/zhu.py:98-100: count of `init next` commands;
    # generic form: count of command-role events.
    return F.count(F.when(_is_command(s), 1))


@register_heuristic("avg_words_between_commands")
def _avg_words_between_commands(s: StreamSchema) -> Column:
    # reference heuristics/zhu.py:6-21 (A11): segment the stream at command
    # events; mean per-segment message measure INCLUDING the trailing
    # segment. Algebraically sum(measure over messages) / (n_commands + 1)
    # — a single-pass form of the reference's fold.
    total = F.coalesce(F.sum(F.when(_is_utterance(s), _measure(s))), F.lit(0.0))
    n_cmd = F.count(F.when(_is_command(s), 1))
    return total / (n_cmd + F.lit(1)).cast("double")


@register_heuristic("avg_words_between_commands_excl_last")
def _avg_words_excl_last(s: StreamSchema) -> Column:
    # reference heuristics/zhu.py:24-37 (A12): as A11 but EXCLUDING the
    # unterminated trailing segment = sum of message measure before the
    # last command / n_commands; 0.0 when the instance has no commands
    # (zhu.py returns 0 on an empty accumulator).
    seq = F.col(s.seq_col)
    closed = F.sum(
        F.when(_is_utterance(s) & (seq < F.col("_last_cmd_seq")), _measure(s))
    )
    n_cmd = F.count(F.when(_is_command(s), 1))
    return F.when(
        n_cmd > 0, F.coalesce(closed, F.lit(0.0)) / n_cmd.cast("double")
    ).otherwise(F.lit(0.0))


@register_heuristic("avg_time_between_message_and_command")
def _avg_time_msg_cmd(s: StreamSchema) -> Column:
    # reference heuristics/feng.py:3-17 (A14): per command, seconds since
    # that author's most recent prior message; mean over commands that have
    # one; 0.0 when no command has a prior message (feng.py returns 0 on an
    # empty accumulator). Requires with_stream_features.
    # The int64 microsecond deltas sum exactly and the mean is rounded to a
    # whole microsecond before the one division to seconds: a float average
    # depends on summation order, and a mean off the microsecond grid can
    # round differently at 6 dp in Spark and DuckDB.
    delta = F.when(
        _is_command(s) & F.col("_prev_msg_ts").isNotNull(),
        _ts_delta_micros(s, F.col("_ev_ts"), F.col("_prev_msg_ts")),
    )
    mean_us = F.round(F.sum(delta) / F.count(delta))
    return F.coalesce(mean_us / F.lit(1000000.0), F.lit(0.0))


@register_heuristic("ratio_of_commands_without_message")
def _ratio_cmds_without_msg(s: StreamSchema) -> Column:
    # reference heuristics/feng.py:19-36 (A15): fraction of commands whose
    # author had no prior message in the instance; 0.0 when no commands.
    flag = F.when(
        _is_command(s),
        F.when(F.coalesce(F.col("_had_prior_msg"), F.lit(0)) == 0, 1.0).otherwise(0.0),
    )
    return F.coalesce(F.avg(flag), F.lit(0.0))


@register_heuristic("num_turn_changes")
def _num_turn_changes(s: StreamSchema) -> Column:
    # P11 did_turn_change (reference heuristics/utils.py:20-28): count of
    # events whose comparand differs from the previous event's (null-safe).
    changed = (~F.col("_prev_type").eqNullSafe(F.col(s.type_col))) & F.col(
        "_prev_type"
    ).isNotNull()
    return F.count(F.when(changed, 1))


#: names that only need raw columns (no window pass)
SIMPLE = (
    "event_count",
    "message_count",
    "command_count",
    "message_to_command_ratio",
    "average_message_length",
    "num_participants",
    "num_turns",
    "avg_words_between_commands",
)
#: names that require with_stream_features first
WINDOWED = (
    "avg_words_between_commands_excl_last",
    "avg_time_between_message_and_command",
    "ratio_of_commands_without_message",
    "num_turn_changes",
)
HEURISTICS = SIMPLE + WINDOWED


def heuristic_exprs(
    s: StreamSchema, names: tuple[str, ...] | None = None
) -> dict[str, Column]:
    """Named aggregate Columns; unknown names raise (mirrors the reference's
    registry validation, ``heuristic_worker.py:124-127``). Built once per
    ``(s, names)``: a Column is unbound, so every frame can reuse it."""
    key = (s, tuple(names or HEURISTICS))
    if key not in _EXPRS:
        missing = [n for n in key[1] if n not in _REGISTRY]
        if missing:
            raise RuntimeError(f"unknown heuristics: {missing}")
        _EXPRS[key] = {n: _REGISTRY[n](s).alias(n) for n in key[1]}
    return dict(_EXPRS[key])


def heuristics_matrix(
    df: DataFrame,
    s: StreamSchema,
    names: tuple[str, ...] | None = None,
) -> DataFrame:
    """instance_id x heuristic wide matrix, one scan + one shuffle.

    This is the engine's answer to the reference's N-scans-for-N-heuristics
    loop and its CSV-per-heuristic output joined back into a pandas matrix
    (``dataset/dataset.py:68-71``)."""
    names = names or HEURISTICS
    base = df
    if any(n in WINDOWED for n in names):
        base = with_stream_features(base, s)
    exprs = heuristic_exprs(s, names)
    return base.groupBy(F.col(s.instance_col)).agg(*exprs.values())
