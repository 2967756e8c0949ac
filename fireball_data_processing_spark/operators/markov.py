"""Markov-chain analytics over event sequences: the empirical
transition matrix of per-user event streams and its stationary
distribution via power iteration — "where does a user's session
equilibrate?", the chain-level summary that per-event counts and the
funnel's fixed step list both miss (the funnel asks about ONE ordained
path; the stationary distribution ranks every state by long-run
occupancy under the observed dynamics).

Extends the reference's sequential surface (its FSMs at
``heuristics/__init__.py``-era event walks consume transitions one at a
time) with the aggregate view: estimate P once, then ask global
questions of it.

Scale design:

- **The data-proportional work is ONE window + ONE groupBy**: next-state
  pairing is a ``lead`` over the per-user hash exchange (same shape as
  sessionization), and the pair count is a partial-combining aggregate
  onto at most |states|^2 rows. Everything after — normalization, power
  iteration — runs on the tiny matrix frame, never on the data.
- **Bounded collects only** (the operators/raking.py contract): the
  matrix is |states|^2 rows BY CONSTRUCTION, so the power/fixed-point
  iterations collect it once and run driver-side with ``_spark_round``
  replicating the engine's rounding — frame-resident loops were
  measured spending 2-12 s of pure stage-launch overhead per query on
  sub-kilobyte joins, invariant across 100x SF. Per-row data NEVER
  crosses to the driver.
- **Cross-engine replay** (the kmeans contract): row-normalized
  probabilities and each iterate are rounded to ``round_dp``, so an
  unrolled SQL oracle reproduces the trajectory bit-for-bit.
- **Dangling states**: states that appear only as a successor have no
  outgoing row; transitions INTO them are dropped and rows renormalized
  over the kept destinations, keeping P row-stochastic on the
  src-state space (the standard strongly-connected restriction; at
  sf>=0.001 every event type both enters and leaves, so the filter is
  a no-op safety net rather than a data change).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType
from pyspark.sql.window import Window

from fireball_data_processing_spark.functions.rounding import spark_round

__all__ = [
    "markov_profile",
    "removal_attribution",
]


def _pair_counts(
    df: DataFrame, key_col: str, order_col: str, state_col: str
) -> DataFrame:
    """``(src, dst, n)``: how often ``dst`` follows ``src`` along
    ``order_col`` within a ``key_col`` sequence — one lead window and one
    partial-combining pair count."""
    w = Window.partitionBy(key_col).orderBy(order_col)
    return (
        df.select(
            F.col(state_col).alias("src"),
            F.lead(state_col).over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def _collected_matrix(
    df: DataFrame,
    key_col: str,
    order_col: str,
    state_col: str,
) -> list:
    """The row-normalized transition matrix as a collected
    ``[(src, dst, n, p), ...]`` list, in ONE distributed job: the lead
    window + pair count collect RAW (|states|^2-bounded, dangling
    destinations included), and the dangling-dst restriction +
    row renormalization run driver-side. A frame-side broadcast
    semi-join on the source set would re-execute the whole
    window+aggregate subtree as the broadcast side (a duplicated subtree
    per action); driver-side restriction over integer counts is EXACT
    (the per-src totals are integer sums — no float reassociation), so
    ``p = round(n / total, 8)`` matches the oracle's window division."""
    # bounded: |states|^2, dangling dst included
    raw = _pair_counts(df, key_col, order_col, state_col).collect()
    srcs = {r["src"] for r in raw}
    kept = [r for r in raw if r["dst"] in srcs]
    totals: dict = {}
    for r in kept:
        totals[r["src"]] = totals.get(r["src"], 0) + r["n"]
    return [
        (
            r["src"],
            r["dst"],
            r["n"],
            _spark_round(r["n"] / totals[r["src"]], 8),
        )
        for r in kept
    ]


def _stationary_from_rows(
    collected: list, n_iter: int, round_dp: int
) -> dict:
    """The stationary power iteration over an already-collected
    ``[(src, dst, p), ...]`` list — the profile/entropy callers fold
    several small per-query aggregates into ONE bounded collect (each
    extra frame-side aggregate on the sub-kilobyte matrix frame costs a
    full job launch per query run; driver arithmetic on the same rows is
    free and value-identical under the ``_spark_round`` contract).
    Returns ``{state: pi}`` (empty input -> empty dict)."""
    rows = sorted(
        collected, key=lambda r: (_sort_key(r[0]), _sort_key(r[1]))
    )  # bounded: |states|^2; sorted ONCE, outside the iteration
    states = sorted({s for s, _, _ in rows}, key=_sort_key)
    if not states:
        return {}
    start = _spark_round(1.0 / len(states), round_dp)
    pi = {s: start for s in states}
    for _ in range(n_iter):
        acc: dict = {}
        for s, d, p in rows:
            if s in pi:
                acc.setdefault(d, []).append(pi[s] * p)
        pi = {d: _spark_round(sum(v), round_dp) for d, v in acc.items()}
    return pi


def markov_profile(
    df: DataFrame,
    key_col: str,
    order_col: str,
    state_col: str,
    n_iter: int = 12,
) -> DataFrame:
    """Per-state chain profile: out-transition count, self-loop
    probability, and the ``n_iter``-step power-iterate of the stationary
    distribution. Returns ``(state, n_out, self_prob, stationary_prob)``
    with rows EMITTED in state order (order-by-construction: the local
    relation is built iterating ``sorted(states)``; the plan carries no
    sort, so downstream consumers needing a guaranteed ordering must add
    their own ``orderBy`` — Spark only preserves local-relation row
    order as an implementation fact).

    The matrix is |states|^2-bounded by construction, so it crosses to
    the driver ONCE and every model-sized step — the power iteration,
    the per-src out-count/self-loop rollup, the pi join — runs there
    (the removal_attribution contract). The previous shape
    localCheckpoint-ed the matrix, collected it AGAIN for the power
    iteration, and then ran the per-src aggregate + pi
    join as a distributed plan: three extra job launches per run on
    sub-kilobyte frames (measured 1.8 s -> ~0.5 s at sf0.1 — guide
    §1.1/§5: the driver round-trips were the cost, not the data).
    Arithmetic is value-identical: integer out-counts, and every
    rounded value goes through ``_spark_round`` exactly where the frame
    form rounded."""
    mat_rows = _collected_matrix(df, key_col, order_col, state_col)
    pi = _stationary_from_rows(
        [(s, d, p) for s, d, _, p in mat_rows], n_iter, 8
    )
    n_out: dict = {}
    self_p: dict = {}
    for s, d, n, p in mat_rows:
        n_out[s] = n_out.get(s, 0) + n
        if s == d:
            self_p[s] = p
    state_type = df.schema[state_col].dataType
    out_schema = StructType(
        [
            StructField("state", state_type, True),
            StructField("n_out", LongType(), True),
            StructField("self_prob", DoubleType(), True),
            StructField("stationary_prob", DoubleType(), True),
        ]
    )
    rows = [
        (
            s,
            int(n_out[s]),
            _spark_round(self_p.get(s, 0.0), 6),
            _spark_round(pi[s], 6),
        )
        for s in sorted(n_out, key=_sort_key)
        if s in pi  # inner-join semantics of the frame form
    ]
    # rows are built in state order, so the local relation already IS
    # the ordered-by-state output; an orderBy here would re-sort 5 rows
    # through a range exchange — a whole extra job at the measured
    # ~0.2 s/job floor
    return df.sparkSession.createDataFrame(rows, out_schema)


# exact driver-side replica of Spark's F.round (shortest-decimal
# HALF_UP) — shared by every driver-resident fixed point; see
# functions/rounding.py for the semantics note
_spark_round = spark_round


def _sort_key(s):
    """None-tolerant ordering key: NULL states (a nullable state_col is
    legal — the pair count only filters NULL dst) sort first instead
    of raising TypeError in sorted()."""
    return (s is None, s)


def _absorption(m, conv_state, removed, n_iter, round_dp):
    """Driver-side absorption fixed point: probability of absorbing
    into ``conv_state`` per transient state, with ``removed`` (a state
    name or None) excluded from the chain — transitions into it are
    LOST mass. ``n_iter`` steps ``a <- direct + P_transient @ a`` from
    a = 0, each iterate value ``_spark_round``-ed.

    ``m`` is the COLLECTED transition list ``[(src, dst, p), ...]`` —
    bounded at |states|^2 rows by construction, so this follows the
    documented driver-side-loop contract of operators/raking.py: a
    DataFrame-resident fixed point here spends ~10 s of stage-launch
    and deep-plan analysis overhead on sub-kilobyte frames (measured:
    one chain per scenario 12.2 s, all scenarios fused into
    scenario-keyed frames still 9.5 s — both data-invariant across
    100x SF), while IEEE-double driver arithmetic with per-step
    rounding is value-identical and runs in microseconds. Join/group
    semantics mirror the frame/SQL form exactly: NULL sources are
    DROPPED (SQL ``src <> conv`` is three-valued — the frame form never
    kept them), ``states`` = distinct sources, flow terms only for
    destinations that are themselves transient sources, per-term sums
    in sorted-key order (order noise is absorbed by the ``round_dp``
    rounding, the same cross-engine contract the unrolled DuckDB
    oracle relies on). The per-source adjacency is built ONCE — the
    first cut re-filtered and re-sorted the whole edge list per state
    per iteration, which was wasted work even at bounded sizes."""
    rows = [
        (s, d, p)
        for s, d, p in m
        if s is not None
        and s != conv_state
        and (removed is None or (s != removed and d != removed))
    ]
    states = sorted({s for s, _, _ in rows})
    direct = {s: p for s, d, p in rows if d == conv_state}
    adj: dict = {s: [] for s in states}
    for s, d, p in sorted(rows, key=lambda r: (r[0], _sort_key(r[1]))):
        if d != conv_state:
            adj[s].append((d, p))
    a = {s: _spark_round(direct.get(s, 0.0), round_dp) for s in states}
    for _ in range(n_iter - 1):
        flow = {}
        for s in states:
            terms = [p * a[d] for d, p in adj[s] if d in a]
            if terms:
                flow[s] = _spark_round(sum(terms), round_dp)
        a = {
            s: _spark_round(direct.get(s, 0.0) + flow.get(s, 0.0), round_dp)
            for s in states
        }
    return a


def removal_attribution(
    df: DataFrame,
    key_col: str,
    order_col: str,
    state_col: str,
    conv_state: str,
    n_iter: int = 12,
) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2014, the
    standard data-driven alternative to last-touch credit): model each
    user's event stream as a first-order chain ABSORBED at the first
    ``conv_state``; overall conversion probability is the start-state
    mix pushed through ``n_iter`` absorption fixed-point steps; a
    channel's REMOVAL EFFECT is the relative conversion lost when every
    transition through it becomes lost mass:

        effect(c) = 1 - conv(chain without c) / conv(full chain)

    Returns one row per transient state:
    ``(state, start_share, conv_full, conv_removed, removal_effect)``
    with rows emitted in state order (order-by-construction, no sort in
    the plan — see :func:`markov_profile`).

    Scale shape: the data-proportional work is the lead window + pair
    count (shared by all scenarios) and one first-event-per-user
    aggregate — two distributed jobs whose results are BY CONSTRUCTION
    bounded (|states|^2 transition rows, |states| start rows). The
    |states|+1 absorption fixed points then run DRIVER-SIDE on the
    collected table (the operators/raking.py contract: model state of
    known small size crosses once; per-row work never does) with
    ``_spark_round`` replicating the engine's rounding exactly, so the
    unrolled oracle replays every scenario's trajectory unchanged.
    Frame-resident variants measured 12.2 s (one fixed-point chain per
    scenario) and 9.5 s (scenario-keyed fused frames) at EVERY SF —
    pure stage-launch + deep-plan overhead on sub-kilobyte frames; the
    collected form keeps only the data-proportional 1-2 s.

    The matrix and the start mix collect in ONE job (one driver
    round-trip): ``lead`` and ``row_number`` ride the same
    window spec in one projection, and the two bounded aggregates come
    back as one tagged union — the per-user exchange is planned once
    and the branches execute inside a single action instead of two
    sequential collect jobs. Every aggregate/rounding expression is the
    one the two-collect form used, so values are bit-identical."""
    state_type = df.schema[state_col].dataType
    w = Window.partitionBy(key_col).orderBy(order_col)
    base = df.select(
        F.col(state_col).alias("state"),
        F.lead(state_col).over(w).alias("dst"),
        F.row_number().over(w).alias("__r"),
    )
    tot = Window.partitionBy("src")
    m_branch = (
        base.filter(F.col("dst").isNotNull())
        .groupBy(F.col("state").alias("src"), F.col("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .select(
            F.lit("m").alias("tag"),
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
            F.round(
                F.col("n").cast("double") / F.sum("n").over(tot), 8
            ).alias("v"),
        )
    )
    tot_all = Window.partitionBy()
    p_branch = (
        base.filter(F.col("__r") == 1)
        .groupBy("state")
        .agg(F.count(F.lit(1)).cast("double").alias("__c"))
        .select(
            F.lit("p").alias("tag"),
            F.col("state").alias("a"),
            F.lit(None).cast(state_type).alias("b"),
            F.round(
                F.col("__c") / F.sum("__c").over(tot_all), 8
            ).alias("v"),
        )
    )
    # bounded collect: |states|^2 matrix rows + |states| start rows —
    # the model state, never per-event data
    collected = m_branch.unionByName(p_branch).collect()
    matrix = [(r["a"], r["b"], r["v"]) for r in collected if r["tag"] == "m"]
    pi0 = {r["a"]: r["v"] for r in collected if r["tag"] == "p"}

    # scenario enumeration is driver-side control flow, one scenario
    # per channel. Channels that only RECEIVE traffic (no outgoing
    # edges) still get a row — their removal effect is well-defined
    # (usually 0: their incoming mass was already lost).
    all_states = {s for s, _, _ in matrix} | {d for _, d, _ in matrix}
    # NULL states are excluded exactly as the frame/SQL form excludes
    # them (three-valued `state <> conv`): never a scenario, never a
    # start-mix term
    transient = sorted(
        s for s in all_states if s is not None and s != conv_state
    )
    out_schema = StructType(
        [
            StructField("state", state_type, True),
            StructField("start_share", DoubleType(), True),
            StructField("conv_full", DoubleType(), True),
            StructField("conv_removed", DoubleType(), True),
            StructField("removal_effect", DoubleType(), True),
        ]
    )
    if not transient:
        # degenerate chain (no events, or only the conversion state):
        # no channel to remove, so no attribution rows
        return df.sparkSession.createDataFrame([], out_schema)

    def conv_of(a: dict) -> float:
        # start mass already AT the conversion state converts with
        # prob 1; everything else routes through its absorption
        # probability (missing = 0); sorted-state term order
        v = sum(
            pi0[s] * a.get(s, 0.0)
            for s in sorted(pi0, key=_sort_key)
            if s is not None and s != conv_state
        )
        if conv_state in pi0:
            v += pi0[conv_state]
        return _spark_round(v, 8)

    conv_full = conv_of(
        _absorption(matrix, conv_state, None, n_iter, 8)
    )
    rows = []
    for c in transient:
        conv_c = conv_of(
            _absorption(matrix, conv_state, c, n_iter, 8)
        )
        rows.append(
            (
                c,
                _spark_round(pi0.get(c, 0.0), 6),
                _spark_round(conv_full, 6),
                _spark_round(conv_c, 6),
                # degenerate zero-conversion chain: no credit to assign
                None
                if conv_full == 0.0
                else _spark_round(1.0 - conv_c / conv_full, 6),
            )
        )
    # rows are built iterating sorted(transient), so the local relation
    # is ALREADY in state order — the old orderBy() here spent a whole
    # range-exchange job sorting a |states|-row frame (the
    # stationary-profile precedent; row sequence unchanged)
    return df.sparkSession.createDataFrame(rows, out_schema)
