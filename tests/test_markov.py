"""Markov-chain operators (operators/markov.py): a hand-computed
profile, dangling-state restriction, power-iteration convergence to a
known stationary distribution, partitioning invariance."""

from __future__ import annotations

from fireball_data_processing_spark.operators.markov import markov_profile


def _seq_df(spark, seqs):
    rows = []
    for key, states in seqs.items():
        for i, s in enumerate(states):
            rows.append((key, i, s))
    return spark.createDataFrame(rows, "k bigint, i bigint, s string")


def _profile(df, n_iter=12):
    return {
        r["state"]: (r["n_out"], r["self_prob"], r["stationary_prob"])
        for r in markov_profile(df, "k", "i", "s", n_iter).collect()
    }


def test_transition_matrix_hand_computed(spark):
    # one sequence a a b a: transitions a->a, a->b, b->a
    df = _seq_df(spark, {1: ["a", "a", "b", "a"]})
    got = _profile(df)
    assert {s: v[:2] for s, v in got.items()} == {"a": (2, 0.5), "b": (1, 0.0)}


def test_transitions_never_cross_sequences(spark):
    # within sequences: a->b, b->a, b->b; a transition across the 1|2
    # boundary would add a pair and move the counts
    df = _seq_df(spark, {1: ["a", "b", "a"], 2: ["b", "b"]})
    got = _profile(df)
    assert {s: v[:2] for s, v in got.items()} == {"a": (1, 0.0), "b": (2, 0.5)}


def test_dangling_state_restriction_renormalizes(spark):
    # x never transitions out, so a->x is dropped and a renormalizes over
    # a->b alone
    df = _seq_df(spark, {1: ["a", "b", "a", "x"], 2: ["b", "a"]})
    got = _profile(df)
    assert {s: v[:2] for s, v in got.items()} == {"a": (1, 0.0), "b": (2, 0.0)}


def test_stationary_two_state_chain(spark):
    # counts a->a 2, a->b 2, b->a 2 -> P[a] = (.5, .5), P[b] = (1, 0);
    # stationary pi = (2/3, 1/3); the error halves per step, so 24 steps
    # pass 6 dp
    df = _seq_df(spark, {1: ["a", "a", "b", "a", "b", "a", "a"]})
    got = _profile(df, n_iter=24)
    assert abs(got["a"][2] - 2.0 / 3.0) < 1e-6
    assert abs(got["b"][2] - 1.0 / 3.0) < 1e-6


def test_stationary_preserves_state_dtype(spark):
    # bigint states must come back as bigint, not string
    rows = [(1, i, 10 if i % 2 == 0 else 20) for i in range(20)]
    df = spark.createDataFrame(rows, "k bigint, i bigint, s bigint")
    prof = markov_profile(df, "k", "i", "s")
    assert dict(prof.dtypes)["state"] == "bigint"
    assert {r["state"] for r in prof.collect()} == {10, 20}


def test_markov_profile_shape_and_partitioning_invariance(spark):
    seqs = {
        k: [["v", "c", "p", "s"][(k * 7 + j * 3) % 4] for j in range(20)]
        for k in range(12)
    }
    df1 = _seq_df(spark, seqs).repartition(1)
    df32 = _seq_df(spark, seqs).repartition(32)
    a = [tuple(r) for r in markov_profile(df1, "k", "i", "s").collect()]
    b = [tuple(r) for r in markov_profile(df32, "k", "i", "s").collect()]
    assert a == b
    states = [r[0] for r in a]
    assert states == sorted(states)
    # stationary distribution sums to ~1
    assert abs(sum(r[3] for r in a) - 1.0) < 1e-4


def test_removal_attribution_gateway_channel_gets_full_credit(spark):
    from fireball_data_processing_spark.operators.markov import (
        removal_attribution,
    )

    # every conversion flows through 'b' (a -> b -> buy); 'x' is a
    # TERMINAL dead end (no outgoing edges), so its incoming mass is
    # already lost and removing it changes nothing
    seqs = {
        1: ["a", "b", "buy"],
        2: ["a", "b", "buy"],
        3: ["a", "x"],
    }
    df = _seq_df(spark, seqs)
    out = {
        r["state"]: r
        for r in removal_attribution(
            df, "k", "i", "s", conv_state="buy", n_iter=16
        ).collect()
    }
    assert out["b"]["removal_effect"] == 1.0  # gateway: all conversion dies
    assert out["b"]["conv_removed"] == 0.0
    assert out["x"]["removal_effect"] == 0.0  # dead end: nothing changes
    assert out["a"]["start_share"] == 1.0  # every user starts at 'a'
    # full-chain conversion: P(a->b) = 2/3 then b->buy = 1 -> 2/3
    assert abs(out["a"]["conv_full"] - 2 / 3) < 1e-5
    # removing the only start state kills everything
    assert out["a"]["conv_removed"] == 0.0
    assert out["a"]["removal_effect"] == 1.0


def test_removal_attribution_direct_conversions_survive_removals(spark):
    from fireball_data_processing_spark.operators.markov import (
        removal_attribution,
    )

    # users starting AT the conversion state convert regardless
    seqs = {1: ["buy", "a"], 2: ["a", "buy"], 3: ["a", "c"]}
    df = _seq_df(spark, seqs)
    out = {
        r["state"]: r
        for r in removal_attribution(
            df, "k", "i", "s", conv_state="buy", n_iter=16
        ).collect()
    }
    # start mix: buy 1/3 -> conv_removed >= 1/3 for every scenario
    for r in out.values():
        assert r["conv_removed"] >= 1 / 3 - 1e-6


def test_removal_attribution_empty_transient_returns_empty(spark):
    # ADVICE r8: a chain with no transient states raised IndexError.
    # Only self-transitions at the conversion state -> nothing to remove.
    df = _seq_df(spark, {1: ["buy", "buy"], 2: ["buy", "buy"]})
    from fireball_data_processing_spark.operators.markov import (
        removal_attribution,
    )

    out = removal_attribution(df, "k", "i", "s", conv_state="buy")
    assert out.count() == 0
    assert out.columns == [
        "state", "start_share", "conv_full", "conv_removed", "removal_effect",
    ]


def test_spark_round_matches_engine_half_up():
    # the driver-side fixed point must replicate F.round exactly: Spark
    # rounds the SHORTEST decimal repr HALF_UP; Python's builtin round
    # is banker's (round(0.5) == 0) and would diverge at ties
    from fireball_data_processing_spark.operators.markov import _spark_round

    assert _spark_round(0.000000125, 8) == 1.3e-07  # half-up, not banker's
    assert _spark_round(2.675, 2) == 2.68  # repr-based, not binary 2.67499...
    assert _spark_round(-0.000000125, 8) == -1.3e-07
    assert _spark_round(0.1 + 0.2, 8) == 0.3


def test_spark_round_fuzz_matches_engine_round(spark):
    # the driver-side fixed points are only value-safe if _spark_round
    # reproduces F.round on arbitrary doubles — fuzz a deterministic
    # sample including tie-prone values near the 8-dp grid
    import random

    from pyspark.sql import functions as F

    from fireball_data_processing_spark.operators.markov import _spark_round

    rng = random.Random(42)
    xs = [rng.uniform(-2, 2) for _ in range(400)]
    xs += [round(rng.uniform(0, 1), 8) + 5e-9 for _ in range(200)]  # ties
    xs += [rng.uniform(0, 1) * 10 ** -rng.randint(0, 12) for _ in range(200)]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [
        r["y"]
        for r in df.select(F.round("x", 8).alias("y")).collect()
    ]
    want = [_spark_round(x, 8) for x in xs]
    assert got == want


def test_removal_attribution_null_states_tolerated(spark):
    # NULL state events follow SQL three-valued semantics: dropped from
    # scenarios and start mix, never a sorted() TypeError
    from fireball_data_processing_spark.operators.markov import (
        removal_attribution,
    )

    rows = [(1, 0, "a"), (1, 1, None), (1, 2, "buy"),
            (2, 0, "a"), (2, 1, "buy")]
    df = spark.createDataFrame(rows, "k bigint, i bigint, s string")
    out = removal_attribution(df, "k", "i", "s", conv_state="buy").collect()
    states = [r["state"] for r in out]
    assert None not in states and "buy" not in states
    assert "a" in states
