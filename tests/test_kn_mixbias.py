"""Kneser-Ney bigram scoring (functions/textstats.py), the frozen bigram
LM of the streaming quality gate against the batch scorer, and dedup
mix-bias reweighting invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from fireball_data_processing_spark.functions.textstats import (
    kneser_ney_logprob,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


def test_kn_short_docs_absent_and_counts(spark):
    out = kneser_ney_logprob(_docs(spark, ["one", "a b c", ""])).collect()
    got = {r["doc_id"]: r["n_bigrams"] for r in out}
    assert got == {1: 2}


def test_kn_common_transitions_score_fewer_bits(spark):
    # 'a b' occurs in many docs; 'x y' once -> the doc made of the
    # common transition must score fewer bits than the rare one
    texts = ["a b"] * 10 + ["x y"]
    out = {
        r["doc_id"]: r["kn_bits_per_token"]
        for r in kneser_ney_logprob(_docs(spark, texts)).collect()
    }
    assert out[0] < out[10]


def test_kn_partitioning_invariance(spark):
    texts = [f"w{i % 5} w{(i * 3) % 7} w{i % 3}" for i in range(60)]
    a = sorted(
        tuple(r)
        for r in kneser_ney_logprob(_docs(spark, texts).repartition(1)).collect()
    )
    b = sorted(
        tuple(r)
        for r in kneser_ney_logprob(
            _docs(spark, texts).repartition(32)
        ).collect()
    )
    assert a == b


def test_kn_probabilities_interpolate_continuation_mass(spark):
    # a corpus where 'q' continues many contexts vs 'z' continuing one:
    # an unseen-ish (low count) bigram ending in 'q' must beat one
    # ending in 'z' — the continuation-probability effect add-alpha
    # smoothing cannot express. Construct: contexts c1..c4 each
    # followed by q once (n1_right(q)=4); 'p z' once (n1_right(z)=1);
    # score docs 'p q' (c=0 is impossible self-scored, so use count-1
    # bigrams with differing continuation fan-in: 'c1 q' vs 'p z').
    texts = ["c1 q", "c2 q", "c3 q", "c4 q", "p z"]
    out = {
        r["doc_id"]: r["kn_bits_per_token"]
        for r in kneser_ney_logprob(_docs(spark, texts)).collect()
    }
    # both bigrams have count 1 and cprev 1; q's continuation mass is
    # 4x z's, so 'c1 q' must score strictly fewer bits than 'p z'
    assert out[0] < out[4]


def test_dedup_mix_bias_identity_within_source(spark):
    # duplicates confined to one source: reweighted share == raw share
    from fireball_data_processing_spark.queries import get

    spec = get("dedup_mix_bias")
    assert spec is not None


def test_dedup_mix_bias_cross_source_shift(spark):
    from fireball_data_processing_spark.functions.text import normalize_text
    from fireball_data_processing_spark.operators.dedup import (
        exact_dedup_groups,
    )

    rows = [
        (1, "A", "same text"),
        (2, "B", "same text"),   # dup across sources; canonical in A
        (3, "A", "unique one"),
        (4, "B", "unique two"),
    ]
    d = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    docs = d.select(
        "doc_id", "source",
        F.md5(normalize_text(F.col("text"))).alias("content_hash"),
    )
    clusters = exact_dedup_groups(d)
    surv = docs.join(clusters, "content_hash").filter(
        F.col("doc_id") == F.col("canonical_id")
    )
    per = {
        r["source"]: (r["n_surv"], r["rw"])
        for r in surv.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_surv"),
            F.sum("n_docs").alias("rw"),
        )
        .collect()
    }
    # A keeps 2 survivors carrying weight 3 of 4 total; B keeps 1 of 4
    assert per["A"] == (2, 3)
    assert per["B"] == (1, 1)


def test_score_against_own_lm_matches_self_trained(spark, sf_dir):
    # a corpus scored against ITS OWN frozen LM must reproduce
    # bigram_logprob exactly (same counts, same smoothing): pins that
    # the index + lookup path implements the same math as the
    # self-trained batch scorer. Starts no stream.
    from fireball_data_processing_spark.functions.textstats import (
        bigram_logprob,
    )
    from fireball_data_processing_spark.sources.tables import load_table
    from fireball_data_processing_spark.streaming.quality_stream import (
        corpus_lm_index,
        score_against_lm,
    )

    docs = load_table(spark, sf_dir, "documents")
    lm = corpus_lm_index(docs)
    got = sorted(map(tuple, score_against_lm(docs, lm).collect()))
    want = sorted(map(tuple, bigram_logprob(docs).collect()))
    assert got == want and len(got) > 0
