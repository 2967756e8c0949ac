"""BPE: train-on-frequencies determinism, application goldens, and the
distributed word-count -> train -> apply round trip."""

from __future__ import annotations

from pyspark.sql import functions as F

from fireball_data_processing_spark.functions.bpe import (
    END,
    apply_merges,
    bpe_tokens_udf,
    train_bpe,
    word_frequencies,
)


def test_train_bpe_classic_example():
    # the canonical Sennrich et al. toy corpus
    freqs = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = train_bpe(freqs, 4)
    # 'es' dominates (newest+widest = 9); 't' is word-final there, so the
    # next merge takes the marked symbol directly; then 'lo' (low+lower=7)
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t" + END)
    assert merges[2] == ("l", "o")
    # training is deterministic: same input, same merges
    assert merges == train_bpe(list(freqs), 4)


def test_apply_merges_golden():
    freqs = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = train_bpe(freqs, 8)
    # seen word collapses far; unseen word falls back toward chars
    assert len(apply_merges("newest", merges)) < len("newest")
    unseen = apply_merges("zzq", merges)
    assert unseen == ["z", "z", "q" + END]
    assert apply_merges("", merges) == []


def test_word_frequencies_and_udf_roundtrip(spark):
    docs = spark.createDataFrame(
        [(1, "low low lower newest"), (2, "newest newest widest low")],
        ["doc_id", "text"],
    )
    wf = {r.word: r.n for r in word_frequencies(docs, min_count=1).collect()}
    assert wf == {"low": 3, "lower": 1, "newest": 3, "widest": 1}

    merges = train_bpe(sorted(wf.items()), 6)
    out = docs.select(
        "doc_id", bpe_tokens_udf(merges)(F.col("text")).alias("toks")
    ).collect()
    got = {r.doc_id: r.toks for r in out}
    # the UDF path equals the plain-Python path word by word
    for doc_id, text in [(1, "low low lower newest"), (2, "newest newest widest low")]:
        want = [t for w in text.split() for t in apply_merges(w, merges)]
        assert got[doc_id] == want
    # every token stream reassembles to the original text
    for doc_id, text in [(1, "low low lower newest")]:
        joined = "".join(got[doc_id]).replace(END, " ").strip()
        assert joined == text.replace(" ", " ")


def test_word_frequencies_bounds(spark):
    docs = spark.createDataFrame(
        [(1, "aa aa aa bb bb cc dd dd dd dd")], ["doc_id", "text"]
    )
    # min_count floors hapax noise before anything can reach a collect
    floored = {r.word: r.n for r in word_frequencies(docs, min_count=2).collect()}
    assert floored == {"aa": 3, "bb": 2, "dd": 4}
    # top_n caps the table regardless of corpus shape, count-desc with
    # deterministic word tie-break
    top = [
        (r.word, r.n)
        for r in word_frequencies(docs, min_count=1, top_n=2).collect()
    ]
    assert sorted(top) == [("aa", 3), ("dd", 4)]


def test_bpe_cache_keys_on_corpus_identity_not_path(spark, tmp_path):
    """The trained-merge cache must key on the corpus CONTENT
    (file-listing checksum), not the sf_dir string — a path-keyed cache
    serves stale merges when the table under a fixed path is rewritten
    within one process lifetime."""
    from fireball_data_processing_spark.queries import q_bpe_merge_table

    sf_dir = str(tmp_path)
    docs_a = spark.createDataFrame(
        [(i, "low low lower newest newest widest") for i in range(8)],
        "doc_id bigint, text string",
    )
    docs_a.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    first = [
        (r.left_sym, r.right_sym)
        for r in q_bpe_merge_table(spark, sf_dir).collect()
    ]

    # rewrite the table UNDER THE SAME PATH with a different corpus
    docs_b = spark.createDataFrame(
        [(i, "zz zz zzq zzq qq qq qq") for i in range(8)],
        "doc_id bigint, text string",
    )
    docs_b.write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    # load_table sees the rewrite by the table's listing. The point under
    # test is the MERGE cache — before the fix it kept serving docs_a's
    # merges even after the table was reloaded, because its key was the
    # unchanged sf_dir string.
    second = [
        (r.left_sym, r.right_sym)
        for r in q_bpe_merge_table(spark, sf_dir).collect()
    ]
    assert first != second  # retrained, not served stale
    assert ("z", "z") in second or ("q", "q</w>") in second


def test_corpus_word_length_within_apply_oracle_unroll(spark):
    """_bpe_apply_oracle unrolls merge application to n_apply=8 steps,
    which suffices for any word of length <= 8. Pin the bound on the
    actual testdata so a regeneration with longer tokens fails HERE
    instead of silently mis-counting in the driver compare."""
    import duckdb

    for sf in ("0.001", "0.01", "0.1"):
        con = duckdb.connect()
        (max_len,) = con.execute(
            "SELECT max(length(word)) FROM ("
            " SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))"
            " AS word"
            f" FROM read_parquet('/root/testdata/sf{sf}/documents.parquet'))"
        ).fetchone()
        assert max_len <= 8, (sf, max_len)


def test_bpe_apply_oracle_replays_udf_on_toy_corpus(duck):
    """End-to-end parity of the APPLICATION oracle: per-doc BPE token
    counts from the unrolled lowest-rank-first merge replay must equal
    apply_merges() over merges trained on the same corpus — including
    words the training floor (min_count) excluded from the collect but
    the tokenizer still applies to."""
    import pandas as pd
    import re

    from fireball_data_processing_spark.queries import _bpe_apply_oracle

    rows = [
        "low low lower newest",
        "newest newest widest low",
        "hapax low low",          # 'hapax' is excluded from training
        "aaaa aaa aa a",          # self-pair parity shapes
    ]
    docs = pd.DataFrame({"doc_id": range(len(rows)), "text": rows})
    duck.register("documents", docs)
    try:
        got = {
            r[0]: (r[1], r[2])
            for r in duck.execute(
                _bpe_apply_oracle(8, n_apply=8)
            ).fetchall()
        }
        wf_rows = duck.execute(
            """SELECT word, n FROM (
                 SELECT word, COUNT(*)::BIGINT AS n FROM (
                   SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                   AS word FROM documents) GROUP BY word
                 HAVING COUNT(*) >= 2)"""
        ).fetchall()
        merges = train_bpe(sorted([(w, int(n)) for w, n in wf_rows]), 8)
        for doc_id, text in zip(range(len(rows)), rows):
            n_bpe = sum(
                len(apply_merges(w, merges))
                for w in re.findall(r"[a-z0-9]+", text.lower())
            )
            n_words = len(text.strip().split())
            assert got[doc_id] == (n_bpe, n_words), (doc_id, got[doc_id])
    finally:
        duck.unregister("documents")
