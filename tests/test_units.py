"""Unit tests for the non-SQL-expressible edges: automation narration
golden fixtures, multimodal plumbing, rows-only catalog queries, and
operator edge cases."""

from __future__ import annotations

import pytest

from pyspark.sql import Column
from pyspark.sql import functions as F

from fireball_data_processing_spark import fixtures as FX
from fireball_data_processing_spark import queries as catalog
from fireball_data_processing_spark.functions.automation import narrate_tree
from fireball_data_processing_spark.functions.text import normalize_text
from fireball_data_processing_spark.operators.dedup import shingles_of_words

ROWS_ONLY = [n for n, s in catalog.REGISTRY.items() if s.oracle is None]


# ---------------------------------------------------------------------
# F14 golden narration (FIXTURES.md section 4 node coverage)
# ---------------------------------------------------------------------
GOLDEN = {
    "attack_hit": "hit on target 0; 7 damage to target 0",
    "attack_crit": "critical hit on target 1; 14 damage to target 1",
    "save_spell": "dexterity save fails; 28 damage to target 0",
    "heal_self": "9 healing to self; 5 temporary HP",
    "effects": "effect added: Blessed; effect removed: Poisoned",
    "check_contest": "Athletics contest vs Acrobatics; Stealth check",
    "null_tree": None,
}


@pytest.mark.parametrize("name,expected", sorted(GOLDEN.items()))
def test_narrate_tree_golden(name, expected):
    row = dict(FX.AUTOMATION_ROWS)[name]
    assert narrate_tree(row) == expected


def test_narrate_malformed_json():
    assert narrate_tree("{not json") is None
    assert narrate_tree("42") == ""  # scalar tree: nothing to narrate


# ---------------------------------------------------------------------
# rows-only catalog queries: run + schema stability (the driver's weaker
# check, reproduced locally)
# ---------------------------------------------------------------------
@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_queries_run(name, spark, sf_dir):
    df = catalog.REGISTRY[name].fn(spark, sf_dir)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns  # stable, non-empty schema


def test_multimodal_features_deterministic(spark, sf_dir):
    df = catalog.REGISTRY["multimodal_features"].fn(spark, sf_dir)
    got = {r["media_id"]: r for r in df.collect()}
    assert len(got) == 4
    import hashlib

    raw = bytes(FX.MEDIA_ROWS[0][2])
    assert got[1]["digest"] == hashlib.md5(raw).hexdigest()
    assert got[1]["n_bytes"] == len(raw)
    d = hashlib.md5(raw).digest()
    assert got[1]["f0"] == pytest.approx(d[0] / 255.0)


# ---------------------------------------------------------------------
# operator edges
# ---------------------------------------------------------------------
def word_shingles(c: Column, k: int) -> Column:
    """Distinct k-word shingles of the normalized text (array<string>).

    Built with transform over the split words — stays in codegen, no UDF.

    PERF: pass a pre-materialized words *column* (see ``_exploded_shingles``)
    rather than a raw text column — expressions inside a higher-order-
    function lambda get NO subexpression elimination, so a split/regex child
    here would re-run once per shingle index.
    """
    words = F.split(normalize_text(c), " ")
    return shingles_of_words(words, k)


def test_word_shingles_short_doc(spark):
    df = spark.createDataFrame(
        [("two words",), ("one two three four",), ("",)], "text string"
    )
    got = df.select(word_shingles(F.col("text"), 3).alias("s")).collect()
    assert got[0]["s"] == []
    assert got[1]["s"] == ["one two three", "two three four"]
    assert got[2]["s"] == []


def test_ordered_dedup_preserves_first_occurrence(spark):
    # O7 (reference distill4_normalize.py:432-440): array_distinct keeps
    # first-occurrence order
    df = spark.createDataFrame([(["t1", "t2", "t1", "t3", "t2"],)], "xs array<string>")
    got = df.select(F.array_distinct("xs").alias("d")).collect()
    assert got[0]["d"] == ["t1", "t2", "t3"]


def test_deterministic_split_is_stable_and_disjoint(spark):
    from fireball_data_processing_spark.operators.sampling import deterministic_split

    df = spark.createDataFrame([(i,) for i in range(200)], "k bigint")
    a = deterministic_split(df, F.col("k"), 0.3, salt="x").collect()
    b = deterministic_split(df, F.col("k"), 0.3, salt="x").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    frac = sum(1 for r in a if r["split"] == "test") / len(a)
    assert 0.15 < frac < 0.45  # hash-uniform, not exact


def test_ivf_index_partition_pruning(spark, sf_dir, tmp_path):
    # build phase persists assignments partitioned by cell; the query phase
    # must reach the parquet scan with a PartitionFilters entry on cell so
    # unprobed cells are never read (VERDICT r1 item 2)
    from fireball_data_processing_spark.operators.similarity import (
        build_ivf_index,
        brute_force_topk,
        ivf_query,
    )
    from fireball_data_processing_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    index = build_ivf_index(e, n_centroids=8, path=str(tmp_path / "ivf"))
    q = e.filter(F.col("vec_id") < 10)
    res = ivf_query(index, q, k=5, n_probe=4)

    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan or "PartitionFilters: [isnotnull(cell" in plan, plan[:2000]

    exact = {(r["query_id"], r["neighbor_id"]) for r in brute_force_topk(q, e, k=5).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in res.collect()}
    assert len(exact & approx) / len(exact) >= 0.5


def test_ivf_topk_recall_against_brute_force(spark, sf_dir):
    from fireball_data_processing_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_query,
    )
    from fireball_data_processing_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(q, e, k=5).collect()
    index = build_ivf_index(e, n_centroids=8)
    approx = ivf_query(index, q, k=5, n_probe=4).collect()
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # probing half the cells should recover most true neighbors
    assert recall >= 0.5, recall
    assert all(r["rank"] <= 5 for r in approx)


def test_ivf_replay_fit_exhaustive_probe_is_exact(spark, sf_dir):
    """build_ivf_index(fit="replay") + ivf_query with n_probe ==
    n_centroids degenerates to brute force EXACTLY (every cell probed),
    the recall=1 calibration point — and the replayable fit must honor
    it just like the MLlib fit (same query phase, different trainer)."""
    from fireball_data_processing_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_query,
    )
    from fireball_data_processing_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    index = build_ivf_index(e, n_centroids=4, fit="replay", n_iter=1)
    got = sorted(
        map(tuple, ivf_query(index, q, k=5, n_probe=4).collect())
    )
    want = sorted(
        map(
            tuple,
            brute_force_topk(q, e, k=5)
            .select("query_id", "neighbor_id", "cosine_sim", "rank")
            .collect(),
        )
    )
    assert got == want
    # partial probe: still a valid top-k shape, and ranks stay dense
    part = ivf_query(index, q, k=5, n_probe=2).collect()
    assert all(1 <= r["rank"] <= 5 for r in part)


def test_heuristics_mean_delta_tie_matches_oracle(spark, tmp_path):
    """Each user's two message->command gaps sum to an odd number of
    microseconds, so the mean gap in seconds has a 5 in the 7th decimal:
    a 6-dp tie. Averaging per-row float seconds lands on either side of it
    depending on the engine; the exact microsecond mean rounds the same
    way in the query and its oracle."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    gaps = [(294243409, 312483154), (954832915, 516461304), (822390326, 151194621)]
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for user, (a, b) in enumerate(gaps):
        t = t0 + dt.timedelta(days=user)
        offsets = [0, a, a + 1000, a + 1000 + b]
        for i, (etype, us) in enumerate(zip(["view", "purchase"] * 2, offsets)):
            rows.append((10 * user + i, t + dt.timedelta(microseconds=us), user, etype))
    schema = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
    ])
    cols = list(zip(*rows)) + [[1.0] * len(rows), ["{}"] * len(rows)]
    pq.write_table(pa.table(cols, schema=schema), tmp_path / "events.parquet")

    spec = catalog.REGISTRY["heuristics_matrix"]
    got = spec.fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmp_path}/events.parquet')"
    )
    want = con.execute(spec.oracle).fetchdf()
    con.close()
    col = "avg_time_between_message_and_command"
    assert dict(zip(got["user_id"], got[col])) == {
        0: 303.363282, 1: 735.64711, 2: 486.792474
    }
    assert dict(zip(want["user_id"], want[col])) == dict(zip(got["user_id"], got[col]))


def test_simhash_wide_bits_are_populated(spark):
    from fireball_data_processing_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "totally different words everywhere here now")],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["simhash"] for r in simhash(df, bits=32).collect()}
    # upper 16 bits must actually vote (pre-fix they were always zero)
    assert any(v >> 16 != 0 for v in got.values()), got
    import pytest as _pytest

    with _pytest.raises(ValueError):
        simhash(df, bits=64)


def test_dataset_memo_key_includes_names(spark, tmp_path):
    import gzip
    import hashlib
    import json

    from fireball_data_processing_spark.dataset import FireballDataset

    root = tmp_path / "corpus"
    (root / "i1").mkdir(parents=True)
    with gzip.open(root / "i1" / "c.jsonl.gz", "wt") as f:
        f.write(json.dumps({"combat_id": "i1", "event_type": "message",
                            "timestamp": 1.0, "author_id": "a",
                            "content": "hi"}) + "\n")
    from fireball_data_processing_spark.sources import sinks

    ds = FireballDataset(spark, str(root), results_dir=str(tmp_path / "res"))
    # a result cached for a different heuristic set over the same corpus
    sub_key = hashlib.md5((ds.checksum() + "|event_count").encode()).hexdigest()
    sinks.write_results_csv(
        spark.createDataFrame([("i1", 1.0)], "instance_id string, event_count double"),
        str(tmp_path / "res" / "heuristics"),
        checksum=sub_key,
    )
    full = ds.heuristics()  # must NOT be served from the subset cache
    assert "message_count" in full.columns


def test_censor_words_masks_case_insensitive(spark):
    from fireball_data_processing_spark.functions.render import censor_words

    df = spark.createDataFrame(
        [("that damn goblin",), ("what the HELL was that",), ("hello shell",)],
        "content string",
    )
    got = [r["c"] for r in df.select(censor_words(F.col("content")).alias("c")).collect()]
    assert got[0] == "that ---- goblin"
    assert got[1] == "what the ---- was that"
    # word-bounded: hello/shell untouched
    assert got[2] == "hello shell"


def test_lsh_grouped_no_self_pairs_on_duplicate_ids(spark):
    # a caller-supplied signature frame with duplicate ids must not
    # yield (d, d) pairs: the self-join's strict id_a < id_b excludes them
    from fireball_data_processing_spark.operators.dedup import lsh_candidate_pairs

    sigs = spark.createDataFrame(
        [(7, *["aa"] * 8), (7, *["aa"] * 8), (9, *["aa"] * 8)],
        "doc_id bigint, " + ", ".join(f"mh{i} string" for i in range(8)),
    )
    pairs = lsh_candidate_pairs(sigs).collect()
    assert sorted((r["id_a"], r["id_b"]) for r in pairs) == [(7, 9)]


def test_correlation_drops_null_partition_keys(spark):
    # review fix: window-form correlation must not keep NULL-partition rows
    # the semi-join (and SQL SEMI JOIN oracle) would drop
    from fireball_data_processing_spark.operators.correlate import (
        with_correlation_groups,
    )

    df = spark.createDataFrame(
        [(None, 1, "view"), (None, 1, "click"), (5, 2, "view"), (5, 2, "click")],
        "u int, k int, event_type string",
    )
    out = with_correlation_groups(
        df, ["u"], F.col("k"), F.col("event_type") == "view", corr_col="kk"
    ).collect()
    assert sorted((r["u"], r["kk"]) for r in out) == [(5, 2), (5, 2)]


def test_infer_dim_from_metadata_and_streaming_refusal(spark, tmp_path):
    import pytest

    from fireball_data_processing_spark.operators.similarity import _infer_dim

    df = spark.createDataFrame(
        [("a", [1.0, 2.0, 3.0])], "vec_id string, embedding array<double>"
    )
    tagged = df.withMetadata("embedding", {"dim": 3})
    assert _infer_dim(tagged, "embedding") == 3
    # untagged falls back to the one-row peek
    assert _infer_dim(df, "embedding") == 3

    # metadata-tagged streaming frame works fully lazily; untagged refuses
    p = str(tmp_path / "vecs")
    df.write.mode("overwrite").parquet(p)
    stream = spark.readStream.schema(df.schema).parquet(p)
    with pytest.raises(ValueError, match="streaming"):
        _infer_dim(stream, "embedding")
    assert _infer_dim(stream.withMetadata("embedding", {"dim": 3}), "embedding") == 3


def test_minhash_sig_expr_matches_grouped_signature(spark, sf_dir):
    # the per-row (stream-safe) signature expression must be value-identical
    # to the explode->groupBy batch formulation, hash for hash
    from pyspark.sql import functions as F

    from fireball_data_processing_spark.functions.text import normalize_text
    from fireball_data_processing_spark.operators.dedup import (
        minhash_sig_expr,
        minhash_signature,
        shingles_of_words,
    )
    from fireball_data_processing_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    sh = shingles_of_words(F.split(normalize_text(F.col("text")), " "), 3)
    per_row = {
        r["doc_id"]: r["sig"]
        for r in d.select("doc_id", minhash_sig_expr(sh, 8).alias("sig")).collect()
    }
    grouped = {
        r["doc_id"]: [r[f"mh{i}"] for i in range(8)]
        for r in minhash_signature(d, num_hashes=8, shingle_k=3).collect()
    }
    assert set(grouped) <= set(per_row)
    for doc_id, sig in grouped.items():
        assert per_row[doc_id] == sig, doc_id
    # docs the grouped form omits (no shingles) are all-null per-row
    for doc_id in set(per_row) - set(grouped):
        assert per_row[doc_id] == [None] * 8


def test_ngram_overlap_counts_shared_shingles(spark):
    from fireball_data_processing_spark.operators.dedup import ngram_overlap

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated text body with original words"),
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps high"), (101, "nothing in common here at all")],
        "doc_id bigint, text string",
    )
    got = {
        (r["doc_id"], r["bench_id"]): r["n_shared"]
        for r in ngram_overlap(docs, bench, k=3).collect()
    }
    # doc1 x bench100 share exactly 'quick brown fox' and 'brown fox jumps'
    assert got == {(1, 100): 2}
    # min_overlap filters below-threshold pairs
    assert ngram_overlap(docs, bench, k=3, min_overlap=3).count() == 0


def test_redact_pii_goldens(spark):
    from fireball_data_processing_spark import fixtures as FX
    from fireball_data_processing_spark.functions.pii import pii_counts, redact_pii

    df = FX.spark_df(spark, FX.PII_ROWS, FX.PII_SCHEMA)
    counts = pii_counts(F.col("content"))
    rows = {
        r["id"]: r
        for r in df.select(
            "id",
            redact_pii(F.col("content")).alias("red"),
            *[c.alias(n) for n, c in counts.items()],
        ).collect()
    }
    assert rows[1]["red"] == "contact me at [EMAIL] or [EMAIL]"
    assert rows[1]["n_email"] == 2 and rows[1]["n_phone"] == 0
    assert rows[2]["red"] == "call [PHONE] or [PHONE] after 5pm"
    assert rows[3]["red"] == "server at [IP] and [IP] went down"
    assert rows[4]["red"] == "mixed: [EMAIL], [PHONE], host [IP]"
    assert rows[5]["red"] == rows[5]["red"] and rows[5]["n_email"] == 0
    # ipv4-shaped version string IS matched (documented conservatism)
    assert rows[6]["red"] == "version [IP] of the parser"
    assert rows[7]["red"] == "" and rows[8]["red"] is None
    assert rows[8]["n_email"] is None  # null text -> unscanned, not zero


def test_repetition_features_values(spark):
    from fireball_data_processing_spark.functions.textstats import (
        repetition_features,
    )

    df = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham"),  # bigrams: 5 total, 2 distinct
            (2, "all words here are unique tokens"),  # 5 total, 5 distinct
            (3, "tiny"),  # no bigrams
        ],
        "doc_id bigint, text string",
    )
    feats = repetition_features(F.col("text"), n=2)
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", *[c.alias(n) for n, c in feats.items()]
        ).collect()
    }
    # doc1: 'spam ham' x3 + 'ham spam' x2
    assert got[1]["n_ngrams"] == 5
    assert got[1]["dup_ngram_frac"] == pytest.approx(1 - 2 / 5)
    assert got[1]["top_ngram_frac"] == pytest.approx(3 / 5)
    assert got[2]["dup_ngram_frac"] == 0.0
    assert got[2]["top_ngram_frac"] == pytest.approx(1 / 5)
    assert got[3]["n_ngrams"] == 0
    assert got[3]["dup_ngram_frac"] == 0.0 and got[3]["top_ngram_frac"] == 0.0


def test_mixture_sample_rates_and_determinism(spark):
    from fireball_data_processing_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(2000)],
        "k bigint, bucket string",
    )
    kept = mixture_sample(
        df, F.col("bucket"), {"a": 1.0, "b": 0.2}, F.col("k"), salt="s"
    )
    rows = kept.collect()
    again = mixture_sample(
        df, F.col("bucket"), {"a": 1.0, "b": 0.2}, F.col("k"), salt="s"
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))  # deterministic
    n_a = sum(1 for r in rows if r["bucket"] == "a")
    n_b = sum(1 for r in rows if r["bucket"] == "b")
    assert n_a == 1000  # rate 1.0 keeps everything
    assert 120 < n_b < 280  # hash-uniform around 200
    # unlisted bucket takes default_rate
    df2 = spark.createDataFrame([(1, "zz")], "k bigint, bucket string")
    assert mixture_sample(df2, F.col("bucket"), {}, F.col("k")).count() == 0
    assert (
        mixture_sample(df2, F.col("bucket"), {}, F.col("k"), default_rate=1.0).count()
        == 1
    )


def test_chunk_documents_window_semantics(spark):
    from fireball_data_processing_spark.functions.textstats import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, text), (2, "short doc")], "doc_id bigint, text string"
    )
    got = sorted(
        map(tuple, chunk_documents(df, chunk_tokens=4, overlap=1).collect())
    )
    # doc1: stride 3 over 10 words -> starts 0,3,6,9
    assert got == [
        (1, 0, "w0 w1 w2 w3", 4),
        (1, 1, "w3 w4 w5 w6", 4),
        (1, 2, "w6 w7 w8 w9", 4),
        (1, 3, "w9", 1),
        (2, 0, "short doc", 2),
    ]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=4, overlap=4)


def test_clean_segments_c4_rules(spark):
    from fireball_data_processing_spark.functions.clean import (
        clean_segments,
        doc_flags,
    )

    rows = [
        # two good lines, one short, one without terminal punct, blanks
        ("a", "This line has enough words to keep.\nshort one.\n"
              "another line with plenty of words here\n\n  \n"
              "Final good line stays in the output!"),
        ("b", "lorem ipsum dolor { code }"),
        ("c", ""),
    ]
    df = spark.createDataFrame(rows, "id string, text string")
    seg = clean_segments(F.col("text"), min_words=5, require_terminal_punct=True)
    flags = doc_flags(F.col("text"))
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            *[c.alias(n) for n, c in seg.items()],
            *[c.alias(n) for n, c in flags.items()],
        ).collect()
    }
    a = out["a"]
    assert a["n_segments"] == 4
    assert a["n_kept_segments"] == 2
    assert a["kept_text"] == (
        "This line has enough words to keep.\nFinal good line stays in the output!"
    )
    assert not a["has_bad_phrase"] and not a["has_brace"]
    b = out["b"]
    assert b["has_bad_phrase"] and b["has_brace"]
    assert b["n_kept_segments"] == 0 and b["kept_text"] == ""
    c = out["c"]
    assert c["n_segments"] == 0 and c["kept_text"] == ""


def test_quantized_rerank_matches_exact_topk(spark, sf_dir, dequantize):
    """Int8-quantized vectors must preserve cosine top-k almost exactly —
    the compression is only useful if the re-rank on dequantized vectors
    agrees with the full-precision answer (64-dim synthetic corpus: 255
    levels is far finer than neighbor gaps)."""
    from fireball_data_processing_spark.operators.similarity import (
        brute_force_topk,
        quantize_embedding,
    )
    from fireball_data_processing_spark.sources.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    qz = quantize_embedding(F.col("embedding"))
    deq = e.select(
        "vec_id",
        dequantize(qz["codes"], qz["vmin"], qz["vmax"]).alias(
            "embedding"
        ),
    )
    q_exact = e.filter(F.col("vec_id") < 5)
    q_deq = deq.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(q_exact, e, k=3).collect()
    }
    quant = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(q_deq, deq, k=3).collect()
    }
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, (recall, exact ^ quant)


def test_duplicate_spans_merges_islands(spark):
    """Two docs share an 8-word run; a third is disjoint. Spans must cover
    exactly the shared run in both docs, merge overlapping gram hits, and
    skip the unique doc entirely."""
    from fireball_data_processing_spark.operators.dedup import duplicate_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "one two three " + shared + " four five"),
        (2, shared + " six seven eight"),
        (3, "totally unique words that appear nowhere else at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_words"])
        for r in duplicate_spans(df, k=8, min_docs=2).collect()
    }
    # doc 1: shared 10 words start at offset 3 -> [3, 13); doc 2: [0, 10)
    assert got == {1: (3, 13, 10), 2: (0, 10, 10)}


def test_duplicate_spans_contiguous_hits_merge(spark):
    from fireball_data_processing_spark.operators.dedup import duplicate_spans

    # doc 1 repeats doc 2's full text twice, back to back: the two copies'
    # gram hits in doc 1 are contiguous and must merge into ONE span
    base = "w1 w2 w3 w4 w5 w6 w7 w8"
    rows = [(1, base + " " + base), (2, base)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(df, k=8, min_docs=2).collect()
    )
    assert got == [(1, 0, 16), (2, 0, 8)]


def test_normalize_unicode_forms_and_control_strip(spark):
    """NFC composes, NFKC folds compatibility chars (ligature/fullwidth),
    nulls pass through, and the control-strip keeps tab/newline while
    dropping C0/C1 bytes."""
    from fireball_data_processing_spark.functions.clean import (
        normalize_unicode,
        strip_control_chars,
    )
    import pytest as _pytest

    rows = [
        (1, "cafe\u0301"),  # decomposed -> NFC composes
        (2, "\ufb01le \uff21"),  # fi-ligature + fullwidth A -> NFKC folds
        (3, None),
        (4, "ab\tc\u0007\u008a\nde"),  # BEL + C1 stripped, tab/newline kept
    ]
    df = spark.createDataFrame(rows, "id int, t string")
    nfc = {
        r.id: r.v
        for r in df.select(
            "id", normalize_unicode("NFC")(F.col("t")).alias("v")
        ).collect()
    }
    assert nfc[1] == "caf\u00e9"
    assert nfc[2] == "\ufb01le \uff21"  # NFC leaves compatibility chars
    assert nfc[3] is None
    nfkc = {
        r.id: r.v
        for r in df.select(
            "id", normalize_unicode("NFKC")(F.col("t")).alias("v")
        ).collect()
    }
    assert nfkc[2] == "file A"
    stripped = {
        r.id: r.v
        for r in df.select(
            "id", strip_control_chars(F.col("t")).alias("v")
        ).collect()
    }
    assert stripped[4] == "ab\tc\nde"
    with _pytest.raises(ValueError):
        normalize_unicode("NFX")


def test_remove_duplicate_spans_cuts_and_passes_through(spark):
    """Removal semantics (Lee et al. cut-the-span): spanned words vanish,
    unspanned docs pass through normalized-intact, a fully-duplicated doc
    reduces to the empty string (kept, not dropped)."""
    from fireball_data_processing_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "one two three " + shared + " four five"),
        (2, shared),  # duplicated in full -> everything removed
        (3, "totally unique words that appear nowhere else at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    spans = duplicate_spans(df, k=8, min_docs=2)
    got = {
        r["doc_id"]: (r["clean_text"], r["n_words"], r["n_removed_words"])
        for r in remove_duplicate_spans(df, spans).collect()
    }
    assert got[1] == ("one two three four five", 15, 10)
    assert got[2] == ("", 10, 10)
    assert got[3] == (rows[2][1], 10, 0)


def test_pack_sequences_bins_tile_exactly(spark):
    """Packing invariants: every bin except a shard's last is exactly
    full; within a bin the slices tile [0, fill) with no gaps or
    overlaps; every document's tokens are fully covered in order; empty
    docs are dropped."""
    from collections import defaultdict

    from fireball_data_processing_spark.operators.packing import (
        pack_sequences,
        token_count_col,
    )

    rows = [
        ("s1", 1, " ".join(["a"] * 10)),
        ("s1", 2, " ".join(["b"] * 7)),
        ("s1", 3, ""),                      # dropped
        ("s1", 4, " ".join(["c"] * 13)),
        ("s2", 5, " ".join(["d"] * 3)),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id bigint, text string")
    out = pack_sequences(
        df, max_tokens=8, shard_col="source", order_col="doc_id",
        n_tokens=token_count_col(F.col("text")),
    ).collect()

    assert not any(r["doc_id"] == 3 for r in out)

    per_doc = defaultdict(int)
    bins = defaultdict(list)
    for r in out:
        assert 0 <= r["tok_start"] < r["tok_end"]
        per_doc[r["doc_id"]] += r["tok_end"] - r["tok_start"]
        bins[(r["source"], r["bin_idx"])].append(
            (r["offset_in_bin"], r["offset_in_bin"] + r["tok_end"] - r["tok_start"])
        )
    assert per_doc == {1: 10, 2: 7, 4: 13, 5: 3}

    for (src, b), slices in bins.items():
        slices.sort()
        assert slices[0][0] == 0
        for (_, e1), (s2, _) in zip(slices, slices[1:]):
            assert e1 == s2, (src, b, slices)
        fill = slices[-1][1]
        last_bin = max(bb for (ss, bb) in bins if ss == src)
        assert fill == 8 or b == last_bin, (src, b, fill)

    # s1 has 30 tokens -> bins 0..3 (8+8+8+6); s2 has 3 -> one bin
    assert {b for (s, b) in bins if s == "s1"} == {0, 1, 2, 3}
    assert {b for (s, b) in bins if s == "s2"} == {0}


def test_pack_sequences_rejects_bad_max():
    import pytest

    from fireball_data_processing_spark.operators.packing import pack_sequences

    with pytest.raises(ValueError, match="max_tokens"):
        pack_sequences(None, 0, "s", "o", "n")


def test_corpus_pipeline_stages(spark):
    """Stage semantics end-to-end on a fixture corpus: bad-phrase doc
    dropped at clean, exact duplicate (post-clean) dropped at dedup
    keeping the smallest id, short doc dropped at quality, and the
    packed manifest covers exactly the surviving tokens."""
    from fireball_data_processing_spark.plans.corpus_pipeline import (
        build_training_corpus,
    )

    seg = " ".join(f"w{i}" for i in range(50))  # one 50-word segment
    rows = [
        (1, seg + "\nshort line", "s1"),        # survives; clean drops line 2
        (2, seg, "s1"),                          # duplicate of 1 post-clean
        (3, seg + " lorem ipsum", "s1"),         # bad phrase -> dropped
        (4, "tiny", "s1"),                       # clean leaves empty -> dropped
        (5, " ".join(f"u{i}" for i in range(60)), "s2"),  # unique, survives
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    stages = build_training_corpus(df)

    assert {r["doc_id"] for r in stages["cleaned"].collect()} == {1, 2, 5}
    assert {r["doc_id"] for r in stages["deduped"].collect()} == {1, 5}
    q = {r["doc_id"]: r["n_tokens"] for r in stages["quality"].collect()}
    assert q == {1: 50, 5: 60}
    packed = stages["packed"].collect()
    covered = {}
    for r in packed:
        covered[r["doc_id"]] = covered.get(r["doc_id"], 0) + (
            r["tok_end"] - r["tok_start"]
        )
    assert covered == {1: 50, 5: 60}


def test_semantic_dedup_drops_near_identical_keeps_distinct(spark):
    from fireball_data_processing_spark.operators.similarity import (
        semantic_dedup,
    )

    # 16-dim vectors, bits=8: bucket bit i set iff e[i+1] >= e[i+9].
    # v1/v2/v3 land in bucket 255 (first half dominates), v4 in bucket 0.
    v1 = [2.0] * 8 + [1.0] * 8
    v2 = [4.0] * 8 + [2.0] * 8          # v1 scaled: cos=1 -> dropped
    v3 = [10.0] + [1.0] * 7 + [0.5] * 8  # same bucket, cos~0.58 -> kept
    v4 = [1.0] * 8 + [2.0] * 8          # bucket 0, its own rep
    df = spark.createDataFrame(
        [(1, v1), (2, v2), (3, v3), (4, v4)],
        "vec_id bigint, embedding array<double>",
    )
    got = {
        r.vec_id: (r.bucket, r.cos_to_rep)
        for r in semantic_dedup(df, tau=0.9).collect()
    }
    assert set(got) == {1, 3, 4}  # 2 is a semantic dup of rep 1
    assert got[1] == (255, None)  # reps report null cosine
    assert got[4] == (0, None)
    assert got[3][0] == 255 and got[3][1] is not None and got[3][1] <= 0.9


def test_capped_sample_exact_quota_and_determinism(spark):
    from fireball_data_processing_spark.operators.sampling import capped_sample

    rows = [(i, "big" if i < 80 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "k bigint, b string")
    kept = capped_sample(df, F.col("b"), cap=10, key=F.col("k"), salt="s")
    got = kept.collect()
    from collections import Counter

    by_bucket = Counter(r["b"] for r in got)
    assert by_bucket == {"big": 10, "small": 10}
    # deterministic under repartitioning
    again = capped_sample(
        df.repartition(7), F.col("b"), cap=10, key=F.col("k"), salt="s"
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    # a bucket smaller than the cap survives whole
    tiny = capped_sample(df, F.col("b"), cap=25, key=F.col("k"), salt="s")
    assert Counter(r["b"] for r in tiny.collect())["small"] == 20


def test_temperature_mixture_rates_limits(spark):
    from fireball_data_processing_spark.operators.sampling import (
        temperature_mixture_rates,
    )

    rows = [(i, "en" if i < 90 else "is") for i in range(100)]
    df = spark.createDataFrame(rows, "k bigint, lang string")
    # alpha=1: natural mix, every keep_rate == 1 (identity plan)
    nat = {
        r["bucket"]: r
        for r in temperature_mixture_rates(df, F.col("lang"), alpha=1.0).collect()
    }
    assert nat["en"]["keep_rate"] == 1.0 and nat["is"]["keep_rate"] == 1.0
    assert nat["en"]["weight"] == 0.9
    # alpha=0: uniform weights -> the head language is downsampled toward
    # 50/50 while the tail is capped at 1
    uni = {
        r["bucket"]: r
        for r in temperature_mixture_rates(df, F.col("lang"), alpha=0.0).collect()
    }
    assert uni["en"]["weight"] == 0.5 and uni["is"]["weight"] == 0.5
    assert uni["en"]["keep_rate"] == pytest.approx(50 / 90, abs=1e-6)
    assert uni["is"]["keep_rate"] == 1.0


def test_script_counts_and_dominant(spark):
    from fireball_data_processing_spark.functions.textstats import (
        dominant_script,
        script_counts,
    )

    rows = [
        (1, "hello world"),
        (2, "Привет мир"),  # cyrillic
        (3, "你好 ok"),  # han 2 == latin 2 -> tie, first wins
        (4, "12345 !!!"),  # no script chars at all
    ]
    df = spark.createDataFrame(rows, "id int, t string")
    counts = script_counts(F.col("t"))
    got = {
        r.id: (r.latin, r.cyrillic, r.han, r.dom)
        for r in df.select(
            "id",
            counts["latin"].alias("latin"),
            counts["cyrillic"].alias("cyrillic"),
            counts["han"].alias("han"),
            dominant_script(counts).alias("dom"),
        ).collect()
    }
    assert got[1] == (10, 0, 0, "latin")
    assert got[2][1] == 9 and got[2][3] == "cyrillic"
    assert got[3] == (2, 0, 2, "latin")  # tie -> first-listed
    assert got[4] == (0, 0, 0, "latin")  # degenerate: all zero -> first


def test_profile_columns_nulls_and_sketch_path(spark):
    from fireball_data_processing_spark.operators.profile import (
        profile_columns,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, None)], "k bigint, v string"
    )
    got = {
        r["column"]: r
        for r in profile_columns(df, exact_distinct=True).collect()
    }
    assert got["k"]["n_rows"] == 4 and got["k"]["n_null"] == 0
    assert got["k"]["n_distinct"] == 4
    assert (got["k"]["min_value"], got["k"]["max_value"]) == ("1", "4")
    assert got["v"]["n_null"] == 2 and got["v"]["n_distinct"] == 1
    assert got["v"]["min_value"] == "a"
    # HLL path: same shape, cardinalities within the sketch's error band
    approx = {
        r["column"]: r["n_distinct"] for r in profile_columns(df).collect()
    }
    assert abs(approx["k"] - 4) <= 1 and abs(approx["v"] - 1) <= 1
    # column subset
    only = profile_columns(df.select("v"), exact_distinct=True).collect()
    assert [r["column"] for r in only] == ["v"]


def test_capstone_segment_dedup_stage(spark):
    """Segment dedup ahead of doc-level dedup: every cross-doc duplicated
    segment (boilerplate AND shared content) survives in exactly one
    document; a doc composed entirely of segments kept elsewhere is
    scrubbed to nothing and dropped — which doc-level dedup alone could
    never do, since no two of these docs hash equal."""
    from pyspark.sql import functions as F

    from fireball_data_processing_spark.plans.corpus_pipeline import (
        build_training_corpus,
    )

    # each phrase is one 50-word segment: the cleaner keeps lines of 50+
    # words, and segment dedup runs on 50-word segments
    def fifty(phrase):
        return " ".join([phrase] * 5)

    b1 = fifty("visit our great site now for more offers today friends")
    b2 = fifty("subscribe to the list right here for weekly news updates")
    content = fifty("the dragon turned slowly toward the open mountain pass")
    rows = [
        (1, "web", f"{b1}"),                 # boiler1 keeper
        (2, "web", f"{b2}"),                 # boiler2 keeper
        (3, "web", f"{b1} {content}"),       # loses boiler1, keeps content
        (4, "web", f"{b2} {content}"),       # loses boiler2 AND content -> empty
        (5, "web", fifty("totally unrelated words about a quiet harbor evening at dusk")),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    stages = build_training_corpus(
        docs,
        segment_dedup_min_docs=2,
        segment_words=50,
    )
    assert list(stages) == [
        "cleaned", "segment_deduped", "deduped", "quality", "packed",
    ]
    segd = {r["doc_id"]: r for r in stages["segment_deduped"].collect()}
    # keepers hold their boilerplate; doc 3 is scrubbed to the content;
    # doc 4 (boiler kept in 2, content kept in 3) empties out and is gone
    assert segd[1]["clean_text"] == b1 and segd[1]["n_seg_removed"] == 0
    assert segd[3]["clean_text"] == content and segd[3]["n_seg_removed"] == 1
    assert 4 not in segd
    kept_ids = sorted(r["doc_id"] for r in stages["deduped"].collect())
    assert kept_ids == [1, 2, 3, 5]
    # without the stage, 3 and 4 both survive doc-level dedup
    plain = build_training_corpus(docs)
    assert sorted(
        r["doc_id"] for r in plain["deduped"].collect()
    ) == [1, 2, 3, 4, 5]


def test_gopher_rules_components(spark):
    """Exercise the Gopher-gate rules the synthetic corpus cannot (the
    parquet docs have no newlines/bullets/ellipses/hashes): each fixture
    row trips exactly one rule; the clean row passes."""
    from fireball_data_processing_spark.functions.textstats import gopher_rules

    clean = "the quick brown fox and the lazy dog " * 8  # 64 words, stopwords
    rows = [
        (1, clean),
        (2, "too short text"),  # < 50 words
        (3, ("a " * 60).strip()),  # mean word len 1 < 3
        (4, clean + " " + "#tag " * 20),  # symbol ratio > 0.1
        (5, clean.replace("the", "123").replace("and", "456")
            + " " + "789 000 111 " * 12),  # alpha-word frac < 0.8
        (6, "- bullet one\n- bullet two\n- bullet three"),  # bullets
        (7, ("the and of is it " * 12).strip()
            + "\nto be continued...\nmore...\nend..."),  # ellipsis ends
    ]
    df = spark.createDataFrame(rows, "id int, t string")
    cols = gopher_rules(F.col("t"))
    got = {
        r["id"]: r.asDict()
        for r in df.select(
            "id", *[c.alias(n) for n, c in cols.items()]
        ).collect()
    }
    assert got[1]["passes_gopher"] is True
    assert got[2]["ok_words"] is False and got[2]["passes_gopher"] is False
    assert got[3]["ok_mean_word_len"] is False
    assert got[4]["ok_symbols"] is False
    assert got[5]["ok_alpha_words"] is False
    assert got[6]["bullet_ratio"] == 1.0 and got[6]["ok_bullets"] is False
    assert got[7]["ellipsis_end_ratio"] == 0.75 and got[7]["ok_ellipsis_ends"] is False
    # component ratios on the clean row
    assert got[1]["symbol_word_ratio"] == 0.0
    assert got[1]["alpha_word_ratio"] == 1.0
    assert got[1]["stop_hits"] >= 2


def test_budget_fill_matches_literal_greedy(spark, monkeypatch):
    """budget_fill == literal Python greedy fill at every bucketing
    granularity (the two-phase prefix sum is bucketing-invariant)."""
    from fireball_data_processing_spark.operators import selection
    from fireball_data_processing_spark.operators.selection import budget_fill

    rows = [
        # (id, score in [0,1], weight)
        (1, 0.9, 40), (2, 0.9, 30), (3, 0.81, 25), (4, 0.5, 50),
        (5, 0.45, 10), (6, 0.45, 10), (7, 0.1, 100), (8, 0.0, 5),
    ]
    budget = 120
    # literal greedy: score desc, id asc, keep while cum <= budget
    order = sorted(rows, key=lambda r: (-r[1], r[0]))
    want, cum = {}, 0
    for rid, _, wt in order:
        cum += wt
        if cum > budget:
            break
        want[rid] = cum
    df = spark.createDataFrame(rows, "id bigint, q double, w bigint")
    for n_buckets in (1, 4, 64):
        monkeypatch.setattr(selection, "_FILL_BUCKETS", n_buckets)
        got = {
            r["id"]: r["cum_weight"]
            for r in budget_fill(df, "q", "w", "id", budget).collect()
        }
        assert got == want, n_buckets
    # ids 1,2,3 (cum 95) fit; id 4 would hit 145 > 120 and is cut,
    # and the cut is NOT resumed with later cheaper docs (greedy prefix)
    assert set(want) == {1, 2, 3}


def test_leakage_safe_split_no_pair_straddles(spark, sf_dir):
    """The leakage property itself: no LSH near-dup candidate pair may
    straddle train/test."""
    from fireball_data_processing_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
        minhash_signature,
    )
    from fireball_data_processing_spark.operators.sampling import (
        deterministic_split,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sigs = minhash_signature(d, num_hashes=8, shingle_k=3)
    pairs = lsh_candidate_pairs(sigs, num_hashes=8, band_size=2).collect()
    assert pairs, "fixture corpus should contain near-dup candidates"
    comp = connected_components(
        lsh_candidate_pairs(sigs, num_hashes=8, band_size=2)
    )
    canon = (
        d.select("doc_id")
        .join(comp, d["doc_id"] == comp["vertex"], "left")
        .select("doc_id", F.coalesce("component", "doc_id").alias("cluster_id"))
    )
    split_of = {
        r["doc_id"]: r["split"]
        for r in deterministic_split(
            canon, F.col("cluster_id"), 0.25, salt="v1"
        ).collect()
    }
    for p in pairs:
        assert split_of[p["id_a"]] == split_of[p["id_b"]], (
            p["id_a"], p["id_b"],
        )


def test_score_threshold_sweep_counts_and_zero_rows(spark):
    from fireball_data_processing_spark.operators.dedup import (
        score_threshold_sweep,
    )

    # scores chosen to exercise the rounded boundary: 0.7999996 rounds
    # to 0.8 at 6 dp and must qualify at threshold 80
    pairs = spark.createDataFrame(
        [
            (1, 2, 0.95),
            (1, 3, 0.7999996),
            (4, 5, 0.45),
            (6, 7, 0.10),
        ],
        "id_a long, id_b long, jaccard double",
    )
    rows = {
        r["threshold_pct"]: (r["n_pairs"], r["n_docs"])
        for r in score_threshold_sweep(pairs).collect()
    }
    assert set(rows) == {10, 20, 30, 40, 50, 60, 70, 80, 90}
    assert rows[10] == (4, 7)  # doc 1 in two pairs, counted once
    assert rows[20] == (3, 5)
    assert rows[50] == (2, 3)  # docs 1,2,3 — doc 1 counted once
    assert rows[80] == (2, 3)  # 0.7999996 rounds up across the cut
    assert rows[90] == (1, 2)


def test_cluster_size_histogram_with_singletons(spark):
    from fireball_data_processing_spark.operators.dedup import (
        cluster_size_histogram,
        connected_components,
    )

    # components: {1,2,3} (chain), {4,5}, {6,7}; corpus of 10 docs
    # leaves 3 singletons
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 7)], "id_a long, id_b long"
    )
    comp = connected_components(pairs)
    total = spark.createDataFrame([(10,)], "n_tot long")
    rows = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"])
        for r in cluster_size_histogram(comp, n_total_docs=total).collect()
    }
    assert rows == {1: (3, 3), 2: (2, 4), 3: (1, 3)}
    assert sum(nd for _, nd in rows.values()) == 10


def test_cluster_size_histogram_no_total_omits_singletons(spark):
    from fireball_data_processing_spark.operators.dedup import (
        cluster_size_histogram,
        connected_components,
    )

    comp = connected_components(
        spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    )
    rows = cluster_size_histogram(comp).collect()
    assert len(rows) == 1
    assert (rows[0]["cluster_size"], rows[0]["n_clusters"]) == (2, 1)


def test_threshold_doc_hits_distinct_per_cut(spark):
    from fireball_data_processing_spark.operators.dedup import (
        threshold_doc_hits,
    )

    pairs = spark.createDataFrame(
        [(1, 2, 0.95), (1, 3, 0.55), (4, 5, 0.25)],
        "id_a long, id_b long, jaccard double",
    )
    got = {}
    for r in threshold_doc_hits(pairs).collect():
        got.setdefault(r["threshold_pct"], set()).add(r["doc_id"])
    assert got[20] == {1, 2, 3, 4, 5}
    assert got[50] == {1, 2, 3}  # doc 1 emitted once despite two pairs
    assert got[90] == {1, 2}
    assert got[30] == {1, 2, 3}  # 0.25 pair out above cut 20
    assert 80 not in got or got[80] == {1, 2}  # 0.95 only


def test_quality_survivors_picks_best_then_lowest_id(spark):
    from fireball_data_processing_spark.operators.dedup import (
        connected_components,
        quality_survivors,
    )

    # cluster {1,2,3}: doc 2 longest; cluster {4,5}: tie -> lowest id 4
    comp = connected_components(
        spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
        )
    )
    scores = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (4, 7), (5, 7)],
        "doc_id long, score long",
    )
    rows = {
        r["cluster_id"]: r for r in quality_survivors(comp, scores).collect()
    }
    assert rows[1]["survivor_id"] == 2
    assert rows[1]["survivor_score"] == 99
    assert rows[1]["cluster_size"] == 3
    assert rows[4]["survivor_id"] == 4  # score tie broken by lowest id
    assert rows[4]["cluster_size"] == 2


def test_quality_survivors_tolerates_missing_scores(spark):
    """Scores need not cover every cluster member (ADVICE r6): an
    unscored vertex ranks LAST (null score) but still counts toward
    cluster_size, and a fully unscored cluster elects its lowest id
    instead of vanishing from the output."""
    from fireball_data_processing_spark.operators.dedup import (
        connected_components,
        quality_survivors,
    )

    # cluster {1,2,3}: only 3 is scored; cluster {4,5}: nobody scored
    comp = connected_components(
        spark.createDataFrame(
            [(1, 2), (2, 3), (4, 5)], "id_a long, id_b long"
        )
    )
    scores = spark.createDataFrame([(3, 5)], "doc_id long, score long")
    rows = {
        r["cluster_id"]: r for r in quality_survivors(comp, scores).collect()
    }
    assert set(rows) == {1, 4}
    assert rows[1]["survivor_id"] == 3  # the one scored copy wins
    assert rows[1]["survivor_score"] == 5
    assert rows[1]["cluster_size"] == 3  # unscored members still counted
    assert rows[4]["survivor_id"] == 4  # all-null scores: lowest id
    assert rows[4]["survivor_score"] is None
    assert rows[4]["cluster_size"] == 2


def test_connected_components_chain_graph(spark, monkeypatch):
    """A pure path graph (worst case: diameter = n) closes within
    O(log n) rounds thanks to pointer jumping; plain propagation would
    need 63. A budget below the jump rounds still raises, and a mixed
    graph gets min-id labels."""
    from fireball_data_processing_spark.operators import dedup as dedup_mod
    from fireball_data_processing_spark.operators.dedup import (
        connected_components,
    )

    n = 64  # path 0-1-2-...-63: diameter 63, log2 = 6
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a bigint, id_b bigint"
    )
    monkeypatch.setattr(dedup_mod, "_MAX_ROUNDS", 10)
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(df).collect()
    }
    assert got == {v: 0 for v in range(n)}

    monkeypatch.setattr(dedup_mod, "_MAX_ROUNDS", 2)
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        connected_components(df).collect()
    monkeypatch.undo()

    # a triangle with a three-edge tail, plus an isolated pair
    mixed = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (8, 9)]
    mdf = spark.createDataFrame(mixed, "id_a bigint, id_b bigint")
    got = {
        r["vertex"]: r["component"]
        for r in connected_components(mdf).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 8: 8, 9: 8}


def test_dedup_datasheet_operators_handle_empty_inputs(spark):
    """Edge hardening for the dedup-datasheet family: an empty pair
    frame must still emit the full zero-filled threshold grid (the
    curve's contract is one row per cutoff), and empty components must
    yield an empty histogram/survivor set — not a crash."""
    from fireball_data_processing_spark.operators.dedup import (
        cluster_size_histogram,
        quality_survivors,
        score_threshold_sweep,
        threshold_doc_hits,
    )

    no_pairs = spark.createDataFrame([], "id_a long, id_b long, jaccard double")
    sweep = score_threshold_sweep(no_pairs).collect()
    assert len(sweep) == 9
    assert all((r["n_pairs"], r["n_docs"]) == (0, 0) for r in sweep)

    assert threshold_doc_hits(no_pairs).count() == 0

    no_comp = spark.createDataFrame([], "vertex long, component long")
    assert cluster_size_histogram(no_comp).count() == 0
    total = spark.createDataFrame([(5,)], "n_tot long")
    only_singletons = cluster_size_histogram(no_comp, n_total_docs=total).collect()
    assert [(r["cluster_size"], r["n_clusters"], r["n_docs"]) for r in only_singletons] == [(1, 5, 5)]

    no_scores = spark.createDataFrame([], "doc_id long, score long")
    assert quality_survivors(no_comp, no_scores).count() == 0


def test_weighted_sample_topn_matches_literal_python(spark):
    """Efraimidis-Spirakis selection parity: the per-bucket top-n by
    u^(1/w) must match a literal-Python replay of the md5 uniform and
    reservoir key; zero/negative/null weights are excluded."""
    import hashlib

    from fireball_data_processing_spark.operators.sampling import (
        weighted_sample_topn,
    )

    rows = [
        ("a", 1, 10), ("a", 2, 200), ("a", 3, 3000), ("a", 4, 50),
        ("a", 5, 0), ("b", 6, 7), ("b", 7, 7), ("b", 8, -3),
        ("c", 9, 1),
    ]
    df = spark.createDataFrame(rows, "src string, id long, w long")
    got = {
        (r["src"], r["id"])
        for r in weighted_sample_topn(
            df, F.col("src"), F.col("w"), n=2, key=F.col("id"), salt="s"
        ).collect()
    }

    def u(i):
        return int(hashlib.md5(f"s{i}".encode()).hexdigest()[:8], 16) / 2**32

    want = set()
    for src in ("a", "b", "c"):
        keyed = [
            (round(u(i) ** (1.0 / w), 12), -i, src, i)
            for s2, i, w in rows
            if s2 == src and w > 0
        ]
        for _, _, s2, i in sorted(keyed, reverse=True)[:2]:
            want.add((s2, i))
    assert got == want


def test_weighted_sample_topn_plan_is_group_limit(spark):
    from fireball_data_processing_spark.operators.sampling import (
        weighted_sample_topn,
    )

    df = spark.createDataFrame(
        [("a", i, i + 1) for i in range(50)], "src string, id long, w long"
    )
    plan = weighted_sample_topn(
        df, F.col("src"), F.col("w"), n=3, key=F.col("id")
    )._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "WindowGroupLimit" in plan, plan


def test_doremi_weights_match_literal_python(spark):
    """One-step multiplicative-weights update parity: softmax of
    eta * avg clipped excess, smoothed 10% toward uniform, sums to 1."""
    import math

    import pytest

    from fireball_data_processing_spark.operators.selection import (
        doremi_mixture_weights,
    )

    rows = [("web", 0.5), ("web", 0.7), ("code", 2.0), ("forum", 0.0)]
    df = spark.createDataFrame(rows, "domain string, ex double")
    got = {
        r["domain"]: (r["n_docs"], r["avg_excess"], r["weight"])
        for r in doremi_mixture_weights(
            df, "domain", "ex", eta=1.0, smoothing=0.1
        ).collect()
    }
    avg = {"web": 0.6, "code": 2.0, "forum": 0.0}
    z = sum(math.exp(v) for v in avg.values())
    for dom, (n, a, w) in got.items():
        assert a == pytest.approx(avg[dom], abs=1e-6)
        assert w == pytest.approx(
            0.9 * math.exp(avg[dom]) / z + 0.1 / 3, abs=1e-6
        )
    assert got["web"][0] == 2
    assert sum(w for _, _, w in got.values()) == pytest.approx(1.0, abs=1e-5)


def test_flesch_features_known_texts(spark):
    """Readability score sanity: a terse simple sentence scores high, a
    long polysyllabic one scores low, empty text yields null (no words
    to rate) and a sentence floor of 1 keeps fragments finite."""
    from fireball_data_processing_spark.functions.textstats import (
        flesch_features,
    )

    df = spark.createDataFrame(
        [
            (1, "The cat sat."),
            (2, "Extraordinarily sophisticated epistemological "
                "considerations necessitate interminable deliberation"),
            (3, ""),
            (4, "no terminal punctuation here"),
        ],
        "id long, text string",
    )
    feats = flesch_features(F.col("text"))
    rows = {
        r["id"]: r
        for r in df.select(
            "id", *[v.alias(k) for k, v in feats.items()]
        ).collect()
    }
    assert rows[1]["n_words"] == 3 and rows[1]["n_sentences"] == 1
    assert rows[1]["reading_ease"] > 90
    assert rows[2]["reading_ease"] < 0  # dense polysyllabic fragment
    assert rows[3]["reading_ease"] is None and rows[3]["n_words"] == 0
    assert rows[4]["n_sentences"] == 1  # floored, not divide-by-zero


def test_zipf_fit_matches_numpy_polyfit(spark):
    """Closed-form OLS parity: the (exponent, intercept, r2) of the
    head-rank fit must match numpy's least squares on the same
    ln(rank)/ln(count) points, with ranks tie-broken by token."""
    import math

    import numpy as np
    import pytest

    from fireball_data_processing_spark.operators.profile import zipf_fit

    docs = [
        "the the the the the cat cat cat sat sat on a mat",
        "the cat sat on the mat again and again and again",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)],
                               "doc_id long, text string")
    row = zipf_fit(df, max_rank=5).first()

    from collections import Counter

    counts = Counter(" ".join(docs).split())
    head = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    x = np.log(np.arange(1, len(head) + 1, dtype=float))
    y = np.log(np.array([c for _, c in head], dtype=float))
    slope, intercept = np.polyfit(x, y, 1)
    r2 = np.corrcoef(x, y)[0, 1] ** 2
    assert row["n_terms"] == 5
    assert row["zipf_exponent"] == pytest.approx(-slope, abs=1e-6)
    assert row["intercept"] == pytest.approx(intercept, abs=1e-6)
    assert row["r2"] == pytest.approx(r2, abs=1e-6)


def test_automation_oracle_replays_python_walk(duck):
    """The DuckDB bounded-depth unroll (`_automation_narration_oracle`)
    must equal the recursive Python walk on every fixture tree — the
    parity that makes fb_automation_narration oracle-checkable."""
    got = dict(
        duck.execute(catalog._automation_narration_oracle()).fetchall()
    )
    want = {name: narrate_tree(js) for name, js in FX.AUTOMATION_ROWS}
    assert got == want


class _BrokenProbe:
    """A frame's JVM handle whose plan-stats call raises, as the private
    API would on a Spark build without it; everything else delegates."""

    def __init__(self, jdf):
        self._jdf = jdf

    def __getattr__(self, name):
        return getattr(self._jdf, name)

    def queryExecution(self):
        raise RuntimeError("plan stats unavailable")


def test_estimated_bytes_drives_every_size_gate(spark, monkeypatch):
    """One size probe behind four gates: a real estimate (small or
    corpus-sized) drives each gate; a streaming frame or a probe that
    raises gives ``None``, and every gate then declines — no repartition,
    no pin, no broadcast hint, no single-task fast path."""
    from fireball_data_processing_spark.operators.dedup import (
        _pin_if_large,
        _spread_words,
    )
    from fireball_data_processing_spark.session import estimated_bytes
    from fireball_data_processing_spark.streaming.capstone import (
        _single_split_batch,
        should_broadcast_index,
    )

    broken = spark.range(10)
    monkeypatch.setattr(broken, "_jdf", _BrokenProbe(broken._jdf))
    # name -> (frame, estimate check, spread, pin, broadcast, single split)
    table = {
        "small": (spark.range(10), lambda e: 0 < e < 1 << 20,
                  True, False, True, True),
        "large": (spark.range(1 << 33), lambda e: e >= 1 << 36,  # 8 B/row
                  False, True, False, False),
        "streaming": (spark.readStream.format("rate").load(),
                      lambda e: e is None, False, False, False, False),
        "broken": (broken, lambda e: e is None, False, False, False, False),
    }
    for name, (df, est_ok, spread, pin, bcast, single) in table.items():
        assert est_ok(estimated_bytes(df)), name
        assert (_spread_words(df, "id") is not df) is spread, name
        pinned = _pin_if_large(df)
        try:
            assert pinned.is_cached is pin, name
        finally:
            pinned.unpersist()
        assert should_broadcast_index(df) is bcast, name
        assert _single_split_batch(df) is single, name


def test_lsh_candidate_pairs_local_plan_unpinned(spark):
    """At test scale the band self-join's plan must contain no
    InMemoryRelation: the gate keeps the small-scale plan identical to
    the historical unpinned form (concurrent subtree execution)."""
    from fireball_data_processing_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signature,
    )

    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3)
         for i in range(4)],
        "doc_id long, text string",
    )
    sigs = minhash_signature(df, num_hashes=8, shingle_k=3)
    pairs = lsh_candidate_pairs(sigs, num_hashes=8, band_size=2)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in plan
