"""Plan-quality regression tests: the physical plans the engine promises
(SURVEY.md section 4 / README scale notes) stay true as code evolves.

These assert on .explain output — pushdown reaching the scan, dims being
broadcast, sessionization costing exactly one exchange, bucketed joins
costing zero.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from fireball_data_processing_spark import queries as catalog
from fireball_data_processing_spark.sources.tables import load_table

SMOKE = "/root/testdata/sf0.001"


def _explain_str(df) -> str:
    # pre-execution physical plan (no AQE re-plan), enough for shape checks
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("extended")
    return buf.getvalue()


def _count_shuffles(df) -> int:
    s = _explain_str(df)
    # hash/range repartitions; broadcast exchanges excluded on purpose
    return len(re.findall(r"Exchange (hash|range)partitioning", s))


def test_filter_pushdown_reaches_scan(spark):
    df = catalog.REGISTRY["instance_event_stream"].fn(spark, SMOKE)
    s = _explain_str(df)
    assert "PushedFilters" in s and "EqualTo(user_id,7)" in s


def test_column_pruning_on_scan(spark):
    df = catalog.REGISTRY["doc_fingerprints"].fn(spark, SMOKE)
    s = _explain_str(df)
    m = re.search(r"ReadSchema: struct<([^>]*)>", s)
    assert m, s
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"doc_id", "text"}  # n_chars/lang/source pruned away


def test_star_join_broadcasts_dims(spark):
    df = catalog.REGISTRY["revenue_by_nation"].fn(spark, SMOKE)
    s = _explain_str(df)
    assert s.count("BroadcastHashJoin") >= 4  # orders? + customer/supplier/nation/region


def test_heuristics_matrix_single_exchange(spark):
    ev = load_table(spark, SMOKE, "events")
    from fireball_data_processing_spark.plans.heuristics import (
        HEURISTICS,
        heuristics_matrix,
    )
    from fireball_data_processing_spark.schema import SYNTHETIC_STREAM

    m = heuristics_matrix(ev, SYNTHETIC_STREAM, HEURISTICS)
    # window pass + groupBy share one hash exchange on the instance key
    assert _count_shuffles(m) == 1, _explain_str(m)


def test_asof_single_exchange(spark):
    df = catalog.REGISTRY["asof_state_backward"].fn(spark, SMOKE)
    assert _count_shuffles(df) == 1


def test_triples_summary_single_scan_two_shuffles(spark):
    # the fused distill1 plan: one events scan, one hash exchange for the
    # two window passes (the groupBy reuses the user_id clustering), and
    # nothing else
    df = catalog.REGISTRY["triples_summary"].fn(spark, SMOKE)
    s = _explain_str(df)
    # explain("extended") prints the physical plan once at the end; count
    # scans there via the physical node name
    phys = s[s.rindex("== Physical Plan =="):]
    assert phys.count("Scan parquet") == 1, phys
    assert _count_shuffles(df) <= 2, s


def test_nearest_join_single_exchange(spark):
    # union + two opposite-tie window passes over ONE hash exchange
    df = catalog.REGISTRY["nearest_purchase"].fn(spark, SMOKE)
    assert _count_shuffles(df) == 1, _explain_str(df)


def test_correlation_groups_single_scan_single_exchange(spark):
    # G1 as a window max over (instance, key): no anchor-table semi join,
    # no second scan
    df = catalog.REGISTRY["correlation_groups"].fn(spark, SMOKE)
    s = _explain_str(df)
    phys = s[s.rindex("== Physical Plan =="):]
    assert phys.count("Scan parquet") == 1, phys
    assert _count_shuffles(df) == 1, s


def test_doc_repetition_zero_shuffles(spark):
    # per-row array math: the whole query is scan + project
    df = catalog.REGISTRY["doc_repetition"].fn(spark, SMOKE)
    assert _count_shuffles(df) == 0, _explain_str(df)
    s = _explain_str(df)
    assert "Join" not in s and "Generate" not in s


def test_doc_chunks_zero_shuffles(spark):
    # slicing + one explode, no exchange
    df = catalog.REGISTRY["doc_chunks"].fn(spark, SMOKE)
    assert _count_shuffles(df) == 0, _explain_str(df)


def test_benchmark_contamination_broadcasts_benchmark(spark):
    # the benchmark side broadcasts; no sort-merge join anywhere
    df = catalog.REGISTRY["benchmark_contamination"].fn(spark, SMOKE)
    s = _explain_str(df)
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_mixture_sample_predicate_pushdown(spark):
    # the rate filter is a scalar predicate over md5 + a literal map: it
    # must not force a shuffle before filtering
    from fireball_data_processing_spark.operators.sampling import mixture_sample
    from pyspark.sql import functions as F

    ev = load_table(spark, SMOKE, "events")
    kept = mixture_sample(
        ev, F.col("event_type"), {"view": 0.5}, F.col("event_id"), salt="x"
    )
    assert _count_shuffles(kept) == 0, _explain_str(kept)


def test_doc_clean_flags_zero_shuffles(spark):
    # segment filter + flags are per-row array/substring math
    df = catalog.REGISTRY["doc_clean_flags"].fn(spark, SMOKE)
    assert _count_shuffles(df) == 0, _explain_str(df)


def test_embedding_quantization_zero_shuffles(spark):
    # per-vector transform/aggregate folds: scan + project only
    df = catalog.REGISTRY["embedding_quantization"].fn(spark, SMOKE)
    s = _explain_str(df)
    assert _count_shuffles(df) == 0, s
    assert "Join" not in s


def test_duplicate_spans_single_scan_bounded_shuffles(spark):
    # one corpus scan; gram-key window + doc-key window/groupBy = ≤3
    # exchanges; no join (window count-distinct instead of groupBy+join-back)
    df = catalog.REGISTRY["duplicate_substring_spans"].fn(spark, SMOKE)
    s = _explain_str(df)
    phys = s[s.index("== Physical Plan ==") :]
    assert len(re.findall(r"Scan parquet|FileScan", phys)) == 1, phys
    assert _count_shuffles(df) <= 3, phys
    assert "Join" not in phys


def test_bloom_filtered_join_probe_at_scan(spark):
    # the bloom probe must sit in a Filter directly over the lineitem
    # scan (pure expression, no probe-side join/exchange); one shuffle
    # total (the final groupBy)
    df = catalog.REGISTRY["bloom_filtered_join"].fn(spark, SMOKE)
    s = _explain_str(df)
    phys = s[s.index("== Physical Plan ==") :]
    assert _count_shuffles(df) <= 1, phys
    # probe markers: the literal bitmap forall compiles to element_at over
    # the md5-derived positions
    assert "element_at" in s and "md5" in s


def test_interval_join_uses_equality_key(spark):
    # the time-range predicate must ride the user_id hash join — a
    # nested-loop (pure theta) join would be quadratic per instance
    df = catalog.REGISTRY["purchase_view_interval_join"].fn(spark, SMOKE)
    s = _explain_str(df)
    phys = s[s.index("== Physical Plan ==") :]
    assert "NestedLoop" not in phys, phys
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", phys)


def test_doc_packing_single_shuffle(spark):
    # the packing layout is a prefix-sum window on the shard key plus
    # per-row bin math: exactly one exchange, no join
    df = catalog.REGISTRY["doc_packing"].fn(spark, SMOKE)
    s = _explain_str(df)
    phys = s[s.index("== Physical Plan ==") :]
    assert _count_shuffles(df) == 1, phys
    assert "Join" not in phys


def test_corpus_pipeline_packed_single_scan(spark):
    # the training manifest path: one corpus scan, dedup-hash window +
    # packing window = two exchanges, no join anywhere
    from fireball_data_processing_spark.plans.corpus_pipeline import (
        build_training_corpus,
    )

    d = load_table(spark, SMOKE, "documents")
    packed = build_training_corpus(d)["packed"]
    s = _explain_str(packed)
    phys = s[s.index("== Physical Plan ==") :]
    assert len(re.findall(r"Scan parquet|FileScan", phys)) == 1, phys
    assert _count_shuffles(packed) <= 2, phys
    assert "Join" not in phys


def _phys(df) -> str:
    s = _explain_str(df)
    return s[s.index("== Physical Plan ==") :]


def _corpus_explodes(phys: str) -> int:
    # the postings explode over the corpus token array ("toks") — the
    # expensive Generate; the query-side explodes take a tiny local
    # relation and are allowed to appear per consumer
    return len(
        [ln for ln in phys.split("\n") if re.search(r"Generate explode\(toks#", ln)]
    )


def test_bm25_one_postings_subtree_broadcast_queries(spark):
    # df-via-count-over-window promise: the corpus is tokenized ONCE (a
    # groupBy+join-back for document frequency would plan the explode
    # subtree twice); query terms and corpus stats enter via broadcast,
    # never a sort-merge join
    phys = _phys(catalog.REGISTRY["bm25_search"].fn(spark, SMOKE))
    assert _corpus_explodes(phys) == 1, phys
    assert phys.count("SortMergeJoin") == 0, phys
    # postings pass + projection-only stats pass; a third scan means a
    # duplicated corpus subtree
    assert len(re.findall(r"Scan parquet[^\n]*documents", phys)) <= 2, phys
    assert len(re.findall(r"Exchange (?:hash|range)partitioning", phys)) <= 5, phys


def test_tf_idf_one_postings_subtree(spark):
    phys = _phys(catalog.REGISTRY["tf_idf_top_terms"].fn(spark, SMOKE))
    assert _corpus_explodes(phys) == 1, phys
    assert phys.count("SortMergeJoin") == 0, phys
    assert len(re.findall(r"Scan parquet[^\n]*documents", phys)) <= 2, phys
    assert len(re.findall(r"Exchange (?:hash|range)partitioning", phys)) <= 3, phys


def test_hybrid_rrf_single_corpus_tokenize(spark):
    # fusing the lexical and semantic legs must not re-tokenize the
    # corpus or introduce an SMJ around the tiny top-k frames
    phys = _phys(catalog.REGISTRY["hybrid_search_rrf"].fn(spark, SMOKE))
    assert _corpus_explodes(phys) == 1, phys
    assert phys.count("SortMergeJoin") == 0, phys
    assert len(re.findall(r"Exchange (?:hash|range)partitioning", phys)) <= 6, phys


def test_bm25_indexed_broadcasts_df_and_prunes_partitions(spark):
    # the amortized path: df table broadcast (query-vocabulary-sized
    # after the semi-join — an SMJ would shuffle the postings stream),
    # and the postings/df scans carry term_bucket partition filters
    phys = _phys(catalog.REGISTRY["bm25_search_indexed"].fn(spark, SMOKE))
    assert phys.count("SortMergeJoin") == 0, phys
    assert "PartitionFilters: [" in phys, phys
    assert len(re.findall(r"Exchange (?:hash|range)partitioning", phys)) <= 5, phys


def test_corpus_shard_layout_single_exchange(spark):
    # shard layout = column math + one groupBy exchange, no global sort
    df = catalog.REGISTRY["corpus_shard_layout"].fn(spark, SMOKE)
    s = _explain_str(df)
    assert _count_shuffles(df) == 1, s
    assert "Exchange rangepartitioning" not in s  # no total sort anywhere


def test_snapshot_diff_fingerprints_before_join(spark):
    # the join carries (key, fp) only: the diff plan must not ship text
    df = catalog.REGISTRY["snapshot_diff_counts"].fn(spark, SMOKE)
    s = _explain_str(df)
    m = re.findall(r"ReadSchema: struct<([^>]*)>", s)
    assert m
    for schema in m:
        cols = {c.split(":")[0] for c in schema.split(",")}
        # text/lang/source are consumed by the scan-local md5 projection;
        # the join itself only moves doc_id + fp, so every scan reads the
        # fingerprint inputs and nothing else survives to the exchange
        assert cols <= {"doc_id", "text", "lang", "source"}
    # one full-outer sort-merge join on the key, no broadcast of a corpus
    assert s.count("SortMergeJoin") >= 1, s


def test_span_scrub_reuses_span_pipeline_exchanges(spark):
    # removal adds ONE extra join on the doc key over the span pipeline's
    # own exchanges; nothing re-tokenizes the corpus
    spans_df = catalog.REGISTRY["duplicate_substring_spans"].fn(spark, SMOKE)
    scrub_df = catalog.REGISTRY["span_scrubbed_docs"].fn(spark, SMOKE)
    assert _count_shuffles(scrub_df) <= _count_shuffles(spans_df) + 2, (
        _explain_str(scrub_df)
    )


def test_incremental_refresh_diff_cached_once(spark):
    # the persisted diff must appear as InMemoryRelation consumers, not as
    # two full re-executions of the outer-join subtree
    df = catalog.REGISTRY["incremental_refresh_counts"].fn(spark, SMOKE)
    s = _explain_str(df)
    phys = s.split("== Physical Plan ==")[1]
    # both diff consumers read the cache...
    assert phys.count("InMemoryTableScan") == 2, phys
    # ...and every FullOuter occurrence is the cached plan's own print
    # (one per InMemoryTableScan), i.e. the outer-join subtree is never
    # re-planned outside the cache
    assert phys.count("FullOuter") == phys.count("InMemoryTableScan"), phys


def test_line_dedup_no_joins_bounded_exchanges(spark):
    # duplicate-ness is decided by windows over the segment hash — a
    # groupBy+join-back formulation would re-plan the segment explode
    # twice and add a join; the whole query is scan -> explode ->
    # windows -> rollup
    phys = _phys(catalog.REGISTRY["cross_doc_line_dedup"].fn(spark, SMOKE))
    assert "Join" not in phys, phys
    assert len(re.findall(r"Scan parquet[^\n]*documents", phys)) == 1, phys
    assert len(re.findall(r"Exchange (?:hash|range)partitioning", phys)) <= 3, phys


def test_bigram_logprob_windows_not_joinback(spark):
    # both count tables are windows over ONE bigram explode; the vocab
    # scalar enters via broadcast (never an SMJ / extra shuffle of the
    # occurrence rows)
    phys = _phys(catalog.REGISTRY["doc_bigram_logprob"].fn(spark, SMOKE))
    assert phys.count("SortMergeJoin") == 0, phys
    assert "BroadcastNestedLoopJoin" in phys, phys
    assert len(re.findall(r"Scan parquet[^\n]*documents", phys)) <= 2, phys
    assert len(re.findall(r"Exchange (?:hash|range)partitioning", phys)) <= 5, phys


def test_prefix_candidate_plan_no_cartesian(spark):
    # the candidate generator must stay an equi-join on the shingle —
    # never a cartesian / nested-loop pairing of documents
    from fireball_data_processing_spark.operators.setjoin import (
        prefix_candidates,
        shingle_sets,
    )

    d = load_table(spark, SMOKE, "documents")
    phys = _phys(prefix_candidates(shingle_sets(d, 3), 0.5))
    assert "CartesianProduct" not in phys, phys
    assert "BroadcastNestedLoopJoin" not in phys, phys
    assert "BatchEvalPython" not in phys and "ArrowEvalPython" not in phys, phys


def test_self_bleu_single_occurrence_pass(spark):
    # both sides' n-grams of every order ride ONE explode over ONE scan
    # of the pair join (2 documents scans = the join's two legs, nothing
    # re-planned per side/order), and the tiny pair frames never SMJ
    phys = _phys(catalog.REGISTRY["self_bleu_pairs"].fn(spark, SMOKE))
    assert len(re.findall(r"Scan parquet[^\n]*documents", phys)) <= 2, phys
    assert phys.count("SortMergeJoin") == 0, phys
    assert phys.count("Generate explode") == 1, phys


def test_round4_text_operators_prune_scan_columns(spark):
    # the documents table carries 5 columns; text operators must push a
    # (doc_id, text) projection into the parquet scan — a scan reading
    # lang/source/n_chars for a text-only operator is wasted IO at 100 TB
    import contextlib
    import io

    for name in (
        "cross_doc_line_dedup",
        "winnow_fingerprint_index",
        "doc_bigram_logprob",
        "segment_scrub_gate",
    ):
        df = catalog.REGISTRY[name].fn(spark, SMOKE)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        schemas = re.findall(r"ReadSchema: (\S+)", buf.getvalue())
        assert schemas, name
        for s in schemas:
            assert "lang" not in s and "n_chars" not in s and "source" not in s, (
                name,
                s,
            )


def test_budget_fill_no_global_corpus_window(spark):
    # the scale guarantee of the two-phase prefix sum: the per-row
    # cumulative window must be PARTITIONED (by the score bucket) — a
    # Window whose spec has an empty partition clause over the corpus
    # frame would collapse to a single partition at scale. The only
    # single-partition exchange allowed in the plan is the n_buckets-row
    # bucket-offset frame (which is then broadcast back).
    phys = _phys(catalog.REGISTRY["token_budget_fill"].fn(spark, SMOKE))
    # corpus-side cumulative window (sum of n_tokens) is bucket-partitioned:
    # "Window [exprs], [partition], [order]" — three bracket groups with
    # __bkt as the partition clause
    assert re.search(
        r"Window \[sum\(n_tokens[^\n]*\], \[__bkt#\d+\], \[quality", phys
    ), phys
    # the offsets ride a broadcast join, not a corpus-wide merge
    assert "BroadcastHashJoin" in phys, phys
    assert "CartesianProduct" not in phys, phys
    assert "BatchEvalPython" not in phys and "ArrowEvalPython" not in phys, phys


def test_leakage_split_plan_bounded(spark):
    # split + rollup over the components output: no cartesian pairing,
    # no Python nodes; the only corpus contact is the LSH band self-join
    phys = _phys(catalog.REGISTRY["leakage_safe_split"].fn(spark, SMOKE))
    assert "CartesianProduct" not in phys, phys
    assert "BroadcastNestedLoopJoin" not in phys, phys
    assert "BatchEvalPython" not in phys and "ArrowEvalPython" not in phys, phys


def test_kruskal_checkpoint_truncates_source_scans(spark):
    # the round-9 re-plan: the (value, group)-grain counts are
    # localCheckpointed, so the downstream H computation must never
    # re-plan the parquet scan under its three consumers (the rank
    # window, the tie-mass aggregate, the per-group rank-sum join) —
    # left lazy, 3 source scans were observed
    phys = _phys(catalog.REGISTRY["kruskal_value_by_type"].fn(spark, SMOKE))
    assert "Scan parquet" not in phys, phys
    assert "ExistingRDD" in phys, phys  # the checkpointed counts frame
    assert "SortMergeJoin" not in phys, phys  # rank join-back broadcasts
    assert "BroadcastHashJoin" in phys, phys


def test_spearman_pivot_single_rank_subtree(spark):
    # the round-9 re-plan: the rejected ranked-frame self-join planned
    # the melt + rank-window subtree ONCE PER SIDE (4 scans, metrics^2
    # fan-out); the pivot-wide form's only duplication is the projected
    # source scan under the long frame's two consumers (the rank table
    # and the join-back) — exactly 2 scans, one rank window, rank
    # join-back broadcast, all pair stats from one combine
    phys = _phys(catalog.REGISTRY["spearman_doc_metrics"].fn(spark, SMOKE))
    assert phys.count("Scan parquet") == 2, phys
    assert phys.count("Window") == 1, phys
    assert "SortMergeJoin" not in phys, phys
    assert "BroadcastHashJoin" in phys, phys
    assert _count_shuffles(
        catalog.REGISTRY["spearman_doc_metrics"].fn(spark, SMOKE)
    ) <= 4


def test_mcnemar_single_scan_zero_shuffles(spark):
    # paired-gate contingency folds into ONE partial-combining aggregate
    # over one projected scan — no shuffle wider than the combine
    df = catalog.REGISTRY["mcnemar_gate_disagreement"].fn(spark, SMOKE)
    phys = _phys(df)
    assert phys.count("Scan parquet") == 1, phys
    assert _count_shuffles(df) == 0, phys


def test_cochran_q_single_scan_zero_shuffles(spark):
    # k-gate generalization keeps the McNemar shape: per-row pass count
    # and its square fold into the same single aggregate as the
    # per-gate sums
    df = catalog.REGISTRY["cochran_gate_family"].fn(spark, SMOKE)
    phys = _phys(df)
    assert phys.count("Scan parquet") == 1, phys
    assert _count_shuffles(df) == 0, phys


def test_acf_day_grain_broadcast_joins(spark):
    # the lag self-join and Ljung-Box cumulation run over the
    # checkpointed DAY-GRAIN series (365-row scale), never the raw
    # events: no parquet re-scan downstream, every join broadcast
    phys = _phys(catalog.REGISTRY["acf_daily_events"].fn(spark, SMOKE))
    assert "Scan parquet" not in phys, phys
    assert "ExistingRDD" in phys, phys
    assert "SortMergeJoin" not in phys, phys
    assert "CartesianProduct" not in phys, phys


def _global_ordered_windows(phys: str) -> int:
    # Window with an empty partition spec: [exprs], [order] (two bracket
    # groups, order group carries ASC/DESC) or [exprs] alone — WindowExec
    # moves the whole input to a single partition for these
    n = 0
    for line in phys.splitlines():
        if re.search(r"\bWindow \[", line):
            groups = re.findall(r"\[[^\[\]]*(?:\[[^\[\]]*\][^\[\]]*)*\]", line)
            if len(groups) == 1 or (
                len(groups) == 2 and re.search(r" (ASC|DESC)\b", groups[-1])
            ):
                n += 1
    return n


def test_heuristics_long_rank_two_phase(spark):
    # the two-phase global rank: the user-grain long frame is ranked
    # inside score buckets (partitioned window) with broadcast prefix
    # offsets — the only single-partition window left is the
    # (n_buckets+1)-row offset cumulation
    phys = _phys(catalog.REGISTRY["heuristics_long_sorted"].fn(spark, SMOKE))
    assert _global_ordered_windows(phys) == 1, phys
    assert re.search(r"Window \[row_number\(\)[^\n]*\], \[__bkt#\d+\],", phys), phys
    assert "BroadcastHashJoin" in phys, phys


def test_two_phase_rank_matches_naive_global_window(spark):
    # randomized + edge shapes: ranks from the bucketed two-phase form
    # must equal the naive single-partition window exactly — ties in
    # score (unique composite key), NULL scores first, all-equal
    # scores collapsing to one bucket, and the empty frame
    import random

    from pyspark.sql.window import Window as W

    from fireball_data_processing_spark.operators.windows import (
        two_phase_global_rank,
    )

    rnd = random.Random(9)
    cases = [
        [(i, f"h{rnd.randint(0, 3)}",
          rnd.choice([None, 0.0, 1.5, 2.5, rnd.random()]))
         for i in range(60)],
        [(i, "h", 7.0) for i in range(10)],  # all-equal scores
        [(i, "h", None) for i in range(5)],  # all-null scores
        [],
    ]
    for rows in cases:
        df = spark.createDataFrame(rows, "id bigint, h string, score double")
        got = {
            (r["id"], r["h"]): r["rank"]
            for r in two_phase_global_rank(
                df, "score", ["h", "id"], n_buckets=4
            ).collect()
        }
        w = W.orderBy(F.col("score").asc_nulls_first(), "h", "id")
        want = {
            (r["id"], r["h"]): r["rank"]
            for r in df.withColumn(
                "rank", F.row_number().over(w).cast("bigint")
            ).collect()
        }
        assert got == want, (len(rows), got, want)


def test_two_phase_rank_null_scores_and_duplicate_keys(spark):
    """Unique composite keys with null scores rank 1..n (null scores are
    bucket -1 input); duplicate full keys are ranked without an extra
    uniqueness pass."""
    from fireball_data_processing_spark.operators.windows import (
        two_phase_global_rank,
    )

    ok = spark.createDataFrame(
        [(1, "a", None), (2, "a", None), (3, "a", 1.0), (4, "b", 1.0)],
        "id bigint, h string, score double",
    )
    ranks = two_phase_global_rank(ok, "score", ["h", "id"], n_buckets=2)
    assert sorted(r["rank"] for r in ranks.collect()) == [1, 2, 3, 4]

    dup = spark.createDataFrame(
        [(1, "a", 1.0), (1, "a", 1.0), (2, "b", None), (2, "b", None)],
        "id bigint, h string, score double",
    )
    assert two_phase_global_rank(dup, "score", ["h", "id"]).count() == 4
