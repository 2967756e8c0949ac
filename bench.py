"""Headline benchmark: runs the engine's representative queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {...}, "sf": <sf>}

Each query is forced end-to-end with a noop sink (full computation, no
driver collect). The set covers every engine subsystem: the one-pass
heuristics suite, sessionization/as-of/nearest joins, star joins, window
analytics, near-dedup (MinHash+LSH+Jaccard), SimHash, similarity search,
text analysis, and BM25 lexical retrieval.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = (
    "heuristics_matrix",
    "asof_state_backward",
    "nearest_purchase",
    "run_lengths",
    "triples_summary",
    "pricing_summary",
    "revenue_by_nation",
    "znorm_user_values",
    "exact_dedup_groups",
    "doc_quality",
    "minhash_signatures",
    "near_dup_pairs",
    "simhash_fingerprints",
    "ann_cosine_topk",
    "bm25_search",
    "cross_doc_line_dedup",
    "kmeans_cluster_profile",
    "pq_adc_topk_neighbors",
    # lead window -> transition matrix -> 12-step stationary power
    # iteration
    "markov_stationary_profile",
    # both end-to-end streaming capstones — exact gate and LSH-band
    # near-dup gate. Each stages slice files, runs a REAL Structured
    # Streaming job (4 micro-batch epochs + checkpoint + exactly-once
    # sink) and merges the final table, so their time includes the
    # stream machinery by design; "value_19q" in the payload is the
    # sub-total over the names before them.
    "streaming_ingest_pipeline",
    "streaming_ingest_near_pipeline",
)

# The headline prefix without the two stream capstones, whose per-run
# cost is dominated by stream machinery, not data.
N_LEGACY_HEADLINE = 19

# Timed the same way but reported under "extra_queries" and NOT counted
# in the headline total, so the headline total stays comparable while
# the other subsystems still get numbers on record.
EXTRA = (
    # two-phase global rank re-plan
    "heuristics_long_sorted",
    "semantic_dedup_survivors",
    "span_scrubbed_docs",
    "hybrid_search_rrf",
    "incremental_refresh_counts",
    "domain_capped_sample",
    "corpus_pipeline_v2_summary",
    "set_similarity_pairs",
    "doc_bigram_logprob",
    "segment_scrub_gate",
    "corpus_pipeline_v3_summary",
    "winnow_fingerprint_index",
    "winnow_copy_pairs",
    "benchmark_containment_scores",
    "benchmark_contamination_spans",
    "self_bleu_pairs",
    "mmr_diverse_topk",
    "corpus_diversity_probe",
    "gopher_quality_gate",
    "token_budget_fill",
    "leakage_safe_split",
    "kmeans_cluster_profile",
    "corpus_overlap_matrix",
    "lm_perplexity_gate",
    "vocab_growth_curve",
    "cdc_chunk_dedup",
    "semantic_dedup_kmeans",
    "cluster_balanced_sample",
    "corpus_pipeline_v4_summary",
    "embedding_rp_sketch",
    "rp_ann_rerank_topk",
    "rp_ivf_topk_neighbors",
    "frozen_lm_quality_gate",
    "hard_negative_mining",
    "semantic_curation_summary",
    "tokenizer_fertility_stats",
    "dedup_threshold_sweep",
    "dup_cluster_size_histogram",
    "dedup_token_mass_sweep",
    "dedup_quality_survivors",
    "pq_adc_topk_neighbors",
    "ivfpq_topk_neighbors",
    "weighted_source_sample",
    "doremi_domain_weights",
    "readability_gate",
    "curriculum_stages",
    "zipf_fit_profile",
    "edit_distance_near_dups",
    "dataset_card_summary",
    "lsh_tuning_curve",
    "domain_budget_fill",
    "agreement_krippendorff",
    "agreement_kendall_tau",
    "histogram_quantile_sketch",
    "quality_score_propagation",
    "kcenter_coreset",
    "dawid_skene_labels",
    "logistic_quality_calibration",
    "conformal_quality_threshold",
    "mad_outlier_profile",
    "funnel_conversion_steps",
    "weekly_cohort_retention",
    "bootstrap_mean_ci",
    "dup_graph_triangle_census",
    "event_audience_overlap",
    "ab_test_delta_ci",
    "quality_ranking_rbo",
    "reliability_diagram_ece",
    "lang_jsd_matrix",
    "vocab_richness_estimate",
    "offpolicy_value_snips",
    "neyman_stratified_sample",
    "annotator_disagreement_topk",
    "sprt_conversion_decision",
    "decayed_event_value",
    "embedding_pca_top_component",
    "kn_bigram_doc_scores",
    "dedup_mix_bias",
    "offpolicy_value_dr",
    "mannwhitney_value_shift",
    "source_lang_association",
    "token_mass_lorenz",
    "embedding_pca_label_separation",
    "capture_recapture_estimate",
    "trimmed_value_stats",
    "km_conversion_curve",
    "jackknife_quality_se",
    "markov_removal_attribution",
    "segment_shift_fdr",
    "raked_mix_weights",
    "token_diversity_profile",
    "cusum_daily_conversion",
    "ewma_daily_conversion",
    "theil_sen_daily_trend",
    "isotonic_quality_calibration",
    "benford_value_audit",
    "logrank_conversion_test",
    "quantile_normalized_lengths",
    "markov_entropy_rate",
    "extreme_value_return_levels",
    "shapley_channel_attribution",
    "kruskal_value_by_type",
    "spearman_doc_metrics",
    "mcnemar_gate_disagreement",
    "cochran_gate_family",
    "acf_daily_events",
    # the Bradley-Terry preference ranking (one comparison-matrix
    # aggregate + the driver-side MM fit)
    "bt_event_type_ranking",
    # the oracle-replayed BPE merge table (distributed word count +
    # driver-side greedy trainer; the per-corpus merge cache is cleared
    # before every timed run — see PRE_RUN — so each sample pays the full
    # word_frequencies + train_bpe cost, not a cache hit)
    "bpe_merge_table",
    # the tokenizer vocabulary-coverage histogram
    # (merge application over the DISTINCT-word table — vocabulary-sized,
    # shares the cleared-per-run merge cache) and the per-band collision
    # diagnostic of the streaming near-dup gate (single-pass LEFT-join
    # plan over the band table)
    "bpe_token_histogram",
    "lsh_band_hit_rates",
    # the privacy pillar's two release gates — the
    # k-anonymity/l-diversity audit (one QI-grain aggregate) and the
    # seeded-Laplace DP count release (cell-grain count + a pure
    # expression noise chain)
    "k_anonymity_audit",
    "dp_event_count_release",
    # ... and the declarative data-quality expectation suite (seven
    # one-row scan+agg checks unioned; the FK checks are AQE-sized joins)
    "data_quality_expectations",
)

# Per-query pre-run hooks: reset process-wide memoization so min-of-N
# timing measures the real work every run, not a first-run artifact.
PRE_RUN = {
    "bpe_merge_table": lambda catalog: catalog._BPE_MERGES_CACHE.clear(),
    "bpe_token_stats": lambda catalog: catalog._BPE_MERGES_CACHE.clear(),
    "bpe_token_histogram": lambda catalog: catalog._BPE_MERGES_CACHE.clear(),
}


def main() -> None:
    global LOAD_START
    LOAD_START = round(os.getloadavg()[0], 1)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from fireball_data_processing_spark import queries as catalog
    from fireball_data_processing_spark.session import get_spark

    spark = get_spark(app_name="fireball-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm every headline and extra plan at the smallest SF first, so the
    # timed runs do not pay class loading and code generation. This rests
    # on get_spark's codegen cache, which holds the whole warm set (2,523
    # classes): the first timed sample of the headline suite then compiled
    # 7 classes, in the two queries whose plans differ at sf0.1, and the
    # second none. Under Spark's default 100 entries every sample
    # compiled all of its ~440 classes again.
    warm_dir = "/root/testdata/sf0.001"
    for name in HEADLINE + EXTRA:
        catalog.REGISTRY[name].fn(spark, warm_dir).write.format("noop").mode(
            "overwrite"
        ).save()

    # timed runs per query, keep the min: measures steady-state plan
    # cost, not scheduler jitter on a shared box. Sub-second queries get
    # 5 runs instead of 3 (shared-box load once produced a 3x outlier as
    # the min-of-3), and every run is reported in "runs" so a reader can
    # judge variance without re-running.
    times: dict[str, float] = {}
    runs: dict[str, list[float]] = {}

    # EXTRA has grown past 100 queries; a full min-of-3/5 pass over all
    # of them can outrun a driver-side timeout and lose the WHOLE
    # artifact. Budget guard: the headline suite always gets full rigor;
    # once the wall-clock budget is spent, remaining EXTRA queries get
    # ONE run each (still a number on record, flagged in
    # "single_run_extras" so a reader knows which mins are 1-sample).
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "1500"))
    bench_start = time.perf_counter()
    single_run_extras: list[str] = []

    def timed(name: str, min_runs: int = 3) -> float:
        fn = catalog.REGISTRY[name].fn
        pre = PRE_RUN.get(name)
        samples: list[float] = []
        max_runs = 5 if min_runs >= 3 else min_runs
        while len(samples) < min_runs or (
            min(samples) < 1.0 and len(samples) < max_runs
        ):
            if pre is not None:
                pre(catalog)
            # Several operators pin multi-consumer subtrees with
            # .persist(); Spark's
            # CacheManager serves an IDENTICAL fresh plan in the next
            # sample from that cache, so without this clear the min-of-N
            # would partly time warm-cache reruns instead of real work.
            # Every sample now computes from the parquet inputs.
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        runs[name] = samples
        return min(samples)

    for name in HEADLINE:
        times[name] = timed(name)
    # loadavg right after the headline loop: the headline total is the
    # comparison number, so ITS window's load matters separately from the
    # ~20-minute extras pass that follows; a payload without load
    # evidence cannot tell a loaded host from a regression.
    load_headline_end = round(os.getloadavg()[0], 1)
    extra_times = {}
    for name in EXTRA:
        over = time.perf_counter() - bench_start > budget_s
        if over:
            single_run_extras.append(name)
        extra_times[name] = timed(name, min_runs=1 if over else 3)

    total = round(sum(times.values()), 3)
    # sub-total without the two stream capstones (see N_LEGACY_HEADLINE)
    total_19q = round(
        sum(times[n] for n in HEADLINE[:N_LEGACY_HEADLINE]), 3
    )
    # Environment annotation: a shared box under load (e.g. the test
    # suite running concurrently) inflates wall-clock ~2x; recording the
    # 1-min load average at start/end makes any such run self-describing
    # instead of looking like a code regression.
    load_end = round(os.getloadavg()[0], 1)
    payload = {
        "metric": "headline_suite_seconds",
        "value": total,
        "value_19q": total_19q,
        "unit": "sec",
        "queries": times,
        "extra_queries": extra_times,
        "single_run_extras": single_run_extras,
        "runs": runs,
        "sf": sf,
        "env": {
            "cpus_visible": os.cpu_count(),
            "cpus": spark.sparkContext.defaultParallelism,
            "loadavg1_start": LOAD_START,
            "loadavg1_headline_end": load_headline_end,
            "loadavg1_end": load_end,
        },
    }
    # A consumer that captures only the TAIL of stdout loses the head of
    # an over-long JSON line (60+ per-query runs arrays) and cannot parse
    # it. So the full payload goes to a committed repo file
    # and stdout gets a COMPACT line — headline total + per-query mins
    # only (~700 bytes) — that always fits the capture window.
    # $SPARK_GRAFT_ROUND (e.g. "r06") names the artifact; default
    # "latest" keeps ad-hoc runs from colliding with committed rounds.
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "benchmarks")
    os.makedirs(bench_dir, exist_ok=True)
    tag = os.environ.get("SPARK_GRAFT_ROUND", "latest")
    with open(os.path.join(bench_dir, f"BENCH_{tag}_full.json"), "w") as f:
        json.dump(payload, f, indent=1)
        f.write("\n")
    # Self-describing compact payload: a load-contaminated capture must be
    # visible in the one line itself, so it carries (a) the env block —
    # loadavg at start, at headline-loop end, and at bench end, plus the
    # core count — and (b) EVERY headline sample, not just the min (high
    # load shows as samples spread 2x). Headline-only samples keep the
    # line inside a stdout-tail capture window.
    compact = {
        "metric": "headline_suite_seconds",
        "value": total,
        "value_19q": total_19q,
        "unit": "sec",
        "queries": times,
        "samples": {n: runs[n] for n in HEADLINE},
        "env": payload["env"],
        "sf": sf,
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
