"""Sessionization, join, ordering, sampling, dedup and similarity operators
(SURVEY.md sections 2.3, 2.5, 2.6 + the LLM-pipeline extensions)."""

from fireball_data_processing_spark.operators.asof import (
    asof_backward_col,
    asof_forward_col,
    nearest_join,
)
from fireball_data_processing_spark.operators.runs import with_run_ids
from fireball_data_processing_spark.operators.correlate import with_correlation_groups
from fireball_data_processing_spark.operators.windows import (
    find_first_after,
    history_window,
    paginate,
    two_phase_global_rank,
)
from fireball_data_processing_spark.operators.sampling import (
    deterministic_sample,
    deterministic_split,
)
from fireball_data_processing_spark.operators.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_sig_expr,
    minhash_signature,
    ngram_overlap,
    simhash,
)
from fireball_data_processing_spark.operators.similarity import (
    brute_force_topk,
    build_ivf_index,
    ivf_query,
    rp_ann_topk,
    rp_ivf_topk,
    rp_sketch_components,
)
from fireball_data_processing_spark.operators.packing import (
    pack_sequences,
    token_count_col,
)
from fireball_data_processing_spark.operators.bootstrap import (
    bootstrap_delta_ci,
    bootstrap_mean_ci,
    jackknife_se,
)
from fireball_data_processing_spark.operators.calibration import (
    conformal_threshold,
    logistic_fit_2param,
    reliability_diagram,
)
from fireball_data_processing_spark.operators.hyptest import (
    chi2_association,
    cochran_q,
    kruskal_wallis,
    mann_whitney_u,
    mcnemar_paired,
    spearman_matrix,
)
from fireball_data_processing_spark.operators.markov import (
    markov_profile,
    removal_attribution,
)
from fireball_data_processing_spark.operators.ope import (
    dr_value,
    empirical_propensities,
    snips_value,
)
from fireball_data_processing_spark.operators.pca import (
    pca_fit,
    pca_project_expr,
    power_iteration_pca,
)
from fireball_data_processing_spark.operators.seqtest import sprt_decisions
from fireball_data_processing_spark.operators.survival import km_curve
from fireball_data_processing_spark.operators.sketches import (
    bloom_might_contain,
    bloom_prejoin,
    cms_counters,
    heavy_hitters,
    hll_distinct,
    hll_rollup,
)

__all__ = [
    "bootstrap_delta_ci",
    "bootstrap_mean_ci",
    "chi2_association",
    "cochran_q",
    "kruskal_wallis",
    "mcnemar_paired",
    "spearman_matrix",
    "conformal_threshold",
    "dr_value",
    "empirical_propensities",
    "jackknife_se",
    "km_curve",
    "logistic_fit_2param",
    "mann_whitney_u",
    "markov_profile",
    "pca_fit",
    "pca_project_expr",
    "power_iteration_pca",
    "reliability_diagram",
    "removal_attribution",
    "snips_value",
    "sprt_decisions",
    "exact_dedup_groups",
    "jaccard_pairs",
    "lsh_candidate_pairs",
    "minhash_sig_expr",
    "minhash_signature",
    "ngram_overlap",
    "simhash",
    "brute_force_topk",
    "build_ivf_index",
    "ivf_query",
    "rp_ann_topk",
    "rp_ivf_topk",
    "rp_sketch_components",
    "asof_backward_col",
    "asof_forward_col",
    "nearest_join",
    "with_run_ids",
    "with_correlation_groups",
    "find_first_after",
    "history_window",
    "paginate",
    "two_phase_global_rank",
    "deterministic_sample",
    "deterministic_split",
    "bloom_might_contain",
    "bloom_prejoin",
    "cms_counters",
    "heavy_hitters",
    "hll_distinct",
    "hll_rollup",
    "pack_sequences",
    "token_count_col",
]
