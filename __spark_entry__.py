"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` smoke-runs the flagship query; ``queries()`` /
``oracle_sql()`` expose every registered operator from
redpanda_iceberg_duckdb_spark.registry for the driver's DuckDB-oracle
correctness gate (see SURVEY.md section 2 for the inventory).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from redpanda_iceberg_duckdb_spark.registry import all_queries  # noqa: E402
from redpanda_iceberg_duckdb_spark.session import configure_session  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (reference Q1 per-group analytics) on sf0.001."""
    configure_session(spark)
    q = all_queries()["q1_trade_analytics"]
    return q.fn(spark, "/root/testdata/sf0.001")


# The driver's correctness gate checks the FIRST 50 queries in dict order,
# so ordering is a verification-coverage decision. Since round 8 this list
# is MECHANICALLY DERIVED, not hand-curated: verification_manifest.json
# fingerprints every query (defining-module source + one level of intra-
# package imports + oracle SQL — see verification.py), and the contract
# test (tests/test_driver_contract.py) FAILS unless every query whose
# fingerprint mismatches the manifest sits in this window or the pending
# queue. Regenerate entries with `python tools/regen_manifest.py r{N}`;
# promote window evidence to green evidence at the start of the next round
# with `--promote`.
_VERIFY_FIRST = [
    # HEAD: round-15 new queries from the build session — never
    # driver-verified yet, so they keep their sealed slots through the
    # optimization round's driver run.
    "dedup_stream_tws_replay",
    "pipe_syntax_orders", "collation_lcase_groups",
    "session_window_builtin",
    "welch_ttest_value", "granger_lag1_hourly", "pacf_durbin_levinson",
    "hodges_lehmann_quantity_shift",
    "katz_centrality_4hop", "linear_cka_dim_halves",
    "sinkhorn_plan_labels", "krippendorff_alpha_labels",
    "periodogram_hourly_power",
    "speculative_acceptance_rate", "beam_search_paths",
    "unigram_viterbi_segmentation",
    "stratified_att_purchase", "shortest_path_dag_sigma",
    "fellegi_sunter_weights",
    "wilson_ci_weekend_share", "eb_shrunken_user_rates",
    # Round-15 OPTIMIZATION round: queries whose defining module was
    # rewritten by this round's shuffle/boundary optimizations
    # (similarity, similarity11, dedup, graph10b/d/e, graph14, graph15b
    # — all re-verified against the local DuckDB oracle at sf0.01
    # before commit; OPTIMIZATION_r15.md has the measurements). The
    # remaining fingerprint-flipped importers of those modules queue in
    # _PENDING_NEXT_WINDOW below.
    "cosine_topk_bruteforce", "hyperplane_lsh_near_dups",
    "minhash_lsh_pairs", "minhash_lsh_pairs_dfcap",
    "bfs_hop_distance", "kcore_degree_histogram",
    "label_propagation_sizes", "sssp_cheapest_paths",
    "double_sweep_diameter",
    # Fingerprint-flipped dependents with the heaviest shared-helper
    # exposure (dedup/similarity/graph family heads).
    "dedup_clusters", "dedup_exact_groups", "dedup_exact_survivors",
    "incremental_dedup_new_batch", "simhash_near_dup_pairs",
    "simhash_signatures", "embedding_near_dup_pairs",
    "ann_ivf_recall_at_k", "ann_ivf_topk", "ann_ivf_multiprobe",
    "ann_mrr_at_10", "ann_recall_retrained",
    "kmeans_train_converged", "kmeans_lloyd_step",
    "mutual_nn_pairs", "mutual_nn_retrained",
    "pagerank_converged", "pagerank_trade_graph",
    "hits_hubs_authorities", "link_prediction_jaccard",
    # (The r14 rotation tail — quality_score, retention_cohorts, … and
    # the r05 spare slots — rotates back next round; every evicted entry
    # keeps its existing green driver evidence.)
]

# Queries registered this round AFTER the 50-slot window filled; each passes
# the local oracle replica and is queued to head _VERIFY_FIRST next round.
# The window-contract test (tests/test_driver_contract.py) enforces that
# every tail query is either previously driver-green (with a matching
# manifest fingerprint) or explicitly queued here — nothing can be silently
# unverified.
# r15 optimization round: the fingerprint-flipped importers of the
# optimized helper modules that did not fit the 50-slot window. Every one
# was re-run against its DuckDB oracle at sf0.01 in this round
# (tools/oracle_sim.py --changed; 59/59 exact).
_PENDING_NEXT_WINDOW: list[str] = [
    "ann_recall_mrr_by_nprobe", "bh_fdr_discoveries",
    "bipartite_supplier_projection", "bloom_ngram_decontamination",
    "bpe_encode_stats", "bpe_train_merges", "bpe_train_merges_wordcount",
    "dsir_importance_topk", "edge_triangle_support",
    "rocchio_feedback_topk", "tokenizer_fertility_by_lang",
    # (unigram_viterbi_segmentation also changed this round; it already
    # holds a _VERIFY_FIRST slot from the build session.)
    "cluster_best_survivors", "cluster_quality_silhouette",
    "containment_closure", "containment_pairs",
    "decontamination_overlap", "doc_repetition_score",
    "embedding_dim_stats", "graph_degree_stats", "hard_negative_mining",
    "ivf_pq_recall_at_5", "ivf_pq_trained_recall",
    "jl_projection_distortion", "leakage_safe_splits",
    "lsh_recall_vs_exact", "minhash_estimator_error", "mmr_diverse_topk",
    "ndcg_at_10", "ngram_jaccard_pairs", "personalized_pagerank_seeds",
    "pq_adc_recall_at_5", "pq_code_distortion", "pq_trained_distortion",
    "rouge2_candidate_pairs", "split_leakage_audit",
    "triangle_count_neardup",
    # r15 optimization session 4 (multi-branch checkpoint + shared edge
    # cache + per-cell Arrow dots batch): every one re-run oracle-exact
    # at BOTH sf0.01 and sf0.001 this session (oracle_sim --changed,
    # 14/14 + 14/14). mutual_nn_pairs/mutual_nn_retrained flipped too but
    # already hold slots above / in the window.
    "brown_forsythe_variance", "circular_emd_hours",
    "cochran_armitage_trend", "cox_ph_converged",
    "cramer_von_mises_value", "logrank_signup_conversion",
    "mann_kendall_trend", "mcnemar_purchase_halves",
    "rich_club_coefficient", "spearman_value_hour",
    "theilsen_hourly_trend", "wasserstein_value_by_type_pair",
    # r15 optimization session 4, batch 8 (scan-multiplicity collapse):
    # re-run oracle-exact at BOTH sf0.01 and sf0.001 this session
    # (oracle_sim --changed, 10/10 + 10/10). pacf_durbin_levinson,
    # granger_lag1_hourly, hodges_lehmann_quantity_shift and
    # welch_ttest_value flipped too but already hold slots above / in
    # the window.
    "rolling_origin_cv_folds", "sorted_neighborhood_pairs",
    "sparse_cosine_topk_pairs", "stream_state_expected",
    "token_kl_by_source_pair", "woe_iv_hour_bins",
    # r15 optimization session 5, batch 9 (shared broadcast-query-block
    # helper for the nine exact-reference ANN sites): all 26 flipped
    # queries re-run oracle-exact at BOTH sf0.01 and sf0.001 this
    # session (oracle_sim --changed, 26/26 + 26/26). The rest of the
    # flip set already holds slots above / in the window.
    "cluster_medoids", "matryoshka_recall_curve", "mmd_linear_label_pairs",
    # r16 optimization: apply_delta's internal delta-sized d_pl frame is
    # now eagerly checkpointed (3 branches stopped re-running its scan +
    # shuffle per batch) — the three ivm queries re-run oracle-exact at
    # BOTH sf0.01 and sf0.001 this round (oracle_sim --changed, 4/4 +
    # 4/4; dedup_stream_tws_replay flipped in the same batch and already
    # heads _VERIFY_FIRST).
    "ivm_stream_refresh_replay", "ivm_retraction_replay",
    "ivm_state_expected",
    # r16 scan-audit collapse batch (items 7): the dense-hourly /
    # two-histogram / ratings-CTE multi-branch recomputes checkpointed
    # once (timeseries10, stats14, stats15, rater15) — all 11 flipped
    # queries re-run oracle-exact at BOTH sf0.01 and sf0.001 this round
    # (oracle_sim --changed, 11/11 + 11/11; the other 7 already hold
    # slots above / in the window).
    "acf_hourly_lags", "anderson_darling_value", "crosscorr_lead_lag",
    "friedman_test_type_day", "ljung_box_hourly", "page_hinkley_hourly",
    # r17 one dataset memo (dataset_cache.memo replaced the nine module
    # caches; cosine_topk_bruteforce calls _bcast_query_dots; the graph
    # loops share copurchase_join_strategy): all 48 flipped queries re-run
    # oracle-exact at BOTH sf0.01 and sf0.001 (oracle_sim --changed,
    # 48/48 + 48/48). The other 45 already hold slots above / in the
    # window.
    "clustering_coefficient_parts", "degree_assortativity",
    "ols_price_on_quantity",
]


def _ordered_queries():
    qs = all_queries()
    ordered = [n for n in _VERIFY_FIRST if n in qs]
    ordered += [n for n in qs if n not in set(_VERIFY_FIRST)]
    return {n: qs[n] for n in ordered}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, q in _ordered_queries().items():
        def wrapped(spark: SparkSession, sf_dir: str, _q=q) -> DataFrame:
            configure_session(spark)
            # Per-query cache clear: queries that persist intermediates
            # (LSH signatures, KMV sketches) are bounded within their own
            # execution instead of leaking storage memory across the
            # driver's sequential 150-query correctness run.
            spark.catalog.clearCache()
            return _q.fn(spark, sf_dir)
        out[name] = wrapped
    return out


def oracle_sql() -> dict[str, str]:
    return {n: q.oracle for n, q in _ordered_queries().items()
            if q.oracle is not None}
