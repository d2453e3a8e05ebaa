"""Accuracy laws for the rows-only registry queries.

The DuckDB oracle (``tests/test_queries_oracle.py``) checks every
registry query that has oracle SQL. The rest (approximate sketches,
LSH/ANN, streaming, certified optimization replays) are pinned by the
law tests named below, which run in the same suite. This module keeps
that map honest without running Spark: every rows-only query has an
entry, no entry names a query that has oracle SQL or is gone, and every
named test still exists, so a deleted or renamed law test fails here.
"""

from __future__ import annotations

import ast
import os

from pyspark_movie_recommender_spark import queries as Q

# query -> (one-line law statement, [pytest node ids proving it]).
# Every rows-only registry query MUST have an entry.
LAW_TESTS: dict[str, tuple[str, list[str]]] = {
    "abtt_top_pc_removal": (
        "removing the top PC zeroes the corpus-mean projection onto it",
        ["tests/test_wave339s.py::test_abtt"],
    ),
    "als_implicit_covisits": (
        "implicit-ALS recs are well-shaped, deduped, and score-ordered",
        ["tests/test_recommend.py::test_implicit_als_recs_shape_and_ordering"],
    ),
    "als_item_neighbors": (
        "item-factor neighbors are unit-cosine-bounded and exclude self",
        ["tests/test_recommend.py::test_als_item_neighbors_shape_and_sanity"],
    ),
    "als_recommend_parts": (
        "per-user top-k recs: k rows, no seen items, descending score",
        ["tests/test_operators.py::test_als_recommend_parts_rec_contract"],
    ),
    "ann_ivf_topk": (
        "IVF top-k recall vs exact cosine top-k >= 0.5 at nprobe/n_cells=1/4",
        [
            "tests/test_plans.py::test_ivf_cell_assignment_is_map_side",
            "tests/test_operators.py::test_ivf_topk_recall_against_bruteforce",
        ],
    ),
    "ann_lsh_pairs": (
        "hyperplane-LSH emits the planted near pair; candidates never all-pairs",
        ["tests/test_operators.py::test_ann_lsh_pairs_nonempty_at_oracle_sf"],
    ),
    "approx_distinct_parts": (
        "approx_count_distinct within HLL relative-error band of exact",
        ["tests/test_operators.py::test_approx_distinct_within_hll_error_of_exact"],
    ),
    "approx_quantiles_prices": (
        "approx quantiles within the sketch's rank-error band of exact",
        [
            "tests/test_operators.py::test_approx_quantiles_within_sketch_error_of_exact"
        ],
    ),
    "approx_topk_event_types": (
        "approx_top_k counts equal exact counts on a skewed column",
        ["tests/test_wave99s.py::test_approx_topk_counts_match_exact"],
    ),
    "bankers_algorithm_safety": (
        "reported safe sequence replays without deadlock; unsafe states flagged",
        ["tests/test_wave339s.py::test_bankers_safety_replay"],
    ),
    "belady_opt_cache_replay": (
        "Belady OPT hit-rate dominates LRU at every capacity",
        ["tests/test_wave339s.py::test_belady_dominates_lru"],
    ),
    "binomial_american_option": (
        "American >= European price; both within CRR lattice identities",
        ["tests/test_wave339s.py::test_binomial_option"],
    ),
    "boyer_moore_majority": (
        "segmented Boyer-Moore candidate == true majority when one exists",
        ["tests/test_wave339s.py::test_boyer_moore"],
    ),
    "cheeger_conductance_chain": (
        "conductance within Cheeger bounds of the spectral gap",
        ["tests/test_wave339s.py::test_cheeger_conductance"],
    ),
    "clarke_wright_savings": (
        "savings routes respect capacity and never exceed depot-star cost",
        ["tests/test_wave339s.py::test_clarke_wright"],
    ),
    "colley_matrix_ranking": (
        "Colley ratings solve the Colley system; ratings average 0.5",
        ["tests/test_wave339s.py::test_colley"],
    ),
    "countmin_token_estimates": (
        "count-min estimates upper-bound exact counts within eps*N",
        ["tests/test_operators.py::test_countmin_upper_bounds_exact"],
    ),
    "cusum_arl_markov": (
        "CUSUM ARL from the Markov chain matches simulation band",
        ["tests/test_wave339s.py::test_cusum_arl"],
    ),
    "dedup_minhash_lsh": (
        "LSH recalls planted near-dups; candidate count grows linearly",
        [
            "tests/test_operators.py::test_minhash_lsh_recalls_planted_pair",
            "tests/test_scale_smoke.py::test_minhash_lsh_candidates_grow_linearly",
            "tests/test_scale_smoke.py::test_planted_dups_recovered_at_scale",
        ],
    ),
    "dedup_simhash": (
        "SimHash hamming-bucket join finds the planted near pair",
        ["tests/test_operators.py::test_simhash_finds_planted_pair"],
    ),
    "dgim_sliding_count": (
        "DGIM estimate within 50% of the exact sliding-window count",
        ["tests/test_wave339s.py::test_dgim_guarantee"],
    ),
    "disk_scheduling_replay": (
        "SCAN/C-SCAN seek totals match the replayed head traces",
        ["tests/test_wave339s.py::test_disk_scheduling"],
    ),
    "effective_resistance_trade": (
        "effective resistance is a metric and matches the Laplacian pinv",
        ["tests/test_wave339s.py::test_effective_resistance_metric"],
    ),
    "fictitious_play_minimax": (
        "fictitious-play empirical values bracket the game value",
        ["tests/test_wave339s.py::test_fictitious_play"],
    ),
    "fifo_belady_anomaly": (
        "FIFO replay is exact; any flagged anomaly has more faults at larger cache",
        ["tests/test_wave339s.py::test_fifo_anomaly_scan"],
    ),
    "fifo_vs_sjf_replay": (
        "SJF mean waiting time <= FIFO on the same arrival replay",
        ["tests/test_wave339s.py::test_fifo_vs_sjf"],
    ),
    "greedy_coloring_certified": (
        "coloring is proper and uses <= maxdegree+1 colors",
        ["tests/test_wave339s.py::test_greedy_coloring"],
    ),
    "half_sample_mode": (
        "HSM lands in the densest half-sample; exact on symmetric data",
        ["tests/test_wave339s.py::test_half_sample_mode"],
    ),
    "hll_sketch_rollup": (
        "HLL estimates within 5% of exact; sketch union == direct sketch",
        [
            "tests/test_operators.py::test_hll_sketch_rollup_accuracy_and_mergeability"
        ],
    ),
    "huffman_code_audit": (
        "Huffman code is prefix-free, Kraft-tight, entropy-bounded optimal",
        ["tests/test_wave339s.py::test_huffman_certificates"],
    ),
    "isotonic_fit_quantity_price": (
        "fit is monotone nondecreasing and mean-preserving (PAVA law)",
        ["tests/test_wave244s.py::test_isotonic_fit_monotone_and_mean_preserving"],
    ),
    "jackson_network_solve": (
        "solved arrival rates satisfy the traffic equations",
        ["tests/test_wave339s.py::test_jackson_traffic_equations"],
    ),
    "katz_centrality_exact": (
        "Katz vector satisfies x = alpha*A'x + 1 to fixed tolerance",
        ["tests/test_wave339s.py::test_katz_exact"],
    ),
    "kirchhoff_spanning_trees": (
        "matrix-tree count matches brute-force enumeration on small graphs",
        ["tests/test_wave339s.py::test_kirchhoff"],
    ),
    "kll_quantile_rollup": (
        "KLL quantiles within the sketch rank-error of exact; merges clean",
        ["tests/test_operators.py::test_kll_quantiles_within_rank_error"],
    ),
    "konig_matching_cover": (
        "bipartite max matching size == min vertex cover size (Konig)",
        ["tests/test_wave339s.py::test_konig_duality"],
    ),
    "kriging_simple_trade": (
        "kriging weights solve the covariance system; exact at knots",
        ["tests/test_wave339s.py::test_kriging_interpolation_certificate"],
    ),
    "ktruss_copurchase_certified": (
        "every k-truss edge has >= k-2 triangles within the truss",
        ["tests/test_wave339s.py::test_ktruss_support_certificate"],
    ),
    "line_breaking_dp": (
        "Knuth line-breaking DP cost is minimal vs brute force",
        ["tests/test_wave339s.py::test_line_breaking"],
    ),
    "lis_patience_daily": (
        "patience pile count == LIS length; certificate subsequence increases",
        ["tests/test_wave339s.py::test_lis_certificates"],
    ),
    "lp_duality_certified": (
        "primal and dual objectives meet (strong duality certificate)",
        ["tests/test_wave339s.py::test_lp_duality_certificates"],
    ),
    "lpt_makespan_certified": (
        "LPT makespan within Graham 4/3-1/(3m) of the LP lower bound",
        ["tests/test_wave339s.py::test_lpt_graham_bound"],
    ),
    "massey_rating": (
        "Massey ratings solve the constrained normal equations",
        ["tests/test_wave339s.py::test_massey"],
    ),
    "maxflow_mincut_trade": (
        "max-flow value equals min-cut capacity; flow conserves",
        ["tests/test_wave339s.py::test_maxflow_equals_mincut"],
    ),
    "misra_gries_heavy_hitters": (
        "MG summary contains every item above N/k with correct lower bounds",
        ["tests/test_wave99s.py::test_misra_gries_containment_and_lower_bounds"],
    ),
    "misra_gries_merge_audit": (
        "merged MG summaries keep the deterministic undercount guarantee",
        ["tests/test_wave339s.py::test_mg_merge_guarantee"],
    ),
    "ml_pipeline_text_classifier": (
        "pipeline recovers the dominant planted group on held-out docs",
        ["tests/test_recommend.py::test_text_classifier_recovers_dominant_group"],
    ),
    "molloy_reed_giant_audit": (
        "Molloy-Reed criterion agrees with measured giant-component share",
        ["tests/test_wave339s.py::test_molloy_reed"],
    ),
    "mondrian_k_anonymization": (
        "every released equivalence class has >= k members",
        ["tests/test_wave339s.py::test_mondrian_k"],
    ),
    "mrmr_feature_selection": (
        "greedy mRMR picks maximize relevance-redundancy at each step",
        ["tests/test_wave339s.py::test_mrmr"],
    ),
    "mtf_after_bwt_audit": (
        "MTF-after-BWT roundtrips and compresses runs as predicted",
        ["tests/test_wave339s.py::test_mtf_audit"],
    ),
    "multimodal_ahash_index": (
        "aHash matches NumPy reference; bucket pairs == brute-force pairs",
        [
            "tests/test_wave50s.py::test_ahash_matches_numpy_reference",
            "tests/test_wave50s.py::test_ahash_neardup_pairs_equal_bruteforce",
        ],
    ),
    "multimodal_audio_rms": (
        "windowed RMS equals the NumPy reference exactly",
        ["tests/test_operators.py::test_audio_window_rms_matches_numpy_reference"],
    ),
    "multimodal_image_resize": (
        "box-resize equals the NumPy reference exactly",
        ["tests/test_operators.py::test_image_resize_matches_numpy_reference"],
    ),
    "number_partition_kk_vs_exact": (
        "Karmarkar-Karp residue >= exact optimum; both certified",
        ["tests/test_wave339s.py::test_number_partition"],
    ),
    "pareto_layers_certified": (
        "layer-1 points are exactly the non-dominated set; layers nest",
        ["tests/test_wave339s.py::test_pareto_layers"],
    ),
    "perron_eigenvalue_certified": (
        "Perron root within Collatz-Wielandt lower/upper bounds",
        ["tests/test_wave339s.py::test_perron_cw_bounds"],
    ),
    "probabilistic_serial_eating": (
        "PS assignment matrix is bistochastic (fair-division law)",
        ["tests/test_wave339s.py::test_ps_bistochastic"],
    ),
    "random_serial_dictatorship": (
        "RSD expected-assignment matrix is bistochastic",
        ["tests/test_wave339s.py::test_rsd_bistochastic"],
    ),
    "sinkhorn_ot_segments": (
        "Sinkhorn transport plan matches both marginals to tolerance",
        ["tests/test_wave339s.py::test_sinkhorn_marginals"],
    ),
    "sketch_accuracy_audit": (
        "each sketch's measured error sits inside its published bound",
        ["tests/test_wave107s.py::test_sketch_errors_within_bounds"],
    ),
    "soundex_name_blocking": (
        "Soundex codes match the published reference algorithm",
        ["tests/test_wave107s.py::test_soundex_blocking_matches_reference"],
    ),
    "stable_matching_region_segment": (
        "Gale-Shapley output has no blocking pair (stability certificate)",
        ["tests/test_wave339s.py::test_assignment_vs_stable"],
    ),
    "steiner_tree_dreyfus_wagner": (
        "Dreyfus-Wagner tree is connected, spans terminals, matches DP cost",
        ["tests/test_wave339s.py::test_steiner_tree"],
    ),
    "stratified_sample_documents": (
        "per-stratum fractions land near targets; hash-deterministic",
        [
            "tests/test_operators.py::test_stratified_sample_fractions_and_determinism"
        ],
    ),
    "streaming_cdc_upsert": (
        "stream CDC upsert state == batch latest-per-key (stream≡batch)",
        ["tests/test_streaming.py::test_cdc_upsert_stream_equals_batch_latest"],
    ),
    "streaming_dedup_watermark": (
        "watermarked dropDuplicates keeps exactly the unique events",
        ["tests/test_streaming.py::test_streaming_dedup_keeps_all_unique_events"],
    ),
    "streaming_drift_band_counts": (
        "drift-band counts stream == batch twin (stream≡batch)",
        ["tests/test_streaming.py::test_drift_band_counts_stream_equals_batch"],
    ),
    "streaming_enrich_join": (
        "stream-static enrichment == batch join (stream≡batch)",
        ["tests/test_streaming.py::test_enrich_join_stream_equals_batch"],
    ),
    "streaming_hourly_user_counts": (
        "rate-state hourly counts stream == batch twin (stream≡batch)",
        ["tests/test_streaming.py::test_hourly_user_counts_stream_equals_batch"],
    ),
    "streaming_interval_join": (
        "stream-stream interval join == batch range join (stream≡batch)",
        ["tests/test_streaming.py::test_stream_stream_interval_join_equals_batch"],
    ),
    "streaming_running_user_totals": (
        "stateful running totals == batch cumulative (incl. checkpoint resume)",
        [
            "tests/test_streaming.py::test_stateful_running_totals_match_batch",
            "tests/test_streaming.py::test_stateful_resume_from_checkpoint",
        ],
    ),
    "streaming_session_window": (
        "session_window stream == batch sessionize (stream≡batch)",
        [
            "tests/test_streaming.py::test_session_window_stream_matches_batch_sessionize"
        ],
    ),
    "streaming_tumbling_window": (
        "tumbling-window stream == batch window agg (stream≡batch)",
        ["tests/test_streaming.py::test_tumbling_stream_equals_batch"],
    ),
    "tarjan_bridges_certified": (
        "removing each reported bridge splits its component (certificate)",
        ["tests/test_wave339s.py::test_bridge_forest_identity"],
    ),
    "theta_token_overlap": (
        "theta-sketch set-algebra estimates near exact intersection/union",
        ["tests/test_operators.py::test_theta_overlap_estimates_near_exact"],
    ),
    "token_bucket_conformance": (
        "token-bucket replay admits exactly the conformant packets",
        ["tests/test_wave339s.py::test_token_bucket"],
    ),
    "top_trading_cycles": (
        "TTC allocation is a core allocation (no blocking coalition)",
        ["tests/test_wave339s.py::test_ttc_core_properties"],
    ),
    "tsp_two_opt_certified": (
        "2-opt tour is 2-opt-minimal and beats the greedy start",
        ["tests/test_wave339s.py::test_tsp_two_opt_certificate"],
    ),
    "two_sat_certified": (
        "2-SAT assignment satisfies every clause; UNSAT has an SCC witness",
        ["tests/test_wave339s.py::test_two_sat"],
    ),
}


def _module_functions(path: str) -> set[str]:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, path), encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    return {
        n.name
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def test_law_map_covers_rows_only_queries_and_names_live_tests():
    rows_only = set(Q.QUERIES) - set(Q.ORACLE_SQL)
    assert set(LAW_TESTS) == rows_only, (
        f"rows-only queries without a law: {sorted(rows_only - set(LAW_TESTS))}; "
        f"law entries that are not rows-only: {sorted(set(LAW_TESTS) - rows_only)}"
    )
    defined: dict[str, set[str]] = {}
    missing = []
    for query, (_, nodes) in LAW_TESTS.items():
        for node in nodes:
            path, func = node.split("::")
            func = func.split("[")[0]
            if path not in defined:
                defined[path] = _module_functions(path)
            if func not in defined[path]:
                missing.append(f"{query}: {node}")
    assert not missing, f"law tests not found: {missing}"
