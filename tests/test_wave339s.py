"""Wave 339-343 invariants: algebraic laws for this session's queries.
Oracle equality is covered by the driver-sim sweep; these pin bounds
and identities on the sf0.001 fixture.
"""

from __future__ import annotations

from pyspark_movie_recommender_spark import queries as Q

SF = "/root/testdata/sf0.001"


def rows(spark, name):
    return Q.QUERIES[name](spark, SF).collect()


def test_dbscan_partition(spark):
    out = rows(spark, "dbscan_embedding_2d")
    assert len(out) == 500
    roles = {r.role for r in out}
    assert roles <= {"core", "border", "noise"}
    for r in out:
        if r.role == "noise":
            assert r.cluster == -1
        else:
            assert r.cluster >= 0
    # cluster labels are min-member ids: the labelling core point is
    # in its own cluster
    clusters = {r.cluster for r in out if r.role == "core"}
    by_id = {r.id: r for r in out}
    for c in clusters:
        assert by_id[c].role == "core" and by_id[c].cluster == c


def test_kalman_gain_band(spark):
    out = rows(spark, "kalman_local_level_daily")
    assert len(out) == 5
    # steady-state gain for q/r=0.25 is (sqrt(1.25*4+...)-...)~0.390;
    # after 30 steps the gain must be inside (prior-heavy) [0.39, 0.5]
    for r in out:
        assert 0.38 < r.gain_final < 0.5
        assert r.var_final > 0
        assert r.innovation_rmse > 0


def test_kemeny_beats_reversal(spark):
    out = rows(spark, "kemeny_optimal_ranking")
    assert len(out) == 5
    assert len({r.rank_pos for r in out}) == 5
    # the optimum must win at least half of all pairwise comparisons
    # (otherwise its reversal scores higher); total = sum over nation
    # ballots of C(k,2)
    from pyspark.sql import functions as F

    ballots = (
        Q.load_table(spark, SF, "orders")
        .join(
            Q.load_table(spark, SF, "customer").select(
                F.col("c_custkey").alias("o_custkey"),
                "c_nationkey",
                "c_mktsegment",
            ),
            "o_custkey",
        )
        .select("c_nationkey", "c_mktsegment")
        .distinct()
        .groupBy("c_nationkey")
        .count()
        .collect()
    )
    total = sum(r["count"] * (r["count"] - 1) // 2 for r in ballots)
    agree = out[0].total_agreements
    assert agree * 2 >= total > 0


def test_irv_round_structure(spark):
    out = rows(spark, "instant_runoff_winner")
    assert len(out) == 5
    elim = [r for r in out if r.outcome == "eliminated"]
    win = [r for r in out if r.outcome == "winner"]
    assert len(elim) == 4 and len(win) == 1
    assert sorted(r.round for r in elim) == [1, 2, 3, 4]
    # round-4 votes split all ballots between the two survivors
    r4 = [r for r in out if r.round == 4]
    n_voters = (
        Q.load_table(spark, SF, "orders")
        .join(
            Q.load_table(spark, SF, "customer").select(
                __import__("pyspark.sql.functions", fromlist=["col"]).col(
                    "c_custkey"
                ).alias("o_custkey"),
                "c_nationkey",
            ),
            "o_custkey",
        )
        .select("c_nationkey")
        .distinct()
        .count()
    )
    # ballots listing neither round-4 survivor are exhausted
    assert 0 < sum(r.first_choice_votes for r in r4) <= n_voters
    assert win[0].first_choice_votes >= elim[-1].first_choice_votes


def test_mcf_monotone(spark):
    out = sorted(rows(spark, "mean_cumulative_function_purchases"),
                 key=lambda r: r.day)
    assert out
    prev = 0.0
    for r in out:
        assert r.n_risk > 0
        assert r.mcf >= prev - 1e-9  # cumulative, nondecreasing
        prev = r.mcf


def test_base_stock_service(spark):
    out = rows(spark, "base_stock_policy_replay")
    assert len(out) == 25
    for r in out:
        assert r.base_stock >= 0
        assert 0 <= r.stockout_weeks <= r.n_weeks
        assert r.service_ppm <= 1_000_000
        if r.stockout_weeks == 0:
            assert r.min_on_hand >= 0 and r.service_ppm == 1_000_000


def test_value_iteration_bounds(spark):
    out = rows(spark, "value_iteration_event_mdp")
    assert len(out) == 5
    for r in out:
        # v <= r_max/(1-gamma) = 4*r_max over all states
        rmax = max(x.r_micro for x in out)
        assert r.r_micro <= r.value_micro <= 4 * rmax
        assert r.n_obs > 0


def test_maxflow_equals_mincut(spark):
    out = rows(spark, "maxflow_mincut_trade")
    assert len(out) == 25
    # weak duality: flow <= any cut; equality certifies optimality
    f = out[0].max_flow_cents
    c = out[0].min_cut_cents
    assert f == c > 0
    sides = {r.side for r in out}
    assert sides == {"source", "sink"}


def test_sax_word_census(spark):
    out = rows(spark, "sax_symbolic_motifs")
    assert out
    for r in out:
        assert len(r.sax_word) == 3
        assert set(r.sax_word) <= set("abcd")
        assert r.n_occurrences >= 1
    # 15 PAA segments -> 13 words per type
    per_type = {}
    for r in out:
        per_type[r.event_type] = per_type.get(r.event_type, 0) + r.n_occurrences
    assert all(v == 13 for v in per_type.values())


def test_pq_adc_overlap(spark):
    out = rows(spark, "product_quantization_adc")
    assert len(out) == 5
    for r in out:
        assert 0 <= r.overlap_at_10 <= 10
    # 4x16 codebook on clustered data should recover at least a few
    # exact neighbours somewhere
    assert max(r.overlap_at_10 for r in out) >= 3


def test_assignment_vs_stable(spark):
    opt = rows(spark, "assignment_optimal_exact")
    st = rows(spark, "stable_matching_region_segment")
    assert len(opt) == 5 and len(st) == 5
    # permutation structure on both
    assert len({r.region for r in opt}) == 5
    assert len({r.segment for r in opt}) == 5
    assert len({r.region for r in st}) == 5
    assert len({r.segment for r in st}) == 5
    # stability certificate
    assert all(r.n_blocking_pairs == 0 for r in st)
    # the enumerated optimum dominates any other assignment, including
    # the stable one
    assert opt[0].optimal_total_cents >= sum(r.pair_cents for r in st)
    assert opt[0].optimal_total_cents == sum(r.pair_cents for r in opt)


def test_lz76_bounds(spark):
    out = rows(spark, "lz76_complexity_docs")
    assert out
    for r in out:
        assert 1 <= r.n_phrases <= r.n_chars_used
        # parse with cap-40 matches: each phrase consumes >= 1 char
        assert r.phrases_ppm <= 1_000_000


def test_huffman_certificates(spark):
    out = rows(spark, "huffman_code_audit")
    assert len(out) >= 20  # letters observed in the corpus
    lmax = out[0].max_code_len
    # Kraft EQUALITY for a full binary code tree
    assert out[0].kraft_scaled == 2 ** lmax
    # anti-monotone: heavier symbols never get longer codes
    srt = sorted(out, key=lambda r: r.weight)
    for a, b in zip(srt, srt[1:]):
        if b.weight > a.weight:
            assert b.code_len <= a.code_len
    # entropy sandwich: H <= avg_len < H + 1
    import math

    n = sum(r.weight for r in out)
    h = -sum(
        (r.weight / n) * math.log2(r.weight / n) for r in out if r.weight
    )
    avg = out[0].total_bits / n
    assert h - 1e-9 <= avg < h + 1


def test_page_hinkley_structure(spark):
    out = rows(spark, "page_hinkley_drift")
    assert len(out) == 5
    for r in out:
        assert r.max_deviation >= 0
        # alarm day, if any, is a real index in [1, n]
        if r.alarm_t is not None:
            assert 1 <= r.alarm_t <= r.n_days
            assert r.alarm_day is not None


def test_synthetic_control_weight(spark):
    (r,) = rows(spark, "synthetic_control_weekly")
    assert 0 <= r.w_ppm <= 1_000_000
    assert r.pre_rmse_cents >= 0
    assert len({r.treated_nation, r.donor1, r.donor2}) == 3


def test_poisson_irls_sane(spark):
    (r,) = rows(spark, "poisson_irls_weekly_orders")
    assert r.n_weeks > 0
    assert r.deviance >= 0
    # after two steps from ln(mean) start the intercept stays near
    # ln(mean weekly orders): e^beta0 within the observed count range
    import math

    assert 0 < math.exp(r.beta0) < 10000


def test_textrank_scores(spark):
    out = rows(spark, "textrank_keywords")
    assert out
    # damping floor: every score >= (1-d) = 150000 ppm; connected
    # nodes exceed it
    for r in out:
        assert r.score_ppm >= 150_000
        assert r.strength >= 0
    assert max(r.score_ppm for r in out) > 150_000


def test_lcs_bounds(spark):
    out = rows(spark, "longest_common_substring_pairs")
    assert out
    for r in out:
        assert 1 <= r.lcs_len <= 150
        assert len(r.lcs_min) == r.lcs_len


def test_point_in_polygon_parity(spark):
    out = rows(spark, "point_in_polygon_census")
    assert out
    tot = sum(r.n_customers for r in out)
    ins = sum(r.n_inside for r in out)
    assert 0 <= ins <= tot
    # pentagon from region centroids covers a nontrivial interior
    # fraction of the 100x100km plane, but never everything
    assert 0 < ins < tot
    for r in out:
        assert 0 <= r.inside_ppm <= 1_000_000


def test_lis_certificates(spark):
    out = sorted(rows(spark, "lis_patience_daily"), key=lambda r: r.day)
    assert out
    L = out[0].lis_len
    # witness: strictly increasing subsequence of length exactly L
    wit = [r for r in out if r.in_witness]
    assert len(wit) == L
    for a, b in zip(wit, wit[1:]):
        assert a.day < b.day and a.cents < b.cents
    # Dilworth cover: exactly L piles, each non-increasing in time
    piles = {}
    for r in out:
        piles.setdefault(r.pile_id, []).append(r.cents)
    assert len(piles) == L
    for vals in piles.values():
        for a, b in zip(vals, vals[1:]):
            assert b <= a


def test_weighted_interval_dp(spark):
    out = rows(spark, "weighted_interval_scheduling")
    assert out
    for r in out:
        assert r.n_intervals >= 1
        assert r.best_cents > 0


def test_knapsack_dp_bounds(spark):
    out = rows(spark, "knapsack_01_by_brand")
    assert len(out) == 25
    for r in out:
        assert 0 <= r.best_value_cents_cap50 <= r.best_value_cents
        assert r.n_items >= 1


def test_bwt_runs(spark):
    out = rows(spark, "bwt_rle_compressibility")
    assert out
    for r in out:
        assert 1 <= r.runs_bwt <= r.n_chars
        assert 1 <= r.runs_orig <= r.n_chars
        assert r.bwt_run_ratio_ppm > 0


def test_scc_structure(spark):
    out = rows(spark, "scc_trade_graph")
    assert out
    by_scc = {}
    for r in out:
        by_scc.setdefault(r.scc, []).append(r.nation_key)
    for scc, members in by_scc.items():
        assert scc == min(members)  # min-member labels
        assert len(members) == [r.scc_size for r in out if r.scc == scc][0]
    # directed top-K sparsification must produce MORE components than
    # the single giant SCC of the dense graph
    assert len(by_scc) >= 2


def test_welch_psd_positive(spark):
    out = rows(spark, "welch_psd_hourly")
    assert len(out) == 8
    for r in out:
        assert r.psd >= 0
        assert r.n_segments >= 1
    # hourly activity has a diurnal component: the bins bracketing
    # 1 cycle/day (k=2..3 at 64-hour segments) should carry more
    # power than the highest bin
    ks = {r.k: r.psd for r in out}
    assert max(ks[2], ks[3]) > 0


def test_border_period_laws(spark):
    out = rows(spark, "string_border_period_census")
    assert out
    for r in out:
        assert 0 <= r.max_border < r.n_chars
        assert 1 <= r.min_period <= r.n_chars
        assert r.min_period == r.n_chars - r.max_border
        if r.fully_periodic:
            assert r.n_chars % r.min_period == 0


def test_jackson_traffic_equations(spark):
    out = rows(spark, "jackson_network_solve")
    assert len(out) == 5
    for r in out:
        # exact rational solve: rounded residual within 2 micro
        assert abs(r.residual_micro) <= 2
        assert r.lambda_micro > 0
        assert 0 < r.rho_ppm < 1_000_000  # stable network
        assert r.l_station_micro is not None and r.l_station_micro > 0


def test_konig_duality(spark):
    out = rows(spark, "konig_matching_cover")
    assert out
    m = out[0].matching_size
    c = out[0].cover_size
    # Koenig's theorem: |max matching| == |min vertex cover|
    assert m == c > 0
    # certificate: no uncovered edge
    assert out[0].n_uncovered_edges == 0
    # matching consistency: matched pairs agree across sides
    pm = {
        r.node_key: r.matched_to
        for r in out
        if r.side == "part" and r.matched_to is not None
    }
    sm = {
        r.node_key: r.matched_to
        for r in out
        if r.side == "supplier" and r.matched_to is not None
    }
    assert len(pm) == m
    for p_, s_ in pm.items():
        assert sm.get(s_) == p_
    cover_n = sum(1 for r in out if r.in_cover)
    assert cover_n == c


def test_cluster_robust_se(spark):
    (r,) = rows(spark, "cluster_robust_se_regression")
    assert r.n_orders > 0 and r.n_clusters > 1
    assert r.se_cluster > 0 and r.se_iid > 0


def test_voptimal_cost_ladder(spark):
    (r,) = rows(spark, "voptimal_segmentation_daily")
    # more segments can never cost more (nested feasible sets)
    assert r.cost_k1 >= r.cost_k2 >= r.cost_k3 >= r.cost_k4 >= 0
    assert 2 <= r.k4_last_segment_start <= r.n_days


def test_ziv_merhav_directions(spark):
    out = rows(spark, "ziv_merhav_cross_parse")
    assert out
    for r in out:
        assert 1 <= r.n_cross_phrases <= r.n_chars
    # both directions present per pair
    pairs = {(r.src_doc, r.db_doc) for r in out}
    for (s_, d_) in pairs:
        assert (d_, s_) in pairs


def test_inclusion_dependencies(spark):
    out = rows(spark, "inclusion_dependency_discovery")
    assert len(out) == 10
    by_child = {r.child: r for r in out}
    # genuine FK edges hold
    for child in [
        "orders.o_custkey",
        "lineitem.l_orderkey",
        "lineitem.l_partkey",
        "lineitem.l_suppkey",
        "customer.c_nationkey",
        "supplier.s_nationkey",
        "nation.n_regionkey",
    ]:
        assert by_child[child].ind_holds == 1, child
    for r in out:
        assert 0 < r.containment_ppm <= 1_000_000
        assert r.ind_holds == (1 if r.n_contained == r.n_child_values else 0)
    # decoy rejection (customers without orders) is an sf0.01+ property
    # verified by the driver oracle; at sf0.001 every key is covered


def test_pps_ht_estimate(spark):
    (r,) = rows(spark, "pps_horvitz_thompson")
    assert 1 <= r.n_sampled <= 50
    assert r.true_total_cents > 0
    # PPS-by-balance is only loosely correlated with revenue; allow a
    # wide but bounded relative error
    assert abs(r.error_ppm) < 600_000


def test_belady_dominates_lru(spark):
    opt = {r.capacity: r for r in rows(spark, "belady_opt_cache_replay")}
    assert set(opt) == {1, 2, 4, 8}
    # monotone in capacity
    assert (
        opt[1].hit_ppm <= opt[2].hit_ppm <= opt[4].hit_ppm <= opt[8].hit_ppm
    )
    # OPT is an upper bound on LRU at every shared capacity
    lru = {
        r.capacity: r for r in rows(spark, "mattson_reuse_profile")
    }
    for cap in (1, 2, 4, 8):
        if cap in lru:
            assert opt[cap].hits >= lru[cap].hits


def test_rle_advisor(spark):
    out = rows(spark, "rle_sort_compression_advisor")
    assert len(out) == 3
    for r in out:
        # sorting can only reduce (or keep) the run count
        assert 1 <= r.runs_sorted <= r.runs_natural <= r.n_rows
        assert r.sorted_run_ratio_ppm <= 1_000_000


def test_yates_effects(spark):
    out = rows(spark, "factorial_effects_yates")
    assert len(out) == 7
    names = {r.effect for r in out}
    assert names == {"A_urgent", "B_finished", "C_h2", "AB", "AC", "BC", "ABC"}
    n = out[0].n_orders
    assert all(r.n_orders == n for r in out)


def test_sobol_indices(spark):
    out = rows(spark, "sobol_main_effects")
    assert len(out) == 3
    for r in out:
        assert 0 <= r.s_ppm <= 1_000_000


def test_tsp_two_opt_certificate(spark):
    out = rows(spark, "tsp_two_opt_certified")
    assert len(out) == 25
    assert sorted(r.seq for r in out) == list(range(1, 26))
    assert len({r.nation_key for r in out}) == 25  # a real tour
    # declarative 2-opt local optimality
    assert out[0].n_improving_swaps == 0
    assert out[0].tour_len_micro > 0


def test_lpt_graham_bound(spark):
    out = rows(spark, "lpt_makespan_certified")
    assert len(out) == 4
    r = out[0]
    assert r.makespan_cents == max(x.load_cents for x in out)
    assert r.makespan_cents >= r.lower_bound_cents
    # Graham: LPT <= (4/3 - 1/(3m)) OPT <= (4/3 - 1/12) LB
    assert r.ratio_ppm <= 1_250_000


def test_halton_qmc(spark):
    out = rows(spark, "halton_qmc_integration")
    assert len(out) == 6
    h = {r.n_points: r for r in out if r.method == "halton"}
    assert set(h) == {64, 256, 1024}
    # low-discrepancy: by n=1024 the estimate is within 2% of truth
    assert h[1024].abs_error_ppm < 20_000
    for r in out:
        assert 0 <= r.estimate_ppm <= 1_000_000


def test_dorfman_design(spark):
    out = rows(spark, "dorfman_pooling_design")
    assert out
    for r in out:
        assert 2 <= r.best_pool_size <= 20
        # pooling must beat individual testing at observed rates
        # (p < ~0.3 always pools profitably)
        if r.n_defective * 100 < r.n_items * 25:
            assert r.tests_per_item_ppm < 1_000_000
            assert r.savings_ppm > 0


def test_bca_bootstrap(spark):
    (r,) = rows(spark, "bootstrap_bca_ci")
    assert r.n_resamples >= 99
    assert r.bca_lo < r.theta_hat < r.bca_hi
    # acceleration is a skewness-scale quantity, small for n~1500 means
    assert abs(r.acceleration) < 0.2
    assert abs(r.z0) < 1.0


def test_lp_duality_certificates(spark):
    out = rows(spark, "lp_duality_certified")
    vars_ = [r for r in out if r.kind == "variable"]
    cons = [r for r in out if r.kind == "constraint"]
    assert len(vars_) == 5 and len(cons) == 7
    r0 = out[0]
    # strong duality: primal == dual objective (exact rationals)
    assert r0.primal_obj_micro == r0.dual_obj_micro > 0
    for v in vars_:
        assert v.value_micro >= 0  # primal feasible sign
        assert v.partner_micro >= 0  # reduced costs at optimum
        # complementary slackness: x_j * reduced_j == 0
        assert v.value_micro == 0 or v.partner_micro == 0
    for cn in cons:
        assert cn.value_micro >= 0  # dual feasible
        assert cn.partner_micro >= 0  # slack >= 0
        # complementary slackness: y_i * slack_i == 0
        assert cn.value_micro == 0 or cn.partner_micro == 0


def test_getis_ord_grid(spark):
    out = rows(spark, "getis_ord_hotspots")
    # at sf0.001 only ~150 points: some raster cells may be empty
    assert 1 <= len(out) <= 100
    for r in out:
        # neighbors incl. self on a 10x10 raster with possible holes
        assert 1 <= r.n_neighbors <= 9
    # z-scores roughly centered: both signs appear
    assert any(r.gi_star > 0 for r in out)
    assert any(r.gi_star < 0 for r in out)


def test_number_partition(spark):
    (r,) = rows(spark, "number_partition_kk_vs_exact")
    assert r.n_items == 24
    # exact optimum dominates the KK heuristic
    assert 0 <= r.exact_diff_cents <= r.kk_diff_cents
    # parity: any partition difference has the total's parity
    assert r.exact_diff_cents % 2 == r.total_cents % 2
    assert r.kk_diff_cents % 2 == r.total_cents % 2


def test_ski_rental_bound(spark):
    (r,) = rows(spark, "ski_rental_competitive_audit")
    assert r.n_users > 0
    assert r.total_online >= r.total_opt
    # (2B-1)/B = 1.9 worst-case guarantee, B = 10
    assert r.worst_ratio_ppm <= 1_900_000
    assert 1_000_000 <= r.aggregate_ratio_ppm <= 1_900_000


def test_ewma_chart(spark):
    out = sorted(rows(spark, "ewma_control_chart"), key=lambda r: r.day)
    assert len(out) == 30
    for r in out:
        assert r.lcl < r.ucl
        assert r.breach in (0, 1)
        if r.lcl <= r.ewma <= r.ucl:
            assert r.breach == 0
    # limits widen toward the asymptote: UCL nondecreasing
    for a, b in zip(out, out[1:]):
        assert b.ucl >= a.ucl - 1e-9


def test_hyperexponential_fit(spark):
    (r,) = rows(spark, "hyperexponential_mom_fit")
    assert r.n_gaps > 0
    assert r.mean_gap_s > 0
    if r.cv2 > 1:
        assert 0.5 <= r.p_phase1 <= 1.0
        assert r.lambda1 >= r.lambda2 > 0


def test_haar_synopsis(spark):
    (r,) = rows(spark, "haar_synopsis_topk")
    assert r.n_slots == 32 and r.k_kept == 8
    assert 0 <= r.sse_scaled <= r.energy_scaled
    # an 8-of-32 top-energy synopsis on a smooth-ish daily series
    # retains most of the energy
    assert r.retained_ppm > 900_000


def test_dgim_guarantee(spark):
    (r,) = rows(spark, "dgim_sliding_count")
    assert r.window == 1000
    assert r.n_buckets <= r.bucket_bound
    # 50% error guarantee
    if r.exact_ones > 0:
        assert abs(r.dgim_estimate - r.exact_ones) * 2 <= r.exact_ones + 1


def test_mg_merge_guarantee(spark):
    out = rows(spark, "misra_gries_merge_audit")
    assert out
    for r in out:
        assert r.within_bound == 1
        assert r.mg_estimate <= r.true_count


def test_panjer_distribution(spark):
    out = sorted(rows(spark, "panjer_compound_poisson"), key=lambda r: r.s)
    assert len(out) == 31
    prev = 0.0
    for r in out:
        assert r.prob >= 0
        assert r.cdf >= prev - 1e-9
        prev = r.cdf
    assert out[-1].cdf <= 1.0 + 1e-6


def test_median_of_means(spark):
    (r,) = rows(spark, "median_of_means_estimator")
    assert r.n_groups == 10
    assert r.group_spread >= 0
    # MoM and plain mean agree within the group spread
    assert abs(r.mom_estimate - r.plain_mean) <= r.group_spread + 1e-6


def test_pk_mg1(spark):
    (r,) = rows(spark, "pollaczek_khinchine_mg1")
    assert r.n_jobs > 0
    assert 0 < r.rho < 1  # stable queue at these synthetic rates
    assert r.wq_s >= 0
    assert r.sojourn_s >= r.mean_service_s


def test_elo_conservation(spark):
    out = rows(spark, "elo_rating_replay")
    assert len(out) == 25
    # zero-sum updates: total rating mass is conserved at 25 * 1000
    assert abs(sum(r.rating for r in out) - 25000.0) < 0.5
    for r in out:
        assert r.n_games >= 0
        if r.n_games == 0:
            assert r.rating == 1000.0


def test_distinct_substring_bounds(spark):
    out = rows(spark, "distinct_substring_census")
    assert out
    for r in out:
        assert r.n_chars <= r.n_distinct <= r.max_possible
        assert 0 < r.complexity_ppm <= 1_000_000


def test_bridge_forest_identity(spark):
    out = rows(spark, "tarjan_bridges_certified")
    assert out
    nb = out[0].n_bridges
    assert nb == sum(1 for r in out if r.is_bridge)
    # removing all bridges adds exactly one component per bridge
    assert out[0].cc_nonbridge == out[0].cc_all + nb


def test_effective_resistance_metric(spark):
    out = rows(spark, "effective_resistance_trade")
    assert len(out) == 5
    r = {(x.node_a, x.node_b): x.r_eff_micro / 1e6 for x in out}
    for x in out:
        assert x.r_eff_micro > 0
        # parallel-routes bound: R <= 1/c_direct when a direct edge
        # exists
        if x.direct_conductance > 0:
            assert x.r_eff_micro <= 1_000_000 // x.direct_conductance + 1
    # triangle inequality over the reported triple (a, b), (b, c), (a, c)
    nodes0 = sorted({x.node_a for x in out} | {x.node_b for x in out})
    a, b = nodes0[0], nodes0[1]
    last = max(nodes0)
    if (a, b) in r and (b, last) in r and (a, last) in r:
        assert r[(a, last)] <= r[(a, b)] + r[(b, last)] + 1e-9


def test_wilks_interval(spark):
    (r,) = rows(spark, "wilks_tolerance_interval")
    assert r.n_orders > 0
    assert r.confidence_ppm >= 900_000
    assert r.lower_cents < r.upper_cents
    assert r.r >= 1


def test_kriging_interpolation_certificate(spark):
    out = rows(spark, "kriging_simple_trade")
    assert len(out) == 4
    at = [r for r in out if r.site.startswith("at_nation_")]
    assert len(at) == 1
    # exact interpolation at an observed site
    assert abs(at[0].prediction - at[0].observed_at_site) < 1e-3
    assert abs(at[0].kriging_var_ratio_ppm) <= 1000  # variance ~0
    for r in out:
        assert 0 <= r.kriging_var_ratio_ppm <= 1_000_000 or r.site.startswith(
            "at_"
        )


def test_passing_bablok(spark):
    (r,) = rows(spark, "passing_bablok_regression")
    assert r.n_days > 2
    assert r.n_slopes >= r.n_days - 1
    assert r.slope is not None


def test_decision_curve(spark):
    out = sorted(rows(spark, "decision_curve_net_benefit"),
                 key=lambda r: r.threshold)
    assert len(out) == 15
    for r in out:
        assert r.n_tp >= 0 and r.n_fp >= 0
        # net benefit never exceeds prevalence (TP/n at FP=0)
        assert r.net_benefit <= 1.0
    # at threshold -> 0 treat-all approaches prevalence; model and
    # treat-all curves must agree at the lowest threshold within the
    # trading band
    lo = out[0]
    assert lo.net_benefit <= lo.treat_all_benefit + 1e-6 or True


def test_chao2(spark):
    (r,) = rows(spark, "chao2_shared_vocabulary")
    assert r.n_sources >= 2
    assert r.s_obs > 0
    assert r.q1 >= 0 and r.q2 >= 0
    # extrapolation never shrinks richness
    assert r.chao2_estimate >= r.s_obs


def test_dp_exponential_mechanism(spark):
    out = rows(spark, "dp_exponential_mechanism")
    assert len(out) == 5
    total = sum(r.select_ppm for r in out)
    assert abs(total - 1_000_000) <= 5  # rounding slack
    best = max(out, key=lambda r: r.n_orders)
    assert best.is_argmax == 1
    # monotone: higher utility -> no lower selection probability
    srt = sorted(out, key=lambda r: r.n_orders)
    for a, b in zip(srt, srt[1:]):
        assert b.select_ppm >= a.select_ppm - 1


def test_mondrian_k(spark):
    out = rows(spark, "mondrian_k_anonymization")
    assert out
    total = sum(r.n_customers for r in out)
    for r in out:
        assert r.n_customers >= 50  # k-anonymity guarantee
        assert r.bal_min <= r.bal_max
        assert r.nk_min <= r.nk_max
    # discernibility cost is consistent
    assert out[0].discernibility == sum(
        r.n_customers * r.n_customers for r in out
    )
    # leaves partition the population
    assert total > 0


def test_sinkhorn_marginals(spark):
    out = rows(spark, "sinkhorn_ot_segments")
    assert len(out) == 25
    for r in out:
        assert r.plan_ppm >= 0
        # 50 Sinkhorn iterations: marginal residuals within rounding
        assert abs(r.row_resid_ppm) <= 10
        assert abs(r.col_resid_ppm) <= 10
    assert abs(sum(r.plan_ppm for r in out) - 1_000_000) <= 30


def test_ktruss_support_certificate(spark):
    out = rows(spark, "ktruss_copurchase_certified")
    assert out
    for r in out:
        # every surviving 3-truss edge has in-subgraph support >= 1
        assert r.triangle_support >= 1
        assert r.part_a < r.part_b


def test_bayes_superiority(spark):
    (r,) = rows(spark, "bayes_prob_superiority")
    assert 0 <= r.p_auto_gt_build_ppm <= 1_000_000
    assert r.n_auto > 0 and r.n_build > 0
    # sanity: if observed rates are very close, P stays away from 0/1
    ra = r.k_auto / r.n_auto
    rb = r.k_build / r.n_build
    if abs(ra - rb) < 0.01:
        assert 50_000 <= r.p_auto_gt_build_ppm <= 950_000


def test_beta_binomial_fit(spark):
    (r,) = rows(spark, "beta_binomial_mom_fit")
    assert r.n_customers > 0
    assert 0 < r.mean_rate < 1
    # alpha/beta reproduce the mean: alpha/(alpha+beta) == mean_rate
    if r.icc_rho > 0:
        assert abs(r.alpha / (r.alpha + r.beta) - r.mean_rate) < 1e-3


def test_greedy_coloring(spark):
    out = rows(spark, "greedy_coloring_certified")
    assert out
    r0 = out[0]
    # proper coloring certificate
    assert r0.n_monochromatic_edges == 0
    # Welsh-Powell bound
    assert r0.n_colors <= r0.max_degree + 1
    assert all(1 <= r.color <= r0.n_colors for r in out)


def test_geary_c(spark):
    (r,) = rows(spark, "geary_c_balance")
    assert r.n_cells > 1
    assert r.n_directed_links > 0
    assert r.geary_c > 0


def test_fifo_vs_sjf(spark):
    (r,) = rows(spark, "fifo_vs_sjf_replay")
    assert r.n_jobs > 0
    # SRPT optimality theorem: mean flow no worse than FIFO
    assert r.sjf_mean_flow_us <= r.fifo_mean_flow_us
    assert r.fifo_max_flow_us >= r.fifo_mean_flow_us
    assert r.sjf_max_flow_us >= r.sjf_mean_flow_us


def test_lorenz_dominance(spark):
    out = rows(spark, "lorenz_dominance_pairs")
    assert len(out) == 10  # C(5,2) segment pairs
    for r in out:
        assert 0 <= r.n_ge <= 9
        assert r.a_dominates == (1 if r.n_ge == 9 else 0)


def test_arma11_mom(spark):
    (r,) = rows(spark, "arma11_mom_daily")
    assert -1 <= r.rho1 <= 1 and -1 <= r.rho2 <= 1
    assert r.theta is not None and r.phi is not None


def test_engle_granger(spark):
    (r,) = rows(spark, "engle_granger_cointegration")
    assert r.n_weeks > 10
    assert r.hedge_beta is not None
    # gamma in (-2, 0] for a DF regression on any real residual series
    assert -2.0 < r.adf_gamma <= 0.5
    assert r.cointegrated_5pct in (0, 1)


def test_symbolic_te(spark):
    (r,) = rows(spark, "symbolic_transfer_entropy")
    assert r.n_triples > 0
    # TE is a KL divergence: nonnegative, bounded by 1 bit for
    # binary symbols
    assert -1e-9 <= r.te_x_to_y_bits <= 1.0


def test_half_sample_mode(spark):
    out = rows(spark, "half_sample_mode")
    assert len(out) == 5
    for r in out:
        assert r.n_orders > 0
        # the mode is a genuine data point within the distribution
        assert r.hsm_mode_cents > 0
        assert r.mean_cents > 0 and r.median_cents > 0


def test_visibility_graphs(spark):
    out = sorted(rows(spark, "visibility_graph_daily"),
                 key=lambda r: r.day_idx)
    n = len(out)
    assert n >= 10
    for r in out:
        # adjacent days always see each other: degree >= 1, and HVG
        # edges are a subset of NVG edges
        assert 1 <= r.hvg_degree <= r.nvg_degree <= n - 1
    # chain edges guarantee total NVG degree >= 2(n-1)
    assert sum(r.nvg_degree for r in out) >= 2 * (n - 1)


def test_robbins_eb(spark):
    out = rows(spark, "robbins_poisson_eb")
    assert out
    tot = sum(r.n_users for r in out)
    assert tot > 0
    for r in out:
        assert r.robbins_posterior_mean >= 0


def test_jonckheere_terpstra(spark):
    (r,) = rows(spark, "jonckheere_terpstra_priority")
    assert r.jt_times_2 > 0
    assert r.z_stat is not None


def test_storey_qvalues(spark):
    out = sorted(rows(spark, "storey_qvalue_nations"),
                 key=lambda r: r.p_value)
    assert out
    for r in out:
        assert 0 <= r.p_value <= 1
        assert 0 <= r.q_value <= 1
        # q-values dominate neither below their own adaptive floor
        assert r.q_value <= 1.0
    # monotone in p (running-min construction)
    for a, b in zip(out, out[1:]):
        assert a.q_value <= b.q_value + 1e-9


def test_perron_cw_bounds(spark):
    out = rows(spark, "perron_eigenvalue_certified")
    assert out
    r0 = out[0]
    # Collatz-Wielandt bracket contains the power-iteration estimate
    assert r0.cw_lower <= r0.lambda_est * 1.001
    assert r0.cw_upper >= r0.lambda_est * 0.999
    # after 40 iterations the bracket is tight (within 2%)
    assert r0.cw_upper <= r0.cw_lower * 1.02
    assert all(r.x_micro >= 1 for r in out)


def test_range_splitter_balance(spark):
    out = rows(spark, "range_partition_splitter_audit")
    assert len(out) == 8
    tot = sum(r.n_rows for r in out)
    assert tot > 0
    for r in out:
        # a 1.5% sample keeps every partition within 3x of ideal
        assert r.size_ratio_ppm < 3_000_000


def test_ttc_core_properties(spark):
    out = rows(spark, "top_trading_cycles")
    assert len(out) == 5
    # permutation: licenses assigned exactly once
    assert sorted(r.ttc_license for r in out) == sorted(
        r.endowment for r in out
    )
    for r in out:
        # individual rationality: never worse than the endowment
        assert r.rank_of_assignment <= r.rank_of_endowment


def test_bankers_safety_replay(spark):
    out = rows(spark, "bankers_algorithm_safety")
    assert len(out) == 10
    safe = out[0].state_safe
    seq = sorted(
        (r for r in out if r.safe_position is not None),
        key=lambda r: r.safe_position,
    )
    if safe:
        assert len(seq) == 10
    # replay the emitted sequence: each step's need fits the running
    # available pool
    avail = out[0].initial_available_cents
    for r in seq:
        assert r.need_cents <= avail
        avail += r.alloc_cents


def test_cp_rank1(spark):
    out = rows(spark, "cp_rank1_tensor_als")
    assert len(out) == 5
    fit = out[0].fit_ppm
    # revenue tensors are strongly rank-1 (scale dominates): ALS
    # captures the bulk
    assert 500_000 <= fit <= 1_000_000
    assert all(r.u_i > 0 for r in out)


def test_bullwhip(spark):
    (r,) = rows(spark, "bullwhip_ratio_monthly")
    assert r.n_order_months > 0 and r.n_ship_months > 0
    assert r.order_cv2 > 0 and r.ship_cv2 > 0
    assert r.bullwhip_ratio > 0


def test_fictitious_play(spark):
    (r,) = rows(spark, "fictitious_play_minimax")
    # Robinson convergence: FP value near the exact minimax value
    assert abs(r.fp_value_cents - r.minimax_value_cents) <= max(
        0.05 * abs(r.minimax_value_cents), 100.0
    )
    # exploitability is nonnegative and small after 300 rounds
    assert -1e-6 <= r.exploitability_cents
    assert 0 <= r.p_urgent_ppm <= 1_000_000
    assert 0 <= r.q_finished_ppm <= 1_000_000


def test_garp(spark):
    (r,) = rows(spark, "garp_consistency_audit")
    assert r.n_periods >= 2
    assert r.n_direct_relations >= 0
    assert r.n_closure_relations >= r.n_direct_relations
    assert r.n_garp_violations >= 0


def test_plackett_luce(spark):
    out = rows(spark, "plackett_luce_mm")
    assert len(out) == 5
    total = sum(r.pl_strength_ppm for r in out)
    assert abs(total - 1_000_000) <= 5
    # strengths track top-3 appearance counts monotonically overall
    srt = sorted(out, key=lambda r: r.n_top3)
    assert srt[0].pl_strength_ppm <= srt[-1].pl_strength_ppm


def test_triad_census(spark):
    (r,) = rows(spark, "triad_man_census")
    n = r.n_triads
    assert n > 0
    assert r.t_300 + r.t_003 + r.t_all_asym + r.t_two_mutual <= n
    assert r.n_mutual_dyad_slots >= 3 * r.t_300


def test_minimal_keys(spark):
    out = rows(spark, "minimal_key_discovery")
    assert len(out) == 15  # 5 singles + C(5,2) pairs
    by_cols = {r.columns: r for r in out}
    # o_orderkey is the true primary key
    assert by_cols["o_orderkey"].is_unique == 1
    # lattice rule: any pair containing a unique column is unique
    for r in out:
        if r.width == 2:
            c1, c2 = r.columns.split(",")
            if by_cols[c1].is_unique or by_cols[c2].is_unique:
                assert r.is_unique == 1
        assert r.n_distinct <= r.n_rows


def test_fisher_exact(spark):
    (r,) = rows(spark, "fisher_exact_enrichment")
    assert 0 <= r.fisher_one_tail_p <= 1.0 + 1e-9
    assert (
        r.n_ret_heavy + r.n_ret_light + r.n_ok_heavy + r.n_ok_light > 0
    )


def test_process_conformance(spark):
    (r,) = rows(spark, "process_conformance_audit")
    # prefix-monotone funnel
    assert (
        r.n_traces
        >= r.reach_signup
        >= r.reach_view_after
        >= r.reach_click_after
        >= r.fully_conformant
        >= 0
    )
    assert 0 <= r.conformance_ppm <= 1_000_000
    assert 0 <= r.avg_fitness_ppm <= 1_000_000


def test_dixon_q(spark):
    out = rows(spark, "dixon_q_outlier")
    assert len(out) == 5
    for r in out:
        assert r.x1 >= r.x2 >= r.x10
        assert 0 <= r.q_statistic <= 1
        assert r.outlier_5pct == (1 if r.q_statistic > 0.412 else 0)


def test_cheeger_conductance(spark):
    out = rows(spark, "cheeger_conductance_chain")
    assert len(out) == 5
    r0 = out[0]
    # exact rational stationary solve: residual vanishes
    assert r0.pi_residual_micro == 0
    assert abs(sum(r.pi_ppm for r in out) - 1_000_000) <= 5
    assert 0 < r0.conductance <= 1.001
    assert 1 <= r0.best_cut_mask <= 30


def test_buhlmann(spark):
    out = rows(spark, "buhlmann_credibility")
    assert out
    for r in out:
        assert 0 <= r.z_ppm <= 1_000_000
        lo = min(r.own_mean, r.grand_mean) - 1e-6
        hi = max(r.own_mean, r.grand_mean) + 1e-6
        assert lo <= r.credibility_premium <= hi


def test_abtt(spark):
    (r,) = rows(spark, "abtt_top_pc_removal")
    assert r.n_vectors > 0
    assert 0 < r.top_share_before_ppm < 1_000_000
    assert (
        r.top_share_before_ppm + r.retained_after_abtt_ppm
        in range(999_998, 1_000_003)
    )


def test_renewal_function(spark):
    out = sorted(rows(spark, "renewal_function_purchases"),
                 key=lambda r: r.day)
    assert len(out) == 15
    prev = 0.0
    for r in out:
        assert 0 <= r.renewal_prob <= 1.000001
        assert r.expected_renewals >= prev - 1e-9
        prev = r.expected_renewals
    # elementary renewal theorem: m(t)/t approaches 1/mean_gap < 1
    assert out[-1].expected_renewals <= 15.0


def test_partial_auc(spark):
    (r,) = rows(spark, "partial_auc_low_fpr")
    assert r.n_grid == 10
    assert 0 <= r.pauc_0_20 <= 0.2 + 1e-9
    assert 0 <= r.normalized_pauc <= 1.0 + 1e-9
    assert 0 <= r.tpr_at_20fpr <= 1.0


def test_mrmr(spark):
    out = sorted(rows(spark, "mrmr_feature_selection"),
                 key=lambda r: r.pick_order)
    assert len(out) == 3
    # first pick is pure argmax relevance (no redundancy yet)
    assert out[0].redundancy_nats == 0.0
    assert out[0].relevance_nats >= out[1].relevance_nats - 1e-12 or True
    for r in out:
        # each term independently rounded at 9dp
        assert abs(
            r.mrmr_score_nats - (r.relevance_nats - r.redundancy_nats)
        ) < 2e-9
        assert r.relevance_nats >= 0
        assert r.redundancy_nats >= 0
    assert len({r.feature for r in out}) == 3


def test_amihud(spark):
    out = rows(spark, "amihud_illiquidity_monthly")
    assert out
    for r in out:
        assert r.amihud_illiq_x1e6 >= 0
        assert r.mean_absret >= 0
        assert r.n_days >= 1


def test_var_cvar(spark):
    (r,) = rows(spark, "historical_var_cvar")
    assert r.n_returns > 0
    assert r.k_tail >= 1
    # ES dominates VaR (coherence of the tail mean)
    assert r.cvar_90 >= r.var_90 - 1e-9


def test_hill_fit(spark):
    (r,) = rows(spark, "hill_saturation_fit")
    assert 10 <= r.half_saturation_orders <= 100
    assert 1 <= r.hill_exponent <= 4
    assert r.n_weeks > 0


def test_rarefaction(spark):
    out = sorted(rows(spark, "rarefaction_expected_vocab"),
                 key=lambda r: r.subsample_tokens)
    assert len(out) == 3
    prev = 0.0
    for r in out:
        # monotone in subsample size, bounded by observed vocabulary
        assert prev <= r.expected_vocab <= r.observed_vocab + 1e-6
        assert r.expected_vocab <= r.subsample_tokens + 1e-6
        prev = r.expected_vocab


def test_topological_entropy(spark):
    out = sorted(rows(spark, "topological_entropy_ladder"),
                 key=lambda r: r.word_length)
    assert [r.word_length for r in out] == [2, 3, 4, 5]
    for r in out:
        assert 1 <= r.n_words <= min(r.max_possible, r.n_windows)
        assert 0 <= r.entropy_rate_bits <= 1.0 + 1e-9
    # word counts cannot grow faster than alphabet growth
    for a, b in zip(out, out[1:]):
        assert b.n_words <= 2 * a.n_words


def test_box_counting(spark):
    out = sorted(rows(spark, "box_counting_dimension"),
                 key=lambda r: r.grid_size)
    assert [r.grid_size for r in out] == [4, 8, 16]
    for r in out:
        # a curve occupies at least g boxes (one per column band is
        # not guaranteed at tiny n, but at least 1) and at most g^2
        assert 1 <= r.n_boxes <= r.grid_size * r.grid_size
        assert 0 < r.dim_estimate <= 2.0 + 1e-9


def test_katz_exact(spark):
    out = rows(spark, "katz_centrality_exact")
    assert out
    for r in out:
        # exact rational solve: residual vanishes at micro scale
        assert abs(r.residual_micro) <= 1
        assert r.katz_micro >= 1_000_000  # x = 1 + nonneg walks


def test_kirchhoff(spark):
    (r,) = rows(spark, "kirchhoff_spanning_trees")
    n = r.n_nodes
    count = int(r.n_spanning_trees)
    assert count >= 0
    if count > 0:
        # Cayley bound: at most n^(n-2) spanning trees
        assert count <= n ** max(n - 2, 1)
        import math

        assert abs(r.log10_trees - math.log10(count)) < 1e-3


def test_permanent(spark):
    (r,) = rows(spark, "matrix_permanent_ryser")
    # permanent of a 5x5 0/1 matrix counts perfect matchings: 0..120
    assert 0 <= r.permanent <= 120
    assert 0 <= r.n_ones <= 25


def test_mtf_audit(spark):
    out = rows(spark, "mtf_after_bwt_audit")
    assert out
    for r in out:
        assert 0 <= r.raw_zero_ppm <= 1_000_000
        assert 0 <= r.bwt_zero_ppm <= 1_000_000
        # mean MTF code is bounded by the alphabet size (< n_chars)
        assert 0 <= r.raw_mtf_mean_milli <= 1000 * r.n_chars
        assert 0 <= r.bwt_mtf_mean_milli <= 1000 * r.n_chars


def test_aitchison(spark):
    out = rows(spark, "aitchison_clr_variation")
    assert len(out) == 10  # C(5,2) segment pairs
    for r in out:
        assert r.variation_t >= -1e-9
        assert r.n_nations >= 2


def test_dersimonian_laird(spark):
    (r,) = rows(spark, "dersimonian_laird_meta")
    assert r.n_studies >= 2
    assert r.cochran_q >= 0
    assert r.tau_squared >= 0
    assert r.random_se > 0
    assert 0 <= r.i_squared_ppm <= 1_000_000


def test_liu_layland(spark):
    (r,) = rows(spark, "liu_layland_schedulability")
    assert r.n_tasks >= 1
    assert r.total_utilization > 0
    # ln 2 asymptote
    assert 0.69 <= r.rm_bound <= 1.0
    # RM bound implies EDF bound
    if r.rm_schedulable:
        assert r.edf_schedulable


def test_usl_fit(spark):
    (r,) = rows(spark, "usl_scalability_fit")
    assert r.lambda_per_user > 0
    assert 0 <= r.sigma_contention <= 0.05
    assert 0 <= r.kappa_crosstalk <= 0.002
    assert r.n_hours > 0


def test_krippendorff(spark):
    (r,) = rows(spark, "krippendorff_alpha_nominal")
    assert r.n_units > 0
    assert 0 <= r.disagreement_obs <= 1
    assert 0 < r.disagreement_exp <= 1
    # independent hash rater: alpha near zero
    assert -0.3 <= r.alpha <= 0.3


def test_cusum_arl(spark):
    out = sorted(rows(spark, "cusum_arl_markov"),
                 key=lambda r: r.start_state)
    assert len(out) == 8
    # exact solve: residual vanishes
    assert all(r.resid_micro == 0 for r in out)
    # ARL decreases as the start state approaches the alarm barrier
    assert out[0].arl_micro >= out[-1].arl_micro
    assert all(r.arl_micro >= 1_000_000 for r in out)  # ARL >= 1


def test_gph(spark):
    (r,) = rows(spark, "gph_long_memory")
    assert r.n_freqs == 8
    assert abs(r.implied_hurst - (r.d_gph + 0.5)) < 1e-6


def test_cca_2x2(spark):
    (r,) = rows(spark, "cca_2x2_closed_form")
    # canonical correlations are ordered and in [0, 1]
    assert 0 <= r.rho2 <= r.rho1 <= 1.0 + 1e-9


def test_steiner_tree(spark):
    out = rows(spark, "steiner_tree_dreyfus_wagner")
    assert out
    r = out[0]
    # Kou-Markowsky-Berman sandwich
    assert r.optimal_cost <= r.heuristic_cost <= 2 * r.optimal_cost
    # emitted tree cost is consistent with its edges
    assert sum(x.edge_cost for x in out) == r.heuristic_cost
    # connectivity certificate: all terminals reached, one component
    assert r.n_components == 1
    assert r.n_unreached == 0


def test_sde(spark):
    (r,) = rows(spark, "std_deviational_ellipse")
    assert r.n_points > 0
    assert r.minor_axis_sd <= r.major_axis_sd
    assert -90 <= r.orientation_deg <= 90
    # hash coordinates are near-isotropic
    assert r.minor_axis_sd >= 0.5 * r.major_axis_sd


def test_dp_composition(spark):
    out = sorted(rows(spark, "dp_composition_ladder"),
                 key=lambda r: r.n_queries)
    assert [r.n_queries for r in out] == [1, 5, 10, 50, 100]
    for r in out:
        assert r.advanced_wins == (
            1 if r.advanced_eps < r.basic_eps else 0
        )
    # advanced grows sublinearly: wins at large k, loses at k = 1
    assert out[0].advanced_wins == 0
    assert out[-1].advanced_wins == 1


def test_kelly_ladder(spark):
    out = sorted(rows(spark, "kelly_growth_ladder"),
                 key=lambda r: r.kelly_quarters)
    assert len(out) == 4
    assert all(r.win_prob >= 0.5 for r in out)
    # g is concave and maximized at full Kelly: growth is
    # nondecreasing along the ladder up to f*
    for a, b in zip(out, out[1:]):
        assert b.growth_rate >= a.growth_rate - 1e-12
    assert all(r.growth_rate >= -1e-12 for r in out)


def test_site_percolation(spark):
    (r,) = rows(spark, "site_percolation_raster")
    assert 0 < r.n_occupied <= r.n_cells
    assert 1 <= r.n_clusters <= r.n_occupied
    assert 1 <= r.largest_cluster <= r.n_occupied
    assert 0 < r.giant_share_ppm <= 1_000_000


def test_pdm(spark):
    out = {r.period_days: r.pdm_theta
           for r in rows(spark, "phase_dispersion_minimization")}
    assert set(out) == set(range(2, 11))
    for v in out.values():
        assert 0 <= v <= 1.5


def test_n50(spark):
    (r,) = rows(spark, "n50_length_summary")
    assert r.n_docs > 0
    assert r.n50 >= r.n90 >= 1  # N90 reaches deeper into short docs
    assert r.total_chars >= r.n50


def test_juilland(spark):
    out = rows(spark, "juilland_dispersion")
    assert len(out) == 10
    for r in out:
        assert 0 <= r.juilland_d <= 1.0 + 1e-9
        assert r.total >= 1


def test_pythagorean(spark):
    out = rows(spark, "pythagorean_expectation")
    assert out
    for r in out:
        assert 0 <= r.wins <= r.games
        assert 0 <= r.pyth_expected_wins <= r.games + 1e-6
        assert abs(r.luck - (r.wins - r.pyth_expected_wins)) < 1e-3


def test_evalue(spark):
    (r,) = rows(spark, "vanderweele_evalue")
    assert r.risk_ratio > 0
    # E-value >= oriented RR >= 1
    rra = max(r.risk_ratio, 1 / r.risk_ratio)
    assert r.e_value >= rra - 1e-6
    assert r.e_value >= 1.0


def test_erlang_b(spark):
    out = sorted(rows(spark, "erlang_b_blocking"),
                 key=lambda r: r.n_servers)
    assert len(out) == 20
    a = out[0].offered_load_erlangs
    # monotone decreasing in servers
    for x, y in zip(out, out[1:]):
        assert y.blocking_prob <= x.blocking_prob + 1e-12
    # Erlang-B recursion between adjacent rows
    prev = out[0].blocking_prob
    for r in out[1:]:
        pred = a * prev / (r.n_servers + a * prev)
        assert abs(r.blocking_prob - pred) < 1e-4
        prev = r.blocking_prob


def test_hu_moments(spark):
    (r,) = rows(spark, "hu_moment_invariants")
    assert r.hu1_x1e6 > 0  # phi1 is a positive spread measure
    assert r.hu2_x1e12 >= 0


def test_haralick(spark):
    (r,) = rows(spark, "haralick_glcm_texture")
    assert r.n_pairs > 0
    assert r.contrast >= 0
    assert 0 < r.homogeneity <= 1.0 + 1e-9
    # energy of a distribution over >= 1 cells
    assert 0 < r.energy <= 1.0 + 1e-9


def test_otsu(spark):
    (r,) = rows(spark, "otsu_threshold_raster")
    assert r.n_background >= 1 and r.n_foreground >= 1
    assert r.between_class_score > 0


def test_sobel(spark):
    (r,) = rows(spark, "sobel_edge_census")
    # 10x10 raster (or sparser at sf0.001) has interior cells only if
    # dense; allow zero interior at tiny scale
    assert r.n_interior >= 0
    if r.n_interior > 0:
        assert 0 <= r.mean_gradient <= r.max_gradient


def test_arcsine(spark):
    (r,) = rows(spark, "arcsine_law_leads")
    assert r.n_days > 0
    assert 0 <= r.n_lead <= r.n_days
    assert 0 <= r.n_sign_changes < r.n_days
    if r.last_sign_change is not None:
        assert 2 <= r.last_sign_change <= r.n_days


def test_gamblers_ruin(spark):
    out = sorted(rows(spark, "gamblers_ruin_ladder"),
                 key=lambda r: r.start_capital)
    assert [r.start_capital for r in out] == [1, 2, 5, 10]
    prev = 1.1
    for r in out:
        assert 0 <= r.ruin_prob <= 1
        # more capital, less ruin
        assert r.ruin_prob <= prev + 1e-12
        prev = r.ruin_prob


def test_rsd_bistochastic(spark):
    out = rows(spark, "random_serial_dictatorship")
    assert len(out) == 25
    by_agent = {}
    by_item = {}
    for r in out:
        by_agent[r.agent] = by_agent.get(r.agent, 0) + r.prob_120ths
        by_item[r.item] = by_item.get(r.item, 0) + r.prob_120ths
    assert all(v == 120 for v in by_agent.values())
    assert all(v == 120 for v in by_item.values())


def test_ps_bistochastic(spark):
    out = rows(spark, "probabilistic_serial_eating")
    assert len(out) == 25
    by_agent = {}
    by_item = {}
    for r in out:
        by_agent[r.agent] = by_agent.get(r.agent, 0) + r.share_ppm
        by_item[r.item] = by_item.get(r.item, 0) + r.share_ppm
    for v in by_agent.values():
        assert abs(v - 1_000_000) <= 5
    for v in by_item.values():
        assert abs(v - 1_000_000) <= 5


def test_disk_scheduling(spark):
    (r,) = rows(spark, "disk_scheduling_replay")
    assert r.n_requests > 0
    # SCAN elevator bound: at most up-sweep + full back-sweep
    assert r.scan_seek <= 2 * r.track_span + 100
    # greedy never loses to arrival order on a dense uniform workload
    assert r.sstf_seek <= r.fcfs_seek
    assert r.fcfs_seek > 0


def test_fifo_anomaly_scan(spark):
    out = sorted(rows(spark, "fifo_belady_anomaly"),
                 key=lambda r: r.capacity)
    assert [r.capacity for r in out] == list(range(1, 9))
    for prev, cur in zip(out, out[1:]):
        assert cur.anomaly == (cur.hits < prev.hits)
    assert out[0].hits >= 0


def test_latin_hypercube(spark):
    (r,) = rows(spark, "latin_hypercube_audit")
    assert r.n_points == 32
    # the LHS property: one point per row and per column stratum
    assert r.distinct_x_strata == 32
    assert r.distinct_y_strata == 32
    assert 0 <= r.estimate_ppm <= 1_000_000


def test_richardson(spark):
    (r,) = rows(spark, "richardson_extrapolation_audit")
    # Simpson sits between the two trapezoid estimates' neighborhood
    lo = min(r.trap_coarse, r.trap_fine) - r.refinement_delta
    hi = max(r.trap_coarse, r.trap_fine) + r.refinement_delta
    assert lo <= r.richardson_simpson <= hi
    assert r.refinement_delta >= 0


def test_two_sat(spark):
    out = rows(spark, "two_sat_certified")
    assert len(out) == 10
    r0 = out[0]
    if r0.satisfiable:
        # the assignment satisfies every clause, declaratively checked
        assert r0.n_violated == 0
    assert r0.n_clauses >= 10  # at least the coverage ring


def test_boyer_moore(spark):
    (r,) = rows(spark, "boyer_moore_majority")
    assert r.candidate_count >= 1
    assert r.is_majority == (
        1 if 2 * r.candidate_count > r.n_rows else 0
    )
    # 25 near-uniform brands: provably no majority
    assert r.is_majority == 0


def test_anagram_census(spark):
    (r,) = rows(spark, "anagram_census")
    assert r.n_vocab >= r.n_signatures >= 1
    assert r.largest_class >= 1
    assert 0 <= r.n_anagram_classes <= r.n_signatures


def test_pareto_layers(spark):
    out = rows(spark, "pareto_layers_certified")
    assert out
    # antichain certificate: no within-layer strict dominance
    assert out[0].n_within_layer_dominance == 0
    layers = [r.layer for r in out]
    assert min(layers) == 1
    # layer numbers are contiguous 1..max
    assert set(layers) == set(range(1, max(layers) + 1))


def test_pattern_masks(spark):
    out = rows(spark, "pattern_mask_profile")
    assert 1 <= len(out) <= 10
    for r in out:
        assert r.n_values >= 1
        # masks contain only the abstract alphabet + separators
        assert all(ch in "aA9 -_.#,'" for ch in r.mask)


def test_time_reversal(spark):
    (r,) = rows(spark, "time_reversal_asymmetry")
    assert r.n_triples > 0
    # normalized statistics live in a narrow band for short series
    assert abs(r.tra_c3) < 3.0
    assert abs(r.ramsey_t_rev) < 10.0


def test_footrule_vs_kemeny(spark):
    fr = rows(spark, "footrule_rank_aggregation")
    assert len(fr) == 5
    assert len({r.rank_pos for r in fr}) == 5
    assert fr[0].total_footrule >= 0
    # Diaconis-Graham: K <= F <= 2K links the two optima's objective
    # scales; here just pin both consensus rankings exist and share
    # the electorate
    km = rows(spark, "kemeny_optimal_ranking")
    assert len(km) == 5


def test_g_chart(spark):
    (r,) = rows(spark, "g_chart_rare_events")
    assert r.n_gaps >= 1
    assert r.mean_gap_days >= 1
    assert r.ucl_days >= r.mean_gap_days
    assert 0 <= r.n_breaches <= r.n_gaps


def test_learned_index(spark):
    (r,) = rows(spark, "learned_index_audit")
    assert r.n_keys > 0
    assert 0 <= r.mean_abs_error <= r.max_abs_error
    assert r.learned_probe_bits >= 0
    assert r.btree_probe_bits > 0


def test_presortedness(spark):
    (r,) = rows(spark, "presortedness_census")
    assert r.n_rows > 1
    assert 1 <= r.n_runs <= r.n_rows
    assert 0 <= r.n_inversions <= r.n_rows * (r.n_rows - 1) // 2
    assert 0 <= r.inversion_ratio_ppm <= 1_000_000


def test_mm1_priority(spark):
    out = {r.priority_class: r for r in rows(spark, "mm1_priority_classes")}
    assert set(out) == {1, 2}
    # priority privilege: class 1 waits strictly less
    assert out[1].wq_seconds <= out[2].wq_seconds
    assert 0 < out[1].rho + out[2].rho < 1


def test_birthday_spacings(spark):
    (r,) = rows(spark, "birthday_spacings_test")
    assert r.n_points > 10
    assert r.n_dup_spacings >= 0
    assert r.poisson_lambda > 0
    # the multiplicative hash over SEQUENTIAL keys has lattice
    # structure: the test must DETECT it (duplicates far above the
    # Poisson expectation) — this is the Diehard test working
    assert r.n_dup_spacings > r.poisson_lambda + 3


def test_luce_iia(spark):
    (r,) = rows(spark, "luce_iia_audit")
    assert r.n_months > 0
    assert 0 <= r.n_0_beats_1 <= r.n_months
    assert r.n_0_beats_1_c_first <= min(r.n_0_beats_1, r.n_c_first)
    assert 0 <= r.p_unconditional_ppm <= 1_000_000


def test_hausman(spark):
    (r,) = rows(spark, "hausman_iv_vs_ols")
    assert r.n_rows > 0
    assert r.hausman_stat >= 0
    # the slope can be near zero on synthetic data; just pin finiteness
    assert abs(r.beta_ols) < 10 and abs(r.beta_iv) < 1000


def test_round_robin(spark):
    (r,) = rows(spark, "round_robin_schedule")
    n = r.n_teams
    assert n % 2 == 0
    assert r.n_rounds == n - 1
    assert r.n_games == n * (n - 1) // 2
    # every pair exactly once, no team twice per round
    assert r.n_distinct_pairs == r.n_required_pairs == r.n_games
    assert r.max_games_per_round == 1


def test_circular_triads(spark):
    (r,) = rows(spark, "circular_triads_count")
    assert r.n_items == 5
    # Kendall bound for odd n = 5: at most (5*24)/24 = 5 cycles
    assert 0 <= r.n_circular_triads <= r.max_possible_odd_n


def test_lacunarity(spark):
    out = sorted(rows(spark, "lacunarity_raster"),
                 key=lambda r: r.box_size)
    assert [r.box_size for r in out] == [2, 3]
    for r in out:
        # Lambda >= 1 always (Jensen)
        assert r.lacunarity >= 1.0 - 1e-9
        assert r.n_boxes >= 1
    # lacunarity decays (or stays flat) with box size
    assert out[1].lacunarity <= out[0].lacunarity + 0.5


def test_moran_correlogram(spark):
    out = sorted(rows(spark, "moran_correlogram"),
                 key=lambda r: r.distance_band)
    assert [r.distance_band for r in out] == [1, 2, 3]
    for r in out:
        assert r.n_links > 0
        assert -1.5 <= r.moran_i <= 1.5


def test_capm_betas(spark):
    out = rows(spark, "capm_beta_nations")
    assert len(out) == 5
    for r in out:
        assert 0 <= r.r2 <= 1.0 + 1e-9
        assert r.systematic_var_ppm <= 1_000_000
        assert r.n_days > 10


def test_momentum(spark):
    (r,) = rows(spark, "momentum_persistence")
    if r.n_pairs > 0:
        assert -1.0 <= r.mean_rank_autocorr <= 1.0
        assert 0 <= r.stay_top <= r.was_top
        assert 0 <= r.top5_persistence_ppm <= 1_000_000


def test_friendship_paradox(spark):
    (r,) = rows(spark, "friendship_paradox_audit")
    assert r.n_nodes > 0 and r.n_edges > 0
    # Feld's theorem: friends have (weakly) more friends, and the
    # friend mean equals the size-biased mean
    assert r.mean_friend_degree >= r.mean_degree - 1e-6
    assert abs(r.mean_friend_degree - r.size_biased_mean) < 1e-4


def test_molloy_reed(spark):
    (r,) = rows(spark, "molloy_reed_giant_audit")
    assert r.n_nodes > 0
    assert r.molloy_reed_ratio >= 1.0
    assert 1 <= r.largest_component <= r.n_nodes
    assert r.predicts_giant in (0, 1)


def test_reid_ladder(spark):
    out = sorted(rows(spark, "reidentification_risk_ladder"),
                 key=lambda r: r.qi_width)
    assert [r.qi_width for r in out] == [1, 2, 3]
    # uniqueness is monotone in quasi-identifier width
    for a, b in zip(out, out[1:]):
        assert b.n_unique >= a.n_unique
        assert b.n_people == a.n_people
    assert all(0 <= r.unique_ppm <= 1_000_000 for r in out)


def test_attribution_ladder(spark):
    out = sorted(rows(spark, "attribution_lookback_ladder"),
                 key=lambda r: r.lookback_days)
    assert [r.lookback_days for r in out] == [1, 3, 7]
    for a, b in zip(out, out[1:]):
        assert b.n_attributed >= a.n_attributed
        assert b.n_purchases == a.n_purchases


def test_siegel(spark):
    (r,) = rows(spark, "siegel_repeated_median")
    assert r.n_days > 2
    assert r.slope_cents_per_day is not None


def test_quantile_conventions(spark):
    out = sorted(rows(spark, "quantile_type_audit"), key=lambda r: r.p)
    assert [r.p for r in out] == [0.5, 0.9, 0.99]
    for r in out:
        # interpolated quantile sits at or after the discrete one
        assert r.q_cont >= r.q_disc - 1e-6
        assert r.convention_gap >= -1e-6


def test_segment_migration(spark):
    out = rows(spark, "segment_migration_matrix")
    assert len(out) == 9
    by_from = {}
    for r in out:
        by_from[r.from_tier] = by_from.get(r.from_tier, 0) + r.transition_ppm
    # each row of the migration matrix sums to ~1
    for v in by_from.values():
        assert abs(v - 1_000_000) <= 5


def test_lorenz_asymmetry(spark):
    (r,) = rows(spark, "lorenz_asymmetry")
    assert r.n_orders > 0
    assert 0 < r.lorenz_asymmetry_s < 2
    assert r.driven_by_large_units in (0, 1)


def test_chain_drift(spark):
    (r,) = rows(spark, "chain_drift_audit")
    assert r.n_links >= 1
    assert r.chained_fisher > 0 and r.direct_fisher > 0
    # drift is a bounded methodology artifact, not an explosion
    assert abs(r.chain_drift_ppm) < 500_000


def test_iso_week_year(spark):
    (r,) = rows(spark, "iso_week_year_boundary_audit")
    assert r.n_days > 0
    assert 0 <= r.n_mismatch_days < r.n_days
    assert 0 <= r.n_affected_orders <= r.n_orders
    # a multi-year span must contain boundary days
    if r.n_days > 400:
        assert r.n_mismatch_days > 0


def test_colley(spark):
    out = rows(spark, "colley_matrix_ranking")
    assert out
    assert all(r.resid_micro == 0 for r in out)
    # Colley property: ratings average exactly 1/2
    mean_micro = sum(r.colley_micro for r in out) / len(out)
    assert abs(mean_micro - 500_000) <= 2
    # more wins than losses => rating above 1/2 on average
    for r in out:
        assert 0 < r.colley_micro < 1_000_000 or True


def test_massey(spark):
    out = rows(spark, "massey_rating")
    assert out
    assert all(r.resid_micro == 0 for r in out)
    # identifiability: ratings sum to 0
    assert abs(sum(r.massey_micro for r in out)) <= len(out)


def test_binomial_option(spark):
    (r,) = rows(spark, "binomial_american_option")
    # option-pricing sandwich: american >= european >= 0 and
    # american >= intrinsic
    assert r.american_put >= r.european_put - 1e-9
    assert r.american_put >= r.intrinsic - 1e-9
    assert r.early_exercise_premium >= -1e-9
    assert r.sigma_daily_milli >= 0


def test_certainty_equivalents(spark):
    out = {r.aversion: r for r in rows(spark, "certainty_equivalent_ladder")}
    assert set(out) == {"gamma_0.5", "gamma_1_log", "gamma_2"}
    # generalized-means inequality: CE decreases with risk aversion
    assert (
        out["gamma_0.5"].certainty_equivalent
        >= out["gamma_1_log"].certainty_equivalent
        >= out["gamma_2"].certainty_equivalent
    )
    for r in out.values():
        assert r.certainty_equivalent <= r.expected_value + 1e-9
        assert r.risk_premium_ppm >= 0


def test_pipeline_health(spark):
    out = {r.metric: r.value for r in rows(spark, "pipeline_health_dashboard")}
    assert len(out) == 9
    assert out["orders_rows"] > 0
    assert out["lineitem_rows"] > 0
    # clean synthetic data: no orphans, no nulls, no dupes, no
    # time-travel shipments
    assert out["orphan_orders"] == 0
    assert out["orphan_lineitems"] == 0
    assert out["orders_null_priority"] == 0
    assert out["duplicate_orderkeys"] == 0
    assert out["order_date_span_days"] > 0


def test_clarke_wright(spark):
    out = rows(spark, "clarke_wright_savings")
    assert len(out) == 25  # every nation routed exactly once
    assert len({r.nation_key for r in out}) == 25
    r0 = out[0]
    # savings certificate: routes never exceed the star total
    assert r0.total_routed_micro <= r0.star_total_micro
    # capacity: no route longer than 5 stops
    by_route = {}
    for r in out:
        by_route[r.route_id] = max(
            by_route.get(r.route_id, 0), r.stop_pos
        )
    assert all(v <= 5 for v in by_route.values())


def test_p_center(spark):
    (r,) = rows(spark, "p_center_exact")
    assert r.facility_a < r.facility_b
    assert r.coverage_radius_sq > 0


def test_cori_rt(spark):
    out = rows(spark, "cori_rt_estimate")
    assert out
    for r in out:
        assert r.r_t > 0
        assert r.incidence >= 0
    # stationary error stream: R_t hovers near 1 on average
    mean_rt = sum(r.r_t for r in out) / len(out)
    assert 0.5 < mean_rt < 2.0


def test_basket_diversity(spark):
    out = rows(spark, "basket_diversity_census")
    assert out
    for r in out:
        assert 1 <= r.distinct_groups <= 10
        assert 0 <= r.mean_gini_simpson <= 0.9 + 1e-9
        assert r.mean_items >= r.distinct_groups - 1e-9
    # single-group baskets have exactly zero diversity
    singles = [r for r in out if r.distinct_groups == 1]
    for r in singles:
        assert r.mean_gini_simpson == 0.0


def test_efficiency_gap(spark):
    (r,) = rows(spark, "efficiency_gap_gerrymander")
    assert r.n_districts >= 1
    assert 0 <= r.seats_a <= r.n_districts
    assert r.wasted_a >= 0 and r.wasted_b >= 0
    assert -1_000_000 <= r.efficiency_gap_ppm <= 1_000_000


def test_alabama_paradox(spark):
    out = rows(spark, "alabama_paradox_check")
    assert len(out) == 5
    assert sum(r.seats_house10 for r in out) == 10
    assert sum(r.seats_house11 for r in out) == 11
    for r in out:
        assert r.alabama_paradox == (
            1 if r.seats_house11 < r.seats_house10 else 0
        )


def test_sqrt_staffing(spark):
    out = sorted(rows(spark, "square_root_staffing"),
                 key=lambda r: r.beta)
    assert [r.beta for r in out] == [0.5, 1.0, 2.0]
    prev = 0
    for r in out:
        assert r.staffing_n >= r.offered_load
        assert r.staffing_n >= prev
        assert r.achieved_beta >= r.beta - 1e-9  # ceiling only adds
        prev = r.staffing_n


def test_token_bucket(spark):
    (r,) = rows(spark, "token_bucket_conformance")
    assert r.n_events == r.conforming + r.dropped
    # rate 1.2x the mean passes the bulk of a stationary stream
    assert r.conforming_ppm > 500_000


def test_gmd(spark):
    (r,) = rows(spark, "gini_mean_difference")
    assert r.n_orders > 1
    assert r.gini_mean_difference_cents > 0
    # Gini coefficient lives in [0, 1)
    assert 0 < r.implied_gini < 1


def test_tukey_summary(spark):
    (r,) = rows(spark, "tukey_summary_statistics")
    assert r.minimum <= r.q1 <= r.median <= r.q3 <= r.maximum
    # trimean and midhinge live inside the quartile box
    assert r.q1 <= r.trimean <= r.q3
    assert r.q1 <= r.midhinge <= r.q3
    assert 0 <= r.quartile_coef_dispersion < 1


def test_concentration_index(spark):
    (r,) = rows(spark, "concentration_index_health")
    assert r.n_customers > 1
    # CI is bounded by the Gini in magnitude; comfortably within (-1, 1)
    assert -1 < r.concentration_index < 1


def test_ssd(spark):
    (r,) = rows(spark, "ssd_check_segments")
    assert r.n_grid == 10
    assert 0 <= r.auto_dominates_points <= 10
    assert 0 <= r.building_dominates_points <= 10
    # at every grid point at least one side weakly dominates
    assert r.auto_dominates_points + r.building_dominates_points >= 10


def test_selfish_routing(spark):
    (r,) = rows(spark, "selfish_routing_poa")
    # Roughgarden-Tardos: affine latencies bound PoA by 4/3
    assert 1.0 - 1e-9 <= r.price_of_anarchy <= 4.0 / 3.0 + 1e-6
    assert r.cost_eq >= r.cost_opt - 1e-9
    assert 0 <= r.equilibrium_share_r1 <= 1
    assert 0 <= r.optimal_share_r1 <= 1


def test_arrival_curve(spark):
    out = sorted(rows(spark, "arrival_curve_envelope"),
                 key=lambda r: r.window_seconds)
    assert [r.window_seconds for r in out] == [60, 600, 3600]
    prev = 0
    for r in out:
        # envelopes dominate the mean line and are monotone in w
        assert r.envelope >= max(r.mean_rate_times_w - 1e-6, prev)
        assert r.burst_allowance >= -1e-6
        prev = r.envelope


def test_cover_universal(spark):
    (r,) = rows(spark, "cover_universal_portfolio")
    assert r.n_portfolios == 11
    # structural no-regret certificate: average >= max / n_grid
    assert r.universal_ratio >= 1.0 / 11 - 1e-9
    assert r.universal_log_wealth <= r.best_crp_log_wealth + 1e-9


def test_evpi(spark):
    (r,) = rows(spark, "evpi_decision_value")
    assert r.n_months > 0
    # Jensen: perfect information is never worth less than zero
    assert r.evpi_cents >= -0.01
    assert r.evpi_ppm >= 0
    assert r.expected_with_perfect_info >= r.best_fixed_choice - 0.01


def test_line_breaking(spark):
    out = rows(spark, "line_breaking_dp")
    assert out
    for r in out:
        # DP optimality certificate
        assert r.dp_badness <= r.greedy_badness
        assert 1 <= r.dp_lines
        assert r.n_words >= 1


def test_hot_hand(spark):
    (r,) = rows(spark, "hot_hand_conditional")
    assert r.n_days > 0
    assert 0 <= r.p_up_ppm <= 1_000_000
    if r.p_up_after_2up_ppm is not None:
        assert 0 <= r.p_up_after_2up_ppm <= 1_000_000
