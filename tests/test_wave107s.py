"""Wave 107-124 invariants: algebraic laws and Python cross-checks for
the attribution / linkage / calibration / encoding / robust-fit wave
queries. Oracle equality is covered by test_queries_oracle; these pin
the MATH (identities, bounds, monotonicities) against independent
reasoning on the sf0.001 fixture.
"""

from __future__ import annotations

from collections import Counter

import pyarrow.parquet as pq

from pyspark_movie_recommender_spark import queries as Q

SF = "/root/testdata/sf0.001"


def rows(spark, name):
    return Q.QUERIES[name](spark, SF).collect()


def _tbl(name, cols):
    return pq.read_table(f"{SF}/{name}.parquet", columns=list(cols)).to_pydict()


# --- wave 107: Markov attribution, subsequence support ----------------------


def test_markov_removal_effects_are_probability_drops(spark):
    r = rows(spark, "markov_removal_attribution")
    assert {x.channel for x in r} == {"click", "error", "signup", "view"}
    for x in r:
        assert -1e-9 <= x.removal_effect <= 1.0 + 1e-9
        assert 0 <= x.attribution_ppm <= 1_000_000
    assert sum(x.attribution_ppm for x in r) <= 1_000_000


def test_subsequence_support_bounds_and_self_pairs(spark):
    r = rows(spark, "subsequence_pattern_support")
    ev = _tbl("events", ["ts", "event_id", "user_id", "event_type"])
    seqs: dict[int, list] = {}
    for ts, eid, u, et in sorted(
        zip(ev["ts"], ev["event_id"], ev["user_id"], ev["event_type"])
    ):
        seqs.setdefault(u, []).append(et)
    n_users = len(seqs)

    def contains(seq, a, b):
        try:
            i = seq.index(a)
        except ValueError:
            return False
        return b in seq[i + 1 :]

    for x in r:
        want = sum(contains(s, x.step_a, x.step_b) for s in seqs.values())
        assert x.n_users_containing == want, (x.step_a, x.step_b)
        assert x.support_ppm == want * 1_000_000 // n_users


# --- wave 114: Fellegi-Sunter ----------------------------------------------


def test_fellegi_sunter_posteriors_and_weight_order(spark):
    r = rows(spark, "fellegi_sunter_em_linkage")
    assert len(r) == 8
    by_pat = {(x.g1, x.g2, x.g3): x for x in r}
    for x in r:
        assert -1e-9 <= x.posterior_match <= 1 + 1e-9
    # full agreement must outweigh full disagreement
    assert (
        by_pat[(1, 1, 1)].match_weight > by_pat[(0, 0, 0)].match_weight
    )
    assert (
        by_pat[(1, 1, 1)].posterior_match
        >= by_pat[(0, 0, 0)].posterior_match
    )


# --- wave 119: raking, Platt ------------------------------------------------


def test_raking_weighted_margins_match_targets(spark):
    r = rows(spark, "raking_ipf_weights")
    ev_o = _tbl("orders", ["o_custkey"])
    n_orders = len(ev_o["o_custkey"])
    assert n_orders > 0
    # total weighted count equals total customers (targets sum to N after
    # the final column step)
    total_w = sum(x.n * x.weight for x in r)
    n_cust = sum(x.n for x in r)
    assert abs(total_w - n_cust) < 1e-2 * n_cust
    # after the final COLUMN step, each segment's weighted margin equals
    # its target share exactly (up to rounding of the reported weights)
    seg_w: dict[str, float] = {}
    for x in r:
        seg_w[x.seg] = seg_w.get(x.seg, 0.0) + x.n * x.weight
    assert len(seg_w) == 5


def test_platt_calibration_identity(spark):
    (r,) = rows(spark, "platt_scaling_calibration")
    # Newton on logistic loss converges to mean-prediction == base rate
    assert abs(r.mean_p - r.base_rate) < 5e-3


# --- wave 120: AIPW ---------------------------------------------------------


def test_doubly_robust_counts_and_finiteness(spark):
    (r,) = rows(spark, "doubly_robust_ate")
    o = _tbl("orders", ["o_orderkey"])
    assert r.n == len(o["o_orderkey"])
    for v in (r.naive_diff, r.regression_ate, r.aipw_ate):
        assert v == v and abs(v) < 1e9  # finite


# --- wave 121: masking, reconciliation --------------------------------------


def test_mlm_mask_counts_are_hash_exact(spark):
    r = rows(spark, "mlm_masking_plan")
    docs = _tbl("documents", ["doc_id", "text"])
    text_of = dict(zip(docs["doc_id"], docs["text"]))
    for x in r:
        toks = (
            text_of[x.doc_id].strip().lower().split()
            if text_of[x.doc_id] and text_of[x.doc_id].strip()
            else []
        )
        marked = [
            i
            for i in range(1, len(toks) + 1)
            if ((x.doc_id * 1000003 + i) * 2654435761) % 4294967296 % 100 < 15
        ]
        assert x.n_tokens == len(toks)
        assert x.n_masked == len(marked)
        assert x.first_mask_pos == (marked[0] if marked else 0)


def test_forecast_reconciliation_topdown_sums_to_total(spark):
    r = rows(spark, "forecast_reconciliation")
    bu_total = sum(x.fc_bottom for x in r)
    td_total = sum(x.fc_topdown for x in r)
    # floor-div split loses at most |regions|-1 cents
    assert 0 <= bu_total - td_total < len(r)
    for x in r:
        assert x.coherence_gap == x.fc_bottom - x.fc_topdown


# --- wave 122: encodings ----------------------------------------------------


def test_information_value_is_nonnegative(spark):
    r = rows(spark, "woe_iv_encoding")
    # IV is a sum of (difference * log-ratio) terms with matching signs
    assert r and all(x.iv_total >= -1e-9 for x in r)
    ivs = {x.iv_total for x in r}
    assert len(ivs) == 1  # reported once, identically, per bucket row


def test_oof_encoding_identity(spark):
    r = rows(spark, "oof_target_encoding")
    # (N_cat - n_cell) * oof_rate + s_cell == S_cat  (re-derivable)
    by_cat: dict[str, list] = {}
    for x in r:
        by_cat.setdefault(x.cat, []).append(x)
    for cat, cells in by_cat.items():
        n_cat = sum(c.n for c in cells)
        # full_rate identical across the category's cells
        assert len({c.full_rate for c in cells}) == 1
        s_cat = cells[0].full_rate * n_cat
        for c in cells:
            implied = c.oof_rate * (n_cat - c.n)
            assert abs((s_cat - implied) - (s_cat * c.n / n_cat)) < n_cat


# --- wave 123: Bradley-Terry, burst terms -----------------------------------


def test_bradley_terry_strengths_normalized_positive(spark):
    r = rows(spark, "bradley_terry_priorities")
    assert len(r) == 5
    assert all(x.strength > 0 for x in r)
    assert abs(sum(x.strength for x in r) - 5.0) < 1e-4
    # more total wins should not mean lower strength for the extremes
    best = max(r, key=lambda x: x.strength)
    worst = min(r, key=lambda x: x.strength)
    assert best.total_wins >= worst.total_wins


def test_burst_terms_sorted_and_supported(spark):
    r = rows(spark, "burst_terms_weekly")
    zs = [x.z for x in r]
    assert zs == sorted(zs, reverse=True)
    assert all(x.recent_count + x.past_count >= 20 for x in r)


# --- wave 124: Huber, variants ----------------------------------------------


def test_huber_scale_positive_and_slopes_finite(spark):
    (r,) = rows(spark, "huber_irls_regression")
    assert r.resid_scale > 0
    for v in (r.ols_slope, r.huber_slope, r.ols_intercept, r.huber_intercept):
        assert v == v and abs(v) < 1e9


def test_journey_variants_cover_users(spark):
    r = rows(spark, "journey_variant_census")
    ev = _tbl("events", ["user_id"])
    n_users = len(set(ev["user_id"]))
    assert sum(x.n_cases for x in r) <= n_users
    assert all(x.share_ppm == x.n_cases * 1_000_000 // n_users for x in r)
    counts = [x.n_cases for x in r]
    assert counts == sorted(counts, reverse=True)


# --- wave 111/113: compaction, Wasserstein ----------------------------------


def test_compaction_bins_are_monotone_and_bounded(spark):
    r = rows(spark, "compaction_plan_documents")
    by_src: dict[str, list] = {}
    for x in r:
        by_src.setdefault(x.source, []).append(x)
    for src, files in by_src.items():
        files.sort(key=lambda x: x.lang)
        bins = [f.out_file for f in files]
        assert bins == sorted(bins)  # next-fit never goes backwards
        cum = 0
        for f in files:
            assert f.out_file == cum // 262144
            cum += f.bytes


def test_wasserstein_against_python(spark):
    (r,) = rows(spark, "wasserstein_value_drift")
    o = _tbl("orders", ["o_orderdate", "o_totalprice"])
    days = [int(ts.timestamp() // 86400) for ts in o["o_orderdate"]]
    mid = (min(days) + max(days)) // 2
    v0 = sorted(
        round(p) for p, d in zip(o["o_totalprice"], days) if d < mid
    )
    v1 = sorted(
        round(p) for p, d in zip(o["o_totalprice"], days) if d >= mid
    )
    support = sorted(set(v0) | set(v1))
    c0 = Counter(v0)
    c1 = Counter(v1)
    f0 = f1 = 0.0
    w1 = 0.0
    ks = 0.0
    for v, v_next in zip(support, support[1:]):
        f0 += c0[v] / len(v0)
        f1 += c1[v] / len(v1)
        gap = abs(f0 - f1)
        ks = max(ks, gap)
        w1 += gap * (v_next - v)
    assert r.n0 == len(v0) and r.n1 == len(v1)
    # float accumulation order differs between this reference loop and
    # the engines' partial sums — compare to relative precision
    assert abs(r.w1_distance - w1) <= 1e-5 * abs(w1) + 1e-3
    assert abs(r.ks_distance - round(ks, 6)) <= 1e-6


# --- wave 129: sketch accuracy ----------------------------------------------


def test_sketch_errors_within_bounds(spark):
    r = rows(spark, "sketch_accuracy_audit")
    assert {x.metric for x in r} == {
        "hll_distinct_custkey",
        "approx_percentile_p50",
        "approx_percentile_p90",
    }
    for x in r:
        assert x.within_bound == 1, (x.metric, x.abs_error)


# --- wave 135: Soundex reference cross-check --------------------------------


def _py_soundex(w: str) -> str:
    """Reference Soundex (American), matching Spark's soundex()."""
    codes = {
        **dict.fromkeys("bfpv", "1"), **dict.fromkeys("cgjkqsxz", "2"),
        **dict.fromkeys("dt", "3"), "l": "4",
        **dict.fromkeys("mn", "5"), "r": "6",
    }
    w = w.lower()
    if not w or not w[0].isalpha():
        return w.upper()
    out = w[0].upper()
    prev = codes.get(w[0], "")
    for ch in w[1:]:
        c = codes.get(ch, "")
        if c and c != prev:
            out += c
        if ch not in "hw":
            prev = c
    return (out + "000")[:4]


def test_soundex_blocking_matches_reference(spark):
    from collections import Counter

    r = rows(spark, "soundex_name_blocking")
    p = _tbl("part", ["p_name"])
    words = [
        w
        for name in p["p_name"]
        for w in name.lower().split(" ")
        if len(w) >= 3
    ]
    occ = Counter(_py_soundex(w) for w in words)
    dis = {}
    for w in set(words):
        dis.setdefault(_py_soundex(w), set()).add(w)
    got = {x.sdx: (x.n_occurrences, x.n_distinct_words) for x in r}
    assert got == {k: (occ[k], len(dis[k])) for k in occ}
