"""Wave 99-104 invariants: semantic laws and Python cross-checks for the
HITS / apportionment / FDR / SPC / JSD / Simpson / Holt / streaks /
rank-statistics / runs-test / Neyman queries. Values are oracle-checked
by test_queries_oracle; these tests pin the math against independent
pure-Python reimplementations on the sf0.001 fixture.
"""

from __future__ import annotations

import math

import pyarrow.parquet as pq

from pyspark_movie_recommender_spark import queries as Q

SF = "/root/testdata/sf0.001"


def rows(spark, name):
    return Q.QUERIES[name](spark, SF).collect()


def _tbl(name, cols):
    t = pq.read_table(f"{SF}/{name}.parquet", columns=list(cols))
    return t.to_pydict()


# --- wave 99: HITS, apportionment ------------------------------------------


def test_hits_matches_python_power_iteration(spark):
    r = rows(spark, "hits_hub_authority")
    hub = {x.node_key: x.score for x in r if x.kind == "hub"}
    auth = {x.node_key: x.score for x in r if x.kind == "authority"}
    assert max(hub.values()) == 1.0 and max(auth.values()) == 1.0
    assert all(0 < v <= 1 for v in hub.values())
    assert all(0 < v <= 1 for v in auth.values())

    o = _tbl("orders", ["o_orderkey", "o_custkey"])
    li = _tbl("lineitem", ["l_orderkey", "l_suppkey"])
    cust_of = dict(zip(o["o_orderkey"], o["o_custkey"]))
    edges = sorted(
        {
            (cust_of[ok], s)
            for ok, s in zip(li["l_orderkey"], li["l_suppkey"])
            if ok in cust_of
        }
    )
    h = {c: 1.0 for c, _ in edges}
    a: dict[int, float] = {}
    for it in range(3):
        a = {}
        for c, s in edges:
            a[s] = a.get(s, 0.0) + h[c]
        mx = max(a.values())
        a = {k: v / mx for k, v in a.items()}
        h = {}
        for c, s in edges:
            h[c] = h.get(c, 0.0) + a[s]
        mx = max(h.values())
        h = {k: v / mx for k, v in h.items()}
    assert set(hub) == set(h) and set(auth) == set(a)
    assert all(abs(hub[k] - round(h[k], 6)) <= 1e-6 for k in h)
    assert all(abs(auth[k] - round(a[k], 6)) <= 1e-6 for k in a)


def test_apportionment_sums_to_exactly_100_and_matches_hamilton(spark):
    r = rows(spark, "seat_apportionment_revenue")
    assert sum(x.seats for x in r) == 100
    assert all(x.seats >= 0 for x in r)
    tot = sum(x.cents for x in r)
    quota = {x.n_name: x.cents * 100 / tot for x in r}
    floors = {k: int(v) for k, v in quota.items()}
    short = 100 - sum(floors.values())
    order = sorted(quota, key=lambda k: (-(quota[k] - floors[k]), k))
    # tie-break in the query is by nationkey; remainders here are distinct
    bonus = set(order[:short])
    for x in r:
        assert x.seats == floors[x.n_name] + (1 if x.n_name in bonus else 0)


# --- wave 100: BH-FDR, p-chart ---------------------------------------------


def test_bh_rejection_set_is_step_up_of_reported_pvalues(spark):
    r = sorted(rows(spark, "bh_fdr_nation_urgent"), key=lambda x: x.rnk)
    m = len(r)
    assert [x.rnk for x in r] == list(range(1, m + 1))
    ks = 0
    for x in r:
        if x.p_value * m <= x.rnk * 0.05:
            ks = x.rnk
    for x in r:
        assert x.rejected == (1 if x.rnk <= ks else 0)
    # p-values are sorted by rank
    ps = [x.p_value for x in r]
    assert ps == sorted(ps)


def test_p_chart_flags_follow_limits_and_counts_total(spark):
    r = rows(spark, "p_chart_weekly_late_orders")
    o = _tbl("orders", ["o_orderkey"])
    assert sum(x.n_orders for x in r) == len(o["o_orderkey"])
    for x in r:
        assert 0.0 <= x.lcl <= x.ucl
        assert x.n_late <= x.n_orders
        expected = 1 if (x.p_hat > x.ucl or x.p_hat < x.lcl) else 0
        # rounding at the boundary can only matter when p_hat == a limit
        if x.p_hat not in (x.ucl, x.lcl):
            assert x.out_of_control == expected


# --- wave 101: JSD, Simpson ------------------------------------------------


def test_jsd_is_bounded_and_covers_all_pairs(spark):
    r = rows(spark, "jsd_source_unigrams")
    srcs = set()
    for x in r:
        assert x.src_a < x.src_b
        assert -1e-9 <= x.jsd_bits <= 1.0 + 1e-9
        srcs.update((x.src_a, x.src_b))
    n = len(srcs)
    assert len(r) == n * (n - 1) // 2


def test_simpson_flag_is_sign_comparison(spark):
    r = rows(spark, "simpson_slope_audit")
    for x in r:
        assert x.sign_flip == (
            1 if (x.grp_slope > 0) != (x.pooled_slope > 0) else 0
        )


# --- wave 102: Holt, streaks -----------------------------------------------


def test_holt_matches_python_recurrence(spark):
    r = {x.event_type: x for x in rows(spark, "holt_linear_forecast")}
    ev = _tbl("events", ["ts", "event_type", "value"])
    daily: dict[tuple, float] = {}
    for ts, et, v in zip(ev["ts"], ev["event_type"], ev["value"]):
        day = ts.timestamp() // 86400
        daily[(et, day)] = daily.get((et, day), 0.0) + v
    series: dict[str, list] = {}
    for (et, day), y in daily.items():
        series.setdefault(et, []).append((day, round(y, 6)))
    for et, pts in series.items():
        ys = [y for _, y in sorted(pts)]
        l, b = ys[0], 0.0
        for y in ys[1:]:
            l_new = 0.5 * y + 0.5 * (l + b)
            b = 0.25 * (l_new - l) + 0.75 * b
            l = l_new
        got = r[et]
        assert got.n_days == len(ys)
        assert abs(got.level - round(l, 6)) <= 1e-6
        assert abs(got.trend - round(b, 6)) <= 1e-6
        assert abs(got.forecast_7d - round(l + 7 * b, 6)) <= 1e-6


def test_streaks_census_is_consistent(spark):
    r = rows(spark, "activity_streak_islands")
    ev = _tbl("events", ["ts", "user_id"])
    days: dict[int, set] = {}
    for ts, u in zip(ev["ts"], ev["user_id"]):
        days.setdefault(u, set()).add(int(ts.timestamp() // 86400))
    assert {x.user_id for x in r} == set(days)
    for x in r:
        d = sorted(days[x.user_id])
        assert x.n_active_days == len(d)
        runs, longest, cur = 1, 1, 1
        for a, b in zip(d, d[1:]):
            if b == a + 1:
                cur += 1
            else:
                runs += 1
                cur = 1
            longest = max(longest, cur)
        assert x.n_streaks == runs
        assert x.longest_streak == longest


# --- wave 103: rank statistics ---------------------------------------------


def _midranks(values):
    """value -> tie-averaged rank over the multiset."""
    from collections import Counter

    cnt = Counter(values)
    out, less = {}, 0
    for v in sorted(cnt):
        out[v] = less + (cnt[v] + 1) / 2
        less += cnt[v]
    return out


def test_kruskal_wallis_matches_python_midranks(spark):
    (r,) = rows(spark, "kruskal_wallis_quantity")
    li = _tbl("lineitem", ["l_returnflag", "l_quantity"])
    xs = list(zip(li["l_returnflag"], li["l_quantity"]))
    mid = _midranks([q for _, q in xs])
    n = len(xs)
    groups: dict[str, list] = {}
    for g, q in xs:
        groups.setdefault(g, []).append(mid[q])
    h = 12 / (n * (n + 1)) * sum(
        (sum(v) ** 2) / len(v) for v in groups.values()
    ) - 3 * (n + 1)
    from collections import Counter

    t3 = sum(c**3 - c for c in Counter(q for _, q in xs).values())
    corr = 1 - t3 / (n**3 - n)
    assert r.n_rows == n and r.n_groups == len(groups)
    assert abs(r.h_uncorrected - round(h, 6)) <= 1e-5
    assert abs(r.h_statistic - round(h / corr, 6)) <= 1e-5


def test_spearman_matches_python_midranks(spark):
    (r,) = rows(spark, "spearman_rank_corr")
    li = _tbl("lineitem", ["l_quantity", "l_discount"])
    xs, ys = li["l_quantity"], li["l_discount"]
    mx, my = _midranks(xs), _midranks(ys)
    rx = [mx[v] for v in xs]
    ry = [my[v] for v in ys]
    n = len(rx)
    sx, sy = sum(rx), sum(ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    sxx = sum(a * a for a in rx)
    syy = sum(b * b for b in ry)
    rho = (n * sxy - sx * sy) / math.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    assert r.n_rows == n
    assert abs(r.spearman_rho - round(rho, 6)) <= 1e-6


# --- wave 104: runs test, Neyman -------------------------------------------


def test_runs_test_matches_python(spark):
    (r,) = rows(spark, "runs_test_daily_value")
    ev = _tbl("events", ["ts", "value"])
    daily: dict[int, float] = {}
    for ts, v in zip(ev["ts"], ev["value"]):
        d = int(ts.timestamp() // 86400)
        daily[d] = daily.get(d, 0.0) + v
    ys = [round(daily[d], 6) for d in sorted(daily)]
    med = sorted(ys)[(len(ys) - 1) // 2]  # percentile_disc(0.5)
    signs = [1 if y > med else 0 for y in ys if y != med]
    runs = 1 + sum(a != b for a, b in zip(signs, signs[1:]))
    np_, nm = sum(signs), len(signs) - sum(signs)
    assert (r.n, r.n_plus, r.n_minus, r.runs) == (len(signs), np_, nm, runs)
    mu = 1 + 2 * np_ * nm / len(signs)
    assert abs(r.expected_runs - round(mu, 6)) <= 1e-6


def test_neyman_allocation_sums_to_budget(spark):
    r = rows(spark, "neyman_allocation_sampling")
    assert sum(x.sample_n for x in r) == 1000
    assert all(x.sample_n >= 0 for x in r)
    docs = _tbl("documents", ["source"])
    assert {x.source for x in r} == set(docs["source"])


# --- wave 111: Misra-Gries sketch laws --------------------------------------


def test_misra_gries_containment_and_lower_bounds(spark):
    from collections import Counter

    r = rows(spark, "misra_gries_heavy_hitters")
    got = {x.token: (x.lower_bound, x.global_decrement) for x in r}
    docs = _tbl("documents", ["text"])
    exact = Counter(
        w
        for t in docs["text"]
        if t and t.strip()
        for w in t.strip().lower().split()
    )
    n = sum(exact.values())
    k = 50
    # every reported count is a valid lower bound
    for tok, (lb, _) in got.items():
        assert lb <= exact[tok], (tok, lb, exact[tok])
    # containment: any token with frequency above the merged error
    # bound (per-partition n/(k+1) summed = n/(k+1) total, plus the
    # merge decrement) must be present
    dec = next(iter(got.values()))[1] if got else 0
    threshold = n / (k + 1) + dec
    for tok, c in exact.items():
        if c > threshold:
            assert tok in got, (tok, c, threshold)


# --- wave 117: approx_top_k exactness at low cardinality --------------------


def test_approx_topk_counts_match_exact(spark):
    from collections import Counter

    r = rows(spark, "approx_topk_event_types")
    ev = _tbl("events", ["event_type"])
    exact = Counter(ev["event_type"])
    assert len(r) == 3
    for x in r:
        assert exact[x.item] == x.cnt, (x.item, x.cnt, exact[x.item])
    # every type counted strictly above the smallest returned count is in
    min_cnt = min(x.cnt for x in r)
    returned = {x.item for x in r}
    for t, c in exact.items():
        if c > min_cnt:
            assert t in returned


# --- plan pins for session scale-shape claims -------------------------------


def test_repetition_loop_detector_is_map_side_only(spark):
    """The in-row HOF loop detector must not shuffle at all — its
    docstring's zero-shuffle claim, pinned."""
    from pyspark_movie_recommender_spark.plans import count_exchanges

    df = Q.QUERIES["repetition_loop_detector"](spark, SF)
    assert count_exchanges(df) == 0


def test_peak_concurrency_has_no_single_partition_exchange(spark):
    """distributed_prefix_sum must keep the sweep-line running sum off
    the 1-task Window.orderBy path: no Exchange SinglePartition in the
    physical plan."""
    from pyspark_movie_recommender_spark.plans import physical_plan

    df = Q.QUERIES["peak_concurrent_sessions"](spark, SF)
    assert "SinglePartition" not in physical_plan(df)


def test_in_row_gate_and_good_turing_share_one_exchange_shape(spark):
    """good_turing's two nested aggs reduce map-side: exactly the
    (source,w) and (source,r) hash aggregations' exchanges, no more."""
    from pyspark_movie_recommender_spark.plans import count_exchanges

    df = Q.QUERIES["good_turing_missing_mass"](spark, SF)
    assert count_exchanges(df) <= 3
