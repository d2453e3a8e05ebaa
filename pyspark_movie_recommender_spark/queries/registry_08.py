"""Query registry part 8 of 12 — registration order preserved.

Split from the former single-module registry; see the package
__init__ for the registry dicts and the @query decorator. Helpers
defined in earlier parts are imported explicitly below.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark_movie_recommender_spark.operators import relational as R
from pyspark_movie_recommender_spark.operators.lineage import ckpt as _ckpt
from pyspark_movie_recommender_spark.driver_scalar import bounded_collect, scalar_row
from pyspark_movie_recommender_spark.queries import query
from pyspark_movie_recommender_spark.sources import load_table

from pyspark_movie_recommender_spark.queries.registry_06 import _TRADE_EDGE_SQL  # noqa: E501

@query(
    "coupon_collector_audit",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS i
        FROM events
    ), kk AS (
        SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM events
    ), fs AS (
        SELECT user_id, event_type, MIN(i) AS first_i
        FROM seq GROUP BY 1, 2
    ), per AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k_seen,
               CAST(MAX(first_i) AS BIGINT) AS coll
        FROM fs GROUP BY 1
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN k_seen = kk.k THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_collectors,
               AVG(CASE WHEN k_seen = kk.k THEN coll * 1.0 END) AS mean_coll
        FROM per, kk GROUP BY kk.k
    ), hk AS (
        SELECT SUM(1.0 / h.i) AS harm
        FROM kk, (SELECT UNNEST(generate_series(1, 100)) AS i) h
        WHERE h.i <= kk.k
    )
    SELECT stats.n_users, stats.n_collectors, kk.k AS k_types,
           CAST(ROUND(stats.mean_coll * 1000) AS BIGINT)
               AS mean_collect_draws_milli,
           CAST(ROUND(kk.k * hk.harm * 1000) AS BIGINT)
               AS expected_draws_milli,
           CAST(ROUND(stats.mean_coll / (kk.k * hk.harm) * 1000) AS BIGINT)
               AS obs_over_expected_milli
    FROM stats, kk, hk
    """,
)
def coupon_collector_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coupon-collector law audited on per-user event streams: each
    user 'collects' event types in stream order, the collection time
    is the index at which the last unseen type first appears, and the
    mean over users who completed the set is compared with the
    classical expectation k * H_k for k equally-likely coupons. The
    observed/expected ratio exposes how far real behavior is from the
    uniform-i.i.d. idealization (type imbalance and per-user habit
    both push it above 1) — the sequential sibling of
    `balls_in_bins_occupancy`'s static occupancy audit.

    Determinism: stream order has a total (ts, event_id) tie-break;
    first-seen indices, counts, and H_k (a <=100-term exact rational
    sum) are deterministic; milli rounding closes the audit.

    Scale shape: one window pass per user partition, a (user, type)
    hash agg, a per-user agg — three shuffles of shrinking width, no
    joins against the fact table.
    """
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "event_type",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("i"),
    )
    kk = ev.agg(F.countDistinct("event_type").cast("long").alias("k"))
    fs = seq.groupBy("user_id", "event_type").agg(F.min("i").alias("first_i"))
    per = fs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("k_seen"),
        F.max("first_i").cast("long").alias("coll"),
    )
    stats = per.crossJoin(F.broadcast(kk)).groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("k_seen") == F.col("k"), 1).otherwise(0))
        .cast("long")
        .alias("n_collectors"),
        F.avg(
            F.when(F.col("k_seen") == F.col("k"), F.col("coll") * 1.0)
        ).alias("mean_coll"),
    )
    hgrid = spark.range(1, 101).select(F.col("id").alias("i"))
    hk = (
        kk.crossJoin(F.broadcast(hgrid))
        .where(F.col("i") <= F.col("k"))
        .agg(F.sum(1.0 / F.col("i")).alias("harm"))
    )
    return stats.crossJoin(F.broadcast(hk)).select(
        "n_users",
        "n_collectors",
        F.col("k").alias("k_types"),
        F.round(F.col("mean_coll") * 1000)
        .cast("long")
        .alias("mean_collect_draws_milli"),
        F.round(F.col("k") * F.col("harm") * 1000)
        .cast("long")
        .alias("expected_draws_milli"),
        F.round(F.col("mean_coll") / (F.col("k") * F.col("harm")) * 1000)
        .cast("long")
        .alias("obs_over_expected_milli"),
    )


@query(
    "pattern_waiting_time_audit",
    oracle="""
    WITH top_t AS (
        SELECT event_type AS x FROM events
        GROUP BY 1 ORDER BY COUNT(*) DESC, event_type ASC LIMIT 1
    ), p AS (
        SELECT AVG(CASE WHEN e.event_type = top_t.x THEN 1.0 ELSE 0.0 END)
               AS p
        FROM events e, top_t
    ), seq AS (
        SELECT e.user_id,
               CASE WHEN e.event_type = top_t.x THEN 1 ELSE 0 END AS hit,
               ROW_NUMBER() OVER (
                   PARTITION BY e.user_id ORDER BY e.ts, e.event_id
               ) AS i
        FROM events e, top_t
    ), runs AS (
        SELECT user_id, i, hit,
               LAG(hit) OVER (PARTITION BY user_id ORDER BY i) AS prev
        FROM seq
    ), waits AS (
        SELECT user_id, MIN(i) AS w
        FROM runs WHERE hit = 1 AND prev = 1
        GROUP BY user_id
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users_with_pattern,
               AVG(w * 1.0) AS mean_wait
        FROM waits
    )
    SELECT (SELECT x FROM top_t) AS pattern_type,
           CAST(ROUND(p.p * 1000000) AS BIGINT) AS p_ppm,
           s.n_users_with_pattern,
           CAST(ROUND(s.mean_wait * 1000) AS BIGINT) AS mean_wait_milli,
           CAST(ROUND((1.0 / p.p + 1.0 / (p.p * p.p)) * 1000) AS BIGINT)
               AS conway_expected_milli,
           CAST(ROUND(s.mean_wait / (1.0 / p.p + 1.0 / (p.p * p.p)) * 1000)
                AS BIGINT) AS obs_over_expected_milli
    FROM p, s
    """,
)
def pattern_waiting_time_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conway pattern waiting time audited on event streams: for the
    corpus's most frequent event type X, the first index at which a
    user produces X twice in a row is compared with the
    correlation-polynomial expectation 1/p + 1/p^2 for the pattern XX
    (overlapping patterns wait LONGER than the naive 1/p^2 — the
    Conway leading-number correction). Censoring bias is explicit:
    only users who complete the pattern contribute, which pulls the
    observed mean down — read beside n_users_with_pattern. The
    pattern-level sibling of `markov_next_event_hit_rate` (one-step)
    and `coupon_collector_audit` (full-set).

    Determinism: X has a (count, name) tie-break; hits, lags, and
    first indices are exact; two divisions rounded to milli.

    Scale shape: one global type count (tiny), one LAG window per
    user, one per-user min — the same shrinking-shuffle ladder as the
    collector audit.
    """
    ev = load_table(spark, sf_dir, "events")
    top_t = (
        ev.groupBy(F.col("event_type").alias("x"))
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("x"))
        .limit(1)
        .select("x")
    )
    top_t = _ckpt(top_t)  # shared fan-out relation
    p = ev.crossJoin(F.broadcast(top_t)).agg(
        F.avg(
            F.when(F.col("event_type") == F.col("x"), 1.0).otherwise(0.0)
        ).alias("p")
    )
    seq = ev.crossJoin(F.broadcast(top_t)).select(
        "user_id",
        F.when(F.col("event_type") == F.col("x"), 1).otherwise(0).alias("hit"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("i"),
    )
    runs = seq.select(
        "user_id",
        "i",
        "hit",
        F.lag("hit").over(Window.partitionBy("user_id").orderBy("i")).alias(
            "prev"
        ),
    )
    waits = (
        runs.where((F.col("hit") == 1) & (F.col("prev") == 1))
        .groupBy("user_id")
        .agg(F.min("i").alias("w"))
    )
    s = waits.agg(
        F.count(F.lit(1)).cast("long").alias("n_users_with_pattern"),
        F.avg(F.col("w") * 1.0).alias("mean_wait"),
    )
    expct = 1.0 / F.col("p") + 1.0 / (F.col("p") * F.col("p"))
    return (
        top_t.crossJoin(F.broadcast(p))
        .crossJoin(F.broadcast(s))
        .select(
            F.col("x").alias("pattern_type"),
            F.round(F.col("p") * 1000000).cast("long").alias("p_ppm"),
            "n_users_with_pattern",
            F.round(F.col("mean_wait") * 1000).cast("long").alias(
                "mean_wait_milli"
            ),
            F.round(expct * 1000).cast("long").alias("conway_expected_milli"),
            F.round(F.col("mean_wait") / expct * 1000)
            .cast("long")
            .alias("obs_over_expected_milli"),
        )
    )


@query(
    "lomb_scargle_events",
    oracle="""
    WITH pts AS (
        SELECT CAST(epoch_ms(ts) AS DOUBLE) / 86400000.0 AS t, value AS y
        FROM events
    ), mu AS (SELECT AVG(y) AS m, VAR_SAMP(y) AS v,
                     CAST(COUNT(*) AS BIGINT) AS n FROM pts
    ), per(p) AS (VALUES (3.5), (7.0), (14.0), (30.0)
    ), tau AS (
        SELECT per.p,
               atan2(SUM(sin(2 * (2 * pi() / per.p) * pts.t)),
                     SUM(cos(2 * (2 * pi() / per.p) * pts.t)))
               / (2 * (2 * pi() / per.p)) AS tau
        FROM pts CROSS JOIN per GROUP BY per.p
    ), pw AS (
        SELECT tau.p,
               0.5 * (
                   POWER(SUM((pts.y - mu.m)
                         * cos((2 * pi() / tau.p) * (pts.t - tau.tau))), 2)
                   / SUM(POWER(cos((2 * pi() / tau.p) * (pts.t - tau.tau)), 2))
                 + POWER(SUM((pts.y - mu.m)
                         * sin((2 * pi() / tau.p) * (pts.t - tau.tau))), 2)
                   / SUM(POWER(sin((2 * pi() / tau.p) * (pts.t - tau.tau)), 2))
               ) AS power
        FROM pts CROSS JOIN tau CROSS JOIN mu
        GROUP BY tau.p, mu.v
    )
    SELECT CAST(ROUND(pw.p * 1000) AS BIGINT) AS period_milli_days,
           CAST(ROUND(pw.power / ((mu.n - 1) * mu.v / 2) * 1000000) AS BIGINT)
               AS ls_power_norm_micro
    FROM pw, mu
    """,
)
def lomb_scargle_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lomb-Scargle periodogram of event VALUES at their raw irregular
    timestamps, probing periods of 3.5 / 7 / 14 / 30 days: the
    phase-shift tau makes the sinusoid fit invariant to time origin,
    and the two-term normalized power is the least-squares spectral
    estimate VALID FOR UNEVEN SAMPLING — where
    `goertzel_periodogram_daily` and `dominant_period_scan` must
    first force the data onto a daily grid (aliasing the in-day
    structure away), Lomb-Scargle reads the clock directly.
    Normalization by (n-1) sigma^2 / 2 puts white noise at ~1e-5-ish
    per-frequency power.

    Determinism: timestamps are exact epoch-ms integers scaled once;
    the trig sums tolerate summation-order noise ~9 digits below the
    micro rounding of normalized power.

    Scale shape: two scalar aggregation passes over the fact table
    (tau, then power) per period — the 4-period grid rides one cross
    join; no window, no join, no sort.
    """
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        (F.unix_millis(F.col("ts").cast("timestamp")).cast("double") / 86400000.0).alias("t"),
        F.col("value").alias("y"),
    )
    mu = pts.agg(
        F.avg("y").alias("m"),
        F.var_samp("y").alias("v"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    per = spark.createDataFrame([(3.5,), (7.0,), (14.0,), (30.0,)], "p double")
    w = 2 * 3.141592653589793 / F.col("p")
    tau = (
        pts.crossJoin(F.broadcast(per))
        .groupBy("p")
        .agg(
            (
                F.atan2(
                    F.sum(F.sin(2 * w * F.col("t"))),
                    F.sum(F.cos(2 * w * F.col("t"))),
                )
                / (2 * w)
            ).alias("tau")
        )
    )
    ph = w * (F.col("t") - F.col("tau"))
    pw = (
        pts.crossJoin(F.broadcast(tau))
        .crossJoin(F.broadcast(mu))
        .groupBy("p", "v")
        .agg(
            (
                0.5
                * (
                    F.pow(F.sum((F.col("y") - F.col("m")) * F.cos(ph)), 2)
                    / F.sum(F.pow(F.cos(ph), 2))
                    + F.pow(F.sum((F.col("y") - F.col("m")) * F.sin(ph)), 2)
                    / F.sum(F.pow(F.sin(ph), 2))
                )
            ).alias("power")
        )
    )
    return pw.crossJoin(F.broadcast(mu.select("n"))).select(
        F.round(F.col("p") * 1000).cast("long").alias("period_milli_days"),
        F.round(
            F.col("power") / ((F.col("n") - 1) * F.col("v") / 2) * 1000000
        )
        .cast("long")
        .alias("ls_power_norm_micro"),
    )


@query(
    "allan_variance_daily",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS d, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), idx AS (
        SELECT ROW_NUMBER() OVER (ORDER BY d) AS i, c FROM daily
    ), taus(tau) AS (VALUES (1), (2), (4), (8), (16)
    ), avgs AS (
        -- mean of the tau-day window starting at i (exact rational)
        SELECT taus.tau, a.i,
               SUM(b.c) * 1.0 / taus.tau AS ybar,
               CAST(COUNT(*) AS BIGINT) AS got
        FROM idx a JOIN taus ON TRUE
        JOIN idx b ON b.i >= a.i AND b.i < a.i + taus.tau
        GROUP BY taus.tau, a.i HAVING COUNT(*) = taus.tau
    ), pairs AS (
        SELECT x.tau, x.ybar AS y0, y.ybar AS y1
        FROM avgs x JOIN avgs y ON y.tau = x.tau AND y.i = x.i + x.tau
    ), av AS (
        SELECT tau, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               SUM(POWER(y1 - y0, 2)) / (2 * COUNT(*)) AS a2
        FROM pairs GROUP BY tau
    )
    SELECT CAST(tau AS BIGINT) AS tau_days, n_pairs,
           CAST(ROUND(a2 * 1000) AS BIGINT) AS allan_var_milli
    FROM av
    """,
)
def allan_variance_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping Allan variance of the daily event-count series at
    averaging times tau = 1..16 days: adjacent tau-day cluster means
    are differenced and half their mean square is the Allan variance
    — the clock-stability statistic whose log-log slope versus tau
    identifies the noise TYPE (white: slope -1; flicker: flat;
    random-walk drift: +1), which a single variance number or the
    ACF cannot separate. The multi-scale companion of
    `dispersion_index_daily` and `hurst_rescaled_range`.

    Determinism: cluster means are exact integer sums over a single
    division by tau; pair differences and the final sums are doubles
    rounded at milli on counts O(100).

    Scale shape: one date agg to the ~2.2k-day series; window means
    come from a blocked self-join on the tiny index relation (the
    daily series is calendar-bounded, so the tau x day lattice is
    ~11k rows at ANY corpus scale).
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).alias("i"), "c"
    ).transform(_ckpt)
    taus = spark.createDataFrame([(1,), (2,), (4,), (8,), (16,)], "tau long")
    a, b = idx.alias("a"), idx.alias("b")
    avgs = (
        a.crossJoin(F.broadcast(taus))
        .join(
            b,
            (F.col("b.i") >= F.col("a.i"))
            & (F.col("b.i") < F.col("a.i") + F.col("tau")),
        )
        .groupBy("tau", F.col("a.i").alias("i"))
        .agg(
            (F.sum("b.c") * 1.0 / F.col("tau")).alias("ybar"),
            F.count(F.lit(1)).alias("got"),
        )
        .where(F.col("got") == F.col("tau"))
    )
    x, y = avgs.alias("x"), avgs.alias("y")
    pairs = x.join(
        y,
        (F.col("y.tau") == F.col("x.tau"))
        & (F.col("y.i") == F.col("x.i") + F.col("x.tau")),
    ).select(
        F.col("x.tau").alias("tau"),
        (F.col("y.ybar") - F.col("x.ybar")).alias("diff"),
    )
    av = pairs.groupBy("tau").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (F.sum(F.pow(F.col("diff"), 2)) / (2 * F.count(F.lit(1)))).alias("a2"),
    )
    return av.select(
        F.col("tau").cast("long").alias("tau_days"),
        "n_pairs",
        F.round(F.col("a2") * 1000).cast("long").alias("allan_var_milli"),
    )


@query(
    "rousseeuw_croux_scale",
    oracle="""
    WITH v AS (
        SELECT c_nationkey AS nk,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS x,
               c_custkey AS id
        FROM customer
    ), n AS (
        SELECT nk, CAST(COUNT(*) AS BIGINT) AS n,
               STDDEV_SAMP(x * 1.0) AS sd
        FROM v GROUP BY nk
    ), pd AS (
        SELECT a.nk, ABS(a.x - b.x) AS d,
               ROW_NUMBER() OVER (
                   PARTITION BY a.nk ORDER BY ABS(a.x - b.x), a.id, b.id
               ) AS r
        FROM v a JOIN v b ON a.nk = b.nk AND a.id < b.id
    ), qn AS (
        SELECT pd.nk, pd.d AS qn_raw
        FROM pd JOIN n ON n.nk = pd.nk
        WHERE pd.r = ((n.n // 2 + 1) * (n.n // 2)) // 2
    ), inner_med AS (
        SELECT a.nk, a.id,
               PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY ABS(a.x - b.x))
                   AS im
        FROM v a JOIN v b ON a.nk = b.nk AND a.id <> b.id
        GROUP BY a.nk, a.id
    ), sn AS (
        SELECT nk,
               PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY im) AS sn_raw
        FROM inner_med GROUP BY nk
    )
    SELECT CAST(n.nk AS BIGINT) AS nation_key, n.n AS n_customers,
           CAST(ROUND(2.2219 * qn.qn_raw) AS BIGINT) AS qn_cents,
           CAST(ROUND(1.1926 * sn.sn_raw) AS BIGINT) AS sn_cents,
           CAST(ROUND(n.sd) AS BIGINT) AS stddev_cents
    FROM n JOIN qn ON qn.nk = n.nk JOIN sn ON sn.nk = n.nk
    """,
)
def rousseeuw_croux_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rousseeuw-Croux robust scale estimators per nation on customer
    balances: Qn = 2.2219 x the k-th smallest pairwise absolute
    difference (k = C(n/2+1, 2)) and Sn = 1.1926 x the median over
    customers of their median distance to everyone else. Both reach
    50% breakdown WITHOUT a location estimate (unlike MAD, which
    inherits the median's asymmetry bias) and keep ~82% / ~58%
    Gaussian efficiency versus MAD's 37% — reported beside the
    classical standard deviation, whose inflation factor is the
    nation's outlier signature.

    Determinism: balances are exact cents, pair distances exact
    integers with total tie-breaks on the rank path, and medians are
    PERCENTILE_DISC data values.

    Scale shape: pairwise work is nation-blocked (n ~ 60 per block
    regardless of scale factor, since TPC-H nations scale in
    membership, not count — the C(n,2) per block grows, and the
    documented scale path is per-block sampling); ranks and medians
    run inside each block's partition.
    """
    cst = load_table(spark, sf_dir, "customer")
    v = cst.select(
        F.col("c_nationkey").alias("nk"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("x"),
        F.col("c_custkey").alias("id"),
    )
    n = v.groupBy("nk").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.stddev_samp(F.col("x") * 1.0).alias("sd"),
    )
    n = _ckpt(n)  # shared fan-out relation
    a, b = v.alias("a"), v.alias("b")
    pd = a.join(
        b, (F.col("a.nk") == F.col("b.nk")) & (F.col("a.id") < F.col("b.id"))
    ).select(
        F.col("a.nk").alias("nk"),
        F.abs(F.col("a.x") - F.col("b.x")).alias("d"),
        F.col("a.id").alias("ia"),
        F.col("b.id").alias("ib"),
    ).withColumn(
        "r",
        F.row_number().over(
            Window.partitionBy("nk").orderBy("d", "ia", "ib")
        ),
    )
    qn = pd.join(F.broadcast(n), "nk").where(
        F.col("r")
        == F.floor(
            (F.floor(F.col("n") / 2) + 1) * F.floor(F.col("n") / 2) / 2
        )
    ).select("nk", F.col("d").alias("qn_raw"))
    ne = a.join(
        b, (F.col("a.nk") == F.col("b.nk")) & (F.col("a.id") != F.col("b.id"))
    ).select(
        F.col("a.nk").alias("nk"),
        F.col("a.id").alias("id"),
        F.abs(F.col("a.x") - F.col("b.x")).alias("d"),
    )
    inner_med = ne.groupBy("nk", "id").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY d)").alias("im")
    )
    sn = inner_med.groupBy("nk").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY im)").alias(
            "sn_raw"
        )
    )
    return (
        n.join(qn, "nk")
        .join(sn, "nk")
        .select(
            F.col("nk").cast("long").alias("nation_key"),
            F.col("n").alias("n_customers"),
            F.round(2.2219 * F.col("qn_raw")).cast("long").alias("qn_cents"),
            F.round(1.1926 * F.col("sn_raw")).cast("long").alias("sn_cents"),
            F.round(F.col("sd")).cast("long").alias("stddev_cents"),
        )
    )


@query(
    "hodges_lehmann_location",
    oracle="""
    WITH v AS (
        SELECT c_nationkey AS nk,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS x,
               c_custkey AS id
        FROM customer
    ), walsh AS (
        SELECT a.nk, (a.x + b.x) / 2.0 AS w
        FROM v a JOIN v b ON a.nk = b.nk AND a.id <= b.id
    ), hl AS (
        SELECT nk, PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY w) AS hl
        FROM walsh GROUP BY nk
    ), cls AS (
        SELECT nk, AVG(x * 1.0) AS mean_x,
               PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY x) AS med_x,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM v GROUP BY nk
    )
    SELECT CAST(cls.nk AS BIGINT) AS nation_key, cls.n AS n_customers,
           CAST(ROUND(hl.hl) AS BIGINT) AS hodges_lehmann_cents,
           CAST(ROUND(cls.mean_x) AS BIGINT) AS mean_cents,
           CAST(cls.med_x AS BIGINT) AS median_cents,
           CAST(ROUND(cls.mean_x - hl.hl) AS BIGINT) AS mean_minus_hl_cents
    FROM cls JOIN hl ON hl.nk = cls.nk
    """,
)
def hodges_lehmann_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann pseudo-median per nation: the median of all
    Walsh averages (x_i + x_j)/2 over customer-balance pairs (i <=
    j) — the location estimator dual to the Wilcoxon signed-rank
    test, with 29% breakdown and ~95% Gaussian efficiency: nearly as
    efficient as the mean, nearly as robust as the median, and for
    skewed data strictly between them. The mean - HL gap column is a
    robust skewness signal that pairs with `rousseeuw_croux_scale`'s
    sd/Qn inflation on the dispersion side.

    Determinism: Walsh averages are exact .5-grid rationals from
    integer cents; PERCENTILE_DISC picks data values; means rounded
    once.

    Scale shape: same nation-blocked pair lattice as the scale
    query; the median runs per block partition.
    """
    cst = load_table(spark, sf_dir, "customer")
    v = cst.select(
        F.col("c_nationkey").alias("nk"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("x"),
        F.col("c_custkey").alias("id"),
    )
    a, b = v.alias("a"), v.alias("b")
    walsh = a.join(
        b, (F.col("a.nk") == F.col("b.nk")) & (F.col("a.id") <= F.col("b.id"))
    ).select(
        F.col("a.nk").alias("nk"),
        ((F.col("a.x") + F.col("b.x")) / 2.0).alias("w"),
    )
    hl = walsh.groupBy("nk").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY w)").alias("hl")
    )
    cls = v.groupBy("nk").agg(
        F.avg(F.col("x") * 1.0).alias("mean_x"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)").alias("med_x"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return cls.join(hl, "nk").select(
        F.col("nk").cast("long").alias("nation_key"),
        F.col("n").alias("n_customers"),
        F.round(F.col("hl")).cast("long").alias("hodges_lehmann_cents"),
        F.round(F.col("mean_x")).cast("long").alias("mean_cents"),
        F.col("med_x").cast("long").alias("median_cents"),
        F.round(F.col("mean_x") - F.col("hl")).cast("long").alias(
            "mean_minus_hl_cents"
        ),
    )


@query(
    "johnsons_rule_flowshop",
    oracle="""
    WITH jobs AS (
        SELECT l.l_suppkey AS sk, l.l_orderkey AS ok, l.l_linenumber AS ln,
               CAST(l.l_quantity AS BIGINT) AS a,
               CAST(date_diff('day', o.o_orderdate, l.l_shipdate) + 1
                    AS BIGINT) AS b
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate >= o.o_orderdate
    ), jseq AS (
        SELECT sk, a, b,
               SUM(a) OVER (PARTITION BY sk
                   ORDER BY CASE WHEN a <= b THEN 0 ELSE 1 END,
                            CASE WHEN a <= b THEN a ELSE -b END, ok, ln
                   ROWS UNBOUNDED PRECEDING) AS ca,
               SUM(b) OVER (PARTITION BY sk
                   ORDER BY CASE WHEN a <= b THEN 0 ELSE 1 END,
                            CASE WHEN a <= b THEN a ELSE -b END, ok, ln
                   ROWS UNBOUNDED PRECEDING) AS cb
        FROM jobs
    ), fseq AS (
        SELECT sk, a, b,
               SUM(a) OVER (PARTITION BY sk ORDER BY ok, ln
                   ROWS UNBOUNDED PRECEDING) AS ca,
               SUM(b) OVER (PARTITION BY sk ORDER BY ok, ln
                   ROWS UNBOUNDED PRECEDING) AS cb
        FROM jobs
    ), jm AS (
        SELECT sk, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MAX(cb) + MAX(ca - (cb - b)) AS BIGINT) AS mk
        FROM jseq GROUP BY sk
    ), fm AS (
        SELECT sk, CAST(MAX(cb) + MAX(ca - (cb - b)) AS BIGINT) AS mk
        FROM fseq GROUP BY sk
    )
    SELECT CAST(jm.sk AS BIGINT) AS supp_key, jm.n AS n_jobs,
           jm.mk AS johnson_makespan, fm.mk AS fifo_makespan,
           CAST(ROUND((fm.mk - jm.mk) * 1000000.0 / fm.mk) AS BIGINT)
               AS saving_ppm
    FROM jm JOIN fm ON fm.sk = jm.sk
    """,
)
def johnsons_rule_flowshop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson's rule for the two-machine flow shop, replayed per
    supplier: each lineitem is a job with stage-A time = quantity and
    stage-B time = ship latency days; Johnson's provably-optimal
    sequence (a <= b jobs by ascending a, then the rest by descending
    b) is scored against FIFO arrival order. The makespan uses the
    closed identity C = B_n + max_i (A_i - B_{i-1}) — the bottleneck
    prefix form that turns the sequential Gantt recurrence into one
    window max, so no iterative simulation is needed. Johnson <= FIFO
    on every supplier is the optimality invariant the tests pin.

    Determinism: integer job times; both sequences carry total
    (key, orderkey, linenumber) orders; makespans are exact integer
    window arithmetic.

    Scale shape: one join shuffle, then two sorted-window passes per
    supplier partition — same shape as `edd_wspt_schedule_audit`,
    with the makespan identity replacing per-step simulation.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    jobs = (
        li.join(
            o.select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"),
            "l_orderkey",
        )
        .where(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.col("l_suppkey").alias("sk"),
            F.col("l_orderkey").alias("ok"),
            F.col("l_linenumber").alias("ln"),
            F.col("l_quantity").cast("long").alias("a"),
            (F.datediff("l_shipdate", "o_orderdate") + 1).cast("long").alias("b"),
        )
    )
    jkey = [
        F.when(F.col("a") <= F.col("b"), 0).otherwise(1),
        F.when(F.col("a") <= F.col("b"), F.col("a")).otherwise(-F.col("b")),
        F.col("ok"),
        F.col("ln"),
    ]
    wj = (
        Window.partitionBy("sk")
        .orderBy(*jkey)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("sk")
        .orderBy("ok", "ln")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    def makespan(w) -> DataFrame:
        seq = jobs.select(
            "sk",
            "b",
            F.sum("a").over(w).alias("ca"),
            F.sum("b").over(w).alias("cb"),
        )
        return seq.groupBy("sk").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (
                F.max("cb")
                + F.max(F.col("ca") - (F.col("cb") - F.col("b")))
            )
            .cast("long")
            .alias("mk"),
        )

    jm = makespan(wj)
    fm = makespan(wf).select(F.col("sk"), F.col("mk").alias("fmk"))
    return jm.join(fm, "sk").select(
        F.col("sk").cast("long").alias("supp_key"),
        F.col("n").alias("n_jobs"),
        F.col("mk").alias("johnson_makespan"),
        F.col("fmk").alias("fifo_makespan"),
        F.round((F.col("fmk") - F.col("mk")) * 1000000.0 / F.col("fmk"))
        .cast("long")
        .alias("saving_ppm"),
    )


@query(
    "conditional_entropy_ladder",
    oracle="""
    WITH chars AS (
        SELECT source, lower(trim(text)) AS s FROM documents
        WHERE length(trim(text)) >= 3
    ), g AS (
        SELECT source, substr(s, i.i, 3) AS tri
        FROM chars,
             LATERAL (SELECT unnest(generate_series(1, length(s) - 2)) AS i) i
    ), h3c AS (
        SELECT source, tri, CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY 1, 2
    ), h2c AS (
        SELECT source, substr(tri, 1, 2) AS bi, CAST(SUM(n) AS BIGINT) AS n
        FROM h3c GROUP BY 1, 2
    ), h1c AS (
        SELECT source, substr(bi, 1, 1) AS un, CAST(SUM(n) AS BIGINT) AS n
        FROM h2c GROUP BY 1, 2
    ), tot AS (
        SELECT source, CAST(SUM(n) AS BIGINT) AS t FROM h1c GROUP BY 1
    ), ent AS (
        SELECT tot.source, tot.t,
               -(SELECT SUM((c.n * 1.0 / tot.t) * ln(c.n * 1.0 / tot.t))
                 FROM h1c c WHERE c.source = tot.source) / ln(2.0) AS h1,
               -(SELECT SUM((c.n * 1.0 / tot.t) * ln(c.n * 1.0 / tot.t))
                 FROM h2c c WHERE c.source = tot.source) / ln(2.0) AS h2,
               -(SELECT SUM((c.n * 1.0 / tot.t) * ln(c.n * 1.0 / tot.t))
                 FROM h3c c WHERE c.source = tot.source) / ln(2.0) AS h3
        FROM tot
    )
    SELECT source, t AS n_grams,
           CAST(ROUND(h1 * 1000) AS BIGINT) AS h1_milli_bits,
           CAST(ROUND((h2 - h1) * 1000) AS BIGINT) AS h2_cond_milli_bits,
           CAST(ROUND((h3 - h2) * 1000) AS BIGINT) AS h3_cond_milli_bits
    FROM ent
    """,
)
def conditional_entropy_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level conditional entropy ladder per source: from one
    trigram count table, the block entropies H1 <= H2 <= H3 yield the
    conditional bits-per-character H(X), H(X|prev), H(X|prev two) —
    Shannon's classic estimate of the entropy RATE by increasing
    context. The drop from h1 to h3_cond is exactly what a context
    model (or LLM) can exploit beyond the order-0
    `char_entropy_compressibility` bound; sources whose ladder stays
    flat are near-random (encoding junk, the
    `encoding_health_by_source` failure mode, shows up precisely
    here).

    Determinism: all three levels aggregate the SAME trigram pass
    (bigrams/unigrams are prefix re-aggregations, so the three
    distributions share one support and one total); entropy sums are
    milli-rounded.

    Scale shape: one explode + (source, trigram) hash agg with
    map-side combine; the bigram and unigram tables derive from the
    trigram table, never re-scanning text.
    """
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "source", F.lower(F.trim(F.col("text"))).alias("s")
    ).where(F.length(F.trim(F.col("text"))) >= 3)
    g = chars.select(
        "source",
        F.explode(F.sequence(F.lit(1), F.length("s") - 2)).alias("i"),
        "s",
    ).select("source", F.expr("substring(s, i, 3)").alias("tri"))
    h3c = g.groupBy("source", "tri").agg(F.count(F.lit(1)).cast("long").alias("n"))
    h3c = _ckpt(h3c)  # shared fan-out relation
    h2c = h3c.groupBy(
        "source", F.expr("substring(tri, 1, 2)").alias("bi")
    ).agg(F.sum("n").cast("long").alias("n"))
    h2c = _ckpt(h2c)  # shared fan-out relation
    h1c = h2c.groupBy(
        "source", F.expr("substring(bi, 1, 1)").alias("un")
    ).agg(F.sum("n").cast("long").alias("n"))
    h1c = _ckpt(h1c)  # shared fan-out relation
    tot = h1c.groupBy("source").agg(F.sum("n").cast("long").alias("t"))
    tot = _ckpt(tot)  # shared fan-out relation

    def ent(cnts: DataFrame, out: str) -> DataFrame:
        return (
            cnts.join(F.broadcast(tot), "source")
            .groupBy("source")
            .agg(
                (
                    -F.sum(
                        (F.col("n") * 1.0 / F.col("t"))
                        * F.log(F.col("n") * 1.0 / F.col("t"))
                    )
                    / F.log(F.lit(2.0))
                ).alias(out)
            )
        )

    e1 = ent(h1c, "h1")
    e2 = ent(h2c, "h2")
    e3 = ent(h3c, "h3")
    return (
        tot.join(e1, "source")
        .join(e2, "source")
        .join(e3, "source")
        .select(
            "source",
            F.col("t").alias("n_grams"),
            F.round(F.col("h1") * 1000).cast("long").alias("h1_milli_bits"),
            F.round((F.col("h2") - F.col("h1")) * 1000)
            .cast("long")
            .alias("h2_cond_milli_bits"),
            F.round((F.col("h3") - F.col("h2")) * 1000)
            .cast("long")
            .alias("h3_cond_milli_bits"),
        )
    )


@query(
    "distribution_aic_tournament",
    oracle="""
    WITH v AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) / 100.0 AS x
        FROM orders
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
               SUM(ln(x)) AS slx, AVG(ln(x)) AS mlx,
               VAR_POP(ln(x)) AS vlx, MIN(x) AS xm
        FROM v
    ), fits AS (
        SELECT 'exponential' AS model, 1 AS k,
               n * ln(n / sx) - (n / sx) * sx AS ll
        FROM s
        UNION ALL
        SELECT 'lognormal', 2,
               -slx - n / 2.0 * ln(2 * pi() * vlx) - n / 2.0
        FROM s
        UNION ALL
        SELECT 'pareto', 2,
               n * ln(n / (slx - n * ln(xm)))
               + n * (n / (slx - n * ln(xm))) * ln(xm)
               - (n / (slx - n * ln(xm)) + 1) * slx
        FROM s
    ), scored AS (
        SELECT model, k, ll, 2 * k - 2 * ll AS aic,
               ROW_NUMBER() OVER (ORDER BY 2 * k - 2 * ll ASC, model ASC)
                   AS rk
        FROM fits
    )
    SELECT model, CAST(k AS BIGINT) AS k_params,
           CAST(ROUND(ll) AS BIGINT) AS loglik_nats,
           CAST(ROUND(2 * k - 2 * ll) AS BIGINT) AS aic_nats,
           CAST(rk AS BIGINT) AS aic_rank
    FROM scored
    """,
)
def distribution_aic_tournament(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AIC tournament between three closed-form maximum-likelihood
    fits of the order-value distribution — exponential (lambda =
    n / sum x), lognormal (log-moment MLEs), and Pareto (Hill MLE
    anchored at the minimum) — each scored by 2k - 2 logL and ranked.
    The individual fit queries (`lognormal_fit_gof`,
    `gamma_mom_interarrival`, `hill_tail_index_orders`) each assess
    one family in isolation; the tournament answers the model-
    SELECTION question they leave open, with the parameter-count
    penalty making the comparison honest.

    Determinism: all three MLEs and log-likelihoods are closed
    expressions of five global sums; whole-nat rounding sits ~6
    digits above summation-order noise; ranks tie-break on model
    name.

    Scale shape: one scalar aggregate over the fact table feeds all
    three fits — adding a candidate family costs zero extra scans.
    """
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        (F.round(F.col("o_totalprice") * 100).cast("long") / 100.0).alias("x")
    )
    s = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.log("x")).alias("slx"),
        F.var_pop(F.log("x")).alias("vlx"),
        F.min("x").alias("xm"),
    )
    lam = F.col("n") / F.col("sx")
    alpha = F.col("n") / (F.col("slx") - F.col("n") * F.log("xm"))
    fits = None
    for model, k, ll in [
        ("exponential", 1, F.col("n") * F.log(lam) - lam * F.col("sx")),
        (
            "lognormal",
            2,
            -F.col("slx")
            - F.col("n") / 2.0 * F.log(2 * 3.141592653589793 * F.col("vlx"))
            - F.col("n") / 2.0,
        ),
        (
            "pareto",
            2,
            F.col("n") * F.log(alpha)
            + F.col("n") * alpha * F.log("xm")
            - (alpha + 1) * F.col("slx"),
        ),
    ]:
        row = s.select(
            F.lit(model).alias("model"), F.lit(k).alias("k"), ll.alias("ll")
        )
        fits = row if fits is None else fits.unionAll(row)
    scored = fits.select(
        "model",
        "k",
        "ll",
        (2 * F.col("k") - 2 * F.col("ll")).alias("aic"),
        F.row_number()
        .over(Window.orderBy(F.asc(2 * F.col("k") - 2 * F.col("ll")), F.asc("model")))
        .alias("rk"),
    )
    return scored.select(
        "model",
        F.col("k").cast("long").alias("k_params"),
        F.round("ll").cast("long").alias("loglik_nats"),
        F.round("aic").cast("long").alias("aic_nats"),
        F.col("rk").cast("long").alias("aic_rank"),
    )


@query(
    "pit_uniformity_exponential",
    oracle="""
    WITH v AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) / 100.0 AS x
        FROM orders
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx FROM v
    ), pit AS (
        SELECT LEAST(CAST(FLOOR((1 - exp(-(s.n / s.sx) * v.x)) * 10)
                     AS BIGINT), 9) AS b
        FROM v, s
    ), cnt AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM pit GROUP BY b
    ), n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt)
    SELECT CAST(cnt.b AS BIGINT) AS pit_decile, cnt.c AS n_obs,
           CAST(ROUND(cnt.c * 1000000.0 / n.n) AS BIGINT) AS share_ppm,
           CAST(ROUND(POWER(cnt.c - n.n / 10.0, 2) / (n.n / 10.0) * 1000)
                AS BIGINT) AS chi2_term_milli
    FROM cnt, n
    """,
)
def pit_uniformity_exponential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-integral-transform diagnostic for the exponential
    fit from `distribution_aic_tournament`: if the model were true,
    u = 1 - exp(-lambda x) would be Uniform(0,1), so its decile
    histogram should be flat at 100000 ppm per cell. The per-decile
    shares and chi-square terms localize HOW the fit fails (an
    underdispersed middle, a heavy right tail) — the graphical
    residual the scalar AIC ranking compresses away. The same PIT
    harness applies to any fitted CDF with a closed form.

    Determinism: lambda is a single division of exact sums; the PIT
    and its floor-decile are identical IEEE expressions (boundary
    cells would need u to land within ~1e-15 of a decile edge —
    probability ~0 for continuous-valued money data).

    Scale shape: one scalar agg for lambda, one stateless transform,
    one 10-cell hash agg.
    """
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        (F.round(F.col("o_totalprice") * 100).cast("long") / 100.0).alias("x")
    )
    s = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("x").alias("sx")
    )
    pit = v.crossJoin(F.broadcast(s)).select(
        F.least(
            F.floor(
                (1 - F.exp(-(F.col("n") / F.col("sx")) * F.col("x"))) * 10
            ).cast("long"),
            F.lit(9),
        ).alias("b")
    )
    cnt = pit.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cnt = _ckpt(cnt)  # shared fan-out relation
    n = cnt.agg(F.sum("c").cast("long").alias("n"))
    return cnt.crossJoin(F.broadcast(n)).select(
        F.col("b").cast("long").alias("pit_decile"),
        F.col("c").alias("n_obs"),
        F.round(F.col("c") * 1000000.0 / F.col("n"))
        .cast("long")
        .alias("share_ppm"),
        F.round(
            F.pow(F.col("c") - F.col("n") / 10.0, 2) / (F.col("n") / 10.0) * 1000
        )
        .cast("long")
        .alias("chi2_term_milli"),
    )


@query(
    "renyi_entropy_spectrum",
    oracle="""
    WITH toks AS (
        SELECT source,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    ), cnt AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT source, unnest(t) AS token FROM toks)
        GROUP BY 1, 2
    ), tot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS t FROM cnt GROUP BY 1
    ), s AS (
        SELECT cnt.source,
               CAST(COUNT(*) AS BIGINT) AS v,
               SUM(sqrt(cnt.n * 1.0 / tot.t)) AS p05,
               -SUM((cnt.n * 1.0 / tot.t) * ln(cnt.n * 1.0 / tot.t)) AS h1,
               SUM(POWER(cnt.n * 1.0 / tot.t, 2)) AS p2,
               MAX(cnt.n * 1.0 / tot.t) AS pmax
        FROM cnt JOIN tot ON tot.source = cnt.source
        GROUP BY cnt.source
    )
    SELECT source, v AS vocab,
           CAST(ROUND(ln(v * 1.0) * 1000) AS BIGINT) AS h0_milli,
           CAST(ROUND(2 * ln(p05) * 1000) AS BIGINT) AS h05_milli,
           CAST(ROUND(h1 * 1000) AS BIGINT) AS h1_milli,
           CAST(ROUND(-ln(p2) * 1000) AS BIGINT) AS h2_milli,
           CAST(ROUND(-ln(pmax) * 1000) AS BIGINT) AS hinf_milli
    FROM s
    """,
)
def renyi_entropy_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Renyi entropy spectrum of each source's token distribution at
    orders q = 0, 1/2, 1, 2, infinity: Hartley richness ln V, the
    Bhattacharyya-weighted 2 ln sum sqrt(p), Shannon, collision
    entropy -ln sum p^2, and min-entropy -ln max p. H_q is
    non-increasing in q (pinned by the invariant test); the SHAPE of
    the decay is the diversity fingerprint — a flat spectrum means
    near-uniform usage, a steep drop to H_inf means one dominant
    token. Generalizes `effective_vocab_size` (q=1 alone) and
    `hapax_ratio_by_source` into one scale, with q=2 tying directly
    to `ams_f2_sketch`'s collision mass.

    Determinism: exact token counts; four power sums per source,
    milli-rounded.

    Scale shape: one explode + (source, token) map-side-combined
    agg; the spectrum is a single second-level agg — adding q values
    costs nothing.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(
            "source",
            F.explode(ws_tokens(F.lower(F.col("text")))).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = cnt.groupBy("source").agg(F.sum("n").cast("long").alias("t"))
    p = F.col("n") * 1.0 / F.col("t")
    s = (
        cnt.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("v"),
            F.sum(F.sqrt(p)).alias("p05"),
            (-F.sum(p * F.log(p))).alias("h1"),
            F.sum(F.pow(p, 2)).alias("p2"),
            F.max(p).alias("pmax"),
        )
    )
    return s.select(
        "source",
        F.col("v").alias("vocab"),
        F.round(F.log(F.col("v") * 1.0) * 1000).cast("long").alias("h0_milli"),
        F.round(2 * F.log("p05") * 1000).cast("long").alias("h05_milli"),
        F.round(F.col("h1") * 1000).cast("long").alias("h1_milli"),
        F.round(-F.log("p2") * 1000).cast("long").alias("h2_milli"),
        F.round(-F.log("pmax") * 1000).cast("long").alias("hinf_milli"),
    )


@query(
    "nodf_nestedness",
    oracle="""
    WITH inc AS (
        SELECT DISTINCT c.c_nationkey AS r, p.p_brand AS col
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN part p ON p.p_partkey = l.l_partkey
    ), rdeg AS (
        SELECT r, CAST(COUNT(*) AS BIGINT) AS d FROM inc GROUP BY r
    ), cdeg AS (
        SELECT col, CAST(COUNT(*) AS BIGINT) AS d FROM inc GROUP BY col
    ), dims AS (
        SELECT CAST((SELECT COUNT(*) FROM rdeg) AS BIGINT) AS nr,
               CAST((SELECT COUNT(*) FROM cdeg) AS BIGINT) AS nc,
               CAST((SELECT COUNT(*) FROM inc) AS BIGINT) AS fills
    ), rov AS (
        SELECT a.r AS ri, b.r AS rj, CAST(COUNT(*) AS BIGINT) AS ov
        FROM inc a JOIN inc b ON a.col = b.col AND a.r <> b.r
        GROUP BY 1, 2
    ), rterm AS (
        SELECT SUM(CASE WHEN da.d > db.d
                   THEN COALESCE(rov.ov, 0) * 100.0 / db.d ELSE 0 END) AS s
        FROM rdeg da JOIN rdeg db ON da.r <> db.r
        LEFT JOIN rov ON rov.ri = da.r AND rov.rj = db.r
    ), cov AS (
        SELECT a.col AS ci, b.col AS cj, CAST(COUNT(*) AS BIGINT) AS ov
        FROM inc a JOIN inc b ON a.r = b.r AND a.col <> b.col
        GROUP BY 1, 2
    ), cterm AS (
        SELECT SUM(CASE WHEN da.d > db.d
                   THEN COALESCE(cov.ov, 0) * 100.0 / db.d ELSE 0 END) AS s
        FROM cdeg da JOIN cdeg db ON da.col <> db.col
        LEFT JOIN cov ON cov.ci = da.col AND cov.cj = db.col
    )
    SELECT dims.nr AS n_rows, dims.nc AS n_cols,
           CAST(ROUND(dims.fills * 1000000.0 / (dims.nr * dims.nc)) AS BIGINT)
               AS fill_ppm,
           CAST(ROUND((rterm.s + cterm.s)
                / (dims.nr * (dims.nr - 1) / 2.0
                   + dims.nc * (dims.nc - 1) / 2.0) * 1000) AS BIGINT)
               AS nodf_milli
    FROM dims, rterm, cterm
    """,
)
def nodf_nestedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NODF nestedness (Almeida-Neto et al.) of the nation x part-
    brand purchase incidence matrix: for every ordered pair with a
    STRICTLY larger degree, the paired overlap is the percentage of
    the smaller set contained in the larger (equal degrees contribute
    zero, per the metric's decreasing-fill requirement), averaged
    over all row pairs and column pairs. NODF near 100 means
    specialist nations buy nested subsets of what generalists buy —
    the ecology lens on the same bipartite structure
    `balassa_rca_nation_parttype` scores cell-by-cell and
    `duncan_dissimilarity_segments` compares marginally.

    Determinism: the incidence is a DISTINCT projection; overlaps
    and degrees are exact integers; one milli-rounded average. The
    ordered-pair sums count each unordered pair once because exactly
    one direction satisfies d_i > d_j.

    Scale shape: the matrix collapses from the fact table in one
    distinct agg (25 x 25 cells); overlap self-joins run on that tiny
    relation — classic collapse-then-pair.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    prt = load_table(spark, sf_dir, "part")
    inc = (
        li.join(
            o.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
            "l_orderkey",
        )
        .join(
            F.broadcast(
                cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .join(
            F.broadcast(
                prt.select(F.col("p_partkey").alias("l_partkey"), "p_brand")
            ),
            "l_partkey",
        )
        .select(F.col("c_nationkey").alias("r"), F.col("p_brand").alias("col"))
        .distinct()
        .transform(_ckpt)
    )
    rdeg = inc.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("d"))
    cdeg = inc.groupBy("col").agg(F.count(F.lit(1)).cast("long").alias("d"))
    nr = rdeg.agg(F.count(F.lit(1)).cast("long").alias("nr"))
    nc = cdeg.agg(F.count(F.lit(1)).cast("long").alias("nc"))
    fills = inc.agg(F.count(F.lit(1)).cast("long").alias("fills"))

    def pair_term(deg: DataFrame, ov: DataFrame, key: str) -> DataFrame:
        da = deg.alias("da")
        db = deg.alias("db")
        o2 = ov.alias("ov")
        return (
            da.join(db, F.col(f"da.{key}") != F.col(f"db.{key}"))
            .join(
                o2,
                (F.col("ov.i") == F.col(f"da.{key}"))
                & (F.col("ov.j") == F.col(f"db.{key}")),
                "left",
            )
            .agg(
                F.sum(
                    F.when(
                        F.col("da.d") > F.col("db.d"),
                        F.coalesce(F.col("ov.ov"), F.lit(0))
                        * 100.0
                        / F.col("db.d"),
                    ).otherwise(0.0)
                ).alias("s")
            )
        )

    a, b = inc.alias("a"), inc.alias("b")
    rov = (
        a.join(
            b,
            (F.col("a.col") == F.col("b.col")) & (F.col("a.r") != F.col("b.r")),
        )
        .groupBy(F.col("a.r").alias("i"), F.col("b.r").alias("j"))
        .agg(F.count(F.lit(1)).cast("long").alias("ov"))
    )
    cov = (
        a.join(
            b,
            (F.col("a.r") == F.col("b.r")) & (F.col("a.col") != F.col("b.col")),
        )
        .groupBy(F.col("a.col").alias("i"), F.col("b.col").alias("j"))
        .agg(F.count(F.lit(1)).cast("long").alias("ov"))
    )
    rterm = pair_term(rdeg, rov, "r").select(F.col("s").alias("rs"))
    cterm = pair_term(cdeg, cov, "col").select(F.col("s").alias("cs"))
    return (
        nr.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(fills))
        .crossJoin(F.broadcast(rterm))
        .crossJoin(F.broadcast(cterm))
        .select(
            F.col("nr").alias("n_rows"),
            F.col("nc").alias("n_cols"),
            F.round(F.col("fills") * 1000000.0 / (F.col("nr") * F.col("nc")))
            .cast("long")
            .alias("fill_ppm"),
            F.round(
                (F.col("rs") + F.col("cs"))
                / (
                    F.col("nr") * (F.col("nr") - 1) / 2.0
                    + F.col("nc") * (F.col("nc") - 1) / 2.0
                )
                * 1000
            )
            .cast("long")
            .alias("nodf_milli"),
        )
    )


_DAILY_XY_SQL = """
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(COUNT(*) AS BIGINT) AS x,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) * 1.0 / COUNT(*)
                   AS y
        FROM orders GROUP BY 1
    )
"""


@query(
    "dcov_dcor_daily",
    oracle=_DAILY_XY_SQL
    + """
    , n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily
    ), rowsums AS (
        SELECT a.d,
               SUM(ABS(a.x - b.x) * 1.0) AS ax,
               SUM(ABS(a.y - b.y)) AS ay,
               SUM(ABS(a.x - b.x) * ABS(a.y - b.y)) AS axy,
               SUM(ABS(a.x - b.x) * ABS(a.x - b.x) * 1.0) AS axx,
               SUM(ABS(a.y - b.y) * ABS(a.y - b.y)) AS ayy
        FROM daily a JOIN daily b ON TRUE
        GROUP BY a.d
    ), s AS (
        SELECT n.n,
               SUM(axy) / (n.n * 1.0 * n.n) AS s1xy,
               SUM(axx) / (n.n * 1.0 * n.n) AS s1xx,
               SUM(ayy) / (n.n * 1.0 * n.n) AS s1yy,
               (SUM(ax) / (n.n * 1.0 * n.n))
                   * (SUM(ay) / (n.n * 1.0 * n.n)) AS s2xy,
               POWER(SUM(ax) / (n.n * 1.0 * n.n), 2) AS s2xx,
               POWER(SUM(ay) / (n.n * 1.0 * n.n), 2) AS s2yy,
               SUM(ax * ay) / (n.n * 1.0 * n.n * n.n) AS s3xy,
               SUM(ax * ax) / (n.n * 1.0 * n.n * n.n) AS s3xx,
               SUM(ay * ay) / (n.n * 1.0 * n.n * n.n) AS s3yy
        FROM rowsums, n GROUP BY n.n
    )
    SELECT n AS n_days,
           CAST(ROUND(sqrt(s1xy + s2xy - 2 * s3xy) * 1000) AS BIGINT)
               AS dcov_milli,
           CAST(ROUND(sqrt((s1xy + s2xy - 2 * s3xy)
                / sqrt((s1xx + s2xx - 2 * s3xx) * (s1yy + s2yy - 2 * s3yy)))
                * 1000000) AS BIGINT) AS dcor_micro
    FROM s
    """,
)
def dcov_dcor_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Szekely's distance covariance and distance correlation between
    daily order volume and daily mean ticket: with pairwise distance
    row sums a_i. and b_i., dCov^2 = S1 + S2 - 2 S3 in closed form,
    and dCor = dCov / sqrt(dVar_x dVar_y). dCor = 0 CHARACTERIZES
    independence (unlike Pearson/Spearman, which miss non-monotone
    coupling) and complements `chatterjee_xi_dependence`: xi is
    asymmetric and rank-based, dCor is symmetric and metric-based —
    disagreement between them localizes the dependence type.

    Determinism: x is integer, y a single division; the O(n^2) pair
    sums (~5.8M terms of magnitude ~1e3) carry relative
    summation-order noise ~1e-12 against milli/micro-rounded outputs.

    Scale shape: the calendar bounds the series (~2.4k days at ANY
    corpus scale), so the all-pairs join is a fixed ~5.8M-row
    self-join of a tiny relation — per-row distance sums reduce it in
    one agg; the fact table is scanned once.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            * 1.0
            / F.count(F.lit(1))
        ).alias("y"),
    ).transform(_ckpt)
    n = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    a, b = daily.alias("a"), daily.alias("b")
    dx = F.abs(F.col("a.x") - F.col("b.x")) * 1.0
    dy = F.abs(F.col("a.y") - F.col("b.y"))
    rowsums = a.crossJoin(b).groupBy(F.col("a.d")).agg(
        F.sum(dx).alias("ax"),
        F.sum(dy).alias("ay"),
        F.sum(dx * dy).alias("axy"),
        F.sum(dx * dx).alias("axx"),
        F.sum(dy * dy).alias("ayy"),
    )
    s = rowsums.crossJoin(F.broadcast(n)).groupBy("n").agg(
        (F.sum("axy") / (F.col("n") * 1.0 * F.col("n"))).alias("s1xy"),
        (F.sum("axx") / (F.col("n") * 1.0 * F.col("n"))).alias("s1xx"),
        (F.sum("ayy") / (F.col("n") * 1.0 * F.col("n"))).alias("s1yy"),
        (
            (F.sum("ax") / (F.col("n") * 1.0 * F.col("n")))
            * (F.sum("ay") / (F.col("n") * 1.0 * F.col("n")))
        ).alias("s2xy"),
        F.pow(F.sum("ax") / (F.col("n") * 1.0 * F.col("n")), 2).alias("s2xx"),
        F.pow(F.sum("ay") / (F.col("n") * 1.0 * F.col("n")), 2).alias("s2yy"),
        (
            F.sum(F.col("ax") * F.col("ay"))
            / (F.col("n") * 1.0 * F.col("n") * F.col("n"))
        ).alias("s3xy"),
        (
            F.sum(F.col("ax") * F.col("ax"))
            / (F.col("n") * 1.0 * F.col("n") * F.col("n"))
        ).alias("s3xx"),
        (
            F.sum(F.col("ay") * F.col("ay"))
            / (F.col("n") * 1.0 * F.col("n") * F.col("n"))
        ).alias("s3yy"),
    )
    v2 = F.col("s1xy") + F.col("s2xy") - 2 * F.col("s3xy")
    vx = F.col("s1xx") + F.col("s2xx") - 2 * F.col("s3xx")
    vy = F.col("s1yy") + F.col("s2yy") - 2 * F.col("s3yy")
    return s.select(
        F.col("n").alias("n_days"),
        F.round(F.sqrt(v2) * 1000).cast("long").alias("dcov_milli"),
        F.round(F.sqrt(v2 / F.sqrt(vx * vy)) * 1000000)
        .cast("long")
        .alias("dcor_micro"),
    )


@query(
    "blomqvist_beta_daily",
    oracle=_DAILY_XY_SQL
    + """
    , med AS (
        SELECT PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY x) AS mx,
               PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY y) AS my
        FROM daily
    ), q AS (
        SELECT CAST(SUM(CASE WHEN (x > mx AND y > my)
                             OR (x < mx AND y < my) THEN 1 ELSE 0 END)
                    AS BIGINT) AS conc,
               CAST(SUM(CASE WHEN (x > mx AND y < my)
                             OR (x < mx AND y > my) THEN 1 ELSE 0 END)
                    AS BIGINT) AS disc,
               CAST(SUM(CASE WHEN x = mx OR y = my THEN 1 ELSE 0 END)
                    AS BIGINT) AS on_med
        FROM daily, med
    )
    SELECT conc AS n_concordant, disc AS n_discordant, on_med AS n_on_median,
           CAST(ROUND((conc - disc) * 1000000.0 / (conc + disc)) AS BIGINT)
               AS blomqvist_beta_micro
    FROM q
    """,
)
def blomqvist_beta_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blomqvist's beta (medial correlation) for the same daily
    volume-ticket pair as `dcov_dcor_daily`: split the plane at the
    two medians and score (concordant - discordant) / (concordant +
    discordant) over the four quadrants, dropping points on a median.
    The crudest—and most robust—dependence measure: a single-quadrant
    count immune to any monotone transformation and to arbitrarily
    heavy tails, estimating the copula at its center point
    C(1/2,1/2). When beta is near zero but dCor is large, the
    dependence lives away from the medians (tails or non-monotone
    structure) — which is precisely why the pair is reported
    together.

    Determinism: medians are exact PERCENTILE_DISC data values;
    quadrant counts are exact integers; one micro-rounded ratio.

    Scale shape: one scalar-median agg plus one quadrant-count agg
    over the tiny daily series.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        (
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            * 1.0
            / F.count(F.lit(1))
        ).alias("y"),
    )
    med = daily.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY x)").alias("mx"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY y)").alias("my"),
    )
    q = daily.crossJoin(F.broadcast(med)).agg(
        F.sum(
            F.when(
                ((F.col("x") > F.col("mx")) & (F.col("y") > F.col("my")))
                | ((F.col("x") < F.col("mx")) & (F.col("y") < F.col("my"))),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("conc"),
        F.sum(
            F.when(
                ((F.col("x") > F.col("mx")) & (F.col("y") < F.col("my")))
                | ((F.col("x") < F.col("mx")) & (F.col("y") > F.col("my"))),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("disc"),
        F.sum(
            F.when(
                (F.col("x") == F.col("mx")) | (F.col("y") == F.col("my")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("on_med"),
    )
    return q.select(
        F.col("conc").alias("n_concordant"),
        F.col("disc").alias("n_discordant"),
        F.col("on_med").alias("n_on_median"),
        F.round((F.col("conc") - F.col("disc")) * 1000000.0 / (F.col("conc") + F.col("disc")))
        .cast("long")
        .alias("blomqvist_beta_micro"),
    )


@query(
    "win_ratio_composite",
    oracle="""
    WITH base AS (
        SELECT o.o_orderkey,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS t,
               MAX(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS y,
               MAX(date_diff('day', o.o_orderdate, l.l_shipdate)) AS lat
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority
    ), m AS (
        SELECT CAST(SUM(t) AS BIGINT) AS n1,
               CAST(COUNT(*) - SUM(t) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN t = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS a0,
               CAST(SUM(CASE WHEN t = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS a1,
               CAST(SUM(CASE WHEN t = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS b0,
               CAST(SUM(CASE WHEN t = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS b1
        FROM base
    ), lv AS (
        SELECT y, lat,
               CAST(SUM(t) AS BIGINT) AS nt,
               CAST(COUNT(*) - SUM(t) AS BIGINT) AS nc
        FROM base GROUP BY y, lat
    ), cum AS (
        SELECT y, lat, nt, nc,
               CAST(COALESCE(SUM(nc) OVER (PARTITION BY y ORDER BY lat
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), 0)
                   AS BIGINT) AS nc_gt,
               CAST(COALESCE(SUM(nc) OVER (PARTITION BY y ORDER BY lat
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS nc_lt
        FROM lv
    ), t2 AS (
        SELECT CAST(SUM(nt * nc_gt) AS BIGINT) AS w2,
               CAST(SUM(nt * nc_lt) AS BIGINT) AS l2,
               CAST(SUM(nt * nc) AS BIGINT) AS tie2
        FROM cum
    ), tot AS (
        SELECT m.n1, m.n0,
               m.a0 * m.b1 + t2.w2 AS w,
               m.a1 * m.b0 + t2.l2 AS l,
               t2.tie2 AS tie
        FROM m, t2
    )
    SELECT n1 AS n_treated, n0 AS n_control,
           CAST(w AS BIGINT) AS wins, CAST(l AS BIGINT) AS losses,
           CAST(tie AS BIGINT) AS ties,
           CAST(ROUND(w * 1000.0 / l) AS BIGINT) AS win_ratio_milli,
           CAST(ROUND((w - l) * 1000000.0 / (n1 * 1.0 * n0)) AS BIGINT)
               AS net_benefit_micro,
           CAST(ROUND((w + 0.5 * tie) * 1000.0 / (l + 0.5 * tie)) AS BIGINT)
               AS win_odds_milli
    FROM tot
    """,
)
def win_ratio_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized pairwise comparison (Buyse/Pocock win ratio) of
    urgent versus non-urgent orders on a hierarchical composite
    endpoint: every treated-control pair is compared first on the
    worse outcome (any returned lineitem — fewer returns wins), and
    only tied pairs fall through to ship latency (shorter wins). The
    win ratio, net treatment benefit, and win odds summarize all n1 x
    n0 comparisons — computed WITHOUT materializing a single pair:
    tier 1 from the 2x2 marginals, tier 2 from grouped latency
    rank-cumsums within each return class (the Mann-Whitney identity).

    Determinism: all win/loss/tie masses are exact integer products
    of marginal counts; three rounded ratios.

    Scale shape: one order-grain agg, one (y, latency) hash agg, two
    window cumsums over that small relation — the quadratic pair
    space is never instantiated, which is the entire scale story.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    base = (
        o.join(
            li.select(
                F.col("l_orderkey").alias("o_orderkey"),
                "l_shipdate",
                "l_returnflag",
            ),
            "o_orderkey",
        )
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(
            F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
                "y"
            ),
            F.max(F.datediff("l_shipdate", "o_orderdate")).alias("lat"),
        )
        .select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("t"),
            "y",
            "lat",
        )
    )
    m = base.agg(
        F.sum("t").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("t")).cast("long").alias("n0"),
        F.sum(F.when((F.col("t") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("a0"),
        F.sum(F.when((F.col("t") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("a1"),
        F.sum(F.when((F.col("t") == 0) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b0"),
        F.sum(F.when((F.col("t") == 0) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("b1"),
    )
    lv = base.groupBy("y", "lat").agg(
        F.sum("t").cast("long").alias("nt"),
        (F.count(F.lit(1)) - F.sum("t")).cast("long").alias("nc"),
    )
    w_gt = (
        Window.partitionBy("y")
        .orderBy("lat")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    w_lt = (
        Window.partitionBy("y")
        .orderBy("lat")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = lv.select(
        "nt",
        "nc",
        F.coalesce(F.sum("nc").over(w_gt), F.lit(0)).alias("nc_gt"),
        F.coalesce(F.sum("nc").over(w_lt), F.lit(0)).alias("nc_lt"),
    )
    t2 = cum.agg(
        F.sum(F.col("nt") * F.col("nc_gt")).cast("long").alias("w2"),
        F.sum(F.col("nt") * F.col("nc_lt")).cast("long").alias("l2"),
        F.sum(F.col("nt") * F.col("nc")).cast("long").alias("tie2"),
    )
    tot = m.crossJoin(F.broadcast(t2)).select(
        "n1",
        "n0",
        (F.col("a0") * F.col("b1") + F.col("w2")).alias("w"),
        (F.col("a1") * F.col("b0") + F.col("l2")).alias("l"),
        F.col("tie2").alias("tie"),
    )
    return tot.select(
        F.col("n1").alias("n_treated"),
        F.col("n0").alias("n_control"),
        F.col("w").cast("long").alias("wins"),
        F.col("l").cast("long").alias("losses"),
        F.col("tie").cast("long").alias("ties"),
        F.round(F.col("w") * 1000.0 / F.col("l")).cast("long").alias(
            "win_ratio_milli"
        ),
        F.round(
            (F.col("w") - F.col("l")) * 1000000.0 / (F.col("n1") * 1.0 * F.col("n0"))
        )
        .cast("long")
        .alias("net_benefit_micro"),
        F.round(
            (F.col("w") + 0.5 * F.col("tie")) * 1000.0
            / (F.col("l") + 0.5 * F.col("tie"))
        )
        .cast("long")
        .alias("win_odds_milli"),
    )


@query(
    "empirical_service_levels",
    oracle="""
    WITH mon AS (
        SELECT p.p_brand AS brand,
               (EXTRACT(year FROM l.l_shipdate) - 1992) * 12
               + EXTRACT(month FROM l.l_shipdate) - 1 AS m,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS d
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ), s AS (
        SELECT brand, AVG(d * 1.0) AS mu, STDDEV_SAMP(d * 1.0) AS sd,
               CAST(COUNT(*) AS BIGINT) AS nm
        FROM mon GROUP BY brand
    ), zs(z) AS (VALUES (0), (1), (2)
    ), lvl AS (
        SELECT s.brand, zs.z, s.nm, s.mu + zs.z * s.sd AS stock
        FROM s CROSS JOIN zs
    ), short AS (
        SELECT lvl.brand, lvl.z, lvl.nm, lvl.stock,
               AVG(GREATEST(mon.d - lvl.stock, 0)) AS esps,
               AVG(CASE WHEN mon.d <= lvl.stock THEN 1.0 ELSE 0.0 END) AS csl,
               AVG(mon.d * 1.0) AS mu
        FROM lvl JOIN mon ON mon.brand = lvl.brand
        GROUP BY lvl.brand, lvl.z, lvl.nm, lvl.stock
    )
    SELECT brand, CAST(z AS BIGINT) AS z_level, nm AS n_months,
           CAST(ROUND(stock) AS BIGINT) AS stock_units,
           CAST(ROUND(csl * 1000000) AS BIGINT) AS cycle_service_ppm,
           CAST(ROUND((1 - esps / mu) * 1000000) AS BIGINT) AS fill_rate_ppm
    FROM short
    """,
)
def empirical_service_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical inventory service levels per part brand: stocking at
    mean + z sigma of monthly shipped demand for z = 0, 1, 2, the
    cycle service level is the fraction of months fully covered
    (P(D <= s)) and the fill rate is 1 - E[(D - s)+] / E[D] — the
    first-order loss function evaluated on the EMPIRICAL demand
    distribution rather than a normal table, which is how modern
    inventory audits sidestep the normality assumption baked into
    `newsvendor_stock_levels`'s critical-fractile answer. The two
    metrics diverge exactly when shortfalls are rare but deep.

    Determinism: monthly demands are exact integer sums; stock
    levels and shortfall means are single-expression doubles,
    ppm-rounded.

    Scale shape: one fact agg to brand-month cells (~25 x 84); the z
    sweep joins that tiny relation against itself — no second fact
    scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    prt = load_table(spark, sf_dir, "part")
    mon = (
        li.join(
            F.broadcast(
                prt.select(F.col("p_partkey").alias("l_partkey"), "p_brand")
            ),
            "l_partkey",
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            ((F.year("l_shipdate") - 1992) * 12 + F.month("l_shipdate") - 1).alias(
                "m"
            ),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("d"))
        .transform(_ckpt)
    )
    s = mon.groupBy("brand").agg(
        F.avg(F.col("d") * 1.0).alias("mu"),
        F.stddev_samp(F.col("d") * 1.0).alias("sd"),
        F.count(F.lit(1)).cast("long").alias("nm"),
    )
    zs = spark.createDataFrame([(0,), (1,), (2,)], "z long")
    lvl = s.crossJoin(F.broadcast(zs)).select(
        "brand",
        "z",
        "nm",
        (F.col("mu") + F.col("z") * F.col("sd")).alias("stock"),
    )
    short = (
        lvl.join(mon, "brand")
        .groupBy("brand", "z", "nm", "stock")
        .agg(
            F.avg(F.greatest(F.col("d") - F.col("stock"), F.lit(0.0))).alias(
                "esps"
            ),
            F.avg(
                F.when(F.col("d") <= F.col("stock"), 1.0).otherwise(0.0)
            ).alias("csl"),
            F.avg(F.col("d") * 1.0).alias("mu"),
        )
    )
    return short.select(
        "brand",
        F.col("z").cast("long").alias("z_level"),
        F.col("nm").alias("n_months"),
        F.round("stock").cast("long").alias("stock_units"),
        F.round(F.col("csl") * 1000000).cast("long").alias("cycle_service_ppm"),
        F.round((1 - F.col("esps") / F.col("mu")) * 1000000)
        .cast("long")
        .alias("fill_rate_ppm"),
    )


@query(
    "join_order_cardinality_audit",
    oracle="""
    WITH stats AS (
        SELECT (SELECT COUNT(*) FROM lineitem) AS nl,
               (SELECT COUNT(*) FROM orders) AS no,
               (SELECT COUNT(*) FROM customer) AS ncu,
               (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS dlok,
               (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS dook,
               (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS dock,
               (SELECT COUNT(DISTINCT c_custkey) FROM customer) AS dcck
    ), actuals AS (
        SELECT (SELECT COUNT(*) FROM lineitem l
                JOIN orders o ON o.o_orderkey = l.l_orderkey) AS lo,
               (SELECT COUNT(*) FROM orders o
                JOIN customer c ON c.c_custkey = o.o_custkey) AS oc
    ), steps AS (
        SELECT 'join_LO' AS step,
               nl * 1.0 * no / GREATEST(dlok, dook) AS est,
               lo * 1.0 AS act
        FROM stats, actuals
        UNION ALL
        SELECT 'join_OC', no * 1.0 * ncu / GREATEST(dock, dcck), oc * 1.0
        FROM stats, actuals
        UNION ALL
        SELECT 'plan_LO_then_C',
               (nl * 1.0 * no / GREATEST(dlok, dook)) * ncu
               / GREATEST(dock, dcck),
               lo * 1.0
        FROM stats, actuals
        UNION ALL
        SELECT 'plan_OC_then_L',
               (no * 1.0 * ncu / GREATEST(dock, dcck)) * nl
               / GREATEST(dlok, dook),
               lo * 1.0
        FROM stats, actuals
    )
    SELECT step, CAST(ROUND(est) AS BIGINT) AS est_rows,
           CAST(act AS BIGINT) AS actual_rows,
           CAST(ROUND(GREATEST(est / act, act / est) * 1000) AS BIGINT)
               AS q_error_milli
    FROM steps
    """,
)
def join_order_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """System-R cardinality-estimation audit for the three-table chain
    lineitem - orders - customer: each join's estimated size uses the
    textbook formula |A||B| / max(ndv_A, ndv_B) on the join key, both
    left-deep orders compose their step estimates, and every estimate
    is scored by its q-error against the true cardinality (final
    plan cardinality is order-invariant — both plans share one
    actual). This is the Leis et al. "How Good Are Query Optimizers?"
    methodology run as a query: q-errors near 1.0 explain why
    Catalyst's FK-chain plans are safe; the audit is where a real
    optimizer would mis-rank orders.

    Determinism: row counts and NDVs are exact; estimates are single
    double expressions rounded to rows/milli.

    Scale shape: the stats CTE is metadata-cheap (counts + distinct
    aggs); the actuals are the two joins the audit grades — the
    expensive part IS the ground truth, as in any estimator audit.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    stats = (
        li.agg(
            F.count(F.lit(1)).alias("nl"),
            F.countDistinct("l_orderkey").alias("dlok"),
        )
        .crossJoin(
            o.agg(
                F.count(F.lit(1)).alias("no"),
                F.countDistinct("o_orderkey").alias("dook"),
                F.countDistinct("o_custkey").alias("dock"),
            )
        )
        .crossJoin(
            cst.agg(
                F.count(F.lit(1)).alias("ncu"),
                F.countDistinct("c_custkey").alias("dcck"),
            )
        )
    )
    lo = li.join(
        o.select(F.col("o_orderkey").alias("l_orderkey")), "l_orderkey"
    ).agg(F.count(F.lit(1)).alias("lo"))
    oc = o.join(
        F.broadcast(cst.select(F.col("c_custkey").alias("o_custkey"))),
        "o_custkey",
    ).agg(F.count(F.lit(1)).alias("oc"))
    base = stats.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(oc))
    base = _ckpt(base)  # shared fan-out relation
    est_lo = F.col("nl") * 1.0 * F.col("no") / F.greatest("dlok", "dook")
    est_oc = F.col("no") * 1.0 * F.col("ncu") / F.greatest("dock", "dcck")
    rows = [
        ("join_LO", est_lo, F.col("lo") * 1.0),
        ("join_OC", est_oc, F.col("oc") * 1.0),
        (
            "plan_LO_then_C",
            est_lo * F.col("ncu") / F.greatest("dock", "dcck"),
            F.col("lo") * 1.0,
        ),
        (
            "plan_OC_then_L",
            est_oc * F.col("nl") / F.greatest("dlok", "dook"),
            F.col("lo") * 1.0,
        ),
    ]
    out = None
    for step, est, act in rows:
        r = base.select(
            F.lit(step).alias("step"), est.alias("est"), act.alias("act")
        )
        out = r if out is None else out.unionAll(r)
    return out.select(
        "step",
        F.round("est").cast("long").alias("est_rows"),
        F.col("act").cast("long").alias("actual_rows"),
        F.round(
            F.greatest(F.col("est") / F.col("act"), F.col("act") / F.col("est"))
            * 1000
        )
        .cast("long")
        .alias("q_error_milli"),
    )


@query(
    "selectivity_independence_audit",
    oracle="""
    WITH flags AS (
        SELECT CASE WHEN l_quantity < 10 THEN 1 ELSE 0 END AS p1,
               CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS p2,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS p3,
               CASE WHEN l_shipdate >= DATE '1999-01-01' THEN 1 ELSE 0 END
                   AS p4
        FROM lineitem
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(p1 * 1.0) AS s1, AVG(p2 * 1.0) AS s2,
               AVG(p3 * 1.0) AS s3, AVG(p4 * 1.0) AS s4,
               AVG(p1 * p2 * 1.0) AS s12, AVG(p1 * p3 * 1.0) AS s13,
               AVG(p1 * p4 * 1.0) AS s14, AVG(p2 * p3 * 1.0) AS s23,
               AVG(p2 * p4 * 1.0) AS s24, AVG(p3 * p4 * 1.0) AS s34
        FROM flags
    ), pairs AS (
        SELECT 'qty_discount' AS pair, s1 AS sa, s2 AS sb, s12 AS joint FROM s
        UNION ALL SELECT 'qty_returns', s1, s3, s13 FROM s
        UNION ALL SELECT 'qty_recency', s1, s4, s14 FROM s
        UNION ALL SELECT 'discount_returns', s2, s3, s23 FROM s
        UNION ALL SELECT 'discount_recency', s2, s4, s24 FROM s
        UNION ALL SELECT 'returns_recency', s3, s4, s34 FROM s
    )
    SELECT pair,
           CAST(ROUND(sa * 1000000) AS BIGINT) AS sel_a_ppm,
           CAST(ROUND(sb * 1000000) AS BIGINT) AS sel_b_ppm,
           CAST(ROUND(joint * 1000000) AS BIGINT) AS joint_ppm,
           CAST(ROUND(sa * sb * 1000000) AS BIGINT) AS indep_est_ppm,
           CAST(ROUND(GREATEST(joint / (sa * sb), (sa * sb) / joint) * 1000)
                AS BIGINT) AS q_error_milli
    FROM pairs WHERE joint > 0
    """,
)
def selectivity_independence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-correlation audit of the optimizer's independence
    assumption: four canonical lineitem predicates (small quantity,
    meaningful discount, returned, recent shipment) are measured
    singly and jointly, and each pair's true joint selectivity is
    compared with the product estimate every System-R descendant
    multiplies by default. The q-error column is the factor by which
    a WHERE clause combining the two predicates would be mis-
    estimated — the single largest source of bad plans in the Leis et
    al. benchmark, here quantified on this engine's own data so the
    `join_order_cardinality_audit` numbers can be read in context
    (FK joins estimate well; correlated filters do not).

    Determinism: selectivities are exact integer ratios from one
    boolean-flag aggregate; products and q-errors are single double
    expressions, ppm/milli-rounded.

    Scale shape: one pass, one scalar agg, six literal rows out —
    the audit costs one scan no matter how many predicate pairs.
    """
    li = load_table(spark, sf_dir, "lineitem")
    flags = li.select(
        F.when(F.col("l_quantity") < 10, 1).otherwise(0).alias("p1"),
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("p2"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("p3"),
        F.when(F.col("l_shipdate") >= F.lit("1999-01-01"), 1)
        .otherwise(0)
        .alias("p4"),
    )
    s = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg(F.col("p1") * 1.0).alias("s1"),
        F.avg(F.col("p2") * 1.0).alias("s2"),
        F.avg(F.col("p3") * 1.0).alias("s3"),
        F.avg(F.col("p4") * 1.0).alias("s4"),
        F.avg(F.col("p1") * F.col("p2") * 1.0).alias("s12"),
        F.avg(F.col("p1") * F.col("p3") * 1.0).alias("s13"),
        F.avg(F.col("p1") * F.col("p4") * 1.0).alias("s14"),
        F.avg(F.col("p2") * F.col("p3") * 1.0).alias("s23"),
        F.avg(F.col("p2") * F.col("p4") * 1.0).alias("s24"),
        F.avg(F.col("p3") * F.col("p4") * 1.0).alias("s34"),
    )
    s = _ckpt(s)  # shared fan-out relation
    combos = [
        ("qty_discount", "s1", "s2", "s12"),
        ("qty_returns", "s1", "s3", "s13"),
        ("qty_recency", "s1", "s4", "s14"),
        ("discount_returns", "s2", "s3", "s23"),
        ("discount_recency", "s2", "s4", "s24"),
        ("returns_recency", "s3", "s4", "s34"),
    ]
    out = None
    for name, a, b, j in combos:
        r = s.select(
            F.lit(name).alias("pair"),
            F.col(a).alias("sa"),
            F.col(b).alias("sb"),
            F.col(j).alias("joint"),
        )
        out = r if out is None else out.unionAll(r)
    return out.where(F.col("joint") > 0).select(
        "pair",
        F.round(F.col("sa") * 1000000).cast("long").alias("sel_a_ppm"),
        F.round(F.col("sb") * 1000000).cast("long").alias("sel_b_ppm"),
        F.round(F.col("joint") * 1000000).cast("long").alias("joint_ppm"),
        F.round(F.col("sa") * F.col("sb") * 1000000)
        .cast("long")
        .alias("indep_est_ppm"),
        F.round(
            F.greatest(
                F.col("joint") / (F.col("sa") * F.col("sb")),
                (F.col("sa") * F.col("sb")) / F.col("joint"),
            )
            * 1000
        )
        .cast("long")
        .alias("q_error_milli"),
    )


@query(
    "histogram_range_estimator_audit",
    oracle="""
    WITH v AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v
    ), bounds AS (
        SELECT 0 AS i, (SELECT PERCENTILE_DISC(0.0) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 1 AS i, (SELECT PERCENTILE_DISC(0.05) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 2 AS i, (SELECT PERCENTILE_DISC(0.1) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 3 AS i, (SELECT PERCENTILE_DISC(0.15) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 4 AS i, (SELECT PERCENTILE_DISC(0.2) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 5 AS i, (SELECT PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 6 AS i, (SELECT PERCENTILE_DISC(0.3) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 7 AS i, (SELECT PERCENTILE_DISC(0.35) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 8 AS i, (SELECT PERCENTILE_DISC(0.4) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 9 AS i, (SELECT PERCENTILE_DISC(0.45) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 10 AS i, (SELECT PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 11 AS i, (SELECT PERCENTILE_DISC(0.55) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 12 AS i, (SELECT PERCENTILE_DISC(0.6) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 13 AS i, (SELECT PERCENTILE_DISC(0.65) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 14 AS i, (SELECT PERCENTILE_DISC(0.7) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 15 AS i, (SELECT PERCENTILE_DISC(0.75) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 16 AS i, (SELECT PERCENTILE_DISC(0.8) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 17 AS i, (SELECT PERCENTILE_DISC(0.85) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 18 AS i, (SELECT PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 19 AS i, (SELECT PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY c) FROM v) AS b
        UNION ALL SELECT 20 AS i, (SELECT PERCENTILE_DISC(1.0) WITHIN GROUP (ORDER BY c) FROM v) AS b
    ), probes(t) AS (
        VALUES (1000000), (5000000), (10000000), (20000000), (40000000)
    ), est AS (
        SELECT probes.t,
               (SELECT MAX(i) FROM bounds WHERE b <= probes.t) AS k_full
        FROM probes
    ), interp AS (
        SELECT est.t, est.k_full,
               lo.b AS blo, hi.b AS bhi
        FROM est
        LEFT JOIN bounds lo ON lo.i = est.k_full
        LEFT JOIN bounds hi ON hi.i = est.k_full + 1
    ), scored AS (
        SELECT interp.t,
               CASE WHEN k_full >= 20 THEN 1.0
                    WHEN k_full IS NULL THEN 0.0
                    ELSE (k_full + CASE WHEN bhi > blo
                          THEN (interp.t - blo) * 1.0 / (bhi - blo)
                          ELSE 0 END) / 20.0 END AS est_sel,
               (SELECT AVG(CASE WHEN c <= interp.t THEN 1.0 ELSE 0.0 END)
                FROM v) AS act_sel
        FROM interp
    )
    SELECT CAST(t / 100 AS BIGINT) AS threshold_dollars,
           CAST(ROUND(est_sel * 1000000) AS BIGINT) AS est_sel_ppm,
           CAST(ROUND(act_sel * 1000000) AS BIGINT) AS actual_sel_ppm,
           CAST(ROUND(GREATEST((est_sel + 0.0000005) / (act_sel + 0.0000005),
                               (act_sel + 0.0000005) / (est_sel + 0.0000005))
                * 1000) AS BIGINT) AS q_error_milli
    FROM scored
    """,
)
def histogram_range_estimator_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram range-selectivity estimator audited
    against exact answers: a 20-bucket equi-depth histogram on order
    value (boundaries = exact 5%-grid PERCENTILE_DISC values)
    estimates sel(x <= t) as full-buckets-below plus linear
    interpolation inside the straddling bucket — the estimator inside
    every optimizer's ANALYZE statistics — probed at five thresholds
    and scored by (smoothed) q-error. Completes the cardinality
    trilogy: `join_order_cardinality_audit` (joins),
    `selectivity_independence_audit` (conjunctions), this (ranges).

    Determinism: boundaries are exact data values; the interpolation
    is one double expression; a half-ppm smoothing keeps the q-error
    finite at empty extremes identically on both engines.

    Scale shape: the histogram build is the standard exact-quantile
    sort; each probe is a scalar agg — estimator evaluation itself
    touches only the 21-row boundary relation.
    """
    o = load_table(spark, sf_dir, "orders")
    v = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
    bounds = None
    for i in range(21):
        r = v.agg(
            F.lit(i).alias("i"),
            F.expr(
                f"percentile_disc({i / 20.0}) WITHIN GROUP (ORDER BY c)"
            ).alias("b"),
        )
        bounds = r if bounds is None else bounds.unionAll(r)
    bounds = bounds.transform(_ckpt)
    probes = spark.createDataFrame(
        [(1000000,), (5000000,), (10000000,), (20000000,), (40000000,)],
        "t long",
    )
    kf = (
        probes.join(F.broadcast(bounds), F.col("b") <= F.col("t"), "left")
        .groupBy("t")
        .agg(F.max("i").alias("k_full"))
    )
    lo = bounds.select(F.col("i").alias("k_full"), F.col("b").alias("blo"))
    hi = bounds.select((F.col("i") - 1).alias("k_full"), F.col("b").alias("bhi"))
    interp = kf.join(F.broadcast(lo), "k_full", "left").join(
        F.broadcast(hi), "k_full", "left"
    )
    act = (
        probes.crossJoin(v)
        .groupBy("t")
        .agg(
            F.avg(F.when(F.col("c") <= F.col("t"), 1.0).otherwise(0.0)).alias(
                "act_sel"
            )
        )
    )
    est_sel = (
        F.when(F.col("k_full") >= 20, F.lit(1.0))
        .when(F.col("k_full").isNull(), F.lit(0.0))
        .otherwise(
            (
                F.col("k_full")
                + F.when(
                    F.col("bhi") > F.col("blo"),
                    (F.col("t") - F.col("blo")) * 1.0 / (F.col("bhi") - F.col("blo")),
                ).otherwise(0.0)
            )
            / 20.0
        )
    )
    eps = F.lit(0.0000005)
    scored = interp.join(act, "t").select(
        "t", est_sel.alias("est_sel"), "act_sel"
    )
    return scored.select(
        (F.col("t") / 100).cast("long").alias("threshold_dollars"),
        F.round(F.col("est_sel") * 1000000).cast("long").alias("est_sel_ppm"),
        F.round(F.col("act_sel") * 1000000).cast("long").alias(
            "actual_sel_ppm"
        ),
        F.round(
            F.greatest(
                (F.col("est_sel") + eps) / (F.col("act_sel") + eps),
                (F.col("act_sel") + eps) / (F.col("est_sel") + eps),
            )
            * 1000
        )
        .cast("long")
        .alias("q_error_milli"),
    )


@query(
    "ndv_sampling_gee_audit",
    oracle="""
    WITH samp AS (
        SELECT l_partkey AS k
        FROM lineitem
        WHERE (48271 * (l_orderkey * 8 + l_linenumber) + 7)
              % 2147483647 % 100 = 0
    ), sc AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM samp GROUP BY k
    ), s AS (
        SELECT CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n,
               CAST((SELECT COUNT(*) FROM samp) AS BIGINT) AS r,
               CAST((SELECT COUNT(*) FROM sc) AS BIGINT) AS d_samp,
               CAST((SELECT COUNT(*) FROM sc WHERE c = 1) AS BIGINT) AS f1,
               CAST((SELECT COUNT(DISTINCT l_partkey) FROM lineitem)
                    AS BIGINT) AS d_true
    )
    SELECT n AS n_rows, r AS sample_rows, d_samp AS sample_ndv, f1 AS
           sample_singletons, d_true AS actual_ndv,
           CAST(ROUND(sqrt(n * 1.0 / r) * f1 + (d_samp - f1)) AS BIGINT)
               AS gee_estimate,
           CAST(ROUND(GREATEST(
                (sqrt(n * 1.0 / r) * f1 + (d_samp - f1)) / d_true,
                d_true / (sqrt(n * 1.0 / r) * f1 + (d_samp - f1))) * 1000)
                AS BIGINT) AS q_error_milli
    FROM s
    """,
)
def ndv_sampling_gee_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-value estimation from a 1% sample, audited: the GEE
    estimator (Charikar et al.) scales the sample's singleton count
    by sqrt(n/r) — sqrt being provably the best-possible multiplier
    under worst-case data — and adds the repeated values:
    D = sqrt(n/r) f1 + (d_samp - f1). The sample is a deterministic
    LCG residue class over (orderkey, linenumber), so both engines
    draw the SAME rows, and the audit scores the estimate against the
    exact part-key NDV. This is ANALYZE-with-sampling's core risk
    quantified: where `kmv_distinct_sketch` streams the full data
    with tiny state, GEE reads 1% and pays q-error for it.

    Determinism: the sample predicate is exact integer arithmetic;
    frequency profile and estimator are exact-integer inputs to one
    sqrt.

    Scale shape: the sample scan prunes 99% of rows before any agg;
    the frequency profile aggregates only sampled keys; the exact
    NDV pass exists purely as the audit's ground truth.
    """
    li = load_table(spark, sf_dir, "lineitem")
    samp = li.where(
        (
            (48271 * (F.col("l_orderkey") * 8 + F.col("l_linenumber")) + 7)
            % 2147483647
        )
        % 100
        == 0
    ).select(F.col("l_partkey").alias("k"))
    sc = samp.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("c"))
    stats = (
        li.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("l_partkey").cast("long").alias("d_true"),
        )
        .crossJoin(F.broadcast(samp.agg(F.count(F.lit(1)).cast("long").alias("r"))))
        .crossJoin(
            F.broadcast(
                sc.agg(
                    F.count(F.lit(1)).cast("long").alias("d_samp"),
                    F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
                    .cast("long")
                    .alias("f1"),
                )
            )
        )
    )
    gee = F.sqrt(F.col("n") * 1.0 / F.col("r")) * F.col("f1") + (
        F.col("d_samp") - F.col("f1")
    )
    return stats.select(
        F.col("n").alias("n_rows"),
        F.col("r").alias("sample_rows"),
        F.col("d_samp").alias("sample_ndv"),
        F.col("f1").alias("sample_singletons"),
        F.col("d_true").alias("actual_ndv"),
        F.round(gee).cast("long").alias("gee_estimate"),
        F.round(
            F.greatest(gee / F.col("d_true"), F.col("d_true") / gee) * 1000
        )
        .cast("long")
        .alias("q_error_milli"),
    )


_COPURCHASE_SYM_SQL = """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e0 AS MATERIALIZED (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), sym AS MATERIALIZED (
        SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
    ), deg AS MATERIALIZED (
        SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
    ), seeds AS MATERIALIZED (
        SELECT node FROM deg ORDER BY d DESC, node ASC LIMIT 5
    )
"""


def _threshold_cascade_oracle(rounds: int = 6) -> str:
    parts = [
        _COPURCHASE_SYM_SQL
        + """
    , a0 AS MATERIALIZED (SELECT node FROM seeds)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", a{r} AS MATERIALIZED (
        SELECT node FROM a{r-1}
        UNION
        SELECT sym.u AS node
        FROM sym JOIN a{r-1} act ON act.node = sym.v
        JOIN deg ON deg.node = sym.u
        GROUP BY sym.u, deg.d HAVING COUNT(*) * 3 >= deg.d
    )"""
        )
    stats = " UNION ALL ".join(
        f"SELECT {r} AS round, CAST((SELECT COUNT(*) FROM a{r}) AS BIGINT)"
        " AS n_active" for r in range(rounds + 1)
    )
    return "".join(parts) + " " + stats


@query("threshold_cascade_trajectory", oracle=_threshold_cascade_oracle(6))
def threshold_cascade_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granovetter/Watts linear-threshold cascade on the co-purchase
    graph: the five highest-degree parts seed the contagion, and an
    inactive part activates once at least a third of its neighbors
    are active; six synchronous rounds are replayed and the
    active-count trajectory reported. Complex contagion needs
    REINFORCEMENT (a fractional threshold), unlike the simple
    reachability of `bfs_copurchase_hops` — a sparse periphery can
    block it entirely, which is what a flattening trajectory shows.
    Monotone non-decreasing by construction (pinned in tests); a
    fixed round count keeps it oracle-expressible, with flattening
    before round 6 as the convergence evidence.

    Determinism: pure integer degree thresholds (3 x active >= deg
    avoids division); seed selection tie-breaks on part key.

    Scale shape: the one heavy op is the order-blocked candidate
    self-join shared with `triangle_count_copurchase`; each round is
    a semi-join + degree-filtered hash agg on the edge relation with
    ckpt truncating lineage (reliable on a cluster via
    SPARK_GRAFT_CHECKPOINT_DIR).
    """
    from pyspark_movie_recommender_spark.operators.graph import copurchase_pairs

    li = load_table(spark, sf_dir, "lineitem")
    # round 9: basket census (one fact exchange) replaces the items
    # self-join — see operators/graph.copurchase_pairs
    e0 = copurchase_pairs(li, min_support=2).select("u", "v")
    sym = e0.unionAll(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).transform(_ckpt)
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    ).transform(_ckpt)
    seeds = deg.orderBy(F.desc("d"), F.asc("node")).limit(5).select("node")
    active = seeds.transform(_ckpt)
    stats = [
        active.agg(F.count(F.lit(1)).cast("long").alias("n_active")).select(
            F.lit(0).cast("int").alias("round"), "n_active"
        )
    ]
    for r in range(1, 7):
        act = active.withColumnRenamed("node", "v")
        new = (
            sym.join(act, "v")
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("na"))
            .join(deg.withColumnRenamed("node", "u"), "u")
            .where(F.col("na") * 3 >= F.col("d"))
            .select(F.col("u").alias("node"))
        )
        active = active.union(new).distinct().transform(_ckpt)
        stats.append(
            active.agg(F.count(F.lit(1)).cast("long").alias("n_active")).select(
                F.lit(r).cast("int").alias("round"), "n_active"
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out


def _ic_cascade_oracle(rounds: int = 6) -> str:
    parts = [
        _COPURCHASE_SYM_SQL
        + """
    , live AS MATERIALIZED (
        SELECT u, v FROM sym
        WHERE (48271 * (u * 131071 + v) + 7) % 2147483647 % 100 < 30
    ), r0 AS MATERIALIZED (SELECT node FROM seeds)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", r{r} AS MATERIALIZED (
        SELECT node FROM r{r-1}
        UNION
        SELECT live.v AS node FROM live JOIN r{r-1} f ON f.node = live.u
    )"""
        )
    stats = " UNION ALL ".join(
        f"SELECT {r} AS round, CAST((SELECT COUNT(*) FROM r{r}) AS BIGINT)"
        " AS n_reached" for r in range(rounds + 1)
    )
    return "".join(parts) + " " + stats


@query("ic_cascade_reach", oracle=_ic_cascade_oracle(6))
def ic_cascade_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independent-cascade diffusion replayed deterministically: every
    directed co-purchase edge flips ONE 30% activation coin (an LCG
    hash of the ordered pair — the same coin on both engines and on
    every replay), and reach from the five top-degree seeds expands
    for six rounds over the surviving subgraph. Against
    `threshold_cascade_trajectory` on the SAME graph and seeds, this
    is the simple-contagion counterpoint: IC spreads through any
    single live edge, so its trajectory dominates the threshold
    model's wherever the coin keeps a path alive — the canonical
    influence-maximization evaluation made reproducible by
    derandomizing the coin.

    Determinism: edge coins are exact integer hashes of (u, v) with
    direction asymmetry (u * 131071 + v); frontier expansion is set
    union.

    Scale shape: the live-edge filter is stateless; each round is one
    semi-join on the filtered edge list — BFS-by-joins with
    checkpointed frontiers, never re-deriving the graph.
    """
    from pyspark_movie_recommender_spark.operators.graph import copurchase_pairs

    li = load_table(spark, sf_dir, "lineitem")
    # round 9: basket census (one fact exchange) replaces the items
    # self-join — see operators/graph.copurchase_pairs
    e0 = copurchase_pairs(li, min_support=2).select("u", "v")
    sym = e0.unionAll(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).transform(_ckpt)
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    seeds = deg.orderBy(F.desc("d"), F.asc("node")).limit(5).select("node")
    live = sym.where(
        ((48271 * (F.col("u") * 131071 + F.col("v")) + 7) % 2147483647) % 100
        < 30
    ).transform(_ckpt)
    reach = seeds.transform(_ckpt)
    stats = [
        reach.agg(F.count(F.lit(1)).cast("long").alias("n_reached")).select(
            F.lit(0).cast("int").alias("round"), "n_reached"
        )
    ]
    for r in range(1, 7):
        frontier = reach.withColumnRenamed("node", "u")
        new = live.join(frontier, "u").select(F.col("v").alias("node"))
        reach = reach.union(new).distinct().transform(_ckpt)
        stats.append(
            reach.agg(F.count(F.lit(1)).cast("long").alias("n_reached")).select(
                F.lit(r).cast("int").alias("round"), "n_reached"
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out


_HRW_ASSIGN_SQL = """
    WITH keys AS (
        SELECT CAST(c_custkey AS BIGINT) AS k FROM customer
    ), nodes AS (SELECT UNNEST(generate_series(0, 7)) AS nd
    ), scored AS (
        SELECT k, nd,
               (48271 * ((48271 * (k * 131071 + nd) + 12345) % 2147483647)
                + 12345) % 2147483647 AS s
        FROM keys CROSS JOIN nodes
    ), hrw AS (
        SELECT k, nd, s,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY s DESC, nd ASC)
                   AS rk
        FROM scored
    )
"""


@query(
    "rendezvous_hashing_balance",
    oracle=_HRW_ASSIGN_SQL
    + """
    , assign AS (SELECT k, nd FROM hrw WHERE rk = 1
    ), occ AS (
        SELECT nd, CAST(COUNT(*) AS BIGINT) AS n FROM assign GROUP BY nd
    ), s AS (
        SELECT CAST(SUM(n) AS BIGINT) AS total, AVG(n * 1.0) AS mu,
               STDDEV_POP(n * 1.0) AS sd,
               CAST(MAX(n) AS BIGINT) AS mx, CAST(MIN(n) AS BIGINT) AS mn
        FROM occ
    )
    SELECT CAST(occ.nd AS BIGINT) AS shard, occ.n AS n_keys,
           CAST(ROUND(occ.n * 1000000.0 / s.total) AS BIGINT) AS share_ppm,
           CAST(ROUND(s.sd / s.mu * 1000) AS BIGINT) AS balance_cv_milli,
           CAST(ROUND(s.mx * 1000.0 / s.mn) AS BIGINT) AS max_min_ratio_milli
    FROM occ, s
    """,
)
def rendezvous_hashing_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) hashing of customer keys
    onto 8 shards: every (key, node) pair gets a double-round LCG
    score and the key lives on its argmax node (score-then-node
    tie-break). Per-shard occupancy plus the fleet-level coefficient
    of variation and max/min ratio measure placement balance — HRW's
    selling point over `consistent_hashing_rebalance`'s ring (which
    needs virtual nodes to smooth variance, while HRW is uniform by
    construction and needs none).

    Determinism: scores are exact integer hashes; the argmax is a
    WindowGroupLimit with a total order.

    Scale shape: the node fan-out is a fixed x8 stateless expansion;
    the argmax prunes per-partition before any shuffle and occupancy
    is an 8-cell hash agg — exactly how a router would compute
    placement at 100 TB, one pass, no state.
    """
    cst = load_table(spark, sf_dir, "customer")
    keys = cst.select(F.col("c_custkey").cast("long").alias("k"))
    nodes = spark.range(0, 8).select(F.col("id").alias("nd"))
    inner = (48271 * (F.col("k") * 131071 + F.col("nd")) + 12345) % 2147483647
    scored = keys.crossJoin(F.broadcast(nodes)).select(
        "k", "nd", ((48271 * inner + 12345) % 2147483647).alias("s")
    )
    assign = (
        scored.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("k").orderBy(F.desc("s"), F.asc("nd"))
            ),
        )
        .where(F.col("rk") == 1)
        .select("k", "nd")
    )
    occ = assign.groupBy("nd").agg(F.count(F.lit(1)).cast("long").alias("n"))
    s = occ.agg(
        F.sum("n").cast("long").alias("total"),
        F.avg(F.col("n") * 1.0).alias("mu"),
        F.stddev_pop(F.col("n") * 1.0).alias("sd"),
        F.max("n").alias("mx"),
        F.min("n").alias("mn"),
    )
    return occ.crossJoin(F.broadcast(s)).select(
        F.col("nd").cast("long").alias("shard"),
        F.col("n").alias("n_keys"),
        F.round(F.col("n") * 1000000.0 / F.col("total"))
        .cast("long")
        .alias("share_ppm"),
        F.round(F.col("sd") / F.col("mu") * 1000)
        .cast("long")
        .alias("balance_cv_milli"),
        F.round(F.col("mx") * 1000.0 / F.col("mn"))
        .cast("long")
        .alias("max_min_ratio_milli"),
    )


@query(
    "modulo_vs_hrw_rebalance",
    oracle=_HRW_ASSIGN_SQL
    + """
    , a8 AS (SELECT k, nd FROM hrw WHERE rk = 1
    ), a7 AS (
        SELECT k, nd FROM (
            SELECT k, nd, ROW_NUMBER() OVER (
                PARTITION BY k ORDER BY s DESC, nd ASC) AS rk
            FROM scored WHERE nd <> 7
        ) WHERE rk = 1
    ), hrw_moves AS (
        SELECT CAST(SUM(CASE WHEN a8.nd <> a7.nd THEN 1 ELSE 0 END) AS BIGINT)
               AS moved,
               CAST(SUM(CASE WHEN a8.nd = 7 THEN 1 ELSE 0 END) AS BIGINT)
                   AS on_removed
        FROM a8 JOIN a7 ON a7.k = a8.k
    ), mod_moves AS (
        SELECT CAST(SUM(CASE WHEN k % 8 <> k % 7 THEN 1 ELSE 0 END) AS BIGINT)
               AS moved
        FROM keys
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM keys)
    SELECT n.n AS n_keys,
           hrw_moves.moved AS hrw_moved, hrw_moves.on_removed AS
           keys_on_removed_shard,
           mod_moves.moved AS modulo_moved,
           CAST(ROUND(hrw_moves.moved * 1000000.0 / n.n) AS BIGINT)
               AS hrw_moved_ppm,
           CAST(ROUND(mod_moves.moved * 1000000.0 / n.n) AS BIGINT)
               AS modulo_moved_ppm
    FROM hrw_moves, mod_moves, n
    """,
)
def modulo_vs_hrw_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance cost of losing shard 7, under rendezvous hashing
    versus naive modulo placement: HRW reassigns EXACTLY the keys
    that lived on the removed node (hrw_moved = keys_on_removed_shard
    — minimal disruption, pinned by the invariant test, ~1/8 of
    keys), while k mod 8 -> k mod 7 scrambles ~6/7 of ALL keys. The
    two ppm columns side by side are the whole argument for
    hash-stability in shard routing, cache assignment, and
    bucketed-join layouts; the ring-based third option is
    `consistent_hashing_rebalance`.

    Determinism: both placements are pure integer arithmetic on the
    same keys; the before/after join is keyed exactly.

    Scale shape: two argmax passes (one with node 7 filtered) and
    one key-join — the counterfactual costs one more window over the
    same fan-out, no extra fact scans.
    """
    cst = load_table(spark, sf_dir, "customer")
    keys = cst.select(F.col("c_custkey").cast("long").alias("k"))
    nodes = spark.range(0, 8).select(F.col("id").alias("nd"))
    inner = (48271 * (F.col("k") * 131071 + F.col("nd")) + 12345) % 2147483647
    scored = keys.crossJoin(F.broadcast(nodes)).select(
        "k", "nd", ((48271 * inner + 12345) % 2147483647).alias("s")
    ).transform(_ckpt)

    def argmax(df: DataFrame) -> DataFrame:
        return (
            df.withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("k").orderBy(F.desc("s"), F.asc("nd"))
                ),
            )
            .where(F.col("rk") == 1)
            .select("k", "nd")
        )

    a8 = argmax(scored)
    a7 = argmax(scored.where(F.col("nd") != 7)).withColumnRenamed("nd", "nd7")
    hrw_moves = a8.join(a7, "k").agg(
        F.sum(F.when(F.col("nd") != F.col("nd7"), 1).otherwise(0))
        .cast("long")
        .alias("hrw_moved"),
        F.sum(F.when(F.col("nd") == 7, 1).otherwise(0))
        .cast("long")
        .alias("keys_on_removed_shard"),
    )
    mod_moves = keys.agg(
        F.sum(F.when(F.col("k") % 8 != F.col("k") % 7, 1).otherwise(0))
        .cast("long")
        .alias("modulo_moved")
    )
    n = keys.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        n.crossJoin(F.broadcast(hrw_moves))
        .crossJoin(F.broadcast(mod_moves))
        .select(
            F.col("n").alias("n_keys"),
            "hrw_moved",
            "keys_on_removed_shard",
            "modulo_moved",
            F.round(F.col("hrw_moved") * 1000000.0 / F.col("n"))
            .cast("long")
            .alias("hrw_moved_ppm"),
            F.round(F.col("modulo_moved") * 1000000.0 / F.col("n"))
            .cast("long")
            .alias("modulo_moved_ppm"),
        )
    )


@query(
    "bayes_factor_urgent_rates",
    oracle="""
    WITH cnts AS (
        SELECT c.c_nationkey AS nk,
               CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
                        THEN 1 ELSE 0 END) AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
    ), pooled AS (
        SELECT CAST(SUM(k) AS BIGINT) AS kk, CAST(SUM(n) AS BIGINT) AS nn,
               CAST(COUNT(*) AS BIGINT) AS g
        FROM cnts
    ), need AS (
        SELECT DISTINCT v FROM (
            SELECT k AS v FROM cnts
            UNION ALL SELECT n - k FROM cnts
            UNION ALL SELECT n + 1 FROM cnts
            UNION ALL SELECT kk FROM pooled
            UNION ALL SELECT nn - kk FROM pooled
            UNION ALL SELECT nn + 1 FROM pooled
        )
    ), mx AS (SELECT CAST(MAX(v) AS BIGINT) AS m FROM need
    ), lf AS (
        SELECT need.v, SUM(ln(g.i * 1.0)) AS lnf
        FROM need
        LEFT JOIN (SELECT UNNEST(generate_series(1, (SELECT m FROM mx)))
                   AS i) g ON g.i <= need.v
        GROUP BY need.v
    ), lfz AS (SELECT v, COALESCE(lnf, 0.0) AS lnf FROM lf
    ), h1 AS (
        SELECT SUM(a.lnf + b.lnf - c.lnf) AS ll
        FROM cnts
        JOIN lfz a ON a.v = cnts.k
        JOIN lfz b ON b.v = cnts.n - cnts.k
        JOIN lfz c ON c.v = cnts.n + 1
    ), h0 AS (
        SELECT a.lnf + b.lnf - c.lnf AS ll
        FROM pooled
        JOIN lfz a ON a.v = pooled.kk
        JOIN lfz b ON b.v = pooled.nn - pooled.kk
        JOIN lfz c ON c.v = pooled.nn + 1
    )
    SELECT pooled.g AS n_nations, pooled.kk AS pooled_urgent,
           pooled.nn AS pooled_orders,
           CAST(ROUND((h1.ll - h0.ll) / ln(10.0) * 1000) AS BIGINT)
               AS log10_bf_heterogeneity_milli
    FROM pooled, h1, h0
    """,
)
def bayes_factor_urgent_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Bayes factor for urgent-rate heterogeneity across
    nations: under uniform Beta(1,1) priors the marginal likelihood of
    (k, n) is the integer Beta function k!(n-k)!/(n+1)!, so BF10 =
    [product of per-nation marginals] / [one-shared-rate marginal] is
    a ratio of factorials — computed EXACTLY via log-factorial sums,
    no optimization, no approximation. Positive log10 BF says nations
    genuinely differ (the Bayesian answer to the frequentist
    `cochran_armitage_priority_trend` / chi-square family, with
    Occam's penalty for the 25-parameter model built in
    automatically).

    Determinism: the only float is ln over integers, summed in a
    grouped (not sequential) lattice; milli-rounded log10.

    Scale shape: one fact agg to 25 (k, n) cells; log-factorials for
    the ~75 NEEDED arguments come from a values x range lattice
    (parallel grouped sums, no 15k-row sequential window); joins are
    all broadcast-tiny.
    """
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    cnts = (
        o.join(
            F.broadcast(
                cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("long")
            .alias("k"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .transform(_ckpt)
    )
    pooled = cnts.agg(
        F.sum("k").cast("long").alias("kk"),
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("g"),
    ).transform(_ckpt)
    need = (
        cnts.select(F.col("k").alias("v"))
        .unionAll(cnts.select((F.col("n") - F.col("k")).alias("v")))
        .unionAll(cnts.select((F.col("n") + 1).alias("v")))
        .unionAll(pooled.select(F.col("kk").alias("v")))
        .unionAll(pooled.select((F.col("nn") - F.col("kk")).alias("v")))
        .unionAll(pooled.select((F.col("nn") + 1).alias("v")))
        .distinct()
        .transform(_ckpt)
    )
    mx = scalar_row(need.agg(F.max("v").alias("m")), "registry_08.lgamma_grid_max")["m"]
    grid = spark.range(1, int(mx) + 1).select(F.col("id").alias("i"))
    lf = (
        need.join(grid, F.col("i") <= F.col("v"), "left")
        .groupBy("v")
        .agg(F.coalesce(F.sum(F.log(F.col("i") * 1.0)), F.lit(0.0)).alias("lnf"))
        .transform(_ckpt)
    )
    lnf = lambda alias: lf.select(
        F.col("v").alias(f"{alias}_v"), F.col("lnf").alias(alias)
    )
    h1 = (
        cnts.join(lnf("la"), F.col("k") == F.col("la_v"))
        .join(lnf("lb"), (F.col("n") - F.col("k")) == F.col("lb_v"))
        .join(lnf("lc"), (F.col("n") + 1) == F.col("lc_v"))
        .agg(F.sum(F.col("la") + F.col("lb") - F.col("lc")).alias("ll1"))
    )
    h0 = (
        pooled.join(lnf("la"), F.col("kk") == F.col("la_v"))
        .join(lnf("lb"), (F.col("nn") - F.col("kk")) == F.col("lb_v"))
        .join(lnf("lc"), (F.col("nn") + 1) == F.col("lc_v"))
        .select((F.col("la") + F.col("lb") - F.col("lc")).alias("ll0"))
    )
    return (
        pooled.crossJoin(F.broadcast(h1))
        .crossJoin(F.broadcast(h0))
        .select(
            F.col("g").alias("n_nations"),
            F.col("kk").alias("pooled_urgent"),
            F.col("nn").alias("pooled_orders"),
            F.round(
                (F.col("ll1") - F.col("ll0")) / F.log(F.lit(10.0)) * 1000
            )
            .cast("long")
            .alias("log10_bf_heterogeneity_milli"),
        )
    )


@query(
    "dirichlet_mix_homogeneity",
    oracle="""
    WITH cells AS (
        SELECT n.n_regionkey AS r, c.c_mktsegment AS s,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ), rtot AS (
        SELECT r, CAST(SUM(c) AS BIGINT) AS n FROM cells GROUP BY r
    ), pooled AS (
        SELECT s, CAST(SUM(c) AS BIGINT) AS c FROM cells GROUP BY s
    ), ptot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM pooled
    ), need AS (
        SELECT DISTINCT v FROM (
            SELECT c AS v FROM cells
            UNION ALL SELECT n + 4 FROM rtot
            UNION ALL SELECT c FROM pooled
            UNION ALL SELECT n + 4 FROM ptot
        )
    ), mx AS (SELECT CAST(MAX(v) AS BIGINT) AS m FROM need
    ), lf AS (
        SELECT need.v, COALESCE(SUM(ln(g.i * 1.0)), 0.0) AS lnf
        FROM need
        LEFT JOIN (SELECT UNNEST(generate_series(1, (SELECT m FROM mx)))
                   AS i) g ON g.i <= need.v
        GROUP BY need.v
    ), h1 AS (
        -- per region: ln[ 4! * prod c_s! / (n+4)! ]
        SELECT SUM(part) AS ll FROM (
            SELECT cells.r,
                   SUM(lc.lnf) + ln(24.0)
                   - MAX(ld.lnf) AS part
            FROM cells
            JOIN lf lc ON lc.v = cells.c
            JOIN rtot ON rtot.r = cells.r
            JOIN lf ld ON ld.v = rtot.n + 4
            GROUP BY cells.r
        )
    ), h0 AS (
        SELECT SUM(lc.lnf) + ln(24.0) - MAX(ld.lnf) AS ll
        FROM pooled
        JOIN lf lc ON lc.v = pooled.c
        JOIN ptot ON TRUE
        JOIN lf ld ON ld.v = ptot.n + 4
    )
    SELECT CAST((SELECT COUNT(*) FROM rtot) AS BIGINT) AS n_regions,
           CAST(5 AS BIGINT) AS k_segments,
           CAST((SELECT n FROM ptot) AS BIGINT) AS n_customers,
           CAST(ROUND((h1.ll - h0.ll) / ln(10.0) * 1000) AS BIGINT)
               AS log10_bf_heterogeneity_milli
    FROM h1, h0
    """,
)
def dirichlet_mix_homogeneity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Dirichlet-multinomial Bayes factor asking whether the
    five regions share ONE market-segment mix: under a uniform
    Dirichlet(1,..,1) prior the marginal likelihood of a count vector
    is (k-1)! prod(c_s!) / (n+k-1)! — integer factorials again — so
    the per-region-mixes vs pooled-mix BF is exact arithmetic. The
    Bayesian twin of a 5x5 contingency chi-square
    (`cramers_v_priority_status` family) that additionally PENALIZES
    the 20 extra free parameters, and the categorical-mix sibling of
    `bayes_factor_urgent_rates`.

    Determinism: identical log-factorial lattice machinery;
    milli-rounded log10.

    Scale shape: one dimension-only agg (customer x nation — no fact
    table at all), 25 cells, tiny lattices.
    """
    cst = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    cells = (
        cst.join(
            F.broadcast(
                nat.select(F.col("n_nationkey").alias("c_nationkey"), "n_regionkey")
            ),
            "c_nationkey",
        )
        .groupBy(F.col("n_regionkey").alias("r"), F.col("c_mktsegment").alias("s"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(_ckpt)
    )
    rtot = cells.groupBy("r").agg(F.sum("c").cast("long").alias("n"))
    pooled = cells.groupBy("s").agg(F.sum("c").cast("long").alias("c"))
    ptot = pooled.agg(F.sum("c").cast("long").alias("n"))
    need = (
        cells.select(F.col("c").alias("v"))
        .unionAll(rtot.select((F.col("n") + 4).alias("v")))
        .unionAll(pooled.select(F.col("c").alias("v")))
        .unionAll(ptot.select((F.col("n") + 4).alias("v")))
        .distinct()
        .transform(_ckpt)
    )
    mx = scalar_row(need.agg(F.max("v").alias("m")), "registry_08.lgamma_grid_max")["m"]
    grid = spark.range(1, int(mx) + 1).select(F.col("id").alias("i"))
    lf = (
        need.join(grid, F.col("i") <= F.col("v"), "left")
        .groupBy("v")
        .agg(F.coalesce(F.sum(F.log(F.col("i") * 1.0)), F.lit(0.0)).alias("lnf"))
        .transform(_ckpt)
    )
    ln24 = F.log(F.lit(24.0))
    h1 = (
        cells.join(
            lf.select(F.col("v").alias("cv"), F.col("lnf").alias("lc")),
            F.col("c") == F.col("cv"),
        )
        .join(rtot, "r")
        .join(
            lf.select(F.col("v").alias("dv"), F.col("lnf").alias("ld")),
            (F.col("n") + 4) == F.col("dv"),
        )
        .groupBy("r")
        .agg((F.sum("lc") + ln24 - F.max("ld")).alias("part"))
        .agg(F.sum("part").alias("ll1"))
    )
    h0 = (
        pooled.join(
            lf.select(F.col("v").alias("cv"), F.col("lnf").alias("lc")),
            F.col("c") == F.col("cv"),
        )
        .crossJoin(F.broadcast(ptot))
        .join(
            lf.select(F.col("v").alias("dv"), F.col("lnf").alias("ld")),
            (F.col("n") + 4) == F.col("dv"),
        )
        .agg((F.sum("lc") + ln24 - F.max("ld")).alias("ll0"))
    )
    nr = rtot.agg(F.count(F.lit(1)).cast("long").alias("n_regions"))
    return (
        nr.crossJoin(F.broadcast(ptot))
        .crossJoin(F.broadcast(h1))
        .crossJoin(F.broadcast(h0))
        .select(
            "n_regions",
            F.lit(5).cast("long").alias("k_segments"),
            F.col("n").alias("n_customers"),
            F.round(
                (F.col("ll1") - F.col("ll0")) / F.log(F.lit(10.0)) * 1000
            )
            .cast("long")
            .alias("log10_bf_heterogeneity_milli"),
        )
    )


_FOLD_MOMENTS_SQL = """
    WITH rows_f AS (
        SELECT (l_orderkey * 2654435761 + l_linenumber * 97) % 2147483647 % 4
               AS f,
               CAST(l_quantity AS DOUBLE) AS x,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 1.0 AS y
        FROM lineitem
    ), fm AS (
        SELECT f, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        FROM rows_f GROUP BY f
    )
"""

_RIDGE_EVAL_SQL = """
    , lams(lam) AS (
        VALUES (0.0), (100.0), (10000.0), (1000000.0), (100000000.0),
               (10000000000.0), (1000000000000.0), (100000000000000.0)
    ), tot AS (
        SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy, SUM(sxx) AS sxx,
               SUM(syy) AS syy, SUM(sxy) AS sxy
        FROM fm
    ), fits AS (
        -- validate on fold v, train on the other three
        SELECT fm.f AS v, lams.lam,
               (tot.n - fm.n) AS tn,
               (tot.sx - fm.sx) AS tsx, (tot.sy - fm.sy) AS tsy,
               (tot.sxx - fm.sxx) AS tsxx, (tot.sxy - fm.sxy) AS tsxy,
               fm.n AS vn, fm.sx AS vsx, fm.sy AS vsy, fm.sxx AS vsxx,
               fm.syy AS vsyy, fm.sxy AS vsxy
        FROM fm CROSS JOIN lams CROSS JOIN tot
    ), scored AS (
        SELECT v, lam,
               ((tsxy - tsx * tsy / tn)
                / (tsxx - tsx * tsx / tn + lam)) AS b,
               tsy / tn AS my, tsx / tn AS mx,
               vn, vsx, vsy, vsxx, vsyy, vsxy
        FROM fits
    ), mse AS (
        SELECT v, lam,
               (vsyy + vn * POWER(my - b * mx, 2) + b * b * vsxx
                - 2 * (my - b * mx) * vsy - 2 * b * vsxy
                + 2 * (my - b * mx) * b * vsx) / vn AS m
        FROM scored
    )
"""


@query(
    "successive_halving_ridge",
    oracle=_FOLD_MOMENTS_SQL
    + _RIDGE_EVAL_SQL
    + """
    , cv AS (
        SELECT lam, AVG(m) AS cv_mse,
               AVG(CASE WHEN v = 0 THEN m END) AS m0,
               AVG(CASE WHEN v <= 1 THEN m END) AS m01
        FROM mse GROUP BY lam
    ), r1 AS (
        SELECT lam, m0, m01, cv_mse,
               ROW_NUMBER() OVER (ORDER BY m0 ASC, lam ASC) AS rk0
        FROM cv
    ), r2 AS (
        SELECT lam, m01, cv_mse, rk0,
               CASE WHEN rk0 <= 4 THEN
                    ROW_NUMBER() OVER (PARTITION BY CASE WHEN rk0 <= 4
                        THEN 1 ELSE 0 END ORDER BY m01 ASC, lam ASC)
               END AS rk1
        FROM r1
    ), r3 AS (
        SELECT lam, cv_mse, rk0, rk1,
               CASE WHEN rk1 <= 2 THEN
                    ROW_NUMBER() OVER (PARTITION BY CASE WHEN rk1 <= 2
                        THEN 1 ELSE 0 END ORDER BY cv_mse ASC, lam ASC)
               END AS rk2
        FROM r2
    ), best AS (SELECT MIN(cv_mse) AS bm FROM cv)
    SELECT CAST(ROUND(ln(lam + 1) / ln(10.0)) AS BIGINT) AS log10_lambda,
           CAST(ROUND(cv_mse / best.bm * 1000000) AS BIGINT)
               AS cv_mse_vs_best_ppm,
           CAST(ROW_NUMBER() OVER (ORDER BY cv_mse ASC, lam ASC) AS BIGINT)
               AS full_cv_rank,
           CAST(CASE WHEN rk0 <= 4 THEN 1 ELSE 0 END AS BIGINT)
               AS survived_round1,
           CAST(CASE WHEN rk1 <= 2 THEN 1 ELSE 0 END AS BIGINT)
               AS survived_round2,
           CAST(CASE WHEN rk2 = 1 THEN 1 ELSE 0 END AS BIGINT) AS sh_winner
    FROM r3, best
    """,
)
def successive_halving_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Successive-halving hyperparameter search replayed exactly over
    eight ridge penalties for the quantity -> price regression: round
    1 scores all eight on one validation fold and keeps four, round 2
    re-scores survivors on two folds and keeps two, round 3 uses full
    4-fold CV to crown the winner — the early-stopping search
    (Hyperband's inner loop) beside the exhaustive
    `kfold_price_model`. Every fit is the closed-form ridge slope
    Sxy / (Sxx + lambda) and every validation MSE expands into FOLD
    MOMENTS, so the whole 32-fit tournament is algebra on a 4-row
    relation; the full-CV ranking column exposes whether cheap early
    rounds eliminated the true optimum (SH's known failure mode).

    Determinism: folds are exact integer hashes; fits and MSEs are
    closed-form doubles; all selections tie-break on lambda.

    Scale shape: ONE fact pass produces per-fold raw moments;
    training on any fold subset is moment subtraction — adding
    lambdas or rounds costs nothing but 4x8 arithmetic rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rows_f = li.select(
        (
            (F.col("l_orderkey") * 2654435761 + F.col("l_linenumber") * 97)
            % 2147483647
            % 4
        ).alias("f"),
        F.col("l_quantity").cast("double").alias("x"),
        (F.round(F.col("l_extendedprice") * 100).cast("long") * 1.0).alias("y"),
    )
    fm = rows_f.groupBy("f").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    ).transform(_ckpt)
    lams = spark.createDataFrame(
        [(10.0 ** (2 * i),) for i in range(8)], "lam double"
    ).withColumn("lam", F.when(F.col("lam") == 1.0, 0.0).otherwise(F.col("lam")))
    tot = fm.agg(
        F.sum("n").alias("tn_all"),
        F.sum("sx").alias("sx_all"),
        F.sum("sy").alias("sy_all"),
        F.sum("sxx").alias("sxx_all"),
        F.sum("syy").alias("syy_all"),
        F.sum("sxy").alias("sxy_all"),
    )
    fits = fm.crossJoin(F.broadcast(lams)).crossJoin(F.broadcast(tot))
    tn = F.col("tn_all") - F.col("n")
    tsx = F.col("sx_all") - F.col("sx")
    tsy = F.col("sy_all") - F.col("sy")
    tsxx = F.col("sxx_all") - F.col("sxx")
    tsxy = F.col("sxy_all") - F.col("sxy")
    b = (tsxy - tsx * tsy / tn) / (tsxx - tsx * tsx / tn + F.col("lam"))
    a = tsy / tn - b * (tsx / tn)
    m = (
        F.col("syy")
        + F.col("n") * a * a
        + b * b * F.col("sxx")
        - 2 * a * F.col("sy")
        - 2 * b * F.col("sxy")
        + 2 * a * b * F.col("sx")
    ) / F.col("n")
    mse = fits.select(F.col("f").alias("v"), "lam", m.alias("m"))
    cv = mse.groupBy("lam").agg(
        F.avg("m").alias("cv_mse"),
        F.avg(F.when(F.col("v") == 0, F.col("m"))).alias("m0"),
        F.avg(F.when(F.col("v") <= 1, F.col("m"))).alias("m01"),
    )
    r1 = cv.withColumn(
        "rk0", F.row_number().over(Window.orderBy(F.asc("m0"), F.asc("lam")))
    )
    r2 = r1.withColumn(
        "rk1",
        F.when(
            F.col("rk0") <= 4,
            F.row_number().over(
                Window.partitionBy(F.col("rk0") <= 4).orderBy(
                    F.asc("m01"), F.asc("lam")
                )
            ),
        ),
    )
    r3 = r2.withColumn(
        "rk2",
        F.when(
            F.col("rk1") <= 2,
            F.row_number().over(
                Window.partitionBy(F.col("rk1") <= 2).orderBy(
                    F.asc("cv_mse"), F.asc("lam")
                )
            ),
        ),
    )
    best = cv.agg(F.min("cv_mse").alias("bm"))
    return r3.crossJoin(F.broadcast(best)).select(
        F.round(F.log(F.col("lam") + 1) / F.log(F.lit(10.0)))
        .cast("long")
        .alias("log10_lambda"),
        F.round(F.col("cv_mse") / F.col("bm") * 1000000)
        .cast("long")
        .alias("cv_mse_vs_best_ppm"),
        F.row_number()
        .over(Window.orderBy(F.asc("cv_mse"), F.asc("lam")))
        .cast("long")
        .alias("full_cv_rank"),
        F.when(F.col("rk0") <= 4, 1).otherwise(0).cast("long").alias(
            "survived_round1"
        ),
        F.when(F.col("rk1") <= 2, 1).otherwise(0).cast("long").alias(
            "survived_round2"
        ),
        F.when(F.col("rk2") == 1, 1).otherwise(0).cast("long").alias(
            "sh_winner"
        ),
    )


@query(
    "learning_curve_ols",
    oracle=_FOLD_MOMENTS_SQL.replace("% 4", "% 4")
    + """
    , fracs(pct) AS (VALUES (10), (25), (50), (100)
    ), rows_h AS (
        SELECT f, x, y,
               (l2 * 48271 + 11) % 2147483647 % 100 AS h
        FROM (
            SELECT (l_orderkey * 2654435761 + l_linenumber * 97) % 2147483647
                   % 4 AS f,
                   CAST(l_quantity AS DOUBLE) AS x,
                   CAST(ROUND(l_extendedprice * 100) AS BIGINT) * 1.0 AS y,
                   l_orderkey * 8 + l_linenumber AS l2
            FROM lineitem
        )
    ), tm AS (
        SELECT fracs.pct,
               CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy
        FROM rows_h CROSS JOIN fracs
        WHERE rows_h.f <> 3 AND rows_h.h < fracs.pct
        GROUP BY fracs.pct
    ), vm AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS vn, SUM(x) AS vsx, SUM(y) AS vsy,
               SUM(x * x) AS vsxx, SUM(y * y) AS vsyy, SUM(x * y) AS vsxy
        FROM rows_h WHERE f = 3
    ), scored AS (
        SELECT tm.pct, tm.n,
               (tm.sxy - tm.sx * tm.sy / tm.n)
               / (tm.sxx - tm.sx * tm.sx / tm.n) AS b,
               tm.sy / tm.n - (tm.sxy - tm.sx * tm.sy / tm.n)
               / (tm.sxx - tm.sx * tm.sx / tm.n) * (tm.sx / tm.n) AS a,
               vm.vn, vm.vsx, vm.vsy, vm.vsxx, vm.vsyy, vm.vsxy
        FROM tm, vm
    ), mse AS (
        SELECT pct, n,
               (vsyy + vn * a * a + b * b * vsxx - 2 * a * vsy - 2 * b * vsxy
                + 2 * a * b * vsx) / vn AS m
        FROM scored
    ), base AS (SELECT m AS m100 FROM mse WHERE pct = 100)
    SELECT CAST(pct AS BIGINT) AS train_pct, n AS n_train,
           CAST(ROUND(m / base.m100 * 1000000) AS BIGINT)
               AS val_mse_vs_full_ppm
    FROM mse, base
    """,
)
def learning_curve_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve for the quantity -> price OLS model: train on
    deterministic hash-selected 10/25/50/100% subsets of three folds,
    always validate on the held-out fourth, and report each
    validation MSE relative to the full-data point. The curve's
    flatness answers "would more data help?" BEFORE paying for it —
    the sample-efficiency diagnostic that complements
    `successive_halving_ridge`'s hyperparameter axis (Hyperband is
    exactly the product of these two sweeps). Nested subsets (h <
    10 implies h < 25 ...) keep the curve monotone in expectation
    and free of resampling noise.

    Determinism: subset membership is exact integer hashing shared
    across fractions; fits and MSEs are the same closed moment
    algebra as the halving query.

    Scale shape: one fact pass computes subset moments for ALL
    fractions simultaneously (the cross-join filter is a map-side
    predicate); validation moments come from the same pass.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rows_h = li.select(
        (
            (F.col("l_orderkey") * 2654435761 + F.col("l_linenumber") * 97)
            % 2147483647
            % 4
        ).alias("f"),
        F.col("l_quantity").cast("double").alias("x"),
        (F.round(F.col("l_extendedprice") * 100).cast("long") * 1.0).alias("y"),
        (
            ((F.col("l_orderkey") * 8 + F.col("l_linenumber")) * 48271 + 11)
            % 2147483647
            % 100
        ).alias("h"),
    )
    fracs = spark.createDataFrame([(10,), (25,), (50,), (100,)], "pct long")
    tm = (
        rows_h.where(F.col("f") != 3)
        .crossJoin(F.broadcast(fracs))
        .where(F.col("h") < F.col("pct"))
        .groupBy("pct")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    vm = rows_h.where(F.col("f") == 3).agg(
        F.count(F.lit(1)).cast("long").alias("vn"),
        F.sum("x").alias("vsx"),
        F.sum("y").alias("vsy"),
        F.sum(F.col("x") * F.col("x")).alias("vsxx"),
        F.sum(F.col("y") * F.col("y")).alias("vsyy"),
        F.sum(F.col("x") * F.col("y")).alias("vsxy"),
    )
    b = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    a = F.col("sy") / F.col("n") - b * (F.col("sx") / F.col("n"))
    m = (
        F.col("vsyy")
        + F.col("vn") * a * a
        + b * b * F.col("vsxx")
        - 2 * a * F.col("vsy")
        - 2 * b * F.col("vsxy")
        + 2 * a * b * F.col("vsx")
    ) / F.col("vn")
    mse = tm.crossJoin(F.broadcast(vm)).select("pct", "n", m.alias("m"))
    # 4-row curve fans out to the full-data baseline AND the final
    # ratio — without materialization both fact aggs run twice
    mse = _ckpt(mse)
    base = mse.where(F.col("pct") == 100).select(F.col("m").alias("m100"))
    return mse.crossJoin(F.broadcast(base)).select(
        F.col("pct").cast("long").alias("train_pct"),
        F.col("n").alias("n_train"),
        F.round(F.col("m") / F.col("m100") * 1000000)
        .cast("long")
        .alias("val_mse_vs_full_ppm"),
    )


_H2_SQL = (
    "(48271 * ((48271 * {x} + 12345) % 2147483647) + 12345) % 2147483647"
)


@query(
    "hash_avalanche_audit",
    oracle=f"""
    WITH keys AS (SELECT CAST(c_custkey AS BIGINT) AS x FROM customer),
    bits AS (
        SELECT i AS bit, CAST(1 << i AS BIGINT) AS bv
        FROM (SELECT UNNEST(generate_series(0, 7)) AS i)
    ), flips AS (
        SELECT bits.bit,
               bit_count(xor({_H2_SQL.format(x='keys.x')},
                             {_H2_SQL.format(x='xor(keys.x, bits.bv)')}))
                   AS nflip
        FROM keys CROSS JOIN bits
    )
    SELECT CAST(bit AS BIGINT) AS input_bit,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(ROUND(AVG(nflip * 1.0 / 31) * 1000) AS BIGINT)
               AS mean_flip_milli,
           CAST(MIN(nflip) AS BIGINT) AS min_bits_flipped
    FROM flips GROUP BY bit
    """,
)
def hash_avalanche_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avalanche test of the double-round LCG hash this engine's
    sketch suite runs on (`kmv_distinct_sketch`, `hll_distinct_
    sketch`, `cms_heavy_hitter_audit`, ...): flipping any single input
    bit should flip ~half of the 31 output bits. For input bits 0-7
    over every customer key, the mean flipped fraction (ideal: 500
    milli) and the worst case are reported — this audit is exactly
    what caught the single-round LCG's failure (high output bits
    frozen for small keys, which silently wrecked the HLL estimator
    before the second round was added).

    Determinism: XOR, the hash, and popcounts are exact integer ops.

    Scale shape: a stateless x8 expansion and one 8-cell agg — the
    hash audit costs one scan, no joins, and runs identically over
    any key column.
    """
    cst = load_table(spark, sf_dir, "customer")
    keys = cst.select(F.col("c_custkey").cast("long").alias("x"))
    bits = spark.createDataFrame([(i, 1 << i) for i in range(8)], "bit long, bv long")

    def h2(col):
        return (48271 * ((48271 * col + 12345) % 2147483647) + 12345) % 2147483647

    flips = keys.crossJoin(F.broadcast(bits)).select(
        "bit",
        F.expr(
            "bit_count("
            + "((48271 * ((48271 * x + 12345) % 2147483647) + 12345)"
            + " % 2147483647)"
            + " ^ ((48271 * ((48271 * (x ^ bv) + 12345) % 2147483647) + 12345)"
            + " % 2147483647))"
        ).alias("nflip"),
    )
    return flips.groupBy("bit").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.round(F.avg(F.col("nflip") * 1.0 / 31) * 1000)
        .cast("long")
        .alias("mean_flip_milli"),
        F.min("nflip").cast("long").alias("min_bits_flipped"),
    ).select(
        F.col("bit").cast("long").alias("input_bit"),
        "n_keys",
        "mean_flip_milli",
        "min_bits_flipped",
    )


@query(
    "hash_uniformity_audit",
    oracle=f"""
    WITH keys AS (SELECT CAST(c_custkey AS BIGINT) AS x FROM customer),
    hashed AS (
        SELECT x, {_H2_SQL.format(x='x')} AS h FROM keys
    ), buckets AS (
        SELECT h % 256 AS b, CAST(COUNT(*) AS BIGINT) AS c
        FROM hashed GROUP BY 1
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM hashed
    ), chi AS (
        SELECT SUM(POWER(c - n.n / 256.0, 2) / (n.n / 256.0)) AS chi2,
               MAX(ABS(c - n.n / 256.0)) * 256.0 / n.n AS maxdev
        FROM buckets, n GROUP BY n.n
    ), serial AS (
        SELECT CORR(a.h * 1.0, b.h * 1.0) AS r
        FROM hashed a JOIN hashed b ON b.x = a.x + 1
    )
    SELECT n.n AS n_keys,
           CAST(ROUND(chi.chi2 * 1000) AS BIGINT) AS chi2_256_milli,
           CAST(ROUND(chi.maxdev * 1000) AS BIGINT)
               AS max_bucket_dev_milli,
           CAST(ROUND(serial.r * 1000000) AS BIGINT) AS serial_corr_micro
    FROM n, chi, serial
    """,
)
def hash_uniformity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniformity and serial-correlation tests for the same
    double-LCG: a 256-bucket chi-square against the flat expectation
    (should sit near its 255 df), the worst bucket's relative
    deviation, and the Pearson correlation between hashes of
    CONSECUTIVE keys — the killer test for linear congruential maps,
    whose single-round form correlates successive outputs almost
    perfectly (h(x+1) - h(x) = constant a mod p). Together with
    `hash_avalanche_audit` this is the PRNG-style acceptance gate for
    any hash the partitioners, samplers, and sketches rely on.

    Determinism: integer hashing and counts; CORR over exact doubles
    with micro rounding far above order noise.

    Scale shape: one hash agg to 256 buckets, one keyed self-join on
    x+1 for the lag pairing — two scans total.
    """
    cst = load_table(spark, sf_dir, "customer")
    keys = cst.select(F.col("c_custkey").cast("long").alias("x"))
    hashed = keys.select(
        "x",
        (
            (48271 * ((48271 * F.col("x") + 12345) % 2147483647) + 12345)
            % 2147483647
        ).alias("h"),
    ).transform(_ckpt)
    buckets = hashed.groupBy((F.col("h") % 256).alias("b")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n = hashed.agg(F.count(F.lit(1)).cast("long").alias("n"))
    chi = buckets.crossJoin(F.broadcast(n)).groupBy("n").agg(
        F.sum(
            F.pow(F.col("c") - F.col("n") / 256.0, 2) / (F.col("n") / 256.0)
        ).alias("chi2"),
        (F.max(F.abs(F.col("c") - F.col("n") / 256.0)) * 256.0 / F.col("n")).alias(
            "maxdev"
        ),
    )
    a, b = hashed.alias("a"), hashed.alias("b")
    serial = a.join(b, F.col("b.x") == F.col("a.x") + 1).agg(
        F.corr(F.col("a.h") * 1.0, F.col("b.h") * 1.0).alias("r")
    )
    return chi.crossJoin(F.broadcast(serial)).select(
        F.col("n").alias("n_keys"),
        F.round(F.col("chi2") * 1000).cast("long").alias("chi2_256_milli"),
        F.round(F.col("maxdev") * 1000).cast("long").alias(
            "max_bucket_dev_milli"
        ),
        F.round(F.col("r") * 1000000).cast("long").alias("serial_corr_micro"),
    )


_NATION_REV_RANKED_SQL = """
    WITH rev AS (
        SELECT c.c_nationkey AS nk,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
    ), ranked AS (
        SELECT nk, v,
               CAST(ROW_NUMBER() OVER (ORDER BY v, nk) AS BIGINT) AS r
        FROM rev
    ), pref AS (
        SELECT r, v,
               SUM(v * 1.0) OVER (ORDER BY r) AS s1,
               SUM(v * 1.0 * v) OVER (ORDER BY r) AS s2
        FROM ranked
    ), pref0 AS (
        SELECT 0 AS r, 0.0 AS s1, 0.0 AS s2
        UNION ALL SELECT r, s1, s2 FROM pref
    ), ssd AS (
        -- within-segment sum of squared deviations for ranks lo..hi
        SELECT lo.r + 1 AS lo, hi.r AS hi,
               (hi.s2 - lo.s2)
               - POWER(hi.s1 - lo.s1, 2) / (hi.r - lo.r) AS w
        FROM pref0 lo JOIN pref0 hi ON hi.r > lo.r
    )
"""


@query(
    "jenks_natural_breaks",
    oracle=_NATION_REV_RANKED_SQL
    + """
    , cuts AS (
        SELECT c1.hi AS a, c2.hi AS b, c3.hi AS c, c4.hi AS d,
               s1.w + s2.w + s3.w + s4.w + s5.w AS tw
        FROM (SELECT DISTINCT hi FROM ssd WHERE hi BETWEEN 1 AND 21) c1
        JOIN (SELECT DISTINCT hi FROM ssd WHERE hi BETWEEN 2 AND 22) c2
          ON c2.hi > c1.hi
        JOIN (SELECT DISTINCT hi FROM ssd WHERE hi BETWEEN 3 AND 23) c3
          ON c3.hi > c2.hi
        JOIN (SELECT DISTINCT hi FROM ssd WHERE hi BETWEEN 4 AND 24) c4
          ON c4.hi > c3.hi
        JOIN ssd s1 ON s1.lo = 1 AND s1.hi = c1.hi
        JOIN ssd s2 ON s2.lo = c1.hi + 1 AND s2.hi = c2.hi
        JOIN ssd s3 ON s3.lo = c2.hi + 1 AND s3.hi = c3.hi
        JOIN ssd s4 ON s4.lo = c3.hi + 1 AND s4.hi = c4.hi
        JOIN ssd s5 ON s5.lo = c4.hi + 1 AND s5.hi = 25
    ), best AS (
        SELECT a, b, c, d, tw FROM cuts
        ORDER BY tw ASC, a ASC, b ASC, c ASC, d ASC LIMIT 1
    ), tot AS (SELECT w AS sst FROM ssd WHERE lo = 1 AND hi = 25)
    SELECT CAST(best.a AS BIGINT) AS cut1_rank,
           CAST(best.b AS BIGINT) AS cut2_rank,
           CAST(best.c AS BIGINT) AS cut3_rank,
           CAST(best.d AS BIGINT) AS cut4_rank,
           CAST((SELECT v FROM ranked WHERE r = best.a) AS BIGINT)
               AS break1_cents,
           CAST((SELECT v FROM ranked WHERE r = best.d) AS BIGINT)
               AS break4_cents,
           CAST(ROUND((1 - best.tw / tot.sst) * 1000) AS BIGINT) AS gvf_milli
    FROM best, tot
    """,
)
def jenks_natural_breaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jenks natural-breaks classification of the 25 nation
    revenues into 5 classes: every C(24,4) = 10,626 placement of the
    four cut points is evaluated against prefix-sum within-class SSDs
    and the global optimum selected — the choropleth-map
    classification standard, solved exactly rather than by Jenks'
    iterative reassignment heuristic. The goodness-of-variance fit
    (1 - SSD_within / SSD_total) reports how natural the clustering
    is; `classification_scheme_gvf` scores the naive alternatives
    against this optimum.

    Determinism: values are exact cents with a (value, nation)
    rank tie-break; segment SSDs are closed prefix-sum expressions;
    the argmin orders by (cost, cut tuple).

    Scale shape: one fact agg to 25 values; the cut lattice is
    schema-bounded (10.6k rows joined to a 325-row SSD table) — the
    exhaustive search never touches data again.
    """
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    rev = (
        o.join(
            F.broadcast(
                cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("v")
        )
    )
    ranked = rev.select(
        "nk", "v", F.row_number().over(Window.orderBy("v", "nk")).cast("long").alias("r")
    ).transform(_ckpt)
    w = Window.orderBy("r")
    pref = ranked.select(
        "r",
        "v",
        F.sum(F.col("v") * 1.0).over(w).alias("s1"),
        F.sum(F.col("v") * 1.0 * F.col("v")).over(w).alias("s2"),
    )
    pref0 = pref.select("r", "s1", "s2").unionAll(
        pref.limit(1).select(
            F.lit(0).cast("long").alias("r"),
            F.lit(0.0).alias("s1"),
            F.lit(0.0).alias("s2"),
        )
    )
    lo, hi = pref0.alias("lo"), pref0.alias("hi")
    ssd = lo.join(hi, F.col("hi.r") > F.col("lo.r")).select(
        (F.col("lo.r") + 1).alias("lo"),
        F.col("hi.r").alias("hi"),
        (
            (F.col("hi.s2") - F.col("lo.s2"))
            - F.pow(F.col("hi.s1") - F.col("lo.s1"), 2)
            / (F.col("hi.r") - F.col("lo.r"))
        ).alias("w"),
    ).transform(_ckpt)
    cutpos = ssd.select("hi").distinct()
    c1 = cutpos.where(F.col("hi").between(1, 21)).select(F.col("hi").alias("a"))
    c2 = cutpos.where(F.col("hi").between(2, 22)).select(F.col("hi").alias("b"))
    c3 = cutpos.where(F.col("hi").between(3, 23)).select(F.col("hi").alias("c"))
    c4 = cutpos.where(F.col("hi").between(4, 24)).select(F.col("hi").alias("d"))
    combos = (
        c1.join(c2, F.col("b") > F.col("a"))
        .join(c3, F.col("c") > F.col("b"))
        .join(c4, F.col("d") > F.col("c"))
    )
    s = lambda n: ssd.select(
        F.col("lo").alias(f"{n}_lo"),
        F.col("hi").alias(f"{n}_hi"),
        F.col("w").alias(f"{n}_w"),
    )
    cuts = (
        combos.join(s("s1"), (F.col("s1_lo") == 1) & (F.col("s1_hi") == F.col("a")))
        .join(
            s("s2"),
            (F.col("s2_lo") == F.col("a") + 1) & (F.col("s2_hi") == F.col("b")),
        )
        .join(
            s("s3"),
            (F.col("s3_lo") == F.col("b") + 1) & (F.col("s3_hi") == F.col("c")),
        )
        .join(
            s("s4"),
            (F.col("s4_lo") == F.col("c") + 1) & (F.col("s4_hi") == F.col("d")),
        )
        .join(s("s5"), (F.col("s5_lo") == F.col("d") + 1) & (F.col("s5_hi") == 25))
        .select(
            "a",
            "b",
            "c",
            "d",
            (
                F.col("s1_w")
                + F.col("s2_w")
                + F.col("s3_w")
                + F.col("s4_w")
                + F.col("s5_w")
            ).alias("tw"),
        )
    )
    best = cuts.orderBy(
        F.asc("tw"), F.asc("a"), F.asc("b"), F.asc("c"), F.asc("d")
    ).limit(1)
    tot = ssd.where((F.col("lo") == 1) & (F.col("hi") == 25)).select(
        F.col("w").alias("sst")
    )
    bv = lambda col, alias: ranked.select(
        F.col("r").alias(f"{alias}_r"), F.col("v").alias(alias)
    )
    return (
        best.crossJoin(F.broadcast(tot))
        .join(F.broadcast(bv("v", "break1")), F.col("a") == F.col("break1_r"))
        .join(F.broadcast(bv("v", "break4")), F.col("d") == F.col("break4_r"))
        .select(
            F.col("a").cast("long").alias("cut1_rank"),
            F.col("b").cast("long").alias("cut2_rank"),
            F.col("c").cast("long").alias("cut3_rank"),
            F.col("d").cast("long").alias("cut4_rank"),
            F.col("break1").cast("long").alias("break1_cents"),
            F.col("break4").cast("long").alias("break4_cents"),
            F.round((1 - F.col("tw") / F.col("sst")) * 1000)
            .cast("long")
            .alias("gvf_milli"),
        )
    )


@query(
    "classification_scheme_gvf",
    oracle=_NATION_REV_RANKED_SQL
    + """
    , tot AS (SELECT w AS sst FROM ssd WHERE lo = 1 AND hi = 25
    ), mm AS (
        SELECT MIN(v * 1.0) AS lo, MAX(v * 1.0) AS hi FROM ranked
    ), classes AS (
        SELECT 'equal_interval' AS scheme, r, v,
               LEAST(CAST(FLOOR((v - mm.lo) * 5.0
                    / (mm.hi - mm.lo + 1)) AS BIGINT), 4) AS cls
        FROM ranked, mm
        UNION ALL
        SELECT 'quantile', r, v, CAST((r - 1) * 5 // 25 AS BIGINT)
        FROM ranked
    ), stats AS (
        SELECT scheme, cls, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(v * 1.0 * v) - POWER(SUM(v * 1.0), 2) / COUNT(*) AS w
        FROM classes GROUP BY scheme, cls
    ), agg AS (
        SELECT scheme, CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(MAX(n) AS BIGINT) AS largest,
               CAST(MIN(n) AS BIGINT) AS smallest,
               SUM(w) AS tw
        FROM stats GROUP BY scheme
    )
    SELECT scheme, n_classes, largest AS largest_class,
           smallest AS smallest_class,
           CAST(ROUND((1 - tw / tot.sst) * 1000) AS BIGINT) AS gvf_milli
    FROM agg, tot
    """,
)
def classification_scheme_gvf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodness-of-variance fit for the two naive choropleth
    classification schemes on the same nation revenues: equal-interval
    (5 equal-width value bins) and quantile (5 equal-count rank
    bins). GVF = 1 - SSD_within / SSD_total per scheme, with class
    occupancy extremes — read against `jenks_natural_breaks`' optimal
    GVF, which upper-bounds both (the invariant test pins the
    ordering). Equal intervals waste classes on empty value ranges
    under skew; quantiles split near-identical values — the two
    failure modes the occupancy columns expose.

    Determinism: class assignment is exact arithmetic (the +1 in the
    equal-interval width keeps the max value in class 4 identically);
    SSDs are closed-form sums.

    Scale shape: same 25-value relation; both schemes classify in
    one stateless pass and aggregate to <=10 cells.
    """
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    rev = (
        o.join(
            F.broadcast(
                cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("v")
        )
    )
    ranked = rev.select(
        "nk",
        "v",
        F.row_number().over(Window.orderBy("v", "nk")).cast("long").alias("r"),
    ).transform(_ckpt)
    sst_row = ranked.agg(
        (
            F.sum(F.col("v") * 1.0 * F.col("v"))
            - F.pow(F.sum(F.col("v") * 1.0), 2) / F.count(F.lit(1))
        ).alias("sst")
    )
    mm = ranked.agg(
        F.min(F.col("v") * 1.0).alias("lo"), F.max(F.col("v") * 1.0).alias("hi")
    )
    eq = ranked.crossJoin(F.broadcast(mm)).select(
        F.lit("equal_interval").alias("scheme"),
        "v",
        F.least(
            F.floor(
                (F.col("v") - F.col("lo")) * 5.0 / (F.col("hi") - F.col("lo") + 1)
            ).cast("long"),
            F.lit(4),
        ).alias("cls"),
    )
    qt = ranked.select(
        F.lit("quantile").alias("scheme"),
        "v",
        ((F.col("r") - 1) * 5 / 25).cast("long").alias("cls"),
    )
    stats = (
        eq.unionAll(qt)
        .groupBy("scheme", "cls")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (
                F.sum(F.col("v") * 1.0 * F.col("v"))
                - F.pow(F.sum(F.col("v") * 1.0), 2) / F.count(F.lit(1))
            ).alias("w"),
        )
    )
    agg = stats.groupBy("scheme").agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.max("n").cast("long").alias("largest_class"),
        F.min("n").cast("long").alias("smallest_class"),
        F.sum("w").alias("tw"),
    )
    return agg.crossJoin(F.broadcast(sst_row)).select(
        "scheme",
        "n_classes",
        "largest_class",
        "smallest_class",
        F.round((1 - F.col("tw") / F.col("sst")) * 1000)
        .cast("long")
        .alias("gvf_milli"),
    )


@query(
    "evalue_supermartingale_monitor",
    oracle="""
    WITH seq AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END
                   AS x,
               ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS t
        FROM orders
    ), run AS (
        SELECT t, SUM(x) OVER (ORDER BY t) AS s
        FROM seq
    ), ev AS (
        SELECT t,
               (0.5 * (s - 0.2 * t) - 0.25 * t / 8.0) / ln(10.0) AS log10e
        FROM run
    ), agg AS (
        SELECT CAST(MAX(t) AS BIGINT) AS n,
               MAX(log10e) AS mx,
               (SELECT log10e FROM ev ORDER BY t DESC LIMIT 1) AS fin,
               CAST(COALESCE(MIN(CASE WHEN log10e >= ln(20.0) / ln(10.0)
                                 THEN t END), 0) AS BIGINT) AS first_cross
        FROM ev
    )
    SELECT n AS n_orders,
           CAST(ROUND(fin * 1000) AS BIGINT) AS final_log10_e_milli,
           CAST(ROUND(mx * 1000) AS BIGINT) AS max_log10_e_milli,
           first_cross AS first_crossing_t,
           CAST(CASE WHEN first_cross > 0 THEN 1 ELSE 0 END AS BIGINT)
               AS rejected_anytime
    FROM agg
    """,
)
def evalue_supermartingale_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anytime-valid e-process monitoring of the urgent-order rate:
    under H0 (rate <= 0.2), E_t = exp(lambda (S_t - 0.2 t) -
    lambda^2 t / 8) with lambda = 1/2 is a Hoeffding supermartingale,
    so by Ville's inequality P(sup E_t >= 20) <= 1/20 — the stream
    can be checked after EVERY order with exact type-I control, no
    alpha-spending schedule needed (the modern e-value replacement
    for `sprt_conversion_monitor`'s parametric likelihood ratio and
    `obf_sequential_monitoring`'s fixed look schedule). Reported: the
    final and maximal log10 e-value and the first crossing index.

    Determinism: the order sequence has a total (date, key)
    tie-break; S_t is an exact cumsum; one exp-free linear formula
    per row, milli-rounded at the extremes only.

    Scale shape: position and running sum come from one pass of the
    range-bucketed distributed rank+cumsum (``operators/rank.py`` —
    no single-task window; the 0/1 indicator sums exactly in double,
    so bucketed regrouping is bit-stable) and a scalar agg — no
    joins; in production this runs as the streaming stateful op it
    describes.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_order_stats,
    )

    o = load_table(spark, sf_dir, "orders")
    run = distributed_order_stats(
        o.select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1.0)
            .otherwise(0.0)
            .alias("x"),
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("od"),
            "o_orderkey",
        ),
        "od",
        ["o_orderkey"],
        rank_col="t",
        cumsum_cols={"s": "x"},
    ).select("t", "s")
    ev = run.select(
        "t",
        (
            (0.5 * (F.col("s") - 0.2 * F.col("t")) - 0.25 * F.col("t") / 8.0)
            / F.log(F.lit(10.0))
        ).alias("log10e"),
    )
    thresh = F.log(F.lit(20.0)) / F.log(F.lit(10.0))
    agg = ev.agg(
        F.max("t").cast("long").alias("n"),
        F.max("log10e").alias("mx"),
        F.max_by("log10e", "t").alias("fin"),
        F.coalesce(
            F.min(F.when(F.col("log10e") >= thresh, F.col("t"))), F.lit(0)
        )
        .cast("long")
        .alias("first_cross"),
    )
    return agg.select(
        F.col("n").alias("n_orders"),
        F.round(F.col("fin") * 1000).cast("long").alias("final_log10_e_milli"),
        F.round(F.col("mx") * 1000).cast("long").alias("max_log10_e_milli"),
        F.col("first_cross").alias("first_crossing_t"),
        F.when(F.col("first_cross") > 0, 1).otherwise(0).cast("long").alias(
            "rejected_anytime"
        ),
    )


@query(
    "confidence_sequence_widths",
    oracle="""
    WITH seq AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END
                   AS x,
               ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS t
        FROM orders
    ), run AS (
        SELECT t, SUM(x) OVER (ORDER BY t) AS s FROM seq
    ), nmax AS (SELECT CAST(MAX(t) AS BIGINT) AS n FROM run
    ), cks AS (
        SELECT t, s FROM run, nmax
        WHERE t IN (100, 1000, 10000) OR t = nmax.n
    )
    SELECT CAST(t AS BIGINT) AS checkpoint_t,
           CAST(ROUND(s * 1000000.0 / t) AS BIGINT) AS running_mean_ppm,
           CAST(ROUND(sqrt(ln(2.0 / 0.05) / (2.0 * t)) * 1000000) AS BIGINT)
               AS fixed_hoeffding_width_micro,
           CAST(ROUND(1.7 * sqrt((ln(ln(2.0 * t)) + 0.72 * ln(5.2 / 0.05))
                / t) * 1000000) AS BIGINT) AS anytime_valid_width_micro,
           CAST(ROUND(1.7 * sqrt((ln(ln(2.0 * t)) + 0.72 * ln(5.2 / 0.05))
                / t)
                / sqrt(ln(2.0 / 0.05) / (2.0 * t)) * 1000) AS BIGINT)
               AS width_ratio_milli
    FROM cks
    """,
)
def confidence_sequence_widths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price of peeking: at checkpoints t = 100 / 1k / 10k / n, the
    fixed-n Hoeffding 95% half-width sqrt(ln(2/alpha) / 2t) is
    compared with Howard et al.'s stitched anytime-valid confidence
    sequence width 1.7 sqrt((ln ln 2t + 0.72 ln(5.2/alpha)) / t) —
    the bound that stays valid at EVERY t simultaneously, enabling
    the continuous monitoring `evalue_supermartingale_monitor`
    performs. The ratio column is the uniform-validity premium
    (~1.5-2x, shrinking like sqrt(ln ln t / ln t)) — the number that
    settles every "can we stop the A/B test early" debate.

    Determinism: checkpoint membership is exact; running means are
    exact cumsums; widths are closed-form doubles micro-rounded.

    Scale shape: position and running sum come from one pass of the
    range-bucketed distributed rank+cumsum (``operators/rank.py`` —
    no single-task window; the 0/1 indicator sums exactly in double,
    so bucketed regrouping is bit-stable), a 4-row checkpoint
    filter, stateless width formulas.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_order_stats,
    )

    o = load_table(spark, sf_dir, "orders")
    run = distributed_order_stats(
        o.select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1.0)
            .otherwise(0.0)
            .alias("x"),
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("od"),
            "o_orderkey",
        ),
        "od",
        ["o_orderkey"],
        rank_col="t",
        cumsum_cols={"s": "x"},
    ).select("t", "s")
    nmax = run.agg(F.max("t").cast("long").alias("n"))
    cks = run.crossJoin(F.broadcast(nmax)).where(
        F.col("t").isin(100, 1000, 10000) | (F.col("t") == F.col("n"))
    )
    fixed_w = F.sqrt(F.log(F.lit(2.0 / 0.05)) / (2.0 * F.col("t")))
    av_w = 1.7 * F.sqrt(
        (F.log(F.log(2.0 * F.col("t"))) + 0.72 * F.log(F.lit(5.2 / 0.05)))
        / F.col("t")
    )
    return cks.select(
        F.col("t").cast("long").alias("checkpoint_t"),
        F.round(F.col("s") * 1000000.0 / F.col("t"))
        .cast("long")
        .alias("running_mean_ppm"),
        F.round(fixed_w * 1000000).cast("long").alias(
            "fixed_hoeffding_width_micro"
        ),
        F.round(av_w * 1000000).cast("long").alias(
            "anytime_valid_width_micro"
        ),
        F.round(av_w / fixed_w * 1000).cast("long").alias("width_ratio_milli"),
    )


@query(
    "mmd_rbf_segments",
    oracle="""
    WITH vals AS (
        SELECT CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 'a' ELSE 'b' END
                   AS g,
               CAST(ROUND(o.o_totalprice / 500.0) AS BIGINT) AS q
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
    ), cnt AS (
        SELECT g, q, CAST(COUNT(*) AS BIGINT) AS n FROM vals GROUP BY g, q
    ), tot AS (
        SELECT CAST(SUM(CASE WHEN g = 'a' THEN n END) AS BIGINT) AS na,
               CAST(SUM(CASE WHEN g = 'b' THEN n END) AS BIGINT) AS nb
        FROM cnt
    ), bw(sig) AS (VALUES (1000.0), (5000.0), (20000.0)
    ), pairs AS (
        SELECT bw.sig, x.g AS gx, y.g AS gy,
               SUM(x.n * y.n * exp(-POWER((x.q - y.q) * 500.0 / bw.sig, 2)
                   / 2.0)) AS ks
        FROM cnt x JOIN cnt y ON TRUE CROSS JOIN bw
        GROUP BY bw.sig, x.g, y.g
    ), m AS (
        SELECT sig,
               SUM(CASE WHEN gx = 'a' AND gy = 'a' THEN ks END)
                   / (tot.na * 1.0 * tot.na) AS kaa,
               SUM(CASE WHEN gx = 'b' AND gy = 'b' THEN ks END)
                   / (tot.nb * 1.0 * tot.nb) AS kbb,
               SUM(CASE WHEN gx = 'a' AND gy = 'b' THEN ks END)
                   / (tot.na * 1.0 * tot.nb) AS kab
        FROM pairs, tot GROUP BY sig, tot.na, tot.nb
    )
    SELECT CAST(sig AS BIGINT) AS bandwidth_dollars,
           tot.na AS n_a, tot.nb AS n_b,
           CAST(ROUND((kaa + kbb - 2 * kab) * 1000000000) AS BIGINT)
               AS mmd2_nano
    FROM m, tot
    """,
)
def mmd_rbf_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel maximum mean discrepancy between AUTOMOBILE and BUILDING
    order-value distributions at three RBF bandwidths: values are
    quantized to a 500-dollar grid so the O(n^2) kernel double sum
    collapses to count-weighted sums over ~200 distinct cells — the
    V-statistic MMD^2 = E k(a,a') + E k(b,b') - 2 E k(a,b) computed
    exactly on the quantized distributions. The bandwidth sweep IS
    the point: tiny sigma sees only exact-value collisions, huge
    sigma blurs everything to zero, and the peak in between is the
    scale where the two segments actually differ — structure the
    single-number `energy_distance_labels` / `ks_drift_view_purchase`
    cannot show.

    Determinism: grid counts are exact; kernel terms are exp of
    exact rationals summed per (bandwidth, group-pair) cell,
    nano-rounded.

    Scale shape: the fact table collapses to (group, cell) counts in
    one agg; the kernel matrix is a tiny self-join of that relation
    per bandwidth — n^2 in CELLS, not rows.
    """
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    vals = (
        o.join(
            F.broadcast(
                cst.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
            ),
            "o_custkey",
        )
        .where(F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        .select(
            F.when(F.col("c_mktsegment") == "AUTOMOBILE", "a")
            .otherwise("b")
            .alias("g"),
            F.round(F.col("o_totalprice") / 500.0).cast("long").alias("q"),
        )
    )
    cnt = vals.groupBy("g", "q").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).transform(_ckpt)
    tot = cnt.agg(
        F.sum(F.when(F.col("g") == "a", F.col("n"))).cast("long").alias("na"),
        F.sum(F.when(F.col("g") == "b", F.col("n"))).cast("long").alias("nb"),
    )
    bw = spark.createDataFrame([(1000.0,), (5000.0,), (20000.0,)], "sig double")
    x, y = cnt.alias("x"), cnt.alias("y")
    k = F.exp(
        -F.pow((F.col("x.q") - F.col("y.q")) * 500.0 / F.col("sig"), 2) / 2.0
    )
    pairs = (
        x.crossJoin(y)
        .crossJoin(F.broadcast(bw))
        .groupBy("sig", F.col("x.g").alias("gx"), F.col("y.g").alias("gy"))
        .agg(F.sum(F.col("x.n") * F.col("y.n") * k).alias("ks"))
    )
    m = pairs.crossJoin(F.broadcast(tot)).groupBy("sig", "na", "nb").agg(
        (
            F.sum(F.when((F.col("gx") == "a") & (F.col("gy") == "a"), F.col("ks")))
            / (F.col("na") * 1.0 * F.col("na"))
        ).alias("kaa"),
        (
            F.sum(F.when((F.col("gx") == "b") & (F.col("gy") == "b"), F.col("ks")))
            / (F.col("nb") * 1.0 * F.col("nb"))
        ).alias("kbb"),
        (
            F.sum(F.when((F.col("gx") == "a") & (F.col("gy") == "b"), F.col("ks")))
            / (F.col("na") * 1.0 * F.col("nb"))
        ).alias("kab"),
    )
    return m.select(
        F.col("sig").cast("long").alias("bandwidth_dollars"),
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(
            (F.col("kaa") + F.col("kbb") - 2 * F.col("kab")) * 1000000000
        )
        .cast("long")
        .alias("mmd2_nano"),
    )


@query(
    "wbs_dyadic_cusum_scan",
    oracle="""
    WITH daily AS (
        SELECT o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
    ), idx AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS i, c
        FROM daily
    ), nn AS (SELECT CAST(MAX(i) AS BIGINT) AS n FROM idx
    ), pref AS (
        SELECT i, SUM(c * 1.0) OVER (ORDER BY i) AS s FROM idx
    ), pref0 AS (
        SELECT 0 AS i, 0.0 AS s UNION ALL SELECT i, s FROM pref
    ), ivals AS (
        SELECT lvl, seg,
               CAST(FLOOR(seg * n * 1.0 / POWER(2, lvl)) + 1 AS BIGINT) AS lo,
               CAST(FLOOR((seg + 1) * n * 1.0 / POWER(2, lvl)) AS BIGINT)
                   AS hi
        FROM nn,
             (SELECT l.lvl, s.seg
              FROM (SELECT UNNEST(generate_series(0, 3)) AS lvl) l,
                   (SELECT UNNEST(generate_series(0, 7)) AS seg) s
              WHERE s.seg < POWER(2, l.lvl)) g
    ), cusum AS (
        SELECT iv.lvl, iv.seg, sp.i AS split,
               sqrt((sp.i - iv.lo + 1) * 1.0 * (iv.hi - sp.i)
                    / (iv.hi - iv.lo + 1))
               * ABS((ps.s - pl.s) / (sp.i - iv.lo + 1)
                     - (ph.s - ps.s) / (iv.hi - sp.i)) AS stat
        FROM ivals iv
        JOIN pref sp ON sp.i >= iv.lo AND sp.i < iv.hi
        JOIN pref0 pl ON pl.i = iv.lo - 1
        JOIN pref0 ps ON ps.i = sp.i
        JOIN pref0 ph ON ph.i = iv.hi
        WHERE iv.hi - iv.lo >= 3
    ), best AS (
        SELECT lvl, seg, split, stat,
               ROW_NUMBER() OVER (PARTITION BY lvl, seg
                   ORDER BY stat DESC, split ASC) AS rk
        FROM cusum
    ), top5 AS (
        SELECT lvl, seg, split, stat,
               ROW_NUMBER() OVER (ORDER BY stat DESC, lvl, seg) AS ork
        FROM best WHERE rk = 1
    )
    SELECT CAST(lvl AS BIGINT) AS level, CAST(seg AS BIGINT) AS segment,
           CAST(split AS BIGINT) AS split_day_index,
           CAST(ROUND(stat * 1000) AS BIGINT) AS cusum_milli
    FROM top5 WHERE ork <= 5
    """,
)
def wbs_dyadic_cusum_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wild-binary-segmentation-style multi-scale changepoint scan,
    derandomized onto the dyadic interval grid: levels 0-3 tile the
    daily order-count series into 1/2/4/8 equal spans, the CUSUM
    statistic sqrt(n_l n_r / n) |mean_l - mean_r| is maximized within
    EACH interval, and the five strongest local candidates are
    reported. Where `binseg_single_changepoint` finds one global
    break and `pettitt_changepoint_daily` one rank-based break, the
    localized intervals catch short-lived shifts that full-span
    statistics dilute — WBS's core insight, with the dyadic grid
    replacing its random intervals for replayability.

    Determinism: interval bounds are integer arithmetic on the
    series length; CUSUM uses exact prefix sums; argmaxes tie-break
    on (split, level, segment).

    Scale shape: one date agg to the calendar-bounded series; the
    (interval, split) lattice is ~2n rows per level joined to the
    prefix relation — quadratic in NOTHING, linear in days x levels.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("d")).cast("long").alias("i"), "c"
    )
    nn = idx.agg(F.max("i").cast("long").alias("n"))
    pref = idx.select(
        "i", F.sum(F.col("c") * 1.0).over(Window.orderBy("i")).alias("s")
    ).transform(_ckpt)
    pref0 = pref.unionAll(
        pref.limit(1).select(
            F.lit(0).cast("long").alias("i"), F.lit(0.0).alias("s")
        )
    )
    segs = spark.createDataFrame(
        [(lvl, seg) for lvl in range(4) for seg in range(2**lvl)],
        "lvl long, seg long",
    )
    ivals = segs.crossJoin(F.broadcast(nn)).select(
        "lvl",
        "seg",
        (
            F.floor(F.col("seg") * F.col("n") * 1.0 / F.pow(F.lit(2.0), F.col("lvl")))
            + 1
        )
        .cast("long")
        .alias("lo"),
        F.floor(
            (F.col("seg") + 1) * F.col("n") * 1.0 / F.pow(F.lit(2.0), F.col("lvl"))
        )
        .cast("long")
        .alias("hi"),
    ).where(F.col("hi") - F.col("lo") >= 3)
    sp = pref.select(F.col("i").alias("split"), F.col("s").alias("ssplit"))
    pl = pref0.select(F.col("i").alias("plo_i"), F.col("s").alias("slo"))
    ph = pref0.select(F.col("i").alias("phi_i"), F.col("s").alias("shi"))
    cusum = (
        ivals.join(
            sp,
            (F.col("split") >= F.col("lo")) & (F.col("split") < F.col("hi")),
        )
        .join(pl, F.col("plo_i") == F.col("lo") - 1)
        .join(ph, F.col("phi_i") == F.col("hi"))
        .select(
            "lvl",
            "seg",
            "split",
            (
                F.sqrt(
                    (F.col("split") - F.col("lo") + 1)
                    * 1.0
                    * (F.col("hi") - F.col("split"))
                    / (F.col("hi") - F.col("lo") + 1)
                )
                * F.abs(
                    (F.col("ssplit") - F.col("slo"))
                    / (F.col("split") - F.col("lo") + 1)
                    - (F.col("shi") - F.col("ssplit"))
                    / (F.col("hi") - F.col("split"))
                )
            ).alias("stat"),
        )
    )
    best = cusum.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("lvl", "seg").orderBy(
                F.desc("stat"), F.asc("split")
            )
        ),
    ).where(F.col("rk") == 1)
    top5 = best.withColumn(
        "ork",
        F.row_number().over(
            Window.orderBy(F.desc("stat"), F.asc("lvl"), F.asc("seg"))
        ),
    ).where(F.col("ork") <= 5)
    return top5.select(
        F.col("lvl").cast("long").alias("level"),
        F.col("seg").cast("long").alias("segment"),
        F.col("split").cast("long").alias("split_day_index"),
        F.round(F.col("stat") * 1000).cast("long").alias("cusum_milli"),
    )


@query(
    "pandora_reservation_prices",
    oracle="""
    WITH prizes AS (
        SELECT s_nationkey % 5 AS r,
               CAST(ROUND(s_acctbal * 100) AS BIGINT) AS v
        FROM supplier
    ), dist AS (
        SELECT r, v, CAST(COUNT(*) AS BIGINT) AS c FROM prizes GROUP BY r, v
    ), tot AS (
        SELECT r, CAST(SUM(c) AS BIGINT) AS n FROM dist GROUP BY r
    ), cum AS (
        SELECT d.r, d.v, t.n,
               SUM(d.c) OVER (PARTITION BY d.r ORDER BY d.v DESC) AS geq_c,
               SUM(d.c * d.v * 1.0) OVER (PARTITION BY d.r ORDER BY d.v DESC)
                   AS geq_sv,
               LEAD(d.v) OVER (PARTITION BY d.r ORDER BY d.v DESC) AS v_next
        FROM dist d JOIN tot t ON t.r = d.r
    ), solved AS (
        -- on [v_next, v): G(z) = geq_sv/n - z*geq_c/n ; solve = 50000 cents
        SELECT r, n,
               (geq_sv - 50000.0 * n) / geq_c AS z,
               v, COALESCE(v_next, -4611686018427387904) AS vn
        FROM cum
    ), pick AS (
        SELECT r, n, z,
               ROW_NUMBER() OVER (PARTITION BY r ORDER BY z DESC) AS rk
        FROM solved WHERE z <= v AND z > vn
    ), zr AS (SELECT r, n, z FROM pick WHERE rk = 1)
    SELECT CAST(zr.r AS BIGINT) AS region_bucket,
           zr.n AS n_suppliers,
           CAST(ROUND(zr.z) AS BIGINT) AS reservation_cents,
           CAST(ROW_NUMBER() OVER (ORDER BY zr.z DESC, zr.r ASC) AS BIGINT)
               AS search_order
    FROM zr
    """,
)
def pandora_reservation_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weitzman's Pandora's-box reservation prices over five supplier
    pools (nation mod 5): each pool's prize is its empirical
    account-balance distribution, opening a box costs 500 dollars,
    and the reservation price z solves E[(V - z)+] = c exactly on the
    empirical piecewise-linear loss function (the unique interval
    where G(z) = c has constant slope -P(V >= v), so z is one
    division). Weitzman's theorem says the OPTIMAL sequential search
    opens boxes in decreasing z and stops when the best prize found
    exceeds every unopened z — the `search_order` column IS that
    optimal policy, computed with no simulation. The index-policy
    sibling of `secretary_stop_rule_replay` (rank feedback) and
    `littlewood_protection_level` (two-fare revenue).

    Determinism: the loss function uses exact cent cumsums over
    descending distinct values; the crossing interval is unique, and
    ties in z order break on pool id.

    Scale shape: one (pool, value) agg, one descending window
    cumsum per pool, one row each — search theory at aggregate cost.
    """
    sup = load_table(spark, sf_dir, "supplier")
    prizes = sup.select(
        (F.col("s_nationkey") % 5).alias("r"),
        F.round(F.col("s_acctbal") * 100).cast("long").alias("v"),
    )
    dist = prizes.groupBy("r", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = dist.groupBy("r").agg(F.sum("c").cast("long").alias("n"))
    wdesc = (
        Window.partitionBy("r")
        .orderBy(F.desc("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = dist.join(F.broadcast(tot), "r").select(
        "r",
        "v",
        "n",
        F.sum("c").over(wdesc).alias("geq_c"),
        F.sum(F.col("c") * F.col("v") * 1.0).over(wdesc).alias("geq_sv"),
        F.lead("v").over(Window.partitionBy("r").orderBy(F.desc("v"))).alias(
            "v_next"
        ),
    )
    solved = cum.select(
        "r",
        "n",
        ((F.col("geq_sv") - 50000.0 * F.col("n")) / F.col("geq_c")).alias("z"),
        "v",
        F.coalesce("v_next", F.lit(-4611686018427387904)).alias("vn"),
    )
    pick = (
        solved.where((F.col("z") <= F.col("v")) & (F.col("z") > F.col("vn")))
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("r").orderBy(F.desc("z"))),
        )
        .where(F.col("rk") == 1)
    )
    return pick.select(
        F.col("r").cast("long").alias("region_bucket"),
        F.col("n").alias("n_suppliers"),
        F.round("z").cast("long").alias("reservation_cents"),
        F.row_number()
        .over(Window.orderBy(F.desc("z"), F.asc("r")))
        .cast("long")
        .alias("search_order"),
    )


@query(
    "prophet_inequality_audit",
    oracle="""
    WITH med AS (
        SELECT PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS t
        FROM orders
    ), seq AS (
        SELECT o_custkey AS ck,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS i,
               COUNT(*) OVER (PARTITION BY o_custkey) AS cnt
        FROM orders
    ), elig AS (
        SELECT seq.ck, seq.v, seq.i, seq.cnt,
               CAST(ROUND(med.t * 100) AS BIGINT) AS thr
        FROM seq, med WHERE seq.cnt >= 2
    ), firsthit AS (
        SELECT ck, MIN(CASE WHEN v >= thr THEN i END) AS hit_i,
               MAX(i) AS last_i
        FROM elig GROUP BY ck
    ), accepted AS (
        SELECT e.ck, e.v AS acc,
               mx.mv
        FROM firsthit f
        JOIN elig e ON e.ck = f.ck AND e.i = COALESCE(f.hit_i, f.last_i)
        JOIN (SELECT ck, MAX(v) AS mv FROM elig GROUP BY ck) mx
          ON mx.ck = f.ck
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST((SELECT CAST(ROUND(t * 100) AS BIGINT) FROM med) AS BIGINT)
               AS threshold_cents,
           CAST(ROUND(AVG(acc * 1.0)) AS BIGINT) AS mean_accepted_cents,
           CAST(ROUND(AVG(mv * 1.0)) AS BIGINT) AS mean_prophet_cents,
           CAST(ROUND(AVG(acc * 1.0) / AVG(mv * 1.0) * 1000) AS BIGINT)
               AS competitive_ratio_milli,
           CAST(ROUND(SUM(CASE WHEN acc = mv THEN 1 ELSE 0 END) * 1000000.0
                / COUNT(*)) AS BIGINT) AS optimal_pick_ppm
    FROM accepted
    """,
)
def prophet_inequality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prophet-inequality threshold rule replayed on real order
    streams: each customer's orders arrive in date order, the gambler
    accepts the FIRST order worth at least the global median (taking
    the last if none qualifies), and the haul is compared with the
    prophet who sees the whole stream and takes the max. Theory says
    a single well-chosen threshold guarantees half the prophet's
    expectation; the audit reports the realized competitive ratio
    and how often the simple rule picks the true maximum — the
    threshold-policy counterpart of `secretary_stop_rule_replay`
    (which uses ranks, not values) and the replay-side companion of
    `pandora_reservation_prices`.

    Determinism: streams carry (date, orderkey) total order; the
    threshold is an exact PERCENTILE_DISC value; accept/max are
    integer selections.

    Scale shape: one global median, one windowed pass per customer
    partition, one join back for the accepted row — no pair blowup,
    no simulation loop.
    """
    o = load_table(spark, sf_dir, "orders")
    med = o.agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("t")
    )
    seq = o.select(
        F.col("o_custkey").alias("ck"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.row_number()
        .over(
            Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        )
        .alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("o_custkey")).alias("cnt"),
    )
    elig = (
        seq.where(F.col("cnt") >= 2)
        .crossJoin(F.broadcast(med))
        .select(
            "ck", "v", "i", F.round(F.col("t") * 100).cast("long").alias("thr")
        )
    )
    elig = _ckpt(elig)  # shared fan-out relation
    firsthit = elig.groupBy("ck").agg(
        F.min(F.when(F.col("v") >= F.col("thr"), F.col("i"))).alias("hit_i"),
        F.max("i").alias("last_i"),
        F.max("v").alias("mv"),
    )
    accepted = (
        firsthit.alias("f")
        .join(
            elig.alias("e"),
            (F.col("e.ck") == F.col("f.ck"))
            & (
                F.col("e.i")
                == F.coalesce(F.col("f.hit_i"), F.col("f.last_i"))
            ),
        )
        .select(
            F.col("f.ck").alias("ck"),
            F.col("e.v").alias("acc"),
            F.col("f.mv").alias("mv"),
            F.col("e.thr").alias("thr"),
        )
    )
    return accepted.agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.max("thr").cast("long").alias("threshold_cents"),
        F.round(F.avg(F.col("acc") * 1.0)).cast("long").alias(
            "mean_accepted_cents"
        ),
        F.round(F.avg(F.col("mv") * 1.0)).cast("long").alias(
            "mean_prophet_cents"
        ),
        F.round(F.avg(F.col("acc") * 1.0) / F.avg(F.col("mv") * 1.0) * 1000)
        .cast("long")
        .alias("competitive_ratio_milli"),
        F.round(
            F.sum(F.when(F.col("acc") == F.col("mv"), 1).otherwise(0))
            * 1000000.0
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("optimal_pick_ppm"),
    )


_BRAND_STREAM_SQL = """
    WITH stream AS (
        SELECT p.p_brand AS k,
               ROW_NUMBER() OVER (
                   ORDER BY l.l_shipdate, l.l_orderkey, l.l_linenumber
               ) AS pos
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), with_prev AS (
        SELECT k, pos,
               LAG(pos) OVER (PARTITION BY k ORDER BY pos) AS prev
        FROM stream
    )
"""


@query(
    "mattson_reuse_profile",
    oracle=_BRAND_STREAM_SQL
    + """
    , dists AS (
        SELECT wp.pos,
               CAST(COUNT(DISTINCT s.k) AS BIGINT) AS d
        FROM with_prev wp
        JOIN stream s ON s.pos > wp.prev AND s.pos < wp.pos
        WHERE wp.prev IS NOT NULL
        GROUP BY wp.pos
    ), alld AS (
        SELECT wp.pos,
               CASE WHEN wp.prev IS NULL THEN CAST(NULL AS BIGINT)
                    ELSE COALESCE(dists.d, 0) END AS d
        FROM with_prev wp LEFT JOIN dists ON dists.pos = wp.pos
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM alld
    ), caps(c) AS (VALUES (1), (2), (4), (8))
    SELECT CAST(caps.c AS BIGINT) AS capacity,
           n.n AS n_accesses,
           CAST(SUM(CASE WHEN alld.d IS NOT NULL AND alld.d < caps.c
                    THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           CAST(ROUND(SUM(CASE WHEN alld.d IS NOT NULL AND alld.d < caps.c
                    THEN 1 ELSE 0 END) * 1000000.0 / n.n) AS BIGINT)
               AS hit_ratio_ppm
    FROM caps CROSS JOIN alld CROSS JOIN n
    GROUP BY caps.c, n.n
    """,
    bench=True,
)
def mattson_reuse_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mattson stack analysis of the global brand reference stream
    (lineitems in ship order): each access's REUSE DISTANCE is the
    number of distinct brands touched since its previous access, and
    by LRU's stack-inclusion property the hit ratio at ANY capacity C
    is simply P(reuse distance < C) — so one pass yields the entire
    hit-rate curve at capacities 1/2/4/8 without simulating a single
    eviction. The exact-offline complement of
    `lru_cache_hit_simulation` (one capacity, replayed) and
    `working_set_trailing_distinct` (Denning's time-window view).

    Determinism: the stream has a total (shipdate, orderkey,
    linenumber) order; distances and counts are exact integers.

    Scale shape: reuse distance needs only the ORDER of occurrences,
    never absolute stream positions, so no global ROW_NUMBER is
    computed at all (the previous shape paid three fact passes in
    ``distributed_order_stats`` — quantile, bucket partials, offset
    window — before the scan). Instead the fact is range-bucketed
    into ~16k-row segments straight from parquet FOOTER hints (row
    count + ship-date min/max; zero construction jobs) and accesses
    are compared as (sd, orderkey, linenumber) tuples: the one fact
    pass is the segment-bucketed checkpoint the cogrouped scan
    consumes. Distances come from an Arrow SEGMENTED SCAN exploiting
    the schema-bounded brand alphabet (25 at any SF): d(p) = #{brands
    j whose last occurrence before p is later than brand k's}; each
    segment needs only its entering last-occurrence vector (the
    latest prior tuple per brand), the in-segment running max is
    CHUNKED at 16k rows so one pathological ship-day cannot blow task
    memory, and the curve is ONE partial-aggregable pass (the prior
    shape's separate n-agg re-executed the whole cogroup scan — two
    FlatMapCoGroupsInPandas in the plan). Monotonicity in C (pinned
    in tests) is the stack-inclusion law.
    """
    import datetime as _dt

    from pyspark_movie_recommender_spark.sources.tables import (
        column_minmax_hint,
        table_row_hint,
    )

    li = load_table(spark, sf_dir, "lineitem")
    prt = load_table(spark, sf_dir, "part")
    raw = li.join(
        F.broadcast(
            prt.select(F.col("p_partkey").alias("l_partkey"), "p_brand")
        ),
        "l_partkey",
    ).select(
        F.col("p_brand").alias("k"),
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("sd"),
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
    )
    # ~16k rows per date-range segment; both hints are footer reads,
    # so plan construction stays job-free (the levenshtein row_hint
    # pattern). Ties (same ship-day) always land in one segment —
    # bucket is a monotone function of sd — so bucket order + the
    # within-segment (sd, ok, ln) sort IS the global stream order.
    n_seg = max(32, -(-table_row_hint(sf_dir, "lineitem") // 16384))
    mm = column_minmax_hint(sf_dir, "lineitem", "l_shipdate")
    if mm is None:  # stats-less files: one bounded driver-scalar agg
        row = scalar_row(
            raw.agg(F.min("sd").alias("lo"), F.max("sd").alias("hi")),
            "registry_08.mattson_shipdate_minmax",
        )
        lo_us, hi_us = row["lo"], row["hi"]
    else:
        epoch = _dt.date(1970, 1, 1).toordinal()
        lo_us, hi_us = (
            (d.toordinal() - epoch) * 86_400_000_000 for d in mm
        )
    span = float(hi_us - lo_us + 1)
    bucketed = raw.withColumn(
        "b",
        F.least(
            F.lit(n_seg - 1),
            F.floor(
                (F.col("sd") - F.lit(lo_us)).cast("double")
                / F.lit(span)
                * F.lit(float(n_seg))
            ),
        ).cast("long"),
    ).transform(_ckpt)
    # tiny (segments x brands) relation; ckpt gives it fresh lineage so
    # the enter fusion below reads it without recomputing the
    # full-stream groupBy (and it computes once). max over the struct
    # is the brand's latest occurrence in the segment, lexicographic.
    seg_last = (
        bucketed.groupBy("b", "k")
        .agg(F.max(F.struct("sd", "ok", "ln")).alias("mx"))
        .transform(_ckpt)
    )
    # entering state per (segment, brand), fused into ONE pass over
    # seg_last (round-6 verdict ask #4): occurrence tuples grow with
    # segment id, so the last occurrence of brand k before segment s
    # is k's mx from its LATEST appearance segment b_i < s — valid for
    # every s in (b_i, next appearance], extended to the final
    # non-empty segment after the last appearance. lead() gives the
    # validity range, sequence + explode materializes the (segment,
    # brand, last-tuple) rows. Both windows run over the
    # cardinality-reduced (segments x 25 brands) aggregate. The
    # explode is TWO-LEVEL (outer chunk starts, inner <=4096-element
    # ranges): a brand absent across a long stretch would otherwise
    # build the whole validity range as ONE in-row array — at the
    # 100 TB shape (n_seg ~ rows/16384, tens of millions) that single
    # row hits Spark's array-length ceiling / task memory. Chunking
    # bounds every materialized array at 4096 longs while the outer
    # chunk-start array stays n_seg/4096 elements, and the row count
    # out of the double explode is identical to the single explode.
    _chunk = 4096
    w_k = Window.partitionBy("k").orderBy("b")
    w_all = Window.partitionBy(F.lit(1))
    enter = (
        seg_last.withColumn(
            "nxt", F.coalesce(F.lead("b").over(w_k), F.max("b").over(w_all))
        )
        .where(F.col("nxt") > F.col("b"))
        .select(
            "k",
            "mx",
            "nxt",
            F.explode(
                F.sequence(F.col("b") + 1, F.col("nxt"), F.lit(_chunk))
            ).alias("cs"),
        )
        .select(
            F.explode(
                F.sequence(
                    F.col("cs"),
                    F.least(F.col("cs") + F.lit(_chunk - 1), F.col("nxt")),
                )
            ).alias("b"),
            # fresh exprId on purpose: enter's k would otherwise share
            # the stream side's attribute id and the cogroup dedups it
            # out of the right-side Arrow batch
            F.col("k").alias("k"),
            F.col("mx.sd").alias("lsd"),
            F.col("mx.ok").alias("lok"),
            F.col("mx.ln").alias("lln"),
        )
    )

    def _scan(pdf, enter_pdf):
        # cogrouped: the <=25-row entering state arrives ONCE per
        # segment. Only ORDER is ever compared, never positions:
        # every entering occurrence precedes every in-segment row, so
        # the entering tuples rank below 0 among themselves and the
        # segment's rows take 1..n in (sd, ok, ln) order.
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(["sd", "ok", "ln"])
        n_rows = len(pdf)
        ent = enter_pdf.sort_values(["lsd", "lok", "lln"])
        st = dict(zip(ent["k"], np.arange(-len(ent), 0, dtype="float64")))
        brands = sorted(set(pdf["k"]).union(st))
        idx = {br: i for i, br in enumerate(brands)}
        m = len(brands)
        kcodes = pdf["k"].map(idx).to_numpy(dtype="int64")
        cur = np.full(m, -np.inf)
        for br, v in st.items():
            cur[idx[br]] = v
        out = np.empty(n_rows, dtype="int64")
        # chunked running max: memory stays O(16k x 25) however large
        # one segment gets (a pathological single ship-day cannot
        # blow the task), while the cummax/compare stays vectorized
        for lo in range(0, n_rows, 16384):
            hi = min(lo + 16384, n_rows)
            kc = kcodes[lo:hi]
            a = np.full((hi - lo + 1, m), -np.inf)
            a[0] = cur
            a[np.arange(1, hi - lo + 1), kc] = np.arange(
                lo + 1, hi + 1, dtype="float64"
            )
            run = np.maximum.accumulate(a, axis=0)
            # last occurrence of each brand STRICTLY before each row
            last = run[:-1]
            q = last[np.arange(hi - lo), kc]
            d = (last > q[:, None]).sum(axis=1)
            out[lo:hi] = np.where(np.isinf(q), -1, d)
            cur = run[-1]
        return pd.DataFrame({"d": out})

    scanned = (
        bucketed.groupBy("b")
        .cogroup(enter.groupBy("b"))
        .applyInPandas(_scan, "d long")
    )
    alld = scanned.select(
        F.when(F.col("d") < 0, F.lit(None).cast("long"))
        .otherwise(F.col("d"))
        .alias("d"),
    )
    # the whole hit-rate curve in ONE pass over the scanned stream:
    # the previous shape computed n in a separate agg whose subtree
    # RE-EXECUTED the Arrow cogroup scan (two FlatMapCoGroupsInPandas
    # in the physical plan, no exchange reuse) and then pushed a 4x
    # caps crossJoin through the final agg. count + the four
    # conditional sums are one partial-aggregable pass; explode of a
    # 4-struct literal array fans the single row out to the curve.
    curve = alld.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum(F.when(F.col("d") < c, 1).otherwise(0))
            .cast("long")
            .alias(f"h{c}")
            for c in (1, 2, 4, 8)
        ],
    )
    return curve.select(
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).cast("long").alias("capacity"),
                        F.col(f"h{c}").alias("hits"),
                    )
                    for c in (1, 2, 4, 8)
                ]
            )
        ).alias("e"),
    ).select(
        F.col("e.capacity").alias("capacity"),
        F.col("n").alias("n_accesses"),
        F.col("e.hits").alias("hits"),
        F.round(F.col("e.hits") * 1000000.0 / F.col("n"))
        .cast("long")
        .alias("hit_ratio_ppm"),
    )


@query(
    "che_lru_approximation",
    oracle=_BRAND_STREAM_SQL
    + """
    , rates AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS cnt FROM stream GROUP BY k
    ), n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM rates
    ), caps(c) AS (VALUES (1), (2), (4), (8))
    , tg AS (SELECT UNNEST(generate_series(1, 200)) AS t
    ), fill AS (
        SELECT tg.t, SUM(1 - exp(-(rates.cnt * 1.0 / n.n) * tg.t)) AS m
        FROM tg CROSS JOIN rates CROSS JOIN n GROUP BY tg.t
    ), tc AS (
        SELECT caps.c, fill.t, fill.m,
               ROW_NUMBER() OVER (PARTITION BY caps.c
                   ORDER BY ABS(fill.m - caps.c), fill.t) AS rk
        FROM caps CROSS JOIN fill
    ), tstar AS (SELECT c, t FROM tc WHERE rk = 1
    ), che AS (
        SELECT tstar.c, tstar.t,
               SUM((rates.cnt * 1.0 / n.n)
                   * (1 - exp(-(rates.cnt * 1.0 / n.n) * tstar.t))) AS hit
        FROM tstar CROSS JOIN rates CROSS JOIN n
        GROUP BY tstar.c, tstar.t
    )
    SELECT CAST(c AS BIGINT) AS capacity,
           CAST(t AS BIGINT) AS che_characteristic_t,
           CAST(ROUND(hit * 1000000) AS BIGINT) AS che_hit_ppm
    FROM che
    """,
)
def che_lru_approximation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Che approximation of LRU hit rates on the same brand stream as
    `mattson_reuse_profile`: under the independent-reference model,
    the characteristic time T_C solves sum_i (1 - e^(-lambda_i T)) =
    C (found on an integer T grid, nearest-fill tie-broken low), and
    the predicted hit rate is sum_i p_i (1 - e^(-lambda_i T_C)) — the
    closed-form CDN-sizing workhorse. Reading its predictions against
    Mattson's exact curve quantifies the IRM's error on a stream with
    real temporal correlation — the cache world's analogue of the
    sketch-vs-exact audits.

    Determinism: rates are exact count shares; the fill function is
    a sum of exps over 25 brands per grid point; the argmin
    tie-breaks on T.

    Scale shape: one per-brand count agg; the 200-point T grid cross
    joins a 25-row relation — approximation cost is independent of
    stream length, which is its selling point.
    """
    li = load_table(spark, sf_dir, "lineitem")
    prt = load_table(spark, sf_dir, "part")
    stream = li.join(
        F.broadcast(prt.select(F.col("p_partkey").alias("l_partkey"), "p_brand")),
        "l_partkey",
    ).select(F.col("p_brand").alias("k"))
    rates = stream.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    # 25-row brand-rate relation fans out to the total, the fill grid,
    # and the hit-rate pass — without materialization each re-runs the
    # fact-sized stream agg (census: lineitem/part ×4)
    rates = _ckpt(rates)
    n = rates.agg(F.sum("cnt").cast("long").alias("n"))
    caps = spark.createDataFrame([(1,), (2,), (4,), (8,)], "c long")
    tg = spark.range(1, 201).select(F.col("id").alias("t"))
    lam = F.col("cnt") * 1.0 / F.col("n")
    fill = (
        tg.crossJoin(F.broadcast(rates))
        .crossJoin(F.broadcast(n))
        .groupBy("t")
        .agg(F.sum(1 - F.exp(-lam * F.col("t"))).alias("m"))
    )
    tc = (
        caps.crossJoin(fill)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("c").orderBy(
                    F.abs(F.col("m") - F.col("c")), F.col("t")
                )
            ),
        )
        .where(F.col("rk") == 1)
        .select("c", "t")
    )
    che = (
        tc.crossJoin(F.broadcast(rates))
        .crossJoin(F.broadcast(n))
        .groupBy("c", "t")
        .agg(F.sum(lam * (1 - F.exp(-lam * F.col("t")))).alias("hit"))
    )
    return che.select(
        F.col("c").cast("long").alias("capacity"),
        F.col("t").cast("long").alias("che_characteristic_t"),
        F.round(F.col("hit") * 1000000).cast("long").alias("che_hit_ppm"),
    )


@query(
    "dfr_pl2_search",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    ), tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(t) AS token FROM toks)
        WHERE token IN ('spark', 'vector', 'stream')
        GROUP BY doc_id, token
    ), dl AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nd, AVG(dl * 1.0) AS avgdl
        FROM dl
    ), ctf AS (
        SELECT token, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY token
    ), scored AS (
        SELECT tf.doc_id, tf.token,
               tf.tf * (ln(1 + stats.avgdl / dl.dl) / ln(2.0)) AS tfn,
               ctf.cf * 1.0 / stats.nd AS lam
        FROM tf
        JOIN dl ON dl.doc_id = tf.doc_id
        JOIN ctf ON ctf.token = tf.token
        CROSS JOIN stats
    ), pl2 AS (
        SELECT doc_id,
               ROUND(SUM(CASE WHEN tfn > 0 THEN
                   (1.0 / (tfn + 1)) * (
                       tfn * (ln(tfn / lam) / ln(2.0))
                       + (lam - tfn) / ln(2.0)
                       + 0.5 * (ln(2 * pi() * tfn) / ln(2.0)))
                   ELSE 0 END), 6) AS score
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, score AS pl2_score
    FROM pl2 ORDER BY score DESC, doc_id ASC LIMIT 10
    """,
)
def dfr_pl2_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Divergence-from-randomness PL2 ranking for the query {spark,
    vector, stream}: term frequency is length-normalized (Amati's
    normalization 2, c = 1), and the score measures how far each
    term's observed frequency diverges from a Poisson background with
    rate = collection frequency / N, Laplace-smoothed for aftereffect
    — the third classical ranking family beside `bm25_search`
    (probabilistic BM25) and `query_likelihood_dirichlet` (language
    model). On the same query, rank disagreements BETWEEN families
    localize which docs are ranked on term rarity vs length vs burst.

    Determinism: all inputs are exact counts; log2 terms evaluate on
    identical doubles; scores round to 6 decimals with a doc-id
    tie-break before the top-10 limit (the proven bm25 pattern).

    Scale shape: explode -> term-filtered (doc, term) agg; collection
    stats broadcast; TakeOrdered top-k — identical machinery to the
    other rankers, so family comparisons are plan-for-plan fair.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", ws_tokens(F.lower(F.col("text"))).alias("t"))
    tf = (
        toks.select("doc_id", F.explode("t").alias("token"))
        .where(F.col("token").isin("spark", "vector", "stream"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    tf = _ckpt(tf)  # shared fan-out relation
    dl = toks.select("doc_id", F.size("t").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.avg(F.col("dl") * 1.0).alias("avgdl"),
    )
    ctf = tf.groupBy("token").agg(F.sum("tf").cast("long").alias("cf"))
    ln2 = F.log(F.lit(2.0))
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(ctf), "token")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (
                F.col("tf") * (F.log(1 + F.col("avgdl") / F.col("dl")) / ln2)
            ).alias("tfn"),
            (F.col("cf") * 1.0 / F.col("nd")).alias("lam"),
        )
    )
    pl2 = scored.groupBy("doc_id").agg(
        F.round(
            F.sum(
                F.when(
                    F.col("tfn") > 0,
                    (1.0 / (F.col("tfn") + 1))
                    * (
                        F.col("tfn") * (F.log(F.col("tfn") / F.col("lam")) / ln2)
                        + (F.col("lam") - F.col("tfn")) / ln2
                        + 0.5
                        * (
                            F.log(2 * 3.141592653589793 * F.col("tfn"))
                            / ln2
                        )
                    ),
                ).otherwise(0.0)
            ),
            6,
        ).alias("pl2_score")
    )
    return pl2.orderBy(F.desc("pl2_score"), F.asc("doc_id")).limit(10)


@query(
    "err_graded_eval",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    ), tf AS (
        SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(t) AS token FROM toks)
        WHERE token IN ('spark', 'vector', 'stream')
        GROUP BY doc_id, token
    ), per_doc AS (
        SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tfsum,
               CAST(COUNT(*) AS BIGINT) AS grade
        FROM tf GROUP BY doc_id
    ), ranked AS (
        SELECT doc_id, grade,
               ROW_NUMBER() OVER (ORDER BY tfsum DESC, doc_id ASC) AS r
        FROM per_doc
    ), top AS (
        SELECT r, (POWER(2, grade) - 1) / 8.0 AS rel
        FROM ranked WHERE r <= 20
    ), seq AS (
        SELECT r, rel,
               COALESCE(SUM(ln(1 - rel)) OVER (ORDER BY r
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
                   AS lp
        FROM top
    ), err AS (
        SELECT SUM((1.0 / r) * rel * exp(lp)) AS e,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(MAX(CASE WHEN rel >= 7.0 / 8 THEN 1 ELSE 0 END) AS BIGINT)
                   AS has_full_match
        FROM seq
    )
    SELECT k AS n_ranked,
           CAST(ROUND(e * 1000000) AS BIGINT) AS err_at20_micro,
           has_full_match
    FROM err
    """,
)
def err_graded_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected reciprocal rank at 20 for a term-frequency ranking of
    the {spark, vector, stream} query, with GRADED relevance (grade =
    distinct query terms present, mapped to (2^g - 1)/8): ERR models
    a cascade user who stops at each result with probability equal to
    its relevance, so ERR = sum (1/r) R_r prod(1 - R_i) — unlike
    `mrr_bm25_eval`'s binary first-hit or NDCG's position discount,
    ERR penalizes GOOD results hidden BELOW other good results (the
    diversity-aware metric of the TREC cascade family). The stop
    probabilities compound via an exact log-cumsum window, not a
    sequential loop.

    Determinism: grades and ranks are integers with doc-id
    tie-breaks; the cascade product is exp of an exact prefix sum
    (ln(1 - 7/8) is finite because grades cap at 3).

    Scale shape: term-filtered agg, one top-20 TakeOrdered, one
    20-row window — evaluation cost is rank-depth, not corpus size.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", ws_tokens(F.lower(F.col("text"))).alias("t"))
    tf = (
        toks.select("doc_id", F.explode("t").alias("token"))
        .where(F.col("token").isin("spark", "vector", "stream"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("tfsum"),
        F.count(F.lit(1)).cast("long").alias("grade"),
    )
    ranked = per_doc.select(
        "doc_id",
        "grade",
        F.row_number()
        .over(Window.orderBy(F.desc("tfsum"), F.asc("doc_id")))
        .alias("r"),
    ).where(F.col("r") <= 20)
    top = ranked.select(
        "r", ((F.pow(F.lit(2.0), F.col("grade")) - 1) / 8.0).alias("rel")
    )
    lp = F.coalesce(
        F.sum(F.log(1 - F.col("rel"))).over(
            Window.orderBy("r").rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0.0),
    )
    seq = top.select("r", "rel", lp.alias("lp"))
    err = seq.agg(
        F.sum((1.0 / F.col("r")) * F.col("rel") * F.exp(F.col("lp"))).alias("e"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max(F.when(F.col("rel") >= 7.0 / 8, 1).otherwise(0))
        .cast("long")
        .alias("has_full_match"),
    )
    return err.select(
        F.col("k").alias("n_ranked"),
        F.round(F.col("e") * 1000000).cast("long").alias("err_at20_micro"),
        "has_full_match",
    )


@query(
    "l_moments_block_maxima",
    oracle="""
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM orders GROUP BY 1
    ), blocks AS (
        SELECT (EXTRACT(year FROM d) - 1992) * 12 + EXTRACT(month FROM d) - 1
                   AS m,
               CAST(MAX(rev) AS BIGINT) AS x
        FROM daily GROUP BY 1
    ), ranked AS (
        SELECT x * 1.0 AS x,
               CAST(ROW_NUMBER() OVER (ORDER BY x, m) AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM blocks
    ), pwm AS (
        SELECT MAX(n) AS n,
               AVG(x) AS b0,
               SUM(x * (i - 1)) / (MAX(n) * 1.0 * (MAX(n) - 1)) AS b1,
               SUM(x * (i - 1) * (i - 2))
               / (MAX(n) * 1.0 * (MAX(n) - 1) * (MAX(n) - 2)) AS b2,
               SUM(x * (i - 1) * (i - 2) * (i - 3))
               / (MAX(n) * 1.0 * (MAX(n) - 1) * (MAX(n) - 2) * (MAX(n) - 3))
                   AS b3
        FROM ranked
    ), lmom AS (
        SELECT n, b0 AS l1, 2 * b1 - b0 AS l2,
               6 * b2 - 6 * b1 + b0 AS l3,
               20 * b3 - 30 * b2 + 12 * b1 - b0 AS l4
        FROM pwm
    )
    SELECT n AS n_blocks,
           CAST(ROUND(l1) AS BIGINT) AS l1_cents,
           CAST(ROUND(l2) AS BIGINT) AS l2_cents,
           CAST(ROUND(l3 / l2 * 1000) AS BIGINT) AS t3_milli,
           CAST(ROUND(l4 / l2 * 1000) AS BIGINT) AS t4_milli,
           CAST(170 AS BIGINT) AS gumbel_t3_milli,
           CAST(150 AS BIGINT) AS gumbel_t4_milli
    FROM lmom
    """,
)
def l_moments_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-moment ratio coordinates of monthly maximum daily revenue:
    probability-weighted moments b0..b3 are exact rank-weighted sums,
    the first four L-moments follow by Hosking's linear combinations,
    and the L-skewness/L-kurtosis pair (t3, t4) places the block-
    maxima sample on the L-moment ratio diagram — the standard
    distribution-identification chart where Gumbel sits at exactly
    (0.1699, 0.1504), printed alongside for the distance check.
    Unlike `gumbel_daily_max_fit` (which ASSUMES Gumbel and fits),
    L-moments DIAGNOSE which extreme-value family the maxima actually
    follow, robustly (linear in the data, no squaring of extremes).

    Determinism: maxima are exact cents, ranks carry an (x, month)
    tie-break, and PWMs are single-expression rank-weighted sums,
    milli-rounded at the ratio stage.

    Scale shape: fact -> daily agg -> ~80 monthly maxima; one rank
    window and one scalar agg on that tiny relation.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("rev")
    )
    blocks = daily.groupBy(
        ((F.year("d") - 1992) * 12 + F.month("d") - 1).alias("m")
    ).agg(F.max("rev").cast("long").alias("x"))
    ranked = blocks.select(
        (F.col("x") * 1.0).alias("x"),
        F.row_number().over(Window.orderBy("x", "m")).cast("long").alias("i"),
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
    pwm = ranked.agg(
        F.max("n").alias("n"),
        F.avg("x").alias("b0"),
        (
            F.sum(F.col("x") * (F.col("i") - 1))
            / (F.max("n") * 1.0 * (F.max("n") - 1))
        ).alias("b1"),
        (
            F.sum(F.col("x") * (F.col("i") - 1) * (F.col("i") - 2))
            / (F.max("n") * 1.0 * (F.max("n") - 1) * (F.max("n") - 2))
        ).alias("b2"),
        (
            F.sum(
                F.col("x")
                * (F.col("i") - 1)
                * (F.col("i") - 2)
                * (F.col("i") - 3)
            )
            / (
                F.max("n")
                * 1.0
                * (F.max("n") - 1)
                * (F.max("n") - 2)
                * (F.max("n") - 3)
            )
        ).alias("b3"),
    )
    lmom = pwm.select(
        "n",
        F.col("b0").alias("l1"),
        (2 * F.col("b1") - F.col("b0")).alias("l2"),
        (6 * F.col("b2") - 6 * F.col("b1") + F.col("b0")).alias("l3"),
        (
            20 * F.col("b3") - 30 * F.col("b2") + 12 * F.col("b1") - F.col("b0")
        ).alias("l4"),
    )
    return lmom.select(
        F.col("n").cast("long").alias("n_blocks"),
        F.round("l1").cast("long").alias("l1_cents"),
        F.round("l2").cast("long").alias("l2_cents"),
        F.round(F.col("l3") / F.col("l2") * 1000).cast("long").alias("t3_milli"),
        F.round(F.col("l4") / F.col("l2") * 1000).cast("long").alias("t4_milli"),
        F.lit(170).cast("long").alias("gumbel_t3_milli"),
        F.lit(150).cast("long").alias("gumbel_t4_milli"),
    )


@query(
    "mean_excess_profile",
    oracle="""
    WITH v AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ), th AS (
        SELECT 500 AS qm, (SELECT PERCENTILE_DISC(0.5)
               WITHIN GROUP (ORDER BY c) FROM v) AS u
        UNION ALL SELECT 750, (SELECT PERCENTILE_DISC(0.75)
               WITHIN GROUP (ORDER BY c) FROM v)
        UNION ALL SELECT 900, (SELECT PERCENTILE_DISC(0.9)
               WITHIN GROUP (ORDER BY c) FROM v)
        UNION ALL SELECT 950, (SELECT PERCENTILE_DISC(0.95)
               WITHIN GROUP (ORDER BY c) FROM v)
    ), ex AS (
        SELECT th.qm, th.u,
               CAST(COUNT(*) AS BIGINT) AS n_exceed,
               AVG((v.c - th.u) * 1.0) AS me,
               STDDEV_SAMP((v.c - th.u) * 1.0) AS sd
        FROM th JOIN v ON v.c > th.u
        GROUP BY th.qm, th.u
    )
    SELECT CAST(qm AS BIGINT) AS quantile_milli,
           CAST(u AS BIGINT) AS threshold_cents, n_exceed,
           CAST(ROUND(me) AS BIGINT) AS mean_excess_cents,
           CAST(ROUND(sd / me * 1000) AS BIGINT) AS excess_cv_milli
    FROM ex
    """,
)
def mean_excess_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-excess (mean residual life) profile of order values at the
    50/75/90/95% thresholds: e(u) = E[X - u | X > u], the plot whose
    SHAPE identifies the tail — linear increasing for heavy
    (Pareto-type, slope xi/(1-xi)), flat for exponential, decreasing
    for bounded tails. This is the threshold-selection diagnostic
    `extreme_value_pot` needs BEFORE fitting its GPD (pick u where
    the profile turns linear), with the excess CV as the
    exponentiality check (CV = 1 exactly for memoryless tails).

    Determinism: thresholds are exact PERCENTILE_DISC values; excess
    means over exact integer differences, cent-rounded.

    Scale shape: one quantile sort, then a threshold-filtered agg
    per level — each level prunes at the scan via its pushed-down
    predicate.
    """
    o = load_table(spark, sf_dir, "orders")
    v = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
    v = _ckpt(v)  # shared fan-out relation
    th = None
    for qm, q in [(500, 0.5), (750, 0.75), (900, 0.9), (950, 0.95)]:
        r = v.agg(
            F.lit(qm).alias("qm"),
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY c)"
            ).alias("u"),
        )
        th = r if th is None else th.unionAll(r)
    ex = (
        th.join(v, F.col("c") > F.col("u"))
        .groupBy("qm", "u")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exceed"),
            F.avg((F.col("c") - F.col("u")) * 1.0).alias("me"),
            F.stddev_samp((F.col("c") - F.col("u")) * 1.0).alias("sd"),
        )
    )
    return ex.select(
        F.col("qm").cast("long").alias("quantile_milli"),
        F.col("u").cast("long").alias("threshold_cents"),
        "n_exceed",
        F.round("me").cast("long").alias("mean_excess_cents"),
        F.round(F.col("sd") / F.col("me") * 1000)
        .cast("long")
        .alias("excess_cv_milli"),
    )


@query(
    "acceptance_sampling_oc",
    oracle="""
    WITH def AS (
        SELECT n.n_regionkey AS r,
               AVG(CASE WHEN l.l_returnflag = 'R' THEN 1.0 ELSE 0.0 END) AS p,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1
    ), oc AS (
        SELECT r, p, n_items,
               POWER(1 - p, 50)
               + 50 * p * POWER(1 - p, 49)
               + 1225 * p * p * POWER(1 - p, 48) AS pa
        FROM def
    )
    SELECT CAST(r AS BIGINT) AS region_key, n_items,
           CAST(ROUND(p * 1000000) AS BIGINT) AS defect_rate_ppm,
           CAST(ROUND(pa * 1000000) AS BIGINT) AS p_accept_ppm,
           CAST(ROUND(p * pa * (1000 - 50) / 1000.0 * 1000000) AS BIGINT)
               AS aoq_ppm,
           CAST(ROUND(50 + (1 - pa) * (1000 - 50)) AS BIGINT)
               AS ati_items
    FROM oc
    """,
)
def acceptance_sampling_oc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-characteristic audit of the attributes sampling plan
    (n = 50, c = 2) against each region's actual defect (return)
    rate: P(accept) is the exact binomial tail 1 + 50p + 1225p^2
    weighted by (1-p) powers, the average outgoing quality
    p Pa (N-n)/N shows what slips through rectifying inspection of
    N = 1000 lots, and the average total inspection n + (1-Pa)(N-n)
    prices the plan in items inspected. The lot-acceptance view of
    quality that the process-monitoring charts
    (`p_chart_weekly_late_orders`, `xbar_r_control_chart`) do not
    cover — OC curves decide plans BEFORE monitoring starts.

    Determinism: defect rates are exact ratios; the binomial
    coefficients are literals; POWER on identical doubles.

    Scale shape: one broadcast-dim fact agg to 5 rates; the plan
    evaluation is stateless per-row math.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    deff = (
        li.join(
            o.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
            "l_orderkey",
        )
        .join(
            F.broadcast(
                cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .join(
            F.broadcast(
                nat.select(
                    F.col("n_nationkey").alias("c_nationkey"), "n_regionkey"
                )
            ),
            "c_nationkey",
        )
        .groupBy(F.col("n_regionkey").alias("r"))
        .agg(
            F.avg(
                F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0)
            ).alias("p"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )
    pa = (
        F.pow(1 - F.col("p"), 50)
        + 50 * F.col("p") * F.pow(1 - F.col("p"), 49)
        + 1225 * F.col("p") * F.col("p") * F.pow(1 - F.col("p"), 48)
    )
    return deff.select(
        F.col("r").cast("long").alias("region_key"),
        "n_items",
        F.round(F.col("p") * 1000000).cast("long").alias("defect_rate_ppm"),
        F.round(pa * 1000000).cast("long").alias("p_accept_ppm"),
        F.round(F.col("p") * pa * (1000 - 50) / 1000.0 * 1000000)
        .cast("long")
        .alias("aoq_ppm"),
        F.round(50 + (1 - pa) * (1000 - 50)).cast("long").alias("ati_items"),
    )


@query(
    "variables_sampling_plan",
    oracle="""
    WITH lat AS (
        SELECT n.n_regionkey AS r,
               CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
                   AS d
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        WHERE l.l_shipdate >= o.o_orderdate
    ), s AS (
        SELECT r, CAST(COUNT(*) AS BIGINT) AS n, AVG(d * 1.0) AS mu,
               STDDEV_SAMP(d * 1.0) AS sd
        FROM lat GROUP BY r
    )
    SELECT CAST(r AS BIGINT) AS region_key, n AS n_items,
           CAST(ROUND(mu * 1000) AS BIGINT) AS mean_latency_milli_days,
           CAST(ROUND(sd * 1000) AS BIGINT) AS sd_latency_milli_days,
           CAST(ROUND((100 - mu) / sd * 1000) AS BIGINT) AS k_margin_milli,
           CAST(CASE WHEN (100 - mu) / sd >= 2.0 THEN 1 ELSE 0 END AS BIGINT)
               AS accepted_at_k2
    FROM s
    """,
)
def variables_sampling_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variables (k-method) acceptance sampling on ship latency per
    region against an upper spec of 100 days: accept when
    (U - mean) / sd >= k = 2.0 — the measurement-based plan that
    reaches a given OC curve with ~1/3 the sample size of the
    attributes plan in `acceptance_sampling_oc`, at the price of a
    normality assumption. The margin column is the continuous
    evidence the accept flag thresholds, comparable across regions
    as a process-capability-style z-distance
    (`process_capability_orders`' cousin at the lot level).

    Determinism: latencies are exact day integers; mean/sd standard
    double aggregates; one division, milli-rounded.

    Scale shape: one joined fact agg to 5 (n, mean, sd) rows —
    nothing else.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    lat = (
        li.join(
            o.select(
                F.col("o_orderkey").alias("l_orderkey"),
                "o_custkey",
                "o_orderdate",
            ),
            "l_orderkey",
        )
        .where(F.col("l_shipdate") >= F.col("o_orderdate"))
        .join(
            F.broadcast(
                cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .join(
            F.broadcast(
                nat.select(
                    F.col("n_nationkey").alias("c_nationkey"), "n_regionkey"
                )
            ),
            "c_nationkey",
        )
        .select(
            F.col("n_regionkey").alias("r"),
            F.datediff("l_shipdate", "o_orderdate").cast("long").alias("d"),
        )
    )
    s = lat.groupBy("r").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg(F.col("d") * 1.0).alias("mu"),
        F.stddev_samp(F.col("d") * 1.0).alias("sd"),
    )
    k = (100 - F.col("mu")) / F.col("sd")
    return s.select(
        F.col("r").cast("long").alias("region_key"),
        F.col("n").alias("n_items"),
        F.round(F.col("mu") * 1000).cast("long").alias(
            "mean_latency_milli_days"
        ),
        F.round(F.col("sd") * 1000).cast("long").alias(
            "sd_latency_milli_days"
        ),
        F.round(k * 1000).cast("long").alias("k_margin_milli"),
        F.when(k >= 2.0, 1).otherwise(0).cast("long").alias("accepted_at_k2"),
    )


@query(
    "peak_coincidence_factor",
    oracle="""
    WITH rday AS (
        SELECT o.o_orderdate AS d, n.n_regionkey AS r,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS load
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ), sys AS (
        SELECT d, CAST(SUM(load) AS BIGINT) AS sysload
        FROM rday GROUP BY d
    ), syspeak AS (
        SELECT d, sysload FROM sys ORDER BY sysload DESC, d ASC LIMIT 1
    ), rpeak AS (
        SELECT r, CAST(MAX(load) AS BIGINT) AS peak FROM rday GROUP BY r
    ), at_peak AS (
        SELECT rday.r, rday.load
        FROM rday JOIN syspeak ON syspeak.d = rday.d
    )
    SELECT CAST(rpeak.r AS BIGINT) AS region_key,
           rpeak.peak AS region_peak_cents,
           CAST(COALESCE(at_peak.load, 0) AS BIGINT)
               AS load_at_system_peak_cents,
           CAST(ROUND(COALESCE(at_peak.load, 0) * 1000.0 / rpeak.peak)
                AS BIGINT) AS region_coincidence_milli,
           CAST(ROUND((SELECT sysload FROM syspeak) * 1000.0
                / (SELECT SUM(peak) FROM rpeak)) AS BIGINT)
               AS system_coincidence_milli
    FROM rpeak LEFT JOIN at_peak ON at_peak.r = rpeak.r
    """,
)
def peak_coincidence_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak coincidence analysis of regional daily revenue 'loads':
    the system coincidence factor is the system-wide peak divided by
    the sum of individual region peaks (<= 1; its reciprocal is the
    diversity factor utilities size capacity with), and each region's
    own coincidence is its load on the SYSTEM peak day relative to
    its private peak — regions peaking off-cycle are the natural
    hedge `markowitz_min_variance_pair` prices by covariance, seen
    here through the capacity-planning lens instead: capacity needs
    the peak, not the variance.

    Determinism: loads are exact cent sums; the system peak day
    carries a (load, date) tie-break; ratios milli-rounded.

    Scale shape: one fact agg to (day, region) cells, one day rollup,
    one 5-row peak agg, one broadcast peak-day join.
    """
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    rday = (
        o.join(
            F.broadcast(
                cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .join(
            F.broadcast(
                nat.select(
                    F.col("n_nationkey").alias("c_nationkey"), "n_regionkey"
                )
            ),
            "c_nationkey",
        )
        .groupBy(F.col("o_orderdate").alias("d"), F.col("n_regionkey").alias("r"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("load")
        )
        .transform(_ckpt)
    )
    sys = rday.groupBy("d").agg(F.sum("load").cast("long").alias("sysload"))
    syspeak = sys.orderBy(F.desc("sysload"), F.asc("d")).limit(1)
    rpeak = rday.groupBy("r").agg(F.max("load").cast("long").alias("peak"))
    tot_peak = rpeak.agg(F.sum("peak").cast("long").alias("sum_peaks"))
    at_peak = rday.join(
        F.broadcast(syspeak.select("d")), "d"
    ).select("r", "load")
    return (
        rpeak.join(at_peak, "r", "left")
        .crossJoin(F.broadcast(tot_peak))
        .crossJoin(F.broadcast(syspeak.select("sysload")))
        .select(
            F.col("r").cast("long").alias("region_key"),
            F.col("peak").alias("region_peak_cents"),
            F.coalesce("load", F.lit(0))
            .cast("long")
            .alias("load_at_system_peak_cents"),
            F.round(F.coalesce("load", F.lit(0)) * 1000.0 / F.col("peak"))
            .cast("long")
            .alias("region_coincidence_milli"),
            F.round(F.col("sysload") * 1000.0 / F.col("sum_peaks"))
            .cast("long")
            .alias("system_coincidence_milli"),
        )
    )


@query(
    "ramp_rate_extremes",
    oracle="""
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS load
        FROM orders GROUP BY 1
    ), ramps AS (
        SELECT d, load,
               load - LAG(load) OVER (ORDER BY d) AS ramp,
               date_diff('day', LAG(d) OVER (ORDER BY d), d) AS gap
        FROM daily
    ), adj AS (
        SELECT d, ramp FROM ramps WHERE gap = 1
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               STDDEV_SAMP(ramp * 1.0) AS sd,
               CAST(MAX(ramp) AS BIGINT) AS up,
               CAST(MIN(ramp) AS BIGINT) AS dn
        FROM adj
    ), upday AS (
        SELECT d FROM adj, s WHERE ramp = s.up ORDER BY d LIMIT 1
    ), dnday AS (
        SELECT d FROM adj, s WHERE ramp = s.dn ORDER BY d LIMIT 1
    )
    SELECT s.n AS n_ramps,
           s.up AS max_up_ramp_cents, (SELECT d FROM upday) AS max_up_day,
           s.dn AS max_down_ramp_cents, (SELECT d FROM dnday) AS max_down_day,
           CAST(ROUND(s.sd) AS BIGINT) AS ramp_sd_cents,
           CAST(ROUND(s.up / s.sd * 1000) AS BIGINT) AS up_sigmas_milli
    FROM s
    """,
)
def ramp_rate_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ramp-rate analysis of daily revenue: day-over-day load changes
    between CONSECUTIVE calendar days (gaps excluded), their standard
    deviation, and the steepest up and down ramps with their dates and
    sigma multiples. Ramps are the derivative extreme the level-based
    screens miss — `max_drawdown_daily_value` finds deep cumulative
    troughs, `grubbs_daily_revenue_outlier` flags level outliers, but
    a one-day swing inside a normal range is visible only here (it is
    what breaks staffing and capacity, per the duck-curve literature).

    Determinism: exact integer diffs over calendar-adjacent days;
    extreme days tie-break earliest; sigma ratio milli-rounded.

    Scale shape: one date agg, one LAG window, one scalar agg — plus
    two single-row argmax lookups on the tiny ramp relation.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("load")
    )
    w = Window.orderBy("d")
    ramps = daily.select(
        "d",
        (F.col("load") - F.lag("load").over(w)).alias("ramp"),
        F.datediff(F.col("d"), F.lag("d").over(w)).alias("gap"),
    )
    adj = ramps.where(F.col("gap") == 1).transform(_ckpt)
    s = adj.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.stddev_samp(F.col("ramp") * 1.0).alias("sd"),
        F.max("ramp").cast("long").alias("up"),
        F.min("ramp").cast("long").alias("dn"),
    )
    upday = (
        adj.crossJoin(F.broadcast(s.select("up")))
        .where(F.col("ramp") == F.col("up"))
        .orderBy("d")
        .limit(1)
        .select(F.col("d").alias("max_up_day"))
    )
    dnday = (
        adj.crossJoin(F.broadcast(s.select("dn")))
        .where(F.col("ramp") == F.col("dn"))
        .orderBy("d")
        .limit(1)
        .select(F.col("d").alias("max_down_day"))
    )
    return (
        s.crossJoin(F.broadcast(upday))
        .crossJoin(F.broadcast(dnday))
        .select(
            F.col("n").alias("n_ramps"),
            F.col("up").alias("max_up_ramp_cents"),
            "max_up_day",
            F.col("dn").alias("max_down_ramp_cents"),
            "max_down_day",
            F.round("sd").cast("long").alias("ramp_sd_cents"),
            F.round(F.col("up") / F.col("sd") * 1000)
            .cast("long")
            .alias("up_sigmas_milli"),
        )
    )


_UNIT_PTS_VAL_SQL = """
    WITH pts AS (
        SELECT c_custkey AS id,
               CAST((c_custkey * 2654435761) % 1000000 AS DOUBLE)
                   / 1000000.0 AS x,
               CAST(((c_custkey + 1013904223) * 2654435761) % 1000000
                    AS DOUBLE) / 1000000.0 AS y,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS z
        FROM customer
    ), cells AS (
        SELECT id, x, y, z,
               CAST(FLOOR(x * 32) AS BIGINT) AS cx,
               CAST(FLOOR(y * 32) AS BIGINT) AS cy
        FROM pts
    )
"""


@query(
    "empirical_variogram_2d",
    oracle=_UNIT_PTS_VAL_SQL
    + """
    , offs AS (
        SELECT a.dx, b.dy
        FROM (SELECT UNNEST(generate_series(-4, 4)) AS dx) a
        CROSS JOIN (SELECT UNNEST(generate_series(-4, 4)) AS dy) b
    ), probe AS (
        SELECT id, x, y, z, cx + dx AS cx, cy + dy AS cy
        FROM cells CROSS JOIN offs
    ), pd AS (
        SELECT sqrt((p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y))
                   AS d,
               (p.z - q.z) * 1.0 * (p.z - q.z) AS sq
        FROM probe p JOIN cells q
          ON q.cx = p.cx AND q.cy = p.cy AND q.id < p.id
    ), bins AS (
        SELECT CASE WHEN d <= 0.02 THEN 20 WHEN d <= 0.05 THEN 50
                    WHEN d <= 0.1 THEN 100 END AS h_milli, sq
        FROM pd WHERE d <= 0.1
    ), vario AS (
        SELECT h_milli, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               SUM(sq) / (2 * COUNT(*)) AS gamma
        FROM bins GROUP BY h_milli
    ), sill AS (SELECT VAR_POP(z * 1.0) AS v FROM pts)
    SELECT CAST(h_milli AS BIGINT) AS h_milli, n_pairs,
           CAST(ROUND(sqrt(gamma)) AS BIGINT) AS gamma_rms_cents,
           CAST(ROUND(gamma / sill.v * 1000) AS BIGINT) AS sill_ratio_milli
    FROM vario, sill
    """,
)
def empirical_variogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical semivariogram of customer balances over the
    deterministic unit-square point pattern: gamma(h) = mean squared
    value difference / 2 for pairs in distance bins (0, 0.02],
    (0.02, 0.05], (0.05, 0.1], each expressed as a ratio to the
    global variance (the sill). A ratio rising toward 1000 with
    distance is spatial dependence — the prerequisite check before
    any kriging/IDW interpolation (`idw_hub_interpolation` assumes
    it); ~1000 at all lags means balances are spatially white and
    interpolation is pointless. The VALUE-field companion of the
    location-only `ripley_k_census`.

    Determinism: coordinates and values are exact integer mixes;
    each unordered pair is produced once (id < id with the unique
    offset); bin edges compare identical doubles.

    Scale shape: the same 9x9-block pair generator as Ripley —
    candidates scale with local density; one 3-cell hash agg.
    """
    cst = load_table(spark, sf_dir, "customer")
    pts = cst.select(
        F.col("c_custkey").alias("id"),
        (((F.col("c_custkey") * 2654435761) % 1000000).cast("double") / 1000000.0).alias("x"),
        ((((F.col("c_custkey") + 1013904223) * 2654435761) % 1000000).cast("double") / 1000000.0).alias("y"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("z"),
    )
    cells = pts.select(
        "id", "x", "y", "z",
        F.floor(F.col("x") * 32).cast("long").alias("cx"),
        F.floor(F.col("y") * 32).cast("long").alias("cy"),
    ).transform(_ckpt)
    offs = spark.createDataFrame(
        [(dx, dy) for dx in range(-4, 5) for dy in range(-4, 5)],
        "dx long, dy long",
    )
    probe = cells.crossJoin(F.broadcast(offs)).select(
        "id", "x", "y", "z",
        (F.col("cx") + F.col("dx")).alias("cx"),
        (F.col("cy") + F.col("dy")).alias("cy"),
    )
    p, q = probe.alias("p"), cells.alias("q")
    pd = p.join(
        q,
        (F.col("q.cx") == F.col("p.cx"))
        & (F.col("q.cy") == F.col("p.cy"))
        & (F.col("q.id") < F.col("p.id")),
    ).select(
        F.sqrt(
            (F.col("p.x") - F.col("q.x")) * (F.col("p.x") - F.col("q.x"))
            + (F.col("p.y") - F.col("q.y")) * (F.col("p.y") - F.col("q.y"))
        ).alias("d"),
        ((F.col("p.z") - F.col("q.z")) * 1.0 * (F.col("p.z") - F.col("q.z"))).alias(
            "sq"
        ),
    )
    bins = pd.where(F.col("d") <= 0.1).select(
        F.when(F.col("d") <= 0.02, 20)
        .when(F.col("d") <= 0.05, 50)
        .otherwise(100)
        .alias("h_milli"),
        "sq",
    )
    vario = bins.groupBy("h_milli").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (F.sum("sq") / (2 * F.count(F.lit(1)))).alias("gamma"),
    )
    sill = pts.agg(F.var_pop(F.col("z") * 1.0).alias("v"))
    return vario.crossJoin(F.broadcast(sill)).select(
        F.col("h_milli").cast("long").alias("h_milli"),
        "n_pairs",
        F.round(F.sqrt("gamma")).cast("long").alias("gamma_rms_cents"),
        F.round(F.col("gamma") / F.col("v") * 1000)
        .cast("long")
        .alias("sill_ratio_milli"),
    )


@query(
    "join_count_spatial",
    oracle=_UNIT_PTS_VAL_SQL
    + """
    , offs AS (
        SELECT a.dx, b.dy
        FROM (SELECT UNNEST(generate_series(-2, 2)) AS dx) a
        CROSS JOIN (SELECT UNNEST(generate_series(-2, 2)) AS dy) b
    ), probe AS (
        SELECT id, x, y, CASE WHEN z > 0 THEN 1 ELSE 0 END AS b,
               cx + dx AS cx, cy + dy AS cy
        FROM cells CROSS JOIN offs
    ), nbr AS (
        SELECT p.b AS ba, CASE WHEN q.z > 0 THEN 1 ELSE 0 END AS bb
        FROM probe p JOIN cells q
          ON q.cx = p.cx AND q.cy = p.cy AND q.id < p.id
        WHERE (p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y)
              <= 0.05 * 0.05
    ), obs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(ba * bb) AS BIGINT) AS bbj,
               CAST(SUM((1 - ba) * (1 - bb)) AS BIGINT) AS wwj,
               CAST(SUM(ba + bb - 2 * ba * bb) AS BIGINT) AS bwj
        FROM nbr
    ), pb AS (
        SELECT AVG(CASE WHEN z > 0 THEN 1.0 ELSE 0.0 END) AS p FROM pts
    )
    SELECT obs.m AS n_neighbor_pairs,
           obs.bbj AS bb_joins, obs.wwj AS ww_joins, obs.bwj AS bw_joins,
           CAST(ROUND(obs.m * pb.p * pb.p) AS BIGINT) AS bb_expected,
           CAST(ROUND(obs.m * 2 * pb.p * (1 - pb.p)) AS BIGINT)
               AS bw_expected,
           CAST(ROUND(obs.bbj * 1000.0 / (obs.m * pb.p * pb.p)) AS BIGINT)
               AS bb_ratio_milli
    FROM obs, pb
    """,
)
def join_count_spatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-count statistics for the binary mark 'positive account
    balance' on the unit-square pattern: neighbor pairs (distance <=
    0.05, grid-blocked) are classified BB / WW / BW and compared with
    the free-sampling expectations m p^2, m (1-p)^2, 2 m p (1-p).
    Join counts are the CATEGORICAL spatial-autocorrelation test —
    `spatial_moran_i` needs a continuous variate; for a yes/no mark
    the BB excess ratio is the right statistic (BB >> expected means
    solvent customers cluster spatially). Same-color join inflation
    with BW deficit is the definitive segregation signature.

    Determinism: marks and pair counts are exact integers; the
    distance threshold compares exact doubles; expectations are one
    multiplication, rounded.

    Scale shape: 5x5-block neighbor generation, one scalar
    classification agg — the cheapest member of the spatial family.
    """
    cst = load_table(spark, sf_dir, "customer")
    pts = cst.select(
        F.col("c_custkey").alias("id"),
        (((F.col("c_custkey") * 2654435761) % 1000000).cast("double") / 1000000.0).alias("x"),
        ((((F.col("c_custkey") + 1013904223) * 2654435761) % 1000000).cast("double") / 1000000.0).alias("y"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("z"),
    )
    cells = pts.select(
        "id", "x", "y", "z",
        F.floor(F.col("x") * 32).cast("long").alias("cx"),
        F.floor(F.col("y") * 32).cast("long").alias("cy"),
    ).transform(_ckpt)
    offs = spark.createDataFrame(
        [(dx, dy) for dx in range(-2, 3) for dy in range(-2, 3)],
        "dx long, dy long",
    )
    probe = cells.crossJoin(F.broadcast(offs)).select(
        "id", "x", "y",
        F.when(F.col("z") > 0, 1).otherwise(0).alias("ba"),
        (F.col("cx") + F.col("dx")).alias("cx"),
        (F.col("cy") + F.col("dy")).alias("cy"),
    )
    p, q = probe.alias("p"), cells.alias("q")
    nbr = p.join(
        q,
        (F.col("q.cx") == F.col("p.cx"))
        & (F.col("q.cy") == F.col("p.cy"))
        & (F.col("q.id") < F.col("p.id")),
    ).where(
        (F.col("p.x") - F.col("q.x")) * (F.col("p.x") - F.col("q.x"))
        + (F.col("p.y") - F.col("q.y")) * (F.col("p.y") - F.col("q.y"))
        <= 0.05 * 0.05
    ).select(
        F.col("p.ba").alias("ba"),
        F.when(F.col("q.z") > 0, 1).otherwise(0).alias("bb"),
    )
    obs = nbr.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(F.col("ba") * F.col("bb")).cast("long").alias("bbj"),
        F.sum((1 - F.col("ba")) * (1 - F.col("bb"))).cast("long").alias("wwj"),
        F.sum(F.col("ba") + F.col("bb") - 2 * F.col("ba") * F.col("bb"))
        .cast("long")
        .alias("bwj"),
    )
    pb = pts.agg(
        F.avg(F.when(F.col("z") > 0, 1.0).otherwise(0.0)).alias("p")
    )
    return obs.crossJoin(F.broadcast(pb)).select(
        F.col("m").alias("n_neighbor_pairs"),
        F.col("bbj").alias("bb_joins"),
        F.col("wwj").alias("ww_joins"),
        F.col("bwj").alias("bw_joins"),
        F.round(F.col("m") * F.col("p") * F.col("p"))
        .cast("long")
        .alias("bb_expected"),
        F.round(F.col("m") * 2 * F.col("p") * (1 - F.col("p")))
        .cast("long")
        .alias("bw_expected"),
        F.round(F.col("bbj") * 1000.0 / (F.col("m") * F.col("p") * F.col("p")))
        .cast("long")
        .alias("bb_ratio_milli"),
    )


_HEDGE_CORE_SQL = """
    WITH daily AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t, y
        FROM (
            SELECT o_orderdate AS d,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) * 1.0 AS y
            FROM orders GROUP BY 1
        )
    ), fx AS (
        SELECT t, y,
               LAG(y, 1) OVER (ORDER BY t) AS e1,
               AVG(y) OVER (ORDER BY t ROWS BETWEEN 7 PRECEDING
                            AND 1 PRECEDING) AS e2,
               AVG(y) OVER (ORDER BY t ROWS BETWEEN 28 PRECEDING
                            AND 1 PRECEDING) AS e3,
               LAG(y, 7) OVER (ORDER BY t) AS e4,
               AVG(y) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS e5
        FROM daily
    ), lng AS (
        SELECT t, y, 1 AS ex, e1 AS f FROM fx WHERE t >= 29
        UNION ALL SELECT t, y, 2, e2 FROM fx WHERE t >= 29
        UNION ALL SELECT t, y, 3, e3 FROM fx WHERE t >= 29
        UNION ALL SELECT t, y, 4, e4 FROM fx WHERE t >= 29
        UNION ALL SELECT t, y, 5, e5 FROM fx WHERE t >= 29
    ), mx AS (SELECT MAX(y) AS m FROM daily
    ), tt AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS bign FROM lng
    ), losses AS (
        SELECT lng.t, lng.ex, lng.y, lng.f,
               ABS(lng.f - lng.y) / mx.m AS loss
        FROM lng, mx
    ), cum AS (
        SELECT t, ex, y, f, loss,
               COALESCE(SUM(loss) OVER (PARTITION BY ex ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)
                   AS prior
        FROM losses
    ), eta AS (
        SELECT sqrt(8 * ln(5.0) / bign) AS eta FROM tt
    ), wts AS (
        SELECT cum.t, cum.ex, cum.y, cum.f, cum.loss,
               exp(-eta.eta * cum.prior)
               / SUM(exp(-eta.eta * cum.prior)) OVER (PARTITION BY cum.t)
                   AS w
        FROM cum, eta
    )
"""


@query(
    "hedge_expert_weights",
    oracle=_HEDGE_CORE_SQL
    + """
    , fin AS (
        SELECT ex, SUM(loss) AS cl,
               MAX(CASE WHEN t = (SELECT MAX(t) FROM wts) THEN w END) AS wf
        FROM wts GROUP BY ex
    )
    SELECT CAST(ex AS BIGINT) AS expert,
           CAST(ROUND(cl * 1000) AS BIGINT) AS cum_loss_milli,
           CAST(ROUND(wf * 1000000) AS BIGINT) AS final_weight_ppm,
           CAST(ROW_NUMBER() OVER (ORDER BY cl ASC, ex ASC) AS BIGINT)
               AS loss_rank
    FROM fin
    """,
)
def hedge_expert_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hedge (exponential weights) replayed over five daily-revenue
    forecasters — yesterday, trailing 7-day mean, trailing 28-day
    mean, same-day-last-week, and the running mean: each day the
    algorithm weights experts by exp(-eta x cumulative scaled loss so
    far) with the minimax eta = sqrt(8 ln K / T), a purely
    prefix-sum computation (weights at t depend only on losses before
    t, so the multiplicative update unrolls into one window cumsum +
    per-day normalization — no sequential loop). Final weights show
    where the algorithm's mass concentrated; the loss ranking shows
    whether it found the truly best expert.

    Determinism: forecasts and losses are window expressions over
    exact cent values; the only transcendentals are exp/ln on shared
    doubles; milli/ppm rounding.

    Scale shape: one date agg, one five-way window pass, one
    (expert, t) long relation with a cumsum per expert and a per-day
    softmax window — everything rides the calendar-bounded series.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) * 1.0
            ).alias("y")
        )
        .select(
            F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
            "y",
        )
    )
    daily = _ckpt(daily)  # shared fan-out relation
    w = Window.orderBy("t")
    fx = daily.select(
        "t",
        "y",
        F.lag("y", 1).over(w).alias("e1"),
        F.avg("y").over(w.rowsBetween(-7, -1)).alias("e2"),
        F.avg("y").over(w.rowsBetween(-28, -1)).alias("e3"),
        F.lag("y", 7).over(w).alias("e4"),
        F.avg("y").over(w.rowsBetween(Window.unboundedPreceding, -1)).alias("e5"),
    ).where(F.col("t") >= 29)
    lng = None
    for i in range(1, 6):
        part = fx.select(
            "t", "y", F.lit(i).alias("ex"), F.col(f"e{i}").alias("f")
        )
        lng = part if lng is None else lng.unionAll(part)
    mx = daily.agg(F.max("y").alias("m"))
    tt = lng.agg(F.countDistinct("t").cast("long").alias("bign"))
    losses = lng.crossJoin(F.broadcast(mx)).select(
        "t", "ex", "y", "f", (F.abs(F.col("f") - F.col("y")) / F.col("m")).alias("loss")
    )
    cum = losses.select(
        "t",
        "ex",
        "y",
        "f",
        "loss",
        F.coalesce(
            F.sum("loss").over(
                Window.partitionBy("ex")
                .orderBy("t")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0.0),
        ).alias("prior"),
    )
    eta = tt.select(F.sqrt(8 * F.log(F.lit(5.0)) / F.col("bign")).alias("eta"))
    wts = cum.crossJoin(F.broadcast(eta)).select(
        "t",
        "ex",
        "loss",
        (
            F.exp(-F.col("eta") * F.col("prior"))
            / F.sum(F.exp(-F.col("eta") * F.col("prior"))).over(
                Window.partitionBy("t")
            )
        ).alias("w"),
    )
    tmax = wts.agg(F.max("t").alias("tm"))
    fin = (
        wts.crossJoin(F.broadcast(tmax))
        .groupBy("ex")
        .agg(
            F.sum("loss").alias("cl"),
            F.max(F.when(F.col("t") == F.col("tm"), F.col("w"))).alias("wf"),
        )
    )
    return fin.select(
        F.col("ex").cast("long").alias("expert"),
        F.round(F.col("cl") * 1000).cast("long").alias("cum_loss_milli"),
        F.round(F.col("wf") * 1000000).cast("long").alias("final_weight_ppm"),
        F.row_number()
        .over(Window.orderBy(F.asc("cl"), F.asc("ex")))
        .cast("long")
        .alias("loss_rank"),
    )


@query(
    "hedge_regret_audit",
    oracle=_HEDGE_CORE_SQL
    + """
    , hedge AS (
        SELECT t, SUM(w * f) AS p, MAX(y) AS y FROM wts GROUP BY t
    ), hl AS (
        SELECT SUM(ABS(p - y) / mx.m) AS hedge_loss
        FROM hedge, mx GROUP BY mx.m
    ), bl AS (
        SELECT MIN(cl) AS best FROM (
            SELECT ex, SUM(loss) AS cl FROM wts GROUP BY ex
        )
    )
    SELECT (SELECT bign FROM tt) AS n_rounds,
           CAST(ROUND(hl.hedge_loss * 1000) AS BIGINT) AS hedge_loss_milli,
           CAST(ROUND(bl.best * 1000) AS BIGINT) AS best_expert_loss_milli,
           CAST(ROUND((hl.hedge_loss - bl.best) * 1000) AS BIGINT)
               AS regret_milli,
           CAST(ROUND(sqrt((SELECT bign FROM tt) / 2.0 * ln(5.0)) * 1000)
                AS BIGINT) AS regret_bound_milli
    FROM hl, bl
    """,
)
def hedge_regret_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regret accounting for the Hedge replay of
    `hedge_expert_weights`: the weighted-forecast loss minus the best
    single expert's loss, against the minimax guarantee
    sqrt(T/2 ln K). The audit makes the online-learning theorem an
    observable: regret_milli <= regret_bound_milli must hold on ANY
    data sequence (pinned by the invariant test) — the adversarial
    guarantee that distinguishes Hedge from the model-averaging in
    `forecast_reconciliation` / `temperature_mixture_weights`, which
    have no worst-case warranty. A small or negative regret means the
    mixture beat every constituent — the usual outcome on real,
    non-adversarial series.

    Determinism: identical machinery to the weights query; losses
    are scaled by the global max; milli rounding.

    Scale shape: adds one per-day weighted-sum group-by and two
    scalar aggs to the shared window pipeline.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) * 1.0
            ).alias("y")
        )
        .select(
            F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
            "y",
        )
    )
    daily = _ckpt(daily)  # shared fan-out relation
    w = Window.orderBy("t")
    fx = daily.select(
        "t",
        "y",
        F.lag("y", 1).over(w).alias("e1"),
        F.avg("y").over(w.rowsBetween(-7, -1)).alias("e2"),
        F.avg("y").over(w.rowsBetween(-28, -1)).alias("e3"),
        F.lag("y", 7).over(w).alias("e4"),
        F.avg("y").over(w.rowsBetween(Window.unboundedPreceding, -1)).alias("e5"),
    ).where(F.col("t") >= 29)
    lng = None
    for i in range(1, 6):
        part = fx.select(
            "t", "y", F.lit(i).alias("ex"), F.col(f"e{i}").alias("f")
        )
        lng = part if lng is None else lng.unionAll(part)
    mx = daily.agg(F.max("y").alias("m"))
    tt = lng.agg(F.countDistinct("t").cast("long").alias("bign"))
    tt = _ckpt(tt)  # shared fan-out relation
    losses = lng.crossJoin(F.broadcast(mx)).select(
        "t", "ex", "y", "f",
        (F.abs(F.col("f") - F.col("y")) / F.col("m")).alias("loss"),
        "m",
    )
    cum = losses.select(
        "t", "ex", "y", "f", "loss", "m",
        F.coalesce(
            F.sum("loss").over(
                Window.partitionBy("ex")
                .orderBy("t")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0.0),
        ).alias("prior"),
    )
    eta = tt.select(F.sqrt(8 * F.log(F.lit(5.0)) / F.col("bign")).alias("eta"))
    wts = cum.crossJoin(F.broadcast(eta)).select(
        "t", "ex", "y", "f", "loss", "m",
        (
            F.exp(-F.col("eta") * F.col("prior"))
            / F.sum(F.exp(-F.col("eta") * F.col("prior"))).over(
                Window.partitionBy("t")
            )
        ).alias("w"),
    )
    hedge = wts.groupBy("t").agg(
        F.sum(F.col("w") * F.col("f")).alias("p"),
        F.max("y").alias("y"),
        F.max("m").alias("m"),
    )
    hl = hedge.agg(
        F.sum(F.abs(F.col("p") - F.col("y")) / F.col("m")).alias("hedge_loss")
    )
    bl = (
        wts.groupBy("ex")
        .agg(F.sum("loss").alias("cl"))
        .agg(F.min("cl").alias("best"))
    )
    return (
        tt.crossJoin(F.broadcast(hl))
        .crossJoin(F.broadcast(bl))
        .select(
            F.col("bign").alias("n_rounds"),
            F.round(F.col("hedge_loss") * 1000)
            .cast("long")
            .alias("hedge_loss_milli"),
            F.round(F.col("best") * 1000)
            .cast("long")
            .alias("best_expert_loss_milli"),
            F.round((F.col("hedge_loss") - F.col("best")) * 1000)
            .cast("long")
            .alias("regret_milli"),
            F.round(F.sqrt(F.col("bign") / 2.0 * F.log(F.lit(5.0))) * 1000)
            .cast("long")
            .alias("regret_bound_milli"),
        )
    )


_POSITION_AUCTION_SQL = """
    WITH bids AS (
        SELECT s_suppkey AS bidder,
               CAST(ROUND(s_acctbal * 100) AS BIGINT) AS b
        FROM supplier WHERE s_acctbal > 0
    ), ranked AS (
        SELECT bidder, b,
               CAST(ROW_NUMBER() OVER (ORDER BY b DESC, bidder ASC) AS BIGINT)
                   AS r
        FROM bids
    ), ctr(slot, alpha) AS (
        VALUES (1, 1000), (2, 600), (3, 400), (4, 250), (5, 150), (6, 0)
    ), slots AS (
        SELECT ranked.r AS slot, ranked.bidder, ranked.b, ctr.alpha
        FROM ranked JOIN ctr ON ctr.slot = ranked.r
        WHERE ranked.r <= 5
    ), nxt AS (
        SELECT ranked.r, ranked.b FROM ranked WHERE ranked.r <= 6
    ), vcg AS (
        -- externality payment: sum_{j>i} b_j (alpha_{j-1} - alpha_j)
        SELECT s.slot,
               CAST(SUM(n.b * (ca.alpha - cb.alpha)) AS BIGINT) AS pay
        FROM slots s
        JOIN nxt n ON n.r > s.slot AND n.r <= 6
        JOIN ctr ca ON ca.slot = n.r - 1
        JOIN ctr cb ON cb.slot = n.r
        GROUP BY s.slot
    ), gsp AS (
        SELECT s.slot, CAST(n.b * s.alpha AS BIGINT) AS pay
        FROM slots s JOIN nxt n ON n.r = s.slot + 1
    )
"""


@query(
    "gsp_vcg_position_auction",
    oracle=_POSITION_AUCTION_SQL
    + """
    SELECT s.slot, CAST(s.bidder AS BIGINT) AS bidder,
           s.b AS bid_cents, CAST(s.alpha AS BIGINT) AS ctr_milli,
           gsp.pay AS gsp_payment, vcg.pay AS vcg_payment
    FROM slots s
    JOIN gsp ON gsp.slot = s.slot
    JOIN vcg ON vcg.slot = s.slot
    """,
)
def gsp_vcg_position_auction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position auction settled two ways: the five highest-balance
    suppliers win ad slots with click rates 1000/600/400/250/150
    milli, paying either GSP (next bid x own CTR — the
    sponsored-search industry rule) or VCG (the externality each
    winner imposes: sum of displaced bidders' lost click-value). VCG
    payments are provably <= GSP's slot by slot under decreasing CTRs
    (pinned by the invariant test) — the revenue gap is what
    platforms historically pocketed by NOT running the truthful
    mechanism, and extends `vickrey_auction_parts` (single item) and
    `myerson_reserve_price` (reserve design) to multi-slot allocation.

    Determinism: bids are exact cents with bidder tie-breaks; CTR
    weights are literals; payments are exact integer sums in
    cent-milliclick units.

    Scale shape: one dim scan, a top-6 rank window, and toy joins on
    the 6-row rank relation.
    """
    sup = load_table(spark, sf_dir, "supplier")
    bids = sup.where(F.col("s_acctbal") > 0).select(
        F.col("s_suppkey").alias("bidder"),
        F.round(F.col("s_acctbal") * 100).cast("long").alias("b"),
    )
    ranked = bids.select(
        "bidder",
        "b",
        F.row_number()
        .over(Window.orderBy(F.desc("b"), F.asc("bidder")))
        .cast("long")
        .alias("r"),
    ).where(F.col("r") <= 6).transform(_ckpt)
    ctr = spark.createDataFrame(
        [(1, 1000), (2, 600), (3, 400), (4, 250), (5, 150), (6, 0)],
        "slot long, alpha long",
    )
    slots = ranked.join(
        F.broadcast(ctr), ranked.r == ctr.slot
    ).where(F.col("r") <= 5).select("slot", "bidder", "b", "alpha")
    nxt = ranked.select(F.col("r").alias("nr"), F.col("b").alias("nb"))
    ca = ctr.select(F.col("slot").alias("ca_s"), F.col("alpha").alias("ca_a"))
    cb = ctr.select(F.col("slot").alias("cb_s"), F.col("alpha").alias("cb_a"))
    vcg = (
        slots.join(F.broadcast(nxt), (F.col("nr") > F.col("slot")) & (F.col("nr") <= 6))
        .join(F.broadcast(ca), F.col("ca_s") == F.col("nr") - 1)
        .join(F.broadcast(cb), F.col("cb_s") == F.col("nr"))
        .groupBy("slot")
        .agg(
            F.sum(F.col("nb") * (F.col("ca_a") - F.col("cb_a")))
            .cast("long")
            .alias("vcg_payment")
        )
    )
    gsp = slots.join(
        F.broadcast(nxt), F.col("nr") == F.col("slot") + 1
    ).select("slot", (F.col("nb") * F.col("alpha")).cast("long").alias("gsp_payment"))
    return (
        slots.join(gsp, "slot")
        .join(vcg, "slot")
        .select(
            F.col("slot").cast("long").alias("slot"),
            F.col("bidder").cast("long").alias("bidder"),
            F.col("b").alias("bid_cents"),
            F.col("alpha").cast("long").alias("ctr_milli"),
            "gsp_payment",
            "vcg_payment",
        )
    )


@query(
    "auction_welfare_split",
    oracle=_POSITION_AUCTION_SQL
    + """
    , wf AS (
        SELECT CAST(SUM(s.b * s.alpha) AS BIGINT) AS welfare
        FROM slots s
    ), rg AS (SELECT CAST(SUM(pay) AS BIGINT) AS rev FROM gsp
    ), rv AS (SELECT CAST(SUM(pay) AS BIGINT) AS rev FROM vcg
    )
    SELECT 'gsp' AS mechanism, wf.welfare AS total_welfare,
           rg.rev AS platform_revenue,
           CAST(wf.welfare - rg.rev AS BIGINT) AS bidder_surplus
    FROM wf, rg
    UNION ALL
    SELECT 'vcg', wf.welfare, rv.rev,
           CAST(wf.welfare - rv.rev AS BIGINT)
    FROM wf, rv
    """,
)
def auction_welfare_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welfare accounting for the two settlements of
    `gsp_vcg_position_auction`: total welfare (sum of winning bids
    times CTRs) is mechanism-INVARIANT — both rules allocate slots
    identically — so the only question is the split between platform
    revenue and bidder surplus. GSP extracts more revenue at these
    bids, VCG leaves more surplus; the identical welfare column
    across rows (pinned) is allocative efficiency made visible, and
    the revenue difference is the truthfulness premium.

    Determinism: same exact integer machinery; two literal rows.

    Scale shape: scalar sums over the 5-row settlement relations.
    """
    sup = load_table(spark, sf_dir, "supplier")
    bids = sup.where(F.col("s_acctbal") > 0).select(
        F.col("s_suppkey").alias("bidder"),
        F.round(F.col("s_acctbal") * 100).cast("long").alias("b"),
    )
    ranked = bids.select(
        "bidder",
        "b",
        F.row_number()
        .over(Window.orderBy(F.desc("b"), F.asc("bidder")))
        .cast("long")
        .alias("r"),
    ).where(F.col("r") <= 6).transform(_ckpt)
    ctr = spark.createDataFrame(
        [(1, 1000), (2, 600), (3, 400), (4, 250), (5, 150), (6, 0)],
        "slot long, alpha long",
    )
    slots = ranked.join(
        F.broadcast(ctr), ranked.r == ctr.slot
    ).where(F.col("r") <= 5).select("slot", "b", "alpha")
    nxt = ranked.select(F.col("r").alias("nr"), F.col("b").alias("nb"))
    ca = ctr.select(F.col("slot").alias("ca_s"), F.col("alpha").alias("ca_a"))
    cb = ctr.select(F.col("slot").alias("cb_s"), F.col("alpha").alias("cb_a"))
    vcg_rev = (
        slots.join(F.broadcast(nxt), (F.col("nr") > F.col("slot")) & (F.col("nr") <= 6))
        .join(F.broadcast(ca), F.col("ca_s") == F.col("nr") - 1)
        .join(F.broadcast(cb), F.col("cb_s") == F.col("nr"))
        .agg(
            F.sum(F.col("nb") * (F.col("ca_a") - F.col("cb_a")))
            .cast("long")
            .alias("rev")
        )
    )
    gsp_rev = slots.join(
        F.broadcast(nxt), F.col("nr") == F.col("slot") + 1
    ).agg(F.sum(F.col("nb") * F.col("alpha")).cast("long").alias("rev"))
    wf = slots.agg(
        F.sum(F.col("b") * F.col("alpha")).cast("long").alias("welfare")
    )
    g = wf.crossJoin(F.broadcast(gsp_rev)).select(
        F.lit("gsp").alias("mechanism"),
        F.col("welfare").alias("total_welfare"),
        F.col("rev").alias("platform_revenue"),
        (F.col("welfare") - F.col("rev")).cast("long").alias("bidder_surplus"),
    )
    v = wf.crossJoin(F.broadcast(vcg_rev)).select(
        F.lit("vcg").alias("mechanism"),
        F.col("welfare").alias("total_welfare"),
        F.col("rev").alias("platform_revenue"),
        (F.col("welfare") - F.col("rev")).cast("long").alias("bidder_surplus"),
    )
    return g.unionAll(v)


@query(
    "null_model_clustering_audit",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        GROUP BY node
    ), dm AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(k * 1.0) AS k1, AVG(k * 1.0 * k) AS k2,
               CAST(SUM(k * (k - 1)) AS BIGINT) AS wedges2
        FROM deg
    ), tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS t
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT dm.n AS n_nodes, tri.t AS n_triangles,
           CAST(dm.wedges2 / 2 AS BIGINT) AS n_wedges,
           CAST(ROUND(6.0 * tri.t / dm.wedges2 * 1000000) AS BIGINT)
               AS clustering_ppm,
           CAST(ROUND(dm.k1 / (dm.n - 1) * 1000000) AS BIGINT)
               AS er_expected_ppm,
           CAST(ROUND(POWER(dm.k2 - dm.k1, 2) / (dm.n * POWER(dm.k1, 3))
                * 1000000) AS BIGINT) AS config_expected_ppm
    FROM dm, tri
    """,
)
def null_model_clustering_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global clustering coefficient of the co-purchase graph judged
    against its two canonical null models: Erdos-Renyi (C = mean
    degree / (n-1)) and the configuration model preserving the degree
    sequence (C = (⟨k^2⟩ - ⟨k⟩)^2 / (n ⟨k⟩^3)). Observed clustering
    above BOTH expectations is genuine transitivity; above ER but
    near the configuration value means hubs alone explain the
    triangles — the correct-baseline discipline the raw
    `triangle_count_copurchase` and `local_clustering_coefficient`
    numbers need before any 'communities exist' claim
    (`modularity_trade_communities`'s premise).

    Determinism: triangles, wedges, and degree moments are exact
    integer aggregates; the three ratios are ppm-rounded.

    Scale shape: the same order-blocked edge build as the triangle
    query; null expectations need only the degree relation's moments
    — one extra tiny agg.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("m"))
        .where(F.col("m") >= 2)
        .select("u", "v")
        .transform(_ckpt)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    dm = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg(F.col("k") * 1.0).alias("k1"),
        F.avg(F.col("k") * 1.0 * F.col("k")).alias("k2"),
        F.sum(F.col("k") * (F.col("k") - 1)).cast("long").alias("wedges2"),
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    return dm.crossJoin(F.broadcast(tri)).select(
        F.col("n").alias("n_nodes"),
        F.col("t").alias("n_triangles"),
        (F.col("wedges2") / 2).cast("long").alias("n_wedges"),
        F.round(6.0 * F.col("t") / F.col("wedges2") * 1000000)
        .cast("long")
        .alias("clustering_ppm"),
        F.round(F.col("k1") / (F.col("n") - 1) * 1000000)
        .cast("long")
        .alias("er_expected_ppm"),
        F.round(
            F.pow(F.col("k2") - F.col("k1"), 2)
            / (F.col("n") * F.pow(F.col("k1"), 3))
            * 1000000
        )
        .cast("long")
        .alias("config_expected_ppm"),
    )


@query(
    "powerlaw_degree_fit",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        GROUP BY node
    ), tail AS (SELECT k FROM deg WHERE k >= 2
    ), fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               1.0 + COUNT(*) / SUM(ln(k / 1.5)) AS alpha
        FROM tail
    ), dist AS (
        SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM tail GROUP BY k
    ), ccdf AS (
        SELECT dist.k,
               SUM(dist2.c) * 1.0 / fit.n AS emp,
               POWER(dist.k / 1.5, -(fit.alpha - 1)) AS model
        FROM dist
        JOIN dist dist2 ON dist2.k >= dist.k
        CROSS JOIN fit
        GROUP BY dist.k, fit.n, fit.alpha
    )
    SELECT fit.n AS n_tail_nodes, CAST(2 AS BIGINT) AS k_min,
           CAST(ROUND(fit.alpha * 1000) AS BIGINT) AS alpha_milli,
           CAST(ROUND((SELECT MAX(ABS(emp - model)) FROM ccdf) * 1000)
                AS BIGINT) AS ks_milli
    FROM fit
    """,
)
def powerlaw_degree_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clauset-Shalizi-Newman power-law fit of the co-purchase degree
    tail (k >= 2): the continuous-approximation MLE alpha = 1 + n /
    sum ln(k / (kmin - 1/2)) and the Kolmogorov-Smirnov distance
    between empirical and fitted CCDFs — the 'is it actually
    scale-free?' discipline that eyeballing a log-log plot famously
    lacks. Large KS (>~ 0.1) says the tail is NOT Pareto, which
    reframes every hub-based result (`rich_club_coefficient`,
    `attack_robustness_copurchase`) as finite-size rather than
    scale-free behavior.

    Determinism: degrees are exact; the MLE is one log-sum; CCDF
    comparisons evaluate at observed degree values only, milli-
    rounded.

    Scale shape: degree agg, a scalar fit, and a degree-distinct
    self-join for the CCDF — everything after the edge build is on
    relations the size of the distinct-degree support (~12 values).
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("m"))
        .where(F.col("m") >= 2)
        .select("u", "v")
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    tail = deg.where(F.col("k") >= 2).select("k").transform(_ckpt)
    fit = tail.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (1.0 + F.count(F.lit(1)) / F.sum(F.log(F.col("k") / 1.5))).alias(
            "alpha"
        ),
    )
    dist = tail.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("c"))
    d2 = dist.select(F.col("k").alias("k2"), F.col("c").alias("c2"))
    ccdf = (
        dist.join(d2, F.col("k2") >= F.col("k"))
        .crossJoin(F.broadcast(fit))
        .groupBy("k", "n", "alpha")
        .agg(
            (F.sum("c2") * 1.0 / F.col("n")).alias("emp"),
            F.max(
                F.pow(F.col("k") / 1.5, -(F.col("alpha") - 1))
            ).alias("model"),
        )
    )
    ks = ccdf.agg(F.max(F.abs(F.col("emp") - F.col("model"))).alias("ks"))
    return fit.crossJoin(F.broadcast(ks)).select(
        F.col("n").alias("n_tail_nodes"),
        F.lit(2).cast("long").alias("k_min"),
        F.round(F.col("alpha") * 1000).cast("long").alias("alpha_milli"),
        F.round(F.col("ks") * 1000).cast("long").alias("ks_milli"),
    )


_DAILY_REV_SPLIT_SQL = """
    WITH daily AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t, y
        FROM (
            SELECT o_orderdate AS d,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) * 1.0 AS y
            FROM orders GROUP BY 1
        )
    ), nn AS (SELECT CAST(MAX(t) AS BIGINT) AS n,
                     CAST(MAX(t) - 28 AS BIGINT) AS tr FROM daily
    ), train AS (SELECT t, y FROM daily, nn WHERE t <= nn.tr
    ), hold AS (
        SELECT t - nn.tr AS h, y FROM daily, nn WHERE t > nn.tr
    )
"""


@query(
    "theta_method_forecast",
    oracle=_DAILY_REV_SPLIT_SQL
    + """
    , ols AS (
        SELECT (SUM(t * y) - SUM(t) * SUM(y) / COUNT(*))
               / (SUM(t * t) - SUM(t) * SUM(t) / COUNT(*)) AS b,
               AVG(y) - (SUM(t * y) - SUM(t) * SUM(y) / COUNT(*))
               / (SUM(t * t) - SUM(t) * SUM(t) / COUNT(*)) * AVG(t) AS a
        FROM train
    ), ses AS (
        SELECT SUM(CASE WHEN train.t = 1
                   THEN (2 * train.y - (ols.a + ols.b * train.t))
                        * POWER(0.8, nn.tr - 1)
                   ELSE 0.2 * POWER(0.8, nn.tr - train.t)
                        * (2 * train.y - (ols.a + ols.b * train.t)) END)
                   AS lvl
        FROM train, ols, nn GROUP BY nn.tr
    ), fc AS (
        SELECT hold.h, hold.y,
               0.5 * (ols.a + ols.b * (nn.tr + hold.h))
               + 0.5 * (ses.lvl + ols.b * hold.h) AS f,
               (SELECT y FROM train, nn WHERE t = nn.tr) AS last_y
        FROM hold, ols, ses, nn
    )
    SELECT CAST((SELECT tr FROM nn) AS BIGINT) AS n_train,
           CAST(28 AS BIGINT) AS horizon,
           CAST(ROUND(AVG(ABS(f - y))) AS BIGINT) AS theta_mae_cents,
           CAST(ROUND(AVG(ABS(last_y - y))) AS BIGINT) AS naive_mae_cents,
           CAST(ROUND(AVG(ABS(f - y)) / AVG(ABS(last_y - y)) * 1000)
                AS BIGINT) AS theta_vs_naive_milli
    FROM fc
    """,
)
def theta_method_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Theta method (Assimakopoulos & Nikolopoulos, M3 winner) on
    daily revenue with a 28-day holdout: the theta(0) line is the OLS
    trend, the theta(2) line doubles the data's curvature, its level
    is simple exponential smoothing (alpha = 0.2) — computed in
    CLOSED FORM as the geometric-weight sum alpha sum (1-alpha)^(T-t)
    y_t, no sequential recursion — and the forecast averages the two
    extrapolations (equivalently SES + half-drift). Scored as MAE
    against the last-value naive on the same holdout, the honest M3
    protocol (`holt_linear_forecast` fits; this one also VALIDATES).

    Determinism: the SES weights are exact powers of 0.8 on integer
    exponents (no underflow at calendar scale); OLS terms are
    standard double aggregates; cent rounding at output.

    Scale shape: one scalar OLS agg, one weighted-sum agg over the
    train series, a 28-row holdout join — no iteration anywhere.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) * 1.0
            ).alias("y")
        )
        .select(
            F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
            "y",
        )
        .transform(_ckpt)
    )
    nn = daily.agg(
        F.max("t").cast("long").alias("n"),
        (F.max("t") - 28).cast("long").alias("tr"),
    )
    train = daily.crossJoin(F.broadcast(nn)).where(F.col("t") <= F.col("tr"))
    hold = daily.crossJoin(F.broadcast(nn)).where(F.col("t") > F.col("tr")).select(
        (F.col("t") - F.col("tr")).alias("h"), "y"
    )
    ols = train.agg(
        (
            (F.sum(F.col("t") * F.col("y")) - F.sum("t") * F.sum("y") / F.count(F.lit(1)))
            / (
                F.sum(F.col("t") * F.col("t"))
                - F.sum("t") * F.sum("t") / F.count(F.lit(1))
            )
        ).alias("b"),
        F.avg("y").alias("my"),
        F.avg(F.col("t") * 1.0).alias("mt"),
    ).select("b", (F.col("my") - F.col("b") * F.col("mt")).alias("a"))
    theta2 = 2 * F.col("y") - (F.col("a") + F.col("b") * F.col("t"))
    ses = (
        train.crossJoin(F.broadcast(ols))
        .groupBy("tr")
        .agg(
            F.sum(
                F.when(
                    F.col("t") == 1,
                    theta2 * F.pow(F.lit(0.8), F.col("tr") - 1),
                ).otherwise(
                    0.2 * F.pow(F.lit(0.8), F.col("tr") - F.col("t")) * theta2
                )
            ).alias("lvl")
        )
    )
    last_y = train.crossJoin(F.broadcast(nn.select(F.col("tr").alias("tr2")))).where(
        F.col("t") == F.col("tr2")
    ).select(F.col("y").alias("last_y"))
    fc = (
        hold.crossJoin(F.broadcast(ols))
        .crossJoin(F.broadcast(ses))
        .crossJoin(F.broadcast(last_y))
        .select(
            "h",
            "y",
            (
                0.5 * (F.col("a") + F.col("b") * (F.col("tr") + F.col("h")))
                + 0.5 * (F.col("lvl") + F.col("b") * F.col("h"))
            ).alias("f"),
            "last_y",
            "tr",
        )
    )
    return fc.groupBy("tr").agg(
        F.round(F.avg(F.abs(F.col("f") - F.col("y")))).cast("long").alias(
            "theta_mae_cents"
        ),
        F.round(F.avg(F.abs(F.col("last_y") - F.col("y"))))
        .cast("long")
        .alias("naive_mae_cents"),
        F.round(
            F.avg(F.abs(F.col("f") - F.col("y")))
            / F.avg(F.abs(F.col("last_y") - F.col("y")))
            * 1000
        )
        .cast("long")
        .alias("theta_vs_naive_milli"),
    ).select(
        F.col("tr").cast("long").alias("n_train"),
        F.lit(28).cast("long").alias("horizon"),
        "theta_mae_cents",
        "naive_mae_cents",
        "theta_vs_naive_milli",
    )


@query(
    "mase_forecast_eval",
    oracle=_DAILY_REV_SPLIT_SQL
    + """
    , scale AS (
        SELECT AVG(ABS(y - prev)) AS s FROM (
            SELECT y, LAG(y) OVER (ORDER BY t) AS prev FROM train
        ) WHERE prev IS NOT NULL
    ), anchors AS (
        SELECT nn.tr,
               (SELECT y FROM train, nn WHERE t = nn.tr) AS last_y,
               (SELECT y FROM train WHERE t = 1) AS first_y,
               (SELECT AVG(y) FROM train) AS mean_y
        FROM nn
    ), fc AS (
        SELECT hold.h, hold.y, 'naive' AS m, anchors.last_y AS f
        FROM hold, anchors
        UNION ALL
        SELECT hold.h, hold.y, 'snaive7',
               (SELECT y FROM train, anchors a2
                WHERE t = a2.tr - 7 + ((hold.h - 1) % 7) + 1)
        FROM hold, anchors
        UNION ALL
        SELECT hold.h, hold.y, 'drift',
               anchors.last_y + hold.h * (anchors.last_y - anchors.first_y)
                   / (anchors.tr - 1)
        FROM hold, anchors
        UNION ALL
        SELECT hold.h, hold.y, 'mean', anchors.mean_y FROM hold, anchors
    )
    SELECT m AS forecaster,
           CAST(ROUND(AVG(ABS(f - y))) AS BIGINT) AS mae_cents,
           CAST(ROUND(AVG(ABS(f - y)) / scale.s * 1000) AS BIGINT)
               AS mase_milli
    FROM fc, scale GROUP BY m, scale.s
    """,
)
def mase_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean absolute SCALED error (Hyndman-Koehler) for four baseline
    forecasters on the same 28-day revenue holdout as
    `theta_method_forecast`: naive, seasonal-naive-7 (last training
    week tiled forward), drift, and the train mean, each scaled by
    the in-sample one-step naive MAE. MASE < 1000 milli beats the
    naive's in-sample difficulty — the scale-free, division-safe
    metric the M-competitions standardized after sMAPE's
    zero-denominator pathologies (`smape_seasonal_naive` shows the
    older metric on this engine).

    Determinism: anchors are exact indexed lookups; the seasonal
    tile uses integer modular indexing into the train tail; scaled
    ratios milli-rounded.

    Scale shape: one LAG window for the scale, four stateless
    forecast rows per holdout day, one grouped agg.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) * 1.0
            ).alias("y")
        )
        .select(
            F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
            "y",
        )
        .transform(_ckpt)
    )
    nn = daily.agg((F.max("t") - 28).cast("long").alias("tr"))
    train = daily.crossJoin(F.broadcast(nn)).where(F.col("t") <= F.col("tr"))
    hold = daily.crossJoin(F.broadcast(nn)).where(F.col("t") > F.col("tr")).select(
        (F.col("t") - F.col("tr")).alias("h"), "y"
    )
    scale = (
        train.select(
            "y", F.lag("y").over(Window.orderBy("t")).alias("prev")
        )
        .where(F.col("prev").isNotNull())
        .agg(F.avg(F.abs(F.col("y") - F.col("prev"))).alias("s"))
    )
    last_y = train.crossJoin(
        F.broadcast(nn.select(F.col("tr").alias("tr2")))
    ).where(F.col("t") == F.col("tr2")).select(F.col("y").alias("last_y"))
    first_y = train.where(F.col("t") == 1).select(F.col("y").alias("first_y"))
    mean_y = train.agg(F.avg("y").alias("mean_y"))
    week = train.crossJoin(
        F.broadcast(nn.select(F.col("tr").alias("tr3")))
    ).where(F.col("t") > F.col("tr3") - 7).select(
        (F.col("t") - (F.col("tr3") - 7)).alias("wday"),
        F.col("y").alias("wy"),
    )
    base = (
        hold.crossJoin(F.broadcast(last_y))
        .crossJoin(F.broadcast(first_y))
        .crossJoin(F.broadcast(mean_y))
        .crossJoin(F.broadcast(nn))
    )
    fc = (
        base.select("h", "y", F.lit("naive").alias("m"), F.col("last_y").alias("f"))
        .unionAll(
            base.join(
                F.broadcast(week),
                ((F.col("h") - 1) % 7 + 1) == F.col("wday"),
            ).select("h", "y", F.lit("snaive7").alias("m"), F.col("wy").alias("f"))
        )
        .unionAll(
            base.select(
                "h",
                "y",
                F.lit("drift").alias("m"),
                (
                    F.col("last_y")
                    + F.col("h")
                    * (F.col("last_y") - F.col("first_y"))
                    / (F.col("tr") - 1)
                ).alias("f"),
            )
        )
        .unionAll(
            base.select(
                "h", "y", F.lit("mean").alias("m"), F.col("mean_y").alias("f")
            )
        )
    )
    return fc.crossJoin(F.broadcast(scale)).groupBy("m", "s").agg(
        F.round(F.avg(F.abs(F.col("f") - F.col("y"))))
        .cast("long")
        .alias("mae_cents"),
        F.round(F.avg(F.abs(F.col("f") - F.col("y"))) / F.col("s") * 1000)
        .cast("long")
        .alias("mase_milli"),
    ).select(F.col("m").alias("forecaster"), "mae_cents", "mase_milli")


@query(
    "jackknife_plus_regression",
    oracle="""
    WITH daily AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t, x, y
        FROM (
            SELECT o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS x,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) * 1.0
                   / COUNT(*) AS y
            FROM orders GROUP BY 1
        )
    ), train AS (SELECT t, x * 1.0 AS x, y FROM daily WHERE t % 2 = 1
    ), test AS (SELECT t, x * 1.0 AS x, y FROM daily WHERE t % 2 = 0
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(x) AS mx, AVG(y) AS my,
               SUM((x - (SELECT AVG(x) FROM train))
                   * (x - (SELECT AVG(x) FROM train))) AS sxx,
               SUM((x - (SELECT AVG(x) FROM train))
                   * (y - (SELECT AVG(y) FROM train))) AS sxy
        FROM train
    ), fit AS (
        SELECT train.t, train.x, train.y, s.n,
               s.sxy / s.sxx AS b, s.my - s.sxy / s.sxx * s.mx AS a,
               train.y - (s.my - s.sxy / s.sxx * s.mx)
                       - s.sxy / s.sxx * train.x AS e,
               1.0 / s.n + (train.x - s.mx) * (train.x - s.mx) / s.sxx AS h
        FROM train, s
    ), loo AS (
        SELECT ABS(e / (1 - h)) AS r FROM fit
    ), q AS (
        SELECT PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY r) AS q FROM loo
    ), cov AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
               AVG(CASE WHEN ABS(test.y - (f.a + f.b * test.x)) <= q.q
                   THEN 1.0 ELSE 0.0 END) AS c
        FROM test, (SELECT DISTINCT a, b FROM fit) f, q
    )
    SELECT (SELECT n FROM s) AS n_train, cov.n_test,
           CAST(ROUND((SELECT q FROM q)) AS BIGINT) AS interval_halfwidth_cents,
           CAST(ROUND(cov.c * 1000000) AS BIGINT) AS coverage_ppm
    FROM cov
    """,
)
def jackknife_plus_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife+ style prediction interval for the daily
    ticket-on-volume regression: leave-one-out residuals come from
    the EXACT deletion identity e_i / (1 - h_i) (no n refits — the
    same hat-value algebra as `cooks_distance_top_days`), the 90%
    quantile of their absolute values sets the interval half-width,
    and coverage is checked honestly on held-out even days (train =
    odd days). Distribution-free finite-sample validity is the
    Barber et al. guarantee this replays; where
    `conformal_price_interval` calibrates on a split, jackknife+
    reuses every training point — tighter intervals at the same
    nominal level.

    Determinism: the parity split is exact; deletion residuals are
    closed-form; the quantile is PERCENTILE_DISC; coverage is an
    exact ratio.

    Scale shape: one scalar moment agg, stateless residual algebra,
    one quantile sort over the ~1.2k-day train half.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                * 1.0
                / F.count(F.lit(1))
            ).alias("y"),
        )
        .select(
            F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
            (F.col("x") * 1.0).alias("x"),
            "y",
        )
        .transform(_ckpt)
    )
    train = daily.where(F.col("t") % 2 == 1)
    test = daily.where(F.col("t") % 2 == 0)
    mm = train.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
    )
    s = (
        train.crossJoin(F.broadcast(mm))
        .groupBy("n", "mx", "my")
        .agg(
            F.sum((F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))).alias(
                "sxx"
            ),
            F.sum((F.col("x") - F.col("mx")) * (F.col("y") - F.col("my"))).alias(
                "sxy"
            ),
        )
        .select(
            "n",
            (F.col("sxy") / F.col("sxx")).alias("b"),
            (F.col("my") - F.col("sxy") / F.col("sxx") * F.col("mx")).alias("a"),
            "mx",
            "sxx",
        )
    )
    fit = train.crossJoin(F.broadcast(s)).select(
        (
            F.abs(
                (F.col("y") - F.col("a") - F.col("b") * F.col("x"))
                / (
                    1
                    - (
                        1.0 / F.col("n")
                        + (F.col("x") - F.col("mx"))
                        * (F.col("x") - F.col("mx"))
                        / F.col("sxx")
                    )
                )
            )
        ).alias("r")
    )
    q = fit.agg(
        F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY r)").alias("q")
    )
    cov = (
        test.crossJoin(F.broadcast(s.select("a", "b")))
        .crossJoin(F.broadcast(q))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.avg(
                F.when(
                    F.abs(
                        F.col("y") - (F.col("a") + F.col("b") * F.col("x"))
                    )
                    <= F.col("q"),
                    1.0,
                ).otherwise(0.0)
            ).alias("c"),
            F.max("q").alias("qv"),
        )
    )
    nt = s.select(F.col("n").alias("n_train"))
    return nt.crossJoin(F.broadcast(cov)).select(
        "n_train",
        "n_test",
        F.round("qv").cast("long").alias("interval_halfwidth_cents"),
        F.round(F.col("c") * 1000000).cast("long").alias("coverage_ppm"),
    )


@query(
    "bias_variance_folds",
    oracle="""
    WITH daily AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t, x, y
        FROM (
            SELECT o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS x,
                   SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) * 1.0
                   / COUNT(*) AS y
            FROM orders GROUP BY 1
        )
    ), fm AS (
        SELECT t % 4 AS f, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x * 1.0) AS sx, SUM(y) AS sy,
               SUM(x * 1.0 * x) AS sxx, SUM(x * y) AS sxy
        FROM daily GROUP BY 1
    ), tot AS (
        SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy, SUM(sxx) AS sxx,
               SUM(sxy) AS sxy
        FROM fm
    ), models AS (
        -- leave fold f out
        SELECT fm.f,
               ((tot.sxy - fm.sxy) - (tot.sx - fm.sx) * (tot.sy - fm.sy)
                / (tot.n - fm.n))
               / ((tot.sxx - fm.sxx) - (tot.sx - fm.sx) * (tot.sx - fm.sx)
                  / (tot.n - fm.n)) AS b,
               (tot.sy - fm.sy) / (tot.n - fm.n) AS my,
               (tot.sx - fm.sx) / (tot.n - fm.n) AS mx
        FROM fm, tot
    ), fullfit AS (
        SELECT (sxy - sx * sy / n) / (sxx - sx * sx / n) AS b,
               sy / n - (sxy - sx * sy / n) / (sxx - sx * sx / n) * (sx / n)
                   AS a
        FROM tot
    ), grid AS (
        SELECT 100 AS gq, (SELECT PERCENTILE_DISC(0.1)
               WITHIN GROUP (ORDER BY x) FROM daily) AS gx
        UNION ALL SELECT 500, (SELECT PERCENTILE_DISC(0.5)
               WITHIN GROUP (ORDER BY x) FROM daily)
        UNION ALL SELECT 900, (SELECT PERCENTILE_DISC(0.9)
               WITHIN GROUP (ORDER BY x) FROM daily)
    ), preds AS (
        SELECT grid.gq, grid.gx,
               models.my - models.b * models.mx + models.b * grid.gx AS p
        FROM grid CROSS JOIN models
    ), agg AS (
        SELECT gq, gx, AVG(p) AS mp, VAR_SAMP(p) AS vp FROM preds
        GROUP BY gq, gx
    )
    SELECT CAST(agg.gq AS BIGINT) AS grid_quantile_milli,
           CAST(agg.gx AS BIGINT) AS x_orders,
           CAST(ROUND(agg.mp) AS BIGINT) AS mean_fold_pred_cents,
           CAST(ROUND(sqrt(agg.vp)) AS BIGINT) AS fold_pred_sd_cents,
           CAST(ROUND(fullfit.a + fullfit.b * agg.gx) AS BIGINT)
               AS full_fit_pred_cents
    FROM agg, fullfit
    """,
)
def bias_variance_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold-wise bias/variance decomposition of the daily regression:
    four leave-one-fold-out models (moment subtraction — no refits)
    predict the mean ticket at the 10/50/90% volume quantiles; the
    spread of the four predictions is the VARIANCE component of
    model uncertainty, while their mean against the full fit shows
    any fold-induced bias. Model-instability-at-a-point is what
    neither `press_loocv_r2` (aggregate) nor `kfold_price_model`
    (score-level) localizes — here it is visible per region of x,
    widening at the 90% quantile exactly as leverage theory predicts.

    Determinism: folds by t mod 4; all fits are closed moment
    algebra; grid points are exact PERCENTILE_DISC values.

    Scale shape: one fold-moment agg, 4x3 prediction rows, scalar
    math — the `successive_halving_ridge` machinery turned into an
    uncertainty lens.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                * 1.0
                / F.count(F.lit(1))
            ).alias("y"),
        )
        .select(
            F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
            "x",
            "y",
        )
        .transform(_ckpt)
    )
    fm = daily.groupBy((F.col("t") % 4).alias("f")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x") * 1.0).alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * 1.0 * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    tot = fm.agg(
        F.sum("n").alias("tn"),
        F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"),
        F.sum("sxx").alias("tsxx"),
        F.sum("sxy").alias("tsxy"),
    )
    models = fm.crossJoin(F.broadcast(tot)).select(
        "f",
        (
            (
                (F.col("tsxy") - F.col("sxy"))
                - (F.col("tsx") - F.col("sx"))
                * (F.col("tsy") - F.col("sy"))
                / (F.col("tn") - F.col("n"))
            )
            / (
                (F.col("tsxx") - F.col("sxx"))
                - (F.col("tsx") - F.col("sx"))
                * (F.col("tsx") - F.col("sx"))
                / (F.col("tn") - F.col("n"))
            )
        ).alias("b"),
        ((F.col("tsy") - F.col("sy")) / (F.col("tn") - F.col("n"))).alias("my"),
        ((F.col("tsx") - F.col("sx")) / (F.col("tn") - F.col("n"))).alias("mx"),
    )
    fullfit = tot.select(
        (
            (F.col("tsxy") - F.col("tsx") * F.col("tsy") / F.col("tn"))
            / (F.col("tsxx") - F.col("tsx") * F.col("tsx") / F.col("tn"))
        ).alias("fb"),
        (
            F.col("tsy") / F.col("tn")
            - (F.col("tsxy") - F.col("tsx") * F.col("tsy") / F.col("tn"))
            / (F.col("tsxx") - F.col("tsx") * F.col("tsx") / F.col("tn"))
            * (F.col("tsx") / F.col("tn"))
        ).alias("fa"),
    )
    grid = None
    for gq, q in [(100, 0.1), (500, 0.5), (900, 0.9)]:
        r = daily.agg(
            F.lit(gq).alias("gq"),
            F.expr(
                f"percentile_disc({q}) WITHIN GROUP (ORDER BY x)"
            ).alias("gx"),
        )
        grid = r if grid is None else grid.unionAll(r)
    preds = grid.crossJoin(F.broadcast(models)).select(
        "gq",
        "gx",
        (
            F.col("my") - F.col("b") * F.col("mx") + F.col("b") * F.col("gx")
        ).alias("p"),
    )
    agg = preds.groupBy("gq", "gx").agg(
        F.avg("p").alias("mp"), F.var_samp("p").alias("vp")
    )
    return agg.crossJoin(F.broadcast(fullfit)).select(
        F.col("gq").cast("long").alias("grid_quantile_milli"),
        F.col("gx").cast("long").alias("x_orders"),
        F.round("mp").cast("long").alias("mean_fold_pred_cents"),
        F.round(F.sqrt("vp")).cast("long").alias("fold_pred_sd_cents"),
        F.round(F.col("fa") + F.col("fb") * F.col("gx"))
        .cast("long")
        .alias("full_fit_pred_cents"),
    )


_NATION_COST_DEMAND_SQL = _TRADE_EDGE_SQL + """
    , und AS (
        SELECT LEAST(u, v) AS a, GREATEST(u, v) AS b, MIN(w) AS w
        FROM edges GROUP BY 1, 2
    ), dmat AS (
        SELECT a AS i, b AS j, w FROM und
        UNION ALL SELECT b, a, w FROM und
        UNION ALL SELECT n_nationkey, n_nationkey, 0 FROM nation
    ), dem AS (
        SELECT c.c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS w
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
    )
"""


@query(
    "p_median_nations",
    oracle=_NATION_COST_DEMAND_SQL
    + """
    , hubs AS (SELECT DISTINCT i AS h FROM dmat
    ), triples AS (
        SELECT h1.h AS a, h2.h AS b, h3.h AS c
        FROM hubs h1 JOIN hubs h2 ON h2.h > h1.h
        JOIN hubs h3 ON h3.h > h2.h
    ), assign AS (
        SELECT t.a, t.b, t.c, dem.nk, dem.w,
               LEAST(da.w, db.w, dc.w) AS d
        FROM triples t
        CROSS JOIN dem
        JOIN dmat da ON da.i = dem.nk AND da.j = t.a
        JOIN dmat db ON db.i = dem.nk AND db.j = t.b
        JOIN dmat dc ON dc.i = dem.nk AND dc.j = t.c
    ), cost AS (
        SELECT a, b, c, CAST(SUM(w * d) AS BIGINT) AS tc
        FROM assign GROUP BY a, b, c
    ), best AS (
        SELECT a, b, c, tc FROM cost
        ORDER BY tc ASC, a, b, c LIMIT 1
    ), single AS (
        SELECT CAST(MIN(tc1) AS BIGINT) AS tc1 FROM (
            SELECT dm.j, SUM(dem.w * dm.w) AS tc1
            FROM dem JOIN dmat dm ON dm.i = dem.nk
            GROUP BY dm.j
        )
    )
    SELECT CAST(best.a AS BIGINT) AS hub1, CAST(best.b AS BIGINT) AS hub2,
           CAST(best.c AS BIGINT) AS hub3,
           best.tc AS p3_cost_microndw,
           single.tc1 AS p1_cost_microndw,
           CAST(ROUND(best.tc * 1000.0 / single.tc1) AS BIGINT)
               AS p3_vs_p1_milli
    FROM best, single
    """,
)
def p_median_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-median facility location on the nation trade-cost
    graph: every C(25,3) = 2,300 hub triple is scored by total
    demand-weighted cost of serving each nation from its NEAREST hub
    (demand = order count, cost = symmetrized micro-nat trade cost,
    own-hub cost zero), and the global optimum is selected — the NP-
    hard p-median problem solved exactly because the location layer
    is schema-bounded. The p=1 column (the 1-median, i.e. the graph's
    weighted medianoid) quantifies what two extra hubs buy — the
    consolidation-vs-coverage curve's first two points.

    Determinism: costs and demands are exact integers; LEAST over
    three joined distances; the argmin orders by (cost, triple).

    Scale shape: fact tables collapse to the 625-cell cost matrix
    and 25 demand weights; the enumeration lattice is 2,300 x 25 =
    57.5k rows of pure integer math — exhaustive search priced in
    kilobytes.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    flows = (
        li.join(
            F.broadcast(sup.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")),
            "l_suppkey",
        )
        .join(o.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"), "l_orderkey")
        .join(
            F.broadcast(cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")),
            "o_custkey",
        )
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(F.col("s_nationkey").alias("u"), F.col("c_nationkey").alias("v"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("f")
        )
    )
    tot = flows.agg(F.sum("f").cast("long").alias("tf"))
    edges = flows.crossJoin(F.broadcast(tot)).select(
        "u",
        "v",
        F.round(-F.log(F.col("f").cast("double") / F.col("tf")) * 1000000)
        .cast("long")
        .alias("w"),
    )
    und = (
        edges.select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"), "w"
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    )
    diag = nat.select(
        F.col("n_nationkey").alias("i"),
        F.col("n_nationkey").alias("j"),
        F.lit(0).cast("long").alias("w"),
    )
    dmat = (
        und.select(F.col("a").alias("i"), F.col("b").alias("j"), "w")
        .unionAll(und.select(F.col("b").alias("i"), F.col("a").alias("j"), "w"))
        .unionAll(diag)
        .transform(_ckpt)
    )
    dem = (
        o.join(
            F.broadcast(cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")),
            "o_custkey",
        )
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).cast("long").alias("wt"))
        .transform(_ckpt)
    )
    hubs = dmat.select(F.col("i").alias("h")).distinct()
    h1, h2, h3 = hubs.alias("h1"), hubs.alias("h2"), hubs.alias("h3")
    triples = (
        h1.join(h2, F.col("h2.h") > F.col("h1.h"))
        .join(h3, F.col("h3.h") > F.col("h2.h"))
        .select(
            F.col("h1.h").alias("a"),
            F.col("h2.h").alias("b"),
            F.col("h3.h").alias("c"),
        )
    )
    da = dmat.select(F.col("i").alias("nk"), F.col("j").alias("ja"), F.col("w").alias("wa"))
    db = dmat.select(F.col("i").alias("nk"), F.col("j").alias("jb"), F.col("w").alias("wb"))
    dc = dmat.select(F.col("i").alias("nk"), F.col("j").alias("jc"), F.col("w").alias("wc"))
    assign = (
        triples.crossJoin(dem)
        .join(F.broadcast(da), (F.col("ja") == F.col("a")) & (da.nk == dem.nk))
        .join(F.broadcast(db), (F.col("jb") == F.col("b")) & (db.nk == dem.nk))
        .join(F.broadcast(dc), (F.col("jc") == F.col("c")) & (dc.nk == dem.nk))
        .select(
            "a",
            "b",
            "c",
            "wt",
            F.least("wa", "wb", "wc").alias("d"),
        )
    )
    cost = assign.groupBy("a", "b", "c").agg(
        F.sum(F.col("wt") * F.col("d")).cast("long").alias("tc")
    )
    best = cost.orderBy(F.asc("tc"), F.asc("a"), F.asc("b"), F.asc("c")).limit(1)
    single = (
        dem.join(dmat, dmat.i == dem.nk)
        .groupBy("j")
        .agg(F.sum(F.col("wt") * F.col("w")).alias("tc1"))
        .agg(F.min("tc1").cast("long").alias("tc1"))
    )
    return best.crossJoin(F.broadcast(single)).select(
        F.col("a").cast("long").alias("hub1"),
        F.col("b").cast("long").alias("hub2"),
        F.col("c").cast("long").alias("hub3"),
        F.col("tc").alias("p3_cost_microndw"),
        F.col("tc1").alias("p1_cost_microndw"),
        F.round(F.col("tc") * 1000.0 / F.col("tc1"))
        .cast("long")
        .alias("p3_vs_p1_milli"),
    )


@query(
    "max_covering_nations",
    oracle=_NATION_COST_DEMAND_SQL
    + """
    , thr AS (
        SELECT PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY w) AS r
        FROM und
    ), covm AS MATERIALIZED (
        SELECT dmat.j AS h, dmat.i AS nk
        FROM dmat, thr WHERE dmat.w <= thr.r
    ), hubs AS (SELECT DISTINCT i AS h FROM dmat
    ), tw AS (SELECT CAST(SUM(w) AS BIGINT) AS t FROM dem
    ), triples AS (
        SELECT h1.h AS a, h2.h AS b, h3.h AS c
        FROM hubs h1 JOIN hubs h2 ON h2.h > h1.h
        JOIN hubs h3 ON h3.h > h2.h
    ), dedup AS (
        SELECT t.a, t.b, t.c, CAST(SUM(dem.w) AS BIGINT) AS cov
        FROM triples t
        JOIN (SELECT DISTINCT cm.nk, t2.a, t2.b, t2.c
              FROM covm cm, triples t2
              WHERE cm.h IN (t2.a, t2.b, t2.c)) u
          ON u.a = t.a AND u.b = t.b AND u.c = t.c
        JOIN dem ON dem.nk = u.nk
        GROUP BY t.a, t.b, t.c
    ), best AS (
        SELECT a, b, c, cov FROM dedup
        ORDER BY cov DESC, a, b, c LIMIT 1
    ), g1 AS (
        SELECT cm.h, CAST(SUM(dem.w) AS BIGINT) AS cov
        FROM covm cm JOIN dem ON dem.nk = cm.nk
        GROUP BY cm.h ORDER BY cov DESC, cm.h LIMIT 1
    ), g2 AS (
        SELECT cm.h, CAST(SUM(dem.w) AS BIGINT) AS gain
        FROM covm cm JOIN dem ON dem.nk = cm.nk, g1
        WHERE cm.h <> g1.h
          AND cm.nk NOT IN (SELECT nk FROM covm, g1 WHERE covm.h = g1.h)
        GROUP BY cm.h ORDER BY gain DESC, cm.h LIMIT 1
    ), g3 AS (
        SELECT cm.h, CAST(SUM(dem.w) AS BIGINT) AS gain
        FROM covm cm JOIN dem ON dem.nk = cm.nk, g1, g2
        WHERE cm.h NOT IN (g1.h, g2.h)
          AND cm.nk NOT IN (
              SELECT nk FROM covm, g1, g2 WHERE covm.h IN (g1.h, g2.h))
        GROUP BY cm.h ORDER BY gain DESC, cm.h LIMIT 1
    ), greedy AS (
        SELECT CAST(SUM(dem.w) AS BIGINT) AS cov
        FROM dem
        WHERE dem.nk IN (
            SELECT nk FROM covm, g1, g2, g3
            WHERE covm.h IN (g1.h, g2.h, g3.h))
    )
    SELECT CAST(best.a AS BIGINT) AS hub1, CAST(best.b AS BIGINT) AS hub2,
           CAST(best.c AS BIGINT) AS hub3,
           CAST(ROUND(best.cov * 1000000.0 / tw.t) AS BIGINT)
               AS exact_coverage_ppm,
           CAST(ROUND(greedy.cov * 1000000.0 / tw.t) AS BIGINT)
               AS greedy_coverage_ppm,
           CAST(ROUND(greedy.cov * 1000.0 / best.cov) AS BIGINT)
               AS greedy_ratio_milli
    FROM best, greedy, tw
    """,
)
def max_covering_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal covering location on the nation graph: choose 3 hubs
    maximizing demand within the median pairwise trade cost. Both the
    EXACT optimum (C(25,3) enumeration with per-triple distinct
    coverage) and the classic greedy (largest marginal gain, three
    steps, each a deterministic argmax) are computed, and their ratio
    audits Nemhauser-Wolsey-Fisher: greedy coverage >= (1 - 1/e) ~
    632 milli of optimal for any submodular coverage function —
    pinned by the invariant test, and usually far closer. The
    coverage-objective sibling of `p_median_nations` (total cost)
    and `greedy_set_cover_docs` (min sets to cover everything).

    Determinism: the radius is an exact PERCENTILE_DISC cost; the
    coverage matrix, gains, and all argmaxes are integer with key
    tie-breaks.

    Scale shape: the 57.5k-row triple lattice again (deduped per
    triple before weighting); greedy adds three tiny argmax passes.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    flows = (
        li.join(
            F.broadcast(sup.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")),
            "l_suppkey",
        )
        .join(o.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"), "l_orderkey")
        .join(
            F.broadcast(cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")),
            "o_custkey",
        )
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(F.col("s_nationkey").alias("u"), F.col("c_nationkey").alias("v"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("f")
        )
    )
    tot = flows.agg(F.sum("f").cast("long").alias("tf"))
    edges = flows.crossJoin(F.broadcast(tot)).select(
        "u",
        "v",
        F.round(-F.log(F.col("f").cast("double") / F.col("tf")) * 1000000)
        .cast("long")
        .alias("w"),
    )
    und = (
        edges.select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"), "w"
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))
    ).transform(_ckpt)
    diag = nat.select(
        F.col("n_nationkey").alias("i"),
        F.col("n_nationkey").alias("j"),
        F.lit(0).cast("long").alias("w"),
    )
    dmat = (
        und.select(F.col("a").alias("i"), F.col("b").alias("j"), "w")
        .unionAll(und.select(F.col("b").alias("i"), F.col("a").alias("j"), "w"))
        .unionAll(diag)
    )
    dem = (
        o.join(
            F.broadcast(cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")),
            "o_custkey",
        )
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).cast("long").alias("wt"))
        .transform(_ckpt)
    )
    thr = und.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY w)").alias("r")
    )
    covm = (
        dmat.crossJoin(F.broadcast(thr))
        .where(F.col("w") <= F.col("r"))
        .select(F.col("j").alias("h"), F.col("i").alias("nk"))
        .transform(_ckpt)
    )
    tw = dem.agg(F.sum("wt").cast("long").alias("t"))
    hubs = dmat.select(F.col("i").alias("h")).distinct()
    h1, h2, h3 = hubs.alias("h1"), hubs.alias("h2"), hubs.alias("h3")
    triples = (
        h1.join(h2, F.col("h2.h") > F.col("h1.h"))
        .join(h3, F.col("h3.h") > F.col("h2.h"))
        .select(
            F.col("h1.h").alias("a"),
            F.col("h2.h").alias("b"),
            F.col("h3.h").alias("c"),
        )
    )
    cm = covm.alias("cm")
    pairs = (
        triples.join(
            cm,
            (F.col("cm.h") == F.col("a"))
            | (F.col("cm.h") == F.col("b"))
            | (F.col("cm.h") == F.col("c")),
        )
        .select("a", "b", "c", F.col("cm.nk").alias("nk"))
        .distinct()
    )
    dedup = pairs.join(F.broadcast(dem), "nk").groupBy("a", "b", "c").agg(
        F.sum("wt").cast("long").alias("cov")
    )
    best = dedup.orderBy(
        F.desc("cov"), F.asc("a"), F.asc("b"), F.asc("c")
    ).limit(1)
    hc = covm.join(F.broadcast(dem), "nk")
    g1 = (
        hc.groupBy("h")
        .agg(F.sum("wt").cast("long").alias("cov"))
        .orderBy(F.desc("cov"), F.asc("h"))
        .limit(1)
        .select(F.col("h").alias("h1v"))
    )
    cov1 = covm.join(F.broadcast(g1), covm.h == F.col("h1v")).select("nk")
    g2 = (
        hc.crossJoin(F.broadcast(g1))
        .where(F.col("h") != F.col("h1v"))
        .join(cov1.withColumnRenamed("nk", "cnk"), F.col("cnk") == F.col("nk"), "left_anti")
        .groupBy("h")
        .agg(F.sum("wt").cast("long").alias("gain"))
        .orderBy(F.desc("gain"), F.asc("h"))
        .limit(1)
        .select(F.col("h").alias("h2v"))
    )
    cov12 = covm.join(
        F.broadcast(g1.crossJoin(g2)),
        (covm.h == F.col("h1v")) | (covm.h == F.col("h2v")),
    ).select("nk").distinct()
    g3 = (
        hc.crossJoin(F.broadcast(g1.crossJoin(g2)))
        .where((F.col("h") != F.col("h1v")) & (F.col("h") != F.col("h2v")))
        .join(cov12.withColumnRenamed("nk", "cnk"), F.col("cnk") == F.col("nk"), "left_anti")
        .groupBy("h")
        .agg(F.sum("wt").cast("long").alias("gain"))
        .orderBy(F.desc("gain"), F.asc("h"))
        .limit(1)
        .select(F.col("h").alias("h3v"))
    )
    gset = g1.crossJoin(g2).crossJoin(g3)
    gcovered = covm.join(
        F.broadcast(gset),
        (covm.h == F.col("h1v")) | (covm.h == F.col("h2v")) | (covm.h == F.col("h3v")),
    ).select("nk").distinct()
    greedy = gcovered.join(F.broadcast(dem), "nk").agg(
        F.sum("wt").cast("long").alias("gcov")
    )
    return (
        best.crossJoin(F.broadcast(greedy))
        .crossJoin(F.broadcast(tw))
        .select(
            F.col("a").cast("long").alias("hub1"),
            F.col("b").cast("long").alias("hub2"),
            F.col("c").cast("long").alias("hub3"),
            F.round(F.col("cov") * 1000000.0 / F.col("t"))
            .cast("long")
            .alias("exact_coverage_ppm"),
            F.round(F.col("gcov") * 1000000.0 / F.col("t"))
            .cast("long")
            .alias("greedy_coverage_ppm"),
            F.round(F.col("gcov") * 1000.0 / F.col("cov"))
            .cast("long")
            .alias("greedy_ratio_milli"),
        )
    )


def _leontief_series_sql() -> str:
    """5x5 regional coefficient matrix A (0.5 x column-normalized
    inter-region flows) and the truncated Leontief series
    L = I + A + ... + A^8, built as matrix-product CTEs."""
    head = """
    WITH flows AS (
        SELECT sn.n_regionkey AS i, cn.n_regionkey AS j,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS f
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn ON sn.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn ON cn.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ), colsum AS (
        SELECT j, CAST(SUM(f) AS BIGINT) AS x FROM flows GROUP BY j
    ), a1 AS MATERIALIZED (
        SELECT flows.i, flows.j, 0.5 * flows.f / colsum.x AS v
        FROM flows JOIN colsum ON colsum.j = flows.j
    )"""
    parts = [head]
    for k in range(2, 9):
        parts.append(
            f""", a{k} AS MATERIALIZED (
        SELECT x.i, y.j, SUM(x.v * y.v) AS v
        FROM a{k-1} x JOIN a1 y ON y.i = x.j
        GROUP BY x.i, y.j
    )"""
        )
    series = " UNION ALL ".join(
        [
            "SELECT r_regionkey AS i, r_regionkey AS j, 1.0 AS v FROM region"
        ]
        + [f"SELECT i, j, v FROM a{k}" for k in range(1, 9)]
    )
    parts.append(
        f""", lser AS MATERIALIZED (
        SELECT i, j, SUM(v) AS v FROM ({series}) GROUP BY i, j
    )"""
    )
    return "".join(parts)


def _leontief_series_spark(spark: SparkSession, sf_dir: str):
    """Spark twin: returns (A, L) — the checkpointed coefficient matrix
    and the truncated Leontief inverse, both as (i, j, v)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    nreg = nat.select("n_nationkey", "n_regionkey")
    flows = (
        li.join(
            F.broadcast(sup.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")),
            "l_suppkey",
        )
        .join(
            F.broadcast(
                nreg.select(
                    F.col("n_nationkey").alias("s_nationkey"),
                    F.col("n_regionkey").alias("i"),
                )
            ),
            "s_nationkey",
        )
        .join(o.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"), "l_orderkey")
        .join(
            F.broadcast(cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")),
            "o_custkey",
        )
        .join(
            F.broadcast(
                nreg.select(
                    F.col("n_nationkey").alias("c_nationkey"),
                    F.col("n_regionkey").alias("j"),
                )
            ),
            "c_nationkey",
        )
        .groupBy("i", "j")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("f")
        )
    )
    colsum = flows.groupBy("j").agg(F.sum("f").cast("long").alias("x"))
    a1 = flows.join(colsum, "j").select(
        "i", "j", (0.5 * F.col("f") / F.col("x")).alias("v")
    ).transform(_ckpt)
    powers = [a1]
    cur = a1
    for _ in range(7):
        x, y = cur.alias("x"), a1.alias("y")
        cur = (
            x.join(y, F.col("y.i") == F.col("x.j"))
            .groupBy(F.col("x.i").alias("i"), F.col("y.j").alias("j"))
            .agg(F.sum(F.col("x.v") * F.col("y.v")).alias("v"))
            .transform(_ckpt)
        )
        powers.append(cur)
    ident = reg.select(
        F.col("r_regionkey").alias("i"),
        F.col("r_regionkey").alias("j"),
        F.lit(1.0).alias("v"),
    )
    # fresh projections before the union: unioning checkpointed frames
    # directly trips a Spark attribute-rebinding bug (key not found)
    reproject = lambda df: df.select(
        F.col("i").cast("long").alias("i"),
        F.col("j").cast("long").alias("j"),
        F.col("v").cast("double").alias("v"),
    )
    lser = reproject(ident)
    for p in powers:
        lser = lser.unionAll(reproject(p))
    lser = lser.groupBy("i", "j").agg(F.sum("v").alias("v"))
    return a1, lser


@query(
    "leontief_multipliers_regions",
    oracle=_leontief_series_sql()
    + """
    , direct AS (
        SELECT j, SUM(v) AS d FROM a1 GROUP BY j
    ), mult AS (
        SELECT j, SUM(v) AS m FROM lser GROUP BY j
    )
    SELECT CAST(mult.j AS BIGINT) AS region_key,
           CAST(ROUND(direct.d * 1000) AS BIGINT) AS direct_share_milli,
           CAST(ROUND(mult.m * 1000) AS BIGINT) AS output_multiplier_milli,
           CAST(ROUND((mult.m - 1 - direct.d) * 1000) AS BIGINT)
               AS indirect_milli
    FROM mult JOIN direct ON direct.j = mult.j
    """,
)
def leontief_multipliers_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-I Leontief output multipliers for the five-region trade
    economy: the coefficient matrix A is the column-normalized
    inter-region flow table scaled by a 0.5 intermediate-input share
    (guaranteeing spectral radius < 1), and the Leontief inverse is
    the Neumann series I + A + ... + A^8 — truncated at eight rounds,
    where the omitted tail is below 0.5^9 ~ 0.2% of the direct
    effect. The multiplier (column sum) says how much TOTAL output
    one unit of final demand in a region induces economy-wide; the
    indirect component is the supply-chain echo that the direct flow
    share (`gravity_trade_model`'s view) misses entirely.

    Determinism: flows are exact cents; coefficients are single
    divisions; matrix products are 125-term double sums per power,
    milli-rounded at output.

    Scale shape: one fact agg to the 5x5 table; eight 5x5 matrix
    multiplications are toy joins — input-output economics at
    aggregate cost.
    """
    a1, lser = _leontief_series_spark(spark, sf_dir)
    direct = a1.groupBy("j").agg(F.sum("v").alias("d"))
    mult = lser.groupBy("j").agg(F.sum("v").alias("m"))
    return mult.join(direct, "j").select(
        F.col("j").cast("long").alias("region_key"),
        F.round(F.col("d") * 1000).cast("long").alias("direct_share_milli"),
        F.round(F.col("m") * 1000).cast("long").alias(
            "output_multiplier_milli"
        ),
        F.round((F.col("m") - 1 - F.col("d")) * 1000)
        .cast("long")
        .alias("indirect_milli"),
    )


@query(
    "hirschman_linkage_indices",
    oracle=_leontief_series_sql()
    + """
    , csums AS (SELECT j, SUM(v) AS cs FROM lser GROUP BY j
    ), rsums AS (SELECT i, SUM(v) AS rs FROM lser GROUP BY i
    ), means AS (
        SELECT (SELECT AVG(cs) FROM csums) AS mc,
               (SELECT AVG(rs) FROM rsums) AS mr
    )
    SELECT region_key, backward_linkage_milli, forward_linkage_milli,
           CAST(CASE WHEN backward_linkage_milli > 1000
                      AND forward_linkage_milli > 1000
                THEN 1 ELSE 0 END AS BIGINT) AS is_key_sector
    FROM (
        SELECT CAST(csums.j AS BIGINT) AS region_key,
               CAST(ROUND(csums.cs / means.mc * 1000) AS BIGINT)
                   AS backward_linkage_milli,
               CAST(ROUND(rsums.rs / means.mr * 1000) AS BIGINT)
                   AS forward_linkage_milli
        FROM csums JOIN rsums ON rsums.i = csums.j CROSS JOIN means
    )
    """,
)
def hirschman_linkage_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hirschman-Rasmussen linkage indices from the same truncated
    Leontief inverse as `leontief_multipliers_regions`: backward
    linkage (normalized column sum — how strongly a region's demand
    pulls on everyone's output) and forward linkage (normalized row
    sum — how much a region's output feeds everyone's production),
    with the key-sector flag where both exceed the economy average.
    This is the development-economics screen for where stimulus
    propagates — a region can be a big trader yet a weak propagator
    if its flows dead-end, which no gross-flow ranking can see.

    Determinism: identical series machinery; two sums and one mean
    normalization, milli-rounded. The key-sector flag compares the
    ROUNDED milli integers, not the raw ratios (round-6 fix): at
    sf0.01 one region's backward linkage sits exactly at the economy
    mean, where `cs/mc > 1` is an ulp coin-flip that moves with
    Spark's partition summation order — the closing suite caught it
    flipping between runs. Integer milli > 1000 is order-independent
    in both engines (a milli value's own .5 rounding edge is the
    suite-wide convention every milli column already accepts).

    Scale shape: column/row sums of the 25-cell inverse — free.
    """
    _, lser = _leontief_series_spark(spark, sf_dir)
    csums = lser.groupBy("j").agg(F.sum("v").alias("cs"))
    rsums = lser.groupBy("i").agg(F.sum("v").alias("rs"))
    means = csums.agg(F.avg("cs").alias("mc")).crossJoin(
        rsums.agg(F.avg("rs").alias("mr"))
    )
    return (
        csums.join(rsums, csums.j == rsums.i)
        .crossJoin(F.broadcast(means))
        .select(
            F.col("j").cast("long").alias("region_key"),
            F.round(F.col("cs") / F.col("mc") * 1000)
            .cast("long")
            .alias("backward_linkage_milli"),
            F.round(F.col("rs") / F.col("mr") * 1000)
            .cast("long")
            .alias("forward_linkage_milli"),
        )
        .withColumn(
            "is_key_sector",
            F.when(
                (F.col("backward_linkage_milli") > 1000)
                & (F.col("forward_linkage_milli") > 1000),
                1,
            )
            .otherwise(0)
            .cast("long"),
        )
    )


_SHOW_RATE_SQL = """
    WITH p AS (
        SELECT AVG(CASE WHEN o_orderstatus <> 'P' THEN 1.0 ELSE 0.0 END) AS p
        FROM orders
    ), lf AS (
        SELECT g.v, SUM(ln(i.i * 1.0)) AS lnf
        FROM (SELECT UNNEST(generate_series(0, 200)) AS v) g
        LEFT JOIN (SELECT UNNEST(generate_series(1, 200)) AS i) i
          ON i.i <= g.v
        GROUP BY g.v
    ), lfz AS (SELECT v, COALESCE(lnf, 0.0) AS lnf FROM lf)
"""


@query(
    "overbooking_exact_binomial",
    oracle=_SHOW_RATE_SQL
    + """
    , bs AS (SELECT UNNEST(generate_series(0, 6)) * 5 + 100 AS b
    ), ks AS (SELECT UNNEST(generate_series(101, 200)) AS k
    ), tail AS (
        SELECT bs.b,
               SUM(CASE WHEN ks.k <= bs.b THEN
                   exp(fb.lnf - fk.lnf - fbk.lnf
                       + ks.k * ln(p.p) + (bs.b - ks.k) * ln(1 - p.p))
                   ELSE 0 END) AS overflow
        FROM bs CROSS JOIN ks CROSS JOIN p
        JOIN lfz fb ON fb.v = bs.b
        JOIN lfz fk ON fk.v = ks.k
        JOIN lfz fbk ON fbk.v = GREATEST(bs.b - ks.k, 0)
        GROUP BY bs.b
    )
    SELECT CAST(tail.b AS BIGINT) AS bookings,
           CAST(100 AS BIGINT) AS capacity,
           CAST(ROUND(p.p * 1000000) AS BIGINT) AS show_rate_ppm,
           CAST(ROUND(tail.overflow * 1000000) AS BIGINT) AS overflow_ppm,
           CAST(CASE WHEN tail.overflow <= 0.05 THEN 1 ELSE 0 END AS BIGINT)
               AS within_5pct_risk
    FROM tail, p
    """,
)
def overbooking_exact_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact overbooking risk curve: with the observed show rate (an
    order 'shows' unless status P) and a capacity of 100, the
    probability that more than 100 of b accepted bookings show is the
    exact binomial tail — computed through the integer log-factorial
    lattice (the `bayes_factor_urgent_rates` machinery), no normal
    approximation — for booking levels 100..130. The largest b still
    flagged within_5pct_risk is the overbooking limit; beside
    `littlewood_protection_level` (two-fare seat split) and
    `newsvendor_stock_levels` (cost-ratio fractile), this is the
    third classic capacity gamble, solved on its exact discrete law.

    Determinism: the show rate is an exact ratio; every tail term is
    exp of exact lnfact/ln combinations; ppm rounding.

    Scale shape: one scalar agg for p; the (bookings x overflow-count)
    lattice is 7 x 100 literal rows against a 201-row lnfact table.
    """
    o = load_table(spark, sf_dir, "orders")
    p = o.agg(
        F.avg(
            F.when(F.col("o_orderstatus") != "P", 1.0).otherwise(0.0)
        ).alias("p")
    )
    grid = spark.range(0, 201).select(F.col("id").alias("v"))
    ivals = spark.range(1, 201).select(F.col("id").alias("i"))
    lfz = (
        grid.join(F.broadcast(ivals), F.col("i") <= F.col("v"), "left")
        .groupBy("v")
        .agg(F.coalesce(F.sum(F.log(F.col("i") * 1.0)), F.lit(0.0)).alias("lnf"))
        .transform(_ckpt)
    )
    bs = spark.createDataFrame([(100 + 5 * i,) for i in range(7)], "b long")
    ks = spark.range(101, 201).select(F.col("id").alias("k"))
    lf = lambda a: lfz.select(F.col("v").alias(f"{a}_v"), F.col("lnf").alias(a))
    tail = (
        bs.crossJoin(F.broadcast(ks))
        .crossJoin(F.broadcast(p))
        .join(F.broadcast(lf("fb")), F.col("b") == F.col("fb_v"))
        .join(F.broadcast(lf("fk")), F.col("k") == F.col("fk_v"))
        .join(
            F.broadcast(lf("fbk")),
            F.greatest(F.col("b") - F.col("k"), F.lit(0)) == F.col("fbk_v"),
        )
        .groupBy("b")
        .agg(
            F.sum(
                F.when(
                    F.col("k") <= F.col("b"),
                    F.exp(
                        F.col("fb")
                        - F.col("fk")
                        - F.col("fbk")
                        + F.col("k") * F.log("p")
                        + (F.col("b") - F.col("k")) * F.log(1 - F.col("p"))
                    ),
                ).otherwise(0.0)
            ).alias("overflow")
        )
    )
    return tail.crossJoin(F.broadcast(p)).select(
        F.col("b").cast("long").alias("bookings"),
        F.lit(100).cast("long").alias("capacity"),
        F.round(F.col("p") * 1000000).cast("long").alias("show_rate_ppm"),
        F.round(F.col("overflow") * 1000000).cast("long").alias("overflow_ppm"),
        F.when(F.col("overflow") <= 0.05, 1).otherwise(0).cast("long").alias(
            "within_5pct_risk"
        ),
    )


@query(
    "binomial_poisson_tail_audit",
    oracle=_SHOW_RATE_SQL
    + """
    , ks AS (SELECT UNNEST(generate_series(101, 120)) AS k
    ), bino AS (
        SELECT SUM(exp(fb.lnf - fk.lnf - fbk.lnf
                   + ks.k * ln(p.p) + (120 - ks.k) * ln(1 - p.p))) AS t
        FROM ks CROSS JOIN p
        JOIN lfz fb ON fb.v = 120
        JOIN lfz fk ON fk.v = ks.k
        JOIN lfz fbk ON fbk.v = 120 - ks.k
    ), ks2 AS (SELECT UNNEST(generate_series(101, 200)) AS k
    ), pois AS (
        SELECT SUM(exp(-120 * p.p + ks2.k * ln(120 * p.p) - fk.lnf)) AS t
        FROM ks2 CROSS JOIN p
        JOIN lfz fk ON fk.v = ks2.k
    )
    SELECT CAST(120 AS BIGINT) AS bookings,
           CAST(ROUND(bino.t * 1000000) AS BIGINT) AS exact_binomial_ppm,
           CAST(ROUND(pois.t * 1000000) AS BIGINT) AS poisson_approx_ppm,
           CAST(ROUND(ABS(pois.t - bino.t) * 1000000) AS BIGINT)
               AS abs_err_ppm
    FROM bino, pois
    """,
)
def binomial_poisson_tail_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-approximation error for the overbooking tail at b =
    120: the exact Binomial(120, p) overflow probability versus the
    Poisson(120 p) tail (truncated at 200, remainder below machine
    noise) — Le Cam's bound promises total-variation error <= 120 p^2
    + ..., but capacity decisions care about THIS tail at THIS p, and
    with show rates near 1 the Poisson law is the wrong-side
    approximation by a wide, now-quantified margin. The
    approximation-audit discipline of the sketch suite
    (`kmv_distinct_sketch` et al.) applied to a probability law.

    Determinism: both tails are exp-of-lnfact sums over literal
    support; ppm rounding.

    Scale shape: scalar p plus two ~100-term lattice sums.
    """
    o = load_table(spark, sf_dir, "orders")
    p = o.agg(
        F.avg(
            F.when(F.col("o_orderstatus") != "P", 1.0).otherwise(0.0)
        ).alias("p")
    )
    grid = spark.range(0, 201).select(F.col("id").alias("v"))
    ivals = spark.range(1, 201).select(F.col("id").alias("i"))
    lfz = (
        grid.join(F.broadcast(ivals), F.col("i") <= F.col("v"), "left")
        .groupBy("v")
        .agg(F.coalesce(F.sum(F.log(F.col("i") * 1.0)), F.lit(0.0)).alias("lnf"))
        .transform(_ckpt)
    )
    lf = lambda a: lfz.select(F.col("v").alias(f"{a}_v"), F.col("lnf").alias(a))
    ks = spark.range(101, 121).select(F.col("id").alias("k"))
    f120 = lfz.where(F.col("v") == 120).select(F.col("lnf").alias("fb"))
    bino = (
        ks.crossJoin(F.broadcast(p))
        .crossJoin(F.broadcast(f120))
        .join(F.broadcast(lf("fk")), F.col("k") == F.col("fk_v"))
        .join(F.broadcast(lf("fbk")), (120 - F.col("k")) == F.col("fbk_v"))
        .agg(
            F.sum(
                F.exp(
                    F.col("fb")
                    - F.col("fk")
                    - F.col("fbk")
                    + F.col("k") * F.log("p")
                    + (120 - F.col("k")) * F.log(1 - F.col("p"))
                )
            ).alias("tb")
        )
    )
    ks2 = spark.range(101, 201).select(F.col("id").alias("k"))
    pois = (
        ks2.crossJoin(F.broadcast(p))
        .join(F.broadcast(lf("fk")), F.col("k") == F.col("fk_v"))
        .agg(
            F.sum(
                F.exp(
                    -120 * F.col("p")
                    + F.col("k") * F.log(120 * F.col("p"))
                    - F.col("fk")
                )
            ).alias("tp")
        )
    )
    return bino.crossJoin(F.broadcast(pois)).select(
        F.lit(120).cast("long").alias("bookings"),
        F.round(F.col("tb") * 1000000).cast("long").alias("exact_binomial_ppm"),
        F.round(F.col("tp") * 1000000).cast("long").alias("poisson_approx_ppm"),
        F.round(F.abs(F.col("tp") - F.col("tb")) * 1000000)
        .cast("long")
        .alias("abs_err_ppm"),
    )
