"""Query registry part 5 of 12 — registration order preserved.

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
from pyspark_movie_recommender_spark.queries import query
from pyspark_movie_recommender_spark.sources import load_table

@query(
    "mcnemar_late_predictors",
    oracle="""
    WITH pts AS (
        SELECT (l_returnflag = 'R') AS truth,
               (l_discount >= 0.06) AS pred_a,
               (l_quantity >= 30) AS pred_b
        FROM lineitem
    ), cells AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN pred_a = truth AND pred_b <> truth
                        THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(SUM(CASE WHEN pred_a <> truth AND pred_b = truth
                        THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(SUM(CASE WHEN pred_a = truth THEN 1 ELSE 0 END)
                    AS BIGINT) AS ok_a,
               CAST(SUM(CASE WHEN pred_b = truth THEN 1 ELSE 0 END)
                    AS BIGINT) AS ok_b
        FROM pts
    )
    SELECT n, b AS only_a_correct, c AS only_b_correct,
           ROUND(CAST(ok_a AS DOUBLE) / n, 6) AS acc_a,
           ROUND(CAST(ok_b AS DOUBLE) / n, 6) AS acc_b,
           ROUND((abs(b - c) - 1.0) * (abs(b - c) - 1.0) / (b + c), 6)
               AS mcnemar_chi2,
           CAST(CASE WHEN (abs(b - c) - 1.0) * (abs(b - c) - 1.0) / (b + c)
                          > 6.634897
                     THEN 1 ELSE 0 END AS BIGINT) AS rejected
    FROM cells
    """,
)
def mcnemar_late_predictors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on two PAIRED rule classifiers predicting a
    returned lineitem (l_returnflag = 'R'): A = high-discount rule
    (l_discount >= 0.06), B = bulk-quantity rule (l_quantity >= 30).
    Accuracy alone can't say whether A beats B on the SAME rows —
    McNemar conditions on the b+c disagreements:
    χ²_cc = (|b−c|−1)²/(b+c) with continuity correction, against the
    χ²₁ 99% line (6.634897). The paired counterpart of
    `classifier_agreement_kappa` (which measures agreement, not
    superiority) and `two_proportion_ztest` (which wrongly assumes
    independent samples for this design).

    Determinism: every cell is an exact integer count from boolean
    predicates; one fixed double expression rounded to 6.

    Scale shape: single scan, one map-side-combined global agg to one
    row — no shuffle wider than the 5-cell partial aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    truth = F.col("l_returnflag") == "R"
    pred_a = F.col("l_discount") >= 0.06
    pred_b = F.col("l_quantity") >= 30
    pts = li.select(
        truth.alias("truth"), pred_a.alias("pred_a"), pred_b.alias("pred_b")
    )
    cells = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(
                (F.col("pred_a") == F.col("truth"))
                & (F.col("pred_b") != F.col("truth")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("b"),
        F.sum(
            F.when(
                (F.col("pred_a") != F.col("truth"))
                & (F.col("pred_b") == F.col("truth")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("c"),
        F.sum(F.when(F.col("pred_a") == F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("ok_a"),
        F.sum(F.when(F.col("pred_b") == F.col("truth"), 1).otherwise(0))
        .cast("long")
        .alias("ok_b"),
    )
    chi2 = (
        (F.abs(F.col("b") - F.col("c")) - 1.0)
        * (F.abs(F.col("b") - F.col("c")) - 1.0)
        / (F.col("b") + F.col("c"))
    )
    return cells.select(
        "n",
        F.col("b").alias("only_a_correct"),
        F.col("c").alias("only_b_correct"),
        F.round(F.col("ok_a").cast("double") / F.col("n"), 6).alias("acc_a"),
        F.round(F.col("ok_b").cast("double") / F.col("n"), 6).alias("acc_b"),
        F.round(chi2, 6).alias("mcnemar_chi2"),
        F.when(chi2 > 6.634897, 1).otherwise(0).cast("long").alias("rejected"),
    )


# ---------------------------------------------------------------------------
# wave 165: Pettitt change-point test, KPSS stationarity test
# ---------------------------------------------------------------------------


@query(
    "pettitt_changepoint_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY day
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily
    ), mids AS (
        SELECT day, 2 * (CAST(ROW_NUMBER() OVER (ORDER BY cents, day)
                              AS BIGINT) - 1)
                    - (CAST(COUNT(*) OVER () AS BIGINT) - 1) AS v
        FROM daily
    ), u AS (
        SELECT day,
               CAST(SUM(v) OVER (ORDER BY day) AS BIGINT) AS u_t
        FROM mids
    ), k AS (
        SELECT day AS change_day, abs(u_t) AS k_stat
        FROM u ORDER BY abs(u_t) DESC, day LIMIT 1
    )
    SELECT n, change_day, k_stat,
           ROUND(2.0 * exp(-6.0 * CAST(k_stat AS DOUBLE) * k_stat
                           / (CAST(n AS DOUBLE)*n*n + CAST(n AS DOUBLE)*n)),
                 6) AS approx_p,
           CAST(CASE WHEN 2.0 * exp(-6.0 * CAST(k_stat AS DOUBLE) * k_stat
                           / (CAST(n AS DOUBLE)*n*n + CAST(n AS DOUBLE)*n))
                          < 0.01
                     THEN 1 ELSE 0 END AS BIGINT) AS rejected
    FROM k, tot
    """,
)
def pettitt_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank-based change-point test on daily event value: the
    NONPARAMETRIC sibling of `cusum_changepoint_daily` (no in-control
    mean/σ assumption). U_t = Σ_{i≤t}Σ_{j>t} sgn(x_i−x_j) via the
    rank identity U_t = Σ_{s≤t}(2r_s − (n+1)) — one rank pass plus one
    cumulative sum, never the O(n²) double loop. K = max|U_t| with the
    classic tail bound p ≈ 2·exp(−6K²/(n³+n²)).

    Daily totals are distinct in practice, so ranks come from a plain
    ROW_NUMBER over (cents, day) — the day tie-break makes both
    engines assign identical ranks even on equal totals (a documented
    mid-rank approximation under ties, exact when totals are unique).

    Determinism: v = 2(rank−1) − (n−1) = 2r − (n+1) is an exact
    BIGINT; U_t is an exact integer cumsum; p is one fixed double
    expression rounded to 6.

    Scale shape: fact → |days| hash agg; rank + cumsum windows run on
    the tiny day relation (global window over ~10² rows, explicitly a
    post-shrink stage, not a fact-table sort).
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            epoch_day("ts").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    n_w = Window.partitionBy()
    mids = daily.select(
        "day",
        (
            2 * (F.row_number().over(Window.orderBy("cents", "day")).cast("long") - 1)
            - (F.count(F.lit(1)).over(n_w).cast("long") - 1)
        ).alias("v"),
        F.count(F.lit(1)).over(n_w).cast("long").alias("n"),
    )
    u = mids.select(
        "day",
        "n",
        F.sum("v").over(Window.orderBy("day")).cast("long").alias("u_t"),
    )
    k = u.orderBy(F.abs(F.col("u_t")).desc(), "day").limit(1)
    nd = F.col("n").cast("double")
    p = 2.0 * F.exp(
        -6.0
        * F.col("k_stat").cast("double")
        * F.col("k_stat")
        / (nd * F.col("n") * F.col("n") + nd * F.col("n"))
    )
    return k.select(
        "n",
        F.col("day").alias("change_day"),
        F.abs(F.col("u_t")).alias("k_stat"),
    ).select(
        "n",
        "change_day",
        "k_stat",
        F.round(p, 6).alias("approx_p"),
        F.when(p < 0.01, 1).otherwise(0).cast("long").alias("rejected"),
    )


@query(
    "kpss_stationarity_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY day
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(FLOOR(4.0 * pow(COUNT(*) / 100.0, 0.25)) AS BIGINT)
                   AS lags
        FROM daily
    ), seq AS (
        SELECT day, cents,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
               CAST(SUM(cents) OVER (ORDER BY day) AS BIGINT) AS csum
        FROM daily
    ), parts AS (
        -- exS_t = n*S_t  (exact integer partial sums of centered series)
        SELECT SUM(CAST(n * csum - t * s AS HUGEINT)
                   * CAST(n * csum - t * s AS HUGEINT)) AS ss_num
        FROM seq, tot
    ), gam AS (
        -- n^2 * gamma_j numerators: e_t*n = n*x_t - s
        SELECT CAST(b.t - a.t AS BIGINT) AS j,
               SUM(CAST(n * a.cents - s AS HUGEINT)
                   * CAST(n * b.cents - s AS HUGEINT)) AS g_num
        FROM seq a JOIN seq b ON b.t >= a.t, tot
        WHERE b.t - a.t <= (SELECT lags FROM tot)
        GROUP BY j
    ), lrv AS (
        SELECT SUM(CASE WHEN j = 0 THEN CAST(g_num AS DOUBLE)
                        ELSE 2.0 * (1.0 - CAST(j AS DOUBLE) / (lags + 1))
                             * CAST(g_num AS DOUBLE) END) AS s2_num
        FROM gam, tot GROUP BY lags
    )
    SELECT n, lags,
           ROUND(CAST(ss_num AS DOUBLE) / (CAST(n AS DOUBLE) * n)
                 / (s2_num / n), 6) AS kpss_eta,
           CAST(CASE WHEN CAST(ss_num AS DOUBLE) / (CAST(n AS DOUBLE) * n)
                          / (s2_num / n) > 0.739
                     THEN 1 ELSE 0 END AS BIGINT) AS rejected
    FROM parts, lrv, tot
    """,
)
def kpss_stationarity_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity test on daily event value — the
    null-reversed complement of `variance_ratio_random_walk` (KPSS
    nulls STATIONARITY; VR nulls the random walk):
    η = n⁻² Σ S_t² / s²_lr with S_t the partial sums of the centered
    series and s²_lr the Bartlett-weighted long-run variance at
    l = ⌊4(n/100)^0.25⌋ lags, against the 1% line 0.739.

    Determinism: every numerator stays an exact 128-bit integer by
    clearing denominators — n·S_t = n·csum_t − t·S and
    n·e_t = n·x_t − S are exact, so Σ(nS_t)² and the lag-j
    autocovariance numerators Σ(ne_t)(ne_{t+j}) are exact; η is one
    fixed double expression over them, rounded to 6.

    Scale shape: fact → |days| hash agg; the lag join is
    |days|×(l+1) rows (~10³) on the tiny day relation. The band
    predicate b.t BETWEEN a.t AND a.t+l keeps it linear in days.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            epoch_day("ts").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("long").alias("cents"))
    )
    daily = _ckpt(daily)  # shared fan-out relation
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.floor(4.0 * F.pow(F.count(F.lit(1)) / 100.0, 0.25))
        .cast("long")
        .alias("lags"),
    )
    tot = _ckpt(tot)  # shared fan-out relation
    wd = Window.orderBy("day")
    seq = daily.select(
        "day",
        "cents",
        F.row_number().over(wd).cast("long").alias("t"),
        F.sum("cents").over(wd).cast("long").alias("csum"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    parts = seq.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            dec(F.col("n") * F.col("csum") - F.col("t") * F.col("s"))
            * dec(F.col("n") * F.col("csum") - F.col("t") * F.col("s"))
        ).alias("ss_num")
    )
    a = seq.alias("a")
    b = seq.alias("b")
    gam = (
        a.crossJoin(F.broadcast(tot))
        .join(
            b,
            (F.col("b.t") >= F.col("a.t"))
            & (F.col("b.t") - F.col("a.t") <= F.col("lags")),
        )
        .groupBy((F.col("b.t") - F.col("a.t")).cast("long").alias("j"), "lags")
        .agg(
            F.sum(
                dec(F.col("n") * F.col("a.cents") - F.col("s"))
                * dec(F.col("n") * F.col("b.cents") - F.col("s"))
            ).alias("g_num")
        )
    )
    lrv = (
        gam.groupBy("lags")
        .agg(
            F.sum(
                F.when(F.col("j") == 0, F.col("g_num").cast("double")).otherwise(
                    2.0
                    * (1.0 - F.col("j").cast("double") / (F.col("lags") + 1))
                    * F.col("g_num").cast("double")
                )
            ).alias("s2_num")
        )
        .select("s2_num")
    )
    eta = (
        F.col("ss_num").cast("double")
        / (F.col("n").cast("double") * F.col("n"))
        / (F.col("s2_num") / F.col("n"))
    )
    return (
        parts.crossJoin(F.broadcast(lrv))
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            "lags",
            F.round(eta, 6).alias("kpss_eta"),
            F.when(eta > 0.739, 1).otherwise(0).cast("long").alias("rejected"),
        )
    )


# ---------------------------------------------------------------------------
# wave 166: Friedman blocked rank test, Taylor's power-law fit
# ---------------------------------------------------------------------------


@query(
    "friedman_weekly_type_ranks",
    oracle="""
    WITH cell AS (
        SELECT CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS wk,
               event_type, CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY wk, event_type
    ), ranked AS (
        SELECT event_type,
               2 * (CAST(RANK() OVER (PARTITION BY wk ORDER BY c)
                         AS BIGINT) - 1)
               + CAST(COUNT(*) OVER (PARTITION BY wk, c) AS BIGINT) + 1
                   AS mid2
        FROM cell
    ), rsum AS (
        SELECT event_type, CAST(SUM(mid2) AS BIGINT) AS s2,
               CAST(COUNT(*) AS BIGINT) AS b
        FROM ranked GROUP BY event_type
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(MAX(b) AS BIGINT) AS b,
               CAST(SUM(s2 * s2) AS BIGINT) AS ss2
        FROM rsum
    )
    SELECT k AS n_treatments, b AS n_blocks,
           ROUND(3.0 * ss2 / (CAST(b AS DOUBLE) * k * (k + 1))
                 - 3.0 * b * (k + 1), 6) AS friedman_q,
           CAST(CASE WHEN 3.0 * ss2 / (CAST(b AS DOUBLE) * k * (k + 1))
                          - 3.0 * b * (k + 1) > 13.2767
                     THEN 1 ELSE 0 END AS BIGINT) AS rejected
    FROM agg
    """,
)
def friedman_weekly_type_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman blocked rank test: do the five event types keep the
    same volume ORDERING week after week? Blocks = ISO-epoch weeks,
    treatments = event types, response = weekly event count ranked
    WITHIN each week — the repeated-measures complement of
    `kruskal_wallis_quantity` (which pools all rows and would let
    between-week volume drift masquerade as a treatment effect).
    Q = 12/(bk(k+1))·ΣR_j² − 3b(k+1), flagged against χ²₄ 99%
    (13.2767, k=5 types in this corpus).

    Determinism: doubled midranks mid2 = 2·cnt_less + cnt_eq + 1 keep
    every rank an exact BIGINT even under tied counts (RANK gives
    1+cnt_less on both engines); ΣR² enters as the exact integer
    Σ(S2_j)² via Q = 3·ΣS2²/(bk(k+1)) − 3b(k+1); one double
    expression, rounded to 6.

    Scale shape: fact → |weeks×types| hash agg (tiny); ranking windows
    run per-week over k=5 rows; everything after the first agg is
    driver-scale.
    """
    ev = load_table(spark, sf_dir, "events")
    cell = (
        ev.select(
            F.expr(
                "unix_micros(CAST(ts AS timestamp_ltz)) div 604800000000"
            )
            .cast("long")
            .alias("wk"),
            "event_type",
        )
        .groupBy("wk", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    ranked = cell.select(
        "event_type",
        (
            2 * (F.rank().over(Window.partitionBy("wk").orderBy("c")).cast("long") - 1)
            + F.count(F.lit(1)).over(Window.partitionBy("wk", "c")).cast("long")
            + 1
        ).alias("mid2"),
    )
    rsum = ranked.groupBy("event_type").agg(
        F.sum("mid2").cast("long").alias("s2"),
        F.count(F.lit(1)).cast("long").alias("b"),
    )
    agg = rsum.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("b").cast("long").alias("b"),
        F.sum(F.col("s2") * F.col("s2")).cast("long").alias("ss2"),
    )
    q = 3.0 * F.col("ss2") / (
        F.col("b").cast("double") * F.col("k") * (F.col("k") + 1)
    ) - 3.0 * F.col("b") * (F.col("k") + 1)
    return agg.select(
        F.col("k").alias("n_treatments"),
        F.col("b").alias("n_blocks"),
        F.round(q, 6).alias("friedman_q"),
        F.when(q > 13.2767, 1).otherwise(0).cast("long").alias("rejected"),
    )


@query(
    "taylor_power_law_types",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY event_type, day
    ), g AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_g,
               CAST(SUM(c) AS BIGINT) AS sc,
               SUM(CAST(c AS HUGEINT) * c) AS scc
        FROM daily GROUP BY event_type
    ), xy AS (
        SELECT ln(CAST(sc AS DOUBLE) / n_g) AS x,
               ln(CAST(n_g * scc - sc * sc AS DOUBLE)
                  / CAST(n_g AS DOUBLE) / (n_g - 1)) AS y
        FROM g WHERE n_g > 1
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        FROM xy
    )
    SELECT k AS n_types,
           ROUND((k * sxy - sx * sy) / (k * sxx - sx * sx), 6)
               AS taylor_slope,
           ROUND((sy - (k * sxy - sx * sy) / (k * sxx - sx * sx) * sx) / k,
                 6) AS intercept,
           ROUND((k * sxy - sx * sy) * (k * sxy - sx * sy)
                 / ((k * sxx - sx * sx) * (k * syy - sy * sy)), 6)
               AS r_squared,
           CAST(CASE WHEN (k * sxy - sx * sy) / (k * sxx - sx * sx) > 1.0
                     THEN 1 ELSE 0 END AS BIGINT) AS is_aggregated
    FROM s
    """,
)
def taylor_power_law_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taylor's power law across event types: variance of daily counts
    scales as mean^b — OLS of ln(var) on ln(mean) over the per-type
    daily-count distributions. Slope b=1 is Poisson-like arrivals;
    b in (1,2] signals aggregation/burstiness, the fleet-wide
    complement of the single-series `dispersion_index_daily`.

    Determinism: per-type (n, Σc, Σc²) are exact integers (Σc² in
    128-bit); mean/variance are fixed double expressions over them;
    the OLS moment sums run over k=5 points (kruskal-pattern
    cross-group double sum, absorbed by round(6)).

    Scale shape: fact → |types×days| hash agg → |types| census → a
    5-point regression; one scan, two tiny hash aggs, zero wide
    shuffles.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", epoch_day("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    g = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(dec("c") * dec("c")).alias("scc"),
    )
    xy = g.where(F.col("n_g") > 1).select(
        F.log(F.col("sc").cast("double") / F.col("n_g")).alias("x"),
        F.log(
            (F.col("n_g") * F.col("scc") - F.col("sc") * F.col("sc")).cast(
                "double"
            )
            / F.col("n_g").cast("double")
            / (F.col("n_g") - 1)
        ).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("k").alias("n_types"),
        F.round(slope, 6).alias("taylor_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("k"), 6).alias(
            "intercept"
        ),
        F.round(
            (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
            * (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (F.col("k") * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("r_squared"),
        F.when(slope > 1.0, 1).otherwise(0).cast("long").alias("is_aggregated"),
    )


# ---------------------------------------------------------------------------
# wave 167: Chow structural-break test, Durbin-Watson statistic
# ---------------------------------------------------------------------------


@query(
    "chow_break_price_quantity",
    oracle="""
    WITH pts AS (
        SELECT CAST(epoch_us(l_shipdate) // 86400000000 AS BIGINT) AS day,
               CAST(ROUND(l_quantity * 1000) AS BIGINT) AS x,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ), piv AS (
        SELECT (MIN(day) + MAX(day)) // 2 AS piv_day FROM pts
    ), lab AS (
        SELECT CASE WHEN day <= piv_day THEN 1 ELSE 2 END AS g, x, y
        FROM pts, piv
    ), m AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM lab GROUP BY g
    ), wide AS (
        SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
               SUM(sxx) AS sxx, SUM(syy) AS syy, SUM(sxy) AS sxy,
               SUM(CASE WHEN g = 1 THEN n END) AS n1,
               SUM(CASE WHEN g = 1 THEN sx END) AS sx1,
               SUM(CASE WHEN g = 1 THEN sy END) AS sy1,
               SUM(CASE WHEN g = 1 THEN sxx END) AS sxx1,
               SUM(CASE WHEN g = 1 THEN syy END) AS syy1,
               SUM(CASE WHEN g = 1 THEN sxy END) AS sxy1,
               SUM(CASE WHEN g = 2 THEN n END) AS n2,
               SUM(CASE WHEN g = 2 THEN sx END) AS sx2,
               SUM(CASE WHEN g = 2 THEN sy END) AS sy2,
               SUM(CASE WHEN g = 2 THEN sxx END) AS sxx2,
               SUM(CASE WHEN g = 2 THEN syy END) AS syy2,
               SUM(CASE WHEN g = 2 THEN sxy END) AS sxy2
        FROM m
    ), h AS (
        SELECT CAST(n AS HUGEINT) AS n, CAST(sx AS HUGEINT) AS sx,
               CAST(sy AS HUGEINT) AS sy, sxx, syy, sxy,
               CAST(n1 AS HUGEINT) AS n1, CAST(sx1 AS HUGEINT) AS sx1,
               CAST(sy1 AS HUGEINT) AS sy1, sxx1, syy1, sxy1,
               CAST(n2 AS HUGEINT) AS n2, CAST(sx2 AS HUGEINT) AS sx2,
               CAST(sy2 AS HUGEINT) AS sy2, sxx2, syy2, sxy2
        FROM wide
    ), ssr AS (
        SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
               (CAST(n * syy - sy * sy AS DOUBLE)
                - CAST(n * sxy - sx * sy AS DOUBLE)
                  * CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)) / n AS ssr_p,
               (CAST(n1 * syy1 - sy1 * sy1 AS DOUBLE)
                - CAST(n1 * sxy1 - sx1 * sy1 AS DOUBLE)
                  * CAST(n1 * sxy1 - sx1 * sy1 AS DOUBLE)
                  / CAST(n1 * sxx1 - sx1 * sx1 AS DOUBLE)) / n1 AS ssr_1,
               (CAST(n2 * syy2 - sy2 * sy2 AS DOUBLE)
                - CAST(n2 * sxy2 - sx2 * sy2 AS DOUBLE)
                  * CAST(n2 * sxy2 - sx2 * sy2 AS DOUBLE)
                  / CAST(n2 * sxx2 - sx2 * sx2 AS DOUBLE)) / n2 AS ssr_2
        FROM h
    )
    SELECT n1 AS n_pre, n2 AS n_post,
           ROUND((ssr_p - ssr_1 - ssr_2) / 2.0
                 / ((ssr_1 + ssr_2) / (n1 + n2 - 4)), 6) AS chow_f,
           CAST(CASE WHEN (ssr_p - ssr_1 - ssr_2) / 2.0
                          / ((ssr_1 + ssr_2) / (n1 + n2 - 4)) > 4.6052
                     THEN 1 ELSE 0 END AS BIGINT) AS break_detected
    FROM ssr
    """,
)
def chow_break_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test for a structural break in the price~quantity OLS line
    between the first and second half of the shipping calendar (pivot
    = midpoint of [min_day, max_day], an exact integer): F =
    [(SSR_pooled − SSR₁ − SSR₂)/k] / [(SSR₁+SSR₂)/(n₁+n₂−2k)], k=2
    coefficients, against F(2,∞) 99% = 4.6052. The regime-comparison
    counterpart of `regression_discontinuity` (which tests a LEVEL
    jump at a cutoff; Chow tests whether the whole LINE changed).

    Determinism: per-regime (n,Σx,Σy,Σx²,Σy²,Σxy) are exact integers
    (quantity scaled to milli-units, price to cents, squares in
    128-bit); each SSR is a fixed double expression over the
    denominator-cleared centered moments (n·Σxy−ΣxΣy etc.); the
    two-regime pivot is a conditional aggregation so NO cross-row
    double sums exist anywhere; one round(6).

    Scale shape: one scan → 2-group hash agg (map-side combined) →
    1-row census. The min/max pivot is a separate 1-row agg broadcast
    back — two scans total, zero wide shuffles.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        epoch_day("l_shipdate").alias("day"),
        F.round(F.col("l_quantity") * 1000).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    piv = pts.agg(
        ((F.min("day") + F.max("day")) / 2).cast("long").alias("pivot")
    )
    lab = pts.crossJoin(F.broadcast(piv)).select(
        F.when(F.col("day") <= F.col("pivot"), 1).otherwise(2).alias("g"),
        "x",
        "y",
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    m = lab.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
        F.sum(dec("y") * dec("y")).alias("syy"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
    )

    def tagged(col, g):
        return F.sum(F.when(F.col("g") == g, F.col(col)))

    wide = m.agg(
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"),
        F.sum("syy").alias("syy"),
        F.sum("sxy").alias("sxy"),
        *[
            tagged(c, g).alias(f"{c}{g}")
            for g in (1, 2)
            for c in ("n", "sx", "sy", "sxx", "syy", "sxy")
        ],
    )

    def ssr(n, sx, sy, sxx, syy, sxy):
        d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
        cyy = (d(n) * d(syy) - d(sy) * d(sy)).cast("double")
        cxy = (d(n) * d(sxy) - d(sx) * d(sy)).cast("double")
        cxx = (d(n) * d(sxx) - d(sx) * d(sx)).cast("double")
        return (cyy - cxy * cxy / cxx) / F.col(n)

    ssr_p = ssr("n", "sx", "sy", "sxx", "syy", "sxy")
    ssr_1 = ssr("n1", "sx1", "sy1", "sxx1", "syy1", "sxy1")
    ssr_2 = ssr("n2", "sx2", "sy2", "sxx2", "syy2", "sxy2")
    chow_f = (ssr_p - ssr_1 - ssr_2) / 2.0 / (
        (ssr_1 + ssr_2) / (F.col("n1") + F.col("n2") - 4)
    )
    return wide.select(
        F.col("n1").cast("long").alias("n_pre"),
        F.col("n2").cast("long").alias("n_post"),
        F.round(chow_f, 6).alias("chow_f"),
        F.when(chow_f > 4.6052, 1)
        .otherwise(0)
        .cast("long")
        .alias("break_detected"),
    )


@query(
    "durbin_watson_daily_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events GROUP BY day
    ), seq AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
               cents AS y
        FROM daily
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(t AS HUGEINT) * t) AS stt,
               SUM(CAST(t AS HUGEINT) * y) AS sty
        FROM seq
    ), fit AS (
        SELECT n,
               CAST(n * sty - st * sy AS DOUBLE)
                   / CAST(n * stt - st * st AS DOUBLE) AS b,
               (sy - CAST(n * sty - st * sy AS DOUBLE)
                     / CAST(n * stt - st * st AS DOUBLE) * st)
                   / CAST(n AS DOUBLE) AS a
        FROM mom
    ), resid AS (
        SELECT t, y - a - b * t AS e FROM seq, fit
    ), dw AS (
        SELECT SUM((e - le) * (e - le)) AS num, SUM(e * e) AS den
        FROM (SELECT e, LAG(e) OVER (ORDER BY t) AS le FROM resid)
        WHERE le IS NOT NULL
    )
    SELECT n,
           ROUND(num / (den + (SELECT first(e * e) FROM
                               (SELECT e FROM resid ORDER BY t LIMIT 1))),
                 6) AS dw_stat,
           CAST(CASE WHEN num / (den + (SELECT first(e * e) FROM
                               (SELECT e FROM resid ORDER BY t LIMIT 1)))
                          < 1.5 THEN 1 ELSE 0 END AS BIGINT)
               AS positive_autocorr
    FROM dw, fit
    """,
)
def durbin_watson_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic on the residuals of the daily-value
    time-trend OLS: DW = Σ(e_t−e_{t−1})²/Σe_t² ≈ 2(1−ρ₁). The
    REGRESSION-residual autocorrelation check that `acf_daily_event_value`
    (raw series) and `ljung_box_daily_value` (raw series, portmanteau)
    don't give: a strong trend inflates raw ACF even when residuals are
    white. Flagged at the classic DW < 1.5 positive-autocorrelation
    line.

    Determinism: slope/intercept come from denominator-cleared exact
    integer moments (n·Σty−ΣtΣy over 128-bit sums); residuals are the
    SAME fixed double expression on both engines, so per-row e_t is
    bit-identical; the two quadratic sums run over ~10² residuals and
    round(6) absorbs summation order. The denominator adds the first
    residual's e² explicitly so den = FULL Σe² while num sums from
    t=2 — both engines restrict identically via le IS NOT NULL.

    Scale shape: fact → |days| agg; OLS census is 1 row broadcast
    back; the lag window runs over the tiny day relation.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            epoch_day("ts").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("long").alias("y"))
    )
    seq = daily.select(
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
        "y",
    )
    seq = _ckpt(seq)  # shared fan-out relation
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mom = seq.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(dec("t") * dec("t")).alias("stt"),
        F.sum(dec("t") * dec("y")).alias("sty"),
    )
    b = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")).cast(
        "double"
    ) / (F.col("n") * F.col("stt") - F.col("st") * F.col("st")).cast("double")
    fit = mom.select(
        "n",
        b.alias("b"),
        ((F.col("sy") - b * F.col("st")) / F.col("n").cast("double")).alias(
            "a"
        ),
    )
    resid = seq.crossJoin(F.broadcast(fit)).select(
        "t",
        "n",
        (F.col("y") - F.col("a") - F.col("b") * F.col("t")).alias("e"),
    )
    resid = _ckpt(resid)  # shared fan-out relation
    lagged = resid.select(
        "t", "n", "e", F.lag("e").over(Window.orderBy("t")).alias("le")
    )
    dw = lagged.where(F.col("le").isNotNull()).agg(
        F.max("n").alias("n"),
        F.sum((F.col("e") - F.col("le")) * (F.col("e") - F.col("le"))).alias(
            "num"
        ),
        F.sum(F.col("e") * F.col("e")).alias("den"),
    )
    first_e2 = resid.orderBy("t").limit(1).select(
        (F.col("e") * F.col("e")).alias("e2_first")
    )
    stat = F.col("num") / (F.col("den") + F.col("e2_first"))
    return dw.crossJoin(F.broadcast(first_e2)).select(
        "n",
        F.round(stat, 6).alias("dw_stat"),
        F.when(stat < 1.5, 1)
        .otherwise(0)
        .cast("long")
        .alias("positive_autocorr"),
    )


# ---------------------------------------------------------------------------
# wave 168: Granger lag-1 causality, Gumbel block-maxima fit
# ---------------------------------------------------------------------------


@query(
    "granger_views_to_purchases",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN 1 ELSE 0 END) AS BIGINT) AS p,
               CAST(SUM(CASE WHEN event_type = 'view'
                        THEN 1 ELSE 0 END) AS BIGINT) AS v
        FROM events GROUP BY day
    ), lagged AS (
        SELECT p AS y,
               LAG(p) OVER (ORDER BY day) AS x1,
               LAG(v) OVER (ORDER BY day) AS x2
        FROM daily
    ), pts AS (
        SELECT y, x1, x2 FROM lagged WHERE x1 IS NOT NULL
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x1) AS BIGINT) AS s1,
               CAST(SUM(x2) AS BIGINT) AS s2,
               SUM(CAST(y AS HUGEINT) * y) AS syy,
               SUM(CAST(x1 AS HUGEINT) * x1) AS s11,
               SUM(CAST(x2 AS HUGEINT) * x2) AS s22,
               SUM(CAST(x1 AS HUGEINT) * y) AS s1y,
               SUM(CAST(x2 AS HUGEINT) * y) AS s2y,
               SUM(CAST(x1 AS HUGEINT) * x2) AS s12
        FROM pts
    ), c AS (
        SELECT n,
               CAST(n * syy - sy * CAST(sy AS HUGEINT) AS DOUBLE) AS cyy,
               CAST(n * s11 - s1 * CAST(s1 AS HUGEINT) AS DOUBLE) AS c11,
               CAST(n * s22 - s2 * CAST(s2 AS HUGEINT) AS DOUBLE) AS c22,
               CAST(n * s1y - s1 * CAST(sy AS HUGEINT) AS DOUBLE) AS c1y,
               CAST(n * s2y - s2 * CAST(sy AS HUGEINT) AS DOUBLE) AS c2y,
               CAST(n * s12 - s1 * CAST(s2 AS HUGEINT) AS DOUBLE) AS c12
        FROM mom
    ), ssr AS (
        SELECT n,
               cyy - c1y * c1y / c11 AS ssr_r,
               cyy - ((c22 * c1y - c12 * c2y) * c1y
                      + (c11 * c2y - c12 * c1y) * c2y)
                     / (c11 * c22 - c12 * c12) AS ssr_u
        FROM c
    )
    SELECT n AS n_days,
           ROUND((ssr_r - ssr_u) / (ssr_u / (n - 3)), 6) AS granger_f,
           CAST(CASE WHEN (ssr_r - ssr_u) / (ssr_u / (n - 3)) > 6.8510
                     THEN 1 ELSE 0 END AS BIGINT) AS causal_at_99
    FROM ssr
    """,
)
def granger_views_to_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger lag-1 causality: does yesterday's VIEW count predict
    today's PURCHASE count beyond yesterday's purchase count? F-test of
    the restricted AR(1) against the unrestricted 2-regressor model,
    SSR via closed-form 2×2 normal equations, against F(1,∞) 99% =
    6.8510. The direction-of-lead test that `cross_correlation_types`
    (symmetric lagged correlation) can't give — Granger conditions on
    the target's OWN history.

    Determinism: daily counts are exact; all 10 moment sums are exact
    128-bit integers; the centered moments clear denominators
    (n·Σxy − ΣxΣy), so both SSRs are fixed double expressions over
    exact integers (note SSRs carry a common n scale that cancels in
    F); one round(6).

    Scale shape: fact → |days| conditional hash agg; one lag window
    and one census over the tiny day relation.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(epoch_day("ts").alias("day"), "event_type")
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("p"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("v"),
        )
    )
    wd = Window.orderBy("day")
    pts = (
        daily.select(
            F.col("p").alias("y"),
            F.lag("p").over(wd).alias("x1"),
            F.lag("v").over(wd).alias("x2"),
        )
        .where(F.col("x1").isNotNull())
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum(dec("y") * dec("y")).alias("syy"),
        F.sum(dec("x1") * dec("x1")).alias("s11"),
        F.sum(dec("x2") * dec("x2")).alias("s22"),
        F.sum(dec("x1") * dec("y")).alias("s1y"),
        F.sum(dec("x2") * dec("y")).alias("s2y"),
        F.sum(dec("x1") * dec("x2")).alias("s12"),
    )

    def cen(sab, sa, sb):
        return (
            dec("n") * F.col(sab) - dec(sa) * dec(sb)
        ).cast("double")

    c = mom.select(
        "n",
        cen("syy", "sy", "sy").alias("cyy"),
        cen("s11", "s1", "s1").alias("c11"),
        cen("s22", "s2", "s2").alias("c22"),
        cen("s1y", "s1", "sy").alias("c1y"),
        cen("s2y", "s2", "sy").alias("c2y"),
        cen("s12", "s1", "s2").alias("c12"),
    )
    ssr_r = F.col("cyy") - F.col("c1y") * F.col("c1y") / F.col("c11")
    det = F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")
    ssr_u = F.col("cyy") - (
        (F.col("c22") * F.col("c1y") - F.col("c12") * F.col("c2y"))
        * F.col("c1y")
        + (F.col("c11") * F.col("c2y") - F.col("c12") * F.col("c1y"))
        * F.col("c2y")
    ) / det
    f_stat = (ssr_r - ssr_u) / (ssr_u / (F.col("n") - 3))
    return c.select(
        F.col("n").alias("n_days"),
        F.round(f_stat, 6).alias("granger_f"),
        F.when(f_stat > 6.8510, 1)
        .otherwise(0)
        .cast("long")
        .alias("causal_at_99"),
    )


@query(
    "gumbel_daily_max_fit",
    oracle="""
    WITH blocks AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(MAX(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                   AS mx
        FROM events GROUP BY day
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(mx) AS BIGINT) AS s,
               SUM(CAST(mx AS HUGEINT) * mx) AS ss
        FROM blocks
    ), fit AS (
        SELECT n,
               CAST(s AS DOUBLE) / n AS mean_mx,
               sqrt(CAST(n * ss - s * CAST(s AS HUGEINT) AS DOUBLE)
                    / CAST(n AS DOUBLE) / (n - 1)) * sqrt(6.0) / pi()
                   AS beta
        FROM mom
    )
    SELECT n AS n_blocks,
           ROUND((mean_mx - 0.5772156649015329 * beta) / 100.0, 4)
               AS gumbel_mu_dollars,
           ROUND(beta / 100.0, 4) AS gumbel_beta_dollars,
           ROUND(((mean_mx - 0.5772156649015329 * beta)
                  - beta * ln(-ln(1.0 - 1.0 / 30.0))) / 100.0, 4)
               AS return_level_30_dollars
    FROM fit
    """,
)
def gumbel_daily_max_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit on DAILY BLOCK MAXIMA of single-event
    value — the block-maxima (GEV type-I) counterpart of
    `extreme_value_pot` (peaks-over-threshold/GPD): method-of-moments
    β̂ = s√6/π, μ̂ = x̄ − γβ̂ (Euler-Mascheroni γ), and the 30-block
    return level μ − β·ln(−ln(1−1/30)) — "the worst single event
    you should expect in a month".

    Determinism: per-day maxima are exact cents; (n, Σ, Σ²) are exact
    with the square sum in 128-bit; μ/β/return level are fixed double
    expressions over them, rounded to 4 in dollars.

    Scale shape: fact → |days| max-agg (map-side combined) → 1-row
    census. Block maxima never materialize more than the day relation.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    blocks = (
        ev.select(
            epoch_day("ts").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("day")
        .agg(F.max("c").cast("long").alias("mx"))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mom = blocks.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("mx").cast("long").alias("s"),
        F.sum(dec("mx") * dec("mx")).alias("ss"),
    )
    beta = (
        F.sqrt(
            (dec("n") * F.col("ss") - dec("s") * dec("s")).cast("double")
            / F.col("n").cast("double")
            / (F.col("n") - 1)
        )
        * F.sqrt(F.lit(6.0))
        / F.lit(3.141592653589793)
    )
    mean_mx = F.col("s").cast("double") / F.col("n")
    mu = mean_mx - 0.5772156649015329 * beta
    return mom.select(
        F.col("n").alias("n_blocks"),
        F.round(mu / 100.0, 4).alias("gumbel_mu_dollars"),
        F.round(beta / 100.0, 4).alias("gumbel_beta_dollars"),
        F.round(
            (mu - beta * F.log(-F.log(F.lit(1.0 - 1.0 / 30.0)))) / 100.0, 4
        ).alias("return_level_30_dollars"),
    )


# ---------------------------------------------------------------------------
# wave 169: Jarque-Bera normality test, Grubbs max-deviation outlier test
# ---------------------------------------------------------------------------


@query(
    "jarque_bera_order_values",
    oracle="""
    WITH c AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS HUGEINT) AS s1,
               SUM(CAST(v AS HUGEINT) * v) AS s2,
               SUM(CAST(v AS HUGEINT) * v * v) AS s3,
               SUM(CAST(v AS HUGEINT) * v * v * v) AS s4
        FROM c
    ), m AS (
        SELECT n,
               CAST(s1 AS DOUBLE) / n AS mu,
               CAST(s2 AS DOUBLE) / n AS r2,
               CAST(s3 AS DOUBLE) / n AS r3,
               CAST(s4 AS DOUBLE) / n AS r4
        FROM mom
    ), cm AS (
        SELECT n,
               r2 - mu * mu AS m2,
               r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3,
               r4 - 4 * mu * r3 + 6 * mu * mu * r2
                  - 3 * mu * mu * mu * mu AS m4
        FROM m
    ), g AS (
        SELECT n,
               m3 / pow(m2, 1.5) AS skew,
               m4 / (m2 * m2) - 3.0 AS exkurt
        FROM cm
    )
    SELECT n AS n_orders,
           ROUND(skew, 6) AS skewness,
           ROUND(exkurt, 6) AS excess_kurtosis,
           ROUND(n / 6.0 * (skew * skew + exkurt * exkurt / 4.0), 4) AS jb_stat,
           CAST(CASE WHEN n / 6.0 * (skew * skew + exkurt * exkurt / 4.0)
                          > 9.21034 THEN 1 ELSE 0 END AS BIGINT)
               AS non_normal_at_99
    FROM g
    """,
)
def jarque_bera_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on order values: JB = n/6·(g₁² + g₂²/4)
    from population skewness g₁ = m₃/m₂^1.5 and excess kurtosis
    g₂ = m₄/m₂² − 3, against χ²(2) 99% = 9.21034. The omnibus
    moment-based normality check that `lognormal_fit_gof` (which fits)
    and `stats_moments_lineitem` (which profiles) don't perform.

    Determinism: values are exact cents; the four raw power sums are
    exact 128-bit integers (cents ≲ 5·10⁷ so Σv⁴ ≲ 10³⁵ fits both
    HUGEINT and decimal(38,0)); central moments and JB are fixed double
    expressions over them, identical term order on both engines.

    Scale shape: one streaming census with map-side partials — four
    power sums, no second pass, no sort. At 100 TB this is the cheapest
    possible full-scan statistic.
    """
    o = load_table(spark, sf_dir, "orders")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    c = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("v"))
    mom = c.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("v")).alias("s1"),
        F.sum(dec("v") * dec("v")).alias("s2"),
        F.sum(dec("v") * dec("v") * dec("v")).alias("s3"),
        F.sum(dec("v") * dec("v") * dec("v") * dec("v")).alias("s4"),
    )
    m = mom.select(
        "n",
        (F.col("s1").cast("double") / F.col("n")).alias("mu"),
        (F.col("s2").cast("double") / F.col("n")).alias("r2"),
        (F.col("s3").cast("double") / F.col("n")).alias("r3"),
        (F.col("s4").cast("double") / F.col("n")).alias("r4"),
    )
    mu = F.col("mu")
    cm = m.select(
        "n",
        (F.col("r2") - mu * mu).alias("m2"),
        (F.col("r3") - 3 * mu * F.col("r2") + 2 * mu * mu * mu).alias("m3"),
        (
            F.col("r4")
            - 4 * mu * F.col("r3")
            + 6 * mu * mu * F.col("r2")
            - 3 * mu * mu * mu * mu
        ).alias("m4"),
    )
    g = cm.select(
        "n",
        (F.col("m3") / F.pow(F.col("m2"), F.lit(1.5))).alias("skew"),
        (F.col("m4") / (F.col("m2") * F.col("m2")) - 3.0).alias("exkurt"),
    )
    jb = F.col("n") / 6.0 * (
        F.col("skew") * F.col("skew")
        + F.col("exkurt") * F.col("exkurt") / 4.0
    )
    return g.select(
        F.col("n").alias("n_orders"),
        F.round(F.col("skew"), 6).alias("skewness"),
        F.round(F.col("exkurt"), 6).alias("excess_kurtosis"),
        F.round(jb, 4).alias("jb_stat"),
        F.when(jb > 9.21034, 1).otherwise(0).cast("long").alias("non_normal_at_99"),
    )


@query(
    "grubbs_daily_revenue_outlier",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM orders GROUP BY day
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rev) AS BIGINT) AS s1,
               SUM(CAST(rev AS HUGEINT) * rev) AS s2,
               CAST(MAX(rev) AS BIGINT) AS mx,
               CAST(MIN(rev) AS BIGINT) AS mn
        FROM daily
    ), st AS (
        SELECT n, mx, mn,
               CAST(s1 AS DOUBLE) / n AS mu,
               sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                     * (CAST(s1 AS DOUBLE) / n)) / (n - 1)) AS sd
        FROM mom
    )
    SELECT n AS n_days,
           ROUND((mx - mu) / sd, 6) AS g_max,
           ROUND((mu - mn) / sd, 6) AS g_min,
           CAST(CASE WHEN (mx - mu) / sd > 3.5 OR (mu - mn) / sd > 3.5
                     THEN 1 ELSE 0 END AS BIGINT) AS outlier_flag
    FROM st
    """,
)
def grubbs_daily_revenue_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs extreme-deviation test on daily revenue: G = max|xᵢ−x̄|/s
    evaluated at both tails, flagged against the asymptotic 3.5 critical
    value (two-sided α≈0.05 for n≈100 blocks; exact critical needs a
    t-quantile — documented approximation). Complements
    `hampel_filter_daily` (rolling local outliers) with the single
    global most-discordant-day test.

    Determinism: daily revenues are exact cent sums; (n, Σ, Σ², max,
    min) exact with the square sum 128-bit; G expressions are fixed
    doubles over them, one round(6).

    Scale shape: fact → |days| hash agg (map-side combined) → 1-row
    census carrying five scalars. No sort, no window.
    """
    o = load_table(spark, sf_dir, "orders")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    daily = (
        o.select(
            epoch_day("o_orderdate").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("long").alias("rev"))
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rev").cast("long").alias("s1"),
        F.sum(dec("rev") * dec("rev")).alias("s2"),
        F.max("rev").cast("long").alias("mx"),
        F.min("rev").cast("long").alias("mn"),
    )
    st = mom.select(
        "n",
        "mx",
        "mn",
        (F.col("s1").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double")
                * (F.col("s1").cast("double") / F.col("n"))
            )
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    g_max = (F.col("mx") - F.col("mu")) / F.col("sd")
    g_min = (F.col("mu") - F.col("mn")) / F.col("sd")
    return st.select(
        F.col("n").alias("n_days"),
        F.round(g_max, 6).alias("g_max"),
        F.round(g_min, 6).alias("g_min"),
        F.when((g_max > 3.5) | (g_min > 3.5), 1)
        .otherwise(0)
        .cast("long")
        .alias("outlier_flag"),
    )


# ---------------------------------------------------------------------------
# wave 170: maximum drawdown, Bollinger band breach census
# ---------------------------------------------------------------------------


@query(
    "max_drawdown_daily_value",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY day
    ), peaks AS (
        SELECT day, v,
               CAST(MAX(v) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS peak
        FROM daily
    ), dd AS (
        SELECT day, v, peak,
               CAST(ROUND((peak - v) * 1000000.0 / peak) AS BIGINT) AS dd_ppm
        FROM peaks WHERE peak > 0
    ), best AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               MAX(struct_pack(dd_ppm := dd_ppm, day := day)) AS b
        FROM dd
    )
    SELECT n_days,
           b.dd_ppm AS max_drawdown_ppm,
           b.day AS trough_day
    FROM best
    """,
)
def max_drawdown_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the daily event-value series: running peak
    via an expanding-max window, drawdown (peak−v)/peak in exact ppm,
    and the trough day via a lexicographic struct-max census (ties →
    latest day) — the argmax-without-a-sort pattern of
    `cheapest_supplier_per_part` applied to a time series. The
    risk-curve statistic that `cusum_changepoint_daily` (mean shift)
    and `hampel_filter_daily` (local spikes) don't measure.

    Determinism: daily values are exact cent sums; the running peak is
    an integer max; drawdown is fixed-point ppm (round of an exact
    integer ratio scaled by 1e6 — both engines divide the same two
    BIGINTs); struct-max carries a total (dd_ppm, day) order.

    Scale shape: fact → |days| hash agg; ONE window over the tiny day
    relation (single partition is fine at |days| ≈ hundreds — document
    the year-range repartition for multi-decade series); 1-row census.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            epoch_day("ts").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("long").alias("v"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    dd = (
        daily.withColumn("peak", F.max("v").over(w).cast("long"))
        .where(F.col("peak") > 0)
        .select(
            "day",
            F.round((F.col("peak") - F.col("v")) * 1000000.0 / F.col("peak"))
            .cast("long")
            .alias("dd_ppm"),
        )
    )
    best = dd.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.max(F.struct(F.col("dd_ppm"), F.col("day"))).alias("b"),
    )
    return best.select(
        "n_days",
        F.col("b.dd_ppm").alias("max_drawdown_ppm"),
        F.col("b.day").alias("trough_day"),
    )


@query(
    "bollinger_breach_census",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY day
    ), roll AS (
        SELECT day, v,
               CAST(COUNT(*) OVER w AS BIGINT) AS k,
               CAST(SUM(v) OVER w AS BIGINT) AS s1,
               SUM(CAST(v AS HUGEINT) * v) OVER w AS s2
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    ), bands AS (
        SELECT day, v,
               CAST(s1 AS DOUBLE) / k AS mu,
               sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                     * (CAST(s1 AS DOUBLE) / k)) / (k - 1)) AS sd
        FROM roll WHERE k = 20
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days_evaluated,
           CAST(SUM(CASE WHEN v > mu + 2 * sd THEN 1 ELSE 0 END) AS BIGINT)
               AS n_breach_upper,
           CAST(SUM(CASE WHEN v < mu - 2 * sd THEN 1 ELSE 0 END) AS BIGINT)
               AS n_breach_lower
    FROM bands
    """,
)
def bollinger_breach_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breach census: trailing 20-day mean ± 2σ bands on
    daily event value, counting upper/lower breaches over fully-formed
    windows only. The volatility-banded complement of
    `ewma_user_value` (exponential smoothing) and `p_chart_weekly_*`
    (proportion control limits) — here the limits are rolling sample
    moments of the metric itself.

    Determinism: rolling Σ and Σ² are EXACT integers (cents; squares in
    128-bit — a 10⁹-cent day squares to 10¹⁸, past BIGINT at 20-day
    sums, hence decimal(38,0)/HUGEINT); μ/σ/band tests are fixed double
    expressions over them, identical trees both engines, so even
    boundary comparisons agree bit-for-bit.

    Scale shape: fact → |days| hash agg, one window with two
    accumulating frame sums over the day relation, then a census. No
    per-day sort beyond the single window order.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    daily = (
        ev.select(
            epoch_day("ts").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("long").alias("v"))
    )
    w = Window.orderBy("day").rowsBetween(-19, 0)
    roll = daily.select(
        "day",
        "v",
        F.count(F.lit(1)).over(w).cast("long").alias("k"),
        F.sum("v").over(w).cast("long").alias("s1"),
        F.sum(dec("v") * dec("v")).over(w).alias("s2"),
    ).where(F.col("k") == 20)
    mu = F.col("s1").cast("double") / F.col("k")
    sd = F.sqrt(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * (F.col("s1").cast("double") / F.col("k"))
        )
        / (F.col("k") - 1)
    )
    bands = roll.select("day", "v", mu.alias("mu"), sd.alias("sd"))
    return bands.agg(
        F.count(F.lit(1)).cast("long").alias("n_days_evaluated"),
        F.sum(
            F.when(F.col("v") > F.col("mu") + 2 * F.col("sd"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_breach_upper"),
        F.sum(
            F.when(F.col("v") < F.col("mu") - 2 * F.col("sd"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_breach_lower"),
    )


# ---------------------------------------------------------------------------
# wave 171: Dickey-Fuller unit-root test, Cochran-Armitage trend test
# ---------------------------------------------------------------------------


@query(
    "dickey_fuller_daily_value",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY day
    ), pairs AS (
        SELECT v - LAG(v) OVER (ORDER BY day) AS d,
               LAG(v) OVER (ORDER BY day) AS x
        FROM daily
    ), pts AS (SELECT d, x FROM pairs WHERE x IS NOT NULL
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx,
               CAST(SUM(d) AS HUGEINT) AS sd,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(x AS HUGEINT) * d) AS sxd,
               SUM(CAST(d AS HUGEINT) * d) AS sdd
        FROM pts
    ), c AS (
        SELECT n,
               CAST(n * sxx - sx * sx AS DOUBLE) AS cxx,
               CAST(n * sxd - sx * sd AS DOUBLE) AS cxd,
               CAST(n * sdd - sd * sd AS DOUBLE) AS cdd
        FROM mom
    )
    SELECT n AS n_obs,
           ROUND(cxd / cxx, 6) AS rho_hat,
           ROUND(cxd * sqrt((n - 2) / (cxx * cdd - cxd * cxd)), 4)
               AS df_t_stat,
           CAST(CASE WHEN cxd * sqrt((n - 2) / (cxx * cdd - cxd * cxd))
                          < -3.43 THEN 1 ELSE 0 END AS BIGINT)
               AS stationary_at_99
    FROM c
    """,
)
def dickey_fuller_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test (lag-0, with drift) on daily event
    value: regress Δvₜ on vₜ₋₁, t-statistic of ρ̂ against the -3.43
    asymptotic 1% critical value. The unit-root complement of
    `kpss_stationarity_daily` — DF's null is NON-stationarity, KPSS's
    null is stationarity, so running both gives the standard 4-quadrant
    integration diagnosis.

    Determinism: daily values exact cents; Δ and lag are integer; all
    five moment sums exact 128-bit; ρ̂ and t collapse to fixed double
    expressions over centered moments via
    t = Cxd·√((n−2)/(Cxx·Cdd − Cxd²)) — denominators cleared, one
    round each.

    Scale shape: fact → |days| hash agg; one lag window and one census
    over the day relation.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    daily = (
        ev.select(
            epoch_day("ts").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("long").alias("v"))
    )
    wd = Window.orderBy("day")
    pts = (
        daily.select(
            (F.col("v") - F.lag("v").over(wd)).alias("d"),
            F.lag("v").over(wd).alias("x"),
        )
        .where(F.col("x").isNotNull())
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("d")).alias("sd"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
        F.sum(dec("x") * dec("d")).alias("sxd"),
        F.sum(dec("d") * dec("d")).alias("sdd"),
    )
    c = mom.select(
        "n",
        (dec("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        .alias("cxx"),
        (dec("n") * F.col("sxd") - F.col("sx") * F.col("sd"))
        .cast("double")
        .alias("cxd"),
        (dec("n") * F.col("sdd") - F.col("sd") * F.col("sd"))
        .cast("double")
        .alias("cdd"),
    )
    t = F.col("cxd") * F.sqrt(
        (F.col("n") - 2)
        / (F.col("cxx") * F.col("cdd") - F.col("cxd") * F.col("cxd"))
    )
    return c.select(
        F.col("n").alias("n_obs"),
        F.round(F.col("cxd") / F.col("cxx"), 6).alias("rho_hat"),
        F.round(t, 4).alias("df_t_stat"),
        F.when(t < -3.43, 1).otherwise(0).cast("long").alias("stationary_at_99"),
    )


@query(
    "cochran_armitage_priority_trend",
    oracle="""
    WITH g AS (
        SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS w,
               CAST(COUNT(*) AS BIGINT) AS ni,
               CAST(SUM(CASE WHEN o_orderstatus = 'F'
                        THEN 1 ELSE 0 END) AS BIGINT) AS ri
        FROM orders GROUP BY w
    ), mom AS (
        SELECT CAST(SUM(ni) AS BIGINT) AS n,
               CAST(SUM(ri) AS BIGINT) AS r,
               CAST(SUM(w * ri) AS BIGINT) AS swr,
               CAST(SUM(w * ni) AS BIGINT) AS swn,
               CAST(SUM(w * w * ni) AS BIGINT) AS swwn,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM g
    ), z AS (
        SELECT n, r, k,
               CAST(n * swr - r * CAST(swn AS HUGEINT) AS DOUBLE) AS num,
               CAST(r AS DOUBLE) * (n - r)
                   * CAST(n * swwn - swn * CAST(swn AS HUGEINT) AS DOUBLE)
                   / n AS den
        FROM mom
    )
    SELECT n AS n_orders, k AS n_levels,
           ROUND(num * num / den, 4) AS ca_chi2,
           CAST(CASE WHEN num * num / den > 6.6349 THEN 1 ELSE 0 END
                AS BIGINT) AS trend_at_99
    FROM z
    """,
)
def cochran_armitage_priority_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: is the share of FINISHED orders
    monotonically associated with the ordered priority level (scores
    1-URGENT … 5-LOW)? χ²(1) trend statistic
    z² = n·(n·Σwᵢrᵢ − R·Σwᵢnᵢ)² / (R(n−R)(n·Σwᵢ²nᵢ − (Σwᵢnᵢ)²)),
    flagged at the 99% critical 6.6349. The ORDERED-alternative
    refinement of `anova_f_order_priority` / `chi2_drift_events`, which
    treat levels as unordered.

    Determinism: the 5-level contingency margins are exact integers;
    every moment is an exact sum (widest product n·swwn ≲ 10¹² — still,
    128-bit kept for headroom); z² is one fixed double expression,
    rounded once.

    Scale shape: fact → 5-row hash agg with map-side partials → 1-row
    census. Nothing but counters crosses the shuffle.
    """
    o = load_table(spark, sf_dir, "orders")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    g = (
        o.select(
            F.substring("o_orderpriority", 1, 1).cast("long").alias("w"),
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("f"),
        )
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ni"),
            F.sum("f").cast("long").alias("ri"),
        )
    )
    mom = g.agg(
        F.sum("ni").cast("long").alias("n"),
        F.sum("ri").cast("long").alias("r"),
        F.sum(F.col("w") * F.col("ri")).cast("long").alias("swr"),
        F.sum(F.col("w") * F.col("ni")).cast("long").alias("swn"),
        F.sum(F.col("w") * F.col("w") * F.col("ni")).cast("long").alias("swwn"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    z = mom.select(
        "n",
        "r",
        "k",
        (dec("n") * dec("swr") - dec("r") * dec("swn"))
        .cast("double")
        .alias("num"),
        (
            F.col("r").cast("double")
            * (F.col("n") - F.col("r"))
            * (dec("n") * dec("swwn") - dec("swn") * dec("swn")).cast("double")
            / F.col("n")
        ).alias("den"),
    )
    chi2 = F.col("num") * F.col("num") / F.col("den")
    return z.select(
        F.col("n").alias("n_orders"),
        F.col("k").alias("n_levels"),
        F.round(chi2, 4).alias("ca_chi2"),
        F.when(chi2 > 6.6349, 1).otherwise(0).cast("long").alias("trend_at_99"),
    )


# ---------------------------------------------------------------------------
# wave 172: logistic regression via IRLS, histogram decision stump
# ---------------------------------------------------------------------------


@query(
    "logistic_irls_status_price",
    oracle="""
    WITH pts AS (
        SELECT ln(o_totalprice) AS x,
               CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y
        FROM orders WHERE o_totalprice > 0
    ), f1 AS (
        -- Newton step from beta=(0,0): p=1/2, w=1/4, z=4y-2 -> plain OLS
        SELECT (SUM(x*(4*y-2)) - SUM(x)*SUM(4*y-2)/COUNT(*))
               / (SUM(x*x) - SUM(x)*SUM(x)/COUNT(*)) AS b,
               SUM(4*y-2)/COUNT(*)
               - (SUM(x*(4*y-2)) - SUM(x)*SUM(4*y-2)/COUNT(*))
                 / (SUM(x*x) - SUM(x)*SUM(x)/COUNT(*))
                 * SUM(x)/COUNT(*) AS a
        FROM pts
    ), w2 AS (
        SELECT x, y,
               1.0/(1.0+exp(-(a+b*x)))
                   * (1.0 - 1.0/(1.0+exp(-(a+b*x)))) AS w,
               (a+b*x) + (y - 1.0/(1.0+exp(-(a+b*x))))
                   / (1.0/(1.0+exp(-(a+b*x)))
                      * (1.0 - 1.0/(1.0+exp(-(a+b*x))))) AS z
        FROM pts, f1
    ), f2 AS (
        SELECT (SUM(w*x*z) - SUM(w*x)*SUM(w*z)/SUM(w))
               / (SUM(w*x*x) - SUM(w*x)*SUM(w*x)/SUM(w)) AS b,
               SUM(w*z)/SUM(w)
               - (SUM(w*x*z) - SUM(w*x)*SUM(w*z)/SUM(w))
                 / (SUM(w*x*x) - SUM(w*x)*SUM(w*x)/SUM(w))
                 * SUM(w*x)/SUM(w) AS a
        FROM w2
    ), ll AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               -AVG(y * ln(1.0/(1.0+exp(-(a+b*x))))
                    + (1.0-y) * ln(1.0 - 1.0/(1.0+exp(-(a+b*x))))) AS loss
        FROM pts, f2
    )
    SELECT n AS n_orders,
           ROUND(f2.a, 4) AS beta0, ROUND(f2.b, 4) AS beta1,
           ROUND(ll.loss, 4) AS log_loss
    FROM f2, ll
    """,
)
def logistic_irls_status_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression of FINISHED-status on ln(order value) by
    iteratively reweighted least squares — two fixed Newton steps from
    β=(0,0) (the first collapses to plain OLS of 4y−2 on x because
    p≡½ ⇒ w≡¼), plus the final mean log-loss. The GLM counterpart of
    `huber_irls_regression` (same fixed-iteration WLS skeleton, logit
    link instead of Huber weights); `auc_order_status_price` ranks the
    same signal, this fits its calibrated model.

    Determinism: follows the repo's IRLS precedent — double sums with
    identical expression trees on both engines, one round(4) per
    coefficient (summation-order ulps sit ~10 digits below the
    rounding grid).

    Scale shape: three full-scan weighted-moment censuses (one per
    Newton step + loss), each a streaming agg with map-side partials;
    the 1-row coefficient relations broadcast back in-row. No shuffle
    beyond 1-row exchanges.
    """
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    pts = o.select(
        F.log(F.col("o_totalprice")).alias("x"),
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("y"),
    )
    zc = 4 * F.col("y") - 2
    n = F.count(F.lit(1))
    f1 = pts.agg(
        (
            (F.sum(F.col("x") * zc) - F.sum("x") * F.sum(zc) / n)
            / (F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x") / n)
        ).alias("b"),
        (
            F.sum(zc) / n
            - (F.sum(F.col("x") * zc) - F.sum("x") * F.sum(zc) / n)
            / (F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x") / n)
            * F.sum("x")
            / n
        ).alias("a"),
    )
    eta = F.col("a") + F.col("b") * F.col("x")
    p = 1.0 / (1.0 + F.exp(-eta))
    w = p * (1.0 - p)
    z = eta + (F.col("y") - p) / w
    w2 = pts.crossJoin(F.broadcast(f1)).select(
        "x", "y", w.alias("w"), z.alias("z")
    )
    sw = F.sum("w")
    swx = F.sum(F.col("w") * F.col("x"))
    swz = F.sum(F.col("w") * F.col("z"))
    swxz = F.sum(F.col("w") * F.col("x") * F.col("z"))
    swxx = F.sum(F.col("w") * F.col("x") * F.col("x"))
    slope = (swxz - swx * swz / sw) / (swxx - swx * swx / sw)
    f2 = w2.agg(
        slope.alias("b"), (swz / sw - slope * swx / sw).alias("a")
    )
    f2 = _ckpt(f2)  # shared fan-out relation
    ll = pts.crossJoin(F.broadcast(f2)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            -F.avg(
                F.col("y") * F.log(1.0 / (1.0 + F.exp(-eta)))
                + (1.0 - F.col("y"))
                * F.log(1.0 - 1.0 / (1.0 + F.exp(-eta)))
            )
        ).alias("loss"),
    )
    return ll.crossJoin(F.broadcast(f2)).select(
        F.col("n").alias("n_orders"),
        F.round(F.col("a"), 4).alias("beta0"),
        F.round(F.col("b"), 4).alias("beta1"),
        F.round(F.col("loss"), 4).alias("log_loss"),
    )


@query(
    "decision_stump_price_returnflag",
    oracle="""
    WITH pts AS (
        SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) // 200000 AS bin,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
        FROM lineitem
    ), bins AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM pts GROUP BY bin
    ), cum AS (
        SELECT bin,
               CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cl,
               CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS pl,
               CAST(SUM(cnt) OVER () AS BIGINT) AS n,
               CAST(SUM(pos) OVER () AS BIGINT) AS p
        FROM bins
    ), cand AS (
        SELECT bin, cl, pl, n, p, n - cl AS cr, p - pl AS pr
        FROM cum WHERE cl > 0 AND n - cl > 0
    ), gini AS (
        SELECT bin,
               CAST(((CAST(cl AS HUGEINT)*cl - CAST(pl AS HUGEINT)*pl
                      - CAST(cl-pl AS HUGEINT)*(cl-pl)) * cr
                     + (CAST(cr AS HUGEINT)*cr - CAST(pr AS HUGEINT)*pr
                        - CAST(cr-pr AS HUGEINT)*(cr-pr)) * cl)
                    * 1000000000
                    // (CAST(n AS HUGEINT) * cl * cr) AS BIGINT) AS gini_ppb,
               cl, cr, pl, pr
        FROM cand
    ), best AS (
        SELECT MIN(struct_pack(gini_ppb := gini_ppb, bin := bin)) AS b
        FROM gini
    )
    SELECT CAST((g.bin + 1) * 2000 AS BIGINT) AS split_dollars,
           g.gini_ppb AS split_gini_ppb,
           g.cl AS n_left, g.cr AS n_right,
           g.pl AS pos_left, g.pr AS pos_right
    FROM gini g, best WHERE g.bin = best.b.bin
    """,
)
def decision_stump_price_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based decision stump (the LightGBM/XGBoost split-finding
    pattern): bin l_extendedprice into fixed $2000 buckets, take per-bin
    (count, positives), turn ONE cumulative window over the tiny bin
    relation into every candidate split's left/right margins, and pick
    the threshold minimizing weighted Gini impurity. Gini is computed in
    EXACT fixed-point: impurity = (A·cr + B·cl)·10⁹ ÷ (n·cl·cr) with
    A = cl²−pl²−(cl−pl)², all 128-bit integer math, then floor-divided —
    so the argmin (lexicographic struct-min with bin tie-break) is
    bit-identical across engines, no float anywhere.

    Scale shape: fact → |bins| hash agg (map-side combined); windows and
    argmin run on the ≤few-hundred-row bin relation. This is exactly why
    histogram split finding wins at 100 TB: candidate evaluation never
    touches the fact table again.
    """
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    pts = li.select(
        (F.round(F.col("l_extendedprice") * 100).cast("long") / F.lit(200000))
        .cast("long")
        .alias("bin"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
    )
    bins = pts.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    wo = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wa = Window.partitionBy()
    cum = bins.select(
        "bin",
        F.sum("cnt").over(wo).cast("long").alias("cl"),
        F.sum("pos").over(wo).cast("long").alias("pl"),
        F.sum("cnt").over(wa).cast("long").alias("n"),
        F.sum("pos").over(wa).cast("long").alias("p"),
    )
    cand = cum.where((F.col("cl") > 0) & (F.col("n") - F.col("cl") > 0)).select(
        "bin",
        "cl",
        "pl",
        "n",
        (F.col("n") - F.col("cl")).alias("cr"),
        (F.col("p") - F.col("pl")).alias("pr"),
    )
    nl = dec("cl")
    nr = dec("cr")
    ppl = dec("pl")
    ppr = dec("pr")
    a_imp = nl * nl - ppl * ppl - (nl - ppl) * (nl - ppl)
    b_imp = nr * nr - ppr * ppr - (nr - ppr) * (nr - ppr)
    gini = cand.select(
        "bin",
        F.floor(
            (a_imp * nr + b_imp * nl)
            * 1000000000
            / (dec("n") * nl * nr)
        )
        .cast("long")
        .alias("gini_ppb"),
        "cl",
        "cr",
        "pl",
        "pr",
    )
    # argmin via a global window on the tiny bin relation keeps the plan
    # single-branch: the fact table is scanned exactly once (pinned in
    # tests/test_plans.py)
    wbest = Window.partitionBy()
    best = gini.withColumn(
        "b", F.min(F.struct(F.col("gini_ppb"), F.col("bin"))).over(wbest)
    )
    return best.where(F.col("bin") == F.col("b.bin")).select(
        ((F.col("bin") + 1) * 2000).cast("long").alias("split_dollars"),
        F.col("gini_ppb").alias("split_gini_ppb"),
        F.col("cl").alias("n_left"),
        F.col("cr").alias("n_right"),
        F.col("pl").alias("pos_left"),
        F.col("pr").alias("pos_right"),
    )


# ---------------------------------------------------------------------------
# wave 173: link prediction (resource-allocation index), harmonic centrality
# ---------------------------------------------------------------------------


@query(
    "link_prediction_resource_alloc",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY u, v HAVING COUNT(*) >= 2
    ), adj AS (
        SELECT u AS s, v AS t FROM edges
        UNION ALL SELECT v AS s, u AS t FROM edges
    ), deg AS (
        SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY s
    ), cand AS (
        SELECT a1.s AS pa, a2.t AS pb,
               CAST(SUM(1000000000000 // d.d) AS BIGINT) AS score_e12,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM adj a1
        JOIN deg d ON d.node = a1.t AND d.d <= 50
        JOIN adj a2 ON a2.s = a1.t AND a1.s < a2.t
        GROUP BY pa, pb
    ), nonedges AS (
        SELECT c.* FROM cand c
        ANTI JOIN edges e ON e.u = c.pa AND e.v = c.pb
    )
    SELECT pa AS part_a, pb AS part_b, score_e12, n_common
    FROM nonedges
    ORDER BY score_e12 DESC, pa, pb LIMIT 15
    """,
)
def link_prediction_resource_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-purchase graph by the
    Resource-Allocation index: for each NON-adjacent pair (a,b), score
    Σ_z 1/deg(z) over common neighbors z — the Zhou-Lü-Zhang index that
    outperforms plain common-neighbor counts by discounting hubs. Each
    term is EXACT fixed-point (10¹² ÷ deg, integer floor division) so
    the per-pair sum is a bit-identical BIGINT on both engines — no
    float summation-order hazard in the ranking key. Completes the
    graph suite (pagerank/HITS rank nodes, triangles measure closure;
    this predicts the next edge, i.e. 'customers also bought').

    Scale shape: the wedge join fans out deg(z)² per shared vertex, so
    intermediaries are capped at deg ≤ 50 (the standard hot-hub guard,
    same role as the stop-shingle cap in n-gram dedup — documented
    semantics, applied identically on both engines); candidates shuffle
    as bare (a, b, term) triples; existing edges leave via broadcast
    anti-join; global top-15 is TakeOrderedAndProject.
    """
    from pyspark_movie_recommender_spark.operators.graph import copurchase_pairs

    li = load_table(spark, sf_dir, "lineitem")
    # round 9: basket census (one fact exchange) replaces the items
    # self-join — see operators/graph.copurchase_pairs. The edges feed
    # adj three times (degrees, both wedge sides) and the anti-join, so
    # they are materialized once rather than re-running the census per
    # consumer.
    edges = copurchase_pairs(li, min_support=2).select("u", "v").transform(_ckpt)
    adj = edges.select(F.col("u").alias("s"), F.col("v").alias("t")).unionAll(
        edges.select(F.col("v").alias("s"), F.col("u").alias("t"))
    )
    deg = adj.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    a1 = adj.alias("a1")
    a2 = adj.alias("a2")
    cand = (
        a1.join(
            deg.where(F.col("d") <= 50).alias("dg"),
            F.col("dg.node") == F.col("a1.t"),
        )
        .join(a2, (F.col("a2.s") == F.col("a1.t")) & (F.col("a1.s") < F.col("a2.t")))
        .groupBy(F.col("a1.s").alias("pa"), F.col("a2.t").alias("pb"))
        .agg(
            F.sum(F.floor(F.lit(1000000000000) / F.col("dg.d")))
            .cast("long")
            .alias("score_e12"),
            F.count(F.lit(1)).cast("long").alias("n_common"),
        )
    )
    nonedges = cand.join(
        edges,
        (F.col("u") == F.col("pa")) & (F.col("v") == F.col("pb")),
        "left_anti",
    )
    return (
        nonedges.select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            "score_e12",
            "n_common",
        )
        .orderBy(F.col("score_e12").desc(), "part_a", "part_b")
        .limit(15)
    )


@query(
    "harmonic_centrality_radius2",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), edges AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY u, v HAVING COUNT(*) >= 2
    ), adj AS (
        SELECT u AS s, v AS t FROM edges
        UNION ALL SELECT v AS s, u AS t FROM edges
    ), deg AS (
        SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS n1 FROM adj GROUP BY s
    ), two_hop AS (
        SELECT DISTINCT a1.s AS s, a2.t AS t
        FROM adj a1 JOIN adj a2 ON a2.s = a1.t
        WHERE a2.t <> a1.s
    ), strict2 AS (
        SELECT th.s, th.t FROM two_hop th
        ANTI JOIN adj a ON a.s = th.s AND a.t = th.t
    ), n2c AS (
        SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS n2 FROM strict2 GROUP BY s
    )
    SELECT d.node AS part, d.n1,
           CAST(COALESCE(n2c.n2, 0) AS BIGINT) AS n2,
           CAST(2 * d.n1 + COALESCE(n2c.n2, 0) AS BIGINT) AS harmonic_2x
    FROM deg d LEFT JOIN n2c ON n2c.node = d.node
    ORDER BY harmonic_2x DESC, part LIMIT 15
    """,
)
def harmonic_centrality_radius2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-2 harmonic centrality on the co-purchase graph:
    score = Σ_{dist(a,x)≤2} 1/dist = n₁ + n₂/2, reported ×2 so it stays
    an exact BIGINT (2n₁ + n₂). The local-influence ranking that
    degree alone misses (a low-degree part bridging two dense clusters
    outranks an equal-degree part inside one) — the bounded-radius form
    is the one that scales, since full closeness needs all-pairs BFS.

    Determinism: everything is distinct-counting on integer ids.

    Scale shape: one wedge self-join for the 2-hop set (shuffles bare
    id pairs), distinct, anti-join the 1-hop set, count per source; the
    support-≥2 edge threshold bounds wedge fan-out (degree cap already
    applied at graph construction). Top-15 is TakeOrderedAndProject.
    """
    from pyspark_movie_recommender_spark.operators.graph import copurchase_pairs

    li = load_table(spark, sf_dir, "lineitem")
    # round 9: basket census (one fact exchange) replaces the items
    # self-join — see operators/graph.copurchase_pairs. adj is read four
    # times (degrees, both wedge sides, the anti-join), so the edges are
    # materialized once rather than re-running the census per consumer.
    edges = copurchase_pairs(li, min_support=2).select("u", "v").transform(_ckpt)
    adj = edges.select(F.col("u").alias("s"), F.col("v").alias("t")).unionAll(
        edges.select(F.col("v").alias("s"), F.col("u").alias("t"))
    )
    deg = adj.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("n1")
    )
    a1 = adj.alias("a1")
    a2 = adj.alias("a2")
    two_hop = (
        a1.join(a2, F.col("a2.s") == F.col("a1.t"))
        .where(F.col("a2.t") != F.col("a1.s"))
        .select(F.col("a1.s").alias("s"), F.col("a2.t").alias("t"))
        .distinct()
    )
    strict2 = two_hop.join(
        adj.select(F.col("s").alias("as_"), F.col("t").alias("at_")),
        (F.col("as_") == F.col("s")) & (F.col("at_") == F.col("t")),
        "left_anti",
    )
    n2c = strict2.groupBy(F.col("s").alias("node2")).agg(
        F.count(F.lit(1)).cast("long").alias("n2_raw")
    )
    out = deg.join(n2c, F.col("node2") == F.col("node"), "left").select(
        F.col("node").alias("part"),
        "n1",
        F.coalesce(F.col("n2_raw"), F.lit(0)).cast("long").alias("n2"),
        (2 * F.col("n1") + F.coalesce(F.col("n2_raw"), F.lit(0)))
        .cast("long")
        .alias("harmonic_2x"),
    )
    return out.orderBy(F.col("harmonic_2x").desc(), "part").limit(15)


# ---------------------------------------------------------------------------
# wave 174: Yule's K lexical richness, MATTR sliding type-token ratio
# ---------------------------------------------------------------------------


@query(
    "yule_k_by_source",
    oracle="""
    WITH toks AS (
        SELECT source,
               unnest(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(lower(trim(text)), '\\s+') END)
                   AS tok
        FROM documents
    ), freq AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS m
        FROM toks GROUP BY source, tok
    ), mom AS (
        SELECT source,
               CAST(SUM(m) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(m * m) AS BIGINT) AS s2
        FROM freq GROUP BY source
    )
    SELECT source, n_tokens, n_types,
           ROUND(10000.0 * (s2 - n_tokens)
                 / (CAST(n_tokens AS DOUBLE) * n_tokens), 4) AS yule_k
    FROM mom
    """,
)
def yule_k_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K characteristic per source: K = 10⁴·(Σm² − N)/N² over the
    token frequency spectrum — the repeat-rate lexical-richness constant
    that, unlike raw type counts (`chao1_vocabulary_estimate`, `heaps_
    law_vocab_growth`), is length-invariant, so sources of different
    volumes compare directly. High K = repetitive/templated text — a
    training-data quality signal alongside `boilerplate_ngram_ratio`.

    Determinism: N, V and Σm² are exact BIGINTs; K is one division,
    rounded once.

    Scale shape: explode → (source, token) hash agg with map-side
    combine → |sources| census. The frequency spectrum never
    materializes wider than the type table.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    freq = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    mom = freq.groupBy("source").agg(
        F.sum("m").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("s2"),
    )
    return mom.select(
        "source",
        "n_tokens",
        "n_types",
        F.round(
            10000.0
            * (F.col("s2") - F.col("n_tokens"))
            / (F.col("n_tokens").cast("double") * F.col("n_tokens")),
            4,
        ).alias("yule_k"),
    )


@query(
    "mattr_sliding_ttr_by_lang",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    ), pos AS (
        SELECT doc_id, lang, len(t) AS n, t[g.i] AS tok, g.i AS p
        FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g
        WHERE len(t) >= 50
    ), gaps AS (
        SELECT doc_id, lang, n, p,
               COALESCE(p - LAG(p) OVER (PARTITION BY doc_id, tok ORDER BY p),
                        1000000000) AS gap
        FROM pos
    ), contrib AS (
        SELECT lang, n,
               GREATEST(0, LEAST(p, n - 49)
                           - GREATEST(GREATEST(1, p - 49), p - gap + 1) + 1)
                   AS c
        FROM gaps
    ), per_lang AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS distinct_sum
        FROM contrib GROUP BY lang
    ), windows AS (
        SELECT lang, CAST(SUM(n - 49) AS BIGINT) AS n_windows
        FROM (SELECT DISTINCT doc_id, lang, n FROM pos) d GROUP BY lang
    )
    SELECT p.lang, w.n_windows, p.distinct_sum,
           ROUND(CAST(p.distinct_sum AS DOUBLE) / (50.0 * w.n_windows), 6)
               AS mattr_50
    FROM per_lang p JOIN windows w ON w.lang = p.lang
    """,
)
def mattr_sliding_ttr_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR-50 (moving-average type-token ratio, Covington-McFall) per
    language: mean distinct-token count over every 50-token sliding
    window, ratioed to 50. Computed WITHOUT per-window set
    materialization via the gap decomposition: a position p is 'first
    in window' for exactly
    max(0, min(p, n−49) − max(max(1, p−49), p−gap+1) + 1) window
    starts, where gap is the distance to the token's previous
    occurrence — so Σ window-distincts = Σ per-position counts, one
    lag window per (doc, token). The length-robust richness metric
    that plain TTR (`effective_vocab_size`) lacks; pairs with
    `yule_k_by_source` (frequency-spectrum view).

    Determinism: every contribution is an exact integer; one final
    division, rounded.

    Scale shape: explode with position → one lag window partitioned by
    (doc, token) — co-partitioned with the explode's natural layout —
    → per-lang census. Nothing quadratic in window size; the 50-window
    never exists as data.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", ws_tokens(F.lower(F.col("text"))).alias("t")
    ).where(F.size("t") >= 50)
    pos = toks.select(
        "doc_id",
        "lang",
        F.size("t").alias("n"),
        F.posexplode("t").alias("p0", "tok"),
    ).select("doc_id", "lang", "n", (F.col("p0") + 1).alias("p"), "tok")
    wg = Window.partitionBy("doc_id", "tok").orderBy("p")
    gaps = pos.select(
        "lang",
        "n",
        "p",
        F.coalesce(F.col("p") - F.lag("p").over(wg), F.lit(1000000000)).alias(
            "gap"
        ),
    )
    c = F.greatest(
        F.lit(0),
        F.least(F.col("p"), F.col("n") - 49)
        - F.greatest(
            F.greatest(F.lit(1), F.col("p") - 49), F.col("p") - F.col("gap") + 1
        )
        + 1,
    )
    per_lang = gaps.select("lang", c.alias("c")).groupBy("lang").agg(
        F.sum("c").cast("long").alias("distinct_sum")
    )
    windows = (
        pos.select("doc_id", "lang", "n")
        .distinct()
        .groupBy("lang")
        .agg(F.sum(F.col("n") - 49).cast("long").alias("n_windows"))
    )
    return per_lang.join(windows, "lang").select(
        "lang",
        "n_windows",
        "distinct_sum",
        F.round(
            F.col("distinct_sum").cast("double") / (50.0 * F.col("n_windows")), 6
        ).alias("mattr_50"),
    )


# ---------------------------------------------------------------------------
# wave 175: Wilcoxon signed-rank test, Mood's median test
# ---------------------------------------------------------------------------


@query(
    "wilcoxon_signed_rank_halves",
    oracle="""
    WITH span AS (
        SELECT MIN(epoch_us(o_orderdate)) AS lo, MAX(epoch_us(o_orderdate)) AS hi
        FROM orders
    ), halves AS (
        SELECT o_custkey,
               CAST(SUM(CASE WHEN epoch_us(o_orderdate) * 2 <= lo + hi
                        THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS h1,
               CAST(SUM(CASE WHEN epoch_us(o_orderdate) * 2 > lo + hi
                        THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS h2,
               CAST(SUM(CASE WHEN epoch_us(o_orderdate) * 2 <= lo + hi
                        THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN epoch_us(o_orderdate) * 2 > lo + hi
                        THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM orders, span GROUP BY o_custkey
    ), pairs AS (
        SELECT h2 - h1 AS d, abs(h2 - h1) AS ad
        FROM halves WHERE n1 > 0 AND n2 > 0 AND h2 <> h1
    ), rn AS (
        SELECT d, ad, CAST(ROW_NUMBER() OVER (ORDER BY ad, d) AS BIGINT) AS r
        FROM pairs
    ), dr AS (
        SELECT d, ad,
               CAST(MIN(r) OVER (PARTITION BY ad)
                    + MAX(r) OVER (PARTITION BY ad) AS BIGINT) AS rank2
        FROM rn
    ), ties AS (
        SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM pairs GROUP BY ad)
    ), stat AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN d > 0 THEN rank2 ELSE 0 END) AS BIGINT)
                   AS w2
        FROM dr
    )
    SELECT n AS n_pairs,
           CAST(w2 AS BIGINT) AS wplus_2x,
           ROUND((w2 - n * (n + 1.0) / 2.0)
                 / (2.0 * sqrt(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0
                               - tie3 / 48.0)), 4) AS z_stat,
           CAST(CASE WHEN abs((w2 - n * (n + 1.0) / 2.0)
                 / (2.0 * sqrt(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0
                               - tie3 / 48.0))) > 2.5758 THEN 1 ELSE 0 END
                AS BIGINT) AS shifted_at_99
    FROM stat, ties
    """,
)
def wilcoxon_signed_rank_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test: did per-customer spend SHIFT between
    the first and second half of the observation window? Nonparametric
    paired test — zero-differences dropped, |d| ranked with midrank
    ties, W⁺ compared to its null mean n(n+1)/4 under the large-sample
    normal approximation with the Σ(t³−t)/48 tie correction, two-sided
    at 99% (2.5758). The PAIRED complement of `welch_ttest_order_value`
    (unpaired, parametric) and `mcnemar_late_predictors` (paired,
    binary).

    Determinism: differences are exact cents; midranks are kept in
    half-units (min+max of row_number per |d| group = 2·midrank, an
    exact BIGINT) so W⁺×2 is integer; the z expression is one fixed
    double formula over four exact integers.

    Scale shape: orders → per-customer conditional agg (one shuffle);
    the rank windows run on the |customers|-row pair relation —
    a global sort, the irreducible cost of exact ranks (sample or
    bucket at 100 TB; documented).
    """
    o = load_table(spark, sf_dir, "orders")
    em = F.expr("unix_micros(CAST(o_orderdate AS timestamp_ltz))")
    span = o.agg(F.min(em).alias("lo"), F.max(em).alias("hi"))
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    in_h1 = em * 2 <= F.col("lo") + F.col("hi")
    halves = (
        o.crossJoin(F.broadcast(span))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(in_h1, cents).otherwise(0)).cast("long").alias("h1"),
            F.sum(F.when(~in_h1, cents).otherwise(0)).cast("long").alias("h2"),
            F.sum(F.when(in_h1, 1).otherwise(0)).cast("long").alias("n1"),
            F.sum(F.when(~in_h1, 1).otherwise(0)).cast("long").alias("n2"),
        )
    )
    pairs = halves.where(
        (F.col("n1") > 0) & (F.col("n2") > 0) & (F.col("h1") != F.col("h2"))
    ).select(
        (F.col("h2") - F.col("h1")).alias("d"),
        F.abs(F.col("h2") - F.col("h1")).alias("ad"),
    )
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_order_stats,
    )

    # tied-rank sums per |d| group: rows sharing ad all get
    # rank2 = min+max = 2·c_below + t + 1, so collapse to the distinct-
    # |d| relation first and run its cumulative count through the
    # distributed rank machinery (per-customer-magnitude relation —
    # never a single-task global window).
    ad_tab = pairs.groupBy("ad").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("long")
        .alias("npos"),
    )
    ad_tab = _ckpt(ad_tab)  # shared fan-out relation
    cum = distributed_order_stats(
        ad_tab.withColumn("__k", F.col("ad").cast("double")),
        "__k",
        [],
        cumsum_cols={"ct": "t"},
    )
    ties = ad_tab.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie3")
    )
    stat = cum.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(F.col("npos") * (2 * F.col("ct") - F.col("t") + 1))
        .cast("long")
        .alias("w2"),
    )
    z = (F.col("w2") - F.col("n") * (F.col("n") + 1.0) / 2.0) / (
        2.0
        * F.sqrt(
            F.col("n") * (F.col("n") + 1.0) * (2.0 * F.col("n") + 1.0) / 24.0
            - F.col("tie3") / 48.0
        )
    )
    return stat.crossJoin(F.broadcast(ties)).select(
        F.col("n").alias("n_pairs"),
        F.col("w2").alias("wplus_2x"),
        F.round(z, 4).alias("z_stat"),
        F.when(F.abs(z) > 2.5758, 1).otherwise(0).cast("long").alias(
            "shifted_at_99"
        ),
    )


@query(
    "mood_median_test_priority",
    oracle="""
    WITH vals AS (
        SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS g,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
        FROM orders
    ), med AS (
        SELECT CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS BIGINT)
            AS m
        FROM vals
    ), counts AS (
        SELECT g,
               CAST(SUM(CASE WHEN v > m THEN 1 ELSE 0 END) AS BIGINT) AS above,
               CAST(SUM(CASE WHEN v <= m THEN 1 ELSE 0 END) AS BIGINT)
                   AS not_above
        FROM vals, med GROUP BY g
    ), tot AS (
        SELECT CAST(SUM(above) AS BIGINT) AS ta,
               CAST(SUM(not_above) AS BIGINT) AS tn,
               CAST(SUM(above + not_above) AS BIGINT) AS n
        FROM counts
    ), chi AS (
        SELECT SUM(
            pow(above - (above + not_above) * CAST(ta AS DOUBLE) / n, 2)
                / ((above + not_above) * CAST(ta AS DOUBLE) / n)
            + pow(not_above - (above + not_above) * CAST(tn AS DOUBLE) / n, 2)
                / ((above + not_above) * CAST(tn AS DOUBLE) / n)) AS chi2,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM counts, tot
    )
    SELECT k AS n_groups,
           ROUND(chi2, 4) AS mood_chi2,
           CAST(CASE WHEN chi2 > 13.2767 THEN 1 ELSE 0 END AS BIGINT)
               AS unequal_medians_at_99
    FROM chi
    """,
)
def mood_median_test_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: do the five order-priority classes share a
    common median order value? Each class's above/≤-median counts
    against the pooled discrete median form a 2×5 contingency; χ²(4)
    flagged at 99% (13.2767). The median-robust sibling of
    `kruskal_wallis_quantity` (rank-sum) and `anova_f_order_priority`
    (means) — least powerful, but immune to any monotone value
    transform and trivially map-reducible.

    Determinism: the pooled median is percentile_disc (an exact data
    value, no interpolation); all counts exact; χ² is a fixed double
    expression over them, identical cell order via Σ over the 5-row
    relation — each addend is a per-group pair, summed by the engines
    over ≤5 rows after rounding-stable math (values O(1), round 4).

    Scale shape: one exact-median pass, one 5-row conditional agg with
    map-side combine, 1-row census. The 5-addend float sum is the only
    cross-engine ordering exposure — bounded by k=5 terms of O(100),
    11 digits above the round grid.
    """
    o = load_table(spark, sf_dir, "orders")
    vals = o.select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    med = vals.agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)")
        .cast("long")
        .alias("m")
    )
    counts = (
        vals.crossJoin(F.broadcast(med))
        .groupBy("g")
        .agg(
            F.sum(F.when(F.col("v") > F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("above"),
            F.sum(F.when(F.col("v") <= F.col("m"), 1).otherwise(0))
            .cast("long")
            .alias("not_above"),
        )
    )
    counts = _ckpt(counts)  # shared fan-out relation
    tot = counts.agg(
        F.sum("above").cast("long").alias("ta"),
        F.sum("not_above").cast("long").alias("tn"),
        F.sum(F.col("above") + F.col("not_above")).cast("long").alias("n"),
    )
    ni = F.col("above") + F.col("not_above")
    ea = ni * F.col("ta").cast("double") / F.col("n")
    en = ni * F.col("tn").cast("double") / F.col("n")
    chi = counts.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.pow(F.col("above") - ea, 2) / ea + F.pow(F.col("not_above") - en, 2) / en
        ).alias("chi2"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    return chi.select(
        F.col("k").alias("n_groups"),
        F.round(F.col("chi2"), 4).alias("mood_chi2"),
        F.when(F.col("chi2") > 13.2767, 1)
        .otherwise(0)
        .cast("long")
        .alias("unequal_medians_at_99"),
    )


# ---------------------------------------------------------------------------
# wave 176: Holt-Winters additive weekly smoothing, pinball-loss backtest
# ---------------------------------------------------------------------------


@query(
    "holt_winters_weekly",
    oracle="""
    WITH RECURSIVE base AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               ROUND(SUM(value), 6) AS y
        FROM events GROUP BY event_type, day
    ), daily AS (
        SELECT event_type, y,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                    AS BIGINT) AS i,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM base
    ), init AS (
        SELECT event_type, MAX(n) AS n,
               (MAX(CASE WHEN i=1 THEN y END) + MAX(CASE WHEN i=2 THEN y END)
                + MAX(CASE WHEN i=3 THEN y END) + MAX(CASE WHEN i=4 THEN y END)
                + MAX(CASE WHEN i=5 THEN y END) + MAX(CASE WHEN i=6 THEN y END)
                + MAX(CASE WHEN i=7 THEN y END)) / 7.0 AS l0,
               MAX(CASE WHEN i=1 THEN y END) AS y1,
               MAX(CASE WHEN i=2 THEN y END) AS y2,
               MAX(CASE WHEN i=3 THEN y END) AS y3,
               MAX(CASE WHEN i=4 THEN y END) AS y4,
               MAX(CASE WHEN i=5 THEN y END) AS y5,
               MAX(CASE WHEN i=6 THEN y END) AS y6,
               MAX(CASE WHEN i=7 THEN y END) AS y7
        FROM daily WHERE i <= 7 GROUP BY event_type
    ), rec AS (
        SELECT event_type, CAST(7 AS BIGINT) AS i, n,
               l0 AS l, CAST(0.0 AS DOUBLE) AS b,
               y1 - l0 AS s1, y2 - l0 AS s2, y3 - l0 AS s3, y4 - l0 AS s4,
               y5 - l0 AS s5, y6 - l0 AS s6, y7 - l0 AS s7
        FROM init WHERE n >= 14
        UNION ALL
        SELECT d.event_type, d.i, d.n,
               0.5*(d.y - CASE ((d.i - 1) % 7) + 1
                    WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3
                    WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6
                    ELSE r.s7 END) + 0.5*(r.l + r.b) AS ln_,
               0.25*((0.5*(d.y - CASE ((d.i - 1) % 7) + 1
                    WHEN 1 THEN r.s1 WHEN 2 THEN r.s2 WHEN 3 THEN r.s3
                    WHEN 4 THEN r.s4 WHEN 5 THEN r.s5 WHEN 6 THEN r.s6
                    ELSE r.s7 END) + 0.5*(r.l + r.b)) - r.l) + 0.75*r.b,
               CASE WHEN ((d.i - 1) % 7) + 1 = 1 THEN
                    0.25*(d.y - (0.5*(d.y - r.s1) + 0.5*(r.l + r.b)))
                    + 0.75*r.s1 ELSE r.s1 END,
               CASE WHEN ((d.i - 1) % 7) + 1 = 2 THEN
                    0.25*(d.y - (0.5*(d.y - r.s2) + 0.5*(r.l + r.b)))
                    + 0.75*r.s2 ELSE r.s2 END,
               CASE WHEN ((d.i - 1) % 7) + 1 = 3 THEN
                    0.25*(d.y - (0.5*(d.y - r.s3) + 0.5*(r.l + r.b)))
                    + 0.75*r.s3 ELSE r.s3 END,
               CASE WHEN ((d.i - 1) % 7) + 1 = 4 THEN
                    0.25*(d.y - (0.5*(d.y - r.s4) + 0.5*(r.l + r.b)))
                    + 0.75*r.s4 ELSE r.s4 END,
               CASE WHEN ((d.i - 1) % 7) + 1 = 5 THEN
                    0.25*(d.y - (0.5*(d.y - r.s5) + 0.5*(r.l + r.b)))
                    + 0.75*r.s5 ELSE r.s5 END,
               CASE WHEN ((d.i - 1) % 7) + 1 = 6 THEN
                    0.25*(d.y - (0.5*(d.y - r.s6) + 0.5*(r.l + r.b)))
                    + 0.75*r.s6 ELSE r.s6 END,
               CASE WHEN ((d.i - 1) % 7) + 1 = 7 THEN
                    0.25*(d.y - (0.5*(d.y - r.s7) + 0.5*(r.l + r.b)))
                    + 0.75*r.s7 ELSE r.s7 END
        FROM rec r JOIN daily d
          ON d.event_type = r.event_type AND d.i = r.i + 1
    )
    SELECT event_type, n AS n_days,
           ROUND(l, 6) AS level, ROUND(b, 6) AS trend,
           ROUND(l + b + CASE (i % 7) + 1
                 WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 3 THEN s3
                 WHEN 4 THEN s4 WHEN 5 THEN s5 WHEN 6 THEN s6
                 ELSE s7 END, 6) AS forecast_1d
    FROM rec WHERE i = n
    """,
)
def holt_winters_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE triple-exponential smoothing with weekly
    (m=7) seasonality per event type — level α=0.5, trend β=0.25,
    seasonal γ=0.25, classical init (l₀ = first-week mean, sₖ = yₖ−l₀,
    b₀=0), one-step-ahead forecast l+b+s. Extends
    `holt_linear_forecast` with the seasonal state the linear form
    can't carry; `stl_decompose_daily` gives the retrospective
    decomposition, this gives the ONLINE recursive one.

    The recurrence is sequential, so it runs as an `aggregate` HOF fold
    whose accumulator is a 9-field struct (l, b, s1..s7); the oracle
    unrolls the identical recurrence as a 7-seasonal-column recursive
    CTE. Both engines share one IEEE dag: daily inputs rounded to 6
    BEFORE the fold, all smoothing constants dyadic (exact multiplies),
    slot selection by integer (i−1) mod 7.

    Scale shape: fact → |types|×|days| hash agg; per-type day-sorted
    array is bounded (365 doubles/year) regardless of corpus size; the
    fold is one in-row pass. The scale-correct shape for per-key
    recurrences: reduce to series grain, then fold in-row.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", epoch_day("ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("y")
    )
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("arr")
    )
    slot = "CAST(((i - 1) % 7) + 1 AS INT)"
    fold = f"""
    aggregate(
      transform(slice(arr, 8, greatest(size(arr) - 7, 0)),
                (x, j) -> named_struct('y', x.y, 'i', j + 8)),
      named_struct(
        'l', (arr[0].y + arr[1].y + arr[2].y + arr[3].y + arr[4].y
              + arr[5].y + arr[6].y) / 7.0,
        'b', CAST(0.0 AS DOUBLE),
        's1', arr[0].y - (arr[0].y + arr[1].y + arr[2].y + arr[3].y
              + arr[4].y + arr[5].y + arr[6].y) / 7.0,
        's2', arr[1].y - (arr[0].y + arr[1].y + arr[2].y + arr[3].y
              + arr[4].y + arr[5].y + arr[6].y) / 7.0,
        's3', arr[2].y - (arr[0].y + arr[1].y + arr[2].y + arr[3].y
              + arr[4].y + arr[5].y + arr[6].y) / 7.0,
        's4', arr[3].y - (arr[0].y + arr[1].y + arr[2].y + arr[3].y
              + arr[4].y + arr[5].y + arr[6].y) / 7.0,
        's5', arr[4].y - (arr[0].y + arr[1].y + arr[2].y + arr[3].y
              + arr[4].y + arr[5].y + arr[6].y) / 7.0,
        's6', arr[5].y - (arr[0].y + arr[1].y + arr[2].y + arr[3].y
              + arr[4].y + arr[5].y + arr[6].y) / 7.0,
        's7', arr[6].y - (arr[0].y + arr[1].y + arr[2].y + arr[3].y
              + arr[4].y + arr[5].y + arr[6].y) / 7.0),
      (acc, e) -> named_struct(
        'l', 0.5*(e.y - CASE {slot.replace('i', 'e.i')}
                  WHEN 1 THEN acc.s1 WHEN 2 THEN acc.s2 WHEN 3 THEN acc.s3
                  WHEN 4 THEN acc.s4 WHEN 5 THEN acc.s5 WHEN 6 THEN acc.s6
                  ELSE acc.s7 END) + 0.5*(acc.l + acc.b),
        'b', 0.25*((0.5*(e.y - CASE {slot.replace('i', 'e.i')}
                  WHEN 1 THEN acc.s1 WHEN 2 THEN acc.s2 WHEN 3 THEN acc.s3
                  WHEN 4 THEN acc.s4 WHEN 5 THEN acc.s5 WHEN 6 THEN acc.s6
                  ELSE acc.s7 END) + 0.5*(acc.l + acc.b)) - acc.l)
             + 0.75*acc.b,
        's1', CASE WHEN {slot.replace('i', 'e.i')} = 1 THEN
              0.25*(e.y - (0.5*(e.y - acc.s1) + 0.5*(acc.l + acc.b)))
              + 0.75*acc.s1 ELSE acc.s1 END,
        's2', CASE WHEN {slot.replace('i', 'e.i')} = 2 THEN
              0.25*(e.y - (0.5*(e.y - acc.s2) + 0.5*(acc.l + acc.b)))
              + 0.75*acc.s2 ELSE acc.s2 END,
        's3', CASE WHEN {slot.replace('i', 'e.i')} = 3 THEN
              0.25*(e.y - (0.5*(e.y - acc.s3) + 0.5*(acc.l + acc.b)))
              + 0.75*acc.s3 ELSE acc.s3 END,
        's4', CASE WHEN {slot.replace('i', 'e.i')} = 4 THEN
              0.25*(e.y - (0.5*(e.y - acc.s4) + 0.5*(acc.l + acc.b)))
              + 0.75*acc.s4 ELSE acc.s4 END,
        's5', CASE WHEN {slot.replace('i', 'e.i')} = 5 THEN
              0.25*(e.y - (0.5*(e.y - acc.s5) + 0.5*(acc.l + acc.b)))
              + 0.75*acc.s5 ELSE acc.s5 END,
        's6', CASE WHEN {slot.replace('i', 'e.i')} = 6 THEN
              0.25*(e.y - (0.5*(e.y - acc.s6) + 0.5*(acc.l + acc.b)))
              + 0.75*acc.s6 ELSE acc.s6 END,
        's7', CASE WHEN {slot.replace('i', 'e.i')} = 7 THEN
              0.25*(e.y - (0.5*(e.y - acc.s7) + 0.5*(acc.l + acc.b)))
              + 0.75*acc.s7 ELSE acc.s7 END))
    """
    fitted = series.where(F.size("arr") >= 14).select(
        "event_type",
        F.size("arr").cast("long").alias("n_days"),
        F.expr(fold).alias("hw"),
        F.expr("CAST((size(arr) % 7) + 1 AS INT)").alias("next_slot"),
    )
    fc = F.col("hw.l") + F.col("hw.b") + (
        F.when(F.col("next_slot") == 1, F.col("hw.s1"))
        .when(F.col("next_slot") == 2, F.col("hw.s2"))
        .when(F.col("next_slot") == 3, F.col("hw.s3"))
        .when(F.col("next_slot") == 4, F.col("hw.s4"))
        .when(F.col("next_slot") == 5, F.col("hw.s5"))
        .when(F.col("next_slot") == 6, F.col("hw.s6"))
        .otherwise(F.col("hw.s7"))
    )
    return fitted.select(
        "event_type",
        "n_days",
        F.round(F.col("hw.l"), 6).alias("level"),
        F.round(F.col("hw.b"), 6).alias("trend"),
        F.round(fc, 6).alias("forecast_1d"),
    )


@query(
    "pinball_loss_backtest",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY event_type, day
    ), cutoff AS (
        SELECT MAX(day) - 6 AS cut FROM daily
    ), fc AS (
        SELECT event_type,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY v) AS BIGINT)
                   AS q50,
               CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY v) AS BIGINT)
                   AS q90
        FROM daily, cutoff WHERE day < cut GROUP BY event_type
    ), test AS (
        SELECT d.event_type, d.v, f.q50, f.q90
        FROM daily d JOIN fc f ON f.event_type = d.event_type, cutoff
        WHERE d.day >= cut
    ), loss AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_test_days,
               CAST(SUM(CASE WHEN v >= q50 THEN 5 * (v - q50)
                        ELSE 5 * (q50 - v) END) AS BIGINT) AS l50_e1,
               CAST(SUM(CASE WHEN v >= q90 THEN 9 * (v - q90)
                        ELSE 1 * (q90 - v) END) AS BIGINT) AS l90_e1
        FROM test GROUP BY event_type
    )
    SELECT event_type, n_test_days,
           ROUND(l50_e1 / (10.0 * 100.0 * n_test_days), 4)
               AS pinball50_dollars,
           ROUND(l90_e1 / (10.0 * 100.0 * n_test_days), 4)
               AS pinball90_dollars
    FROM loss
    """,
)
def pinball_loss_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss backtest: hold out the final week, issue
    P50/P90 empirical-quantile forecasts of daily value per event type
    from the training days, and score them with the quantile loss
    ρ_q(e) = q·e⁺ + (1−q)·e⁻ — the metric that makes quantile forecasts
    comparable (`rolling_origin_backtest` scores point forecasts; this
    scores the DISTRIBUTIONAL ones `conformal_price_interval` emits).

    Determinism: forecasts are percentile_disc (exact data values in
    cents); losses are kept in exact tenths-of-a-cent (q=0.5 → 5·|e|,
    q=0.9 → 9e⁺+1e⁻, all integer); one division per output, rounded.

    Scale shape: fact → |types|×|days| hash agg; train quantiles per
    type (tiny sort); the 1-row cutoff and |types|-row forecast tables
    broadcast; loss is a second tiny agg. No full-data sort.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            epoch_day("ts").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("c").cast("long").alias("v"))
    )
    daily = _ckpt(daily)  # shared fan-out relation
    cutoff = daily.agg((F.max("day") - 6).alias("cut"))
    cutoff = _ckpt(cutoff)  # shared fan-out relation
    fc = (
        daily.crossJoin(F.broadcast(cutoff))
        .where(F.col("day") < F.col("cut"))
        .groupBy("event_type")
        .agg(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)")
            .cast("long")
            .alias("q50"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY v)")
            .cast("long")
            .alias("q90"),
        )
    )
    test = (
        daily.crossJoin(F.broadcast(cutoff))
        .where(F.col("day") >= F.col("cut"))
        .join(F.broadcast(fc), "event_type")
    )
    loss = test.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_test_days"),
        F.sum(
            F.when(
                F.col("v") >= F.col("q50"), 5 * (F.col("v") - F.col("q50"))
            ).otherwise(5 * (F.col("q50") - F.col("v")))
        )
        .cast("long")
        .alias("l50_e1"),
        F.sum(
            F.when(
                F.col("v") >= F.col("q90"), 9 * (F.col("v") - F.col("q90"))
            ).otherwise(F.col("q90") - F.col("v"))
        )
        .cast("long")
        .alias("l90_e1"),
    )
    return loss.select(
        "event_type",
        "n_test_days",
        F.round(F.col("l50_e1") / (10.0 * 100.0 * F.col("n_test_days")), 4).alias(
            "pinball50_dollars"
        ),
        F.round(F.col("l90_e1") / (10.0 * 100.0 * F.col("n_test_days")), 4).alias(
            "pinball90_dollars"
        ),
    )


# ---------------------------------------------------------------------------
# wave 177: Atkinson inequality index, Balassa revealed comparative advantage
# ---------------------------------------------------------------------------


@query(
    "atkinson_index_by_nation",
    oracle="""
    WITH spend AS (
        SELECT c.c_nationkey AS nk,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY nk
    ), cust AS (
        SELECT c.c_nationkey AS nk, o.o_custkey,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY nk, o.o_custkey
    ), mom AS (
        SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(v) AS BIGINT) AS s,
               ROUND(SUM(ln(CAST(v AS DOUBLE))), 6) AS slog
        FROM cust WHERE v > 0 GROUP BY nk
    )
    SELECT n.n_name AS nation, m.n_customers,
           ROUND(CAST(m.s AS DOUBLE) / m.n_customers / 100.0, 2)
               AS mean_spend_dollars,
           ROUND(1.0 - exp(m.slog / m.n_customers)
                       / (CAST(m.s AS DOUBLE) / m.n_customers), 6)
               AS atkinson_eps1
    FROM mom m JOIN nation n ON n.n_nationkey = m.nk
    """,
)
def atkinson_index_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index (ε=1) of per-customer spend within each
    nation: A₁ = 1 − geomean/mean — the welfare-founded inequality
    measure whose ε makes the social aversion explicit, complementing
    `gini_exact_customer_spend` (rank-based) and
    `theil_index_decomposition` (entropy-based; Theil T = −ln(1−A₁) at
    ε=1 up to ordering). Zero-spend customers excluded (ln undefined) —
    documented.

    Determinism: spends are exact cents; the single float accumulation
    (Σ ln v) is rounded to 6 BEFORE the downstream expression on both
    engines (the repo's recurrence-input pattern), so exp/div see
    identical inputs.

    Scale shape: orders → per-customer hash agg (one shuffle on
    custkey, map-side combined), → per-nation census; nation dim
    broadcast. No sort.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    cust = (
        o.join(
            F.broadcast(c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")),
            "o_custkey",
        )
        .groupBy(F.col("c_nationkey").alias("nk"), "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("v")
        )
    )
    mom = (
        cust.where(F.col("v") > 0)
        .groupBy("nk")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("v").cast("long").alias("s"),
            F.round(F.sum(F.log(F.col("v").cast("double"))), 6).alias("slog"),
        )
    )
    mean = F.col("s").cast("double") / F.col("n_customers")
    return mom.join(
        F.broadcast(n), F.col("n_nationkey") == F.col("nk")
    ).select(
        F.col("n_name").alias("nation"),
        "n_customers",
        F.round(mean / 100.0, 2).alias("mean_spend_dollars"),
        F.round(
            1.0 - F.exp(F.col("slog") / F.col("n_customers")) / mean, 6
        ).alias("atkinson_eps1"),
    )


@query(
    "balassa_rca_nation_parttype",
    oracle="""
    WITH flows AS (
        SELECT s.s_nationkey AS nk, p.p_type AS ptype,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS x
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY nk, ptype
    ), marg AS (
        SELECT nk, ptype, x,
               CAST(SUM(x) OVER (PARTITION BY nk) AS BIGINT) AS x_n,
               CAST(SUM(x) OVER (PARTITION BY ptype) AS BIGINT) AS x_t,
               CAST(SUM(x) OVER () AS BIGINT) AS x_all
        FROM flows
    )
    SELECT n.n_name AS nation, m.ptype AS part_type,
           ROUND((CAST(m.x AS DOUBLE) / m.x_n)
                 / (CAST(m.x_t AS DOUBLE) / m.x_all), 6) AS rca,
           CAST(CASE WHEN (CAST(m.x AS DOUBLE) / m.x_n)
                          / (CAST(m.x_t AS DOUBLE) / m.x_all) > 1.0
                     THEN 1 ELSE 0 END AS BIGINT) AS specialized
    FROM marg m JOIN nation n ON n.n_nationkey = m.nk
    """,
)
def balassa_rca_nation_parttype(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balassa revealed comparative advantage: for each (supplier
    nation, part type) flow, RCA = (share of the type in the nation's
    revenue) / (share of the type in world revenue); RCA > 1 marks
    specialization. The trade-economics lens on the supply network that
    `national_market_share` (level shares) and
    `shift_share_decomposition` (growth attribution) don't expose.

    Determinism: flows are exact cent sums; marginals are exact window
    sums over the |nations|×|types| relation; RCA is a ratio of two
    exact-integer ratios in one fixed expression, rounded once, with
    the >1 flag on the unrounded value.

    Scale shape: fact joins two broadcast dims, collapses to ≤
    |nations|·|types| rows in one hash agg with map-side combine; the
    three marginal windows run on that tiny relation.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    n = load_table(spark, sf_dir, "nation")
    flows = (
        li.join(
            F.broadcast(s.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")),
            "l_suppkey",
        )
        .join(
            F.broadcast(p.select(F.col("p_partkey").alias("l_partkey"), "p_type")),
            "l_partkey",
        )
        .groupBy(F.col("s_nationkey").alias("nk"), F.col("p_type").alias("ptype"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    marg = flows.select(
        "nk",
        "ptype",
        "x",
        F.sum("x").over(Window.partitionBy("nk")).cast("long").alias("x_n"),
        F.sum("x").over(Window.partitionBy("ptype")).cast("long").alias("x_t"),
        F.sum("x").over(Window.partitionBy()).cast("long").alias("x_all"),
    )
    rca = (F.col("x").cast("double") / F.col("x_n")) / (
        F.col("x_t").cast("double") / F.col("x_all")
    )
    return marg.join(F.broadcast(n), F.col("n_nationkey") == F.col("nk")).select(
        F.col("n_name").alias("nation"),
        F.col("ptype").alias("part_type"),
        F.round(rca, 6).alias("rca"),
        F.when(rca > 1.0, 1).otherwise(0).cast("long").alias("specialized"),
    )


# ---------------------------------------------------------------------------
# wave 178: Fleiss' kappa multi-rater agreement, Somers' D ordinal association
# ---------------------------------------------------------------------------


@query(
    "fleiss_kappa_returnflags",
    oracle="""
    WITH sized AS (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING COUNT(*) = 4
    ), cell AS (
        SELECT l.l_orderkey, l.l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS nij
        FROM lineitem l JOIN sized s ON s.l_orderkey = l.l_orderkey
        GROUP BY l.l_orderkey, l.l_returnflag
    ), peri AS (
        SELECT l_orderkey, CAST(SUM(nij * nij) AS BIGINT) AS ss
        FROM cell GROUP BY l_orderkey
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(ss) AS BIGINT) AS sum_ss
        FROM peri
    ), cats AS (
        SELECT l_returnflag, CAST(SUM(nij) AS BIGINT) AS cj FROM cell
        GROUP BY l_returnflag
    ), pe AS (
        SELECT CAST(SUM(CAST(cj AS HUGEINT) * cj) AS DOUBLE) AS sum_cj2,
               CAST(SUM(cj) AS BIGINT) AS total
        FROM cats
    )
    SELECT a.n_items,
           ROUND((CAST(a.sum_ss AS DOUBLE) - 4.0 * a.n_items)
                 / (a.n_items * 4.0 * 3.0), 6) AS p_bar,
           ROUND(p.sum_cj2 / (CAST(p.total AS DOUBLE) * p.total), 6) AS p_e,
           ROUND(((CAST(a.sum_ss AS DOUBLE) - 4.0 * a.n_items)
                  / (a.n_items * 4.0 * 3.0)
                  - p.sum_cj2 / (CAST(p.total AS DOUBLE) * p.total))
                 / (1.0 - p.sum_cj2 / (CAST(p.total AS DOUBLE) * p.total)), 6)
               AS fleiss_kappa
    FROM agg a, pe p
    """,
)
def fleiss_kappa_returnflags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over 4-line orders: treat each order's 4 lineitems
    as 4 'raters' assigning a returnflag 'category', and measure
    within-order agreement beyond chance: κ = (P̄ − P_e)/(1 − P_e) with
    P̄ from Σᵢⱼ nᵢⱼ² and P_e = Σⱼ pⱼ². Generalizes
    `classifier_agreement_kappa` (Cohen, 2 raters) to n raters — the
    standard label-quality statistic for multi-annotator corpora.

    Determinism: every nᵢⱼ, Σnᵢⱼ², and category margin is an exact
    integer (margins squared in 128-bit); P̄, P_e, κ are fixed double
    expressions, each rounded once.

    Scale shape: the fixed-size filter (HAVING count=4) is one hash
    agg; cells another; both map-side combinable; censuses are 1-row.
    No window, no sort.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sized = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("nl"))
        .where(F.col("nl") == 4)
        .select("l_orderkey")
    )
    cell = (
        li.join(sized, "l_orderkey")
        .groupBy("l_orderkey", "l_returnflag")
        .agg(F.count(F.lit(1)).cast("long").alias("nij"))
    )
    cell = _ckpt(cell)  # shared fan-out relation
    peri = cell.groupBy("l_orderkey").agg(
        F.sum(F.col("nij") * F.col("nij")).cast("long").alias("ss")
    )
    agg = peri.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("ss").cast("long").alias("sum_ss"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    cats = cell.groupBy("l_returnflag").agg(F.sum("nij").cast("long").alias("cj"))
    pe = cats.agg(
        F.sum(dec("cj") * dec("cj")).cast("double").alias("sum_cj2"),
        F.sum("cj").cast("long").alias("total"),
    )
    p_bar = (F.col("sum_ss").cast("double") - 4.0 * F.col("n_items")) / (
        F.col("n_items") * 4.0 * 3.0
    )
    p_e = F.col("sum_cj2") / (F.col("total").cast("double") * F.col("total"))
    return agg.crossJoin(F.broadcast(pe)).select(
        "n_items",
        F.round(p_bar, 6).alias("p_bar"),
        F.round(p_e, 6).alias("p_e"),
        F.round((p_bar - p_e) / (1.0 - p_e), 6).alias("fleiss_kappa"),
    )


@query(
    "somers_d_linecount_status",
    oracle="""
    WITH ords AS (
        SELECT o.o_orderkey,
               CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, y
    ), tab AS (
        SELECT k,
               CAST(SUM(y) AS BIGINT) AS n1,
               CAST(SUM(1 - y) AS BIGINT) AS n0
        FROM ords GROUP BY k
    ), cum AS (
        SELECT k, n1, n0,
               CAST(COALESCE(SUM(n0) OVER (ORDER BY k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS c0_below,
               CAST(COALESCE(SUM(n1) OVER (ORDER BY k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS c1_below
        FROM tab
    ), mom AS (
        SELECT CAST(SUM(CAST(n1 AS HUGEINT) * c0_below) AS HUGEINT) AS nc,
               CAST(SUM(CAST(n0 AS HUGEINT) * c1_below) AS HUGEINT) AS nd,
               CAST(SUM(n1 + n0) AS BIGINT) AS n,
               CAST(SUM(CAST(n1 + n0 AS HUGEINT) * (n1 + n0)) AS HUGEINT)
                   AS sk2
        FROM cum
    )
    SELECT n AS n_orders,
           CAST(nc AS BIGINT) AS concordant,
           CAST(nd AS BIGINT) AS discordant,
           ROUND(2.0 * (CAST(nc AS DOUBLE) - CAST(nd AS DOUBLE))
                 / (CAST(n AS DOUBLE) * n - CAST(sk2 AS DOUBLE)), 6)
               AS somers_d
    FROM mom
    """,
)
def somers_d_linecount_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Somers' D_yx of order status (FINISHED=1) on lineitem count: the
    asymmetric ordinal effect size (C−D)/(pairs untied on x) — for a
    binary outcome this is exactly 2·AUC−1, the Gini coefficient of the
    'more lines → finished?' ranking. Adds the directional
    concordance statistic between `kendall_tau_rankings` (symmetric)
    and `auc_order_status_price` (probability form).

    Determinism: concordant/discordant pair counts come from exact
    cumulative sums over the ≤|distinct k| contingency rows (products
    in 128-bit — pair counts are O(n²) ≈ 10¹⁰ at sf0.1); D is one
    fixed double expression, rounded once.

    Scale shape: fact → per-order agg (one shuffle) → |k|-row
    contingency → two prefix windows + census on the tiny relation.
    Pair enumeration never happens — the contingency algebra IS the
    U-statistic.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    ords = (
        o.select(
            "o_orderkey",
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        )
        .join(li.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey")
        .groupBy("o_orderkey", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    tab = ords.groupBy("k").agg(
        F.sum("y").cast("long").alias("n1"),
        F.sum(1 - F.col("y")).cast("long").alias("n0"),
    )
    wb = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, -1)
    cum = tab.select(
        "k",
        "n1",
        "n0",
        F.coalesce(F.sum("n0").over(wb), F.lit(0)).cast("long").alias("c0_below"),
        F.coalesce(F.sum("n1").over(wb), F.lit(0)).cast("long").alias("c1_below"),
    )
    mom = cum.agg(
        F.sum(dec("n1") * dec("c0_below")).alias("nc"),
        F.sum(dec("n0") * dec("c1_below")).alias("nd"),
        F.sum(F.col("n1") + F.col("n0")).cast("long").alias("n"),
        F.sum(
            (dec("n1") + dec("n0")) * (dec("n1") + dec("n0"))
        ).alias("sk2"),
    )
    d = (
        2.0
        * (F.col("nc").cast("double") - F.col("nd").cast("double"))
        / (F.col("n").cast("double") * F.col("n") - F.col("sk2").cast("double"))
    )
    return mom.select(
        F.col("n").alias("n_orders"),
        F.col("nc").cast("long").alias("concordant"),
        F.col("nd").cast("long").alias("discordant"),
        F.round(d, 6).alias("somers_d"),
    )


# ---------------------------------------------------------------------------
# wave 179: Breusch-Pagan heteroskedasticity test, Cochrane-Orcutt AR(1) fit
# ---------------------------------------------------------------------------


@query(
    "breusch_pagan_price_quantity",
    oracle="""
    WITH pts AS (
        SELECT CAST(l_quantity AS DOUBLE) AS x, l_extendedprice AS y
        FROM lineitem
    ), ols AS (
        SELECT regr_slope(y, x) AS b, regr_intercept(y, x) AS a,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pts
    ), aux AS (
        SELECT x, (y - a - b*x) * (y - a - b*x) AS e2, n FROM pts, ols
    ), r2 AS (
        SELECT MAX(n) AS n,
               pow(SUM(x*e2) - SUM(x)*SUM(e2)/MAX(n), 2)
               / ((SUM(x*x) - SUM(x)*SUM(x)/MAX(n))
                  * (SUM(e2*e2) - SUM(e2)*SUM(e2)/MAX(n))) AS r2_aux
        FROM aux
    )
    SELECT n AS n_rows,
           ROUND(n * r2_aux, 4) AS bp_lm_stat,
           CAST(CASE WHEN n * r2_aux > 6.6349 THEN 1 ELSE 0 END AS BIGINT)
               AS heteroskedastic_at_99
    FROM r2
    """,
)
def breusch_pagan_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan(-Koenker) heteroskedasticity test on the
    price~quantity regression: auxiliary regression of squared OLS
    residuals on the regressor, LM = n·R²_aux against χ²(1) 99%
    (6.6349). Validates the constant-variance assumption every OLS
    query (`rmse_price_model`, `regr_function_suite`) silently makes —
    and its robust (Koenker) form needs no normality.

    Determinism: follows the repo's two-pass IRLS precedent — first
    census computes (a, b) with the same regr_* expressions both
    engines define identically; residual-moment sums are doubles with
    identical expression trees, LM rounded once at 4 (ulps sit ~7
    digits below the grid).

    Scale shape: two full-scan censuses (OLS moments, then auxiliary
    moments with the 1-row coefficients broadcast in-row) — both
    streaming aggs with map-side partials. No shuffle of data rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    ols = pts.agg(
        F.regr_slope("y", "x").alias("b"),
        F.regr_intercept("y", "x").alias("a"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    e2 = (F.col("y") - F.col("a") - F.col("b") * F.col("x")) * (
        F.col("y") - F.col("a") - F.col("b") * F.col("x")
    )
    aux = pts.crossJoin(F.broadcast(ols)).select("x", e2.alias("e2"), "n")
    nn = F.max("n")
    r2_aux = F.pow(
        F.sum(F.col("x") * F.col("e2")) - F.sum("x") * F.sum("e2") / nn, 2
    ) / (
        (F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x") / nn)
        * (F.sum(F.col("e2") * F.col("e2")) - F.sum("e2") * F.sum("e2") / nn)
    )
    r2 = aux.agg(nn.alias("n"), r2_aux.alias("r2_aux"))
    lm = F.col("n") * F.col("r2_aux")
    return r2.select(
        F.col("n").alias("n_rows"),
        F.round(lm, 4).alias("bp_lm_stat"),
        F.when(lm > 6.6349, 1)
        .otherwise(0)
        .cast("long")
        .alias("heteroskedastic_at_99"),
    )


@query(
    "cochrane_orcutt_daily_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY day
    ), idx AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
               CAST(v AS DOUBLE) / 100.0 AS y
        FROM daily
    ), ols AS (
        SELECT regr_slope(y, CAST(t AS DOUBLE)) AS b,
               regr_intercept(y, CAST(t AS DOUBLE)) AS a
        FROM idx
    ), res AS (
        SELECT t, y, y - a - b*t AS e FROM idx, ols
    ), lagged AS (
        SELECT t, y, e, LAG(e) OVER (ORDER BY t) AS ep,
               LAG(y) OVER (ORDER BY t) AS yp
        FROM res
    ), rho AS (
        SELECT SUM(e * ep) / SUM(ep * ep) AS r
        FROM lagged WHERE ep IS NOT NULL
    ), star AS (
        SELECT y - r * yp AS ys, t - r * (t - 1) AS xs
        FROM lagged, rho WHERE yp IS NOT NULL
    ), fit AS (
        SELECT regr_slope(ys, xs) AS b_co,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM star
    )
    SELECT fit.n AS n_obs,
           ROUND(ols.b, 6) AS slope_ols,
           ROUND(rho.r, 6) AS rho_hat,
           ROUND(fit.b_co, 6) AS slope_co
    FROM ols, rho, fit
    """,
)
def cochrane_orcutt_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochrane-Orcutt AR(1)-corrected trend estimate for daily event
    value: OLS trend → residual lag-1 autocorrelation ρ̂ → quasi-
    difference transform (yₜ−ρyₜ₋₁ on tₜ−ρtₜ₋₁) → re-estimated slope.
    The remedy for exactly the serial correlation
    `durbin_watson_daily_trend` detects — OLS standard errors lie when
    DW < 2; the CO slope is the defensible one.

    Determinism: two-pass broadcast pattern; regr_slope/intercept have
    identical definitions on both engines; the day relation is ~10²
    rows so double moment sums agree to ~10⁻¹² relative, 6 digits
    above the round grid.

    Scale shape: fact → |days| hash agg; everything after runs on the
    day relation (two windows, three tiny censuses). Scale cost is the
    first agg only.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            epoch_day("ts").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("long").alias("v"))
    )
    idx = daily.select(
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
        (F.col("v").cast("double") / 100.0).alias("y"),
    )
    ols = idx.agg(
        F.regr_slope("y", F.col("t").cast("double")).alias("b"),
        F.regr_intercept("y", F.col("t").cast("double")).alias("a"),
    )
    ols = _ckpt(ols)  # shared fan-out relation
    res = idx.crossJoin(F.broadcast(ols)).select(
        "t", "y", (F.col("y") - F.col("a") - F.col("b") * F.col("t")).alias("e")
    )
    wt = Window.orderBy("t")
    lagged = res.select(
        "t",
        "y",
        "e",
        F.lag("e").over(wt).alias("ep"),
        F.lag("y").over(wt).alias("yp"),
    )
    rho = lagged.where(F.col("ep").isNotNull()).agg(
        (F.sum(F.col("e") * F.col("ep")) / F.sum(F.col("ep") * F.col("ep"))).alias(
            "r"
        )
    )
    rho = _ckpt(rho)  # shared fan-out relation
    star = (
        lagged.where(F.col("yp").isNotNull())
        .crossJoin(F.broadcast(rho))
        .select(
            (F.col("y") - F.col("r") * F.col("yp")).alias("ys"),
            (F.col("t") - F.col("r") * (F.col("t") - 1)).alias("xs"),
        )
    )
    fit = star.agg(
        F.regr_slope("ys", "xs").alias("b_co"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return (
        fit.crossJoin(F.broadcast(ols))
        .crossJoin(F.broadcast(rho))
        .select(
            F.col("n").alias("n_obs"),
            F.round(F.col("b"), 6).alias("slope_ols"),
            F.round(F.col("r"), 6).alias("rho_hat"),
            F.round(F.col("b_co"), 6).alias("slope_co"),
        )
    )


# ---------------------------------------------------------------------------
# wave 180: EOQ economic order quantity, Little's law validation
# ---------------------------------------------------------------------------


@query(
    "eoq_by_brand",
    oracle="""
    WITH demand AS (
        SELECT p.p_brand AS brand,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS d,
               CAST(SUM(CAST(ROUND(p.p_retailprice * 100) AS BIGINT)
                        * CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS price_wt
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY brand
    )
    SELECT brand, d AS annual_demand,
           ROUND(CAST(price_wt AS DOUBLE) / d / 100.0, 4) AS avg_unit_price,
           ROUND(sqrt(2.0 * d * 50.0
                      / (0.2 * (CAST(price_wt AS DOUBLE) / d / 100.0))), 2)
               AS eoq_units,
           CAST(CEIL(d / sqrt(2.0 * d * 50.0
                      / (0.2 * (CAST(price_wt AS DOUBLE) / d / 100.0))))
                AS BIGINT) AS orders_per_period
    FROM demand
    """,
)
def eoq_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Economic order quantity per brand: EOQ = √(2DK/h) with demand D
    from shipped quantities, fixed ordering cost K=$50, and holding
    cost h = 20% of the demand-weighted unit price — plus the implied
    replenishment count ⌈D/EOQ⌉. The inventory-policy complement of
    `newsvendor_stock_levels` (single-period uncertainty) and
    `abc_part_classification` (priority tiers): EOQ sets the reorder
    cadence for the steady movers.

    Determinism: D and the price-weighted numerator are exact integers
    (quantities are integral doubles cast to BIGINT; prices exact
    cents); EOQ is one fixed sqrt expression over them, rounded once;
    the ceil sits on the unrounded value identically on both sides.

    Scale shape: fact joins broadcast part dim, one |brands|-row hash
    agg with map-side combine. Nothing else.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    demand = (
        li.join(
            F.broadcast(
                p.select(
                    F.col("p_partkey").alias("l_partkey"), "p_brand", "p_retailprice"
                )
            ),
            "l_partkey",
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("d"),
            F.sum(
                F.round(F.col("p_retailprice") * 100).cast("long")
                * F.col("l_quantity").cast("long")
            )
            .cast("long")
            .alias("price_wt"),
        )
    )
    unit = F.col("price_wt").cast("double") / F.col("d") / 100.0
    eoq = F.sqrt(2.0 * F.col("d") * 50.0 / (0.2 * unit))
    return demand.select(
        "brand",
        F.col("d").alias("annual_demand"),
        F.round(unit, 4).alias("avg_unit_price"),
        F.round(eoq, 2).alias("eoq_units"),
        F.ceil(F.col("d") / eoq).cast("long").alias("orders_per_period"),
    )


@query(
    "littles_law_orders",
    oracle="""
    WITH spans AS (
        SELECT o.o_orderkey,
               CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT) AS sd,
               CAST(MAX(epoch_us(l.l_shipdate)) // 86400000000 AS BIGINT) AS ed
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, sd
    ), win AS (
        SELECT MIN(sd) AS lo, MAX(sd) AS hi FROM spans
    ), clipped AS (
        SELECT s.o_orderkey, s.sd, s.ed,
               LEAST(s.ed, w.hi) - GREATEST(s.sd, w.lo) + 1 AS in_days,
               s.ed - s.sd + 1 AS full_days
        FROM spans s, win w WHERE s.ed >= s.sd
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(in_days) AS BIGINT) AS order_days,
               CAST(SUM(full_days) AS BIGINT) AS full_order_days,
               CAST(MAX(ed) AS BIGINT) AS dummy
        FROM clipped
    ), days AS (SELECT hi - lo + 1 AS n_days FROM win)
    SELECT m.n_orders, d.n_days,
           ROUND(CAST(m.order_days AS DOUBLE) / d.n_days, 4) AS l_measured,
           ROUND(CAST(m.n_orders AS DOUBLE) / d.n_days, 4) AS lambda_per_day,
           ROUND(CAST(m.full_order_days AS DOUBLE) / m.n_orders, 4) AS w_days,
           ROUND((CAST(m.order_days AS DOUBLE) / d.n_days)
                 / ((CAST(m.n_orders AS DOUBLE) / d.n_days)
                    * (CAST(m.full_order_days AS DOUBLE) / m.n_orders)), 6)
               AS littles_ratio
    FROM mom m, days d
    """,
)
def littles_law_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law audit on the order pipeline: L = λ·W with
    L = time-average in-flight orders (order-days clipped to the
    observation window / window days), λ = arrivals per day, W = mean
    residence (orderdate → last shipment). The ratio L/(λW) measures
    edge truncation — exactly 1 on an infinite window, < 1 when
    long-lived orders overflow the edges; the queueing sanity check
    behind `lindley_waiting_times` and `erlang_c_staffing`'s
    assumptions, with no per-day explode (interval clipping does the
    integral in closed form).

    Determinism: all day spans are exact integers; three divisions at
    the end, each rounded.

    Scale shape: one join + per-order agg (shuffle on orderkey), then
    1-row censuses. The day-grid explode alternative would be
    |orders|×duration rows — clipping is O(|orders|).
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    spans = (
        o.select("o_orderkey", epoch_day("o_orderdate").alias("sd"))
        .join(
            li.select(
                F.col("l_orderkey").alias("o_orderkey"),
                epoch_day("l_shipdate").alias("shd"),
            ),
            "o_orderkey",
        )
        .groupBy("o_orderkey", "sd")
        .agg(F.max("shd").cast("long").alias("ed"))
    )
    win = spans.agg(F.min("sd").alias("lo"), F.max("sd").alias("hi"))
    clipped = (
        spans.where(F.col("ed") >= F.col("sd"))
        .crossJoin(F.broadcast(win))
        .select(
            (
                F.least(F.col("ed"), F.col("hi"))
                - F.greatest(F.col("sd"), F.col("lo"))
                + 1
            ).alias("in_days"),
            (F.col("ed") - F.col("sd") + 1).alias("full_days"),
        )
    )
    mom = clipped.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("in_days").cast("long").alias("order_days"),
        F.sum("full_days").cast("long").alias("full_order_days"),
    )
    days = win.select((F.col("hi") - F.col("lo") + 1).alias("n_days"))
    l_meas = F.col("order_days").cast("double") / F.col("n_days")
    lam = F.col("n_orders").cast("double") / F.col("n_days")
    w = F.col("full_order_days").cast("double") / F.col("n_orders")
    return mom.crossJoin(F.broadcast(days)).select(
        "n_orders",
        "n_days",
        F.round(l_meas, 4).alias("l_measured"),
        F.round(lam, 4).alias("lambda_per_day"),
        F.round(w, 4).alias("w_days"),
        F.round(l_meas / (lam * w), 6).alias("littles_ratio"),
    )


# ---------------------------------------------------------------------------
# wave 181: Hosmer-Lemeshow calibration test, Cramer's V effect size
# ---------------------------------------------------------------------------


@query(
    "hosmer_lemeshow_logistic",
    oracle="""
    WITH pts AS (
        SELECT o_orderkey, ln(o_totalprice) AS x,
               CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y
        FROM orders WHERE o_totalprice > 0
    ), f1 AS (
        SELECT (SUM(x*(4*y-2)) - SUM(x)*SUM(4*y-2)/COUNT(*))
               / (SUM(x*x) - SUM(x)*SUM(x)/COUNT(*)) AS b,
               SUM(4*y-2)/COUNT(*)
               - (SUM(x*(4*y-2)) - SUM(x)*SUM(4*y-2)/COUNT(*))
                 / (SUM(x*x) - SUM(x)*SUM(x)/COUNT(*))
                 * SUM(x)/COUNT(*) AS a
        FROM pts
    ), scored AS (
        SELECT o_orderkey, y, 1.0/(1.0+exp(-(a+b*x))) AS p
        FROM pts, f1
    ), binned AS (
        SELECT y, p, NTILE(10) OVER (ORDER BY p, o_orderkey) AS g
        FROM scored
    ), cells AS (
        SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS o1,
               ROUND(SUM(p), 6) AS e1
        FROM binned GROUP BY g
    ), hl AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
               SUM(pow(o1 - e1, 2) / (e1 * (1.0 - e1 / n))) AS stat
        FROM cells
    )
    SELECT n_bins,
           ROUND(stat, 4) AS hl_stat,
           CAST(CASE WHEN stat > 20.0902 THEN 1 ELSE 0 END AS BIGINT)
               AS miscalibrated_at_99
    FROM hl
    """,
)
def hosmer_lemeshow_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-fit for the one-step logistic model
    of `logistic_irls_status_price`: decile-of-risk bins over p̂, then
    HL = Σ (O₁−E₁)²/(E₁(1−E₁/n)) against χ²(8) 99% (20.0902).
    Completes the calibration trio — `calibration_reliability_bins`
    visualizes, `platt_scaling_calibration` repairs, HL formally tests.

    Determinism: binning is ntile over the TOTAL order (p, orderkey) —
    identical tie-free assignment on both engines; per-bin E₁ (the one
    float accumulation) is rounded to 6 before entering the statistic
    (recurrence-input pattern); observed counts exact.

    Scale shape: one census for the coefficients (broadcast back), one
    global ntile sort — the exact-decile cost, documented: at 100 TB
    swap for fixed p-cut bins (0.1 grid) to stay sort-free — then a
    10-row census.
    """
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    pts = o.select(
        "o_orderkey",
        F.log(F.col("o_totalprice")).alias("x"),
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("y"),
    )
    zc = 4 * F.col("y") - 2
    n = F.count(F.lit(1))
    f1 = pts.agg(
        (
            (F.sum(F.col("x") * zc) - F.sum("x") * F.sum(zc) / n)
            / (F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x") / n)
        ).alias("b"),
        (
            F.sum(zc) / n
            - (F.sum(F.col("x") * zc) - F.sum("x") * F.sum(zc) / n)
            / (F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x") / n)
            * F.sum("x")
            / n
        ).alias("a"),
    )
    scored = pts.crossJoin(F.broadcast(f1)).select(
        "o_orderkey",
        "y",
        (1.0 / (1.0 + F.exp(-(F.col("a") + F.col("b") * F.col("x"))))).alias("p"),
    )
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_ntile,
    )

    # decile assignment over the per-order scores (fact-grain) via the
    # distributed rank machinery — never a single-task global window.
    binned = distributed_ntile(
        scored, "p", "o_orderkey", 10, out_col="g"
    ).select("y", "p", "g")
    cells = binned.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("o1"),
        F.round(F.sum("p"), 6).alias("e1"),
    )
    hl = cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_bins"),
        F.sum(
            F.pow(F.col("o1") - F.col("e1"), 2)
            / (F.col("e1") * (1.0 - F.col("e1") / F.col("n")))
        ).alias("stat"),
    )
    return hl.select(
        "n_bins",
        F.round(F.col("stat"), 4).alias("hl_stat"),
        F.when(F.col("stat") > 20.0902, 1)
        .otherwise(0)
        .cast("long")
        .alias("miscalibrated_at_99"),
    )


@query(
    "cramers_v_priority_status",
    oracle="""
    WITH cells AS (
        SELECT o_orderpriority AS pr, o_orderstatus AS st,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM orders GROUP BY pr, st
    ), marg AS (
        SELECT pr, st, o,
               CAST(SUM(o) OVER (PARTITION BY pr) AS BIGINT) AS rp,
               CAST(SUM(o) OVER (PARTITION BY st) AS BIGINT) AS cs,
               CAST(SUM(o) OVER () AS BIGINT) AS n
        FROM cells
    ), chi AS (
        SELECT MAX(n) AS n,
               CAST(COUNT(DISTINCT pr) AS BIGINT) AS r,
               CAST(COUNT(DISTINCT st) AS BIGINT) AS c,
               SUM(pow(o - CAST(rp AS DOUBLE) * cs / n, 2)
                   / (CAST(rp AS DOUBLE) * cs / n)) AS chi2
        FROM marg
    )
    SELECT n AS n_orders, r AS n_rows_dim, c AS n_cols_dim,
           ROUND(chi2, 4) AS chi2_stat,
           ROUND(sqrt(chi2 / (n * (LEAST(r, c) - 1.0))), 6) AS cramers_v
    FROM chi
    """,
)
def cramers_v_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the priority × status contingency:
    V = √(χ²/(n·(min(r,c)−1))) ∈ [0,1] — the magnitude measure the χ²
    TEST (`chi2_drift_events`) doesn't give; with n in the denominator
    it answers 'does this dependence MATTER', not 'is it detectable',
    which at 100 TB (where everything is significant) is the only
    useful question.

    Determinism: the 15-cell table and its margins are exact; χ² is a
    sum of 15 O(1)-magnitude addends rounded at 4; V is one fixed sqrt
    expression on the unrounded χ², rounded at 6.

    Scale shape: one hash agg to ≤|priorities|×|statuses| rows,
    marginal windows + census on the tiny relation.
    """
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("pr"), F.col("o_orderstatus").alias("st")
    ).agg(F.count(F.lit(1)).cast("long").alias("o"))
    marg = cells.select(
        "pr",
        "st",
        "o",
        F.sum("o").over(Window.partitionBy("pr")).cast("long").alias("rp"),
        F.sum("o").over(Window.partitionBy("st")).cast("long").alias("cs"),
        F.sum("o").over(Window.partitionBy()).cast("long").alias("n"),
    )
    e = F.col("rp").cast("double") * F.col("cs") / F.col("n")
    chi = marg.agg(
        F.max("n").alias("n"),
        F.countDistinct("pr").cast("long").alias("r"),
        F.countDistinct("st").cast("long").alias("c"),
        F.sum(F.pow(F.col("o") - e, 2) / e).alias("chi2"),
    )
    return chi.select(
        F.col("n").alias("n_orders"),
        F.col("r").alias("n_rows_dim"),
        F.col("c").alias("n_cols_dim"),
        F.round(F.col("chi2"), 4).alias("chi2_stat"),
        F.round(
            F.sqrt(
                F.col("chi2") / (F.col("n") * (F.least(F.col("r"), F.col("c")) - 1.0))
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# wave 182: Burrows' Delta authorship distance, Fog/SMOG/ARI readability
# ---------------------------------------------------------------------------


@query(
    "burrows_delta_sources",
    oracle="""
    WITH toks AS (
        SELECT source,
               unnest(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(lower(trim(text)), '\\s+') END)
                   AS tok
        FROM documents
    ), cnt AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks GROUP BY source, tok
    ), tot AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY source
    ), corpus AS (
        SELECT tok, CAST(SUM(c) AS BIGINT) AS cc FROM cnt GROUP BY tok
    ), top AS (
        SELECT tok FROM corpus ORDER BY cc DESC, tok LIMIT 30
    ), grid AS (
        SELECT s.source, p.tok,
               COALESCE((SELECT ROUND(CAST(c.c AS DOUBLE) / s.t, 9)
                         FROM cnt c
                         WHERE c.source = s.source AND c.tok = p.tok), 0.0)
                   AS f
        FROM tot s, top p
    ), z AS (
        SELECT source, tok,
               (f - AVG(f) OVER (PARTITION BY tok))
                   / STDDEV_SAMP(f) OVER (PARTITION BY tok) AS z
        FROM grid
    ), pairs AS (
        SELECT a.source AS s1, b.source AS s2,
               ROUND(AVG(ABS(a.z - b.z)), 4) AS delta
        FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
        GROUP BY s1, s2
    )
    SELECT s1, s2, delta FROM pairs ORDER BY delta, s1, s2 LIMIT 10
    """,
)
def burrows_delta_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between sources: z-score each
    source's relative frequency of the 30 corpus-wide most-frequent
    tokens (the 'function word' profile), Delta = mean |z₁−z₂|; report
    the 10 most stylistically similar source pairs. The authorship-
    attribution staple — catches near-duplicate PROVENANCE (two feeds
    of one upstream) that content dedup misses because the documents
    themselves differ.

    Determinism: counts exact; relative frequencies rounded to 9
    before the z-standardization (recurrence-input pattern); the
    20-value mean/sd and 30-term Delta are O(1)-magnitude float sums
    11 digits above the round(4) grid; final ordering is on the
    ROUNDED delta with (s1, s2) tie-break on both engines.

    Scale shape: explode → (source, token) hash agg; top-30 is a tiny
    global top-k; the z grid is |sources|×30 rows — everything after
    the first agg is dimension-sized. The pair join is |sources|²·30,
    fine for catalog-scale source counts (cap or block for thousands
    of sources; documented).
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    cnt = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cnt = _ckpt(cnt)  # shared fan-out relation
    tot = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("t"))
    top = (
        cnt.groupBy("tok")
        .agg(F.sum("c").cast("long").alias("cc"))
        .orderBy(F.col("cc").desc(), "tok")
        .limit(30)
        .select("tok")
    )
    grid = (
        tot.crossJoin(F.broadcast(top))
        .join(cnt, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            F.coalesce(
                F.round(F.col("c").cast("double") / F.col("t"), 9), F.lit(0.0)
            ).alias("f"),
        )
    )
    wt = Window.partitionBy("tok")
    z = grid.select(
        "source",
        "tok",
        (
            (F.col("f") - F.avg("f").over(wt)) / F.stddev_samp("f").over(wt)
        ).alias("z"),
    )
    a = z.alias("a")
    b = z.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(F.col("a.source").alias("s1"), F.col("b.source").alias("s2"))
        .agg(F.round(F.avg(F.abs(F.col("a.z") - F.col("b.z"))), 4).alias("delta"))
    )
    return pairs.orderBy("delta", "s1", "s2").limit(10)


@query(
    "readability_fog_smog_ari",
    oracle="""
    WITH words AS (
        SELECT doc_id, source,
               unnest(regexp_extract_all(text, '[^ ]+')) AS w
        FROM documents
    ), wstat AS (
        SELECT doc_id, source,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(CASE WHEN len(regexp_extract_all(w, '[aeiouy]+')) >= 3
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_complex,
               CAST(SUM(len(regexp_extract_all(w, '[A-Za-z0-9]'))) AS BIGINT)
                   AS n_chars
        FROM words GROUP BY doc_id, source
    ), sstat AS (
        SELECT doc_id,
               GREATEST(CAST(len(regexp_extract_all(text, '[.!?]'))
                        AS BIGINT), 1) AS n_sent
        FROM documents
    ), per AS (
        SELECT w.source,
               CAST(ROUND(0.4 * (CAST(w.n_words AS DOUBLE) / s.n_sent
                          + 100.0 * w.n_complex / w.n_words) * 1000)
                    AS BIGINT) AS fog_milli,
               CAST(ROUND((1.043 * sqrt(30.0 * w.n_complex / s.n_sent)
                           + 3.1291) * 1000) AS BIGINT) AS smog_milli,
               CAST(ROUND((4.71 * (CAST(w.n_chars AS DOUBLE) / w.n_words)
                           + 0.5 * (CAST(w.n_words AS DOUBLE) / s.n_sent)
                           - 21.43) * 1000) AS BIGINT) AS ari_milli
        FROM wstat w JOIN sstat s ON s.doc_id = w.doc_id
        WHERE w.n_words > 0
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(fog_milli) AS DOUBLE) / COUNT(*) / 1000.0, 4)
               AS avg_fog,
           ROUND(CAST(SUM(smog_milli) AS DOUBLE) / COUNT(*) / 1000.0, 4)
               AS avg_smog,
           ROUND(CAST(SUM(ari_milli) AS DOUBLE) / COUNT(*) / 1000.0, 4)
               AS avg_ari
    FROM per GROUP BY source ORDER BY source
    """,
)
def readability_fog_smog_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gunning Fog, SMOG, and ARI readability per source — the three
    grade-level formulas complementing `readability_flesch_by_source`
    (Fog/SMOG key on COMPLEX words ≥3 vowel groups, ARI on characters,
    Flesch on syllables — disagreement between them is itself a
    text-quality signal for corpus curation).

    Determinism: per-word complex/char counts are exact ('[aeiouy]+'
    and '[A-Za-z0-9]' behave identically in RE2 and Java regex); each
    doc's three scores are fixed-point milli BIGINTs (Flesch-census
    pattern), so per-source averaging is exact integer sums with one
    final division.

    Scale shape: word explode → per-doc hash agg (map-side combined),
    join the per-doc sentence counts (co-keyed on doc_id), → |sources|
    census. One pass over tokens.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        "source",
        F.explode(F.expr("regexp_extract_all(text, '[^ ]+', 0)")).alias("w"),
    )
    wstat = words.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(
            F.when(
                F.expr("size(regexp_extract_all(w, '[aeiouy]+', 0))") >= 3, 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_complex"),
        F.sum(F.expr("size(regexp_extract_all(w, '[A-Za-z0-9]', 0))"))
        .cast("long")
        .alias("n_chars"),
    )
    sstat = docs.select(
        "doc_id",
        F.greatest(
            F.expr("size(regexp_extract_all(text, '[.!?]', 0))").cast("long"),
            F.lit(1),
        ).alias("n_sent"),
    )
    fog = 0.4 * (
        F.col("n_words").cast("double") / F.col("n_sent")
        + 100.0 * F.col("n_complex") / F.col("n_words")
    )
    smog = 1.043 * F.sqrt(30.0 * F.col("n_complex") / F.col("n_sent")) + 3.1291
    ari = (
        4.71 * (F.col("n_chars").cast("double") / F.col("n_words"))
        + 0.5 * (F.col("n_words").cast("double") / F.col("n_sent"))
        - 21.43
    )
    per = (
        wstat.join(sstat, "doc_id")
        .where(F.col("n_words") > 0)
        .select(
            "source",
            F.round(fog * 1000).cast("long").alias("fog_milli"),
            F.round(smog * 1000).cast("long").alias("smog_milli"),
            F.round(ari * 1000).cast("long").alias("ari_milli"),
        )
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(
                F.sum("fog_milli").cast("double") / F.count(F.lit(1)) / 1000.0, 4
            ).alias("avg_fog"),
            F.round(
                F.sum("smog_milli").cast("double") / F.count(F.lit(1)) / 1000.0, 4
            ).alias("avg_smog"),
            F.round(
                F.sum("ari_milli").cast("double") / F.count(F.lit(1)) / 1000.0, 4
            ).alias("avg_ari"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# wave 183: negative-binomial MoM fit, Tukey HSD pairwise comparisons
# ---------------------------------------------------------------------------


@query(
    "negative_binomial_user_events",
    oracle="""
    WITH cnts AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k
        FROM events GROUP BY user_id
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(k) AS BIGINT) AS s1,
               SUM(CAST(k AS HUGEINT) * k) AS s2
        FROM cnts
    ), fit AS (
        SELECT n,
               CAST(s1 AS DOUBLE) / n AS m,
               (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                * (CAST(s1 AS DOUBLE) / n)) / (n - 1) AS v
        FROM mom
    )
    SELECT n AS n_users,
           ROUND(m, 4) AS mean_events,
           ROUND(v, 4) AS var_events,
           ROUND(v / m, 4) AS dispersion_ratio,
           CAST(CASE WHEN v > m THEN 1 ELSE 0 END AS BIGINT) AS overdispersed,
           ROUND(CASE WHEN v > m THEN m * m / (v - m) ELSE 0.0 END, 4)
               AS nb_r,
           ROUND(CASE WHEN v > m THEN m / v ELSE 1.0 END, 6) AS nb_p
    FROM fit
    """,
)
def negative_binomial_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit to per-user event counts:
    r̂ = m²/(s²−m), p̂ = m/s², with the dispersion ratio s²/m that
    decides Poisson vs NB. The parametric upgrade of
    `dispersion_index_daily` (which only indexes) — an NB fit is what
    you need to model user activity heavy tails, size retention
    cohorts, and set `bot_rate_detection` thresholds honestly.

    Determinism: per-user counts and their (n, Σ, Σ²) are exact
    (squares 128-bit); every output is a fixed double expression over
    them, each rounded once; degenerate equidispersion falls back to
    documented constants.

    Scale shape: fact → per-user hash agg (map-side combined) → 1-row
    census. Cheapest possible two-moment fit.
    """
    ev = load_table(spark, sf_dir, "events")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    cnts = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("k"))
    mom = cnts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("s1"),
        F.sum(dec("k") * dec("k")).alias("s2"),
    )
    m = F.col("s1").cast("double") / F.col("n")
    v = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * (F.col("s1").cast("double") / F.col("n"))
    ) / (F.col("n") - 1)
    fit = mom.select("n", m.alias("m"), v.alias("v"))
    return fit.select(
        F.col("n").alias("n_users"),
        F.round(F.col("m"), 4).alias("mean_events"),
        F.round(F.col("v"), 4).alias("var_events"),
        F.round(F.col("v") / F.col("m"), 4).alias("dispersion_ratio"),
        F.when(F.col("v") > F.col("m"), 1)
        .otherwise(0)
        .cast("long")
        .alias("overdispersed"),
        F.round(
            F.when(
                F.col("v") > F.col("m"),
                F.col("m") * F.col("m") / (F.col("v") - F.col("m")),
            ).otherwise(0.0),
            4,
        ).alias("nb_r"),
        F.round(
            F.when(F.col("v") > F.col("m"), F.col("m") / F.col("v")).otherwise(1.0),
            6,
        ).alias("nb_p"),
    )


@query(
    "tukey_hsd_priority_values",
    oracle="""
    WITH g AS (
        SELECT CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS s1,
               SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) AS HUGEINT)
                   * CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS s2
        FROM orders GROUP BY gid
    ), msw AS (
        SELECT SUM((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                    * (CAST(s1 AS DOUBLE) / n)))
               / (SUM(n) - COUNT(*)) AS w,
               CAST(SUM(n) AS BIGINT) AS ntot,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM g
    ), pairs AS (
        SELECT a.gid AS g1, b.gid AS g2, a.n AS n1, b.n AS n2,
               CAST(a.s1 AS DOUBLE) / a.n - CAST(b.s1 AS DOUBLE) / b.n AS diff,
               sqrt(m.w / 2.0 * (1.0 / a.n + 1.0 / b.n)) AS se
        FROM g a JOIN g b ON a.gid < b.gid, msw m
    )
    SELECT g1, g2, n1, n2,
           ROUND(diff / 100.0, 4) AS mean_diff_dollars,
           ROUND(ABS(diff) / se, 4) AS q_stat,
           CAST(CASE WHEN ABS(diff) / se > 4.60 THEN 1 ELSE 0 END AS BIGINT)
               AS significant_at_99
    FROM pairs ORDER BY g1, g2
    """,
)
def tukey_hsd_priority_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD post-hoc pairwise comparisons following
    `anova_f_order_priority`: all 10 priority-class mean differences
    studentized by √(MSW/2·(1/nᵢ+1/nⱼ)) against the studentized-range
    99% critical q(5,∞)=4.60 — the familywise-honest answer to WHICH
    groups differ once ANOVA says SOME do (`bh_fdr_nation_urgent`
    handles the many-hypothesis regime; HSD the few-group one).

    Determinism: per-group (n, Σ, Σ²) exact in cents/128-bit; MSW is a
    5-addend double census over them (addends ~10¹⁷, ulps 10 digits
    below the q round grid); mean diffs are exact-integer divisions;
    one round per output with flags on unrounded values.

    Scale shape: one 5-row hash agg with map-side partials; the pair
    join and census run on the 5-row relation. Nothing else touches
    the fact table.
    """
    o = load_table(spark, sf_dir, "orders")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    g = (
        o.select(
            F.substring("o_orderpriority", 1, 1).cast("long").alias("gid"),
            cents.alias("v"),
        )
        .groupBy("gid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("long").alias("s1"),
            F.sum(dec("v") * dec("v")).alias("s2"),
        )
    )
    msw = g.agg(
        (
            F.sum(
                F.col("s2").cast("double")
                - F.col("s1").cast("double")
                * (F.col("s1").cast("double") / F.col("n"))
            )
            / (F.sum("n") - F.count(F.lit(1)))
        ).alias("w"),
        F.sum("n").cast("long").alias("ntot"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    a = g.alias("a")
    b = g.alias("b")
    diff = F.col("a.s1").cast("double") / F.col("a.n") - F.col("b.s1").cast(
        "double"
    ) / F.col("b.n")
    se = F.sqrt(F.col("w") / 2.0 * (1.0 / F.col("a.n") + 1.0 / F.col("b.n")))
    pairs = (
        a.join(b, F.col("a.gid") < F.col("b.gid"))
        .crossJoin(F.broadcast(msw))
        .select(
            F.col("a.gid").alias("g1"),
            F.col("b.gid").alias("g2"),
            F.col("a.n").alias("n1"),
            F.col("b.n").alias("n2"),
            diff.alias("diff"),
            se.alias("se"),
        )
    )
    q = F.abs(F.col("diff")) / F.col("se")
    return pairs.select(
        "g1",
        "g2",
        "n1",
        "n2",
        F.round(F.col("diff") / 100.0, 4).alias("mean_diff_dollars"),
        F.round(q, 4).alias("q_stat"),
        F.when(q > 4.60, 1).otherwise(0).cast("long").alias("significant_at_99"),
    ).orderBy("g1", "g2")


# ---------------------------------------------------------------------------
# wave 184: event-study profile, Oaxaca-Blinder decomposition
# ---------------------------------------------------------------------------


@query(
    "event_study_first_purchase",
    oracle="""
    WITH firstp AS (
        SELECT user_id,
               MIN(CAST(epoch_us(ts) // 86400000000 AS BIGINT)) AS d0
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), daily AS (
        SELECT e.user_id,
               CAST(epoch_us(e.ts) // 86400000000 AS BIGINT) - f.d0 AS tau,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM events e JOIN firstp f ON f.user_id = e.user_id
        GROUP BY e.user_id, tau
    ), win AS (
        SELECT tau, CAST(SUM(k) AS BIGINT) AS total_events,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM daily WHERE tau BETWEEN -7 AND 7 GROUP BY tau
    ), base AS (
        SELECT CAST(SUM(total_events) AS BIGINT) AS pre_ev,
               CAST(SUM(n_users) AS BIGINT) AS pre_u
        FROM win WHERE tau < 0
    )
    SELECT w.tau, w.n_users, w.total_events,
           ROUND(CAST(w.total_events AS DOUBLE) / w.n_users, 4)
               AS events_per_active_user,
           ROUND(CAST(w.total_events AS DOUBLE) / w.n_users
                 - CAST(b.pre_ev AS DOUBLE) / b.pre_u, 4) AS delta_vs_pre
    FROM win w, base b ORDER BY w.tau
    """,
)
def event_study_first_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study profile around each user's FIRST purchase: activity
    per active user at relative day τ ∈ [−7, +7], differenced against
    the pooled pre-period mean — the dynamic-treatment-effects picture
    (anticipation in τ<0, response decay in τ>0) that a single
    `diff_in_diff_revenue` coefficient averages away.

    Determinism: day offsets and counts exact; per-τ ratios and the
    pre-baseline are single divisions, rounded once.

    Scale shape: first-purchase census (hash agg) joins back
    shuffle-co-keyed on user_id; (user, τ) agg collapses before the
    15-row window census. The τ grid is bounded by construction.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    firstp = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(epoch_day("ts")).alias("d0"))
    )
    daily = (
        ev.join(firstp, "user_id")
        .select("user_id", (epoch_day("ts") - F.col("d0")).alias("tau"))
        .groupBy("user_id", "tau")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    win = (
        daily.where((F.col("tau") >= -7) & (F.col("tau") <= 7))
        .groupBy("tau")
        .agg(
            F.sum("k").cast("long").alias("total_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )
    win = _ckpt(win)  # shared fan-out relation
    base = win.where(F.col("tau") < 0).agg(
        F.sum("total_events").cast("long").alias("pre_ev"),
        F.sum("n_users").cast("long").alias("pre_u"),
    )
    rate = F.col("total_events").cast("double") / F.col("n_users")
    pre = F.col("pre_ev").cast("double") / F.col("pre_u")
    return (
        win.crossJoin(F.broadcast(base))
        .select(
            "tau",
            "n_users",
            "total_events",
            F.round(rate, 4).alias("events_per_active_user"),
            F.round(rate - pre, 4).alias("delta_vs_pre"),
        )
        .orderBy("tau")
    )


@query(
    "oaxaca_blinder_segments",
    oracle="""
    WITH pts AS (
        SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 'A' ELSE 'B' END
                   AS grp,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS y,
               CAST(cnt.k AS BIGINT) AS x
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS k
              FROM lineitem GROUP BY l_orderkey) cnt
          ON cnt.l_orderkey = o.o_orderkey
    ), mom AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(x AS HUGEINT) * y) AS sxy
        FROM pts GROUP BY grp
    ), co AS (
        SELECT grp, n,
               CAST(sx AS DOUBLE) / n AS mx,
               CAST(sy AS DOUBLE) / n AS my,
               CAST(n * sxy - sx * CAST(sy AS HUGEINT) AS DOUBLE)
                   / CAST(n * sxx - sx * CAST(sx AS HUGEINT) AS DOUBLE) AS b
        FROM mom
    ), wide AS (
        SELECT MAX(CASE WHEN grp = 'A' THEN n END) AS n_a,
               MAX(CASE WHEN grp = 'B' THEN n END) AS n_b,
               MAX(CASE WHEN grp = 'A' THEN mx END) AS mx_a,
               MAX(CASE WHEN grp = 'B' THEN mx END) AS mx_b,
               MAX(CASE WHEN grp = 'A' THEN my END) AS my_a,
               MAX(CASE WHEN grp = 'B' THEN my END) AS my_b,
               MAX(CASE WHEN grp = 'A' THEN b END) AS b_a,
               MAX(CASE WHEN grp = 'B' THEN b END) AS b_b
        FROM co
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           ROUND((my_a - my_b) / 100.0, 4) AS gap_dollars,
           ROUND((mx_a - mx_b) * b_b / 100.0, 4) AS explained_dollars,
           ROUND(((my_a - my_b) - (mx_a - mx_b) * b_b) / 100.0, 4)
               AS unexplained_dollars,
           ROUND((mx_a - mx_b) * b_b / (my_a - my_b), 6) AS explained_share
    FROM wide
    """,
)
def oaxaca_blinder_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oaxaca-Blinder two-fold decomposition of the BUILDING-vs-rest
    order-value gap: how much is EXPLAINED by basket size (lineitem
    count, evaluated at the reference group's slope Δx̄·β_B) and how
    much is the UNEXPLAINED structural residual (Δβ at group-A
    endowments + intercepts)? The standard audit for 'is this segment
    premium composition or behaviour' — `diff_in_diff_revenue` needs
    time; this decomposes a cross-section.

    Determinism: per-group regression moments exact (128-bit cross
    sums); slopes are cleared-denominator ratios cast to double;
    every output is one fixed expression, rounded once.

    Scale shape: basket sizes from one lineitem hash agg joined
    shuffle-co-keyed on orderkey; customer dim broadcast; then a 2-row
    moment agg and a 1-row pivot census.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    cnt = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    pts = (
        o.join(
            F.broadcast(c.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")),
            "o_custkey",
        )
        .join(cnt, "o_orderkey")
        .select(
            F.when(F.col("c_mktsegment") == "BUILDING", "A")
            .otherwise("B")
            .alias("grp"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("y"),
            "x",
        )
    )
    mom = pts.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
    )
    co = mom.select(
        "grp",
        "n",
        (F.col("sx").cast("double") / F.col("n")).alias("mx"),
        (F.col("sy").cast("double") / F.col("n")).alias("my"),
        (
            (dec("n") * F.col("sxy") - dec("sx") * dec("sy")).cast("double")
            / (dec("n") * F.col("sxx") - dec("sx") * dec("sx")).cast("double")
        ).alias("b"),
    )
    wide = co.agg(
        F.max(F.when(F.col("grp") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("grp") == "A", F.col("mx"))).alias("mx_a"),
        F.max(F.when(F.col("grp") == "B", F.col("mx"))).alias("mx_b"),
        F.max(F.when(F.col("grp") == "A", F.col("my"))).alias("my_a"),
        F.max(F.when(F.col("grp") == "B", F.col("my"))).alias("my_b"),
        F.max(F.when(F.col("grp") == "A", F.col("b"))).alias("b_a"),
        F.max(F.when(F.col("grp") == "B", F.col("b"))).alias("b_b"),
    )
    gap = F.col("my_a") - F.col("my_b")
    expl = (F.col("mx_a") - F.col("mx_b")) * F.col("b_b")
    return wide.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(gap / 100.0, 4).alias("gap_dollars"),
        F.round(expl / 100.0, 4).alias("explained_dollars"),
        F.round((gap - expl) / 100.0, 4).alias("unexplained_dollars"),
        F.round(expl / gap, 6).alias("explained_share"),
    )


# ---------------------------------------------------------------------------
# wave 185: Kendall's W concordance, Page's L ordered trend test
# ---------------------------------------------------------------------------


@query(
    "kendalls_w_nation_types",
    oracle="""
    WITH flows AS (
        SELECT s.s_nationkey AS nk, p.p_type AS ptype,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS x
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY nk, ptype
    ), ranked AS (
        SELECT nk, ptype,
               CAST(ROW_NUMBER() OVER (PARTITION BY nk ORDER BY x, ptype)
                    AS BIGINT) AS r
        FROM flows
    ), sums AS (
        SELECT ptype, CAST(SUM(r) AS BIGINT) AS rj,
               CAST(COUNT(*) AS BIGINT) AS m_check
        FROM ranked GROUP BY ptype
    ), census AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(MAX(m_check) AS BIGINT) AS m,
               CAST(SUM((2 * rj) * (2 * rj)) AS BIGINT) AS s4_raw,
               CAST(SUM(2 * rj) AS BIGINT) AS sr2
        FROM sums
    ), w AS (
        SELECT k, m,
               (CAST(s4_raw AS DOUBLE)
                - CAST(sr2 AS DOUBLE) * sr2 / k) / 4.0 AS s
        FROM census
    )
    SELECT m AS n_judges, k AS n_objects,
           ROUND(12.0 * s
                 / (CAST(m AS DOUBLE) * m * k * (CAST(k AS DOUBLE) * k - 1)),
                 6) AS kendalls_w,
           ROUND(m * (k - 1) * 12.0 * s
                 / (CAST(m AS DOUBLE) * m * k * (CAST(k AS DOUBLE) * k - 1)),
                 4) AS chi2_stat,
           CAST(CASE WHEN m * (k - 1) * 12.0 * s
                 / (CAST(m AS DOUBLE) * m * k * (CAST(k AS DOUBLE) * k - 1))
                 > 15.0863 THEN 1 ELSE 0 END AS BIGINT) AS concordant_at_99
    FROM w
    """,
)
def kendalls_w_nation_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W: do the 25 supplier
    nations RANK the six part types the same way by revenue? W =
    12S/(m²k(k²−1)) with S the variance of rank-column sums, plus the
    χ²(k−1) = m(k−1)W significance check at 99% (15.0863 for 5 df).
    The many-judges generalization of `kendall_tau_rankings` (two
    lists) and the concordance view of `friedman_weekly_type_ranks`
    (they share a statistic: Q = m(k−1)W).

    Determinism: revenues exact cents; within-judge ranks are
    row_number with a (value, name) total order — no midranks needed;
    S is computed from exact integer rank sums via the cleared form
    4S = Σ(2Rⱼ)² − (Σ2Rⱼ)²/k; W and χ² are fixed double expressions,
    rounded once, flag on unrounded.

    Scale shape: fact + two broadcast dims → |nations|×|types| agg;
    ranking windows on the 150-row relation; 1-row census.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part")
    flows = (
        li.join(
            F.broadcast(s.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")),
            "l_suppkey",
        )
        .join(
            F.broadcast(p.select(F.col("p_partkey").alias("l_partkey"), "p_type")),
            "l_partkey",
        )
        .groupBy(F.col("s_nationkey").alias("nk"), F.col("p_type").alias("ptype"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("x")
        )
    )
    ranked = flows.select(
        "nk",
        "ptype",
        F.row_number()
        .over(Window.partitionBy("nk").orderBy("x", "ptype"))
        .cast("long")
        .alias("r"),
    )
    sums = ranked.groupBy("ptype").agg(
        F.sum("r").cast("long").alias("rj"),
        F.count(F.lit(1)).cast("long").alias("m_check"),
    )
    census = sums.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.max("m_check").cast("long").alias("m"),
        F.sum((2 * F.col("rj")) * (2 * F.col("rj"))).cast("long").alias("s4_raw"),
        F.sum(2 * F.col("rj")).cast("long").alias("sr2"),
    )
    sexp = (
        F.col("s4_raw").cast("double")
        - F.col("sr2").cast("double") * F.col("sr2") / F.col("k")
    ) / 4.0
    w = census.select("k", "m", sexp.alias("s"))
    kw = (
        12.0
        * F.col("s")
        / (
            F.col("m").cast("double")
            * F.col("m")
            * F.col("k")
            * (F.col("k").cast("double") * F.col("k") - 1)
        )
    )
    chi2 = F.col("m") * (F.col("k") - 1) * kw
    return w.select(
        F.col("m").alias("n_judges"),
        F.col("k").alias("n_objects"),
        F.round(kw, 6).alias("kendalls_w"),
        F.round(chi2, 4).alias("chi2_stat"),
        F.when(chi2 > 15.0863, 1)
        .otherwise(0)
        .cast("long")
        .alias("concordant_at_99"),
    )


@query(
    "pages_l_weekly_priority",
    oracle="""
    WITH cell AS (
        SELECT CAST(epoch_us(o_orderdate) // 604800000000 AS BIGINT) AS wk,
               CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS tr,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS v
        FROM orders GROUP BY wk, tr
    ), full_blocks AS (
        SELECT wk FROM cell GROUP BY wk HAVING COUNT(*) = 5
    ), ranked AS (
        SELECT c.wk, c.tr,
               CAST(ROW_NUMBER() OVER (PARTITION BY c.wk ORDER BY c.v, c.tr)
                    AS BIGINT) AS r
        FROM cell c JOIN full_blocks b ON b.wk = c.wk
    ), sums AS (
        SELECT tr, CAST(SUM(r) AS BIGINT) AS ri FROM ranked GROUP BY tr
    ), census AS (
        SELECT CAST(SUM(tr * ri) AS BIGINT) AS l,
               CAST((SELECT COUNT(*) FROM full_blocks) AS BIGINT) AS m
        FROM sums
    )
    SELECT m AS n_blocks, l AS pages_l,
           ROUND((l - m * 5.0 * 36.0 / 4.0)
                 / sqrt(m * 25.0 * 6.0 * 24.0 / 144.0), 4) AS z_stat,
           CAST(CASE WHEN ABS((l - m * 5.0 * 36.0 / 4.0)
                 / sqrt(m * 25.0 * 6.0 * 24.0 / 144.0)) > 2.5758
                 THEN 1 ELSE 0 END AS BIGINT) AS ordered_trend_at_99
    FROM census
    """,
)
def pages_l_weekly_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test for an ORDERED alternative across the five priority
    levels, blocked by week: L = Σᵢ i·Rᵢ over within-week ranks of
    weekly revenue, with the large-sample z approximation
    (μ = mk(k+1)²/4, σ² = mk²(k+1)(k²−1)/144, k=5). Where
    `friedman_weekly_type_ranks` asks 'do treatments differ at all',
    Page asks 'do they INCREASE in the hypothesized order' — far more
    powerful when the alternative is monotone (`cochran_armitage_*` is
    the binary-outcome analogue).

    Determinism: weekly cell revenues exact; within-block ranks are
    row_number with (value, treatment) total order; L is an exact
    integer; z is one fixed expression, rounded once. Incomplete weeks
    (missing any of the 5 classes) are excluded — documented.

    Scale shape: fact → |weeks|×5 hash agg; rank windows + censuses on
    that tiny relation.
    """
    o = load_table(spark, sf_dir, "orders")
    cell = (
        o.select(
            F.expr(
                "unix_micros(CAST(o_orderdate AS timestamp_ltz)) div 604800000000"
            )
            .cast("long")
            .alias("wk"),
            F.substring("o_orderpriority", 1, 1).cast("long").alias("tr"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
        )
        .groupBy("wk", "tr")
        .agg(F.sum("c").cast("long").alias("v"))
    )
    full_blocks = (
        cell.groupBy("wk")
        .agg(F.count(F.lit(1)).alias("nt"))
        .where(F.col("nt") == 5)
        .select("wk")
    )
    ranked = cell.join(full_blocks, "wk").select(
        "wk",
        "tr",
        F.row_number()
        .over(Window.partitionBy("wk").orderBy("v", "tr"))
        .cast("long")
        .alias("r"),
    )
    sums = ranked.groupBy("tr").agg(F.sum("r").cast("long").alias("ri"))
    m_blocks = full_blocks.agg(F.count(F.lit(1)).cast("long").alias("m"))
    census = sums.agg(
        F.sum(F.col("tr") * F.col("ri")).cast("long").alias("l")
    ).crossJoin(F.broadcast(m_blocks))
    z = (F.col("l") - F.col("m") * 5.0 * 36.0 / 4.0) / F.sqrt(
        F.col("m") * 25.0 * 6.0 * 24.0 / 144.0
    )
    return census.select(
        F.col("m").alias("n_blocks"),
        F.col("l").alias("pages_l"),
        F.round(z, 4).alias("z_stat"),
        F.when(F.abs(z) > 2.5758, 1)
        .otherwise(0)
        .cast("long")
        .alias("ordered_trend_at_99"),
    )


# ---------------------------------------------------------------------------
# wave 186: RSI momentum oscillator, MACD crossing census
# ---------------------------------------------------------------------------


@query(
    "rsi_sma_daily_value",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY day
    ), chg AS (
        SELECT day, v - LAG(v) OVER (ORDER BY day) AS d FROM daily
    ), gl AS (
        SELECT day,
               CASE WHEN d > 0 THEN d ELSE 0 END AS g,
               CASE WHEN d < 0 THEN -d ELSE 0 END AS l
        FROM chg WHERE d IS NOT NULL
    ), roll AS (
        SELECT day,
               CAST(SUM(g) OVER w AS BIGINT) AS sg,
               CAST(SUM(l) OVER w AS BIGINT) AS sl,
               CAST(COUNT(*) OVER w AS BIGINT) AS k
        FROM gl
        WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
    ), rsi AS (
        SELECT day,
               CASE WHEN sl = 0 THEN 100.0
                    ELSE 100.0 - 100.0 / (1.0 + CAST(sg AS DOUBLE) / sl) END
                   AS r
        FROM roll WHERE k = 14
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN r > 70.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS overbought_days,
           CAST(SUM(CASE WHEN r < 30.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS oversold_days,
           ROUND(MAX(CASE WHEN day = (SELECT MAX(day) FROM rsi) THEN r END), 4)
               AS latest_rsi
    FROM rsi
    """,
)
def rsi_sma_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSI-14 (simple-average Cutler form) on daily event value: rolling
    14-day gain/loss sums → RS → RSI = 100 − 100/(1+RS), with
    overbought (>70) / oversold (<30) day censuses and the latest
    reading. The bounded momentum oscillator complementing
    `bollinger_breach_census` (volatility bands) and
    `ewma_user_value` (level smoothing) — Cutler's SMA variant chosen
    over Wilder's precisely because it needs no recursion.

    Determinism: daily deltas, gains, losses, and their rolling sums
    are exact integers; RSI is one fixed double expression per day
    (zero-loss guard → exact 100), censuses compare unrounded doubles
    built from identical trees; one round on the final reading.

    Scale shape: fact → |days| hash agg; one lag + one frame window on
    the day relation; census. No recursion, no fold.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            epoch_day("ts").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("long").alias("v"))
    )
    wd = Window.orderBy("day")
    chg = daily.select("day", (F.col("v") - F.lag("v").over(wd)).alias("d"))
    gl = chg.where(F.col("d").isNotNull()).select(
        "day",
        F.when(F.col("d") > 0, F.col("d")).otherwise(0).alias("g"),
        F.when(F.col("d") < 0, -F.col("d")).otherwise(0).alias("l"),
    )
    wr = Window.orderBy("day").rowsBetween(-13, 0)
    roll = gl.select(
        "day",
        F.sum("g").over(wr).cast("long").alias("sg"),
        F.sum("l").over(wr).cast("long").alias("sl"),
        F.count(F.lit(1)).over(wr).cast("long").alias("k"),
    ).where(F.col("k") == 14)
    r = F.when(F.col("sl") == 0, F.lit(100.0)).otherwise(
        100.0 - 100.0 / (1.0 + F.col("sg").cast("double") / F.col("sl"))
    )
    rsi = roll.select("day", r.alias("r"))
    last_day = rsi.agg(F.max("day").alias("ld"))
    return rsi.crossJoin(F.broadcast(last_day)).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.when(F.col("r") > 70.0, 1).otherwise(0))
        .cast("long")
        .alias("overbought_days"),
        F.sum(F.when(F.col("r") < 30.0, 1).otherwise(0))
        .cast("long")
        .alias("oversold_days"),
        F.round(
            F.max(F.when(F.col("day") == F.col("ld"), F.col("r"))), 4
        ).alias("latest_rsi"),
    )


@query(
    "macd_crossings_daily",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               ROUND(SUM(value), 6) AS y
        FROM events GROUP BY day
    ), idx AS (
        SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily
    ), rec AS (
        SELECT i, n, y AS e12, y AS e26, CAST(0.0 AS DOUBLE) AS macd_prev,
               CAST(0.0 AS DOUBLE) AS sig,
               CAST(0 AS BIGINT) AS crossings
        FROM idx WHERE i = 1
        UNION ALL
        SELECT d.i, d.n,
               r.e12 + (d.y - r.e12) * 2.0 / 13.0 AS e12n,
               r.e26 + (d.y - r.e26) * 2.0 / 27.0 AS e26n,
               (r.e12 + (d.y - r.e12) * 2.0 / 13.0)
               - (r.e26 + (d.y - r.e26) * 2.0 / 27.0) AS macd_n,
               r.sig + (((r.e12 + (d.y - r.e12) * 2.0 / 13.0)
                         - (r.e26 + (d.y - r.e26) * 2.0 / 27.0)) - r.sig)
                     * 2.0 / 10.0 AS sig_n,
               r.crossings
               + CASE WHEN ((r.e12 + (d.y - r.e12) * 2.0 / 13.0)
                            - (r.e26 + (d.y - r.e26) * 2.0 / 27.0)
                            - (r.sig + (((r.e12 + (d.y - r.e12) * 2.0 / 13.0)
                                         - (r.e26 + (d.y - r.e26) * 2.0
                                            / 27.0)) - r.sig) * 2.0 / 10.0))
                           * (r.macd_prev - r.sig) < 0
                      THEN 1 ELSE 0 END
        FROM rec r JOIN idx d ON d.i = r.i + 1
    )
    SELECT n AS n_days,
           ROUND(macd_prev, 6) AS macd_last,
           ROUND(sig, 6) AS signal_last,
           crossings AS n_crossings
    FROM rec WHERE i = n
    """,
)
def macd_crossings_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD(12,26,9) on the daily event-value series: fast/slow EMAs,
    the signal-line EMA of their difference, and a census of
    signal-line crossings (momentum regime flips). Sequential EMA
    recurrences run as ONE `aggregate` HOF fold carrying
    (e12, e26, macd, signal, crossings); the oracle unrolls the same
    recurrence as a recursive CTE — the `holt_winters_weekly` pattern
    with a path-dependent counter in the state, which no window
    function can express.

    Determinism: daily inputs rounded to 6 before the fold; both
    engines evaluate one shared IEEE dag per step (identical
    parenthesization, constants 2/13, 2/27, 2/10); the crossing test
    is a sign product of those doubles; outputs rounded once.

    Scale shape: fact → |days| hash agg; bounded per-series array;
    in-row fold. Same reduce-then-fold shape as every recurrence here.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(epoch_day("ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("y")
    )
    series = daily.agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("arr")
    )
    fold = """
    aggregate(
      slice(transform(arr, x -> x.y), 2, greatest(size(arr) - 1, 0)),
      named_struct('e12', CAST(arr[0].y AS DOUBLE),
                   'e26', CAST(arr[0].y AS DOUBLE),
                   'macd', CAST(0.0 AS DOUBLE),
                   'sig', CAST(0.0 AS DOUBLE),
                   'crossings', CAST(0 AS BIGINT)),
      (acc, y) -> named_struct(
        'e12', acc.e12 + (y - acc.e12) * 2.0 / 13.0,
        'e26', acc.e26 + (y - acc.e26) * 2.0 / 27.0,
        'macd', (acc.e12 + (y - acc.e12) * 2.0 / 13.0)
                - (acc.e26 + (y - acc.e26) * 2.0 / 27.0),
        'sig', acc.sig + (((acc.e12 + (y - acc.e12) * 2.0 / 13.0)
                           - (acc.e26 + (y - acc.e26) * 2.0 / 27.0))
                          - acc.sig) * 2.0 / 10.0,
        'crossings', acc.crossings
          + CASE WHEN ((acc.e12 + (y - acc.e12) * 2.0 / 13.0)
                       - (acc.e26 + (y - acc.e26) * 2.0 / 27.0)
                       - (acc.sig + (((acc.e12 + (y - acc.e12) * 2.0 / 13.0)
                                      - (acc.e26 + (y - acc.e26) * 2.0
                                         / 27.0)) - acc.sig) * 2.0 / 10.0))
                      * (acc.macd - acc.sig) < 0
                 THEN 1 ELSE 0 END))
    """
    fitted = series.select(
        F.size("arr").cast("long").alias("n_days"), F.expr(fold).alias("m")
    )
    return fitted.select(
        "n_days",
        F.round(F.col("m.macd"), 6).alias("macd_last"),
        F.round(F.col("m.sig"), 6).alias("signal_last"),
        F.col("m.crossings").alias("n_crossings"),
    )


# ---------------------------------------------------------------------------
# wave 187: Cronbach's alpha, intraclass correlation ICC(1,1)
# ---------------------------------------------------------------------------


@query(
    "cronbach_alpha_linenumbers",
    oracle="""
    WITH four AS (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING COUNT(*) = 4
    ), items AS (
        SELECT l.l_orderkey, l.l_linenumber,
               CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS v
        FROM lineitem l JOIN four f ON f.l_orderkey = l.l_orderkey
        WHERE l.l_linenumber BETWEEN 1 AND 4
    ), per_item AS (
        SELECT l_linenumber,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s1,
               SUM(CAST(v AS HUGEINT) * v) AS s2
        FROM items GROUP BY l_linenumber
    ), item_vars AS (
        SELECT SUM((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                    * (CAST(s1 AS DOUBLE) / n)) / (n - 1)) AS sum_vi,
               CAST(MAX(n) AS BIGINT) AS n_orders
        FROM per_item
    ), totals AS (
        SELECT l_orderkey, CAST(SUM(v) AS BIGINT) AS t
        FROM items GROUP BY l_orderkey
    ), tot_var AS (
        SELECT (CAST(SUM(CAST(t AS HUGEINT) * t) AS DOUBLE)
                - CAST(SUM(t) AS DOUBLE)
                  * (CAST(SUM(t) AS DOUBLE) / COUNT(*))) / (COUNT(*) - 1)
                   AS vt
        FROM totals
    )
    SELECT i.n_orders,
           ROUND(i.sum_vi / 10000.0, 4) AS sum_item_var_dollars2,
           ROUND(t.vt / 10000.0, 4) AS total_var_dollars2,
           ROUND(4.0 / 3.0 * (1.0 - i.sum_vi / t.vt), 6) AS cronbach_alpha
    FROM item_vars i, tot_var t
    """,
)
def cronbach_alpha_linenumbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha treating the four line slots of 4-line orders as
    four 'test items' scored by extended price: α = k/(k−1)·(1 −
    Σvarᵢ/var_total). The internal-consistency coefficient of classical
    test theory — in pipeline terms, 'do the line positions of an order
    move together?', the scale-reliability sibling of
    `fleiss_kappa_returnflags` (categorical agreement on the same
    4-line cohort).

    Determinism: per-item and total moments exact (cents, 128-bit
    squares); variances and α are fixed double expressions with one
    round each.

    Scale shape: the HAVING-4 filter and both moment aggs are map-side-
    combinable hash aggs; no windows, no sort. Two passes over the
    filtered fact.
    """
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    four = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("nl"))
        .where(F.col("nl") == 4)
        .select("l_orderkey")
    )
    items = (
        li.join(four, "l_orderkey")
        .where(F.col("l_linenumber").between(1, 4))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
        )
    )
    items = _ckpt(items)  # shared fan-out relation
    per_item = items.groupBy("l_linenumber").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s1"),
        F.sum(dec("v") * dec("v")).alias("s2"),
    )
    item_vars = per_item.agg(
        F.sum(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double")
                * (F.col("s1").cast("double") / F.col("n"))
            )
            / (F.col("n") - 1)
        ).alias("sum_vi"),
        F.max("n").cast("long").alias("n_orders"),
    )
    totals = items.groupBy("l_orderkey").agg(F.sum("v").cast("long").alias("t"))
    tot_var = totals.agg(
        (
            (
                F.sum(dec("t") * dec("t")).cast("double")
                - F.sum("t").cast("double")
                * (F.sum("t").cast("double") / F.count(F.lit(1)))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("vt")
    )
    return item_vars.crossJoin(F.broadcast(tot_var)).select(
        "n_orders",
        F.round(F.col("sum_vi") / 10000.0, 4).alias("sum_item_var_dollars2"),
        F.round(F.col("vt") / 10000.0, 4).alias("total_var_dollars2"),
        F.round(4.0 / 3.0 * (1.0 - F.col("sum_vi") / F.col("vt")), 6).alias(
            "cronbach_alpha"
        ),
    )


@query(
    "icc_order_line_prices",
    oracle="""
    WITH four AS (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING COUNT(*) = 4
    ), items AS (
        SELECT l.l_orderkey,
               CAST(ROUND(l.l_extendedprice * 100) AS BIGINT) AS v
        FROM lineitem l JOIN four f ON f.l_orderkey = l.l_orderkey
    ), grp AS (
        SELECT l_orderkey, CAST(SUM(v) AS BIGINT) AS gs,
               SUM(CAST(v AS HUGEINT) * v) AS gss
        FROM items GROUP BY l_orderkey
    ), census AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS g,
               CAST(SUM(gs) AS HUGEINT) AS s1,
               CAST(SUM(gss) AS HUGEINT) AS s2,
               SUM(CAST(gs AS HUGEINT) * gs) AS sg2
        FROM grp
    ), ms AS (
        SELECT g,
               (CAST(sg2 AS DOUBLE) / 4.0
                - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / (4.0 * g)))
               / (g - 1) AS msb,
               (CAST(s2 AS DOUBLE) - CAST(sg2 AS DOUBLE) / 4.0)
               / (g * 3.0) AS msw
        FROM census
    )
    SELECT g AS n_orders,
           ROUND(msb / 10000.0, 4) AS msb_dollars2,
           ROUND(msw / 10000.0, 4) AS msw_dollars2,
           ROUND((msb - msw) / (msb + 3.0 * msw), 6) AS icc_1_1
    FROM ms
    """,
)
def icc_order_line_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICC(1,1) — one-way random-effects intraclass correlation of line
    prices within 4-line orders: (MSB−MSW)/(MSB+(k−1)MSW), k=4. Where
    `cronbach_alpha_linenumbers` asks about slot-wise consistency, ICC
    asks the clustering question that decides whether ORDER-level
    effects exist: the same statistic that sizes design effects for
    cluster sampling (`survey_sample_estimate`) and mixed models.

    Determinism: group sums and the three censuses are exact 128-bit
    integers; MSB/MSW/ICC are fixed double expressions, one round
    each.

    Scale shape: filter + per-order agg (hash, map-side combined) →
    1-row census. ANOVA sums-of-squares without materializing a single
    squared residual.
    """
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    four = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("nl"))
        .where(F.col("nl") == 4)
        .select("l_orderkey")
    )
    items = li.join(four, "l_orderkey").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("v"),
    )
    grp = items.groupBy("l_orderkey").agg(
        F.sum("v").cast("long").alias("gs"),
        F.sum(dec("v") * dec("v")).alias("gss"),
    )
    census = grp.agg(
        F.count(F.lit(1)).cast("long").alias("g"),
        F.sum(dec("gs")).alias("s1"),
        F.sum("gss").alias("s2"),
        F.sum(dec("gs") * dec("gs")).alias("sg2"),
    )
    msb = (
        F.col("sg2").cast("double") / 4.0
        - F.col("s1").cast("double")
        * (F.col("s1").cast("double") / (4.0 * F.col("g")))
    ) / (F.col("g") - 1)
    msw = (F.col("s2").cast("double") - F.col("sg2").cast("double") / 4.0) / (
        F.col("g") * 3.0
    )
    ms = census.select("g", msb.alias("msb"), msw.alias("msw"))
    return ms.select(
        F.col("g").alias("n_orders"),
        F.round(F.col("msb") / 10000.0, 4).alias("msb_dollars2"),
        F.round(F.col("msw") / 10000.0, 4).alias("msw_dollars2"),
        F.round(
            (F.col("msb") - F.col("msw")) / (F.col("msb") + 3.0 * F.col("msw")), 6
        ).alias("icc_1_1"),
    )


# ---------------------------------------------------------------------------
# wave 188: Theil's U forecast quality, Diebold-Mariano comparison test
# ---------------------------------------------------------------------------


@query(
    "theils_u_daily_forecasts",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY day
    ), lagged AS (
        SELECT day, v,
               LAG(v, 1) OVER (ORDER BY day) AS naive1,
               LAG(v, 7) OVER (ORDER BY day) AS naive7
        FROM daily
    ), pts AS (
        SELECT v, naive1, naive7 FROM lagged
        WHERE naive1 IS NOT NULL AND naive7 IS NOT NULL
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(CAST(v - naive7 AS HUGEINT) * (v - naive7)) AS sse_model,
               SUM(CAST(v - naive1 AS HUGEINT) * (v - naive1)) AS sse_naive
        FROM pts
    )
    SELECT n AS n_days,
           ROUND(sqrt(CAST(sse_model AS DOUBLE) / n) / 100.0, 2)
               AS rmse_weekly_naive_dollars,
           ROUND(sqrt(CAST(sse_naive AS DOUBLE) / n) / 100.0, 2)
               AS rmse_naive_dollars,
           ROUND(sqrt(CAST(sse_model AS DOUBLE) / CAST(sse_naive AS DOUBLE)),
                 6) AS theils_u2,
           CAST(CASE WHEN sse_model < sse_naive THEN 1 ELSE 0 END AS BIGINT)
               AS beats_naive
    FROM mom
    """,
)
def theils_u_daily_forecasts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U₂ for the weekly-seasonal-naive forecast of daily event
    value against the random-walk naive: U₂ = RMSE(model)/RMSE(naive),
    < 1 iff the model adds information over 'tomorrow = today'. The
    scale-free go/no-go gate every forecast query here
    (`holt_linear_forecast`, `holt_winters_weekly`,
    `forecast_revenue_q6`) should clear before shipping —
    `smape_seasonal_naive` scores one model; U₂ ratios it against the
    no-model floor.

    Determinism: both squared-error sums are exact 128-bit integers
    over exact cent errors; RMSEs and U₂ are fixed sqrt expressions,
    each rounded once; the beats-naive flag compares exact integers.

    Scale shape: fact → |days| hash agg; two lags in ONE window pass;
    1-row census.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    daily = (
        ev.select(
            epoch_day("ts").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("long").alias("v"))
    )
    wd = Window.orderBy("day")
    pts = (
        daily.select(
            "v",
            F.lag("v", 1).over(wd).alias("naive1"),
            F.lag("v", 7).over(wd).alias("naive7"),
        )
        .where(F.col("naive1").isNotNull() & F.col("naive7").isNotNull())
    )
    e7 = dec("v") - dec("naive7")
    e1 = dec("v") - dec("naive1")
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(e7 * e7).alias("sse_model"),
        F.sum(e1 * e1).alias("sse_naive"),
    )
    return mom.select(
        F.col("n").alias("n_days"),
        F.round(
            F.sqrt(F.col("sse_model").cast("double") / F.col("n")) / 100.0, 2
        ).alias("rmse_weekly_naive_dollars"),
        F.round(
            F.sqrt(F.col("sse_naive").cast("double") / F.col("n")) / 100.0, 2
        ).alias("rmse_naive_dollars"),
        F.round(
            F.sqrt(
                F.col("sse_model").cast("double")
                / F.col("sse_naive").cast("double")
            ),
            6,
        ).alias("theils_u2"),
        F.when(F.col("sse_model") < F.col("sse_naive"), 1)
        .otherwise(0)
        .cast("long")
        .alias("beats_naive"),
    )


@query(
    "diebold_mariano_naive_seasonal",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS v
        FROM events GROUP BY day
    ), lagged AS (
        SELECT day, v,
               LAG(v, 1) OVER (ORDER BY day) AS naive1,
               LAG(v, 7) OVER (ORDER BY day) AS naive7
        FROM daily
    ), pts AS (
        SELECT (CAST(v - naive1 AS HUGEINT) * (v - naive1)
                - CAST(v - naive7 AS HUGEINT) * (v - naive7)) // 10000 AS d
        -- DuckDB // truncates toward zero; the Spark side mirrors that
        FROM lagged WHERE naive1 IS NOT NULL AND naive7 IS NOT NULL
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(d) AS HUGEINT) AS s1,
               SUM(d * d) AS s2
        FROM pts
    ), dm AS (
        SELECT n,
               CAST(s1 AS DOUBLE) / n AS dbar,
               (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                * (CAST(s1 AS DOUBLE) / n)) / (n - 1) / n AS var_dbar
        FROM mom
    )
    SELECT n AS n_days,
           ROUND(dbar, 4) AS mean_loss_diff_dollars2,
           ROUND(dbar / sqrt(var_dbar), 4) AS dm_stat,
           CAST(CASE WHEN ABS(dbar / sqrt(var_dbar)) > 2.5758
                THEN 1 ELSE 0 END AS BIGINT) AS significant_at_99
    FROM dm
    """,
)
def diebold_mariano_naive_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diebold-Mariano test of equal predictive accuracy between the
    random-walk naive (lag-1) and the weekly-seasonal naive (lag-7)
    forecasts of daily value: DM = d̄/√(var(d̄)) on the squared-error
    loss differential dₜ, two-sided at 99%. The inferential step
    `theils_u_daily_forecasts` stops short of — U₂ says which is
    better, DM says whether the difference exceeds noise (lag-0
    variance; the h-step HAC extension is the documented upgrade).

    Determinism: each dₜ is an exact 128-bit integer (difference of
    integer squares) floor-divided to exact dollars² — the rescale
    keeps Σd² inside decimal(38)/HUGEINT headroom at 10-100× the
    fixture's daily magnitudes; DM is one fixed expression, rounded
    once.

    Scale shape: identical to Theil — one window pass on the day
    relation, 1-row census.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    daily = (
        ev.select(
            epoch_day("ts").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("day")
        .agg(F.sum("c").cast("long").alias("v"))
    )
    wd = Window.orderBy("day")
    lagged = daily.select(
        "v",
        F.lag("v", 1).over(wd).alias("naive1"),
        F.lag("v", 7).over(wd).alias("naive7"),
    ).where(F.col("naive1").isNotNull() & F.col("naive7").isNotNull())
    e1 = dec("v") - dec("naive1")
    e7 = dec("v") - dec("naive7")
    # truncating divide (matching DuckDB //) to exact dollars-squared so
    # d**2 stays inside decimal(38)/HUGEINT at 10-100x fixture magnitudes
    draw = e1 * e1 - e7 * e7
    pts = lagged.select(
        ((draw - draw % 10000) / 10000).cast("decimal(38,0)").alias("d")
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").alias("s1"),
        F.sum(F.col("d") * F.col("d")).alias("s2"),
    )
    dbar = F.col("s1").cast("double") / F.col("n")
    var_dbar = (
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * (F.col("s1").cast("double") / F.col("n"))
        )
        / (F.col("n") - 1)
        / F.col("n")
    )
    dm_stat = dbar / F.sqrt(var_dbar)
    return mom.select(
        F.col("n").alias("n_days"),
        F.round(dbar, 4).alias("mean_loss_diff_dollars2"),
        F.round(dm_stat, 4).alias("dm_stat"),
        F.when(F.abs(dm_stat) > 2.5758, 1)
        .otherwise(0)
        .cast("long")
        .alias("significant_at_99"),
    )


# ---------------------------------------------------------------------------
# wave 189: standardized effect sizes, TOST equivalence test
# ---------------------------------------------------------------------------


@query(
    "effect_size_segments",
    oracle="""
    WITH pts AS (
        SELECT CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 'A' ELSE 'B' END
                   AS grp,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS v
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), mom AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s1,
               SUM(CAST(v AS HUGEINT) * v) AS s2
        FROM pts GROUP BY grp
    ), wide AS (
        SELECT MAX(CASE WHEN grp='A' THEN n END) AS na,
               MAX(CASE WHEN grp='B' THEN n END) AS nb,
               MAX(CASE WHEN grp='A' THEN CAST(s1 AS DOUBLE)/n END) AS ma,
               MAX(CASE WHEN grp='B' THEN CAST(s1 AS DOUBLE)/n END) AS mb,
               MAX(CASE WHEN grp='A' THEN
                   (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                    * (CAST(s1 AS DOUBLE)/n)) / (n-1) END) AS va,
               MAX(CASE WHEN grp='B' THEN
                   (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                    * (CAST(s1 AS DOUBLE)/n)) / (n-1) END) AS vb
        FROM mom
    ), es AS (
        SELECT na, nb, ma, mb,
               (ma - mb) / sqrt(((na-1)*va + (nb-1)*vb) / (na+nb-2)) AS d,
               (ma - mb) / sqrt(vb) AS glass_delta
        FROM wide
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND((ma - mb) / 100.0, 4) AS mean_diff_dollars,
           ROUND(d, 6) AS cohens_d,
           ROUND(d * (1.0 - 3.0 / (4.0 * (na + nb) - 9.0)), 6) AS hedges_g,
           ROUND(glass_delta, 6) AS glass_delta
    FROM es
    """,
)
def effect_size_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes for the AUTOMOBILE-vs-rest order-value
    contrast: Cohen's d (pooled SD), Hedges' g (small-sample bias
    correction 1 − 3/(4N−9)), and Glass's Δ (control-group SD). The
    MAGNITUDE layer the significance tests lack — at 100 TB every
    t-test rejects (`welch_ttest_order_value`), so d/g/Δ are what
    decide whether a difference is worth acting on (same philosophy as
    `cramers_v_priority_status` for categorical tables).

    Determinism: per-group (n, Σ, Σ²) exact; means/variances/effect
    sizes are fixed double expressions over them, one round each.

    Scale shape: broadcast-dim join → 2-row moment agg (map-side
    combined) → 1-row pivot census.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    pts = o.join(
        F.broadcast(c.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")),
        "o_custkey",
    ).select(
        F.when(F.col("c_mktsegment") == "AUTOMOBILE", "A").otherwise("B").alias(
            "grp"
        ),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    mom = pts.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s1"),
        F.sum(dec("v") * dec("v")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * (F.col("s1").cast("double") / F.col("n"))
    ) / (F.col("n") - 1)
    wide = mom.agg(
        F.max(F.when(F.col("grp") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("grp") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("grp") == "A", mean)).alias("ma"),
        F.max(F.when(F.col("grp") == "B", mean)).alias("mb"),
        F.max(F.when(F.col("grp") == "A", var)).alias("va"),
        F.max(F.when(F.col("grp") == "B", var)).alias("vb"),
    )
    d = (F.col("ma") - F.col("mb")) / F.sqrt(
        ((F.col("na") - 1) * F.col("va") + (F.col("nb") - 1) * F.col("vb"))
        / (F.col("na") + F.col("nb") - 2)
    )
    return wide.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round((F.col("ma") - F.col("mb")) / 100.0, 4).alias("mean_diff_dollars"),
        F.round(d, 6).alias("cohens_d"),
        F.round(
            d * (1.0 - 3.0 / (4.0 * (F.col("na") + F.col("nb")) - 9.0)), 6
        ).alias("hedges_g"),
        F.round(
            (F.col("ma") - F.col("mb")) / F.sqrt(F.col("vb")), 6
        ).alias("glass_delta"),
    )


@query(
    "tost_equivalence_segments",
    oracle="""
    WITH pts AS (
        SELECT CASE WHEN c.c_mktsegment = 'HOUSEHOLD' THEN 'A' ELSE 'B' END
                   AS grp,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS v
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), mom AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s1,
               SUM(CAST(v AS HUGEINT) * v) AS s2
        FROM pts GROUP BY grp
    ), wide AS (
        SELECT MAX(CASE WHEN grp='A' THEN n END) AS na,
               MAX(CASE WHEN grp='B' THEN n END) AS nb,
               MAX(CASE WHEN grp='A' THEN CAST(s1 AS DOUBLE)/n END) AS ma,
               MAX(CASE WHEN grp='B' THEN CAST(s1 AS DOUBLE)/n END) AS mb,
               MAX(CASE WHEN grp='A' THEN
                   (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                    * (CAST(s1 AS DOUBLE)/n)) / (n-1) END) AS va,
               MAX(CASE WHEN grp='B' THEN
                   (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                    * (CAST(s1 AS DOUBLE)/n)) / (n-1) END) AS vb
        FROM mom
    ), tost AS (
        SELECT na, nb, ma, mb,
               sqrt(va/na + vb/nb) AS se,
               -- margin: +/- $5000 in cents
               ((ma - mb) + 500000.0) / sqrt(va/na + vb/nb) AS z_lower,
               ((ma - mb) - 500000.0) / sqrt(va/na + vb/nb) AS z_upper
        FROM wide
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND((ma - mb) / 100.0, 4) AS mean_diff_dollars,
           ROUND(z_lower, 4) AS z_lower,
           ROUND(z_upper, 4) AS z_upper,
           CAST(CASE WHEN z_lower > 2.3263 AND z_upper < -2.3263
                THEN 1 ELSE 0 END AS BIGINT) AS equivalent_at_99
    FROM tost
    """,
)
def tost_equivalence_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST (two one-sided tests) equivalence check: is the HOUSEHOLD
    segment's mean order value within ±$5000 of the rest? Equivalence
    is declared only when BOTH one-sided z tests reject at 99%
    (z_lower > 2.3263 AND z_upper < −2.3263) — the correct way to
    conclude 'no meaningful difference', which a non-significant
    t-test (`welch_ttest_order_value`) can never do. The guardrail
    statistic for launch reviews ('metric unchanged') and
    `srm_check_assignments`-style invariants.

    Determinism: per-group moments exact; SE and both z's are fixed
    double expressions; flags on unrounded values; one round each
    output.

    Scale shape: identical to `effect_size_segments` — broadcast join,
    2-row agg, 1-row census.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    pts = o.join(
        F.broadcast(c.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")),
        "o_custkey",
    ).select(
        F.when(F.col("c_mktsegment") == "HOUSEHOLD", "A").otherwise("B").alias(
            "grp"
        ),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
    )
    mom = pts.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s1"),
        F.sum(dec("v") * dec("v")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * (F.col("s1").cast("double") / F.col("n"))
    ) / (F.col("n") - 1)
    wide = mom.agg(
        F.max(F.when(F.col("grp") == "A", F.col("n"))).alias("na"),
        F.max(F.when(F.col("grp") == "B", F.col("n"))).alias("nb"),
        F.max(F.when(F.col("grp") == "A", mean)).alias("ma"),
        F.max(F.when(F.col("grp") == "B", mean)).alias("mb"),
        F.max(F.when(F.col("grp") == "A", var)).alias("va"),
        F.max(F.when(F.col("grp") == "B", var)).alias("vb"),
    )
    se = F.sqrt(F.col("va") / F.col("na") + F.col("vb") / F.col("nb"))
    zl = ((F.col("ma") - F.col("mb")) + 500000.0) / se
    zu = ((F.col("ma") - F.col("mb")) - 500000.0) / se
    return wide.select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.round((F.col("ma") - F.col("mb")) / 100.0, 4).alias("mean_diff_dollars"),
        F.round(zl, 4).alias("z_lower"),
        F.round(zu, 4).alias("z_upper"),
        F.when((zl > 2.3263) & (zu < -2.3263), 1)
        .otherwise(0)
        .cast("long")
        .alias("equivalent_at_99"),
    )


# ---------------------------------------------------------------------------
# wave 190: overlapping-chunk stitch audit, Duncan dissimilarity index
# ---------------------------------------------------------------------------


@query(
    "chunk_overlap_stitch_audit",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\\s+') END AS t
        FROM documents
    ), chunks AS (
        SELECT doc_id, source, len(t) AS n, g.s AS start_pos,
               t[g.s : LEAST(g.s + 79, len(t))] AS chunk
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, GREATEST(len(t), 1), 60))
                      AS s) g
        WHERE len(t) > 0 AND (g.s = 1 OR g.s + 79 - 60 <= len(t) + 59)
    ), stitched AS (
        SELECT doc_id, source, MAX(n) AS n,
               CAST(SUM(len(chunk)) AS BIGINT) AS chunk_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN start_pos = 1 THEN len(chunk)
                        ELSE GREATEST(len(chunk) - 20, 0) END) AS BIGINT)
                   AS stitched_tokens
        FROM chunks GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
           CAST(SUM(chunk_tokens) AS BIGINT) AS total_chunk_tokens,
           CAST(SUM(CASE WHEN stitched_tokens = n THEN 1 ELSE 0 END)
                AS BIGINT) AS roundtrip_exact_docs
    FROM stitched GROUP BY source ORDER BY source
    """,
)
def chunk_overlap_stitch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking audit for LLM context packing: 80-token
    chunks with stride 60 (20-token overlap), verifying per document
    that dropping each non-first chunk's 20-token overlap re-stitches
    to EXACTLY the original token count — the invariant that makes
    overlap-dedup at training time lossless. `chunk_documents` emits
    fixed windows; this audits the overlap bookkeeping that downstream
    stitchers rely on.

    Determinism: pure integer arithmetic on token positions (array
    slices never materialize text back); counts exact.

    Scale shape: one explode bounded by ⌈n/stride⌉ chunks per doc,
    per-doc hash agg, |sources| census. The slice arithmetic
    (not the chunk text) is what flows through the aggregation.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", ws_tokens(F.col("text")).alias("t")
    ).where(F.size("t") > 0)
    chunks = toks.select(
        "doc_id",
        "source",
        F.size("t").alias("n"),
        F.explode(
            F.expr("sequence(1, greatest(size(t), 1), 60)")
        ).alias("start_pos"),
        F.col("t"),
    ).select(
        "doc_id",
        "source",
        "n",
        "start_pos",
        F.expr(
            "size(slice(t, start_pos, least(start_pos + 79, size(t))"
            " - start_pos + 1))"
        ).alias("chunk_len"),
    )
    stitched = chunks.groupBy("doc_id", "source").agg(
        F.max("n").alias("n"),
        F.sum("chunk_len").cast("long").alias("chunk_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(
            F.when(F.col("start_pos") == 1, F.col("chunk_len")).otherwise(
                F.greatest(F.col("chunk_len") - 20, F.lit(0))
            )
        )
        .cast("long")
        .alias("stitched_tokens"),
    )
    return (
        stitched.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chunks").cast("long").alias("total_chunks"),
            F.sum("chunk_tokens").cast("long").alias("total_chunk_tokens"),
            F.sum(
                F.when(F.col("stitched_tokens") == F.col("n"), 1).otherwise(0)
            )
            .cast("long")
            .alias("roundtrip_exact_docs"),
        )
        .orderBy("source")
    )


@query(
    "duncan_dissimilarity_segments",
    oracle="""
    WITH counts AS (
        SELECT c_nationkey AS nk,
               CAST(SUM(CASE WHEN c_mktsegment = 'BUILDING'
                        THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN c_mktsegment <> 'BUILDING'
                        THEN 1 ELSE 0 END) AS BIGINT) AS b
        FROM customer GROUP BY nk
    ), tot AS (
        SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb
        FROM counts
    ), cells AS (
        SELECT nk, a, b,
               ABS(CAST(a AS HUGEINT) * tb - CAST(b AS HUGEINT) * ta) AS num
        FROM counts, tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_nations,
           ROUND(CAST(SUM(num) AS DOUBLE)
                 / (2.0 * (SELECT CAST(ta AS DOUBLE) * tb FROM tot)), 6)
               AS duncan_d
    FROM cells
    """,
)
def duncan_dissimilarity_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duncan-Duncan dissimilarity index of the BUILDING segment across
    nations: D = ½·Σᵢ|aᵢ/A − bᵢ/B| — the share of either group that
    would have to relocate for every nation to mirror the global
    segment mix. The segregation/concentration statistic that
    `hhi_supplier_concentration` (within one dimension) and
    `segment_overlap_jaccard` (set view) don't provide.

    Determinism: the per-nation |aᵢB − bᵢA| numerators are exact
    128-bit integers (common denominator cleared), summed exactly; ONE
    final division, rounded once.

    Scale shape: dim-table conditional agg (25 rows), census. At fact
    scale the same identity works on any grouped pair of counts.
    """
    c = load_table(spark, sf_dir, "customer")
    counts = c.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.sum(F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0))
        .cast("long")
        .alias("a"),
        F.sum(F.when(F.col("c_mktsegment") != "BUILDING", 1).otherwise(0))
        .cast("long")
        .alias("b"),
    )
    tot = counts.agg(
        F.sum("a").cast("long").alias("ta"), F.sum("b").cast("long").alias("tb")
    )
    dec = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    cells = counts.crossJoin(F.broadcast(tot)).select(
        "nk",
        F.abs(dec("a") * dec("tb") - dec("b") * dec("ta")).alias("num"),
        "ta",
        "tb",
    )
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_nations"),
        F.round(
            F.sum("num").cast("double")
            / (2.0 * F.max(F.col("ta")).cast("double") * F.max(F.col("tb"))),
            6,
        ).alias("duncan_d"),
    )


# ---------------------------------------------------------------------------
# wave 191: Stuart-Maxwell marginal homogeneity, Bowker symmetry test
# ---------------------------------------------------------------------------

_PAIRED_STATUS_SQL = """
    WITH span AS (
        SELECT MIN(epoch_us(o_orderdate)) AS lo, MAX(epoch_us(o_orderdate)) AS hi
        FROM orders
    ), halves AS (
        SELECT o_custkey,
               CASE WHEN epoch_us(o_orderdate) * 2 <= lo + hi
                    THEN 1 ELSE 2 END AS half,
               o_orderstatus AS st, CAST(COUNT(*) AS BIGINT) AS c
        FROM orders, span GROUP BY o_custkey, half, st
    ), modal AS (
        SELECT o_custkey, half,
               MAX(struct_pack(c := c, st := st)).st AS st
        FROM halves GROUP BY o_custkey, half
    ), paired AS (
        SELECT a.o_custkey, a.st AS s1, b.st AS s2
        FROM modal a JOIN modal b
          ON b.o_custkey = a.o_custkey AND a.half = 1 AND b.half = 2
    ), cell AS (
        SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS n FROM paired GROUP BY s1, s2
    )
"""


@query(
    "stuart_maxwell_status_shift",
    oracle=_PAIRED_STATUS_SQL
    + """
    , m AS (
        SELECT
          COALESCE(SUM(CASE WHEN s1='F' AND s2='O' THEN n END), 0) AS fo,
          COALESCE(SUM(CASE WHEN s1='F' AND s2='P' THEN n END), 0) AS fp,
          COALESCE(SUM(CASE WHEN s1='O' AND s2='F' THEN n END), 0) AS of_,
          COALESCE(SUM(CASE WHEN s1='O' AND s2='P' THEN n END), 0) AS op,
          COALESCE(SUM(CASE WHEN s1='P' AND s2='F' THEN n END), 0) AS pf,
          COALESCE(SUM(CASE WHEN s1='P' AND s2='O' THEN n END), 0) AS po,
          CAST(SUM(n) AS BIGINT) AS ntot
        FROM cell
    ), dvec AS (
        SELECT ntot,
               CAST(fo + fp - of_ - pf AS DOUBLE) AS d1,
               CAST(of_ + op - fo - po AS DOUBLE) AS d2,
               (fo + of_) / 2.0 + (fp + pf) / 2.0 AS s11h,
               (fo + of_) / 2.0 + (op + po) / 2.0 AS s22h,
               -(fo + of_) / 2.0 AS s12h
        FROM m
    )
    SELECT ntot AS n_pairs,
           ROUND((s22h * d1 * d1 - 2.0 * s12h * d1 * d2 + s11h * d2 * d2)
                 / (s11h * s22h - s12h * s12h), 4) AS sm_chi2,
           CAST(CASE WHEN (s22h * d1 * d1 - 2.0 * s12h * d1 * d2
                           + s11h * d2 * d2)
                          / (s11h * s22h - s12h * s12h) > 9.21034
                THEN 1 ELSE 0 END AS BIGINT) AS margins_shifted_at_99
    FROM dvec
    """,
)
def stuart_maxwell_status_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stuart-Maxwell marginal-homogeneity test on each customer's MODAL
    order status (F/O/P) in the first vs second half of the window:
    χ²(2) = d'Σ̂⁻¹d with the 2×2 covariance inverted in closed form
    (Σ̂ᵢᵢ = (n̄ᵢⱼ sums), Σ̂₁₂ = −n̄₁₂). Answers 'did the STATUS MIX
    drift' for paired categories with 3 levels — the k>2 counterpart
    of `mcnemar_late_predictors`, and the distributional side of
    `wilcoxon_signed_rank_halves` (which tracks magnitude).

    Determinism: modal status per half is a lexicographic struct-max
    (count, status) — total order; off-diagonal cells exact; the χ²
    is one fixed double expression over six integers, rounded once.

    Scale shape: per-(customer, half, status) agg, struct-max agg,
    self-join co-keyed on custkey, 9-cell census. All hash aggs.
    """
    o = load_table(spark, sf_dir, "orders")
    em = F.expr("unix_micros(CAST(o_orderdate AS timestamp_ltz))")
    span = o.agg(F.min(em).alias("lo"), F.max(em).alias("hi"))
    halves = (
        o.crossJoin(F.broadcast(span))
        .select(
            "o_custkey",
            F.when(em * 2 <= F.col("lo") + F.col("hi"), 1).otherwise(2).alias(
                "half"
            ),
            F.col("o_orderstatus").alias("st"),
        )
        .groupBy("o_custkey", "half", "st")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    modal = halves.groupBy("o_custkey", "half").agg(
        F.max(F.struct(F.col("c"), F.col("st"))).alias("m")
    ).select("o_custkey", "half", F.col("m.st").alias("st"))
    modal = _ckpt(modal)  # shared fan-out relation
    a = modal.where(F.col("half") == 1).select(
        "o_custkey", F.col("st").alias("s1")
    )
    b = modal.where(F.col("half") == 2).select(
        "o_custkey", F.col("st").alias("s2")
    )
    cell = (
        a.join(b, "o_custkey")
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )

    def cellsum(s1, s2):
        return F.coalesce(
            F.sum(F.when((F.col("s1") == s1) & (F.col("s2") == s2), F.col("n"))),
            F.lit(0),
        )

    m = cell.agg(
        cellsum("F", "O").alias("fo"),
        cellsum("F", "P").alias("fp"),
        cellsum("O", "F").alias("of_"),
        cellsum("O", "P").alias("op"),
        cellsum("P", "F").alias("pf"),
        cellsum("P", "O").alias("po"),
        F.sum("n").cast("long").alias("ntot"),
    )
    d1 = (F.col("fo") + F.col("fp") - F.col("of_") - F.col("pf")).cast("double")
    d2 = (F.col("of_") + F.col("op") - F.col("fo") - F.col("po")).cast("double")
    s11h = (F.col("fo") + F.col("of_")) / 2.0 + (F.col("fp") + F.col("pf")) / 2.0
    s22h = (F.col("fo") + F.col("of_")) / 2.0 + (F.col("op") + F.col("po")) / 2.0
    s12h = -(F.col("fo") + F.col("of_")) / 2.0
    dvec = m.select(
        "ntot",
        d1.alias("d1"),
        d2.alias("d2"),
        s11h.alias("s11h"),
        s22h.alias("s22h"),
        s12h.alias("s12h"),
    )
    chi2 = (
        F.col("s22h") * F.col("d1") * F.col("d1")
        - 2.0 * F.col("s12h") * F.col("d1") * F.col("d2")
        + F.col("s11h") * F.col("d2") * F.col("d2")
    ) / (F.col("s11h") * F.col("s22h") - F.col("s12h") * F.col("s12h"))
    return dvec.select(
        F.col("ntot").alias("n_pairs"),
        F.round(chi2, 4).alias("sm_chi2"),
        F.when(chi2 > 9.21034, 1)
        .otherwise(0)
        .cast("long")
        .alias("margins_shifted_at_99"),
    )


@query(
    "bowker_symmetry_status",
    oracle=_PAIRED_STATUS_SQL
    + """
    , pairs AS (
        SELECT LEAST(a.s1, a.s2) AS x, GREATEST(a.s1, a.s2) AS y,
               CAST(SUM(CASE WHEN a.s1 < a.s2 THEN a.n ELSE 0 END) AS BIGINT)
                   AS nup,
               CAST(SUM(CASE WHEN a.s1 > a.s2 THEN a.n ELSE 0 END) AS BIGINT)
                   AS ndn
        FROM cell a WHERE a.s1 <> a.s2 GROUP BY x, y
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_offdiag_pairs,
           ROUND(SUM(CASE WHEN nup + ndn > 0
                     THEN pow(CAST(nup - ndn AS DOUBLE), 2) / (nup + ndn)
                     ELSE 0.0 END), 4) AS bowker_chi2,
           CAST(CASE WHEN SUM(CASE WHEN nup + ndn > 0
                     THEN pow(CAST(nup - ndn AS DOUBLE), 2) / (nup + ndn)
                     ELSE 0.0 END) > 11.3449 THEN 1 ELSE 0 END AS BIGINT)
               AS asymmetric_at_99
    FROM pairs
    """,
)
def bowker_symmetry_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowker symmetry test on the same paired modal-status table:
    χ²(3) = Σᵢ<ⱼ (nᵢⱼ−nⱼᵢ)²/(nᵢⱼ+nⱼᵢ) against 99% (11.3449, df =
    k(k−1)/2 = 3). Symmetry is STRONGER than marginal homogeneity
    (`stuart_maxwell_status_shift`): Bowker asks whether each specific
    transition i→j runs at the same rate as its reverse — the
    flow-level drift diagnosis, McNemar's exact k-level
    generalization.

    Determinism: off-diagonal cells exact; each addend is an integer
    ratio; the ≤3-addend sum is rounded once, flag on unrounded.

    Scale shape: same pipeline as Stuart-Maxwell, ending in a 3-row
    fold over unordered transition pairs.
    """
    o = load_table(spark, sf_dir, "orders")
    em = F.expr("unix_micros(CAST(o_orderdate AS timestamp_ltz))")
    span = o.agg(F.min(em).alias("lo"), F.max(em).alias("hi"))
    halves = (
        o.crossJoin(F.broadcast(span))
        .select(
            "o_custkey",
            F.when(em * 2 <= F.col("lo") + F.col("hi"), 1).otherwise(2).alias(
                "half"
            ),
            F.col("o_orderstatus").alias("st"),
        )
        .groupBy("o_custkey", "half", "st")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    modal = halves.groupBy("o_custkey", "half").agg(
        F.max(F.struct(F.col("c"), F.col("st"))).alias("m")
    ).select("o_custkey", "half", F.col("m.st").alias("st"))
    modal = _ckpt(modal)  # shared fan-out relation
    a = modal.where(F.col("half") == 1).select(
        "o_custkey", F.col("st").alias("s1")
    )
    b = modal.where(F.col("half") == 2).select(
        "o_custkey", F.col("st").alias("s2")
    )
    cell = (
        a.join(b, "o_custkey")
        .groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    pairs = (
        cell.where(F.col("s1") != F.col("s2"))
        .groupBy(
            F.least("s1", "s2").alias("x"), F.greatest("s1", "s2").alias("y")
        )
        .agg(
            F.sum(F.when(F.col("s1") < F.col("s2"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("nup"),
            F.sum(F.when(F.col("s1") > F.col("s2"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("ndn"),
        )
    )
    addend = F.when(
        F.col("nup") + F.col("ndn") > 0,
        F.pow((F.col("nup") - F.col("ndn")).cast("double"), 2)
        / (F.col("nup") + F.col("ndn")),
    ).otherwise(0.0)
    stat = F.sum(addend)
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_offdiag_pairs"),
        F.round(stat, 4).alias("bowker_chi2"),
        F.when(stat > 11.3449, 1)
        .otherwise(0)
        .cast("long")
        .alias("asymmetric_at_99"),
    )


# ---------------------------------------------------------------------------
# wave 192: Rocchio pseudo-relevance feedback, query-expansion overlap audit
# ---------------------------------------------------------------------------

_ROCCHIO_SQL = """
    WITH toks AS (
        SELECT doc_id,
               unnest(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(lower(trim(text)), '\\s+') END)
                   AS tok
        FROM documents
    ), tf AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks GROUP BY doc_id, tok
    ), df AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ), nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf
    ), w AS (
        SELECT d.tok, CAST(ROUND(ln(CAST(nd.n AS DOUBLE) / d.df) * 1000000)
                           AS BIGINT) AS w_e6
        FROM df d, nd
    ), qterms AS (
        SELECT unnest(['data', 'system']) AS tok
    ), base AS (
        SELECT t.doc_id,
               CAST(SUM(t.tf * w.w_e6) AS BIGINT) AS score_e6
        FROM tf t JOIN qterms q ON q.tok = t.tok
        JOIN w ON w.tok = t.tok
        GROUP BY t.doc_id
    ), fb AS (
        SELECT doc_id FROM base
        ORDER BY score_e6 DESC, doc_id LIMIT 5
    ), cand AS (
        SELECT t.tok,
               CAST(SUM(t.tf * w.w_e6) AS BIGINT) AS weight_e6
        FROM tf t JOIN fb ON fb.doc_id = t.doc_id
        JOIN w ON w.tok = t.tok
        WHERE length(t.tok) >= 4
        GROUP BY t.tok
    ), expand AS (
        SELECT tok FROM cand ORDER BY weight_e6 DESC, tok LIMIT 10
    ), allterms AS (
        SELECT tok FROM qterms UNION SELECT tok FROM expand
    ), rescored AS (
        SELECT t.doc_id, CAST(SUM(t.tf * w.w_e6) AS BIGINT) AS score_e6
        FROM tf t JOIN allterms a ON a.tok = t.tok
        JOIN w ON w.tok = t.tok
        GROUP BY t.doc_id
    )
"""


@query(
    "rocchio_feedback_search",
    oracle=_ROCCHIO_SQL
    + """
    SELECT doc_id, score_e6,
           CAST(ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id) AS BIGINT)
               AS rnk
    FROM rescored ORDER BY score_e6 DESC, doc_id LIMIT 10
    """,
)
def rocchio_feedback_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback: score docs for the seed query
    {'data','system'} by tf·idf, take the top-5 as pseudo-relevant,
    expand the query with their 10 heaviest (≥4-char) terms, and
    rescore with the union term set. The classic closed-loop retrieval
    upgrade over one-shot `bm25_search` / `query_likelihood_dirichlet`
    — recall goes up with zero supervision.

    Determinism: idf is frozen to exact fixed-point (round(ln·10⁶) —
    ONE rounding per term, both engines round the same double), after
    which every score is an exact integer Σ tf·w_e6; all three top-k
    stages carry (score, id)/(weight, tok) total orders.

    Scale shape: tf/df/weights are hash aggs over the token explode;
    seed and expanded scoring join tf against ≤12-term broadcast term
    lists (never the full vocabulary); feedback set is a top-5
    TakeOrdered. Everything after the explode is term-filtered.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    tf = _ckpt(tf)  # shared fan-out relation (5 consumers)
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    nd = tf.agg(F.countDistinct("doc_id").cast("long").alias("n"))
    w = df.crossJoin(F.broadcast(nd)).select(
        "tok",
        F.round(F.log(F.col("n").cast("double") / F.col("df")) * 1000000)
        .cast("long")
        .alias("w_e6"),
    )
    w = _ckpt(w)  # shared fan-out relation (3 consumers)
    qterms = spark.createDataFrame([("data",), ("system",)], ["tok"])
    base = (
        tf.join(F.broadcast(qterms), "tok")
        .join(w, "tok")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("w_e6")).cast("long").alias("score_e6"))
    )
    fb = base.orderBy(F.col("score_e6").desc(), "doc_id").limit(5).select(
        "doc_id"
    )
    cand = (
        tf.join(F.broadcast(fb), "doc_id")
        .join(w, "tok")
        .where(F.length("tok") >= 4)
        .groupBy("tok")
        .agg(F.sum(F.col("tf") * F.col("w_e6")).cast("long").alias("weight_e6"))
    )
    expand = cand.orderBy(F.col("weight_e6").desc(), "tok").limit(10).select(
        "tok"
    )
    allterms = qterms.unionByName(expand).distinct()
    rescored = (
        tf.join(F.broadcast(allterms), "tok")
        .join(w, "tok")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("w_e6")).cast("long").alias("score_e6"))
    )
    # top-k FIRST (TakeOrderedAndProject — k-bounded), then rank the
    # 10 survivors; never a corpus-sized global window.
    top10 = rescored.orderBy(F.col("score_e6").desc(), "doc_id").limit(10)
    return top10.select(
        "doc_id",
        "score_e6",
        F.row_number()
        .over(Window.orderBy(F.col("score_e6").desc(), "doc_id"))
        .cast("long")
        .alias("rnk"),
    )


@query(
    "expansion_overlap_audit",
    oracle=_ROCCHIO_SQL
    + """
    , base_top AS (
        SELECT doc_id FROM base ORDER BY score_e6 DESC, doc_id LIMIT 10
    ), exp_top AS (
        SELECT doc_id FROM rescored ORDER BY score_e6 DESC, doc_id LIMIT 10
    ), inter AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS common
        FROM base_top b JOIN exp_top e ON e.doc_id = b.doc_id
    )
    SELECT common AS common_at_10,
           ROUND(CAST(common AS DOUBLE) / (20 - common), 6) AS jaccard_at_10,
           CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS base_candidates,
           CAST((SELECT COUNT(*) FROM rescored) AS BIGINT) AS expanded_candidates
    FROM inter
    """,
)
def expansion_overlap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of what Rocchio expansion changed: top-10 overlap and
    Jaccard between the seed-query and expanded-query rankings, plus
    candidate-set growth (docs matching ANY term). Low overlap +
    large candidate growth = aggressive drift (check the feedback
    docs); high overlap = safe recall add. The retrieval counterpart
    of `rank_movers_weekly` / `rbo_rank_agreement_parts` applied to
    query reformulation.

    Determinism: both rankings are exact-integer-scored with total
    tie-breaks (see `rocchio_feedback_search`); overlap and candidate
    counts are exact; one division, rounded.

    Scale shape: same tf/weights backbone; the audit adds two top-10s
    and one 10×10 join — dimension-free. The tf relation feeds FIVE
    consumers (df/nd/base/cand/rescored) and the weight relation
    three — without materialization the plan re-tokenizes the corpus
    once per consumer (the census counted documents scanned 24×), so
    both checkpoint at the fan-out point, as do the doc-level score
    relations consumed by top-k AND count branches.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    tf = _ckpt(tf)  # shared fan-out relation (5 consumers)
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    nd = tf.agg(F.countDistinct("doc_id").cast("long").alias("n"))
    w = df.crossJoin(F.broadcast(nd)).select(
        "tok",
        F.round(F.log(F.col("n").cast("double") / F.col("df")) * 1000000)
        .cast("long")
        .alias("w_e6"),
    )
    w = _ckpt(w)  # shared fan-out relation (3 consumers)
    qterms = spark.createDataFrame([("data",), ("system",)], ["tok"])
    base = (
        tf.join(F.broadcast(qterms), "tok")
        .join(w, "tok")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("w_e6")).cast("long").alias("score_e6"))
    )
    base = _ckpt(base)  # shared fan-out relation (fb / base_top / nb)
    fb = base.orderBy(F.col("score_e6").desc(), "doc_id").limit(5).select(
        "doc_id"
    )
    cand = (
        tf.join(F.broadcast(fb), "doc_id")
        .join(w, "tok")
        .where(F.length("tok") >= 4)
        .groupBy("tok")
        .agg(F.sum(F.col("tf") * F.col("w_e6")).cast("long").alias("weight_e6"))
    )
    expand = cand.orderBy(F.col("weight_e6").desc(), "tok").limit(10).select(
        "tok"
    )
    allterms = qterms.unionByName(expand).distinct()
    rescored = (
        tf.join(F.broadcast(allterms), "tok")
        .join(w, "tok")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("w_e6")).cast("long").alias("score_e6"))
    )
    rescored = _ckpt(rescored)  # shared fan-out relation (exp_top / ne)
    base_top = base.orderBy(F.col("score_e6").desc(), "doc_id").limit(10).select(
        "doc_id"
    )
    exp_top = (
        rescored.orderBy(F.col("score_e6").desc(), "doc_id")
        .limit(10)
        .select("doc_id")
    )
    inter = base_top.join(exp_top, "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("common")
    )
    nb = base.agg(F.count(F.lit(1)).cast("long").alias("base_candidates"))
    ne = rescored.agg(
        F.count(F.lit(1)).cast("long").alias("expanded_candidates")
    )
    return (
        inter.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(ne))
        .select(
            F.col("common").alias("common_at_10"),
            F.round(
                F.col("common").cast("double") / (20 - F.col("common")), 6
            ).alias("jaccard_at_10"),
            "base_candidates",
            "expanded_candidates",
        )
    )


# ---------------------------------------------------------------------------
# wave 193: restricted mean survival time, Tornqvist price index
# ---------------------------------------------------------------------------


@query(
    "rmst_signup_purchase",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS buy_ts
        FROM events GROUP BY user_id
    ), horizon AS (SELECT MAX(ts) AS max_ts FROM events
    ), durations AS (
        SELECT CASE WHEN buy_ts IS NOT NULL AND buy_ts >= signup_ts
                    THEN date_diff('day', signup_ts, buy_ts)
                    ELSE date_diff('day', signup_ts, max_ts) END AS t_days,
               CASE WHEN buy_ts IS NOT NULL AND buy_ts >= signup_ts
                    THEN 1 ELSE 0 END AS event
        FROM per_user, horizon WHERE signup_ts IS NOT NULL
    ), km AS (
        SELECT CAST(t_days AS BIGINT) AS t_days,
               CAST(SUM(event) AS BIGINT) AS d_events,
               CAST(COUNT(*) AS BIGINT) AS n_here
        FROM durations GROUP BY t_days
    ), risk AS (
        SELECT t_days, d_events,
               CAST((SELECT COUNT(*) FROM durations)
                    - COALESCE(SUM(n_here) OVER (
                        ORDER BY t_days
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
        FROM km
    ), curve AS (
        SELECT t_days,
               ROUND(EXP(SUM(CASE WHEN d_events < n_risk AND d_events > 0
                             THEN ln(1.0 - d_events * 1.0 / n_risk)
                             ELSE 0.0 END) OVER (ORDER BY t_days)), 6) AS s
        FROM risk WHERE t_days >= 0
    ), seg AS (
        SELECT t_days, s,
               LEAD(t_days) OVER (ORDER BY t_days) AS t_next
        FROM curve WHERE t_days <= 30
    ), area AS (
        SELECT SUM(s * (LEAST(COALESCE(t_next, 30), 30) - t_days)) AS tail_area
        FROM seg
    ), first_t AS (
        SELECT MIN(t_days) AS t0 FROM curve WHERE t_days >= 0
    ), med AS (
        SELECT COALESCE(MIN(CASE WHEN s <= 0.5 THEN t_days END), -1) AS m
        FROM curve
    )
    SELECT ROUND(LEAST(f.t0, 30) * 1.0 + a.tail_area, 4) AS rmst_30_days,
           CAST(m.m AS BIGINT) AS median_survival_day,
           CAST((SELECT COUNT(*) FROM curve) AS BIGINT) AS n_curve_points
    FROM area a, first_t f, med m
    """,
)
def rmst_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time (τ=30 days) for signup→purchase:
    area under the Kaplan-Meier curve up to day 30 — 'the average
    purchase-free days in a user's first month', the estimand
    regulators now prefer over hazard ratios because it needs no
    proportional-hazards assumption (`ph_assumption_check` tests what
    this sidesteps). Median survival (first S(t) ≤ ½, −1 if never
    reached) rides along.

    Determinism: the KM curve follows `kaplan_meier_signup_purchase`'s
    construction exactly (running ln-sum over an ORDERED window —
    order-deterministic accumulation — rounded to 6 per point); the
    step-area sum runs over those rounded S values with exact integer
    day widths; median compares the rounded curve on both engines.

    Scale shape: per-user censuses → |distinct day| curve; windows and
    areas on that tiny relation.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "signup_ts"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "buy_ts"
        ),
    )
    horizon = ev.agg(F.max("ts").alias("max_ts"))
    has_buy = F.col("buy_ts").isNotNull() & (F.col("buy_ts") >= F.col("signup_ts"))
    durations = (
        per_user.crossJoin(F.broadcast(horizon))
        .where(F.col("signup_ts").isNotNull())
        .select(
            F.when(
                has_buy, F.datediff(F.col("buy_ts"), F.col("signup_ts"))
            )
            .otherwise(F.datediff(F.col("max_ts"), F.col("signup_ts")))
            .cast("long")
            .alias("t_days"),
            F.when(has_buy, 1).otherwise(0).alias("event"),
        )
    )
    durations = _ckpt(durations)  # shared fan-out relation
    km = durations.groupBy("t_days").agg(
        F.sum("event").cast("long").alias("d_events"),
        F.count(F.lit(1)).cast("long").alias("n_here"),
    )
    total = durations.agg(F.count(F.lit(1)).cast("long").alias("ntot"))
    wprev = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, -1)
    risk = km.crossJoin(F.broadcast(total)).select(
        "t_days",
        "d_events",
        (
            F.col("ntot")
            - F.coalesce(F.sum("n_here").over(wprev), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    wcum = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, 0)
    curve = risk.where(F.col("t_days") >= 0).select(
        "t_days",
        F.round(
            F.exp(
                F.sum(
                    F.when(
                        (F.col("d_events") < F.col("n_risk"))
                        & (F.col("d_events") > 0),
                        F.log(
                            1.0
                            - F.col("d_events") * F.lit(1.0) / F.col("n_risk")
                        ),
                    ).otherwise(0.0)
                ).over(wcum)
            ),
            6,
        ).alias("s"),
    )
    curve = _ckpt(curve)  # shared fan-out relation
    wl = Window.orderBy("t_days")
    seg = curve.where(F.col("t_days") <= 30).select(
        "t_days", "s", F.lead("t_days").over(wl).alias("t_next")
    )
    area = seg.agg(
        F.sum(
            F.col("s")
            * (
                F.least(F.coalesce(F.col("t_next"), F.lit(30)), F.lit(30))
                - F.col("t_days")
            )
        ).alias("tail_area")
    )
    first_t = curve.agg(F.min("t_days").alias("t0"))
    med = curve.agg(
        F.coalesce(
            F.min(F.when(F.col("s") <= 0.5, F.col("t_days"))), F.lit(-1)
        ).alias("m")
    )
    n_pts = curve.agg(F.count(F.lit(1)).cast("long").alias("n_curve_points"))
    return (
        area.crossJoin(F.broadcast(first_t))
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(n_pts))
        .select(
            F.round(
                F.least(F.col("t0"), F.lit(30)) * 1.0 + F.col("tail_area"), 4
            ).alias("rmst_30_days"),
            F.col("m").cast("long").alias("median_survival_day"),
            "n_curve_points",
        )
    )


@query(
    "tornqvist_price_index",
    oracle="""
    WITH span AS (
        SELECT MIN(epoch_us(o_orderdate)) AS lo, MAX(epoch_us(o_orderdate)) AS hi
        FROM orders
    ), flows AS (
        SELECT p.p_type AS ptype,
               CASE WHEN epoch_us(o.o_orderdate) * 2 <= s.lo + s.hi
                    THEN 0 ELSE 1 END AS period,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey, span s
        GROUP BY ptype, period
    ), wide AS (
        SELECT ptype,
               MAX(CASE WHEN period=0 THEN rev END) AS r0,
               MAX(CASE WHEN period=1 THEN rev END) AS r1,
               MAX(CASE WHEN period=0 THEN qty END) AS q0,
               MAX(CASE WHEN period=1 THEN qty END) AS q1
        FROM flows GROUP BY ptype
        HAVING MAX(CASE WHEN period=0 THEN rev END) IS NOT NULL
           AND MAX(CASE WHEN period=1 THEN rev END) IS NOT NULL
    ), tot AS (
        SELECT CAST(SUM(r0) AS BIGINT) AS t0, CAST(SUM(r1) AS BIGINT) AS t1
        FROM wide
    ), terms AS (
        SELECT ptype,
               ROUND(0.5 * (CAST(r0 AS DOUBLE)/t.t0 + CAST(r1 AS DOUBLE)/t.t1)
                     * ln((CAST(r1 AS DOUBLE)/q1) / (CAST(r0 AS DOUBLE)/q0)),
                     9) AS term
        FROM wide, tot t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           ROUND(exp(SUM(term)), 6) AS tornqvist_index,
           CAST(CASE WHEN exp(SUM(term)) > 1.0 THEN 1 ELSE 0 END AS BIGINT)
               AS inflationary
    FROM terms
    """,
)
def tornqvist_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Törnqvist price index between the two halves of the window (unit
    prices = revenue/quantity per part type; weights = the AVERAGE of
    the two periods' revenue shares): exp(Σ ½(s₀+s₁)·ln(p₁/p₀)).
    Completes the index-number family — `laspeyres_price_index` (base
    weights), `fisher_price_index` (geometric mean of L and Paasche),
    Törnqvist (the superlative discrete Divisia that the Fed's PCE
    actually uses).

    Determinism: revenues/quantities exact; each type's term is one
    fixed double expression ROUNDED TO 9 before the 6-term sum
    (recurrence-input pattern), so exp sees identical inputs.

    Scale shape: fact + broadcast dims → |types|×2 agg → 1-row pivot
    and census.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    em = F.expr("unix_micros(CAST(o_orderdate AS timestamp_ltz))")
    span = o.agg(F.min(em).alias("lo"), F.max(em).alias("hi"))
    flows = (
        li.join(
            o.select("o_orderkey", "o_orderdate").withColumnRenamed(
                "o_orderkey", "l_orderkey"
            ),
            "l_orderkey",
        )
        .join(
            F.broadcast(p.select(F.col("p_partkey").alias("l_partkey"), "p_type")),
            "l_partkey",
        )
        .crossJoin(F.broadcast(span))
        .select(
            F.col("p_type").alias("ptype"),
            F.when(em * 2 <= F.col("lo") + F.col("hi"), 0).otherwise(1).alias(
                "period"
            ),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .groupBy("ptype", "period")
        .agg(
            F.sum("cents").cast("long").alias("rev"),
            F.sum("q").cast("long").alias("qty"),
        )
    )
    wide = (
        flows.groupBy("ptype")
        .agg(
            F.max(F.when(F.col("period") == 0, F.col("rev"))).alias("r0"),
            F.max(F.when(F.col("period") == 1, F.col("rev"))).alias("r1"),
            F.max(F.when(F.col("period") == 0, F.col("qty"))).alias("q0"),
            F.max(F.when(F.col("period") == 1, F.col("qty"))).alias("q1"),
        )
        .where(F.col("r0").isNotNull() & F.col("r1").isNotNull())
    )
    wide = _ckpt(wide)  # shared fan-out relation
    tot = wide.agg(
        F.sum("r0").cast("long").alias("t0"), F.sum("r1").cast("long").alias("t1")
    )
    term = F.round(
        0.5
        * (
            F.col("r0").cast("double") / F.col("t0")
            + F.col("r1").cast("double") / F.col("t1")
        )
        * F.log(
            (F.col("r1").cast("double") / F.col("q1"))
            / (F.col("r0").cast("double") / F.col("q0"))
        ),
        9,
    )
    terms = wide.crossJoin(F.broadcast(tot)).select(term.alias("term"))
    idx = F.exp(F.sum("term"))
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.round(idx, 6).alias("tornqvist_index"),
        F.when(idx > 1.0, 1).otherwise(0).cast("long").alias("inflationary"),
    )


# ---------------------------------------------------------------------------
# wave 194: X-bar/R control chart, process capability indices
# ---------------------------------------------------------------------------

_SUBGROUP_SQL = """
    WITH ranked AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
               ROW_NUMBER() OVER (
                   PARTITION BY CAST(epoch_us(o_orderdate) // 86400000000
                                     AS BIGINT)
                   ORDER BY o_orderkey) AS rn
        FROM orders
    ), sub AS (
        SELECT day,
               CAST(SUM(v) AS BIGINT) AS s,
               CAST(MAX(v) - MIN(v) AS BIGINT) AS r,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM ranked WHERE rn <= 5 GROUP BY day HAVING COUNT(*) = 5
    ), grand AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(s) AS BIGINT) AS ss,
               CAST(SUM(r) AS BIGINT) AS sr
        FROM sub
    )
"""


@query(
    "xbar_r_control_chart",
    oracle=_SUBGROUP_SQL
    + """
    , limits AS (
        SELECT m,
               CAST(ss AS DOUBLE) / (5.0 * m) AS xbb,
               CAST(sr AS DOUBLE) / m AS rbar
        FROM grand
    )
    SELECT l.m AS n_subgroups,
           ROUND(l.xbb / 100.0, 4) AS xbar_bar_dollars,
           ROUND(l.rbar / 100.0, 4) AS rbar_dollars,
           CAST(SUM(CASE WHEN CAST(s.s AS DOUBLE) / 5.0
                              > l.xbb + 0.577 * l.rbar
                          OR CAST(s.s AS DOUBLE) / 5.0
                              < l.xbb - 0.577 * l.rbar
                     THEN 1 ELSE 0 END) AS BIGINT) AS xbar_violations,
           CAST(SUM(CASE WHEN CAST(s.r AS DOUBLE) > 2.114 * l.rbar
                     THEN 1 ELSE 0 END) AS BIGINT) AS range_violations
    FROM sub s, limits l GROUP BY l.m, l.xbb, l.rbar
    """,
)
def xbar_r_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X̄-R control chart over daily size-5 subgroups of order value
    (first five orders per day by orderkey — a fixed, auditable
    subgrouping rule): center lines X̿ and R̄, Shewhart limits
    X̿ ± A₂R̄ (A₂=0.577 for n=5) and D₄R̄ (D₄=2.114), and both
    violation censuses. The SUBGROUPED classic behind
    `p_chart_weekly_late_orders` (attributes) and
    `hotelling_t2_daily` (multivariate) — X̄-R separates
    between-subgroup drift from within-subgroup spread.

    Determinism: subgroup sums/ranges exact cents; center lines are
    single divisions; every limit comparison is a fixed double
    expression over exact integers — identical trees both engines;
    violation counts are exact.

    Scale shape: one rank-within-day window (partition count bounded
    by |days|), subgroup agg, 1-row census, then a broadcast-limits
    recount. Two passes over the day-partitioned relation.
    """
    o = load_table(spark, sf_dir, "orders")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ranked = o.select(
        epoch_day("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.row_number()
        .over(Window.partitionBy(epoch_day("o_orderdate")).orderBy("o_orderkey"))
        .alias("rn"),
    )
    sub = (
        ranked.where(F.col("rn") <= 5)
        .groupBy("day")
        .agg(
            F.sum("v").cast("long").alias("s"),
            (F.max("v") - F.min("v")).cast("long").alias("r"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
        .where(F.col("k") == 5)
    )
    grand = sub.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("s").cast("long").alias("ss"),
        F.sum("r").cast("long").alias("sr"),
    )
    limits = grand.select(
        "m",
        (F.col("ss").cast("double") / (5.0 * F.col("m"))).alias("xbb"),
        (F.col("sr").cast("double") / F.col("m")).alias("rbar"),
    )
    xbar = F.col("s").cast("double") / 5.0
    joined = sub.crossJoin(F.broadcast(limits))
    return joined.groupBy("m", "xbb", "rbar").agg(
        F.sum(
            F.when(
                (xbar > F.col("xbb") + 0.577 * F.col("rbar"))
                | (xbar < F.col("xbb") - 0.577 * F.col("rbar")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("xbar_violations"),
        F.sum(
            F.when(F.col("r").cast("double") > 2.114 * F.col("rbar"), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("range_violations"),
    ).select(
        F.col("m").alias("n_subgroups"),
        F.round(F.col("xbb") / 100.0, 4).alias("xbar_bar_dollars"),
        F.round(F.col("rbar") / 100.0, 4).alias("rbar_dollars"),
        "xbar_violations",
        "range_violations",
    )


@query(
    "process_capability_orders",
    oracle=_SUBGROUP_SQL
    + """
    SELECT m AS n_subgroups,
           ROUND((500000.0 - 10000.0) * 100.0
                 / (6.0 * (CAST(sr AS DOUBLE) / m) / 2.326), 4) AS cp,
           ROUND(LEAST(500000.0 * 100.0 - CAST(ss AS DOUBLE) / (5.0 * m),
                       CAST(ss AS DOUBLE) / (5.0 * m) - 10000.0 * 100.0)
                 / (3.0 * (CAST(sr AS DOUBLE) / m) / 2.326), 4) AS cpk,
           CAST(CASE WHEN (500000.0 - 10000.0) * 100.0
                          / (6.0 * (CAST(sr AS DOUBLE) / m) / 2.326)
                          >= 1.33 THEN 1 ELSE 0 END AS BIGINT) AS capable
    FROM grand
    """,
)
def process_capability_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process capability of order values against spec limits
    [$10,000, $500,000] (in cents internally): Cp = (USL−LSL)/6σ̂ and Cpk =
    min(USL−μ, μ−LSL)/3σ̂ with the within-subgroup Shewhart estimate
    σ̂ = R̄/d₂ (d₂=2.326 for n=5) from the same daily subgroups as
    `xbar_r_control_chart`. Cp asks 'could the process fit the spec if
    centered'; Cpk 'does it, as centered' — the pair every SLO budget
    (`slo_error_budget_burn`) implicitly assumes.

    Determinism: same exact subgroup sums; Cp/Cpk are fixed double
    expressions, rounded once; capability flag on the unrounded Cp.
    (Cpk here goes negative when the mean sits outside spec — kept, as
    that IS the diagnosis.)

    Scale shape: identical to the chart — subgroup agg then a 1-row
    census, no extra pass.
    """
    o = load_table(spark, sf_dir, "orders")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ranked = o.select(
        epoch_day("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.row_number()
        .over(Window.partitionBy(epoch_day("o_orderdate")).orderBy("o_orderkey"))
        .alias("rn"),
    )
    sub = (
        ranked.where(F.col("rn") <= 5)
        .groupBy("day")
        .agg(
            F.sum("v").cast("long").alias("s"),
            F.count(F.lit(1)).cast("long").alias("k"),
            (F.max("v") - F.min("v")).cast("long").alias("r"),
        )
        .where(F.col("k") == 5)
    )
    grand = sub.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("s").cast("long").alias("ss"),
        F.sum("r").cast("long").alias("sr"),
    )
    sigma = (F.col("sr").cast("double") / F.col("m")) / 2.326
    mu = F.col("ss").cast("double") / (5.0 * F.col("m"))
    cp = (500000.0 - 10000.0) * 100.0 / (6.0 * sigma)
    cpk = (
        F.least(500000.0 * 100.0 - mu, mu - 10000.0 * 100.0) / (3.0 * sigma)
    )
    return grand.select(
        F.col("m").alias("n_subgroups"),
        F.round(cp, 4).alias("cp"),
        F.round(cpk, 4).alias("cpk"),
        F.when(cp >= 1.33, 1).otherwise(0).cast("long").alias("capable"),
    )


# ---------------------------------------------------------------------------
# wave 195: MERGE upsert semantics audit, Gini-gain feature ranking
# ---------------------------------------------------------------------------


@query(
    "merge_upsert_audit",
    oracle="""
    WITH target AS (
        SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal
        FROM customer
    ), staged AS (
        SELECT user_id AS k,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                        THEN CAST(ROUND(value * 100) AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS delta,
               CAST(COUNT(*) AS BIGINT) AS n_ev
        FROM events GROUP BY user_id
    ), merged AS (
        SELECT COALESCE(t.k, s.k) AS k,
               CASE WHEN t.k IS NOT NULL AND s.k IS NOT NULL THEN 'update'
                    WHEN t.k IS NULL THEN 'insert'
                    ELSE 'delete' END AS action,
               CASE WHEN t.k IS NOT NULL AND s.k IS NOT NULL
                    THEN t.bal + s.delta
                    WHEN t.k IS NULL THEN s.delta
                    ELSE NULL END AS new_bal
        FROM target t FULL OUTER JOIN staged s ON s.k = t.k
    )
    SELECT action, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COALESCE(SUM(new_bal), 0) AS BIGINT) AS total_balance_cents
    FROM merged GROUP BY action ORDER BY action
    """,
)
def merge_upsert_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics expressed as a full-outer join — the
    lakehouse upsert kernel: WHEN MATCHED → update (credit purchase
    deltas to the balance), WHEN NOT MATCHED BY TARGET → insert, WHEN
    NOT MATCHED BY SOURCE → delete. Returns the per-action row counts
    and post-merge balance mass — the audit a CDC writer
    (`streaming_cdc_upsert`, `cdc_latest_state`) should emit with
    every commit.

    Determinism: staged deltas and target balances are exact cents;
    the action partition is pure key algebra; sums exact.

    Scale shape: ONE shuffle-co-keyed full-outer join (both sides hash
    on the key — the same plan Delta/Iceberg MERGE lowers to), then a
    3-row census. At 100 TB, partition-prune the target by the staged
    key range first (documented).
    """
    c = load_table(spark, sf_dir, "customer")
    ev = load_table(spark, sf_dir, "events")
    target = c.select(
        F.col("c_custkey").alias("tk"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    staged = ev.groupBy(F.col("user_id").alias("sk")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("delta"),
        F.count(F.lit(1)).cast("long").alias("n_ev"),
    )
    merged = target.join(
        staged, F.col("tk") == F.col("sk"), "full_outer"
    ).select(
        F.when(
            F.col("tk").isNotNull() & F.col("sk").isNotNull(), "update"
        )
        .when(F.col("tk").isNull(), "insert")
        .otherwise("delete")
        .alias("action"),
        F.when(
            F.col("tk").isNotNull() & F.col("sk").isNotNull(),
            F.col("bal") + F.col("delta"),
        )
        .when(F.col("tk").isNull(), F.col("delta"))
        .otherwise(F.lit(None).cast("long"))
        .alias("new_bal"),
    )
    return (
        merged.groupBy("action")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(F.sum("new_bal"), F.lit(0))
            .cast("long")
            .alias("total_balance_cents"),
        )
        .orderBy("action")
    )


@query(
    "feature_ranking_gini",
    oracle="""
    WITH pts AS (
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) // 200000 AS f_price,
               CAST(l_quantity AS BIGINT) // 10 AS f_qty,
               CAST(ROUND(l_discount * 100) AS BIGINT) // 2 AS f_disc,
               CAST(ROUND(l_tax * 100) AS BIGINT) // 2 AS f_tax
        FROM lineitem
    ), long_ AS (
        SELECT y, 'price' AS feat, f_price AS bin FROM pts
        UNION ALL SELECT y, 'qty', f_qty FROM pts
        UNION ALL SELECT y, 'disc', f_disc FROM pts
        UNION ALL SELECT y, 'tax', f_tax FROM pts
    ), bins AS (
        SELECT feat, bin, CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(y) AS BIGINT) AS pos
        FROM long_ GROUP BY feat, bin
    ), cum AS (
        SELECT feat, bin,
               CAST(SUM(cnt) OVER (PARTITION BY feat ORDER BY bin) AS BIGINT)
                   AS cl,
               CAST(SUM(pos) OVER (PARTITION BY feat ORDER BY bin) AS BIGINT)
                   AS pl,
               CAST(SUM(cnt) OVER (PARTITION BY feat) AS BIGINT) AS n,
               CAST(SUM(pos) OVER (PARTITION BY feat) AS BIGINT) AS p
        FROM bins
    ), cand AS (
        SELECT feat, bin, cl, pl, n, p, n - cl AS cr, p - pl AS pr
        FROM cum WHERE cl > 0 AND n - cl > 0
    ), gini AS (
        SELECT feat, bin,
               CAST(((CAST(cl AS HUGEINT)*cl - CAST(pl AS HUGEINT)*pl
                      - CAST(cl-pl AS HUGEINT)*(cl-pl)) * cr
                     + (CAST(cr AS HUGEINT)*cr - CAST(pr AS HUGEINT)*pr
                        - CAST(cr-pr AS HUGEINT)*(cr-pr)) * cl)
                    * 1000000000
                    // (CAST(n AS HUGEINT) * cl * cr) AS BIGINT) AS g_ppb
        FROM cand
    ), root AS (
        SELECT feat,
               CAST(MAX((CAST(n AS HUGEINT)*n - CAST(p AS HUGEINT)*p
                         - CAST(n-p AS HUGEINT)*(n-p)) * 1000000000
                        // (CAST(n AS HUGEINT) * n)) AS BIGINT) AS root_ppb
        FROM cum GROUP BY feat
    ), best AS (
        SELECT g.feat, MIN(struct_pack(g_ppb := g.g_ppb, bin := g.bin)) AS b
        FROM gini g GROUP BY g.feat
    )
    SELECT b.feat AS feature, b.b.bin AS best_bin,
           r.root_ppb - b.b.g_ppb AS gini_gain_ppb,
           CAST(ROW_NUMBER() OVER (
               ORDER BY r.root_ppb - b.b.g_ppb DESC, b.feat) AS BIGINT) AS rnk
    FROM best b JOIN root r ON r.feat = b.feat
    ORDER BY rnk
    """,
)
def feature_ranking_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-split feature importance: for each candidate feature
    (binned price, quantity, discount, tax), find its best
    histogram-split Gini (the `decision_stump_price_returnflag`
    machinery generalized via an UNPIVOT to a long relation) and rank
    features by gain vs the root impurity — the first boosting round's
    view of which columns carry signal about return flags.

    Determinism: all impurities are exact fixed-point ppb (128-bit
    integer algebra, floor division); gains are integer differences;
    ranking is (gain desc, name) — fully exact, no floats anywhere.

    Scale shape: one unpivot (×4 rows, map-side), per-(feat, bin) hash
    agg, cumulative windows on the tiny bin relations, struct-min
    argmin per feature. The fact table is read once.
    """
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    pts = li.select(
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
        F.floor(F.round(F.col("l_extendedprice") * 100).cast("long") / 200000)
        .cast("long")
        .alias("f_price"),
        F.floor(F.col("l_quantity").cast("long") / 10).cast("long").alias("f_qty"),
        F.floor(F.round(F.col("l_discount") * 100).cast("long") / 2)
        .cast("long")
        .alias("f_disc"),
        F.floor(F.round(F.col("l_tax") * 100).cast("long") / 2)
        .cast("long")
        .alias("f_tax"),
    )
    pts = _ckpt(pts)  # shared fan-out relation
    long_ = (
        pts.select("y", F.lit("price").alias("feat"), F.col("f_price").alias("bin"))
        .unionAll(
            pts.select("y", F.lit("qty").alias("feat"), F.col("f_qty").alias("bin"))
        )
        .unionAll(
            pts.select(
                "y", F.lit("disc").alias("feat"), F.col("f_disc").alias("bin")
            )
        )
        .unionAll(
            pts.select("y", F.lit("tax").alias("feat"), F.col("f_tax").alias("bin"))
        )
    )
    bins = long_.groupBy("feat", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    wo = (
        Window.partitionBy("feat")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = Window.partitionBy("feat")
    cum = bins.select(
        "feat",
        "bin",
        F.sum("cnt").over(wo).cast("long").alias("cl"),
        F.sum("pos").over(wo).cast("long").alias("pl"),
        F.sum("cnt").over(wf).cast("long").alias("n"),
        F.sum("pos").over(wf).cast("long").alias("p"),
    )
    cand = cum.where((F.col("cl") > 0) & (F.col("n") - F.col("cl") > 0)).select(
        "feat",
        "bin",
        "cl",
        "pl",
        "n",
        (F.col("n") - F.col("cl")).alias("cr"),
        (F.col("p") - F.col("pl")).alias("pr"),
    )
    nl, nr, ppl, ppr = dec("cl"), dec("cr"), dec("pl"), dec("pr")
    a_imp = nl * nl - ppl * ppl - (nl - ppl) * (nl - ppl)
    b_imp = nr * nr - ppr * ppr - (nr - ppr) * (nr - ppr)
    gini = cand.select(
        "feat",
        "bin",
        F.floor((a_imp * nr + b_imp * nl) * 1000000000 / (dec("n") * nl * nr))
        .cast("long")
        .alias("g_ppb"),
    )
    nn, pp = dec("n"), dec("p")
    root = cum.groupBy("feat").agg(
        F.max(
            F.floor(
                (nn * nn - pp * pp - (nn - pp) * (nn - pp))
                * 1000000000
                / (nn * nn)
            )
        )
        .cast("long")
        .alias("root_ppb")
    )
    best = gini.groupBy("feat").agg(
        F.min(F.struct(F.col("g_ppb"), F.col("bin"))).alias("b")
    )
    out = best.join(root, "feat").select(
        F.col("feat").alias("feature"),
        F.col("b.bin").alias("best_bin"),
        (F.col("root_ppb") - F.col("b.g_ppb")).alias("gini_gain_ppb"),
    )
    return out.select(
        "feature",
        "best_bin",
        "gini_gain_ppb",
        F.row_number()
        .over(Window.orderBy(F.col("gini_gain_ppb").desc(), "feature"))
        .cast("long")
        .alias("rnk"),
    ).orderBy("rnk")


# ---------------------------------------------------------------------------
# wave 196: ridge regression closed form, 2x2 PCA eigendecomposition
# ---------------------------------------------------------------------------


@query(
    "ridge_regression_price",
    oracle="""
    WITH pts AS (
        SELECT CAST(l_quantity AS DOUBLE) AS x1,
               CAST(ROUND(l_discount * 100) AS BIGINT) * 1.0 AS x2,
               l_extendedprice AS y
        FROM lineitem
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
               SUM(x1*x1) AS s11, SUM(x2*x2) AS s22, SUM(x1*x2) AS s12,
               SUM(x1*y) AS s1y, SUM(x2*y) AS s2y
        FROM pts
    ), c AS (
        SELECT n,
               s11 - s1*s1/n AS c11, s22 - s2*s2/n AS c22,
               s12 - s1*s2/n AS c12, s1y - s1*sy/n AS c1y,
               s2y - s2*sy/n AS c2y,
               s1/n AS m1, s2/n AS m2, sy/n AS my
        FROM mom
    ), fits AS (
        SELECT n, m1, m2, my,
               ((c22 + 0.0) * c1y - c12 * c2y)
                   / ((c11 + 0.0) * (c22 + 0.0) - c12 * c12) AS b1_ols,
               ((c11 + 0.0) * c2y - c12 * c1y)
                   / ((c11 + 0.0) * (c22 + 0.0) - c12 * c12) AS b2_ols,
               ((c22 + 1000.0 * n) * c1y - c12 * c2y)
                   / ((c11 + 1000.0 * n) * (c22 + 1000.0 * n) - c12 * c12)
                   AS b1_ridge,
               ((c11 + 1000.0 * n) * c2y - c12 * c1y)
                   / ((c11 + 1000.0 * n) * (c22 + 1000.0 * n) - c12 * c12)
                   AS b2_ridge
        FROM c
    )
    SELECT n AS n_rows,
           ROUND(b1_ols, 6) AS b1_ols, ROUND(b2_ols, 6) AS b2_ols,
           ROUND(b1_ridge, 6) AS b1_ridge, ROUND(b2_ridge, 6) AS b2_ridge,
           ROUND(my - b1_ridge * m1 - b2_ridge * m2, 4) AS intercept_ridge
    FROM fits
    """,
)
def ridge_regression_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression of price on (quantity, discount) with λn
    Tikhonov damping, via the closed-form 2×2 normal equations
    (X'X + λnI)⁻¹X'y on centered moments — OLS coefficients ride along
    for the shrinkage comparison. The regularized counterpart of the
    `regr_function_suite`/`fwl_partialling_identity` OLS layer: when
    regressors are collinear at corpus scale, this is the fit that
    stays stable.

    Determinism: follows the repo's moment-census precedent — one
    streaming agg of 9 sums with identical expression trees, the 2×2
    solve as fixed double algebra, one round per coefficient.

    Scale shape: single full-scan census; no shuffle of data rows; the
    solve is driver-free in-plan scalar algebra. The p-feature version
    is the same shape with p(p+1)/2 sums.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("double").alias("x1"),
        (F.round(F.col("l_discount") * 100).cast("long") * 1.0).alias("x2"),
        F.col("l_extendedprice").alias("y"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    c = mom.select(
        "n",
        (F.col("s11") - F.col("s1") * F.col("s1") / F.col("n")).alias("c11"),
        (F.col("s22") - F.col("s2") * F.col("s2") / F.col("n")).alias("c22"),
        (F.col("s12") - F.col("s1") * F.col("s2") / F.col("n")).alias("c12"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / F.col("n")).alias("c1y"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / F.col("n")).alias("c2y"),
        (F.col("s1") / F.col("n")).alias("m1"),
        (F.col("s2") / F.col("n")).alias("m2"),
        (F.col("sy") / F.col("n")).alias("my"),
    )

    def solve(lam):
        a11 = F.col("c11") + lam * F.col("n")
        a22 = F.col("c22") + lam * F.col("n")
        det = a11 * a22 - F.col("c12") * F.col("c12")
        b1 = (a22 * F.col("c1y") - F.col("c12") * F.col("c2y")) / det
        b2 = (a11 * F.col("c2y") - F.col("c12") * F.col("c1y")) / det
        return b1, b2

    b1o, b2o = solve(0.0)
    b1r, b2r = solve(1000.0)
    return c.select(
        F.col("n").alias("n_rows"),
        F.round(b1o, 6).alias("b1_ols"),
        F.round(b2o, 6).alias("b2_ols"),
        F.round(b1r, 6).alias("b1_ridge"),
        F.round(b2r, 6).alias("b2_ridge"),
        F.round(
            F.col("my") - b1r * F.col("m1") - b2r * F.col("m2"), 4
        ).alias("intercept_ridge"),
    )


@query(
    "pca2_price_quantity",
    oracle="""
    WITH pts AS (
        SELECT CAST(l_quantity AS DOUBLE) AS x, l_extendedprice / 1000.0 AS y
        FROM lineitem
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
        FROM pts
    ), cov AS (
        SELECT n,
               (sxx - sx*sx/n) / (n-1) AS a,
               (syy - sy*sy/n) / (n-1) AS c,
               (sxy - sx*sy/n) / (n-1) AS b
        FROM mom
    ), eig AS (
        SELECT n, a, b, c,
               (a + c) / 2.0 + sqrt(((a - c)/2.0)*((a - c)/2.0) + b*b) AS l1,
               (a + c) / 2.0 - sqrt(((a - c)/2.0)*((a - c)/2.0) + b*b) AS l2
        FROM cov
    )
    SELECT n AS n_rows,
           ROUND(l1, 6) AS lambda1, ROUND(l2, 6) AS lambda2,
           ROUND(l1 / (l1 + l2), 6) AS explained_ratio,
           ROUND(degrees(atan2(l1 - a, b)), 4) AS pc1_angle_deg
    FROM eig
    """,
)
def pca2_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form 2×2 PCA of (quantity, price/1000): covariance
    eigenvalues λ = tr/2 ± √((a−c)²/4 + b²), explained-variance ratio,
    and the first principal axis angle atan2(λ₁−a, b). The exact
    fact-column counterpart of `power_iteration_top_pc` (which
    iterates on high-dim embeddings) — for 2-3 engineered features the
    eigenproblem needs no iteration at all, so the 100-TB cost is one
    moment census.

    Determinism: moment-census precedent (double sums, identical
    trees); the eigen algebra is fixed; one round per output.

    Scale shape: single streaming census; scalar algebra in-plan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        (F.col("l_extendedprice") / 1000.0).alias("y"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    cov = mom.select(
        "n",
        ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)).alias("a"),
        ((F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (F.col("n") - 1)).alias("c"),
        ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (F.col("n") - 1)).alias("b"),
    )
    disc = F.sqrt(
        ((F.col("a") - F.col("c")) / 2.0) * ((F.col("a") - F.col("c")) / 2.0)
        + F.col("b") * F.col("b")
    )
    l1 = (F.col("a") + F.col("c")) / 2.0 + disc
    l2 = (F.col("a") + F.col("c")) / 2.0 - disc
    eig = cov.select("n", "a", "b", "c", l1.alias("l1"), l2.alias("l2"))
    return eig.select(
        F.col("n").alias("n_rows"),
        F.round(F.col("l1"), 6).alias("lambda1"),
        F.round(F.col("l2"), 6).alias("lambda2"),
        F.round(F.col("l1") / (F.col("l1") + F.col("l2")), 6).alias(
            "explained_ratio"
        ),
        F.round(
            F.degrees(F.atan2(F.col("l1") - F.col("a"), F.col("b"))), 4
        ).alias("pc1_angle_deg"),
    )


# ---------------------------------------------------------------------------
# wave 197: partial dependence profile, ablation R2 importance
# ---------------------------------------------------------------------------


@query(
    "partial_dependence_price",
    oracle="""
    WITH pts AS (
        SELECT o_orderkey, ln(o_totalprice) AS x,
               CASE WHEN o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END AS y
        FROM orders WHERE o_totalprice > 0
    ), f1 AS (
        SELECT (SUM(x*(4*y-2)) - SUM(x)*SUM(4*y-2)/COUNT(*))
               / (SUM(x*x) - SUM(x)*SUM(x)/COUNT(*)) AS b,
               SUM(4*y-2)/COUNT(*)
               - (SUM(x*(4*y-2)) - SUM(x)*SUM(4*y-2)/COUNT(*))
                 / (SUM(x*x) - SUM(x)*SUM(x)/COUNT(*))
                 * SUM(x)/COUNT(*) AS a
        FROM pts
    ), grid AS (
        SELECT unnest(generate_series(7, 13)) AS gx
    ), pdp AS (
        SELECT g.gx,
               ROUND(AVG(1.0/(1.0+exp(-(f.a + f.b * g.gx)))), 6) AS p_hat,
               CAST(COUNT(*) AS BIGINT) AS n_evaluated
        FROM pts, grid g, f1 f
        GROUP BY g.gx
    )
    SELECT gx AS ln_price_point, p_hat, n_evaluated
    FROM pdp ORDER BY gx
    """,
)
def partial_dependence_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-dependence profile of the logistic status model over a
    fixed ln-price grid {7..13}: for each grid value g, the average
    model prediction with every row's price REPLACED by g (the
    Friedman PDP estimand — here the model is univariate so the
    profile is the curve itself, and the construction demonstrates the
    grid-cross-join shape that generalizes to multivariate models).
    The explainability view completing the wave-172/181 model:
    coefficients say direction, PDP shows the response surface.

    Determinism: coefficients from the same exact-tree census as
    `logistic_irls_status_price` (first Newton step = closed OLS);
    each grid point's prediction is CONSTANT across rows, so the AVG
    is that constant — engine-order-proof; rounded once.

    Scale shape: 1-row coefficient census broadcast; the grid cross
    join is |grid|×|rows| but projects ONLY the constant expression —
    Catalyst collapses it; 7-row output.
    """
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    pts = o.select(
        F.log(F.col("o_totalprice")).alias("x"),
        F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0).alias("y"),
    )
    zc = 4 * F.col("y") - 2
    n = F.count(F.lit(1))
    f1 = pts.agg(
        (
            (F.sum(F.col("x") * zc) - F.sum("x") * F.sum(zc) / n)
            / (F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x") / n)
        ).alias("b"),
        (
            F.sum(zc) / n
            - (F.sum(F.col("x") * zc) - F.sum("x") * F.sum(zc) / n)
            / (F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x") / n)
            * F.sum("x")
            / n
        ).alias("a"),
    )
    grid = spark.range(7, 14).select(F.col("id").alias("gx"))
    pdp = (
        pts.crossJoin(F.broadcast(grid))
        .crossJoin(F.broadcast(f1))
        .groupBy("gx")
        .agg(
            F.round(
                F.avg(
                    1.0 / (1.0 + F.exp(-(F.col("a") + F.col("b") * F.col("gx"))))
                ),
                6,
            ).alias("p_hat"),
            F.count(F.lit(1)).cast("long").alias("n_evaluated"),
        )
    )
    return pdp.select(
        F.col("gx").cast("long").alias("ln_price_point"), "p_hat", "n_evaluated"
    ).orderBy("ln_price_point")


@query(
    "ablation_r2_importance",
    oracle="""
    WITH pts AS (
        SELECT CAST(l_quantity AS DOUBLE) AS x1,
               CAST(ROUND(l_discount * 100) AS BIGINT) * 1.0 AS x2,
               l_extendedprice AS y
        FROM lineitem
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
               SUM(x1*x1) AS s11, SUM(x2*x2) AS s22, SUM(x1*x2) AS s12,
               SUM(x1*y) AS s1y, SUM(x2*y) AS s2y, SUM(y*y) AS syy
        FROM pts
    ), c AS (
        SELECT n,
               s11 - s1*s1/n AS c11, s22 - s2*s2/n AS c22,
               s12 - s1*s2/n AS c12, s1y - s1*sy/n AS c1y,
               s2y - s2*sy/n AS c2y, syy - sy*sy/n AS cyy
        FROM mom
    ), r2s AS (
        SELECT n,
               ((c22 * c1y - c12 * c2y) * c1y + (c11 * c2y - c12 * c1y) * c2y)
                   / ((c11 * c22 - c12 * c12) * cyy) AS r2_full,
               c1y * c1y / (c11 * cyy) AS r2_only1,
               c2y * c2y / (c22 * cyy) AS r2_only2
        FROM c
    )
    SELECT n AS n_rows,
           ROUND(r2_full, 6) AS r2_full,
           ROUND(r2_full - r2_only2, 6) AS importance_quantity,
           ROUND(r2_full - r2_only1, 6) AS importance_discount,
           CAST(CASE WHEN r2_full - r2_only2 > r2_full - r2_only1
                THEN 1 ELSE 0 END AS BIGINT) AS quantity_dominates
    FROM r2s
    """,
)
def ablation_r2_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ablation (leave-one-covariate-out) importance for the two-feature
    price model: ΔR² = R²(both) − R²(without feature), computed
    entirely from the closed-form moment algebra of
    `ridge_regression_price`. The deterministic stand-in for
    permutation importance — at corpus scale you don't reshuffle a
    column, you re-solve the normal equations without it, which costs
    nothing once the moment census exists. Complements
    `feature_ranking_gini` (split-based, classification) with the
    regression-R² view.

    Determinism: one moment census (double sums, identical trees);
    all R²s are fixed rational expressions of centered moments; one
    round each; the dominance flag compares unrounded values.

    Scale shape: single full-scan census; everything else is scalar
    algebra in-plan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("double").alias("x1"),
        (F.round(F.col("l_discount") * 100).cast("long") * 1.0).alias("x2"),
        F.col("l_extendedprice").alias("y"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    c = mom.select(
        "n",
        (F.col("s11") - F.col("s1") * F.col("s1") / F.col("n")).alias("c11"),
        (F.col("s22") - F.col("s2") * F.col("s2") / F.col("n")).alias("c22"),
        (F.col("s12") - F.col("s1") * F.col("s2") / F.col("n")).alias("c12"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / F.col("n")).alias("c1y"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / F.col("n")).alias("c2y"),
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")).alias("cyy"),
    )
    r2_full = (
        (F.col("c22") * F.col("c1y") - F.col("c12") * F.col("c2y")) * F.col("c1y")
        + (F.col("c11") * F.col("c2y") - F.col("c12") * F.col("c1y"))
        * F.col("c2y")
    ) / ((F.col("c11") * F.col("c22") - F.col("c12") * F.col("c12")) * F.col("cyy"))
    r2_1 = F.col("c1y") * F.col("c1y") / (F.col("c11") * F.col("cyy"))
    r2_2 = F.col("c2y") * F.col("c2y") / (F.col("c22") * F.col("cyy"))
    return c.select(
        F.col("n").alias("n_rows"),
        F.round(r2_full, 6).alias("r2_full"),
        F.round(r2_full - r2_2, 6).alias("importance_quantity"),
        F.round(r2_full - r2_1, 6).alias("importance_discount"),
        F.when(r2_full - r2_2 > r2_full - r2_1, 1)
        .otherwise(0)
        .cast("long")
        .alias("quantity_dominates"),
    )


# ---------------------------------------------------------------------------
# wave 198: kNN held-out-fold accuracy, pairwise silhouette subset
# ---------------------------------------------------------------------------


@query(
    "knn_holdout_accuracy",
    oracle="""
    WITH s AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    probes AS (SELECT * FROM s WHERE vec_id % 7 = 0),
    corpus AS (SELECT * FROM s WHERE vec_id % 7 <> 0),
    scored AS (
        SELECT p.vec_id AS pid, p.label AS true_label,
               c.label AS nb_label,
               ROUND(list_cosine_similarity(p.e, c.e), 6) AS sim,
               c.vec_id AS nid
        FROM probes p JOIN corpus c ON TRUE
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY pid ORDER BY sim DESC, nid) AS rnk
        FROM scored
    ), votes AS (
        SELECT pid, true_label, nb_label, CAST(COUNT(*) AS BIGINT) AS v
        FROM ranked WHERE rnk <= 5 GROUP BY pid, true_label, nb_label
    ), pred AS (
        SELECT pid, true_label,
               MAX(struct_pack(v := v, neg_label := -nb_label)).neg_label * -1
                   AS pred_label
        FROM votes GROUP BY pid, true_label
    )
    SELECT true_label,
           CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS accuracy_ppm
    FROM pred GROUP BY true_label ORDER BY true_label
    """,
)
def knn_holdout_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN (k=5, exact cosine) classifier evaluation with a held-out
    fold (vec_id ≡ 0 mod 7 as probes, the rest as reference): majority
    vote with a (count, smallest-label) tie-break, per-class accuracy
    in exact ppm. The supervised-eval complement of
    `label_propagation_knn` (transductive) and
    `centroid_silhouette_embedding` (unsupervised structure) — this is
    the honest 'are these embeddings good for classification' number.

    Determinism: similarities rounded to 6 BEFORE ranking (Arrow/NumPy
    matmul on Spark, list_cosine_similarity on DuckDB — the
    `cosine_topk` precedent); rank and vote tie-breaks are total
    orders; accuracy is exact integer ppm.

    Scale shape: probe set broadcast, corpus scanned once (no corpus
    shuffle — BroadcastNestedLoopJoin), per-probe top-5 via
    rank-limited window on narrow rows, then two tiny vote aggs. The
    brute-force regime is right while |probes| ≪ |corpus|/10³; beyond
    that, swap the scorer for `ivf_topk` (same downstream).
    """
    from pyspark_movie_recommender_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 7 == 0)
    corpus = emb.where(F.col("vec_id") % 7 != 0)
    topk = cosine_topk_bruteforce(corpus, probes, k=5)
    # both the neighbor-label and the probe-truth joins consume this
    # 2-column relation — ckpt so the embeddings scan feeding it runs once
    labels = _ckpt(emb.select("vec_id", "label"))
    votes = (
        topk.join(
            labels.select(
                F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nb_label")
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                labels.select(
                    F.col("vec_id").alias("probe_id"),
                    F.col("label").alias("true_label"),
                )
            ),
            "probe_id",
        )
        .groupBy("probe_id", "true_label", "nb_label")
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    pred = votes.groupBy("probe_id", "true_label").agg(
        (
            F.max(F.struct(F.col("v"), (-F.col("nb_label")).alias("neg_label")))[
                "neg_label"
            ]
            * -1
        ).alias("pred_label")
    )
    return (
        pred.groupBy("true_label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probes"),
            F.sum(
                F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
            F.floor(
                F.sum(
                    F.when(
                        F.col("pred_label") == F.col("true_label"), 1
                    ).otherwise(0)
                )
                * 1000000
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("accuracy_ppm"),
        )
        .orderBy("true_label")
    )


@query(
    "silhouette_pairwise_subset",
    oracle="""
    WITH s AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id % 10 = 0),
    pairs AS (
        SELECT a.vec_id AS ia, a.label AS la, b.label AS lb,
               CAST(ROUND((1.0 - list_cosine_similarity(a.e, b.e)) * 1000000)
                    AS BIGINT) AS d_e6
        FROM s a JOIN s b ON b.vec_id <> a.vec_id
    ), agg AS (
        SELECT ia, la, lb, CAST(SUM(d_e6) AS BIGINT) AS sd,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM pairs GROUP BY ia, la, lb
    ), ab AS (
        SELECT ia, la,
               MAX(CASE WHEN lb = la THEN CAST(sd AS DOUBLE) / c END) AS a_dist,
               MIN(CASE WHEN lb <> la THEN CAST(sd AS DOUBLE) / c END) AS b_dist
        FROM agg GROUP BY ia, la
    ), sil AS (
        SELECT la,
               (b_dist - a_dist) / GREATEST(a_dist, b_dist) AS s
        FROM ab WHERE a_dist IS NOT NULL AND b_dist IS NOT NULL
    )
    SELECT la AS label, CAST(COUNT(*) AS BIGINT) AS n_points,
           ROUND(AVG(s), 6) AS mean_silhouette
    FROM sil GROUP BY la ORDER BY la
    """,
)
def silhouette_pairwise_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE pairwise silhouette coefficient per label on a 10% id-hash
    subset: s = (b−a)/max(a,b) with a = mean cosine distance to own
    cluster, b = nearest other cluster's mean distance.
    `centroid_silhouette_embedding` approximates with centroids (the
    at-scale shape); this is the exact definition — running both
    quantifies how much the centroid shortcut lies, which is itself a
    useful audit.

    Determinism: pair distances are exact fixed-point micro-units
    (round((1−cos)·10⁶) — ONE rounding per pair, identical on both
    engines); per-(point, cluster) sums are exact integers; a/b are
    single divisions; per-label mean of ≤hundreds of O(1) silhouettes
    rounds at 6 with ulps far below the grid.

    Scale shape: the subset self-join is |S|² on narrow rows — correct
    for an audit subset (documented: sample, don't run corpus-wide);
    per-point aggs collapse immediately.
    """
    from pyspark_movie_recommender_spark.operators.similarity import cosine_arrow

    emb = load_table(spark, sf_dir, "embeddings")
    s = emb.where(F.col("vec_id") % 10 == 0).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )
    a = s.select(
        F.col("vec_id").alias("ia"), F.col("label").alias("la"), F.col("e").alias("ea")
    )
    b = s.select(
        F.col("vec_id").alias("ib"), F.col("label").alias("lb"), F.col("e").alias("eb")
    )
    cos = cosine_arrow()(F.col("ea"), F.col("eb"))
    pairs = (
        a.join(b, F.col("ib") != F.col("ia"))
        .select(
            "ia",
            "la",
            "lb",
            F.round((1.0 - cos) * 1000000).cast("long").alias("d_e6"),
        )
    )
    agg = pairs.groupBy("ia", "la", "lb").agg(
        F.sum("d_e6").cast("long").alias("sd"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    ab = agg.groupBy("ia", "la").agg(
        F.max(
            F.when(F.col("lb") == F.col("la"), F.col("sd").cast("double") / F.col("c"))
        ).alias("a_dist"),
        F.min(
            F.when(F.col("lb") != F.col("la"), F.col("sd").cast("double") / F.col("c"))
        ).alias("b_dist"),
    )
    sil = ab.where(
        F.col("a_dist").isNotNull() & F.col("b_dist").isNotNull()
    ).select(
        F.col("la"),
        (
            (F.col("b_dist") - F.col("a_dist"))
            / F.greatest(F.col("a_dist"), F.col("b_dist"))
        ).alias("s"),
    )
    return (
        sil.groupBy("la")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.round(F.avg("s"), 6).alias("mean_silhouette"),
        )
        .select(F.col("la").alias("label"), "n_points", "mean_silhouette")
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# wave 199: intra-doc repetition rate, hapax legomena ratio
# ---------------------------------------------------------------------------


@query(
    "intra_doc_repetition_rate",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    ), shingles AS (
        SELECT doc_id, source,
               array_to_string(t[g.i : g.i + 7], ' ') AS sh,
               g.i AS pos
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, len(t) - 7)) AS i) g
        WHERE len(t) >= 8
    ), marked AS (
        SELECT doc_id, source,
               CASE WHEN pos > MIN(pos) OVER (PARTITION BY doc_id, sh)
                    THEN 1 ELSE 0 END AS is_repeat
        FROM shingles
    ), per_doc AS (
        SELECT doc_id, source,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(is_repeat) AS BIGINT) AS n_repeats
        FROM marked GROUP BY doc_id, source
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_shingles) AS BIGINT) AS total_shingles,
           CAST(SUM(n_repeats) * 1000000 // SUM(n_shingles) AS BIGINT)
               AS repeat_ppm,
           CAST(SUM(CASE WHEN n_repeats * 10 > n_shingles THEN 1 ELSE 0 END)
                AS BIGINT) AS high_repeat_docs
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def intra_doc_repetition_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document 8-gram repetition rate per source: the share of
    8-token shingles that already occurred EARLIER in the same document
    (an LZ77-style redundancy proxy), plus a census of docs with >10%
    repetition — the degenerate-generation / template-stuffing signal
    that `repetition_loop_detector` (single-token runs) and
    `boilerplate_ngram_ratio` (cross-document) both miss.

    Determinism: repeat marking is an integer position comparison
    against the per-(doc, shingle) min-position window; all counts
    exact; the ppm is exact integer floor division.

    Scale shape: shingle explode → one window partitioned by
    (doc, shingle) — co-located with the explode's natural layout —
    → per-doc agg → |sources| census. Shingle text never leaves the
    partition.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", ws_tokens(F.lower(F.col("text"))).alias("t")
    ).where(F.size("t") >= 8)
    shingles = toks.select(
        "doc_id",
        "source",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(t) - 7),"
                " i -> array_join(slice(t, i, 8), ' '))"
            )
        ).alias("pos", "sh"),
    )
    wmin = Window.partitionBy("doc_id", "sh")
    marked = shingles.select(
        "doc_id",
        "source",
        F.when(F.col("pos") > F.min("pos").over(wmin), 1).otherwise(0).alias(
            "is_repeat"
        ),
    )
    per_doc = marked.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles"),
        F.sum("is_repeat").cast("long").alias("n_repeats"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_shingles").cast("long").alias("total_shingles"),
            F.floor(F.sum("n_repeats") * 1000000 / F.sum("n_shingles"))
            .cast("long")
            .alias("repeat_ppm"),
            F.sum(
                F.when(
                    F.col("n_repeats") * 10 > F.col("n_shingles"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("high_repeat_docs"),
        )
        .orderBy("source")
    )


@query(
    "hapax_ratio_by_source",
    oracle="""
    WITH toks AS (
        SELECT source,
               unnest(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(lower(trim(text)), '\\s+') END)
                   AS tok
        FROM documents
    ), freq AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS m
        FROM toks GROUP BY source, tok
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
           CAST(SUM(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS dis_legomena,
           CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
                AS BIGINT) AS hapax_ppm_of_types,
           CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) * 1000000
                // CAST(SUM(m) AS BIGINT) AS BIGINT) AS hapax_ppm_of_tokens
    FROM freq GROUP BY source ORDER BY source
    """,
)
def hapax_ratio_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax/dis legomena census per source: once- and twice-occurring
    type counts and the hapax share of both the type inventory and the
    token mass. The frequency-spectrum tail that drives
    `chao1_vocabulary_estimate` (f₁²/2f₂) and `good_turing_missing_
    mass` (f₁/N) — surfaced directly, because a hapax share drifting
    up usually means OCR noise or tokenizer breakage, and one drifting
    down means template flooding.

    Determinism: pure exact counting; ppm via integer floor division.

    Scale shape: explode → (source, token) hash agg (map-side
    combined) → |sources| census over conditional counters.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(ws_tokens(F.lower(F.col("text")))).alias("tok")
    )
    freq = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    h1 = F.sum(F.when(F.col("m") == 1, 1).otherwise(0))
    return (
        freq.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            h1.cast("long").alias("hapax"),
            F.sum(F.when(F.col("m") == 2, 1).otherwise(0))
            .cast("long")
            .alias("dis_legomena"),
            F.floor(h1 * 1000000 / F.count(F.lit(1)))
            .cast("long")
            .alias("hapax_ppm_of_types"),
            F.floor(h1 * 1000000 / F.sum("m"))
            .cast("long")
            .alias("hapax_ppm_of_tokens"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# wave 200: Weiszfeld geometric median, Mahalanobis outlier census
# ---------------------------------------------------------------------------


@query(
    "geometric_median_weiszfeld",
    oracle="""
    WITH pts AS (
        SELECT CAST(l_quantity AS DOUBLE) AS x, l_extendedprice / 1000.0 AS y
        FROM lineitem
    ), m0 AS (
        SELECT AVG(x) AS mx, AVG(y) AS my FROM pts
    ), it1 AS (
        SELECT SUM(x / sqrt((x-mx)*(x-mx) + (y-my)*(y-my) + 1e-9))
               / SUM(1.0 / sqrt((x-mx)*(x-mx) + (y-my)*(y-my) + 1e-9)) AS mx,
               SUM(y / sqrt((x-mx)*(x-mx) + (y-my)*(y-my) + 1e-9))
               / SUM(1.0 / sqrt((x-mx)*(x-mx) + (y-my)*(y-my) + 1e-9)) AS my
        FROM pts, m0
    ), it2 AS (
        SELECT SUM(x / sqrt((x-i.mx)*(x-i.mx) + (y-i.my)*(y-i.my) + 1e-9))
               / SUM(1.0 / sqrt((x-i.mx)*(x-i.mx) + (y-i.my)*(y-i.my) + 1e-9))
                   AS mx,
               SUM(y / sqrt((x-i.mx)*(x-i.mx) + (y-i.my)*(y-i.my) + 1e-9))
               / SUM(1.0 / sqrt((x-i.mx)*(x-i.mx) + (y-i.my)*(y-i.my) + 1e-9))
                   AS my
        FROM pts, it1 i
    ), obj AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(sqrt((x-i.mx)*(x-i.mx) + (y-i.my)*(y-i.my))), 2)
                   AS l1_objective
        FROM pts, it2 i
    )
    SELECT o.n AS n_rows,
           ROUND(i.mx, 4) AS median_qty,
           ROUND(i.my * 1000.0, 2) AS median_price_dollars,
           o.l1_objective
    FROM it2 i, obj o
    """,
)
def geometric_median_weiszfeld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric (spatial L1) median of the (quantity, price) cloud via
    two Weiszfeld iterations from the centroid — the multivariate
    median that coordinate-wise medians (`weighted_median_quantity`)
    are NOT: it's rotation-equivariant and the optimal 1-point
    summary under outliers. Reports the final Σ‖p−m‖ objective.

    Determinism: the two-pass-census precedent (`huber_irls` / wave-172
    logistic): each iteration is one full-scan weighted census with the
    previous center broadcast in-row; identical IEEE dags both engines
    (ε=10⁻⁹ regularizer against zero distances); outputs rounded once.

    Scale shape: three streaming censuses (m₀, two Weiszfeld steps) +
    one objective census — all map-side-combinable sums, no shuffles
    of data rows. Fixed iteration count keeps the plan static.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        (F.col("l_extendedprice") / 1000.0).alias("y"),
    )
    pts = _ckpt(pts)  # shared fan-out relation
    m0 = pts.agg(F.avg("x").alias("mx"), F.avg("y").alias("my"))

    def step(prev):
        d = F.sqrt(
            (F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))
            + (F.col("y") - F.col("my")) * (F.col("y") - F.col("my"))
            + 1e-9
        )
        return (
            pts.crossJoin(F.broadcast(prev))
            .agg(
                (F.sum(F.col("x") / d) / F.sum(F.lit(1.0) / d)).alias("mx"),
                (F.sum(F.col("y") / d) / F.sum(F.lit(1.0) / d)).alias("my"),
            )
        )

    it1 = step(m0)
    it2 = step(it1)
    dist = F.sqrt(
        (F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))
        + (F.col("y") - F.col("my")) * (F.col("y") - F.col("my"))
    )
    obj = pts.crossJoin(F.broadcast(it2)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum(dist), 2).alias("l1_objective"),
    )
    return obj.crossJoin(F.broadcast(it2)).select(
        F.col("n").alias("n_rows"),
        F.round(F.col("mx"), 4).alias("median_qty"),
        F.round(F.col("my") * 1000.0, 2).alias("median_price_dollars"),
        "l1_objective",
    )


@query(
    "mahalanobis_outlier_census",
    oracle="""
    WITH pts AS (
        SELECT CAST(l_quantity AS DOUBLE) AS x, l_extendedprice / 1000.0 AS y
        FROM lineitem
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
        FROM pts
    ), cov AS (
        SELECT n, sx/n AS mx, sy/n AS my,
               (sxx - sx*sx/n) / (n-1) AS a,
               (syy - sy*sy/n) / (n-1) AS c,
               (sxy - sx*sy/n) / (n-1) AS b
        FROM mom
    ), scored AS (
        SELECT n,
               (c*(x-mx)*(x-mx) - 2*b*(x-mx)*(y-my) + a*(y-my)*(y-my))
                   / (a*c - b*b) AS d2
        FROM pts, cov
    )
    SELECT MAX(n) AS n_rows,
           CAST(SUM(CASE WHEN d2 > 9.21034 THEN 1 ELSE 0 END) AS BIGINT)
               AS outliers_99,
           CAST(SUM(CASE WHEN d2 > 13.8155 THEN 1 ELSE 0 END) AS BIGINT)
               AS outliers_999,
           ROUND(MAX(d2), 4) AS max_d2
    FROM scored
    """,
)
def mahalanobis_outlier_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level Mahalanobis outlier census on (quantity, price): d² =
    (p−μ)'Σ⁻¹(p−μ) with the 2×2 inverse in closed form, counting
    exceedances of the χ²(2) 99% / 99.9% contours and the single most
    aberrant distance. The multivariate row-level screen between
    `mad_outliers_orders` (univariate) and `hotelling_t2_daily`
    (aggregated-by-day) — correlation-aware, so a plausible price at
    an implausible quantity still trips it.

    Determinism: moment-census precedent; d² is one fixed quadratic
    form per row; exceedance counts compare identical doubles; one
    round on max.

    Scale shape: two streaming passes (moments, then the broadcast-
    parameter scoring census). No shuffle, no sort, whole-stage
    codegen throughout.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        (F.col("l_extendedprice") / 1000.0).alias("y"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    cov = mom.select(
        "n",
        (F.col("sx") / F.col("n")).alias("mx"),
        (F.col("sy") / F.col("n")).alias("my"),
        ((F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)).alias("a"),
        ((F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (F.col("n") - 1)).alias("c"),
        ((F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (F.col("n") - 1)).alias("b"),
    )
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    d2 = (
        F.col("c") * dx * dx - 2 * F.col("b") * dx * dy + F.col("a") * dy * dy
    ) / (F.col("a") * F.col("c") - F.col("b") * F.col("b"))
    scored = pts.crossJoin(F.broadcast(cov)).select(F.col("n"), d2.alias("d2"))
    return scored.agg(
        F.max("n").alias("n_rows"),
        F.sum(F.when(F.col("d2") > 9.21034, 1).otherwise(0))
        .cast("long")
        .alias("outliers_99"),
        F.sum(F.when(F.col("d2") > 13.8155, 1).otherwise(0))
        .cast("long")
        .alias("outliers_999"),
        F.round(F.max("d2"), 4).alias("max_d2"),
    )


# ---------------------------------------------------------------------------
# wave 201: chain-ladder reserving triangle, Benford second-digit test
# ---------------------------------------------------------------------------


@query(
    "chain_ladder_reserves",
    oracle="""
    WITH cells AS (
        SELECT CAST(epoch_us(o.o_orderdate) // 604800000000 AS BIGINT) AS origin,
               LEAST(CAST(epoch_us(l.l_shipdate) // 604800000000 AS BIGINT)
                     - CAST(epoch_us(o.o_orderdate) // 604800000000 AS BIGINT),
                     3) AS dev,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS paid
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE epoch_us(l.l_shipdate) >= epoch_us(o.o_orderdate)
        GROUP BY origin, dev
    ), maxo AS (SELECT MAX(origin) AS mo FROM cells
    ), cum AS (
        SELECT origin, dev,
               CAST(SUM(paid) OVER (PARTITION BY origin ORDER BY dev)
                    AS BIGINT) AS c
        FROM cells
    ), factors AS (
        SELECT a.dev AS k,
               CAST(SUM(b.c) AS HUGEINT) AS num,
               CAST(SUM(a.c) AS HUGEINT) AS den
        FROM cum a JOIN cum b
          ON b.origin = a.origin AND b.dev = a.dev + 1, maxo
        WHERE a.origin + a.dev + 1 <= mo
        GROUP BY k
    ), latest AS (
        SELECT origin, MAX(dev) AS latest_dev,
               MAX(c) AS paid_to_date
        FROM cum GROUP BY origin
    ), proj AS (
        SELECT l.origin, l.latest_dev, l.paid_to_date,
               l.paid_to_date
               * COALESCE((SELECT EXP(SUM(LN(CAST(f.num AS DOUBLE) / f.den)))
                           FROM factors f WHERE f.k >= l.latest_dev), 1.0)
                   AS ultimate
        FROM latest l
    )
    SELECT origin AS origin_week, latest_dev, 
           CAST(paid_to_date AS BIGINT) AS paid_to_date_cents,
           ROUND(ultimate / 100.0, 2) AS ultimate_dollars,
           ROUND((ultimate - paid_to_date) / 100.0, 2) AS reserve_dollars
    FROM proj ORDER BY origin
    """,
)
def chain_ladder_reserves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-ladder development triangle on the order→shipment lifecycle:
    origin = order week, development lag = ship week − order week
    (capped at 3), volume-weighted development factors
    fₖ = Σcₖ₊₁/Σcₖ over origins with a complete next diagonal, and
    per-origin ultimates Ĉ = paid·Πf̂ₖ with the IBNR-style reserve.
    The actuarial projection family-member next to
    `cohort_ltv_curve` (which reads maturity off the curve; chain
    ladder EXTRAPOLATES immature cohorts from mature ones' run-off).

    Determinism: triangle cells and cumulative paids exact cents;
    factor numerators/denominators exact 128-bit sums; the tail
    product runs as exp(Σ ln f) over ≤3 factors with identical trees;
    outputs rounded once.

    Scale shape: fact join co-keyed on orderkey → |origins|×4 triangle;
    everything after is triangle-sized (windows, factor agg,
    correlated tail product on ≤dozens of rows).
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    ow = F.expr(
        "unix_micros(CAST(o_orderdate AS timestamp_ltz)) div 604800000000"
    ).cast("long")
    sw = F.expr(
        "unix_micros(CAST(l_shipdate AS timestamp_ltz)) div 604800000000"
    ).cast("long")
    cells = (
        o.select("o_orderkey", ow.alias("origin"), F.col("o_orderdate"))
        .join(
            li.select(
                F.col("l_orderkey").alias("o_orderkey"),
                sw.alias("shipw"),
                "l_shipdate",
                F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
            ),
            "o_orderkey",
        )
        .where(
            F.expr("unix_micros(CAST(l_shipdate AS timestamp_ltz))")
            >= F.expr("unix_micros(CAST(o_orderdate AS timestamp_ltz))")
        )
        .groupBy(
            "origin",
            F.least(F.col("shipw") - F.col("origin"), F.lit(3)).alias("dev"),
        )
        .agg(F.sum("cents").cast("long").alias("paid"))
    )
    cells = _ckpt(cells)  # shared fan-out relation
    maxo = cells.agg(F.max("origin").alias("mo"))
    wc = Window.partitionBy("origin").orderBy("dev")
    cum = cells.select(
        "origin", "dev", F.sum("paid").over(wc).cast("long").alias("c")
    )
    a = cum.alias("a")
    b = cum.alias("b")
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    factors = (
        a.join(
            b,
            (F.col("b.origin") == F.col("a.origin"))
            & (F.col("b.dev") == F.col("a.dev") + 1),
        )
        .crossJoin(F.broadcast(maxo))
        .where(F.col("a.origin") + F.col("a.dev") + 1 <= F.col("mo"))
        .groupBy(F.col("a.dev").alias("k"))
        .agg(
            F.sum(dec("b.c")).alias("num"),
            F.sum(dec("a.c")).alias("den"),
        )
    )
    latest = cum.groupBy("origin").agg(
        F.max("dev").alias("latest_dev"), F.max("c").alias("paid_to_date")
    )
    lf = latest.crossJoin(
        F.broadcast(
            factors.select(
                "k",
                F.log(F.col("num").cast("double") / F.col("den").cast("double")).alias(
                    "lnf"
                ),
            )
        )
    )
    proj = (
        lf.groupBy("origin", "latest_dev", "paid_to_date")
        .agg(
            F.coalesce(
                F.exp(
                    F.sum(
                        F.when(F.col("k") >= F.col("latest_dev"), F.col("lnf"))
                    )
                ),
                F.lit(1.0),
            ).alias("tail")
        )
        .select(
            "origin",
            "latest_dev",
            "paid_to_date",
            (F.col("paid_to_date") * F.col("tail")).alias("ultimate"),
        )
    )
    return proj.select(
        F.col("origin").alias("origin_week"),
        "latest_dev",
        F.col("paid_to_date").cast("long").alias("paid_to_date_cents"),
        F.round(F.col("ultimate") / 100.0, 2).alias("ultimate_dollars"),
        F.round(
            (F.col("ultimate") - F.col("paid_to_date")) / 100.0, 2
        ).alias("reserve_dollars"),
    ).orderBy("origin_week")
