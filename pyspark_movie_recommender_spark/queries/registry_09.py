"""Query registry part 9 of 12 — registration order preserved.

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

from pyspark_movie_recommender_spark.queries.registry_08 import _COPURCHASE_SYM_SQL, _DAILY_REV_SPLIT_SQL  # noqa: E501

_ENSEMBLE_FC_SQL = _DAILY_REV_SPLIT_SQL + """
    , anchors AS (
        SELECT nn.tr,
               (SELECT y FROM train2 WHERE t = nn.tr) AS last_y,
               (SELECT y FROM train2 WHERE t = 1) AS first_y,
               (SELECT AVG(y) FROM train2) AS mean_y
        FROM nn
    ), fc AS (
        SELECT hold.h, hold.y, 1 AS m, anchors.last_y AS f
        FROM hold, anchors
        UNION ALL
        SELECT hold.h, hold.y, 2,
               (SELECT y FROM train2, anchors a2
                WHERE t = a2.tr - 7 + ((hold.h - 1) % 7) + 1)
        FROM hold, anchors
        UNION ALL
        SELECT hold.h, hold.y, 3,
               anchors.last_y + hold.h * (anchors.last_y - anchors.first_y)
                   / (anchors.tr - 1)
        FROM hold, anchors
        UNION ALL
        SELECT hold.h, hold.y, 4, anchors.mean_y FROM hold, anchors
    )
""".replace("train2", "train")


@query(
    "crps_ensemble_eval",
    oracle=_ENSEMBLE_FC_SQL
    + """
    , t1 AS (
        SELECT h, MAX(y) AS y, AVG(ABS(f - y)) AS mad_obs,
               AVG(f) AS fbar
        FROM fc GROUP BY h
    ), t2 AS (
        SELECT a.h, AVG(ABS(a.f - b.f)) AS mad_pair
        FROM fc a JOIN fc b ON b.h = a.h
        GROUP BY a.h
    ), per_day AS (
        SELECT t1.h, t1.mad_obs - 0.5 * t2.mad_pair AS crps,
               ABS(t1.fbar - t1.y) AS mae_mean
        FROM t1 JOIN t2 ON t2.h = t1.h
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(ROUND(AVG(crps)) AS BIGINT) AS crps_cents,
           CAST(ROUND(AVG(mae_mean)) AS BIGINT) AS mae_of_mean_cents,
           CAST(ROUND(AVG(crps) / AVG(mae_mean) * 1000) AS BIGINT)
               AS crps_vs_mae_milli
    FROM per_day
    """,
)
def crps_ensemble_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ranked probability score of the four-member baseline
    ensemble (naive / seasonal-naive / drift / mean) on the 28-day
    revenue holdout, via the exact empirical-ensemble identity CRPS =
    mean|f - y| - 0.5 mean|f - f'|: the proper score for a FULL
    predictive distribution, rewarding both accuracy and honest
    spread (the second term). Reported against the MAE of the
    ensemble mean — CRPS below it means the spread carries real
    information beyond the point forecast; this extends the proper-
    scoring family (`brier_decomposition` binary,
    `pinball_loss_backtest` quantile) to distributional forecasts.

    Determinism: the 4x4 pair term is an exact small double sum per
    day; cent rounding.

    Scale shape: the member relation is 4 rows per holdout day;
    CRPS needs one self-join on the day key — bounded by the
    ensemble size squared, never by history length.
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
        base.select("h", "y", F.lit(1).alias("m"), F.col("last_y").alias("f"))
        .unionAll(
            base.join(
                F.broadcast(week), ((F.col("h") - 1) % 7 + 1) == F.col("wday")
            ).select("h", "y", F.lit(2).alias("m"), F.col("wy").alias("f"))
        )
        .unionAll(
            base.select(
                "h",
                "y",
                F.lit(3).alias("m"),
                (
                    F.col("last_y")
                    + F.col("h")
                    * (F.col("last_y") - F.col("first_y"))
                    / (F.col("tr") - 1)
                ).alias("f"),
            )
        )
        .unionAll(
            base.select("h", "y", F.lit(4).alias("m"), F.col("mean_y").alias("f"))
        )
        .transform(_ckpt)
    )
    t1 = fc.groupBy("h").agg(
        F.max("y").alias("y"),
        F.avg(F.abs(F.col("f") - F.col("y"))).alias("mad_obs"),
        F.avg("f").alias("fbar"),
    )
    a, b = fc.alias("a"), fc.alias("b")
    t2 = (
        a.join(b, F.col("b.h") == F.col("a.h"))
        .groupBy(F.col("a.h").alias("h"))
        .agg(F.avg(F.abs(F.col("a.f") - F.col("b.f"))).alias("mad_pair"))
    )
    per_day = t1.join(t2, "h").select(
        (F.col("mad_obs") - 0.5 * F.col("mad_pair")).alias("crps"),
        F.abs(F.col("fbar") - F.col("y")).alias("mae_mean"),
    )
    return per_day.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.avg("crps")).cast("long").alias("crps_cents"),
        F.round(F.avg("mae_mean")).cast("long").alias("mae_of_mean_cents"),
        F.round(F.avg("crps") / F.avg("mae_mean") * 1000)
        .cast("long")
        .alias("crps_vs_mae_milli"),
    )


@query(
    "rank_histogram_ensemble",
    oracle=_ENSEMBLE_FC_SQL
    + """
    , ranks AS (
        SELECT h, CAST(SUM(CASE WHEN f < y THEN 1 ELSE 0 END) AS BIGINT)
                   AS rk
        FROM fc GROUP BY h
    ), cnt AS (
        SELECT rk, CAST(COUNT(*) AS BIGINT) AS c FROM ranks GROUP BY rk
    ), n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt)
    SELECT CAST(cnt.rk AS BIGINT) AS obs_rank, cnt.c AS n_days,
           CAST(ROUND(cnt.c * 1000000.0 / n.n) AS BIGINT) AS share_ppm,
           CAST(ROUND(POWER(cnt.c - n.n / 5.0, 2) / (n.n / 5.0) * 1000)
                AS BIGINT) AS chi2_term_milli
    FROM cnt, n
    """,
)
def rank_histogram_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Talagrand rank histogram for the same four-member ensemble as
    `crps_ensemble_eval`: each holdout day the observation's rank
    among the members (number of forecasts strictly below it, 0..4)
    is tallied; a RELIABLE ensemble puts the truth uniformly in every
    slot (20% each). U-shaped histograms (mass at 0 and 4) expose
    under-dispersion — the diagnosed disease behind overconfident
    intervals — while a dome means the ensemble over-spreads; chi2
    terms against uniform quantify it per slot. CRPS scores the
    ensemble; the rank histogram explains WHY it scored that way.

    Determinism: ranks are exact strict-inequality counts; shares
    and chi2 terms are exact ratios, ppm/milli-rounded.

    Scale shape: one 4-row-per-day agg, one 5-cell histogram.
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
        base.select("h", "y", F.col("last_y").alias("f"))
        .unionAll(
            base.join(
                F.broadcast(week), ((F.col("h") - 1) % 7 + 1) == F.col("wday")
            ).select("h", "y", F.col("wy").alias("f"))
        )
        .unionAll(
            base.select(
                "h",
                "y",
                (
                    F.col("last_y")
                    + F.col("h")
                    * (F.col("last_y") - F.col("first_y"))
                    / (F.col("tr") - 1)
                ).alias("f"),
            )
        )
        .unionAll(base.select("h", "y", F.col("mean_y").alias("f")))
    )
    ranks = fc.groupBy("h").agg(
        F.sum(F.when(F.col("f") < F.col("y"), 1).otherwise(0))
        .cast("long")
        .alias("rk")
    )
    cnt = ranks.groupBy("rk").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = cnt.agg(F.sum("c").cast("long").alias("n"))
    return cnt.crossJoin(F.broadcast(n)).select(
        F.col("rk").cast("long").alias("obs_rank"),
        F.col("c").alias("n_days"),
        F.round(F.col("c") * 1000000.0 / F.col("n"))
        .cast("long")
        .alias("share_ppm"),
        F.round(
            F.pow(F.col("c") - F.col("n") / 5.0, 2) / (F.col("n") / 5.0) * 1000
        )
        .cast("long")
        .alias("chi2_term_milli"),
    )


@query(
    "newey_west_se_daily",
    oracle="""
    WITH daily AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t, y
        FROM (
            SELECT o_orderdate AS d,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) * 1.0 AS y
            FROM orders GROUP BY 1
        )
    ), mu AS (
        SELECT AVG(y) AS m, CAST(COUNT(*) AS BIGINT) AS n FROM daily
    ), lags AS (SELECT UNNEST(generate_series(0, 10)) AS k
    ), gam AS (
        SELECT lags.k,
               SUM((a.y - mu.m) * (b.y - mu.m)) / mu.n AS g
        FROM lags
        JOIN daily a ON TRUE
        JOIN daily b ON b.t = a.t + lags.k
        CROSS JOIN mu
        GROUP BY lags.k, mu.n
    ), nw AS (
        SELECT SUM(CASE WHEN k = 0 THEN g
                   ELSE 2 * (1 - k / 11.0) * g END) AS v,
               MAX(CASE WHEN k = 0 THEN g END) AS g0
        FROM gam
    )
    SELECT mu.n AS n_days,
           CAST(ROUND(sqrt(nw.g0 / mu.n)) AS BIGINT) AS naive_se_cents,
           CAST(ROUND(sqrt(nw.v / mu.n)) AS BIGINT) AS newey_west_se_cents,
           CAST(ROUND(sqrt(nw.v / nw.g0) * 1000) AS BIGINT)
               AS inflation_milli
    FROM mu, nw
    """,
)
def newey_west_se_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newey-West (HAC) standard error of the mean daily revenue with
    Bartlett-kernel weights over lags 1..10: autocovariances gamma_k
    enter as 2(1 - k/(L+1)) gamma_k, correcting the naive
    sqrt(gamma_0/n) SE for serial dependence. On a positively
    autocorrelated series the inflation factor exceeds 1000 milli —
    the iid SE every naive dashboard reports understates uncertainty
    by exactly this factor, which is why `acf_daily_event_value`'s
    significant lags matter for INFERENCE, not just description.

    Determinism: autocovariances are lag-joined double sums around
    the exact global mean; kernel weights are literals; cent
    rounding.

    Scale shape: one date agg, one lag band-join of the tiny series
    (11 lags x ~2.4k days), scalar math.
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
    mu = daily.agg(
        F.avg("y").alias("m"), F.count(F.lit(1)).cast("long").alias("n")
    )
    lags = spark.range(0, 11).select(F.col("id").alias("k"))
    a, b = daily.alias("a"), daily.alias("b")
    gam = (
        lags.join(a, F.lit(True))
        .join(b, F.col("b.t") == F.col("a.t") + F.col("k"))
        .crossJoin(F.broadcast(mu))
        .groupBy("k", "n")
        .agg(
            (
                F.sum((F.col("a.y") - F.col("m")) * (F.col("b.y") - F.col("m")))
                / F.col("n")
            ).alias("g")
        )
    )
    nw = gam.agg(
        F.sum(
            F.when(F.col("k") == 0, F.col("g")).otherwise(
                2 * (1 - F.col("k") / 11.0) * F.col("g")
            )
        ).alias("v"),
        F.max(F.when(F.col("k") == 0, F.col("g"))).alias("g0"),
    )
    return mu.crossJoin(F.broadcast(nw)).select(
        F.col("n").alias("n_days"),
        F.round(F.sqrt(F.col("g0") / F.col("n"))).cast("long").alias(
            "naive_se_cents"
        ),
        F.round(F.sqrt(F.col("v") / F.col("n"))).cast("long").alias(
            "newey_west_se_cents"
        ),
        F.round(F.sqrt(F.col("v") / F.col("g0")) * 1000)
        .cast("long")
        .alias("inflation_milli"),
    )


@query(
    "block_bootstrap_se",
    oracle="""
    WITH daily AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t, y
        FROM (
            SELECT o_orderdate AS d,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) * 1.0 AS y
            FROM orders GROUP BY 1
        )
    ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily
    ), reps AS (SELECT UNNEST(generate_series(1, 50)) AS b
    ), nblk AS (SELECT n // 7 AS nb FROM nn
    ), starts AS (
        SELECT reps.b, g.i,
               1 + (48271 * ((48271 * (reps.b * 1000 + g.i) + 12345)
                    % 2147483647) + 12345) % 2147483647 % (nn.n - 6) AS s
        FROM reps, nn, nblk,
             LATERAL (SELECT UNNEST(generate_series(1, nblk.nb)) AS i) g
    ), sel AS (
        SELECT starts.b, daily.y
        FROM starts JOIN daily
          ON daily.t >= starts.s AND daily.t < starts.s + 7
    ), rmeans AS (
        SELECT b, AVG(y) AS m FROM sel GROUP BY b
    ), s AS (
        SELECT STDDEV_SAMP(m) AS bb_se FROM rmeans
    ), base AS (
        SELECT STDDEV_SAMP(y) / sqrt(MAX(nn.n)) AS naive_se
        FROM daily, nn
    )
    SELECT (SELECT n FROM nn) AS n_days, CAST(7 AS BIGINT) AS block_len,
           CAST(50 AS BIGINT) AS n_replicates,
           CAST(ROUND(s.bb_se) AS BIGINT) AS block_bootstrap_se_cents,
           CAST(ROUND(base.naive_se) AS BIGINT) AS naive_se_cents,
           CAST(ROUND(s.bb_se / base.naive_se * 1000) AS BIGINT)
               AS inflation_milli
    FROM s, base
    """,
)
def block_bootstrap_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-block bootstrap standard error of mean daily revenue,
    derandomized: replicate b rebuilds the series from n/7 blocks of
    7 consecutive days whose start positions come from the
    double-round LCG of (replicate, slot) — the same coin both
    engines and every rerun flip. Blocks preserve within-week
    autocorrelation that iid resampling destroys, so the replicate-
    mean spread is a dependence-aware SE — the simulation-side
    counterpart to `newey_west_se_daily`'s kernel formula (the
    invariant test pins both inflations on the same side of 1), and
    the time-series upgrade of `bootstrap_ci_order_value`.

    Determinism: block starts are exact integer hashes; replicate
    means are exact-input averages; the SE is one stddev over 50
    numbers.

    Scale shape: the replicate lattice is 50 x (n/7) starts range-
    joined to the tiny series — ~n rows per replicate, no resampling
    shuffle of fact data.
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
    nn = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    reps = spark.range(1, 51).select(F.col("id").alias("b"))
    slots = spark.range(1, 2000).select(F.col("id").alias("i"))
    starts = (
        reps.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(slots))
        .where(F.col("i") <= F.floor(F.col("n") / 7))
        .select(
            "b",
            (
                1
                + (
                    48271
                    * (
                        (48271 * (F.col("b") * 1000 + F.col("i")) + 12345)
                        % 2147483647
                    )
                    + 12345
                )
                % 2147483647
                % (F.col("n") - 6)
            ).alias("s"),
        )
    )
    sel = starts.join(
        daily,
        (F.col("t") >= F.col("s")) & (F.col("t") < F.col("s") + 7),
    ).select("b", "y")
    rmeans = sel.groupBy("b").agg(F.avg("y").alias("m"))
    s = rmeans.agg(F.stddev_samp("m").alias("bb_se"))
    base = daily.crossJoin(F.broadcast(nn)).agg(
        (F.stddev_samp("y") / F.sqrt(F.max("n"))).alias("naive_se")
    )
    return (
        nn.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(base))
        .select(
            F.col("n").alias("n_days"),
            F.lit(7).cast("long").alias("block_len"),
            F.lit(50).cast("long").alias("n_replicates"),
            F.round("bb_se").cast("long").alias("block_bootstrap_se_cents"),
            F.round("naive_se").cast("long").alias("naive_se_cents"),
            F.round(F.col("bb_se") / F.col("naive_se") * 1000)
            .cast("long")
            .alias("inflation_milli"),
        )
    )


@query(
    "oov_rate_curve",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    ), occ AS (
        SELECT doc_id % 2 AS half, token, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT doc_id, unnest(t) AS token FROM toks)
        GROUP BY 1, 2
    ), vocab AS (
        SELECT token,
               CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS BIGINT)
                   AS r
        FROM occ WHERE half = 0
    ), ks AS (SELECT UNNEST([1000, 5000, 20000]) AS k
    ), test AS (
        SELECT token, n FROM occ WHERE half = 1
    ), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM test
    ), oov AS (
        SELECT ks.k,
               CAST(SUM(CASE WHEN vocab.r IS NULL OR vocab.r > ks.k
                        THEN test.n ELSE 0 END) AS BIGINT) AS oov_n
        FROM ks CROSS JOIN test
        LEFT JOIN vocab ON vocab.token = test.token
        GROUP BY ks.k
    )
    SELECT CAST(oov.k AS BIGINT) AS vocab_size,
           tot.t AS heldout_tokens,
           oov.oov_n AS oov_tokens,
           CAST(ROUND(oov.oov_n * 1000000.0 / tot.t) AS BIGINT) AS oov_ppm
    FROM oov, tot
    """,
)
def oov_rate_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate curve for tokenizer sizing: a vocabulary
    of the top 1k / 5k / 20k tokens is trained on even-id documents
    (count-ranked, alphabetical tie-break) and the OOV occurrence
    share is measured on the held-out odd-id documents — the
    train/test discipline that separates this from in-corpus coverage
    (`token_coverage_curve`): tokens unseen in training are the mass
    a fixed-vocab model must map to <unk>, and the curve's knee is
    where extra vocabulary stops paying. The empirical face of
    `heaps_law_vocab_growth` (type growth) and
    `good_turing_missing_mass` (probability of the unseen).

    Determinism: the split is id parity; vocab ranks carry total
    tie-breaks; OOV masses are exact counts.

    Scale shape: one (half, token) map-side-combined agg; the curve
    is a broadcast vocab join against held-out counts — three k
    values share one pass.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    occ = (
        docs.select(
            (F.col("doc_id") % 2).alias("half"),
            F.explode(ws_tokens(F.lower(F.col("text")))).alias("token"),
        )
        .groupBy("half", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(_ckpt)
    )
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_global_rank,
    )

    # vocabulary rank over the type relation (vocab-sized — ~10⁸ types
    # on a 100 TB corpus) via the distributed rank machinery — never a
    # single-task global window.
    vocab = distributed_global_rank(
        occ.where(F.col("half") == 0).withColumn(
            "__nn", (-F.col("n")).cast("double")
        ),
        "__nn",
        "token",
        out_col="r",
    ).select("token", F.col("r").cast("long").alias("r"))
    ks = spark.createDataFrame([(1000,), (5000,), (20000,)], "k long")
    test = occ.where(F.col("half") == 1).select("token", "n")
    tot = test.agg(F.sum("n").cast("long").alias("t"))
    oov = (
        ks.crossJoin(test)
        .join(F.broadcast(vocab), "token", "left")
        .groupBy("k")
        .agg(
            F.sum(
                F.when(
                    F.col("r").isNull() | (F.col("r") > F.col("k")), F.col("n")
                ).otherwise(0)
            )
            .cast("long")
            .alias("oov_n")
        )
    )
    return oov.crossJoin(F.broadcast(tot)).select(
        F.col("k").cast("long").alias("vocab_size"),
        F.col("t").alias("heldout_tokens"),
        F.col("oov_n").alias("oov_tokens"),
        F.round(F.col("oov_n") * 1000000.0 / F.col("t"))
        .cast("long")
        .alias("oov_ppm"),
    )


@query(
    "token_coverage_curve",
    oracle="""
    WITH toks AS (
        SELECT CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    ), cnt AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n
        FROM (SELECT unnest(t) AS token FROM toks) GROUP BY token
    ), ranked AS (
        SELECT n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token ASC)
                       AS BIGINT) AS r
        FROM cnt
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM cnt
    ), ks AS (SELECT UNNEST([100, 1000, 10000]) AS k
    ), cov AS (
        SELECT ks.k, CAST(SUM(CASE WHEN ranked.r <= ks.k THEN ranked.n
                              ELSE 0 END) AS BIGINT) AS c
        FROM ks CROSS JOIN ranked GROUP BY ks.k
    )
    SELECT CAST(cov.k AS BIGINT) AS top_k, tot.v AS vocab_total,
           CAST(ROUND(cov.c * 1000000.0 / tot.t) AS BIGINT) AS coverage_ppm
    FROM cov, tot
    """,
)
def token_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus coverage of the top-k token types at k = 100 / 1k /
    10k: the cumulative occurrence share the k most frequent tokens
    capture — Zipf's law in budget form (`zipf_fit_tokens` estimates
    the exponent; this prices the budget). The gap between coverage
    here and 1 - OOV on held-out data (`oov_rate_curve`) is
    generalization loss: in-corpus coverage always flatters, and the
    two curves side by side show by exactly how much.

    Determinism: count ranks carry (count, token) tie-breaks; all
    masses are exact integers.

    Scale shape: one map-side-combined token agg, one rank window
    over the vocab relation (types, not occurrences), a 3-row grid
    conditional sum.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_global_rank,
    )

    # frequency rank over the type relation (vocab-sized — ~10⁸ types
    # on a 100 TB corpus) via the distributed rank machinery — never a
    # single-task global window.
    ranked = (
        distributed_global_rank(
            cnt.withColumn("__nn", (-F.col("n")).cast("double")),
            "__nn",
            "token",
            out_col="r",
        )
        .select("n", F.col("r").cast("long").alias("r"))
        .transform(_ckpt)
    )
    tot = cnt.agg(
        F.sum("n").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    ks = spark.createDataFrame([(100,), (1000,), (10000,)], "k long")
    cov = (
        ks.crossJoin(ranked)
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("r") <= F.col("k"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("c")
        )
    )
    return cov.crossJoin(F.broadcast(tot)).select(
        F.col("k").cast("long").alias("top_k"),
        F.col("v").alias("vocab_total"),
        F.round(F.col("c") * 1000000.0 / F.col("t"))
        .cast("long")
        .alias("coverage_ppm"),
    )


@query(
    "hutchinson_trace_audit",
    oracle="""
    WITH flows AS (
        SELECT s.s_nationkey AS i, c.c_nationkey AS j,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS f
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), tot AS (SELECT CAST(SUM(f) AS BIGINT) AS tf FROM flows
    ), a AS (SELECT i, j, f * 1.0 / tot.tf AS v FROM flows, tot
    ), exact AS (
        SELECT SUM(x.v * y.v) AS tr2
        FROM a x JOIN a y ON y.i = x.j AND y.j = x.i
    ), probes AS (
        SELECT p.p, n.n_nationkey AS i,
               CASE WHEN ((48271 * ((48271 * (p.p * 131071 + n.n_nationkey)
                    + 12345) % 2147483647) + 12345) % 2147483647) % 2 = 0
                    THEN 1.0 ELSE -1.0 END AS z
        FROM (SELECT UNNEST(generate_series(1, 8)) AS p) p
        CROSS JOIN nation n
    ), az AS (
        SELECT pr.p, a.i, SUM(a.v * pr.z) AS w
        FROM a JOIN probes pr ON pr.i = a.j
        GROUP BY pr.p, a.i
    ), atz AS (
        SELECT pr.p, a.j AS i, SUM(a.v * pr.z) AS w
        FROM a JOIN probes pr ON pr.i = a.i
        GROUP BY pr.p, a.j
    ), est AS (
        SELECT az.p, SUM(az.w * atz.w) AS e
        FROM az JOIN atz ON atz.p = az.p AND atz.i = az.i
        GROUP BY az.p
    ), m AS (SELECT AVG(e) AS me FROM est)
    SELECT CAST(8 AS BIGINT) AS n_probes,
           CAST(ROUND(exact.tr2 * 1000000) AS BIGINT) AS exact_trace2_micro,
           CAST(ROUND(m.me * 1000000) AS BIGINT) AS hutchinson_micro,
           CAST(ROUND(ABS(m.me - exact.tr2) * 1000000) AS BIGINT)
               AS abs_err_micro
    FROM exact, m
    """,
)
def hutchinson_trace_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hutchinson stochastic trace estimator audited on tr(A^2) of
    the 25-nation flow-share matrix: eight deterministic +/-1 probe
    vectors (double-LCG signs) each contribute z'A^2 z = (A'z)-dot-
    (Az) — two matvecs, never forming A^2 — and their mean estimates
    the trace, checked against the exact sum a_ij a_ji. This is the
    randomized-NLA workhorse for implicit matrices (Laplacians,
    Hessians) where a matvec is cheap but entries are not; the audit
    shows its variance at a probe budget the way the sketch suite
    audits cardinality estimators. tr(A^2) itself is the graph's
    2-cycle (reciprocity) mass — `trade_reciprocity_asymmetry`'s
    global scalar.

    Determinism: signs are exact integer hashes; matvecs are 625-
    cell join-aggregates; micro rounding.

    Scale shape: everything after the fact agg is per-probe tiny
    matvec joins — probes scale linearly and independently.
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
        .groupBy(F.col("s_nationkey").alias("i"), F.col("c_nationkey").alias("j"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("f")
        )
    )
    tot = flows.agg(F.sum("f").cast("long").alias("tf"))
    a = flows.crossJoin(F.broadcast(tot)).select(
        "i", "j", (F.col("f") * 1.0 / F.col("tf")).alias("v")
    ).transform(_ckpt)
    x, y = a.alias("x"), a.alias("y")
    exact = x.join(
        y, (F.col("y.i") == F.col("x.j")) & (F.col("y.j") == F.col("x.i"))
    ).agg(F.sum(F.col("x.v") * F.col("y.v")).alias("tr2"))
    ps = spark.range(1, 9).select(F.col("id").alias("p"))
    probes = ps.crossJoin(
        F.broadcast(nat.select(F.col("n_nationkey").alias("i")))
    ).select(
        "p",
        "i",
        F.when(
            (
                (
                    48271
                    * (
                        (48271 * (F.col("p") * 131071 + F.col("i")) + 12345)
                        % 2147483647
                    )
                    + 12345
                )
                % 2147483647
            )
            % 2
            == 0,
            1.0,
        )
        .otherwise(-1.0)
        .alias("z"),
    )
    pr1 = probes.select("p", F.col("i").alias("j"), F.col("z").alias("zj"))
    az = (
        a.join(F.broadcast(pr1), "j")
        .groupBy("p", "i")
        .agg(F.sum(F.col("v") * F.col("zj")).alias("w"))
    )
    pr2 = probes.select("p", F.col("i"), F.col("z").alias("zi"))
    atz = (
        a.join(F.broadcast(pr2), "i")
        .groupBy("p", F.col("j").alias("i"))
        .agg(F.sum(F.col("v") * F.col("zi")).alias("w2"))
    )
    est = (
        az.join(atz, ["p", "i"])
        .groupBy("p")
        .agg(F.sum(F.col("w") * F.col("w2")).alias("e"))
    )
    m = est.agg(F.avg("e").alias("me"))
    return exact.crossJoin(F.broadcast(m)).select(
        F.lit(8).cast("long").alias("n_probes"),
        F.round(F.col("tr2") * 1000000).cast("long").alias(
            "exact_trace2_micro"
        ),
        F.round(F.col("me") * 1000000).cast("long").alias("hutchinson_micro"),
        F.round(F.abs(F.col("me") - F.col("tr2")) * 1000000)
        .cast("long")
        .alias("abs_err_micro"),
    )


@query(
    "delta_join_maintenance_audit",
    oracle="""
    WITH md AS (
        SELECT (SELECT MAX(o_orderdate) FROM orders) AS od,
               (SELECT MAX(l_shipdate) FROM lineitem) AS sd
    ), do_ AS (
        SELECT o_orderkey FROM orders, md WHERE o_orderdate = md.od
    ), dl AS (
        SELECT l_orderkey FROM lineitem, md WHERE l_shipdate = md.sd
    ), o_old AS (
        SELECT o_orderkey FROM orders, md WHERE o_orderdate <> md.od
    ), l_old AS (
        SELECT l_orderkey FROM lineitem, md WHERE l_shipdate <> md.sd
    ), c1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM do_ JOIN l_old ON l_old.l_orderkey = do_.o_orderkey
    ), c2 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM o_old JOIN dl ON dl.l_orderkey = o_old.o_orderkey
    ), c3 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM do_ JOIN dl ON dl.l_orderkey = do_.o_orderkey
    ), full_after AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), full_before AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM o_old JOIN l_old ON l_old.l_orderkey = o_old.o_orderkey
    )
    SELECT CAST((SELECT COUNT(*) FROM do_) AS BIGINT) AS delta_orders,
           CAST((SELECT COUNT(*) FROM dl) AS BIGINT) AS delta_lineitems,
           c1.n AS do_join_l, c2.n AS o_join_dl, c3.n AS do_join_dl,
           CAST(c1.n + c2.n + c3.n AS BIGINT) AS delta_algebra_rows,
           CAST(full_after.n - full_before.n AS BIGINT) AS recompute_diff,
           CAST(ROUND((c1.n + c2.n + c3.n) * 1000000.0 / full_after.n)
                AS BIGINT) AS incremental_fraction_ppm
    FROM c1, c2, c3, full_after, full_before
    """,
)
def delta_join_maintenance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-join algebra audit for incremental view maintenance of
    orders JOIN lineitem: treating the max-orderdate orders and
    max-shipdate lineitems as the day's insert batches, the
    incremental update is dO JOIN L_old + O_old JOIN dL + dO JOIN dL,
    and the identity delta_algebra_rows = recompute_diff (pinned by
    the invariant test) PROVES the maintenance correct while
    incremental_fraction_ppm prices it — the join-level foundation
    under `incremental_view_maintenance`'s aggregate deltas and
    `cdc_latest_state`'s change capture: at 100 TB the difference
    between touching the deltas and rescanning the join is the whole
    streaming-materialization argument.

    Determinism: batch membership is an exact max-date predicate;
    all five counts are exact joins.

    Scale shape: the three delta joins are each bounded by a batch
    side (partition-pruned at the scan in a date-partitioned layout);
    the full recompute pair exists only as the audit's ground truth.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    md_o = o.agg(F.max("o_orderdate").alias("od"))
    md_l = li.agg(F.max("l_shipdate").alias("sd"))
    do_ = o.crossJoin(F.broadcast(md_o)).where(
        F.col("o_orderdate") == F.col("od")
    ).select("o_orderkey")
    do_ = _ckpt(do_)  # shared fan-out relation
    o_old = o.crossJoin(F.broadcast(md_o)).where(
        F.col("o_orderdate") != F.col("od")
    ).select("o_orderkey")
    o_old = _ckpt(o_old)  # shared fan-out relation
    dl = li.crossJoin(F.broadcast(md_l)).where(
        F.col("l_shipdate") == F.col("sd")
    ).select("l_orderkey")
    dl = _ckpt(dl)  # shared fan-out relation
    l_old = li.crossJoin(F.broadcast(md_l)).where(
        F.col("l_shipdate") != F.col("sd")
    ).select("l_orderkey")
    l_old = _ckpt(l_old)  # shared fan-out relation
    cnt = lambda df: df.agg(F.count(F.lit(1)).cast("long").alias("n"))
    c1 = cnt(do_.join(l_old, do_.o_orderkey == l_old.l_orderkey)).select(
        F.col("n").alias("c1")
    )
    c2 = cnt(o_old.join(dl, o_old.o_orderkey == dl.l_orderkey)).select(
        F.col("n").alias("c2")
    )
    c3 = cnt(do_.join(dl, do_.o_orderkey == dl.l_orderkey)).select(
        F.col("n").alias("c3")
    )
    fa = cnt(
        o.join(li.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey")
    ).select(F.col("n").alias("fa"))
    fb = cnt(o_old.join(l_old, o_old.o_orderkey == l_old.l_orderkey)).select(
        F.col("n").alias("fb")
    )
    ndo = cnt(do_).select(F.col("n").alias("ndo"))
    ndl = cnt(dl).select(F.col("n").alias("ndl"))
    return (
        ndo.crossJoin(F.broadcast(ndl))
        .crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(c3))
        .crossJoin(F.broadcast(fa))
        .crossJoin(F.broadcast(fb))
        .select(
            F.col("ndo").alias("delta_orders"),
            F.col("ndl").alias("delta_lineitems"),
            F.col("c1").alias("do_join_l"),
            F.col("c2").alias("o_join_dl"),
            F.col("c3").alias("do_join_dl"),
            (F.col("c1") + F.col("c2") + F.col("c3"))
            .cast("long")
            .alias("delta_algebra_rows"),
            (F.col("fa") - F.col("fb")).cast("long").alias("recompute_diff"),
            F.round(
                (F.col("c1") + F.col("c2") + F.col("c3"))
                * 1000000.0
                / F.col("fa")
            )
            .cast("long")
            .alias("incremental_fraction_ppm"),
        )
    )


_H2I = (
    "(48271 * ((48271 * ({x}) + 12345) % 2147483647) + 12345) % 2147483647"
)


def _luby_mis_oracle(rounds: int = 6) -> str:
    parts = [
        _COPURCHASE_SYM_SQL
        + """
    , act0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM sym)
    , mis0 AS MATERIALIZED (SELECT node FROM act0 WHERE FALSE)"""
    ]
    for r in range(1, rounds + 1):
        h = _H2I.format(x=f"{r} * 1000003 + pr.node")
        parts.append(
            f""", e{r} AS MATERIALIZED (
        SELECT sym.u, sym.v FROM sym
        JOIN act{r-1} a1 ON a1.node = sym.u
        JOIN act{r-1} a2 ON a2.node = sym.v
    ), pr{r} AS MATERIALIZED (
        SELECT pr.node, {h} AS p FROM act{r-1} pr
    ), nm{r} AS (
        SELECT e.u AS node, MIN(pv.p) AS mn
        FROM e{r} e JOIN pr{r} pv ON pv.node = e.v
        GROUP BY e.u
    ), cand{r} AS MATERIALIZED (
        SELECT pr.node FROM pr{r} pr
        LEFT JOIN nm{r} nm ON nm.node = pr.node
        WHERE nm.mn IS NULL OR pr.p < nm.mn
    ), dead{r} AS (
        SELECT DISTINCT e.v AS node
        FROM e{r} e JOIN cand{r} c ON c.node = e.u
    ), act{r} AS MATERIALIZED (
        SELECT node FROM act{r-1}
        EXCEPT SELECT node FROM cand{r}
        EXCEPT SELECT node FROM dead{r}
    ), mis{r} AS MATERIALIZED (
        SELECT node FROM mis{r-1} UNION SELECT node FROM cand{r}
    )"""
        )
    stats = " UNION ALL ".join(
        f"SELECT {r} AS round,"
        f" CAST((SELECT COUNT(*) FROM mis{r}) AS BIGINT) AS mis_size,"
        f" CAST((SELECT COUNT(*) FROM act{r}) AS BIGINT) AS active_left"
        for r in range(rounds + 1)
    )
    return "".join(parts) + " " + stats


@query("luby_mis_rounds", oracle=_luby_mis_oracle(6))
def luby_mis_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luby's maximal-independent-set algorithm replayed for six
    synchronous rounds on the co-purchase graph: each round every
    active node draws a hash priority, joins the MIS if it beats all
    active neighbors, and the winners' neighborhoods deactivate —
    the canonical PRAM/Pregel symmetry-breaking primitive, expressed
    as pure joins (no master, no sequential scan), with the expected
    O(log n) round guarantee visible as active_left collapsing. MIS
    is the scheduling kernel under graph coloring, parallel matching,
    and dedup-leader election; the independence of the result is
    pinned by the invariant test.

    Determinism: priorities are the double-LCG over (round, node);
    winners are strict-minimum comparisons (hash values are distinct
    in practice; equal-priority neighbors would both defer, costing a
    round, never correctness).

    Scale shape: each round is one edge semi-join + a grouped min +
    two anti-joins, all on the shrinking active subgraph, with
    ckpt truncating lineage — textbook BSP on DataFrames.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a_, b_ = items.alias("a"), items.alias("b")
    e0 = (
        a_.join(
            b_,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("m"))
        .where(F.col("m") >= 2)
        .select("u", "v")
    )
    sym = e0.unionAll(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).transform(_ckpt)
    act = sym.select(F.col("u").alias("node")).distinct().transform(_ckpt)
    mis = act.limit(0)
    stats = [
        mis.agg(F.count(F.lit(1)).cast("long").alias("mis_size"))
        .crossJoin(act.agg(F.count(F.lit(1)).cast("long").alias("active_left")))
        .select(F.lit(0).cast("int").alias("round"), "mis_size", "active_left")
    ]
    for r in range(1, 7):
        er = (
            sym.join(act.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(act.withColumnRenamed("node", "v"), "v", "left_semi")
        )
        inner = (48271 * (F.lit(r) * 1000003 + F.col("node")) + 12345) % 2147483647
        pr = act.select(
            "node", ((48271 * inner + 12345) % 2147483647).alias("p")
        )
        nm = (
            er.join(
                pr.select(F.col("node").alias("v"), F.col("p").alias("pv")), "v"
            )
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("pv").alias("mn"))
        )
        cand = (
            pr.join(nm, "node", "left")
            .where(F.col("mn").isNull() | (F.col("p") < F.col("mn")))
            .select("node")
            .transform(_ckpt)
        )
        dead = (
            er.join(cand.withColumnRenamed("node", "u"), "u", "left_semi")
            .select(F.col("v").alias("node"))
            .distinct()
        )
        act = (
            act.join(cand, "node", "left_anti")
            .join(dead, "node", "left_anti")
            .transform(_ckpt)
        )
        mis = mis.union(cand).distinct().transform(_ckpt)
        stats.append(
            mis.agg(F.count(F.lit(1)).cast("long").alias("mis_size"))
            .crossJoin(
                act.agg(F.count(F.lit(1)).cast("long").alias("active_left"))
            )
            .select(
                F.lit(r).cast("int").alias("round"), "mis_size", "active_left"
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out


def _local_min_matching_oracle(rounds: int = 4) -> str:
    parts = [
        _COPURCHASE_SYM_SQL
        + """
    , free0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM sym)
    , mt0 AS MATERIALIZED (
        SELECT u, v FROM e0 WHERE FALSE)"""
    ]
    for r in range(1, rounds + 1):
        h = _H2I.format(x=f"{r} * 1000003 + ep.u * 131071 + ep.v")
        parts.append(
            f""", ee{r} AS MATERIALIZED (
        SELECT e0.u, e0.v FROM e0
        JOIN free{r-1} f1 ON f1.node = e0.u
        JOIN free{r-1} f2 ON f2.node = e0.v
    ), ep{r} AS MATERIALIZED (
        SELECT ep.u, ep.v, {h} AS p FROM ee{r} ep
    ), adjmin{r} AS (
        SELECT a.u, a.v, MIN(b.p) AS mn
        FROM ep{r} a JOIN ep{r} b
          ON (b.u = a.u OR b.v = a.u OR b.u = a.v OR b.v = a.v)
         AND NOT (b.u = a.u AND b.v = a.v)
        GROUP BY a.u, a.v
    ), win{r} AS MATERIALIZED (
        SELECT a.u, a.v FROM ep{r} a
        LEFT JOIN adjmin{r} m ON m.u = a.u AND m.v = a.v
        WHERE m.mn IS NULL OR a.p < m.mn
    ), free{r} AS MATERIALIZED (
        SELECT node FROM free{r-1}
        EXCEPT SELECT u FROM win{r}
        EXCEPT SELECT v FROM win{r}
    ), mt{r} AS MATERIALIZED (
        SELECT u, v FROM mt{r-1} UNION SELECT u, v FROM win{r}
    )"""
        )
    stats = " UNION ALL ".join(
        f"SELECT {r} AS round,"
        f" CAST((SELECT COUNT(*) FROM mt{r}) AS BIGINT) AS matched_edges,"
        f" CAST((SELECT COUNT(*) FROM free{r}) AS BIGINT) AS free_nodes"
        for r in range(rounds + 1)
    )
    return "".join(parts) + " " + stats


@query("local_min_matching_rounds", oracle=_local_min_matching_oracle(4))
def local_min_matching_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Israeli-Itai-style distributed matching in four synchronous
    rounds: every edge between two free nodes draws a hash priority
    and enters the matching if it is a LOCAL MINIMUM among edges
    sharing either endpoint (two locally-minimal edges cannot
    conflict, so winners are a valid matching by construction —
    pinned); matched endpoints leave and the next round re-draws. The
    edge-side dual of `luby_mis_rounds` (a matching IS an MIS of the
    line graph), and doubling the matched endpoints gives the classic
    2-approximate vertex cover — distributed greedy without a
    coordinator.

    Determinism: per-round edge priorities hash (round, u, v);
    winner checks are strict minima.

    Scale shape: per round, the adjacency self-join is degree-
    bounded on the shrinking free subgraph (max degree 13 here);
    checkpoints per round keep lineage flat.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a_, b_ = items.alias("a"), items.alias("b")
    e0 = (
        a_.join(
            b_,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("m"))
        .where(F.col("m") >= 2)
        .select("u", "v")
        .transform(_ckpt)
    )
    free = (
        e0.select(F.col("u").alias("node"))
        .union(e0.select(F.col("v").alias("node")))
        .distinct()
        .transform(_ckpt)
    )
    mt = e0.limit(0)
    stats = [
        mt.agg(F.count(F.lit(1)).cast("long").alias("matched_edges"))
        .crossJoin(free.agg(F.count(F.lit(1)).cast("long").alias("free_nodes")))
        .select(
            F.lit(0).cast("int").alias("round"), "matched_edges", "free_nodes"
        )
    ]
    for r in range(1, 5):
        ee = (
            e0.join(free.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(free.withColumnRenamed("node", "v"), "v", "left_semi")
        )
        inner = (
            48271 * (F.lit(r) * 1000003 + F.col("u") * 131071 + F.col("v"))
            + 12345
        ) % 2147483647
        ep = ee.select(
            "u", "v", ((48271 * inner + 12345) % 2147483647).alias("p")
        ).transform(_ckpt)
        aa, bb = ep.alias("aa"), ep.alias("bb")
        adjmin = (
            aa.join(
                bb,
                (
                    (F.col("bb.u") == F.col("aa.u"))
                    | (F.col("bb.v") == F.col("aa.u"))
                    | (F.col("bb.u") == F.col("aa.v"))
                    | (F.col("bb.v") == F.col("aa.v"))
                )
                & ~(
                    (F.col("bb.u") == F.col("aa.u"))
                    & (F.col("bb.v") == F.col("aa.v"))
                ),
            )
            .groupBy(F.col("aa.u").alias("u"), F.col("aa.v").alias("v"))
            .agg(F.min("bb.p").alias("mn"))
        )
        win = (
            ep.join(adjmin, ["u", "v"], "left")
            .where(F.col("mn").isNull() | (F.col("p") < F.col("mn")))
            .select("u", "v")
            .transform(_ckpt)
        )
        free = (
            free.join(
                win.select(F.col("u").alias("node")), "node", "left_anti"
            )
            .join(win.select(F.col("v").alias("node")), "node", "left_anti")
            .transform(_ckpt)
        )
        mt = mt.union(win).distinct().transform(_ckpt)
        stats.append(
            mt.agg(F.count(F.lit(1)).cast("long").alias("matched_edges"))
            .crossJoin(
                free.agg(F.count(F.lit(1)).cast("long").alias("free_nodes"))
            )
            .select(
                F.lit(r).cast("int").alias("round"),
                "matched_edges",
                "free_nodes",
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out


@query(
    "fpc_replicate_audit",
    oracle="""
    WITH pop AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) * 1.0 AS y
        FROM orders
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS bign, STDDEV_SAMP(y) AS sd
        FROM pop
    ), fr(fm) AS (VALUES (10), (100), (500)
    ), reps AS (SELECT UNNEST(generate_series(1, 30)) AS b
    ), samp AS (
        SELECT fr.fm, reps.b, pop.y
        FROM pop CROSS JOIN fr CROSS JOIN reps
        WHERE (48271 * ((48271 * (pop.k * 131071 + reps.b) + 12345)
               % 2147483647) + 12345) % 2147483647 % 1000 < fr.fm
    ), means AS (
        SELECT fm, b, AVG(y) AS m, CAST(COUNT(*) AS BIGINT) AS n
        FROM samp GROUP BY fm, b
    ), emp AS (
        SELECT fm, STDDEV_SAMP(m) AS emp_sd, AVG(n * 1.0) AS n_avg
        FROM means GROUP BY fm
    )
    SELECT CAST(emp.fm AS BIGINT) AS fraction_milli,
           CAST(ROUND(emp.n_avg) AS BIGINT) AS mean_sample_size,
           CAST(ROUND(emp.emp_sd) AS BIGINT) AS empirical_se_cents,
           CAST(ROUND(s.sd / sqrt(emp.n_avg)
                * sqrt(1 - emp.fm / 1000.0)) AS BIGINT) AS fpc_se_cents,
           CAST(ROUND(s.sd / sqrt(emp.n_avg)) AS BIGINT) AS srs_se_cents,
           CAST(ROUND(sqrt(1 - emp.fm / 1000.0) * 1000) AS BIGINT)
               AS fpc_factor_milli
    FROM emp, s
    """,
)
def fpc_replicate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-population correction audited with 30 deterministic
    replicate samples at 1% / 10% / 50% sampling fractions: each
    replicate draws rows by a (key, replicate) double-LCG residue,
    the empirical spread of replicate means is compared with the
    with-FPC theory S/sqrt(n) * sqrt(1 - f) and the infinite-
    population S/sqrt(n). At 50% the correction is a ~29% SE
    reduction the naive formula throws away — the survey-sampling
    fact that matters whenever a 'sample' is actually a large slice
    of the table (`survey_sample_estimate`'s setting, here isolated
    and measured).

    Determinism: replicate membership is exact integer hashing
    (Bernoulli-style, so n varies slightly per replicate — the
    theory column uses the mean realized n); cent rounding.

    Scale shape: the fraction x replicate lattice multiplies one
    stateless predicate over the fact scan; per-replicate means
    map-side combine — 90 cells out of one shuffle.
    """
    o = load_table(spark, sf_dir, "orders")
    pop = o.select(
        F.col("o_orderkey").alias("k"),
        (F.round(F.col("o_totalprice") * 100).cast("long") * 1.0).alias("y"),
    )
    s = pop.agg(
        F.count(F.lit(1)).cast("long").alias("bign"),
        F.stddev_samp("y").alias("sd"),
    )
    fr = spark.createDataFrame([(10,), (100,), (500,)], "fm long")
    reps = spark.range(1, 31).select(F.col("id").alias("b"))
    inner = (48271 * (F.col("k") * 131071 + F.col("b")) + 12345) % 2147483647
    samp = (
        pop.crossJoin(F.broadcast(fr))
        .crossJoin(F.broadcast(reps))
        .where(((48271 * inner + 12345) % 2147483647) % 1000 < F.col("fm"))
    )
    means = samp.groupBy("fm", "b").agg(
        F.avg("y").alias("m"), F.count(F.lit(1)).cast("long").alias("n")
    )
    emp = means.groupBy("fm").agg(
        F.stddev_samp("m").alias("emp_sd"), F.avg(F.col("n") * 1.0).alias("n_avg")
    )
    return emp.crossJoin(F.broadcast(s)).select(
        F.col("fm").cast("long").alias("fraction_milli"),
        F.round("n_avg").cast("long").alias("mean_sample_size"),
        F.round("emp_sd").cast("long").alias("empirical_se_cents"),
        F.round(
            F.col("sd")
            / F.sqrt("n_avg")
            * F.sqrt(1 - F.col("fm") / 1000.0)
        )
        .cast("long")
        .alias("fpc_se_cents"),
        F.round(F.col("sd") / F.sqrt("n_avg")).cast("long").alias(
            "srs_se_cents"
        ),
        F.round(F.sqrt(1 - F.col("fm") / 1000.0) * 1000)
        .cast("long")
        .alias("fpc_factor_milli"),
    )


@query(
    "systematic_sampling_deff",
    oracle="""
    WITH pop AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) * 1.0 AS y,
               ROW_NUMBER() OVER (ORDER BY o_orderdate, o_orderkey) AS r
        FROM orders
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS bign, VAR_SAMP(y) AS v
        FROM pop
    ), means AS (
        SELECT r % 10 AS off, AVG(y) AS m, CAST(COUNT(*) AS BIGINT) AS n
        FROM pop GROUP BY 1
    ), emp AS (
        SELECT VAR_POP(m) AS vm, AVG(n * 1.0) AS n_avg,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM means
    )
    SELECT emp.k AS n_systematic_samples,
           CAST(ROUND(emp.n_avg) AS BIGINT) AS n_per_sample,
           CAST(ROUND(sqrt(emp.vm)) AS BIGINT) AS systematic_se_cents,
           CAST(ROUND(sqrt(s.v / emp.n_avg)) AS BIGINT) AS srs_se_cents,
           CAST(ROUND(emp.vm / (s.v / emp.n_avg) * 1000) AS BIGINT)
               AS deff_milli
    FROM emp, s
    """,
)
def systematic_sampling_deff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Design effect of 1-in-10 systematic sampling on the date-
    ordered order stream: the ten interleaved systematic samples
    exactly tile the population, so the variance of their ten means
    is the TRUE sampling variance of a systematic draw — no
    simulation, the complete randomization distribution — compared
    with the SRS variance S^2/n. deff < 1000 milli means the
    date-ordering acts as implicit stratification (periodic trend
    balanced across offsets); deff > 1000 would flag resonance
    between the skip and a cycle — the exact pathology
    `dow_seasonality_profile` would predict for k = 7.

    Determinism: offsets partition by row_number mod 10 over a total
    order; all moments exact-input aggregates.

    Scale shape: the stream position comes from the range-bucketed
    distributed rank (``operators/rank.py`` — no single-task sort of
    the fact), then one 10-cell agg — the entire randomization
    distribution in one pass, which is the magic of systematic
    designs.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_order_stats,
    )

    o = load_table(spark, sf_dir, "orders")
    pop = distributed_order_stats(
        o.select(
            (F.round(F.col("o_totalprice") * 100).cast("long") * 1.0).alias(
                "y"
            ),
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("od"),
            "o_orderkey",
        ),
        "od",
        ["o_orderkey"],
        rank_col="r",
    ).select("y", "r")
    s = pop.agg(
        F.count(F.lit(1)).cast("long").alias("bign"),
        F.var_samp("y").alias("v"),
    )
    means = pop.groupBy((F.col("r") % 10).alias("off")).agg(
        F.avg("y").alias("m"), F.count(F.lit(1)).cast("long").alias("n")
    )
    emp = means.agg(
        F.var_pop("m").alias("vm"),
        F.avg(F.col("n") * 1.0).alias("n_avg"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    return emp.crossJoin(F.broadcast(s)).select(
        F.col("k").alias("n_systematic_samples"),
        F.round("n_avg").cast("long").alias("n_per_sample"),
        F.round(F.sqrt("vm")).cast("long").alias("systematic_se_cents"),
        F.round(F.sqrt(F.col("v") / F.col("n_avg")))
        .cast("long")
        .alias("srs_se_cents"),
        F.round(F.col("vm") / (F.col("v") / F.col("n_avg")) * 1000)
        .cast("long")
        .alias("deff_milli"),
    )


_EMBED2_SQL = """
    WITH daily AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM (SELECT o_orderdate AS d FROM orders) GROUP BY d
    ), emb AS (
        -- raw integer counts: distances stay exact, and the Lyapunov
        -- slope / recurrence structure are scale-invariant, so no
        -- float z-normalization (whose run-order noise once flipped a
        -- nearest-neighbour tie in a long sweep) is needed
        SELECT a.t, a.y * 1.0 AS z0, b.y * 1.0 AS z1,
               a.y AS i0, b.y AS i1
        FROM daily a JOIN daily b ON b.t = a.t + 1
    )
"""


@query(
    "lyapunov_rosenstein_daily",
    oracle=_EMBED2_SQL
    + """
    , pd AS (
        SELECT a.t AS i, b.t AS j,
               (a.i0 - b.i0) * (a.i0 - b.i0)
               + (a.i1 - b.i1) * (a.i1 - b.i1) AS d2
        FROM emb a JOIN emb b ON ABS(b.t - a.t) > 7
    ), nn AS (
        SELECT i, j FROM (
            SELECT i, j, ROW_NUMBER() OVER (
                PARTITION BY i ORDER BY d2, j) AS rk
            FROM pd
        ) WHERE rk = 1
    ), horizon AS (SELECT UNNEST(generate_series(0, 4)) AS k
    ), div AS (
        SELECT horizon.k,
               AVG(0.5 * ln(CAST((ai.i0 - aj.i0) * (ai.i0 - aj.i0)
                            + (ai.i1 - aj.i1) * (ai.i1 - aj.i1)
                            AS DOUBLE))) AS ld,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM nn CROSS JOIN horizon
        JOIN emb ai ON ai.t = nn.i + horizon.k
        JOIN emb aj ON aj.t = nn.j + horizon.k
        WHERE (ai.i0 - aj.i0) * (ai.i0 - aj.i0)
              + (ai.i1 - aj.i1) * (ai.i1 - aj.i1) > 0
        GROUP BY horizon.k
    ), slope AS (
        SELECT (SUM(k * ld) - SUM(k) * SUM(ld) / COUNT(*))
               / (SUM(k * k) - SUM(k) * SUM(k) / COUNT(*)) AS lam
        FROM div
    )
    SELECT CAST((SELECT MIN(n) FROM div) AS BIGINT) AS n_tracked_pairs,
           CAST(ROUND((SELECT ld FROM div WHERE k = 0) * 1000) AS BIGINT)
               AS d0_milli,
           CAST(ROUND((SELECT ld FROM div WHERE k = 4) * 1000) AS BIGINT)
               AS d4_milli,
           CAST(ROUND(slope.lam * 1000000) AS BIGINT)
               AS lyapunov_slope_micro
    FROM slope
    """,
)
def lyapunov_rosenstein_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rosenstein largest-Lyapunov-exponent estimate for the daily
    order-count series: in the 2-delay embedding each point's nearest
    neighbor (Theiler window > 7 days to exclude temporal neighbors)
    is tracked forward 0..4 steps, and the slope of mean log
    separation versus horizon estimates lambda — positive slope is
    the sensitive-dependence signature that separates chaos from the
    periodicity (`dominant_period_scan`) and long memory
    (`hurst_rescaled_range`) already profiled on this series; noise
    saturates the curve instead (d4 - d0 small against the slope).

    Determinism: distances are EXACT INTEGERS on raw daily counts
    (the Lyapunov slope is scale-invariant, so no float
    z-normalization is needed anywhere); the NN argmin tie-breaks on
    index; only the final log averages are float.

    Scale shape: the all-pairs NN is a calendar-bounded ~5.8M-row
    self-join of the tiny embedded series (the `dcov_dcor_daily`
    shape); tracking joins are index lookups.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .select(
            F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
            "y",
        )
    )
    da, db = daily.alias("da"), daily.alias("db")
    emb = da.join(db, F.col("db.t") == F.col("da.t") + 1).select(
        F.col("da.t").alias("t"),
        F.col("da.y").alias("c0"),
        F.col("db.y").alias("c1"),
    ).transform(_ckpt)
    a, b = emb.alias("a"), emb.alias("b")
    pd = a.join(b, F.abs(F.col("b.t") - F.col("a.t")) > 7).select(
        F.col("a.t").alias("i"),
        F.col("b.t").alias("j"),
        (
            (F.col("a.c0") - F.col("b.c0")) * (F.col("a.c0") - F.col("b.c0"))
            + (F.col("a.c1") - F.col("b.c1")) * (F.col("a.c1") - F.col("b.c1"))
        ).alias("d2"),
    )
    nn = (
        pd.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("i").orderBy("d2", "j")
            ),
        )
        .where(F.col("rk") == 1)
        .select("i", "j")
        .transform(_ckpt)
    )
    horizon = spark.range(0, 5).select(F.col("id").alias("k"))
    ai = emb.select(
        F.col("t").alias("ti"), F.col("c0").alias("i0"), F.col("c1").alias("i1")
    )
    aj = emb.select(
        F.col("t").alias("tj"), F.col("c0").alias("j0"), F.col("c1").alias("j1")
    )
    d2k = (
        (F.col("i0") - F.col("j0")) * (F.col("i0") - F.col("j0"))
        + (F.col("i1") - F.col("j1")) * (F.col("i1") - F.col("j1"))
    )
    div = (
        nn.crossJoin(F.broadcast(horizon))
        .join(ai, F.col("ti") == F.col("i") + F.col("k"))
        .join(aj, F.col("tj") == F.col("j") + F.col("k"))
        .where(d2k > 0)
        .groupBy("k")
        .agg(
            F.avg(0.5 * F.log(d2k.cast("double"))).alias("ld"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .transform(_ckpt)
    )
    slope = div.agg(
        (
            (
                F.sum(F.col("k") * F.col("ld"))
                - F.sum("k") * F.sum("ld") / F.count(F.lit(1))
            )
            / (
                F.sum(F.col("k") * F.col("k"))
                - F.sum("k") * F.sum("k") / F.count(F.lit(1))
            )
        ).alias("lam")
    )
    minn = div.agg(F.min("n").cast("long").alias("n_tracked_pairs"))
    d0 = div.where(F.col("k") == 0).select(F.col("ld").alias("ld0"))
    d4 = div.where(F.col("k") == 4).select(F.col("ld").alias("ld4"))
    return (
        minn.crossJoin(F.broadcast(d0))
        .crossJoin(F.broadcast(d4))
        .crossJoin(F.broadcast(slope))
        .select(
            "n_tracked_pairs",
            F.round(F.col("ld0") * 1000).cast("long").alias("d0_milli"),
            F.round(F.col("ld4") * 1000).cast("long").alias("d4_milli"),
            F.round(F.col("lam") * 1000000)
            .cast("long")
            .alias("lyapunov_slope_micro"),
        )
    )


@query(
    "rqa_daily",
    oracle=_EMBED2_SQL
    + """
    , pd AS (
        SELECT a.t AS i, b.t AS j,
               (a.i0 - b.i0) * (a.i0 - b.i0)
               + (a.i1 - b.i1) * (a.i1 - b.i1) AS d2
        FROM emb a JOIN emb b ON b.t > a.t + 7
    ), rec AS (
        SELECT i, j FROM pd WHERE pd.d2 <= 2
    ), stats AS (
        SELECT CAST((SELECT COUNT(*) FROM pd) AS BIGINT) AS n_pairs,
               CAST((SELECT COUNT(*) FROM rec) AS BIGINT) AS n_rec,
               CAST((SELECT COUNT(*) FROM rec a
                     JOIN rec b ON b.i = a.i + 1 AND b.j = a.j + 1)
                    AS BIGINT) AS n_diag
    )
    SELECT n_pairs, n_rec,
           CAST(ROUND(n_rec * 1000000.0 / n_pairs) AS BIGINT) AS rr_ppm,
           CAST(ROUND(n_diag * 1000000.0 / n_rec) AS BIGINT)
               AS det_proxy_ppm
    FROM stats
    """,
)
def rqa_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recurrence quantification of the embedded daily series: with
    the radius set at the 10th percentile of pairwise embedded
    distances (so recurrence rate is ~10% by construction — the
    standard calibration), DET-proxy measures how much recurrence
    organizes into DIAGONAL structures (point (i,j) recurrent AND
    (i+1, j+1) recurrent) — deterministic dynamics revisit whole
    trajectory segments, noise recurs in isolated dots. The
    complement of `lyapunov_rosenstein_daily`: Lyapunov measures how
    fast nearby paths separate, RQA measures how often and how
    coherently they return.

    Determinism: distances and the radius are exact integers;
    recurrence and diagonal counts are integer.

    Scale shape: the same calendar-bounded pair lattice, one
    quantile, one shifted self-join of the sparse recurrence set.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .select(
            F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
            "y",
        )
    )
    da, db = daily.alias("da"), daily.alias("db")
    emb = da.join(db, F.col("db.t") == F.col("da.t") + 1).select(
        F.col("da.t").alias("t"),
        F.col("da.y").alias("c0"),
        F.col("db.y").alias("c1"),
    ).transform(_ckpt)
    a, b = emb.alias("a"), emb.alias("b")
    pd = a.join(b, F.col("b.t") > F.col("a.t") + 7).select(
        F.col("a.t").alias("i"),
        F.col("b.t").alias("j"),
        (
            (F.col("a.c0") - F.col("b.c0")) * (F.col("a.c0") - F.col("b.c0"))
            + (F.col("a.c1") - F.col("b.c1")) * (F.col("a.c1") - F.col("b.c1"))
        ).alias("d2"),
    ).transform(_ckpt)
    rec = pd.where(F.col("d2") <= 2).select("i", "j").transform(_ckpt)
    ra, rb = rec.alias("ra"), rec.alias("rb")
    ndiag = ra.join(
        rb,
        (F.col("rb.i") == F.col("ra.i") + 1)
        & (F.col("rb.j") == F.col("ra.j") + 1),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_diag"))
    np_ = pd.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    nr = rec.agg(F.count(F.lit(1)).cast("long").alias("n_rec"))
    return (
        np_.crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(ndiag))
        .select(
            "n_pairs",
            "n_rec",
            F.round(F.col("n_rec") * 1000000.0 / F.col("n_pairs"))
            .cast("long")
            .alias("rr_ppm"),
            F.round(F.col("n_diag") * 1000000.0 / F.col("n_rec"))
            .cast("long")
            .alias("det_proxy_ppm"),
        )
    )


_SHIFT_SPLIT_SQL = """
    WITH med AS (
        SELECT PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY o_totalprice) AS t
        FROM orders WHERE o_orderdate < DATE '1998-01-01'
    ), base AS (
        SELECT CASE WHEN o_orderdate < DATE '1998-01-01' THEN 0 ELSE 1 END
                   AS tgt,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
               CASE WHEN o_totalprice > med.t THEN 1 ELSE 0 END AS yh,
               o_totalprice AS price
        FROM orders, med
    )
"""


@query(
    "bbse_label_shift",
    oracle=_SHIFT_SPLIT_SQL
    + """
    , conf AS (
        SELECT AVG(CASE WHEN y = 0 THEN yh * 1.0 END) AS c10,
               AVG(CASE WHEN y = 1 THEN yh * 1.0 END) AS c11,
               AVG(y * 1.0) AS src_prior
        FROM base WHERE tgt = 0
    ), tgt AS (
        SELECT AVG(yh * 1.0) AS mu, AVG(y * 1.0) AS actual,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM base WHERE tgt = 1
    )
    SELECT tgt.n AS n_target,
           CAST(ROUND(conf.src_prior * 1000000) AS BIGINT) AS source_prior_ppm,
           CAST(ROUND(tgt.actual * 1000000) AS BIGINT) AS target_actual_ppm,
           CAST(ROUND((tgt.mu - conf.c10) / (conf.c11 - conf.c10) * 1000000)
                AS BIGINT) AS target_bbse_ppm,
           CAST(ROUND(ABS((tgt.mu - conf.c10) / (conf.c11 - conf.c10)
                - tgt.actual) * 1000000) AS BIGINT) AS bbse_err_ppm
    FROM conf, tgt
    """,
)
def bbse_label_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Black-box shift estimation (Lipton et al.) of the
    finished-status prior after a temporal split: the above-median-
    price classifier's confusion rates C[yhat|y] are measured on
    pre-1998 SOURCE data (where labels are 'available'), only the
    PREDICTED positive rate mu is observed on the post-1998 target,
    and under label shift the target prior solves the 2x2 moment
    equation w1 = (mu - c10)/(c11 - c10) — no target labels used.
    The audit compares against the actual target prior the split
    secretly knows: label-shift correction with its error bar ON,
    the monitoring move for every deployed classifier that
    `psi_drift_order_value` (feature drift) cannot make about the
    LABEL distribution.

    Determinism: the threshold is an exact source PERCENTILE_DISC;
    confusion rates and priors are exact ratios; one closed-form
    division.

    Scale shape: two filtered scalar aggs over one scan — the
    estimator is moments-only, which is exactly why it deploys.
    """
    o = load_table(spark, sf_dir, "orders")
    med = o.where(F.col("o_orderdate") < F.lit("1998-01-01")).agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("t")
    )
    base = o.crossJoin(F.broadcast(med)).select(
        F.when(F.col("o_orderdate") < F.lit("1998-01-01"), 0)
        .otherwise(1)
        .alias("tgt"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.when(F.col("o_totalprice") > F.col("t"), 1).otherwise(0).alias("yh"),
    )
    base = _ckpt(base)  # shared fan-out relation
    conf = base.where(F.col("tgt") == 0).agg(
        F.avg(F.when(F.col("y") == 0, F.col("yh") * 1.0)).alias("c10"),
        F.avg(F.when(F.col("y") == 1, F.col("yh") * 1.0)).alias("c11"),
        F.avg(F.col("y") * 1.0).alias("src_prior"),
    )
    tgt = base.where(F.col("tgt") == 1).agg(
        F.avg(F.col("yh") * 1.0).alias("mu"),
        F.avg(F.col("y") * 1.0).alias("actual"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    est = (F.col("mu") - F.col("c10")) / (F.col("c11") - F.col("c10"))
    return conf.crossJoin(F.broadcast(tgt)).select(
        F.col("n").alias("n_target"),
        F.round(F.col("src_prior") * 1000000).cast("long").alias(
            "source_prior_ppm"
        ),
        F.round(F.col("actual") * 1000000).cast("long").alias(
            "target_actual_ppm"
        ),
        F.round(est * 1000000).cast("long").alias("target_bbse_ppm"),
        F.round(F.abs(est - F.col("actual")) * 1000000)
        .cast("long")
        .alias("bbse_err_ppm"),
    )


@query(
    "importance_weight_ess",
    oracle=_SHIFT_SPLIT_SQL
    + """
    , dec AS (
        SELECT tgt, NTILE(10) OVER (ORDER BY price, y, yh) AS d
        FROM base
    ), shares AS (
        SELECT d,
               CAST(SUM(CASE WHEN tgt = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS ns,
               CAST(SUM(tgt) AS BIGINT) AS nt
        FROM dec GROUP BY d
    ), tots AS (
        SELECT CAST(SUM(ns) AS BIGINT) AS tns, CAST(SUM(nt) AS BIGINT) AS tnt
        FROM shares
    ), wts AS (
        SELECT shares.d, shares.ns,
               (shares.nt * 1.0 / tots.tnt) / (shares.ns * 1.0 / tots.tns)
                   AS w
        FROM shares, tots WHERE shares.ns > 0
    ), ess AS (
        SELECT SUM(ns * w) * SUM(ns * w) / SUM(ns * w * w) AS e,
               CAST(SUM(ns) AS BIGINT) AS n, MAX(w) AS mw
        FROM wts
    )
    SELECT ess.n AS n_source,
           CAST(ROUND(ess.e) AS BIGINT) AS effective_sample_size,
           CAST(ROUND(ess.e * 1000000.0 / ess.n) AS BIGINT) AS ess_ratio_ppm,
           CAST(ROUND(ess.mw * 1000) AS BIGINT) AS max_weight_milli
    FROM ess
    """,
)
def importance_weight_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate-shift importance weights and their Kish effective
    sample size: price deciles (cut on the pooled data with a total
    tie-break) get weights w = target-share / source-share, and
    reweighting the pre-1998 source to mimic the post-1998 target
    costs ESS = (sum n w)^2 / sum n w^2 of the nominal sample — the
    single number that says whether importance weighting is viable
    (ratio near 1e6) or the shift is too severe to correct by
    reweighting (ratio collapsing, a few deciles carrying extreme
    weight, visible in max_weight). The prerequisite diagnostic for
    the `bbse_label_shift` alternative when covariates, not labels,
    moved.

    Determinism: decile membership is NTILE over a total order;
    weights are exact count ratios; ESS is closed-form.

    Scale shape: one global sort for deciles, one 10-cell agg,
    scalar math.
    """
    o = load_table(spark, sf_dir, "orders")
    med = o.where(F.col("o_orderdate") < F.lit("1998-01-01")).agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("t")
    )
    base = o.crossJoin(F.broadcast(med)).select(
        F.when(F.col("o_orderdate") < F.lit("1998-01-01"), 0)
        .otherwise(1)
        .alias("tgt"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.when(F.col("o_totalprice") > F.col("t"), 1).otherwise(0).alias("yh"),
        F.col("o_totalprice").alias("price"),
    )
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_ntile,
    )

    # decile assignment over ALL orders (fact-grain) via the
    # distributed rank machinery — never a single-task global window.
    dec = distributed_ntile(
        base, "price", ["y", "yh"], 10, out_col="d"
    ).select("tgt", "d")
    shares = dec.groupBy("d").agg(
        F.sum(F.when(F.col("tgt") == 0, 1).otherwise(0))
        .cast("long")
        .alias("ns"),
        F.sum("tgt").cast("long").alias("nt"),
    )
    shares = _ckpt(shares)  # shared fan-out relation
    tots = shares.agg(
        F.sum("ns").cast("long").alias("tns"),
        F.sum("nt").cast("long").alias("tnt"),
    )
    wts = (
        shares.crossJoin(F.broadcast(tots))
        .where(F.col("ns") > 0)
        .select(
            "ns",
            (
                (F.col("nt") * 1.0 / F.col("tnt"))
                / (F.col("ns") * 1.0 / F.col("tns"))
            ).alias("w"),
        )
    )
    ess = wts.agg(
        (
            F.sum(F.col("ns") * F.col("w"))
            * F.sum(F.col("ns") * F.col("w"))
            / F.sum(F.col("ns") * F.col("w") * F.col("w"))
        ).alias("e"),
        F.sum("ns").cast("long").alias("n"),
        F.max("w").alias("mw"),
    )
    return ess.select(
        F.col("n").alias("n_source"),
        F.round("e").cast("long").alias("effective_sample_size"),
        F.round(F.col("e") * 1000000.0 / F.col("n"))
        .cast("long")
        .alias("ess_ratio_ppm"),
        F.round(F.col("mw") * 1000).cast("long").alias("max_weight_milli"),
    )


_STUMP_GRID_SQL = """
    WITH pop AS (
        SELECT o_orderkey AS k,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
               (48271 * ((48271 * o_orderkey + 12345) % 2147483647) + 12345)
                   % 2147483647 % 1000 AS h
        FROM orders
    ), cand AS (
        SELECT (SELECT PERCENTILE_DISC(0.05) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.1) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.15) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.2) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.25) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.3) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.35) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.4) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.45) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.55) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.6) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.65) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.7) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.75) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.8) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.85) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.9) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
        UNION SELECT (SELECT PERCENTILE_DISC(0.95) WITHIN GROUP (ORDER BY price) FROM pop) AS thr
    ), eval_set AS (SELECT * FROM pop WHERE h >= 800)
"""


@query(
    "active_learning_one_step",
    oracle=_STUMP_GRID_SQL
    + """
    , labeled AS (SELECT * FROM pop WHERE h < 40
    ), pool AS (SELECT * FROM pop WHERE h >= 40 AND h < 800
    ), fit0 AS (
        SELECT cand.thr,
               AVG(CASE WHEN (labeled.price > cand.thr) = (labeled.y = 1)
                   THEN 1.0 ELSE 0.0 END) AS acc
        FROM cand CROSS JOIN labeled GROUP BY cand.thr
    ), best0 AS (
        SELECT thr FROM fit0 ORDER BY acc DESC, thr ASC LIMIT 1
    ), uncertain AS (
        SELECT pool.* FROM pool, best0
        ORDER BY ABS(pool.price - best0.thr), pool.k LIMIT 100
    ), rand AS (
        SELECT * FROM pool ORDER BY (pool.h * 131071 + pool.k)
               % 2147483647, pool.k LIMIT 100
    ), fit_al AS (
        SELECT cand.thr, AVG(CASE WHEN (s.price > cand.thr) = (s.y = 1)
               THEN 1.0 ELSE 0.0 END) AS acc
        FROM cand CROSS JOIN (
            SELECT k, price, y FROM labeled
            UNION ALL SELECT k, price, y FROM uncertain) s
        GROUP BY cand.thr
    ), best_al AS (
        SELECT thr FROM fit_al ORDER BY acc DESC, thr ASC LIMIT 1
    ), fit_rn AS (
        SELECT cand.thr, AVG(CASE WHEN (s.price > cand.thr) = (s.y = 1)
               THEN 1.0 ELSE 0.0 END) AS acc
        FROM cand CROSS JOIN (
            SELECT k, price, y FROM labeled
            UNION ALL SELECT k, price, y FROM rand) s
        GROUP BY cand.thr
    ), best_rn AS (
        SELECT thr FROM fit_rn ORDER BY acc DESC, thr ASC LIMIT 1
    ), ev AS (
        SELECT
            AVG(CASE WHEN (e.price > b0.thr) = (e.y = 1)
                THEN 1.0 ELSE 0.0 END) AS a0,
            AVG(CASE WHEN (e.price > ba.thr) = (e.y = 1)
                THEN 1.0 ELSE 0.0 END) AS aa,
            AVG(CASE WHEN (e.price > br.thr) = (e.y = 1)
                THEN 1.0 ELSE 0.0 END) AS ar,
            CAST(COUNT(*) AS BIGINT) AS n
        FROM eval_set e, best0 b0, best_al ba, best_rn br
    )
    SELECT n AS n_eval,
           CAST(ROUND(a0 * 1000000) AS BIGINT) AS base_acc_ppm,
           CAST(ROUND(aa * 1000000) AS BIGINT) AS active_acc_ppm,
           CAST(ROUND(ar * 1000000) AS BIGINT) AS random_acc_ppm,
           CAST(ROUND((aa - ar) * 1000000) AS BIGINT)
               AS active_vs_random_ppm
    FROM ev
    """,
)
def active_learning_one_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One acquisition round of uncertainty-sampling active learning,
    replayed deterministically: a price-threshold stump (19-candidate
    fixed quantile grid) is fit on a 4% labeled seed, then 100 MORE
    labels are bought either at the points CLOSEST to the decision
    boundary (uncertainty sampling) or by hash-random draw, the stump
    refits on each augmented set, and all three models are scored on
    a held-out 20% evaluation slice. active_vs_random_ppm is the
    acquisition-strategy dividend — the core claim of active
    learning, measured rather than assumed, with the classic caveat
    visible when it goes negative (boundary points are the noisiest
    labels).

    Determinism: splits are hash bands; candidate thresholds are
    exact pooled quantiles; all argmaxes tie-break on threshold or
    key.

    Scale shape: every fit is a 19-candidate conditional agg (one
    pass per set); acquisitions are TakeOrdered top-100s — no
    iterative retraining loop.
    """
    o = load_table(spark, sf_dir, "orders")
    inner = (48271 * F.col("o_orderkey") + 12345) % 2147483647
    pop = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        (((48271 * inner + 12345) % 2147483647) % 1000).alias("h"),
    ).transform(_ckpt)
    cand = None
    for q in range(1, 20):
        r = pop.agg(
            F.expr(
                f"percentile_disc({q / 20.0}) WITHIN GROUP (ORDER BY price)"
            ).alias("thr")
        )
        cand = r if cand is None else cand.unionAll(r)
    cand = cand.distinct().transform(_ckpt)
    eval_set = pop.where(F.col("h") >= 800)
    labeled = pop.where(F.col("h") < 40)
    pool = pop.where((F.col("h") >= 40) & (F.col("h") < 800))

    def fit(df: DataFrame) -> DataFrame:
        return (
            cand.crossJoin(df)
            .groupBy("thr")
            .agg(
                F.avg(
                    F.when(
                        (F.col("price") > F.col("thr"))
                        == (F.col("y") == 1),
                        1.0,
                    ).otherwise(0.0)
                ).alias("acc")
            )
            .orderBy(F.desc("acc"), F.asc("thr"))
            .limit(1)
            .select("thr")
        )

    best0 = fit(labeled).transform(_ckpt)
    uncertain = (
        pool.crossJoin(F.broadcast(best0))
        .orderBy(F.abs(F.col("price") - F.col("thr")), F.col("k"))
        .limit(100)
        .select("k", "price", "y")
    )
    rand = (
        pool.orderBy(
            (F.col("h") * 131071 + F.col("k")) % 2147483647, F.col("k")
        )
        .limit(100)
        .select("k", "price", "y")
    )
    best_al = fit(
        labeled.select("k", "price", "y").unionAll(uncertain)
    ).transform(_ckpt)
    best_rn = fit(
        labeled.select("k", "price", "y").unionAll(rand)
    ).transform(_ckpt)
    ev = (
        eval_set.crossJoin(F.broadcast(best0.select(F.col("thr").alias("t0"))))
        .crossJoin(F.broadcast(best_al.select(F.col("thr").alias("ta"))))
        .crossJoin(F.broadcast(best_rn.select(F.col("thr").alias("tr"))))
        .agg(
            F.avg(
                F.when(
                    (F.col("price") > F.col("t0")) == (F.col("y") == 1), 1.0
                ).otherwise(0.0)
            ).alias("a0"),
            F.avg(
                F.when(
                    (F.col("price") > F.col("ta")) == (F.col("y") == 1), 1.0
                ).otherwise(0.0)
            ).alias("aa"),
            F.avg(
                F.when(
                    (F.col("price") > F.col("tr")) == (F.col("y") == 1), 1.0
                ).otherwise(0.0)
            ).alias("ar"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    return ev.select(
        F.col("n").alias("n_eval"),
        F.round(F.col("a0") * 1000000).cast("long").alias("base_acc_ppm"),
        F.round(F.col("aa") * 1000000).cast("long").alias("active_acc_ppm"),
        F.round(F.col("ar") * 1000000).cast("long").alias("random_acc_ppm"),
        F.round((F.col("aa") - F.col("ar")) * 1000000)
        .cast("long")
        .alias("active_vs_random_ppm"),
    )


@query(
    "label_efficiency_curve",
    oracle=_STUMP_GRID_SQL
    + """
    , sizes(hmax) AS (VALUES (20), (80), (320)
    ), fits AS (
        SELECT sizes.hmax, cand.thr,
               AVG(CASE WHEN (pop.price > cand.thr) = (pop.y = 1)
                   THEN 1.0 ELSE 0.0 END) AS acc,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM sizes CROSS JOIN cand CROSS JOIN pop
        WHERE pop.h < sizes.hmax
        GROUP BY sizes.hmax, cand.thr
    ), best AS (
        SELECT hmax, thr, n FROM (
            SELECT hmax, thr, n,
                   ROW_NUMBER() OVER (PARTITION BY hmax
                       ORDER BY acc DESC, thr ASC) AS rk
            FROM fits
        ) WHERE rk = 1
    ), ev AS (
        SELECT best.hmax, best.n,
               AVG(CASE WHEN (e.price > best.thr) = (e.y = 1)
                   THEN 1.0 ELSE 0.0 END) AS acc
        FROM best CROSS JOIN eval_set e
        GROUP BY best.hmax, best.n
    )
    SELECT CAST(hmax AS BIGINT) AS hash_band,
           n AS n_labeled,
           CAST(ROUND(acc * 1000000) AS BIGINT) AS eval_acc_ppm
    FROM ev
    """,
)
def label_efficiency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-efficiency curve for the price stump: nested hash-band
    training sets (~2% / 8% / 32% of orders) each fit the
    19-candidate threshold stump and score on the same held-out
    slice — the classification counterpart of `learning_curve_ols`,
    and the budget baseline `active_learning_one_step` must beat:
    active acquisition only matters where this curve is still
    climbing; once it plateaus, smarter labeling buys nothing. Nested
    bands (h < 20 subset of h < 80 ...) remove resampling noise from
    the comparison.

    Determinism: bands are exact hash thresholds; fits are grid
    aggs with (accuracy, threshold) tie-breaks.

    Scale shape: the size x candidate lattice multiplies one
    stateless pass; per-size fits share the single scan.
    """
    o = load_table(spark, sf_dir, "orders")
    inner = (48271 * F.col("o_orderkey") + 12345) % 2147483647
    pop = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        (((48271 * inner + 12345) % 2147483647) % 1000).alias("h"),
    ).transform(_ckpt)
    cand = None
    for q in range(1, 20):
        r = pop.agg(
            F.expr(
                f"percentile_disc({q / 20.0}) WITHIN GROUP (ORDER BY price)"
            ).alias("thr")
        )
        cand = r if cand is None else cand.unionAll(r)
    cand = cand.distinct().transform(_ckpt)
    eval_set = pop.where(F.col("h") >= 800)
    sizes = spark.createDataFrame([(20,), (80,), (320,)], "hmax long")
    fits = (
        sizes.crossJoin(F.broadcast(cand))
        .crossJoin(pop)
        .where(F.col("h") < F.col("hmax"))
        .groupBy("hmax", "thr")
        .agg(
            F.avg(
                F.when(
                    (F.col("price") > F.col("thr")) == (F.col("y") == 1), 1.0
                ).otherwise(0.0)
            ).alias("acc"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    best = (
        fits.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("hmax").orderBy(F.desc("acc"), F.asc("thr"))
            ),
        )
        .where(F.col("rk") == 1)
        .select("hmax", "thr", "n")
    )
    ev = (
        best.crossJoin(eval_set)
        .groupBy("hmax", "n")
        .agg(
            F.avg(
                F.when(
                    (F.col("price") > F.col("thr")) == (F.col("y") == 1), 1.0
                ).otherwise(0.0)
            ).alias("acc")
        )
    )
    return ev.select(
        F.col("hmax").cast("long").alias("hash_band"),
        F.col("n").alias("n_labeled"),
        F.round(F.col("acc") * 1000000).cast("long").alias("eval_acc_ppm"),
    )


@query(
    "dwyer_patterns_support",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
               MAX(CASE WHEN event_type = 'view' THEN ts END) AS last_view,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS first_purchase,
               MAX(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS last_purchase,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
               MIN(ts) AS first_any,
               MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS has_err
        FROM events GROUP BY user_id
    ), checks AS (
        SELECT
            CASE WHEN first_purchase IS NOT NULL THEN 1 ELSE 0 END AS p_exist,
            CASE WHEN last_view IS NULL
                 OR (last_purchase IS NOT NULL AND last_view < last_purchase)
                 THEN 1 ELSE 0 END AS p_response,
            CASE WHEN first_purchase IS NULL
                 OR (first_view IS NOT NULL AND first_view < first_purchase)
                 THEN 1 ELSE 0 END AS p_precedence,
            CASE WHEN first_signup IS NOT NULL AND first_signup = first_any
                 THEN 1 ELSE 0 END AS p_init,
            CASE WHEN has_err = 0 THEN 1 ELSE 0 END AS p_absence
        FROM per_user
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM checks)
    SELECT 'existence_purchase' AS property,
           CAST(SUM(p_exist) AS BIGINT) AS n_satisfied,
           CAST(ROUND(SUM(p_exist) * 1000000.0 / n.n) AS BIGINT) AS support_ppm
    FROM checks, n GROUP BY n.n
    UNION ALL
    SELECT 'response_view_purchase', CAST(SUM(p_response) AS BIGINT),
           CAST(ROUND(SUM(p_response) * 1000000.0 / n.n) AS BIGINT)
    FROM checks, n GROUP BY n.n
    UNION ALL
    SELECT 'precedence_view_purchase', CAST(SUM(p_precedence) AS BIGINT),
           CAST(ROUND(SUM(p_precedence) * 1000000.0 / n.n) AS BIGINT)
    FROM checks, n GROUP BY n.n
    UNION ALL
    SELECT 'init_signup_first', CAST(SUM(p_init) AS BIGINT),
           CAST(ROUND(SUM(p_init) * 1000000.0 / n.n) AS BIGINT)
    FROM checks, n GROUP BY n.n
    UNION ALL
    SELECT 'absence_error', CAST(SUM(p_absence) AS BIGINT),
           CAST(ROUND(SUM(p_absence) * 1000000.0 / n.n) AS BIGINT)
    FROM checks, n GROUP BY n.n
    """,
)
def dwyer_patterns_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Specification mining over user event streams with five Dwyer
    temporal-property patterns: existence (a purchase happens),
    response (every view is eventually followed by a purchase —
    checked by the last-view < last-purchase characterization),
    precedence (no purchase before the first view), init (signup is
    the first event), and absence (no error ever). Per-pattern
    support across users is the behavioral contract mined from the
    log — the runtime-verification reading of the same sequences
    `event_funnel_ordered` counts and `markov_next_event_hit_rate`
    models probabilistically: funnels measure HOW MANY convert,
    properties state WHAT INVARIANTS the journeys obey.

    Determinism: each property reduces to min/max timestamp
    comparisons per user — exact; vacuous cases (no view) satisfy
    response/precedence per LTL convention, documented in the CASE
    arms.

    Scale shape: one per-user conditional-minmax agg, five scalar
    rollups — property checking at GROUP BY cost, no sequence
    explosion.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
        F.max(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "last_view"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "last_purchase"
        ),
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "first_signup"
        ),
        F.min("ts").alias("first_any"),
        F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias(
            "has_err"
        ),
    )
    checks = per_user.select(
        F.when(F.col("first_purchase").isNotNull(), 1).otherwise(0).alias(
            "p_exist"
        ),
        F.when(
            F.col("last_view").isNull()
            | (
                F.col("last_purchase").isNotNull()
                & (F.col("last_view") < F.col("last_purchase"))
            ),
            1,
        )
        .otherwise(0)
        .alias("p_response"),
        F.when(
            F.col("first_purchase").isNull()
            | (
                F.col("first_view").isNotNull()
                & (F.col("first_view") < F.col("first_purchase"))
            ),
            1,
        )
        .otherwise(0)
        .alias("p_precedence"),
        F.when(
            F.col("first_signup").isNotNull()
            & (F.col("first_signup") == F.col("first_any")),
            1,
        )
        .otherwise(0)
        .alias("p_init"),
        F.when(F.col("has_err") == 0, 1).otherwise(0).alias("p_absence"),
    ).transform(_ckpt)
    n = checks.agg(F.count(F.lit(1)).cast("long").alias("n"))
    out = None
    for prop, col in [
        ("existence_purchase", "p_exist"),
        ("response_view_purchase", "p_response"),
        ("precedence_view_purchase", "p_precedence"),
        ("init_signup_first", "p_init"),
        ("absence_error", "p_absence"),
    ]:
        r = checks.crossJoin(F.broadcast(n)).agg(
            F.lit(prop).alias("property"),
            F.sum(col).cast("long").alias("n_satisfied"),
            F.round(F.sum(col) * 1000000.0 / F.max("n"))
            .cast("long")
            .alias("support_ppm"),
        )
        out = r if out is None else out.unionAll(r)
    return out


@query(
    "response_time_bound_profile",
    oracle="""
    WITH views AS (
        SELECT user_id, ts AS vt, event_id
        FROM events WHERE event_type = 'view'
    ), nxt AS (
        SELECT v.user_id, v.vt, v.event_id,
               MIN(p.ts) AS pt
        FROM views v
        JOIN events p ON p.user_id = v.user_id
         AND p.event_type = 'purchase' AND p.ts > v.vt
        GROUP BY v.user_id, v.vt, v.event_id
    ), delays AS (
        SELECT CAST(epoch_ms(pt) - epoch_ms(vt) AS BIGINT) AS d_ms
        FROM nxt
    ), tot AS (
        SELECT CAST((SELECT COUNT(*) FROM views) AS BIGINT) AS n_views,
               CAST((SELECT COUNT(*) FROM delays) AS BIGINT) AS n_resp
    )
    SELECT tot.n_views, tot.n_resp,
           CAST(ROUND(tot.n_resp * 1000000.0 / tot.n_views) AS BIGINT)
               AS answered_ppm,
           CAST((SELECT PERCENTILE_DISC(0.5) WITHIN GROUP (ORDER BY d_ms)
                 FROM delays) AS BIGINT) AS median_delay_ms,
           CAST((SELECT CAST(SUM(CASE WHEN d_ms <= 3600000 THEN 1 ELSE 0 END)
                 AS BIGINT) FROM delays) AS BIGINT) AS within_1h,
           CAST((SELECT CAST(SUM(CASE WHEN d_ms <= 86400000 THEN 1 ELSE 0 END)
                 AS BIGINT) FROM delays) AS BIGINT) AS within_1d
    FROM tot
    """,
)
def response_time_bound_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-response profiling for the view -> purchase property of
    `dwyer_patterns_support`: every view's delay to its NEXT purchase
    (per user), the share of views answered at all, the median delay,
    and counts within 1-hour / 1-day SLA bounds — timed LTL: the
    qualitative property says 'eventually', the business needs
    'within how long', and the bound columns are where eventually
    becomes an SLO (`slo_error_budget_burn`'s input, mined from raw
    behavior).

    Determinism: next-purchase is a per-view MIN over later events;
    delays are exact epoch-ms integers; the median is
    PERCENTILE_DISC.

    Scale shape: the view-purchase pairing is a per-user range join
    reduced by MIN — bounded by views x purchases per user (tiny
    per-key), never a global product.
    """
    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vt"), "event_id"
    )
    pur = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pt")
    )
    nxt = (
        views.join(
            pur,
            (F.col("pu") == F.col("user_id")) & (F.col("pt") > F.col("vt")),
        )
        .groupBy("user_id", "vt", "event_id")
        .agg(F.min("pt").alias("ptm"))
    )
    delays = nxt.select(
        (
            F.unix_millis(F.col("ptm").cast("timestamp"))
            - F.unix_millis(F.col("vt").cast("timestamp"))
        ).alias("d_ms")
    ).transform(_ckpt)
    nv = views.agg(F.count(F.lit(1)).cast("long").alias("n_views"))
    stats = delays.agg(
        F.count(F.lit(1)).cast("long").alias("n_resp"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY d_ms)").alias(
            "med"
        ),
        F.sum(F.when(F.col("d_ms") <= 3600000, 1).otherwise(0))
        .cast("long")
        .alias("within_1h"),
        F.sum(F.when(F.col("d_ms") <= 86400000, 1).otherwise(0))
        .cast("long")
        .alias("within_1d"),
    )
    return nv.crossJoin(F.broadcast(stats)).select(
        "n_views",
        "n_resp",
        F.round(F.col("n_resp") * 1000000.0 / F.col("n_views"))
        .cast("long")
        .alias("answered_ppm"),
        F.col("med").cast("long").alias("median_delay_ms"),
        "within_1h",
        "within_1d",
    )


@query(
    "roll_spread_estimator",
    oracle="""
    WITH daily AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t, p
        FROM (
            SELECT o_orderdate AS d, AVG(o_totalprice) AS p
            FROM orders GROUP BY 1
        )
    ), chg AS (
        SELECT a.t, b.p - a.p AS dp
        FROM daily a JOIN daily b ON b.t = a.t + 1
    ), lagc AS (
        SELECT a.dp AS d1, b.dp AS d2
        FROM chg a JOIN chg b ON b.t = a.t + 1
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, COVAR_SAMP(d1, d2) AS cv
        FROM lagc
    ), mp AS (SELECT AVG(p) AS mean_p FROM daily)
    SELECT s.n AS n_pairs,
           CAST(ROUND(s.cv) AS BIGINT) AS autocov_dollars2,
           CAST(ROUND(CASE WHEN s.cv < 0 THEN 2 * sqrt(-s.cv) * 100
                ELSE 0 END) AS BIGINT) AS roll_spread_cents,
           CAST(ROUND(CASE WHEN s.cv < 0 THEN 2 * sqrt(-s.cv) / mp.mean_p
                * 1000000 ELSE 0 END) AS BIGINT) AS roll_spread_rel_ppm
    FROM s, mp
    """,
)
def roll_spread_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll's (1984) implied bid-ask spread from the daily mean-ticket
    series: bid-ask bounce makes successive price CHANGES negatively
    autocorrelated, and the spread is recoverable as
    2 sqrt(-cov(dp_t, dp_t-1)) using trades alone — no quote data.
    Positive autocovariance (momentum-dominated series) yields no
    estimate and reports zero per the standard convention, itself
    informative: this series' friction is below what bounce can
    explain. The trade-based member of the microstructure family
    beside `garman_klass_volatility` (range-based vol) and
    `corwin_schultz_spread` (range-based spread).

    Determinism: day means are single divisions; the lag-1
    autocovariance is a standard double aggregate over exact joins;
    cent/ppm rounding.

    Scale shape: one date agg, two index lag joins on the tiny
    series, one scalar agg.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg(F.avg("o_totalprice").alias("p"))
        .select(
            F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
            "p",
        )
        .transform(_ckpt)
    )
    a, b = daily.alias("a"), daily.alias("b")
    chg = a.join(b, F.col("b.t") == F.col("a.t") + 1).select(
        F.col("a.t").alias("t"), (F.col("b.p") - F.col("a.p")).alias("dp")
    )
    ca, cb = chg.alias("ca"), chg.alias("cb")
    lagc = ca.join(cb, F.col("cb.t") == F.col("ca.t") + 1).select(
        F.col("ca.dp").alias("d1"), F.col("cb.dp").alias("d2")
    )
    s = lagc.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.covar_samp("d1", "d2").alias("cv"),
    )
    mp = daily.agg(F.avg("p").alias("mean_p"))
    return s.crossJoin(F.broadcast(mp)).select(
        F.col("n").alias("n_pairs"),
        F.round("cv").cast("long").alias("autocov_dollars2"),
        F.round(
            F.when(F.col("cv") < 0, 2 * F.sqrt(-F.col("cv")) * 100).otherwise(
                0.0
            )
        )
        .cast("long")
        .alias("roll_spread_cents"),
        F.round(
            F.when(
                F.col("cv") < 0,
                2 * F.sqrt(-F.col("cv")) / F.col("mean_p") * 1000000,
            ).otherwise(0.0)
        )
        .cast("long")
        .alias("roll_spread_rel_ppm"),
    )


@query(
    "corwin_schultz_spread",
    oracle="""
    WITH daily AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t, hi, lo
        FROM (
            SELECT o_orderdate AS d, MAX(o_totalprice) AS hi,
                   MIN(o_totalprice) AS lo
            FROM orders GROUP BY 1
        )
    ), pairs AS (
        SELECT a.t,
               POWER(ln(a.hi / a.lo), 2) + POWER(ln(b.hi / b.lo), 2) AS beta,
               POWER(ln(GREATEST(a.hi, b.hi) / LEAST(a.lo, b.lo)), 2)
                   AS gamma
        FROM daily a JOIN daily b ON b.t = a.t + 1
    ), alphas AS (
        SELECT t,
               (sqrt(2 * beta) - sqrt(beta)) / (3 - 2 * sqrt(2.0))
               - sqrt(gamma / (3 - 2 * sqrt(2.0))) AS alpha
        FROM pairs
    ), sp AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(CASE WHEN alpha > 0
                   THEN 2 * (exp(alpha) - 1) / (1 + exp(alpha))
                   ELSE 0 END) AS s,
               AVG(CASE WHEN alpha <= 0 THEN 1.0 ELSE 0.0 END) AS neg_share
        FROM alphas
    )
    SELECT n AS n_day_pairs,
           CAST(ROUND(s * 1000000) AS BIGINT) AS cs_spread_rel_ppm,
           CAST(ROUND(neg_share * 1000000) AS BIGINT)
               AS negative_alpha_ppm
    FROM sp
    """,
)
def corwin_schultz_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corwin-Schultz (2012) high-low spread estimator on daily order
    price ranges: variance grows with the observation interval but
    the spread does not, so comparing single-day squared log-ranges
    (beta) with the two-day range (gamma) isolates the spread
    component in closed form — alpha = (sqrt(2 beta) - sqrt(beta)) /
    (3 - 2 sqrt 2) - sqrt(gamma / (3 - 2 sqrt 2)), S = 2(e^a - 1) /
    (1 + e^a), negatives floored to zero per the paper with their
    share reported (a quality flag: many negatives mean ranges are
    variance-dominated). Cross-checking against
    `roll_spread_estimator` is the standard two-estimator sanity
    test, each with different blind spots.

    Determinism: day highs/lows are exact extrema; the estimator is
    a per-pair closed expression averaged over ~2.4k pairs,
    ppm-rounded.

    Scale shape: one date agg, one adjacent-day join, one scalar
    agg.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.max("o_totalprice").alias("hi"), F.min("o_totalprice").alias("lo")
        )
        .select(
            F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
            "hi",
            "lo",
        )
        .transform(_ckpt)
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("b.t") == F.col("a.t") + 1).select(
        (
            F.pow(F.log(F.col("a.hi") / F.col("a.lo")), 2)
            + F.pow(F.log(F.col("b.hi") / F.col("b.lo")), 2)
        ).alias("beta"),
        F.pow(
            F.log(
                F.greatest(F.col("a.hi"), F.col("b.hi"))
                / F.least(F.col("a.lo"), F.col("b.lo"))
            ),
            2,
        ).alias("gamma"),
    )
    denom = 3 - 2 * 1.4142135623730951
    alphas = pairs.select(
        (
            (F.sqrt(2 * F.col("beta")) - F.sqrt("beta")) / denom
            - F.sqrt(F.col("gamma") / denom)
        ).alias("alpha")
    )
    sp = alphas.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg(
            F.when(
                F.col("alpha") > 0,
                2 * (F.exp("alpha") - 1) / (1 + F.exp("alpha")),
            ).otherwise(0.0)
        ).alias("s"),
        F.avg(F.when(F.col("alpha") <= 0, 1.0).otherwise(0.0)).alias(
            "neg_share"
        ),
    )
    return sp.select(
        F.col("n").alias("n_day_pairs"),
        F.round(F.col("s") * 1000000).cast("long").alias("cs_spread_rel_ppm"),
        F.round(F.col("neg_share") * 1000000)
        .cast("long")
        .alias("negative_alpha_ppm"),
    )


_OPINION_SETUP_SQL = """
    WITH flows AS (
        SELECT s.s_nationkey AS i, c.c_nationkey AS j,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS f
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE s.s_nationkey <> c.c_nationkey
        GROUP BY 1, 2
    ), rowsum AS (
        SELECT i, CAST(SUM(f) AS BIGINT) AS rs FROM flows GROUP BY i
    ), w AS MATERIALIZED (
        -- lazy DeGroot: half self-weight, half trade-share neighbours;
        -- nations with no outflows keep a full self-loop so every row
        -- of W sums to exactly 1
        SELECT flows.i, flows.j, 0.5 * flows.f / rowsum.rs AS v
        FROM flows JOIN rowsum ON rowsum.i = flows.i
        UNION ALL
        SELECT n.n_nationkey, n.n_nationkey,
               CASE WHEN rowsum.i IS NULL THEN 1.0 ELSE 0.5 END
        FROM nation n LEFT JOIN rowsum ON rowsum.i = n.n_nationkey
    ), rates AS (
        SELECT c.c_nationkey AS i,
               AVG(CASE WHEN o.o_orderpriority = '1-URGENT'
                   THEN 1.0 ELSE 0.0 END) AS x
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
    ), gavg AS (
        SELECT AVG(CASE WHEN o_orderpriority = '1-URGENT'
               THEN 1.0 ELSE 0.0 END) AS g
        FROM orders
    ), x0 AS MATERIALIZED (
        -- zero-order nations hold the global rate so W stays effectively
        -- row-stochastic over the opinion support on tiny fixtures
        SELECT n.n_nationkey AS i, COALESCE(rates.x, gavg.g) AS x
        FROM nation n LEFT JOIN rates ON rates.i = n.n_nationkey, gavg
    )
"""


def _degroot_oracle(rounds: int = 8) -> str:
    parts = [_OPINION_SETUP_SQL]
    for r in range(1, rounds + 1):
        parts.append(
            f""", x{r} AS MATERIALIZED (
        SELECT w.i, SUM(w.v * x{r-1}.x) AS x
        FROM w JOIN x{r-1} ON x{r-1}.i = w.j
        GROUP BY w.i
    )"""
        )
    stats = " UNION ALL ".join(
        f"SELECT {r} AS round,"
        f" CAST(ROUND((SELECT MAX(x) - MIN(x) FROM x{r}) * 1000000) AS BIGINT)"
        f" AS spread_ppm,"
        f" CAST(ROUND((SELECT VAR_POP(x) FROM x{r}) * 1000000000) AS BIGINT)"
        f" AS variance_nano"
        for r in range(rounds + 1)
    )
    return "".join(parts) + " " + stats


@query("degroot_consensus_rounds", oracle=_degroot_oracle(8))
def degroot_consensus_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeGroot opinion dynamics on the trade network: nations start at
    their own urgent-order rates and repeatedly average neighbors'
    opinions weighted by trade shares (lazy variant — half
    self-weight guarantees aperiodic convergence); eight synchronous
    rounds report the opinion spread and variance collapsing toward
    the influence-weighted consensus (whose weights are exactly the
    stationary distribution `pagerank_trade_graph`-style iterations
    compute). The social-learning reading of the same row-stochastic
    matrix the Leontief queries read economically — the spread
    trajectory IS the mixing rate of the trade topology.

    Determinism: x0 and weights are exact ratios; each round is one
    join-aggregate over the 625-cell matrix; ppm/nano rounding at
    output.

    Scale shape: matvec rounds on broadcast-size relations with
    checkpointed lineage — identical machinery to
    `karp_min_mean_cycle` under a different semiring.
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
        .groupBy(F.col("s_nationkey").alias("i"), F.col("c_nationkey").alias("j"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("f")
        )
    )
    rowsum = flows.groupBy("i").agg(F.sum("f").cast("long").alias("rs"))
    selfw = (
        nat.select(F.col("n_nationkey").alias("i"))
        .join(rowsum, "i", "left")
        .select(
            "i",
            F.col("i").alias("j"),
            F.when(F.col("rs").isNull(), 1.0).otherwise(0.5).alias("v"),
        )
    )
    w = (
        flows.join(rowsum, "i")
        .select("i", "j", (0.5 * F.col("f") / F.col("rs")).alias("v"))
        .unionAll(selfw)
        .transform(_ckpt)
    )
    rates = (
        o.join(
            F.broadcast(cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")),
            "o_custkey",
        )
        .groupBy(F.col("c_nationkey").alias("i"))
        .agg(
            F.avg(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1.0).otherwise(
                    0.0
                )
            ).alias("x")
        )
    )
    gavg = o.agg(
        F.avg(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1.0).otherwise(0.0)
        ).alias("g")
    )
    x = (
        nat.select(F.col("n_nationkey").alias("i"))
        .join(rates, "i", "left")
        .crossJoin(F.broadcast(gavg))
        .select("i", F.coalesce("x", "g").alias("x"))
        .transform(_ckpt)
    )
    stats = [
        x.agg(
            F.lit(0).cast("int").alias("round"),
            F.round((F.max("x") - F.min("x")) * 1000000)
            .cast("long")
            .alias("spread_ppm"),
            F.round(F.var_pop("x") * 1000000000)
            .cast("long")
            .alias("variance_nano"),
        )
    ]
    for r in range(1, 9):
        xj = x.select(F.col("i").alias("j"), F.col("x").alias("xj"))
        x = (
            w.join(F.broadcast(xj), "j")
            .groupBy("i")
            .agg(F.sum(F.col("v") * F.col("xj")).alias("x"))
            .transform(_ckpt)
        )
        stats.append(
            x.agg(
                F.lit(r).cast("int").alias("round"),
                F.round((F.max("x") - F.min("x")) * 1000000)
                .cast("long")
                .alias("spread_ppm"),
                F.round(F.var_pop("x") * 1000000000)
                .cast("long")
                .alias("variance_nano"),
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionAll(s)
    return out


def _fj_oracle(terms: int = 8) -> str:
    parts = [_OPINION_SETUP_SQL]
    for r in range(1, terms + 1):
        parts.append(
            f""", v{r} AS MATERIALIZED (
        SELECT w.i, SUM(0.5 * w.v * v{r-1}.x) AS x
        FROM w JOIN v{r-1} ON v{r-1}.i = w.j
        GROUP BY w.i
    )""".replace("v0", "x0")
        )
    series = " UNION ALL ".join(
        ["SELECT i, x FROM x0"]
        + [f"SELECT i, x FROM v{r}" for r in range(1, terms + 1)]
    )
    return (
        "".join(parts)
        + f""", fj AS (
        SELECT i, 0.5 * SUM(x) AS x FROM ({series}) GROUP BY i
    )
    SELECT CAST(fj.i AS BIGINT) AS nation_key,
           CAST(ROUND(x0.x * 1000000) AS BIGINT) AS initial_ppm,
           CAST(ROUND(fj.x * 1000000) AS BIGINT) AS fj_equilibrium_ppm,
           CAST(ROUND((fj.x - x0.x) * 1000000) AS BIGINT) AS shift_ppm
    FROM fj JOIN x0 ON x0.i = fj.i
    """
    )


@query("fj_opinion_equilibrium", oracle=_fj_oracle(8))
def fj_opinion_equilibrium(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedkin-Johnsen equilibrium with stubbornness 1/2 on the same
    trade network as `degroot_consensus_rounds`: x* = (1 - s)
    (I - s W)^-1 x0 with s = 1/2, computed by the geometric Neumann
    series truncated at eight terms (tail below 0.5^9). Where pure
    DeGroot forgets initial opinions entirely, FJ agents anchor to
    their priors, so disagreement SURVIVES at equilibrium — the
    shift_ppm column shows who moves toward whom, and its variance
    across nations is the polarization the trade topology cannot
    erase. The social-network twin of the Leontief series (same
    resolvent, different story).

    Determinism: identical matrix machinery; each series term is a
    checkpointed matvec; ppm rounding.

    Scale shape: eight tiny matvecs plus one grouped series sum —
    equilibrium without a solver.
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
        .groupBy(F.col("s_nationkey").alias("i"), F.col("c_nationkey").alias("j"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("f")
        )
    )
    rowsum = flows.groupBy("i").agg(F.sum("f").cast("long").alias("rs"))
    selfw = (
        nat.select(F.col("n_nationkey").alias("i"))
        .join(rowsum, "i", "left")
        .select(
            "i",
            F.col("i").alias("j"),
            F.when(F.col("rs").isNull(), 1.0).otherwise(0.5).alias("v"),
        )
    )
    w = (
        flows.join(rowsum, "i")
        .select("i", "j", (0.5 * F.col("f") / F.col("rs")).alias("v"))
        .unionAll(selfw)
        .transform(_ckpt)
    )
    rates = (
        o.join(
            F.broadcast(cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")),
            "o_custkey",
        )
        .groupBy(F.col("c_nationkey").alias("i"))
        .agg(
            F.avg(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1.0).otherwise(
                    0.0
                )
            ).alias("x")
        )
    )
    gavg = o.agg(
        F.avg(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1.0).otherwise(0.0)
        ).alias("g")
    )
    x0 = (
        nat.select(F.col("n_nationkey").alias("i"))
        .join(rates, "i", "left")
        .crossJoin(F.broadcast(gavg))
        .select("i", F.coalesce("x", "g").alias("x"))
        .transform(_ckpt)
    )
    terms = [x0]
    cur = x0
    for _ in range(8):
        xj = cur.select(F.col("i").alias("j"), F.col("x").alias("xj"))
        cur = (
            w.join(F.broadcast(xj), "j")
            .groupBy("i")
            .agg(F.sum(0.5 * F.col("v") * F.col("xj")).alias("x"))
            .transform(_ckpt)
        )
        terms.append(cur)
    reproject = lambda df: df.select(
        F.col("i").cast("long").alias("i"), F.col("x").cast("double").alias("x")
    )
    series = reproject(terms[0])
    for t in terms[1:]:
        series = series.unionAll(reproject(t))
    fj = series.groupBy("i").agg((0.5 * F.sum("x")).alias("xf"))
    return fj.join(x0, "i").select(
        F.col("i").cast("long").alias("nation_key"),
        F.round(F.col("x") * 1000000).cast("long").alias("initial_ppm"),
        F.round(F.col("xf") * 1000000).cast("long").alias("fj_equilibrium_ppm"),
        F.round((F.col("xf") - F.col("x")) * 1000000)
        .cast("long")
        .alias("shift_ppm"),
    )


_FAILURE_TIMES_SQL = """
    WITH ft AS (
        SELECT CAST(epoch_ms(ts) AS DOUBLE) / 86400000.0 AS t
        FROM events WHERE event_type = 'error'
    ), span AS (
        SELECT MIN(t) AS t0,
               (SELECT MAX(CAST(epoch_ms(ts) AS DOUBLE) / 86400000.0)
                FROM events) AS t1
        FROM ft
    ), rel AS (
        SELECT ft.t - span.t0 + 0.0001 AS t, span.t1 - span.t0 + 0.0001 AS bigt
        FROM ft, span
    )
"""


@query(
    "crow_amsaa_growth",
    oracle=_FAILURE_TIMES_SQL
    + """
    , s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(bigt) AS bigt,
               SUM(ln(bigt / t)) AS sl
        FROM rel
    )
    SELECT n AS n_failures,
           CAST(ROUND(bigt * 1000) AS BIGINT) AS span_milli_days,
           CAST(ROUND(n / sl * 1000) AS BIGINT) AS beta_milli,
           CAST(ROUND(n / POWER(bigt, n / sl) * 1000) AS BIGINT)
               AS lambda_milli,
           CAST(CASE WHEN n / sl < 1 THEN 1 ELSE 0 END AS BIGINT)
               AS reliability_improving
    FROM s
    """,
)
def crow_amsaa_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crow-AMSAA (NHPP power-law) reliability-growth fit on the error
    event stream: with failure times t_i over observation span T, the
    MLE shape is beta = n / sum ln(T / t_i) and scale lambda = n /
    T^beta; beta < 1 means failures are slowing — the system is being
    hardened — while beta > 1 is deterioration. The reliability-
    growth lens on the same error stream `p_chart_weekly_late_orders`
    charts stationarily: control charts assume a constant rate, the
    power-law NHPP measures whether that assumption itself trends.

    Determinism: times are exact epoch-ms scaled once with a fixed
    epsilon offset shielding the first failure's log; the MLEs are
    two closed expressions, milli-rounded.

    Scale shape: one filtered scan, one scalar agg — the entire fit
    in a single reduction.
    """
    ev = load_table(spark, sf_dir, "events")
    allmax = ev.agg(
        (
            F.max(F.unix_millis(F.col("ts").cast("timestamp"))).cast("double")
            / 86400000.0
        ).alias("t1")
    )
    ft = ev.where(F.col("event_type") == "error").select(
        (
            F.unix_millis(F.col("ts").cast("timestamp")).cast("double")
            / 86400000.0
        ).alias("t")
    )
    t0 = ft.agg(F.min("t").alias("t0"))
    rel = ft.crossJoin(F.broadcast(t0)).crossJoin(F.broadcast(allmax)).select(
        (F.col("t") - F.col("t0") + 0.0001).alias("t"),
        (F.col("t1") - F.col("t0") + 0.0001).alias("bigt"),
    )
    s = rel.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("bigt").alias("bigt"),
        F.sum(F.log(F.col("bigt") / F.col("t"))).alias("sl"),
    )
    beta = F.col("n") / F.col("sl")
    return s.select(
        F.col("n").alias("n_failures"),
        F.round(F.col("bigt") * 1000).cast("long").alias("span_milli_days"),
        F.round(beta * 1000).cast("long").alias("beta_milli"),
        F.round(F.col("n") / F.pow(F.col("bigt"), beta) * 1000)
        .cast("long")
        .alias("lambda_milli"),
        F.when(beta < 1, 1).otherwise(0).cast("long").alias(
            "reliability_improving"
        ),
    )


@query(
    "laplace_trend_test",
    oracle=_FAILURE_TIMES_SQL
    + """
    , s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(bigt) AS bigt,
               AVG(t) AS mt
        FROM rel
    )
    SELECT n AS n_failures,
           CAST(ROUND((mt - bigt / 2) / (bigt * sqrt(1.0 / (12 * n)))
                * 1000) AS BIGINT) AS laplace_u_milli,
           CAST(CASE
               WHEN (mt - bigt / 2) / (bigt * sqrt(1.0 / (12 * n))) > 1.96
               THEN 1
               WHEN (mt - bigt / 2) / (bigt * sqrt(1.0 / (12 * n))) < -1.96
               THEN -1 ELSE 0 END AS BIGINT) AS trend_verdict
    FROM s
    """,
)
def laplace_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace trend test on the same error times as
    `crow_amsaa_growth`: under a homogeneous Poisson process the
    failure epochs are uniform on (0, T], so u = (mean(t) - T/2) /
    (T sqrt(1/12n)) is asymptotically standard normal — u > 1.96
    means failures cluster LATE (deterioration), u < -1.96 early
    (growth), |u| < 1.96 no significant trend. The nonparametric gate
    before trusting the power-law's beta: AMSAA fits a trend whether
    or not one exists; Laplace says whether fitting one is justified.

    Determinism: the statistic is three exact moments in one closed
    expression, milli-rounded; the verdict thresholds a shared IEEE
    value.

    Scale shape: one filtered scan, one scalar agg.
    """
    ev = load_table(spark, sf_dir, "events")
    allmax = ev.agg(
        (
            F.max(F.unix_millis(F.col("ts").cast("timestamp"))).cast("double")
            / 86400000.0
        ).alias("t1")
    )
    ft = ev.where(F.col("event_type") == "error").select(
        (
            F.unix_millis(F.col("ts").cast("timestamp")).cast("double")
            / 86400000.0
        ).alias("t")
    )
    t0 = ft.agg(F.min("t").alias("t0"))
    rel = ft.crossJoin(F.broadcast(t0)).crossJoin(F.broadcast(allmax)).select(
        (F.col("t") - F.col("t0") + 0.0001).alias("t"),
        (F.col("t1") - F.col("t0") + 0.0001).alias("bigt"),
    )
    s = rel.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("bigt").alias("bigt"),
        F.avg("t").alias("mt"),
    )
    u = (F.col("mt") - F.col("bigt") / 2) / (
        F.col("bigt") * F.sqrt(1.0 / (12 * F.col("n")))
    )
    return s.select(
        F.col("n").alias("n_failures"),
        F.round(u * 1000).cast("long").alias("laplace_u_milli"),
        F.when(u > 1.96, 1)
        .when(u < -1.96, -1)
        .otherwise(0)
        .cast("long")
        .alias("trend_verdict"),
    )


_GG1_STREAM_SQL = """
    WITH arr AS (
        SELECT CAST(epoch_ms(ts) AS DOUBLE) AS at, ABS(value) + 0.001 AS raw_s,
               ROW_NUMBER() OVER (ORDER BY ts, event_id) AS i
        FROM events
    ), gaps AS (
        SELECT a.i, a.at - b.at AS ia, b.raw_s AS raw_prev
        FROM arr a JOIN arr b ON b.i = a.i - 1
    ), moms AS (
        SELECT AVG(ia) AS ma, VAR_POP(ia) AS va,
               AVG(raw_prev) AS ms_raw, VAR_POP(raw_prev) AS vs_raw,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM gaps
    )
"""


def _lindley_block(rho: str) -> str:
    """Lindley wait via the prefix-min identity at utilization rho
    (service scaled so E[S] = rho * E[A])."""
    return f"""
        SELECT gaps.i,
               raw_prev * ({rho} * moms.ma / moms.ms_raw) - ia AS u
        FROM gaps, moms
    """


@query(
    "kingman_vut_audit",
    oracle=_GG1_STREAM_SQL
    + """
    , u AS ("""
    + _lindley_block("0.8")
    + """
    ), c AS (
        SELECT i, SUM(u) OVER (ORDER BY i) AS c FROM u
    ), w AS (
        SELECT GREATEST(0, c - COALESCE(MIN(c) OVER (ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS w
        FROM c
    ), ex AS (SELECT AVG(w) AS mw FROM w
    ), king AS (
        SELECT (0.8 / (1 - 0.8))
               * ((va / (ma * ma) + vs_raw / (ms_raw * ms_raw)) / 2)
               * (0.8 * ma) AS kw,
               va / (ma * ma) AS ca2, vs_raw / (ms_raw * ms_raw) AS cs2,
               n
        FROM moms
    )
    SELECT king.n AS n_jobs, CAST(800 AS BIGINT) AS rho_milli,
           CAST(ROUND(king.ca2 * 1000) AS BIGINT) AS ca2_milli,
           CAST(ROUND(king.cs2 * 1000) AS BIGINT) AS cs2_milli,
           CAST(ROUND(ex.mw) AS BIGINT) AS exact_mean_wait_ms,
           CAST(ROUND(king.kw) AS BIGINT) AS kingman_wait_ms,
           CAST(ROUND(king.kw * 1000.0 / ex.mw) AS BIGINT)
               AS kingman_vs_exact_milli
    FROM ex, king
    """,
)
def kingman_vut_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kingman's VUT formula audited against an EXACT G/G/1 waiting-
    time replay: arrivals are the real event timestamps, services are
    value-derived and scaled to utilization 0.8, and the exact
    Lindley recursion W_n = max(0, W_n-1 + S - A) unrolls into the
    prefix-min identity W_n = max(0, C_n - min_j<n C_j) — one window
    pass, no sequential loop. Kingman's (rho/(1-rho)) x (Ca^2 +
    Cs^2)/2 x E[S] approximation is then scored against truth — the
    factory-physics formula every capacity plan quotes, with its
    error measured on a real arrival process whose burstiness
    (`burstiness_memory_coords`) violates the renewal assumptions.

    Determinism: timestamps are exact epoch-ms; the service scale is
    a single moment ratio; window cumsums and prefix minima are
    exact-input arithmetic, ms-rounded.

    Scale shape: one sort-window pass over the event stream (the
    irreducible sequential structure), plus scalar moment aggs.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_global_rank,
        distributed_reflected_walk,
    )

    ev = load_table(spark, sf_dir, "events")
    arr = distributed_global_rank(
        ev.select(
            F.unix_millis(F.col("ts").cast("timestamp"))
            .cast("double")
            .alias("at"),
            (F.abs("value") + 0.001).alias("raw_s"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("tsu"),
            "event_id",
        ),
        "tsu",
        "event_id",
        out_col="i",
    ).select("at", "raw_s", "i")
    a, b = arr.alias("a"), arr.alias("b")
    gaps = a.join(b, F.col("b.i") == F.col("a.i") - 1).select(
        F.col("a.i").alias("i"),
        (F.col("a.at") - F.col("b.at")).alias("ia"),
        F.col("b.raw_s").alias("raw_prev"),
    ).transform(_ckpt)
    moms = gaps.agg(
        F.avg("ia").alias("ma"),
        F.var_pop("ia").alias("va"),
        F.avg("raw_prev").alias("ms_raw"),
        F.var_pop("raw_prev").alias("vs_raw"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    u = gaps.crossJoin(F.broadcast(moms)).select(
        "i",
        (
            F.col("raw_prev") * (0.8 * F.col("ma") / F.col("ms_raw"))
            - F.col("ia")
        ).alias("u"),
    )
    # W_n = max(0, C_n - min(0, exclusive prefix min)) = C_n - min(0,
    # inclusive running min) -- the reflected-walk identity, so the
    # distributed cumsum+runmin primitive applies directly.
    w = distributed_reflected_walk(
        u, "i", [], "u", out_runmin="mn"
    ).select((F.col("c") - F.least(F.lit(0.0), F.col("mn"))).alias("w"))
    ex = w.agg(F.avg("w").alias("mw"))
    king = moms.select(
        "n",
        (F.col("va") / (F.col("ma") * F.col("ma"))).alias("ca2"),
        (F.col("vs_raw") / (F.col("ms_raw") * F.col("ms_raw"))).alias("cs2"),
        (
            (0.8 / 0.2)
            * (
                (
                    F.col("va") / (F.col("ma") * F.col("ma"))
                    + F.col("vs_raw") / (F.col("ms_raw") * F.col("ms_raw"))
                )
                / 2
            )
            * (0.8 * F.col("ma"))
        ).alias("kw"),
    )
    return king.crossJoin(F.broadcast(ex)).select(
        F.col("n").alias("n_jobs"),
        F.lit(800).cast("long").alias("rho_milli"),
        F.round(F.col("ca2") * 1000).cast("long").alias("ca2_milli"),
        F.round(F.col("cs2") * 1000).cast("long").alias("cs2_milli"),
        F.round("mw").cast("long").alias("exact_mean_wait_ms"),
        F.round("kw").cast("long").alias("kingman_wait_ms"),
        F.round(F.col("kw") * 1000.0 / F.col("mw"))
        .cast("long")
        .alias("kingman_vs_exact_milli"),
    )


@query(
    "heavy_traffic_scaling",
    oracle=_GG1_STREAM_SQL
    + """
    , rhos(rm) AS (VALUES (600), (800), (900)
    ), u AS (
        SELECT rhos.rm, gaps.i,
               raw_prev * ((rhos.rm / 1000.0) * moms.ma / moms.ms_raw) - ia
                   AS u
        FROM gaps, moms, rhos
    ), c AS (
        SELECT rm, i, SUM(u) OVER (PARTITION BY rm ORDER BY i) AS c FROM u
    ), w AS (
        SELECT rm,
               GREATEST(0, c - COALESCE(MIN(c) OVER (PARTITION BY rm
               ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)) AS w
        FROM c
    ), ex AS (SELECT rm, AVG(w) AS mw FROM w GROUP BY rm)
    SELECT CAST(ex.rm AS BIGINT) AS rho_milli,
           CAST(ROUND(ex.mw) AS BIGINT) AS exact_mean_wait_ms,
           CAST(ROUND((rm / 1000.0) / (1 - rm / 1000.0)
                * ((moms.va / (moms.ma * moms.ma)
                    + moms.vs_raw / (moms.ms_raw * moms.ms_raw)) / 2)
                * ((rm / 1000.0) * moms.ma)) AS BIGINT) AS kingman_wait_ms,
           CAST(ROUND(ex.mw * (1 - rm / 1000.0) * 1000) AS BIGINT)
               AS wait_times_one_minus_rho
    FROM ex, moms
    """,
)
def heavy_traffic_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-traffic scaling of the same exact G/G/1 replay at
    utilizations 0.6 / 0.8 / 0.9: the Lindley prefix-min identity
    runs once per rho (partitioned windows — the sweep shares one
    sort), and the wait x (1 - rho) column tests Kingman's heavy-
    traffic law that this product approaches a CONSTANT as rho -> 1.
    Watching the exact values bend toward the law — and how far 0.6
    still is from it — is the quantitative version of 'utilization
    above 80% is where queues explode', the sizing rule
    `erlang_c_staffing` applies in its Markovian special case.

    Determinism: one service-scale ratio per rho; identical window
    machinery, ms-rounded.

    Scale shape: rank, cumsum and running min come from the
    range-bucketed distributed rank / reflected-walk primitives
    (``operators/rank.py`` — no single-task or 3-task windows over
    the event stream); the rho sweep is three independent replays
    over the checkpointed gaps relation.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_global_rank,
        distributed_reflected_walk,
    )

    ev = load_table(spark, sf_dir, "events")
    arr = distributed_global_rank(
        ev.select(
            F.unix_millis(F.col("ts").cast("timestamp"))
            .cast("double")
            .alias("at"),
            (F.abs("value") + 0.001).alias("raw_s"),
            F.unix_micros(F.col("ts").cast("timestamp")).alias("tsu"),
            "event_id",
        ),
        "tsu",
        "event_id",
        out_col="i",
    ).select("at", "raw_s", "i")
    a, b = arr.alias("a"), arr.alias("b")
    gaps = a.join(b, F.col("b.i") == F.col("a.i") - 1).select(
        F.col("a.i").alias("i"),
        (F.col("a.at") - F.col("b.at")).alias("ia"),
        F.col("b.raw_s").alias("raw_prev"),
    ).transform(_ckpt)
    moms = gaps.agg(
        F.avg("ia").alias("ma"),
        F.var_pop("ia").alias("va"),
        F.avg("raw_prev").alias("ms_raw"),
        F.var_pop("raw_prev").alias("vs_raw"),
    )
    parts = []
    for rm in (600, 800, 900):
        u = gaps.crossJoin(F.broadcast(moms)).select(
            "i",
            (
                F.col("raw_prev")
                * ((rm / 1000.0) * F.col("ma") / F.col("ms_raw"))
                - F.col("ia")
            ).alias("u"),
        )
        # reflected-walk identity per rho (see kingman_vut_audit)
        w_rho = distributed_reflected_walk(
            u, "i", [], "u", out_runmin="mn"
        ).select(
            (F.col("c") - F.least(F.lit(0.0), F.col("mn"))).alias("w")
        )
        parts.append(
            w_rho.agg(F.avg("w").alias("mw")).select(
                F.lit(rm).cast("long").alias("rm"), "mw"
            )
        )
    ex = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return ex.crossJoin(F.broadcast(moms)).select(
        F.col("rm").cast("long").alias("rho_milli"),
        F.round("mw").cast("long").alias("exact_mean_wait_ms"),
        F.round(
            (F.col("rm") / 1000.0)
            / (1 - F.col("rm") / 1000.0)
            * (
                (
                    F.col("va") / (F.col("ma") * F.col("ma"))
                    + F.col("vs_raw") / (F.col("ms_raw") * F.col("ms_raw"))
                )
                / 2
            )
            * ((F.col("rm") / 1000.0) * F.col("ma"))
        )
        .cast("long")
        .alias("kingman_wait_ms"),
        F.round(F.col("mw") * (1 - F.col("rm") / 1000.0) * 1000)
        .cast("long")
        .alias("wait_times_one_minus_rho"),
    )


_CONFIG_DIMS_SQL = """
    WITH cfg AS (
        SELECT o.o_orderpriority AS d1, o.o_orderstatus AS d2,
               c.c_mktsegment AS d3,
               CAST(n.n_regionkey AS VARCHAR) AS d4
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    ), cards AS (
        SELECT (SELECT COUNT(DISTINCT d1) FROM cfg) AS c1,
               (SELECT COUNT(DISTINCT d2) FROM cfg) AS c2,
               (SELECT COUNT(DISTINCT d3) FROM cfg) AS c3,
               (SELECT COUNT(DISTINCT d4) FROM cfg) AS c4
    )
"""


@query(
    "tway_coverage_audit",
    oracle=_CONFIG_DIMS_SQL
    + """
    , pairs AS (
        SELECT 'd1xd2' AS dims, CAST(COUNT(DISTINCT d1 || '|' || d2) AS BIGINT)
               AS obs, (SELECT c1 * c2 FROM cards) AS poss FROM cfg
        UNION ALL SELECT 'd1xd3', COUNT(DISTINCT d1 || '|' || d3),
               (SELECT c1 * c3 FROM cards) FROM cfg
        UNION ALL SELECT 'd1xd4', COUNT(DISTINCT d1 || '|' || d4),
               (SELECT c1 * c4 FROM cards) FROM cfg
        UNION ALL SELECT 'd2xd3', COUNT(DISTINCT d2 || '|' || d3),
               (SELECT c2 * c3 FROM cards) FROM cfg
        UNION ALL SELECT 'd2xd4', COUNT(DISTINCT d2 || '|' || d4),
               (SELECT c2 * c4 FROM cards) FROM cfg
        UNION ALL SELECT 'd3xd4', COUNT(DISTINCT d3 || '|' || d4),
               (SELECT c3 * c4 FROM cards) FROM cfg
        UNION ALL SELECT 'd1xd2xd3',
               COUNT(DISTINCT d1 || '|' || d2 || '|' || d3),
               (SELECT c1 * c2 * c3 FROM cards) FROM cfg
        UNION ALL SELECT 'd2xd3xd4',
               COUNT(DISTINCT d2 || '|' || d3 || '|' || d4),
               (SELECT c2 * c3 * c4 FROM cards) FROM cfg
    )
    SELECT dims, CAST(poss AS BIGINT) AS possible_combos,
           obs AS observed_combos,
           CAST(ROUND(obs * 1000000.0 / poss) AS BIGINT) AS coverage_ppm
    FROM pairs
    """,
)
def tway_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-way combinatorial coverage of the order configuration space
    (priority x status x segment x region): for every dimension pair
    — and two representative triples — the share of VALUE
    combinations actually observed, against the cross product of
    marginal cardinalities. This is covering-array thinking applied
    to data: 2-way coverage below 1e6 means some pairwise interaction
    is untested by the data (any model trained on it extrapolates
    there), the combinatorial-testing insight that most failures are
    t-way interactions for small t. The structural complement of
    `cramers_v_priority_status` (which measures association strength
    where combos DO occur).

    Determinism: distinct-combo counts key on a '|' separator the
    categorical values cannot contain; cardinalities are exact.

    Scale shape: one dimension-join scan, eight distinct aggs that
    map-side combine on tiny key spaces.
    """
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    cfg = (
        o.join(
            F.broadcast(
                cst.select(
                    F.col("c_custkey").alias("o_custkey"),
                    "c_nationkey",
                    "c_mktsegment",
                )
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
            F.col("o_orderpriority").alias("d1"),
            F.col("o_orderstatus").alias("d2"),
            F.col("c_mktsegment").alias("d3"),
            F.col("n_regionkey").cast("string").alias("d4"),
        )
        .transform(_ckpt)
    )
    cards = cfg.agg(
        F.countDistinct("d1").alias("c1"),
        F.countDistinct("d2").alias("c2"),
        F.countDistinct("d3").alias("c3"),
        F.countDistinct("d4").alias("c4"),
    )
    combos = [
        ("d1xd2", ["d1", "d2"], ["c1", "c2"]),
        ("d1xd3", ["d1", "d3"], ["c1", "c3"]),
        ("d1xd4", ["d1", "d4"], ["c1", "c4"]),
        ("d2xd3", ["d2", "d3"], ["c2", "c3"]),
        ("d2xd4", ["d2", "d4"], ["c2", "c4"]),
        ("d3xd4", ["d3", "d4"], ["c3", "c4"]),
        ("d1xd2xd3", ["d1", "d2", "d3"], ["c1", "c2", "c3"]),
        ("d2xd3xd4", ["d2", "d3", "d4"], ["c2", "c3", "c4"]),
    ]
    out = None
    for label, dims, cs in combos:
        poss = F.col(cs[0])
        for c in cs[1:]:
            poss = poss * F.col(c)
        r = (
            cfg.agg(
                F.countDistinct(F.concat_ws("|", *dims)).alias("obs")
            )
            .crossJoin(F.broadcast(cards))
            .select(
                F.lit(label).alias("dims"),
                poss.cast("long").alias("possible_combos"),
                F.col("obs").cast("long").alias("observed_combos"),
                F.round(F.col("obs") * 1000000.0 / poss)
                .cast("long")
                .alias("coverage_ppm"),
            )
        )
        out = r if out is None else out.unionAll(r)
    return out


@query(
    "rare_combo_census",
    oracle=_CONFIG_DIMS_SQL
    + """
    , full_c AS (
        SELECT d1, d2, d3, d4, CAST(COUNT(*) AS BIGINT) AS n
        FROM cfg GROUP BY 1, 2, 3, 4
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS observed,
               CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS singletons,
               CAST(SUM(CASE WHEN n <= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS at_most_2,
               CAST(MAX(n) AS BIGINT) AS max_count
        FROM full_c
    )
    SELECT CAST((SELECT c1 * c2 * c3 * c4 FROM cards) AS BIGINT)
               AS possible_combos,
           s.observed AS observed_combos,
           CAST((SELECT c1 * c2 * c3 * c4 FROM cards) - s.observed AS BIGINT)
               AS missing_combos,
           s.singletons, s.at_most_2, s.max_count,
           CAST(ROUND(s.singletons * 1000000.0 / s.observed) AS BIGINT)
               AS singleton_share_ppm
    FROM s
    """,
)
def rare_combo_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census of the full 4-way configuration lattice: how many of the
    priority x status x segment x region combinations exist at all,
    how many are singletons or near-singletons, and the deepest cell.
    Missing combos are where any per-combo statistic silently
    extrapolates; singleton combos are where one record IS the
    estimate (k-anonymity risk and statistical noise at once —
    `k_anonymity_audit`'s quasi-identifier lens meets test-coverage
    thinking). Read with `tway_coverage_audit`: 2-way coverage can be
    perfect while 4-way cells are mostly empty — that gap is the
    curse of dimensionality made tabular.

    Determinism: exact group counts and marginal-cardinality
    products.

    Scale shape: one hash agg over the <=375-cell lattice plus a
    scalar census.
    """
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    cfg = (
        o.join(
            F.broadcast(
                cst.select(
                    F.col("c_custkey").alias("o_custkey"),
                    "c_nationkey",
                    "c_mktsegment",
                )
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
            F.col("o_orderpriority").alias("d1"),
            F.col("o_orderstatus").alias("d2"),
            F.col("c_mktsegment").alias("d3"),
            F.col("n_regionkey").cast("string").alias("d4"),
        )
        .transform(_ckpt)
    )
    cards = cfg.agg(
        (
            F.countDistinct("d1")
            * F.countDistinct("d2")
            * F.countDistinct("d3")
            * F.countDistinct("d4")
        )
        .cast("long")
        .alias("possible")
    )
    full_c = cfg.groupBy("d1", "d2", "d3", "d4").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    s = full_c.agg(
        F.count(F.lit(1)).cast("long").alias("observed"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("long")
        .alias("singletons"),
        F.sum(F.when(F.col("n") <= 2, 1).otherwise(0))
        .cast("long")
        .alias("at_most_2"),
        F.max("n").cast("long").alias("max_count"),
    )
    return s.crossJoin(F.broadcast(cards)).select(
        F.col("possible").alias("possible_combos"),
        F.col("observed").alias("observed_combos"),
        (F.col("possible") - F.col("observed"))
        .cast("long")
        .alias("missing_combos"),
        "singletons",
        "at_most_2",
        "max_count",
        F.round(F.col("singletons") * 1000000.0 / F.col("observed"))
        .cast("long")
        .alias("singleton_share_ppm"),
    )


_PAIRS4 = [
    ("d1", "d2"), ("d1", "d3"), ("d1", "d4"),
    ("d2", "d3"), ("d2", "d4"), ("d3", "d4"),
]


def _g2_block_sql(a: str, b: str, cond: str | None) -> str:
    """One G2 independence test of a vs b (optionally within strata of
    cond), plus its df, as a single SELECT over cfg."""
    cpart = f"{cond}, " if cond else ""
    cpb = f"PARTITION BY {cond}, " if cond else "PARTITION BY "
    cp = f"PARTITION BY {cond}" if cond else ""
    klevels = f"(SELECT COUNT(DISTINCT {cond}) FROM cfg)" if cond else "1"
    return f"""
        SELECT '{a}~{b}' AS pair, '{cond or 'none'}' AS cond,
               SUM(2 * o * ln(o * n / (ra * rb))) AS g2,
               ((SELECT COUNT(DISTINCT {a}) FROM cfg) - 1)
               * ((SELECT COUNT(DISTINCT {b}) FROM cfg) - 1)
               * {klevels} AS df
        FROM (
            SELECT o,
                   SUM(o) OVER ({cpb}{a}) AS ra,
                   SUM(o) OVER ({cpb}{b}) AS rb,
                   SUM(o) OVER ({cp}) AS n
            FROM (
                SELECT {cpart}{a}, {b}, COUNT(*) * 1.0 AS o
                FROM cfg GROUP BY {cpart}{a}, {b}
            )
        )
    """


def _pc_tests_sql() -> str:
    blocks = []
    for a, b in _PAIRS4:
        others = [d for d in ("d1", "d2", "d3", "d4") if d not in (a, b)]
        blocks.append(_g2_block_sql(a, b, None))
        for c in others:
            blocks.append(_g2_block_sql(a, b, c))
    return (
        _CONFIG_DIMS_SQL
        + ", tests AS ("
        + " UNION ALL ".join(blocks)
        + """), crits AS (
        -- Wilson-Hilferty 95% chi-square critical value
        SELECT pair, cond, g2, df,
               df * POWER(1 - 2.0 / (9 * df)
                    + 1.6448536269514722 * sqrt(2.0 / (9 * df)), 3) AS crit
        FROM tests
    )"""
    )


@query(
    "pc_skeleton_edges",
    oracle=_pc_tests_sql()
    + """
    SELECT pair,
           CAST(MAX(CASE WHEN cond = 'none' THEN ROUND(g2 * 1000) END)
                AS BIGINT) AS g2_marginal_milli,
           CAST(MAX(CASE WHEN cond = 'none' THEN df END) AS BIGINT)
               AS df_marginal,
           CAST(SUM(CASE WHEN g2 > crit THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rejecting,
           CAST(COUNT(*) AS BIGINT) AS n_tests,
           CAST(CASE WHEN SUM(CASE WHEN g2 > crit THEN 1 ELSE 0 END)
                = COUNT(*) THEN 1 ELSE 0 END AS BIGINT) AS edge_kept
    FROM crits GROUP BY pair
    """,
)
def pc_skeleton_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PC-algorithm skeleton discovery (order 0 and 1) over the four
    order dimensions (priority, status, segment, region): every pair
    runs a marginal G2 independence test and one conditional G2 per
    single conditioning variable; an edge SURVIVES only if every test
    rejects independence (G2 above the Wilson-Hilferty 95% chi-square
    point for its df) — any accepted test is a separating set and
    deletes the edge, exactly the constraint-based pruning step of
    causal discovery. Applied to these dims the expected skeleton is
    near-empty (TPC-H generates them independently) — which is the
    audit: surviving edges flag generator couplings,
    `mutual_information_type_segment`'s question asked structurally.

    Determinism: G2 sums are over exact cell/margin counts; the
    critical-value approximation is a closed form of df; verdicts
    threshold identical doubles.

    Scale shape: 18 tests ride one dimension-join scan; each test is
    a windowed margin computation on a <=375-cell contingency
    relation.
    """
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    cfg = (
        o.join(
            F.broadcast(
                cst.select(
                    F.col("c_custkey").alias("o_custkey"),
                    "c_nationkey",
                    "c_mktsegment",
                )
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
            F.col("o_orderpriority").alias("d1"),
            F.col("o_orderstatus").alias("d2"),
            F.col("c_mktsegment").alias("d3"),
            F.col("n_regionkey").cast("string").alias("d4"),
        )
        .transform(_ckpt)
    )
    cards = cfg.agg(
        *[F.countDistinct(d).alias(f"k{d}") for d in ("d1", "d2", "d3", "d4")]
    )

    def g2_test(a: str, b: str, cond):
        grp = ([cond] if cond else []) + [a, b]
        cells = cfg.groupBy(*grp).agg((F.count(F.lit(1)) * 1.0).alias("o"))
        wa = Window.partitionBy(*(([cond] if cond else []) + [a]))
        wb = Window.partitionBy(*(([cond] if cond else []) + [b]))
        wn = Window.partitionBy(cond) if cond else Window.partitionBy()
        m = cells.select(
            "o",
            F.sum("o").over(wa).alias("ra"),
            F.sum("o").over(wb).alias("rb"),
            F.sum("o").over(wn).alias("n"),
        )
        g2 = m.agg(
            F.sum(
                2 * F.col("o") * F.log(F.col("o") * F.col("n") / (F.col("ra") * F.col("rb")))
            ).alias("g2")
        )
        klev = F.col(f"k{cond}") if cond else F.lit(1)
        return g2.crossJoin(F.broadcast(cards)).select(
            F.lit(f"{a}~{b}").alias("pair"),
            F.lit(cond or "none").alias("cond"),
            "g2",
            ((F.col(f"k{a}") - 1) * (F.col(f"k{b}") - 1) * klev)
            .cast("long")
            .alias("df"),
        )

    tests = None
    for a, b in _PAIRS4:
        others = [d for d in ("d1", "d2", "d3", "d4") if d not in (a, b)]
        for cond in [None] + others:
            t = g2_test(a, b, cond)
            tests = t if tests is None else tests.unionAll(t)
    crit = F.col("df") * F.pow(
        1 - 2.0 / (9 * F.col("df"))
        + 1.6448536269514722 * F.sqrt(2.0 / (9 * F.col("df"))),
        3,
    )
    crits = tests.select("pair", "cond", "g2", "df", crit.alias("crit"))
    return crits.groupBy("pair").agg(
        F.max(F.when(F.col("cond") == "none", F.round(F.col("g2") * 1000)))
        .cast("long")
        .alias("g2_marginal_milli"),
        F.max(F.when(F.col("cond") == "none", F.col("df")))
        .cast("long")
        .alias("df_marginal"),
        F.sum(F.when(F.col("g2") > F.col("crit"), 1).otherwise(0))
        .cast("long")
        .alias("n_rejecting"),
        F.count(F.lit(1)).cast("long").alias("n_tests"),
        F.when(
            F.sum(F.when(F.col("g2") > F.col("crit"), 1).otherwise(0))
            == F.count(F.lit(1)),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("edge_kept"),
    )


_K4_TREES = [
    ("d1~d2", "d1~d3", "d1~d4"), ("d1~d2", "d1~d3", "d2~d4"),
    ("d1~d2", "d1~d3", "d3~d4"), ("d1~d2", "d1~d4", "d2~d3"),
    ("d1~d2", "d1~d4", "d3~d4"), ("d1~d2", "d2~d3", "d2~d4"),
    ("d1~d2", "d2~d3", "d3~d4"), ("d1~d2", "d2~d4", "d3~d4"),
    ("d1~d3", "d1~d4", "d2~d3"), ("d1~d3", "d1~d4", "d2~d4"),
    ("d1~d3", "d2~d3", "d2~d4"), ("d1~d3", "d2~d4", "d3~d4"),
    ("d1~d3", "d2~d3", "d3~d4"),
    ("d1~d4", "d2~d3", "d2~d4"), ("d1~d4", "d2~d3", "d3~d4"),
    ("d1~d4", "d2~d4", "d3~d4"),
]


def _chow_liu_oracle() -> str:
    blocks = [_g2_block_sql(a, b, None) for a, b in _PAIRS4]
    trees = " UNION ALL ".join(
        f"SELECT {i} AS tid, '{e1}' AS e1, '{e2}' AS e2, '{e3}' AS e3"
        for i, (e1, e2, e3) in enumerate(_K4_TREES)
    )
    return (
        _CONFIG_DIMS_SQL
        + ", tests AS ("
        + " UNION ALL ".join(blocks)
        + f"""), mi AS (
        SELECT pair, g2 / (2 * (SELECT COUNT(*) FROM cfg)) AS mi FROM tests
    ), trees AS ({trees}
    ), scored AS (
        SELECT t.tid, t.e1, t.e2, t.e3, m1.mi + m2.mi + m3.mi AS s
        FROM trees t
        JOIN mi m1 ON m1.pair = t.e1
        JOIN mi m2 ON m2.pair = t.e2
        JOIN mi m3 ON m3.pair = t.e3
    ), best AS (
        SELECT tid, e1, e2, e3, s FROM scored
        ORDER BY s DESC, tid ASC LIMIT 1
    )
    SELECT e1 AS edge1, e2 AS edge2, e3 AS edge3,
           CAST(ROUND(s * 1000000) AS BIGINT) AS total_mi_micro
    FROM best
    """
    )


@query("chow_liu_tree", oracle=_chow_liu_oracle())
def chow_liu_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow-Liu tree over the four order dimensions: pairwise mutual
    information MI = G2 / 2N for all six pairs, then the maximum-MI
    spanning tree selected by EXACT enumeration of the 16 labeled
    spanning trees of K4 (Cayley's count) — the optimal tree-
    structured approximation to the joint distribution, the
    score-based counterpart of `pc_skeleton_edges`' constraint-based
    pruning on the same data. Where PC can return an empty graph,
    Chow-Liu always commits to the BEST tree — reading both outputs
    together distinguishes 'no dependence' from 'weak but ranked
    dependence'.

    Determinism: MIs are exact-count G2 sums scaled once; tree
    scores are 3-term sums with a (score, tree-id) tie-break.

    Scale shape: six windowed contingency tests on one scan, a
    16-row literal tree lattice, one argmax.
    """
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    cfg = (
        o.join(
            F.broadcast(
                cst.select(
                    F.col("c_custkey").alias("o_custkey"),
                    "c_nationkey",
                    "c_mktsegment",
                )
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
            F.col("o_orderpriority").alias("d1"),
            F.col("o_orderstatus").alias("d2"),
            F.col("c_mktsegment").alias("d3"),
            F.col("n_regionkey").cast("string").alias("d4"),
        )
        .transform(_ckpt)
    )
    n_tot = cfg.agg(F.count(F.lit(1)).alias("nn"))

    def mi_pair(a: str, b: str) -> DataFrame:
        cells = cfg.groupBy(a, b).agg((F.count(F.lit(1)) * 1.0).alias("o"))
        m = cells.select(
            "o",
            F.sum("o").over(Window.partitionBy(a)).alias("ra"),
            F.sum("o").over(Window.partitionBy(b)).alias("rb"),
            F.sum("o").over(Window.partitionBy()).alias("n"),
        )
        g2 = m.agg(
            F.sum(
                2 * F.col("o") * F.log(F.col("o") * F.col("n") / (F.col("ra") * F.col("rb")))
            ).alias("g2")
        )
        return g2.crossJoin(F.broadcast(n_tot)).select(
            F.lit(f"{a}~{b}").alias("pair"),
            (F.col("g2") / (2 * F.col("nn"))).alias("mi"),
        )

    mi = None
    for a, b in _PAIRS4:
        t = mi_pair(a, b)
        mi = t if mi is None else mi.unionAll(t)
    mi = mi.transform(_ckpt)
    trees = spark.createDataFrame(
        [(i, e1, e2, e3) for i, (e1, e2, e3) in enumerate(_K4_TREES)],
        "tid long, e1 string, e2 string, e3 string",
    )
    m1 = mi.select(F.col("pair").alias("e1"), F.col("mi").alias("mi1"))
    m2 = mi.select(F.col("pair").alias("e2"), F.col("mi").alias("mi2"))
    m3 = mi.select(F.col("pair").alias("e3"), F.col("mi").alias("mi3"))
    scored = (
        trees.join(F.broadcast(m1), "e1")
        .join(F.broadcast(m2), "e2")
        .join(F.broadcast(m3), "e3")
        .select(
            "tid",
            "e1",
            "e2",
            "e3",
            (F.col("mi1") + F.col("mi2") + F.col("mi3")).alias("s"),
        )
    )
    return (
        scored.orderBy(F.desc("s"), F.asc("tid"))
        .limit(1)
        .select(
            F.col("e1").alias("edge1"),
            F.col("e2").alias("edge2"),
            F.col("e3").alias("edge3"),
            F.round(F.col("s") * 1000000).cast("long").alias("total_mi_micro"),
        )
    )


_GRID32_SQL = """
    WITH pts AS (
        SELECT CAST((c_custkey * 2654435761) % 1000000 AS DOUBLE)
                   / 1000000.0 AS x,
               CAST(((c_custkey + 1013904223) * 2654435761) % 1000000
                    AS DOUBLE) / 1000000.0 AS y
        FROM customer
    ), grid AS (
        SELECT gx.i AS cx, gy.i AS cy
        FROM (SELECT UNNEST(generate_series(0, 31)) AS i) gx
        CROSS JOIN (SELECT UNNEST(generate_series(0, 31)) AS i) gy
    ), occ AS (
        SELECT LEAST(CAST(FLOOR(x * 32) AS BIGINT), 31) AS cx,
               LEAST(CAST(FLOOR(y * 32) AS BIGINT), 31) AS cy,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM pts GROUP BY 1, 2
    ), cells AS (
        SELECT grid.cx, grid.cy, COALESCE(occ.c, 0) AS c
        FROM grid LEFT JOIN occ ON occ.cx = grid.cx AND occ.cy = grid.cy
    ), sat AS (
        -- summed-area table: prefix over x, then over y
        SELECT cx, cy,
               SUM(sx) OVER (PARTITION BY cx ORDER BY cy) AS s
        FROM (
            SELECT cx, cy, SUM(c) OVER (PARTITION BY cy ORDER BY cx) AS sx
            FROM cells
        )
    ), sat0 AS (
        SELECT cx, cy, s FROM sat
        UNION ALL SELECT -1, i, 0 FROM (SELECT UNNEST(
            generate_series(-1, 31)) AS i)
        UNION ALL SELECT i, -1, 0 FROM (SELECT UNNEST(
            generate_series(0, 31)) AS i)
    )
"""


def _box_sql(k: int, alias: str) -> str:
    """Box sum of size k x k ending at (cx, cy), via 4 SAT lookups."""
    return f"""
        SELECT a.cx, a.cy,
               a.s - b.s - c.s + d.s AS {alias}
        FROM sat0 a
        JOIN sat0 b ON b.cx = a.cx - {k} AND b.cy = a.cy
        JOIN sat0 c ON c.cx = a.cx AND c.cy = a.cy - {k}
        JOIN sat0 d ON d.cx = a.cx - {k} AND d.cy = a.cy - {k}
        WHERE a.cx >= {k - 1} AND a.cy >= {k - 1}
    """


@query(
    "integral_image_density",
    oracle=_GRID32_SQL
    + f""", box8 AS ({_box_sql(8, 'b8')}
    ), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells
    ), top AS (
        SELECT cx, cy, b8,
               ROW_NUMBER() OVER (ORDER BY b8 DESC, cx, cy) AS rk
        FROM box8
    )
    SELECT CAST(cx AS BIGINT) AS box_end_x, CAST(cy AS BIGINT) AS box_end_y,
           CAST(b8 AS BIGINT) AS box_count,
           CAST(ROUND(b8 * 16.0 * 1000 / tot.n) AS BIGINT)
               AS density_vs_uniform_milli
    FROM top, tot WHERE rk <= 5
    """,
)
def integral_image_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summed-area-table box filtering on the 32x32 customer
    occupancy grid: the SAT builds in two prefix-sum window passes
    (O(cells), the Viola-Jones/Crow trick), after which ANY
    rectangle sum costs four lookups — here the five densest 8x8
    boxes, each scored against the uniform expectation (an 8x8 box
    holds 1/16 of mass under uniformity). The constant-time-per-
    query region aggregation that `geohash_grid_census` (single
    cells) and `hilbert_vs_zorder_locality` (layout) build toward —
    and the reason dashboards precompute SATs for pan-and-zoom
    heatmaps.

    Determinism: integer cell counts, integer prefix sums, integer
    box algebra; ranking ties break on coordinates.

    Scale shape: occupancy agg + two windowed prefix passes + a
    4-way self-join on the 1024-cell SAT — rectangle queries never
    rescan points.
    """
    cst = load_table(spark, sf_dir, "customer")
    pts = cst.select(
        (((F.col("c_custkey") * 2654435761) % 1000000).cast("double") / 1000000.0).alias("x"),
        ((((F.col("c_custkey") + 1013904223) * 2654435761) % 1000000).cast("double") / 1000000.0).alias("y"),
    )
    occ = pts.select(
        F.least(F.floor(F.col("x") * 32).cast("long"), F.lit(31)).alias("cx"),
        F.least(F.floor(F.col("y") * 32).cast("long"), F.lit(31)).alias("cy"),
    ).groupBy("cx", "cy").agg(F.count(F.lit(1)).cast("long").alias("c"))
    gx = spark.range(0, 32).select(F.col("id").alias("cx"))
    gy = spark.range(0, 32).select(F.col("id").alias("cy"))
    cells = (
        gx.crossJoin(gy)
        .join(occ, ["cx", "cy"], "left")
        .select("cx", "cy", F.coalesce("c", F.lit(0)).alias("c"))
    )
    sat = cells.select(
        "cx",
        "cy",
        F.sum("c")
        .over(Window.partitionBy("cy").orderBy("cx"))
        .alias("sx"),
    ).select(
        "cx",
        "cy",
        F.sum("sx").over(Window.partitionBy("cx").orderBy("cy")).alias("s"),
    )
    pad_x = spark.range(-1, 32).select(
        F.lit(-1).cast("long").alias("cx"),
        F.col("id").alias("cy"),
        F.lit(0).cast("long").alias("s"),
    )
    pad_y = spark.range(0, 32).select(
        F.col("id").alias("cx"),
        F.lit(-1).cast("long").alias("cy"),
        F.lit(0).cast("long").alias("s"),
    )
    sat0 = sat.select(
        F.col("cx").cast("long"), F.col("cy").cast("long"), F.col("s").cast("long")
    ).unionAll(pad_x).unionAll(pad_y).transform(_ckpt)

    def box(k: int, alias: str) -> DataFrame:
        a = sat0.alias("a")
        b = sat0.alias("b")
        c = sat0.alias("c")
        d = sat0.alias("d")
        return (
            a.join(
                b,
                (F.col("b.cx") == F.col("a.cx") - k)
                & (F.col("b.cy") == F.col("a.cy")),
            )
            .join(
                c,
                (F.col("c.cx") == F.col("a.cx"))
                & (F.col("c.cy") == F.col("a.cy") - k),
            )
            .join(
                d,
                (F.col("d.cx") == F.col("a.cx") - k)
                & (F.col("d.cy") == F.col("a.cy") - k),
            )
            .where((F.col("a.cx") >= k - 1) & (F.col("a.cy") >= k - 1))
            .select(
                F.col("a.cx").alias("cx"),
                F.col("a.cy").alias("cy"),
                (F.col("a.s") - F.col("b.s") - F.col("c.s") + F.col("d.s")).alias(
                    alias
                ),
            )
        )

    box8 = box(8, "b8")
    tot = cells.agg(F.sum("c").cast("long").alias("n"))
    top = box8.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.desc("b8"), F.asc("cx"), F.asc("cy"))),
    ).where(F.col("rk") <= 5)
    return top.crossJoin(F.broadcast(tot)).select(
        F.col("cx").cast("long").alias("box_end_x"),
        F.col("cy").cast("long").alias("box_end_y"),
        F.col("b8").cast("long").alias("box_count"),
        F.round(F.col("b8") * 16.0 * 1000 / F.col("n"))
        .cast("long")
        .alias("density_vs_uniform_milli"),
    )


@query(
    "dog_blob_detection",
    oracle=_GRID32_SQL
    + f""", box4 AS ({_box_sql(4, 'b4')}
    ), box8 AS ({_box_sql(8, 'b8')}
    ), dog AS (
        -- centered responses: 4*box4 - box8 is 64x the density DoG
        SELECT box4.cx - 2 AS mx, box4.cy - 2 AS my,
               4 * box4.b4 - box8.b8 AS r
        FROM box4 JOIN box8
          ON box8.cx = box4.cx + 2 AND box8.cy = box4.cy + 2
    ), peaks AS (
        SELECT d.mx, d.my, d.r
        FROM dog d
        WHERE NOT EXISTS (
            SELECT 1 FROM dog nb
            WHERE ABS(nb.mx - d.mx) <= 1 AND ABS(nb.my - d.my) <= 1
              AND NOT (nb.mx = d.mx AND nb.my = d.my)
              AND nb.r >= d.r
        )
    ), top AS (
        SELECT mx, my, r,
               ROW_NUMBER() OVER (ORDER BY r DESC, mx, my) AS rk
        FROM peaks
    )
    SELECT CAST(mx AS BIGINT) AS center_x, CAST(my AS BIGINT) AS center_y,
           CAST(r AS BIGINT) AS dog_response_x64
    FROM top WHERE rk <= 5
    """,
)
def dog_blob_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-of-boxes blob detection on the same occupancy grid:
    the 4x4 and 8x8 box filters share one summed-area table, their
    scale-normalized difference 4 b4 - b8 (= 64x the density DoG) is
    an EXACT INTEGER response, and blobs are its strict local maxima
    over the 8-neighborhood, top-5 reported — the SIFT/blob-detector
    front end expressed relationally: SAT joins instead of
    convolutions, anti-join instead of non-max-suppression. Strict
    maxima mean response plateaus suppress themselves (documented,
    the conservative NMS convention).

    Determinism: every response is integer; peak tests are strict
    integer comparisons; ranking ties break on coordinates.

    Scale shape: two box joins over the shared SAT, one
    8-neighborhood anti-join on the tiny response grid.
    """
    cst = load_table(spark, sf_dir, "customer")
    pts = cst.select(
        (((F.col("c_custkey") * 2654435761) % 1000000).cast("double") / 1000000.0).alias("x"),
        ((((F.col("c_custkey") + 1013904223) * 2654435761) % 1000000).cast("double") / 1000000.0).alias("y"),
    )
    occ = pts.select(
        F.least(F.floor(F.col("x") * 32).cast("long"), F.lit(31)).alias("cx"),
        F.least(F.floor(F.col("y") * 32).cast("long"), F.lit(31)).alias("cy"),
    ).groupBy("cx", "cy").agg(F.count(F.lit(1)).cast("long").alias("c"))
    gx = spark.range(0, 32).select(F.col("id").alias("cx"))
    gy = spark.range(0, 32).select(F.col("id").alias("cy"))
    cells = (
        gx.crossJoin(gy)
        .join(occ, ["cx", "cy"], "left")
        .select("cx", "cy", F.coalesce("c", F.lit(0)).alias("c"))
    )
    sat = cells.select(
        "cx",
        "cy",
        F.sum("c").over(Window.partitionBy("cy").orderBy("cx")).alias("sx"),
    ).select(
        "cx",
        "cy",
        F.sum("sx").over(Window.partitionBy("cx").orderBy("cy")).alias("s"),
    )
    pad_x = spark.range(-1, 32).select(
        F.lit(-1).cast("long").alias("cx"),
        F.col("id").alias("cy"),
        F.lit(0).cast("long").alias("s"),
    )
    pad_y = spark.range(0, 32).select(
        F.col("id").alias("cx"),
        F.lit(-1).cast("long").alias("cy"),
        F.lit(0).cast("long").alias("s"),
    )
    sat0 = sat.select(
        F.col("cx").cast("long"), F.col("cy").cast("long"), F.col("s").cast("long")
    ).unionAll(pad_x).unionAll(pad_y).transform(_ckpt)

    def box(k: int, alias: str) -> DataFrame:
        a = sat0.alias("a")
        b = sat0.alias("b")
        c = sat0.alias("c")
        d = sat0.alias("d")
        return (
            a.join(
                b,
                (F.col("b.cx") == F.col("a.cx") - k)
                & (F.col("b.cy") == F.col("a.cy")),
            )
            .join(
                c,
                (F.col("c.cx") == F.col("a.cx"))
                & (F.col("c.cy") == F.col("a.cy") - k),
            )
            .join(
                d,
                (F.col("d.cx") == F.col("a.cx") - k)
                & (F.col("d.cy") == F.col("a.cy") - k),
            )
            .where((F.col("a.cx") >= k - 1) & (F.col("a.cy") >= k - 1))
            .select(
                F.col("a.cx").alias("cx"),
                F.col("a.cy").alias("cy"),
                (F.col("a.s") - F.col("b.s") - F.col("c.s") + F.col("d.s")).alias(
                    alias
                ),
            )
        )

    box4 = box(4, "b4").select(
        (F.col("cx") - 2).alias("mx"),
        (F.col("cy") - 2).alias("my"),
        F.col("b4"),
    )
    box8 = box(8, "b8").select(
        (F.col("cx") - 4).alias("mx"),
        (F.col("cy") - 4).alias("my"),
        F.col("b8"),
    )
    dog = box4.join(box8, ["mx", "my"]).select(
        "mx", "my", (4 * F.col("b4") - F.col("b8")).alias("r")
    ).transform(_ckpt)
    nb = dog.select(
        F.col("mx").alias("nx"), F.col("my").alias("ny"), F.col("r").alias("nr")
    )
    dominated = dog.join(
        nb,
        (F.abs(F.col("nx") - F.col("mx")) <= 1)
        & (F.abs(F.col("ny") - F.col("my")) <= 1)
        & ~((F.col("nx") == F.col("mx")) & (F.col("ny") == F.col("my")))
        & (F.col("nr") >= F.col("r")),
        "left_semi",
    )
    peaks = dog.join(dominated, ["mx", "my"], "left_anti")
    top = peaks.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.desc("r"), F.asc("mx"), F.asc("my"))),
    ).where(F.col("rk") <= 5)
    return top.select(
        F.col("mx").cast("long").alias("center_x"),
        F.col("my").cast("long").alias("center_y"),
        F.col("r").cast("long").alias("dog_response_x64"),
    )


_SPECTRUM48_SQL = """
    WITH daily AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
               CAST(c AS BIGINT) AS c
        FROM (
            SELECT o_orderdate AS d, COUNT(*) AS c FROM orders GROUP BY 1
        )
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS s
        FROM daily
    ), z AS (
        SELECT t, nn.n * c - nn.s AS z, nn.n AS n FROM daily, nn
    ), ks AS (SELECT UNNEST(generate_series(1, 48)) AS k
    ), spec AS (
        SELECT ks.k,
               POWER(SUM(z * cos(2 * pi() * ks.k * t / n)), 2)
               + POWER(SUM(z * sin(2 * pi() * ks.k * t / n)), 2) AS p
        FROM z CROSS JOIN ks GROUP BY ks.k
    )
"""


@query(
    "cepstral_peak_daily",
    oracle=_SPECTRUM48_SQL
    + """
    , lsp AS (SELECT k, ln(p + 1) AS lp FROM spec
    ), qs AS (SELECT UNNEST(generate_series(2, 24)) AS q
    ), cep AS (
        SELECT qs.q,
               POWER(SUM(lp * cos(2 * pi() * qs.q * lsp.k / 48)), 2)
               + POWER(SUM(lp * sin(2 * pi() * qs.q * lsp.k / 48)), 2) AS cq
        FROM lsp CROSS JOIN qs GROUP BY qs.q
    ), ranked AS (
        SELECT q, cq, ROW_NUMBER() OVER (ORDER BY ROUND(cq, 6) DESC, q ASC)
               AS rk
        FROM cep
    )
    SELECT CAST((SELECT n FROM nn) AS BIGINT) AS n_days,
           CAST((SELECT q FROM ranked WHERE rk = 1) AS BIGINT) AS quefrency_1,
           CAST(ROUND((SELECT cq FROM ranked WHERE rk = 1) * 1000) AS BIGINT)
               AS cepstrum_1_milli,
           CAST((SELECT q FROM ranked WHERE rk = 2) AS BIGINT) AS quefrency_2,
           CAST(ROUND((SELECT cq FROM ranked WHERE rk = 2) * 1000) AS BIGINT)
               AS cepstrum_2_milli
    """,
)
def cepstral_peak_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cepstral analysis of the daily order-count series: the
    48-harmonic power spectrum's LOG is itself Fourier-analyzed, and
    peaks in this second spectrum (quefrencies 2-24) expose
    PERIODICITY OF THE SPECTRUM — a fundamental with harmonic
    overtones makes the log-spectrum ripple at a quefrency equal to
    its harmonic spacing. This is how pitch survives when the
    fundamental is weak but its harmonic stack is strong, exactly the
    failure mode of peak-picking on the raw spectrum
    (`dominant_period_scan`). Speech processing's MFCC front door,
    run on commerce data.

    Determinism: stage one uses the exact integer deviation vector;
    the +1 offset keeps logs finite; the argmax ranks 6-decimal-
    rounded cepstra with a quefrency tie-break.

    Scale shape: one date agg, then two fixed trig lattices (2.4k x
    48 and 48 x 23) — the second stage is driver-trivial.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).select(
        F.row_number().over(Window.orderBy("d")).cast("long").alias("t"), "c"
    )
    nn = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
    )
    z = daily.crossJoin(F.broadcast(nn)).select(
        "t", (F.col("n") * F.col("c") - F.col("s")).alias("z"), "n"
    )
    ks = spark.range(1, 49).select(F.col("id").alias("k"))
    theta = 2 * 3.141592653589793 * F.col("k") * F.col("t") / F.col("n")
    spec = (
        z.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            (
                F.pow(F.sum(F.col("z") * F.cos(theta)), 2)
                + F.pow(F.sum(F.col("z") * F.sin(theta)), 2)
            ).alias("p")
        )
        .transform(_ckpt)
    )
    lsp = spec.select("k", F.log(F.col("p") + 1).alias("lp"))
    qs = spark.range(2, 25).select(F.col("id").alias("q"))
    phi = 2 * 3.141592653589793 * F.col("q") * F.col("k") / 48
    cep = (
        lsp.crossJoin(F.broadcast(qs))
        .groupBy("q")
        .agg(
            (
                F.pow(F.sum(F.col("lp") * F.cos(phi)), 2)
                + F.pow(F.sum(F.col("lp") * F.sin(phi)), 2)
            ).alias("cq")
        )
    )
    ranked = cep.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.desc(F.round("cq", 6)), F.asc("q"))
        ),
    )
    r1 = ranked.where(F.col("rk") == 1).select(
        F.col("q").alias("q1"), F.col("cq").alias("c1")
    )
    r2 = ranked.where(F.col("rk") == 2).select(
        F.col("q").alias("q2"), F.col("cq").alias("c2")
    )
    return (
        nn.crossJoin(F.broadcast(r1))
        .crossJoin(F.broadcast(r2))
        .select(
            F.col("n").alias("n_days"),
            F.col("q1").cast("long").alias("quefrency_1"),
            F.round(F.col("c1") * 1000).cast("long").alias("cepstrum_1_milli"),
            F.col("q2").cast("long").alias("quefrency_2"),
            F.round(F.col("c2") * 1000).cast("long").alias("cepstrum_2_milli"),
        )
    )


@query(
    "harmonic_product_daily",
    oracle=_SPECTRUM48_SQL
    + """
    , fs AS (SELECT UNNEST(generate_series(1, 16)) AS f
    ), hps AS (
        SELECT fs.f,
               ln(p1.p + 1) + ln(p2.p + 1) + ln(p3.p + 1) AS h
        FROM fs
        JOIN spec p1 ON p1.k = fs.f
        JOIN spec p2 ON p2.k = 2 * fs.f
        JOIN spec p3 ON p3.k = 3 * fs.f
    ), ranked AS (
        SELECT f, h, ROW_NUMBER() OVER (ORDER BY ROUND(h, 6) DESC, f ASC)
               AS rk
        FROM hps
    )
    SELECT CAST(f AS BIGINT) AS fundamental_k,
           CAST(ROUND(h * 1000) AS BIGINT) AS log_hps_milli,
           CAST(rk AS BIGINT) AS hps_rank
    FROM ranked WHERE rk <= 3
    """,
)
def harmonic_product_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic product spectrum pitch detection on the daily series:
    for fundamental candidates k = 1..16 the log-HPS sums the
    log-power at k, 2k, and 3k — a true fundamental scores on its
    whole harmonic stack, while a spurious single peak gets no
    support from its multiples. Top-3 candidates reported; agreement
    between the HPS winner and `cepstral_peak_daily`'s quefrency
    (they are dual views — harmonic SPACING vs harmonic STACK) is
    the classic cross-check before trusting either pitch estimate.

    Determinism: one shared spectrum stage; the HPS is three joined
    lookups summed, ranked on 6-decimal-rounded values with a
    candidate tie-break.

    Scale shape: the spectrum lattice once, then a 16-row triple
    self-join — negligible.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).select(
        F.row_number().over(Window.orderBy("d")).cast("long").alias("t"), "c"
    )
    nn = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
    )
    z = daily.crossJoin(F.broadcast(nn)).select(
        "t", (F.col("n") * F.col("c") - F.col("s")).alias("z"), "n"
    )
    ks = spark.range(1, 49).select(F.col("id").alias("k"))
    theta = 2 * 3.141592653589793 * F.col("k") * F.col("t") / F.col("n")
    spec = (
        z.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            (
                F.pow(F.sum(F.col("z") * F.cos(theta)), 2)
                + F.pow(F.sum(F.col("z") * F.sin(theta)), 2)
            ).alias("p")
        )
        .transform(_ckpt)
    )
    fs = spark.range(1, 17).select(F.col("id").alias("f"))
    p1 = spec.select(F.col("k").alias("f"), F.col("p").alias("pw1"))
    p2 = spec.select((F.col("k") / 2).cast("long").alias("f2"), F.col("k").alias("k2"), F.col("p").alias("pw2")).where(
        F.col("k2") % 2 == 0
    ).select(F.col("f2").alias("f"), "pw2")
    p3 = spec.select((F.col("k") / 3).cast("long").alias("f3"), F.col("k").alias("k3"), F.col("p").alias("pw3")).where(
        F.col("k3") % 3 == 0
    ).select(F.col("f3").alias("f"), "pw3")
    hps = (
        fs.join(F.broadcast(p1), "f")
        .join(F.broadcast(p2), "f")
        .join(F.broadcast(p3), "f")
        .select(
            "f",
            (
                F.log(F.col("pw1") + 1)
                + F.log(F.col("pw2") + 1)
                + F.log(F.col("pw3") + 1)
            ).alias("h"),
        )
    )
    ranked = hps.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.desc(F.round("h", 6)), F.asc("f"))
        ),
    ).where(F.col("rk") <= 3)
    return ranked.select(
        F.col("f").cast("long").alias("fundamental_k"),
        F.round(F.col("h") * 1000).cast("long").alias("log_hps_milli"),
        F.col("rk").cast("long").alias("hps_rank"),
    )


_TEMPORAL_EDGES_SQL = """
    WITH te AS (
        SELECT DISTINCT s.s_nationkey AS u, c.c_nationkey AS v,
               CAST(date_diff('day', DATE '1995-01-01', l.l_shipdate)
                    AS BIGINT) AS t
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE s.s_nationkey <> c.c_nationkey
    )
"""


def _earliest_arrival_oracle(rounds: int = 4) -> str:
    parts = [
        _TEMPORAL_EDGES_SQL
        + """
    , a0 AS MATERIALIZED (
        SELECT n_nationkey AS v,
               CAST(CASE WHEN n_nationkey = 0 THEN 0 END AS BIGINT) AS arr
        FROM nation
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", a{r} AS MATERIALIZED (
        SELECT v, MIN(arr) AS arr FROM (
            SELECT v, arr FROM a{r-1} WHERE arr IS NOT NULL
            UNION ALL
            SELECT te.v, MIN(te.t)
            FROM te JOIN a{r-1} src ON src.v = te.u
            WHERE src.arr IS NOT NULL AND te.t >= src.arr
            GROUP BY te.v
        ) GROUP BY v
    )"""
        )
    return (
        "".join(parts)
        + f"""
    SELECT CAST(n.n_nationkey AS BIGINT) AS nation_key,
           CAST(a{rounds}.arr AS BIGINT) AS earliest_arrival_day,
           CAST(CASE WHEN a{rounds}.arr IS NOT NULL THEN 1 ELSE 0 END
                AS BIGINT) AS reached
    FROM nation n LEFT JOIN a{rounds} ON a{rounds}.v = n.n_nationkey
    """
    )


@query("earliest_arrival_trade", oracle=_earliest_arrival_oracle(4))
def earliest_arrival_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest-arrival time-respecting paths from nation 0 over the
    TEMPORAL trade graph: an edge (u, v) exists at each day a
    shipment flows u -> v, a path must use non-decreasing days, and
    four Bellman-style rounds propagate the minimum feasible arrival
    day to every nation. Static reachability (`bfs_copurchase_hops`)
    says 0 reaches everyone; the temporal view says WHEN — a
    two-hop relay is useless if its second leg sailed before the
    first arrived, the defining constraint of information/epidemic
    spread over contact sequences (Holme-Saramaki temporal paths).

    Determinism: edges are exact (u, v, day) distinct triples; the
    time-semiring relaxation is pure integer MIN; four rounds bound
    hop count (invariant test pins monotone improvement).

    Scale shape: the temporal edge relation collapses shipments to
    distinct pair-days; each round is one time-filtered join + MIN
    agg with checkpointed fronts — Bellman iterations on the
    (min, >=) semiring.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    te = (
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
        .select(
            F.col("s_nationkey").alias("u"),
            F.col("c_nationkey").alias("v"),
            F.datediff("l_shipdate", F.lit("1995-01-01")).cast("long").alias("t"),
        )
        .distinct()
        .transform(_ckpt)
    )
    arr = nat.select(
        F.col("n_nationkey").alias("v"),
        F.when(F.col("n_nationkey") == 0, 0).cast("long").alias("arr"),
    ).transform(_ckpt)
    for _ in range(4):
        src = arr.where(F.col("arr").isNotNull()).select(
            F.col("v").alias("u"), F.col("arr").alias("src_arr")
        )
        relax = (
            te.join(src, "u")
            .where(F.col("t") >= F.col("src_arr"))
            .groupBy("v")
            .agg(F.min("t").alias("arr"))
        )
        arr = (
            arr.where(F.col("arr").isNotNull())
            .select("v", "arr")
            .unionAll(relax)
            .groupBy("v")
            .agg(F.min("arr").alias("arr"))
            .join(nat.select(F.col("n_nationkey").alias("v")), "v", "right")
            .select("v", "arr")
            .transform(_ckpt)
        )
    return arr.select(
        F.col("v").cast("long").alias("nation_key"),
        F.col("arr").cast("long").alias("earliest_arrival_day"),
        F.when(F.col("arr").isNotNull(), 1).otherwise(0).cast("long").alias(
            "reached"
        ),
    )


def _foremost_horizon_oracle(rounds: int = 4) -> str:
    parts = [
        _TEMPORAL_EDGES_SQL
        + """
    , hz(h) AS (VALUES (7), (30), (90)
    ), a0 AS MATERIALIZED (
        SELECT hz.h, n_nationkey AS v,
               CAST(CASE WHEN n_nationkey = 0 THEN 0 END AS BIGINT) AS arr
        FROM nation CROSS JOIN hz
    )"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""", a{r} AS MATERIALIZED (
        SELECT h, v, MIN(arr) AS arr FROM (
            SELECT h, v, arr FROM a{r-1} WHERE arr IS NOT NULL
            UNION ALL
            SELECT src.h, te.v, MIN(te.t)
            FROM te JOIN a{r-1} src ON src.v = te.u
            WHERE src.arr IS NOT NULL AND te.t >= src.arr AND te.t <= src.h
            GROUP BY src.h, te.v
        ) GROUP BY h, v
    )"""
        )
    return (
        "".join(parts)
        + f"""
    SELECT CAST(h AS BIGINT) AS horizon_days,
           CAST(COUNT(*) AS BIGINT) AS n_reached,
           CAST(ROUND(AVG(arr)) AS BIGINT) AS mean_arrival_day
    FROM a{rounds} WHERE arr IS NOT NULL GROUP BY h
    """
    )


@query("foremost_reachability_horizons", oracle=_foremost_horizon_oracle(4))
def foremost_reachability_horizons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horizon-bounded temporal reachability from nation 0: the same
    time-respecting relaxation as `earliest_arrival_trade`, but every
    edge must also fire WITHIN the horizon (7 / 30 / 90 days from the
    epoch), giving the foremost-reachable set per deadline — the
    'how far can influence spread by day H' curve that collapses to
    static reachability as H grows. Reached counts are monotone in
    the horizon (pinned), and the gap between the 7-day and 90-day
    sets is the network's temporal bottleneck mass.

    Determinism: identical integer semiring with an extra literal
    bound per horizon.

    Scale shape: the horizon grid rides the same relaxation rounds
    partitioned by h — one edge relation, three frontiers.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    te = (
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
        .select(
            F.col("s_nationkey").alias("u"),
            F.col("c_nationkey").alias("v"),
            F.datediff("l_shipdate", F.lit("1995-01-01")).cast("long").alias("t"),
        )
        .distinct()
        .transform(_ckpt)
    )
    hz = spark.createDataFrame([(7,), (30,), (90,)], "h long")
    arr = (
        nat.select(F.col("n_nationkey").alias("v"))
        .crossJoin(F.broadcast(hz))
        .select(
            "h",
            "v",
            F.when(F.col("v") == 0, 0).cast("long").alias("arr"),
        )
        .transform(_ckpt)
    )
    for _ in range(4):
        src = arr.where(F.col("arr").isNotNull()).select(
            "h", F.col("v").alias("u"), F.col("arr").alias("src_arr")
        )
        relax = (
            te.join(src, "u")
            .where((F.col("t") >= F.col("src_arr")) & (F.col("t") <= F.col("h")))
            .groupBy("h", "v")
            .agg(F.min("t").alias("arr"))
        )
        arr = (
            arr.where(F.col("arr").isNotNull())
            .select("h", "v", "arr")
            .unionAll(relax)
            .groupBy("h", "v")
            .agg(F.min("arr").alias("arr"))
            .transform(_ckpt)
        )
    return (
        arr.where(F.col("arr").isNotNull())
        .groupBy("h")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.round(F.avg("arr")).cast("long").alias("mean_arrival_day"),
        )
        .select(
            F.col("h").cast("long").alias("horizon_days"),
            "n_reached",
            "mean_arrival_day",
        )
    )


@query(
    "spectral_residual_saliency",
    oracle="""
    WITH daily AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
               dd AS d, CAST(c AS BIGINT) * 1.0 AS y
        FROM (
            SELECT o_orderdate AS dd, o_orderdate AS d, COUNT(*) AS c
            FROM orders GROUP BY 1, 2
        )
    ), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily
    ), ks AS (
        SELECT UNNEST(generate_series(0, (SELECT n - 1 FROM nn))) AS k
    ), dft AS (
        SELECT ks.k,
               SUM(y * cos(2 * pi() * ks.k * (t - 1) / nn.n)) AS a,
               SUM(y * sin(2 * pi() * ks.k * (t - 1) / nn.n)) AS b
        FROM daily CROSS JOIN ks CROSS JOIN nn
        GROUP BY ks.k
    ), amp AS (
        SELECT k, a, b, sqrt(a * a + b * b) + 0.000000001 AS m FROM dft
    ), resid AS (
        SELECT k, a, b, m,
               exp(ln(m) - AVG(ln(m)) OVER (ORDER BY k
                   ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)) AS mr
        FROM amp
    ), comps AS (
        SELECT k, mr * a / m AS p, mr * b / m AS q FROM resid
    ), sal AS (
        SELECT daily.t, daily.d,
               sqrt(
                   POWER(SUM(p * cos(2 * pi() * comps.k * (daily.t - 1) / nn.n)
                         - q * sin(2 * pi() * comps.k * (daily.t - 1) / nn.n)),
                         2)
                 + POWER(SUM(p * sin(2 * pi() * comps.k * (daily.t - 1) / nn.n)
                         + q * cos(2 * pi() * comps.k * (daily.t - 1) / nn.n)),
                         2)
               ) / nn.n AS s
        FROM daily CROSS JOIN comps CROSS JOIN nn
        GROUP BY daily.t, daily.d, nn.n
    ), ranked AS (
        SELECT d, s, ROW_NUMBER() OVER (ORDER BY ROUND(s, 6) DESC, d ASC)
               AS rk
        FROM sal
    )
    SELECT d AS day, CAST(ROUND(s * 1000) AS BIGINT) AS saliency_milli,
           CAST(rk AS BIGINT) AS saliency_rank
    FROM ranked WHERE rk <= 5
    """,
)
def spectral_residual_saliency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral-Residual saliency detection (the SR stage of
    Microsoft's SR-CNN) on daily order counts: the full DFT's log
    amplitude is smoothed over neighbouring frequencies, the RESIDUAL
    (what the spectrum's local trend cannot explain) is exponentiated
    back with the ORIGINAL phase, and the inverse transform's
    magnitude is a per-day saliency map whose peaks are anomalies.
    Unlike point z-scores (`mad_outliers_orders`) or decomposition
    residuals (`seasonal_residual_outlier_days`), SR needs no
    seasonality model — any spectrally-unusual structure lights up.
    Top-5 salient days reported.

    Determinism: one fixed trig lattice each way; saliency ranks on
    6-decimal-rounded values with a date tie-break; the 1e-9
    amplitude floor guards the log at exact-zero bins.

    Scale shape: two n x n trig lattices over the calendar-bounded
    series (~5.8M fused multiply-adds each at sf0.01) — quadratic in
    DAYS, constant in corpus size; an FFT would be O(n log n) but
    needs sequential butterflies, the classic depth-vs-work trade
    this engine resolves toward data-parallel lattices.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(F.col("o_orderdate").alias("d"))
        .agg((F.count(F.lit(1)) * 1.0).alias("y"))
        .select(
            F.row_number().over(Window.orderBy("d")).cast("long").alias("t"),
            "d",
            "y",
        )
        .transform(_ckpt)
    )
    nn = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    nval = scalar_row(nn, "registry_09.dft_n")["n"]
    ks = spark.range(0, nval).select(F.col("id").alias("k"))
    theta = 2 * 3.141592653589793 * F.col("k") * (F.col("t") - 1) / nval
    dft = (
        daily.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(F.col("y") * F.cos(theta)).alias("a"),
            F.sum(F.col("y") * F.sin(theta)).alias("b"),
        )
    )
    amp = dft.select(
        "k",
        "a",
        "b",
        (F.sqrt(F.col("a") * F.col("a") + F.col("b") * F.col("b")) + 1e-9).alias(
            "m"
        ),
    )
    resid = amp.select(
        "k",
        "a",
        "b",
        "m",
        F.exp(
            F.log("m")
            - F.avg(F.log("m")).over(
                Window.orderBy("k").rowsBetween(-2, 2)
            )
        ).alias("mr"),
    )
    comps = resid.select(
        "k",
        (F.col("mr") * F.col("a") / F.col("m")).alias("p"),
        (F.col("mr") * F.col("b") / F.col("m")).alias("q"),
    ).transform(_ckpt)
    phi = 2 * 3.141592653589793 * F.col("k") * (F.col("t") - 1) / nval
    sal = (
        daily.crossJoin(F.broadcast(comps))
        .groupBy("t", "d")
        .agg(
            (
                F.sqrt(
                    F.pow(
                        F.sum(
                            F.col("p") * F.cos(phi) - F.col("q") * F.sin(phi)
                        ),
                        2,
                    )
                    + F.pow(
                        F.sum(
                            F.col("p") * F.sin(phi) + F.col("q") * F.cos(phi)
                        ),
                        2,
                    )
                )
                / nval
            ).alias("s")
        )
    )
    ranked = sal.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.desc(F.round("s", 6)), F.asc("d"))
        ),
    ).where(F.col("rk") <= 5)
    return ranked.select(
        F.col("d").alias("day"),
        F.round(F.col("s") * 1000).cast("long").alias("saliency_milli"),
        F.col("rk").cast("long").alias("saliency_rank"),
    )


@query(
    "anomaly_detector_agreement",
    oracle="""
    WITH daily AS (
        SELECT o_orderdate AS d, CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
    ), g AS (
        SELECT AVG(c * 1.0) AS m, STDDEV_SAMP(c * 1.0) AS sd FROM daily
    ), dow AS (
        SELECT date_diff('day', DATE '1992-01-01', d) % 7 AS w,
               AVG(c * 1.0) AS mw, STDDEV_SAMP(c * 1.0) AS sdw
        FROM daily GROUP BY 1
    ), scores AS (
        SELECT daily.d,
               ABS(daily.c - g.m) / g.sd AS z_global,
               ABS(daily.c - dow.mw) / dow.sdw AS z_dow
        FROM daily, g
        JOIN dow ON dow.w = date_diff('day', DATE '1992-01-01', daily.d) % 7
    ), top_g AS (
        SELECT d FROM scores ORDER BY ROUND(z_global, 6) DESC, d LIMIT 20
    ), top_w AS (
        SELECT d FROM scores ORDER BY ROUND(z_dow, 6) DESC, d LIMIT 20
    ), ov AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS both_cnt
        FROM top_g JOIN top_w ON top_w.d = top_g.d
    )
    SELECT CAST(20 AS BIGINT) AS k,
           ov.both_cnt AS agree_days,
           CAST(ROUND(ov.both_cnt * 1000000.0 / (40 - ov.both_cnt))
                AS BIGINT) AS jaccard_ppm
    FROM ov
    """,
)
def anomaly_detector_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement audit between two cheap anomaly screens on daily
    volume: global z-score versus day-of-week-conditional z-score,
    compared by the Jaccard overlap of their top-20 day sets. Low
    agreement means most 'anomalies' under the global screen are just
    weekly seasonality (the DOW screen absorbs them) — the
    detector-ensemble disagreement measurement that motivates
    seasonality-free methods like `spectral_residual_saliency`, and
    the cheapest possible version of 'run two detectors before
    paging anyone'.

    Determinism: both scores are closed moments; top-k sets rank
    rounded scores with date tie-breaks; the overlap is an exact
    join count.

    Scale shape: one date agg, one 7-row DOW agg, two TakeOrdered
    top-20s, one tiny join.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).transform(_ckpt)
    g = daily.agg(
        F.avg(F.col("c") * 1.0).alias("m"),
        F.stddev_samp(F.col("c") * 1.0).alias("sd"),
    )
    dow = daily.groupBy(
        (F.datediff("d", F.lit("1992-01-01")) % 7).alias("w")
    ).agg(
        F.avg(F.col("c") * 1.0).alias("mw"),
        F.stddev_samp(F.col("c") * 1.0).alias("sdw"),
    )
    scores = (
        daily.crossJoin(F.broadcast(g))
        .join(
            F.broadcast(dow),
            (F.datediff("d", F.lit("1992-01-01")) % 7) == F.col("w"),
        )
        .select(
            "d",
            (F.abs(F.col("c") - F.col("m")) / F.col("sd")).alias("z_global"),
            (F.abs(F.col("c") - F.col("mw")) / F.col("sdw")).alias("z_dow"),
        )
    )
    top_g = (
        scores.orderBy(F.desc(F.round("z_global", 6)), F.asc("d"))
        .limit(20)
        .select("d")
    )
    top_w = (
        scores.orderBy(F.desc(F.round("z_dow", 6)), F.asc("d"))
        .limit(20)
        .select("d")
    )
    ov = top_g.join(top_w, "d").agg(
        F.count(F.lit(1)).cast("long").alias("both_cnt")
    )
    return ov.select(
        F.lit(20).cast("long").alias("k"),
        F.col("both_cnt").alias("agree_days"),
        F.round(F.col("both_cnt") * 1000000.0 / (40 - F.col("both_cnt")))
        .cast("long")
        .alias("jaccard_ppm"),
    )


_PERIOD_SHAPES_SQL = """
    WITH halves AS (
        SELECT c.c_nationkey AS nk,
               CASE WHEN o.o_orderdate < DATE '1998-01-01' THEN 0 ELSE 1 END
                   AS h,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), tots AS (
        SELECT h, CAST(SUM(cnt) AS BIGINT) AS tc,
               CAST(SUM(cents) AS BIGINT) AS tr
        FROM halves GROUP BY h
    ), pts AS (
        SELECT halves.nk, halves.h,
               halves.cnt * 1000000.0 / tots.tc AS x,
               halves.cents * 1000000.0 / tots.tr AS y
        FROM halves JOIN tots ON tots.h = halves.h
    ), paired AS (
        SELECT a.nk, a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
        FROM pts a JOIN pts b ON b.nk = a.nk AND a.h = 0 AND b.h = 1
    ), cent AS (
        SELECT nk,
               xa - AVG(xa) OVER () AS xa, ya - AVG(ya) OVER () AS ya,
               xb - AVG(xb) OVER () AS xb, yb - AVG(yb) OVER () AS yb
        FROM paired
    )
"""


@query(
    "procrustes_period_drift",
    oracle=_PERIOD_SHAPES_SQL
    + """
    , s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(xa * xb + ya * yb) AS dotp,
               SUM(xa * yb - ya * xb) AS crossp,
               SUM(xa * xa + ya * ya) AS na2,
               SUM(xb * xb + yb * yb) AS nb2
        FROM cent
    )
    SELECT n AS n_nations,
           CAST(ROUND(atan2(crossp, dotp) * 1000000) AS BIGINT)
               AS rotation_micro_rad,
           CAST(ROUND(sqrt(dotp * dotp + crossp * crossp) / na2 * 1000)
                AS BIGINT) AS scale_milli,
           CAST(ROUND(sqrt(GREATEST(nb2 - (dotp * dotp + crossp * crossp)
                / na2, 0) / nb2) * 1000000) AS BIGINT)
               AS residual_shape_ppm
    FROM s
    """,
)
def procrustes_period_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form 2D Procrustes alignment of the nation market-share
    configuration (order-share, revenue-share) pre- vs post-1998:
    after centering, the optimal rotation is atan2 of the cross- and
    dot-products of corresponding points, the optimal scale follows,
    and the residual shape distance is what NO similarity transform
    can explain — true structural drift, with global growth
    (scale), reorientation (rotation), and re-centering removed
    first. The multivariate upgrade of per-nation drift screens
    (`psi_drift_order_value` is one coordinate at a time); 2D makes
    the usually-SVD Procrustes problem exactly closed-form.

    Determinism: shares are single divisions of exact integers;
    centering and the four cross-sums are standard aggregates; one
    atan2/sqrt expression, micro/milli-rounded.

    Scale shape: one fact agg to 25 x 2 configurations; everything
    after is a scalar aggregate.
    """
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    halves = (
        o.join(
            F.broadcast(
                cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.when(F.col("o_orderdate") < F.lit("1998-01-01"), 0)
            .otherwise(1)
            .alias("h"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    halves = _ckpt(halves)  # shared fan-out relation
    tots = halves.groupBy("h").agg(
        F.sum("cnt").cast("long").alias("tc"),
        F.sum("cents").cast("long").alias("tr"),
    )
    pts = halves.join(tots, "h").select(
        "nk",
        "h",
        (F.col("cnt") * 1000000.0 / F.col("tc")).alias("x"),
        (F.col("cents") * 1000000.0 / F.col("tr")).alias("y"),
    )
    a = pts.where(F.col("h") == 0).select(
        "nk", F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = pts.where(F.col("h") == 1).select(
        "nk", F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    paired = a.join(b, "nk")
    w = Window.partitionBy()
    cent = paired.select(
        (F.col("xa") - F.avg("xa").over(w)).alias("xa"),
        (F.col("ya") - F.avg("ya").over(w)).alias("ya"),
        (F.col("xb") - F.avg("xb").over(w)).alias("xb"),
        (F.col("yb") - F.avg("yb").over(w)).alias("yb"),
    )
    s = cent.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("xa") * F.col("xb") + F.col("ya") * F.col("yb")).alias(
            "dotp"
        ),
        F.sum(F.col("xa") * F.col("yb") - F.col("ya") * F.col("xb")).alias(
            "crossp"
        ),
        F.sum(F.col("xa") * F.col("xa") + F.col("ya") * F.col("ya")).alias(
            "na2"
        ),
        F.sum(F.col("xb") * F.col("xb") + F.col("yb") * F.col("yb")).alias(
            "nb2"
        ),
    )
    opt2 = F.col("dotp") * F.col("dotp") + F.col("crossp") * F.col("crossp")
    return s.select(
        F.col("n").alias("n_nations"),
        F.round(F.atan2("crossp", "dotp") * 1000000)
        .cast("long")
        .alias("rotation_micro_rad"),
        F.round(F.sqrt(opt2) / F.col("na2") * 1000)
        .cast("long")
        .alias("scale_milli"),
        F.round(
            F.sqrt(
                F.greatest(
                    F.col("nb2") - opt2 / F.col("na2"), F.lit(0.0)
                )
                / F.col("nb2")
            )
            * 1000000
        )
        .cast("long")
        .alias("residual_shape_ppm"),
    )


@query(
    "rv_coefficient_periods",
    oracle=_PERIOD_SHAPES_SQL
    + """
    , grams AS (
        SELECT p.nk AS i, q.nk AS j,
               p.xa * q.xa + p.ya * q.ya AS ga,
               p.xb * q.xb + p.yb * q.yb AS gb
        FROM cent p JOIN cent q ON TRUE
    ), s AS (
        SELECT SUM(ga * gb) AS num, SUM(ga * ga) AS da, SUM(gb * gb) AS db
        FROM grams
    )
    SELECT CAST(ROUND(num / sqrt(da * db) * 1000000) AS BIGINT) AS rv_micro
    FROM s
    """,
)
def rv_coefficient_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Escoufier's RV coefficient between the pre- and post-1998
    nation configurations: the centered Gram matrices (all pairwise
    dot products within each period's 2D cloud) are correlated
    entrywise — RV = <G_A, G_B> / (||G_A|| ||G_B||), the
    matrix-valued generalization of squared correlation, invariant to
    rotation and scale by construction. Where
    `procrustes_period_drift` fits the best transform and reports
    leftovers, RV scores configuration similarity WITHOUT fitting
    anything — the two should agree (high RV iff low residual), a
    pinned cross-check.

    Determinism: Gram entries are exact-input products; three sums
    over 625 pairs; one rounded ratio.

    Scale shape: the Gram cross is a 25 x 25 self-join of the tiny
    centered relation.
    """
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    halves = (
        o.join(
            F.broadcast(
                cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.when(F.col("o_orderdate") < F.lit("1998-01-01"), 0)
            .otherwise(1)
            .alias("h"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    tots = halves.groupBy("h").agg(
        F.sum("cnt").cast("long").alias("tc"),
        F.sum("cents").cast("long").alias("tr"),
    )
    pts = halves.join(tots, "h").select(
        "nk",
        "h",
        (F.col("cnt") * 1000000.0 / F.col("tc")).alias("x"),
        (F.col("cents") * 1000000.0 / F.col("tr")).alias("y"),
    )
    a = pts.where(F.col("h") == 0).select(
        "nk", F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = pts.where(F.col("h") == 1).select(
        "nk", F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    paired = a.join(b, "nk")
    w = Window.partitionBy()
    cent = paired.select(
        "nk",
        (F.col("xa") - F.avg("xa").over(w)).alias("xa"),
        (F.col("ya") - F.avg("ya").over(w)).alias("ya"),
        (F.col("xb") - F.avg("xb").over(w)).alias("xb"),
        (F.col("yb") - F.avg("yb").over(w)).alias("yb"),
    ).transform(_ckpt)
    p, q = cent.alias("p"), cent.alias("q")
    grams = p.crossJoin(q).select(
        (
            F.col("p.xa") * F.col("q.xa") + F.col("p.ya") * F.col("q.ya")
        ).alias("ga"),
        (
            F.col("p.xb") * F.col("q.xb") + F.col("p.yb") * F.col("q.yb")
        ).alias("gb"),
    )
    s = grams.agg(
        F.sum(F.col("ga") * F.col("gb")).alias("num"),
        F.sum(F.col("ga") * F.col("ga")).alias("da"),
        F.sum(F.col("gb") * F.col("gb")).alias("db"),
    )
    return s.select(
        F.round(F.col("num") / F.sqrt(F.col("da") * F.col("db")) * 1000000)
        .cast("long")
        .alias("rv_micro")
    )


_REPLICATE_RANKS_SQL = """
    WITH base AS (
        SELECT o_orderkey AS k, c.c_nationkey AS nk,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), reps AS (SELECT UNNEST(generate_series(1, 30)) AS b
    ), rrev AS (
        SELECT reps.b, base.nk,
               CAST(SUM(base.cents) AS BIGINT) AS rev
        FROM base CROSS JOIN reps
        WHERE (48271 * ((48271 * (base.k * 131071 + reps.b) + 12345)
               % 2147483647) + 12345) % 2147483647 % 2 = 0
        GROUP BY reps.b, base.nk
    ), rranks AS (
        SELECT b, nk,
               CAST(ROW_NUMBER() OVER (PARTITION BY b
                   ORDER BY rev DESC, nk ASC) AS BIGINT) AS r
        FROM rrev
    )
"""


@query(
    "rank_stability_audit",
    oracle=_REPLICATE_RANKS_SQL
    + """
    SELECT CAST(nk AS BIGINT) AS nation_key,
           CAST(ROUND(AVG(r * 1.0) * 1000) AS BIGINT) AS mean_rank_milli,
           CAST(MIN(r) AS BIGINT) AS best_rank,
           CAST(MAX(r) AS BIGINT) AS worst_rank,
           CAST(ROUND(SUM(CASE WHEN r <= 3 THEN 1 ELSE 0 END) * 1000000.0
                / COUNT(*)) AS BIGINT) AS p_top3_ppm
    FROM rranks GROUP BY nk
    """,
)
def rank_stability_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leaderboard stability under resampling: thirty deterministic
    half-samples of orders (hash-coin per order x replicate) each
    rank the nations by revenue, and every nation reports its mean
    rank, best/worst rank, and probability of a top-3 finish. A
    published leaderboard is a point estimate; the rank RANGE is its
    real uncertainty — nations whose intervals overlap are
    statistically tied however the full-data ranking orders them
    (the insight behind ranking-confidence methods in search eval
    and league tables alike).

    Determinism: replicate membership is exact integer hashing;
    per-replicate ranks carry (revenue, nation) tie-breaks; summary
    stats are exact counts over 30 replicates.

    Scale shape: one replicate-expanded agg (map-side combined on
    (b, nation)) — 750 cells out of one scan — then a 25-row
    summary.
    """
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    base = o.join(
        F.broadcast(
            cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
        ),
        "o_custkey",
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("c_nationkey").alias("nk"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    reps = spark.range(1, 31).select(F.col("id").alias("b"))
    inner = (48271 * (F.col("k") * 131071 + F.col("b")) + 12345) % 2147483647
    rrev = (
        base.crossJoin(F.broadcast(reps))
        .where(((48271 * inner + 12345) % 2147483647) % 2 == 0)
        .groupBy("b", "nk")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    rranks = rrev.select(
        "b",
        "nk",
        F.row_number()
        .over(Window.partitionBy("b").orderBy(F.desc("rev"), F.asc("nk")))
        .cast("long")
        .alias("r"),
    )
    return rranks.groupBy("nk").agg(
        F.round(F.avg(F.col("r") * 1.0) * 1000).cast("long").alias(
            "mean_rank_milli"
        ),
        F.min("r").cast("long").alias("best_rank"),
        F.max("r").cast("long").alias("worst_rank"),
        F.round(
            F.sum(F.when(F.col("r") <= 3, 1).otherwise(0))
            * 1000000.0
            / F.count(F.lit(1))
        )
        .cast("long")
        .alias("p_top3_ppm"),
    ).select(
        F.col("nk").cast("long").alias("nation_key"),
        "mean_rank_milli",
        "best_rank",
        "worst_rank",
        "p_top3_ppm",
    )


@query(
    "leaderboard_flip_rates",
    oracle=_REPLICATE_RANKS_SQL
    + """
    , full_r AS (
        SELECT nk, CAST(ROW_NUMBER() OVER (ORDER BY rev DESC, nk ASC)
               AS BIGINT) AS r
        FROM (
            SELECT nk, CAST(SUM(cents) AS BIGINT) AS rev
            FROM base GROUP BY nk
        )
    ), adj AS (
        SELECT a.r AS pos, a.nk AS hi_nk, b.nk AS lo_nk
        FROM full_r a JOIN full_r b ON b.r = a.r + 1
        WHERE a.r <= 9
    ), flips AS (
        SELECT adj.pos, adj.hi_nk, adj.lo_nk,
               CAST(SUM(CASE WHEN rh.r > rl.r THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_flip,
               CAST(COUNT(*) AS BIGINT) AS n_rep
        FROM adj
        JOIN rranks rh ON rh.nk = adj.hi_nk
        JOIN rranks rl ON rl.nk = adj.lo_nk AND rl.b = rh.b
        GROUP BY adj.pos, adj.hi_nk, adj.lo_nk
    )
    SELECT CAST(pos AS BIGINT) AS rank_position,
           CAST(hi_nk AS BIGINT) AS nation_above,
           CAST(lo_nk AS BIGINT) AS nation_below,
           CAST(ROUND(n_flip * 1000000.0 / n_rep) AS BIGINT) AS flip_ppm
    FROM flips
    """,
)
def leaderboard_flip_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair flip probabilities for the nation revenue
    leaderboard: for each of the top-9 adjacent pairs in the
    full-data ranking, the share of the 30 half-sample replicates in
    which the pair INVERTS. flip_ppm near 500000 is a coin-toss
    ordering (report the tie, not the order); near zero is a real
    gap. The pairwise drill-down of `rank_stability_audit`'s
    marginal intervals — two nations can have overlapping rank
    ranges yet never actually flip if their fluctuations are
    correlated, which only this paired view detects.

    Determinism: same replicate machinery; the full-data ranking
    anchors pairs with exact tie-breaks; flip counts are integers.

    Scale shape: replicate ranks join a 9-row pair anchor — the
    paired comparison is free once replicate ranks exist.
    """
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    base = o.join(
        F.broadcast(
            cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
        ),
        "o_custkey",
    ).select(
        F.col("o_orderkey").alias("k"),
        F.col("c_nationkey").alias("nk"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).transform(_ckpt)
    reps = spark.range(1, 31).select(F.col("id").alias("b"))
    inner = (48271 * (F.col("k") * 131071 + F.col("b")) + 12345) % 2147483647
    rrev = (
        base.crossJoin(F.broadcast(reps))
        .where(((48271 * inner + 12345) % 2147483647) % 2 == 0)
        .groupBy("b", "nk")
        .agg(F.sum("cents").cast("long").alias("rev"))
    )
    rranks = rrev.select(
        "b",
        "nk",
        F.row_number()
        .over(Window.partitionBy("b").orderBy(F.desc("rev"), F.asc("nk")))
        .cast("long")
        .alias("r"),
    ).transform(_ckpt)
    full_r = (
        base.groupBy("nk")
        .agg(F.sum("cents").cast("long").alias("rev"))
        .select(
            "nk",
            F.row_number()
            .over(Window.orderBy(F.desc("rev"), F.asc("nk")))
            .cast("long")
            .alias("r"),
        )
    )
    fa, fb = full_r.alias("fa"), full_r.alias("fb")
    adj = fa.join(fb, F.col("fb.r") == F.col("fa.r") + 1).where(
        F.col("fa.r") <= 9
    ).select(
        F.col("fa.r").alias("pos"),
        F.col("fa.nk").alias("hi_nk"),
        F.col("fb.nk").alias("lo_nk"),
    )
    rh = rranks.select(
        F.col("b"), F.col("nk").alias("hi_nk"), F.col("r").alias("rhi")
    )
    rl = rranks.select(
        F.col("b").alias("b2"), F.col("nk").alias("lo_nk"), F.col("r").alias("rlo")
    )
    flips = (
        adj.join(rh, "hi_nk")
        .join(rl, (F.col("b2") == F.col("b")) & (rl.lo_nk == adj.lo_nk))
        .groupBy("pos", "hi_nk", adj.lo_nk)
        .agg(
            F.sum(F.when(F.col("rhi") > F.col("rlo"), 1).otherwise(0))
            .cast("long")
            .alias("n_flip"),
            F.count(F.lit(1)).cast("long").alias("n_rep"),
        )
    )
    return flips.select(
        F.col("pos").cast("long").alias("rank_position"),
        F.col("hi_nk").cast("long").alias("nation_above"),
        F.col("lo_nk").cast("long").alias("nation_below"),
        F.round(F.col("n_flip") * 1000000.0 / F.col("n_rep"))
        .cast("long")
        .alias("flip_ppm"),
    )


_TWO_MEASURES_SQL = """
    WITH m2 AS (
        SELECT l_orderkey AS k,
               CAST(ROUND(SUM(l_extendedprice * (1 - l_discount)
                    * (1 + l_tax)) * 100) AS BIGINT) AS v2
        FROM lineitem GROUP BY 1
    ), both_m AS (
        SELECT o.o_orderkey AS k,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS v1, m2.v2
        FROM orders o JOIN m2 ON m2.k = o.o_orderkey
    )
"""


@query(
    "bland_altman_order_totals",
    oracle=_TWO_MEASURES_SQL
    + """
    , diffs AS (
        SELECT (v1 - v2) * 1.0 AS d FROM both_m
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(d) AS bias,
               STDDEV_SAMP(d) AS sd, MAX(ABS(d)) AS mx
        FROM diffs
    ), outside AS (
        SELECT CAST(SUM(CASE WHEN ABS(d - s.bias) > 1.96 * s.sd
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_out
        FROM diffs, s
    )
    SELECT s.n AS n_orders,
           CAST(ROUND(s.bias) AS BIGINT) AS bias_cents,
           CAST(ROUND(s.bias - 1.96 * s.sd) AS BIGINT) AS loa_lower_cents,
           CAST(ROUND(s.bias + 1.96 * s.sd) AS BIGINT) AS loa_upper_cents,
           CAST(ROUND(outside.n_out * 1000000.0 / s.n) AS BIGINT)
               AS outside_loa_ppm,
           CAST(ROUND(s.mx) AS BIGINT) AS max_abs_diff_cents
    FROM s, outside
    """,
)
def bland_altman_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman agreement analysis between two 'measurements' of
    the same order value: the stored o_totalprice versus the value
    recomputed from lineitems as sum(extendedprice x (1 - discount)
    x (1 + tax)). The bias (mean difference), 95% limits of
    agreement, and the share of orders outside them are the clinical
    method-comparison toolkit repurposed as a RECONCILIATION audit —
    correlation (`lins_ccc_order_totals` shows it) is near 1 even
    when systematic bias exists; Bland-Altman is what actually
    detects it, which is why finance reconciliation and lab medicine
    converged on the same plot.

    Determinism: both measures are cent-exact; differences are
    integers; moments and LoA are standard aggregates rounded to
    cents.

    Scale shape: one lineitem agg keyed by order, one join, two
    scalar passes.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    m2 = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.round(
            F.sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            )
            * 100
        )
        .cast("long")
        .alias("v2")
    )
    both_m = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v1"),
    ).join(m2, "k")
    diffs = both_m.select(((F.col("v1") - F.col("v2")) * 1.0).alias("d"))
    s = diffs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("d").alias("bias"),
        F.stddev_samp("d").alias("sd"),
        F.max(F.abs("d")).alias("mx"),
    )
    outside = diffs.crossJoin(F.broadcast(s)).agg(
        F.sum(
            F.when(
                F.abs(F.col("d") - F.col("bias")) > 1.96 * F.col("sd"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_out")
    )
    return s.crossJoin(F.broadcast(outside)).select(
        F.col("n").alias("n_orders"),
        F.round("bias").cast("long").alias("bias_cents"),
        F.round(F.col("bias") - 1.96 * F.col("sd"))
        .cast("long")
        .alias("loa_lower_cents"),
        F.round(F.col("bias") + 1.96 * F.col("sd"))
        .cast("long")
        .alias("loa_upper_cents"),
        F.round(F.col("n_out") * 1000000.0 / F.col("n"))
        .cast("long")
        .alias("outside_loa_ppm"),
        F.round("mx").cast("long").alias("max_abs_diff_cents"),
    )


@query(
    "lins_ccc_order_totals",
    oracle=_TWO_MEASURES_SQL
    + """
    , s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               AVG(v1 * 1.0) AS m1, AVG(v2 * 1.0) AS m2v,
               VAR_POP(v1 * 1.0) AS s1, VAR_POP(v2 * 1.0) AS s2,
               COVAR_POP(v1 * 1.0, v2 * 1.0) AS cv
        FROM both_m
    )
    SELECT n AS n_orders,
           CAST(ROUND(cv / sqrt(s1 * s2) * 1000000) AS BIGINT)
               AS pearson_micro,
           CAST(ROUND(2 * cv / (s1 + s2 + (m1 - m2v) * (m1 - m2v))
                * 1000000) AS BIGINT) AS lins_ccc_micro,
           CAST(ROUND((2 * cv / (s1 + s2 + (m1 - m2v) * (m1 - m2v)))
                / (cv / sqrt(s1 * s2)) * 1000000) AS BIGINT)
               AS accuracy_cb_micro
    FROM s
    """,
)
def lins_ccc_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lin's concordance correlation coefficient for the same measure
    pair as `bland_altman_order_totals`: CCC = 2 cov / (var1 + var2 +
    (mean1 - mean2)^2) penalizes BOTH scatter and systematic offset,
    so CCC = Pearson x C_b where the accuracy factor C_b < 1 exposes
    location/scale shift that correlation forgives completely. The
    single-number companion to Bland-Altman's interval view; the
    three columns decompose disagreement into precision (Pearson)
    and accuracy (C_b).

    Determinism: population moments over cent-exact inputs; two
    rounded ratios.

    Scale shape: one joined scalar agg.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    m2 = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.round(
            F.sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            )
            * 100
        )
        .cast("long")
        .alias("v2")
    )
    both_m = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v1"),
    ).join(m2, "k")
    s = both_m.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg(F.col("v1") * 1.0).alias("m1"),
        F.avg(F.col("v2") * 1.0).alias("m2v"),
        F.var_pop(F.col("v1") * 1.0).alias("s1"),
        F.var_pop(F.col("v2") * 1.0).alias("s2"),
        F.covar_pop(F.col("v1") * 1.0, F.col("v2") * 1.0).alias("cv"),
    )
    pearson = F.col("cv") / F.sqrt(F.col("s1") * F.col("s2"))
    ccc = (
        2
        * F.col("cv")
        / (
            F.col("s1")
            + F.col("s2")
            + (F.col("m1") - F.col("m2v")) * (F.col("m1") - F.col("m2v"))
        )
    )
    return s.select(
        F.col("n").alias("n_orders"),
        F.round(pearson * 1000000).cast("long").alias("pearson_micro"),
        F.round(ccc * 1000000).cast("long").alias("lins_ccc_micro"),
        F.round(ccc / pearson * 1000000).cast("long").alias(
            "accuracy_cb_micro"
        ),
    )


def _percolation_oracle(variants: list, edge_pred: str) -> str:
    """Recursive-CTE CC fixpoint per variant. `variants` yields
    (label, sql_condition) pairs applied to the >=1-co-occurrence
    weighted co-purchase edge list."""
    head = """
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), ew AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    )"""
    parts = [head]
    stats = []
    for label, cond in variants:
        parts.append(
            f""", bi_{label} AS (
        SELECT u, v FROM ew WHERE {cond}
        UNION SELECT v, u FROM ew WHERE {cond}
    ), reach_{label}(id, lab) AS (
        SELECT DISTINCT u AS id, u AS lab FROM bi_{label}
        UNION
        SELECT bi_{label}.u, r.lab
        FROM reach_{label} r JOIN bi_{label} ON bi_{label}.v = r.id
    ), comp_{label} AS (
        SELECT id, MIN(lab) AS c FROM reach_{label} GROUP BY id
    ), cs_{label} AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS sz FROM comp_{label} GROUP BY c
    )"""
        )
        stats.append(
            f"""SELECT '{label}' AS variant,
        CAST((SELECT COUNT(*) FROM comp_{label}) AS BIGINT) AS n_nodes,
        CAST((SELECT COUNT(*) FROM ew WHERE {cond}) AS BIGINT) AS n_edges,
        CAST((SELECT COUNT(*) FROM cs_{label}) AS BIGINT) AS n_components,
        CAST((SELECT MAX(sz) FROM cs_{label}) AS BIGINT) AS giant_size,
        CAST(ROUND((SELECT MAX(sz) FROM cs_{label}) * 1000000.0
             / (SELECT COUNT(*) FROM comp_{label})) AS BIGINT)
            AS giant_share_ppm"""
        )
    return "".join(parts) + " " + " UNION ALL ".join(stats)


_PERC_COIN = (
    "(48271 * ((48271 * (u * 131071 + v) + 12345) % 2147483647) + 12345)"
    " % 2147483647 % 100"
)


@query(
    "percolation_threshold_sweep",
    oracle=_percolation_oracle(
        [("m2", "m >= 2"), ("m3", "m >= 3"), ("m4", "m >= 4")], ""
    ),
)
def percolation_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence threshold percolation on the co-purchase graph:
    keeping only edges with >= 2 / 3 / 4 shared orders, exact
    connected components (min-label propagation, converged) measure
    how the giant component dissolves as the evidence bar rises —
    the robustness-of-structure question behind every similarity
    threshold: a giant that survives m = 4 is real co-purchase
    structure, one that shatters at m = 3 was co-occurrence noise.
    The same dial `dedup_threshold_sweep` turns for near-duplicate
    clusters, here with full component-size accounting against the
    DuckDB recursive-CTE fixpoint.

    Determinism: integer co-occurrence weights; exact CC labels.

    Scale shape: one weighted edge build; per threshold a filtered
    CC run on a shrinking subgraph — the `operators.graph` iteration
    with per-round checkpoints.
    """
    from pyspark_movie_recommender_spark.operators.graph import (
        connected_components,
    )

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    ew = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .transform(_ckpt)
    )
    out = None
    for label, thr in [("m2", 2), ("m3", 3), ("m4", 4)]:
        edges = ew.where(F.col("m") >= thr).select(
            F.col("u").alias("id_a"), F.col("v").alias("id_b")
        )
        comp = connected_components(edges, max_rounds=30)
        cs = comp.groupBy("component").agg(
            F.count(F.lit(1)).cast("long").alias("sz")
        )
        stats = (
            comp.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
            .crossJoin(
                edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
            )
            .crossJoin(
                cs.agg(
                    F.count(F.lit(1)).cast("long").alias("n_components"),
                    F.max("sz").cast("long").alias("giant_size"),
                )
            )
            .select(
                F.lit(label).alias("variant"),
                "n_nodes",
                "n_edges",
                "n_components",
                "giant_size",
                F.round(F.col("giant_size") * 1000000.0 / F.col("n_nodes"))
                .cast("long")
                .alias("giant_share_ppm"),
            )
        )
        out = stats if out is None else out.unionAll(stats)
    return out


@query(
    "bond_percolation_curve",
    oracle=_percolation_oracle(
        [
            ("p30", f"m >= 2 AND {_PERC_COIN} < 30"),
            ("p60", f"m >= 2 AND {_PERC_COIN} < 60"),
            ("p90", f"m >= 2 AND {_PERC_COIN} < 90"),
        ],
        "",
    ),
)
def bond_percolation_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bond percolation with derandomized coins: each >=2-support
    co-purchase edge flips one double-LCG coin and survives with
    probability 0.3 / 0.6 / 0.9 (NESTED retention sets — the same
    coin value thresholds, so p=0.3's graph is a subgraph of p=0.6's,
    removing resampling noise from the curve); exact components then
    trace the giant's share across p — the percolation-transition
    curve whose knee locates the graph's effective connectivity
    threshold, the random-failure half of the story
    `attack_robustness_copurchase` tells for targeted removal.

    Determinism: the edge coin hashes (u, v); components exact.

    Scale shape: identical machinery to the threshold sweep — three
    filtered CC runs over one prepared edge relation.
    """
    from pyspark_movie_recommender_spark.operators.graph import (
        connected_components_star,
    )

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a, b = items.alias("a"), items.alias("b")
    ew = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .where(F.col("m") >= 2)
        .select(
            "u",
            "v",
            (
                (
                    48271
                    * (
                        (48271 * (F.col("u") * 131071 + F.col("v")) + 12345)
                        % 2147483647
                    )
                    + 12345
                )
                % 2147483647
                % 100
            ).alias("coin"),
        )
        .transform(_ckpt)
    )
    out = None
    for label, p in [("p30", 30), ("p60", 60), ("p90", 90)]:
        edges = ew.where(F.col("coin") < p).select(
            F.col("u").alias("id_a"), F.col("v").alias("id_b")
        )
        comp = connected_components_star(edges)
        cs = comp.groupBy("component").agg(
            F.count(F.lit(1)).cast("long").alias("sz")
        )
        stats = (
            comp.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
            .crossJoin(
                edges.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
            )
            .crossJoin(
                cs.agg(
                    F.count(F.lit(1)).cast("long").alias("n_components"),
                    F.max("sz").cast("long").alias("giant_size"),
                )
            )
            .select(
                F.lit(label).alias("variant"),
                "n_nodes",
                "n_edges",
                "n_components",
                "giant_size",
                F.round(F.col("giant_size") * 1000000.0 / F.col("n_nodes"))
                .cast("long")
                .alias("giant_share_ppm"),
            )
        )
        out = stats if out is None else out.unionAll(stats)
    return out


_FARE_CLASS_SQL = """
    WITH classed AS (
        SELECT o_orderdate AS d,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1
                    WHEN o_orderpriority = '2-HIGH' THEN 2
                    ELSE 3 END AS cls,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), fares AS (
        SELECT cls, CAST(ROUND(AVG(cents * 1.0)) AS BIGINT) AS fare
        FROM classed GROUP BY cls
    ), daily AS (
        SELECT d, cls, CAST(COUNT(*) AS BIGINT) AS dem
        FROM classed GROUP BY d, cls
    ), days AS (SELECT DISTINCT d FROM classed
    ), filled AS (
        SELECT days.d, c.cls, COALESCE(daily.dem, 0) AS dem
        FROM days CROSS JOIN (SELECT DISTINCT cls FROM classed) c
        LEFT JOIN daily ON daily.d = days.d AND daily.cls = c.cls
    )
"""


@query(
    "emsr_b_protection",
    oracle=_FARE_CLASS_SQL
    + """
    , d1 AS (SELECT dem FROM filled WHERE cls = 1
    ), d12 AS (
        SELECT a.dem + b.dem AS dem
        FROM (SELECT d, dem FROM filled WHERE cls = 1) a
        JOIN (SELECT d, dem FROM filled WHERE cls = 2) b ON b.d = a.d
    ), f AS (
        SELECT MAX(CASE WHEN cls = 1 THEN fare END) AS f1,
               MAX(CASE WHEN cls = 2 THEN fare END) AS f2,
               MAX(CASE WHEN cls = 3 THEN fare END) AS f3
        FROM fares
    ), wavg AS (
        -- EMSR-b aggregates classes 1-2 at their demand-weighted fare
        SELECT (f.f1 * (SELECT SUM(dem) FROM filled WHERE cls = 1)
                + f.f2 * (SELECT SUM(dem) FROM filled WHERE cls = 2))
               * 1.0
               / NULLIF((SELECT SUM(dem) FROM filled WHERE cls IN (1, 2)), 0)
                   AS fbar
        FROM f
    ), y1 AS (
        -- protect against class 2: smallest y with CDF(y) >= 1 - f2/f1
        SELECT CAST(COALESCE(MIN(dem), 0) AS BIGINT) AS y
        FROM (SELECT dem, CUME_DIST() OVER (ORDER BY dem) AS cd FROM d1), f
        WHERE cd >= GREATEST(LEAST(1.0 - f.f2 * 1.0 / f.f1, 0.999), 0.0)
    ), y2 AS (
        -- protect 1+2 against class 3 at the weighted fare
        SELECT CAST(COALESCE(MIN(dem), 0) AS BIGINT) AS y
        FROM (SELECT dem, CUME_DIST() OVER (ORDER BY dem) AS cd FROM d12),
             f, wavg
        WHERE cd >= GREATEST(LEAST(1.0 - f.f3 / wavg.fbar, 0.999), 0.0)
    )
    SELECT f.f1 AS fare1_cents, f.f2 AS fare2_cents, f.f3 AS fare3_cents,
           CAST(ROUND(wavg.fbar) AS BIGINT) AS weighted_fare12_cents,
           y1.y AS protect_class1,
           y2.y AS protect_class12
    FROM f, wavg, y1, y2
    """,
)
def emsr_b_protection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMSR-b protection levels for a three-fare-class system (fares =
    mean order value by priority tier, demands = empirical daily
    class counts): protect class 1 against class 2 at the Littlewood
    quantile P(D1 > y) = f2/f1, then protect classes {1,2} JOINTLY
    against class 3 at their demand-weighted fare — Belobaba's
    aggregation that made nested protection tractable and became the
    airline industry default. All quantiles are exact empirical
    PERCENTILE_DISC values, no Gaussian assumption — the multi-class
    generalization of `littlewood_protection_level`.

    Determinism: fares are rounded means; demand distributions are
    zero-filled exact counts; each protection level is one clamped
    empirical quantile.

    Scale shape: one class-day agg, one joint-demand join, scalar
    quantiles — the entire RM calculation at aggregate cost.
    """
    o = load_table(spark, sf_dir, "orders")
    classed = o.select(
        F.col("o_orderdate").alias("d"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .otherwise(3)
        .alias("cls"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    # ONE pass over the fact: the (day, class) grain carries both the
    # demand count and the exact integer cent sum, so fares, daily
    # demand, the day spine, and the class set all derive from this
    # ≤(days×3)-row relation — previously each was its own orders scan
    # (census: orders ×5)
    per_dc = classed.groupBy("d", "cls").agg(
        F.count(F.lit(1)).cast("long").alias("dem"),
        F.sum("cents").cast("long").alias("cents_sum"),
    )
    per_dc = _ckpt(per_dc)
    fares = per_dc.groupBy("cls").agg(
        F.round(F.sum("cents_sum") * 1.0 / F.sum("dem"))
        .cast("long")
        .alias("fare")
    )
    daily = per_dc.select("d", "cls", "dem")
    days = per_dc.select("d").distinct()
    clss = per_dc.select("cls").distinct()
    filled = (
        days.crossJoin(F.broadcast(clss))
        .join(daily, ["d", "cls"], "left")
        .select("d", "cls", F.coalesce("dem", F.lit(0)).alias("dem"))
        .transform(_ckpt)
    )
    f = fares.agg(
        F.max(F.when(F.col("cls") == 1, F.col("fare"))).alias("f1"),
        F.max(F.when(F.col("cls") == 2, F.col("fare"))).alias("f2"),
        F.max(F.when(F.col("cls") == 3, F.col("fare"))).alias("f3"),
    )
    sums = filled.groupBy("cls").agg(F.sum("dem").cast("long").alias("s"))
    s1 = sums.where(F.col("cls") == 1).select(F.col("s").alias("s1"))
    s2 = sums.where(F.col("cls") == 2).select(F.col("s").alias("s2"))
    wavg = (
        f.crossJoin(F.broadcast(s1))
        .crossJoin(F.broadcast(s2))
        .select(
            (
                (F.col("f1") * F.col("s1") + F.col("f2") * F.col("s2"))
                * 1.0
                / (F.col("s1") + F.col("s2"))
            ).alias("fbar")
        )
    )
    d1 = filled.where(F.col("cls") == 1).select("dem")
    a = filled.where(F.col("cls") == 1).select("d", F.col("dem").alias("dem1"))
    b = filled.where(F.col("cls") == 2).select("d", F.col("dem").alias("dem2"))
    d12 = a.join(b, "d").select((F.col("dem1") + F.col("dem2")).alias("dem"))
    q1 = f.select(
        F.greatest(
            F.least(1.0 - F.col("f2") * 1.0 / F.col("f1"), F.lit(0.999)),
            F.lit(0.0),
        ).alias("q")
    )
    cd1 = d1.select(
        "dem", F.cume_dist().over(Window.orderBy("dem")).alias("cd")
    )
    y1 = (
        cd1.crossJoin(F.broadcast(q1))
        .where(F.col("cd") >= F.col("q"))
        .agg(F.coalesce(F.min("dem"), F.lit(0)).alias("y1"))
    )
    q2 = f.crossJoin(wavg).select(
        F.greatest(
            F.least(1.0 - F.col("f3") / F.col("fbar"), F.lit(0.999)),
            F.lit(0.0),
        ).alias("q")
    )
    cd12 = d12.select(
        "dem", F.cume_dist().over(Window.orderBy("dem")).alias("cd")
    )
    y2 = (
        cd12.crossJoin(F.broadcast(q2))
        .where(F.col("cd") >= F.col("q"))
        .agg(F.coalesce(F.min("dem"), F.lit(0)).alias("y2"))
    )
    return (
        f.crossJoin(F.broadcast(wavg))
        .crossJoin(F.broadcast(y1))
        .crossJoin(F.broadcast(y2))
        .select(
            F.col("f1").alias("fare1_cents"),
            F.col("f2").alias("fare2_cents"),
            F.col("f3").alias("fare3_cents"),
            F.round("fbar").cast("long").alias("weighted_fare12_cents"),
            F.coalesce(F.col("y1"), F.lit(0)).cast("long").alias(
                "protect_class1"
            ),
            F.coalesce(F.col("y2"), F.lit(0)).cast("long").alias(
                "protect_class12"
            ),
        )
    )


@query(
    "emsr_expected_spill",
    oracle=_FARE_CLASS_SQL
    + """
    , caps AS (
        -- audit spill at three candidate protection levels for class 1
        SELECT UNNEST([5, 10, 20]) AS y
    ), d1 AS (SELECT dem FROM filled WHERE cls = 1
    ), spill AS (
        SELECT caps.y,
               AVG(GREATEST(d1.dem - caps.y, 0)) AS es,
               AVG(CASE WHEN d1.dem > caps.y THEN 1.0 ELSE 0.0 END) AS pf,
               AVG(d1.dem * 1.0) AS mu
        FROM caps CROSS JOIN d1 GROUP BY caps.y
    ), f AS (
        SELECT MAX(CASE WHEN cls = 1 THEN fare END) AS f1 FROM fares
    )
    SELECT CAST(spill.y AS BIGINT) AS protection_level,
           CAST(ROUND(spill.es * 1000) AS BIGINT) AS expected_spill_milli,
           CAST(ROUND(spill.pf * 1000000) AS BIGINT) AS p_fill_ppm,
           CAST(ROUND(spill.es * f.f1) AS BIGINT)
               AS expected_spill_revenue_cents,
           CAST(ROUND(spill.es / spill.mu * 1000000) AS BIGINT)
               AS spill_rate_ppm
    FROM spill, f
    """,
)
def emsr_expected_spill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected spill audit for class-1 demand at candidate
    protection levels 5 / 10 / 20 seats: the empirical first-order
    loss E[(D - y)+] prices the high-fare demand turned away when the
    protection is too small, the fill probability P(D > y) is the
    chance the protected block sells out, and spill revenue converts
    to cents at the class fare. This is the marginal analysis UNDER
    `emsr_b_protection`'s optimal levels — EMSR sets y where marginal
    spill revenue equals the displaced lower fare, and this table
    shows the whole curve those optima sit on (the
    `empirical_service_levels` machinery pointed at revenue instead
    of fill rate).

    Determinism: empirical loss over zero-filled integer demands;
    milli/ppm rounding.

    Scale shape: a 3-level grid against the ~2.4k-day demand
    relation — one conditional agg.
    """
    o = load_table(spark, sf_dir, "orders")
    classed = o.select(
        F.col("o_orderdate").alias("d"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .otherwise(3)
        .alias("cls"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    fares = classed.groupBy("cls").agg(
        F.round(F.avg(F.col("cents") * 1.0)).cast("long").alias("fare")
    )
    daily = classed.groupBy("d", "cls").agg(
        F.count(F.lit(1)).cast("long").alias("dem")
    )
    days = classed.select("d").distinct()
    d1 = (
        days.join(
            daily.where(F.col("cls") == 1).select("d", "dem"), "d", "left"
        )
        .select(F.coalesce("dem", F.lit(0)).alias("dem"))
        .transform(_ckpt)
    )
    caps = spark.createDataFrame([(5,), (10,), (20,)], "y long")
    spill = (
        caps.crossJoin(d1)
        .groupBy("y")
        .agg(
            F.avg(F.greatest(F.col("dem") - F.col("y"), F.lit(0))).alias("es"),
            F.avg(
                F.when(F.col("dem") > F.col("y"), 1.0).otherwise(0.0)
            ).alias("pf"),
            F.avg(F.col("dem") * 1.0).alias("mu"),
        )
    )
    f1 = fares.where(F.col("cls") == 1).select(F.col("fare").alias("f1"))
    return spill.crossJoin(F.broadcast(f1)).select(
        F.col("y").cast("long").alias("protection_level"),
        F.round(F.col("es") * 1000).cast("long").alias("expected_spill_milli"),
        F.round(F.col("pf") * 1000000).cast("long").alias("p_fill_ppm"),
        F.round(F.col("es") * F.col("f1")).cast("long").alias(
            "expected_spill_revenue_cents"
        ),
        F.round(F.col("es") / F.col("mu") * 1000000)
        .cast("long")
        .alias("spill_rate_ppm"),
    )


_LATE_ORDERS_SQL = """
    WITH ord AS (
        SELECT o.o_orderkey, o.o_orderpriority AS pri, c.c_nationkey AS nk,
               MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                   THEN 1 ELSE 0 END) AS late
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2, 3
    )
"""


@query(
    "smr_indirect_standardization",
    oracle=_LATE_ORDERS_SQL
    + """
    , ref AS (
        SELECT pri, AVG(late * 1.0) AS rate FROM ord GROUP BY pri
    ), per AS (
        SELECT ord.nk,
               CAST(SUM(ord.late) AS BIGINT) AS obs,
               SUM(ref.rate) AS expd,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ord JOIN ref ON ref.pri = ord.pri
        GROUP BY ord.nk
    )
    SELECT CAST(nk AS BIGINT) AS nation_key, n AS n_orders, obs AS observed,
           CAST(ROUND(expd * 1000) AS BIGINT) AS expected_milli,
           CAST(ROUND(obs / expd * 1000) AS BIGINT) AS smr_milli,
           CAST(ROUND(obs * POWER(1 - 1.0 / (9 * obs)
                - 1.96 / (3 * sqrt(obs * 1.0)), 3) / expd * 1000) AS BIGINT)
               AS smr_lo95_milli,
           CAST(ROUND((obs + 1) * POWER(1 - 1.0 / (9 * (obs + 1))
                + 1.96 / (3 * sqrt(obs + 1.0)), 3) / expd * 1000) AS BIGINT)
               AS smr_hi95_milli
    FROM per WHERE obs > 0
    """,
)
def smr_indirect_standardization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indirectly standardized late-shipment ratios per nation: each
    nation's EXPECTED late orders apply the global priority-specific
    late rates to its own priority mix, and SMR = observed/expected
    answers 'is this nation late beyond what its order mix predicts'
    — the epidemiology workhorse for comparing units with different
    case mixes, with Byar's cube-root approximation giving exact-
    Poisson-grade 95% limits without any gamma quantiles. The
    indirect counterpart of `backdoor_standardization`'s direct
    g-formula (indirect standardizes the RATES, direct the
    POPULATION — they disagree exactly when effects are
    heterogeneous).

    Determinism: observed counts are integers; expected is a sum of
    per-stratum exact rates; Byar limits are closed cube-root
    expressions, milli-rounded.

    Scale shape: one order-grain agg, one broadcast rate join, one
    per-nation rollup.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cst = load_table(spark, sf_dir, "customer")
    ord_ = (
        o.join(
            li.select(
                F.col("l_orderkey").alias("o_orderkey"), "l_shipdate"
            ),
            "o_orderkey",
        )
        .join(
            F.broadcast(
                cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .groupBy("o_orderkey", F.col("o_orderpriority").alias("pri"),
                 F.col("c_nationkey").alias("nk"))
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60),
                    1,
                ).otherwise(0)
            ).alias("late")
        )
        .transform(_ckpt)
    )
    ref = ord_.groupBy("pri").agg(F.avg(F.col("late") * 1.0).alias("rate"))
    per = (
        ord_.join(F.broadcast(ref), "pri")
        .groupBy("nk")
        .agg(
            F.sum("late").cast("long").alias("obs"),
            F.sum("rate").alias("expd"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        .where(F.col("obs") > 0)
    )
    lo = (
        F.col("obs")
        * F.pow(
            1
            - 1.0 / (9 * F.col("obs"))
            - 1.96 / (3 * F.sqrt(F.col("obs") * 1.0)),
            3,
        )
        / F.col("expd")
    )
    hi = (
        (F.col("obs") + 1)
        * F.pow(
            1
            - 1.0 / (9 * (F.col("obs") + 1))
            + 1.96 / (3 * F.sqrt(F.col("obs") + 1.0)),
            3,
        )
        / F.col("expd")
    )
    return per.select(
        F.col("nk").cast("long").alias("nation_key"),
        F.col("n").alias("n_orders"),
        F.col("obs").alias("observed"),
        F.round(F.col("expd") * 1000).cast("long").alias("expected_milli"),
        F.round(F.col("obs") / F.col("expd") * 1000)
        .cast("long")
        .alias("smr_milli"),
        F.round(lo * 1000).cast("long").alias("smr_lo95_milli"),
        F.round(hi * 1000).cast("long").alias("smr_hi95_milli"),
    )


@query(
    "funnel_plot_limits",
    oracle=_LATE_ORDERS_SQL
    + """
    , g AS (SELECT AVG(late * 1.0) AS p0 FROM ord
    ), per AS (
        SELECT nk, CAST(COUNT(*) AS BIGINT) AS n, AVG(late * 1.0) AS rate
        FROM ord GROUP BY nk
    )
    SELECT CAST(per.nk AS BIGINT) AS nation_key, per.n AS n_orders,
           CAST(ROUND(per.rate * 1000000) AS BIGINT) AS late_rate_ppm,
           CAST(ROUND((g.p0 - 1.96 * sqrt(g.p0 * (1 - g.p0) / per.n))
                * 1000000) AS BIGINT) AS lower95_ppm,
           CAST(ROUND((g.p0 + 1.96 * sqrt(g.p0 * (1 - g.p0) / per.n))
                * 1000000) AS BIGINT) AS upper95_ppm,
           CAST(CASE
               WHEN per.rate > g.p0 + 3.09 * sqrt(g.p0 * (1 - g.p0) / per.n)
               THEN 1
               WHEN per.rate < g.p0 - 3.09 * sqrt(g.p0 * (1 - g.p0) / per.n)
               THEN -1 ELSE 0 END AS BIGINT) AS outside_998_band
    FROM per, g
    """,
)
def funnel_plot_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spiegelhalter funnel plot for nation late-shipment rates: each
    nation's rate is judged against control limits that WIDEN as
    volume shrinks (p0 +/- z sqrt(p0(1-p0)/n)), with the 99.8% band
    (z = 3.09) flagging true outliers. League tables rank noise; the
    funnel ranks only what escapes its volume-adjusted band — small
    nations with extreme rates usually sit comfortably inside, the
    exact fallacy the plot was invented to kill in hospital
    profiling. Cross-check with `smr_indirect_standardization`: a
    nation outside the funnel AND with CI excluding 1000 milli after
    case-mix adjustment is a real signal.

    Determinism: rates are exact ratios; limits are closed binomial
    expressions per nation.

    Scale shape: one order-grain agg, one per-nation rollup, one
    broadcast scalar.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cst = load_table(spark, sf_dir, "customer")
    ord_ = (
        o.join(
            li.select(F.col("l_orderkey").alias("o_orderkey"), "l_shipdate"),
            "o_orderkey",
        )
        .join(
            F.broadcast(
                cst.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .groupBy("o_orderkey", F.col("c_nationkey").alias("nk"))
        .agg(
            F.max(
                F.when(
                    F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60),
                    1,
                ).otherwise(0)
            ).alias("late")
        )
        .transform(_ckpt)
    )
    g = ord_.agg(F.avg(F.col("late") * 1.0).alias("p0"))
    per = ord_.groupBy("nk").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg(F.col("late") * 1.0).alias("rate"),
    )
    se = F.sqrt(F.col("p0") * (1 - F.col("p0")) / F.col("n"))
    return per.crossJoin(F.broadcast(g)).select(
        F.col("nk").cast("long").alias("nation_key"),
        F.col("n").alias("n_orders"),
        F.round(F.col("rate") * 1000000).cast("long").alias("late_rate_ppm"),
        F.round((F.col("p0") - 1.96 * se) * 1000000)
        .cast("long")
        .alias("lower95_ppm"),
        F.round((F.col("p0") + 1.96 * se) * 1000000)
        .cast("long")
        .alias("upper95_ppm"),
        F.when(F.col("rate") > F.col("p0") + 3.09 * se, 1)
        .when(F.col("rate") < F.col("p0") - 3.09 * se, -1)
        .otherwise(0)
        .cast("long")
        .alias("outside_998_band"),
    )


_SAMPLED_GRAPH_SQL = """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), nodes AS (
        SELECT DISTINCT node,
               (48271 * ((48271 * node + 12345) % 2147483647) + 12345)
                   % 2147483647 % 100 AS coin
        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
    )
"""


@query(
    "graph_sampling_estimators",
    oracle=_SAMPLED_GRAPH_SQL
    + """
    , exact AS (
        SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n,
               CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS m,
               CAST((SELECT COUNT(*) FROM e e1
                     JOIN e e2 ON e2.u = e1.v
                     JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS BIGINT)
                   AS tri
    ), ps(p) AS (VALUES (30), (50)
    ), ind AS (
        SELECT ps.p,
               CAST(COUNT(*) AS BIGINT) AS mi
        FROM ps, e
        JOIN nodes nu ON nu.node = e.u
        JOIN nodes nv ON nv.node = e.v
        WHERE nu.coin < ps.p AND nv.coin < ps.p
        GROUP BY ps.p
    ), tri_s AS (
        SELECT ps.p, CAST(COUNT(*) AS BIGINT) AS ti
        FROM ps, e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        JOIN nodes na ON na.node = e1.u
        JOIN nodes nb ON nb.node = e1.v
        JOIN nodes nc ON nc.node = e2.v
        WHERE na.coin < ps.p AND nb.coin < ps.p AND nc.coin < ps.p
        GROUP BY ps.p
    )
    SELECT CAST(ind.p AS BIGINT) AS sample_pct,
           exact.m AS exact_edges,
           CAST(ROUND(ind.mi * 10000.0 / (ind.p * ind.p)) AS BIGINT)
               AS est_edges,
           CAST(ROUND(GREATEST(ind.mi * 10000.0 / (ind.p * ind.p) / exact.m,
                exact.m / (ind.mi * 10000.0 / (ind.p * ind.p))) * 1000)
                AS BIGINT) AS edges_q_error_milli,
           exact.tri AS exact_triangles,
           CAST(ROUND(tri_s.ti * 1000000.0 / (ind.p * ind.p * ind.p))
                AS BIGINT) AS est_triangles
    FROM ind JOIN tri_s ON tri_s.p = ind.p CROSS JOIN exact
    """,
)
def graph_sampling_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Induced-subgraph sampling estimators audited on the co-purchase
    graph: nodes survive with hash probability 30% / 50%, the induced
    subgraph keeps edges (triangles) whose 2 (3) endpoints all
    survive, and Horvitz-Thompson inverse-probability scaling (1/p^2,
    1/p^3) estimates the full-graph counts — checked against exact.
    The widening q-error from edges to triangles is the k-endpoint
    curse (retention p^k) — the quantitative reason triangle-heavy
    statistics need the full data or a smarter design
    (`star_sampling_degree_moments`'s incident-edge trick), while
    edge totals sample cheaply.

    Determinism: node coins are double-LCG residues; counts exact;
    estimators single expressions.

    Scale shape: the same order-blocked edge and triangle joins as
    the exact queries, each filtered by broadcast coin lookups — the
    audit costs one extra pass over machinery already proven.
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
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 2)
        .select("u", "v")
        .transform(_ckpt)
    )
    inner = (48271 * F.col("node") + 12345) % 2147483647
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .distinct()
        .select(
            "node", (((48271 * inner + 12345) % 2147483647) % 100).alias("coin")
        )
        .transform(_ckpt)
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri_rel = (
        e1.join(e2, F.col("e2.u") == F.col("e1.v"))
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.u")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("x"),
            F.col("e1.v").alias("y"),
            F.col("e2.v").alias("z"),
        )
        .transform(_ckpt)
    )
    exact = (
        nodes.agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(e.agg(F.count(F.lit(1)).cast("long").alias("m")))
        .crossJoin(tri_rel.agg(F.count(F.lit(1)).cast("long").alias("tri")))
    )
    ps = spark.createDataFrame([(30,), (50,)], "p long")
    nu = nodes.select(F.col("node").alias("u"), F.col("coin").alias("cu"))
    nv = nodes.select(F.col("node").alias("v"), F.col("coin").alias("cv"))
    ind = (
        e.join(F.broadcast(nu), "u")
        .join(F.broadcast(nv), "v")
        .crossJoin(F.broadcast(ps))
        .where((F.col("cu") < F.col("p")) & (F.col("cv") < F.col("p")))
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("mi"))
    )
    na = nodes.select(F.col("node").alias("x"), F.col("coin").alias("ca"))
    nb = nodes.select(F.col("node").alias("y"), F.col("coin").alias("cb"))
    nc = nodes.select(F.col("node").alias("z"), F.col("coin").alias("cc"))
    tri_s = (
        tri_rel.join(F.broadcast(na), "x")
        .join(F.broadcast(nb), "y")
        .join(F.broadcast(nc), "z")
        .crossJoin(F.broadcast(ps))
        .where(
            (F.col("ca") < F.col("p"))
            & (F.col("cb") < F.col("p"))
            & (F.col("cc") < F.col("p"))
        )
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("ti"))
    )
    est_e = F.col("mi") * 10000.0 / (F.col("p") * F.col("p"))
    return (
        ind.join(tri_s, "p")
        .crossJoin(F.broadcast(exact))
        .select(
            F.col("p").cast("long").alias("sample_pct"),
            F.col("m").alias("exact_edges"),
            F.round(est_e).cast("long").alias("est_edges"),
            F.round(
                F.greatest(est_e / F.col("m"), F.col("m") / est_e) * 1000
            )
            .cast("long")
            .alias("edges_q_error_milli"),
            F.col("tri").alias("exact_triangles"),
            F.round(
                F.col("ti") * 1000000.0 / (F.col("p") * F.col("p") * F.col("p"))
            )
            .cast("long")
            .alias("est_triangles"),
        )
    )


@query(
    "star_sampling_degree_moments",
    oracle=_SAMPLED_GRAPH_SQL
    + """
    , deg AS (
        SELECT node, coin, CAST(COUNT(*) AS BIGINT) AS k
        FROM (
            SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
        ) d JOIN nodes USING (node)
        GROUP BY node, coin
    ), exact AS (
        SELECT AVG(k * 1.0) AS mk, AVG(k * 1.0 * k) AS mk2,
               CAST(SUM(k) / 2 AS BIGINT) AS m
        FROM deg
    ), ps(p) AS (VALUES (30), (50)
    ), samp AS (
        SELECT ps.p, AVG(k * 1.0) AS mk, AVG(k * 1.0 * k) AS mk2,
               CAST(COUNT(*) AS BIGINT) AS ns,
               CAST(SUM(k) AS BIGINT) AS sk
        FROM ps, deg WHERE deg.coin < ps.p GROUP BY ps.p
    )
    SELECT CAST(samp.p AS BIGINT) AS sample_pct, samp.ns AS sampled_nodes,
           CAST(ROUND(samp.mk * 1000) AS BIGINT) AS est_mean_degree_milli,
           CAST(ROUND(exact.mk * 1000) AS BIGINT) AS exact_mean_degree_milli,
           CAST(ROUND(samp.sk * 100.0 / (2 * samp.p)) AS BIGINT)
               AS est_edges_star,
           exact.m AS exact_edges,
           CAST(ROUND(samp.mk2 / exact.mk2 * 1000) AS BIGINT)
               AS k2_ratio_milli
    FROM samp, exact
    """,
)
def star_sampling_degree_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star (incident-edge) sampling on the same graph and coins as
    `graph_sampling_estimators`: sampled nodes report their FULL
    degree, so the mean degree and second moment are unbiased at
    first order and edges estimate as sum(k)/2p — a single p in the
    denominator versus induced sampling's p^2, which is why star
    designs dominate for degree-distribution work (each sampled node
    carries its whole star). The k2 ratio column watches the
    heavy-degree tail's sampling luck — the quantity that controls
    `null_model_clustering_audit`'s configuration expectation.

    Determinism: same coins; degrees exact.

    Scale shape: one degree agg joined to coins — no edge-pair
    filtering at all, the design's point.
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
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 2)
        .select("u", "v")
    )
    inner = (48271 * F.col("node") + 12345) % 2147483647
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
        .select(
            "node",
            "k",
            (((48271 * inner + 12345) % 2147483647) % 100).alias("coin"),
        )
        .transform(_ckpt)
    )
    exact = deg.agg(
        F.avg(F.col("k") * 1.0).alias("mk"),
        F.avg(F.col("k") * 1.0 * F.col("k")).alias("mk2"),
        (F.sum("k") / 2).cast("long").alias("m"),
    )
    ps = spark.createDataFrame([(30,), (50,)], "p long")
    samp = (
        deg.crossJoin(F.broadcast(ps))
        .where(F.col("coin") < F.col("p"))
        .groupBy("p")
        .agg(
            F.avg(F.col("k") * 1.0).alias("smk"),
            F.avg(F.col("k") * 1.0 * F.col("k")).alias("smk2"),
            F.count(F.lit(1)).cast("long").alias("ns"),
            F.sum("k").cast("long").alias("sk"),
        )
    )
    return samp.crossJoin(F.broadcast(exact)).select(
        F.col("p").cast("long").alias("sample_pct"),
        F.col("ns").alias("sampled_nodes"),
        F.round(F.col("smk") * 1000).cast("long").alias(
            "est_mean_degree_milli"
        ),
        F.round(F.col("mk") * 1000).cast("long").alias(
            "exact_mean_degree_milli"
        ),
        F.round(F.col("sk") * 100.0 / (2 * F.col("p")))
        .cast("long")
        .alias("est_edges_star"),
        F.col("m").alias("exact_edges"),
        F.round(F.col("smk2") / F.col("mk2") * 1000)
        .cast("long")
        .alias("k2_ratio_milli"),
    )


_ATTR_PATTERNS_SQL = """
    WITH q75 AS (
        SELECT PERCENTILE_DISC(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS q
        FROM orders
    ), pat AS (
        SELECT o.o_orderkey,
               CAST(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                    + CASE WHEN MAX(CASE WHEN l.l_shipdate >
                          o.o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END)
                          = 1 THEN 2 ELSE 0 END
                    + CASE WHEN MAX(CASE WHEN l.l_returnflag = 'R'
                          THEN 1 ELSE 0 END) = 1 THEN 4 ELSE 0 END
                    + CASE WHEN o.o_totalprice > q75.q THEN 8 ELSE 0 END
                    AS BIGINT) AS p
        FROM orders o
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        CROSS JOIN q75
        GROUP BY o.o_orderkey, o.o_orderpriority, o.o_totalprice, q75.q
    )
"""


@query(
    "fca_concept_census",
    oracle=_ATTR_PATTERNS_SQL
    + """
    , masks AS (SELECT UNNEST(generate_series(0, 15)) AS s
    ), per AS (
        SELECT masks.s,
               CAST(COUNT(CASE WHEN (pat.p & masks.s) = masks.s THEN 1 END)
                    AS BIGINT) AS support,
               COALESCE(BIT_AND(CASE WHEN (pat.p & masks.s) = masks.s
                        THEN pat.p END), 15) AS intent
        FROM masks CROSS JOIN pat
        GROUP BY masks.s
    )
    SELECT CAST(s AS BIGINT) AS attr_mask, support,
           CAST(intent AS BIGINT) AS closure_mask,
           CAST(CASE WHEN intent = s THEN 1 ELSE 0 END AS BIGINT)
               AS is_concept
    FROM per
    """,
)
def fca_concept_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Formal concept analysis over four order attributes (urgent /
    late / returned / top-quartile value, as a 4-bit pattern): every
    attribute subset S gets its extent support (orders whose pattern
    contains S) and its CLOSURE — the bitwise AND of all extent
    patterns, i.e. every attribute those orders share. S is a formal
    concept iff it equals its closure; the concept count is the
    Galois lattice size, the algebraic skeleton of the data that
    `association_rules_parts` explores statistically (every closed
    itemset = one concept; rules between non-closed sets are
    redundant, which is why closed-set mining compresses rulebases).

    Determinism: patterns are exact bitmasks (the value attribute
    cuts at an exact PERCENTILE_DISC); closure is an integer BIT_AND
    aggregate with the empty-extent closure defined as the full mask.

    Scale shape: one order-grain agg to 4-bit patterns; the 16-mask
    lattice rides a single conditional aggregate pass.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    q75 = o.agg(
        F.expr(
            "percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("q")
    )
    pat = (
        o.join(
            li.select(
                F.col("l_orderkey").alias("o_orderkey"),
                "l_shipdate",
                "l_returnflag",
            ),
            "o_orderkey",
        )
        .crossJoin(F.broadcast(q75))
        .groupBy("o_orderkey", "o_orderpriority", "o_totalprice", "q")
        .agg(
            (
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
                + F.when(
                    F.max(
                        F.when(
                            F.col("l_shipdate")
                            > F.date_add(F.col("o_orderdate"), 60),
                            1,
                        ).otherwise(0)
                    )
                    == 1,
                    2,
                ).otherwise(0)
                + F.when(
                    F.max(
                        F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
                    )
                    == 1,
                    4,
                ).otherwise(0)
                + F.when(F.col("o_totalprice") > F.col("q"), 8).otherwise(0)
            )
            .cast("long")
            .alias("p")
        )
        .select("p")
        .transform(_ckpt)
    )
    masks = spark.range(0, 16).select(F.col("id").alias("s"))
    per = (
        masks.crossJoin(pat)
        .groupBy("s")
        .agg(
            F.count(
                F.when(
                    F.col("p").bitwiseAND(F.col("s")) == F.col("s"), 1
                )
            )
            .cast("long")
            .alias("support"),
            F.coalesce(
                F.expr(
                    "bit_and(CASE WHEN (p & s) = s THEN p END)"
                ),
                F.lit(15),
            ).alias("intent"),
        )
    )
    return per.select(
        F.col("s").cast("long").alias("attr_mask"),
        "support",
        F.col("intent").cast("long").alias("closure_mask"),
        F.when(F.col("intent") == F.col("s"), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_concept"),
    )


@query(
    "exact_implication_mining",
    oracle=_ATTR_PATTERNS_SQL
    + """
    , bits AS (SELECT UNNEST([1, 2, 4, 8]) AS b
    ), pairs AS (
        SELECT a.b AS prem, c.b AS concl
        FROM bits a JOIN bits c ON c.b <> a.b
    ), stats AS (
        SELECT pairs.prem, pairs.concl,
               CAST(COUNT(CASE WHEN (pat.p & pairs.prem) = pairs.prem
                    THEN 1 END) AS BIGINT) AS sup_prem,
               CAST(COUNT(CASE WHEN (pat.p & (pairs.prem + pairs.concl))
                    = pairs.prem + pairs.concl THEN 1 END) AS BIGINT)
                   AS sup_joint
        FROM pairs CROSS JOIN pat
        GROUP BY pairs.prem, pairs.concl
    )
    SELECT CAST(prem AS BIGINT) AS premise_bit,
           CAST(concl AS BIGINT) AS conclusion_bit,
           sup_prem AS support_premise, sup_joint AS support_joint,
           CAST(ROUND(sup_joint * 1000000.0 / NULLIF(sup_prem, 0))
                AS BIGINT) AS confidence_ppm,
           CAST(CASE WHEN sup_prem > 0 AND sup_joint = sup_prem
                THEN 1 ELSE 0 END AS BIGINT) AS is_exact
    FROM stats
    """,
)
def exact_implication_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribute-implication mining over the same 4-bit order
    patterns: for every ordered attribute pair, the implication
    x -> y holds EXACTLY iff support(x) = support(x and y) — the
    Duquenne-Guigues view where rules are logic, not statistics. The
    confidence column shows the full spectrum; is_exact flags the
    (rare) deterministic dependencies, which are precisely the edges
    of `fca_concept_census`'s lattice collapsed onto single
    attributes, and the single-attribute case of
    `functional_dependency_audit`'s column-level FDs.

    Determinism: all supports are exact bitmask counts.

    Scale shape: the 12-pair grid rides one conditional aggregate
    over the pattern relation.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    q75 = o.agg(
        F.expr(
            "percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("q")
    )
    pat = (
        o.join(
            li.select(
                F.col("l_orderkey").alias("o_orderkey"),
                "l_shipdate",
                "l_returnflag",
            ),
            "o_orderkey",
        )
        .crossJoin(F.broadcast(q75))
        .groupBy("o_orderkey", "o_orderpriority", "o_totalprice", "q")
        .agg(
            (
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
                + F.when(
                    F.max(
                        F.when(
                            F.col("l_shipdate")
                            > F.date_add(F.col("o_orderdate"), 60),
                            1,
                        ).otherwise(0)
                    )
                    == 1,
                    2,
                ).otherwise(0)
                + F.when(
                    F.max(
                        F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
                    )
                    == 1,
                    4,
                ).otherwise(0)
                + F.when(F.col("o_totalprice") > F.col("q"), 8).otherwise(0)
            )
            .cast("long")
            .alias("p")
        )
        .select("p")
        .transform(_ckpt)
    )
    bits = spark.createDataFrame([(1,), (2,), (4,), (8,)], "b long")
    a, c = bits.alias("ba"), bits.alias("bc")
    pairs = a.join(c, F.col("bc.b") != F.col("ba.b")).select(
        F.col("ba.b").alias("prem"), F.col("bc.b").alias("concl")
    )
    stats = (
        pairs.crossJoin(pat)
        .groupBy("prem", "concl")
        .agg(
            F.count(
                F.when(
                    F.col("p").bitwiseAND(F.col("prem")) == F.col("prem"), 1
                )
            )
            .cast("long")
            .alias("sup_prem"),
            F.count(
                F.when(
                    F.col("p").bitwiseAND(F.col("prem") + F.col("concl"))
                    == F.col("prem") + F.col("concl"),
                    1,
                )
            )
            .cast("long")
            .alias("sup_joint"),
        )
    )
    return stats.select(
        F.col("prem").cast("long").alias("premise_bit"),
        F.col("concl").cast("long").alias("conclusion_bit"),
        F.col("sup_prem").alias("support_premise"),
        F.col("sup_joint").alias("support_joint"),
        F.round(
            F.col("sup_joint")
            * 1000000.0
            / F.when(F.col("sup_prem") > 0, F.col("sup_prem"))
        )
        .cast("long")
        .alias("confidence_ppm"),
        F.when(
            (F.col("sup_prem") > 0) & (F.col("sup_joint") == F.col("sup_prem")),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("is_exact"),
    )


@query(
    "cache_residency_economics",
    oracle="""
    WITH acc AS (
        SELECT p.p_brand AS k, l.l_shipdate AS d,
               LAG(l.l_shipdate) OVER (
                   PARTITION BY p.p_brand
                   ORDER BY l.l_shipdate, l.l_orderkey, l.l_linenumber
               ) AS prev
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), gaps AS (
        SELECT CAST(date_diff('day', prev, d) AS BIGINT) AS g
        FROM acc WHERE prev IS NOT NULL
    ), ts(t) AS (VALUES (7), (30), (90)
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM gaps)
    SELECT CAST(ts.t AS BIGINT) AS retention_days,
           n.n AS n_reaccesses,
           CAST(SUM(CASE WHEN g <= ts.t THEN 1 ELSE 0 END) AS BIGINT)
               AS hits_if_retained,
           CAST(ROUND(SUM(CASE WHEN g <= ts.t THEN 1 ELSE 0 END)
                * 1000000.0 / n.n) AS BIGINT) AS hit_share_ppm
    FROM ts CROSS JOIN gaps CROSS JOIN n
    GROUP BY ts.t, n.n
    """,
)
def cache_residency_economics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gray-Putzolu five-minute-rule economics on the brand access
    stream: each brand's inter-access TIME gaps (ship-date order,
    total tie-break) feed the question 'if pages stayed cached for T
    days, what share of re-references would hit?' at retention
    horizons 7 / 30 / 90 days. Where `mattson_reuse_profile` works in
    reuse-DISTANCE (capacity-limited caches),
    this works in reuse-TIME (TTL/retention-limited caches and the
    break-even residency the five-minute rule prices against RAM vs
    storage cost); the two together pick between LRU and TTL
    designs.

    Determinism: gaps are exact day differences over a totally
    ordered stream; threshold shares are exact counts.

    Scale shape: one LAG window per brand partition, a 3-threshold
    conditional agg — no pair joins at all (time gaps need only the
    predecessor, unlike stack distances).
    """
    li = load_table(spark, sf_dir, "lineitem")
    prt = load_table(spark, sf_dir, "part")
    acc = li.join(
        F.broadcast(prt.select(F.col("p_partkey").alias("l_partkey"), "p_brand")),
        "l_partkey",
    ).select(
        F.col("p_brand").alias("k"),
        F.col("l_shipdate").alias("d"),
        F.lag("l_shipdate")
        .over(
            Window.partitionBy("p_brand").orderBy(
                "l_shipdate", "l_orderkey", "l_linenumber"
            )
        )
        .alias("prev"),
    )
    gaps = acc.where(F.col("prev").isNotNull()).select(
        F.datediff("d", "prev").cast("long").alias("g")
    )
    ts = spark.createDataFrame([(7,), (30,), (90,)], "t long")
    n = gaps.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        gaps.crossJoin(F.broadcast(ts))
        .crossJoin(F.broadcast(n))
        .groupBy("t", "n")
        .agg(
            F.sum(F.when(F.col("g") <= F.col("t"), 1).otherwise(0))
            .cast("long")
            .alias("hits_if_retained")
        )
        .select(
            F.col("t").cast("long").alias("retention_days"),
            F.col("n").alias("n_reaccesses"),
            "hits_if_retained",
            F.round(F.col("hits_if_retained") * 1000000.0 / F.col("n"))
            .cast("long")
            .alias("hit_share_ppm"),
        )
    )


@query(
    "group_commit_window_audit",
    oracle="""
    WITH ev AS (
        SELECT CAST(epoch_ms(ts) AS BIGINT) AS ms FROM events
    ), ws(w) AS (VALUES (60000), (600000), (3600000)
    ), batched AS (
        SELECT ws.w, ev.ms // ws.w AS batch,
               (ev.ms // ws.w + 1) * ws.w - ev.ms AS wait
        FROM ev CROSS JOIN ws
    ), per AS (
        SELECT w, batch, CAST(COUNT(*) AS BIGINT) AS sz,
               AVG(wait * 1.0) AS mw
        FROM batched GROUP BY w, batch
    )
    SELECT CAST(w / 60000 AS BIGINT) AS window_minutes,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(ROUND(AVG(sz * 1.0) * 1000) AS BIGINT) AS avg_batch_milli,
           CAST(MAX(sz) AS BIGINT) AS max_batch,
           CAST(ROUND(SUM(mw * sz) / SUM(sz)) AS BIGINT) AS mean_wait_ms
    FROM per GROUP BY w
    """,
)
def group_commit_window_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-commit batching economics on the event stream: tumbling
    windows of 1 / 10 / 60 minutes batch events, and the audit prices
    the trade — bigger windows mean fewer, fatter commits (n_batches
    down, avg batch up: throughput) but every event waits until its
    window closes (mean_wait up: latency). The batch-size and wait
    columns ARE the group-commit / micro-batch knob curve that
    Structured Streaming trigger intervals, WAL flushing, and
    Kafka linger.ms all tune — measured on real arrival
    irregularity rather than a Poisson assumption
    (`burstiness_memory_coords` says how wrong that assumption is).

    Determinism: epoch-ms integers, integer window floors, exact
    counts; waits are exact integer differences.

    Scale shape: stateless window assignment + two-level agg,
    map-side combined on (window, batch).
    """
    ev = load_table(spark, sf_dir, "events")
    ms = ev.select(
        F.unix_millis(F.col("ts").cast("timestamp")).cast("long").alias("ms")
    )
    ws = spark.createDataFrame([(60000,), (600000,), (3600000,)], "w long")
    batched = ms.crossJoin(F.broadcast(ws)).select(
        "w",
        F.floor(F.col("ms") / F.col("w")).cast("long").alias("batch"),
        (
            (F.floor(F.col("ms") / F.col("w")) + 1) * F.col("w") - F.col("ms")
        ).alias("wait"),
    )
    per = batched.groupBy("w", "batch").agg(
        F.count(F.lit(1)).cast("long").alias("sz"),
        F.avg(F.col("wait") * 1.0).alias("mw"),
    )
    return per.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_batches"),
        F.round(F.avg(F.col("sz") * 1.0) * 1000)
        .cast("long")
        .alias("avg_batch_milli"),
        F.max("sz").cast("long").alias("max_batch"),
        F.round(F.sum(F.col("mw") * F.col("sz")) / F.sum("sz"))
        .cast("long")
        .alias("mean_wait_ms"),
    ).select(
        (F.col("w") / 60000).cast("long").alias("window_minutes"),
        "n_batches",
        "avg_batch_milli",
        "max_batch",
        "mean_wait_ms",
    )


_DP_DAILY_SQL = """
    WITH daily AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
               CAST(c AS BIGINT) AS c
        FROM (SELECT o_orderdate AS d, COUNT(*) AS c FROM orders GROUP BY 1)
    ), pref AS (
        SELECT t, CAST(SUM(c) OVER (ORDER BY t) AS BIGINT) AS true_pref
        FROM daily
    )
"""

_LAP_NOISE = (
    "(-{b} * SIGN(u - 0.5) * ln(1 - 2 * ABS(u - 0.5) + 1e-12))"
)


def _dp_tree_oracle() -> str:
    # dyadic decomposition of prefix [1..t]: one node per set bit of t
    lap = _LAP_NOISE.format(b="(12.0 / 1.0)")  # b = levels/eps, eps=1
    lap1 = _LAP_NOISE.format(b="1.0")
    return (
        _DP_DAILY_SQL
        + f"""
    , lv AS (SELECT UNNEST(generate_series(0, 11)) AS l
    ), nodes AS (
        -- noise for dyadic node (level l, index i) from a hash uniform
        SELECT pref.t, lv.l, pref.t // CAST(POWER(2, lv.l) AS BIGINT) AS i
        FROM pref CROSS JOIN lv
        WHERE (pref.t // CAST(POWER(2, lv.l) AS BIGINT)) % 2 = 1
    ), tree_noise AS (
        SELECT t, SUM({lap}) AS noise
        FROM (
            SELECT t, l, i,
                   (((48271 * ((48271 * (l * 131071 + i) + 12345)
                      % 2147483647) + 12345) % 2147483647) % 999983 + 1)
                   / 999984.0 AS u
            FROM nodes
        ) GROUP BY t
    ), naive_noise AS (
        -- per-step noise accumulates over the prefix
        SELECT a.t, SUM({lap1}) AS noise
        FROM (
            SELECT a.t, b.t AS s,
                   (((48271 * ((48271 * (b.t * 999979) + 12345)
                      % 2147483647) + 12345) % 2147483647) % 999983 + 1)
                   / 999984.0 AS u
            FROM pref a JOIN pref b ON b.t <= a.t
        ) a GROUP BY a.t
    ), scored AS (
        SELECT 'tree' AS mechanism, AVG(ABS(tn.noise)) AS mae,
               MAX(ABS(tn.noise)) AS mx
        FROM tree_noise tn
        UNION ALL
        SELECT 'naive_prefix', AVG(ABS(nn.noise)), MAX(ABS(nn.noise))
        FROM naive_noise nn
    )
    SELECT mechanism,
           CAST(ROUND(mae * 1000) AS BIGINT) AS mae_milli,
           CAST(ROUND(mx * 1000) AS BIGINT) AS max_err_milli
    FROM scored
    """
    )


@query("dp_tree_release_audit", oracle=_dp_tree_oracle())
def dp_tree_release_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private CONTINUAL counting, two mechanisms
    replayed with derandomized Laplace noise (inverse-CDF transform
    of hash uniforms): the binary-tree mechanism decomposes each
    prefix [1..t] into its set-bit dyadic nodes, each noised once at
    scale levels/eps, so prefix error grows like log^1.5 T; the naive
    mechanism noises every daily increment and lets prefix error grow
    like sqrt(T). The MAE/max columns measure the celebrated
    Chan-Shi-Song/Dwork gap on this calendar — the reason every
    production DP dashboard releases counters through a tree, and the
    continual-observation sequel to the one-shot
    `dp_noisy_counts_segments`.

    Determinism: noise is a closed-form transform of (node-keyed)
    double-LCG uniforms — same draws on both engines and every
    replay; the 1e-12 log guard handles the u = 0.5 atom.

    Scale shape: the tree's node explosion is 12 conditional rows
    per day (set bits); the naive prefix is a triangular join of the
    tiny day relation — both trivially parallel.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).select(
        F.row_number().over(Window.orderBy("d")).cast("long").alias("t"), "c"
    )
    pref = daily.select(
        "t", F.sum("c").over(Window.orderBy("t")).cast("long").alias("true_pref")
    ).transform(_ckpt)
    lv = spark.range(0, 12).select(F.col("id").alias("l"))
    nodes = (
        pref.crossJoin(F.broadcast(lv))
        .select(
            "t",
            "l",
            F.floor(F.col("t") / F.pow(F.lit(2.0), F.col("l")))
            .cast("long")
            .alias("i"),
        )
        .where(F.col("i") % 2 == 1)
    )
    uhash = (
        (
            (
                48271
                * (
                    (48271 * (F.col("l") * 131071 + F.col("i")) + 12345)
                    % 2147483647
                )
                + 12345
            )
            % 2147483647
        )
        % 999983
        + 1
    ) / 999984.0
    lap = lambda u, b: -b * F.signum(u - 0.5) * F.log(
        1 - 2 * F.abs(u - 0.5) + 1e-12
    )
    tree_noise = (
        nodes.select("t", uhash.alias("u"))
        .groupBy("t")
        .agg(F.sum(lap(F.col("u"), 12.0)).alias("noise"))
    )
    a, b = pref.alias("a"), pref.alias("b")
    uh2 = (
        (
            (
                48271
                * ((48271 * (F.col("b.t") * 999979) + 12345) % 2147483647)
                + 12345
            )
            % 2147483647
        )
        % 999983
        + 1
    ) / 999984.0
    naive_noise = (
        a.join(b, F.col("b.t") <= F.col("a.t"))
        .select(F.col("a.t").alias("t"), uh2.alias("u"))
        .groupBy("t")
        .agg(F.sum(lap(F.col("u"), 1.0)).alias("noise"))
    )
    tr = tree_noise.agg(
        F.lit("tree").alias("mechanism"),
        F.round(F.avg(F.abs("noise")) * 1000).cast("long").alias("mae_milli"),
        F.round(F.max(F.abs("noise")) * 1000).cast("long").alias(
            "max_err_milli"
        ),
    )
    nv = naive_noise.agg(
        F.lit("naive_prefix").alias("mechanism"),
        F.round(F.avg(F.abs("noise")) * 1000).cast("long").alias("mae_milli"),
        F.round(F.max(F.abs("noise")) * 1000).cast("long").alias(
            "max_err_milli"
        ),
    )
    return tr.unionAll(nv)


@query(
    "svt_above_threshold_replay",
    oracle=_DP_DAILY_SQL
    + """
    , g AS (SELECT AVG(c * 1.0) AS mu FROM daily
    ), noisy AS (
        SELECT daily.t, daily.c,
               daily.c + (-4.0 * SIGN(u - 0.5)
                   * ln(1 - 2 * ABS(u - 0.5) + 1e-12)) AS nc,
               g.mu * 1.3 AS thr
        FROM (
            SELECT t, c,
                   (((48271 * ((48271 * (t * 777767) + 12345) % 2147483647)
                      + 12345) % 2147483647) % 999983 + 1) / 999984.0 AS u
            FROM daily
        ) daily, g
    ), alarms AS (
        SELECT t, c, nc,
               ROW_NUMBER() OVER (ORDER BY t) AS alarm_no
        FROM noisy WHERE nc > thr
    ), truthset AS (
        SELECT t FROM noisy WHERE c > thr
    ), first5 AS (
        SELECT t, c, alarm_no FROM alarms WHERE alarm_no <= 5
    )
    SELECT CAST(f.alarm_no AS BIGINT) AS alarm_no,
           CAST(f.t AS BIGINT) AS day_index,
           CAST(f.c AS BIGINT) AS true_count,
           CAST(CASE WHEN tr.t IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS truly_above
    FROM first5 f LEFT JOIN truthset tr ON tr.t = f.t
    """,
)
def svt_above_threshold_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AboveThreshold (the sparse-vector technique's core) replayed on
    daily counts: each day's count gets derandomized Laplace noise
    (scale 4) and is compared against a fixed threshold (1.3x the
    mean); the first five noisy alarms are released, annotated with
    whether the TRUE count was actually above — the per-alarm
    precision of a DP monitor. SVT's selling point is paying privacy
    only for alarms, not for every day monitored; its cost is exactly
    the false alarms this table exposes (noise scale vs threshold
    margin). The alarm-stream sibling of
    `evalue_supermartingale_monitor` under a privacy constraint
    instead of a validity one.

    Determinism: day-keyed hash uniforms through the inverse-CDF
    Laplace; alarm ordering is by day with an exact threshold
    comparison.

    Scale shape: stateless noising + one ordered row_number — the
    non-adaptive variant precisely so the replay stays one window
    pass.
    """
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).select(
        F.row_number().over(Window.orderBy("d")).cast("long").alias("t"), "c"
    ).transform(_ckpt)
    g = daily.agg(F.avg(F.col("c") * 1.0).alias("mu"))
    u = (
        (
            (
                48271
                * ((48271 * (F.col("t") * 777767) + 12345) % 2147483647)
                + 12345
            )
            % 2147483647
        )
        % 999983
        + 1
    ) / 999984.0
    noisy = daily.crossJoin(F.broadcast(g)).select(
        "t",
        "c",
        (
            F.col("c")
            + (
                -4.0
                * F.signum(u - 0.5)
                * F.log(1 - 2 * F.abs(u - 0.5) + 1e-12)
            )
        ).alias("nc"),
        (F.col("mu") * 1.3).alias("thr"),
    ).transform(_ckpt)
    alarms = (
        noisy.where(F.col("nc") > F.col("thr"))
        .withColumn("alarm_no", F.row_number().over(Window.orderBy("t")))
        .where(F.col("alarm_no") <= 5)
    )
    truthset = noisy.where(F.col("c") > F.col("thr")).select(
        F.col("t").alias("tt")
    )
    return alarms.join(
        F.broadcast(truthset), alarms.t == F.col("tt"), "left"
    ).select(
        F.col("alarm_no").cast("long").alias("alarm_no"),
        F.col("t").cast("long").alias("day_index"),
        F.col("c").cast("long").alias("true_count"),
        F.when(F.col("tt").isNotNull(), 1).otherwise(0).cast("long").alias(
            "truly_above"
        ),
    )


@query(
    "airport_game_shapley",
    oracle="""
    WITH claims AS (
        SELECT c.c_mktsegment AS seg,
               CAST(MAX(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS c
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
    ), ranked AS (
        SELECT seg, c,
               CAST(ROW_NUMBER() OVER (ORDER BY c, seg) AS BIGINT) AS r,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM claims
    ), incs AS (
        SELECT r, n, seg, c,
               c - COALESCE(LAG(c) OVER (ORDER BY r), 0) AS inc
        FROM ranked
    ), shap AS (
        -- increment k is shared by the n-k+1 players needing it
        SELECT a.seg, a.c,
               SUM(b.inc * 1.0 / (b.n - b.r + 1)) AS cost
        FROM incs a JOIN incs b ON b.r <= a.r
        GROUP BY a.seg, a.c
    ), tot AS (SELECT MAX(c) AS total_cost FROM claims)
    SELECT shap.seg AS segment, shap.c AS required_capacity_cents,
           CAST(ROUND(shap.cost) AS BIGINT) AS shapley_cost_cents,
           CAST(ROUND(shap.cost * 1000000.0 / tot.total_cost) AS BIGINT)
               AS cost_share_ppm
    FROM shap, tot
    """,
)
def airport_game_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Airport-game Shapley cost allocation (Littlechild-Owen): the
    five market segments each 'need a runway' sized to their largest
    order, total cost equals the longest requirement, and the Shapley
    value — normally a 5!-permutation sum — collapses to the closed
    form 'each capacity INCREMENT is split equally among the players
    who need at least that much'. The canonical fair split of a
    shared-infrastructure cost (peak capacity, the biggest machine
    type, the widest pipe), and the cooperative-game sibling of
    `shapley_channel_attribution` (whose game has no such closed
    form and needs enumeration).

    Determinism: claims are exact maxima; increments and harmonic
    shares are window expressions with a (claim, segment) total
    order; cent rounding.

    Scale shape: one agg to 5 claims, one triangular self-join of a
    5-row relation — the theorem does the exponential work.
    """
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    claims = (
        o.join(
            F.broadcast(
                cst.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
            ),
            "o_custkey",
        )
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.max(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("c")
        )
    )
    ranked = claims.select(
        "seg",
        "c",
        F.row_number().over(Window.orderBy("c", "seg")).cast("long").alias("r"),
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
    incs = ranked.select(
        "r",
        "n",
        "seg",
        "c",
        (
            F.col("c")
            - F.coalesce(F.lag("c").over(Window.orderBy("r")), F.lit(0))
        ).alias("inc"),
    ).transform(_ckpt)
    a, b = incs.alias("a"), incs.alias("b")
    shap = (
        a.join(b, F.col("b.r") <= F.col("a.r"))
        .groupBy(F.col("a.seg").alias("seg"), F.col("a.c").alias("c"))
        .agg(
            F.sum(
                F.col("b.inc") * 1.0 / (F.col("b.n") - F.col("b.r") + 1)
            ).alias("cost")
        )
    )
    tot = claims.agg(F.max("c").alias("total_cost"))
    return shap.crossJoin(F.broadcast(tot)).select(
        F.col("seg").alias("segment"),
        F.col("c").alias("required_capacity_cents"),
        F.round("cost").cast("long").alias("shapley_cost_cents"),
        F.round(F.col("cost") * 1000000.0 / F.col("total_cost"))
        .cast("long")
        .alias("cost_share_ppm"),
    )


@query(
    "bankruptcy_division_rules",
    oracle="""
    WITH claims AS (
        SELECT c.c_nationkey AS nk,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS c
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
    ), est AS (
        SELECT CAST(SUM(c) / 2 AS BIGINT) AS e, CAST(SUM(c) AS BIGINT) AS tc,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM claims
    ), sorted_c AS (
        SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c, nk) AS BIGINT) AS r,
               CAST(SUM(c) OVER (ORDER BY c, nk) AS BIGINT) AS cum
        FROM claims
    ), lam AS (
        -- CEA: sum min(c_i, lambda) = E; on the interval after rank r,
        -- sum = cum_r + (n - r) * lambda
        SELECT MIN((est.e - s.cum) * 1.0 / (est.n - s.r)) AS v
        FROM sorted_c s, est
        WHERE s.r < est.n
          AND s.cum + (est.n - s.r) * s.c >= est.e
          AND (est.e - s.cum) >= 0
    ), lamz AS (
        -- handle the lambda-below-smallest-claim corner
        SELECT CASE WHEN (SELECT MIN(c) FROM claims) * (SELECT n FROM est)
                    >= (SELECT e FROM est)
               THEN (SELECT e * 1.0 / n FROM est)
               ELSE (SELECT v FROM lam) END AS lam
    ), mu AS (
        -- CEL: sum max(c_i - mu, 0) = E; above rank r the losses hit
        -- claims r+1..n: (tc - cum_r) - (n - r) * mu = E
        SELECT MIN(((est.tc - s.cum) - est.e) * 1.0 / (est.n - s.r)) AS v
        FROM sorted_c s, est
        WHERE s.r < est.n
          AND (est.tc - s.cum) - (est.n - s.r) * s.c <= est.e
          AND ((est.tc - s.cum) - est.e) >= 0
    ), muz AS (
        SELECT CASE WHEN (SELECT tc - e FROM est)
                    <= (SELECT MIN(c) FROM claims) * (SELECT n FROM est)
               THEN (SELECT (tc - e) * 1.0 / n FROM est)
               ELSE (SELECT v FROM mu) END AS mu
    )
    SELECT CAST(claims.nk AS BIGINT) AS nation_key,
           claims.c AS claim_cents,
           CAST(ROUND(claims.c * 1.0 * est.e / est.tc) AS BIGINT)
               AS proportional_cents,
           CAST(ROUND(LEAST(claims.c * 1.0, lamz.lam)) AS BIGINT)
               AS cea_cents,
           CAST(ROUND(GREATEST(claims.c - muz.mu, 0)) AS BIGINT)
               AS cel_cents
    FROM claims, est, lamz, muz
    """,
)
def bankruptcy_division_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bankruptcy division rules on nation revenue claims with an
    estate of half the total: proportional division, constrained
    equal AWARDS (everyone gets min(claim, lambda) — the rule that
    protects small claimants), and constrained equal LOSSES (everyone
    loses max-0-capped mu — the rule that protects large ones). The
    piecewise-linear lambda and mu solve exactly on the sorted-claim
    cumulative sums (the `pandora_reservation_prices` interval-solve
    pattern), and each rule disburses exactly the estate (pinned).
    O'Neill's bankruptcy problem is THE testbed for fairness
    axiomatics — three defensible answers to one division question,
    their per-nation spread quantifying what 'fair' costs whom.

    Determinism: claims are exact cents; interval solves are single
    divisions selected by exact inequalities; corner cases
    (lambda below the smallest claim) handled by closed forms.

    Scale shape: one fact agg to 25 claims, one sorted cumsum
    window, scalar solves broadcast back.
    """
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    claims = (
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
            .alias("c")
        )
        .transform(_ckpt)
    )
    est = claims.agg(
        (F.sum("c") / 2).cast("long").alias("e"),
        F.sum("c").cast("long").alias("tc"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    sorted_c = claims.select(
        "c",
        F.row_number().over(Window.orderBy("c", "nk")).cast("long").alias("r"),
        F.sum("c").over(Window.orderBy("c", "nk")).cast("long").alias("cum"),
    )
    sc = sorted_c.crossJoin(F.broadcast(est))
    lam = sc.where(
        (F.col("r") < F.col("n"))
        & (F.col("cum") + (F.col("n") - F.col("r")) * F.col("c") >= F.col("e"))
        & ((F.col("e") - F.col("cum")) >= 0)
    ).agg(
        F.min(
            (F.col("e") - F.col("cum")) * 1.0 / (F.col("n") - F.col("r"))
        ).alias("v")
    )
    minc = claims.agg(F.min("c").alias("mc"))
    lamz = (
        est.crossJoin(F.broadcast(lam))
        .crossJoin(F.broadcast(minc))
        .select(
            F.when(
                F.col("mc") * F.col("n") >= F.col("e"),
                F.col("e") * 1.0 / F.col("n"),
            )
            .otherwise(F.col("v"))
            .alias("lam")
        )
    )
    mu = sc.where(
        (F.col("r") < F.col("n"))
        & (
            (F.col("tc") - F.col("cum"))
            - (F.col("n") - F.col("r")) * F.col("c")
            <= F.col("e")
        )
        & (((F.col("tc") - F.col("cum")) - F.col("e")) >= 0)
    ).agg(
        F.min(
            ((F.col("tc") - F.col("cum")) - F.col("e"))
            * 1.0
            / (F.col("n") - F.col("r"))
        ).alias("v")
    )
    muz = (
        est.crossJoin(F.broadcast(mu))
        .crossJoin(F.broadcast(minc))
        .select(
            F.when(
                (F.col("tc") - F.col("e")) <= F.col("mc") * F.col("n"),
                (F.col("tc") - F.col("e")) * 1.0 / F.col("n"),
            )
            .otherwise(F.col("v"))
            .alias("mu")
        )
    )
    return (
        claims.crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(lamz))
        .crossJoin(F.broadcast(muz))
        .select(
            F.col("nk").cast("long").alias("nation_key"),
            F.col("c").alias("claim_cents"),
            F.round(F.col("c") * 1.0 * F.col("e") / F.col("tc"))
            .cast("long")
            .alias("proportional_cents"),
            F.round(F.least(F.col("c") * 1.0, F.col("lam")))
            .cast("long")
            .alias("cea_cents"),
            F.round(F.greatest(F.col("c") - F.col("mu"), F.lit(0.0)))
            .cast("long")
            .alias("cel_cents"),
        )
    )


@query(
    "dbscan_embedding_2d",
    oracle="""
    WITH RECURSIVE p AS (
        SELECT vec_id AS id,
               CAST(ROUND(embedding[1] * 1000000) AS BIGINT) AS x,
               CAST(ROUND(embedding[2] * 1000000) AS BIGINT) AS y
        FROM embeddings
    ), nbr AS (
        SELECT a.id AS u, CAST(COUNT(*) AS BIGINT) AS n
        FROM p a JOIN p b
          ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
             <= 900000000
        GROUP BY 1
    ), core AS (SELECT u AS id FROM nbr WHERE n >= 4),
    ce AS (
        SELECT a.id AS u, b.id AS v
        FROM p a JOIN p b
          ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
             <= 900000000
        JOIN core ca ON ca.id = a.id
        JOIN core cb ON cb.id = b.id
    ), reach(id, label) AS (
        SELECT id, id FROM core
        UNION
        SELECT ce.u, r.label FROM reach r JOIN ce ON ce.v = r.id
    ), comp AS (SELECT id, MIN(label) AS cluster FROM reach GROUP BY id),
    border AS (
        SELECT a.id, MIN(comp.cluster) AS cluster
        FROM p a
        JOIN p b
          ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
             <= 900000000
        JOIN comp ON comp.id = b.id
        WHERE a.id NOT IN (SELECT id FROM core)
        GROUP BY 1
    )
    SELECT p.id,
           CASE WHEN comp.id IS NOT NULL THEN 'core'
                WHEN border.id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(COALESCE(comp.cluster, border.cluster, -1) AS BIGINT)
               AS cluster
    FROM p
    LEFT JOIN comp ON comp.id = p.id
    LEFT JOIN border ON border.id = p.id
    """,
)
def dbscan_embedding_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DBSCAN (eps = 0.03, minPts = 4, self included) on the
    first two embedding dimensions: density-based clustering that —
    unlike `kmeans_embedding_assign` — needs no k, finds arbitrarily
    shaped clusters, and yields an explicit NOISE label, which is what
    a curation pipeline wants for 'drop the stragglers, keep the
    modes'. Core points are those with >= minPts neighbors within
    eps; clusters are connected components of the core-core eps graph
    (min-reachable-id labels, matching DBSCAN's density-connectivity
    definition exactly); border points attach to their minimum
    adjacent core cluster; everything else is noise (cluster -1).

    Determinism: coordinates are exact micro-unit BIGINTs, the eps
    test is an integer squared-distance compare, and cluster labels
    are min-vertex-id — no float ties, no visit-order dependence
    (textbook DBSCAN's border assignment is scan-order dependent;
    the min-cluster rule here is a deterministic refinement).

    Scale shape: the eps-neighborhood graph comes from the same
    9-cell grid blocking as `spatial_proximity_pairs` — bucket both
    sides into eps-sized cells, replicate one side into its 3x3
    neighborhood, equi-join on cell, verify with the exact integer
    predicate; candidates are O(n * density) not O(n^2). Components
    run on the CORE subgraph only via the same one-shuffle-per-round
    min-label propagation as `dedup_components`. The oracle's O(n^2)
    pair join is the spec the blocking must reproduce bit-for-bit.
    """
    from pyspark_movie_recommender_spark.operators.graph import (
        connected_components,
    )

    EPS = 30000
    MINPTS = 4
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        F.col("vec_id").alias("id"),
        F.round(F.col("embedding").getItem(0) * 1000000)
        .cast("long")
        .alias("x"),
        F.round(F.col("embedding").getItem(1) * 1000000)
        .cast("long")
        .alias("y"),
    )
    cell = lambda c: F.floor(F.col(c) / F.lit(EPS))  # noqa: E731
    a = pts.select(
        F.col("id").alias("ida"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        cell("x").alias("cx"),
        cell("y").alias("cy"),
    )
    b = (
        pts.select(
            F.col("id").alias("idb"),
            F.col("x").alias("xb"),
            F.col("y").alias("yb"),
            cell("x").alias("bcx"),
            cell("y").alias("bcy"),
        )
        .withColumn("dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .select(
            "idb",
            "xb",
            "yb",
            (F.col("bcx") + F.col("dx")).alias("cx"),
            (F.col("bcy") + F.col("dy")).alias("cy"),
        )
    )
    d2 = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    pairs = (
        a.join(b, ["cx", "cy"])
        .filter(d2 <= F.lit(EPS * EPS))
        .select("ida", "idb")
    )
    pairs = pairs.transform(_ckpt)
    core = (
        pairs.groupBy(F.col("ida").alias("id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= MINPTS)
        .select("id")
    )
    core_edges = (
        pairs.join(core.select(F.col("id").alias("ida")), "ida")
        .join(core.select(F.col("id").alias("idb")), "idb")
        .filter(F.col("ida") < F.col("idb"))
        .select(F.col("ida").alias("id_a"), F.col("idb").alias("id_b"))
    )
    comp = connected_components(core_edges)
    # singleton cores (no core neighbor) keep their own id as label
    comp = comp.unionByName(
        core.join(comp, "id", "left_anti").select(
            "id", F.col("id").alias("component")
        )
    ).withColumnRenamed("component", "cluster")
    border = (
        pairs.join(core.select(F.col("id").alias("idb")), "idb")
        .join(core.select(F.col("id").alias("ida")), "ida", "left_anti")
        .join(
            comp.select(F.col("id").alias("idb"), "cluster"), "idb"
        )
        .groupBy(F.col("ida").alias("id"))
        .agg(F.min("cluster").alias("cluster"))
    )
    return (
        pts.select("id")
        .join(comp.withColumnRenamed("cluster", "core_cluster"), "id", "left")
        .join(
            border.withColumnRenamed("cluster", "border_cluster"), "id", "left"
        )
        .select(
            "id",
            F.when(F.col("core_cluster").isNotNull(), F.lit("core"))
            .when(F.col("border_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("core_cluster", "border_cluster", F.lit(-1))
            .cast("long")
            .alias("cluster"),
        )
    )


@query(
    "kalman_local_level_daily",
    oracle="""
    WITH RECURSIVE d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(ROUND(SUM(value) * 100) AS BIGINT) AS y
        FROM events GROUP BY 1, 2
    ), o AS (
        SELECT event_type, y,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY day) AS BIGINT) AS r
        FROM d
    ), nn AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM o GROUP BY 1
    ), kf(event_type, r, m, p, g, sse) AS (
        SELECT event_type, CAST(1 AS BIGINT), CAST(y AS DOUBLE),
               CAST(4000000000.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
               CAST(0.0 AS DOUBLE)
        FROM o WHERE r = 1
        UNION ALL
        SELECT o.event_type, kf.r + 1,
               kf.m + ((kf.p + 1000000000.0)
                       / (kf.p + 1000000000.0 + 4000000000.0))
                      * (o.y - kf.m),
               (1.0 - (kf.p + 1000000000.0)
                      / (kf.p + 1000000000.0 + 4000000000.0))
               * (kf.p + 1000000000.0),
               (kf.p + 1000000000.0)
               / (kf.p + 1000000000.0 + 4000000000.0),
               kf.sse + (o.y - kf.m) * (o.y - kf.m)
        FROM kf JOIN o ON o.event_type = kf.event_type AND o.r = kf.r + 1
    )
    SELECT kf.event_type, nn.n AS n_days,
           ROUND(kf.m, 4) AS filtered_final,
           ROUND(kf.p, 4) AS var_final,
           ROUND(kf.g, 6) AS gain_final,
           ROUND(SQRT(kf.sse / (nn.n - 1)), 4) AS innovation_rmse
    FROM kf JOIN nn ON nn.event_type = kf.event_type
    WHERE kf.r = nn.n
    """,
)
def kalman_local_level_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kalman filter (local-level / random-walk-plus-noise model,
    q = 1e9, r = 4e9 cents^2, so the steady-state gain ~0.38) over
    each event type's daily revenue-cents series: the optimal
    recursive smoother that `ewma_user_value` approximates with a
    fixed alpha — here the gain ADAPTS (high while the state variance
    is wide, converging as evidence accumulates) and the filter also
    reports its posterior variance and one-step innovation RMSE, the
    model-health number a forecasting pipeline alerts on.

    Determinism: daily observations are exact cent integers before
    the recursion; both engines then run the IDENTICAL
    double-precision recursion in the same operation order (pandas
    scan here, ordered recursive CTE in the oracle) — IEEE 754 makes
    the trajectories bit-equal; outputs are rounded once at the end.

    Scale shape: groupBy to one row per (type, day), then
    applyInPandas per type — an O(n_days) sequential scan per key
    that parallelizes across keys (the per-key recursion is
    inherently ordered; no window trick expresses an adaptive gain).
    State per group is three doubles — a 100-TB event log with 1M
    keys runs 1M independent 30-step scans, shuffle = the daily agg.
    """
    import pandas as pd

    Q, R = 1000000000.0, 4000000000.0
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.round(F.sum("value") * 100).cast("long").alias("y"))

    def kf(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day")
        ys = pdf["y"].astype("float64").tolist()
        m, p, g, sse = ys[0], R, 0.0, 0.0
        for y in ys[1:]:
            denom = p + Q + R
            g = (p + Q) / denom
            innov = y - m
            m = m + g * innov
            p = (1.0 - g) * (p + Q)
            sse = sse + innov * innov
        n = len(ys)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [n],
                "m_raw": [m],
                "p_raw": [p],
                "g_raw": [g],
                "rmse_raw": [(sse / (n - 1)) ** 0.5],
            }
        )

    raw = daily.groupBy("event_type").applyInPandas(
        kf,
        schema=(
            "event_type string, n_days long, m_raw double, "
            "p_raw double, g_raw double, rmse_raw double"
        ),
    )
    # rounding via F.round (HALF_UP, matches DuckDB ROUND) not Python's
    # banker's round
    return raw.select(
        "event_type",
        "n_days",
        F.round("m_raw", 4).alias("filtered_final"),
        F.round("p_raw", 4).alias("var_final"),
        F.round("g_raw", 6).alias("gain_final"),
        F.round("rmse_raw", 4).alias("innovation_rmse"),
    )
