"""Query registry part 3 of 12 — registration order preserved.

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
    "smape_seasonal_naive",
    oracle="""
    WITH pts AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ), bounds AS (
        SELECT MIN(day) AS lo, MAX(day) AS hi FROM pts
    ), grid AS (
        SELECT unnest(generate_series(lo, hi)) AS day FROM bounds
    ), daily AS (
        SELECT g.day, COALESCE(SUM(p.cents), 0) AS x
        FROM grid g LEFT JOIN pts p ON p.day = g.day GROUP BY g.day
    ), paired AS (
        SELECT a.day, a.x AS actual, f.x AS forecast
        FROM daily a JOIN daily f ON f.day = a.day - 7
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(ABS(actual - forecast)) // COUNT(*) AS BIGINT)
               AS mae_cents,
           CAST(SUM(CASE WHEN actual + forecast = 0 THEN 0
                         ELSE ABS(actual - forecast) * 2000000
                              // (actual + forecast) END)
                // COUNT(*) AS BIGINT) AS smape_ppm
    FROM paired
    """,
)
def smape_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy floor: MAE and sMAPE of the SEASONAL-NAIVE
    forecast (predict each day with the value 7 days earlier) over the
    zero-filled daily value series — the baseline every real forecast
    must beat, and the denominator of the MASE skill score. Per-day
    sMAPE terms are exact integer ratios (|a−f|·2·10⁶ ÷ (a+f), floor),
    averaged by integer division — no float error metrics.

    Scale shape: one grid collapse, a self-join on day−7 over the tiny
    series, a 1-row agg.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark_movie_recommender_spark.operators.timeseries import (
        epoch_day,
        zero_filled_daily_grid,
    )

    pts = ev.select(
        epoch_day("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = zero_filled_daily_grid(
        pts, F.coalesce(F.sum("cents"), F.lit(0)).cast("long")
    )
    daily = _ckpt(daily)  # shared fan-out relation
    a = daily.select("day", F.col("x").alias("actual"))
    f = daily.select((F.col("day") + 7).alias("day"), F.col("x").alias("forecast"))
    paired = a.join(f, "day")
    term = F.when(F.col("actual") + F.col("forecast") == 0, F.lit(0)).otherwise(
        F.expr("abs(actual - forecast) * 2000000L div (actual + forecast)")
    )
    return paired.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr("sum(abs(actual - forecast)) div count(1)")
        .cast("long")
        .alias("mae_cents"),
        (F.sum(term) / F.count(F.lit(1))).cast("long").alias("smape_ppm"),
    )


@query(
    "rapid_repeat_purchases",
    oracle="""
    WITH pay AS (
        SELECT event_id, user_id, epoch_us(ts) AS t,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ), seq AS (
        SELECT event_id, user_id, cents, t,
               LAG(t) OVER w AS prev_t,
               LAG(cents) OVER w AS prev_cents
        FROM pay
        WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    )
    SELECT event_id, user_id, prev_cents, cents,
           CAST(t - prev_t AS BIGINT) AS gap_us,
           CASE WHEN prev_cents = cents THEN 1 ELSE 0 END AS same_amount
    FROM seq
    WHERE prev_t IS NOT NULL AND t - prev_t <= CAST(3600 AS BIGINT) * 1000000
    """,
)
def rapid_repeat_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rapid repeat-purchase detector: a user's purchase within one hour
    of their previous purchase — the double-charge / retry-storm
    fraud-ops shortlist, with both amounts and an exact same-amount
    flag so the downstream rule can tighten to true duplicates. Lag
    window semantics: a burst of k purchases flags k−1 rows (chain, not
    pairwise explosion); (t, event_id) total order; microsecond gaps.

    Scale shape: one user_id exchange; no self-join — the window form
    is O(n log n) per key versus the naive pairwise O(n²).
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    pay = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        us.alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    seq = pay.withColumn("prev_t", F.lag("t").over(w)).withColumn(
        "prev_cents", F.lag("cents").over(w)
    )
    return (
        seq.filter(
            F.col("prev_t").isNotNull()
            & (F.col("t") - F.col("prev_t") <= 3600 * 1000000)
        )
        .select(
            "event_id",
            "user_id",
            "prev_cents",
            "cents",
            (F.col("t") - F.col("prev_t")).cast("long").alias("gap_us"),
            F.when(F.col("prev_cents") == F.col("cents"), 1)
            .otherwise(0)
            .alias("same_amount"),
        )
    )


# ---------------------------------------------------------------------------
# wave 77: vocabulary entropy / effective vocab size
# ---------------------------------------------------------------------------


@query(
    "effective_vocab_size",
    oracle="""
    WITH toks AS (
        SELECT lang, unnest(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END) AS w
        FROM documents
    ), counts AS (
        SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY lang, w
    ), lstats AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
        FROM counts GROUP BY lang
    ), ent AS (
        SELECT c.lang,
               CAST(SUM(c.c * CAST(ROUND(ln(CAST(c.c AS DOUBLE) / s.n) * 1000000)
                    AS BIGINT)) AS BIGINT) AS neg_h_n_unats
        FROM counts c JOIN lstats s ON s.lang = c.lang
        GROUP BY c.lang
    )
    SELECT s.lang, s.n AS n_tokens, s.vocab, s.hapax,
           CAST(s.hapax * 1000000 // s.vocab AS BIGINT) AS hapax_ppm,
           CAST(-e.neg_h_n_unats // s.n AS BIGINT) AS entropy_unats,
           ROUND(exp(CAST(-e.neg_h_n_unats // s.n AS DOUBLE) / 1000000), 2)
               AS effective_vocab
    FROM lstats s JOIN ent e ON e.lang = s.lang
    """,
)
def effective_vocab_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary health per language: Shannon entropy of the unigram
    distribution in BIGINT micro-nats (each term c·round(ln(c/N)·10⁶)
    is quantized BEFORE summation — the summation-order-proof trick the
    LM scorers use), its exponential = the EFFECTIVE vocabulary size
    (perplexity of the unigram LM — how many equally-likely words the
    language 'really' uses), and the hapax-legomena share in exact ppm
    (high hapax = productive/long-tail vocabulary or OCR noise; near
    zero = templated text). The diversity dashboard row beside Zipf
    slope and 4-gram diversity.

    Scale shape: one explode → (lang, token) hash agg with map-side
    combine; language stats and the entropy agg run on the vocab-sized
    relation. Constants out.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(ws_tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    lstats = counts.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("hapax"),
    )
    ent = (
        counts.join(F.broadcast(lstats.select("lang", "n")), "lang")
        .select(
            "lang",
            (
                F.col("c")
                * F.round(F.log(F.col("c").cast("double") / F.col("n")) * 1000000)
                .cast("long")
            ).alias("t"),
        )
        .groupBy("lang")
        .agg(F.sum("t").cast("long").alias("neg_h_n_unats"))
    )
    return lstats.join(ent, "lang").select(
        "lang",
        F.col("n").alias("n_tokens"),
        "vocab",
        "hapax",
        F.expr("hapax * 1000000L div vocab").cast("long").alias("hapax_ppm"),
        F.expr("-neg_h_n_unats div n").cast("long").alias("entropy_unats"),
        F.round(
            F.exp(F.expr("CAST(-neg_h_n_unats div n AS DOUBLE) / 1000000")), 2
        ).alias("effective_vocab"),
    )


# ---------------------------------------------------------------------------
# wave 78: aggregate-function parity, full regr_* family, streaming counts
# ---------------------------------------------------------------------------


@query(
    "aggregate_function_parity",
    oracle="""
    SELECT o_orderstatus,
           CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
           bool_and(o_totalprice > 0) AS all_positive,
           bool_or(o_totalprice > 500000) AS any_huge,
           mode(o_orderpriority) AS top_priority,
           CAST(ROUND(median(CAST(ROUND(o_totalprice * 100) AS BIGINT)), 1) AS DOUBLE)
               AS median_cents
    FROM orders GROUP BY o_orderstatus
    """,
)
def aggregate_function_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern aggregate-function parity pinned across engines per order
    status: count_if, bool_and/bool_or, mode, and median — the
    analyst-convenience aggregates (Spark 3.4/3.5 additions) proven to
    mean the same thing the oracle thinks they mean. mode() is only
    deterministic when the argmax is unique — true for priorities per
    status here, and the reason a production mode carries a tie-break
    (max_by(value, (count, value)) — the pattern `label_purity_by_lang`
    uses). median over BIGINT cents interpolates to exact halves.

    Scale shape: one partial+final hash agg (median/mode are sort-based
    object aggregates per group); |statuses| rows out.
    """
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("afp_orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               CAST(count_if(o_totalprice > 100000) AS BIGINT) AS n_big,
               bool_and(o_totalprice > 0) AS all_positive,
               bool_or(o_totalprice > 500000) AS any_huge,
               mode(o_orderpriority) AS top_priority,
               CAST(ROUND(median(CAST(ROUND(o_totalprice * 100) AS BIGINT)), 1)
                    AS DOUBLE) AS median_cents
        FROM afp_orders GROUP BY o_orderstatus
        """
    )


@query(
    "regr_function_suite",
    oracle="""
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           ROUND(regr_avgx(l_extendedprice, l_quantity), 4) AS avgx,
           ROUND(regr_avgy(l_extendedprice, l_quantity), 4) AS avgy
    FROM lineitem GROUP BY l_returnflag
    """,
)
def regr_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete ANSI linear-regression aggregate family per return
    flag: count, slope, intercept, R², and both means — one-pass OLS
    sufficient statistics as built-in JVM aggregates (what
    `stats_moments_lineitem` samples, completed and pinned name-by-name
    against the oracle's implementations). Price-on-quantity slope is
    the unit-price trend; the intercept is the fixed-charge estimate.

    Floats are rounded on both sides; the aggregates themselves are
    single-pass moment accumulations with map-side partials — the plan
    is one partial+final hash agg pair over the fact scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("rfs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
               ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
               ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
               ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
               ROUND(regr_avgx(l_extendedprice, l_quantity), 4) AS avgx,
               ROUND(regr_avgy(l_extendedprice, l_quantity), 4) AS avgy
        FROM rfs_lineitem GROUP BY l_returnflag
        """
    )


@query("streaming_hourly_user_counts")
def streaming_hourly_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(hour, user) event counts maintained as a watermarked
    streaming aggregation — the continuous state behind burst-rate
    abuse monitoring (`bot_rate_detection` is the exact-batch twin).
    Rows-only; pinned equal to the identical batch aggregation in
    tests/test_streaming.py."""
    from pyspark_movie_recommender_spark.streaming.jobs import (
        hourly_user_counts_stream,
    )

    return hourly_user_counts_stream(spark, sf_dir, query_name="q_stream_hourly")


# ---------------------------------------------------------------------------
# wave 79: order-statistic median CI, robust-vs-OLS slope comparison
# ---------------------------------------------------------------------------


@query(
    "median_ci_order_stats",
    oracle="""
    WITH m AS (
        SELECT o_orderstatus,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), ranked AS (
        SELECT o_orderstatus, cents,
               ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                  ORDER BY cents, o_orderstatus) AS rn,
               COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
        FROM m
    ), idx AS (
        SELECT o_orderstatus, CAST(MAX(n) AS BIGINT) AS n,
               CAST(FLOOR(MAX(n) / 2.0 - 0.98 * sqrt(MAX(n))) AS BIGINT) AS k_lo,
               CAST(CEIL(MAX(n) / 2.0 + 1 + 0.98 * sqrt(MAX(n))) AS BIGINT) AS k_hi
        FROM ranked GROUP BY o_orderstatus
    )
    SELECT i.o_orderstatus, i.n,
           CAST(FLOOR(quantile_cont(CAST(r.cents AS DOUBLE), 0.5)) AS BIGINT)
               AS median_cents,
           MAX(CASE WHEN r.rn = i.k_lo THEN r.cents END) AS ci_lo_cents,
           MAX(CASE WHEN r.rn = i.k_hi THEN r.cents END) AS ci_hi_cents
    FROM ranked r JOIN idx i ON i.o_orderstatus = r.o_orderstatus
    GROUP BY i.o_orderstatus, i.n
    """,
)
def median_ci_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the MEDIAN per
    order status, read straight off the order statistics: ranks
    ⌊n/2 − 1.96·√n/2⌋ and ⌈n/2 + 1 + 1.96·√n/2⌉ bracket the true
    median with ≈95% coverage by the binomial argument — no normality,
    no resampling, and the bounds are actual data values (exact BIGINT
    cents picked by integer rank lookups). The order-statistic
    companion to the bootstrap (means) and Wilson (rates) intervals.

    Scale shape: one rank window per status partition; the CI lookup is
    two equality filters on the ranked relation folded into the same
    group agg. At extreme n the rank lookup swaps for approx quantiles
    at the two target fractions — same contract.
    """
    orders = load_table(spark, sf_dir, "orders")
    m = orders.select(
        "o_orderstatus", F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    w = Window.partitionBy("o_orderstatus").orderBy("cents", "o_orderstatus")
    ranked = m.select(
        "o_orderstatus",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("o_orderstatus")).alias("n"),
    )
    idx = ranked.groupBy("o_orderstatus").agg(
        F.max("n").cast("long").alias("n"),
        F.floor(F.max("n") / 2.0 - 0.98 * F.sqrt(F.max("n")))
        .cast("long")
        .alias("k_lo"),
        F.ceil(F.max("n") / 2.0 + 1 + 0.98 * F.sqrt(F.max("n")))
        .cast("long")
        .alias("k_hi"),
    )
    j = ranked.drop("n").join(F.broadcast(idx), "o_orderstatus")
    return j.groupBy("o_orderstatus", "n").agg(
        F.floor(F.expr("percentile(CAST(cents AS DOUBLE), 0.5)"))
        .cast("long")
        .alias("median_cents"),
        F.max(F.when(F.col("rn") == F.col("k_lo"), F.col("cents"))).alias(
            "ci_lo_cents"
        ),
        F.max(F.when(F.col("rn") == F.col("k_hi"), F.col("cents"))).alias(
            "ci_hi_cents"
        ),
    )


@query(
    "theil_sen_price_curve",
    oracle="""
    WITH lv AS (
        SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1, 2
    ), pts AS (
        SELECT l_returnflag, q, cents * 1.0 / n AS mean_cents FROM lv
    ), pairs AS (
        SELECT a.l_returnflag,
               (b.mean_cents - a.mean_cents) / (b.q - a.q) AS slope
        FROM pts a JOIN pts b
          ON b.l_returnflag = a.l_returnflag AND b.q > a.q
    ), ts AS (
        SELECT l_returnflag, ROUND(quantile_cont(slope, 0.5), 4) AS theil_sen
        FROM pairs GROUP BY 1
    ), ols AS (
        SELECT l_returnflag,
               ROUND(regr_slope(l_extendedprice * 100, l_quantity), 4) AS ols
        FROM lineitem GROUP BY 1
    )
    SELECT t.l_returnflag, t.theil_sen, o.ols
    FROM ts t JOIN ols o ON o.l_returnflag = t.l_returnflag
    """,
)
def theil_sen_price_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust vs least-squares unit-price estimation side by side: the
    Theil-Sen slope (median of pairwise slopes over the quantity-level
    mean-price curve — outlier-immune) against the OLS regr_slope per
    return flag, both in cents/unit. When the two disagree, the tail is
    driving OLS — the one-line robustness diagnostic for any fitted
    trend.

    Determinism: the level curve collapses the fact to ≤|quantities|
    points first (exact integer sums and counts; mean = one division);
    pairwise slopes are IEEE ops on those identical doubles; the median
    is the exact interpolated percentile. Pairs are levels², never
    rows².
    """
    li = load_table(spark, sf_dir, "lineitem")
    lv = li.groupBy("l_returnflag", F.col("l_quantity").cast("long").alias("q")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    pts = lv.select(
        "l_returnflag", "q", (F.col("cents") * 1.0 / F.col("n")).alias("mean_cents")
    )
    a = pts.select("l_returnflag", F.col("q").alias("qa"), F.col("mean_cents").alias("ma"))
    b = pts.select("l_returnflag", F.col("q").alias("qb"), F.col("mean_cents").alias("mb"))
    pairs = a.join(b, "l_returnflag").filter(F.col("qb") > F.col("qa")).select(
        "l_returnflag",
        ((F.col("mb") - F.col("ma")) / (F.col("qb") - F.col("qa"))).alias("slope"),
    )
    ts = pairs.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(slope, 0.5)"), 4).alias("theil_sen")
    )
    ols = li.groupBy("l_returnflag").agg(
        F.round(
            F.expr("regr_slope(l_extendedprice * 100, l_quantity)"), 4
        ).alias("ols")
    )
    return ts.join(ols, "l_returnflag")


# ---------------------------------------------------------------------------
# wave 80: repeated-token runs, binned continuous MI
# ---------------------------------------------------------------------------


@query(
    "longest_token_run",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    ), pos AS (
        SELECT doc_id, g.i AS i, t[g.i] AS w
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g
    ), flagged AS (
        SELECT doc_id, i, w,
               CASE WHEN LAG(w) OVER (PARTITION BY doc_id ORDER BY i) = w
                    THEN 0 ELSE 1 END AS brk
        FROM pos
    ), islands AS (
        SELECT doc_id,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY i) AS isl
        FROM flagged
    ), runs AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS run_len
        FROM islands GROUP BY doc_id, isl
    ), per_doc AS (
        SELECT doc_id, MAX(run_len) AS max_run FROM runs GROUP BY doc_id
    )
    SELECT max_run, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM per_doc GROUP BY max_run
    """,
)
def longest_token_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of each document's LONGEST same-token run — the
    stuck-generation / stutter detector ('the the the the …') that
    word-frequency filters miss entirely: a doc can have healthy global
    stats and still contain a degenerate run. Gaps-and-islands over
    token positions (lag-equality break flags → island cumsum → run
    lengths → per-doc max), reported as a run-length histogram.

    Scale shape: positions explode map-side; both windows partition by
    doc_id — token-bounded state per doc, one doc-keyed exchange shared
    by break-flag and island numbering; the histogram is a tiny agg.
    The in-row HOF fold is the shuffle-free alternative when docs are
    huge — the window form is the cross-engine-checkable spec.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(ws_tokens(F.lower(F.col("text")))).alias("p", "w")
    ).select("doc_id", (F.col("p") + 1).alias("i"), "w")
    wd = Window.partitionBy("doc_id").orderBy("i")
    flagged = pos.select(
        "doc_id",
        "i",
        F.when(F.lag("w").over(wd) == F.col("w"), 0).otherwise(1).alias("brk"),
    )
    islands = flagged.select(
        "doc_id", F.sum("brk").over(wd).alias("isl")
    )
    runs = islands.groupBy("doc_id", "isl").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    per_doc = runs.groupBy("doc_id").agg(F.max("run_len").alias("max_run"))
    return per_doc.groupBy("max_run").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )


@query(
    "binned_mi_price_quantity",
    oracle="""
    WITH m AS (
        SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price,
               CAST(l_quantity AS BIGINT) AS qty
        FROM lineitem
    ), edges AS (
        SELECT quantile_cont(CAST(price AS DOUBLE),
                             [0.25, 0.5, 0.75]) AS pe,
               quantile_cont(CAST(qty AS DOUBLE),
                             [0.25, 0.5, 0.75]) AS qe
        FROM m
    ), binned AS (
        SELECT len(list_filter(pe, x -> price > x)) AS pb,
               len(list_filter(qe, x -> qty > x)) AS qb
        FROM m, edges
    ), joint AS (
        SELECT pb, qb, CAST(COUNT(*) AS BIGINT) AS n_ij FROM binned GROUP BY 1, 2
    ), mi AS (
        SELECT pb, qb, n_ij,
               CAST(SUM(n_ij) OVER () AS BIGINT) AS n,
               CAST(SUM(n_ij) OVER (PARTITION BY pb) AS BIGINT) AS n_i,
               CAST(SUM(n_ij) OVER (PARTITION BY qb) AS BIGINT) AS n_j
        FROM joint
    )
    SELECT pb, qb, n_ij,
           ROUND((CAST(n_ij AS DOUBLE) / n)
                 * ln((CAST(n_ij AS DOUBLE) * n) / (CAST(n_i AS DOUBLE) * n_j)),
                 6) + 0.0 AS mi_contrib
    FROM mi
    """,
)
def binned_mi_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two CONTINUOUS columns (price and
    quantity) via quartile binning — the dependence screen for numeric
    feature pairs where Pearson only sees linearity (`stats_moments_
    lineitem` has corr; this catches any functional coupling). Bin
    edges are exact interpolated quartiles applied in-row; the 4×4
    contingency and its marginals are exact BIGINTs; each cell does one
    ln, rounded to 6. Σ cells = I(price; qty).

    Scale shape: one exact-percentile agg broadcast in-row, one 16-cell
    hash agg, marginal windows on the tiny table.
    """
    li = load_table(spark, sf_dir, "lineitem")
    m = li.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    edges = m.agg(
        F.expr(
            "percentile(CAST(price AS DOUBLE), array(0.25D, 0.5D, 0.75D))"
        ).alias("pe"),
        F.expr("percentile(CAST(qty AS DOUBLE), array(0.25D, 0.5D, 0.75D))").alias(
            "qe"
        ),
    )
    binned = m.crossJoin(F.broadcast(edges)).select(
        F.expr("size(filter(pe, x -> price > x))").alias("pb"),
        F.expr("size(filter(qe, x -> qty > x))").alias("qb"),
    )
    joint = binned.groupBy("pb", "qb").agg(
        F.count(F.lit(1)).cast("long").alias("n_ij")
    )
    mi = joint.select(
        "pb",
        "qb",
        "n_ij",
        F.sum("n_ij").over(Window.partitionBy()).cast("long").alias("n"),
        F.sum("n_ij").over(Window.partitionBy("pb")).cast("long").alias("n_i"),
        F.sum("n_ij").over(Window.partitionBy("qb")).cast("long").alias("n_j"),
    )
    return mi.select(
        "pb",
        "qb",
        "n_ij",
        # + 0.0 folds IEEE -0.0 to +0.0 on both engines (see
        # mutual_information_type_segment)
        (
            F.round(
                (F.col("n_ij").cast("double") / F.col("n"))
                * F.log(
                    (F.col("n_ij").cast("double") * F.col("n"))
                    / (F.col("n_i").cast("double") * F.col("n_j"))
                ),
                6,
            )
            + 0.0
        ).alias("mi_contrib"),
    )


# ---------------------------------------------------------------------------
# wave 81: conformal prediction, partial-pooling shrinkage
# ---------------------------------------------------------------------------


@query(
    "conformal_price_interval",
    oracle="""
    WITH m AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS actual,
               CAST(ROUND((50000.0 + 1500.0 * (o_orderkey % 100)) * 100) AS BIGINT)
                   AS pred,
               ((o_orderkey * 2654435761) % 4294967296) % 2 AS half
        FROM orders
    ), calib AS (
        SELECT ABS(actual - pred) AS r FROM m WHERE half = 0
    ), qhat AS (
        -- split-conformal: the ceil((n+1)*0.95)-th order statistic
        SELECT r AS q
        FROM (SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rn,
                     COUNT(*) OVER () AS n
              FROM calib)
        WHERE rn = CAST(CEIL((n + 1) * 0.95) AS BIGINT)
    ), test AS (
        SELECT actual, pred FROM m WHERE half = 1
    )
    SELECT CAST((SELECT COUNT(*) FROM calib) AS BIGINT) AS n_calib,
           CAST((SELECT COUNT(*) FROM test) AS BIGINT) AS n_test,
           CAST(q AS BIGINT) AS qhat_cents,
           CAST((SELECT SUM(CASE WHEN ABS(actual - pred) <= q THEN 1 ELSE 0 END)
                 FROM test) * 1000000
                // (SELECT COUNT(*) FROM test) AS BIGINT) AS coverage_ppm
    FROM qhat
    """,
)
def conformal_price_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for the price model:
    calibration-half absolute residuals give q̂ = the ⌈(n+1)·0.95⌉-th
    order statistic, and pred ± q̂ is then a distribution-free ≥95%
    coverage interval on the disjoint test half — the
    assumption-free uncertainty wrapper modern ML serving puts around
    ANY point predictor, here entirely relational: deterministic hash
    halves, an integer rank lookup for q̂, and the empirical coverage
    audit in exact ppm (the number that validates the guarantee).

    Scale shape: one pass tags halves map-side; q̂ is the k-th order
    statistic of the calibration residuals, found via
    ``operators/rank.py:distributed_global_rank`` (range-bucketed —
    no single-task sort of half the fact; n itself is one O(1)
    driver scalar, the same class as a convergence check;
    approx-quantile swap documented at extreme n); coverage is a
    1-row agg over the test half with the scalar q̂ broadcast.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_global_rank,
    )

    orders = load_table(spark, sf_dir, "orders")
    m = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("actual"),
        F.round((50000.0 + 1500.0 * (F.col("o_orderkey") % 100)) * 100)
        .cast("long")
        .alias("pred"),
        (((F.col("o_orderkey") * 2654435761) % 4294967296) % 2).alias("half"),
    )
    calib = m.filter(F.col("half") == 0).select(
        "o_orderkey", F.abs(F.col("actual") - F.col("pred")).alias("r")
    )
    n_cal = calib.count()
    k = math.ceil((n_cal + 1) * 0.95)
    ranked = distributed_global_rank(calib, "r", "o_orderkey", out_col="rn")
    qhat = ranked.filter(F.col("rn") == k).select(
        F.col("r").alias("q"), F.lit(n_cal).cast("long").alias("n_calib")
    )
    test = m.filter(F.col("half") == 1)
    cov = test.crossJoin(F.broadcast(qhat)).agg(
        F.max("n_calib").alias("n_calib"),
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.max("q").cast("long").alias("qhat_cents"),
        F.sum(
            F.when(F.abs(F.col("actual") - F.col("pred")) <= F.col("q"), 1).otherwise(
                0
            )
        ).alias("n_cov"),
    )
    return cov.select(
        "n_calib",
        "n_test",
        "qhat_cents",
        F.expr("n_cov * 1000000L div n_test").cast("long").alias("coverage_ppm"),
    )


@query(
    "shrunk_group_slopes",
    oracle="""
    WITH j AS (
        SELECT c.c_nationkey AS nation,
               o.o_totalprice * 100 AS price_cents,
               o.o_orderkey % 100 AS x
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), grp AS (
        SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
               regr_slope(price_cents, x) AS slope_g
        FROM j GROUP BY nation
    ), pooled AS (
        SELECT regr_slope(price_cents, x) AS slope_p FROM j
    )
    SELECT nation, n,
           ROUND(slope_g, 4) AS group_slope,
           ROUND(slope_p, 4) AS pooled_slope,
           ROUND((n * slope_g + 200 * slope_p) / (n + 200), 4) AS shrunk_slope
    FROM grp, pooled
    """,
)
def shrunk_group_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial pooling: per-nation regression slopes shrunk toward the
    pooled slope with precision weight n/(n+k), k=200 — the James-Stein
    /hierarchical-model move that stops small groups from reporting
    wild slopes while letting data-rich groups keep their own. The
    per-group, pooled, and shrunk estimates ship side by side so the
    shrinkage is auditable.

    Determinism: both slopes are single-pass regr_slope moments over
    identical inputs; the blend is a fixed IEEE dag rounded to 4.

    Scale shape: one broadcast dim join, one |nations|-row group agg +
    a 1-row pooled agg broadcast back. Partial pooling at 100 TB is
    exactly this plan.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")),
        "o_custkey",
    ).select(
        F.col("c_nationkey").alias("nation"),
        (F.col("o_totalprice") * 100).alias("price_cents"),
        (F.col("o_orderkey") % 100).alias("x"),
    )
    grp = j.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("regr_slope(price_cents, x)").alias("slope_g"),
    )
    pooled = j.agg(F.expr("regr_slope(price_cents, x)").alias("slope_p"))
    return grp.crossJoin(F.broadcast(pooled)).select(
        "nation",
        "n",
        F.round("slope_g", 4).alias("group_slope"),
        F.round("slope_p", 4).alias("pooled_slope"),
        F.round(
            (F.col("n") * F.col("slope_g") + 200 * F.col("slope_p"))
            / (F.col("n") + 200),
            4,
        ).alias("shrunk_slope"),
    )


# ---------------------------------------------------------------------------
# wave 82: time-decayed popularity ranking
# ---------------------------------------------------------------------------


@query(
    "decayed_popularity_ranking",
    oracle="""
    WITH views AS (
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item_id,
               epoch_us(ts) AS t
        FROM events
        WHERE event_type = 'view'
          AND json_extract_string(props, '$.k') IS NOT NULL
    ), horizon AS (
        SELECT MAX(t) AS now_us FROM views
    ), scored AS (
        SELECT item_id,
               CAST(COUNT(*) AS BIGINT) AS n_views,
               SUM(1.0 / pow((CAST(now_us - t AS DOUBLE) / 3600000000.0 + 2.0),
                             1.5)) AS decayed
        FROM views, horizon GROUP BY item_id
    )
    SELECT item_id, n_views, ROUND(decayed, 6) AS decayed_score
    FROM scored
    ORDER BY decayed DESC, item_id
    LIMIT 15
    """,
)
def decayed_popularity_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gravity-decayed popularity feed ranking: each view contributes
    1/(age_hours + 2)^1.5 (the classic news-feed decay curve), top-15
    items by decayed score — recency-aware trending that a raw count
    ranking ('all-time popular') can never express. 'Now' is pinned to
    the max event time so the query is replayable.

    Determinism note: the decayed score is a float SUM whose
    accumulation order differs between engines — per-item sums here are
    small (≤ a few hundred terms) and the ranking gap between items is
    >> the 1-ulp noise, with item_id tie-breaks and 6-decimal rounding
    on display; for adversarial scales the documented exact form is
    micro-unit quantization per term (the `unigram_logprob_quality`
    trick).

    Scale shape: JSON-shredded views collapse per item in one hash agg
    with map-side partials; TakeOrdered top-k. The decay needs no
    refresh jobs — the score is a pure function of (now, view times).
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    views = ev.filter(
        (F.col("event_type") == "view")
        & F.get_json_object("props", "$.k").isNotNull()
    ).select(
        F.get_json_object("props", "$.k").cast("long").alias("item_id"),
        us.alias("t"),
    )
    horizon = views.agg(F.max("t").alias("now_us"))
    scored = (
        views.crossJoin(F.broadcast(horizon))
        .groupBy("item_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_views"),
            F.sum(
                1.0
                / F.pow(
                    (F.col("now_us") - F.col("t")).cast("double") / 3600000000.0
                    + 2.0,
                    1.5,
                )
            ).alias("decayed"),
        )
    )
    return (
        scored.orderBy(F.desc("decayed"), F.asc("item_id"))
        .limit(15)
        .select("item_id", "n_views", F.round("decayed", 6).alias("decayed_score"))
    )


# ---------------------------------------------------------------------------
# wave 83: SLO error-budget burn, difference-in-differences
# ---------------------------------------------------------------------------


@query(
    "slo_error_budget_burn",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS errs
        FROM events GROUP BY 1
    ), cum AS (
        SELECT day, n, errs,
               SUM(errs) OVER (ORDER BY day) AS cum_errs,
               SUM(n) OVER (ORDER BY day) AS cum_n
        FROM daily
    )
    SELECT day, n, errs,
           CAST(errs * 1000000 // n AS BIGINT) AS daily_error_ppm,
           CAST(cum_errs AS BIGINT) AS cum_errors,
           -- budget: 25% error-rate SLO; burn = cumulative errors as ppm
           -- of the cumulative allowance
           CAST(cum_errs * 4000000 // cum_n AS BIGINT) AS budget_burn_ppm
    FROM cum
    """,
)
def slo_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE error-budget burn-down: daily error rate against a 25%
    error-rate SLO, with the cumulative burn expressed as ppm of the
    cumulative allowance (10⁶ = budget exactly spent; >10⁶ = SLO
    breached, freeze launches) — the error-budget arithmetic of
    SLO-based alerting as one exact-integer relation (burn =
    cum_errors · (10⁶/0.25) ÷ cum_events). The fixture's ~20% error
    share makes the burn hover meaningfully below breach.

    Scale shape: one daily hash agg; two running windows over |days|
    rows sharing one frame. Thresholds are config; the shape is the
    operator.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    daily = ev.groupBy(epoch_day("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("errs"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = daily.select(
        "day",
        "n",
        "errs",
        F.sum("errs").over(w).alias("cum_errs"),
        F.sum("n").over(w).alias("cum_n"),
    )
    return cum.select(
        "day",
        "n",
        "errs",
        F.expr("errs * 1000000L div n").cast("long").alias("daily_error_ppm"),
        F.col("cum_errs").cast("long").alias("cum_errors"),
        F.expr("cum_errs * 4000000L div cum_n").cast("long").alias("budget_burn_ppm"),
    )


@query(
    "diff_in_diff_revenue",
    oracle="""
    WITH o AS (
        SELECT c.c_nationkey % 2 AS grp,
               CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT) AS day,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), bounds AS (
        SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM o
    ), cells AS (
        SELECT grp, CASE WHEN day < mid THEN 0 ELSE 1 END AS post,
               CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s
        FROM o, bounds GROUP BY 1, 2
    )
    SELECT
        CAST(MAX(CASE WHEN grp = 1 AND post = 1 THEN s // n END) AS BIGINT)
            AS treat_post,
        CAST(MAX(CASE WHEN grp = 1 AND post = 0 THEN s // n END) AS BIGINT)
            AS treat_pre,
        CAST(MAX(CASE WHEN grp = 0 AND post = 1 THEN s // n END) AS BIGINT)
            AS ctrl_post,
        CAST(MAX(CASE WHEN grp = 0 AND post = 0 THEN s // n END) AS BIGINT)
            AS ctrl_pre,
        CAST(MAX(CASE WHEN grp = 1 AND post = 1 THEN s // n END)
             - MAX(CASE WHEN grp = 1 AND post = 0 THEN s // n END)
             - (MAX(CASE WHEN grp = 0 AND post = 1 THEN s // n END)
                - MAX(CASE WHEN grp = 0 AND post = 0 THEN s // n END))
             AS BIGINT) AS did_cents
    FROM cells
    """,
)
def diff_in_diff_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the change in mean order value for the
    'treated' nation group (odd nation keys — a stand-in policy rollout)
    minus the change in the control group across the period midpoint —
    the workhorse quasi-experimental estimator when randomization isn't
    available, assuming parallel trends (which the hash-split fixture
    satisfies by construction, so DiD ≈ 0 here — the null case the
    estimator should report). All four cell means are exact BIGINT
    floor-divisions; the DiD is their integer combination.

    Scale shape: one dim join (broadcast), a 4-cell conditional agg with
    map-side partials, constant algebra after.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    o = orders.join(
        F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")),
        "o_custkey",
    ).select(
        (F.col("c_nationkey") % 2).alias("grp"),
        epoch_day("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    bounds = o.agg(F.expr("(min(day) + max(day)) div 2").alias("mid"))
    cells = (
        o.crossJoin(F.broadcast(bounds))
        .groupBy("grp", F.when(F.col("day") < F.col("mid"), 0).otherwise(1).alias("post"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("s"),
        )
    )
    mean = F.expr("s div n")
    cell = lambda g, p: F.max(
        F.when((F.col("grp") == g) & (F.col("post") == p), mean)
    )
    return cells.agg(
        cell(1, 1).cast("long").alias("treat_post"),
        cell(1, 0).cast("long").alias("treat_pre"),
        cell(0, 1).cast("long").alias("ctrl_post"),
        cell(0, 0).cast("long").alias("ctrl_pre"),
        (cell(1, 1) - cell(1, 0) - (cell(0, 1) - cell(0, 0)))
        .cast("long")
        .alias("did_cents"),
    )


# ---------------------------------------------------------------------------
# wave 84: generalized means, weighted Jaccard
# ---------------------------------------------------------------------------


@query(
    "generalized_means_suite",
    oracle="""
    WITH m AS (
        SELECT o_orderstatus,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_totalprice > 0
    ), agg AS (
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s,
               CAST(SUM(CAST(ROUND(ln(CAST(cents AS DOUBLE)) * 1000000) AS BIGINT))
                    AS BIGINT) AS ln_unats,
               CAST(SUM(1000000000 // cents) AS BIGINT) AS recip_nanos
        FROM m GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, n,
           CAST(s // n AS BIGINT) AS arith_mean_cents,
           CAST(ROUND(exp(CAST(ln_unats // n AS DOUBLE) / 1000000)) AS BIGINT)
               AS geo_mean_cents,
           CAST(n * 1000000000 // recip_nanos AS BIGINT) AS harm_mean_cents
    FROM agg
    """,
)
def generalized_means_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pythagorean-means suite per order status: arithmetic
    (exact integer), geometric (mean of micro-nat-quantized logs,
    exponentiated — the mean for ratios and growth rates), and harmonic
    (from nano-unit-quantized reciprocals — the mean for rates, e.g.
    'average price per unit' done right). Every accumulation is a BIGINT
    sum of pre-quantized terms, so all three means are
    summation-order-proof; AM ≥ GM ≥ HM is test-pinned.

    Scale shape: one partial+final hash agg carrying four BIGINTs per
    group; constant arithmetic out.
    """
    orders = load_table(spark, sf_dir, "orders")
    m = orders.filter(F.col("o_totalprice") > 0).select(
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    agg = m.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(
            F.round(F.log(F.col("cents").cast("double")) * 1000000).cast("long")
        )
        .cast("long")
        .alias("ln_unats"),
        F.sum(F.expr("1000000000L div cents")).cast("long").alias("recip_nanos"),
    )
    return agg.select(
        "o_orderstatus",
        "n",
        F.expr("s div n").cast("long").alias("arith_mean_cents"),
        F.round(F.exp(F.expr("CAST(ln_unats div n AS DOUBLE) / 1000000")))
        .cast("long")
        .alias("geo_mean_cents"),
        F.expr("n * 1000000000L div recip_nanos").cast("long").alias(
            "harm_mean_cents"
        ),
    )


@query(
    "weighted_jaccard_sources",
    oracle="""
    WITH tc AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (
            SELECT source,
                   unnest(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                          ELSE string_split_regex(lower(trim(text)), '\\s+') END)
                       AS w
            FROM documents
        ) GROUP BY source, w
    ), pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS min_sum
        FROM tc a JOIN tc b ON b.w = a.w AND b.source > a.source
        GROUP BY 1, 2
    ), totals AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS tot FROM tc GROUP BY source
    )
    SELECT p.src_a, p.src_b, p.min_sum,
           CAST(p.min_sum * 1000000
                // (ta.tot + tb.tot - p.min_sum) AS BIGINT) AS wjaccard_ppm
    FROM pairs p JOIN totals ta ON ta.source = p.src_a
                 JOIN totals tb ON tb.source = p.src_b
    WHERE p.min_sum * 1000000 // (ta.tot + tb.tot - p.min_sum) >= 300000
    """,
)
def weighted_jaccard_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (multiset) Jaccard similarity between source token-count
    vectors: Σmin(c_a,c_b)/Σmax(c_a,c_b) in exact ppm, reported for
    pairs above 0.30 — the multiplicity-aware twin of the distinct-
    shingle `source_shingle_overlap` (two crawls can share every word
    type yet have wildly different usage MIXES; this metric sees that).
    Σmax is computed as tot_a + tot_b − Σmin, so only co-occurring
    vocabulary ever joins. All BIGINT.

    Scale shape: one (source, token) hash agg; the pair join is keyed
    on the token with fan-out bounded by |sources| per token (never
    quadratic in documents); totals broadcast onto the |sources|² result.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    tc = (
        docs.select("source", F.explode(ws_tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tc = _ckpt(tc)  # shared fan-out relation
    a = tc.select(F.col("source").alias("src_a"), "w", F.col("c").alias("ca"))
    b = tc.select(F.col("source").alias("src_b"), "w", F.col("c").alias("cb"))
    pairs = (
        a.join(b, "w")
        .filter(F.col("src_b") > F.col("src_a"))
        .groupBy("src_a", "src_b")
        .agg(F.sum(F.least("ca", "cb")).cast("long").alias("min_sum"))
    )
    totals = tc.groupBy("source").agg(F.sum("c").cast("long").alias("tot"))
    totals = _ckpt(totals)  # shared fan-out relation
    j = (
        pairs.join(
            F.broadcast(totals.select(F.col("source").alias("src_a"),
                                      F.col("tot").alias("ta"))),
            "src_a",
        )
        .join(
            F.broadcast(totals.select(F.col("source").alias("src_b"),
                                      F.col("tot").alias("tb"))),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "min_sum",
            F.expr("min_sum * 1000000L div (ta + tb - min_sum)")
            .cast("long")
            .alias("wjaccard_ppm"),
        )
    )
    return j.filter(F.col("wjaccard_ppm") >= 300000)


# ---------------------------------------------------------------------------
# wave 85: Cramér-von Mises drift, quantile treatment effects
# ---------------------------------------------------------------------------


@query(
    "cramer_von_mises_drift",
    oracle="""
    WITH m AS (
        SELECT CAST(ROUND(value * 100) AS BIGINT) AS cents,
               CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS grp,
               event_id
        FROM events WHERE event_type IN ('view', 'purchase')
    ), pooled AS (
        SELECT grp,
               ROW_NUMBER() OVER (ORDER BY cents, event_id) AS r,
               ROW_NUMBER() OVER (PARTITION BY grp ORDER BY cents, event_id) AS i
        FROM m
    ), sums AS (
        SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS mm,
               CAST(SUM(CASE WHEN grp = 0 THEN (r - i) * (r - i) END) AS HUGEINT)
                   AS ua,
               CAST(SUM(CASE WHEN grp = 1 THEN (r - i) * (r - i) END) AS HUGEINT)
                   AS ub
        FROM pooled
    )
    SELECT n AS n_view, mm AS n_purchase,
           CAST(n * ua + mm * ub AS BIGINT) AS u_stat,
           ROUND(CAST(n * ua + mm * ub AS DOUBLE) / (CAST(n AS DOUBLE) * mm * (n + mm))
                 - (4.0 * n * mm - 1) / (6.0 * (n + mm)), 6) AS cvm_t
    FROM sums
    """,
)
def cramer_von_mises_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises statistic between view and purchase
    value distributions — the INTEGRATED-gap drift test beside KS's
    max-gap (`ks_drift_view_purchase`): CvM sees distributed small
    shifts across the whole distribution that a single crossing point
    hides. Computed by the rank formula: U = n·Σ(r_i−i)² + m·Σ(s_j−j)²
    over pooled vs within-group ranks — exact 128-bit integers with a
    deterministic (value, event_id) tie order; T is two IEEE ops on
    those exact sums.

    Scale shape: pooled AND within-group ranks come from ONE pass of
    ``operators/rank.py:distributed_order_stats`` — range-bucket on
    cents, per-bucket partitioned windows, broadcast prefix offsets
    (per bucket for the pooled rank, per (bucket, group) for the
    group ranks) — so no task ever sorts more than one bucket; a
    bare ``Window.orderBy`` here would single-task the whole event
    stream. The U aggregation is a 1-row reduce. No pairwise work.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_order_stats,
    )

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    m = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.col("event_type") == "view", 0).otherwise(1).alias("grp"),
        "event_id",
    )
    pooled = distributed_order_stats(
        m,
        "cents",
        ["event_id"],
        rank_col="r",
        grp_col="grp",
        grp_rank_col="i",
    ).select("grp", "r", "i")
    d2 = ((F.col("r") - F.col("i")) * (F.col("r") - F.col("i"))).cast(
        "decimal(38,0)"
    )
    sums = pooled.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("n"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("mm"),
        F.sum(F.when(F.col("grp") == 0, d2)).alias("ua"),
        F.sum(F.when(F.col("grp") == 1, d2)).alias("ub"),
    )
    u = F.col("n") * F.col("ua") + F.col("mm") * F.col("ub")
    return sums.select(
        F.col("n").alias("n_view"),
        F.col("mm").alias("n_purchase"),
        u.cast("long").alias("u_stat"),
        F.round(
            u.cast("double")
            / (F.col("n").cast("double") * F.col("mm") * (F.col("n") + F.col("mm")))
            - (4.0 * F.col("n") * F.col("mm") - 1)
            / (6.0 * (F.col("n") + F.col("mm"))),
            6,
        ).alias("cvm_t"),
    )


@query(
    "quantile_treatment_effect",
    oracle="""
    WITH m AS (
        SELECT ((user_id * 2654435761) % 4294967296) % 2 AS arm,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ), q AS (
        SELECT arm,
               quantile_cont(CAST(cents AS DOUBLE),
                             [0.1, 0.25, 0.5, 0.75, 0.9]) AS qs
        FROM m GROUP BY arm
    ), wide AS (
        SELECT g.i AS qi,
               MAX(CASE WHEN arm = 0 THEN qs[g.i] END) AS q0,
               MAX(CASE WHEN arm = 1 THEN qs[g.i] END) AS q1
        FROM q, LATERAL (SELECT unnest(generate_series(1, 5)) AS i) g
        GROUP BY g.i
    )
    SELECT CAST(qi AS BIGINT) AS quantile_idx,
           ROUND(q0, 4) AS ctrl_cents, ROUND(q1, 4) AS treat_cents,
           ROUND(q1 - q0, 4) AS qte_cents
    FROM wide
    """,
)
def quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the arm-1-minus-arm-0 difference at
    the 10/25/50/75/90th percentiles of purchase value — the
    DISTRIBUTIONAL uplift view that a mean difference (CUPED, bootstrap
    uplift) collapses: a treatment can move the p90 while leaving the
    median untouched, and only this readout shows it. Percentiles are
    exact interpolations over BIGINT cents (engine-identical doubles);
    the effect is one subtraction per row.

    Scale shape: per-arm exact percentile aggs (sort-based within two
    groups); the pivot runs on 10 values.
    """
    ev = load_table(spark, sf_dir, "events")
    m = ev.filter(F.col("event_type") == "purchase").select(
        (((F.col("user_id") * 2654435761) % 4294967296) % 2).alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    q = m.groupBy("arm").agg(
        F.expr(
            "percentile(CAST(cents AS DOUBLE), array(0.1D,0.25D,0.5D,0.75D,0.9D))"
        ).alias("qs")
    )
    wide = (
        q.select("arm", F.posexplode("qs").alias("p", "v"))
        .groupBy((F.col("p") + 1).alias("quantile_idx"))
        .agg(
            F.max(F.when(F.col("arm") == 0, F.col("v"))).alias("q0"),
            F.max(F.when(F.col("arm") == 1, F.col("v"))).alias("q1"),
        )
    )
    return wide.select(
        F.col("quantile_idx").cast("long").alias("quantile_idx"),
        F.round("q0", 4).alias("ctrl_cents"),
        F.round("q1", 4).alias("treat_cents"),
        F.round(F.col("q1") - F.col("q0"), 4).alias("qte_cents"),
    )


# ---------------------------------------------------------------------------
# wave 86: UCB exploration ranking, char-entropy compressibility
# ---------------------------------------------------------------------------


@query(
    "ucb_item_ranking",
    oracle="""
    WITH ev AS (
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS reward
        FROM events
        WHERE event_type IN ('view', 'purchase')
          AND json_extract_string(props, '$.k') IS NOT NULL
    ), arms AS (
        SELECT item_id, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(reward) AS BIGINT) AS k
        FROM ev GROUP BY item_id
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS big_n FROM arms
    )
    SELECT item_id, n, k,
           ROUND(CAST(k AS DOUBLE) / n
                 + sqrt(2.0 * ln(CAST(big_n AS DOUBLE)) / n), 6) AS ucb1
    FROM arms, tot
    ORDER BY CAST(k AS DOUBLE) / n
             + sqrt(2.0 * ln(CAST(big_n AS DOUBLE)) / n) DESC, item_id
    LIMIT 15
    """,
)
def ucb_item_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UCB1 bandit scores per item: empirical purchase-per-interaction
    rate plus the √(2·ln N / n) exploration bonus, top-15 — the
    deterministic replay of the explore/exploit ranking an adaptive
    system would serve (low-data items float UP via the bonus — exactly
    what a pure popularity ranking suppresses; compare
    `decayed_popularity_ranking`). Counts are exact; the score is a
    fixed IEEE dag per arm with item-id tie-breaks; the separation
    between arms dwarfs ulp noise.

    Scale shape: JSON shred → per-item (n, k) hash agg; the scalar N
    broadcasts; TakeOrdered top-k.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.filter(
        F.col("event_type").isin("view", "purchase")
        & F.get_json_object("props", "$.k").isNotNull()
    ).select(
        F.get_json_object("props", "$.k").cast("long").alias("item_id"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("reward"),
    )
    arms = e.groupBy("item_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("reward").cast("long").alias("k"),
    )
    tot = arms.agg(F.sum("n").cast("long").alias("big_n"))
    ucb = F.col("k").cast("double") / F.col("n") + F.sqrt(
        2.0 * F.log(F.col("big_n").cast("double")) / F.col("n")
    )
    return (
        arms.crossJoin(F.broadcast(tot))
        .orderBy(ucb.desc(), F.asc("item_id"))
        .limit(15)
        .select("item_id", "n", "k", F.round(ucb, 6).alias("ucb1"))
    )


@query(
    "char_entropy_compressibility",
    oracle="""
    WITH chars AS (
        SELECT doc_id, lang,
               unnest(string_split_regex(lower(trim(text)), '')) AS ch
        FROM documents WHERE trim(text) <> ''
    ), counts AS (
        SELECT lang, ch, CAST(COUNT(*) AS BIGINT) AS c
        FROM chars WHERE ch <> '' GROUP BY lang, ch
    ), lstats AS (
        SELECT lang, CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS alphabet
        FROM counts GROUP BY lang
    ), ent AS (
        SELECT c.lang,
               CAST(SUM(c.c * CAST(ROUND(ln(CAST(c.c AS DOUBLE) / s.n) * 1000000)
                    AS BIGINT)) AS BIGINT) AS neg_h_n_unats
        FROM counts c JOIN lstats s ON s.lang = c.lang GROUP BY c.lang
    )
    SELECT s.lang, s.n AS n_chars, s.alphabet,
           CAST(-e.neg_h_n_unats // s.n AS BIGINT) AS entropy_unats,
           ROUND(CAST(-e.neg_h_n_unats // s.n AS DOUBLE) / 1000000 / ln(2.0), 4)
               AS bits_per_char
    FROM lstats s JOIN ent e ON e.lang = s.lang
    """,
)
def char_entropy_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per language in bits/char — the
    compressibility floor (an order-0 entropy coder can't beat it):
    natural language sits near 4-4.5 bits/char, base64/random blobs
    near 6, templated or repeated text far lower. The cheap
    detect-the-garbage signal beside the token-level
    `effective_vocab_size`, using the same micro-nat pre-quantization
    so sums are exact integers on both engines.

    Scale shape: char explode (map-side) → alphabet-bounded (lang, ch)
    agg; entropy on the tiny count relation; constants out.
    """
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.filter(F.trim(F.col("text")) != "").select(
        "lang",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("lang", "ch").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    lstats = counts.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("alphabet"),
    )
    ent = (
        counts.join(F.broadcast(lstats.select("lang", "n")), "lang")
        .select(
            "lang",
            (
                F.col("c")
                * F.round(F.log(F.col("c").cast("double") / F.col("n")) * 1000000)
                .cast("long")
            ).alias("t"),
        )
        .groupBy("lang")
        .agg(F.sum("t").cast("long").alias("neg_h_n_unats"))
    )
    import math

    return lstats.join(ent, "lang").select(
        "lang",
        F.col("n").alias("n_chars"),
        "alphabet",
        F.expr("-neg_h_n_unats div n").cast("long").alias("entropy_unats"),
        F.round(
            F.expr("CAST(-neg_h_n_unats div n AS DOUBLE) / 1000000")
            / float(math.log(2.0)),
            4,
        ).alias("bits_per_char"),
    )


# ---------------------------------------------------------------------------
# wave 87: Herfindahl concentration, rich-club coefficient
# ---------------------------------------------------------------------------


@query(
    "hhi_supplier_concentration",
    oracle="""
    WITH rev AS (
        SELECT s.s_nationkey AS nation, l.l_suppkey AS supp,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
        GROUP BY 1, 2
    ), tot AS (
        SELECT nation, CAST(SUM(cents) AS BIGINT) AS t,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers
        FROM rev GROUP BY nation
    ), shares AS (
        SELECT r.nation, t.n_suppliers,
               r.cents * 1000000 // t.t AS share_ppm
        FROM rev r JOIN tot t ON t.nation = r.nation
    )
    SELECT nation, CAST(MAX(n_suppliers) AS BIGINT) AS n_suppliers,
           CAST(SUM(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi_ppm
    FROM shares GROUP BY nation
    """,
)
def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within
    each nation's market, in exact ppm (10⁶ = monopoly; 10⁶/n = perfect
    competition) — the antitrust/market-structure scalar beside the
    customer-side Gini/Lorenz: HHI weights the BIG players
    quadratically, so one dominant supplier moves it where Gini barely
    stirs. Shares are floored ppm integers and HHI is their exact
    squared sum — all BIGINT.

    Scale shape: fact → (nation, supplier) collapse; totals broadcast
    back; one |nations|-row final agg.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    rev = (
        li.join(
            F.broadcast(supp.select(F.col("s_suppkey").alias("l_suppkey"),
                                    "s_nationkey")),
            "l_suppkey",
        )
        .groupBy(F.col("s_nationkey").alias("nation"), "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    tot = rev.groupBy("nation").agg(
        F.sum("cents").cast("long").alias("t"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
    )
    shares = rev.join(F.broadcast(tot), "nation").select(
        "nation", "n_suppliers", F.expr("cents * 1000000L div t").alias("share_ppm")
    )
    return shares.groupBy("nation").agg(
        F.max("n_suppliers").cast("long").alias("n_suppliers"),
        F.expr("sum(share_ppm * share_ppm) div 1000000L")
        .cast("long")
        .alias("hhi_ppm"),
    )


@query(
    "rich_club_coefficient",
    oracle="""
    WITH fwd AS (
        SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), edges AS (
        SELECT 'c' || CAST(ck AS VARCHAR) AS src, 's' || CAST(sk AS VARCHAR) AS dst
        FROM fwd
        UNION ALL
        SELECT 's' || CAST(sk AS VARCHAR), 'c' || CAST(ck AS VARCHAR) FROM fwd
    ), deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src
    ), ks AS (
        SELECT unnest([4, 8, 16, 32]) AS k
    ), club AS (
        SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS n_club
        FROM ks JOIN deg ON deg.d > ks.k GROUP BY ks.k
    ), club_edges AS (
        SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS e2
        FROM ks JOIN edges e ON TRUE
        JOIN deg ds ON ds.node = e.src AND ds.d > ks.k
        JOIN deg dd ON dd.node = e.dst AND dd.d > ks.k
        GROUP BY ks.k
    )
    SELECT c.k, c.n_club,
           CAST(COALESCE(ce.e2, 0) AS BIGINT) AS directed_edges_in_club,
           CAST(CASE WHEN c.n_club < 2 THEN 0
                ELSE COALESCE(ce.e2, 0) * 1000000 // (c.n_club * (c.n_club - 1))
                END AS BIGINT) AS phi_ppm
    FROM club c LEFT JOIN club_edges ce ON ce.k = c.k
    """,
)
def rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient φ(k) of the bidirected trade graph at
    degree thresholds {4,8,16,32}: the edge density among nodes of
    degree > k, in exact ppm — 'do the hubs form their own dense club?'
    (with modularity, assortativity, k-core, triangles this completes
    the structural-metrics shelf). A bipartite graph CAN'T close
    hub-hub edges within a side, so low φ here is the expected
    signature — which is the point: the metric exposes bipartiteness.

    Scale shape: degrees are one hash agg; club membership is a
    broadcast-joined filter on the edge list per threshold (4 passes
    over a narrow edge relation, or one pass with an array contains at
    scale); counts are exact.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    fwd = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    # distinct edge relation fans out to both direction projections —
    # without materialization the orders⋈lineitem distinct runs once
    # per consumer (census: orders/lineitem ×8)
    fwd = _ckpt(fwd)
    e1 = fwd.select(
        F.concat(F.lit("c"), F.col("ck").cast("string")).alias("src"),
        F.concat(F.lit("s"), F.col("sk").cast("string")).alias("dst"),
    )
    e2 = fwd.select(
        F.concat(F.lit("s"), F.col("sk").cast("string")).alias("src"),
        F.concat(F.lit("c"), F.col("ck").cast("string")).alias("dst"),
    )
    edges = e1.unionByName(e2)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    deg = _ckpt(deg)  # degree relation fans out (club + both ce joins)
    ks = spark.createDataFrame([(4,), (8,), (16,), (32,)], "k long")
    club = ks.join(deg, deg.d > ks.k).groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_club")
    )
    ce = (
        ks.crossJoin(edges)
        .join(
            deg.select(F.col("node").alias("src"), F.col("d").alias("ds")), "src"
        )
        .join(
            deg.select(F.col("node").alias("dst"), F.col("d").alias("dd")), "dst"
        )
        .filter((F.col("ds") > F.col("k")) & (F.col("dd") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("long").alias("e2"))
    )
    return (
        club.join(ce, "k", "left")
        .select(
            "k",
            "n_club",
            F.coalesce("e2", F.lit(0)).cast("long").alias("directed_edges_in_club"),
            F.when(F.col("n_club") < 2, 0)
            .otherwise(
                F.expr(
                    "coalesce(e2, 0L) * 1000000L div (n_club * (n_club - 1))"
                )
            )
            .cast("long")
            .alias("phi_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# wave 88: log-rank test between arms
# ---------------------------------------------------------------------------


@query(
    "logrank_test_arms",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               ((user_id * 2654435761) % 4294967296) % 2 AS arm,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS buy_ts
        FROM events GROUP BY user_id
    ), horizon AS (
        SELECT MAX(ts) AS max_ts FROM events
    ), durations AS (
        SELECT arm,
               CAST(CASE WHEN buy_ts IS NOT NULL AND buy_ts >= signup_ts
                    THEN date_diff('day', signup_ts, buy_ts)
                    ELSE date_diff('day', signup_ts, max_ts) END AS BIGINT)
                   AS t_days,
               CASE WHEN buy_ts IS NOT NULL AND buy_ts >= signup_ts
                    THEN 1 ELSE 0 END AS event
        FROM per_user, horizon WHERE signup_ts IS NOT NULL
    ), day_counts AS (
        SELECT t_days,
               CAST(SUM(CASE WHEN arm = 1 THEN event ELSE 0 END) AS BIGINT) AS d1,
               CAST(SUM(event) AS BIGINT) AS d,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS h1,
               CAST(COUNT(*) AS BIGINT) AS h
        FROM durations GROUP BY t_days
    ), risk AS (
        SELECT t_days, d1, d,
               CAST((SELECT SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                     FROM durations)
                    - COALESCE(SUM(h1) OVER (ORDER BY t_days
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n1,
               CAST((SELECT COUNT(*) FROM durations)
                    - COALESCE(SUM(h) OVER (ORDER BY t_days
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n
        FROM day_counts
    ), terms AS (
        SELECT d1, d, n1, n,
               d * n1 * 1000000 // n AS e1_u,
               CASE WHEN n <= 1 THEN 0
                    ELSE d * n1 * (n - n1) * (n - d) * 1000000
                         // (n * n * (n - 1)) END AS v_u
        FROM risk WHERE d > 0
    )
    SELECT CAST(SUM(d1) AS BIGINT) AS o1,
           CAST(SUM(e1_u) AS BIGINT) AS e1_unats,
           CAST(SUM(v_u) AS BIGINT) AS v_unats,
           ROUND((SUM(d1) * 1000000.0 - SUM(e1_u))
                 / sqrt(CAST(SUM(v_u) AS DOUBLE) * 1000000.0), 6) AS z
    FROM terms
    """,
)
def logrank_test_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test between the two hash arms' signup→purchase survival
    curves — the standard 'are these two time-to-event curves the same'
    test, with full right-censoring handling (censored users leave the
    risk set without counting as events). O₁−E₁ accumulates per-death-day
    hypergeometric expectations and variances as FLOOR-quantized
    micro-unit integers (each term d·n₁/n and its variance is one exact
    integer division), so the sums are engine-identical; z does one
    final sqrt+divide. Null case by construction on hash arms.

    Scale shape: the duration relation is per-user; at-risk counts come
    from one ordered cumsum window over |distinct days| rows (no
    per-day rescans); the test statistic is a 1-row reduce.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("signup_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("buy_ts"),
    ).select(
        (((F.col("user_id") * 2654435761) % 4294967296) % 2).alias("arm"),
        "signup_ts",
        "buy_ts",
    )
    horizon = ev.agg(F.max("ts").alias("max_ts"))
    has_buy = F.col("buy_ts").isNotNull() & (F.col("buy_ts") >= F.col("signup_ts"))
    durations = (
        per_user.filter(F.col("signup_ts").isNotNull())
        .crossJoin(F.broadcast(horizon))
        .select(
            "arm",
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
    day_counts = durations.groupBy("t_days").agg(
        F.sum(F.when(F.col("arm") == 1, F.col("event")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.sum("event").cast("long").alias("d"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("h1"),
        F.count(F.lit(1)).cast("long").alias("h"),
    )
    totals = durations.agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("t1"),
        F.count(F.lit(1)).cast("long").alias("t"),
    )
    wprev = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, -1)
    risk = day_counts.crossJoin(F.broadcast(totals)).select(
        "t_days",
        "d1",
        "d",
        (F.col("t1") - F.coalesce(F.sum("h1").over(wprev), F.lit(0))).alias("n1"),
        (F.col("t") - F.coalesce(F.sum("h").over(wprev), F.lit(0))).alias("n"),
    )
    terms = risk.filter(F.col("d") > 0).select(
        "d1",
        F.expr("d * n1 * 1000000L div n").alias("e1_u"),
        F.when(F.col("n") <= 1, 0)
        .otherwise(
            F.expr("d * n1 * (n - n1) * (n - d) * 1000000L div (n * n * (n - 1))")
        )
        .alias("v_u"),
    )
    return terms.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("e1_u").cast("long").alias("e1_unats"),
        F.sum("v_u").cast("long").alias("v_unats"),
        F.round(
            (F.sum("d1") * 1000000.0 - F.sum("e1_u"))
            / F.sqrt(F.sum("v_u").cast("double") * 1000000.0),
            6,
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# wave 89: empirical-Bayes rate shrinkage, weekly rank movers
# ---------------------------------------------------------------------------


@query(
    "eb_shrunk_ctr",
    oracle="""
    WITH ev AS (
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
        FROM events
        WHERE event_type IN ('view', 'purchase')
          AND json_extract_string(props, '$.k') IS NOT NULL
    ), arms AS (
        SELECT item_id, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(conv) AS BIGINT) AS k
        FROM ev GROUP BY item_id
    ), mom AS (
        -- method-of-moments beta prior from the cross-item rate spread
        SELECT AVG(CAST(k AS DOUBLE) / n) AS mu,
               AVG(CAST(k AS DOUBLE) / n * (CAST(k AS DOUBLE) / n)) AS m2,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM arms
    ), prior AS (
        SELECT mu,
               CASE WHEN m2 - mu * mu <= 0 THEN 100.0
                    ELSE mu * (1 - mu) / (m2 - mu * mu) - 1 END AS nu
        FROM mom
    )
    SELECT a.item_id, a.n, a.k,
           ROUND(CAST(a.k AS DOUBLE) / a.n, 6) AS raw_rate,
           ROUND((a.k + p.mu * GREATEST(p.nu, 1.0))
                 / (a.n + GREATEST(p.nu, 1.0)), 6) AS shrunk_rate
    FROM arms a, prior p
    """,
)
def eb_shrunk_ctr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes conversion-rate smoothing: every item's raw
    purchase rate shrunk toward the cross-item mean by a beta prior fit
    by method of moments (prior strength ν = μ(1−μ)/var − 1, floored at
    1) — the industrial fix for 1-view-1-purchase items topping naive
    rankings; the rate counterpart of `shrunk_group_slopes`. Raw and
    shrunk rates ship side by side so the shrinkage is auditable.

    Determinism: counts exact; μ and ν are fixed IEEE dags over AVG
    moments of per-item exact ratios (item count is small enough that
    averaging order noise is below the 6-decimal rounding; the exact
    micro-unit path is documented for adversarial scale).

    Scale shape: one per-item agg, a 1-row prior, broadcast back.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.filter(
        F.col("event_type").isin("view", "purchase")
        & F.get_json_object("props", "$.k").isNotNull()
    ).select(
        F.get_json_object("props", "$.k").cast("long").alias("item_id"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("conv"),
    )
    arms = e.groupBy("item_id").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("k"),
    )
    rate = F.col("k").cast("double") / F.col("n")
    mom = arms.agg(
        F.avg(rate).alias("mu"),
        F.avg(rate * rate).alias("m2"),
    )
    prior = mom.select(
        "mu",
        F.when(F.col("m2") - F.col("mu") * F.col("mu") <= 0, 100.0)
        .otherwise(
            F.col("mu") * (1 - F.col("mu")) / (F.col("m2") - F.col("mu") * F.col("mu"))
            - 1
        )
        .alias("nu"),
    )
    nu = F.greatest(F.col("nu"), F.lit(1.0))
    return arms.crossJoin(F.broadcast(prior)).select(
        "item_id",
        "n",
        "k",
        F.round(rate, 6).alias("raw_rate"),
        F.round((F.col("k") + F.col("mu") * nu) / (F.col("n") + nu), 6).alias(
            "shrunk_rate"
        ),
    )


@query(
    "rank_movers_weekly",
    oracle="""
    WITH views AS (
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS item_id,
               CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS week
        FROM events
        WHERE event_type = 'view'
          AND json_extract_string(props, '$.k') IS NOT NULL
    ), weeks AS (
        SELECT MAX(week) AS cur FROM views
    ), counts AS (
        SELECT item_id, week, CAST(COUNT(*) AS BIGINT) AS n
        FROM views, weeks WHERE week IN (cur, cur - 1) GROUP BY item_id, week
    ), ranked AS (
        SELECT item_id, week, n,
               CAST(ROW_NUMBER() OVER (PARTITION BY week ORDER BY n DESC, item_id)
                    AS BIGINT) AS rnk
        FROM counts
    ), wide AS (
        SELECT c.item_id,
               MAX(CASE WHEN week = w.cur THEN rnk END) AS rank_now,
               MAX(CASE WHEN week = w.cur - 1 THEN rnk END) AS rank_prev
        FROM ranked c, weeks w GROUP BY c.item_id
    )
    SELECT item_id, rank_now, rank_prev,
           CAST(rank_prev - rank_now AS BIGINT) AS places_gained
    FROM wide
    WHERE rank_now IS NOT NULL AND rank_prev IS NOT NULL
    ORDER BY rank_prev - rank_now DESC, item_id
    LIMIT 10
    """,
)
def rank_movers_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly rank movers: the top-10 items that climbed the most
    view-count rank positions between the last two epoch weeks — the
    'trending up' report a raw leaderboard hides (an item going
    40th→12th matters more than the stable #1). Ranks are tie-broken on
    item_id, weeks are pure epoch-week arithmetic, and the mover score
    is an integer rank delta — fully hash-stable.

    Scale shape: views collapse per (item, week) for just two weeks
    (pushed predicate); two in-partition rank windows; the pivot and
    top-k run on the item summary.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    views = ev.filter(
        (F.col("event_type") == "view")
        & F.get_json_object("props", "$.k").isNotNull()
    ).select(
        F.get_json_object("props", "$.k").cast("long").alias("item_id"),
        F.expr(
            "unix_micros(CAST(ts AS timestamp_ltz)) div 604800000000"
        ).cast("long").alias("week"),
    )
    weeks = views.agg(F.max("week").alias("cur"))
    counts = (
        views.crossJoin(F.broadcast(weeks))
        .filter((F.col("week") == F.col("cur")) | (F.col("week") == F.col("cur") - 1))
        .groupBy("item_id", "week", "cur")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    ranked = counts.select(
        "item_id",
        "week",
        "cur",
        F.row_number()
        .over(Window.partitionBy("week").orderBy(F.desc("n"), F.asc("item_id")))
        .cast("long")
        .alias("rnk"),
    )
    wide = ranked.groupBy("item_id").agg(
        F.max(F.when(F.col("week") == F.col("cur"), F.col("rnk"))).alias("rank_now"),
        F.max(F.when(F.col("week") == F.col("cur") - 1, F.col("rnk"))).alias(
            "rank_prev"
        ),
    )
    return (
        wide.filter(F.col("rank_now").isNotNull() & F.col("rank_prev").isNotNull())
        .select(
            "item_id",
            "rank_now",
            "rank_prev",
            (F.col("rank_prev") - F.col("rank_now")).cast("long").alias(
                "places_gained"
            ),
        )
        .orderBy(F.desc("places_gained"), F.asc("item_id"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# wave 90: post-stratified comparison, dose-response curve
# ---------------------------------------------------------------------------


@query(
    "stratified_arm_comparison",
    oracle="""
    WITH j AS (
        SELECT ((e.user_id * 2654435761) % 4294967296) % 2 AS arm,
               c.c_mktsegment AS stratum,
               CAST(ROUND(e.value * 100) AS BIGINT) AS cents
        FROM events e JOIN customer c ON c.c_custkey = e.user_id
        WHERE e.event_type = 'purchase'
    ), cells AS (
        SELECT stratum, arm, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s
        FROM j GROUP BY 1, 2
    ), strata AS (
        SELECT stratum,
               MAX(CASE WHEN arm = 0 THEN s // n END) AS m0,
               MAX(CASE WHEN arm = 1 THEN s // n END) AS m1,
               CAST(SUM(n) AS BIGINT) AS w
        FROM cells GROUP BY stratum
    ), tot AS (
        SELECT SUM(w) AS tw FROM strata WHERE m0 IS NOT NULL AND m1 IS NOT NULL
    )
    SELECT stratum, w AS n_purchases,
           CAST(m0 AS BIGINT) AS ctrl_mean_cents,
           CAST(m1 AS BIGINT) AS treat_mean_cents,
           CAST(m1 - m0 AS BIGINT) AS diff_cents,
           CAST(SUM((m1 - m0) * w) OVER () // MAX(tot.tw) OVER ()
                AS BIGINT) AS stratified_diff_cents
    FROM strata, tot
    WHERE m0 IS NOT NULL AND m1 IS NOT NULL
    """,
)
def stratified_arm_comparison(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified treatment comparison: within-segment arm
    differences in mean purchase cents, combined into one
    size-weighted stratified estimate (repeated on every row for the
    gate) — the confounder adjustment when arms are imbalanced across
    segments, where a pooled difference silently mixes segment effects
    (Simpson's trap). All cell means and the weighted combination are
    exact BIGINT integer arithmetic.

    Scale shape: one dim join (broadcast), a |strata|×2 cell agg,
    constant-size windows over the strata relation.
    """
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    j = (
        ev.filter(F.col("event_type") == "purchase")
        .join(
            F.broadcast(
                cust.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
            ),
            "user_id",
        )
        .select(
            (((F.col("user_id") * 2654435761) % 4294967296) % 2).alias("arm"),
            F.col("c_mktsegment").alias("stratum"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    cells = j.groupBy("stratum", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    mean = F.expr("s div n")
    strata = cells.groupBy("stratum").agg(
        F.max(F.when(F.col("arm") == 0, mean)).alias("m0"),
        F.max(F.when(F.col("arm") == 1, mean)).alias("m1"),
        F.sum("n").cast("long").alias("w"),
    ).filter(F.col("m0").isNotNull() & F.col("m1").isNotNull())
    wall = Window.partitionBy()
    return strata.select(
        "stratum",
        F.col("w").alias("n_purchases"),
        F.col("m0").cast("long").alias("ctrl_mean_cents"),
        F.col("m1").cast("long").alias("treat_mean_cents"),
        (F.col("m1") - F.col("m0")).cast("long").alias("diff_cents"),
        (
            F.sum((F.col("m1") - F.col("m0")) * F.col("w")).over(wall)
            / F.sum("w").over(wall)
        )
        .cast("long")
        .alias("stratified_diff_cents"),
    )


@query(
    "dose_response_curve",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS views,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
        FROM events GROUP BY user_id
    ), bucketed AS (
        SELECT NTILE(4) OVER (ORDER BY views, user_id) AS dose_quartile,
               views, bought
        FROM per_user
    )
    SELECT dose_quartile, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(views) AS BIGINT) AS min_views,
           CAST(MAX(views) AS BIGINT) AS max_views,
           CAST(SUM(bought) AS BIGINT) AS n_converted,
           CAST(SUM(bought) * 1000000 // COUNT(*) AS BIGINT) AS conversion_ppm
    FROM bucketed GROUP BY dose_quartile
    """,
)
def dose_response_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dose-response curve: conversion probability by exposure QUARTILE
    (views per user, custkey-tie-broken ntile so the curve adapts to
    any exposure distribution instead of hardcoding thresholds the data
    may never hit) — the monotonicity check behind 'does more exposure
    actually convert more', and the saturation-point finder for
    frequency capping. Each quartile reports its actual view range.
    Exact BIGINT counts and ppm rates.

    Scale shape: one per-user collapse with map-side partials; the
    quartile ntile sorts only the user summary; the curve is a 4-row
    census.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("views"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "bought"
        ),
    )
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_ntile,
    )

    # NTILE over the per-user summary (~10⁹ rows at 100 TB) via the
    # distributed rank machinery — never a single-task global window.
    bucketed = distributed_ntile(
        per_user.withColumn("__v", F.col("views").cast("double")),
        "__v",
        "user_id",
        4,
        out_col="dose_quartile",
    ).select("dose_quartile", "views", "bought")
    return (
        bucketed.groupBy("dose_quartile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.min("views").cast("long").alias("min_views"),
            F.max("views").cast("long").alias("max_views"),
            F.sum("bought").cast("long").alias("n_converted"),
        )
        .select(
            "dose_quartile",
            "n_users",
            "min_views",
            "max_views",
            "n_converted",
            F.expr("n_converted * 1000000L div n_users")
            .cast("long")
            .alias("conversion_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# wave 91: l-diversity / t-closeness privacy audit
# ---------------------------------------------------------------------------


@query(
    "l_diversity_t_closeness_audit",
    oracle="""
    WITH q AS (
        SELECT n.n_name AS nation,
               CAST(FLOOR(c.c_acctbal / 2000) AS BIGINT) AS bal_band,
               c.c_mktsegment AS sensitive
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ), cells AS (
        SELECT nation, bal_band, sensitive, CAST(COUNT(*) AS BIGINT) AS n
        FROM q GROUP BY 1, 2, 3
    ), groups AS (
        SELECT nation, bal_band,
               CAST(SUM(n) AS BIGINT) AS group_n,
               CAST(COUNT(*) AS BIGINT) AS l_distinct
        FROM cells GROUP BY 1, 2
    ), gdist AS (
        SELECT sensitive, CAST(SUM(n) AS BIGINT) AS gn,
               (SELECT SUM(n) FROM cells) AS tot
        FROM cells GROUP BY sensitive
    ), tvd AS (
        SELECT g.nation, g.bal_band,
               CAST(SUM(ABS(COALESCE(c.n, 0) * 1000000 // g.group_n
                            - gl.gn * 1000000 // gl.tot)) // 2 AS BIGINT)
                   AS tvd_ppm
        FROM groups g
        CROSS JOIN gdist gl
        LEFT JOIN cells c ON c.nation = g.nation AND c.bal_band = g.bal_band
                          AND c.sensitive = gl.sensitive
        GROUP BY g.nation, g.bal_band
    )
    SELECT g.nation, g.bal_band, g.group_n, g.l_distinct, t.tvd_ppm,
           CASE WHEN g.l_distinct < 3 THEN 1 ELSE 0 END AS l_violation,
           CASE WHEN t.tvd_ppm > 500000 THEN 1 ELSE 0 END AS t_violation
    FROM groups g JOIN tvd t ON t.nation = g.nation AND t.bal_band = g.bal_band
    """,
)
def l_diversity_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The privacy audits BEYOND k-anonymity: per quasi-identifier group
    (nation × $2000 balance band), l-diversity (distinct sensitive
    market segments — a group of 50 where everyone shares one segment
    is k-anonymous yet leaks the attribute) and t-closeness via total
    variation distance between the group's sensitive distribution and
    the global one in exact ppm (skewed groups leak by inference even
    when diverse). Flags at l<3 and TVD>0.5; completes the privacy
    shelf: k-anonymity census → these inference audits → DP noisy
    counts → GDPR erasure.

    Scale shape: one (QI, sensitive) cell agg; group and global
    marginals broadcast back onto the cell lattice (groups ×
    |segments|); all shares floored-ppm BIGINTs.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    q = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).select(
        F.col("n_name").alias("nation"),
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
        F.col("c_mktsegment").alias("sensitive"),
    )
    cells = q.groupBy("nation", "bal_band", "sensitive").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    cells = _ckpt(cells)  # shared fan-out relation
    groups = cells.groupBy("nation", "bal_band").agg(
        F.sum("n").cast("long").alias("group_n"),
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
    )
    groups = _ckpt(groups)  # shared fan-out relation
    tot = cells.agg(F.sum("n").alias("tot"))
    glob = cells.groupBy("sensitive").agg(F.sum("n").cast("long").alias("gn"))
    glob = glob.crossJoin(F.broadcast(tot))
    lattice = groups.crossJoin(F.broadcast(glob)).join(
        cells, ["nation", "bal_band", "sensitive"], "left"
    )
    tvd = lattice.groupBy("nation", "bal_band").agg(
        F.expr(
            "CAST(sum(abs(coalesce(n, 0) * 1000000L div group_n"
            " - gn * 1000000L div tot)) div 2 AS BIGINT)"
        ).alias("tvd_ppm")
    )
    return groups.join(tvd, ["nation", "bal_band"]).select(
        "nation",
        "bal_band",
        "group_n",
        "l_distinct",
        "tvd_ppm",
        F.when(F.col("l_distinct") < 3, 1).otherwise(0).alias("l_violation"),
        F.when(F.col("tvd_ppm") > 500000, 1).otherwise(0).alias("t_violation"),
    )


# ---------------------------------------------------------------------------
# wave 92: price-volume bridge, shift-share decomposition
# ---------------------------------------------------------------------------


@query(
    "price_volume_bridge",
    oracle="""
    WITH m AS (
        SELECT p.p_brand AS brand,
               CASE WHEN CAST(epoch_us(l.l_shipdate) // 86400000000 AS BIGINT)
                    < (SELECT (MIN(CAST(epoch_us(l_shipdate) // 86400000000
                               AS BIGINT))
                             + MAX(CAST(epoch_us(l_shipdate) // 86400000000
                               AS BIGINT))) // 2 FROM lineitem)
                    THEN 0 ELSE 1 END AS period,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ), wide AS (
        SELECT brand,
               MAX(CASE WHEN period = 0 THEN qty END) AS q0,
               MAX(CASE WHEN period = 1 THEN qty END) AS q1,
               MAX(CASE WHEN period = 0 THEN cents END) AS r0,
               MAX(CASE WHEN period = 1 THEN cents END) AS r1
        FROM m GROUP BY brand
        HAVING MAX(CASE WHEN period = 0 THEN qty END) IS NOT NULL
           AND MAX(CASE WHEN period = 1 THEN qty END) IS NOT NULL
    )
    SELECT brand,
           CAST(r1 - r0 AS BIGINT) AS delta_cents,
           -- volume effect at old unit price, expressed so the bridge
           -- closes exactly: q1*(r0/q0) - r0 with ONE shared floor
           CAST(q1 * r0 // q0 - r0 AS BIGINT) AS volume_effect_cents,
           -- price effect on new volume: r1 - q1*(r0/q0), exact residual
           CAST(r1 - q1 * r0 // q0 AS BIGINT) AS price_effect_cents
    FROM wide
    """,
)
def price_volume_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume bridge per brand between the two shipdate halves:
    the revenue delta decomposed into 'we sold MORE' (volume effect at
    the old unit price) and 'we sold DEARER' (price effect on the new
    volume) — the finance-review explanation of every revenue move,
    with the two effects summing EXACTLY to the delta by construction
    (the price effect is the exact integer residual, so no
    floor-division cent ever leaks; test-pinned).

    Scale shape: fact → (brand, period) collapse with map-side
    partials; the bridge is per-brand constant algebra.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    days = li.agg(
        F.expr(
            "(min(unix_micros(CAST(l_shipdate AS timestamp_ltz))"
            " div 86400000000)"
            " + max(unix_micros(CAST(l_shipdate AS timestamp_ltz))"
            " div 86400000000)) div 2"
        ).alias("mid")
    )
    m = (
        li.join(
            F.broadcast(part.select(F.col("p_partkey").alias("l_partkey"), "p_brand")),
            "l_partkey",
        )
        .crossJoin(F.broadcast(days))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.when(epoch_day("l_shipdate") < F.col("mid"), 0)
            .otherwise(1)
            .alias("period"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    wide = (
        m.groupBy("brand")
        .agg(
            F.max(F.when(F.col("period") == 0, F.col("qty"))).alias("q0"),
            F.max(F.when(F.col("period") == 1, F.col("qty"))).alias("q1"),
            F.max(F.when(F.col("period") == 0, F.col("cents"))).alias("r0"),
            F.max(F.when(F.col("period") == 1, F.col("cents"))).alias("r1"),
        )
        .filter(F.col("q0").isNotNull() & F.col("q1").isNotNull())
    )
    return wide.select(
        "brand",
        (F.col("r1") - F.col("r0")).cast("long").alias("delta_cents"),
        F.expr("q1 * r0 div q0 - r0").cast("long").alias("volume_effect_cents"),
        F.expr("r1 - q1 * r0 div q0").cast("long").alias("price_effect_cents"),
    )


@query(
    "shift_share_decomposition",
    oracle="""
    WITH m AS (
        SELECT c.c_mktsegment AS segment,
               CASE WHEN CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT)
                    < (SELECT (MIN(CAST(epoch_us(o_orderdate) // 86400000000
                               AS BIGINT))
                             + MAX(CAST(epoch_us(o_orderdate) // 86400000000
                               AS BIGINT))) // 2 FROM orders)
                    THEN 0 ELSE 1 END AS period,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), tot AS (
        SELECT period, CAST(SUM(n) AS BIGINT) AS tn FROM m GROUP BY period
    ), wide AS (
        SELECT segment,
               MAX(CASE WHEN m.period = 0 THEN n END) AS n0,
               MAX(CASE WHEN m.period = 1 THEN n END) AS n1,
               MAX(CASE WHEN m.period = 0 THEN cents END) AS r0,
               MAX(CASE WHEN m.period = 1 THEN cents END) AS r1,
               MAX(CASE WHEN m.period = 0 THEN t.tn END) AS t0,
               MAX(CASE WHEN m.period = 1 THEN t.tn END) AS t1
        FROM m JOIN tot t ON t.period = m.period
        GROUP BY segment
    )
    SELECT segment,
           CAST(n1 * 1000000 // t1 - n0 * 1000000 // t0 AS BIGINT)
               AS share_shift_ppm,
           CAST(r1 // n1 - r0 // n0 AS BIGINT) AS rate_change_cents,
           CAST((n1 * 1000000 // t1 - n0 * 1000000 // t0) * (r0 // n0) // 1000000
                AS BIGINT) AS mix_effect_cents_per_order,
           CAST((r1 // n1 - r0 // n0) * (n1 * 1000000 // t1) // 1000000 AS BIGINT)
               AS rate_effect_cents_per_order
    FROM wide
    WHERE n0 IS NOT NULL AND n1 IS NOT NULL
    """,
)
def shift_share_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-share (mix-vs-rate) decomposition of average order value by
    customer segment between the two halves: did the blended mean move
    because the MIX shifted toward a different segment (share shift ×
    old rate) or because segments' own RATES changed (rate change ×
    new share)? The 'why did the KPI move' explanation every metrics
    review needs, in exact floored-ppm/cents integers.

    Scale shape: one dim join + (segment, period) collapse; totals per
    period broadcast; the decomposition is constant algebra per segment.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    mid = orders.agg(
        F.expr(
            "(min(unix_micros(CAST(o_orderdate AS timestamp_ltz))"
            " div 86400000000)"
            " + max(unix_micros(CAST(o_orderdate AS timestamp_ltz))"
            " div 86400000000)) div 2"
        ).alias("mid")
    )
    m = (
        orders.join(
            F.broadcast(
                cust.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
            ),
            "o_custkey",
        )
        .crossJoin(F.broadcast(mid))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.when(epoch_day("o_orderdate") < F.col("mid"), 0)
            .otherwise(1)
            .alias("period"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    m = _ckpt(m)  # shared fan-out relation
    tot = m.groupBy("period").agg(F.sum("n").cast("long").alias("tn"))
    wide = (
        m.join(F.broadcast(tot), "period")
        .groupBy("segment")
        .agg(
            F.max(F.when(F.col("period") == 0, F.col("n"))).alias("n0"),
            F.max(F.when(F.col("period") == 1, F.col("n"))).alias("n1"),
            F.max(F.when(F.col("period") == 0, F.col("cents"))).alias("r0"),
            F.max(F.when(F.col("period") == 1, F.col("cents"))).alias("r1"),
            F.max(F.when(F.col("period") == 0, F.col("tn"))).alias("t0"),
            F.max(F.when(F.col("period") == 1, F.col("tn"))).alias("t1"),
        )
        .filter(F.col("n0").isNotNull() & F.col("n1").isNotNull())
    )
    return wide.select(
        "segment",
        F.expr("n1 * 1000000L div t1 - n0 * 1000000L div t0")
        .cast("long")
        .alias("share_shift_ppm"),
        F.expr("r1 div n1 - r0 div n0").cast("long").alias("rate_change_cents"),
        F.expr(
            "(n1 * 1000000L div t1 - n0 * 1000000L div t0) * (r0 div n0)"
            " div 1000000L"
        )
        .cast("long")
        .alias("mix_effect_cents_per_order"),
        F.expr(
            "(r1 div n1 - r0 div n0) * (n1 * 1000000L div t1) div 1000000L"
        )
        .cast("long")
        .alias("rate_effect_cents_per_order"),
    )


# ---------------------------------------------------------------------------
# wave 93: growth accounting
# ---------------------------------------------------------------------------


@query(
    "growth_accounting_weekly",
    oracle="""
    WITH wk AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS week
        FROM events
    ), firsts AS (
        SELECT user_id, MIN(week) AS first_week FROM wk GROUP BY user_id
    ), lagged AS (
        SELECT w.user_id, w.week, f.first_week,
               LAG(w.week) OVER (PARTITION BY w.user_id ORDER BY w.week)
                   AS prev_active
        FROM wk w JOIN firsts f ON f.user_id = w.user_id
    ), classified AS (
        SELECT week,
               CASE WHEN week = first_week THEN 'new'
                    WHEN prev_active = week - 1 THEN 'retained'
                    ELSE 'resurrected' END AS status
        FROM lagged
    ), actives AS (
        SELECT week, status, CAST(COUNT(*) AS BIGINT) AS n
        FROM classified GROUP BY week, status
    ), churned AS (
        SELECT a.week + 1 AS week, 'churned' AS status,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM wk a LEFT JOIN wk b
          ON b.user_id = a.user_id AND b.week = a.week + 1
        WHERE b.user_id IS NULL
          AND a.week < (SELECT MAX(week) FROM wk)
        GROUP BY a.week + 1
    )
    SELECT week, status, n FROM actives
    UNION ALL
    SELECT week, status, n FROM churned
    """,
)
def growth_accounting_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting — every active user classified as NEW
    (first-ever week), RETAINED (also active the immediately previous
    week), or RESURRECTED (returning after a gap), plus the CHURNED
    count (active last week, absent this week) — the canonical
    MAU-accounting identity (ΔMAU = new + resurrected − churned,
    test-pinned) that tells you whether growth is acquisition or
    retention. Epoch-week arithmetic; exact counts; lag-over-weeks
    classification needs no self-join for the active classes.

    Scale shape: events collapse to the distinct (user, week) relation
    once; classification is one user-keyed lag window; churn is one
    week-shifted anti-join on the same narrow relation.
    """
    ev = load_table(spark, sf_dir, "events")
    wk = (
        ev.select(
            "user_id",
            F.expr("unix_micros(CAST(ts AS timestamp_ltz)) div 604800000000")
            .cast("long")
            .alias("week"),
        )
        .distinct()
    )
    wk = _ckpt(wk)  # shared fan-out relation
    firsts = wk.groupBy("user_id").agg(F.min("week").alias("first_week"))
    lagged = wk.join(firsts, "user_id").select(
        "user_id",
        "week",
        "first_week",
        F.lag("week").over(Window.partitionBy("user_id").orderBy("week")).alias(
            "prev_active"
        ),
    )
    classified = lagged.select(
        "week",
        F.when(F.col("week") == F.col("first_week"), "new")
        .when(F.col("prev_active") == F.col("week") - 1, "retained")
        .otherwise("resurrected")
        .alias("status"),
    )
    actives = classified.groupBy("week", "status").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    maxw = wk.agg(F.max("week").alias("mw"))
    # churned = active in week w, absent in w+1: anti-join on (user, week+1)
    churned = (
        wk.crossJoin(F.broadcast(maxw))
        .filter(F.col("week") < F.col("mw"))
        .select("user_id", (F.col("week") + 1).alias("week"))
        .join(wk, ["user_id", "week"], "left_anti")
        .groupBy("week")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select("week", F.lit("churned").alias("status"), "n")
    )
    return actives.unionByName(churned)


# ---------------------------------------------------------------------------
# wave 94: code-switch / foreign-token ratio
# ---------------------------------------------------------------------------


@query(
    "code_switch_ratio",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               unnest(CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                      ELSE string_split_regex(lower(trim(text)), '\\s+') END) AS w
        FROM documents
    ), vocab_major AS (
        SELECT w, lang AS major_lang
        FROM (
            SELECT w, lang, COUNT(*) AS c,
                   ROW_NUMBER() OVER (PARTITION BY w
                                      ORDER BY COUNT(*) DESC, lang) AS rn
            FROM toks GROUP BY w, lang
        ) WHERE rn = 1
    ), scored AS (
        SELECT t.doc_id, t.lang,
               CASE WHEN v.major_lang <> t.lang THEN 1 ELSE 0 END AS is_foreign
        FROM toks t JOIN vocab_major v ON v.w = t.w
    ), per_doc AS (
        SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(is_foreign) AS BIGINT) AS n_foreign
        FROM scored GROUP BY doc_id, lang
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_foreign) * 1000000 // SUM(n_tokens) AS BIGINT)
               AS foreign_ppm,
           CAST(SUM(CASE WHEN n_foreign * 10 > n_tokens THEN 1 ELSE 0 END)
                AS BIGINT) AS n_heavy_switch_docs
    FROM per_doc GROUP BY lang
    """,
)
def code_switch_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching audit: per language, the share of token
    occurrences whose corpus-majority language differs from the
    document's label (exact ppm), plus the count of heavy-switch
    documents (>10% foreign tokens) — the mislabeled-document and
    mixed-language detector that sits between per-doc language ID and
    corpus-level keyness: a 'French' doc full of majority-English
    tokens is either code-switched or mislabeled, and both matter for
    training mixtures. The majority-language vocabulary is tie-broken
    (count desc, lang asc) so every token's verdict is deterministic.

    Scale shape: one (token, lang) agg builds the vocab-majority
    relation (vocab-sized, broadcast at corpus scale); the verdict join
    is token-keyed; per-doc and per-lang censuses collapse map-side.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(ws_tokens(F.lower(F.col("text")))).alias("w")
    )
    vocab_major = (
        toks.groupBy("w", F.col("lang").alias("major_lang"))
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            "w",
            "major_lang",
            F.row_number()
            .over(Window.partitionBy("w").orderBy(F.desc("c"), F.asc("major_lang")))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("w", "major_lang")
    )
    scored = toks.join(F.broadcast(vocab_major), "w").select(
        "doc_id",
        "lang",
        F.when(F.col("major_lang") != F.col("lang"), 1).otherwise(0).alias("foreign"),
    )
    per_doc = scored.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("foreign").cast("long").alias("n_foreign"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("sum(n_foreign) * 1000000L div sum(n_tokens)")
        .cast("long")
        .alias("foreign_ppm"),
        F.sum(F.when(F.col("n_foreign") * 10 > F.col("n_tokens"), 1).otherwise(0))
        .cast("long")
        .alias("n_heavy_switch_docs"),
    )


# ---------------------------------------------------------------------------
# wave 95: order aging buckets, lateral alias dialect pin
# ---------------------------------------------------------------------------


@query(
    "order_aging_buckets",
    oracle="""
    WITH horizon AS (
        SELECT MAX(CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)) AS now_d
        FROM orders
    ), open_orders AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               now_d - CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT)
                   AS age_days
        FROM orders, horizon WHERE o_orderstatus = 'O'
    ), bucketed AS (
        SELECT CASE WHEN age_days <= 180 THEN '0-180'
                    WHEN age_days <= 365 THEN '181-365'
                    WHEN age_days <= 730 THEN '366-730'
                    ELSE '730+' END AS age_bucket,
               cents
        FROM open_orders
    ), agg AS (
        SELECT age_bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(cents) AS BIGINT) AS cents
        FROM bucketed GROUP BY age_bucket
    ), tot AS (
        SELECT SUM(cents) AS t FROM agg
    )
    SELECT age_bucket, n_orders, cents,
           CAST(cents * 1000000 // t AS BIGINT) AS share_ppm
    FROM agg, tot
    """,
)
def order_aging_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order aging report: outstanding ('O') orders bucketed by age
    relative to the data horizon, with exact cents and value-share ppm
    per bucket — the receivables-aging / stuck-work census every
    operations and finance review starts from (old open value is where
    the write-offs and the process failures live). Age is pure
    epoch-day arithmetic; buckets are fixed thresholds; all BIGINT.

    Scale shape: one pushed status filter, map-side age math, a 4-row
    census plus a 1-row total broadcast.
    """
    orders = load_table(spark, sf_dir, "orders")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    horizon = orders.agg(F.max(epoch_day("o_orderdate")).alias("now_d"))
    open_orders = (
        orders.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            (F.col("now_d") - epoch_day("o_orderdate")).alias("age_days"),
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 180, "0-180")
        .when(F.col("age_days") <= 365, "181-365")
        .when(F.col("age_days") <= 730, "366-730")
        .otherwise("730+")
    )
    agg = open_orders.select(bucket.alias("age_bucket"), "cents").groupBy(
        "age_bucket"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("cents"),
    )
    agg = _ckpt(agg)  # shared fan-out relation
    tot = agg.agg(F.sum("cents").alias("t"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "age_bucket",
        "n_orders",
        "cents",
        F.expr("cents * 1000000L div t").cast("long").alias("share_ppm"),
    )


@query(
    "lateral_alias_chain",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents,
           cents // 100 AS dollars,
           dollars // 1000 AS kilodollars
    FROM orders GROUP BY o_orderstatus
    """,
)
def lateral_alias_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral column-alias chaining (Spark 3.4 / SPARK-27561): each
    select-list expression references the ALIAS defined just before it
    (cents → dollars → kilodollars) instead of repeating the whole
    subexpression — the analyst-ergonomics dialect feature pinned
    value-equal across engines (DuckDB resolves the same chain). The
    plan is identical to the fully-expanded form: one partial+final
    hash agg, aliases folded at analysis time.
    """
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("lac_orders")
    return spark.sql(
        """
        SELECT o_orderstatus,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents,
               cents div 100 AS dollars,
               dollars div 1000 AS kilodollars
        FROM lac_orders GROUP BY o_orderstatus
        """
    )


# ---------------------------------------------------------------------------
# wave 96: ABC / Pareto classification
# ---------------------------------------------------------------------------


@query(
    "abc_part_classification",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM lineitem GROUP BY l_partkey
    ), ranked AS (
        SELECT l_partkey, cents,
               SUM(cents) OVER (ORDER BY cents DESC, l_partkey) AS cum,
               (SELECT SUM(cents) FROM rev) AS tot
        FROM rev
    ), classified AS (
        SELECT CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                    WHEN cum * 100 <= tot * 95 THEN 'B'
                    ELSE 'C' END AS abc_class,
               cents
        FROM ranked
    )
    SELECT abc_class, CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CAST(SUM(cents) * 1000000 // MAX(tot) AS BIGINT) AS revenue_share_ppm
    FROM classified, (SELECT SUM(cents) AS tot FROM rev) t
    GROUP BY abc_class
    """,
)
def abc_part_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue: the top parts
    covering 80% of cumulative revenue are class A, the next 15% B, the
    long tail C — the inventory-management triage (count A parts daily,
    B weekly, C quarterly) and the discrete operational cousin of the
    Lorenz curve. The cumulative boundary test is pure integer
    cross-multiplication (cum·100 ≤ tot·80 — no float shares), ranks
    tie-break on partkey, and the census reports each class's exact
    cents and revenue share in ppm.

    Scale shape: fact → per-part collapse; the cumulative revenue over
    the part summary runs through ``operators/rank.py``
    distributed_order_stats (range-bucket on −cents, per-bucket
    windows, broadcast prefix-sum offsets — the per-part relation is
    ~10⁹ rows at 100 TB, so a bare ``Window.orderBy`` single-task
    sort is not acceptable here); 3-row census.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_order_stats,
    )

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    tot = rev.agg(F.sum("cents").alias("tot"))
    cum = distributed_order_stats(
        rev.withColumn("__nc", (-F.col("cents")).cast("double")),
        "__nc",
        ["l_partkey"],
        cumsum_cols={"cum": "cents"},
    ).drop("__nc")
    ranked = cum.crossJoin(F.broadcast(tot)).select("cents", "cum", "tot")
    cls = (
        F.when(F.col("cum") * 100 <= F.col("tot") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("tot") * 95, "B")
        .otherwise("C")
    )
    return (
        ranked.select(cls.alias("abc_class"), "cents", "tot")
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("cents"),
            F.expr("sum(cents) * 1000000L div max(tot)")
            .cast("long")
            .alias("revenue_share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# wave 97: TRY-arithmetic semantics, single-source supply risk
# ---------------------------------------------------------------------------


@query(
    "try_arithmetic_suite",
    oracle="""
    SELECT 'add_overflow' AS op, TRUE AS is_null
    UNION ALL SELECT 'mul_overflow', TRUE
    UNION ALL SELECT 'div_zero', TRUE
    UNION ALL SELECT 'neg_overflow', TRUE
    UNION ALL SELECT 'add_ok', FALSE
    UNION ALL SELECT 'sum_in_range', FALSE
    """,
)
def try_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRY-arithmetic contract pinned: under ANSI mode the raw
    operators RAISE on BIGINT overflow and division by zero (the
    corruption-proof default this engine runs with), and the try_*
    family converts exactly those failures to NULL so pipelines can
    dead-letter bad rows instead of dying. The relation asserts each
    case's nullness engine-side (computed, not literal) against the
    oracle's expected truth table — DuckDB has no try_* family, so the
    CONTRACT is the shared object, which is the point: this pin
    documents engine behaviour the dialect can't express.

    Scale shape: six constant rows; the value is the semantics.
    """
    rows = [
        ("add_overflow", F.expr("try_add(9223372036854775807L, 1L)")),
        ("mul_overflow", F.expr("try_multiply(9223372036854775807L, 2L)")),
        ("div_zero", F.expr("try_divide(1L, 0L)")),
        ("neg_overflow", F.expr("try_subtract(-9223372036854775808L, 1L)")),
        ("add_ok", F.expr("try_add(1L, 2L)")),
        ("sum_in_range", F.expr("try_multiply(3L, 4L)")),
    ]
    dfs = None
    for name, expr in rows:
        d = (
            load_table(spark, sf_dir, "region")
            .limit(1)
            .select(F.lit(name).alias("op"), expr.isNull().alias("is_null"))
        )
        dfs = d if dfs is None else dfs.unionByName(d)
    return dfs


@query(
    "single_source_risk",
    oracle="""
    WITH srcs AS (
        SELECT l_partkey,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM lineitem GROUP BY l_partkey
    ), tot AS (
        SELECT SUM(cents) AS t FROM srcs
    )
    SELECT CASE WHEN n_suppliers = 1 THEN 'single_source'
                WHEN n_suppliers = 2 THEN 'dual_source'
                ELSE 'multi_source' END AS sourcing,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CAST(SUM(cents) * 1000000 // MAX(t) AS BIGINT) AS revenue_at_risk_ppm
    FROM srcs, tot
    GROUP BY 1
    """,
)
def single_source_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain concentration risk: parts grouped by how many
    distinct suppliers ship them (single / dual / multi sourced) with
    the revenue share each tier puts at risk in exact ppm — the
    resilience census behind 'one supplier failure costs us X% of
    revenue', complementing the demand-side HHI. All BIGINT.

    Scale shape: one per-part agg (distinct-supplier count rides the
    same shuffle as the cents sum); 3-row census with a broadcast total.
    """
    li = load_table(spark, sf_dir, "lineitem")
    srcs = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").cast("long").alias("n_suppliers"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )
    tot = srcs.agg(F.sum("cents").alias("t"))
    tier = (
        F.when(F.col("n_suppliers") == 1, "single_source")
        .when(F.col("n_suppliers") == 2, "dual_source")
        .otherwise("multi_source")
    )
    return (
        srcs.crossJoin(F.broadcast(tot))
        .select(tier.alias("sourcing"), "cents", "t")
        .groupBy("sourcing")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.sum("cents").cast("long").alias("cents"),
            F.expr("sum(cents) * 1000000L div max(t)")
            .cast("long")
            .alias("revenue_at_risk_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# wave 98: in-row quality gate, Heaps-law vocabulary growth
# ---------------------------------------------------------------------------


@query(
    "in_row_quality_gate",
    oracle="""
    WITH t AS (
        SELECT doc_id, source,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS toks
        FROM documents
    ), feats AS (
        SELECT doc_id, source,
               len(toks) AS n_tok,
               CASE WHEN len(toks) = 0 THEN 0
                    ELSE (SELECT MAX(c) FROM (
                        SELECT COUNT(*) AS c FROM unnest(toks) AS u(w) GROUP BY w
                    )) END AS top_tok,
               CASE WHEN len(toks) = 0 THEN 0
                    ELSE (SELECT COUNT(DISTINCT w)
                          FROM unnest(toks) AS u(w)) END AS n_distinct
        FROM t
    ), gated AS (
        SELECT source,
               CASE WHEN n_tok >= 30
                     AND top_tok * 5 <= n_tok
                     AND n_distinct * 2 >= n_tok
                    THEN 1 ELSE 0 END AS keep
        FROM feats
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           CAST(SUM(keep) * 1000000 // COUNT(*) AS BIGINT) AS keep_ppm
    FROM gated GROUP BY source
    """,
)
def in_row_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ZERO-SHUFFLE quality gate: per-document keep/drop decided
    entirely in-row (length floor ≥30 tokens, top-token share ≤20% via
    an in-row HOF count, type-token ratio ≥50%) — the map-side fast
    pass a curation pipeline runs BEFORE any corpus-level statistic
    (`quality_filter_gopher` needs corpus-side aggregates; this tier
    needs only the row), so it filters at scan speed and shrinks
    everything downstream. Integer cross-multiplied thresholds; the
    per-source yield census is the only aggregation.

    Scale shape: every feature comes from array HOFs on the row's own
    tokens (aggregate over distinct counts — no explode leaves the
    row); one |sources|-row census agg. At 100 TB this is the operator
    that touches all bytes once and drops half of them.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", ws_tokens(F.lower(F.col("text"))).alias("toks")
    )
    feats = toks.select(
        "source",
        F.size("toks").alias("n_tok"),
        F.expr(
            "CASE WHEN size(toks) = 0 THEN 0 ELSE"
            " array_max(transform(array_distinct(toks),"
            "   w -> size(filter(toks, x -> x = w)))) END"
        ).alias("top_tok"),
        F.expr("size(array_distinct(toks))").alias("n_distinct"),
    )
    gated = feats.select(
        "source",
        F.when(
            (F.col("n_tok") >= 30)
            & (F.col("top_tok") * 5 <= F.col("n_tok"))
            & (F.col("n_distinct") * 2 >= F.col("n_tok")),
            1,
        )
        .otherwise(0)
        .alias("keep"),
    )
    return gated.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("keep").cast("long").alias("n_kept"),
        F.expr("sum(keep) * 1000000L div count(1)").cast("long").alias("keep_ppm"),
    )


@query(
    "heaps_law_vocab_growth",
    oracle="""
    WITH tagged AS (
        SELECT ((doc_id * 2654435761) % 4294967296) % 100 AS bucket,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    ), tiers AS (
        SELECT * FROM (VALUES (1), (10), (100)) x(tier)
    ), toks AS (
        SELECT tier, unnest(t) AS w
        FROM tagged, tiers WHERE bucket < tier
    ), stats AS (
        SELECT tier, CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab
        FROM toks GROUP BY tier
    ), lagged AS (
        SELECT tier, n_tokens, vocab,
               LAG(n_tokens) OVER (ORDER BY tier) AS pn,
               LAG(vocab) OVER (ORDER BY tier) AS pv
        FROM stats
    )
    SELECT tier, n_tokens, vocab,
           ROUND(CASE WHEN pn IS NULL THEN NULL
                 ELSE ln(CAST(vocab AS DOUBLE) / pv)
                      / ln(CAST(n_tokens AS DOUBLE) / pn) END, 4) AS heaps_beta
    FROM lagged
    """,
)
def heaps_law_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth over the NESTED 1%/10%/100% hash
    tiers (the same strict-subset construction as
    `nested_scaling_samples`): distinct-vocabulary size at each corpus
    scale and the between-tier Heaps exponent β = Δln V / Δln N —
    natural corpora sit at β ≈ 0.4-0.6; a β collapsing toward 0 means
    the corpus is recycling its vocabulary (templates) and more data
    won't buy more diversity. The empirical-growth companion to the
    static Zipf fit.

    Exactness: tier membership is pure hash arithmetic (small tiers are
    strict subsets); token and vocab counts are exact; β is one ln
    ratio of exact integers per tier, rounded.

    Scale shape: the tier fan-out multiplies tokens ×3 map-side but
    tiers prune by the hash predicate; the (tier, word) distinct agg is
    vocab-bounded per tier.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.select(
        (((F.col("doc_id") * 2654435761) % 4294967296) % 100).alias("bucket"),
        ws_tokens(F.lower(F.col("text"))).alias("t"),
    )
    tiers = spark.createDataFrame([(1,), (10,), (100,)], "tier int")
    toks = (
        tagged.crossJoin(F.broadcast(tiers))
        .filter(F.col("bucket") < F.col("tier"))
        .select("tier", F.explode("t").alias("w"))
    )
    stats = toks.groupBy("tier").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("w").cast("long").alias("vocab"),
    )
    lw = Window.orderBy("tier")
    lagged = stats.select(
        "tier",
        "n_tokens",
        "vocab",
        F.lag("n_tokens").over(lw).alias("pn"),
        F.lag("vocab").over(lw).alias("pv"),
    )
    return lagged.select(
        "tier",
        "n_tokens",
        "vocab",
        F.round(
            F.when(
                F.col("pn").isNotNull(),
                F.log(F.col("vocab").cast("double") / F.col("pv"))
                / F.log(F.col("n_tokens").cast("double") / F.col("pn")),
            ),
            4,
        ).alias("heaps_beta"),
    )


# ---------------------------------------------------------------------------
# wave 99: HITS hub/authority ranking, largest-remainder apportionment
# ---------------------------------------------------------------------------


@query(
    "hits_hub_authority",
    oracle="""
    WITH fwd AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), a1r AS (
        SELECT s, CAST(COUNT(*) AS DOUBLE) AS v FROM fwd GROUP BY s
    ), a1 AS (
        SELECT s, v / (SELECT MAX(v) FROM a1r) AS v FROM a1r
    ), h1r AS (
        SELECT c, SUM(a1.v) AS v FROM fwd JOIN a1 USING (s) GROUP BY c
    ), h1 AS (
        SELECT c, v / (SELECT MAX(v) FROM h1r) AS v FROM h1r
    ), a2r AS (
        SELECT s, SUM(h1.v) AS v FROM fwd JOIN h1 USING (c) GROUP BY s
    ), a2 AS (
        SELECT s, v / (SELECT MAX(v) FROM a2r) AS v FROM a2r
    ), h2r AS (
        SELECT c, SUM(a2.v) AS v FROM fwd JOIN a2 USING (s) GROUP BY c
    ), h2 AS (
        SELECT c, v / (SELECT MAX(v) FROM h2r) AS v FROM h2r
    ), a3r AS (
        SELECT s, SUM(h2.v) AS v FROM fwd JOIN h2 USING (c) GROUP BY s
    ), a3 AS (
        SELECT s, v / (SELECT MAX(v) FROM a3r) AS v FROM a3r
    ), h3r AS (
        SELECT c, SUM(a3.v) AS v FROM fwd JOIN a3 USING (s) GROUP BY c
    ), h3 AS (
        SELECT c, v / (SELECT MAX(v) FROM h3r) AS v FROM h3r
    )
    SELECT 'hub' AS kind, CAST(c AS BIGINT) AS node_key,
           ROUND(v, 6) AS score FROM h3
    UNION ALL
    SELECT 'authority' AS kind, CAST(s AS BIGINT) AS node_key,
           ROUND(v, 6) AS score FROM a3
    """,
)
def hits_hub_authority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg hubs-and-authorities, 3 synchronous iterations,
    max-normalized per half-step) over the customer→supplier bipartite
    trade graph: customers are hubs (they point at many good
    suppliers), suppliers are authorities (pointed at by many good
    hubs) — the mutually-recursive ranking that PageRank's single
    score conflates, oracle-checked against the same three iterations
    unrolled as chained CTEs.

    Max-normalization (not L2) keeps every half-step a join + hash agg
    + one broadcast scalar — no sqrt-of-sum-of-squares reduction — and
    bounds scores in (0, 1] so 3 iterations cannot overflow. Engines
    sum incoming mass in different orders; scores round to 6 (drift
    ≪ 1e-12 after 3 rounds).

    Scale shape: the deduped INTEGER edge list is tracked-persisted
    once and feeds all 6 half-steps; each half-step shuffles only the
    narrow (key, score) relation; the max is a 1-row broadcast. Per
    round ends in a ckpt lineage truncation so round k+1 replans from
    materialized scores, exactly like pagerank_trade_graph (swap for
    reliable checkpoint(dir) on a cluster).
    """
    from pyspark_movie_recommender_spark.operators.cache import track

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    fwd = track(
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )

    def _norm(df: DataFrame, key: str) -> DataFrame:
        mx = df.agg(F.max("v").alias("mx"))
        return (
            df.crossJoin(F.broadcast(mx))
            .select(key, (F.col("v") / F.col("mx")).alias("v"))
            .transform(_ckpt)
        )

    # a1 from h0 == 1.0 for every customer: plain in-degree of s
    auth = _norm(
        fwd.groupBy("s").agg(F.count(F.lit(1)).cast("double").alias("v")), "s"
    )
    hub = _norm(
        fwd.join(auth, "s").groupBy("c").agg(F.sum("v").alias("v")), "c"
    )
    for _ in range(2):
        auth = _norm(
            fwd.join(hub, "c").groupBy("s").agg(F.sum("v").alias("v")), "s"
        )
        hub = _norm(
            fwd.join(auth, "s").groupBy("c").agg(F.sum("v").alias("v")), "c"
        )
    return hub.select(
        F.lit("hub").alias("kind"),
        F.col("c").cast("long").alias("node_key"),
        F.round("v", 6).alias("score"),
    ).unionByName(
        auth.select(
            F.lit("authority").alias("kind"),
            F.col("s").cast("long").alias("node_key"),
            F.round("v", 6).alias("score"),
        )
    )


@query(
    "seat_apportionment_revenue",
    oracle="""
    WITH rev AS (
        SELECT n.n_name, n.n_nationkey,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n   ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name, n.n_nationkey
    ), tot AS (
        SELECT CAST(SUM(cents) AS BIGINT) AS t FROM rev
    ), quota AS (
        SELECT n_name, n_nationkey, cents,
               (cents * 100) // t AS floor_seats,
               (cents * 100) % t  AS rem
        FROM rev, tot
    ), short AS (
        SELECT 100 - CAST(SUM(floor_seats) AS BIGINT) AS k FROM quota
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, n_nationkey) AS rnk
        FROM quota
    )
    SELECT n_name, cents,
           CAST(floor_seats + CASE WHEN rnk <= k THEN 1 ELSE 0 END AS BIGINT)
               AS seats
    FROM ranked, short
    """,
)
def seat_apportionment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment: divide EXACTLY 100
    budget seats across nations in proportion to order revenue — floor
    of each nation's scaled quota, then the leftover seats go to the
    largest fractional remainders (ties broken by nationkey). The
    integer-exact allocation primitive behind budget splits, shard
    assignment, and proportional sampling quotas, where naive
    round(share*100) over- or under-shoots the total.

    Exactness: revenue is summed in integer cents (round-then-cast —
    Spark's double→long cast truncates while DuckDB's rounds, so both
    sides round first); quota arithmetic is pure integer floor-div and
    mod against the same denominator, so ranking by remainder needs no
    division at all. Hash-exact, no float anywhere. BIGINT headroom:
    cents·100 caps at ~1.5e15 at sf0.1 — switch the two products to
    DECIMAL(38,0) past sf100.

    Scale shape: one fact-side hash agg to |nations| rows; everything
    after (total, ranks, bonus seats) is arithmetic on a 25-row
    relation — single-partition window is free at that size.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "n_nationkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    rev = _ckpt(rev)  # shared fan-out relation
    tot = rev.agg(F.sum("cents").cast("long").alias("t"))
    quota = rev.crossJoin(F.broadcast(tot)).select(
        "n_name",
        "n_nationkey",
        "cents",
        F.expr("(cents * 100) div t").alias("floor_seats"),
        F.expr("(cents * 100) % t").alias("rem"),
    )
    short = quota.agg((F.lit(100) - F.sum("floor_seats")).cast("long").alias("k"))
    ranked = quota.withColumn(
        "rnk",
        F.row_number().over(
            Window.orderBy(F.col("rem").desc(), F.col("n_nationkey"))
        ),
    )
    return ranked.crossJoin(F.broadcast(short)).select(
        "n_name",
        "cents",
        (
            F.col("floor_seats")
            + F.when(F.col("rnk") <= F.col("k"), 1).otherwise(0)
        )
        .cast("long")
        .alias("seats"),
    )


# ---------------------------------------------------------------------------
# wave 100: BH-FDR multiple testing, SPC p-chart control limits
# ---------------------------------------------------------------------------


@query(
    "bh_fdr_nation_urgent",
    oracle="""
    WITH per AS (
        SELECT c.c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT'
                             THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY c.c_nationkey
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(k) AS BIGINT) AS kk,
               CAST(COUNT(*) AS BIGINT) AS m
        FROM per
    ), z AS (
        SELECT n_name, n, k, m,
               (CAST(k AS DOUBLE)/n - CAST(kk - k AS DOUBLE)/(nn - n))
               / sqrt((CAST(kk AS DOUBLE)/nn) * (1 - CAST(kk AS DOUBLE)/nn)
                      * (1.0/n + 1.0/(nn - n))) AS zval
        FROM per JOIN nation ON n_nationkey = c_nationkey, tot
    ), pv AS (
        SELECT n_name, n, k, m,
               ROUND((1/(1 + 0.3275911*(abs(zval)/sqrt(2))))
                 * (0.254829592 + (1/(1 + 0.3275911*(abs(zval)/sqrt(2))))
                 * (-0.284496736 + (1/(1 + 0.3275911*(abs(zval)/sqrt(2))))
                 * (1.421413741 + (1/(1 + 0.3275911*(abs(zval)/sqrt(2))))
                 * (-1.453152027 + (1/(1 + 0.3275911*(abs(zval)/sqrt(2))))
                 * 1.061405417))))
                 * exp(-(abs(zval)/sqrt(2))*(abs(zval)/sqrt(2))), 6) AS p_value
        FROM z
    ), ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY p_value, n_name)
                       AS BIGINT) AS rnk
        FROM pv
    ), kstar AS (
        SELECT COALESCE(MAX(CASE WHEN p_value * m <= rnk * 0.05
                                 THEN rnk END), 0) AS ks
        FROM ranked
    )
    SELECT n_name, n, k, p_value, rnk,
           CAST(CASE WHEN rnk <= ks THEN 1 ELSE 0 END AS BIGINT) AS rejected
    FROM ranked, kstar
    """,
)
def bh_fdr_nation_urgent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over a FAMILY of hypothesis tests:
    for every nation, a two-proportion z-test of "do this nation's
    customers place URGENT orders at a different rate than everyone
    else?", converted to a two-sided p-value with the Abramowitz-Stegun
    7.1.26 erfc polynomial (identical Horner dag on both engines — no
    erf built-in exists in either), then the BH step-up: reject the k*
    smallest p-values where k* = max{i : p_(i) ≤ i·α/m}, α = 0.05.
    The multiple-testing guard every per-segment dashboard needs —
    with 25 segments, one nominal p<0.05 "winner" is expected by
    chance alone.

    Determinism: counts are exact; p-values are rounded to 6 BEFORE
    ranking so both engines rank identical keys (ties broken by
    n_name); the step-up comparison is on p·m ≤ i·α (no division).

    Scale shape: one fact-side hash agg to |nations| rows; the z/p/BH
    cascade is arithmetic + one single-partition window on a 25-row
    relation. The census total is a broadcast scalar.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("long")
            .alias("k"),
        )
    )
    per = _ckpt(per)  # shared fan-out relation
    tot = per.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("k").cast("long").alias("kk"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    z = (
        per.join(F.broadcast(n), per.c_nationkey == n.n_nationkey)
        .crossJoin(F.broadcast(tot))
        .select(
            "n_name",
            "n",
            "k",
            "m",
            (
                (
                    F.col("k").cast("double") / F.col("n")
                    - (F.col("kk") - F.col("k")).cast("double")
                    / (F.col("nn") - F.col("n"))
                )
                / F.sqrt(
                    (F.col("kk").cast("double") / F.col("nn"))
                    * (1 - F.col("kk").cast("double") / F.col("nn"))
                    * (1.0 / F.col("n") + 1.0 / (F.col("nn") - F.col("n")))
                )
            ).alias("zval"),
        )
    )
    # A&S 7.1.26: erfc(x) = t·(a1 + t·(a2 + t·(a3 + t·(a4 + t·a5))))·e^(−x²),
    # t = 1/(1+0.3275911x); two-sided p = erfc(|z|/√2). Same Horner dag as
    # the oracle string above.
    pv = z.select(
        "n_name",
        "n",
        "k",
        "m",
        F.round(
            F.expr(
                "(1/(1 + 0.3275911*(abs(zval)/sqrt(2))))"
                " * (0.254829592 + (1/(1 + 0.3275911*(abs(zval)/sqrt(2))))"
                " * (-0.284496736 + (1/(1 + 0.3275911*(abs(zval)/sqrt(2))))"
                " * (1.421413741 + (1/(1 + 0.3275911*(abs(zval)/sqrt(2))))"
                " * (-1.453152027 + (1/(1 + 0.3275911*(abs(zval)/sqrt(2))))"
                " * 1.061405417))))"
                " * exp(-(abs(zval)/sqrt(2))*(abs(zval)/sqrt(2)))"
            ),
            6,
        ).alias("p_value"),
    )
    ranked = pv.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy("p_value", "n_name"))
        .cast("long"),
    )
    kstar = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_value") * F.col("m") <= F.col("rnk") * 0.05,
                    F.col("rnk"),
                )
            ),
            F.lit(0).cast("long"),
        ).alias("ks")
    )
    return ranked.crossJoin(F.broadcast(kstar)).select(
        "n_name",
        "n",
        "k",
        "p_value",
        "rnk",
        F.when(F.col("rnk") <= F.col("ks"), 1)
        .otherwise(0)
        .cast("long")
        .alias("rejected"),
    )


@query(
    "p_chart_weekly_late_orders",
    oracle="""
    WITH flagged AS (
        SELECT CAST(date_trunc('week', o.o_orderdate) AS DATE) AS week,
               CASE WHEN EXISTS (
                   SELECT 1 FROM lineitem l
                   WHERE l.l_orderkey = o.o_orderkey
                     AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
               ) THEN 1 ELSE 0 END AS late
        FROM orders o
    ), weekly AS (
        SELECT week, CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(late) AS BIGINT) AS n_late
        FROM flagged GROUP BY week
    ), pooled AS (
        SELECT CAST(SUM(n_late) AS DOUBLE) / SUM(n_orders) AS pbar FROM weekly
    )
    SELECT week, n_orders, n_late,
           ROUND(CAST(n_late AS DOUBLE) / n_orders, 6) AS p_hat,
           ROUND(pbar + 3*sqrt(pbar*(1-pbar)/n_orders), 6) AS ucl,
           ROUND(greatest(0.0, pbar - 3*sqrt(pbar*(1-pbar)/n_orders)), 6)
               AS lcl,
           CAST(CASE WHEN CAST(n_late AS DOUBLE)/n_orders
                          > pbar + 3*sqrt(pbar*(1-pbar)/n_orders)
                      OR CAST(n_late AS DOUBLE)/n_orders
                          < greatest(0.0, pbar - 3*sqrt(pbar*(1-pbar)/n_orders))
                     THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
    FROM weekly, pooled
    """,
)
def p_chart_weekly_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart p-chart (statistical process control) on the weekly
    late-shipment proportion: each ISO week's share of orders with a
    >60-day-late lineitem, against 3σ binomial control limits around
    the pooled rate p̄ ± 3·√(p̄(1−p̄)/n_w) — the classic "is this week's
    defect rate common-cause noise or a real signal" chart, with
    per-week limits widening for thin weeks. Complements CUSUM (drift
    onset) and the EWMA smoother with the canonical control-limit
    flag.

    Determinism: the late flag and weekly counts are exact integers
    (same EXISTS → semi-join as late_shipment_priority_counts); p̄ is
    one ratio of exact sums; limits and flags round to 6.

    Scale shape: semi join on orderkey (no fan-out — an order with 5
    late lines counts once), one hash agg to |weeks| rows, pooled rate
    as a broadcast scalar. Nothing wide after the semi join.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late_orders = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")),
        "left_semi",
    ).select("o_orderkey")
    flagged = o.select(
        F.to_date(F.date_trunc("week", F.col("o_orderdate"))).alias("week"),
        "o_orderkey",
    ).join(late_orders.withColumn("late", F.lit(1)), "o_orderkey", "left")
    weekly = flagged.groupBy("week").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.coalesce(F.col("late"), F.lit(0))).cast("long").alias("n_late"),
    )
    weekly = _ckpt(weekly)  # shared fan-out relation
    pooled = weekly.agg(
        (F.sum("n_late").cast("double") / F.sum("n_orders")).alias("pbar")
    )
    p_hat = F.col("n_late").cast("double") / F.col("n_orders")
    sigma = F.sqrt(
        F.col("pbar") * (1 - F.col("pbar")) / F.col("n_orders")
    )
    ucl = F.col("pbar") + 3 * sigma
    lcl = F.greatest(F.lit(0.0), F.col("pbar") - 3 * sigma)
    return weekly.crossJoin(F.broadcast(pooled)).select(
        "week",
        "n_orders",
        "n_late",
        F.round(p_hat, 6).alias("p_hat"),
        F.round(ucl, 6).alias("ucl"),
        F.round(lcl, 6).alias("lcl"),
        F.when((p_hat > ucl) | (p_hat < lcl), 1)
        .otherwise(0)
        .cast("long")
        .alias("out_of_control"),
    )


# ---------------------------------------------------------------------------
# wave 101: Jensen-Shannon source divergence, Simpson's-paradox slope audit
# ---------------------------------------------------------------------------


@query(
    "jsd_source_unigrams",
    oracle="""
    WITH tok AS (
        SELECT source AS s,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents WHERE trim(text) <> ''
    ), cnt AS (
        SELECT s, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY s, w
    ), nt AS (
        SELECT s, CAST(SUM(c) AS BIGINT) AS t FROM cnt GROUP BY s
    ), probs AS (
        SELECT cnt.s, w, CAST(c AS DOUBLE) / t AS p
        FROM cnt JOIN nt USING (s)
    ), hs AS (
        SELECT s, SUM(-p * ln(p)) AS h FROM probs GROUP BY s
    ), pairs AS (
        SELECT a.s AS src_a, b.s AS src_b
        FROM (SELECT DISTINCT s FROM nt) a
        JOIN (SELECT DISTINCT s FROM nt) b ON a.s < b.s
    ), mix AS (
        SELECT src_a, src_b, w, SUM(p) / 2 AS m
        FROM pairs JOIN probs pr ON pr.s = src_a OR pr.s = src_b
        GROUP BY src_a, src_b, w
    ), hm AS (
        SELECT src_a, src_b, SUM(-m * ln(m)) AS h_mix
        FROM mix GROUP BY src_a, src_b
    )
    SELECT src_a, src_b,
           ROUND((h_mix - (ha.h + hb.h) / 2) / ln(2), 6) AS jsd_bits
    FROM hm JOIN hs ha ON ha.s = src_a
            JOIN hs hb ON hb.s = src_b
    """,
)
def jsd_source_unigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (in bits) between the unigram
    distributions of every pair of corpus sources, via the
    entropy identity JSD(P,Q) = H((P+Q)/2) − (H(P)+H(Q))/2 — the
    symmetric, bounded [0,1-bit] "how different are these sources
    REALLY" measure that weighted-Jaccard (set overlap) and G² keyness
    (per-term) don't give. The mixture M needs no full-outer join:
    grouping the two sources' (w, p) rows by word and summing handles
    missing mass as 0 naturally.

    Scale shape: token counts are one explode + hash agg to
    vocab×|sources| rows; everything after runs on probability rows,
    never tokens. The pair fan-out multiplies prob rows by the pairs
    each source is in (|sources|−1) via a broadcast OR-join — fine for
    the handful of sources a curation run compares; per-source
    entropies are vocab-bounded aggs. Round 6 absorbs summation-order
    drift.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    tok = docs.select(
        F.col("source").alias("s"),
        F.explode(ws_tokens(F.lower(F.col("text")))).alias("w"),
    )
    cnt = tok.groupBy("s", "w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    cnt = _ckpt(cnt)  # shared fan-out relation
    nt = cnt.groupBy("s").agg(F.sum("c").cast("long").alias("t"))
    nt = _ckpt(nt)  # shared fan-out relation
    probs = cnt.join(F.broadcast(nt), "s").select(
        "s", "w", (F.col("c").cast("double") / F.col("t")).alias("p")
    )
    hs = probs.groupBy("s").agg(F.sum(-F.col("p") * F.log("p")).alias("h"))
    hs = _ckpt(hs)  # shared fan-out relation
    srcs = nt.select("s")
    pairs = (
        srcs.select(F.col("s").alias("src_a"))
        .join(srcs.select(F.col("s").alias("src_b")))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    mix = (
        probs.join(
            F.broadcast(pairs),
            (F.col("s") == F.col("src_a")) | (F.col("s") == F.col("src_b")),
        )
        .groupBy("src_a", "src_b", "w")
        .agg((F.sum("p") / 2).alias("m"))
    )
    hm = mix.groupBy("src_a", "src_b").agg(
        F.sum(-F.col("m") * F.log("m")).alias("h_mix")
    )
    ha = hs.select(F.col("s").alias("src_a"), F.col("h").alias("ha"))
    hb = hs.select(F.col("s").alias("src_b"), F.col("h").alias("hb"))
    return (
        hm.join(F.broadcast(ha), "src_a")
        .join(F.broadcast(hb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.round(
                (F.col("h_mix") - (F.col("ha") + F.col("hb")) / 2)
                / float(__import__("math").log(2)),
                6,
            ).alias("jsd_bits"),
        )
    )


@query(
    "simpson_slope_audit",
    oracle="""
    WITH pts AS (
        SELECT l_returnflag AS grp, l_quantity AS x,
               l_extendedprice * (1 - l_discount) AS y
        FROM lineitem
    ), per AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               ROUND((COUNT(*) * SUM(x*y) - SUM(x) * SUM(y))
                     / (COUNT(*) * SUM(x*x) - SUM(x) * SUM(x)), 6) AS grp_slope
        FROM pts GROUP BY grp
    ), pooled AS (
        SELECT ROUND((COUNT(*) * SUM(x*y) - SUM(x) * SUM(y))
                     / (COUNT(*) * SUM(x*x) - SUM(x) * SUM(x)), 6)
                   AS pooled_slope
        FROM pts
    )
    SELECT grp, n, grp_slope, pooled_slope,
           CAST(CASE WHEN (grp_slope > 0) <> (pooled_slope > 0)
                     THEN 1 ELSE 0 END AS BIGINT) AS sign_flip
    FROM per, pooled
    """,
)
def simpson_slope_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit: the OLS slope of net revenue on
    quantity fitted POOLED over all lineitems and separately WITHIN
    each return-flag stratum, flagging strata whose slope sign
    contradicts the pooled fit — the aggregation-reversal check that
    should gate any "X drives Y" dashboard claim before it ships
    (a confounder that flips the sign within strata is invisible to
    the pooled regression). Companion to regr_function_suite (the
    primitives) and diff_in_diff (the designed comparison).

    Determinism: both slopes come from the same five moment sums
    (n, Σx, Σy, Σxy, Σx²) — single-pass, map-side-combined — rounded
    to 6 before the sign comparison so the flag itself is
    reproducible cross-engine.

    Scale shape: two hash aggs over narrow projected rows (one global,
    one per-stratum, both with map-side partials); the pooled scalar
    broadcasts onto |strata| rows. No shuffle of raw rows at all.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").alias("x"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("y"),
    )

    def slope_agg():
        n = F.count(F.lit(1))
        return F.round(
            (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
            / (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")),
            6,
        )

    per = pts.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        slope_agg().alias("grp_slope"),
    )
    pooled = pts.agg(slope_agg().alias("pooled_slope"))
    return per.crossJoin(F.broadcast(pooled)).select(
        "grp",
        "n",
        "grp_slope",
        "pooled_slope",
        F.when(
            (F.col("grp_slope") > 0) != (F.col("pooled_slope") > 0), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("sign_flip"),
    )


# ---------------------------------------------------------------------------
# wave 102: Holt linear-trend smoothing, activity-streak islands
# ---------------------------------------------------------------------------


@query(
    "holt_linear_forecast",
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
    ), rec AS (
        SELECT event_type, i, n, CAST(y AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b
        FROM daily WHERE i = 1
        UNION ALL
        SELECT d.event_type, d.i, d.n,
               0.5*d.y + 0.5*(r.l + r.b),
               0.25*((0.5*d.y + 0.5*(r.l + r.b)) - r.l) + 0.75*r.b
        FROM rec r JOIN daily d
          ON d.event_type = r.event_type AND d.i = r.i + 1
    )
    SELECT event_type, n AS n_days,
           ROUND(l, 6) AS level, ROUND(b, 6) AS trend,
           ROUND(l + 7*b, 6) AS forecast_7d
    FROM rec WHERE i = n
    """,
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level α=0.5, trend β=0.25,
    b₀=0) over each event type's daily value series, with the 7-day-
    ahead linear forecast l_T + 7·b_T — the trend-aware upgrade of the
    seasonal-naive and EWMA baselines. A smoothing recurrence is
    inherently SEQUENTIAL, which SQL can't window: here it runs as an
    `aggregate` HOF fold over the day-sorted series (array-bounded,
    JVM-side), and the oracle unrolls the identical recurrence as a
    recursive CTE — the fold and the CTE share one IEEE dag, made
    input-identical by rounding the daily sums to 6 BEFORE the
    recurrence (partial-agg order differs between engines; α,β are
    dyadic so every multiply is exact).

    Scale shape: the fact stream collapses to |types|×|days| rows in
    one hash agg; collect_list holds a days-bounded array per type
    (365 doubles/year — bounded regardless of corpus size); the fold
    is one in-row pass. This is the scale-correct shape for ANY
    per-key recurrence: reduce to the series grain first, then fold
    in-row.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    daily = ev.groupBy(
        "event_type", epoch_day("ts").alias("day")
    ).agg(F.round(F.sum("value"), 6).alias("y"))
    series = daily.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("arr")
    )
    fitted = series.select(
        "event_type",
        F.size("arr").cast("long").alias("n_days"),
        F.expr(
            "aggregate("
            "  slice(transform(arr, x -> x.y), 2, greatest(size(arr) - 1, 0)),"
            "  named_struct('l', CAST(arr[0].y AS DOUBLE),"
            "               'b', CAST(0.0 AS DOUBLE)),"
            "  (acc, y) -> named_struct("
            "      'l', 0.5*y + 0.5*(acc.l + acc.b),"
            "      'b', 0.25*((0.5*y + 0.5*(acc.l + acc.b)) - acc.l)"
            "           + 0.75*acc.b))"
        ).alias("hb"),
    )
    return fitted.select(
        "event_type",
        "n_days",
        F.round(F.col("hb.l"), 6).alias("level"),
        F.round(F.col("hb.b"), 6).alias("trend"),
        F.round(F.col("hb.l") + 7 * F.col("hb.b"), 6).alias("forecast_7d"),
    )


@query(
    "activity_streak_islands",
    oracle="""
    WITH d AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        FROM events
    ), isl AS (
        SELECT user_id, day,
               day - CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY day) AS BIGINT) AS grp
        FROM d
    ), runs AS (
        SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
        FROM isl GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak
    FROM runs GROUP BY user_id
    """,
)
def activity_streak_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands on the user-activity calendar: consecutive-day
    streaks found by the classic day − row_number() constant-group
    trick (consecutive days share the difference), then per-user
    streak census — active days, number of streaks, longest streak.
    The engagement-streak primitive behind retention "N-day streak"
    features, pure integer arithmetic end to end.

    Scale shape: distinct (user, day) first collapses event fan-in;
    one window partitioned by user over days-bounded partitions; two
    hash aggs. All narrow integer rows; the window partition key is
    the user — no global sort.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    d = ev.select("user_id", epoch_day("ts").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = d.select(
        "user_id",
        "day",
        (F.col("day") - F.row_number().over(w).cast("long")).alias("grp"),
    )
    runs = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    return runs.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("n_active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("len").cast("long").alias("longest_streak"),
    )


# ---------------------------------------------------------------------------
# wave 103: Kruskal-Wallis omnibus rank test, Spearman rank correlation
# ---------------------------------------------------------------------------


@query(
    "kruskal_wallis_quantity",
    oracle="""
    WITH hist AS (
        SELECT l_returnflag AS grp, l_quantity AS v,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY grp, v
    ), vals AS (
        SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM hist GROUP BY v
    ), mids AS (
        SELECT v, cv,
               2 * (CAST(SUM(cv) OVER (ORDER BY v) AS BIGINT) - cv) + cv + 1
                   AS mid2
        FROM vals
    ), rsum AS (
        SELECT grp, CAST(SUM(h.c) AS BIGINT) AS n_g,
               CAST(SUM(h.c * m.mid2) AS BIGINT) AS s2_g
        FROM hist h JOIN mids m ON h.v = m.v
        GROUP BY grp
    ), tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM rsum
    ), ties AS (
        SELECT CAST(SUM(cv*cv*cv - cv) AS BIGINT) AS t3 FROM vals
    ), h AS (
        SELECT k, n,
               (12.0 / (CAST(n AS DOUBLE) * (n + 1)))
                   * (SELECT SUM((CAST(s2_g AS DOUBLE)/2)
                                 * (CAST(s2_g AS DOUBLE)/2) / n_g) FROM rsum)
                   - 3.0 * (n + 1) AS h_raw,
               1.0 - CAST(t3 AS DOUBLE)
                   / (CAST(n AS DOUBLE)*n*n - n) AS tie_corr
        FROM tot, ties
    )
    SELECT k AS n_groups, n AS n_rows,
           ROUND(h_raw, 6) AS h_uncorrected,
           ROUND(tie_corr, 6) AS tie_correction,
           ROUND(h_raw / tie_corr, 6) AS h_statistic
    FROM h
    """,
)
def kruskal_wallis_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis omnibus rank test: do the return-flag strata draw
    l_quantity from the same distribution? The nonparametric one-way
    ANOVA beside the two-sample tests already here (KS, Cramér-von
    Mises, log-rank) — H = 12/(N(N+1))·ΣR̄²ᵢ/nᵢ − 3(N+1), divided by
    the tie correction 1 − Σ(t³−t)/(N³−N).

    The scale trick: ranks are never assigned to rows. l_quantity has
    ~50 distinct values, so midranks come from the VALUE HISTOGRAM —
    mid(v) = cnt_less(v) + (cnt_eq(v)+1)/2 — and each group's rank sum
    is Σ c_gv·mid(v) over the tiny (group, value) table. Doubling the
    midrank (mid2 = 2·cnt_less + cnt_eq + 1) keeps EVERY intermediate
    an exact BIGINT; H is one fixed double dag over exact integers,
    rounded to 6.

    Scale shape: one hash agg to |groups|×|values| rows; the
    cumulative-count window runs over |values| (~50) rows. Nothing
    row-ordered ever shuffles — the histogram-midrank construction is
    THE way rank statistics survive 100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    hist = li.groupBy(
        F.col("l_returnflag").alias("grp"), F.col("l_quantity").alias("v")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    hist = _ckpt(hist)  # shared fan-out relation
    vals = hist.groupBy("v").agg(F.sum("c").cast("long").alias("cv"))
    vals = _ckpt(vals)  # shared fan-out relation
    wv = Window.orderBy("v")
    mids = vals.select(
        "v",
        "cv",
        (
            2 * (F.sum("cv").over(wv).cast("long") - F.col("cv"))
            + F.col("cv")
            + 1
        ).alias("mid2"),
    )
    rsum = (
        hist.join(F.broadcast(mids), "v")
        .groupBy("grp")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(F.col("c") * F.col("mid2")).cast("long").alias("s2_g"),
        )
    )
    rsum = _ckpt(rsum)  # shared fan-out relation
    tot = rsum.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    ties = vals.agg(
        F.sum(F.col("cv") * F.col("cv") * F.col("cv") - F.col("cv"))
        .cast("long")
        .alias("t3")
    )
    rterm = rsum.agg(
        F.sum(
            (F.col("s2_g").cast("double") / 2)
            * (F.col("s2_g").cast("double") / 2)
            / F.col("n_g")
        ).alias("rr")
    )
    return (
        tot.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(rterm))
        .select(
            F.col("k").alias("n_groups"),
            F.col("n").alias("n_rows"),
            F.round(
                (12.0 / (F.col("n").cast("double") * (F.col("n") + 1)))
                * F.col("rr")
                - 3.0 * (F.col("n") + 1),
                6,
            ).alias("h_uncorrected"),
            F.round(
                1.0
                - F.col("t3").cast("double")
                / (
                    F.col("n").cast("double") * F.col("n") * F.col("n")
                    - F.col("n")
                ),
                6,
            ).alias("tie_correction"),
            F.round(
                (
                    (12.0 / (F.col("n").cast("double") * (F.col("n") + 1)))
                    * F.col("rr")
                    - 3.0 * (F.col("n") + 1)
                )
                / (
                    1.0
                    - F.col("t3").cast("double")
                    / (
                        F.col("n").cast("double") * F.col("n") * F.col("n")
                        - F.col("n")
                    )
                ),
                6,
            ).alias("h_statistic"),
        )
    )


@query(
    "spearman_rank_corr",
    oracle="""
    WITH joint AS (
        SELECT l_quantity AS x, l_discount AS y,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM lineitem GROUP BY x, y
    ), xv AS (
        SELECT x, CAST(SUM(c) AS BIGINT) AS cx FROM joint GROUP BY x
    ), xm AS (
        SELECT x, 2 * (CAST(SUM(cx) OVER (ORDER BY x) AS BIGINT) - cx)
                  + cx + 1 AS mx2
        FROM xv
    ), yv AS (
        SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM joint GROUP BY y
    ), ym AS (
        SELECT y, 2 * (CAST(SUM(cy) OVER (ORDER BY y) AS BIGINT) - cy)
                  + cy + 1 AS my2
        FROM yv
    ), m AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c * mx2) AS BIGINT) AS sx,
               CAST(SUM(c * my2) AS BIGINT) AS sy,
               CAST(SUM(c * mx2 * my2) AS BIGINT) AS sxy,
               CAST(SUM(c * mx2 * mx2) AS BIGINT) AS sxx,
               CAST(SUM(c * my2 * my2) AS BIGINT) AS syy
        FROM joint j JOIN xm ON j.x = xm.x JOIN ym ON j.y = ym.y
    )
    SELECT n AS n_rows,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 6) AS spearman_rho
    FROM m
    """,
)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between l_quantity and l_discount —
    Pearson on tie-averaged midranks, the monotone-association
    companion to Kendall's τ (already here, concordance-pair form).
    Same histogram-midrank construction as kruskal_wallis_quantity:
    both variables have small distinct-value sets, so doubled midranks
    (exact BIGINTs) come from per-variable value histograms and every
    moment sum Σc·r_x·r_y is exact 64-bit integer arithmetic over the
    JOINT histogram — the ×2 scaling cancels in the correlation.
    ρ is one double dag over six exact integers, rounded to 6.

    Scale shape: one hash agg to the |X|×|Y| joint histogram (~550
    rows); marginal cumulations run over ≤50-row relations; the two
    midrank joins broadcast. No row-level rank assignment anywhere.
    BIGINT headroom: Σc·mx2·my2 ≤ N·(2N)² — switch moment sums to
    DECIMAL(38,0) beyond ~1e8 rows, as the 128-bit census queries do.
    """
    li = load_table(spark, sf_dir, "lineitem")
    joint = li.groupBy(
        F.col("l_quantity").alias("x"), F.col("l_discount").alias("y")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    xv = joint.groupBy("x").agg(F.sum("c").cast("long").alias("cx"))
    wx = Window.orderBy("x")
    xm = xv.select(
        "x",
        (
            2 * (F.sum("cx").over(wx).cast("long") - F.col("cx"))
            + F.col("cx")
            + 1
        ).alias("mx2"),
    )
    yv = joint.groupBy("y").agg(F.sum("c").cast("long").alias("cy"))
    wy = Window.orderBy("y")
    ym = yv.select(
        "y",
        (
            2 * (F.sum("cy").over(wy).cast("long") - F.col("cy"))
            + F.col("cy")
            + 1
        ).alias("my2"),
    )
    m = (
        joint.join(F.broadcast(xm), "x")
        .join(F.broadcast(ym), "y")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(F.col("c") * F.col("mx2")).cast("long").alias("sx"),
            F.sum(F.col("c") * F.col("my2")).cast("long").alias("sy"),
            F.sum(F.col("c") * F.col("mx2") * F.col("my2"))
            .cast("long")
            .alias("sxy"),
            F.sum(F.col("c") * F.col("mx2") * F.col("mx2"))
            .cast("long")
            .alias("sxx"),
            F.sum(F.col("c") * F.col("my2") * F.col("my2"))
            .cast("long")
            .alias("syy"),
        )
    )
    nd = F.col("n").cast("double")
    return m.select(
        F.col("n").alias("n_rows"),
        F.round(
            (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / (
                F.sqrt(nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
                * F.sqrt(
                    nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
                )
            ),
            6,
        ).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# wave 104: Wald-Wolfowitz runs test, Neyman sampling allocation
# ---------------------------------------------------------------------------


@query(
    "runs_test_daily_value",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               ROUND(SUM(value), 6) AS y
        FROM events GROUP BY day
    ), med AS (
        SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY y) AS m FROM daily
    ), signs AS (
        SELECT day, CASE WHEN y > m THEN 1 ELSE 0 END AS s
        FROM daily, med WHERE y <> m
    ), flips AS (
        SELECT s, CASE WHEN LAG(s) OVER (ORDER BY day) IS NOT NULL
                        AND LAG(s) OVER (ORDER BY day) <> s
                       THEN 1 ELSE 0 END AS flip
        FROM signs
    ), c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(s) AS BIGINT) AS n_plus,
               CAST(COUNT(*) - SUM(s) AS BIGINT) AS n_minus,
               CAST(1 + SUM(flip) AS BIGINT) AS runs
        FROM flips
    )
    SELECT n, n_plus, n_minus, runs,
           ROUND(1.0 + 2.0 * n_plus * n_minus / n, 6) AS expected_runs,
           ROUND((runs - (1.0 + 2.0 * n_plus * n_minus / n))
                 / sqrt(2.0 * n_plus * n_minus
                        * (2.0 * n_plus * n_minus - n)
                        / (CAST(n AS DOUBLE) * n * (n - 1))), 6) AS z
    FROM c
    """,
)
def runs_test_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the daily event-value series: are
    above-median and below-median days randomly interleaved, or does
    the series clump (trend/autocorrelation) or alternate (negative
    feedback)? Days exactly at the median are dropped (the classical
    convention); R = 1 + sign flips, compared against E[R] =
    1 + 2n₊n₋/n with the exact runs-test variance. The
    distribution-free randomness check beside ACF (linear
    autocorrelation) and Mann-Kendall (monotone trend).

    Determinism: daily sums round to 6 before the median cut;
    percentile_disc picks an actual data value on both engines; counts
    and flips are exact integers; z is one rounded double dag.

    Scale shape: fact stream collapses to |days| rows in one hash agg;
    the median, lag window, and census all run on that days-bounded
    relation. Nothing row-level survives the first agg.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    daily = ev.groupBy(epoch_day("ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("y")
    )
    med = daily.agg(F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY y)").alias("m"))
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("y") != F.col("m"))
        .select("day", F.when(F.col("y") > F.col("m"), 1).otherwise(0).alias("s"))
    )
    w = Window.orderBy("day")
    flips = signs.select(
        "s",
        F.when(
            F.lag("s").over(w).isNotNull() & (F.lag("s").over(w) != F.col("s")),
            1,
        )
        .otherwise(0)
        .alias("flip"),
    )
    c = flips.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("s").cast("long").alias("n_plus"),
        (F.count(F.lit(1)) - F.sum("s")).cast("long").alias("n_minus"),
        (1 + F.sum("flip")).cast("long").alias("runs"),
    )
    npnm = 2.0 * F.col("n_plus") * F.col("n_minus")
    mu = 1.0 + npnm / F.col("n")
    sd = F.sqrt(
        npnm
        * (npnm - F.col("n"))
        / (F.col("n").cast("double") * F.col("n") * (F.col("n") - 1))
    )
    return c.select(
        "n",
        "n_plus",
        "n_minus",
        "runs",
        F.round(mu, 6).alias("expected_runs"),
        F.round((F.col("runs") - mu) / sd, 6).alias("z"),
    )


@query(
    "neyman_allocation_sampling",
    oracle="""
    WITH strata AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(ROUND(sqrt((SUM(CAST(n_chars AS DOUBLE) * n_chars)
                                - SUM(CAST(n_chars AS DOUBLE))
                                  * SUM(CAST(n_chars AS DOUBLE)) / COUNT(*))
                               / COUNT(*)) * COUNT(*) * 1000) AS BIGINT)
                   AS weight
        FROM documents GROUP BY source
    ), tot AS (
        SELECT CAST(SUM(weight) AS BIGINT) AS t FROM strata
    ), quota AS (
        SELECT source, n_docs, weight,
               (weight * 1000) // t AS floor_n,
               (weight * 1000) % t  AS rem
        FROM strata, tot
    ), short AS (
        SELECT 1000 - CAST(SUM(floor_n) AS BIGINT) AS k FROM quota
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rnk
        FROM quota
    )
    SELECT source, n_docs,
           CAST(floor_n + CASE WHEN rnk <= k THEN 1 ELSE 0 END AS BIGINT)
               AS sample_n
    FROM ranked, short
    """,
)
def neyman_allocation_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation: split a 1000-document labeling budget
    across sources proportional to N_h·S_h (stratum size × stratum
    std of document length) — the variance-minimizing stratified
    design, which beats proportional allocation exactly when strata
    differ in spread. The weights N_h·S_h are rounded to integer
    milli-units and the integerization reuses the largest-remainder
    scheme (seat_apportionment_revenue), so the allocations sum to
    EXACTLY the budget and every comparison is integer-exact — the
    one sqrt per stratum is quarantined behind a single round before
    any ranking happens.

    Scale shape: one pass of moment sums per stratum (map-side
    partials), then pure arithmetic on a |sources|-row relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    nd = F.count(F.lit(1))
    sx = F.sum(F.col("n_chars").cast("double"))
    sxx = F.sum(F.col("n_chars").cast("double") * F.col("n_chars"))
    strata = docs.groupBy("source").agg(
        nd.cast("long").alias("n_docs"),
        F.round(F.sqrt((sxx - sx * sx / nd) / nd) * nd * 1000)
        .cast("long")
        .alias("weight"),
    )
    strata = _ckpt(strata)  # shared fan-out relation
    tot = strata.agg(F.sum("weight").cast("long").alias("t"))
    quota = strata.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "weight",
        F.expr("(weight * 1000) div t").alias("floor_n"),
        F.expr("(weight * 1000) % t").alias("rem"),
    )
    short = quota.agg((F.lit(1000) - F.sum("floor_n")).cast("long").alias("k"))
    ranked = quota.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), F.col("source"))),
    )
    return ranked.crossJoin(F.broadcast(short)).select(
        "source",
        "n_docs",
        (F.col("floor_n") + F.when(F.col("rnk") <= F.col("k"), 1).otherwise(0))
        .cast("long")
        .alias("sample_n"),
    )


# ---------------------------------------------------------------------------
# wave 105: repetition-loop detector, Observation pipeline metrics
# ---------------------------------------------------------------------------


@query(
    "repetition_loop_detector",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    ), pos2 AS (
        SELECT doc_id, t, unnest(generate_series(3, len(t))) AS i FROM tok
    ), ones2 AS (
        SELECT doc_id, i,
               i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        FROM pos2 WHERE t[i] = t[i - 2]
    ), mx2 AS (
        SELECT doc_id, MAX(run) AS loop2 FROM (
            SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS run
            FROM ones2 GROUP BY doc_id, grp
        ) GROUP BY doc_id
    ), pos3 AS (
        SELECT doc_id, t, unnest(generate_series(4, len(t))) AS i FROM tok
    ), ones3 AS (
        SELECT doc_id, i,
               i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS grp
        FROM pos3 WHERE t[i] = t[i - 3]
    ), mx3 AS (
        SELECT doc_id, MAX(run) AS loop3 FROM (
            SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS run
            FROM ones3 GROUP BY doc_id, grp
        ) GROUP BY doc_id
    )
    SELECT k.doc_id,
           CAST(COALESCE(m2.loop2, 0) AS BIGINT) AS loop2,
           CAST(COALESCE(m3.loop3, 0) AS BIGINT) AS loop3,
           CAST(CASE WHEN COALESCE(m2.loop2, 0) >= 4
                      OR COALESCE(m3.loop3, 0) >= 6
                     THEN 1 ELSE 0 END AS BIGINT) AS is_loopy
    FROM tok k LEFT JOIN mx2 m2 ON k.doc_id = m2.doc_id
               LEFT JOIN mx3 m3 ON k.doc_id = m3.doc_id
    """,
)
def repetition_loop_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-GENERATION loop detector: the longest run of positions
    where token i equals token i−p, for phrase periods p=2 and p=3 —
    catches 'the cat the cat the cat' and three-word loops that the
    period-1 stutter detector (longest_token_run) and global frequency
    filters both miss. A doc is flagged loopy when a 2-gram repeats
    ≥2 extra times (loop2 ≥ 4) or a 3-gram ≥2 extra times (loop3 ≥ 6).

    ZERO-SHUFFLE except the final projection: the flag arrays and the
    longest-run fold are in-row higher-order functions (transform over
    sequence + aggregate with a (cur,max) accumulator) — no posexplode,
    no window, no doc-keyed exchange; the oracle re-derives identical
    runs with the explode + gaps-and-islands spec form. The guard
    CASE keeps Spark's descending-sequence() surprise away from short
    docs (sequence(4,2) counts DOWN; DuckDB's generate_series is
    empty).

    Scale shape: map-side per row, output one narrow row per doc. At
    100 TB this runs at scan speed beside the in-row quality gate.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", ws_tokens(F.lower(F.col("text"))).alias("t")
    )

    def runmax(p: int):
        return F.expr(
            f"""
            aggregate(
              CASE WHEN size(t) >= {p + 1}
                   THEN transform(sequence({p + 1}, size(t)),
                        i -> IF(element_at(t, i) = element_at(t, i - {p}),
                                1, 0))
                   ELSE array() END,
              named_struct('cur', 0L, 'mx', 0L),
              (a, f) -> named_struct(
                  'cur', IF(f = 1, a.cur + 1, 0L),
                  'mx', greatest(a.mx, IF(f = 1, a.cur + 1, 0L))),
              a -> a.mx)
            """
        )

    out = toks.select(
        "doc_id",
        runmax(2).cast("long").alias("loop2"),
        runmax(3).cast("long").alias("loop3"),
    )
    return out.select(
        "doc_id",
        "loop2",
        "loop3",
        F.when((F.col("loop2") >= 4) | (F.col("loop3") >= 6), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_loopy"),
    )


@query(
    "observed_ingest_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nonpositive,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN
                   ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_priority,
           ROUND(SUM(o_totalprice), 2) AS total_value
    FROM orders
    """,
)
def observed_ingest_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline observability via Spark's Observation API: the ingest
    pass over orders is instrumented with ``df.observe(...)`` metrics
    (row count, nonpositive-price violations, unknown-priority
    violations, total value) that the EXECUTOR accumulates as a
    side-effect of the normal action — the production pattern for
    data-quality counters that must not cost a second scan (contrast
    data_expectations_report, which is a dedicated audit query). The
    observed metrics come back as a 1-row DataFrame; the oracle
    recomputes them as plain aggregates.

    Scale shape: observe() piggybacks accumulators on whatever action
    the pipeline already runs (here a noop-sink write) — zero extra
    jobs, zero extra shuffles, metrics merged driver-side like any
    accumulator. The one collect-like step is reading 4 scalars.
    """
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("ingest_metrics")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_nonpositive"),
        F.sum(
            F.when(
                ~F.col("o_orderpriority").isin(
                    "1-URGENT",
                    "2-HIGH",
                    "3-MEDIUM",
                    "4-NOT SPECIFIED",
                    "5-LOW",
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_bad_priority"),
        F.round(F.sum("o_totalprice"), 2).alias("total_value"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_nonpositive"],
                m["n_bad_priority"],
                float(m["total_value"]),
            )
        ],
        "n_rows bigint, n_nonpositive bigint, n_bad_priority bigint, "
        "total_value double",
    )


# ---------------------------------------------------------------------------
# wave 106: sweep-line peak concurrency, Nelson-Aalen cumulative hazard
# ---------------------------------------------------------------------------


@query(
    "peak_concurrent_sessions",
    oracle="""
    WITH pts AS (
        SELECT user_id, ts,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        FROM events
    ), iv AS (
        SELECT user_id, day, MIN(ts) AS s, MAX(ts) AS e
        FROM pts GROUP BY user_id, day
    ), deltas AS (
        SELECT day, epoch_us(s) * 2 AS k, 1 AS delta FROM iv
        UNION ALL
        SELECT day, epoch_us(e) * 2 + 1 AS k, -1 AS delta FROM iv
    ), run AS (
        SELECT day,
               SUM(delta) OVER (ORDER BY k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM deltas
    )
    SELECT day, CAST(MAX(c) AS BIGINT) AS peak_concurrent
    FROM run GROUP BY day
    """,
)
def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency: each user's daily activity span
    [first event, last event] becomes a +1/−1 delta pair, the running
    sum over the global time order is the number of simultaneously
    active users, and the per-day MAX of that running count is the
    capacity-planning headline ("how many concurrent sessions must we
    hold?"). The +1-before-−1 tie order (k = 2·ts for starts,
    2·ts+1 for ends) counts touching intervals as overlapping, and
    makes the per-instant max order-independent even when several
    spans share a timestamp.

    Scale shape: the global running sum uses
    operators/rank.py:distributed_prefix_sum — range-bucket on the
    doubled-timestamp key, per-bucket windowed cumsum in parallel,
    bucket offsets broadcast as a literal map — NOT a bare
    Window.orderBy, which would funnel every delta through one task.
    The oracle uses the single-task window form as the spec; the
    engine plan keeps tasks bounded at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_prefix_sum,
    )
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    iv = ev.select("user_id", "ts", epoch_day("ts").alias("day")).groupBy(
        "user_id", "day"
    ).agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    # session TZ is pinned UTC, so NTZ→TZ cast is faithful (see epoch_day)
    def us(c):
        return F.unix_micros(c.cast("timestamp"))

    deltas = iv.select(
        "day", (us(F.col("s")) * 2).alias("k"), F.lit(1).alias("delta"),
        F.col("user_id").alias("uid"),
    ).unionByName(
        iv.select(
            "day", (us(F.col("e")) * 2 + 1).alias("k"),
            F.lit(-1).alias("delta"), F.col("user_id").alias("uid"),
        )
    )
    run = distributed_prefix_sum(
        deltas, key_col="k", id_col="uid", val_col="delta", out_col="c"
    )
    return run.groupBy("day").agg(
        F.max("c").cast("long").alias("peak_concurrent")
    )


@query(
    "nelson_aalen_hazard",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS buy_ts
        FROM events GROUP BY user_id
    ), horizon AS (
        SELECT MAX(ts) AS max_ts FROM events
    ), durations AS (
        SELECT CASE WHEN buy_ts IS NOT NULL AND buy_ts >= signup_ts
                    THEN date_diff('day', signup_ts, buy_ts)
                    ELSE date_diff('day', signup_ts, max_ts) END AS t_days,
               CASE WHEN buy_ts IS NOT NULL AND buy_ts >= signup_ts
                    THEN 1 ELSE 0 END AS event
        FROM per_user, horizon
        WHERE signup_ts IS NOT NULL
    ), tbl AS (
        SELECT CAST(t_days AS BIGINT) AS t_days,
               CAST(SUM(event) AS BIGINT) AS d_events,
               CAST(COUNT(*) AS BIGINT) AS n_total
        FROM durations GROUP BY t_days
    ), risk AS (
        SELECT t_days, d_events,
               CAST(SUM(n_total) OVER (ORDER BY t_days DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_at_risk
        FROM tbl
    )
    SELECT t_days, d_events, n_at_risk,
           ROUND(SUM(CAST(d_events AS DOUBLE) / n_at_risk)
                     OVER (ORDER BY t_days
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS cum_hazard
    FROM risk WHERE d_events > 0
    """,
)
def nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ
    for the signup→first-purchase duration with right-censoring at the
    observation horizon — the hazard-scale companion to the
    Kaplan-Meier survival curve (kaplan_meier_signup_purchase): H(t)
    adds cleanly across strata and feeds −log-survival diagnostics,
    where KM multiplies. Same risk-set construction: at-risk counts
    come from a DESCENDING cumulative sum over the duration table.

    Determinism: dᵢ and nᵢ are exact integers; the hazard increments
    are exact-integer ratios summed in ascending t order on both
    engines, rounded to 6.

    Scale shape: per-user durations are one hash agg; everything after
    runs on the |distinct durations| table (days-bounded), where the
    two windows are legitimately tiny. Censoring is a broadcast
    horizon scalar.
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
    converted = F.col("buy_ts").isNotNull() & (
        F.col("buy_ts") >= F.col("signup_ts")
    )
    durations = (
        per_user.crossJoin(F.broadcast(horizon))
        .filter(F.col("signup_ts").isNotNull())
        .select(
            F.when(
                converted, F.datediff(F.col("buy_ts"), F.col("signup_ts"))
            )
            .otherwise(F.datediff(F.col("max_ts"), F.col("signup_ts")))
            .cast("long")
            .alias("t_days"),
            F.when(converted, 1).otherwise(0).alias("event"),
        )
    )
    tbl = durations.groupBy("t_days").agg(
        F.sum("event").cast("long").alias("d_events"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    wdesc = (
        Window.orderBy(F.col("t_days").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = tbl.select(
        "t_days",
        "d_events",
        F.sum("n_total").over(wdesc).cast("long").alias("n_at_risk"),
    )
    wasc = (
        Window.orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        risk.withColumn(
            "cum_hazard",
            F.round(
                F.sum(
                    F.col("d_events").cast("double") / F.col("n_at_risk")
                ).over(wasc),
                6,
            ),
        )
        .filter(F.col("d_events") > 0)
        .select("t_days", "d_events", "n_at_risk", "cum_hazard")
    )


# ---------------------------------------------------------------------------
# wave 107: Markov removal-effect attribution, subsequence pattern support
# ---------------------------------------------------------------------------


@query(
    "markov_removal_attribution",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ), conv AS (
        SELECT user_id, MIN(rn) AS conv_rn FROM seq
        WHERE event_type = 'purchase' GROUP BY user_id
    ), j AS (
        SELECT s.user_id,
               CASE WHEN s.event_type = 'purchase' THEN 'CONV'
                    ELSE s.event_type END AS state,
               s.rn
        FROM seq s LEFT JOIN conv c ON s.user_id = c.user_id
        WHERE c.conv_rn IS NULL OR s.rn <= c.conv_rn
    ), steps AS (
        SELECT user_id, state, rn,
               LEAD(state) OVER (PARTITION BY user_id ORDER BY rn) AS nxt,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS pos,
               COUNT(*) OVER (PARTITION BY user_id) AS n_steps
        FROM j
    ), trans AS (
        SELECT 'START' AS s, state AS t FROM steps WHERE pos = 1
        UNION ALL
        SELECT state AS s, nxt AS t FROM steps WHERE nxt IS NOT NULL
        UNION ALL
        SELECT state AS s, 'DROP' AS t FROM steps
        WHERE nxt IS NULL AND state <> 'CONV'
    ), cnt AS (
        SELECT s, t, CAST(COUNT(*) AS BIGINT) AS c FROM trans GROUP BY s, t
    ), tot AS (
        SELECT s, CAST(SUM(c) AS BIGINT) AS cs FROM cnt GROUP BY s
    ), bt AS (
        SELECT cnt.s, cnt.t, CAST(cnt.c AS DOUBLE) / tot.cs AS p
        FROM cnt JOIN tot USING (s)
    ), scen AS (
        SELECT * FROM (VALUES ('none'), ('click'), ('error'),
                              ('signup'), ('view')) x(scenario)
    ), st AS (
        SELECT scenario, s, t, p FROM scen, bt WHERE t <> scenario
    ), states AS (
        SELECT DISTINCT scenario, s FROM st
    ), pc AS (
        SELECT scenario, s, p FROM st WHERE t = 'CONV'
    ), ce AS (
        SELECT scenario, s, t, p FROM st WHERE t NOT IN ('CONV', 'DROP')
    ), it0 AS (
        SELECT scenario, s, CAST(0.0 AS DOUBLE) AS v FROM states
    ), it1 AS (
        SELECT x.scenario, x.s, COALESCE(MAX(pc.p), 0)
               + COALESCE(SUM(ce.p * i.v), 0) AS v
        FROM states x
        LEFT JOIN pc ON pc.scenario = x.scenario AND pc.s = x.s
        LEFT JOIN ce ON ce.scenario = x.scenario AND ce.s = x.s
        LEFT JOIN it0 i ON i.scenario = x.scenario AND i.s = ce.t
        GROUP BY x.scenario, x.s
    ), it2 AS (
        SELECT x.scenario, x.s, COALESCE(MAX(pc.p), 0)
               + COALESCE(SUM(ce.p * i.v), 0) AS v
        FROM states x
        LEFT JOIN pc ON pc.scenario = x.scenario AND pc.s = x.s
        LEFT JOIN ce ON ce.scenario = x.scenario AND ce.s = x.s
        LEFT JOIN it1 i ON i.scenario = x.scenario AND i.s = ce.t
        GROUP BY x.scenario, x.s
    ), it3 AS (
        SELECT x.scenario, x.s, COALESCE(MAX(pc.p), 0)
               + COALESCE(SUM(ce.p * i.v), 0) AS v
        FROM states x
        LEFT JOIN pc ON pc.scenario = x.scenario AND pc.s = x.s
        LEFT JOIN ce ON ce.scenario = x.scenario AND ce.s = x.s
        LEFT JOIN it2 i ON i.scenario = x.scenario AND i.s = ce.t
        GROUP BY x.scenario, x.s
    ), it4 AS (
        SELECT x.scenario, x.s, COALESCE(MAX(pc.p), 0)
               + COALESCE(SUM(ce.p * i.v), 0) AS v
        FROM states x
        LEFT JOIN pc ON pc.scenario = x.scenario AND pc.s = x.s
        LEFT JOIN ce ON ce.scenario = x.scenario AND ce.s = x.s
        LEFT JOIN it3 i ON i.scenario = x.scenario AND i.s = ce.t
        GROUP BY x.scenario, x.s
    ), it5 AS (
        SELECT x.scenario, x.s, COALESCE(MAX(pc.p), 0)
               + COALESCE(SUM(ce.p * i.v), 0) AS v
        FROM states x
        LEFT JOIN pc ON pc.scenario = x.scenario AND pc.s = x.s
        LEFT JOIN ce ON ce.scenario = x.scenario AND ce.s = x.s
        LEFT JOIN it4 i ON i.scenario = x.scenario AND i.s = ce.t
        GROUP BY x.scenario, x.s
    ), it6 AS (
        SELECT x.scenario, x.s, COALESCE(MAX(pc.p), 0)
               + COALESCE(SUM(ce.p * i.v), 0) AS v
        FROM states x
        LEFT JOIN pc ON pc.scenario = x.scenario AND pc.s = x.s
        LEFT JOIN ce ON ce.scenario = x.scenario AND ce.s = x.s
        LEFT JOIN it5 i ON i.scenario = x.scenario AND i.s = ce.t
        GROUP BY x.scenario, x.s
    ), it7 AS (
        SELECT x.scenario, x.s, COALESCE(MAX(pc.p), 0)
               + COALESCE(SUM(ce.p * i.v), 0) AS v
        FROM states x
        LEFT JOIN pc ON pc.scenario = x.scenario AND pc.s = x.s
        LEFT JOIN ce ON ce.scenario = x.scenario AND ce.s = x.s
        LEFT JOIN it6 i ON i.scenario = x.scenario AND i.s = ce.t
        GROUP BY x.scenario, x.s
    ), it8 AS (
        SELECT x.scenario, x.s, COALESCE(MAX(pc.p), 0)
               + COALESCE(SUM(ce.p * i.v), 0) AS v
        FROM states x
        LEFT JOIN pc ON pc.scenario = x.scenario AND pc.s = x.s
        LEFT JOIN ce ON ce.scenario = x.scenario AND ce.s = x.s
        LEFT JOIN it7 i ON i.scenario = x.scenario AND i.s = ce.t
        GROUP BY x.scenario, x.s
    ), conv_prob AS (
        SELECT scenario, v FROM it8 WHERE s = 'START'
    ), base AS (
        SELECT v AS b FROM conv_prob WHERE scenario = 'none'
    ), rem AS (
        SELECT scenario AS channel, (b - v) / b AS removal
        FROM conv_prob, base WHERE scenario <> 'none'
    ), tot_rem AS (
        SELECT SUM(removal) AS tr FROM rem
    )
    SELECT channel, ROUND(removal, 6) AS removal_effect,
           CAST(CASE WHEN tr > 0
                     THEN floor(removal * 1000000 / tr)
                     ELSE 0 END AS BIGINT) AS attribution_ppm
    FROM rem, tot_rem
    """,
)
def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov attribution with REMOVAL EFFECTS: user
    journeys (event stream up to first purchase, purchase → absorbing
    CONV, abandonment → absorbing DROP) define a transition matrix;
    each channel's credit is how much the START→CONV absorption
    probability falls when that channel's node is deleted — the
    principled data-driven alternative to the positional rules
    (linear/time-decay) and the cooperative-game view (Shapley)
    already in the registry. Absorption probabilities come from 8
    synchronous value-iteration rounds v ← P_conv + P·v (spectral
    radius < 1, converged to ~1e-10 on this chain), unrolled as
    chained CTEs in the oracle.

    Scale shape: the fact-sized work is journeys → transition COUNTS
    (two windows per user partition + one hash agg); every iteration
    then runs on the |scenarios|×|states|² relation (~hundreds of
    rows) with broadcast joins. The pagerank-style loop, but on a
    matrix small enough that the driver loop costs nothing.
    """
    ev = load_table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.row_number().over(wseq).alias("rn")
    )
    conv = (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("conv_rn"))
    )
    j = (
        seq.join(conv, "user_id", "left")
        .filter(F.col("conv_rn").isNull() | (F.col("rn") <= F.col("conv_rn")))
        .select(
            "user_id",
            F.when(F.col("event_type") == "purchase", "CONV")
            .otherwise(F.col("event_type"))
            .alias("state"),
            "rn",
        )
    )
    wj = Window.partitionBy("user_id").orderBy("rn")
    steps = j.select(
        "user_id",
        "state",
        F.lead("state").over(wj).alias("nxt"),
        F.row_number().over(wj).alias("pos"),
    )
    trans = (
        steps.filter(F.col("pos") == 1)
        .select(F.lit("START").alias("s"), F.col("state").alias("t"))
        .unionByName(
            steps.filter(F.col("nxt").isNotNull()).select(
                F.col("state").alias("s"), F.col("nxt").alias("t")
            )
        )
        .unionByName(
            steps.filter(
                F.col("nxt").isNull() & (F.col("state") != "CONV")
            ).select(F.col("state").alias("s"), F.lit("DROP").alias("t"))
        )
    )
    cnt = trans.groupBy("s", "t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = cnt.groupBy("s").agg(F.sum("c").cast("long").alias("cs"))
    bt = cnt.join(tot, "s").select(
        "s", "t", (F.col("c").cast("double") / F.col("cs")).alias("p")
    )
    scen = spark.createDataFrame(
        [("none",), ("click",), ("error",), ("signup",), ("view",)],
        "scenario string",
    )
    st = bt.crossJoin(F.broadcast(scen)).filter(
        F.col("t") != F.col("scenario")
    )
    states = st.select("scenario", "s").distinct().transform(_ckpt)
    pc = st.filter(F.col("t") == "CONV").select("scenario", "s", "p")
    ce = st.filter(~F.col("t").isin("CONV", "DROP")).select(
        "scenario", "s", "t", "p"
    ).transform(_ckpt)
    v = states.withColumn("v", F.lit(0.0))
    for _ in range(8):
        contrib = (
            ce.join(
                v.select(
                    "scenario", F.col("s").alias("t"), F.col("v").alias("vt")
                ),
                ["scenario", "t"],
            )
            .groupBy("scenario", "s")
            .agg(F.sum(F.col("p") * F.col("vt")).alias("cv"))
        )
        v = (
            states.join(pc, ["scenario", "s"], "left")
            .join(contrib, ["scenario", "s"], "left")
            .select(
                "scenario",
                "s",
                (
                    F.coalesce(F.col("p"), F.lit(0.0))
                    + F.coalesce(F.col("cv"), F.lit(0.0))
                ).alias("v"),
            )
            .transform(_ckpt)
        )
    conv_prob = v.filter(F.col("s") == "START").select("scenario", "v")
    base = conv_prob.filter(F.col("scenario") == "none").select(
        F.col("v").alias("b")
    )
    rem = (
        conv_prob.filter(F.col("scenario") != "none")
        .crossJoin(F.broadcast(base))
        .select(
            F.col("scenario").alias("channel"),
            ((F.col("b") - F.col("v")) / F.col("b")).alias("removal"),
        )
    )
    tot_rem = rem.agg(F.sum("removal").alias("tr"))
    return rem.crossJoin(F.broadcast(tot_rem)).select(
        "channel",
        F.round("removal", 6).alias("removal_effect"),
        F.when(
            F.col("tr") > 0,
            F.floor(F.col("removal") * 1000000 / F.col("tr")),
        )
        .otherwise(0)
        .cast("long")
        .alias("attribution_ppm"),
    )


@query(
    "subsequence_pattern_support",
    oracle="""
    WITH seqs AS (
        SELECT user_id, list(event_type ORDER BY ts, event_id) AS t
        FROM events GROUP BY user_id
    ), n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM seqs
    ), types AS (
        SELECT DISTINCT event_type AS et FROM events
    ), cand AS (
        SELECT a.et AS step_a, b.et AS step_b FROM types a, types b
    ), hits AS (
        SELECT c.step_a, c.step_b, s.user_id,
               CASE WHEN list_position(s.t, c.step_a) IS NOT NULL
                     AND len(list_filter(
                           s.t[list_position(s.t, c.step_a) + 1:],
                           x -> x = c.step_b)) > 0
                    THEN 1 ELSE 0 END AS hit
        FROM cand c, seqs s
    )
    SELECT step_a, step_b,
           CAST(SUM(hit) AS BIGINT) AS n_users_containing,
           CAST(SUM(hit) * 1000000 // n_users AS BIGINT) AS support_ppm
    FROM hits, n
    GROUP BY step_a, step_b, n_users
    """,
)
def subsequence_pattern_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support (PrefixSpan's counting core for
    length-2 patterns): for every ordered pair of event types (a, b),
    the share of users whose journey contains a FOLLOWED EVENTUALLY by
    b — gap-tolerant subsequence semantics, not the adjacent-bigram
    view of the transition matrix or trigram paths. The first
    occurrence of `a` is provably optimal for pair containment, so
    the in-row check is array_position + a tail-slice membership test,
    O(len) per candidate with no position explode.

    Scale shape: one collect_list per user (journey-bounded arrays),
    then a broadcast |types|² candidate fan-out evaluated map-side by
    HOFs; the support census is one hash agg over (a, b). The
    user×candidate intermediate never shuffles.
    """
    ev = load_table(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list("
            "named_struct('ts', ts, 'eid', event_id, 'et', event_type))),"
            " x -> x.et)"
        ).alias("t")
    )
    seqs = _ckpt(seqs)  # shared fan-out relation
    n = seqs.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    types = ev.select(F.col("event_type").alias("et")).distinct()
    types = _ckpt(types)  # shared fan-out relation
    cand = (
        types.select(F.col("et").alias("step_a"))
        .crossJoin(types.select(F.col("et").alias("step_b")))
    )
    hits = seqs.crossJoin(F.broadcast(cand)).select(
        "step_a",
        "step_b",
        F.expr(
            "CASE WHEN array_position(t, step_a) > 0"
            " AND exists(slice(t, CAST(array_position(t, step_a) + 1 AS INT),"
            "            size(t)), x -> x = step_b)"
            " THEN 1 ELSE 0 END"
        ).alias("hit"),
    )
    return (
        hits.groupBy("step_a", "step_b")
        .agg(F.sum("hit").cast("long").alias("n_users_containing"))
        .crossJoin(F.broadcast(n))
        .select(
            "step_a",
            "step_b",
            "n_users_containing",
            F.expr("n_users_containing * 1000000L div n_users")
            .cast("long")
            .alias("support_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# wave 108: Good-Turing missing mass, Markov entropy rate
# ---------------------------------------------------------------------------


@query(
    "good_turing_missing_mass",
    oracle="""
    WITH tok AS (
        SELECT source,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents WHERE trim(text) <> ''
    ), cnt AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS r
        FROM tok GROUP BY source, w
    ), freq AS (
        SELECT source, r, CAST(COUNT(*) AS BIGINT) AS n_r
        FROM cnt GROUP BY source, r
    )
    SELECT source,
           CAST(SUM(n_r) AS BIGINT) AS vocab,
           CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
           CAST(COALESCE(MAX(CASE WHEN r = 1 THEN n_r END), 0) AS BIGINT)
               AS n_hapax,
           CAST(COALESCE(MAX(CASE WHEN r = 2 THEN n_r END), 0) AS BIGINT)
               AS n_dis,
           CAST(COALESCE(MAX(CASE WHEN r = 1 THEN n_r END), 0) * 1000000
                // SUM(r * n_r) AS BIGINT) AS missing_mass_ppm,
           ROUND(CASE WHEN COALESCE(MAX(CASE WHEN r = 1 THEN n_r END), 0) > 0
                      THEN 2.0 * COALESCE(MAX(CASE WHEN r = 2 THEN n_r END), 0)
                           / COALESCE(MAX(CASE WHEN r = 1 THEN n_r END), 0)
                      END, 6) AS gt_r1_star
    FROM freq GROUP BY source
    """,
)
def good_turing_missing_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing estimate of each source's UNSEEN vocabulary mass:
    the probability that the next token drawn is a brand-new word is
    N₁/N (hapax share), and the smoothed count for once-seen words is
    r* = 2·N₂/N₁ — the language-model smoothing diagnostic that says
    whether a corpus slice is lexically saturated (tiny missing mass)
    or still discovering its vocabulary (large). Completes the
    vocabulary-growth family: Zipf (static law), Heaps (growth curve),
    hapax ratio (raw count) — this is the probabilistic version those
    feed into.

    Exactness: the frequency-of-frequencies table is two exact hash
    aggs; missing mass is integer ppm; r* is one rounded ratio of
    exact BIGINTs.

    Scale shape: explode → (source, word) counts → (source, r) counts;
    the second agg collapses vocab-sized input to at most
    |distinct frequencies| rows per source. All map-side-combinable.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    tok = docs.select(
        "source", F.explode(ws_tokens(F.lower(F.col("text")))).alias("w")
    )
    cnt = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("r")
    )
    freq = cnt.groupBy("source", "r").agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    )
    n1 = F.coalesce(F.max(F.when(F.col("r") == 1, F.col("n_r"))), F.lit(0))
    n2 = F.coalesce(F.max(F.when(F.col("r") == 2, F.col("n_r"))), F.lit(0))
    return freq.groupBy("source").agg(
        F.sum("n_r").cast("long").alias("vocab"),
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n_tokens"),
        n1.cast("long").alias("n_hapax"),
        n2.cast("long").alias("n_dis"),
        F.expr(
            "coalesce(max(CASE WHEN r = 1 THEN n_r END), 0) * 1000000L"
            " div sum(r * n_r)"
        )
        .cast("long")
        .alias("missing_mass_ppm"),
        F.round(
            F.when(n1 > 0, 2.0 * n2.cast("double") / n1),
            6,
        ).alias("gt_r1_star"),
    )


@query(
    "markov_entropy_rate",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS s,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS t
        FROM events
    ), cnt AS (
        SELECT s, t, CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE t IS NOT NULL GROUP BY s, t
    ), tots AS (
        SELECT s, CAST(SUM(c) AS BIGINT) AS cs FROM cnt GROUP BY s
    ), grand AS (
        SELECT CAST(SUM(c) AS BIGINT) AS g FROM cnt
    ), rows_h AS (
        SELECT cnt.s, tots.cs,
               SUM(-(CAST(c AS DOUBLE) / cs)
                   * ln(CAST(c AS DOUBLE) / cs) / ln(2)) AS h_row
        FROM cnt JOIN tots USING (s) GROUP BY cnt.s, tots.cs
    )
    SELECT ROUND(SUM((CAST(cs AS DOUBLE) / g) * h_row), 6)
               AS entropy_rate_bits,
           ROUND(pow(2.0, SUM((CAST(cs AS DOUBLE) / g) * h_row)), 6)
               AS behavior_perplexity
    FROM rows_h, grand
    """,
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy RATE of user behavior: the plug-in estimate
    H = Σ_s π(s) · H(next | s) over the empirical event-type
    transition matrix, with π taken as each state's share of observed
    transitions — how many bits the NEXT action carries once you know
    the current one, and 2^H as the effective branching factor
    ("behavior perplexity"). The conditional upgrade of the marginal
    event-type entropy: the gap between them is exactly the
    information the current state gives about the next.

    Scale shape: one per-user lead window, one hash agg to the
    |types|² transition matrix; everything after is arithmetic on
    ≤25 rows. Round 6 absorbs the two engines' summation orders.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("t"),
    ).filter(F.col("t").isNotNull())
    cnt = seq.groupBy("s", "t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tots = cnt.groupBy("s").agg(F.sum("c").cast("long").alias("cs"))
    grand = cnt.agg(F.sum("c").cast("long").alias("g"))
    import math

    p = F.col("c").cast("double") / F.col("cs")
    rows_h = (
        cnt.join(F.broadcast(tots), "s")
        .groupBy("s", "cs")
        .agg(F.sum(-p * F.log(p) / math.log(2)).alias("h_row"))
    )
    return (
        rows_h.crossJoin(F.broadcast(grand))
        .agg(
            F.sum(
                (F.col("cs").cast("double") / F.col("g")) * F.col("h_row")
            ).alias("h")
        )
        .select(
            F.round("h", 6).alias("entropy_rate_bits"),
            F.round(F.pow(F.lit(2.0), F.col("h")), 6).alias(
                "behavior_perplexity"
            ),
        )
    )


# ---------------------------------------------------------------------------
# wave 109: functional-dependency audit, lognormal fit + GOF probes
# ---------------------------------------------------------------------------


@query(
    "functional_dependency_audit",
    oracle="""
    WITH cands AS (
        SELECT 'doc_id->lang' AS fd, CAST(doc_id AS VARCHAR) AS lhs,
               lang AS rhs
        FROM documents
        UNION ALL
        SELECT 'p_brand->p_type', p_brand, p_type FROM part
        UNION ALL
        SELECT 'p_type->p_brand', p_type, p_brand FROM part
        UNION ALL
        SELECT 'c_nationkey->c_mktsegment', CAST(c_nationkey AS VARCHAR),
               c_mktsegment
        FROM customer
    ), per_lhs AS (
        SELECT fd, lhs, CAST(COUNT(DISTINCT rhs) AS BIGINT) AS n_rhs,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM cands GROUP BY fd, lhs
    )
    SELECT fd,
           CAST(COUNT(*) AS BIGINT) AS n_lhs_values,
           CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_lhs,
           CAST(MAX(n_rhs) AS BIGINT) AS max_rhs_per_lhs,
           CAST(CASE WHEN SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0
                     THEN 1 ELSE 0 END AS BIGINT) AS holds
    FROM per_lhs GROUP BY fd
    """,
)
def functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery audit: for each candidate FD
    X→Y, count the X values that map to MORE than one Y — zero
    violators means the dependency holds in the data and is a
    candidate constraint / normalization opportunity; a handful of
    violators usually means dirty rows. The key dependency
    doc_id→lang is the positive control (holds by construction); the
    brand/type and nationkey/segment candidates genuinely fail — the
    audit separates them by evidence, not schema docs. Complements referential_integrity
    (inter-table) and data_expectations (declared row predicates)
    with the intra-table dependency dimension.

    Scale shape: each candidate is one hash agg keyed by (fd, lhs)
    with a distinct-count, then a |candidates|-row census; the union
    is map-side column projection. COUNT(DISTINCT) here is per-lhs
    (small groups), not global.
    """
    part = load_table(spark, sf_dir, "part")
    cust = load_table(spark, sf_dir, "customer")

    def cand(fd: str, df: DataFrame, lhs: str, rhs: str) -> DataFrame:
        return df.select(
            F.lit(fd).alias("fd"),
            F.col(lhs).cast("string").alias("lhs"),
            F.col(rhs).cast("string").alias("rhs"),
        )

    docs = load_table(spark, sf_dir, "documents")
    cands = (
        cand("doc_id->lang", docs, "doc_id", "lang")
        .unionByName(cand("p_brand->p_type", part, "p_brand", "p_type"))
        .unionByName(cand("p_type->p_brand", part, "p_type", "p_brand"))
        .unionByName(
            cand(
                "c_nationkey->c_mktsegment", cust, "c_nationkey", "c_mktsegment"
            )
        )
    )
    per_lhs = cands.groupBy("fd", "lhs").agg(
        F.countDistinct("rhs").cast("long").alias("n_rhs")
    )
    return per_lhs.groupBy("fd").agg(
        F.count(F.lit(1)).cast("long").alias("n_lhs_values"),
        F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_violating_lhs"),
        F.max("n_rhs").cast("long").alias("max_rhs_per_lhs"),
        F.when(
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0)) == 0, 1
        )
        .otherwise(0)
        .cast("long")
        .alias("holds"),
    )


@query(
    "lognormal_fit_gof",
    oracle="""
    WITH fit AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               AVG(ln(o_totalprice)) AS mu,
               stddev_pop(ln(o_totalprice)) AS sigma
        FROM orders GROUP BY o_orderpriority
    ), probes AS (
        SELECT * FROM (VALUES
            (0.1, -1.2815515655446004), (0.25, -0.6744897501960817),
            (0.5, 0.0), (0.75, 0.6744897501960817),
            (0.9, 1.2815515655446004)) z(p, z)
    ), q AS (
        SELECT f.o_orderpriority, f.n, f.mu, f.sigma, pr.p,
               exp(f.mu + f.sigma * pr.z) AS q_p
        FROM fit f, probes pr
    ), ecdf AS (
        SELECT q.o_orderpriority, q.p,
               CAST(SUM(CASE WHEN o.o_totalprice <= q.q_p THEN 1 ELSE 0 END)
                    AS DOUBLE) / ANY_VALUE(q.n) AS e
        FROM q JOIN orders o ON o.o_orderpriority = q.o_orderpriority
        GROUP BY q.o_orderpriority, q.p
    )
    SELECT f.o_orderpriority, f.n,
           ROUND(f.mu, 6) AS mu, ROUND(f.sigma, 6) AS sigma,
           ROUND((SELECT MAX(abs(e.e - e.p)) FROM ecdf e
                  WHERE e.o_orderpriority = f.o_orderpriority), 6)
               AS gof_max_dev
    FROM fit f
    """,
)
def lognormal_fit_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parametric distribution fitting with a goodness-of-fit probe:
    order totals per priority are fitted as lognormal by moment
    matching on the log scale (μ = mean ln x, σ = stddev_pop ln x),
    then the fit is CHECKED — the empirical CDF is evaluated at the
    five fitted quantiles exp(μ + σ·z_p) and the max |ECDF − p|
    deviation reported. A good lognormal fit keeps the deviation
    small at all probes; this is the 5-point KS discrepancy that
    costs two scans instead of a sort. The z_p constants are standard
    normal quantiles baked as literals on both engines.

    Scale shape: fit is one hash agg; the probe join fans each fact
    row to 5 probe comparisons within its own group (broadcast of
    |groups|×5 quantiles) and re-aggregates — map-side combinable,
    no sort, no global window. The subquery max is |groups|×5 rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    fit = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg(F.log("o_totalprice")).alias("mu"),
        F.stddev_pop(F.log("o_totalprice")).alias("sigma"),
    )
    probes = spark.createDataFrame(
        [
            (0.1, -1.2815515655446004),
            (0.25, -0.6744897501960817),
            (0.5, 0.0),
            (0.75, 0.6744897501960817),
            (0.9, 1.2815515655446004),
        ],
        "p double, z double",
    )
    q = fit.crossJoin(F.broadcast(probes)).select(
        "o_orderpriority",
        "n",
        "p",
        (F.exp(F.col("mu") + F.col("sigma") * F.col("z"))).alias("q_p"),
    )
    ecdf = (
        orders.select("o_orderpriority", "o_totalprice")
        .join(F.broadcast(q), "o_orderpriority")
        .groupBy("o_orderpriority", "p")
        .agg(
            (
                F.sum(
                    F.when(F.col("o_totalprice") <= F.col("q_p"), 1).otherwise(
                        0
                    )
                ).cast("double")
                / F.first("n")
            ).alias("e")
        )
    )
    dev = ecdf.groupBy("o_orderpriority").agg(
        F.max(F.abs(F.col("e") - F.col("p"))).alias("dev")
    )
    return fit.join(F.broadcast(dev), "o_orderpriority").select(
        "o_orderpriority",
        "n",
        F.round("mu", 6).alias("mu"),
        F.round("sigma", 6).alias("sigma"),
        F.round("dev", 6).alias("gof_max_dev"),
    )


# ---------------------------------------------------------------------------
# wave 110: Theil inequality decomposition, rolling-origin backtest
# ---------------------------------------------------------------------------


@query(
    "theil_index_decomposition",
    oracle="""
    WITH spend AS (
        SELECT o.o_custkey,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS x
        FROM orders o GROUP BY o.o_custkey
    ), tagged AS (
        SELECT n.n_name, s.x
        FROM spend s
        JOIN customer c ON c.c_custkey = s.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    ), gstat AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS tot,
               AVG(CAST(x AS DOUBLE)) AS mu
        FROM tagged
    ), grp AS (
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_g,
               AVG(CAST(x AS DOUBLE)) AS mu_g,
               SUM(CAST(x AS DOUBLE) * ln(CAST(x AS DOUBLE)))
                   / SUM(CAST(x AS DOUBLE))
                   - ln(AVG(CAST(x AS DOUBLE))) AS t_g
        FROM tagged GROUP BY n_name
    ), within AS (
        SELECT SUM((CAST(n_g AS DOUBLE) / n) * (mu_g / mu) * t_g) AS w
        FROM grp, gstat
    ), between_c AS (
        SELECT SUM((CAST(n_g AS DOUBLE) / n) * (mu_g / mu)
                   * ln(mu_g / mu)) AS b
        FROM grp, gstat
    )
    SELECT component, label, theil FROM (
        SELECT 'between' AS component, 'all' AS label,
               ROUND(b, 6) AS theil, 0 AS ord
        FROM between_c
        UNION ALL
        SELECT 'within', 'all', ROUND(w, 6), 1 FROM within
        UNION ALL
        SELECT 'total', 'all', ROUND(b + w, 6), 2 FROM between_c, within
        UNION ALL
        SELECT 'group', n_name, ROUND(t_g, 6), 3 FROM grp
    )
    """,
)
def theil_index_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality index of customer spend with its EXACT
    between/within-nation decomposition: T = Σ(n_g/n)(μ_g/μ)ln(μ_g/μ)
    + Σ(n_g/n)(μ_g/μ)T_g — the additively-decomposable member of the
    inequality family (Gini and Lorenz measure concentration but do
    not split across groups), answering "how much customer-spend
    inequality is BETWEEN nations vs WITHIN them". The per-group
    Theil collapses to T_g = Σx·ln x / Σx − ln μ_g, so each group
    needs only single-level moment sums (no nested aggregates); the
    reported total is built from the two components so the
    decomposition identity holds to the digit on both engines.

    Scale shape: per-customer spend is one fact hash agg (exact
    integer cents); the group pass is one agg to |nations| rows; the
    rest is 25-row algebra. Nothing wide after the first agg.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    spend = _ckpt(spend)  # shared fan-out relation
    tagged = (
        spend.join(c, spend.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", "x")
    )
    # |customers|-row labeled-spend relation fans out to the global and
    # per-nation moment passes (census: customer ×6 without it)
    tagged = _ckpt(tagged)
    glob = tagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg(F.col("x").cast("double")).alias("mu"),
    )
    glob = _ckpt(glob)  # 1-row global moments, consumed per component
    xd = F.col("x").cast("double")
    grp = tagged.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.avg(xd).alias("mu_g"),
        (
            F.sum(xd * F.log(xd)) / F.sum(xd) - F.log(F.avg(xd))
        ).alias("t_g"),
    )
    grp = _ckpt(grp)  # shared fan-out relation
    joined = grp.crossJoin(F.broadcast(glob))
    within = joined.agg(
        F.sum(
            (F.col("n_g").cast("double") / F.col("n"))
            * (F.col("mu_g") / F.col("mu"))
            * F.col("t_g")
        ).alias("w")
    )
    between_c = joined.agg(
        F.sum(
            (F.col("n_g").cast("double") / F.col("n"))
            * (F.col("mu_g") / F.col("mu"))
            * F.log(F.col("mu_g") / F.col("mu"))
        ).alias("b")
    )
    bw = between_c.crossJoin(F.broadcast(within))
    return (
        bw.select(
            F.lit("between").alias("component"),
            F.lit("all").alias("label"),
            F.round("b", 6).alias("theil"),
        )
        .unionByName(
            bw.select(
                F.lit("within").alias("component"),
                F.lit("all").alias("label"),
                F.round("w", 6).alias("theil"),
            )
        )
        .unionByName(
            bw.select(
                F.lit("total").alias("component"),
                F.lit("all").alias("label"),
                F.round(F.col("b") + F.col("w"), 6).alias("theil"),
            )
        )
        .unionByName(
            grp.select(
                F.lit("group").alias("component"),
                F.col("n_name").alias("label"),
                F.round("t_g", 6).alias("theil"),
            )
        )
    )


@query(
    "rolling_origin_backtest",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               ROUND(SUM(value), 6) AS y
        FROM events GROUP BY day
    ), horizon AS (
        SELECT MAX(day) AS max_day FROM daily
    ), origins AS (
        SELECT max_day - off AS origin
        FROM horizon, (VALUES (21), (14), (7)) o(off)
    ), test AS (
        SELECT o.origin, d.day, d.y,
               o.origin - 6 + ((d.day - o.origin - 1) % 7) AS ref_day
        FROM origins o JOIN daily d
          ON d.day > o.origin AND d.day <= o.origin + 7
    ), scored AS (
        SELECT t.origin, t.day, t.y, r.y AS yhat
        FROM test t JOIN daily r ON r.day = t.ref_day
    )
    SELECT origin, CAST(COUNT(*) AS BIGINT) AS n_test_days,
           ROUND(AVG(abs(y - yhat)), 6) AS mae,
           ROUND(AVG(2 * abs(y - yhat) / (abs(y) + abs(yhat))), 6) AS smape
    FROM scored GROUP BY origin
    """,
)
def rolling_origin_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest — the time-series cross-validation
    protocol that random k-fold gets WRONG (it leaks the future into
    training): three forecast origins a week apart, each scoring a
    seasonal-naive forecast (same weekday of the last pre-origin
    week) on the next 7 days, reporting MAE and sMAPE per origin.
    Where smape_seasonal_naive evaluates one whole-series fit, this
    measures how accuracy DRIFTS as the origin advances — the
    protocol you need before trusting any forecast in production.

    Determinism: daily totals round to 6 before scoring; day
    arithmetic is exact integers; the weekday mapping
    origin−6+((d−origin−1) mod 7) is pure integer math (mod of a
    positive argument, identical in both dialects).

    Scale shape: fact → |days| agg once; origins fan out as a
    broadcast 3-row join; scoring self-joins the days-bounded daily
    relation. Nothing fact-sized touches a window.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    daily = ev.groupBy(epoch_day("ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("y")
    )
    horizon = daily.agg(F.max("day").alias("max_day"))
    offs = spark.createDataFrame([(21,), (14,), (7,)], "off int")
    origins = horizon.crossJoin(F.broadcast(offs)).select(
        (F.col("max_day") - F.col("off")).alias("origin")
    )
    test = daily.join(
        F.broadcast(origins),
        (F.col("day") > F.col("origin"))
        & (F.col("day") <= F.col("origin") + 7),
    ).select(
        "origin",
        "day",
        "y",
        (
            F.col("origin") - 6 + ((F.col("day") - F.col("origin") - 1) % 7)
        ).alias("ref_day"),
    )
    ref = daily.select(F.col("day").alias("ref_day"), F.col("y").alias("yhat"))
    scored = test.join(ref, "ref_day")
    return scored.groupBy("origin").agg(
        F.count(F.lit(1)).cast("long").alias("n_test_days"),
        F.round(F.avg(F.abs(F.col("y") - F.col("yhat"))), 6).alias("mae"),
        F.round(
            F.avg(
                2
                * F.abs(F.col("y") - F.col("yhat"))
                / (F.abs(F.col("y")) + F.abs(F.col("yhat")))
            ),
            6,
        ).alias("smape"),
    )


# ---------------------------------------------------------------------------
# wave 111: Misra-Gries heavy hitters, small-files compaction planner
# ---------------------------------------------------------------------------


@query("misra_gries_heavy_hitters")
def misra_gries_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy-hitter candidates over the document token
    stream with k=50 counters — the DETERMINISTIC-guarantee sketch
    beside Count-Min (probabilistic overestimate) and exact top-k
    (full key-space shuffle): every token with true frequency above
    the additive error bound is guaranteed in the output, and each
    reported count is a certified lower bound. Partition summaries
    hold k counters of state and MERGE by pointwise addition plus one
    decrement, so the shuffle carries |partitions|·k candidate rows —
    independent of vocabulary size. Rows-only by design: the
    candidate SET depends on partition layout; the containment
    guarantee does not (pinned against exact counts in
    tests/test_wave99s.py).

    See operators/sketches.py misra_gries for the error analysis.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens
    from pyspark_movie_recommender_spark.operators.sketches import misra_gries

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(ws_tokens(F.lower(F.col("text")))).alias("w")
    )
    return misra_gries(tok, "w")


@query(
    "compaction_plan_documents",
    oracle="""
    WITH files AS (
        SELECT source, lang, CAST(SUM(n_chars) AS BIGINT) AS bytes
        FROM documents GROUP BY source, lang
    )
    SELECT source, lang, bytes,
           CAST((SUM(bytes) OVER (PARTITION BY source ORDER BY lang
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - bytes) // 262144 AS BIGINT) AS out_file
    FROM files
    """,
)
def compaction_plan_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction planner (the OPTIMIZE/bin-packing step of
    table maintenance): each (source, lang) slice is a "file" of
    sum(n_chars) bytes; slices are packed IN ORDER into ~256 KiB
    output files by assigning each to bin ⌊cum_bytes_before/target⌋ —
    the one-pass next-fit packing that keeps every output within
    [target, target + max_input) bytes and never reorders data
    (preserving clustering). The physical-layout planning primitive
    beside zorder_layout_orders (clustering) and
    join_size_estimate (sizing).

    Scale shape: the file inventory is one hash agg (at real scale
    this reads table metadata, not data — rows are per-file, tiny);
    the packing cumsum windows per source over file-count-bounded
    partitions. Pure integer arithmetic, hash-exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    files = docs.groupBy("source", "lang").agg(
        F.sum("n_chars").cast("long").alias("bytes")
    )
    return files.select(
        "source",
        "lang",
        "bytes",
        F.expr(
            "(sum(bytes) OVER (PARTITION BY source ORDER BY lang"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " - bytes) div 262144"
        )
        .cast("long")
        .alias("out_file"),
    )


# ---------------------------------------------------------------------------
# wave 112: randomized response, leakage-safe label construction
# ---------------------------------------------------------------------------


@query(
    "randomized_response_estimate",
    oracle="""
    WITH flags AS (
        SELECT c_custkey,
               CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS truth,
               ((c_custkey * 2654435761) % 4294967296) % 4 AS coin
        FROM customer
    ), reported AS (
        SELECT truth,
               CASE WHEN coin < 3 THEN truth ELSE 1 - truth END AS answer
        FROM flags
    ), c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(truth) AS BIGINT) AS k_true,
               CAST(SUM(answer) AS BIGINT) AS k_ans
        FROM reported
    )
    SELECT n, k_true, k_ans,
           ROUND(CAST(k_ans AS DOUBLE) / n, 6) AS raw_rate,
           ROUND((CAST(k_ans AS DOUBLE) / n - 0.25) / 0.5, 6)
               AS debiased_rate,
           ROUND(CAST(k_true AS DOUBLE) / n, 6) AS true_rate,
           ROUND(abs((CAST(k_ans AS DOUBLE) / n - 0.25) / 0.5
                     - CAST(k_true AS DOUBLE) / n), 6) AS abs_error
    FROM c
    """,
)
def randomized_response_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warner's randomized response — the local-DP collection mechanism:
    each customer reports their sensitive bit (negative balance)
    truthfully with probability p=3/4 and flipped otherwise, and the
    aggregate debiases via π̂ = (rate − (1−p))/(2p−1). No row's true
    bit is inferable from its report (plausible deniability ln3-LDP),
    yet the population rate survives. The mechanism-side complement to
    the auditing queries (k-anonymity, l-diversity, DP noisy counts):
    those check a release, this CONSTRUCTS one. The "coin" is the
    Knuth-hash of the key so both engines flip identically — swap for
    a real RNG in production; the estimator algebra is unchanged.

    Scale shape: pure map-side bit arithmetic and one census agg.
    """
    cust = load_table(spark, sf_dir, "customer")
    flags = cust.select(
        F.when(F.col("c_acctbal") < 0, 1).otherwise(0).alias("truth"),
        (((F.col("c_custkey") * 2654435761) % 4294967296) % 4).alias("coin"),
    )
    reported = flags.select(
        "truth",
        F.when(F.col("coin") < 3, F.col("truth"))
        .otherwise(1 - F.col("truth"))
        .alias("answer"),
    )
    c = reported.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("truth").cast("long").alias("k_true"),
        F.sum("answer").cast("long").alias("k_ans"),
    )
    raw = F.col("k_ans").cast("double") / F.col("n")
    debiased = (raw - 0.25) / 0.5
    true_rate = F.col("k_true").cast("double") / F.col("n")
    return c.select(
        "n",
        "k_true",
        "k_ans",
        F.round(raw, 6).alias("raw_rate"),
        F.round(debiased, 6).alias("debiased_rate"),
        F.round(true_rate, 6).alias("true_rate"),
        F.round(F.abs(debiased - true_rate), 6).alias("abs_error"),
    )


@query(
    "leakage_safe_training_labels",
    oracle="""
    WITH bounds AS (
        SELECT MAX(CAST(epoch_us(ts) // 86400000000 AS BIGINT)) - 14
               AS snap_day
        FROM events
    ), pts AS (
        SELECT user_id, event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        FROM events
    ), feats AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events_hist,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchases_hist,
               CAST(MIN(snap_day - day) AS BIGINT) AS days_since_last
        FROM pts, bounds WHERE day <= snap_day
        GROUP BY user_id
    ), labels AS (
        SELECT DISTINCT user_id, 1 AS label
        FROM pts, bounds
        WHERE day > snap_day AND day <= snap_day + 14
          AND event_type = 'purchase'
    )
    SELECT f.user_id, f.n_events_hist, f.n_purchases_hist,
           f.days_since_last,
           CAST(COALESCE(l.label, 0) AS BIGINT) AS label
    FROM feats f LEFT JOIN labels l ON f.user_id = l.user_id
    """,
)
def leakage_safe_training_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe supervised-label construction — the snapshot/horizon
    pattern every churn/propensity training set needs: pick a snapshot
    time T (14 days before the horizon so every user has a full label
    window), compute features STRICTLY from events ≤ T (history
    counts, recency), and the label STRICTLY from (T, T+14]
    (purchased in the horizon). Users with no pre-snapshot history are
    excluded (no features), users with no horizon activity get label
    0 — the construction split_leakage_audit verifies after the fact,
    done correctly by construction here.

    Scale shape: one tagging pass, one per-user feature agg, one
    distinct label set, one left join on user_id — all hash-partition
    on the same key, so AQE coalesces into a single co-partitioned
    pipeline. The snapshot bound is a broadcast scalar.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    pts = ev.select("user_id", "event_type", epoch_day("ts").alias("day"))
    pts = _ckpt(pts)  # shared fan-out relation
    bounds = pts.agg((F.max("day") - 14).alias("snap_day"))
    tagged = pts.crossJoin(F.broadcast(bounds))
    feats = (
        tagged.filter(F.col("day") <= F.col("snap_day"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events_hist"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("n_purchases_hist"),
            F.min(F.col("snap_day") - F.col("day"))
            .cast("long")
            .alias("days_since_last"),
        )
    )
    labels = (
        tagged.filter(
            (F.col("day") > F.col("snap_day"))
            & (F.col("day") <= F.col("snap_day") + 14)
            & (F.col("event_type") == "purchase")
        )
        .select("user_id")
        .distinct()
        .withColumn("label", F.lit(1))
    )
    return feats.join(labels, "user_id", "left").select(
        "user_id",
        "n_events_hist",
        "n_purchases_hist",
        "days_since_last",
        F.coalesce(F.col("label"), F.lit(0)).cast("long").alias("label"),
    )


# ---------------------------------------------------------------------------
# wave 113: 1-D Wasserstein drift, Brown-Forsythe variance test
# ---------------------------------------------------------------------------


@query(
    "wasserstein_value_drift",
    oracle="""
    WITH pts AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
               CAST(ROUND(o_totalprice) AS BIGINT) AS v
        FROM orders
    ), bounds AS (
        SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM pts
    ), tagged AS (
        SELECT CASE WHEN day < mid THEN 0 ELSE 1 END AS period, v
        FROM pts, bounds
    ), hist AS (
        SELECT v,
               CAST(SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c0,
               CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1
        FROM tagged GROUP BY v
    ), tot AS (
        SELECT CAST(SUM(c0) AS BIGINT) AS n0, CAST(SUM(c1) AS BIGINT) AS n1
        FROM hist
    ), cum AS (
        SELECT v,
               SUM(c0) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f0,
               SUM(c1) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
               LEAD(v) OVER (ORDER BY v) AS v_next
        FROM hist
    )
    SELECT n0, n1,
           ROUND(SUM(abs(CAST(f0 AS DOUBLE) / n0 - CAST(f1 AS DOUBLE) / n1)
                     * (v_next - v)), 4) AS w1_distance,
           ROUND(MAX(abs(CAST(f0 AS DOUBLE) / n0 - CAST(f1 AS DOUBLE) / n1)),
                 6) AS ks_distance
    FROM cum, tot WHERE v_next IS NOT NULL
    GROUP BY n0, n1
    """,
)
def wasserstein_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein (earth-mover) distance between the
    first-half and second-half order-value distributions:
    W₁ = ∫|F₀ − F₁| dv over the union support, computed as the
    CDF-gap × support-gap sum on the integer-dollar value histogram —
    the MAGNITUDE-aware drift measure the family lacked: KS reports
    the worst vertical gap (reported here too, as a cross-check
    against ks_drift), PSI needs arbitrary bins, CvM ranks; W₁ alone
    says "the typical order moved $X". Exact in 1-D — no Sinkhorn
    approximation needed.

    Scale shape: facts collapse to the value histogram (one hash agg);
    the CDF windows run over |distinct dollar values| rows. On a truly
    continuous measure, pre-bucket the grid (cents→dollars here) to
    bound the support — the knob is explicit, not hidden in bin
    defaults.
    """
    o = load_table(spark, sf_dir, "orders")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    pts = o.select(
        epoch_day("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice")).cast("long").alias("v"),
    )
    bounds = pts.agg(F.expr("(min(day) + max(day)) div 2").alias("mid"))
    tagged = pts.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("day") < F.col("mid"), 0).otherwise(1).alias("period"),
        "v",
    )
    hist = tagged.groupBy("v").agg(
        F.sum(F.when(F.col("period") == 0, 1).otherwise(0))
        .cast("long")
        .alias("c0"),
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
    )
    hist = _ckpt(hist)  # shared fan-out relation
    tot = hist.agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
    )
    w = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "v",
        F.sum("c0").over(w).alias("f0"),
        F.sum("c1").over(w).alias("f1"),
        F.lead("v").over(Window.orderBy("v")).alias("v_next"),
    )
    gap = F.abs(
        F.col("f0").cast("double") / F.col("n0")
        - F.col("f1").cast("double") / F.col("n1")
    )
    return (
        cum.filter(F.col("v_next").isNotNull())
        .crossJoin(F.broadcast(tot))
        .groupBy("n0", "n1")
        .agg(
            F.round(F.sum(gap * (F.col("v_next") - F.col("v"))), 4).alias(
                "w1_distance"
            ),
            F.round(F.max(gap), 6).alias("ks_distance"),
        )
    )


@query(
    "brown_forsythe_variance_test",
    oracle="""
    WITH meds AS (
        SELECT o_orderpriority,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)
                   AS med
        FROM orders GROUP BY o_orderpriority
    ), z AS (
        SELECT o.o_orderpriority, abs(o.o_totalprice - m.med) AS z
        FROM orders o JOIN meds m USING (o_orderpriority)
    ), grp AS (
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_g,
               SUM(z) AS s_g, SUM(z * z) AS ss_g
        FROM z GROUP BY o_orderpriority
    ), tot AS (
        SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
               SUM(s_g) AS s
        FROM grp
    )
    SELECT n, k,
           ROUND((CAST(n - k AS DOUBLE) / (k - 1))
                 * (SELECT SUM(n_g * (s_g/n_g - s/n) * (s_g/n_g - s/n))
                    FROM grp, tot)
                 / (SELECT SUM(ss_g - s_g*s_g/n_g) FROM grp), 6)
               AS f_statistic
    FROM tot
    """,
)
def brown_forsythe_variance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test for equality of SPREAD across groups: a
    one-way ANOVA F on the absolute deviations from each group's
    MEDIAN, z = |x − med_g| — the robust variance-homogeneity check
    (Levene with medians) that should gate any pooled-variance
    analysis (the two-proportion z, the t-family, ANOVA itself). Mean
    tests say nothing when groups differ in spread, not location —
    this is the test for exactly that case.

    Determinism: group medians via percentile_disc pick actual data
    values identically on both engines; F comes from single-level
    moment sums of z per group, rounded to 6.

    Scale shape: medians per group (sort-based within group), one
    broadcast join of the |groups| medians back onto the facts, one
    moment agg per group — the same two-scan shape as
    lognormal_fit_gof. Nothing global-sorted.
    """
    orders = load_table(spark, sf_dir, "orders")
    meds = orders.groupBy("o_orderpriority").agg(
        F.expr(
            "percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("med")
    )
    z = orders.join(F.broadcast(meds), "o_orderpriority").select(
        "o_orderpriority",
        F.abs(F.col("o_totalprice") - F.col("med")).alias("z"),
    )
    grp = z.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("z").alias("s_g"),
        F.sum(F.col("z") * F.col("z")).alias("ss_g"),
    )
    grp = _ckpt(grp)  # shared fan-out relation
    tot = grp.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("s_g").alias("s"),
    )
    tot = _ckpt(tot)  # shared fan-out relation
    joined = grp.crossJoin(F.broadcast(tot))
    between = joined.agg(
        F.sum(
            F.col("n_g")
            * (F.col("s_g") / F.col("n_g") - F.col("s") / F.col("n"))
            * (F.col("s_g") / F.col("n_g") - F.col("s") / F.col("n"))
        ).alias("b")
    )
    within = joined.agg(
        F.sum(
            F.col("ss_g") - F.col("s_g") * F.col("s_g") / F.col("n_g")
        ).alias("wss")
    )
    return (
        tot.crossJoin(F.broadcast(between))
        .crossJoin(F.broadcast(within))
        .select(
            "n",
            "k",
            F.round(
                ((F.col("n") - F.col("k")).cast("double") / (F.col("k") - 1))
                * F.col("b")
                / F.col("wss"),
                6,
            ).alias("f_statistic"),
        )
    )


# ---------------------------------------------------------------------------
# wave 114: Fellegi-Sunter EM linkage weights, variance-ratio test
# ---------------------------------------------------------------------------


@query(
    "fellegi_sunter_em_linkage",
    oracle="""
    WITH pairs AS (
        SELECT CASE WHEN a.c_mktsegment = b.c_mktsegment
                    THEN 1 ELSE 0 END AS g1,
               CASE WHEN abs(a.c_acctbal - b.c_acctbal) < 500
                    THEN 1 ELSE 0 END AS g2,
               CASE WHEN (a.c_acctbal >= 0) = (b.c_acctbal >= 0)
                    THEN 1 ELSE 0 END AS g3
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    ), pat AS (
        SELECT g1, g2, g3, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs GROUP BY g1, g2, g3
    ), p0 AS (
        SELECT 0.1 AS p, 0.9 AS m1, 0.9 AS m2, 0.9 AS m3,
               0.1 AS u1, 0.1 AS u2, 0.1 AS u3
    ), e1 AS (
        SELECT g1, g2, g3, n,
               (p * (CASE WHEN g1=1 THEN m1 ELSE 1-m1 END)
                  * (CASE WHEN g2=1 THEN m2 ELSE 1-m2 END)
                  * (CASE WHEN g3=1 THEN m3 ELSE 1-m3 END))
               / (p * (CASE WHEN g1=1 THEN m1 ELSE 1-m1 END)
                    * (CASE WHEN g2=1 THEN m2 ELSE 1-m2 END)
                    * (CASE WHEN g3=1 THEN m3 ELSE 1-m3 END)
                  + (1-p) * (CASE WHEN g1=1 THEN u1 ELSE 1-u1 END)
                          * (CASE WHEN g2=1 THEN u2 ELSE 1-u2 END)
                          * (CASE WHEN g3=1 THEN u3 ELSE 1-u3 END)) AS w
        FROM pat, p0
    ), p1 AS (
        SELECT SUM(n*w)/SUM(n) AS p,
               SUM(n*w*g1)/SUM(n*w) AS m1, SUM(n*w*g2)/SUM(n*w) AS m2,
               SUM(n*w*g3)/SUM(n*w) AS m3,
               SUM(n*(1-w)*g1)/SUM(n*(1-w)) AS u1,
               SUM(n*(1-w)*g2)/SUM(n*(1-w)) AS u2,
               SUM(n*(1-w)*g3)/SUM(n*(1-w)) AS u3
        FROM e1
    ), e2 AS (
        SELECT g1, g2, g3, n,
               (p * (CASE WHEN g1=1 THEN m1 ELSE 1-m1 END)
                  * (CASE WHEN g2=1 THEN m2 ELSE 1-m2 END)
                  * (CASE WHEN g3=1 THEN m3 ELSE 1-m3 END))
               / (p * (CASE WHEN g1=1 THEN m1 ELSE 1-m1 END)
                    * (CASE WHEN g2=1 THEN m2 ELSE 1-m2 END)
                    * (CASE WHEN g3=1 THEN m3 ELSE 1-m3 END)
                  + (1-p) * (CASE WHEN g1=1 THEN u1 ELSE 1-u1 END)
                          * (CASE WHEN g2=1 THEN u2 ELSE 1-u2 END)
                          * (CASE WHEN g3=1 THEN u3 ELSE 1-u3 END)) AS w
        FROM pat, p1
    ), p2 AS (
        SELECT SUM(n*w)/SUM(n) AS p,
               SUM(n*w*g1)/SUM(n*w) AS m1, SUM(n*w*g2)/SUM(n*w) AS m2,
               SUM(n*w*g3)/SUM(n*w) AS m3,
               SUM(n*(1-w)*g1)/SUM(n*(1-w)) AS u1,
               SUM(n*(1-w)*g2)/SUM(n*(1-w)) AS u2,
               SUM(n*(1-w)*g3)/SUM(n*(1-w)) AS u3
        FROM e2
    ), e3 AS (
        SELECT g1, g2, g3, n,
               (p * (CASE WHEN g1=1 THEN m1 ELSE 1-m1 END)
                  * (CASE WHEN g2=1 THEN m2 ELSE 1-m2 END)
                  * (CASE WHEN g3=1 THEN m3 ELSE 1-m3 END))
               / (p * (CASE WHEN g1=1 THEN m1 ELSE 1-m1 END)
                    * (CASE WHEN g2=1 THEN m2 ELSE 1-m2 END)
                    * (CASE WHEN g3=1 THEN m3 ELSE 1-m3 END)
                  + (1-p) * (CASE WHEN g1=1 THEN u1 ELSE 1-u1 END)
                          * (CASE WHEN g2=1 THEN u2 ELSE 1-u2 END)
                          * (CASE WHEN g3=1 THEN u3 ELSE 1-u3 END)) AS w
        FROM pat, p2
    ), p3 AS (
        SELECT SUM(n*w)/SUM(n) AS p,
               SUM(n*w*g1)/SUM(n*w) AS m1, SUM(n*w*g2)/SUM(n*w) AS m2,
               SUM(n*w*g3)/SUM(n*w) AS m3,
               SUM(n*(1-w)*g1)/SUM(n*(1-w)) AS u1,
               SUM(n*(1-w)*g2)/SUM(n*(1-w)) AS u2,
               SUM(n*(1-w)*g3)/SUM(n*(1-w)) AS u3
        FROM e3
    )
    SELECT g1, g2, g3, n,
           ROUND((p * (CASE WHEN g1=1 THEN m1 ELSE 1-m1 END)
                    * (CASE WHEN g2=1 THEN m2 ELSE 1-m2 END)
                    * (CASE WHEN g3=1 THEN m3 ELSE 1-m3 END))
                 / (p * (CASE WHEN g1=1 THEN m1 ELSE 1-m1 END)
                      * (CASE WHEN g2=1 THEN m2 ELSE 1-m2 END)
                      * (CASE WHEN g3=1 THEN m3 ELSE 1-m3 END)
                    + (1-p) * (CASE WHEN g1=1 THEN u1 ELSE 1-u1 END)
                            * (CASE WHEN g2=1 THEN u2 ELSE 1-u2 END)
                            * (CASE WHEN g3=1 THEN u3 ELSE 1-u3 END)), 6)
               AS posterior_match,
           ROUND(ln(((CASE WHEN g1=1 THEN m1 ELSE 1-m1 END)
                     * (CASE WHEN g2=1 THEN m2 ELSE 1-m2 END)
                     * (CASE WHEN g3=1 THEN m3 ELSE 1-m3 END))
                    / ((CASE WHEN g1=1 THEN u1 ELSE 1-u1 END)
                       * (CASE WHEN g2=1 THEN u2 ELSE 1-u2 END)
                       * (CASE WHEN g3=1 THEN u3 ELSE 1-u3 END))), 6)
               AS match_weight
    FROM pat, p3
    """,
)
def fellegi_sunter_em_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage with EM-estimated
    m/u probabilities: nation-blocked customer pairs are reduced to
    their field-AGREEMENT PATTERNS (segment equality, balance within
    500, balance-sign equality → 8 patterns), and three EM rounds
    estimate each field's m (agreement prob among matches) and u
    (among non-matches) without any labeled pairs — yielding the
    classic log2-style match weight ln(P(γ|M)/P(γ|U)) and posterior
    per pattern. The STATISTICAL core of entity resolution that the
    deterministic entity_resolution_pipeline scores by hand-set
    weights; here the data chooses them. Oracle = the same three EM
    rounds unrolled as chained CTEs from the same (0.1, 0.9, 0.1)
    init.

    Scale shape: the only fact-sized steps are the blocked self-join
    (bounded by block sizes, the standard ER discipline) and the
    8-row pattern census; EM then iterates entirely on 8 rows × a
    1-row parameter relation. This is why FS-EM scales: the E/M steps
    never revisit pairs, only patterns.
    """
    cust = load_table(spark, sf_dir, "customer")
    a = cust.select(
        F.col("c_custkey").alias("ka"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("sa"),
        F.col("c_acctbal").alias("ba"),
    )
    b = cust.select(
        F.col("c_custkey").alias("kb"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("sb"),
        F.col("c_acctbal").alias("bb"),
    )
    pairs = a.join(b, "nk").filter(F.col("ka") < F.col("kb"))
    pat = (
        pairs.select(
            F.when(F.col("sa") == F.col("sb"), 1).otherwise(0).alias("g1"),
            F.when(F.abs(F.col("ba") - F.col("bb")) < 500, 1)
            .otherwise(0)
            .alias("g2"),
            F.when((F.col("ba") >= 0) == (F.col("bb") >= 0), 1)
            .otherwise(0)
            .alias("g3"),
        )
        .groupBy("g1", "g2", "g3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(_ckpt)
    )
    params = spark.createDataFrame(
        [(0.1, 0.9, 0.9, 0.9, 0.1, 0.1, 0.1)],
        "p double, m1 double, m2 double, m3 double,"
        " u1 double, u2 double, u3 double",
    )

    def lik(prefix: str):
        return (
            F.when(F.col("g1") == 1, F.col(f"{prefix}1")).otherwise(
                1 - F.col(f"{prefix}1")
            )
            * F.when(F.col("g2") == 1, F.col(f"{prefix}2")).otherwise(
                1 - F.col(f"{prefix}2")
            )
            * F.when(F.col("g3") == 1, F.col(f"{prefix}3")).otherwise(
                1 - F.col(f"{prefix}3")
            )
        )

    for _ in range(3):
        e = pat.crossJoin(F.broadcast(params)).select(
            "g1",
            "g2",
            "g3",
            "n",
            (
                F.col("p")
                * lik("m")
                / (F.col("p") * lik("m") + (1 - F.col("p")) * lik("u"))
            ).alias("w"),
        )
        nw = F.sum(F.col("n") * F.col("w"))
        nv = F.sum(F.col("n") * (1 - F.col("w")))
        params = e.agg(
            (nw / F.sum("n")).alias("p"),
            (F.sum(F.col("n") * F.col("w") * F.col("g1")) / nw).alias("m1"),
            (F.sum(F.col("n") * F.col("w") * F.col("g2")) / nw).alias("m2"),
            (F.sum(F.col("n") * F.col("w") * F.col("g3")) / nw).alias("m3"),
            (F.sum(F.col("n") * (1 - F.col("w")) * F.col("g1")) / nv).alias(
                "u1"
            ),
            (F.sum(F.col("n") * (1 - F.col("w")) * F.col("g2")) / nv).alias(
                "u2"
            ),
            (F.sum(F.col("n") * (1 - F.col("w")) * F.col("g3")) / nv).alias(
                "u3"
            ),
        ).transform(_ckpt)
    return pat.crossJoin(F.broadcast(params)).select(
        "g1",
        "g2",
        "g3",
        "n",
        F.round(
            F.col("p")
            * lik("m")
            / (F.col("p") * lik("m") + (1 - F.col("p")) * lik("u")),
            6,
        ).alias("posterior_match"),
        F.round(F.log(lik("m") / lik("u")), 6).alias("match_weight"),
    )


@query(
    "variance_ratio_random_walk",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               ROUND(SUM(value), 6) AS y
        FROM events GROUP BY day
    ), diffs AS (
        SELECT day, y - LAG(y) OVER (ORDER BY day) AS r
        FROM daily
    ), q5 AS (
        SELECT day, r,
               SUM(r) OVER (ORDER BY day
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS r5,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
        FROM diffs WHERE r IS NOT NULL
    ), v1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(r*r)/COUNT(*) - (SUM(r)/COUNT(*))*(SUM(r)/COUNT(*)) AS v
        FROM q5
    ), v5 AS (
        SELECT SUM(r5*r5)/COUNT(*) - (SUM(r5)/COUNT(*))*(SUM(r5)/COUNT(*))
                   AS v
        FROM q5 WHERE i >= 5
    )
    SELECT v1.n AS n_diffs,
           ROUND(v1.v, 6) AS var_1,
           ROUND(v5.v, 6) AS var_5,
           ROUND(v5.v / (5 * v1.v), 6) AS variance_ratio
    FROM v1, v5
    """,
)
def variance_ratio_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio diagnostic: is the daily event-value
    series a random walk? Under the null, the variance of 5-day
    overlapping changes equals 5× the one-day-change variance, so
    VR = Var(r₅)/(5·Var(r₁)) ≈ 1; VR > 1 means momentum (positive
    autocorrelation of increments), VR < 1 mean-reversion. The
    INCREMENT-domain complement to ACF (levels), CUSUM (level
    shifts), and the runs test (sign patterns).

    Determinism: daily sums round to 6; differences, overlapping
    5-sums, and population variances are fixed dags over them,
    rounded to 6.

    Scale shape: facts collapse to |days| rows in one agg; the lag,
    the rolling 5-sum, and both variances run on the days-bounded
    series. Nothing fact-sized is ordered.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    daily = ev.groupBy(epoch_day("ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("y")
    )
    wd = Window.orderBy("day")
    diffs = daily.select(
        "day", (F.col("y") - F.lag("y").over(wd)).alias("r")
    ).filter(F.col("r").isNotNull())
    q5 = diffs.select(
        "r",
        F.sum("r").over(wd.rowsBetween(-4, 0)).alias("r5"),
        F.row_number().over(wd).cast("long").alias("i"),
    )
    v1 = q5.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            F.sum(F.col("r") * F.col("r")) / F.count(F.lit(1))
            - (F.sum("r") / F.count(F.lit(1)))
            * (F.sum("r") / F.count(F.lit(1)))
        ).alias("v"),
    )
    v5 = q5.filter(F.col("i") >= 5).agg(
        (
            F.sum(F.col("r5") * F.col("r5")) / F.count(F.lit(1))
            - (F.sum("r5") / F.count(F.lit(1)))
            * (F.sum("r5") / F.count(F.lit(1)))
        ).alias("v")
    )
    return v1.crossJoin(F.broadcast(v5.withColumnRenamed("v", "v5"))).select(
        F.col("n").alias("n_diffs"),
        F.round(F.col("v"), 6).alias("var_1"),
        F.round(F.col("v5"), 6).alias("var_5"),
        F.round(F.col("v5") / (5 * F.col("v")), 6).alias("variance_ratio"),
    )


# ---------------------------------------------------------------------------
# wave 115: foreachBatch CDC upsert stream
# ---------------------------------------------------------------------------


@query("streaming_cdc_upsert")
def streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch MERGE-style CDC upsert (streaming/jobs.py
    cdc_upsert_stream): per-user last-writer-wins state accumulated
    across micro-batches with an associative max_by merge, so the
    final relation is independent of batch boundaries. Rows-only by
    design (streaming); the stream≡batch equivalence test pins it to
    the same last-event-per-user expression the oracle-checked
    cdc_latest_state family uses.
    """
    from pyspark_movie_recommender_spark.streaming.jobs import cdc_upsert_stream

    return cdc_upsert_stream(spark, sf_dir, query_name="q_cdc_upsert")


# ---------------------------------------------------------------------------
# wave 117: polymorphic UDTF in the registry, approx_top_k, LISTAGG
# ---------------------------------------------------------------------------


@query(
    "udtf_kv_columns_events",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k
    FROM events WHERE event_id < 200
    """,
)
def udtf_kv_columns_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The POLYMORPHIC UDTF as a registry citizen: kv_columns' output
    schema (one LONG column per requested key) is computed at plan
    time by its static ``analyze`` hook from the constant key list —
    the Spark 4 table-function tier behind dynamic pivots and
    configurable feature extractors (operators/udf_surface.py
    make_kv_columns_udtf). Here it shreds the events props JSON into
    a typed `k` column via LATERAL, oracle-checked against plain
    json_extract — a Python UDTF whose VALUES are gated, not just its
    row count.

    Scale shape: lateral UDTF is map-side (ArrowEvalPythonUDTF); the
    filter is pushed to the scan. The built-in from_json is the hot-
    path tool — this exercises the polymorphic-schema surface.
    """
    from pyspark_movie_recommender_spark.operators.udf_surface import (
        make_kv_columns_udtf,
    )

    spark.udtf.register("q_kv_columns", make_kv_columns_udtf())
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("q_kv_events")
    return spark.sql(
        "SELECT e.event_id, t.k"
        " FROM q_kv_events e, LATERAL q_kv_columns(e.props, 'k') t"
        " WHERE e.event_id < 200"
    )


@query("approx_topk_event_types")
def approx_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``approx_top_k`` (Spark 4's frequent-items sketch aggregate —
    space-saving style, the built-in sibling of the hand-rolled
    Misra-Gries operator): top-3 event types with approximate counts,
    exploded to scalar rows for the gate. Rows-only by design: the
    sketch's tie order is not contractual — but at this cardinality
    the COUNTS are exact, which the law test pins against exact
    groupBy counts (tests/test_wave99s.py).

    Scale shape: one sketch aggregate with map-side partials; the
    explode touches k rows.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.agg(F.expr("approx_top_k(event_type, 3)").alias("t"))
        .select(F.explode("t").alias("e"))
        .select(
            F.col("e.item").alias("item"),
            F.col("e.count").cast("long").alias("cnt"),
        )
    )


@query(
    "listagg_cheapest_orders",
    oracle="""
    WITH ranked AS (
        SELECT o_orderpriority, o_orderkey, o_orderstatus,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice, o_orderkey) AS rn
        FROM orders
    )
    SELECT o_orderpriority,
           string_agg(o_orderstatus, ',' ORDER BY rn) AS status_seq
    FROM ranked WHERE rn <= 5
    GROUP BY o_orderpriority
    """,
)
def listagg_cheapest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2023 LISTAGG ... WITHIN GROUP (new in Spark 4.0): the
    status sequence of each priority's five cheapest orders as one
    ordered CSV string — the standard's answer to the
    collect_list+array_join idiom (ordered_status_concat), with the
    ordering guarantee IN the aggregate instead of bolted on. The
    deterministic total order (price, orderkey) and the top-5 cap
    make the string reproducible cross-engine; DuckDB spells the same
    aggregate string_agg(... ORDER BY).

    Scale shape: WindowGroupLimit prunes to 5 rows per priority
    before the aggregate; the listagg state is 5 tiny strings per
    group.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    ranked = orders.select(
        "o_orderpriority",
        "o_orderstatus",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 5)
    return ranked.groupBy("o_orderpriority").agg(
        F.expr(
            "listagg(o_orderstatus, ',') WITHIN GROUP (ORDER BY rn)"
        ).alias("status_seq")
    )


# ---------------------------------------------------------------------------
# wave 118: MMR diversity re-ranking, covariance/correlation matrix
# ---------------------------------------------------------------------------


@query(
    "mmr_diverse_rerank",
    oracle="""
    WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    probes AS (SELECT * FROM s WHERE vec_id < 3),
    scored AS (
        SELECT p.vec_id AS probe_id, c.vec_id AS cid, c.e AS ce,
               ROUND(list_cosine_similarity(p.e, c.e), 6) AS rel
        FROM probes p JOIN s c ON c.vec_id <> p.vec_id
    ), cand AS (
        SELECT probe_id, cid, ce, rel FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                ORDER BY rel DESC, cid) AS rnk
            FROM scored
        ) WHERE rnk <= 8
    ), cc AS (
        SELECT a.probe_id, a.cid AS cid_a, b.cid AS cid_b,
               ROUND(list_cosine_similarity(a.ce, b.ce), 6) AS sim
        FROM cand a JOIN cand b
          ON a.probe_id = b.probe_id AND a.cid <> b.cid
    ), sel1 AS (
        SELECT probe_id, cid, rel AS score FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                ORDER BY rel DESC, cid) AS r
            FROM cand
        ) WHERE r = 1
    ), u2 AS (
        SELECT c.probe_id, c.cid,
               0.7 * c.rel - 0.3 * MAX(cc.sim) AS score
        FROM cand c
        JOIN sel1 s1 ON s1.probe_id = c.probe_id AND s1.cid <> c.cid
        JOIN cc ON cc.probe_id = c.probe_id AND cc.cid_a = c.cid
               AND cc.cid_b = s1.cid
        GROUP BY c.probe_id, c.cid, c.rel
    ), sel2 AS (
        SELECT probe_id, cid, score FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                ORDER BY score DESC, cid) AS r
            FROM u2
        ) WHERE r = 1
    ), u3 AS (
        SELECT c.probe_id, c.cid,
               0.7 * c.rel - 0.3 * MAX(cc.sim) AS score
        FROM cand c
        JOIN cc ON cc.probe_id = c.probe_id AND cc.cid_a = c.cid
        JOIN sel1 s1 ON s1.probe_id = c.probe_id
        JOIN sel2 s2 ON s2.probe_id = c.probe_id
        WHERE c.cid <> s1.cid AND c.cid <> s2.cid
          AND (cc.cid_b = s1.cid OR cc.cid_b = s2.cid)
        GROUP BY c.probe_id, c.cid, c.rel
    ), sel3 AS (
        SELECT probe_id, cid, score FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY probe_id
                ORDER BY score DESC, cid) AS r
            FROM u3
        ) WHERE r = 1
    )
    SELECT probe_id, CAST(1 AS BIGINT) AS rank, cid AS neighbor_id,
           ROUND(score, 6) AS mmr_score FROM sel1
    UNION ALL
    SELECT probe_id, 2, cid, ROUND(score, 6) FROM sel2
    UNION ALL
    SELECT probe_id, 3, cid, ROUND(score, 6) FROM sel3
    """,
)
def mmr_diverse_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking — the diversity stage a
    retrieval stack runs AFTER similarity search: from each probe's
    top-8 cosine candidates, greedily pick 3 maximizing
    0.7·relevance − 0.3·max-similarity-to-already-picked, so the
    second and third results stop being near-copies of the first.
    Completes the retrieval family (BM25 → RRF fusion → MRR/NDCG
    eval) with the redundancy-control member. Greedy steps are
    unrolled in the oracle; relevance and candidate-candidate
    similarities are rounded to 6 BEFORE scoring so both engines rank
    identical keys (ties by neighbor id).

    Scale shape: relevance reuses the probe-broadcast corpus-scan
    top-k (no corpus shuffle); the candidate-candidate similarity
    matrix and the greedy loop run on ≤8 rows per probe — the
    re-ranking stage is deliberately tiny, which is why MMR's
    sequential greed is fine at scale.
    """
    from pyspark_movie_recommender_spark.operators.similarity import (
        cosine_arrow,
        cosine_topk_bruteforce,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cand = (
        cosine_topk_bruteforce(
            emb, emb.filter(F.col("vec_id") < 3), k=8
        )
        .select(
            "probe_id",
            F.col("neighbor_id").alias("cid"),
            F.col("sim").alias("rel"),
        )
        .transform(_ckpt)
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    cos = cosine_arrow()
    cc = (
        cand.select("probe_id", F.col("cid").alias("cid_a"))
        .join(
            cand.select("probe_id", F.col("cid").alias("cid_b")), "probe_id"
        )
        .filter(F.col("cid_a") != F.col("cid_b"))
        .join(vecs.select(F.col("vec_id").alias("cid_a"), F.col("e").alias("ea")), "cid_a")
        .join(vecs.select(F.col("vec_id").alias("cid_b"), F.col("e").alias("eb")), "cid_b")
        .select(
            "probe_id",
            "cid_a",
            "cid_b",
            F.round(cos(F.col("ea"), F.col("eb")), 6).alias("sim"),
        )
        .transform(_ckpt)
    )
    wp = Window.partitionBy("probe_id")
    sel = (
        cand.withColumn(
            "r", F.row_number().over(wp.orderBy(F.col("rel").desc(), "cid"))
        )
        .filter(F.col("r") == 1)
        .select("probe_id", "cid", F.col("rel").alias("score"),
                F.lit(1).cast("long").alias("rank"))
        .transform(_ckpt)
    )
    for step in (2, 3):
        unsel = cand.join(sel.select("probe_id", "cid"), ["probe_id", "cid"],
                          "left_anti")
        maxsim = (
            cc.join(
                sel.select("probe_id", F.col("cid").alias("cid_b")),
                ["probe_id", "cid_b"],
            )
            .groupBy("probe_id", F.col("cid_a").alias("cid"))
            .agg(F.max("sim").alias("ms"))
        )
        scored = unsel.join(maxsim, ["probe_id", "cid"]).select(
            "probe_id",
            "cid",
            (0.7 * F.col("rel") - 0.3 * F.col("ms")).alias("score"),
        )
        pick = (
            scored.withColumn(
                "r",
                F.row_number().over(wp.orderBy(F.col("score").desc(), "cid")),
            )
            .filter(F.col("r") == 1)
            .select("probe_id", "cid", "score",
                    F.lit(step).cast("long").alias("rank"))
        )
        sel = sel.unionByName(pick).transform(_ckpt)
    return sel.select(
        "probe_id",
        "rank",
        F.col("cid").alias("neighbor_id"),
        F.round("score", 6).alias("mmr_score"),
    )


@query(
    "covariance_matrix_lineitem",
    oracle="""
    WITH m AS (
        SELECT covar_pop(l_quantity, l_extendedprice) AS c12,
               covar_pop(l_quantity, l_discount) AS c13,
               covar_pop(l_quantity, l_tax) AS c14,
               covar_pop(l_extendedprice, l_discount) AS c23,
               covar_pop(l_extendedprice, l_tax) AS c24,
               covar_pop(l_discount, l_tax) AS c34,
               corr(l_quantity, l_extendedprice) AS r12,
               corr(l_quantity, l_discount) AS r13,
               corr(l_quantity, l_tax) AS r14,
               corr(l_extendedprice, l_discount) AS r23,
               corr(l_extendedprice, l_tax) AS r24,
               corr(l_discount, l_tax) AS r34
        FROM lineitem
    )
    SELECT 'quantity' AS col_a, 'extendedprice' AS col_b,
           ROUND(c12, 4) AS cov, ROUND(r12, 6) AS corr FROM m
    UNION ALL
    SELECT 'quantity', 'discount', ROUND(c13, 4), ROUND(r13, 6) FROM m
    UNION ALL
    SELECT 'quantity', 'tax', ROUND(c14, 4), ROUND(r14, 6) FROM m
    UNION ALL
    SELECT 'extendedprice', 'discount', ROUND(c23, 4), ROUND(r23, 6) FROM m
    UNION ALL
    SELECT 'extendedprice', 'tax', ROUND(c24, 4), ROUND(r24, 6) FROM m
    UNION ALL
    SELECT 'discount', 'tax', ROUND(c34, 4), ROUND(r34, 6) FROM m
    """,
)
def covariance_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise covariance/correlation matrix over the four numeric
    lineitem measures in ONE aggregation pass — the multivariate
    upgrade of stats_moments_lineitem (per-column) and the regr_*
    suite (one designated pair): all six covar_pop and corr pairs
    come from a single hash agg with map-side partials, then unpivot
    to the upper-triangle rows a feature-correlation report wants.

    Determinism: both engines implement the same single-pass
    co-moment updates; cov rounds to 4 (scale ~1e4), corr to 6.

    Scale shape: one scan, one 1-row agg, constant-size unpivot. The
    pattern scales to p columns as p(p−1)/2 agg expressions — still
    one pass, no self-join, no shuffle of facts.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [
        ("quantity", "extendedprice"),
        ("quantity", "discount"),
        ("quantity", "tax"),
        ("extendedprice", "discount"),
        ("extendedprice", "tax"),
        ("discount", "tax"),
    ]
    aggs = []
    for a, b in pairs:
        aggs.append(
            F.covar_pop(F.col(f"l_{a}"), F.col(f"l_{b}")).alias(f"c_{a}_{b}")
        )
        aggs.append(
            F.corr(F.col(f"l_{a}"), F.col(f"l_{b}")).alias(f"r_{a}_{b}")
        )
    m = li.agg(*aggs)
    m = _ckpt(m)  # shared fan-out relation
    out = None
    for a, b in pairs:
        row = m.select(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.round(F.col(f"c_{a}_{b}"), 4).alias("cov"),
            F.round(F.col(f"r_{a}_{b}"), 6).alias("corr"),
        )
        out = row if out is None else out.unionByName(row)
    return out


# ---------------------------------------------------------------------------
# wave 119: raking (IPF) weight calibration, Platt scaling
# ---------------------------------------------------------------------------


@query(
    "raking_ipf_weights",
    oracle="""
    WITH cust AS (
        SELECT r.r_name AS region, c.c_mktsegment AS seg
        FROM customer c
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
    ), cells AS (
        SELECT region, seg, CAST(COUNT(*) AS BIGINT) AS n
        FROM cust GROUP BY region, seg
    ), tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nc FROM cells
    ), ord AS (
        SELECT r.r_name AS region, c.c_mktsegment AS seg
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
    ), rowt AS (
        SELECT region, CAST(COUNT(*) AS DOUBLE)
               / (SELECT COUNT(*) FROM ord) * nc AS t
        FROM ord, tot GROUP BY region, nc
    ), colt AS (
        SELECT seg, CAST(COUNT(*) AS DOUBLE)
               / (SELECT COUNT(*) FROM ord) * nc AS t
        FROM ord, tot GROUP BY seg, nc
    ), w0 AS (
        SELECT region, seg, n, CAST(1.0 AS DOUBLE) AS w FROM cells
    ), r1 AS (
        SELECT w0.region, w0.seg, w0.n,
               w0.w * rowt.t
               / SUM(w0.n * w0.w) OVER (PARTITION BY w0.region) AS w
        FROM w0 JOIN rowt ON rowt.region = w0.region
    ), c1 AS (
        SELECT r1.region, r1.seg, r1.n,
               r1.w * colt.t
               / SUM(r1.n * r1.w) OVER (PARTITION BY r1.seg) AS w
        FROM r1 JOIN colt ON colt.seg = r1.seg
    ), r2 AS (
        SELECT c1.region, c1.seg, c1.n,
               c1.w * rowt.t
               / SUM(c1.n * c1.w) OVER (PARTITION BY c1.region) AS w
        FROM c1 JOIN rowt ON rowt.region = c1.region
    ), c2 AS (
        SELECT r2.region, r2.seg, r2.n,
               r2.w * colt.t
               / SUM(r2.n * r2.w) OVER (PARTITION BY r2.seg) AS w
        FROM r2 JOIN colt ON colt.seg = r2.seg
    ), r3 AS (
        SELECT c2.region, c2.seg, c2.n,
               c2.w * rowt.t
               / SUM(c2.n * c2.w) OVER (PARTITION BY c2.region) AS w
        FROM c2 JOIN rowt ON rowt.region = c2.region
    ), c3 AS (
        SELECT r3.region, r3.seg, r3.n,
               r3.w * colt.t
               / SUM(r3.n * r3.w) OVER (PARTITION BY r3.seg) AS w
        FROM r3 JOIN colt ON colt.seg = r3.seg
    )
    SELECT region, seg, n, ROUND(w, 6) AS weight
    FROM c3
    """,
)
def raking_ipf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raking / iterative proportional fitting (Sinkhorn matrix
    scaling): per-(region, segment) customer-cell weights calibrated
    in 3 row/column rounds so the WEIGHTED customer margins match the
    order-activity margins — the survey-statistics calibration that
    reweights a sample to known population totals, and the same
    scaling loop that balances optimal-transport kernels. Each round
    multiplies cell weights by target/current margin; margins are
    per-row/per-column window sums over the |regions|×|segments|
    cell table.

    Scale shape: the two fact-sized passes are the customer-cell and
    order-margin counts (hash aggs); IPF then iterates on ~25 cell
    rows with window partitions of ≤5 rows. Round 6 absorbs the two
    engines' margin-summation orders.
    """
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    orders = load_table(spark, sf_dir, "orders")
    cdim = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select(F.col("r_name").alias("region"),
                F.col("c_mktsegment").alias("seg"),
                "c_custkey")
    )
    cells = cdim.groupBy("region", "seg").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    nc = cells.agg(F.sum("n").cast("long").alias("nc"))
    od = orders.join(
        cdim.select("c_custkey", "region", "seg"),
        orders.o_custkey == cdim.c_custkey,
    )
    n_ord = od.count()  # driver scalar (margin normalizer), one tiny job
    rowt = (
        od.groupBy("region")
        .agg(F.count(F.lit(1)).alias("no"))
        .crossJoin(F.broadcast(nc))
        .select(
            "region",
            (F.col("no").cast("double") / n_ord * F.col("nc")).alias("t"),
        )
    )
    colt = (
        od.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("no"))
        .crossJoin(F.broadcast(nc))
        .select(
            "seg",
            (F.col("no").cast("double") / n_ord * F.col("nc")).alias("t"),
        )
    )
    w = cells.withColumn("w", F.lit(1.0)).transform(_ckpt)
    wr = Window.partitionBy("region")
    ws = Window.partitionBy("seg")
    for _ in range(3):
        w = (
            w.join(F.broadcast(rowt), "region")
            .select(
                "region", "seg", "n",
                (
                    F.col("w") * F.col("t")
                    / F.sum(F.col("n") * F.col("w")).over(wr)
                ).alias("w"),
            )
        )
        w = (
            w.join(F.broadcast(colt), "seg")
            .select(
                "region", "seg", "n",
                (
                    F.col("w") * F.col("t")
                    / F.sum(F.col("n") * F.col("w")).over(ws)
                ).alias("w"),
            )
            .transform(_ckpt)
        )
    return w.select("region", "seg", "n", F.round("w", 6).alias("weight"))


@query(
    "platt_scaling_calibration",
    oracle="""
    WITH pts AS (
        SELECT o_totalprice / 100000 AS x,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END
                   AS y
        FROM orders
    ), p0 AS (SELECT 0.0 AS a, 0.0 AS b),
    s1 AS (
        SELECT SUM(1/(1+exp(-(a + b*x))) - y) AS g1,
               SUM((1/(1+exp(-(a + b*x))) - y) * x) AS g2,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x))))) AS h11,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x)))) * x) AS h12,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x)))) * x * x) AS h22,
               ANY_VALUE(a) AS a, ANY_VALUE(b) AS b
        FROM pts, p0
    ), p1 AS (
        SELECT a - ( h22*g1 - h12*g2) / (h11*h22 - h12*h12) AS a,
               b - (-h12*g1 + h11*g2) / (h11*h22 - h12*h12) AS b
        FROM s1
    ), s2 AS (
        SELECT SUM(1/(1+exp(-(a + b*x))) - y) AS g1,
               SUM((1/(1+exp(-(a + b*x))) - y) * x) AS g2,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x))))) AS h11,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x)))) * x) AS h12,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x)))) * x * x) AS h22,
               ANY_VALUE(a) AS a, ANY_VALUE(b) AS b
        FROM pts, p1
    ), p2 AS (
        SELECT a - ( h22*g1 - h12*g2) / (h11*h22 - h12*h12) AS a,
               b - (-h12*g1 + h11*g2) / (h11*h22 - h12*h12) AS b
        FROM s2
    ), s3 AS (
        SELECT SUM(1/(1+exp(-(a + b*x))) - y) AS g1,
               SUM((1/(1+exp(-(a + b*x))) - y) * x) AS g2,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x))))) AS h11,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x)))) * x) AS h12,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x)))) * x * x) AS h22,
               ANY_VALUE(a) AS a, ANY_VALUE(b) AS b
        FROM pts, p2
    ), p3 AS (
        SELECT a - ( h22*g1 - h12*g2) / (h11*h22 - h12*h12) AS a,
               b - (-h12*g1 + h11*g2) / (h11*h22 - h12*h12) AS b
        FROM s3
    ), fit AS (
        SELECT ROUND(a, 4) AS a, ROUND(b, 4) AS b FROM p3
    ), check_cal AS (
        SELECT ROUND(AVG(1/(1+exp(-(f.a + f.b*x)))), 4) AS mean_p,
               ROUND(AVG(y), 4) AS base_rate
        FROM pts, fit f
    )
    SELECT f.a, f.b, c.mean_p, c.base_rate
    FROM fit f, check_cal c
    """,
)
def platt_scaling_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt scaling — fit sigmoid(a + b·score) mapping a raw score
    (scaled order value) to a calibrated probability of the URGENT
    label, by three Newton-Raphson rounds with the 2×2 Hessian
    inverted in closed form. The calibration FITTER beside the
    calibration AUDIT (calibration_reliability_bins) and the
    monotone alternative (isotonic_fit): after fitting, the mean
    predicted probability must sit on the base rate (reported as the
    built-in check — Newton on logistic loss converges to the
    score-calibrated fixed point).

    Determinism: each Newton round is one hash agg of five sigmoid
    moment sums over the facts with an identical IEEE dag on both
    engines; three rounds from (0,0), outputs rounded to 4 (Newton
    amplifies last-bit summation noise, so 6 would be flaky).

    Scale shape: 3 full-data passes (one per round), each a map-side
    partial agg to one row — the standard distributed-Newton shape
    for low-dimension GLMs; no shuffle beyond the 1-row agg.
    """
    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        (F.col("o_totalprice") / 100000).alias("x"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1.0)
        .otherwise(0.0)
        .alias("y"),
    ).transform(_ckpt)
    a_val, b_val = 0.0, 0.0
    # three Newton rounds, each one agg pass; (a, b) are driver-side
    # scalars exactly like the oracle's chained 1-row param CTEs
    for _ in range(3):
        p = 1 / (1 + F.exp(-(F.lit(a_val) + F.lit(b_val) * F.col("x"))))
        s = pts.agg(
            F.sum(p - F.col("y")).alias("g1"),
            F.sum((p - F.col("y")) * F.col("x")).alias("g2"),
            F.sum(p * (1 - p)).alias("h11"),
            F.sum(p * (1 - p) * F.col("x")).alias("h12"),
            F.sum(p * (1 - p) * F.col("x") * F.col("x")).alias("h22"),
        ).first()
        det = s.h11 * s.h22 - s.h12 * s.h12
        a_val = a_val - (s.h22 * s.g1 - s.h12 * s.g2) / det
        b_val = b_val - (-s.h12 * s.g1 + s.h11 * s.g2) / det
    p_fit = 1 / (1 + F.exp(-(F.lit(a_val) + F.lit(b_val) * F.col("x"))))
    fit = pts.agg(
        F.round(F.avg(p_fit), 4).alias("mean_p"),
        F.round(F.avg("y"), 4).alias("base_rate"),
    )
    return fit.select(
        F.round(F.lit(a_val), 4).alias("a"),
        F.round(F.lit(b_val), 4).alias("b"),
        "mean_p",
        "base_rate",
    )


# ---------------------------------------------------------------------------
# wave 120: doubly-robust (AIPW) treatment-effect estimator
# ---------------------------------------------------------------------------


@query(
    "doubly_robust_ate",
    oracle="""
    WITH pts AS (
        SELECT c.c_acctbal / 1000 AS x,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END
                   AS t,
               o.o_totalprice AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), p0 AS (SELECT 0.0 AS a, 0.0 AS b),
    s1 AS (
        SELECT SUM(1/(1+exp(-(a + b*x))) - t) AS g1,
               SUM((1/(1+exp(-(a + b*x))) - t) * x) AS g2,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x))))) AS h11,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x)))) * x) AS h12,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x)))) * x * x) AS h22,
               ANY_VALUE(a) AS a, ANY_VALUE(b) AS b
        FROM pts, p0
    ), p1 AS (
        SELECT a - ( h22*g1 - h12*g2) / (h11*h22 - h12*h12) AS a,
               b - (-h12*g1 + h11*g2) / (h11*h22 - h12*h12) AS b
        FROM s1
    ), s2 AS (
        SELECT SUM(1/(1+exp(-(a + b*x))) - t) AS g1,
               SUM((1/(1+exp(-(a + b*x))) - t) * x) AS g2,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x))))) AS h11,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x)))) * x) AS h12,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x)))) * x * x) AS h22,
               ANY_VALUE(a) AS a, ANY_VALUE(b) AS b
        FROM pts, p1
    ), p2 AS (
        SELECT a - ( h22*g1 - h12*g2) / (h11*h22 - h12*h12) AS a,
               b - (-h12*g1 + h11*g2) / (h11*h22 - h12*h12) AS b
        FROM s2
    ), s3 AS (
        SELECT SUM(1/(1+exp(-(a + b*x))) - t) AS g1,
               SUM((1/(1+exp(-(a + b*x))) - t) * x) AS g2,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x))))) AS h11,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x)))) * x) AS h12,
               SUM((1/(1+exp(-(a + b*x)))) * (1 - 1/(1+exp(-(a + b*x)))) * x * x) AS h22,
               ANY_VALUE(a) AS a, ANY_VALUE(b) AS b
        FROM pts, p2
    ), p3 AS (
        SELECT a - ( h22*g1 - h12*g2) / (h11*h22 - h12*h12) AS a,
               b - (-h12*g1 + h11*g2) / (h11*h22 - h12*h12) AS b
        FROM s3
    ), om AS (
        SELECT regr_intercept(y, x) FILTER (WHERE t = 1) AS i1,
               regr_slope(y, x) FILTER (WHERE t = 1) AS sl1,
               regr_intercept(y, x) FILTER (WHERE t = 0) AS i0,
               regr_slope(y, x) FILTER (WHERE t = 0) AS sl0
        FROM pts
    ), scored AS (
        SELECT t, y,
               i1 + sl1 * x AS m1,
               i0 + sl0 * x AS m0,
               greatest(0.01, least(0.99, 1/(1+exp(-(a + b*x))))) AS e
        FROM pts, p3, om
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(CASE WHEN t = 1 THEN y END)
                 - AVG(CASE WHEN t = 0 THEN y END), 4) AS naive_diff,
           ROUND(AVG(m1 - m0), 4) AS regression_ate,
           ROUND(AVG(m1 - m0
                     + t * (y - m1) / e
                     - (1 - t) * (y - m0) / (1 - e)), 4) AS aipw_ate
    FROM scored
    """,
)
def doubly_robust_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust (AIPW) average treatment effect of URGENT priority
    on order value, adjusting for customer balance: propensity
    e(x) from a 3-round distributed-Newton logistic (clipped to
    [0.01, 0.99]), per-arm outcome models from closed-form OLS
    (regr_intercept/regr_slope with FILTER), combined as
    m₁−m₀ + t(y−m₁)/e − (1−t)(y−m₀)/(1−e) — consistent if EITHER
    model is right, the modern default the causal family
    (DiD, CUPED, stratification, QTE) was missing. The naive
    difference and the regression-only ATE are reported beside it so
    the adjustment is visible.

    Determinism: Newton rounds are identical IEEE dags over the same
    rounded-input sums on both engines (same construction as
    platt_scaling_calibration); the clip bounds the 1/e
    amplification; outputs round to 4.

    Scale shape: one join + three 5-sum agg passes (one per Newton
    round, map-side partials) + one closed-form OLS agg + one final
    scoring agg. Nothing wide; the model parameters are driver-side
    scalars like the oracle's 1-row param CTEs.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    pts = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            (F.col("c_acctbal") / 1000).alias("x"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1.0)
            .otherwise(0.0)
            .alias("t"),
            F.col("o_totalprice").alias("y"),
        )
        .transform(_ckpt)
    )
    a_val, b_val = 0.0, 0.0
    for _ in range(3):
        p = 1 / (1 + F.exp(-(F.lit(a_val) + F.lit(b_val) * F.col("x"))))
        s = pts.agg(
            F.sum(p - F.col("t")).alias("g1"),
            F.sum((p - F.col("t")) * F.col("x")).alias("g2"),
            F.sum(p * (1 - p)).alias("h11"),
            F.sum(p * (1 - p) * F.col("x")).alias("h12"),
            F.sum(p * (1 - p) * F.col("x") * F.col("x")).alias("h22"),
        ).first()
        det = s.h11 * s.h22 - s.h12 * s.h12
        a_val = a_val - (s.h22 * s.g1 - s.h12 * s.g2) / det
        b_val = b_val - (-s.h12 * s.g1 + s.h11 * s.g2) / det
    om = pts.agg(
        F.expr("regr_intercept(y, x) FILTER (WHERE t = 1)").alias("i1"),
        F.expr("regr_slope(y, x) FILTER (WHERE t = 1)").alias("sl1"),
        F.expr("regr_intercept(y, x) FILTER (WHERE t = 0)").alias("i0"),
        F.expr("regr_slope(y, x) FILTER (WHERE t = 0)").alias("sl0"),
    )
    e = F.greatest(
        F.lit(0.01),
        F.least(
            F.lit(0.99),
            1 / (1 + F.exp(-(F.lit(a_val) + F.lit(b_val) * F.col("x")))),
        ),
    )
    scored = pts.crossJoin(F.broadcast(om)).select(
        "t",
        "y",
        (F.col("i1") + F.col("sl1") * F.col("x")).alias("m1"),
        (F.col("i0") + F.col("sl0") * F.col("x")).alias("m0"),
        e.alias("e"),
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.avg(F.when(F.col("t") == 1, F.col("y")))
            - F.avg(F.when(F.col("t") == 0, F.col("y"))),
            4,
        ).alias("naive_diff"),
        F.round(F.avg(F.col("m1") - F.col("m0")), 4).alias("regression_ate"),
        F.round(
            F.avg(
                F.col("m1")
                - F.col("m0")
                + F.col("t") * (F.col("y") - F.col("m1")) / F.col("e")
                - (1 - F.col("t"))
                * (F.col("y") - F.col("m0"))
                / (1 - F.col("e"))
            ),
            4,
        ).alias("aipw_ate"),
    )


# ---------------------------------------------------------------------------
# wave 121: MLM masking plan, hierarchical forecast reconciliation
# ---------------------------------------------------------------------------


@query(
    "mlm_masking_plan",
    oracle="""
    WITH tok AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    ), pos AS (
        SELECT doc_id, len(t) AS n_tokens,
               unnest(generate_series(1, len(t))) AS i
        FROM tok
    ), marked AS (
        SELECT doc_id, n_tokens, i,
               CASE WHEN ((doc_id * 1000003 + i) * 2654435761)
                         % 4294967296 % 100 < 15
                    THEN 1 ELSE 0 END AS masked
        FROM pos
    )
    SELECT doc_id,
           CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(masked) AS BIGINT) AS n_masked,
           CAST(COALESCE(MIN(CASE WHEN masked = 1 THEN i END), 0) AS BIGINT)
               AS first_mask_pos
    FROM marked GROUP BY doc_id
    """,
)
def mlm_masking_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Masked-language-model training-example planning: a DETERMINISTIC
    15% token mask per document via the keyed Knuth hash
    ((doc_id·1000003 + position)·2654435761 mod 2³²) mod 100 < 15 —
    reproducible across engines, executors, and reruns, which is what
    makes masking auditable (the same doc always yields the same
    example) and resumable (no RNG state to checkpoint). Reports the
    per-doc token count, mask count, and first masked position; the
    companion augmentation ops (token_dropout_augment,
    negative_sampling_pairs) use the same hash-not-RNG discipline.

    Scale shape: position fan-out is map-side (in-row sequence →
    per-position hash bit), one hash agg per doc. At 100 TB the mask
    column is computed at scan speed; no shuffle beyond the doc agg.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", ws_tokens(F.lower(F.col("text"))).alias("t")
    )
    marked = toks.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.expr(
            "filter(transform(sequence(1, size(t)),"
            " i -> IF(((doc_id * 1000003 + i) * 2654435761)"
            "        % 4294967296 % 100 < 15, i, -1)), p -> p > 0)"
        ).alias("mask_pos"),
    )
    return marked.select(
        "doc_id",
        "n_tokens",
        F.size("mask_pos").cast("long").alias("n_masked"),
        F.coalesce(
            F.expr("CASE WHEN size(mask_pos) > 0 THEN mask_pos[0] END"),
            F.lit(0),
        )
        .cast("long")
        .alias("first_mask_pos"),
    )


@query(
    "forecast_reconciliation",
    oracle="""
    WITH daily AS (
        SELECT r.r_name AS region,
               CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY region, day
    ), horizon AS (
        SELECT MAX(day) AS max_day FROM daily
    ), bottom AS (
        SELECT region,
               CAST(SUM(CASE WHEN day > max_day - 7 THEN cents ELSE 0 END)
                    AS BIGINT) AS fc_bottom
        FROM daily, horizon GROUP BY region
    ), top AS (
        SELECT CAST(SUM(fc_bottom) AS BIGINT) AS bu_total FROM bottom
    ), hist AS (
        SELECT region, CAST(SUM(cents) AS BIGINT) AS hist_cents FROM daily
        GROUP BY region
    ), hist_tot AS (
        SELECT CAST(SUM(hist_cents) AS BIGINT) AS h FROM hist
    )
    SELECT b.region, b.fc_bottom,
           CAST(CAST(t.bu_total AS HUGEINT) * h2.hist_cents // h1.h
                AS BIGINT) AS fc_topdown,
           CAST(b.fc_bottom
                - CAST(t.bu_total AS HUGEINT) * h2.hist_cents // h1.h
                AS BIGINT) AS coherence_gap
    FROM bottom b, top t, hist_tot h1
    JOIN hist h2 ON h2.region = b.region
    """,
)
def forecast_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical forecast reconciliation, bottom-up vs top-down:
    each region's naive next-week forecast (last 7 days of revenue,
    integer cents) versus the total forecast re-split by historical
    revenue share — the coherence problem every hierarchy of
    forecasts has (regional numbers MUST sum to the total the CFO
    sees), reported as the per-region gap between the two coherent
    methods. Integer-exact: the top-down split uses floor-div on
    cents so both engines produce identical allocations.

    Scale shape: one fact agg to |regions|×|days|; everything after
    is arithmetic on ≤5-row relations. The reconciliation itself is
    metadata-scale — exactly why it belongs in the warehouse, not a
    notebook.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    daily = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            epoch_day("o_orderdate").alias("day"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    daily = _ckpt(daily)  # shared fan-out relation
    horizon = daily.agg(F.max("day").alias("max_day"))
    tagged = daily.crossJoin(F.broadcast(horizon))
    bottom = tagged.groupBy("region").agg(
        F.sum(
            F.when(F.col("day") > F.col("max_day") - 7, F.col("cents"))
            .otherwise(0)
        )
        .cast("long")
        .alias("fc_bottom")
    )
    bottom = _ckpt(bottom)  # shared fan-out relation
    top = bottom.agg(F.sum("fc_bottom").cast("long").alias("bu_total"))
    hist = daily.groupBy("region").agg(
        F.sum("cents").cast("long").alias("hist_cents")
    )
    hist = _ckpt(hist)  # shared fan-out relation
    hist_tot = hist.agg(F.sum("hist_cents").cast("long").alias("h"))
    return (
        bottom.join(hist, "region")
        .crossJoin(F.broadcast(top))
        .crossJoin(F.broadcast(hist_tot))
        .select(
            "region",
            "fc_bottom",
            # 128-bit product (cents × cents overflows INT64): exact
            # floor-div via (p − p mod h)/h on DECIMAL(38,0)
            F.expr(
                "CAST((CAST(bu_total AS DECIMAL(38,0)) * hist_cents"
                " - (CAST(bu_total AS DECIMAL(38,0)) * hist_cents) % h)"
                " / h AS BIGINT)"
            ).alias("fc_topdown"),
            F.expr(
                "fc_bottom - CAST((CAST(bu_total AS DECIMAL(38,0))"
                " * hist_cents - (CAST(bu_total AS DECIMAL(38,0))"
                " * hist_cents) % h) / h AS BIGINT)"
            ).alias("coherence_gap"),
        )
    )


# ---------------------------------------------------------------------------
# wave 122: weight-of-evidence/IV encoding, out-of-fold target encoding
# ---------------------------------------------------------------------------


@query(
    "woe_iv_encoding",
    oracle="""
    WITH pts AS (
        SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS bad
        FROM orders
    ), b AS (
        SELECT bucket,
               CAST(COUNT(*) - SUM(bad) AS BIGINT) AS n_good,
               CAST(SUM(bad) AS BIGINT) AS n_bad
        FROM pts GROUP BY bucket
    ), tot AS (
        SELECT CAST(SUM(n_good) AS BIGINT) AS g,
               CAST(SUM(n_bad) AS BIGINT) AS bb
        FROM b
    ), woe AS (
        SELECT bucket, n_good, n_bad,
               ln(((n_good + 0.5) / (g + 0.5)) / ((n_bad + 0.5) / (bb + 0.5)))
                   AS w,
               (CAST(n_good AS DOUBLE) / g - CAST(n_bad AS DOUBLE) / bb) AS d
        FROM b, tot
    )
    SELECT bucket, n_good, n_bad,
           ROUND(w, 6) AS woe,
           ROUND((SELECT SUM(w2.d * w2.w) FROM woe w2), 6) AS iv_total
    FROM woe
    """,
)
def woe_iv_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence encoding with total Information Value — the
    credit-risk-scoring feature transform: each order-value bucket's
    WoE = ln(good-share/bad-share) (0.5-smoothed against empty
    cells), and IV = Σ(Δshare·WoE) grading the whole variable's
    predictive power (rule of thumb: IV < 0.02 useless, > 0.5
    suspicious). The supervised cousin of the unsupervised bucketing
    family (histogram, ntile, quantile-normalize): buckets are scored
    BY the label.

    Scale shape: one map-side bucket tag + hash agg to |buckets|
    rows; WoE/IV is arithmetic on that tiny relation with the totals
    broadcast. Round 6 on both the per-bucket WoE and the IV sum.
    """
    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bucket"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("bad"),
    )
    b = pts.groupBy("bucket").agg(
        (F.count(F.lit(1)) - F.sum("bad")).cast("long").alias("n_good"),
        F.sum("bad").cast("long").alias("n_bad"),
    )
    b = _ckpt(b)  # shared fan-out relation
    tot = b.agg(
        F.sum("n_good").cast("long").alias("g"),
        F.sum("n_bad").cast("long").alias("bb"),
    )
    woe = b.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_good",
        "n_bad",
        F.log(
            ((F.col("n_good") + 0.5) / (F.col("g") + 0.5))
            / ((F.col("n_bad") + 0.5) / (F.col("bb") + 0.5))
        ).alias("w"),
        (
            F.col("n_good").cast("double") / F.col("g")
            - F.col("n_bad").cast("double") / F.col("bb")
        ).alias("d"),
    )
    iv = woe.agg(F.sum(F.col("d") * F.col("w")).alias("iv"))
    return woe.crossJoin(F.broadcast(iv)).select(
        "bucket",
        "n_good",
        "n_bad",
        F.round("w", 6).alias("woe"),
        F.round("iv", 6).alias("iv_total"),
    )


@query(
    "oof_target_encoding",
    oracle="""
    WITH pts AS (
        SELECT c.c_mktsegment AS cat,
               o.o_orderkey % 5 AS fold,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), cell AS (
        SELECT cat, fold, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s
        FROM pts GROUP BY cat, fold
    ), catt AS (
        SELECT cat, CAST(SUM(n) AS BIGINT) AS n_cat,
               CAST(SUM(s) AS BIGINT) AS s_cat
        FROM cell GROUP BY cat
    )
    SELECT c.cat, CAST(c.fold AS BIGINT) AS fold, c.n,
           ROUND(CAST(t.s_cat - c.s AS DOUBLE) / (t.n_cat - c.n), 6)
               AS oof_rate,
           ROUND(CAST(t.s_cat AS DOUBLE) / t.n_cat, 6) AS full_rate
    FROM cell c JOIN catt t ON t.cat = c.cat
    """,
)
def oof_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding — the leakage-PROOF version of the
    most leakage-prone feature transform there is: each (category,
    fold) cell's encoding is the category's label mean computed
    EXCLUDING that fold ((S_cat − s_cell)/(N_cat − n_cell)), so no
    row's own label ever reaches its own feature. The full-data rate
    rides along to show exactly what naive target encoding would have
    leaked. Complements leakage_safe_training_labels (time
    dimension) with the fold dimension; folds are the deterministic
    orderkey % 5 hash split.

    Scale shape: one hash agg to |cats|×|folds| cells, a second to
    |cats| — the leave-one-out means need only those two exact-
    integer relations joined, never a per-row self-exclusion scan.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    pts = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        F.col("c_mktsegment").alias("cat"),
        (F.col("o_orderkey") % 5).alias("fold"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("y"),
    )
    cell = pts.groupBy("cat", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    catt = cell.groupBy("cat").agg(
        F.sum("n").cast("long").alias("n_cat"),
        F.sum("s").cast("long").alias("s_cat"),
    )
    return cell.join(F.broadcast(catt), "cat").select(
        "cat",
        F.col("fold").cast("long").alias("fold"),
        "n",
        F.round(
            (F.col("s_cat") - F.col("s")).cast("double")
            / (F.col("n_cat") - F.col("n")),
            6,
        ).alias("oof_rate"),
        F.round(
            F.col("s_cat").cast("double") / F.col("n_cat"), 6
        ).alias("full_rate"),
    )


# ---------------------------------------------------------------------------
# wave 123: Bradley-Terry strengths, emerging-term burst detection
# ---------------------------------------------------------------------------


@query(
    "bradley_terry_priorities",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
               o_orderpriority AS team, CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY day, team
    ), duel AS (
        SELECT a.team AS ta, b.team AS tb,
               CAST(SUM(CASE WHEN a.c > b.c THEN 1 ELSE 0 END) AS BIGINT)
                   AS wins
        FROM daily a JOIN daily b
          ON a.day = b.day AND a.team <> b.team
        GROUP BY ta, tb
    ), games AS (
        SELECT d.ta, d.tb, d.wins, d.wins + r.wins AS n_games
        FROM duel d JOIN duel r ON r.ta = d.tb AND r.tb = d.ta
    ), wtot AS (
        SELECT ta AS team, CAST(SUM(wins) AS BIGINT) AS w
        FROM games GROUP BY ta
    ), it0 AS (
        SELECT team, w, CAST(1.0 AS DOUBLE) AS s FROM wtot
    ), r1 AS (
        SELECT i.team, i.w,
               i.w / SUM(g.n_games / (i.s + j.s)) AS s
        FROM it0 i
        JOIN games g ON g.ta = i.team
        JOIN it0 j ON j.team = g.tb
        GROUP BY i.team, i.w, i.s
    ), it1 AS (
        SELECT team, w, s / (SELECT SUM(s) FROM r1) * 5 AS s FROM r1
    ), r2 AS (
        SELECT i.team, i.w,
               i.w / SUM(g.n_games / (i.s + j.s)) AS s
        FROM it1 i
        JOIN games g ON g.ta = i.team
        JOIN it1 j ON j.team = g.tb
        GROUP BY i.team, i.w, i.s
    ), it2 AS (
        SELECT team, w, s / (SELECT SUM(s) FROM r2) * 5 AS s FROM r2
    ), r3 AS (
        SELECT i.team, i.w,
               i.w / SUM(g.n_games / (i.s + j.s)) AS s
        FROM it2 i
        JOIN games g ON g.ta = i.team
        JOIN it2 j ON j.team = g.tb
        GROUP BY i.team, i.w, i.s
    ), it3 AS (
        SELECT team, w, s / (SELECT SUM(s) FROM r3) * 5 AS s FROM r3
    )
    SELECT team, w AS total_wins, ROUND(s, 6) AS strength FROM it3
    """,
)
def bradley_terry_priorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry paired-comparison strengths via the MM algorithm:
    order priorities "duel" daily (more orders that day wins), and
    three minorization-maximization rounds s_i ← W_i / Σ_j n_ij/(s_i+s_j)
    (normalized to Σs = |teams| each round) turn the pairwise win
    matrix into a strength scale — the principled ranking for ANY
    pairwise-outcome data (LLM preference pairs, A/B duels, match
    results) where simple win-rate ignores opponent strength. The
    preference_pairs_by_quality query produces exactly the kind of
    data this model consumes.

    Scale shape: the fact-sized work is the daily count agg and the
    day-keyed duel join (|teams|² per day, teams tiny); MM iterates
    on the |teams|²-row game matrix. Oracle unrolls the same three
    rounds.
    """
    orders = load_table(spark, sf_dir, "orders")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    daily = orders.groupBy(
        epoch_day("o_orderdate").alias("day"),
        F.col("o_orderpriority").alias("team"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = daily.select(
        F.col("day"), F.col("team").alias("ta"), F.col("c").alias("ca")
    )
    b = daily.select(
        F.col("day"), F.col("team").alias("tb"), F.col("c").alias("cb")
    )
    duel = (
        a.join(b, "day")
        .filter(F.col("ta") != F.col("tb"))
        .groupBy("ta", "tb")
        .agg(
            F.sum(F.when(F.col("ca") > F.col("cb"), 1).otherwise(0))
            .cast("long")
            .alias("wins")
        )
    )
    rev = duel.select(
        F.col("ta").alias("tb"), F.col("tb").alias("ta"),
        F.col("wins").alias("rwins"),
    )
    games = duel.join(rev, ["ta", "tb"]).select(
        "ta", "tb", "wins", (F.col("wins") + F.col("rwins")).alias("n_games")
    ).transform(_ckpt)
    wtot = games.groupBy(F.col("ta").alias("team")).agg(
        F.sum("wins").cast("long").alias("w")
    )
    s = wtot.withColumn("s", F.lit(1.0)).transform(_ckpt)
    n_teams = s.count()
    for _ in range(3):
        joined = (
            games.join(
                s.select(F.col("team").alias("ta"), "w",
                         F.col("s").alias("si")),
                "ta",
            )
            .join(
                s.select(F.col("team").alias("tb"), F.col("s").alias("sj")),
                "tb",
            )
            .groupBy(F.col("ta").alias("team"), "w")
            .agg(
                (
                    F.first("w")
                    / F.sum(F.col("n_games") / (F.col("si") + F.col("sj")))
                ).alias("s")
            )
            .select("team", "w", "s")
        )
        tot = joined.agg(F.sum("s").alias("ts"))
        s = (
            joined.crossJoin(F.broadcast(tot))
            .select(
                "team", "w",
                (F.col("s") / F.col("ts") * n_teams).alias("s"),
            )
            .transform(_ckpt)
        )
    return s.select(
        "team", F.col("w").alias("total_wins"), F.round("s", 6).alias("strength")
    )


@query(
    "burst_terms_weekly",
    oracle="""
    WITH tok AS (
        SELECT doc_id % 28 AS pseudo_day,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents WHERE trim(text) <> ''
    ), tagged AS (
        SELECT CASE WHEN pseudo_day >= 21 THEN 1 ELSE 0 END AS recent, w
        FROM tok
    ), cnt AS (
        SELECT w, CAST(SUM(recent) AS BIGINT) AS a,
               CAST(SUM(1 - recent) AS BIGINT) AS b
        FROM tagged GROUP BY w
    ), tot AS (
        SELECT CAST(SUM(a) AS BIGINT) AS ta, CAST(SUM(b) AS BIGINT) AS tb
        FROM cnt
    ), scored AS (
        SELECT w, a, b,
               ROUND((CAST(a AS DOUBLE)/ta - CAST(b AS DOUBLE)/tb)
                 / sqrt((CAST(a + b AS DOUBLE)/(ta + tb))
                        * (1 - CAST(a + b AS DOUBLE)/(ta + tb))
                        * (1.0/ta + 1.0/tb)), 6) AS z
        FROM cnt, tot WHERE a + b >= 20
    )
    SELECT w AS term, a AS recent_count, b AS past_count, z
    FROM scored
    ORDER BY z DESC, term LIMIT 20
    """,
)
def burst_terms_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Emerging-term detection: which vocabulary is BURSTING in the
    most recent week of the corpus relative to its history? Each
    term's recent-vs-past share difference is scored with the pooled
    two-proportion z (the same statistic as the A/B tests, applied
    per term with a min-support floor), top-20 by z — the temporal
    twin of G² source keyness (which compares sources, not periods),
    and the lightweight version of Kleinberg burst states. The
    "week" is the deterministic doc_id-derived pseudo-day so the
    fixture exercises the shape.

    Determinism: counts exact; z rounded to 6 BEFORE the top-20
    ranking (term tie-break), so both engines cut the same list.

    Scale shape: explode → (recent, w) tag map-side → one vocab-sized
    hash agg; scoring is arithmetic on vocab rows; top-20 is
    TakeOrderedAndProject, no global sort.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    tagged = docs.select(
        F.when(F.col("doc_id") % 28 >= 21, 1).otherwise(0).alias("recent"),
        F.explode(ws_tokens(F.lower(F.col("text")))).alias("w"),
    )
    cnt = tagged.groupBy("w").agg(
        F.sum("recent").cast("long").alias("a"),
        F.sum(1 - F.col("recent")).cast("long").alias("b"),
    )
    tot = cnt.agg(
        F.sum("a").cast("long").alias("ta"),
        F.sum("b").cast("long").alias("tb"),
    )
    pa = F.col("a").cast("double") / F.col("ta")
    pb = F.col("b").cast("double") / F.col("tb")
    pp = (F.col("a") + F.col("b")).cast("double") / (
        F.col("ta") + F.col("tb")
    )
    scored = (
        cnt.filter(F.col("a") + F.col("b") >= 20)
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("w").alias("term"),
            F.col("a").alias("recent_count"),
            F.col("b").alias("past_count"),
            F.round(
                (pa - pb)
                / F.sqrt(
                    pp * (1 - pp) * (1.0 / F.col("ta") + 1.0 / F.col("tb"))
                ),
                6,
            ).alias("z"),
        )
    )
    return scored.orderBy(F.col("z").desc(), "term").limit(20)


# ---------------------------------------------------------------------------
# wave 124: Huber IRLS robust regression, journey variant census
# ---------------------------------------------------------------------------


@query(
    "huber_irls_regression",
    oracle="""
    WITH pts AS (
        SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
    ), ols AS (
        SELECT regr_slope(y, x) AS b, regr_intercept(y, x) AS a FROM pts
    ), scale_est AS (
        SELECT 1.4826 * percentile_disc(0.5) WITHIN GROUP (
                   ORDER BY abs(y - (a + b*x))) AS s
        FROM pts, ols
    ), w1 AS (
        SELECT x, y,
               least(1.0, 1.345 * s / abs(y - (a + b*x))) AS w
        FROM pts, ols, scale_est WHERE abs(y - (a + b*x)) > 0
    ), f1 AS (
        SELECT (SUM(w*x*y) - SUM(w*x)*SUM(w*y)/SUM(w))
               / (SUM(w*x*x) - SUM(w*x)*SUM(w*x)/SUM(w)) AS b,
               SUM(w*y)/SUM(w)
               - (SUM(w*x*y) - SUM(w*x)*SUM(w*y)/SUM(w))
                 / (SUM(w*x*x) - SUM(w*x)*SUM(w*x)/SUM(w))
                 * SUM(w*x)/SUM(w) AS a
        FROM w1
    ), w2 AS (
        SELECT x, y,
               least(1.0, 1.345 * s / abs(y - (a + b*x))) AS w
        FROM pts, f1, scale_est WHERE abs(y - (a + b*x)) > 0
    ), f2 AS (
        SELECT (SUM(w*x*y) - SUM(w*x)*SUM(w*y)/SUM(w))
               / (SUM(w*x*x) - SUM(w*x)*SUM(w*x)/SUM(w)) AS b,
               SUM(w*y)/SUM(w)
               - (SUM(w*x*y) - SUM(w*x)*SUM(w*y)/SUM(w))
                 / (SUM(w*x*x) - SUM(w*x)*SUM(w*x)/SUM(w))
                 * SUM(w*x)/SUM(w) AS a
        FROM w2
    )
    SELECT ROUND(o.a, 4) AS ols_intercept, ROUND(o.b, 4) AS ols_slope,
           ROUND(f.a, 4) AS huber_intercept, ROUND(f.b, 4) AS huber_slope,
           ROUND(se.s, 4) AS resid_scale
    FROM ols o, f2 f, scale_est se
    """,
)
def huber_irls_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimation by iteratively reweighted least squares:
    start from OLS, estimate the residual scale robustly
    (1.4826·MAD), then two IRLS rounds where each point's weight is
    min(1, 1.345·s/|r|) — outliers get down-weighted smoothly instead
    of OLS's quadratic thrall or Theil-Sen's full rank machinery.
    The practical middle of the robust-regression family:
    weighted-OLS closed forms mean every round is ONE moment-sum agg,
    no sorting beyond the single MAD percentile.

    Determinism: MAD uses percentile_disc (an actual data value);
    weighted moment sums are fixed dags; both engines run identical
    rounds; outputs round to 4 (IRLS amplifies summation noise like
    Newton does).

    Scale shape: one OLS agg, one MAD percentile, two
    weighted-moment agg passes — four scans with map-side partials,
    parameters as broadcast scalars. The standard distributed-IRLS
    shape for low-dimensional robust fits.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y")
    ).transform(_ckpt)
    ols = pts.agg(
        F.expr("regr_slope(y, x)").alias("b"),
        F.expr("regr_intercept(y, x)").alias("a"),
    ).first()
    a0, b0 = ols.a, ols.b
    s = pts.select(
        F.abs(F.col("y") - (F.lit(a0) + F.lit(b0) * F.col("x"))).alias("r")
    ).agg(
        F.expr(
            "1.4826 * percentile_disc(0.5) WITHIN GROUP (ORDER BY r)"
        ).alias("s")
    ).first().s
    a_cur, b_cur = a0, b0
    for _ in range(2):
        r = F.abs(F.col("y") - (F.lit(a_cur) + F.lit(b_cur) * F.col("x")))
        w = F.least(F.lit(1.0), F.lit(1.345 * s) / r)
        m = (
            pts.filter(r > 0)
            .select("x", "y", w.alias("w"))
            .agg(
                F.sum(F.col("w") * F.col("x") * F.col("y")).alias("sxy"),
                F.sum(F.col("w") * F.col("x")).alias("sx"),
                F.sum(F.col("w") * F.col("y")).alias("sy"),
                F.sum(F.col("w") * F.col("x") * F.col("x")).alias("sxx"),
                F.sum("w").alias("sw"),
            )
            .first()
        )
        b_cur = (m.sxy - m.sx * m.sy / m.sw) / (m.sxx - m.sx * m.sx / m.sw)
        a_cur = m.sy / m.sw - b_cur * m.sx / m.sw
    return pts.sparkSession.createDataFrame(
        [
            (
                round(a0, 4),
                round(b0, 4),
                round(a_cur, 4),
                round(b_cur, 4),
                round(s, 4),
            )
        ],
        "ols_intercept double, ols_slope double, huber_intercept double,"
        " huber_slope double, resid_scale double",
    )


@query(
    "journey_variant_census",
    oracle="""
    WITH seqs AS (
        SELECT user_id,
               list_aggregate(list(event_type ORDER BY ts, event_id),
                              'string_agg', '>') AS variant
        FROM events GROUP BY user_id
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM seqs
    ), census AS (
        SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_cases
        FROM seqs GROUP BY variant
    )
    SELECT variant, n_cases,
           CAST(n_cases * 1000000 // n_users AS BIGINT) AS share_ppm
    FROM census, tot
    ORDER BY n_cases DESC, variant LIMIT 10
    """,
)
def journey_variant_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Process-mining case-variant census: each user's COMPLETE
    time-ordered event-type path as one variant string, counted and
    ranked — the "how many distinct ways do users actually move
    through the product" view that the transition matrix (pairs) and
    trigram paths (windows) aggregate away. Real logs concentrate:
    a handful of variants usually cover most cases, and the tail is
    where process exceptions hide.

    Scale shape: one ordered collect per user (journey-bounded), one
    hash agg over variant strings, top-10 via TakeOrderedAndProject.
    For very long journeys, hash the variant string map-side and
    carry the hash through the census instead.
    """
    ev = load_table(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "named_struct('ts', ts, 'eid', event_id, 'et', event_type))),"
            " x -> x.et), '>')"
        ).alias("variant")
    )
    tot = seqs.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    census = seqs.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_cases")
    )
    return (
        census.crossJoin(F.broadcast(tot))
        .select(
            "variant",
            "n_cases",
            F.expr("n_cases * 1000000L div n_users")
            .cast("long")
            .alias("share_ppm"),
        )
        .orderBy(F.col("n_cases").desc(), "variant")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# wave 125: RAKE keyphrase extraction, two-way fixed-effects estimator
# ---------------------------------------------------------------------------


@query(
    "rake_keyphrases",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
        FROM (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM documents WHERE trim(text) <> ''
        )
    ), flagged AS (
        SELECT doc_id, i, t[i] AS w,
               CASE WHEN list_contains(['the','a','and','of','to'], t[i])
                    THEN 1 ELSE 0 END AS stop
        FROM tok
    ), isl AS (
        SELECT doc_id, i, w, grp FROM (
            SELECT doc_id, i, w, stop,
                   SUM(stop) OVER (PARTITION BY doc_id ORDER BY i
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS grp
            FROM flagged
        ) WHERE stop = 0
    ), phr AS (
        SELECT doc_id, grp,
               string_agg(w, ' ' ORDER BY i) AS phrase,
               CAST(COUNT(*) AS BIGINT) AS plen
        FROM isl GROUP BY doc_id, grp
        HAVING COUNT(*) <= 4
    ), members AS (
        SELECT p.doc_id, p.grp, p.phrase, p.plen, il.w
        FROM phr p JOIN isl il
          ON il.doc_id = p.doc_id AND il.grp = p.grp
    ), wstat AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(plen) AS BIGINT) AS degree
        FROM members GROUP BY w
    ), scored AS (
        SELECT m.doc_id, m.grp, m.phrase,
               SUM(CAST(ws.degree AS DOUBLE) / ws.freq) AS score
        FROM members m JOIN wstat ws ON ws.w = m.w
        GROUP BY m.doc_id, m.grp, m.phrase
    ), census AS (
        SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
               ROUND(ANY_VALUE(score), 6) AS rake_score
        FROM scored GROUP BY phrase
    )
    SELECT phrase, n_occurrences, rake_score
    FROM census
    ORDER BY rake_score DESC, phrase LIMIT 15
    """,
)
def rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rapid Automatic Keyword Extraction):
    token streams split at stopwords into candidate phrases (runs of
    ≤4 content words), each scored Σ degree(w)/freq(w) over member
    words — degree rewards words that travel in long phrases, freq
    normalizes ubiquity — and the corpus-level top-15 reported. The
    phrase-level extraction that TF-IDF (unigram), PMI (bigram), and
    G² (per-term) don't provide; phrase instances share one corpus
    score, so ANY_VALUE per distinct phrase is sound.

    Determinism: phrase building is integer gaps-and-islands; word
    stats are exact counts; scores are sums of exact-integer ratios
    rounded to 6 before the top-15 cut (phrase tie-break).

    Scale shape: position explode with per-doc windows (doc-bounded
    partitions), phrase and word stats as hash aggs, a broadcast-able
    word-stat join (vocab-sized), TakeOrderedAndProject for the cut.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    pos = docs.select(
        "doc_id",
        F.posexplode(ws_tokens(F.lower(F.col("text")))).alias("p", "w"),
    ).select("doc_id", (F.col("p") + 1).alias("i"), "w")
    flagged = pos.select(
        "doc_id",
        "i",
        "w",
        F.when(F.col("w").isin("the", "a", "and", "of", "to"), 1)
        .otherwise(0)
        .alias("stop"),
    )
    wd = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = (
        flagged.select(
            "doc_id", "i", "w", F.sum("stop").over(wd).alias("grp"), "stop"
        )
        .filter(F.col("stop") == 0)
        .drop("stop")
    )
    isl = _ckpt(isl)  # shared fan-out relation
    phr = (
        isl.groupBy("doc_id", "grp")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "named_struct('i', i, 'w', w))), x -> x.w), ' ')"
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("plen"),
        )
        .filter(F.col("plen") <= 4)
    )
    members = phr.join(isl, ["doc_id", "grp"]).select(
        "doc_id", "grp", "phrase", "plen", "w"
    )
    members = _ckpt(members)  # shared fan-out relation
    wstat = members.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("degree"),
    )
    scored = (
        members.join(F.broadcast(wstat), "w")
        .groupBy("doc_id", "grp", "phrase")
        .agg(
            F.sum(F.col("degree").cast("double") / F.col("freq")).alias(
                "score"
            )
        )
    )
    census = scored.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.round(F.first("score"), 6).alias("rake_score"),
    )
    return census.orderBy(F.col("rake_score").desc(), "phrase").limit(15)
