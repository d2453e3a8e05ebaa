"""Query registry part 4 of 12 — registration order preserved.

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

@query(
    "two_way_fixed_effects",
    oracle="""
    WITH pts AS (
        SELECT n.n_name AS entity,
               CAST(date_trunc('month', o.o_orderdate) AS DATE) AS period,
               c.c_acctbal AS x, o.o_totalprice AS y
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
    ), em AS (
        SELECT entity, AVG(x) AS xe, AVG(y) AS ye FROM pts GROUP BY entity
    ), tm AS (
        SELECT period, AVG(x) AS xt, AVG(y) AS yt FROM pts GROUP BY period
    ), gm AS (
        SELECT AVG(x) AS xg, AVG(y) AS yg FROM pts
    ), demeaned AS (
        SELECT p.x - em.xe - tm.xt + gm.xg AS xd,
               p.y - em.ye - tm.yt + gm.yg AS yd,
               p.x, p.y
        FROM pts p
        JOIN em ON em.entity = p.entity
        JOIN tm ON tm.period = p.period, gm
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(xd * yd) / SUM(xd * xd), 6) AS fe_slope,
           ROUND((COUNT(*) * SUM(x*y) - SUM(x)*SUM(y))
                 / (COUNT(*) * SUM(x*x) - SUM(x)*SUM(x)), 6) AS pooled_slope
    FROM demeaned
    """,
)
def two_way_fixed_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way fixed-effects (within) estimator: the slope of order
    value on customer balance after sweeping out nation effects AND
    month effects by double demeaning (x − x̄ᵢ − x̄ₜ + x̄) — the panel
    econometrician's workhorse that kills any confounder constant
    within a nation or within a month, which the pooled OLS slope
    (reported beside it) happily absorbs. Completes the causal
    family's fixed-effects corner next to DiD (two groups × two
    periods — this is the N×T generalization).

    Determinism: group means and the final moment sums are
    single-level aggregates; round 6.

    Scale shape: two small mean tables broadcast back onto the facts
    (entity and period cardinalities are tiny), one demeaned moment
    agg with map-side partials. No shuffle of facts beyond the first
    join.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    pts = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("entity"),
            F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias(
                "period"
            ),
            F.col("c_acctbal").alias("x"),
            F.col("o_totalprice").alias("y"),
        )
    )
    pts = _ckpt(pts)  # shared fan-out relation
    em = pts.groupBy("entity").agg(
        F.avg("x").alias("xe"), F.avg("y").alias("ye")
    )
    tm = pts.groupBy("period").agg(
        F.avg("x").alias("xt"), F.avg("y").alias("yt")
    )
    gm = pts.agg(F.avg("x").alias("xg"), F.avg("y").alias("yg"))
    d = (
        pts.join(F.broadcast(em), "entity")
        .join(F.broadcast(tm), "period")
        .crossJoin(F.broadcast(gm))
        .select(
            (F.col("x") - F.col("xe") - F.col("xt") + F.col("xg")).alias(
                "xd"
            ),
            (F.col("y") - F.col("ye") - F.col("yt") + F.col("yg")).alias(
                "yd"
            ),
            "x",
            "y",
        )
    )
    nn = F.count(F.lit(1))
    return d.agg(
        nn.cast("long").alias("n"),
        F.round(
            F.sum(F.col("xd") * F.col("yd"))
            / F.sum(F.col("xd") * F.col("xd")),
            6,
        ).alias("fe_slope"),
        F.round(
            (nn * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
            / (nn * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")),
            6,
        ).alias("pooled_slope"),
    )


# ---------------------------------------------------------------------------
# wave 126: instrumental-variables Wald/2SLS, regression discontinuity
# ---------------------------------------------------------------------------


@query(
    "iv_wald_2sls",
    oracle="""
    WITH pts AS (
        SELECT CAST(c.c_nationkey % 2 AS DOUBLE) AS z,
               c.c_acctbal AS x, o.o_totalprice AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(covar_pop(z, x), 6) AS first_stage_cov,
           ROUND(covar_pop(z, y) / covar_pop(z, x), 6) AS iv_slope,
           ROUND(covar_pop(x, y) / var_pop(x), 6) AS ols_slope,
           ROUND(covar_pop(z, x) / var_pop(z), 6) AS first_stage_slope
    FROM pts
    """,
)
def iv_wald_2sls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instrumental-variables estimation, single-instrument Wald/2SLS
    form: β_IV = cov(Z,Y)/cov(Z,X) — when the regressor X is
    endogenous (correlated with the error), an instrument Z that
    moves X but touches Y only THROUGH X identifies the causal slope
    OLS cannot. Reported beside the OLS slope and the first-stage
    slope/covariance (a near-zero first stage flags a weak
    instrument — the diagnostic that must gate any IV claim). The
    nationkey-parity instrument is the fixture's stand-in for a real
    encouragement/assignment variable.

    Scale shape: one join, one agg of covariance moments with
    map-side partials — the entire estimator is five co-moment sums.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pts = o.join(c, o.o_custkey == c.c_custkey).select(
        (F.col("c_nationkey") % 2).cast("double").alias("z"),
        F.col("c_acctbal").alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    return pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.covar_pop("z", "x"), 6).alias("first_stage_cov"),
        F.round(F.covar_pop("z", "y") / F.covar_pop("z", "x"), 6).alias(
            "iv_slope"
        ),
        F.round(F.covar_pop("x", "y") / F.var_pop("x"), 6).alias("ols_slope"),
        F.round(F.covar_pop("z", "x") / F.var_pop("z"), 6).alias(
            "first_stage_slope"
        ),
    )


@query(
    "regression_discontinuity",
    oracle="""
    WITH pts AS (
        SELECT c.c_acctbal AS r, o.o_totalprice AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE abs(c.c_acctbal) <= 2000
    ), fits AS (
        SELECT regr_intercept(y, r) FILTER (WHERE r < 0) AS a_left,
               regr_slope(y, r) FILTER (WHERE r < 0) AS b_left,
               regr_intercept(y, r) FILTER (WHERE r >= 0) AS a_right,
               regr_slope(y, r) FILTER (WHERE r >= 0) AS b_right,
               CAST(COUNT(*) FILTER (WHERE r < 0) AS BIGINT) AS n_left,
               CAST(COUNT(*) FILTER (WHERE r >= 0) AS BIGINT) AS n_right
        FROM pts
    )
    SELECT n_left, n_right,
           ROUND(a_left, 4) AS intercept_left,
           ROUND(a_right, 4) AS intercept_right,
           ROUND(b_left, 6) AS slope_left,
           ROUND(b_right, 6) AS slope_right,
           ROUND(a_right - a_left, 4) AS rdd_jump
    FROM fits
    """,
)
def regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity design: local linear fits on
    each side of the zero-balance cutoff within a ±2000 bandwidth,
    with the treatment-effect estimate read off as the jump between
    the two intercepts AT the cutoff — the quasi-experimental design
    for threshold-assigned treatments (credit granted at a score,
    discounts above a spend), where units just left and just right
    of the cutoff are as-good-as-randomized. Side sample sizes ride
    along (imbalance near the cutoff is the classic manipulation
    red flag a McCrary test formalizes).

    Scale shape: the bandwidth predicate is PUSHED TO THE SCAN (only
    the window around the cutoff is ever read); both side-fits come
    from one FILTERed closed-form OLS agg — a single pass.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pts = (
        o.join(c, o.o_custkey == c.c_custkey)
        .filter(F.abs(F.col("c_acctbal")) <= 2000)
        .select(F.col("c_acctbal").alias("r"), F.col("o_totalprice").alias("y"))
    )
    fits = pts.agg(
        F.expr("regr_intercept(y, r) FILTER (WHERE r < 0)").alias("a_left"),
        F.expr("regr_slope(y, r) FILTER (WHERE r < 0)").alias("b_left"),
        F.expr("regr_intercept(y, r) FILTER (WHERE r >= 0)").alias("a_right"),
        F.expr("regr_slope(y, r) FILTER (WHERE r >= 0)").alias("b_right"),
        F.expr("COUNT(*) FILTER (WHERE r < 0)").cast("long").alias("n_left"),
        F.expr("COUNT(*) FILTER (WHERE r >= 0)").cast("long").alias("n_right"),
    )
    return fits.select(
        "n_left",
        "n_right",
        F.round("a_left", 4).alias("intercept_left"),
        F.round("a_right", 4).alias("intercept_right"),
        F.round("b_left", 6).alias("slope_left"),
        F.round("b_right", 6).alias("slope_right"),
        F.round(F.col("a_right") - F.col("a_left"), 4).alias("rdd_jump"),
    )


# ---------------------------------------------------------------------------
# wave 127: centroid silhouette, 1-D Gaussian-mixture EM
# ---------------------------------------------------------------------------


@query(
    "centroid_silhouette_embedding",
    oracle="""
    WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    c AS (
        SELECT e AS ce,
               CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
        FROM s WHERE vec_id IN (3, 66, 129, 192, 255, 318, 381, 444)
    ), scored AS (
        SELECT s.vec_id, c.cell,
               1000000 - CAST(ROUND(list_cosine_similarity(s.e, c.ce) * 1e6)
                              AS BIGINT) AS dist_ppm
        FROM s CROSS JOIN c
    ), ranked AS (
        SELECT vec_id, cell, dist_ppm,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist_ppm, cell) AS rn
        FROM scored
    ), ab AS (
        SELECT a.vec_id, a.cell,
               a.dist_ppm AS a_dist, b.dist_ppm AS b_dist
        FROM ranked a JOIN ranked b
          ON b.vec_id = a.vec_id AND a.rn = 1 AND b.rn = 2
    )
    SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(AVG(CAST(b_dist - a_dist AS DOUBLE)
                     / greatest(a_dist, b_dist)), 6) AS mean_silhouette
    FROM ab GROUP BY cell
    """,
)
def centroid_silhouette_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-simplified silhouette — the cluster-QUALITY metric the
    clustering family (kmeans assign, semdedup cells, IVF) was
    missing: per vector, a = cosine distance to its own (nearest)
    pinned centroid, b = distance to the second-nearest, and
    s = (b−a)/max(a,b) ∈ [0,1]; per-cell means near 0 mark cells
    whose members sit on a boundary (candidates for splitting), near
    1 mark tight, well-separated cells. Distances are the same exact
    ppm integers as kmeans_embedding_assign, so a and b are
    hash-exact and only the final mean needs rounding.

    Scale shape: same map-side Arrow matmul shape as the assignment
    step (centroids are a broadcast closure; the oracle's cross join
    is the spec); per-vector top-2 is a k-bounded in-row argmin, and
    the census is an 8-row agg.
    """
    from pyspark_movie_recommender_spark.operators.similarity import (
        kmeans_assign,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # kmeans_assign gives the best cell; recompute the top-2 distances
    # with the same pinned centroids via the operator's scoring path
    pins = [3, 66, 129, 192, 255, 318, 381, 444]
    assigned = kmeans_assign(emb, pins, top2=True)
    return assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.round(
            F.avg(
                (F.col("b_dist") - F.col("a_dist")).cast("double")
                / F.greatest(F.col("a_dist"), F.col("b_dist"))
            ),
            6,
        ).alias("mean_silhouette"),
    )


@query(
    "gmm_em_order_values",
    oracle="""
    WITH pts AS (
        SELECT o_totalprice / 100000 AS y FROM orders
    ), init AS (
        SELECT AVG(y) - stddev_pop(y) AS mu1, AVG(y) + stddev_pop(y) AS mu2,
               stddev_pop(y) AS s1, stddev_pop(y) AS s2, 0.5 AS pi2
        FROM pts
    ), e1 AS (
        SELECT y,
               (pi2/s2) * exp(-(y-mu2)*(y-mu2)/(2*s2*s2))
               / ((pi2/s2) * exp(-(y-mu2)*(y-mu2)/(2*s2*s2))
                  + ((1-pi2)/s1) * exp(-(y-mu1)*(y-mu1)/(2*s1*s1))) AS r
        FROM pts, init
    ), m1 AS (
        SELECT SUM(r)/COUNT(*) AS pi2,
               SUM((1-r)*y)/SUM(1-r) AS mu1,
               SUM(r*y)/SUM(r) AS mu2,
               sqrt(SUM((1-r)*y*y)/SUM(1-r)
                    - (SUM((1-r)*y)/SUM(1-r))*(SUM((1-r)*y)/SUM(1-r))) AS s1,
               sqrt(SUM(r*y*y)/SUM(r)
                    - (SUM(r*y)/SUM(r))*(SUM(r*y)/SUM(r))) AS s2
        FROM e1
    ), e2 AS (
        SELECT y,
               (pi2/s2) * exp(-(y-mu2)*(y-mu2)/(2*s2*s2))
               / ((pi2/s2) * exp(-(y-mu2)*(y-mu2)/(2*s2*s2))
                  + ((1-pi2)/s1) * exp(-(y-mu1)*(y-mu1)/(2*s1*s1))) AS r
        FROM pts, m1
    ), m2 AS (
        SELECT SUM(r)/COUNT(*) AS pi2,
               SUM((1-r)*y)/SUM(1-r) AS mu1,
               SUM(r*y)/SUM(r) AS mu2,
               sqrt(SUM((1-r)*y*y)/SUM(1-r)
                    - (SUM((1-r)*y)/SUM(1-r))*(SUM((1-r)*y)/SUM(1-r))) AS s1,
               sqrt(SUM(r*y*y)/SUM(r)
                    - (SUM(r*y)/SUM(r))*(SUM(r*y)/SUM(r))) AS s2
        FROM e2
    ), e3 AS (
        SELECT y,
               (pi2/s2) * exp(-(y-mu2)*(y-mu2)/(2*s2*s2))
               / ((pi2/s2) * exp(-(y-mu2)*(y-mu2)/(2*s2*s2))
                  + ((1-pi2)/s1) * exp(-(y-mu1)*(y-mu1)/(2*s1*s1))) AS r
        FROM pts, m2
    ), m3 AS (
        SELECT SUM(r)/COUNT(*) AS pi2,
               SUM((1-r)*y)/SUM(1-r) AS mu1,
               SUM(r*y)/SUM(r) AS mu2,
               sqrt(SUM((1-r)*y*y)/SUM(1-r)
                    - (SUM((1-r)*y)/SUM(1-r))*(SUM((1-r)*y)/SUM(1-r))) AS s1,
               sqrt(SUM(r*y*y)/SUM(r)
                    - (SUM(r*y)/SUM(r))*(SUM(r*y)/SUM(r))) AS s2
        FROM e3
    )
    SELECT ROUND(pi2, 4) AS weight_hi,
           ROUND(mu1 * 100000, 2) AS mu_low,
           ROUND(mu2 * 100000, 2) AS mu_high,
           ROUND(s1 * 100000, 2) AS sigma_low,
           ROUND(s2 * 100000, 2) AS sigma_high
    FROM m3
    """,
)
def gmm_em_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component 1-D Gaussian-mixture EM on order values: three
    E/M rounds from a moment-based deterministic init (μ = m ∓ s,
    σ = s, π = ½) — soft model-based clustering, where k-means
    (hard assignment) and the histogram (no model) can't separate
    overlapping populations or give a membership probability. The
    per-row E-step responsibility and closed-form weighted-moment
    M-step are identical IEEE dags on both engines, unrolled as CTE
    chains in the oracle (the same discipline as FS-EM, Platt, and
    IRLS).

    Scale shape: three full passes, each one hash agg of seven
    weighted moment sums with map-side partials; parameters are
    driver-side scalars. Round 4/2 on the outputs (EM, like Newton,
    amplifies last-bit summation noise).
    """
    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select((F.col("o_totalprice") / 100000).alias("y")).transform(_ckpt)
    ini = pts.agg(
        F.avg("y").alias("m"), F.stddev_pop("y").alias("s")
    ).first()
    mu1, mu2 = ini.m - ini.s, ini.m + ini.s
    s1 = s2 = ini.s
    pi2 = 0.5
    import math

    for _ in range(3):
        p2 = (F.lit(pi2) / F.lit(s2)) * F.exp(
            -(F.col("y") - F.lit(mu2)) * (F.col("y") - F.lit(mu2))
            / (2 * F.lit(s2) * F.lit(s2))
        )
        p1 = (F.lit(1 - pi2) / F.lit(s1)) * F.exp(
            -(F.col("y") - F.lit(mu1)) * (F.col("y") - F.lit(mu1))
            / (2 * F.lit(s1) * F.lit(s1))
        )
        r = (p2 / (p2 + p1)).alias("r")
        m = pts.select("y", r).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("r").alias("sr"),
            F.sum(F.col("r") * F.col("y")).alias("sry"),
            F.sum(F.col("r") * F.col("y") * F.col("y")).alias("sryy"),
            F.sum(1 - F.col("r")).alias("sq"),
            F.sum((1 - F.col("r")) * F.col("y")).alias("sqy"),
            F.sum((1 - F.col("r")) * F.col("y") * F.col("y")).alias("sqyy"),
        ).first()
        pi2 = m.sr / m.n
        mu1 = m.sqy / m.sq
        mu2 = m.sry / m.sr
        s1 = math.sqrt(m.sqyy / m.sq - mu1 * mu1)
        s2 = math.sqrt(m.sryy / m.sr - mu2 * mu2)
    return pts.sparkSession.createDataFrame(
        [
            (
                round(pi2, 4),
                round(mu1 * 100000, 2),
                round(mu2 * 100000, 2),
                round(s1 * 100000, 2),
                round(s2 * 100000, 2),
            )
        ],
        "weight_hi double, mu_low double, mu_high double,"
        " sigma_low double, sigma_high double",
    )


# ---------------------------------------------------------------------------
# wave 128: column-encoding size advisor, survey sample estimate with FPC
# ---------------------------------------------------------------------------


@query(
    "encoding_size_advisor",
    oracle="""
    WITH cols AS (
        SELECT 'o_orderstatus' AS col, o_orderstatus AS v FROM orders
        UNION ALL
        SELECT 'o_orderpriority', o_orderpriority FROM orders
        UNION ALL
        SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
    ), stats AS (
        SELECT col, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
               CAST(SUM(length(v)) AS BIGINT) AS plain_bytes,
               CAST(SUM(DISTINCT 0) + (
                   SELECT SUM(length(d.v)) FROM (
                       SELECT DISTINCT col AS c2, v FROM cols
                   ) d WHERE d.c2 = col
               ) AS BIGINT) AS dict_value_bytes
        FROM cols GROUP BY col
    )
    SELECT col, n, n_distinct, plain_bytes,
           CAST(dict_value_bytes
                + (n * CAST(ceil(ln(n_distinct + 1) / ln(2)) AS BIGINT) + 7)
                  // 8 AS BIGINT) AS dict_bytes,
           CASE WHEN dict_value_bytes
                     + (n * CAST(ceil(ln(n_distinct + 1) / ln(2)) AS BIGINT)
                        + 7) // 8 < plain_bytes
                THEN 'dictionary' ELSE 'plain' END AS recommendation
    FROM stats
    """,
)
def encoding_size_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-encoding advisor — the layout decision parquet writers
    make per column, surfaced as a query: for each candidate column,
    the PLAIN size (total value bytes) versus the DICTIONARY size
    (distinct value bytes + n·⌈log₂(card+1)⌉ bits of codes), with the
    cheaper one recommended. Low-cardinality flags dictionary-encode
    to a few percent of plain; near-unique keys don't — the advisor
    shows exactly where the crossover sits. Completes the physical-
    layout family (zorder clustering, compaction packing, join-size
    estimation) with the encoding dimension.

    Exactness: everything is integer byte arithmetic from exact
    counts; the only float is the log₂ inside a ceil, identical on
    both engines for these magnitudes.

    Scale shape: one unpivoted pass with per-column hash aggs
    (COUNT DISTINCT per column is the standard column-stats scan);
    at warehouse scale this reads parquet metadata instead.
    """
    orders = load_table(spark, sf_dir, "orders")

    def col_stats(name: str, col):
        v = col.cast("string")
        d = orders.select(v.alias("v")).groupBy("v").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        return d.agg(
            F.lit(name).alias("col"),
            F.sum("c").cast("long").alias("n"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.length("v") * F.col("c")).cast("long").alias("plain_bytes"),
            F.sum(F.length("v")).cast("long").alias("dict_value_bytes"),
        )

    stats = (
        col_stats("o_orderstatus", F.col("o_orderstatus"))
        .unionByName(col_stats("o_orderpriority", F.col("o_orderpriority")))
        .unionByName(col_stats("o_custkey", F.col("o_custkey")))
    )
    code_bits = F.ceil(
        F.log(F.col("n_distinct").cast("double") + 1) / float(__import__("math").log(2))
    ).cast("long")
    dict_bytes = (
        F.col("dict_value_bytes")
        + F.expr(
            "(n * CAST(ceil(ln(n_distinct + 1) / ln(2)) AS BIGINT) + 7) div 8"
        )
    ).cast("long")
    return stats.select(
        "col",
        "n",
        "n_distinct",
        "plain_bytes",
        dict_bytes.alias("dict_bytes"),
        F.when(dict_bytes < F.col("plain_bytes"), "dictionary")
        .otherwise("plain")
        .alias("recommendation"),
    )


@query(
    "survey_sample_estimate",
    oracle="""
    WITH tagged AS (
        SELECT o_totalprice AS y,
               CASE WHEN ((o_orderkey * 2654435761) % 4294967296) % 10 = 0
                    THEN 1 ELSE 0 END AS sampled
        FROM orders
    ), pop AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pop,
               ROUND(AVG(y), 4) AS true_mean
        FROM tagged
    ), samp AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_s,
               AVG(y) AS ybar,
               var_samp(y) AS s2
        FROM tagged WHERE sampled = 1
    )
    SELECT n_pop, n_s, true_mean,
           ROUND(ybar, 4) AS sample_mean,
           ROUND(sqrt((1.0 - CAST(n_s AS DOUBLE) / n_pop) * s2 / n_s), 4)
               AS se_fpc,
           CAST(CASE WHEN abs(ybar - true_mean)
                          <= 1.96 * sqrt((1.0 - CAST(n_s AS DOUBLE) / n_pop)
                                         * s2 / n_s)
                     THEN 1 ELSE 0 END AS BIGINT) AS ci_covers_truth
    FROM pop, samp
    """,
)
def survey_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Design-based survey estimation from a 10% hash sample (SRSWOR):
    the sample mean of order value with its FINITE-POPULATION-
    corrected standard error √((1−f)·s²/n) — the √(1−f) shrink is
    what textbook SEs miss when the sample is a meaningful fraction
    of the population, exactly the warehouse situation (you often
    sample 10-50% for expensive follow-up scans). The true mean rides
    along with a 95%-CI coverage flag — the design-based loop closed
    inside one query. Completes the survey-statistics pair begun by
    Neyman allocation (how much to sample) with the estimator side
    (what the sample tells you).

    Scale shape: one tagging pass (hash bit, no RNG state), two
    census aggs. The sample is deterministic, so the query is
    reproducible and oracle-checkable end to end.
    """
    orders = load_table(spark, sf_dir, "orders")
    tagged = orders.select(
        F.col("o_totalprice").alias("y"),
        F.when(
            ((F.col("o_orderkey") * 2654435761) % 4294967296) % 10 == 0, 1
        )
        .otherwise(0)
        .alias("sampled"),
    )
    pop = tagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_pop"),
        F.round(F.avg("y"), 4).alias("true_mean"),
    )
    samp = tagged.filter(F.col("sampled") == 1).agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.avg("y").alias("ybar"),
        F.var_samp("y").alias("s2"),
    )
    se = F.sqrt(
        (1.0 - F.col("n_s").cast("double") / F.col("n_pop"))
        * F.col("s2")
        / F.col("n_s")
    )
    return pop.crossJoin(F.broadcast(samp)).select(
        "n_pop",
        "n_s",
        "true_mean",
        F.round("ybar", 4).alias("sample_mean"),
        F.round(se, 4).alias("se_fpc"),
        F.when(F.abs(F.col("ybar") - F.col("true_mean")) <= 1.96 * se, 1)
        .otherwise(0)
        .cast("long")
        .alias("ci_covers_truth"),
    )


# ---------------------------------------------------------------------------
# wave 129: sketch accuracy audit
# ---------------------------------------------------------------------------


@query("sketch_accuracy_audit")
def sketch_accuracy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy audit of the engine's approximate aggregates against
    their exact twins ON THE SAME DATA — the trust-but-verify query
    that should ship beside any sketch rollout: HyperLogLog++
    distinct counts (default 5% rsd) vs COUNT(DISTINCT), and
    approx_percentile (rank error ≤ n/accuracy) vs percentile_disc,
    each with its observed error and an in-query within-bound flag.
    Rows-only by design (quantile-sketch merges are partition-order
    sensitive); the law test pins every flag to 1.

    Scale shape: the approximate side is the point — HLL and KLL-
    style summaries are map-side-mergeable fixed-size state where the
    exact twins shuffle the full key space / sort groups. The audit
    costs one extra exact pass, which is exactly what you pay ONCE
    before trusting the sketch everywhere.
    """
    orders = load_table(spark, sf_dir, "orders")
    both = orders.agg(
        F.countDistinct("o_custkey").cast("double").alias("exact_distinct"),
        F.approx_count_distinct("o_custkey").cast("double").alias(
            "approx_distinct"
        ),
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)"
            " AS DOUBLE)"
        ).alias("exact_p50"),
        F.expr("approx_percentile(o_totalprice, 0.5, 1000)").alias(
            "approx_p50"
        ),
        F.expr(
            "CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)"
            " AS DOUBLE)"
        ).alias("exact_p90"),
        F.expr("approx_percentile(o_totalprice, 0.9, 1000)").alias(
            "approx_p90"
        ),
        F.count(F.lit(1)).cast("double").alias("n"),
    )
    # second pass: exact ranks of the approximate percentile answers,
    # for the rank-error bound |rank(approx_pXX) − p·n| ≤ n/accuracy
    ranks = orders.crossJoin(F.broadcast(both)).agg(
        F.sum(
            F.when(F.col("o_totalprice") <= F.col("approx_p50"), 1).otherwise(0)
        )
        .cast("double")
        .alias("rank_p50"),
        F.sum(
            F.when(F.col("o_totalprice") <= F.col("approx_p90"), 1).otherwise(0)
        )
        .cast("double")
        .alias("rank_p90"),
        F.first("exact_distinct").alias("exact_distinct"),
        F.first("approx_distinct").alias("approx_distinct"),
        F.first("exact_p50").alias("exact_p50"),
        F.first("approx_p50").alias("approx_p50"),
        F.first("exact_p90").alias("exact_p90"),
        F.first("approx_p90").alias("approx_p90"),
        F.first("n").alias("n"),
    )
    # one row feeding three metric branches: without the ckpt each
    # union arm re-runs BOTH exact passes over orders (6 scans total)
    ranks = _ckpt(ranks)

    def metric(name, exact, approx, bound_ok):
        return ranks.select(
            F.lit(name).alias("metric"),
            F.round(exact, 2).alias("exact_value"),
            F.round(approx, 2).alias("approx_value"),
            F.round(F.abs(approx - exact), 2).alias("abs_error"),
            bound_ok.cast("long").alias("within_bound"),
        )

    hll = metric(
        "hll_distinct_custkey",
        F.col("exact_distinct"),
        F.col("approx_distinct"),
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            <= 3 * 0.05 * F.col("exact_distinct")
        ),
    )
    p50 = metric(
        "approx_percentile_p50",
        F.col("exact_p50"),
        F.col("approx_p50"),
        (
            F.abs(F.col("rank_p50") - 0.5 * F.col("n"))
            <= F.col("n") / 1000 + 1
        ),
    )
    p90 = metric(
        "approx_percentile_p90",
        F.col("exact_p90"),
        F.col("approx_p90"),
        (
            F.abs(F.col("rank_p90") - 0.9 * F.col("n"))
            <= F.col("n") / 1000 + 1
        ),
    )
    return hll.unionByName(p50).unionByName(p90)


# ---------------------------------------------------------------------------
# wave 130: D'Hondt divisor apportionment, data-completeness calendar
# ---------------------------------------------------------------------------


@query(
    "dhondt_vs_hamilton",
    oracle="""
    WITH rev AS (
        SELECT n.n_name, n.n_nationkey,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name, n.n_nationkey
    ), quot AS (
        SELECT n_name, n_nationkey, cents, d,
               CAST(cents AS DOUBLE) / d AS q
        FROM rev, (SELECT unnest(generate_series(1, 100)) AS d)
    ), awarded AS (
        SELECT n_name, n_nationkey FROM (
            SELECT *, ROW_NUMBER() OVER (
                ORDER BY q DESC, n_nationkey, d) AS rnk
            FROM quot
        ) WHERE rnk <= 100
    ), dh AS (
        SELECT n_name, n_nationkey, CAST(COUNT(*) AS BIGINT) AS dhondt_seats
        FROM awarded GROUP BY n_name, n_nationkey
    ), tot AS (
        SELECT CAST(SUM(cents) AS BIGINT) AS t FROM rev
    ), ham AS (
        SELECT n_name, n_nationkey,
               (cents * 100) // t AS floor_seats,
               (cents * 100) % t  AS rem
        FROM rev, tot
    ), short AS (
        SELECT 100 - CAST(SUM(floor_seats) AS BIGINT) AS k FROM ham
    ), hamilton AS (
        SELECT n_name, n_nationkey,
               CAST(floor_seats + CASE WHEN rnk <= k THEN 1 ELSE 0 END
                    AS BIGINT) AS hamilton_seats
        FROM (
            SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, n_nationkey)
                       AS rnk
            FROM ham
        ), short
    )
    SELECT r.n_name,
           COALESCE(d.dhondt_seats, 0) AS dhondt_seats,
           h.hamilton_seats,
           COALESCE(d.dhondt_seats, 0) - h.hamilton_seats AS method_gap
    FROM rev r
    LEFT JOIN dh d ON d.n_nationkey = r.n_nationkey
    JOIN hamilton h ON h.n_nationkey = r.n_nationkey
    """,
)
def dhondt_vs_hamilton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Divisor-method apportionment (D'Hondt/Jefferson) beside the
    largest-remainder method on the SAME revenue totals: D'Hondt
    awards each of 100 seats to the highest remaining quotient
    cents/d (d = 1..seats) — a pure top-k over the nation×divisor
    fan-out, no iteration — and the per-nation gap against Hamilton
    shows the methods' systematic difference (divisor methods favor
    large parties and are immune to the Alabama paradox that
    largest-remainder suffers). Ties in the quotient ranking break by
    (nationkey, divisor); the quotients are exact-dividend doubles so
    both engines rank identically.

    Scale shape: one fact agg to |nations| rows, a 100×|nations|
    quotient fan-out, and a TakeOrderedAndProject top-100 — the
    divisor method IS a top-k query, which is the point.
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
        .transform(_ckpt)
    )
    divisors = spark.range(1, 101).select(F.col("id").alias("d"))
    quot = rev.crossJoin(F.broadcast(divisors)).select(
        "n_name",
        "n_nationkey",
        "d",
        (F.col("cents").cast("double") / F.col("d")).alias("q"),
    )
    awarded = (
        quot.withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("q").desc(), "n_nationkey", "d")
            ),
        )
        .filter(F.col("rnk") <= 100)
        .groupBy("n_nationkey")
        .agg(F.count(F.lit(1)).cast("long").alias("dhondt_seats"))
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("t"))
    ham = rev.crossJoin(F.broadcast(tot)).select(
        "n_name",
        "n_nationkey",
        F.expr("(cents * 100) div t").alias("floor_seats"),
        F.expr("(cents * 100) % t").alias("rem"),
    )
    short = ham.agg((F.lit(100) - F.sum("floor_seats")).cast("long").alias("k"))
    hamilton = (
        ham.withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("rem").desc(), "n_nationkey")
            ),
        )
        .crossJoin(F.broadcast(short))
        .select(
            "n_nationkey",
            (
                F.col("floor_seats")
                + F.when(F.col("rnk") <= F.col("k"), 1).otherwise(0)
            )
            .cast("long")
            .alias("hamilton_seats"),
        )
    )
    return (
        rev.join(awarded, "n_nationkey", "left")
        .join(hamilton, "n_nationkey")
        .select(
            "n_name",
            F.coalesce(F.col("dhondt_seats"), F.lit(0))
            .cast("long")
            .alias("dhondt_seats"),
            "hamilton_seats",
            (
                F.coalesce(F.col("dhondt_seats"), F.lit(0))
                - F.col("hamilton_seats")
            )
            .cast("long")
            .alias("method_gap"),
        )
    )


@query(
    "data_completeness_calendar",
    oracle="""
    WITH bounds AS (
        SELECT MIN(CAST(epoch_us(ts) // 86400000000 AS BIGINT)) AS d0,
               MAX(CAST(epoch_us(ts) // 86400000000 AS BIGINT)) AS d1
        FROM events
    ), grid AS (
        SELECT t.event_type, g.day
        FROM (SELECT DISTINCT event_type FROM events) t,
             (SELECT unnest(generate_series(
                  (SELECT d0 FROM bounds),
                  (SELECT d1 FROM bounds))) AS day) g
    ), observed AS (
        SELECT DISTINCT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        FROM events
    )
    SELECT g.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days_expected,
           CAST(SUM(CASE WHEN o.day IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_days_present,
           CAST(SUM(CASE WHEN o.day IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_days_missing,
           CAST(SUM(CASE WHEN o.day IS NOT NULL THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS completeness_ppm
    FROM grid g LEFT JOIN observed o
      ON o.event_type = g.event_type AND o.day = g.day
    GROUP BY g.event_type
    """,
)
def data_completeness_calendar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness/completeness monitoring: the full calendar grid
    between the corpus's first and last day, crossed with every event
    type, left-joined against the days actually observed — missing
    (type, day) cells are exactly the backfill work queue, and the
    per-type completeness ppm is the SLO number a data-platform
    dashboard tracks. The operational sibling of
    forward_fill_user_value (which repairs gaps) — this one FINDS
    them.

    Scale shape: the grid is |types|×|days| (tiny, from a broadcast
    bounds scalar); observed days collapse through a distinct; the
    audit join is grid-sized, never fact-sized.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    pts = ev.select("event_type", epoch_day("ts").alias("day"))
    bounds = pts.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    types = pts.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    observed = pts.distinct().withColumn("present", F.lit(1))
    return (
        grid.join(observed, ["event_type", "day"], "left")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days_expected"),
            F.sum(F.coalesce(F.col("present"), F.lit(0)))
            .cast("long")
            .alias("n_days_present"),
            F.sum(F.when(F.col("present").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_days_missing"),
            F.expr(
                "sum(coalesce(present, 0)) * 1000000L div count(1)"
            )
            .cast("long")
            .alias("completeness_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# wave 131: Erlang-C staffing, ABC-XYZ inventory matrix
# ---------------------------------------------------------------------------


@query(
    "erlang_c_staffing",
    oracle="""
    WITH rate AS (
        SELECT CAST(COUNT(*) AS DOUBLE)
               / ((MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / 3600000000.0)
                   AS lam
        FROM events
    ), params AS (
        SELECT lam, lam / 60.0 AS a FROM rate
    ), servers AS (
        SELECT unnest(generate_series(1, 8)) AS c
    ), terms AS (
        SELECT s.c, p.a, p.lam,
               (SELECT SUM(pow(p.a, k)
                           / CAST(factorial(CAST(k AS INTEGER)) AS DOUBLE))
                FROM (SELECT unnest(generate_series(0, s.c - 1)) AS k))
                   AS sum_terms,
               pow(p.a, s.c)
               / CAST(factorial(CAST(s.c AS INTEGER)) AS DOUBLE) AS top
        FROM servers s, params p WHERE s.c > p.a
    )
    SELECT c, ROUND(lam, 4) AS arrivals_per_hour, ROUND(a, 4) AS offered_load,
           ROUND((top * c / (c - a)) / (sum_terms + top * c / (c - a)), 6)
               AS wait_probability,
           CAST(CASE WHEN (top * c / (c - a))
                          / (sum_terms + top * c / (c - a)) < 0.2
                     THEN 1 ELSE 0 END AS BIGINT) AS meets_slo
    FROM terms
    """,
)
def erlang_c_staffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erlang-C staffing calculator: from the corpus's observed arrival
    rate (events/hour) and a 60/hour per-server service rate, the
    probability an arrival must WAIT for each staffing level c —
    P_wait = (aᶜ/c!)·(c/(c−a)) / (Σ_{k<c} aᵏ/k! + same), the queueing
    formula behind every support-desk and worker-pool sizing
    decision, with the "meets 20% wait SLO" flag marking the minimum
    viable c. Powers and factorials stay exact for c ≤ 8 (factorial
    is integer-exact, pow cancels against it in doubles) and both
    engines evaluate the identical dag; only c > a rows are emitted
    (the queue is unstable at or below the offered load).

    Scale shape: one census agg for the arrival rate; the Erlang
    table is an 8-row fan-out with an in-row bounded sum. The
    fact-sized work is exactly one pass.
    """
    ev = load_table(spark, sf_dir, "events")
    rate = ev.agg(
        (
            F.count(F.lit(1)).cast("double")
            / (
                (
                    F.unix_micros(F.max("ts").cast("timestamp"))
                    - F.unix_micros(F.min("ts").cast("timestamp"))
                )
                / 3600000000.0
            )
        ).alias("lam")
    )
    params = rate.select("lam", (F.col("lam") / 60.0).alias("a"))
    servers = spark.range(1, 9).select(F.col("id").cast("int").alias("c"))
    terms = (
        servers.crossJoin(F.broadcast(params))
        .filter(F.col("c") > F.col("a"))
        .select(
            "c",
            "a",
            "lam",
            F.expr(
                "aggregate(sequence(0, c - 1),"
                " CAST(0.0 AS DOUBLE),"
                " (acc, k) -> acc + pow(a, k) / CAST(factorial(k) AS DOUBLE))"
            ).alias("sum_terms"),
            F.expr("pow(a, c) / CAST(factorial(c) AS DOUBLE)").alias("top"),
        )
    )
    pw = (F.col("top") * F.col("c") / (F.col("c") - F.col("a"))) / (
        F.col("sum_terms") + F.col("top") * F.col("c") / (F.col("c") - F.col("a"))
    )
    return terms.select(
        "c",
        F.round("lam", 4).alias("arrivals_per_hour"),
        F.round("a", 4).alias("offered_load"),
        F.round(pw, 6).alias("wait_probability"),
        F.when(pw < 0.2, 1).otherwise(0).cast("long").alias("meets_slo"),
    )


@query(
    "abc_xyz_matrix",
    oracle="""
    WITH weekly AS (
        SELECT l_partkey,
               CAST(epoch_us(l_shipdate) // 604800000000 AS BIGINT) AS week,
               SUM(l_quantity) AS qty
        FROM lineitem GROUP BY l_partkey, week
    ), per_part AS (
        SELECT l_partkey,
               SUM(qty) AS total_qty,
               CASE WHEN AVG(qty) > 0 AND COUNT(*) > 1
                    THEN stddev_pop(qty) / AVG(qty) END AS cv
        FROM weekly GROUP BY l_partkey
    ), revr AS (
        SELECT p.l_partkey, p.total_qty, p.cv,
               SUM(p.total_qty) OVER (ORDER BY p.total_qty DESC, p.l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_qty,
               SUM(p.total_qty) OVER () AS tot_qty
        FROM per_part p
    ), classed AS (
        SELECT CASE WHEN cum_qty * 100 <= tot_qty * 80 THEN 'A'
                    WHEN cum_qty * 100 <= tot_qty * 95 THEN 'B'
                    ELSE 'C' END AS abc,
               CASE WHEN cv IS NULL THEN 'Z'
                    WHEN cv < 0.5 THEN 'X'
                    WHEN cv < 1.0 THEN 'Y'
                    ELSE 'Z' END AS xyz
        FROM revr
    )
    SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM classed GROUP BY abc, xyz
    """,
)
def abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-XYZ inventory matrix: volume class (A/B/C by cumulative
    80/95% quantity share, as in abc_part_classification) crossed
    with demand-VARIABILITY class (X/Y/Z by the coefficient of
    variation of weekly demand; single-week parts are Z) — the 9-cell
    planning grid behind stocking policy: AX (high volume, steady)
    gets automation, CZ (low volume, erratic) gets make-to-order.
    Volume alone (ABC) misses that a steady C-part is easier to plan
    than an erratic A-part.

    Scale shape: weekly demand is one fact hash agg; per-part CV a
    second; the ABC cumulative runs over the per-part relation (the
    same window shape as the Pareto query); census is 9 rows. Note
    the cum window is per-part-sized, not fact-sized.
    """
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    weekly = li.groupBy(
        "l_partkey",
        F.expr(
            "CAST(unix_micros(CAST(l_shipdate AS TIMESTAMP))"
            " div 604800000000 AS BIGINT)"
        ).alias("week"),
    ).agg(F.sum("l_quantity").alias("qty"))
    per_part = weekly.groupBy("l_partkey").agg(
        F.sum("qty").alias("total_qty"),
        F.when(
            (F.avg("qty") > 0) & (F.count(F.lit(1)) > 1),
            F.stddev_pop("qty") / F.avg("qty"),
        ).alias("cv"),
    )
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_order_stats,
    )

    # cumulative demand over the per-part summary (~10⁹ rows at
    # 100 TB) via the distributed rank machinery — never a
    # single-task global window.
    tot = per_part.agg(F.sum("total_qty").alias("tot_qty"))
    cum = distributed_order_stats(
        per_part.withColumn("__nq", (-F.col("total_qty")).cast("double")),
        "__nq",
        ["l_partkey"],
        cumsum_cols={"cum_qty": "total_qty"},
    ).drop("__nq")
    revr = cum.crossJoin(F.broadcast(tot)).select(
        "total_qty", "cv", "tot_qty", "cum_qty"
    )
    classed = revr.select(
        F.when(F.col("cum_qty") * 100 <= F.col("tot_qty") * 80, "A")
        .when(F.col("cum_qty") * 100 <= F.col("tot_qty") * 95, "B")
        .otherwise("C")
        .alias("abc"),
        F.when(F.col("cv").isNull(), "Z")
        .when(F.col("cv") < 0.5, "X")
        .when(F.col("cv") < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return classed.groupBy("abc", "xyz").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )


# ---------------------------------------------------------------------------
# wave 132: newsvendor stocking, typo-pair mining
# ---------------------------------------------------------------------------


@query(
    "newsvendor_stock_levels",
    oracle="""
    WITH weekly AS (
        SELECT p.p_brand,
               CAST(epoch_us(l.l_shipdate) // 604800000000 AS BIGINT) AS week,
               SUM(l.l_quantity) AS demand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY p.p_brand, week
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_weeks,
           ROUND(AVG(demand), 2) AS mean_demand,
           ROUND(percentile_disc(0.5) WITHIN GROUP (ORDER BY demand), 2)
               AS stock_cf50,
           ROUND(percentile_disc(0.8) WITHIN GROUP (ORDER BY demand), 2)
               AS stock_cf80,
           ROUND(percentile_disc(0.95) WITHIN GROUP (ORDER BY demand), 2)
               AS stock_cf95
    FROM weekly GROUP BY p_brand
    """,
)
def newsvendor_stock_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor optimal stocking by critical fractile: the
    profit-maximizing stock for one period is the demand QUANTILE at
    c_u/(c_u+c_o) (underage vs overage cost), so each brand's weekly
    demand distribution is read at fractiles 0.5/0.8/0.95 — the three
    canonical cost regimes (balanced, underage-dominant, service-
    critical) — with the mean beside them showing exactly how badly
    "stock the average" undershoots for skewed demand. The
    decision-theory capstone of the inventory family (ABC volume,
    XYZ variability → THIS is how much to actually stock).

    Determinism: percentile_disc picks actual demand values; weekly
    sums are doubles rounded at the edge.

    Scale shape: one fact hash agg to |brands|×|weeks|, then
    per-brand sorted percentiles over week-count-bounded groups.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    weekly = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            "p_brand",
            F.expr(
                "CAST(unix_micros(CAST(l_shipdate AS TIMESTAMP))"
                " div 604800000000 AS BIGINT)"
            ).alias("week"),
        )
        .agg(F.sum("l_quantity").alias("demand"))
    )
    return weekly.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n_weeks"),
        F.round(F.avg("demand"), 2).alias("mean_demand"),
        F.round(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY demand)"), 2
        ).alias("stock_cf50"),
        F.round(
            F.expr("percentile_disc(0.8) WITHIN GROUP (ORDER BY demand)"), 2
        ).alias("stock_cf80"),
        F.round(
            F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY demand)"), 2
        ).alias("stock_cf95"),
    )


@query(
    "typo_pair_mining",
    oracle="""
    WITH raw AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w0
        FROM documents WHERE trim(text) <> ''
    ), tok AS (
        -- deterministic planted corruption (same discipline as
        -- robust_json_ingest): docs with doc_id % 50 = 0 lose the 2nd
        -- character of every token of length >= 4
        SELECT CASE WHEN doc_id % 50 = 0 AND length(w0) >= 4
                    THEN substr(w0, 1, 1) || substr(w0, 3)
                    ELSE w0 END AS w
        FROM raw
    ), vocab AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
        FROM tok GROUP BY w HAVING length(w) >= 4
    ), cand AS (
        SELECT a.w AS rare_form, a.freq AS rare_freq,
               b.w AS common_form, b.freq AS common_freq
        FROM vocab a JOIN vocab b
          ON substr(a.w, 1, 1) = substr(b.w, 1, 1)
         AND abs(length(a.w) - length(b.w)) <= 1
         AND a.w <> b.w
         AND a.freq * 10 < b.freq
        WHERE levenshtein(a.w, b.w) = 1
    )
    SELECT rare_form, common_form, rare_freq, common_freq
    FROM cand
    ORDER BY common_freq DESC, rare_form, common_form LIMIT 25
    """,
)
def typo_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-candidate mining from the corpus's own vocabulary: pairs
    of words at edit distance 1 where one form is ≥10× rarer than the
    other — the spell-correction signal ('recieve' vs 'receive')
    every corpus-cleaning pipeline mines before building a
    normalization map, with the frequency asymmetry separating typos
    from legitimate near-neighbors ('cat'/'cab'). Blocked on (first
    character, length±1) so the vocab self-join stays sub-quadratic —
    the same blocking discipline as the record-linkage family, on
    words instead of records. The synthetic corpus has no natural
    typos, so the ingest plants them deterministically (2% of docs
    lose each token's 2nd character — the robust_json_ingest
    corruption discipline) and the miner must recover exactly those
    (corrupted, original) pairs.

    Scale shape: explode → vocab-sized (word, freq) relation; the
    blocked self-join runs over first-letter×length buckets of the
    VOCABULARY (≪ corpus); levenshtein only on candidates that
    survive blocking. Top-25 by the common form's frequency.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    raw = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("w0")
    )
    tok = raw.select(
        F.when(
            (F.col("doc_id") % 50 == 0) & (F.length("w0") >= 4),
            F.concat(F.substring("w0", 1, 1), F.expr("substr(w0, 3)")),
        )
        .otherwise(F.col("w0"))
        .alias("w")
    )
    vocab = (
        tok.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .filter(F.length("w") >= 4)
    )
    a = vocab.select(
        F.col("w").alias("rare_form"),
        F.col("freq").alias("rare_freq"),
        F.substring("w", 1, 1).alias("blk"),
        F.length("w").alias("la"),
    )
    b = vocab.select(
        F.col("w").alias("common_form"),
        F.col("freq").alias("common_freq"),
        F.substring("w", 1, 1).alias("blk"),
        F.length("w").alias("lb"),
    )
    cand = (
        a.join(b, "blk")
        .filter(
            (F.abs(F.col("la") - F.col("lb")) <= 1)
            & (F.col("rare_form") != F.col("common_form"))
            & (F.col("rare_freq") * 10 < F.col("common_freq"))
        )
        .filter(F.levenshtein("rare_form", "common_form") == 1)
    )
    return (
        cand.select("rare_form", "common_form", "rare_freq", "common_freq")
        .orderBy(
            F.col("common_freq").desc(), "rare_form", "common_form"
        )
        .limit(25)
    )


# ---------------------------------------------------------------------------
# wave 133: Bass diffusion fit, adstock carryover regression
# ---------------------------------------------------------------------------


@query(
    "bass_diffusion_fit",
    oracle="""
    WITH first_seen AS (
        SELECT user_id,
               MIN(CAST(epoch_us(ts) // 86400000000 AS BIGINT)) AS day
        FROM events GROUP BY user_id
    ), m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS mm FROM first_seen
    ), daily AS (
        SELECT day, CAST(COUNT(*) AS DOUBLE) AS n_new
        FROM first_seen GROUP BY day
    ), cum AS (
        SELECT day, n_new,
               SUM(n_new) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - n_new AS n_prev
        FROM daily
    ), regs AS (
        SELECT n_new AS y, (mm - n_prev) AS x1,
               n_prev * (mm - n_prev) / mm AS x2
        FROM cum, m
    ), nf AS (
        SELECT SUM(x1*x1) AS a11, SUM(x1*x2) AS a12, SUM(x2*x2) AS a22,
               SUM(x1*y) AS b1, SUM(x2*y) AS b2
        FROM regs
    )
    SELECT ROUND((b1*a22 - b2*a12) / NULLIF(a11*a22 - a12*a12, 0), 6)
               AS p_innovation,
           ROUND((b2*a11 - b1*a12) / NULLIF(a11*a22 - a12*a12, 0), 6)
               AS q_imitation,
           ROUND(ln(((b2*a11 - b1*a12) / NULLIF(a11*a22 - a12*a12, 0))
                    / NULLIF((b1*a22 - b2*a12)
                             / NULLIF(a11*a22 - a12*a12, 0), 0))
                 / NULLIF(((b1*a22 - b2*a12) + (b2*a11 - b1*a12))
                    / NULLIF(a11*a22 - a12*a12, 0), 0), 4) AS peak_day_offset
    FROM nf
    """,
)
def bass_diffusion_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion model of user adoption: daily NEW users follow
    n_t = p·(M−N) + q·N(M−N)/M (innovators find the product on their
    own at rate p; imitators at rate q proportional to who's already
    in), with M fixed at the observed adopter population and (p, q)
    from a closed-form two-regressor least squares (2×2 normal
    equations — no intercept, no iterative fit). The implied peak-
    adoption time ln(q/p)/(p+q) is the launch-planning headline. The
    growth-curve companion to growth_accounting (flows) and
    cohort_retention (decay).

    Scale shape: first-seen collapse is one hash agg; the day series,
    cumulative window, and normal-equation sums are all days-bounded.
    Round 6/4 absorbs summation order.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    first_seen = ev.select("user_id", epoch_day("ts").alias("day")).groupBy(
        "user_id"
    ).agg(F.min("day").alias("day"))
    m = first_seen.agg(F.count(F.lit(1)).cast("double").alias("mm"))
    daily = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).cast("double").alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = daily.select(
        "day",
        "n_new",
        (F.sum("n_new").over(w) - F.col("n_new")).alias("n_prev"),
    )
    regs = cum.crossJoin(F.broadcast(m)).select(
        F.col("n_new").alias("y"),
        (F.col("mm") - F.col("n_prev")).alias("x1"),
        (F.col("n_prev") * (F.col("mm") - F.col("n_prev")) / F.col("mm")).alias(
            "x2"
        ),
    )
    nf = regs.agg(
        F.sum(F.col("x1") * F.col("x1")).alias("a11"),
        F.sum(F.col("x1") * F.col("x2")).alias("a12"),
        F.sum(F.col("x2") * F.col("x2")).alias("a22"),
        F.sum(F.col("x1") * F.col("y")).alias("b1"),
        F.sum(F.col("x2") * F.col("y")).alias("b2"),
    )
    # NULLIF-guard the determinant: a degenerate design (every adopter
    # first seen on one day -> x2 identically 0) must yield NULLs, not
    # a divide-by-zero under ANSI mode
    det = F.nullif(
        F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12"), F.lit(0.0)
    )
    p = (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")) / det
    q = (F.col("b2") * F.col("a11") - F.col("b1") * F.col("a12")) / det
    return nf.select(
        F.round(p, 6).alias("p_innovation"),
        F.round(q, 6).alias("q_imitation"),
        F.round(
            F.log(q / F.nullif(p, F.lit(0.0)))
            / F.nullif(p + q, F.lit(0.0)),
            4,
        ).alias("peak_day_offset"),
    )


@query(
    "adstock_regression",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               ROUND(SUM(CASE WHEN event_type = 'view' THEN 1.0 ELSE 0 END),
                     6) AS views,
               ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value
                              ELSE 0 END), 6) AS revenue
        FROM events GROUP BY day
    ), idx AS (
        SELECT day, views, revenue,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
        FROM daily
    ), rec AS (
        SELECT i, views, revenue, CAST(views AS DOUBLE) AS adstock
        FROM idx WHERE i = 1
        UNION ALL
        SELECT d.i, d.views, d.revenue, d.views + 0.5 * r.adstock
        FROM rec r JOIN idx d ON d.i = r.i + 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(regr_slope(revenue, adstock), 6) AS adstock_slope,
           ROUND(regr_slope(revenue, views), 6) AS raw_slope,
           ROUND(corr(revenue, adstock), 6) AS adstock_corr,
           ROUND(corr(revenue, views), 6) AS raw_corr
    FROM rec
    """,
)
def adstock_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adstock (advertising-carryover) regression — the marketing-mix
    primitive: daily view counts are transformed by the geometric
    carryover a_t = v_t + λ·a_{t−1} (λ=0.5, the memory of past
    exposure), then daily purchase revenue is regressed on the
    adstocked series, with the raw-views slope and correlations
    beside it to show what carryover adds. The recurrence is the same
    in-row HOF fold discipline as Holt smoothing (dyadic λ, daily
    inputs rounded first), oracle-checked by a recursive CTE.

    Scale shape: fact → |days| agg; the fold runs in-row on the
    collected day-sorted series (days-bounded); the regression is
    one closed-form agg over |days| rows.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    daily = ev.groupBy(epoch_day("ts").alias("day")).agg(
        F.round(
            F.sum(F.when(F.col("event_type") == "view", 1.0).otherwise(0)), 6
        ).alias("views"),
        F.round(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
                .otherwise(0)
            ),
            6,
        ).alias("revenue"),
    )
    series = daily.groupBy().agg(
        F.expr(
            "array_sort(collect_list(named_struct("
            "'day', day, 'views', views, 'revenue', revenue)))"
        ).alias("arr")
    )
    unfolded = series.select(
        F.explode(
            F.expr(
                """
                zip_with(
                  arr,
                  aggregate(
                    slice(arr, 2, greatest(size(arr) - 1, 0)),
                    array(CAST(arr[0].views AS DOUBLE)),
                    (acc, x) -> array_append(
                        acc, x.views + 0.5 * element_at(acc, -1))),
                  (a, s) -> named_struct(
                      'revenue', a.revenue, 'views', a.views, 'adstock', s))
                """
            )
        ).alias("r")
    ).select("r.revenue", "r.views", "r.adstock")
    return unfolded.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.expr("regr_slope(revenue, adstock)"), 6).alias(
            "adstock_slope"
        ),
        F.round(F.expr("regr_slope(revenue, views)"), 6).alias("raw_slope"),
        F.round(F.corr("revenue", "adstock"), 6).alias("adstock_corr"),
        F.round(F.corr("revenue", "views"), 6).alias("raw_corr"),
    )


# ---------------------------------------------------------------------------
# wave 134: fractional knapsack, Kneser-Ney continuation counts
# ---------------------------------------------------------------------------


@query(
    "fractional_knapsack_procurement",
    oracle="""
    WITH items AS (
        SELECT p.p_partkey, p.p_retailprice AS cost,
               SUM(l.l_extendedprice * (1 - l.l_discount)) AS value
        FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
        GROUP BY p.p_partkey, p.p_retailprice
        HAVING p.p_retailprice > 0
    ), ranked AS (
        SELECT p_partkey, cost, value, value / cost AS ratio,
               SUM(cost) OVER (ORDER BY value / cost DESC, p_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM items
    ), taken AS (
        SELECT *,
               CASE WHEN cum <= 100000 THEN 1.0
                    WHEN cum - cost < 100000
                    THEN (100000 - (cum - cost)) / cost
                    ELSE 0.0 END AS fraction
        FROM ranked
    )
    SELECT CAST(SUM(CASE WHEN fraction >= 1.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_full_items,
           ROUND(SUM(fraction * cost), 2) AS budget_spent,
           ROUND(SUM(fraction * value), 2) AS value_captured,
           ROUND(MIN(CASE WHEN fraction > 0 THEN ratio END), 6)
               AS marginal_ratio
    FROM taken
    """,
)
def fractional_knapsack_procurement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional knapsack: spend a 100k procurement budget on parts
    to maximize captured revenue — greedy by value/cost ratio is
    PROVABLY optimal for the fractional relaxation, so the whole
    optimization is one ratio sort + cumulative-budget window + a
    fractional last item. The marginal ratio (the shadow price of
    the budget constraint) is the number procurement negotiates
    with. Budget-constrained greedy selection is the same shape as
    curation token budgets (pack_documents) and labeling budgets
    (Neyman) — this is its optimality-guaranteed form.

    Determinism: ratios are exact-dividend doubles ranked with a
    partkey tie-break; the budget cutoff arithmetic is a fixed dag.

    Scale shape: per-part value is one fact agg; the greedy runs on
    the |parts| relation with one cumulative window (range-bucketed
    prefix sums at real scale, as distributed_prefix_sum does).
    """
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    items = (
        p.join(li, p.p_partkey == li.l_partkey)
        .groupBy("p_partkey", "p_retailprice")
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("value")
        )
        .filter(F.col("p_retailprice") > 0)
        .select(
            "p_partkey",
            F.col("p_retailprice").alias("cost"),
            "value",
        )
    )
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_order_stats,
    )

    # cumulative budget over the per-part summary (~10⁹ rows at
    # 100 TB) ordered by density: distributed rank machinery — never
    # a single-task global window.
    ranked = distributed_order_stats(
        items.withColumn(
            "ratio", F.col("value") / F.col("cost")
        ).withColumn("__nr", -F.col("ratio")),
        "__nr",
        ["p_partkey"],
        cumsum_cols={"cum": "cost"},
    ).select("p_partkey", "cost", "value", "ratio", "cum")
    taken = ranked.select(
        "ratio",
        "cost",
        "value",
        F.when(F.col("cum") <= 100000, 1.0)
        .when(
            F.col("cum") - F.col("cost") < 100000,
            (100000 - (F.col("cum") - F.col("cost"))) / F.col("cost"),
        )
        .otherwise(0.0)
        .alias("fraction"),
    )
    return taken.agg(
        F.sum(F.when(F.col("fraction") >= 1.0, 1).otherwise(0))
        .cast("long")
        .alias("n_full_items"),
        F.round(F.sum(F.col("fraction") * F.col("cost")), 2).alias(
            "budget_spent"
        ),
        F.round(F.sum(F.col("fraction") * F.col("value")), 2).alias(
            "value_captured"
        ),
        F.round(
            F.min(F.when(F.col("fraction") > 0, F.col("ratio"))), 6
        ).alias("marginal_ratio"),
    )


@query(
    "kneser_ney_continuation",
    oracle="""
    WITH tok AS (
        SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i
        FROM (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM documents WHERE trim(text) <> ''
        )
    ), bigrams AS (
        SELECT DISTINCT t[i] AS left_w, t[i+1] AS right_w
        FROM tok WHERE i < len(t)
    ), cont AS (
        SELECT right_w AS w,
               CAST(COUNT(*) AS BIGINT) AS continuation_count
        FROM bigrams GROUP BY right_w
    ), raw AS (
        SELECT t[i] AS w, CAST(COUNT(*) AS BIGINT) AS raw_count
        FROM tok GROUP BY t[i]
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_bigram_types FROM bigrams
    )
    SELECT r.w AS term, r.raw_count, c.continuation_count,
           CAST(c.continuation_count * 1000000 // t.n_bigram_types
                AS BIGINT) AS p_continuation_ppm
    FROM raw r JOIN cont c ON c.w = r.w, tot t
    ORDER BY r.raw_count DESC, r.w LIMIT 20
    """,
)
def kneser_ney_continuation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney continuation probabilities: a word's unigram weight
    in KN smoothing is NOT its raw frequency but the number of
    DISTINCT left contexts it follows, normalized by the bigram-type
    count — the insight that 'francisco' is frequent but occurs after
    almost nothing but 'san', so it should get almost no unigram
    mass. Reported for the top-20 raw-frequency terms so the raw-vs-
    continuation divergence is visible — the refinement the additive-
    smoothed unigram LM (unigram_logprob_quality) and bigram
    surprisal queries build toward.

    Scale shape: bigram types via one explode + DISTINCT (vocab²-
    bounded, far below token count); continuation counts and raw
    counts are vocab-sized hash aggs; the join is vocab-sized.
    Integer ppm output, hash-exact.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    toks = docs.select(
        "doc_id", ws_tokens(F.lower(F.col("text"))).alias("t")
    )
    pairs = toks.select(
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1),"
                " i -> named_struct('l', element_at(t, i),"
                "                   'r', element_at(t, i + 1)))"
                " ELSE array() END"
            )
        ).alias("b")
    ).select(F.col("b.l").alias("left_w"), F.col("b.r").alias("right_w"))
    bigrams = pairs.distinct()
    cont = bigrams.groupBy(F.col("right_w").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("continuation_count")
    )
    raw = (
        docs.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("raw_count"))
    )
    tot = bigrams.agg(F.count(F.lit(1)).cast("long").alias("n_bigram_types"))
    return (
        raw.join(cont, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("w").alias("term"),
            "raw_count",
            "continuation_count",
            F.expr("continuation_count * 1000000L div n_bigram_types")
            .cast("long")
            .alias("p_continuation_ppm"),
        )
        .orderBy(F.col("raw_count").desc(), "term")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# wave 135: log-log price elasticity, Soundex phonetic blocking
# ---------------------------------------------------------------------------


@query(
    "price_elasticity_loglog",
    oracle="""
    WITH pts AS (
        SELECT p.p_brand, ln(l.l_extendedprice / l.l_quantity) AS ln_price,
               ln(l.l_quantity) AS ln_qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(regr_slope(ln_qty, ln_price), 6) AS elasticity,
           CASE WHEN regr_slope(ln_qty, ln_price) < -1 THEN 'elastic'
                WHEN regr_slope(ln_qty, ln_price) < 0 THEN 'inelastic'
                ELSE 'non-negative' END AS regime
    FROM pts GROUP BY p_brand
    """,
)
def price_elasticity_loglog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Own-price elasticity of demand per brand from the log-log
    regression ln(qty) ~ ln(unit price): the slope IS the elasticity
    (a 1% price change moves quantity by β%), classed into the
    pricing regimes that decide whether a price cut grows or shrinks
    revenue (|β|>1 → elastic → cut grows revenue). The constant-
    elasticity functional form is what makes one slope the whole
    story — the econometric cousin of the engine's linear fits, on
    the multiplicative scale.

    Scale shape: one join + per-brand closed-form regression agg with
    map-side partials; positivity predicates pushed to the scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pts = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .select(
            "p_brand",
            F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "ln_price"
            ),
            F.log("l_quantity").alias("ln_qty"),
        )
    )
    slope = F.expr("regr_slope(ln_qty, ln_price)")
    return pts.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(slope, 6).alias("elasticity"),
        F.when(slope < -1, "elastic")
        .when(slope < 0, "inelastic")
        .otherwise("non-negative")
        .alias("regime"),
    )


@query("soundex_name_blocking")
def soundex_name_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking with SOUNDEX — the classic record-linkage
    blocking key that puts 'smith'/'smyth' in one bucket: part-name
    words are keyed by Spark's built-in soundex() and the block-size
    census reported (big blocks = expensive comparisons, singleton
    blocks = no recall gain — the blocking-quality tradeoff
    blocking_quality_report measures for hash keys, here for the
    phonetic key ER actually uses on human names). Rows-only: DuckDB
    has no soundex; the cross-check is a pure-Python reference
    implementation of the algorithm in tests/test_wave107s.py.

    Scale shape: map-side key + one vocab-sized census agg.
    """
    p = load_table(spark, sf_dir, "part")
    words = p.select(
        F.explode(F.split(F.lower(F.col("p_name")), " ")).alias("w")
    ).filter(F.length("w") >= 3)
    keyed = words.select("w", F.soundex(F.col("w")).alias("sdx"))
    return (
        keyed.groupBy("sdx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("w").cast("long").alias("n_distinct_words"),
        )
        .orderBy(F.col("n_occurrences").desc(), "sdx")
    )


# ---------------------------------------------------------------------------
# wave 136: partial correlation, Sobel mediation decomposition
# ---------------------------------------------------------------------------


@query(
    "partial_correlation_controlling",
    oracle="""
    WITH m AS (
        SELECT corr(l_quantity, l_extendedprice) AS rxy,
               corr(l_quantity, l_discount) AS rxz,
               corr(l_extendedprice, l_discount) AS rzy,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem
    )
    SELECT n,
           ROUND(rxy, 6) AS corr_raw,
           ROUND((rxy - rxz * rzy)
                 / sqrt((1 - rxz*rxz) * (1 - rzy*rzy)), 6)
               AS corr_partial,
           ROUND(rxy - (rxy - rxz * rzy)
                 / sqrt((1 - rxz*rxz) * (1 - rzy*rzy)), 6)
               AS confounded_share
    FROM m
    """,
)
def partial_correlation_controlling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of quantity and price CONTROLLING for
    discount: r_xy·z = (r_xy − r_xz·r_zy)/√((1−r_xz²)(1−r_zy²)) —
    the one-line answer to "is this correlation real or is the third
    variable driving both", computed entirely from the pairwise
    correlation matrix (no residual regressions needed). The raw
    correlation and the gap it loses to the control ride along. The
    scalar cousin of two_way_fixed_effects' demeaning.

    Scale shape: one agg of three corr() co-moment sets with
    map-side partials; everything after is a fixed dag on 3 scalars.
    """
    li = load_table(spark, sf_dir, "lineitem")
    m = li.agg(
        F.corr("l_quantity", "l_extendedprice").alias("rxy"),
        F.corr("l_quantity", "l_discount").alias("rxz"),
        F.corr("l_extendedprice", "l_discount").alias("rzy"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    partial = (F.col("rxy") - F.col("rxz") * F.col("rzy")) / F.sqrt(
        (1 - F.col("rxz") * F.col("rxz")) * (1 - F.col("rzy") * F.col("rzy"))
    )
    return m.select(
        "n",
        F.round("rxy", 6).alias("corr_raw"),
        F.round(partial, 6).alias("corr_partial"),
        F.round(F.col("rxy") - partial, 6).alias("confounded_share"),
    )


@query(
    "mediation_sobel_decomposition",
    oracle="""
    WITH pts AS (
        SELECT c.c_acctbal / 1000 AS x,
               o.o_totalprice / 100000 AS m,
               date_diff('day', o.o_orderdate,
                         (SELECT MIN(l.l_shipdate) FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey)) AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey)
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               var_pop(x) AS vx, var_pop(m) AS vm, var_pop(y) AS vy,
               covar_pop(x, m) AS cxm, covar_pop(x, y) AS cxy,
               covar_pop(m, y) AS cmy
        FROM pts
    ), coefs AS (
        SELECT n, vx, vm, vy, cxm, cxy, cmy,
               cxm / vx AS a,
               (cmy * vx - cxy * cxm) / (vm * vx - cxm * cxm) AS b,
               (cxy * vm - cmy * cxm) / (vm * vx - cxm * cxm) AS c_prime,
               cxy / vx AS c_total
        FROM mom
    ), ses AS (
        SELECT *,
               (vm - a * a * vx) / (n * vx) AS se_a2,
               (vy - b * cmy - c_prime * cxy) * vx
               / (n * (vm * vx - cxm * cxm)) AS se_b2
        FROM coefs
    )
    SELECT n,
           ROUND(c_total, 6) AS total_effect,
           ROUND(c_prime, 6) AS direct_effect,
           ROUND(a * b, 6) AS indirect_effect,
           ROUND(a * b / c_total, 4) AS mediated_share,
           ROUND(a * b / sqrt(b * b * se_a2 + a * a * se_b2), 4) AS sobel_z
    FROM ses
    """,
)
def mediation_sobel_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baron-Kenny mediation with the Sobel test: does customer
    balance affect shipping delay DIRECTLY, or THROUGH order size?
    Total effect c = cov(X,Y)/var(X) splits exactly into direct c′
    plus indirect a·b (a: X→mediator, b: mediator→Y controlling X),
    with every coefficient — including the two-regressor (M, X) → Y
    fit — in closed form from ONE pass of variance/covariance
    moments; Sobel's z = ab/√(b²·se_a² + a²·se_b²) tests the indirect
    path. The identity c = c′ + a·b holds to the digit because all
    three come from the same moment algebra. The causal family's
    MECHANISM question, next to the magnitude questions (ATE, FE,
    IV, RDD).

    Scale shape: the per-order first-ship date is one semi-joined
    MIN agg; then one 6-moment census agg; the rest is scalar
    algebra. Round 6/4 (Sobel divides by small SEs).
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    first_ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("ship0")
    )
    pts = (
        o.join(first_ship, o.o_orderkey == first_ship.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            (F.col("c_acctbal") / 1000).alias("x"),
            (F.col("o_totalprice") / 100000).alias("m"),
            F.datediff(F.col("ship0"), F.col("o_orderdate"))
            .cast("double")
            .alias("y"),
        )
    )
    mom = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.var_pop("x").alias("vx"),
        F.var_pop("m").alias("vm"),
        F.var_pop("y").alias("vy"),
        F.covar_pop("x", "m").alias("cxm"),
        F.covar_pop("x", "y").alias("cxy"),
        F.covar_pop("m", "y").alias("cmy"),
    )
    a = F.col("cxm") / F.col("vx")
    det = F.col("vm") * F.col("vx") - F.col("cxm") * F.col("cxm")
    b = (F.col("cmy") * F.col("vx") - F.col("cxy") * F.col("cxm")) / det
    c_prime = (F.col("cxy") * F.col("vm") - F.col("cmy") * F.col("cxm")) / det
    c_total = F.col("cxy") / F.col("vx")
    se_a2 = (F.col("vm") - a * a * F.col("vx")) / (F.col("n") * F.col("vx"))
    se_b2 = (
        (F.col("vy") - b * F.col("cmy") - c_prime * F.col("cxy"))
        * F.col("vx")
        / (F.col("n") * det)
    )
    return mom.select(
        "n",
        F.round(c_total, 6).alias("total_effect"),
        F.round(c_prime, 6).alias("direct_effect"),
        F.round(a * b, 6).alias("indirect_effect"),
        F.round(a * b / c_total, 4).alias("mediated_share"),
        F.round(
            a * b / F.sqrt(b * b * se_a2 + a * a * se_b2), 4
        ).alias("sobel_z"),
    )


# ---------------------------------------------------------------------------
# wave 137: Lindley waiting-time recursion, peak-over-threshold EVT
# ---------------------------------------------------------------------------


@query(
    "lindley_waiting_times",
    oracle="""
    WITH arr AS (
        SELECT ts, event_id,
               ROUND((epoch_us(ts)
                      - LAG(epoch_us(ts)) OVER (ORDER BY ts, event_id))
                     / 1000000.0, 6) AS inter_arrival
        FROM events
    ), cum AS (
        -- Lindley reflection identity: W_i = C_i - min_{k<=i} C_k,
        -- C = cumsum(30 - A); identical to unrolling the recursion
        -- W_1 = 0, W_i = max(0, W_{i-1} + 30 - A_i)
        SELECT ts, event_id,
               SUM(30.0 - inter_arrival) OVER (ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        FROM arr WHERE inter_arrival IS NOT NULL
    ), rec AS (
        SELECT c - MIN(c) OVER (ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wait
        FROM cum
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_jobs,
           ROUND(AVG(wait), 4) AS mean_wait_s,
           ROUND(MAX(wait), 4) AS max_wait_s,
           CAST(SUM(CASE WHEN wait = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_no_wait,
           ROUND(AVG(CASE WHEN wait > 0 THEN 1.0 ELSE 0.0 END), 4)
               AS p_wait
    FROM rec
    """,
)
def lindley_waiting_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lindley recursion — trace-driven single-server queue simulation:
    with the OBSERVED inter-arrival times and a fixed 30 s service
    time, each job's wait is W_{n+1} = max(0, W_n + S − A_n), folded
    sequentially over the arrival order. Where erlang_c_staffing
    answers from the steady-state FORMULA (Poisson assumption baked
    in), this replays the actual trace — bursty arrivals produce the
    queueing pain averages hide, and the two queries disagreeing is
    itself the diagnostic. Same in-row fold discipline as Holt and
    adstock (rounded inputs, identical IEEE dag, recursive-CTE
    oracle).

    Scale shape: the recursion collapses to cumsum + running min
    (see inline note), computed by the range-bucketed
    ``operators/rank.py:distributed_reflected_walk`` (per-bucket
    windows + broadcast prefix-sum/prefix-min offsets — no
    single-task window over the event stream; the LAG becomes a
    rank self-join on r = r+1); no quadratic fold anywhere.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_global_rank,
        distributed_reflected_walk,
    )

    ev = load_table(spark, sf_dir, "events")
    # Lindley's recursion has a prefix-min closed form:
    # with X_n = S − A_n and C_n = Σ X (C_0 = 0),
    # W_{n+1} = max(0, W_n + X_n) = C_n − min_{0≤k≤n} C_k —
    # so the whole simulation is one cumulative sum plus one running
    # min, O(n) distributed instead of the O(n²) array fold the
    # naive recurrence suggests (waits reset at idle boundaries
    # anyway, so day-segmenting is also sound at extreme scale).
    ranked = distributed_global_rank(
        ev.select(
            F.unix_micros(F.col("ts").cast("timestamp")).alias("tsu"),
            "event_id",
        ),
        "tsu",
        "event_id",
        out_col="r",
    )
    prev = ranked.select(
        (F.col("r") + 1).alias("r"), F.col("tsu").alias("prev_tsu")
    )
    arr = (
        ranked.join(prev, "r")
        .select(
            "r",
            F.round(
                (F.col("tsu") - F.col("prev_tsu")) / 1000000.0, 6
            ).alias("inter_arrival"),
        )
        .select("r", (30.0 - F.col("inter_arrival")).alias("x"))
    )
    waits = distributed_reflected_walk(
        arr, "r", [], "x", out_runmin="mn"
    ).select(
        # reflected-walk form: W_i = C_i − min_{k≤i} C_k (the k=i term
        # gives the recursion's W_1 = 0 base for the first row)
        (F.col("c") - F.col("mn")).alias("wait")
    )
    return waits.agg(
        F.count(F.lit(1)).cast("long").alias("n_jobs"),
        F.round(F.avg("wait"), 4).alias("mean_wait_s"),
        F.round(F.max("wait"), 4).alias("max_wait_s"),
        F.sum(F.when(F.col("wait") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_no_wait"),
        F.round(
            F.avg(F.when(F.col("wait") > 0, 1.0).otherwise(0.0)), 4
        ).alias("p_wait"),
    )


@query(
    "extreme_value_pot",
    oracle="""
    WITH u AS (
        SELECT percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice)
                   AS thresh,
               CAST(COUNT(*) AS BIGINT) AS n_total
        FROM orders
    ), exc AS (
        SELECT o_totalprice - thresh AS y, n_total, thresh
        FROM orders, u WHERE o_totalprice > thresh
    ), mom AS (
        SELECT ANY_VALUE(thresh) AS thresh, ANY_VALUE(n_total) AS n_total,
               CAST(COUNT(*) AS BIGINT) AS n_exc,
               AVG(y) AS m, var_pop(y) AS s2
        FROM exc
    )
    SELECT n_exc, ROUND(thresh, 2) AS threshold,
           ROUND((1 - m*m/s2) / 2, 6) AS gpd_xi,
           ROUND(m * (1 - (1 - m*m/s2) / 2), 4) AS gpd_beta,
           ROUND(thresh
                 + (m * (1 - (1 - m*m/s2) / 2)) / ((1 - m*m/s2) / 2)
                   * (pow(1000.0 * n_exc / n_total,
                          (1 - m*m/s2) / 2) - 1), 2)
               AS return_level_1000
    FROM mom
    """,
)
def extreme_value_pot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-over-threshold extreme-value analysis: exceedances over the
    P95 order value fitted to a Generalized Pareto by method of
    moments (ξ = (1 − m²/s²)/2, β = m(1 − ξ) — the tail-shape closed
    form), and the 1-in-1000 return level extrapolated BEYOND the
    observed maximum via u + β/ξ·((1000·n_exc/n)^ξ − 1). Extreme-
    value theory is its own statistical family: quantiles and
    winsorizing describe the bulk; the GPD tail index says how bad
    the next record-breaker can plausibly be (ξ>0 heavy tail, ξ<0
    bounded). The risk-engine capstone over the drift/outlier suite.

    Scale shape: one percentile, one filtered moment agg (predicate
    pushed), scalar algebra after. Round 6/4/2.
    """
    orders = load_table(spark, sf_dir, "orders")
    u = orders.agg(
        F.expr(
            "percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice)"
        ).alias("thresh"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    exc = orders.crossJoin(F.broadcast(u)).filter(
        F.col("o_totalprice") > F.col("thresh")
    )
    mom = exc.agg(
        F.first("thresh").alias("thresh"),
        F.first("n_total").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("n_exc"),
        F.avg(F.col("o_totalprice") - F.col("thresh")).alias("m"),
        F.var_pop(F.col("o_totalprice") - F.col("thresh")).alias("s2"),
    )
    xi = (1 - F.col("m") * F.col("m") / F.col("s2")) / 2
    beta = F.col("m") * (1 - xi)
    return mom.select(
        "n_exc",
        F.round("thresh", 2).alias("threshold"),
        F.round(xi, 6).alias("gpd_xi"),
        F.round(beta, 4).alias("gpd_beta"),
        F.round(
            F.col("thresh")
            + beta
            / xi
            * (
                F.pow(
                    1000.0 * F.col("n_exc") / F.col("n_total"), xi
                )
                - 1
            ),
            2,
        ).alias("return_level_1000"),
    )


# ---------------------------------------------------------------------------
# wave 138: greedy set cover, Croston intermittent demand
# ---------------------------------------------------------------------------


@query(
    "greedy_set_cover_docs",
    oracle="""
    WITH dw AS (
        SELECT DISTINCT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents WHERE trim(text) <> ''
    ), pick1 AS (
        SELECT doc_id FROM (
            SELECT doc_id, COUNT(*) AS gain,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, doc_id) AS rn
            FROM dw GROUP BY doc_id
        ) WHERE rn = 1
    ), cov1 AS (
        SELECT DISTINCT w FROM dw WHERE doc_id IN (SELECT doc_id FROM pick1)
    ), pick2 AS (
        SELECT doc_id FROM (
            SELECT d.doc_id, COUNT(*) AS gain,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, d.doc_id) AS rn
            FROM dw d LEFT JOIN cov1 c ON c.w = d.w
            WHERE c.w IS NULL
              AND d.doc_id NOT IN (SELECT doc_id FROM pick1)
            GROUP BY d.doc_id
        ) WHERE rn = 1
    ), cov2 AS (
        SELECT DISTINCT w FROM dw
        WHERE doc_id IN (SELECT doc_id FROM pick1
                         UNION SELECT doc_id FROM pick2)
    ), pick3 AS (
        SELECT doc_id FROM (
            SELECT d.doc_id, COUNT(*) AS gain,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, d.doc_id) AS rn
            FROM dw d LEFT JOIN cov2 c ON c.w = d.w
            WHERE c.w IS NULL
              AND d.doc_id NOT IN (SELECT doc_id FROM pick1
                                   UNION SELECT doc_id FROM pick2)
            GROUP BY d.doc_id
        ) WHERE rn = 1
    ), picks AS (
        SELECT 1 AS step, doc_id FROM pick1
        UNION ALL SELECT 2, doc_id FROM pick2
        UNION ALL SELECT 3, doc_id FROM pick3
    ), vocab AS (
        SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM dw
    ), cum AS (
        SELECT p.step, p.doc_id,
               (SELECT CAST(COUNT(DISTINCT d2.w) AS BIGINT) FROM dw d2
                WHERE d2.doc_id IN (SELECT doc_id FROM picks p2
                                    WHERE p2.step <= p.step)) AS covered
        FROM picks p
    )
    SELECT CAST(step AS BIGINT) AS step, doc_id, covered,
           CAST(covered * 1000000 // v AS BIGINT) AS coverage_ppm
    FROM cum, vocab
    """,
)
def greedy_set_cover_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage document selection: three rounds of
    "pick the document adding the most UNCOVERED vocabulary" — the
    (1−1/e)-approximation for the NP-hard coverage problem, and the
    curation move behind seed-set selection ("which 3 docs summarize
    the corpus's vocabulary?") and test-suite minimization. Each
    round is one anti-join against covered words + an argmax; the
    oracle unrolls the same three rounds. Ties break by doc_id.

    Scale shape: the (doc, word) incidence is one explode+distinct;
    each round shuffles only uncovered incidence rows and the
    covered-word set stays a broadcast-able distinct relation.
    Rounds are inherently sequential — greed is the algorithm.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    dw = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("w")
    ).distinct().transform(_ckpt)
    vocab_n = dw.select("w").distinct().count()
    picked: list[int] = []
    covered = None
    out_rows = []
    for step in (1, 2, 3):
        cand = dw.filter(~F.col("doc_id").isin(picked)) if picked else dw
        if covered is not None:
            cand = cand.join(covered, "w", "left_anti")
        top = bounded_collect(
            cand.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.col("gain").desc(), "doc_id")
            .limit(1),
            1,
            "registry_04.set_cover_pick",
        )
        if not top:  # everything already covered — greed is done
            break
        best = top[0]
        picked.append(best.doc_id)
        covered = dw.filter(F.col("doc_id").isin(picked)).select("w").distinct().transform(_ckpt)
        out_rows.append((step, best.doc_id, covered.count()))
    return spark.createDataFrame(
        [
            (s, d, c, c * 1000000 // vocab_n)
            for s, d, c in out_rows
        ],
        "step bigint, doc_id bigint, covered bigint, coverage_ppm bigint",
    )


@query(
    "croston_intermittent_demand",
    oracle="""
    WITH RECURSIVE weekly AS (
        SELECT p.p_brand,
               CAST(epoch_us(l.l_shipdate) // 604800000000 AS BIGINT) AS week,
               ROUND(SUM(l.l_quantity), 6) AS demand
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand IN ('Brand#11', 'Brand#12')
        GROUP BY p.p_brand, week
    ), nz AS (
        SELECT p_brand, demand,
               CAST(ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY week)
                    AS BIGINT) AS i,
               week - LAG(week) OVER (PARTITION BY p_brand ORDER BY week)
                   AS gap
        FROM weekly WHERE demand > 0
    ), rec AS (
        SELECT p_brand, i, CAST(demand AS DOUBLE) AS z,
               CAST(1.0 AS DOUBLE) AS p
        FROM nz WHERE i = 1
        UNION ALL
        SELECT d.p_brand, d.i,
               0.75 * r.z + 0.25 * d.demand,
               0.75 * r.p + 0.25 * d.gap
        FROM rec r JOIN nz d ON d.p_brand = r.p_brand AND d.i = r.i + 1
    ), final_state AS (
        SELECT p_brand, z, p,
               ROW_NUMBER() OVER (PARTITION BY p_brand ORDER BY i DESC) AS rn
        FROM rec
    )
    SELECT p_brand, ROUND(z, 4) AS size_level,
           ROUND(p, 4) AS interval_level,
           ROUND(z / p, 4) AS demand_rate_per_week
    FROM final_state WHERE rn = 1
    """,
)
def croston_intermittent_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method for INTERMITTENT demand: smooth the nonzero
    demand sizes and the gaps between them separately (α=0.25, dyadic)
    and forecast the rate as size/interval — the standard fix for
    spare-parts-style series where ordinary exponential smoothing
    biases toward zero right after each demand spike. Joins the
    recurrence family (Holt level+trend, adstock carryover, Lindley
    reflection) with the two-state member; per-brand folds run
    in-row over the nonzero-week series, recursive-CTE oracle.

    Scale shape: weekly demand is one fact agg; the nonzero series
    per brand is weeks-bounded; the fold is one in-row pass per
    brand. Demand inputs round to 6 before the recurrence.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    weekly = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(F.col("p_brand").isin("Brand#11", "Brand#12"))
        .groupBy(
            "p_brand",
            F.expr(
                "CAST(unix_micros(CAST(l_shipdate AS TIMESTAMP))"
                " div 604800000000 AS BIGINT)"
            ).alias("week"),
        )
        .agg(F.round(F.sum("l_quantity"), 6).alias("demand"))
        .filter(F.col("demand") > 0)
    )
    series = weekly.groupBy("p_brand").agg(
        F.expr(
            "array_sort(collect_list(named_struct("
            "'week', week, 'demand', demand)))"
        ).alias("arr")
    )
    fitted = series.select(
        "p_brand",
        F.expr(
            """
            aggregate(
              slice(arr, 2, greatest(size(arr) - 1, 0)),
              named_struct('z', CAST(arr[0].demand AS DOUBLE),
                           'p', CAST(1.0 AS DOUBLE),
                           'prev_week', arr[0].week),
              (acc, x) -> named_struct(
                  'z', 0.75 * acc.z + 0.25 * x.demand,
                  'p', 0.75 * acc.p + 0.25 * (x.week - acc.prev_week),
                  'prev_week', x.week))
            """
        ).alias("st"),
    )
    return fitted.select(
        "p_brand",
        F.round(F.col("st.z"), 4).alias("size_level"),
        F.round(F.col("st.p"), 4).alias("interval_level"),
        F.round(F.col("st.z") / F.col("st.p"), 4).alias(
            "demand_rate_per_week"
        ),
    )


# ---------------------------------------------------------------------------
# wave 139: local clustering coefficients, kNN label propagation
# ---------------------------------------------------------------------------


@query(
    "local_clustering_coefficient",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), deg AS (
        SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e
        ) GROUP BY x
    ), tri AS (
        SELECT x AS node, CAST(COUNT(*) AS BIGINT) AS t FROM (
            SELECT e1.u AS x FROM e e1
            JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
            UNION ALL
            SELECT e1.v FROM e e1
            JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
            UNION ALL
            SELECT e2.v FROM e e1
            JOIN e e2 ON e1.v = e2.u
            JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
        ) GROUP BY x
    ), lcc AS (
        SELECT deg.node, deg.d, COALESCE(tri.t, 0) AS t,
               CASE WHEN deg.d >= 2
                    THEN COALESCE(tri.t, 0) * 2 * 1000000
                         // (deg.d * (deg.d - 1))
                    ELSE 0 END AS lcc_ppm
        FROM deg LEFT JOIN tri ON tri.node = deg.node
    )
    SELECT CASE WHEN d < 2 THEN 'deg<2'
                WHEN lcc_ppm = 0 THEN 'open'
                WHEN lcc_ppm < 333333 THEN 'low'
                WHEN lcc_ppm < 666667 THEN 'mid'
                ELSE 'high' END AS lcc_class,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(t) AS BIGINT) AS triangle_slots,
           CAST(SUM(lcc_ppm) // COUNT(*) AS BIGINT) AS mean_lcc_ppm
    FROM lcc GROUP BY lcc_class
    """,
)
def local_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the part co-purchase
    graph: lcc(x) = 2·t(x)/(deg(x)(deg(x)−1)) — how much of each
    node's neighborhood is itself connected, the node-level texture
    the GLOBAL triangle count (triangle_count_copurchase) averages
    away, censused into closed/open-neighborhood classes. High-lcc
    hubs are bundles (parts bought in cliques); open hubs are
    brokers — the distinction behind rich-club and brokerage
    analyses. Triangle credit goes to all three corners of each
    oriented triangle; lcc is exact integer ppm.

    Scale shape: same oriented wedge-join as the global count (the
    optimal join form), plus a per-corner union and two hash aggs —
    per-node attribution costs one extra shuffle over triangle
    corners, not a new algorithm.
    """
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u")
    )
    b = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v")
    )
    e = (
        a.join(b, "k")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
        .transform(_ckpt)
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    e1 = e.select(F.col("u").alias("x"), F.col("v").alias("y"))
    e2 = e.select(F.col("u").alias("y"), F.col("v").alias("z"))
    e3 = e.select(F.col("u").alias("x"), F.col("v").alias("z"))
    tris = e1.join(e2, "y").join(e3, ["x", "z"])
    corners = (
        tris.select(F.col("x").alias("node"))
        .unionByName(tris.select(F.col("y").alias("node")))
        .unionByName(tris.select(F.col("z").alias("node")))
    )
    tri = corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("t")
    )
    lcc = deg.join(tri, "node", "left").select(
        "d",
        F.coalesce(F.col("t"), F.lit(0)).alias("t"),
        F.when(
            F.col("d") >= 2,
            F.expr(
                "coalesce(t, 0) * 2 * 1000000 div (d * (d - 1))"
            ),
        )
        .otherwise(0)
        .cast("long")
        .alias("lcc_ppm"),
    )
    return lcc.select(
        F.when(F.col("d") < 2, "deg<2")
        .when(F.col("lcc_ppm") == 0, "open")
        .when(F.col("lcc_ppm") < 333333, "low")
        .when(F.col("lcc_ppm") < 666667, "mid")
        .otherwise("high")
        .alias("lcc_class"),
        "t",
        "lcc_ppm",
    ).groupBy("lcc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.sum("t").cast("long").alias("triangle_slots"),
        F.expr("sum(lcc_ppm) div count(1)").cast("long").alias("mean_lcc_ppm"),
    )


@query(
    "label_propagation_knn",
    oracle="""
    WITH s AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label,
               CASE WHEN ((vec_id * 2654435761) % 4294967296) % 5 = 0
                    THEN 0 ELSE 1 END AS labeled
        FROM embeddings
    ), scored AS (
        SELECT u.vec_id, u.label AS true_label, l.label AS nbr_label,
               ROUND(list_cosine_similarity(u.e, l.e), 6) AS sim
        FROM s u JOIN s l ON l.labeled = 1 AND l.vec_id <> u.vec_id
        WHERE u.labeled = 0
    ), topk AS (
        SELECT vec_id, true_label, nbr_label, sim FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY sim DESC, nbr_label) AS rn
            FROM scored
        ) WHERE rn <= 5
    ), votes AS (
        SELECT vec_id, true_label, nbr_label,
               CAST(COUNT(*) AS BIGINT) AS n_votes,
               MAX(sim) AS best_sim
        FROM topk GROUP BY vec_id, true_label, nbr_label
    ), pred AS (
        SELECT vec_id, true_label, nbr_label AS pred_label FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY n_votes DESC, best_sim DESC, nbr_label) AS rn
            FROM votes
        ) WHERE rn = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_unlabeled,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS accuracy_ppm
    FROM pred
    """,
)
def label_propagation_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised kNN label propagation: hide the labels of a
    deterministic 20% hash holdout, predict each hidden vector's
    label by majority vote of its 5 nearest LABELED neighbors
    (cosine, ties by best similarity then label), and score against
    the hidden truth — the label-efficiency primitive behind
    annotate-a-little/propagate-a-lot pipelines, evaluated honestly
    because the holdout is deterministic. Similarities round to 6
    before ranking so both engines pick identical neighbor sets.

    Scale shape: the labeled side broadcasts (it's the small side by
    construction); the unlabeled×labeled scoring is the same
    corpus-scan shape as cosine_topk; votes and argmax are k-bounded
    per vector. Swap brute-force scoring for the LSH candidates at
    corpus scale.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    s = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        "label",
        F.when(
            ((F.col("vec_id") * 2654435761) % 4294967296) % 5 == 0, 0
        )
        .otherwise(1)
        .alias("labeled"),
    )
    from pyspark_movie_recommender_spark.operators.similarity import (
        cosine_arrow,
    )

    cos = cosine_arrow()
    unl = s.filter(F.col("labeled") == 0).select(
        "vec_id", F.col("e").alias("ue"), F.col("label").alias("true_label")
    )
    lab = s.filter(F.col("labeled") == 1).select(
        F.col("vec_id").alias("lid"),
        F.col("e").alias("le"),
        F.col("label").alias("nbr_label"),
    )
    scored = unl.crossJoin(F.broadcast(lab)).select(
        "vec_id",
        "true_label",
        "nbr_label",
        F.round(cos(F.col("ue"), F.col("le")), 6).alias("sim"),
    )
    wk = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), "nbr_label"
    )
    topk = scored.withColumn("rn", F.row_number().over(wk)).filter(
        F.col("rn") <= 5
    )
    votes = topk.groupBy("vec_id", "true_label", "nbr_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_votes"),
        F.max("sim").alias("best_sim"),
    )
    wv = Window.partitionBy("vec_id").orderBy(
        F.col("n_votes").desc(), F.col("best_sim").desc(), "nbr_label"
    )
    pred = votes.withColumn("rn", F.row_number().over(wv)).filter(
        F.col("rn") == 1
    )
    return pred.agg(
        F.count(F.lit(1)).cast("long").alias("n_unlabeled"),
        F.sum(
            F.when(F.col("nbr_label") == F.col("true_label"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
        F.expr(
            "sum(CASE WHEN nbr_label = true_label THEN 1 ELSE 0 END)"
            " * 1000000L div count(1)"
        )
        .cast("long")
        .alias("accuracy_ppm"),
    )


# ---------------------------------------------------------------------------
# wave 140: hub-removal attack robustness, NPV-discounted cohort LTV
# ---------------------------------------------------------------------------


@query(
    "attack_robustness_copurchase",
    oracle="""
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), deg AS (
        SELECT x AS node, COUNT(*) AS d FROM (
            SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e
        ) GROUP BY x
    ), hubs AS (
        SELECT node FROM (
            SELECT node, ROW_NUMBER() OVER (ORDER BY d DESC, node) AS rn
            FROM deg
        ) WHERE rn <= 5
    ), bi AS (
        SELECT u, v FROM e UNION SELECT v, u FROM e
    ), cc0 AS (
        SELECT node AS id, node AS label FROM deg
        UNION
        SELECT b.v, LEAST(c.label, b.v)
        FROM cc0 c JOIN bi b ON b.u = c.id
    ), comp0 AS (
        SELECT id, MIN(label) AS comp FROM cc0 GROUP BY id
    ), bi2 AS (
        SELECT u, v FROM bi
        WHERE u NOT IN (SELECT node FROM hubs)
          AND v NOT IN (SELECT node FROM hubs)
    ), nodes2 AS (
        SELECT node FROM deg WHERE node NOT IN (SELECT node FROM hubs)
    ), cc1 AS (
        SELECT node AS id, node AS label FROM nodes2
        UNION
        SELECT b.v, LEAST(c.label, b.v)
        FROM cc1 c JOIN bi2 b ON b.u = c.id
    ), comp1 AS (
        SELECT id, MIN(label) AS comp FROM cc1 GROUP BY id
    ), sizes AS (
        SELECT 'before' AS phase,
               CAST(SUM(cs) AS BIGINT) AS n_nodes,
               CAST(MAX(cs) AS BIGINT) AS largest_component
        FROM (SELECT comp, COUNT(*) AS cs FROM comp0 GROUP BY comp)
        UNION ALL
        SELECT 'after_hub_removal',
               CAST(SUM(cs) AS BIGINT),
               CAST(COALESCE(MAX(cs), 0) AS BIGINT)
        FROM (SELECT comp, COUNT(*) AS cs FROM comp1 GROUP BY comp)
    )
    SELECT phase, n_nodes, largest_component,
           CAST(largest_component * 1000000 // n_nodes AS BIGINT)
               AS giant_share_ppm
    FROM sizes
    """,
)
def attack_robustness_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted-attack robustness of the part co-purchase network:
    largest-connected-component share BEFORE and AFTER deleting the
    five highest-degree hubs — the scale-free-network result
    (robust to random failure, fragile to targeted attack) as a
    measurable engineering property: if the giant component collapses
    when hubs leave, the assortment/recommendation graph depends on a
    few anchor products. Runs the engine's min-label-propagation CC
    twice (full and hub-censored edges); the oracle computes both
    fixpoints with recursive CTEs.

    Scale shape: degree census + two CC runs (each one shuffle per
    round over narrow (id,label) rows, checkpointed); the hub set is
    a 5-row broadcast anti-join.
    """
    from pyspark_movie_recommender_spark.operators.graph import (
        connected_components,
    )

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("u")
    )
    b = items.select(
        F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("v")
    )
    e = (
        a.join(b, "k")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select(F.col("u").alias("id_a"), F.col("v").alias("id_b"))
        .transform(_ckpt)
    )
    deg = (
        e.select(F.col("id_a").alias("node"))
        .unionByName(e.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    hubs = (
        deg.orderBy(F.col("d").desc(), "node")
        .limit(5)
        .select("node")
        .transform(_ckpt)
    )

    def census(edges, phase: str):
        comp = connected_components(edges)
        sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cs"))
        return sizes.agg(
            F.lit(phase).alias("phase"),
            F.sum("cs").cast("long").alias("n_nodes"),
            F.max("cs").cast("long").alias("largest_component"),
        )

    before = census(e, "before")
    e2 = (
        e.join(hubs.withColumnRenamed("node", "id_a"), "id_a", "left_anti")
        .join(hubs.withColumnRenamed("node", "id_b"), "id_b", "left_anti")
    )
    # nodes that survive but lose all edges still count as singletons
    iso = (
        deg.join(hubs, "node", "left_anti")
        .join(
            e2.select(F.col("id_a").alias("node"))
            .unionByName(e2.select(F.col("id_b").alias("node")))
            .distinct(),
            "node",
            "left_anti",
        )
        .select("node")
    )
    after_cc = census(e2, "after_hub_removal")
    n_iso = iso.count()
    after = after_cc.select(
        "phase",
        (F.col("n_nodes") + n_iso).cast("long").alias("n_nodes"),
        "largest_component",
    )
    out = before.unionByName(after)
    return out.select(
        "phase",
        "n_nodes",
        "largest_component",
        F.expr("largest_component * 1000000L div n_nodes")
        .cast("long")
        .alias("giant_share_ppm"),
    )


@query(
    "npv_discounted_ltv",
    oracle="""
    WITH firsts AS (
        SELECT o_custkey,
               MIN(CAST(date_trunc('month', o_orderdate) AS DATE)) AS cohort
        FROM orders GROUP BY o_custkey
    ), flows AS (
        SELECT f.cohort,
               date_diff('month', f.cohort,
                         CAST(date_trunc('month', o.o_orderdate) AS DATE))
                   AS month_n,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
        GROUP BY f.cohort, month_n
    ), disc AS (
        SELECT cohort, rev_cents,
               ROUND(rev_cents / 100.0 / pow(1.01, month_n), 4) AS npv_flow
        FROM flows
    ), cohort_sizes AS (
        SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_customers FROM firsts
        GROUP BY cohort
    )
    SELECT d.cohort, cs.n_customers,
           ROUND(SUM(d.rev_cents) / 100.0 / cs.n_customers, 2) AS ltv_nominal,
           ROUND(SUM(d.npv_flow) / cs.n_customers, 2) AS ltv_npv,
           ROUND(1 - SUM(d.npv_flow) / (SUM(d.rev_cents) / 100.0), 6)
               AS discount_haircut
    FROM disc d JOIN cohort_sizes cs ON cs.cohort = d.cohort
    GROUP BY d.cohort, cs.n_customers
    """,
)
def npv_discounted_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted lifetime value: each cohort's per-customer revenue
    both NOMINAL and at net present value (1% monthly discount on the
    months-since-acquisition offset) with the haircut between them —
    the finance correction that makes LTV comparable to CAC paid
    TODAY, which the undiscounted cohort_ltv_curve overstates for
    long-lived cohorts. Money-time discounting is its own primitive;
    the same pow(1+r, −t) column discounts any dated flow.

    Scale shape: first-purchase cohorts are one hash agg; the flow
    matrix is cohort×month-sized; discounting is a map-side column.
    """
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(
            F.to_date(F.date_trunc("month", F.col("o_orderdate")))
        ).alias("cohort")
    )
    flows = (
        o.join(firsts, "o_custkey")
        .groupBy(
            "cohort",
            F.months_between(
                F.to_date(F.date_trunc("month", F.col("o_orderdate"))),
                F.col("cohort"),
            )
            .cast("long")
            .alias("month_n"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    # exact cents for the nominal side; NPV terms rounded to 4 at the
    # cohort×month grain BEFORE summing, so both engines add identical
    # values (summation-order discipline, as the daily series do)
    disc = flows.select(
        "cohort",
        "rev_cents",
        F.round(
            F.col("rev_cents") / 100.0 / F.pow(F.lit(1.01), F.col("month_n")),
            4,
        ).alias("npv_flow"),
    )
    cohort_sizes = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    return (
        disc.join(cohort_sizes, "cohort")
        .groupBy("cohort", "n_customers")
        .agg(
            F.round(
                F.sum("rev_cents") / 100.0 / F.first("n_customers"), 2
            ).alias("ltv_nominal"),
            F.round(F.sum("npv_flow") / F.first("n_customers"), 2).alias(
                "ltv_npv"
            ),
            F.round(
                1 - F.sum("npv_flow") / (F.sum("rev_cents") / 100.0), 6
            ).alias("discount_haircut"),
        )
    )


# ---------------------------------------------------------------------------
# wave 141: recommender coverage / novelty / exposure-concentration eval
# ---------------------------------------------------------------------------


@query(
    "recsys_coverage_novelty",
    oracle="""
    WITH views AS (
        SELECT DISTINCT user_id,
               CAST(json_extract(props, '$.k') AS INT) AS item
        FROM events WHERE event_type = 'view'
    ), pop AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS n_viewers FROM views
        GROUP BY item
    ), pairs AS (
        SELECT a.item AS item_a, b.item AS item_b,
               CAST(COUNT(*) AS BIGINT) AS n_covisits
        FROM views a JOIN views b
          ON a.user_id = b.user_id AND a.item <> b.item
        GROUP BY 1, 2
    ), recs AS (
        SELECT item_a, item_b FROM (
            SELECT item_a, item_b,
                   ROW_NUMBER() OVER (PARTITION BY item_a
                       ORDER BY n_covisits DESC, item_b) AS rnk
            FROM pairs
        ) WHERE rnk <= 5
    ), exposure AS (
        SELECT item_b AS item, CAST(COUNT(*) AS BIGINT) AS n_slots
        FROM recs GROUP BY item_b
    ), gini_in AS (
        SELECT n_slots,
               SUM(n_slots) OVER (ORDER BY n_slots, item
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               SUM(n_slots) OVER () AS tot,
               COUNT(*) OVER () AS k,
               ROW_NUMBER() OVER (ORDER BY n_slots, item) AS i
        FROM exposure
    )
    SELECT CAST((SELECT COUNT(*) FROM pop) AS BIGINT) AS catalog_size,
           CAST((SELECT COUNT(*) FROM exposure) AS BIGINT)
               AS items_recommended,
           CAST((SELECT COUNT(*) FROM exposure) * 1000000
                // (SELECT COUNT(*) FROM pop) AS BIGINT) AS coverage_ppm,
           ROUND((SELECT AVG(ln(CAST(p.n_viewers AS DOUBLE)))
                  FROM recs r JOIN pop p ON p.item = r.item_b), 6)
               AS mean_log_popularity,
           ROUND((SELECT (k + 1 - 2.0 * SUM(cum) / tot) / k FROM gini_in
                  GROUP BY k, tot), 6) AS exposure_gini
    """,
)
def recsys_coverage_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-accuracy recommender evaluation on the co-visitation
    top-5 lists: CATALOG COVERAGE (what share of items ever get
    recommended — low coverage starves the long tail), NOVELTY (mean
    log-popularity of recommended items — co-visit counts love
    blockbusters), and EXPOSURE GINI over recommendation slots (how
    concentrated the attention economy the recommender creates is —
    the fairness-of-exposure number). Accuracy metrics (MRR, NDCG)
    say the recs are right; these say what the recs do to the
    catalog. Ties and ordering follow covisit_item_recs exactly.

    Scale shape: the rec lists are the WindowGroupLimit-pruned
    covisit pairs; exposure/popularity/coverage are item-sized aggs;
    the Gini runs over the |recommended items| relation with the same
    cumulative form as gini_exact_customer_spend.
    """
    ev = load_table(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.get_json_object("props", "$.k").cast("int").alias("item"),
        )
        .distinct()
    )
    pop = views.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("n_viewers")
    ).transform(_ckpt)
    a = views.select("user_id", F.col("item").alias("item_a"))
    b = views.select("user_id", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("item_a") != F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_covisits"))
    )
    wr = Window.partitionBy("item_a").orderBy(
        F.col("n_covisits").desc(), "item_b"
    )
    recs = (
        pairs.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 5)
        .select("item_a", "item_b")
        .transform(_ckpt)
    )
    exposure = recs.groupBy(F.col("item_b").alias("item")).agg(
        F.count(F.lit(1)).cast("long").alias("n_slots")
    )
    catalog = pop.agg(F.count(F.lit(1)).cast("long").alias("catalog_size"))
    n_rec = exposure.agg(
        F.count(F.lit(1)).cast("long").alias("items_recommended")
    )
    novelty = recs.join(
        pop.withColumnRenamed("item", "item_b"), "item_b"
    ).agg(
        F.round(
            F.avg(F.log(F.col("n_viewers").cast("double"))), 6
        ).alias("mean_log_popularity")
    )
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_order_stats,
    )

    # exposure Gini cumsum over the per-item relation (catalog-sized —
    # ~10⁸ items at 100 TB) via the distributed rank machinery.
    gini_in = distributed_order_stats(
        exposure.withColumn("__k", F.col("n_slots").cast("double")),
        "__k",
        ["item"],
        cumsum_cols={"cum": "n_slots"},
    ).select("n_slots", "cum")
    gini = gini_in.agg(
        F.round(
            (
                F.count(F.lit(1))
                + 1
                - 2.0 * F.sum("cum") / F.sum("n_slots")
            )
            / F.count(F.lit(1)),
            6,
        ).alias("exposure_gini")
    )
    return (
        catalog.crossJoin(F.broadcast(n_rec))
        .crossJoin(F.broadcast(novelty))
        .crossJoin(F.broadcast(gini))
        .select(
            "catalog_size",
            "items_recommended",
            F.expr("items_recommended * 1000000L div catalog_size")
            .cast("long")
            .alias("coverage_ppm"),
            "mean_log_popularity",
            "exposure_gini",
        )
    )


# ---------------------------------------------------------------------------
# wave 142: PR-curve threshold tuning, Brier decomposition
# ---------------------------------------------------------------------------


@query(
    "pr_curve_threshold_tuning",
    oracle="""
    WITH pts AS (
        SELECT o_totalprice AS score,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        FROM orders
    ), th AS (
        SELECT 1 AS decile, (SELECT quantile_disc(score, 0.1) FROM pts) AS threshold
        UNION ALL
        SELECT 2 AS decile, (SELECT quantile_disc(score, 0.2) FROM pts) AS threshold
        UNION ALL
        SELECT 3 AS decile, (SELECT quantile_disc(score, 0.3) FROM pts) AS threshold
        UNION ALL
        SELECT 4 AS decile, (SELECT quantile_disc(score, 0.4) FROM pts) AS threshold
        UNION ALL
        SELECT 5 AS decile, (SELECT quantile_disc(score, 0.5) FROM pts) AS threshold
        UNION ALL
        SELECT 6 AS decile, (SELECT quantile_disc(score, 0.6) FROM pts) AS threshold
        UNION ALL
        SELECT 7 AS decile, (SELECT quantile_disc(score, 0.7) FROM pts) AS threshold
        UNION ALL
        SELECT 8 AS decile, (SELECT quantile_disc(score, 0.8) FROM pts) AS threshold
        UNION ALL
        SELECT 9 AS decile, (SELECT quantile_disc(score, 0.9) FROM pts) AS threshold
    ), conf AS (
        SELECT t.decile, t.threshold,
               CAST(SUM(CASE WHEN p.score >= t.threshold AND p.y = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN p.score >= t.threshold AND p.y = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN p.score < t.threshold AND p.y = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM th t, pts p GROUP BY t.decile, t.threshold
    )
    SELECT CAST(decile AS BIGINT) AS decile, ROUND(threshold, 2) AS threshold,
           tp, fp, fn,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 6) AS precision_,
           ROUND(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6) AS recall_,
           ROUND(2.0 * tp / NULLIF(2 * tp + fp + fn, 0), 6) AS f1
    FROM conf
    """,
)
def pr_curve_threshold_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall curve over nine decile thresholds of the
    order-value score against the URGENT label, with F1 at each cut —
    the threshold-TUNING table every deployed classifier needs after
    AUC (which is threshold-free) says the score has signal: ops
    picks the row whose precision/recall tradeoff matches the cost of
    false alarms vs misses, or the F1-max row by default. Thresholds
    are the score's own deciles (percentile_disc → actual data
    values), so the curve is hash-exact everywhere except the six
    rounded ratios.

    Scale shape: nine broadcast thresholds fan the fact stream out
    9× into one confusion-matrix hash agg — one pass, no sort; at
    1000 thresholds use the sorted-cumulative form instead.
    """
    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        F.col("o_totalprice").alias("score"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("y"),
    ).transform(_ckpt)
    th_rows = pts.agg(
        *[
            F.expr(
                f"percentile_disc({d}/10.0) WITHIN GROUP (ORDER BY score)"
            ).alias(f"t{d}")
            for d in range(1, 10)
        ]
    ).first()
    th = pts.sparkSession.createDataFrame(
        [(d, float(th_rows[f"t{d}"])) for d in range(1, 10)],
        "decile bigint, threshold double",
    )
    conf = (
        pts.crossJoin(F.broadcast(th))
        .groupBy("decile", "threshold")
        .agg(
            F.sum(
                F.when((F.col("score") >= F.col("threshold"))
                       & (F.col("y") == 1), 1).otherwise(0)
            ).cast("long").alias("tp"),
            F.sum(
                F.when((F.col("score") >= F.col("threshold"))
                       & (F.col("y") == 0), 1).otherwise(0)
            ).cast("long").alias("fp"),
            F.sum(
                F.when((F.col("score") < F.col("threshold"))
                       & (F.col("y") == 1), 1).otherwise(0)
            ).cast("long").alias("fn"),
        )
    )
    return conf.select(
        "decile",
        F.round("threshold", 2).alias("threshold"),
        "tp",
        "fp",
        "fn",
        F.round(
            F.col("tp").cast("double")
            / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)),
            6,
        ).alias("precision_"),
        F.round(
            F.col("tp").cast("double")
            / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)),
            6,
        ).alias("recall_"),
        F.round(
            2.0 * F.col("tp")
            / F.nullif(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(0)),
            6,
        ).alias("f1"),
    )


@query(
    "brier_decomposition",
    oracle="""
    WITH pts AS (
        SELECT least(0.99, greatest(0.01,
                   1 / (1 + exp(-(o_totalprice / 100000 - 1.5))))) AS p,
               CAST(CASE WHEN o_orderpriority = '1-URGENT'
                         THEN 1 ELSE 0 END AS DOUBLE) AS y
        FROM orders
    ), binned AS (
        SELECT CAST(floor(p * 10) AS BIGINT) AS bin, p, y FROM pts
    ), bins AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_k,
               AVG(p) AS p_k, AVG(y) AS o_k
        FROM binned GROUP BY bin
    ), tot AS (
        SELECT CAST(SUM(n_k) AS BIGINT) AS n,
               SUM(n_k * o_k) / SUM(n_k) AS obar
        FROM bins
    )
    SELECT n,
           ROUND(SUM(n_k * (p_k - o_k) * (p_k - o_k)) / n, 6) AS reliability,
           ROUND(SUM(n_k * (o_k - obar) * (o_k - obar)) / n, 6) AS resolution,
           ROUND(obar * (1 - obar), 6) AS uncertainty,
           ROUND(SUM(n_k * (p_k - o_k) * (p_k - o_k)) / n
                 - SUM(n_k * (o_k - obar) * (o_k - obar)) / n
                 + obar * (1 - obar), 6) AS brier_binned
    FROM bins, tot GROUP BY n, obar
    """,
)
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score: with forecasts grouped
    into 10 probability bins, BS = RELIABILITY (are the stated
    probabilities honest?) − RESOLUTION (do they separate outcomes?)
    + UNCERTAINTY (the base rate's own variance) — the scoring-rule
    anatomy that says WHY a probabilistic model scores what it
    scores: a forecaster can be well-calibrated but useless (no
    resolution) or sharp but lying (high reliability term). Uses the
    fixed sigmoid score (no fitting) so the decomposition is
    non-trivial; the identity holds exactly for bin-mean forecasts.
    Completes the calibration family: Platt FITS, reliability bins
    AUDIT, this DECOMPOSES.

    Scale shape: one map-side bin tag, one 10-row bin agg, scalar
    algebra — a single pass with map-side partials.
    """
    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        F.least(
            F.lit(0.99),
            F.greatest(
                F.lit(0.01),
                1 / (1 + F.exp(-(F.col("o_totalprice") / 100000 - 1.5))),
            ),
        ).alias("p"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1.0)
        .otherwise(0.0)
        .alias("y"),
    )
    binned = pts.select(
        F.floor(F.col("p") * 10).cast("long").alias("bin"), "p", "y"
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_k"),
        F.avg("p").alias("p_k"),
        F.avg("y").alias("o_k"),
    )
    tot = bins.agg(
        F.sum("n_k").cast("long").alias("n"),
        (F.sum(F.col("n_k") * F.col("o_k")) / F.sum("n_k")).alias("obar"),
    )
    j = bins.crossJoin(F.broadcast(tot))
    rel = F.sum(
        F.col("n_k") * (F.col("p_k") - F.col("o_k")) * (F.col("p_k") - F.col("o_k"))
    ) / F.first("n")
    res = F.sum(
        F.col("n_k") * (F.col("o_k") - F.col("obar")) * (F.col("o_k") - F.col("obar"))
    ) / F.first("n")
    unc = F.first("obar") * (1 - F.first("obar"))
    return j.groupBy("n", "obar").agg(
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
        F.round(rel - res + unc, 6).alias("brier_binned"),
    ).select(
        "n", "reliability", "resolution", "uncertainty", "brier_binned"
    )


# ---------------------------------------------------------------------------
# wave 143: Qini uplift curve, minimal-detectable-effect calculator
# ---------------------------------------------------------------------------


@query(
    "qini_uplift_curve",
    oracle="""
    WITH pts AS (
        SELECT CAST(floor((c.c_acctbal + 1000) / 1300) AS BIGINT) AS seg,
               CASE WHEN o.o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS treated,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), seg_stats AS (
        SELECT seg,
               CAST(SUM(treated) AS BIGINT) AS n_t,
               CAST(SUM(treated * y) AS BIGINT) AS s_t,
               CAST(SUM(1 - treated) AS BIGINT) AS n_c,
               CAST(SUM((1 - treated) * y) AS BIGINT) AS s_c
        FROM pts GROUP BY seg
    ), ranked AS (
        SELECT *,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY CAST(s_t AS DOUBLE)/n_t - CAST(s_c AS DOUBLE)/n_c
                            DESC, seg) AS BIGINT) AS rnk
        FROM seg_stats WHERE n_t > 0 AND n_c > 0
    ), cum AS (
        SELECT rnk, seg,
               ROUND(CAST(s_t AS DOUBLE)/n_t - CAST(s_c AS DOUBLE)/n_c, 6)
                   AS seg_uplift,
               SUM(s_t) OVER w AS cs_t, SUM(n_t) OVER w AS cn_t,
               SUM(s_c) OVER w AS cs_c, SUM(n_c) OVER w AS cn_c
        FROM ranked
        WINDOW w AS (ORDER BY rnk
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT rnk, seg, seg_uplift,
           ROUND(cs_t - cs_c * (CAST(cn_t AS DOUBLE) / cn_c), 4)
               AS qini_gain
    FROM cum
    """,
)
def qini_uplift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve — the uplift-model evaluation: segments (balance
    bands) are ranked by their ESTIMATED uplift (treated-minus-control
    response from the deterministic orderkey-parity split), and the
    cumulative Qini gain cs_t − cs_c·(cn_t/cn_c) shows how much
    incremental response targeting the top-k segments captures — a
    model that ranks uplift well front-loads the curve; random
    targeting gives a straight line to the same endpoint. The
    EVALUATION layer over the uplift-CI query (which tests one
    number): this says WHERE the uplift lives.

    Scale shape: one fact agg to |segments|; ranking and the Qini
    cumulative run over the segment relation. Uplift estimates round
    to 6 before ranking (seg tie-break).
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pts = o.join(c, o.o_custkey == c.c_custkey).select(
        F.floor((F.col("c_acctbal") + 1000) / 1300).cast("long").alias("seg"),
        F.when(F.col("o_orderkey") % 2 == 0, 1).otherwise(0).alias("treated"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("y"),
    )
    seg_stats = pts.groupBy("seg").agg(
        F.sum("treated").cast("long").alias("n_t"),
        F.sum(F.col("treated") * F.col("y")).cast("long").alias("s_t"),
        F.sum(1 - F.col("treated")).cast("long").alias("n_c"),
        F.sum((1 - F.col("treated")) * F.col("y")).cast("long").alias("s_c"),
    ).filter((F.col("n_t") > 0) & (F.col("n_c") > 0))
    uplift = (
        F.col("s_t").cast("double") / F.col("n_t")
        - F.col("s_c").cast("double") / F.col("n_c")
    )
    ranked = seg_stats.withColumn(
        "rnk",
        F.row_number()
        .over(Window.orderBy(uplift.desc(), "seg"))
        .cast("long"),
    )
    wc = Window.orderBy("rnk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = ranked.select(
        "rnk",
        "seg",
        F.round(uplift, 6).alias("seg_uplift"),
        F.sum("s_t").over(wc).alias("cs_t"),
        F.sum("n_t").over(wc).alias("cn_t"),
        F.sum("s_c").over(wc).alias("cs_c"),
        F.sum("n_c").over(wc).alias("cn_c"),
    )
    return cum.select(
        "rnk",
        "seg",
        "seg_uplift",
        F.round(
            F.col("cs_t")
            - F.col("cs_c")
            * (F.col("cn_t").cast("double") / F.col("cn_c")),
            4,
        ).alias("qini_gain"),
    )


@query(
    "experiment_mde_calculator",
    oracle="""
    WITH arms AS (
        SELECT n.n_name,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               AVG(CASE WHEN o.o_orderpriority = '1-URGENT'
                        THEN 1.0 ELSE 0.0 END) AS base_rate
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY n.n_name
    )
    SELECT n_name, n_orders, ROUND(base_rate, 6) AS base_rate,
           ROUND((1.959963984540054 + 0.8416212335729143)
                 * sqrt(2 * base_rate * (1 - base_rate) / (n_orders / 2.0)),
                 6) AS mde_abs,
           ROUND((1.959963984540054 + 0.8416212335729143)
                 * sqrt(2 * base_rate * (1 - base_rate) / (n_orders / 2.0))
                 / base_rate, 4) AS mde_rel
    FROM arms
    """,
)
def experiment_mde_calculator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimal detectable effect per nation — the experiment-DESIGN
    calculator that should run BEFORE any A/B test the readout
    queries analyze: with each nation's order volume split into two
    arms and its observed urgent base rate, the smallest absolute and
    relative lift detectable at α=0.05 two-sided with 80% power is
    (z_{0.975}+z_{0.80})·√(2p(1−p)/n_arm). Small nations with
    MDE_rel > 50% simply cannot host a per-nation experiment — the
    number that prevents doomed tests, from the same z-constants
    discipline as the lognormal GOF probes.

    Scale shape: one fact agg to |nations|; the calculator is
    map-side arithmetic on 25 rows.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    arms = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.avg(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1.0)
                .otherwise(0.0)
            ).alias("base_rate"),
        )
    )
    z = 1.959963984540054 + 0.8416212335729143
    mde = z * F.sqrt(
        2
        * F.col("base_rate")
        * (1 - F.col("base_rate"))
        / (F.col("n_orders") / 2.0)
    )
    return arms.select(
        "n_name",
        "n_orders",
        F.round("base_rate", 6).alias("base_rate"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / F.col("base_rate"), 4).alias("mde_rel"),
    )


# ---------------------------------------------------------------------------
# wave 144: pipeline conservation audit, consumer surplus
# ---------------------------------------------------------------------------


@query(
    "pipeline_conservation_audit",
    oracle="""
    WITH raw AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(lower(trim(text)), '\\s+'))
               END AS n_tok
        FROM documents
    ), gated AS (
        SELECT doc_id, n_tok FROM raw WHERE n_tok >= 30
    ), dedup AS (
        SELECT doc_id FROM (
            SELECT doc_id, ROW_NUMBER() OVER (
                PARTITION BY n_tok ORDER BY doc_id) AS rn
            FROM gated
        ) WHERE rn = 1
    ), stages AS (
        SELECT 1 AS stage, 'quality_gate' AS name,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM raw) AS rows_in,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM gated) AS rows_out
        UNION ALL
        SELECT 2, 'dedup_by_length',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM gated),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM dedup)
    )
    SELECT CAST(stage AS BIGINT) AS stage, name, rows_in, rows_out,
           rows_in - rows_out AS rows_dropped,
           CAST(CASE WHEN rows_in = rows_out + (rows_in - rows_out)
                     THEN 1 ELSE 0 END AS BIGINT) AS reconciles
    FROM stages
    """,
)
def pipeline_conservation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-conservation audit of a two-stage curation pipeline
    (token-floor quality gate → length-keyed exact dedup): every
    stage reports rows_in = rows_out + rows_dropped with the
    reconciliation flag — the accounting identity a production
    pipeline asserts at EVERY hop so silent row loss (a lossy join, a
    null-eating filter) cannot hide between stages. The audit
    discipline that observed_ingest_metrics applies to one scan,
    applied across stage boundaries.

    Scale shape: each stage count is a census agg over the stage's
    relation — the audit adds counts, not passes, when the pipeline
    materializes stage outputs anyway (here, derived inline).
    """
    from pyspark_movie_recommender_spark.functions import token_count

    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select("doc_id", token_count("text").alias("n_tok"))
    gated = raw.filter(F.col("n_tok") >= 30)
    w = Window.partitionBy("n_tok").orderBy("doc_id")
    dedup = gated.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    n_raw = raw.count()
    n_gated = gated.count()
    n_dedup = dedup.count()
    rows = [
        (1, "quality_gate", n_raw, n_gated),
        (2, "dedup_by_length", n_gated, n_dedup),
    ]
    return spark.createDataFrame(
        [
            (s, nm, ri, ro, ri - ro, 1 if ri == ro + (ri - ro) else 0)
            for s, nm, ri, ro in rows
        ],
        "stage bigint, name string, rows_in bigint, rows_out bigint,"
        " rows_dropped bigint, reconciles bigint",
    )


@query(
    "consumer_surplus_estimate",
    oracle="""
    WITH pts AS (
        SELECT p.p_brand, ln(l.l_extendedprice / l.l_quantity) AS ln_price,
               ln(l.l_quantity) AS ln_qty,
               l.l_extendedprice * (1 - l.l_discount) AS revenue
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
    ), fit AS (
        SELECT p_brand,
               regr_slope(ln_qty, ln_price) AS beta,
               SUM(revenue) AS total_revenue,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pts GROUP BY p_brand
    )
    SELECT p_brand, n, ROUND(beta, 6) AS elasticity,
           ROUND(total_revenue, 2) AS revenue,
           ROUND(CASE WHEN beta < -1
                      THEN total_revenue / (-beta - 1) END, 2)
               AS consumer_surplus,
           ROUND(CASE WHEN beta < -1
                      THEN (total_revenue / (-beta - 1)) / total_revenue
                      END, 4) AS surplus_to_revenue
    FROM fit
    """,
)
def consumer_surplus_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consumer surplus under constant-elasticity demand: for brands
    with elastic demand (β < −1), the area under the demand curve
    above the price line integrates in closed form to
    CS = revenue/(−β−1) — the welfare number pricing teams weigh
    against revenue when raising prices (inelastic brands have
    unbounded CS under this functional form: reported NULL, which is
    itself the caveat). Builds directly on the
    price_elasticity_loglog fit; surplus-to-revenue says how much
    untaxed value the current price leaves with buyers.

    Scale shape: identical single-pass shape as the elasticity query
    plus one revenue sum — no extra scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    pts = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0))
        .select(
            "p_brand",
            F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "ln_price"
            ),
            F.log("l_quantity").alias("ln_qty"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )
    fit = pts.groupBy("p_brand").agg(
        F.expr("regr_slope(ln_qty, ln_price)").alias("beta"),
        F.sum("revenue").alias("total_revenue"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    cs = F.when(
        F.col("beta") < -1, F.col("total_revenue") / (-F.col("beta") - 1)
    )
    return fit.select(
        "p_brand",
        "n",
        F.round("beta", 6).alias("elasticity"),
        F.round("total_revenue", 2).alias("revenue"),
        F.round(cs, 2).alias("consumer_surplus"),
        F.round(cs / F.col("total_revenue"), 4).alias("surplus_to_revenue"),
    )


# ---------------------------------------------------------------------------
# wave 145: watermark lateness audit
# ---------------------------------------------------------------------------


@query(
    "watermark_lateness_audit",
    oracle="""
    WITH arr AS (
        SELECT event_type, event_id, ts,
               MAX(ts) OVER (PARTITION BY event_type ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS frontier
        FROM events
    ), late AS (
        SELECT event_type,
               CAST((epoch_us(frontier) - epoch_us(ts)) // 1000000
                    AS BIGINT) AS lateness_s
        FROM arr
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN lateness_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_out_of_order,
           CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lateness_s)
                AS BIGINT) AS p50_lateness_s,
           CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY lateness_s)
                AS BIGINT) AS p99_lateness_s,
           CAST(MAX(lateness_s) AS BIGINT) AS max_lateness_s
    FROM late GROUP BY event_type
    """,
)
def watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-delay sizing from the data itself: replaying each
    event type's stream in ARRIVAL order (event_id), every event's
    lateness is how far it trails the running event-time frontier
    max(ts so far) — exactly the quantity a Structured Streaming
    watermark must exceed to avoid dropping it. The p99 lateness IS
    the principled `withWatermark` delay; the out-of-order share says
    how much reordering the source does at all. The design-input
    companion to the streaming jobs (which ASSUME a delay) — this
    query measures what the delay should be.

    Determinism: lateness is exact integer seconds from the running
    frontier; percentile_disc picks actual values.

    Scale shape: one per-type ordered window over arrival sequence
    (type-bounded partitions), then a percentile agg per type.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    arr = ev.select(
        "event_type",
        F.max("ts").over(w).alias("frontier"),
        "ts",
    )
    late = arr.select(
        "event_type",
        (
            (
                F.unix_micros(F.col("frontier").cast("timestamp"))
                - F.unix_micros(F.col("ts").cast("timestamp"))
            )
            / 1000000
        )
        .cast("long")
        .alias("lateness_s"),
    )
    return late.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("lateness_s") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_out_of_order"),
        F.expr(
            "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lateness_s)"
            " AS BIGINT)"
        ).alias("p50_lateness_s"),
        F.expr(
            "CAST(percentile_disc(0.99) WITHIN GROUP (ORDER BY lateness_s)"
            " AS BIGINT)"
        ).alias("p99_lateness_s"),
        F.max("lateness_s").cast("long").alias("max_lateness_s"),
    )


# ---------------------------------------------------------------------------
# wave 146: O'Brien-Fleming sequential monitoring
# ---------------------------------------------------------------------------


@query(
    "obf_sequential_monitoring",
    oracle="""
    WITH pts AS (
        SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
               CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END AS arm,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
        FROM orders
    ), bounds AS (
        SELECT MIN(day) AS d0, MAX(day) AS d1 FROM pts
    ), looks AS (
        SELECT unnest(generate_series(1, 5)) AS look
    ), cut AS (
        SELECT l.look, b.d0 + (b.d1 - b.d0) * l.look // 5 AS cut_day
        FROM looks l, bounds b
    ), at_look AS (
        SELECT c.look,
               CAST(SUM(CASE WHEN p.arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(SUM(CASE WHEN p.arm = 1 THEN p.y ELSE 0 END) AS BIGINT)
                   AS k1,
               CAST(SUM(CASE WHEN p.arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n0,
               CAST(SUM(CASE WHEN p.arm = 0 THEN p.y ELSE 0 END) AS BIGINT)
                   AS k0
        FROM cut c JOIN pts p ON p.day <= c.cut_day
        GROUP BY c.look
    )
    SELECT look, n1 + n0 AS n_total,
           ROUND((CAST(k1 AS DOUBLE)/n1 - CAST(k0 AS DOUBLE)/n0)
                 / sqrt((CAST(k1 + k0 AS DOUBLE)/(n1 + n0))
                        * (1 - CAST(k1 + k0 AS DOUBLE)/(n1 + n0))
                        * (1.0/n1 + 1.0/n0)), 6) AS z_observed,
           ROUND(2.04 * sqrt(5.0 / look), 6) AS obf_boundary,
           CAST(CASE WHEN abs((CAST(k1 AS DOUBLE)/n1 - CAST(k0 AS DOUBLE)/n0)
                 / sqrt((CAST(k1 + k0 AS DOUBLE)/(n1 + n0))
                        * (1 - CAST(k1 + k0 AS DOUBLE)/(n1 + n0))
                        * (1.0/n1 + 1.0/n0)))
                          > 2.04 * sqrt(5.0 / look)
                     THEN 1 ELSE 0 END AS BIGINT) AS boundary_crossed
    FROM at_look
    """,
)
def obf_sequential_monitoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O'Brien-Fleming group-sequential monitoring: the pooled
    two-proportion z of the orderkey-parity A/B computed at five
    equally-spaced calendar looks, each compared against the OBF
    boundary 2.04·√(K/k) — very hard to cross early, loosening to
    ≈2.04 at the final look, which is what preserves the overall α
    that naive repeated peeking destroys. The missing member of the
    experimentation suite: MDE sizes the test, SRM guards the split,
    CUPED tightens it, the readout concludes — THIS is how you're
    allowed to look along the way.

    Scale shape: five broadcast cut days fan the fact stream into one
    cumulative confusion agg per look (a 5× map-side fan-out, one
    hash agg); boundaries are literals.
    """
    o = load_table(spark, sf_dir, "orders")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    pts = o.select(
        epoch_day("o_orderdate").alias("day"),
        F.when(F.col("o_orderkey") % 2 == 0, 1).otherwise(0).alias("arm"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("y"),
    )
    bounds = pts.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    looks = spark.range(1, 6).select(F.col("id").cast("long").alias("look"))
    cut = looks.crossJoin(F.broadcast(bounds)).select(
        "look",
        F.expr("d0 + (d1 - d0) * look div 5").alias("cut_day"),
    )
    at_look = (
        pts.crossJoin(F.broadcast(cut))
        .filter(F.col("day") <= F.col("cut_day"))
        .groupBy("look")
        .agg(
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n1"),
            F.sum(F.when(F.col("arm") == 1, F.col("y")).otherwise(0))
            .cast("long")
            .alias("k1"),
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n0"),
            F.sum(F.when(F.col("arm") == 0, F.col("y")).otherwise(0))
            .cast("long")
            .alias("k0"),
        )
    )
    p1 = F.col("k1").cast("double") / F.col("n1")
    p0 = F.col("k0").cast("double") / F.col("n0")
    pp = (F.col("k1") + F.col("k0")).cast("double") / (
        F.col("n1") + F.col("n0")
    )
    z = (p1 - p0) / F.sqrt(
        pp * (1 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n0"))
    )
    boundary = 2.04 * F.sqrt(5.0 / F.col("look"))
    return at_look.select(
        "look",
        (F.col("n1") + F.col("n0")).alias("n_total"),
        F.round(z, 6).alias("z_observed"),
        F.round(boundary, 6).alias("obf_boundary"),
        F.when(F.abs(z) > boundary, 1)
        .otherwise(0)
        .cast("long")
        .alias("boundary_crossed"),
    )


# ---------------------------------------------------------------------------
# wave 147: stemming normalization audit, expected remaining lifetime
# ---------------------------------------------------------------------------


@query(
    "stemming_normalization_audit",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents WHERE trim(text) <> ''
    ), stemmed AS (
        SELECT w,
               CASE WHEN length(w) > 5 AND w LIKE '%ing'
                    THEN substr(w, 1, length(w) - 3)
                    WHEN length(w) > 4 AND w LIKE '%ed'
                    THEN substr(w, 1, length(w) - 2)
                    WHEN length(w) > 3 AND w LIKE '%s' AND w NOT LIKE '%ss'
                    THEN substr(w, 1, length(w) - 1)
                    ELSE w END AS stem
        FROM tok
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab_raw,
           CAST(COUNT(DISTINCT stem) AS BIGINT) AS vocab_stemmed,
           CAST(SUM(CASE WHEN stem <> w THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tokens_changed,
           CAST((COUNT(DISTINCT w) - COUNT(DISTINCT stem)) * 1000000
                // COUNT(DISTINCT w) AS BIGINT) AS vocab_shrink_ppm
    FROM stemmed
    """,
)
def stemming_normalization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suffix-stripping normalization audit (Porter-lite: -ing/-ed/-s
    with guards): how much vocabulary does stemming merge, and how
    many token instances does it touch? The before/after census a
    corpus team runs BEFORE adopting any normalizer — vocabulary
    shrink is the benefit (smaller embedding tables, merged counts),
    tokens-changed is the blast radius, and the two diverging wildly
    flags an over-aggressive rule. The normalization sibling of the
    typo miner (which finds accidental variants; this one engineers
    deliberate merges).

    Scale shape: explode → map-side CASE stem → one census agg with
    two distinct-counts; the rule is pure string arithmetic, no UDF.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    tok = docs.select(
        F.explode(ws_tokens(F.lower(F.col("text")))).alias("w")
    )
    stem = (
        F.when(
            (F.length("w") > 5) & F.col("w").like("%ing"),
            F.expr("substr(w, 1, length(w) - 3)"),
        )
        .when(
            (F.length("w") > 4) & F.col("w").like("%ed"),
            F.expr("substr(w, 1, length(w) - 2)"),
        )
        .when(
            (F.length("w") > 3)
            & F.col("w").like("%s")
            & ~F.col("w").like("%ss"),
            F.expr("substr(w, 1, length(w) - 1)"),
        )
        .otherwise(F.col("w"))
    )
    stemmed = tok.select("w", stem.alias("stem"))
    return stemmed.agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("w").cast("long").alias("vocab_raw"),
        F.countDistinct("stem").cast("long").alias("vocab_stemmed"),
        F.sum(F.when(F.col("stem") != F.col("w"), 1).otherwise(0))
        .cast("long")
        .alias("n_tokens_changed"),
        F.expr(
            "(count(DISTINCT w) - count(DISTINCT stem)) * 1000000L"
            " div count(DISTINCT w)"
        )
        .cast("long")
        .alias("vocab_shrink_ppm"),
    )


@query(
    "expected_remaining_lifetime",
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
               CAST(SUM(event) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS n_total
        FROM durations GROUP BY t_days
    ), risk AS (
        SELECT t_days, d,
               CAST(SUM(n_total) OVER (ORDER BY t_days DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_risk
        FROM tbl
    ), km AS (
        SELECT t_days,
               EXP(SUM(LN(1 - CAST(d AS DOUBLE) / n_risk))
                   OVER (ORDER BY t_days
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   AS s,
               LEAD(t_days) OVER (ORDER BY t_days) AS t_next
        FROM risk WHERE d > 0
    ), area AS (
        SELECT t_days, s, t_next,
               s * (COALESCE(t_next, t_days + 1) - t_days) AS seg_area
        FROM km
    ), marks AS (SELECT * FROM (VALUES (0), (7), (14)) m(t0))
    SELECT CAST(m.t0 AS BIGINT) AS t0,
           ROUND(COALESCE((SELECT MAX(k.s) FROM km k
                           WHERE k.t_days <= m.t0), 1.0), 6) AS s_t0,
           ROUND(COALESCE((SELECT SUM(a.seg_area) FROM area a
                           WHERE a.t_days >= m.t0), 0)
                 / COALESCE((SELECT MAX(k.s) FROM km k
                             WHERE k.t_days <= m.t0), 1.0), 4)
               AS mean_residual_days
    FROM marks m
    """,
)
def expected_remaining_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean residual lifetime from the Kaplan-Meier curve: given a user
    has not yet converted by day t₀ ∈ {0, 7, 14}, the expected
    additional days to conversion is the area under the survival
    curve beyond t₀, divided by S(t₀) — the actuarial number
    (how long will the remaining holdouts take?) that turns the KM
    PLOT into a planning input, beside the hazard (instantaneous) and
    the median (one quantile). Step areas use the discrete KM steps;
    S is a cumulative product via exp∘Σ∘ln.

    Scale shape: the duration table and KM machinery are the
    days-bounded construction shared with kaplan_meier/nelson_aalen;
    the three marks are a broadcast fan-out over the |event-times|
    relation. Note S(t₀) uses MAX(s) over steps ≤ t₀ because s is
    non-increasing — no extra window needed.
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
    conv = F.col("buy_ts").isNotNull() & (
        F.col("buy_ts") >= F.col("signup_ts")
    )
    durations = (
        per_user.crossJoin(F.broadcast(horizon))
        .filter(F.col("signup_ts").isNotNull())
        .select(
            F.when(conv, F.datediff(F.col("buy_ts"), F.col("signup_ts")))
            .otherwise(F.datediff(F.col("max_ts"), F.col("signup_ts")))
            .cast("long")
            .alias("t_days"),
            F.when(conv, 1).otherwise(0).alias("event"),
        )
    )
    tbl = durations.groupBy("t_days").agg(
        F.sum("event").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    wdesc = Window.orderBy(F.col("t_days").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = tbl.select(
        "t_days",
        "d",
        F.sum("n_total").over(wdesc).cast("long").alias("n_risk"),
    )
    wasc = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    km = (
        risk.filter(F.col("d") > 0)
        .select(
            "t_days",
            F.exp(
                F.sum(
                    F.log(1 - F.col("d").cast("double") / F.col("n_risk"))
                ).over(wasc)
            ).alias("s"),
            F.lead("t_days").over(Window.orderBy("t_days")).alias("t_next"),
        )
        .transform(_ckpt)
    )
    area = km.select(
        "t_days",
        "s",
        (
            F.col("s")
            * (F.coalesce(F.col("t_next"), F.col("t_days") + 1) - F.col("t_days"))
        ).alias("seg_area"),
    )
    marks = spark.createDataFrame([(0,), (7,), (14,)], "t0 long")
    s_t0 = (
        marks.crossJoin(km.select("t_days", "s"))
        .filter(F.col("t_days") <= F.col("t0"))
        .groupBy("t0")
        .agg(F.max("s").alias("s_raw"))
    )
    tail_area = (
        marks.crossJoin(area)
        .filter(F.col("t_days") >= F.col("t0"))
        .groupBy("t0")
        .agg(F.sum("seg_area").alias("tail"))
    )
    return (
        marks.join(s_t0, "t0", "left")
        .join(tail_area, "t0", "left")
        .select(
            "t0",
            F.round(F.coalesce(F.col("s_raw"), F.lit(1.0)), 6).alias("s_t0"),
            F.round(
                F.coalesce(F.col("tail"), F.lit(0.0))
                / F.coalesce(F.col("s_raw"), F.lit(1.0)),
                4,
            ).alias("mean_residual_days"),
        )
    )


# ---------------------------------------------------------------------------
# wave 148: Fisher ideal price index, Frisch-Waugh-Lovell identity
# ---------------------------------------------------------------------------


@query(
    "fisher_price_index",
    oracle="""
    WITH m AS (
        SELECT l_partkey,
               CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem GROUP BY 1, 2
    ), base AS (
        SELECT l_partkey,
               cents * 1000 // qty AS p0,
               qty AS q0
        FROM m WHERE month = (SELECT MIN(month) FROM m)
    ), joined AS (
        SELECT m.month,
               m.cents * 1000 // m.qty AS pt, m.qty AS qt,
               b.p0, b.q0
        FROM m JOIN base b ON b.l_partkey = m.l_partkey
    ), idx AS (
        SELECT month,
               SUM(CAST(pt AS HUGEINT) * q0) * 1000000
                   // SUM(CAST(p0 AS HUGEINT) * q0) AS l_ppm,
               SUM(CAST(pt AS HUGEINT) * qt) * 1000000
                   // SUM(CAST(p0 AS HUGEINT) * qt) AS p_ppm
        FROM joined GROUP BY month
    )
    SELECT month,
           CAST(l_ppm AS BIGINT) AS laspeyres_ppm,
           CAST(p_ppm AS BIGINT) AS paasche_ppm,
           CAST(floor(sqrt(CAST(l_ppm AS DOUBLE) * CAST(p_ppm AS DOUBLE)))
                AS BIGINT) AS fisher_ppm
    FROM idx
    """,
)
def fisher_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher ideal price index per ship month: the geometric mean of
    Laspeyres (base-quantity weights — overstates inflation as buyers
    substitute away) and Paasche (current-quantity weights —
    understates it), which is the superlative index national
    statistics actually publish. Completes the index-number family
    the Laspeyres query opened; matched parts only, unit prices in
    exact milli-cents, both component indices exact 128-bit integer
    ppm, and Fisher via sqrt — IEEE-correctly-rounded on both
    engines — floored to ppm.

    Scale shape: same month×part aggregation and base broadcast as
    the Laspeyres query, one extra weighted sum per month; everything
    after the fact agg is month×part-sized.
    """
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy(
        "l_partkey",
        F.to_date(F.date_trunc("month", F.col("l_shipdate"))).alias("month"),
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
    ).transform(_ckpt)
    base_month = m.agg(F.min("month").alias("m0"))
    base = (
        m.crossJoin(F.broadcast(base_month))
        .filter(F.col("month") == F.col("m0"))
        .select(
            "l_partkey",
            F.expr("cents * 1000 div qty").alias("p0"),
            F.col("qty").alias("q0"),
        )
    )
    joined = m.join(F.broadcast(base), "l_partkey").select(
        "month",
        F.expr("cents * 1000 div qty").alias("pt"),
        F.col("qty").alias("qt"),
        "p0",
        "q0",
    )
    dec = "decimal(38,0)"
    idx = joined.groupBy("month").agg(
        F.expr(
            f"CAST(sum(CAST(pt AS {dec}) * q0) * 1000000"
            f" div sum(CAST(p0 AS {dec}) * q0) AS BIGINT)"
        ).alias("laspeyres_ppm"),
        F.expr(
            f"CAST(sum(CAST(pt AS {dec}) * qt) * 1000000"
            f" div sum(CAST(p0 AS {dec}) * qt) AS BIGINT)"
        ).alias("paasche_ppm"),
    )
    return idx.select(
        "month",
        "laspeyres_ppm",
        "paasche_ppm",
        F.floor(
            F.sqrt(
                F.col("laspeyres_ppm").cast("double")
                * F.col("paasche_ppm").cast("double")
            )
        )
        .cast("long")
        .alias("fisher_ppm"),
    )


@query(
    "fwl_partialling_identity",
    oracle="""
    WITH pts AS (
        SELECT l_quantity AS x, l_extendedprice AS y, l_discount AS z
        FROM lineitem
    ), mom AS (
        SELECT var_pop(x) AS vx, var_pop(z) AS vz,
               covar_pop(x, y) AS cxy, covar_pop(x, z) AS cxz,
               covar_pop(z, y) AS czy,
               regr_slope(y, z) AS byz, regr_intercept(y, z) AS ayz,
               regr_slope(x, z) AS bxz, regr_intercept(x, z) AS axz
        FROM pts
    ), resid AS (
        SELECT p.y - (m.ayz + m.byz * p.z) AS ry,
               p.x - (m.axz + m.bxz * p.z) AS rx
        FROM pts p, mom m
    )
    SELECT ROUND((SELECT (cxy - cxz * czy / vz) / (vx - cxz * cxz / vz)
                  FROM mom), 6) AS partial_slope_moments,
           ROUND(regr_slope(ry, rx), 6) AS fwl_residual_slope,
           ROUND((SELECT (cxy - cxz * czy / vz) / (vx - cxz * cxz / vz)
                  FROM mom) - regr_slope(ry, rx), 6) AS identity_gap
    FROM resid
    """,
)
def fwl_partialling_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frisch-Waugh-Lovell, verified on real data: the multiple-
    regression coefficient of y on x controlling z (closed form from
    the covariance moments) EQUALS the simple slope of
    z-residualized y on z-residualized x — computed here by two
    genuinely different routes (one moment pass vs an actual
    residualization pass + second regression), with the gap reported
    (zero to rounding). FWL is the engine of orthogonalized/double
    ML: partial out the nuisance, regress the residuals — this query
    is the identity those methods stand on, beside the partial-
    correlation (standardized) and two-way-FE (demeaning) kin.

    Scale shape: one moment agg, one broadcast of the 1-row fit, one
    residual regression agg — two passes, all map-side partials.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
        F.col("l_discount").alias("z"),
    )
    mom = pts.agg(
        F.var_pop("x").alias("vx"),
        F.var_pop("z").alias("vz"),
        F.covar_pop("x", "y").alias("cxy"),
        F.covar_pop("x", "z").alias("cxz"),
        F.covar_pop("z", "y").alias("czy"),
        F.expr("regr_slope(y, z)").alias("byz"),
        F.expr("regr_intercept(y, z)").alias("ayz"),
        F.expr("regr_slope(x, z)").alias("bxz"),
        F.expr("regr_intercept(x, z)").alias("axz"),
    )
    partial = (
        F.col("cxy") - F.col("cxz") * F.col("czy") / F.col("vz")
    ) / (F.col("vx") - F.col("cxz") * F.col("cxz") / F.col("vz"))
    resid = pts.crossJoin(F.broadcast(mom)).select(
        (F.col("y") - (F.col("ayz") + F.col("byz") * F.col("z"))).alias("ry"),
        (F.col("x") - (F.col("axz") + F.col("bxz") * F.col("z"))).alias("rx"),
        partial.alias("pslope"),
    )
    return resid.agg(
        F.round(F.first("pslope"), 6).alias("partial_slope_moments"),
        F.round(F.expr("regr_slope(ry, rx)"), 6).alias("fwl_residual_slope"),
        F.round(
            F.first("pslope") - F.expr("regr_slope(ry, rx)"), 6
        ).alias("identity_gap"),
    )


# ---------------------------------------------------------------------------
# wave 149: proportional-hazards check, tail dependence
# ---------------------------------------------------------------------------


@query(
    "ph_assumption_check",
    oracle="""
    WITH per_user AS (
        SELECT user_id, user_id % 2 AS arm,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS buy_ts
        FROM events GROUP BY user_id
    ), horizon AS (
        SELECT MAX(ts) AS max_ts FROM events
    ), durations AS (
        SELECT arm,
               CASE WHEN buy_ts IS NOT NULL AND buy_ts >= signup_ts
                    THEN date_diff('day', signup_ts, buy_ts)
                    ELSE date_diff('day', signup_ts, max_ts) END AS t_days,
               CASE WHEN buy_ts IS NOT NULL AND buy_ts >= signup_ts
                    THEN 1 ELSE 0 END AS event
        FROM per_user, horizon WHERE signup_ts IS NOT NULL
    ), tbl AS (
        SELECT arm, CAST(t_days AS BIGINT) AS t_days,
               CAST(SUM(event) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS n_total
        FROM durations GROUP BY arm, t_days
    ), risk AS (
        SELECT arm, t_days, d,
               CAST(SUM(n_total) OVER (PARTITION BY arm ORDER BY t_days DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_risk
        FROM tbl
    ), km AS (
        SELECT arm, t_days,
               EXP(SUM(LN(1 - CAST(d AS DOUBLE) / n_risk))
                   OVER (PARTITION BY arm ORDER BY t_days
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                   AS s
        FROM risk WHERE d > 0
    ), marks AS (SELECT * FROM (VALUES (3), (7), (14), (21)) m(t0)),
    at_marks AS (
        SELECT m.t0, k.arm,
               MIN(k.s) AS s_t0
        FROM marks m JOIN km k ON k.t_days <= m.t0
        WHERE k.s > 0 AND k.s < 1
        GROUP BY m.t0, k.arm
    )
    SELECT CAST(a.t0 AS BIGINT) AS t0,
           ROUND(ln(-ln(a.s_t0)), 6) AS loglog_arm0,
           ROUND(ln(-ln(b.s_t0)), 6) AS loglog_arm1,
           ROUND(ln(-ln(b.s_t0)) - ln(-ln(a.s_t0)), 6) AS loglog_gap
    FROM at_marks a JOIN at_marks b ON b.t0 = a.t0
    WHERE a.arm = 0 AND b.arm = 1
    """,
)
def ph_assumption_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional-hazards diagnostic: per-arm log(−log S(t)) at four
    time marks — under PH the two curves are VERTICALLY PARALLEL
    (constant gap = the log hazard ratio), so a drifting gap is the
    visual that disqualifies a Cox-style constant-ratio summary and
    the log-rank test's optimality. The assumption CHECK the survival
    family (KM, Nelson-Aalen, log-rank, mean-residual-life) was
    missing — run this before quoting any single hazard ratio.
    S(t₀) at each mark reads as MIN over steps ≤ t₀ (survival is
    non-increasing), dropping degenerate 0/1 values before the double
    log.

    Scale shape: the per-arm KM machinery is the shared days-bounded
    construction; marks are a 4-row broadcast fan-out; the final
    join is 4×2 rows.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        (F.first("user_id") % 2).alias("arm"),
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "signup_ts"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "buy_ts"
        ),
    )
    horizon = ev.agg(F.max("ts").alias("max_ts"))
    conv = F.col("buy_ts").isNotNull() & (
        F.col("buy_ts") >= F.col("signup_ts")
    )
    durations = (
        per_user.crossJoin(F.broadcast(horizon))
        .filter(F.col("signup_ts").isNotNull())
        .select(
            "arm",
            F.when(conv, F.datediff(F.col("buy_ts"), F.col("signup_ts")))
            .otherwise(F.datediff(F.col("max_ts"), F.col("signup_ts")))
            .cast("long")
            .alias("t_days"),
            F.when(conv, 1).otherwise(0).alias("event"),
        )
    )
    tbl = durations.groupBy("arm", "t_days").agg(
        F.sum("event").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    wdesc = (
        Window.partitionBy("arm")
        .orderBy(F.col("t_days").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = tbl.select(
        "arm",
        "t_days",
        "d",
        F.sum("n_total").over(wdesc).cast("long").alias("n_risk"),
    )
    wasc = (
        Window.partitionBy("arm")
        .orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    km = (
        risk.filter(F.col("d") > 0)
        .select(
            "arm",
            "t_days",
            F.exp(
                F.sum(
                    F.log(1 - F.col("d").cast("double") / F.col("n_risk"))
                ).over(wasc)
            ).alias("s"),
        )
        .filter((F.col("s") > 0) & (F.col("s") < 1))
        .transform(_ckpt)
    )
    marks = spark.createDataFrame([(3,), (7,), (14,), (21,)], "t0 long")
    at_marks = (
        marks.crossJoin(km)
        .filter(F.col("t_days") <= F.col("t0"))
        .groupBy("t0", "arm")
        .agg(F.min("s").alias("s_t0"))
    )
    a = at_marks.filter(F.col("arm") == 0).select(
        "t0", F.col("s_t0").alias("s0")
    )
    b = at_marks.filter(F.col("arm") == 1).select(
        "t0", F.col("s_t0").alias("s1")
    )
    ll0 = F.log(-F.log(F.col("s0")))
    ll1 = F.log(-F.log(F.col("s1")))
    return a.join(b, "t0").select(
        "t0",
        F.round(ll0, 6).alias("loglog_arm0"),
        F.round(ll1, 6).alias("loglog_arm1"),
        F.round(ll1 - ll0, 6).alias("loglog_gap"),
    )


@query(
    "tail_dependence_coefficient",
    oracle="""
    WITH pts AS (
        SELECT o.o_totalprice AS x, c.c_acctbal AS y
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), q AS (
        SELECT quantile_disc(x, 0.95) AS qx, quantile_disc(y, 0.95) AS qy,
               quantile_disc(x, 0.05) AS lx, quantile_disc(y, 0.05) AS ly
        FROM pts
    ), c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN x > qx THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_x_hi,
               CAST(SUM(CASE WHEN x > qx AND y > qy THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_both_hi,
               CAST(SUM(CASE WHEN x < lx THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_x_lo,
               CAST(SUM(CASE WHEN x < lx AND y < ly THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_both_lo
        FROM pts, q
    )
    SELECT n, n_x_hi, n_both_hi,
           ROUND(CAST(n_both_hi AS DOUBLE) / n_x_hi, 6) AS upper_tail_dep,
           ROUND(CAST(n_both_lo AS DOUBLE) / n_x_lo, 6) AS lower_tail_dep,
           CAST(0.05 AS DOUBLE) AS independence_benchmark
    FROM c
    """,
)
def tail_dependence_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical tail dependence: λ_U ≈ P(Y > q95(Y) | X > q95(X)) and
    its lower-tail twin — do extremes CO-OCCUR? Correlation measures
    the bulk; risk lives in the joint tail (portfolio crashes,
    cascading outages), and a Gaussian copula's tails are
    asymptotically independent no matter how high ρ is — which is
    exactly what this coefficient detects and EVT practitioners pair
    with the GPD fit (extreme_value_pot). The 0.05 independence
    benchmark rides along: λ far above it means tail co-movement no
    correlation number conveys.

    Scale shape: two quantiles + one census agg over the joined
    facts; the thresholds broadcast. Exact counts, two rounded
    ratios.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pts = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("o_totalprice").alias("x"), F.col("c_acctbal").alias("y")
    )
    q = pts.agg(
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY x)").alias("qx"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY y)").alias("qy"),
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY x)").alias("lx"),
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY y)").alias("ly"),
    )
    cc = pts.crossJoin(F.broadcast(q)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("x") > F.col("qx"), 1).otherwise(0))
        .cast("long")
        .alias("n_x_hi"),
        F.sum(
            F.when(
                (F.col("x") > F.col("qx")) & (F.col("y") > F.col("qy")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_both_hi"),
        F.sum(F.when(F.col("x") < F.col("lx"), 1).otherwise(0))
        .cast("long")
        .alias("n_x_lo"),
        F.sum(
            F.when(
                (F.col("x") < F.col("lx")) & (F.col("y") < F.col("ly")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_both_lo"),
    )
    return cc.select(
        "n",
        "n_x_hi",
        "n_both_hi",
        F.round(
            F.col("n_both_hi").cast("double") / F.col("n_x_hi"), 6
        ).alias("upper_tail_dep"),
        F.round(
            F.col("n_both_lo").cast("double") / F.col("n_x_lo"), 6
        ).alias("lower_tail_dep"),
        F.round(F.lit(0.05), 6).alias("independence_benchmark"),
    )


# ---------------------------------------------------------------------------
# wave 150: Hurst rescaled-range exponent, seasonal strength
# ---------------------------------------------------------------------------


@query(
    "hurst_rescaled_range",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               ROUND(SUM(value), 6) AS y
        FROM events GROUP BY day
    ), idx AS (
        SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS BIGINT) AS i
        FROM daily
    ), sizes AS (SELECT * FROM (VALUES (8), (16), (32)) s(w)),
    blocks AS (
        SELECT s.w, idx.i // s.w AS blk, idx.i % s.w AS j, idx.y
        FROM idx, sizes s
        WHERE idx.i < (SELECT COUNT(*) FROM idx) // s.w * s.w
    ), bstats AS (
        SELECT w, blk, AVG(y) AS mu, stddev_pop(y) AS sd
        FROM blocks GROUP BY w, blk
    ), devcum AS (
        SELECT b.w, b.blk, b.j,
               SUM(b.y - s.mu) OVER (PARTITION BY b.w, b.blk ORDER BY b.j
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
               s.sd
        FROM blocks b JOIN bstats s ON s.w = b.w AND s.blk = b.blk
    ), rs AS (
        SELECT w, blk, (MAX(c) - MIN(c)) / ANY_VALUE(sd) AS rs_block
        FROM devcum WHERE sd > 0 GROUP BY w, blk
    ), mean_rs AS (
        SELECT w, AVG(rs_block) AS rsbar, CAST(COUNT(*) AS BIGINT) AS n_blocks
        FROM rs GROUP BY w
    ), fit AS (
        SELECT regr_slope(ln(rsbar), ln(CAST(w AS DOUBLE))) AS hurst
        FROM mean_rs
    )
    SELECT m.w, m.n_blocks, ROUND(m.rsbar, 6) AS mean_rs,
           ROUND(f.hurst, 4) AS hurst_exponent
    FROM mean_rs m, fit f
    """,
)
def hurst_rescaled_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis: the daily value
    series is cut into blocks of 8/16/32 days, each block's
    R/S = (range of cumulative mean-deviations)/(block std) is
    averaged per size, and H is the log-log slope — H≈0.5 is memory-
    less, H>0.5 long-range persistence (trends feed themselves),
    H<0.5 anti-persistence. The LONG-memory diagnostic beside the
    short-lag tools (ACF: fixed lags; variance ratio: one horizon) —
    fractal persistence needs the multi-scale view.

    Determinism: daily sums round to 6; block stats, cumulative
    deviations, and the 3-point log-log fit are fixed dags over
    them; H rounds to 4.

    Scale shape: fact → |days| agg; the block fan-out is 3× the
    day series with block-bounded windows; the fit runs on 3 rows.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    daily = ev.groupBy(epoch_day("ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("y")
    )
    idx = daily.select(
        "y",
        (F.row_number().over(Window.orderBy("day")) - 1)
        .cast("long")
        .alias("i"),
    ).transform(_ckpt)
    n_days = idx.count()
    sizes = spark.createDataFrame([(8,), (16,), (32,)], "w long")
    blocks = (
        idx.crossJoin(F.broadcast(sizes))
        .filter(F.col("i") < F.expr(f"CAST({n_days} div w * w AS BIGINT)"))
        .select(
            "w",
            F.expr("i div w").alias("blk"),
            (F.col("i") % F.col("w")).alias("j"),
            "y",
        )
    )
    bstats = blocks.groupBy("w", "blk").agg(
        F.avg("y").alias("mu"), F.stddev_pop("y").alias("sd")
    )
    wb = (
        Window.partitionBy("w", "blk")
        .orderBy("j")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    devcum = blocks.join(bstats, ["w", "blk"]).select(
        "w",
        "blk",
        "sd",
        F.sum(F.col("y") - F.col("mu")).over(wb).alias("c"),
    )
    rs = (
        devcum.filter(F.col("sd") > 0)
        .groupBy("w", "blk")
        .agg(((F.max("c") - F.min("c")) / F.first("sd")).alias("rs_block"))
    )
    mean_rs = rs.groupBy("w").agg(
        F.avg("rs_block").alias("rsbar"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )
    fit = mean_rs.agg(
        F.expr(
            "regr_slope(ln(rsbar), ln(CAST(w AS DOUBLE)))"
        ).alias("hurst")
    )
    return mean_rs.crossJoin(F.broadcast(fit)).select(
        "w",
        "n_blocks",
        F.round("rsbar", 6).alias("mean_rs"),
        F.round("hurst", 4).alias("hurst_exponent"),
    )


@query(
    "seasonal_strength_metric",
    oracle="""
    WITH daily AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               ROUND(SUM(value), 6) AS y
        FROM events GROUP BY day
    ), dow AS (
        SELECT day, y, day % 7 AS wd FROM daily
    ), means AS (
        SELECT wd, AVG(y) AS wd_mean FROM dow GROUP BY wd
    ), parts AS (
        SELECT d.y, m.wd_mean,
               (SELECT AVG(y) FROM daily) AS g
        FROM dow d JOIN means m ON m.wd = d.wd
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(var_pop(y - g), 4) AS var_detrended,
           ROUND(var_pop(y - wd_mean), 4) AS var_residual,
           ROUND(greatest(0.0, 1 - var_pop(y - wd_mean)
                               / var_pop(y - g)), 6) AS seasonal_strength
    FROM parts
    """,
)
def seasonal_strength_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal strength F_s = max(0, 1 − Var(residual)/Var(detrended))
    — the STL-style single number (0 = no weekly pattern, →1 =
    weekday explains everything) that decides whether seasonal
    adjustment is worth doing at all: dow_seasonality_profile SHOWS
    the weekday shape, seasonal_residual_outlier_days USES it — this
    quantifies how much of the variance it actually owns, the triage
    number a forecasting pipeline computes per series before
    choosing a model.

    Scale shape: fact → |days| agg; weekday means are a 7-row
    broadcast; one variance census. Nothing wide.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    daily = ev.groupBy(epoch_day("ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("y")
    )
    dow = daily.select("day", "y", (F.col("day") % 7).alias("wd"))
    means = dow.groupBy("wd").agg(F.avg("y").alias("wd_mean"))
    g = daily.agg(F.avg("y").alias("g"))
    parts = dow.join(F.broadcast(means), "wd").crossJoin(F.broadcast(g))
    return parts.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.var_pop(F.col("y") - F.col("g")), 4).alias(
            "var_detrended"
        ),
        F.round(F.var_pop(F.col("y") - F.col("wd_mean")), 4).alias(
            "var_residual"
        ),
        F.round(
            F.greatest(
                F.lit(0.0),
                1
                - F.var_pop(F.col("y") - F.col("wd_mean"))
                / F.var_pop(F.col("y") - F.col("g")),
            ),
            6,
        ).alias("seasonal_strength"),
    )


# ---------------------------------------------------------------------------
# wave 151: Chao1 vocabulary richness, Church-Gale burstiness
# ---------------------------------------------------------------------------


@query(
    "chao1_vocabulary_estimate",
    oracle="""
    WITH tok AS (
        SELECT source,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents WHERE trim(text) <> ''
    ), cnt AS (
        SELECT source, w, CAST(COUNT(*) AS BIGINT) AS r
        FROM tok GROUP BY source, w
    ), ff AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
               CAST(SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
        FROM cnt GROUP BY source
    )
    SELECT source, vocab, f1, f2,
           ROUND(vocab + CASE WHEN f2 > 0
                              THEN CAST(f1 AS DOUBLE) * f1 / (2 * f2)
                              ELSE CAST(f1 AS DOUBLE) * (f1 - 1) / 2 END, 2)
               AS chao1_estimate,
           ROUND(vocab / (vocab + CASE WHEN f2 > 0
                              THEN CAST(f1 AS DOUBLE) * f1 / (2 * f2)
                              ELSE CAST(f1 AS DOUBLE) * (f1 - 1) / 2 END), 6)
               AS coverage
    FROM ff
    """,
)
def chao1_vocabulary_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 richness estimator per source: how big is the vocabulary
    you HAVEN'T seen yet? V̂ = V + f₁²/(2f₂) (bias-corrected form
    when f₂=0) from the singleton/doubleton counts — the ecology
    species estimator that answers the question Good-Turing's missing
    MASS (probability) doesn't: missing TYPES. Coverage = V/V̂ says
    whether more crawling of this source still buys new vocabulary —
    the capped completion of the Zipf/Heaps/hapax/Good-Turing family.

    Scale shape: the same two nested hash aggs as Good-Turing; the
    estimator is per-source scalar algebra.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    cnt = (
        docs.select(
            "source", F.explode(ws_tokens(F.lower(F.col("text")))).alias("w")
        )
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    ff = cnt.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("r") == 1, 1).otherwise(0))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("r") == 2, 1).otherwise(0))
        .cast("long")
        .alias("f2"),
    )
    extra = F.when(
        F.col("f2") > 0,
        F.col("f1").cast("double") * F.col("f1") / (2 * F.col("f2")),
    ).otherwise(F.col("f1").cast("double") * (F.col("f1") - 1) / 2)
    return ff.select(
        "source",
        "vocab",
        "f1",
        "f2",
        F.round(F.col("vocab") + extra, 2).alias("chao1_estimate"),
        F.round(F.col("vocab") / (F.col("vocab") + extra), 6).alias(
            "coverage"
        ),
    )


@query(
    "term_burstiness_church_gale",
    oracle="""
    WITH docs_t AS (
        SELECT doc_id,
               string_split_regex(lower(trim(text)), '\\s+') AS t
        FROM documents WHERE trim(text) <> ''
    ), n_docs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nd,
               AVG(CAST(len(t) AS DOUBLE)) AS mean_len
        FROM docs_t
    ), per_doc AS (
        SELECT d.doc_id, u.w, CAST(COUNT(*) AS BIGINT) AS k
        FROM docs_t d, unnest(d.t) AS u(w)
        GROUP BY d.doc_id, u.w
    ), term AS (
        SELECT w,
               CAST(SUM(k) AS BIGINT) AS cf,
               CAST(COUNT(*) AS BIGINT) AS df,
               CAST(SUM(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS df_multi
        FROM per_doc GROUP BY w
    )
    SELECT w AS term, cf, df,
           ROUND(CAST(df_multi AS DOUBLE) / df, 6) AS p_multi_observed,
           ROUND(1 - (1 + CAST(cf AS DOUBLE) / nd)
                     * exp(-CAST(cf AS DOUBLE) / nd), 6)
               AS p_multi_poisson,
           ROUND((CAST(df_multi AS DOUBLE) / df)
                 / NULLIF(1 - (1 + CAST(cf AS DOUBLE) / nd)
                          * exp(-CAST(cf AS DOUBLE) / nd), 0), 4)
               AS burstiness_ratio
    FROM term, n_docs
    WHERE df >= 20
    ORDER BY cf DESC, term LIMIT 20
    """,
)
def term_burstiness_church_gale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale burstiness: for each frequent term, the observed
    share of containing documents where it appears TWICE OR MORE,
    against the Poisson expectation 1−(1+λ)e^{−λ} at the term's
    corpus rate — content words burst (one mention begets another),
    function words scatter like Poisson, and the ratio between the
    two is the burstiness that separates them. The within-document
    clumping dimension the frequency family (Zipf, TF-IDF, keyness)
    doesn't measure, and the statistical cousin of the repetition
    detectors (which catch pathological bursts; this measures the
    natural kind).

    Scale shape: per-(doc, term) counts are one explode + hash agg;
    term stats a second agg; the Poisson benchmark is map-side
    arithmetic with the doc count broadcast. Top-20 by corpus
    frequency.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    per_doc = (
        docs.select(
            "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("w")
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    term = per_doc.groupBy("w").agg(
        F.sum("k").cast("long").alias("cf"),
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum(F.when(F.col("k") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("df_multi"),
    )
    lam = F.col("cf").cast("double") / F.col("nd")
    p_poisson = 1 - (1 + lam) * F.exp(-lam)
    p_obs = F.col("df_multi").cast("double") / F.col("df")
    return (
        term.filter(F.col("df") >= 20)
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("w").alias("term"),
            "cf",
            "df",
            F.round(p_obs, 6).alias("p_multi_observed"),
            F.round(p_poisson, 6).alias("p_multi_poisson"),
            F.round(p_obs / F.nullif(p_poisson, F.lit(0.0)), 4).alias(
                "burstiness_ratio"
            ),
        )
        .orderBy(F.col("cf").desc(), "term")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# wave 152: Cornish-Fisher VaR
# ---------------------------------------------------------------------------


@query(
    "cornish_fisher_var",
    oracle="""
    WITH pts AS (SELECT o_totalprice AS x FROM orders),
    mu AS (SELECT AVG(x) AS m FROM pts),
    cm AS (
        SELECT ANY_VALUE(mu.m) AS m,
               AVG((x - mu.m) * (x - mu.m)) AS m2,
               AVG((x - mu.m) * (x - mu.m) * (x - mu.m)) AS m3,
               AVG((x - mu.m) * (x - mu.m) * (x - mu.m) * (x - mu.m)) AS m4
        FROM pts, mu
    ), params AS (
        SELECT m, sqrt(m2) AS sd,
               m3 / pow(m2, 1.5) AS skew,
               m4 / (m2 * m2) - 3 AS exkurt
        FROM cm
    ), z AS (SELECT CAST(2.3263478740408408 AS DOUBLE) AS z99),
    cf AS (
        SELECT m, sd, skew, exkurt, z99,
               z99 + (z99*z99 - 1) * skew / 6
                   + (z99*z99*z99 - 3*z99) * exkurt / 24
                   - (2*z99*z99*z99 - 5*z99) * skew * skew / 36 AS z_cf
        FROM params, z
    )
    SELECT ROUND(m, 2) AS mean_value,
           ROUND(sd, 2) AS std_value,
           ROUND(skew, 4) AS skewness,
           ROUND(exkurt, 4) AS excess_kurtosis,
           ROUND(m + sd * z99, 2) AS var99_gaussian,
           ROUND(m + sd * z_cf, 2) AS var99_cornish_fisher,
           ROUND((SELECT quantile_disc(x, 0.99) FROM pts), 2)
               AS var99_empirical
    FROM cf
    """,
)
def cornish_fisher_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cornish-Fisher 99% value-at-risk: the Gaussian quantile
    corrected for the distribution's OWN skewness and excess kurtosis
    (z_cf = z + (z²−1)γ/6 + (z³−3z)κ/24 − (2z³−5z)γ²/36), shown
    between the naive Gaussian VaR (which understates heavy-tailed
    risk) and the empirical P99 (which can't extrapolate beyond the
    sample) — the practitioner's three-way tail-risk reconciliation,
    with the moment-based CF tracking the empirical answer exactly
    when the first four moments capture the tail. Central moments are
    computed by explicit two-pass (mean broadcast, then powered
    deviations) so both engines share one definition — the built-in
    skewness/kurtosis differ in bias conventions across engines.

    Scale shape: two passes (mean, then central moments) + one
    percentile; all map-side partials.
    """
    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(F.col("o_totalprice").alias("x")).transform(_ckpt)
    mu = pts.agg(F.avg("x").alias("m"))
    d = F.col("x") - F.col("m")
    cm = pts.crossJoin(F.broadcast(mu)).agg(
        F.first("m").alias("m"),
        F.avg(d * d).alias("m2"),
        F.avg(d * d * d).alias("m3"),
        F.avg(d * d * d * d).alias("m4"),
    )
    emp = pts.agg(
        F.expr(
            "percentile_disc(0.99) WITHIN GROUP (ORDER BY x)"
        ).alias("p99")
    )
    z99 = 2.3263478740408408
    sd = F.sqrt(F.col("m2"))
    skew = F.col("m3") / F.pow(F.col("m2"), 1.5)
    exk = F.col("m4") / (F.col("m2") * F.col("m2")) - 3
    z_cf = (
        F.lit(z99)
        + (z99 * z99 - 1) * skew / 6
        + (z99**3 - 3 * z99) * exk / 24
        - (2 * z99**3 - 5 * z99) * skew * skew / 36
    )
    return cm.crossJoin(F.broadcast(emp)).select(
        F.round("m", 2).alias("mean_value"),
        F.round(sd, 2).alias("std_value"),
        F.round(skew, 4).alias("skewness"),
        F.round(exk, 4).alias("excess_kurtosis"),
        F.round(F.col("m") + sd * z99, 2).alias("var99_gaussian"),
        F.round(F.col("m") + sd * z_cf, 2).alias("var99_cornish_fisher"),
        F.round(F.col("p99"), 2).alias("var99_empirical"),
    )


# ---------------------------------------------------------------------------
# wave 153: covariate balance (standardized mean differences)
# ---------------------------------------------------------------------------


@query(
    "covariate_balance_smd",
    oracle="""
    WITH pts AS (
        SELECT c.c_acctbal / 1000 AS x,
               CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1.0 ELSE 0.0 END
                   AS t
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
    ), wtd AS (
        SELECT x, t,
               CASE WHEN t = 1
                    THEN 1 / greatest(0.01, least(0.99,
                             1/(1+exp(-(a + b*x)))))
                    ELSE 1 / greatest(0.01, 1 - least(0.99,
                             1/(1+exp(-(a + b*x)))))
               END AS w
        FROM pts, p2
    ), raw AS (
        SELECT AVG(CASE WHEN t = 1 THEN x END) AS m1,
               AVG(CASE WHEN t = 0 THEN x END) AS m0,
               var_pop(CASE WHEN t = 1 THEN x END) AS v1,
               var_pop(CASE WHEN t = 0 THEN x END) AS v0
        FROM wtd
    ), wgt AS (
        SELECT SUM(CASE WHEN t = 1 THEN w * x END)
                   / SUM(CASE WHEN t = 1 THEN w END) AS m1w,
               SUM(CASE WHEN t = 0 THEN w * x END)
                   / SUM(CASE WHEN t = 0 THEN w END) AS m0w
        FROM wtd
    )
    SELECT 'acctbal_k' AS covariate,
           ROUND((m1 - m0) / sqrt((v1 + v0) / 2), 6) AS smd_raw,
           ROUND((m1w - m0w) / sqrt((v1 + v0) / 2), 6) AS smd_weighted,
           CAST(CASE WHEN abs((m1w - m0w) / sqrt((v1 + v0) / 2)) < 0.1
                     THEN 1 ELSE 0 END AS BIGINT) AS balanced_after
    FROM raw, wgt
    """,
)
def covariate_balance_smd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate-balance diagnostic for propensity weighting: the
    standardized mean difference (m₁−m₀)/√((v₁+v₀)/2) of the
    confounder between arms, RAW and after inverse-propensity
    weighting (clipped Newton-logistic propensities, 2 rounds —
    the same machinery AIPW uses) — |SMD| < 0.1 is the accepted
    "balanced" rule, and weighting failing to shrink the SMD is how
    you catch a misspecified propensity BEFORE trusting any weighted
    estimate. The diagnostic layer the causal corner
    (AIPW/IV/RDD/FE/mediation) relies on.

    Scale shape: two Newton agg passes + one raw-moment census + one
    weighted-moment census, all map-side partials; the denominator
    reuses the raw pooled SD on both sides so the two SMDs are
    commensurable.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pts = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            (F.col("c_acctbal") / 1000).alias("x"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1.0)
            .otherwise(0.0)
            .alias("t"),
        )
        .transform(_ckpt)
    )
    a_val, b_val = 0.0, 0.0
    for _ in range(2):
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
    e_raw = 1 / (1 + F.exp(-(F.lit(a_val) + F.lit(b_val) * F.col("x"))))
    e_cl = F.least(F.lit(0.99), e_raw)
    w = F.when(
        F.col("t") == 1, 1 / F.greatest(F.lit(0.01), e_cl)
    ).otherwise(1 / F.greatest(F.lit(0.01), 1 - e_cl))
    wtd = pts.select("x", "t", w.alias("w"))
    stats = wtd.agg(
        F.avg(F.when(F.col("t") == 1, F.col("x"))).alias("m1"),
        F.avg(F.when(F.col("t") == 0, F.col("x"))).alias("m0"),
        F.var_pop(F.when(F.col("t") == 1, F.col("x"))).alias("v1"),
        F.var_pop(F.when(F.col("t") == 0, F.col("x"))).alias("v0"),
        (
            F.sum(F.when(F.col("t") == 1, F.col("w") * F.col("x")))
            / F.sum(F.when(F.col("t") == 1, F.col("w")))
        ).alias("m1w"),
        (
            F.sum(F.when(F.col("t") == 0, F.col("w") * F.col("x")))
            / F.sum(F.when(F.col("t") == 0, F.col("w")))
        ).alias("m0w"),
    )
    pooled = F.sqrt((F.col("v1") + F.col("v0")) / 2)
    smd_w = (F.col("m1w") - F.col("m0w")) / pooled
    return stats.select(
        F.lit("acctbal_k").alias("covariate"),
        F.round((F.col("m1") - F.col("m0")) / pooled, 6).alias("smd_raw"),
        F.round(smd_w, 6).alias("smd_weighted"),
        F.when(F.abs(smd_w) < 0.1, 1).otherwise(0).cast("long").alias(
            "balanced_after"
        ),
    )


# ---------------------------------------------------------------------------
# wave 153: Welch unequal-variance t-test, Ljung-Box white-noise test
# ---------------------------------------------------------------------------


@query(
    "welch_ttest_order_value",
    oracle="""
    WITH pts AS (
        SELECT o_orderpriority AS grp,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), g AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS HUGEINT) AS s,
               SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS ss
        FROM pts GROUP BY grp
    ), w AS (
        SELECT
            (SELECT n FROM g WHERE grp = '1-URGENT') AS n_a,
            (SELECT n FROM g WHERE grp = '5-LOW') AS n_b,
            (SELECT s FROM g WHERE grp = '1-URGENT') AS s_a,
            (SELECT s FROM g WHERE grp = '5-LOW') AS s_b,
            (SELECT ss FROM g WHERE grp = '1-URGENT') AS ss_a,
            (SELECT ss FROM g WHERE grp = '5-LOW') AS ss_b
    ), v AS (
        SELECT n_a, n_b,
            CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 100.0 AS mean_a,
            CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 100.0 AS mean_b,
            CAST(n_a * ss_a - s_a * s_a AS DOUBLE)
                / (CAST(n_a AS DOUBLE) * CAST(n_a AS DOUBLE)
                   * CAST(n_a - 1 AS DOUBLE)) AS se2_a_n,
            CAST(n_b * ss_b - s_b * s_b AS DOUBLE)
                / (CAST(n_b AS DOUBLE) * CAST(n_b AS DOUBLE)
                   * CAST(n_b - 1 AS DOUBLE)) AS se2_b_n
        FROM w
    )
    SELECT n_a, n_b,
           ROUND(mean_a, 2) AS mean_a,
           ROUND(mean_b, 2) AS mean_b,
           ROUND((mean_a - mean_b) * 100.0
                 / SQRT(se2_a_n + se2_b_n), 6) AS t_welch,
           ROUND((se2_a_n + se2_b_n) * (se2_a_n + se2_b_n)
                 / (se2_a_n * se2_a_n / CAST(n_a - 1 AS DOUBLE)
                    + se2_b_n * se2_b_n / CAST(n_b - 1 AS DOUBLE)),
                 3) AS df_satterthwaite
    FROM v
    """,
)
def welch_ttest_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test: URGENT vs LOW
    priority order values, with the Satterthwaite degrees of freedom.
    Complements `brown_forsythe_variance_test` (spread) and
    `two_proportion_ztest` (rates) with the LOCATION test that does
    NOT assume equal variances — the default recommendation over
    Student's t whenever group spreads may differ.

    Determinism: prices become exact cents (BIGINT); per-group moment
    sums run in 38-digit decimals, so n·ss − s² is bit-exact on both
    engines; the t and df are computed from those exact integers with
    the same double expression structure, then rounded (t to 6, df to
    3). se2_g_n is Var_g/n_g kept as one exact-numerator ratio.

    Scale shape: one filtered scan → one 2-row hash aggregate with
    map-side partials; everything after is constant-size arithmetic.
    No joins, no windows — the 100 TB plan is a single agg pass.
    """
    o = load_table(spark, sf_dir, "orders")
    pts = o.where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")).select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    dec = F.col("cents").cast("decimal(38,0)")
    g = pts.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec).alias("s"),
        F.sum(dec * dec).alias("ss"),
    )
    one = g.agg(
        F.max(F.when(F.col("grp") == "1-URGENT", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == "5-LOW", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("grp") == "1-URGENT", F.col("s"))).alias("s_a"),
        F.max(F.when(F.col("grp") == "5-LOW", F.col("s"))).alias("s_b"),
        F.max(F.when(F.col("grp") == "1-URGENT", F.col("ss"))).alias("ss_a"),
        F.max(F.when(F.col("grp") == "5-LOW", F.col("ss"))).alias("ss_b"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    mean_a = d("s_a") / d("n_a") / 100.0
    mean_b = d("s_b") / d("n_b") / 100.0
    se2_a_n = (F.col("n_a") * F.col("ss_a") - F.col("s_a") * F.col("s_a")).cast(
        "double"
    ) / (d("n_a") * d("n_a") * (d("n_a") - 1))
    se2_b_n = (F.col("n_b") * F.col("ss_b") - F.col("s_b") * F.col("s_b")).cast(
        "double"
    ) / (d("n_b") * d("n_b") * (d("n_b") - 1))
    return one.select(
        "n_a",
        "n_b",
        F.round(mean_a, 2).alias("mean_a"),
        F.round(mean_b, 2).alias("mean_b"),
        F.round(
            (mean_a - mean_b) * 100.0 / F.sqrt(se2_a_n + se2_b_n), 6
        ).alias("t_welch"),
        F.round(
            (se2_a_n + se2_b_n)
            * (se2_a_n + se2_b_n)
            / (
                se2_a_n * se2_a_n / (d("n_a") - 1)
                + se2_b_n * se2_b_n / (d("n_b") - 1)
            ),
            3,
        ).alias("df_satterthwaite"),
    )


@query(
    "ljung_box_daily_value",
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
        SELECT g.day, COALESCE(SUM(p.cents), 0) AS x,
               ROW_NUMBER() OVER (ORDER BY g.day) AS i
        FROM grid g LEFT JOIN pts p ON p.day = g.day GROUP BY g.day
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM daily
    ), dev AS (
        SELECT i, CAST(n * x - s AS HUGEINT) AS d FROM daily, stats
    ), den AS (
        SELECT SUM(d * d) AS dd FROM dev
    ), lags AS (
        SELECT unnest(generate_series(1, 7)) AS lag
    ), rho AS (
        SELECT lag,
               CAST(SUM(a.d * b.d) AS DOUBLE) / CAST(den.dd AS DOUBLE) AS r
        FROM lags JOIN dev a ON TRUE JOIN dev b ON b.i = a.i - lag, den
        GROUP BY lag, den.dd
    ), terms AS (
        SELECT MAX(CASE WHEN lag = 1 THEN r * r / (n - 1) END) AS t1,
               MAX(CASE WHEN lag = 2 THEN r * r / (n - 2) END) AS t2,
               MAX(CASE WHEN lag = 3 THEN r * r / (n - 3) END) AS t3,
               MAX(CASE WHEN lag = 4 THEN r * r / (n - 4) END) AS t4,
               MAX(CASE WHEN lag = 5 THEN r * r / (n - 5) END) AS t5,
               MAX(CASE WHEN lag = 6 THEN r * r / (n - 6) END) AS t6,
               MAX(CASE WHEN lag = 7 THEN r * r / (n - 7) END) AS t7,
               MAX(n) AS n
        FROM rho, stats
    )
    SELECT n, CAST(7 AS BIGINT) AS h,
           ROUND(n * (n + 2.0)
                 * (t1 + t2 + t3 + t4 + t5 + t6 + t7), 6) AS q_ljung_box,
           CAST(CASE WHEN n * (n + 2.0)
                          * (t1 + t2 + t3 + t4 + t5 + t6 + t7)
                     > 14.067140 THEN 1 ELSE 0 END AS BIGINT)
               AS white_noise_rejected
    FROM terms
    """,
)
def ljung_box_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test Q = n(n+2)·Σ_{k≤7} ρ_k²/(n−k) on the
    zero-filled daily event-value series — the WHITE-NOISE gate over
    the same ACF that `acf_daily_event_value` reports lag-by-lag: one
    number (χ²₇ under H₀) that says whether ANY structure remains,
    the standard residual-diagnostic after a forecast fit
    (`holt_linear_forecast`, `croston_intermittent_demand`) and the
    principled answer to "is this series just noise".

    Determinism: deviations d = n·x − Σx exact (decimal 38); each lag's
    numerator and the common denominator are exact integer sums, so the
    seven ρ_k are identical doubles on both engines; Q folds them in a
    FIXED syntactic order (t1+…+t7, identical associativity both
    sides), then one round(6). The rejection compares against the
    hardcoded χ²₀.₉₅,₇ = 14.067140 critical value.

    Scale shape: identical to the ACF — fact collapses to |days| rows,
    the 7-lag self-join and conditional agg run on that tiny series.
    The test is free once the daily rollup exists.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import (
        epoch_day,
        mean_cleared_devs,
        zero_filled_daily_grid,
    )

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        epoch_day("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = zero_filled_daily_grid(
        pts, F.coalesce(F.sum("cents"), F.lit(0)).cast("long")
    ).select("day", "x", F.row_number().over(Window.orderBy("day")).alias("i"))
    dev = mean_cleared_devs(daily).select("i", "d", "n")
    dev = _ckpt(dev)  # shared fan-out relation
    den = dev.agg(F.sum(F.col("d") * F.col("d")).alias("dd"))
    n_df = dev.agg(F.max("n").alias("n"))
    lags = spark.range(1, 8).select(F.col("id").cast("long").alias("lag"))
    rho = (
        lags.crossJoin(
            dev.select(F.col("i").alias("ai"), F.col("d").alias("ad"))
        )
        .join(
            dev.select(F.col("i").alias("bi"), F.col("d").alias("bd")),
            F.col("bi") == F.col("ai") - F.col("lag"),
        )
        .groupBy("lag")
        .agg(F.sum(F.col("ad") * F.col("bd")).alias("num"))
        .crossJoin(F.broadcast(den))
        .select(
            "lag",
            (F.col("num").cast("double") / F.col("dd").cast("double")).alias(
                "r"
            ),
        )
    )
    t = lambda k: F.max(  # noqa: E731
        F.when(
            F.col("lag") == k,
            F.col("r") * F.col("r") / (F.col("n") - F.lit(k)),
        )
    ).alias(f"t{k}")
    terms = rho.crossJoin(F.broadcast(n_df)).agg(
        t(1), t(2), t(3), t(4), t(5), t(6), t(7), F.max("n").alias("n")
    )
    q = (
        F.col("n")
        * (F.col("n") + F.lit(2.0))
        * (
            F.col("t1")
            + F.col("t2")
            + F.col("t3")
            + F.col("t4")
            + F.col("t5")
            + F.col("t6")
            + F.col("t7")
        )
    )
    return terms.select(
        "n",
        F.lit(7).cast("long").alias("h"),
        F.round(q, 6).alias("q_ljung_box"),
        F.when(q > 14.067140, 1).otherwise(0).cast("long").alias(
            "white_noise_rejected"
        ),
    )


# ---------------------------------------------------------------------------
# wave 154: local outlier factor (exact kNN spec), rank-biased overlap
# ---------------------------------------------------------------------------


@query(
    "lof_embedding_outliers",
    oracle="""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                   AS q
        FROM embeddings
    ), p AS (
        SELECT a.vec_id AS aid, b.vec_id AS bid,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])))
                   AS BIGINT) AS dist2
        FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ), r AS (
        SELECT aid, bid, dist2,
               ROW_NUMBER() OVER (PARTITION BY aid
                                  ORDER BY dist2, bid) AS rnk
        FROM p
    ), knn AS (
        SELECT aid, bid, dist2, rnk FROM r WHERE rnk <= 5
    ), kd AS (
        SELECT aid, MAX(dist2) AS kdist2 FROM knn GROUP BY aid
    ), reach AS (
        SELECT k.aid, k.bid, k.rnk,
               SQRT(CAST(GREATEST(kb.kdist2, k.dist2) AS DOUBLE)) AS rd
        FROM knn k JOIN kd kb ON kb.aid = k.bid
    ), lrd AS (
        SELECT aid,
               5.0 / (MAX(CASE WHEN rnk = 1 THEN rd END)
                    + MAX(CASE WHEN rnk = 2 THEN rd END)
                    + MAX(CASE WHEN rnk = 3 THEN rd END)
                    + MAX(CASE WHEN rnk = 4 THEN rd END)
                    + MAX(CASE WHEN rnk = 5 THEN rd END)) AS lrd
        FROM reach GROUP BY aid
    ), lof AS (
        SELECT k.aid AS vec_id,
               (MAX(CASE WHEN k.rnk = 1 THEN lb.lrd END)
              + MAX(CASE WHEN k.rnk = 2 THEN lb.lrd END)
              + MAX(CASE WHEN k.rnk = 3 THEN lb.lrd END)
              + MAX(CASE WHEN k.rnk = 4 THEN lb.lrd END)
              + MAX(CASE WHEN k.rnk = 5 THEN lb.lrd END)) / 5.0
                   / MAX(la.lrd) AS lof
        FROM knn k
        JOIN lrd lb ON lb.aid = k.bid
        JOIN lrd la ON la.aid = k.aid
        GROUP BY k.aid
    )
    SELECT vec_id, ROUND(lof, 6) AS lof_score,
           CAST(CASE WHEN lof > 1.5 THEN 1 ELSE 0 END AS BIGINT)
               AS is_outlier
    FROM lof
    ORDER BY ROUND(lof, 6) DESC, vec_id
    LIMIT 10
    """,
)
def lof_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Outlier Factor (Breunig et al. 2000, k=5) over the
    embedding corpus: density-RELATIVE anomaly scores (LOF ≈ 1 inlier,
    ≫ 1 outlier) — the neighborhood-aware complement to the global
    z-score family (`mad_outliers_orders`, `extreme_value_pot`) that a
    curation pipeline runs to drop mis-embedded / out-of-domain
    vectors before ANN indexing.

    Exactness: coordinates become exact micro-units (BIGINT), so every
    pairwise squared distance is an exact integer on both engines;
    reach-distances take sqrt (IEEE correctly rounded) AFTER the
    integer max, and the two 5-term means fold in a FIXED rank order
    (r1+…+r5 — identical associativity both sides). Ranking ties break
    on neighbor id; the final top-10 orders by the ROUNDED score.

    Scale shape: this is the exact kNN SPEC — the all-pairs stage is
    a broadcast nested-loop (corpus side never shuffles) that is the
    verification regime; at 100 TB the knn CTE's candidate pairs come
    from `lsh_neardup_pairs` / `ann_ivf_topk` buckets instead and
    everything downstream (k-dist, reach, lrd, lof — three narrow
    hash aggs on (id, id, rnk) rows) is unchanged.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000000).cast("long"),
        ).alias("q"),
    )
    a = v.select(F.col("vec_id").alias("aid"), F.col("q").alias("qa"))
    b = v.select(F.col("vec_id").alias("bid"), F.col("q").alias("qb"))
    p = a.join(F.broadcast(b), F.col("aid") != F.col("bid")).select(
        "aid",
        "bid",
        F.aggregate(
            F.zip_with("qa", "qb", lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dist2"),
    )
    w = Window.partitionBy("aid").orderBy("dist2", "bid")
    knn = p.withColumn("rnk", F.row_number().over(w)).where(F.col("rnk") <= 5)
    kd = knn.groupBy("aid").agg(F.max("dist2").alias("kdist2"))
    reach = knn.join(
        kd.select(F.col("aid").alias("bid"), "kdist2"), "bid"
    ).select(
        "aid",
        "bid",
        "rnk",
        F.sqrt(
            F.greatest(F.col("kdist2"), F.col("dist2")).cast("double")
        ).alias("rd"),
    )
    pick = lambda c, k: F.max(  # noqa: E731
        F.when(F.col("rnk") == k, F.col(c))
    )
    lrd = reach.groupBy("aid").agg(
        (
            F.lit(5.0)
            / (
                pick("rd", 1)
                + pick("rd", 2)
                + pick("rd", 3)
                + pick("rd", 4)
                + pick("rd", 5)
            )
        ).alias("lrd")
    )
    lrd = _ckpt(lrd)  # shared fan-out relation
    lof = (
        knn.join(lrd.select(F.col("aid").alias("bid"), F.col("lrd").alias("lrd_b")), "bid")
        .join(lrd.select(F.col("aid"), F.col("lrd").alias("lrd_a")), "aid")
        .groupBy("aid")
        .agg(
            (
                (
                    pick("lrd_b", 1)
                    + pick("lrd_b", 2)
                    + pick("lrd_b", 3)
                    + pick("lrd_b", 4)
                    + pick("lrd_b", 5)
                )
                / 5.0
                / F.max("lrd_a")
            ).alias("lof")
        )
    )
    return (
        lof.select(
            F.col("aid").alias("vec_id"),
            F.round(F.col("lof"), 6).alias("lof_score"),
            F.when(F.col("lof") > 1.5, 1).otherwise(0).cast("long").alias(
                "is_outlier"
            ),
        )
        .orderBy(F.desc("lof_score"), "vec_id")
        .limit(10)
    )


@query(
    "rbo_rank_agreement_parts",
    oracle="""
    WITH m AS (
        SELECT l_partkey,
               SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                   * CAST(ROUND((1 - l_discount) * 100) AS BIGINT))
                   AS rev_e4,
               CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)
                   AS qty
        FROM lineitem GROUP BY l_partkey
    ), pa AS (
        SELECT l_partkey,
               ROW_NUMBER() OVER (ORDER BY rev_e4 DESC, l_partkey) AS pos_a
        FROM m
    ), pb AS (
        SELECT l_partkey,
               ROW_NUMBER() OVER (ORDER BY qty DESC, l_partkey) AS pos_b
        FROM m
    ), common AS (
        SELECT GREATEST(pa.pos_a, pb.pos_b) AS first_d
        FROM pa JOIN pb USING (l_partkey)
        WHERE pa.pos_a <= 50 AND pb.pos_b <= 50
    ), grid AS (
        SELECT unnest(generate_series(1, 50)) AS d
    ), xd AS (
        SELECT g.d,
               CAST(COUNT(c.first_d) AS BIGINT) AS x
        FROM grid g LEFT JOIN common c ON c.first_d <= g.d
        GROUP BY g.d
    ), fold AS (
        WITH RECURSIVE f(d, s, w) AS (
            SELECT 0, CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE)
            UNION ALL
            SELECT f.d + 1,
                   f.s + f.w * (SELECT CAST(x AS DOUBLE) / (f.d + 1)
                                FROM xd WHERE xd.d = f.d + 1),
                   f.w * 0.9
            FROM f WHERE f.d < 50
        )
        SELECT s FROM f WHERE d = 50
    )
    SELECT ROUND(0.1 * s, 6) AS rbo_090,
           (SELECT x FROM xd WHERE d = 50) AS overlap_at_50,
           CAST(50 AS BIGINT) AS depth
    FROM fold
    """,
)
def rbo_rank_agreement_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010, p = 0.9, depth 50)
    between two part rankings — by exact revenue vs by total quantity:
    the TOP-WEIGHTED agreement measure for comparing ranked lists
    (`kendall_tau_rankings` weighs all positions equally; RBO weights
    rank 1 most, the right semantics for retrieval/recommendation
    lists and "did the reranker change anything users see").

    Exactness: both rankings sort exact integers (revenue in 1e-4
    dollars via cents×(100−disc·100), quantity as BIGINT) with id
    tie-breaks; the overlap profile X_d is integer counting; the
    geometric-weight fold runs SEQUENTIALLY d = 1..50 with the weight
    carried in the accumulator (w' = w·0.9 — no pow(), which is not
    correctly-rounded the same way across engines), identical
    left-fold associativity on both sides, one final round(6).

    Scale shape: fact collapses to |parts| in one hash agg; the two
    rankings need only the top-50 each (TakeOrderedAndProject at
    scale — rank by window here for the exact spec); the RBO fold
    itself is a 50-row driver-light array aggregate. At 100 TB this
    is one lineitem agg plus two tiny top-k's.
    """
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * F.round((1 - F.col("l_discount")) * 100).cast("long")
        ).alias("rev_e4"),
        F.sum(F.round(F.col("l_quantity")).cast("long"))
        .cast("long")
        .alias("qty"),
    )
    pa = m.select(
        "l_partkey",
        F.row_number()
        .over(Window.orderBy(F.desc("rev_e4"), "l_partkey"))
        .alias("pos_a"),
    )
    pb = m.select(
        "l_partkey",
        F.row_number()
        .over(Window.orderBy(F.desc("qty"), "l_partkey"))
        .alias("pos_b"),
    )
    common = (
        pa.join(pb, "l_partkey")
        .where((F.col("pos_a") <= 50) & (F.col("pos_b") <= 50))
        .select(F.greatest("pos_a", "pos_b").alias("first_d"))
    )
    grid = spark.range(1, 51).select(F.col("id").cast("long").alias("d"))
    xd = (
        grid.join(
            F.broadcast(common), F.col("first_d") <= F.col("d"), "left"
        )
        .groupBy("d")
        .agg(F.count("first_d").cast("long").alias("x"))
    )
    folded = xd.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("d").alias("d"),
                        (F.col("x").cast("double") / F.col("d")).alias(
                            "xoverd"
                        ),
                    )
                )
            ),
            F.struct(
                F.lit(0.0).alias("s"), F.lit(1.0).alias("w")
            ),
            lambda acc, e: F.struct(
                (acc.s + acc.w * e.xoverd).alias("s"),
                (acc.w * F.lit(0.9)).alias("w"),
            ),
            lambda acc: acc.s,
        ).alias("s"),
        F.max(F.when(F.col("d") == 50, F.col("x"))).alias("overlap_at_50"),
    )
    return folded.select(
        F.round(F.lit(0.1) * F.col("s"), 6).alias("rbo_090"),
        F.col("overlap_at_50"),
        F.lit(50).cast("long").alias("depth"),
    )


# ---------------------------------------------------------------------------
# wave 155: Flesch readability census, encoding-health audit
# ---------------------------------------------------------------------------


@query(
    "readability_flesch_by_source",
    oracle="""
    WITH per AS (
        SELECT source,
               CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT) AS w,
               GREATEST(CAST(len(regexp_extract_all(text, '[.!?]'))
                             AS BIGINT), 1) AS s,
               CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT)
                   + CAST(len(regexp_extract_all(text, '[^ ]+')) AS BIGINT)
                   - CAST(len(regexp_extract_all(text, '[^ ]*[aeiouy][^ ]*'))
                          AS BIGINT) AS syl
        FROM documents WHERE len(regexp_extract_all(text, '[^ ]+')) > 0
    ), milli AS (
        SELECT source,
               CAST(ROUND((206.835
                           - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                           - 84.6 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE)))
                          * 1000) AS BIGINT) AS ease_milli,
               CAST(ROUND((0.39 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                           + 11.8 * (CAST(syl AS DOUBLE) / CAST(w AS DOUBLE))
                           - 15.59) * 1000) AS BIGINT) AS grade_milli
        FROM per
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(CAST(SUM(ease_milli) AS DOUBLE)
                 / COUNT(*) / 1000.0, 4) AS avg_flesch_ease,
           ROUND(CAST(SUM(grade_milli) AS DOUBLE)
                 / COUNT(*) / 1000.0, 4) AS avg_fk_grade,
           CAST(SUM(CASE WHEN ease_milli >= 60000 THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS easy_docs_ppm
    FROM milli GROUP BY source ORDER BY source
    """,
)
def readability_flesch_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease and Flesch-Kincaid grade per source, via the
    classic vowel-group syllable heuristic (each [aeiouy]+ run is one
    syllable; vowel-less tokens count one) — the readability axis of
    training-data quality scoring that the length/repetition gates
    (`quality_filter_gopher`, `in_row_quality_gate`) don't measure,
    and a standard curriculum/difficulty signal (`easy_docs_ppm` is
    the share above ease 60, 'plain English').

    Exactness: words/sentences/syllables are integer regexp censuses;
    each document's ease and grade are computed from those integers
    with one fixed double expression, snapped to exact milli-units
    (BIGINT) per document, so the per-source averages divide exact
    integer sums — no float summation order anywhere.

    Scale shape: three map-side regexp counts fused into the scan,
    one |sources|-row hash aggregate. One pass at any corpus size.
    """
    d = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    w = F.regexp_count(t, F.lit(r"[^ ]+")).cast("long")
    s = F.greatest(F.regexp_count(t, F.lit(r"[.!?]")).cast("long"), F.lit(1))
    syl = (
        F.regexp_count(t, F.lit(r"[aeiouy]+")).cast("long")
        + w
        - F.regexp_count(t, F.lit(r"[^ ]*[aeiouy][^ ]*")).cast("long")
    )
    per = d.select(
        "source", w.alias("w"), s.alias("s"), syl.alias("syl")
    ).where(F.col("w") > 0)
    wd = F.col("w").cast("double")
    sd = F.col("s").cast("double")
    syld = F.col("syl").cast("double")
    milli = per.select(
        "source",
        F.round(
            (
                F.lit(206.835)
                - F.lit(1.015) * (wd / sd)
                - F.lit(84.6) * (syld / wd)
            )
            * 1000
        )
        .cast("long")
        .alias("ease_milli"),
        F.round(
            (
                F.lit(0.39) * (wd / sd)
                + F.lit(11.8) * (syld / wd)
                - F.lit(15.59)
            )
            * 1000
        )
        .cast("long")
        .alias("grade_milli"),
    )
    return (
        milli.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ease_milli").alias("se"),
            F.sum("grade_milli").alias("sg"),
            F.sum(F.when(F.col("ease_milli") >= 60000, 1).otherwise(0)).alias(
                "easy"
            ),
        )
        .select(
            "source",
            "n_docs",
            F.round(
                F.col("se").cast("double") / F.col("n_docs") / 1000.0, 4
            ).alias("avg_flesch_ease"),
            F.round(
                F.col("sg").cast("double") / F.col("n_docs") / 1000.0, 4
            ).alias("avg_fk_grade"),
            F.expr("easy * 1000000 div n_docs").cast("long").alias(
                "easy_docs_ppm"
            ),
        )
        .orderBy("source")
    )


@query(
    "encoding_health_by_source",
    oracle="""
    SELECT source AS grp, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN len(regexp_extract_all(
                    text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')) > 0
                THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_control,
           CAST(SUM(CASE WHEN contains(text, '�')
                THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_replacement,
           CAST(SUM(CASE WHEN contains(text, 'Ã')
                THEN 1 ELSE 0 END) AS BIGINT) AS docs_mojibake,
           CAST(SUM(CAST(len(regexp_extract_all(text, '[^\\x00-\\x7F]'))
                         AS BIGINT)) * 1000000
                // SUM(CAST(length(text) AS BIGINT)) AS BIGINT)
               AS non_ascii_ppm,
           CAST(SUM(CAST(len(regexp_extract_all(text, '\\s'))
                         AS BIGINT)) * 1000000
                // SUM(CAST(length(text) AS BIGINT)) AS BIGINT)
               AS whitespace_ppm,
           CAST(SUM(CAST(length(text) AS BIGINT)) AS BIGINT)
               AS n_chars_total
    FROM documents GROUP BY source ORDER BY source
    """,
)
def encoding_health_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-health audit per source (see
    `operators/text.py encoding_health`): control-character carriers,
    U+FFFD replacement-char carriers, 'Ã' mojibake carriers, and exact
    non-ASCII / whitespace char rates — the codec tripwire an ingest
    pipeline runs before any text statistic is trusted. Zeros are the
    healthy answer; the planted-dirty fixture test in
    `tests/test_wave153s.py` proves each detector actually fires.
    """
    from pyspark_movie_recommender_spark.operators.text import encoding_health

    d = load_table(spark, sf_dir, "documents")
    return encoding_health(d).orderBy("grp")


# ---------------------------------------------------------------------------
# wave 156: competing-risks cumulative incidence, Weibull log-log fit
# ---------------------------------------------------------------------------


@query(
    "competing_risks_cif",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p_ts,
               MIN(CASE WHEN event_type = 'error' THEN ts END) AS e_ts
        FROM events GROUP BY user_id
    ), horizon AS (
        SELECT MAX(ts) AS max_ts FROM events
    ), pts AS (
        SELECT
            CASE
              WHEN p_ts IS NOT NULL AND p_ts >= s_ts
                   AND (e_ts IS NULL OR e_ts < s_ts OR p_ts <= e_ts)
              THEN date_diff('day', s_ts, p_ts)
              WHEN e_ts IS NOT NULL AND e_ts >= s_ts
              THEN date_diff('day', s_ts, e_ts)
              ELSE date_diff('day', s_ts, max_ts) END AS t_days,
            CASE
              WHEN p_ts IS NOT NULL AND p_ts >= s_ts
                   AND (e_ts IS NULL OR e_ts < s_ts OR p_ts <= e_ts)
              THEN 1
              WHEN e_ts IS NOT NULL AND e_ts >= s_ts
              THEN 2 ELSE 0 END AS cause
        FROM per_user, horizon WHERE s_ts IS NOT NULL
    ), grp AS (
        SELECT CAST(t_days AS BIGINT) AS t_days,
               CAST(SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS d_purchase,
               CAST(SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS d_error,
               CAST(COUNT(*) AS BIGINT) AS n_here
        FROM pts GROUP BY t_days
    ), risk AS (
        SELECT t_days, d_purchase, d_error,
               CAST((SELECT COUNT(*) FROM pts)
                    - COALESCE(SUM(n_here) OVER (
                        ORDER BY t_days
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS n_risk
        FROM grp
    ), surv AS (
        SELECT t_days, d_purchase, d_error, n_risk,
               EXP(COALESCE(SUM(
                   CASE WHEN d_purchase + d_error < n_risk
                             AND d_purchase + d_error > 0
                        THEN ln(1.0 - (d_purchase + d_error) * 1.0 / n_risk)
                        ELSE 0.0 END) OVER (
                       ORDER BY t_days
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0.0)) AS s_minus,
               MAX(CASE WHEN d_purchase + d_error >= n_risk THEN 1 ELSE 0
                   END) OVER (
                   ORDER BY t_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS absorbed_before
        FROM risk
    )
    SELECT t_days, n_risk, d_purchase, d_error,
           ROUND(SUM(CASE WHEN absorbed_before = 1 THEN 0.0
                          ELSE s_minus * d_purchase / n_risk END)
                 OVER (ORDER BY t_days), 6) AS cif_purchase,
           ROUND(SUM(CASE WHEN absorbed_before = 1 THEN 0.0
                          ELSE s_minus * d_error / n_risk END)
                 OVER (ORDER BY t_days), 6) AS cif_error
    FROM surv
    """,
)
def competing_risks_cif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence functions for COMPETING
    risks: after signup, first-purchase (cause 1) competes with
    first-error (cause 2); CIF_k(t) = Σ_{tᵢ≤t} S(tᵢ⁻)·d_k/nᵢ with S
    the ANY-event Kaplan-Meier. 1 − KM per cause OVERSTATES incidence
    when risks compete — this is the correct decomposition
    (`kaplan_meier_signup_purchase` treats error-first users as
    censored; here they are events of the other type). Simultaneous
    purchase/error days resolve to purchase, documented and mirrored
    in the oracle.

    Determinism: day counts and risk sets are exact integers; S(t⁻)
    is the KM exp-of-cumulative-ln with the d=n absorbing state
    handled by a cumulative flag (same device as the KM query); both
    running sums are ordered prefix windows, accumulated in t order on
    both engines; round(6) at the end. CIF₁+CIF₂ ≤ 1 − S(t) holds by
    construction and is pinned in tests.

    Scale shape: events collapse per-user, then per-duration — every
    window runs over |distinct days| rows; horizon and the total are
    broadcast scalars. Identical shape to the KM/Nelson-Aalen family.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p_ts"),
        F.min(F.when(F.col("event_type") == "error", F.col("ts"))).alias("e_ts"),
    )
    horizon = ev.agg(F.max("ts").alias("max_ts"))
    p_wins = (
        F.col("p_ts").isNotNull()
        & (F.col("p_ts") >= F.col("s_ts"))
        & (
            F.col("e_ts").isNull()
            | (F.col("e_ts") < F.col("s_ts"))
            | (F.col("p_ts") <= F.col("e_ts"))
        )
    )
    e_wins = F.col("e_ts").isNotNull() & (F.col("e_ts") >= F.col("s_ts"))
    pts = (
        per_user.filter(F.col("s_ts").isNotNull())
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(p_wins, F.datediff("p_ts", "s_ts"))
            .when(e_wins, F.datediff("e_ts", "s_ts"))
            .otherwise(F.datediff("max_ts", "s_ts"))
            .cast("long")
            .alias("t_days"),
            F.when(p_wins, 1).when(e_wins, 2).otherwise(0).alias("cause"),
        )
    )
    pts = _ckpt(pts)  # shared fan-out relation
    grp = pts.groupBy("t_days").agg(
        F.sum(F.when(F.col("cause") == 1, 1).otherwise(0))
        .cast("long")
        .alias("d_purchase"),
        F.sum(F.when(F.col("cause") == 2, 1).otherwise(0))
        .cast("long")
        .alias("d_error"),
        F.count(F.lit(1)).cast("long").alias("n_here"),
    )
    total = pts.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    w_prev = (
        Window.orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    d_all = F.col("d_purchase") + F.col("d_error")
    risk = grp.crossJoin(F.broadcast(total)).select(
        "t_days",
        "d_purchase",
        "d_error",
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_here").over(w_prev), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    surv = risk.select(
        "t_days",
        "d_purchase",
        "d_error",
        "n_risk",
        F.exp(
            F.coalesce(
                F.sum(
                    F.when(
                        (d_all < F.col("n_risk")) & (d_all > 0),
                        F.log(1.0 - d_all * 1.0 / F.col("n_risk")),
                    ).otherwise(0.0)
                ).over(w_prev),
                F.lit(0.0),
            )
        ).alias("s_minus"),
        F.coalesce(
            F.max(
                F.when(d_all >= F.col("n_risk"), 1).otherwise(0)
            ).over(w_prev),
            F.lit(0),
        ).alias("absorbed_before"),
    )
    cif = lambda dcol: F.round(  # noqa: E731
        F.sum(
            F.when(F.col("absorbed_before") == 1, 0.0).otherwise(
                F.col("s_minus") * F.col(dcol) / F.col("n_risk")
            )
        ).over(w_run),
        6,
    )
    return surv.select(
        "t_days",
        "n_risk",
        "d_purchase",
        "d_error",
        cif("d_purchase").alias("cif_purchase"),
        cif("d_error").alias("cif_error"),
    )


@query(
    "weibull_fit_conversion_lag",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS p_ts
        FROM events GROUP BY user_id
    ), dur AS (
        SELECT CAST(date_diff('day', s_ts, p_ts) AS BIGINT) AS t_days
        FROM per_user
        WHERE s_ts IS NOT NULL AND p_ts IS NOT NULL AND p_ts >= s_ts
          AND date_diff('day', s_ts, p_ts) >= 1
    ), ranked AS (
        SELECT t_days,
               ROW_NUMBER() OVER (ORDER BY t_days) AS i,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM dur) AS n
        FROM dur
    ), xy AS (
        SELECT CAST(ROUND(ln(CAST(t_days AS DOUBLE)) * 1000000) AS BIGINT)
                   AS x,
               CAST(ROUND(ln(-ln(1.0 - (2.0 * i - 1.0) / (2.0 * n)))
                          * 1000000) AS BIGINT) AS y,
               n
        FROM ranked
    ), mom AS (
        SELECT MAX(n) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
               SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
               SUM(CAST(x AS HUGEINT) * CAST(y AS HUGEINT)) AS sxy,
               SUM(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS syy
        FROM xy
    )
    SELECT n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS shape_k,
           ROUND(EXP(-((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                        - (CAST(n * sxy - sx * sy AS DOUBLE)
                           / CAST(n * sxx - sx * sx AS DOUBLE))
                          * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                       / (CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE)))
                     / 1000000.0), 4) AS scale_days,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r_squared
    FROM mom
    """,
)
def weibull_fit_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit of the signup→purchase lag by MEDIAN-RANK (Hazen)
    regression on the log-log linearization: ln(−ln(1−F_i)) = k·ln t −
    k·ln λ, so the OLS slope IS the shape k (k<1 infant-mortality /
    k≈1 memoryless / k>1 wear-out) and exp(−intercept/k) the scale in
    days — the parametric summary beside the nonparametric KM /
    Nelson-Aalen family, with R² as the goodness-of-fit gate
    (`lognormal_fit_gof` is the other candidate family).

    Determinism: plotting positions F_i=(2i−1)/2n come from an integer
    rank (ties contribute an identical multiset of y's whatever their
    within-tie order, so the moments are tie-order invariant); each
    (x,y) snaps to exact micro-units, the five OLS moments accumulate
    in 128-bit integers, and the closed-form slope/intercept/R² are
    computed from those exact integers with one shared expression.

    Scale shape: events → per-user agg → uncensored durations (one
    filter) → a rank over |durations| rows → one moment census.
    Identical to the repo's other closed-form regressions.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p_ts"),
    )
    dur = (
        per_user.where(
            F.col("s_ts").isNotNull()
            & F.col("p_ts").isNotNull()
            & (F.col("p_ts") >= F.col("s_ts"))
        )
        .select(F.datediff("p_ts", "s_ts").cast("long").alias("t_days"))
        .where(F.col("t_days") >= 1)
    )
    n_df = dur.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = (
        dur.select(
            "t_days",
            F.row_number().over(Window.orderBy("t_days")).alias("i"),
        )
        .crossJoin(F.broadcast(n_df))
    )
    xy = ranked.select(
        F.round(F.log(F.col("t_days").cast("double")) * 1000000)
        .cast("long")
        .alias("x"),
        F.round(
            F.log(
                -F.log(
                    1.0
                    - (2.0 * F.col("i") - 1.0) / (2.0 * F.col("n"))
                )
            )
            * 1000000
        )
        .cast("long")
        .alias("y"),
        "n",
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mom = xy.agg(
        F.max("n").alias("n"),
        F.sum(dec("x")).alias("sx"),
        F.sum(dec("y")).alias("sy"),
        F.sum(dec("x") * dec("x")).alias("sxx"),
        F.sum(dec("x") * dec("y")).alias("sxy"),
        F.sum(dec("y") * dec("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num.cast("double") / den.cast("double")
    intercept = (
        F.col("sy").cast("double") / F.col("n").cast("double")
        - slope * F.col("sx").cast("double") / F.col("n").cast("double")
    )
    return mom.select(
        "n",
        F.round(slope, 4).alias("shape_k"),
        F.round(F.exp(-(intercept / slope) / 1000000.0), 4).alias(
            "scale_days"
        ),
        F.round(
            num.cast("double")
            * num.cast("double")
            / (
                den.cast("double")
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            ),
            6,
        ).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# wave 157: sliced-Wasserstein embedding drift, partial autocorrelation
# ---------------------------------------------------------------------------


@query(
    "sliced_wasserstein_labels",
    oracle="""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                   AS q
        FROM embeddings WHERE label IN (0, 1)
    ), slices AS (
        SELECT unnest(generate_series(0, 7)) AS j
    ), proj AS (
        SELECT s.j, v.label,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> q[i] * (((1103515245 * (s.j * 64 + (i - 1) + 1)
                                  + 12345) % 2001) - 1000)))
                   AS BIGINT) AS p
        FROM v, slices s
    ), norms AS (
        SELECT j,
               SQRT(CAST(list_sum(list_transform(range(1, 65),
                   i -> (((1103515245 * (j * 64 + (i - 1) + 1)
                           + 12345) % 2001) - 1000)
                        * (((1103515245 * (j * 64 + (i - 1) + 1)
                             + 12345) % 2001) - 1000)))
                   AS DOUBLE)) AS nrm
        FROM slices
    ), hist AS (
        SELECT j, p,
               CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c0,
               CAST(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1
        FROM proj GROUP BY j, p
    ), tot AS (
        SELECT j, CAST(SUM(c0) AS BIGINT) AS n0,
               CAST(SUM(c1) AS BIGINT) AS n1
        FROM hist GROUP BY j
    ), cum AS (
        SELECT j, p,
               SUM(c0) OVER (PARTITION BY j ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f0,
               SUM(c1) OVER (PARTITION BY j ORDER BY p
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1,
               LEAD(p) OVER (PARTITION BY j ORDER BY p) AS p_next
        FROM hist
    )
    SELECT c.j AS slice_id, t.n0, t.n1,
           ROUND(SUM(abs(CAST(f0 AS DOUBLE) / t.n0
                         - CAST(f1 AS DOUBLE) / t.n1)
                     * (p_next - p)) / nm.nrm / 1000000.0, 4) AS w1_slice
    FROM cum c JOIN tot t ON t.j = c.j JOIN norms nm ON nm.j = c.j
    WHERE p_next IS NOT NULL
    GROUP BY c.j, t.n0, t.n1, nm.nrm
    ORDER BY c.j
    """,
)
def sliced_wasserstein_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliced-Wasserstein drift between two embedding populations
    (labels 0 vs 1): project both onto 8 DETERMINISTIC pseudo-random
    directions (integer LCG — reproducible on any engine, no RNG
    state) and report the exact 1-D Wasserstein distance per slice,
    normalized to embedding units. The multivariate drift measure the
    1-D family (`wasserstein_value_drift`, `ks_drift_view_purchase`)
    cannot give: W₂-sliced is the standard cheap proxy for
    distribution shift between embedding corpora (retrain triggers,
    domain-mix monitoring) without any n² pairwise OT.

    Exactness: coordinates and direction components are exact
    integers, so every projection is an exact BIGINT; each slice's W₁
    is the CDF-gap × support-gap sum over the projection histogram
    (same construction as `wasserstein_value_drift`), rounded after
    the norm scaling.

    Scale shape: projections are map-side (one fused pass over the
    corpus, 8 integer dot products per row); each slice collapses to
    its projection histogram; the CDF windows run per-slice over
    |distinct projections|. At 100 TB: bucket the projection grid
    (integer DIV) to bound the support — the knob is explicit.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.where(F.col("label").isin(0, 1)).select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000000).cast("long"),
        ).alias("q"),
    )
    slices = spark.range(0, 8).select(F.col("id").cast("long").alias("j"))
    dir_expr = (
        "(((1103515245 * (j * 64 + i + 1) + 12345) % 2001) - 1000)"
    )
    proj = v.crossJoin(F.broadcast(slices)).select(
        "j",
        "label",
        F.expr(
            "aggregate(transform(sequence(0, 63), i -> "
            f"element_at(q, i + 1) * {dir_expr}), 0L, (acc, x) -> acc + x)"
        ).alias("p"),
    )
    norms = slices.select(
        "j",
        F.sqrt(
            F.expr(
                "aggregate(transform(sequence(0, 63), i -> "
                f"{dir_expr} * {dir_expr}), 0L, (acc, x) -> acc + x)"
            ).cast("double")
        ).alias("nrm"),
    )
    hist = proj.groupBy("j", "p").agg(
        F.sum(F.when(F.col("label") == 0, 1).otherwise(0))
        .cast("long")
        .alias("c0"),
        F.sum(F.when(F.col("label") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
    )
    tot = hist.groupBy("j").agg(
        F.sum("c0").cast("long").alias("n0"),
        F.sum("c1").cast("long").alias("n1"),
    )
    wj = Window.partitionBy("j").orderBy("p")
    cum = hist.select(
        "j",
        "p",
        F.sum("c0").over(wj.rowsBetween(Window.unboundedPreceding, 0)).alias("f0"),
        F.sum("c1").over(wj.rowsBetween(Window.unboundedPreceding, 0)).alias("f1"),
        F.lead("p").over(wj).alias("p_next"),
    )
    return (
        cum.where(F.col("p_next").isNotNull())
        .join(F.broadcast(tot), "j")
        .join(F.broadcast(norms), "j")
        .groupBy(F.col("j").alias("slice_id"), "n0", "n1", "nrm")
        .agg(
            F.round(
                F.sum(
                    F.abs(
                        F.col("f0").cast("double") / F.col("n0")
                        - F.col("f1").cast("double") / F.col("n1")
                    )
                    * (F.col("p_next") - F.col("p"))
                )
                / F.col("nrm")
                / 1000000.0,
                4,
            ).alias("w1_slice")
        )
        .select("slice_id", "n0", "n1", "w1_slice")
        .orderBy("slice_id")
    )


@query(
    "pacf_daily_event_value",
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
        SELECT g.day, COALESCE(SUM(p.cents), 0) AS x,
               ROW_NUMBER() OVER (ORDER BY g.day) AS i
        FROM grid g LEFT JOIN pts p ON p.day = g.day GROUP BY g.day
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM daily
    ), dev AS (
        SELECT i, CAST(n * x - s AS HUGEINT) AS d FROM daily, stats
    ), den AS (
        SELECT SUM(d * d) AS dd FROM dev
    ), lags AS (
        SELECT unnest(generate_series(1, 3)) AS lag
    ), rho AS (
        SELECT MAX(CASE WHEN lag = 1 THEN r END) AS r1,
               MAX(CASE WHEN lag = 2 THEN r END) AS r2,
               MAX(CASE WHEN lag = 3 THEN r END) AS r3
        FROM (
            SELECT lag,
                   CAST(SUM(a.d * b.d) AS DOUBLE) / CAST(den.dd AS DOUBLE)
                       AS r
            FROM lags JOIN dev a ON TRUE JOIN dev b ON b.i = a.i - lag, den
            GROUP BY lag, den.dd
        )
    )
    SELECT lag, ROUND(acf, 6) AS acf, ROUND(pacf, 6) AS pacf FROM (
        SELECT 1 AS lag, r1 AS acf, r1 AS pacf FROM rho
        UNION ALL
        SELECT 2, r2, (r2 - r1 * r1) / (1.0 - r1 * r1) FROM rho
        UNION ALL
        SELECT 3, r3,
               (1.0 * (r3 - r1 * r2) - r1 * (r1 * r3 - r2 * r2)
                + r1 * (r1 * r1 - r2))
               / (1.0 * (1.0 - r1 * r1) - r1 * (r1 - r1 * r2)
                  + r2 * (r1 * r1 - r2))
        FROM rho
    ) ORDER BY lag
    """,
)
def pacf_daily_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation (lags 1-3) of the zero-filled daily
    event-value series, from the Yule-Walker / Durbin-Levinson closed
    forms: φ₁₁ = ρ₁, φ₂₂ = (ρ₂−ρ₁²)/(1−ρ₁²), and φ₃₃ as the Cramer
    ratio of 3×3 Toeplitz determinants — the AR-ORDER chooser the ACF
    cannot be (`acf_daily_event_value` tails off for any AR(p); PACF
    cuts off exactly AT p), completing the Box-Jenkins identification
    pair with `ljung_box_daily_value` as the residual gate.

    Determinism: the ρ_k come from the same exact-integer deviation
    machinery as the ACF (bit-identical numerators/denominators); the
    three closed forms are fixed double expressions over those three
    identical doubles, written with the same literal structure on both
    engines, rounded to 6.

    Scale shape: identical to the ACF — |days|-row series relation,
    3-row lag join, constant-size algebra after.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import (
        epoch_day,
        mean_cleared_devs,
        zero_filled_daily_grid,
    )

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        epoch_day("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = zero_filled_daily_grid(
        pts, F.coalesce(F.sum("cents"), F.lit(0)).cast("long")
    ).select("day", "x", F.row_number().over(Window.orderBy("day")).alias("i"))
    dev = mean_cleared_devs(daily).select("i", "d")
    dev = _ckpt(dev)  # shared fan-out relation
    den = dev.agg(F.sum(F.col("d") * F.col("d")).alias("dd"))
    lags = spark.range(1, 4).select(F.col("id").cast("long").alias("lag"))
    rho_rows = (
        lags.crossJoin(
            dev.select(F.col("i").alias("ai"), F.col("d").alias("ad"))
        )
        .join(
            dev.select(F.col("i").alias("bi"), F.col("d").alias("bd")),
            F.col("bi") == F.col("ai") - F.col("lag"),
        )
        .groupBy("lag")
        .agg(F.sum(F.col("ad") * F.col("bd")).alias("num"))
        .crossJoin(F.broadcast(den))
        .select(
            "lag",
            (F.col("num").cast("double") / F.col("dd").cast("double")).alias(
                "r"
            ),
        )
    )
    rho = rho_rows.agg(
        F.max(F.when(F.col("lag") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("lag") == 2, F.col("r"))).alias("r2"),
        F.max(F.when(F.col("lag") == 3, F.col("r"))).alias("r3"),
    )
    rho = _ckpt(rho)  # shared fan-out relation
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    l1 = rho.select(
        F.lit(1).cast("long").alias("lag"),
        r1.alias("acf"),
        r1.alias("pacf"),
    )
    l2 = rho.select(
        F.lit(2).cast("long").alias("lag"),
        r2.alias("acf"),
        ((r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)).alias("pacf"),
    )
    l3 = rho.select(
        F.lit(3).cast("long").alias("lag"),
        r3.alias("acf"),
        (
            (
                F.lit(1.0) * (r3 - r1 * r2)
                - r1 * (r1 * r3 - r2 * r2)
                + r1 * (r1 * r1 - r2)
            )
            / (
                F.lit(1.0) * (F.lit(1.0) - r1 * r1)
                - r1 * (r1 - r1 * r2)
                + r2 * (r1 * r1 - r2)
            )
        ).alias("pacf"),
    )
    return (
        l1.unionAll(l2)
        .unionAll(l3)
        .select("lag", F.round("acf", 6).alias("acf"), F.round("pacf", 6).alias("pacf"))
        .orderBy("lag")
    )


# ---------------------------------------------------------------------------
# wave 158: Bloom-prefilter join, matrix-profile motif/discord discovery
# ---------------------------------------------------------------------------


@query(
    "bloom_prefilter_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join with an explicit Bloom-filter RUNTIME PREFILTER: the
    BUILDING-segment customer keys are folded into a 16384-bit Bloom
    bitmap (256 longs, k=3 xxhash64 probes) as a tiny DataFrame; the
    fact side probes the broadcast bitmap with three narrow broadcast
    hash joins and drops non-members BEFORE the exact join, which then
    removes the false positives — so the result is EXACTLY the plain
    join (the oracle is the plain SQL) while the fact rows that reach
    the join shuffle drop to |matches| + FPR·|facts|.

    This is the declarative form of Spark's runtime row-level filtering
    (spark.sql.optimizer.runtime.bloomFilter.*): at 100 TB the dim side
    is too big to broadcast whole but its 2 KB bitmap never is; the
    bloom pass is shuffle-free (bitmap words are a 256-row broadcast),
    map-side, and no-false-negative by construction (pytest pins
    candidates ⊇ matches and the observed FPR).

    Exactness: revenue summed in exact cents; the Bloom stage cannot
    change the result set, only the plan.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    dim = c.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    dim = _ckpt(dim)  # shared fan-out relation
    m_bits = 16384
    positions = dim.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.lit(h), F.col("c_custkey")), F.lit(m_bits))
                    for h in range(3)
                ]
            )
        ).alias("bitpos")
    )
    words = positions.groupBy(
        F.expr("bitpos div 64").alias("widx")
    ).agg(
        F.bit_or(F.expr("shiftleft(1L, CAST(bitpos % 64 AS INT))")).alias(
            "word"
        )
    )
    probed = o.select(
        "o_custkey",
        "o_orderpriority",
        "o_totalprice",
        *[
            F.pmod(F.xxhash64(F.lit(h), F.col("o_custkey")), F.lit(m_bits)).alias(
                f"bp{h}"
            )
            for h in range(3)
        ],
    )
    for h in range(3):
        probed = probed.withColumn(f"w{h}", F.expr(f"bp{h} div 64"))
        probed = probed.join(
            F.broadcast(
                words.select(
                    F.col("widx").alias(f"w{h}"), F.col("word").alias(f"word{h}")
                )
            ),
            f"w{h}",
            "left",
        )
    mask = lambda h: F.expr(  # noqa: E731
        f"shiftleft(1L, CAST(bp{h} % 64 AS INT))"
    )
    member = (
        (F.coalesce(F.col("word0"), F.lit(0)).bitwiseAND(mask(0)) == mask(0))
        & (F.coalesce(F.col("word1"), F.lit(0)).bitwiseAND(mask(1)) == mask(1))
        & (F.coalesce(F.col("word2"), F.lit(0)).bitwiseAND(mask(2)) == mask(2))
    )
    candidates = probed.where(member).select(
        "o_custkey", "o_orderpriority", "o_totalprice"
    )
    candidates = _ckpt(candidates)  # shared fan-out relation
    return (
        candidates.join(dim, candidates.o_custkey == dim.c_custkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "motif_discovery_daily",
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
        SELECT g.day, COALESCE(SUM(p.cents), 0) AS x,
               ROW_NUMBER() OVER (ORDER BY g.day) AS i
        FROM grid g LEFT JOIN pts p ON p.day = g.day GROUP BY g.day
    ), win AS (
        SELECT i,
               CAST(SUM(x) OVER w AS BIGINT) AS s,
               CAST(SUM(x * x) OVER w AS HUGEINT) AS ss,
               CAST(COUNT(*) OVER w AS BIGINT) AS cnt
        FROM daily
        WINDOW w AS (ORDER BY i ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)
        QUALIFY cnt = 7 AND 7 * ss - CAST(s AS HUGEINT) * s > 0
    ), dots AS (
        SELECT a.i AS ia, b.i AS ib,
               CAST(SUM(CAST(da.x AS HUGEINT) * db.x) AS HUGEINT) AS sab
        FROM win a JOIN win b ON b.i > a.i + 6
        JOIN daily da ON da.i BETWEEN a.i AND a.i + 6
        JOIN daily db ON db.i = da.i - a.i + b.i
        GROUP BY a.i, b.i
    ), dist AS (
        SELECT d.ia, d.ib,
               SQRT(GREATEST(0.0, 14.0 * (1.0 -
                   CAST(7 * d.sab - CAST(a.s AS HUGEINT) * b.s AS DOUBLE)
                   / SQRT(CAST(7 * a.ss - CAST(a.s AS HUGEINT) * a.s
                               AS DOUBLE))
                   / SQRT(CAST(7 * b.ss - CAST(b.s AS HUGEINT) * b.s
                               AS DOUBLE))))) AS zdist
        FROM dots d JOIN win a ON a.i = d.ia JOIN win b ON b.i = d.ib
    ), motif AS (
        SELECT ia, ib, zdist FROM dist
        ORDER BY ROUND(zdist, 6), ia, ib LIMIT 1
    ), profile AS (
        SELECT i, MIN(zdist) AS nn_dist FROM (
            SELECT ia AS i, zdist FROM dist
            UNION ALL
            SELECT ib AS i, zdist FROM dist
        ) GROUP BY i
    ), discord AS (
        SELECT i, nn_dist FROM profile
        ORDER BY ROUND(nn_dist, 6) DESC, i LIMIT 1
    )
    SELECT m.ia AS motif_start_a, m.ib AS motif_start_b,
           ROUND(m.zdist, 6) AS motif_zdist,
           d.i AS discord_start, ROUND(d.nn_dist, 6) AS discord_zdist
    FROM motif m, discord d
    """,
)
def motif_discovery_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix-profile-style motif and discord discovery on the daily
    event-value series (window m = 7): the MOTIF is the pair of
    non-overlapping weeks with the smallest z-normalized Euclidean
    distance (the series' most repeated shape — recurring campaign /
    batch-job signature); the DISCORD is the week farthest from its
    nearest non-overlapping neighbor (the strongest anomaly — the
    SUBSEQUENCE outlier that pointwise detectors like
    `mad_outliers_orders` / `seasonal_residual_outlier_days` cannot
    see). Keogh's matrix-profile semantics, computed exactly.

    Exactness: the z-normalized distance uses the correlation identity
    zdist² = 2m(1−r) where every ingredient of r (window sums, window
    sum-of-squares, pairwise dot products) is an exact 128-bit integer
    from the cents-valued series — both engines build identical
    doubles. Constant windows (zero variance) are excluded on both
    sides; the argmin/argmax order by the ROUNDED distance with
    (ia, ib) tie-breaks; trivial matches excluded by requiring a full
    window of separation (b.i > a.i + 6).

    Scale shape: the fact collapses to |days| rows; window moments are
    one ordered-frame pass; the all-pairs stage is |windows|²/2 over a
    relation of hundreds of rows with an index-shifted 7-term dot
    product. At longer horizons this is where STOMP's O(n²) incremental
    recurrence (or MASS FFT batches in a pandas UDF) replaces the
    naive join — noted, not needed at the daily grain.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import (
        epoch_day,
        zero_filled_daily_grid,
    )

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        epoch_day("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = zero_filled_daily_grid(
        pts, F.coalesce(F.sum("cents"), F.lit(0)).cast("long")
    ).select("day", "x", F.row_number().over(Window.orderBy("day")).alias("i"))
    daily = _ckpt(daily)  # shared fan-out relation
    wf = Window.orderBy("i").rowsBetween(0, 6)
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    win = (
        daily.select(
            "i",
            F.sum("x").over(wf).cast("long").alias("s"),
            F.sum(F.col("x") * F.col("x")).over(wf).cast("decimal(38,0)").alias("ss"),
            F.count("x").over(wf).alias("cnt"),
        )
        .where(
            (F.col("cnt") == 7)
            & (7 * F.col("ss") - dec("s") * dec("s") > 0)
        )
        .drop("cnt")
    )
    a = win.select(
        F.col("i").alias("ia"), F.col("s").alias("sa"), F.col("ss").alias("ssa")
    )
    b = win.select(
        F.col("i").alias("ib"), F.col("s").alias("sb"), F.col("ss").alias("ssb")
    )
    da = daily.select(F.col("i").alias("dai"), F.col("x").alias("xa"))
    db = daily.select(F.col("i").alias("dbi"), F.col("x").alias("xb"))
    dots = (
        a.join(b, F.col("ib") > F.col("ia") + 6)
        .join(
            F.broadcast(da),
            (F.col("dai") >= F.col("ia")) & (F.col("dai") <= F.col("ia") + 6),
        )
        .join(
            F.broadcast(db),
            F.col("dbi") == F.col("dai") - F.col("ia") + F.col("ib"),
        )
        .groupBy("ia", "ib", "sa", "ssa", "sb", "ssb")
        .agg(
            F.sum(F.col("xa").cast("decimal(38,0)") * F.col("xb")).alias("sab")
        )
    )
    r = (
        (7 * F.col("sab") - dec("sa") * dec("sb")).cast("double")
        / F.sqrt((7 * F.col("ssa") - dec("sa") * dec("sa")).cast("double"))
        / F.sqrt((7 * F.col("ssb") - dec("sb") * dec("sb")).cast("double"))
    )
    dist = dots.select(
        "ia",
        "ib",
        F.sqrt(F.greatest(F.lit(0.0), 14.0 * (F.lit(1.0) - r))).alias("zdist"),
    )
    motif = (
        dist.orderBy(F.round("zdist", 6), "ia", "ib")
        .limit(1)
        .select(
            F.col("ia").alias("motif_start_a"),
            F.col("ib").alias("motif_start_b"),
            F.round("zdist", 6).alias("motif_zdist"),
        )
    )
    profile = (
        dist.select(F.col("ia").alias("i"), "zdist")
        .unionAll(dist.select(F.col("ib").alias("i"), "zdist"))
        .groupBy("i")
        .agg(F.min("zdist").alias("nn_dist"))
    )
    discord = (
        profile.orderBy(F.round("nn_dist", 6).desc(), "i")
        .limit(1)
        .select(
            F.col("i").alias("discord_start"),
            F.round("nn_dist", 6).alias("discord_zdist"),
        )
    )
    return motif.crossJoin(discord)


# ---------------------------------------------------------------------------
# wave 159: STL-lite seasonal decomposition, Hampel rolling-MAD filter
# ---------------------------------------------------------------------------


@query(
    "stl_decompose_daily",
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
    ), tr AS (
        SELECT day, x,
               CAST(SUM(x) OVER w AS BIGINT) AS s7,
               CAST(COUNT(*) OVER w AS BIGINT) AS c7
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        QUALIFY c7 = 7
    ), detr AS (
        SELECT day, x, CAST(s7 AS DOUBLE) / 7.0 AS trend,
               (day + 4) % 7 AS dow,
               CAST(ROUND((x - CAST(s7 AS DOUBLE) / 7.0) * 1000) AS BIGINT)
                   AS dm
        FROM tr
    ), seas AS (
        SELECT dow, CAST(SUM(dm) AS BIGINT) AS sm,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM detr GROUP BY dow
    ), seas_centered AS (
        SELECT s.dow,
               CAST(s.sm AS DOUBLE) / s.cnt / 1000.0
               - (SELECT (MAX(CASE WHEN dow = 0 THEN CAST(sm AS DOUBLE) / cnt END)
                        + MAX(CASE WHEN dow = 1 THEN CAST(sm AS DOUBLE) / cnt END)
                        + MAX(CASE WHEN dow = 2 THEN CAST(sm AS DOUBLE) / cnt END)
                        + MAX(CASE WHEN dow = 3 THEN CAST(sm AS DOUBLE) / cnt END)
                        + MAX(CASE WHEN dow = 4 THEN CAST(sm AS DOUBLE) / cnt END)
                        + MAX(CASE WHEN dow = 5 THEN CAST(sm AS DOUBLE) / cnt END)
                        + MAX(CASE WHEN dow = 6 THEN CAST(sm AS DOUBLE) / cnt END))
                        / 7.0 / 1000.0
                  FROM seas) AS seasonal
        FROM seas s
    )
    SELECT d.day, d.x AS x_cents, d.dow,
           ROUND(d.trend, 4) AS trend,
           ROUND(sc.seasonal, 4) AS seasonal,
           ROUND(d.x - d.trend - sc.seasonal, 4) AS residual
    FROM detr d JOIN seas_centered sc ON sc.dow = d.dow
    ORDER BY d.day
    """,
)
def stl_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite additive decomposition TABLE for the daily event-value
    series: trend (centered 7-day moving mean), weekly seasonal
    (per-weekday mean of the detrended series, centered to sum to
    zero), and residual, one row per fully-windowed day — the
    TRANSFORM the seasonal metrics summarize
    (`seasonal_strength_metric` is Var-based triage over exactly this
    decomposition; `seasonal_residual_outlier_days` flags its
    residual), exposed as a reusable output a forecasting or
    anomaly pipeline consumes directly.

    Determinism: trend is an exact 7-integer sum / 7.0; detrended
    values snap to exact milli-units before the per-weekday means, so
    the seasonal components divide exact integers; the grand mean of
    the 7 weekday means folds in fixed dow order. Weekday index is
    (epoch_day+4) % 7 (0 = Monday).

    Scale shape: fact → |days| rows; one ordered frame for the trend;
    a 7-row broadcast for the seasonal join. One narrow window pass at
    any corpus size.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import (
        epoch_day,
        zero_filled_daily_grid,
    )

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        epoch_day("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = zero_filled_daily_grid(
        pts, F.coalesce(F.sum("cents"), F.lit(0)).cast("long")
    )
    wf = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "x",
        F.sum("x").over(wf).cast("long").alias("s7"),
        F.count("x").over(wf).alias("c7"),
    ).where(F.col("c7") == 7)
    trend = F.col("s7").cast("double") / 7.0
    detr = tr.select(
        "day",
        "x",
        trend.alias("trend"),
        ((F.col("day") + 4) % 7).alias("dow"),
        F.round((F.col("x") - trend) * 1000).cast("long").alias("dm"),
    )
    seas = detr.groupBy("dow").agg(
        F.sum("dm").cast("long").alias("sm"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    seas = _ckpt(seas)  # shared fan-out relation
    mean_d = lambda k: F.max(  # noqa: E731
        F.when(F.col("dow") == k, F.col("sm").cast("double") / F.col("cnt"))
    )
    grand = seas.agg(
        (
            (
                mean_d(0) + mean_d(1) + mean_d(2) + mean_d(3)
                + mean_d(4) + mean_d(5) + mean_d(6)
            )
            / 7.0
            / 1000.0
        ).alias("g")
    )
    seas_centered = seas.crossJoin(F.broadcast(grand)).select(
        "dow",
        (
            F.col("sm").cast("double") / F.col("cnt") / 1000.0 - F.col("g")
        ).alias("seasonal"),
    )
    return (
        detr.join(F.broadcast(seas_centered), "dow")
        .select(
            "day",
            F.col("x").alias("x_cents"),
            "dow",
            F.round("trend", 4).alias("trend"),
            F.round("seasonal", 4).alias("seasonal"),
            F.round(
                F.col("x") - F.col("trend") - F.col("seasonal"), 4
            ).alias("residual"),
        )
        .orderBy("day")
    )


@query(
    "hampel_filter_daily",
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
    ), med AS (
        SELECT day, x,
               quantile_cont(x, 0.5) OVER w AS med,
               CAST(COUNT(*) OVER w AS BIGINT) AS c15
        FROM daily
        WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 7 FOLLOWING)
        QUALIFY c15 = 15
    ), mad AS (
        SELECT m.day, m.x, CAST(m.med AS BIGINT) AS med_cents,
               CAST(quantile_cont(abs(d2.x - m.med), 0.5) AS BIGINT)
                   AS mad_cents
        FROM med m JOIN daily d2
          ON d2.day BETWEEN m.day - 7 AND m.day + 7
        GROUP BY m.day, m.x, m.med
        HAVING COUNT(*) = 15
    )
    SELECT day, x AS x_cents, med_cents, mad_cents,
           CAST(CASE WHEN abs(x - med_cents)
                          > 3.0 * 1.4826 * mad_cents
                     THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
    FROM mad ORDER BY day
    """,
)
def hampel_filter_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over the daily event-value series: centered
    15-day rolling MEDIAN and rolling MAD, flagging days where
    |x − med| > 3·1.4826·MAD — the robust time-series spike detector
    (median/MAD have a 50% breakdown point, so unlike the rolling-mean
    z-score a burst can't drag its own threshold up). The point-wise
    robust complement to `motif_discovery_daily`'s subsequence discord
    and the rolling twin of the global `mad_outliers_orders`.

    Exactness: windows hold exactly 15 integer cents values, so both
    the median (8th order statistic — odd count, interpolation never
    fires) and the MAD (median of 15 integer absolute deviations) are
    exact integers on both engines; the flag compares integers against
    one fixed double product.

    Scale shape: fact → |days| rows; the median is one ordered frame;
    the MAD needs deviations-from-MY-median, which no fixed frame
    expresses — a ±7-day range self-join over the tiny series relation
    (15 rows per day) feeds one hash-agg percentile. Everything stays
    on the |days| grain.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import (
        epoch_day,
        zero_filled_daily_grid,
    )

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        epoch_day("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = zero_filled_daily_grid(
        pts, F.coalesce(F.sum("cents"), F.lit(0)).cast("long")
    )
    daily = _ckpt(daily)  # shared fan-out relation
    wf = Window.orderBy("day").rowsBetween(-7, 7)
    med = daily.select(
        "day",
        "x",
        F.expr("percentile(x, 0.5)").over(wf).alias("med"),
        F.count("x").over(wf).alias("c15"),
    ).where(F.col("c15") == 15)
    d2 = daily.select(F.col("day").alias("day2"), F.col("x").alias("x2"))
    mad = (
        med.join(
            F.broadcast(d2),
            (F.col("day2") >= F.col("day") - 7)
            & (F.col("day2") <= F.col("day") + 7),
        )
        .groupBy("day", "x", "med")
        .agg(
            F.expr("percentile(abs(x2 - med), 0.5)").alias("mad"),
            F.count(F.lit(1)).alias("n_win"),
        )
        .where(F.col("n_win") == 15)
    )
    return mad.select(
        "day",
        F.col("x").alias("x_cents"),
        F.col("med").cast("long").alias("med_cents"),
        F.col("mad").cast("long").alias("mad_cents"),
        F.when(
            F.abs(F.col("x") - F.col("med").cast("long"))
            > 3.0 * 1.4826 * F.col("mad").cast("long"),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("is_outlier"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# wave 160: propensity caliper matching (ATT), Dirichlet query likelihood
# ---------------------------------------------------------------------------


@query(
    "propensity_match_att",
    oracle="""
    WITH outcome AS (
        SELECT c.c_custkey, c.c_acctbal,
               MAX(CASE WHEN o.o_orderpriority = '1-URGENT'
                   THEN 1 ELSE 0 END) AS treated,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS spend_cents
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_acctbal
    ), seq AS (
        SELECT *,
               LAST_VALUE(CASE WHEN treated = 0 THEN c_acctbal END
                          IGNORE NULLS) OVER wprev AS prev_bal,
               LAST_VALUE(CASE WHEN treated = 0 THEN spend_cents END
                          IGNORE NULLS) OVER wprev AS prev_spend,
               FIRST_VALUE(CASE WHEN treated = 0 THEN c_acctbal END
                           IGNORE NULLS) OVER wnext AS next_bal,
               FIRST_VALUE(CASE WHEN treated = 0 THEN spend_cents END
                           IGNORE NULLS) OVER wnext AS next_spend
        FROM outcome
        WINDOW wprev AS (ORDER BY c_acctbal, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               wnext AS (ORDER BY c_acctbal, c_custkey
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ), matched AS (
        SELECT c_custkey, spend_cents AS y_t,
               CASE WHEN prev_bal IS NOT NULL AND (next_bal IS NULL
                         OR c_acctbal - prev_bal <= next_bal - c_acctbal)
                    THEN prev_spend ELSE next_spend END AS y_c,
               CASE WHEN prev_bal IS NOT NULL AND (next_bal IS NULL
                         OR c_acctbal - prev_bal <= next_bal - c_acctbal)
                    THEN c_acctbal - prev_bal
                    ELSE next_bal - c_acctbal END AS dist
        FROM seq WHERE treated = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_treated,
           CAST(SUM(CASE WHEN y_c IS NOT NULL AND dist <= 100.0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           ROUND(CAST(SUM(CASE WHEN y_c IS NOT NULL AND dist <= 100.0
                         THEN y_t - y_c END) AS DOUBLE)
                 / SUM(CASE WHEN y_c IS NOT NULL AND dist <= 100.0
                       THEN 1 ELSE 0 END) / 100.0, 4) AS att_dollars
    FROM matched
    """,
)
def propensity_match_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor CALIPER MATCHING estimate of the ATT: treated =
    customers with ≥1 urgent order; each treated unit matches its
    nearest control on account balance (with replacement, caliper
    100.0) and the average treated-minus-matched spend gap is the
    effect — the MATCHING member of the causal family
    (`doubly_robust_ate` weights, `covariate_balance_smd` diagnoses,
    this one matches; same estimand, different bias/variance deal).

    The 1-D nearest match is the as-of machinery both ways: one sorted
    sequence over (balance, custkey), last-control-before and
    first-control-after via IGNORE NULLS window frames, then the
    closer side wins (ties to the earlier control — fixed rule both
    engines). No pair join ever materializes.

    Exactness: outcomes are exact cents; distances compare the same
    doubles; the ATT divides an exact integer sum of matched gaps.

    Scale shape: one orders→customer agg, then the bidirectional
    nearest-control scan runs through ``operators/rank.py``
    distributed_global_neighbors (range-bucket on balance, per-bucket
    ignorenulls windows, marked boundary values carried across buckets
    as O(n_buckets) driver scalars — the per-customer relation is
    ~10⁹ rows at 100 TB, so a bare ``Window.orderBy`` single-task
    sort is not acceptable here), one census agg. No n² matching.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_global_neighbors,
    )

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    outcome = (
        c.join(o, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_acctbal")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("treated"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("spend_cents"),
        )
    )
    seq = distributed_global_neighbors(
        outcome.withColumn("__ctl", F.col("treated") == 0),
        "c_acctbal",
        "c_custkey",
        "__ctl",
        ["c_acctbal", "spend_cents"],
    ).select(
        *outcome.columns,
        F.col("prev_c_acctbal").alias("prev_bal"),
        F.col("prev_spend_cents").alias("prev_spend"),
        F.col("next_c_acctbal").alias("next_bal"),
        F.col("next_spend_cents").alias("next_spend"),
    )
    use_prev = F.col("prev_bal").isNotNull() & (
        F.col("next_bal").isNull()
        | (
            F.col("c_acctbal") - F.col("prev_bal")
            <= F.col("next_bal") - F.col("c_acctbal")
        )
    )
    matched = seq.where(F.col("treated") == 1).select(
        F.col("spend_cents").alias("y_t"),
        F.when(use_prev, F.col("prev_spend"))
        .otherwise(F.col("next_spend"))
        .alias("y_c"),
        F.when(use_prev, F.col("c_acctbal") - F.col("prev_bal"))
        .otherwise(F.col("next_bal") - F.col("c_acctbal"))
        .alias("dist"),
    )
    ok = F.col("y_c").isNotNull() & (F.col("dist") <= 100.0)
    return matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_treated"),
        F.sum(F.when(ok, 1).otherwise(0)).cast("long").alias("n_matched"),
        F.round(
            F.sum(F.when(ok, F.col("y_t") - F.col("y_c"))).cast("double")
            / F.sum(F.when(ok, 1).otherwise(0))
            / 100.0,
            4,
        ).alias("att_dollars"),
    )


@query(
    "query_likelihood_dirichlet",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\\s+') END AS t
        FROM documents
    ), d AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, t FROM toks
    ), corpus AS (
        SELECT CAST(SUM(dl) AS BIGINT) AS total_tokens FROM d
    ), q AS (
        SELECT unnest(['spark', 'vector', 'stream']) AS term
    ), ctf AS (
        SELECT q.term,
               CAST(COUNT(u.term) AS BIGINT) AS ctf
        FROM q LEFT JOIN (SELECT unnest(t) AS term FROM d) u
          ON u.term = q.term
        GROUP BY q.term
    ), tf AS (
        SELECT d.doc_id, d.dl, q.term,
               CAST(len(list_filter(d.t, x -> x = q.term)) AS BIGINT) AS tf
        FROM d CROSS JOIN q
    )
    SELECT doc_id,
           ROUND(SUM(ln(
               (tf + 500.0 * ctf.ctf / corpus.total_tokens)
               / (dl + 500.0))), 6) AS ql_score
    FROM tf JOIN ctf USING (term) CROSS JOIN corpus
    GROUP BY doc_id
    ORDER BY ql_score DESC, doc_id
    LIMIT 10
    """,
)
def query_likelihood_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (μ = 500):
    score(q,d) = Σ_t ln((tf_{t,d} + μ·P(t|C)) / (|d| + μ)) — the
    language-modeling ranking family beside `bm25_search`'s
    probabilistic-relevance one (and the third retrieval model next to
    `hybrid_rrf_retrieval`): smoothing scores EVERY document, so docs
    missing a query term still rank by their length and the corpus
    prior, which BM25 structurally cannot do.

    Exactness: tf/dl/ctf/total are exact integer censuses; each doc's
    score sums ≤3 ln terms (house float tolerance, rounded to 6); the
    top-10 orders by the rounded score with doc_id tie-break.

    Scale shape: corpus stats are one agg broadcast back; per-doc term
    frequencies come from in-row list_filter counts (no explode
    shuffle for a 3-term query); one |docs|-grain agg then a global
    top-10 (TakeOrderedAndProject).
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(F.trim(F.col("text")), r"\s+").alias("t"),
    ).select(
        "doc_id",
        F.when(F.col("t") == F.array(F.lit("")), F.array().cast("array<string>"))
        .otherwise(F.col("t"))
        .alias("t"),
    ).select("doc_id", F.size("t").cast("long").alias("dl"), "t")
    corpus = d.agg(F.sum("dl").cast("long").alias("total_tokens"))
    terms = ["spark", "vector", "stream"]
    q = spark.createDataFrame([(t,) for t in terms], "term string")
    ctf = (
        d.select(F.explode("t").alias("term"))
        .join(q, "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("ctf"))
        .join(q, "term", "right")
        .select("term", F.coalesce("ctf", F.lit(0)).cast("long").alias("ctf"))
    )
    tf = d.crossJoin(F.broadcast(q)).select(
        "doc_id",
        "dl",
        "term",
        F.size(F.filter("t", lambda x: x == F.col("term")))
        .cast("long")
        .alias("tf"),
    )
    return (
        tf.join(F.broadcast(ctf), "term")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.log(
                        (
                            F.col("tf")
                            + 500.0 * F.col("ctf") / F.col("total_tokens")
                        )
                        / (F.col("dl") + 500.0)
                    )
                ),
                6,
            ).alias("ql_score")
        )
        .orderBy(F.desc("ql_score"), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# wave 161: energy-distance two-sample test, k-center coreset selection
# ---------------------------------------------------------------------------


@query(
    "energy_distance_labels",
    oracle="""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                   AS q
        FROM embeddings WHERE label IN (0, 1)
    ), p AS (
        SELECT a.label AS la, b.label AS lb,
               SQRT(CAST(list_sum(list_transform(range(1, 65),
                   i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])))
                   AS DOUBLE)) / 1000000.0 AS dist
        FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ), sums AS (
        SELECT SUM(CASE WHEN la = 0 AND lb = 1 THEN dist END) AS sxy,
               SUM(CASE WHEN la = 0 AND lb = 0 THEN dist END) AS sxx,
               SUM(CASE WHEN la = 1 AND lb = 1 THEN dist END) AS syy
        FROM p
    ), cnts AS (
        SELECT CAST(SUM(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n,
               CAST(SUM(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS m
        FROM v
    )
    SELECT n, m,
           ROUND(2.0 * sxy / (CAST(n AS DOUBLE) * m)
                 - sxx / (CAST(n AS DOUBLE) * n)
                 - syy / (CAST(m AS DOUBLE) * m), 6)
               AS energy_distance,
           ROUND(CAST(n AS DOUBLE) * m / (n + m)
                 * (2.0 * sxy / (CAST(n AS DOUBLE) * m)
                    - sxx / (CAST(n AS DOUBLE) * n)
                    - syy / (CAST(m AS DOUBLE) * m)), 6)
               AS energy_statistic
    FROM sums, cnts
    """,
)
def energy_distance_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy distance (Székely) between the label-0 and label-1
    embedding populations: E = 2·E‖X−Y‖ − E‖X−X′‖ − E‖Y−Y′‖ ≥ 0 with
    equality iff the distributions coincide — the EXACT multivariate
    two-sample statistic whose cheap projection proxy is
    `sliced_wasserstein_labels` (run the slices as the monitor; run
    this on samples when a slice alarms). `energy_statistic` is the
    n·m/(n+m)-scaled permutation-test form.

    Exactness: every pairwise distance is the square root of an exact
    integer (micro-unit coordinates), so all summands are identical
    doubles; the three pair-class sums are grouped float sums rounded
    to 6 (house tolerance — summands are O(1) and counts are small
    relative to the 1e-6 snap). V-statistic normalization (diagonal
    zeros included, /n²) keeps E ≥ 0 unconditionally — the U-form can
    dip negative under the null, which would break the invariant test.

    Scale shape: this is the exact all-pairs SPEC regime (broadcast
    nested-loop, corpus never shuffles); at 100 TB you run it on the
    per-label samples the monitoring tier already maintains, or swap
    the pair source for LSH-bucket candidates as with
    `lof_embedding_outliers`.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.where(F.col("label").isin(0, 1)).select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000000).cast("long"),
        ).alias("q"),
    )
    a = v.select(
        F.col("vec_id").alias("aid"), F.col("label").alias("la"), F.col("q").alias("qa")
    )
    b = v.select(
        F.col("vec_id").alias("bid"), F.col("label").alias("lb"), F.col("q").alias("qb")
    )
    p = a.join(F.broadcast(b), F.col("aid") != F.col("bid")).select(
        "la",
        "lb",
        (
            F.sqrt(
                F.aggregate(
                    F.zip_with("qa", "qb", lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).cast("double")
            )
            / 1000000.0
        ).alias("dist"),
    )
    sums = p.agg(
        F.sum(F.when((F.col("la") == 0) & (F.col("lb") == 1), F.col("dist"))).alias("sxy"),
        F.sum(F.when((F.col("la") == 0) & (F.col("lb") == 0), F.col("dist"))).alias("sxx"),
        F.sum(F.when((F.col("la") == 1) & (F.col("lb") == 1), F.col("dist"))).alias("syy"),
    )
    cnts = v.agg(
        F.sum(F.when(F.col("label") == 0, 1).otherwise(0)).cast("long").alias("n"),
        F.sum(F.when(F.col("label") == 1, 1).otherwise(0)).cast("long").alias("m"),
    )
    nd = F.col("n").cast("double")
    md = F.col("m").cast("double")
    e = (
        2.0 * F.col("sxy") / (nd * F.col("m"))
        - F.col("sxx") / (nd * F.col("n"))
        - F.col("syy") / (md * F.col("m"))
    )
    return sums.crossJoin(F.broadcast(cnts)).select(
        "n",
        "m",
        F.round(e, 6).alias("energy_distance"),
        F.round(
            F.col("n").cast("double") * F.col("m") / (F.col("n") + F.col("m")) * e,
            6,
        ).alias("energy_statistic"),
    )


@query(
    "kcenter_coreset_embeddings",
    oracle="""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                   AS q
        FROM embeddings
    ), p AS (
        SELECT a.vec_id AS aid, b.vec_id AS bid,
               CAST(list_sum(list_transform(range(1, 65),
                   i -> (a.q[i] - b.q[i]) * (a.q[i] - b.q[i])))
                   AS BIGINT) AS dist2
        FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ), c1 AS (
        SELECT MIN(vec_id) AS id FROM v
    ), m1 AS (
        SELECT v.vec_id,
               COALESCE(p.dist2, 0) AS d
        FROM v LEFT JOIN p ON p.aid = v.vec_id
                          AND p.bid = (SELECT id FROM c1)
    ), c2 AS (
        SELECT vec_id AS id FROM m1 ORDER BY d DESC, vec_id LIMIT 1
    ), m2 AS (
        SELECT m.vec_id,
               LEAST(m.d, COALESCE(p.dist2,
                   CASE WHEN m.vec_id = (SELECT id FROM c2)
                        THEN 0 ELSE NULL END)) AS d
        FROM m1 m LEFT JOIN p ON p.aid = m.vec_id
                                 AND p.bid = (SELECT id FROM c2)
    ), c3 AS (
        SELECT vec_id AS id FROM m2 ORDER BY d DESC, vec_id LIMIT 1
    ), m3 AS (
        SELECT m.vec_id,
               LEAST(m.d, COALESCE(p.dist2,
                   CASE WHEN m.vec_id = (SELECT id FROM c3)
                        THEN 0 ELSE NULL END)) AS d
        FROM m2 m LEFT JOIN p ON p.aid = m.vec_id
                                 AND p.bid = (SELECT id FROM c3)
    ), c4 AS (
        SELECT vec_id AS id FROM m3 ORDER BY d DESC, vec_id LIMIT 1
    ), m4 AS (
        SELECT m.vec_id,
               LEAST(m.d, COALESCE(p.dist2,
                   CASE WHEN m.vec_id = (SELECT id FROM c4)
                        THEN 0 ELSE NULL END)) AS d
        FROM m3 m LEFT JOIN p ON p.aid = m.vec_id
                                 AND p.bid = (SELECT id FROM c4)
    ), c5 AS (
        SELECT vec_id AS id FROM m4 ORDER BY d DESC, vec_id LIMIT 1
    ), m5 AS (
        SELECT m.vec_id,
               LEAST(m.d, COALESCE(p.dist2,
                   CASE WHEN m.vec_id = (SELECT id FROM c5)
                        THEN 0 ELSE NULL END)) AS d
        FROM m4 m LEFT JOIN p ON p.aid = m.vec_id
                                 AND p.bid = (SELECT id FROM c5)
    )
    SELECT * FROM (
        SELECT CAST(1 AS BIGINT) AS rank, (SELECT id FROM c1) AS vec_id,
               ROUND(SQRT(CAST((SELECT MAX(d) FROM m1) AS DOUBLE))
                     / 1000000.0, 6) AS radius
        UNION ALL
        SELECT 2, (SELECT id FROM c2),
               ROUND(SQRT(CAST((SELECT MAX(d) FROM m2) AS DOUBLE))
                     / 1000000.0, 6)
        UNION ALL
        SELECT 3, (SELECT id FROM c3),
               ROUND(SQRT(CAST((SELECT MAX(d) FROM m3) AS DOUBLE))
                     / 1000000.0, 6)
        UNION ALL
        SELECT 4, (SELECT id FROM c4),
               ROUND(SQRT(CAST((SELECT MAX(d) FROM m4) AS DOUBLE))
                     / 1000000.0, 6)
        UNION ALL
        SELECT 5, (SELECT id FROM c5),
               ROUND(SQRT(CAST((SELECT MAX(d) FROM m5) AS DOUBLE))
                     / 1000000.0, 6)
    ) ORDER BY rank
""",
)
def kcenter_coreset_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-first k-center coreset selection (Gonzalez 1985, k=5)
    over the embedding corpus: start from the lowest vec_id, then
    repeatedly add the point FARTHEST from the chosen set; each round
    reports the covering radius (max distance of any point to its
    nearest center). The greedy is a 2-approximation of the optimal
    k-center cover — the standard diversity/coreset selector a
    curation pipeline uses to pick maximally-spread exemplars
    (dataset subsampling, prototype selection, `semdedup` cell seeds).

    The k rounds are a DRIVER LOOP of k scalar argmaxes (one tiny
    collect per round, like the Newton loops in `huber_irls` /
    `covariate_balance_smd`) — each round is one map-side distance
    update against the single broadcast new center plus one global
    top-1; the min-distance state stays a DataFrame, never n².

    Exactness: distances are exact micro-unit integers end to end
    (ties broken by vec_id); only the reported radius takes a sqrt,
    rounded to 6. The oracle unrolls the same 5 rounds as chained
    CTEs over the identical integer distance relation.

    Scale shape: k passes over the corpus, each a fused map (64-term
    integer dot vs ONE broadcast center) + TakeOrderedAndProject(1).
    No pairwise materialization anywhere — O(k·n), the right shape at
    100 TB.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000000).cast("long"),
        ).alias("q"),
    ).transform(_ckpt)

    def dist2_to(center_q):
        arr = F.array(*[F.lit(int(c)) for c in center_q])
        return F.aggregate(
            F.zip_with(F.col("q"), arr, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    first = scalar_row(
        v.orderBy("vec_id").limit(1), "registry_04.kcenter_first"
    )
    centers = [(1, first.vec_id)]
    mind = v.select(
        "vec_id", "q", dist2_to(first.q).alias("d")
    ).transform(_ckpt)
    radii = [scalar_row(mind.agg(F.max("d")), "registry_04.kcenter_radius")[0]]
    for rank in range(2, 6):
        nxt = scalar_row(
            mind.orderBy(F.desc("d"), "vec_id").limit(1),
            "registry_04.kcenter_next",
        )
        centers.append((rank, nxt.vec_id))
        mind = mind.select(
            "vec_id",
            "q",
            F.least(F.col("d"), dist2_to(nxt.q)).alias("d"),
        ).transform(_ckpt)
        radii.append(
            scalar_row(mind.agg(F.max("d")), "registry_04.kcenter_radius2")[0]
        )
    rows = [
        (rank, vid, r) for (rank, vid), r in zip(centers, radii)
    ]
    return (
        spark.createDataFrame(rows, "rank long, vec_id long, d2 long")
        .select(
            "rank",
            "vec_id",
            F.round(F.sqrt(F.col("d2").cast("double")) / 1000000.0, 6).alias(
                "radius"
            ),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# wave 162: Goertzel periodogram, Hill tail-index estimator
# ---------------------------------------------------------------------------


@query(
    "goertzel_periodogram_daily",
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
        SELECT g.day, COALESCE(SUM(p.cents), 0) AS x,
               ROW_NUMBER() OVER (ORDER BY g.day) AS i
        FROM grid g LEFT JOIN pts p ON p.day = g.day GROUP BY g.day
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
        FROM daily
    ), dev AS (
        SELECT i, CAST(n * x - s AS DOUBLE) AS d FROM daily, stats
    ), den AS (
        SELECT SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS dd
        FROM (SELECT i, CAST(d AS BIGINT) AS d FROM dev)
    ), fold AS (
        WITH RECURSIVE f(period, t, s1, s2) AS (
            SELECT * FROM (VALUES
                (CAST(7 AS BIGINT), 0, CAST(0.0 AS DOUBLE),
                 CAST(0.0 AS DOUBLE)),
                (CAST(14 AS BIGINT), 0, CAST(0.0 AS DOUBLE),
                 CAST(0.0 AS DOUBLE)),
                (CAST(30 AS BIGINT), 0, CAST(0.0 AS DOUBLE),
                 CAST(0.0 AS DOUBLE)))
            UNION ALL
            SELECT f.period, f.t + 1,
                   (SELECT d FROM dev WHERE dev.i = f.t + 1)
                   + (CASE f.period
                          WHEN 7 THEN 1.2469796037174672
                          WHEN 14 THEN 1.8019377358048383
                          ELSE 1.9562952014676114 END) * f.s1 - f.s2,
                   f.s1
            FROM f WHERE f.t < (SELECT n FROM stats)
        )
        SELECT period, s1, s2 FROM f, stats WHERE f.t = stats.n
    )
    SELECT period,
           ROUND((s1 * s1 + s2 * s2
                  - (CASE period
                         WHEN 7 THEN 1.2469796037174672
                         WHEN 14 THEN 1.8019377358048383
                         ELSE 1.9562952014676114 END) * s1 * s2)
                 / CAST(dd AS DOUBLE) / CAST(n AS DOUBLE), 6) AS power_norm
    FROM fold, den, stats
    ORDER BY period
    """,
)
def goertzel_periodogram_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-bin periodogram via the GOERTZEL recursion at candidate
    periods 7 / 14 / 30 days on the mean-cleared daily event-value
    series — spectral power at a chosen frequency without an FFT: the
    frequency-domain seasonality detector beside the time-domain
    family (`acf_daily_event_value` asks "correlated at lag k?",
    `dow_seasonality_profile` assumes weekly; this asks "how much
    VARIANCE lives at period P", comparable across candidate periods).

    Determinism: the series is the exact-integer deviation vector
    (n·x − Σx, exact in doubles below 2^53); the Goertzel coefficients
    2cos(2π/P) are hardcoded literals (no libm cos at query time); the
    recursion is a strictly SEQUENTIAL fold in day order — an ordered
    array fold on Spark, a recursive CTE on DuckDB, identical
    operation order — and the closing power formula and normalization
    (power / Σd² / n) are fixed expressions, rounded to 6.

    Scale shape: the fact collapses to |days| rows; the fold runs over
    ONE in-memory array of that tiny series (collect_list into a
    single row — the series relation is thousands of elements at any
    corpus size, same regime as every daily-series query here).
    """
    from pyspark_movie_recommender_spark.operators.timeseries import (
        epoch_day,
        mean_cleared_devs,
        zero_filled_daily_grid,
    )

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        epoch_day("ts").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = zero_filled_daily_grid(
        pts, F.coalesce(F.sum("cents"), F.lit(0)).cast("long")
    ).select("day", "x", F.row_number().over(Window.orderBy("day")).alias("i"))
    dev = mean_cleared_devs(daily).select(
        "i", F.col("d").cast("double").alias("dv"), "n",
        F.col("d").cast("decimal(38,0)").alias("d_exact"),
    )
    den = dev.agg(
        F.sum(F.col("d_exact") * F.col("d_exact")).alias("dd"),
        F.max("n").alias("n"),
    )
    arr = dev.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("i").alias("i"), F.col("dv").alias("dv")))
        ).alias("a")
    )
    periods = spark.createDataFrame(
        [(7, 1.2469796037174672), (14, 1.8019377358048383),
         (30, 1.9562952014676114)],
        "period long, c double",
    )
    folded = (
        periods.crossJoin(F.broadcast(arr))
        .select(
            "period",
            "c",
            F.aggregate(
                "a",
                F.struct(F.lit(0.0).alias("s1"), F.lit(0.0).alias("s2")),
                lambda acc, e: F.struct(
                    (e.dv + F.col("c") * acc.s1 - acc.s2).alias("s1"),
                    acc.s1.alias("s2"),
                ),
            ).alias("st"),
        )
        .select("period", "c", F.col("st.s1").alias("s1"), F.col("st.s2").alias("s2"))
    )
    return (
        folded.crossJoin(F.broadcast(den))
        .select(
            "period",
            F.round(
                (
                    F.col("s1") * F.col("s1")
                    + F.col("s2") * F.col("s2")
                    - F.col("c") * F.col("s1") * F.col("s2")
                )
                / F.col("dd").cast("double")
                / F.col("n").cast("double"),
                6,
            ).alias("power_norm"),
        )
        .orderBy("period")
    )


@query(
    "hill_tail_index_orders",
    oracle="""
    WITH pts AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), ranked AS (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY cents DESC) AS rnk
        FROM pts
    ), thresh AS (
        SELECT cents AS x_k1 FROM ranked WHERE rnk = 101
    ), terms AS (
        SELECT CAST(ROUND(ln(CAST(r.cents AS DOUBLE) / t.x_k1)
                          * 1000000000) AS BIGINT) AS term_nano
        FROM ranked r, thresh t WHERE r.rnk <= 100
    )
    SELECT CAST(100 AS BIGINT) AS k,
           (SELECT x_k1 FROM thresh) AS threshold_cents,
           ROUND(CAST(SUM(term_nano) AS DOUBLE) / 100 / 1000000000.0, 6)
               AS hill_h,
           ROUND(100.0 * 1000000000.0 / CAST(SUM(term_nano) AS DOUBLE), 4)
               AS tail_alpha
    FROM terms
    """,
)
def hill_tail_index_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail index from the top k=100
    order values: H = (1/k)·Σ ln(x_(i)/x_(k+1)), α = 1/H — the
    heavy-tail EXPONENT measure completing the extreme-value family
    (`extreme_value_pot` fits exceedance sizes, `zipf_fit_tokens`
    regresses rank-frequency; Hill is the canonical tail-index MLE and
    decides whether variance even exists: α ≤ 2 means sample variance
    never converges — a real concern for revenue aggregates).

    Determinism: the top-101 multiset of exact cents is order-stable
    (ties share a value); each log-ratio term snaps to exact
    nano-units before the mean, so both engines divide identical
    integers.

    Scale shape: top-101 is a TakeOrderedAndProject (no global sort);
    the threshold is a 1-row broadcast; one 100-row census closes it.
    """
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    ranked = pts.select(
        "cents", F.row_number().over(Window.orderBy(F.desc("cents"))).alias("rnk")
    ).where(F.col("rnk") <= 101)
    thresh = ranked.where(F.col("rnk") == 101).select(
        F.col("cents").alias("x_k1")
    )
    terms = (
        ranked.where(F.col("rnk") <= 100)
        .crossJoin(F.broadcast(thresh))
        .select(
            F.round(
                F.log(F.col("cents").cast("double") / F.col("x_k1"))
                * 1000000000
            )
            .cast("long")
            .alias("term_nano"),
            "x_k1",
        )
    )
    return terms.groupBy("x_k1").agg(
        F.sum("term_nano").alias("sn")
    ).select(
        F.lit(100).cast("long").alias("k"),
        F.col("x_k1").alias("threshold_cents"),
        F.round(
            F.col("sn").cast("double") / 100 / 1000000000.0, 6
        ).alias("hill_h"),
        F.round(
            100.0 * 1000000000.0 / F.col("sn").cast("double"), 4
        ).alias("tail_alpha"),
    )


# ---------------------------------------------------------------------------
# wave 163: Hotelling T² control chart, deterministic permutation test
# ---------------------------------------------------------------------------


@query(
    "hotelling_t2_daily",
    oracle="""
    WITH pts AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ), daily AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(cents) AS BIGINT) AS v
        FROM pts GROUP BY day
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS HUGEINT) AS sc,
               CAST(SUM(v) AS HUGEINT) AS sv,
               SUM(CAST(c AS HUGEINT) * c) AS scc,
               SUM(CAST(v AS HUGEINT) * v) AS svv,
               SUM(CAST(c AS HUGEINT) * v) AS scv
        FROM daily
    ), cov AS (
        SELECT n,
               CAST(sc AS DOUBLE) / n AS mc,
               CAST(sv AS DOUBLE) / n AS mv,
               CAST(n * scc - sc * sc AS DOUBLE)
                   / CAST(n AS DOUBLE) / (n - 1) AS s11,
               CAST(n * svv - sv * sv AS DOUBLE)
                   / CAST(n AS DOUBLE) / (n - 1) AS s22,
               CAST(n * scv - sc * sv AS DOUBLE)
                   / CAST(n AS DOUBLE) / (n - 1) AS s12
        FROM mom
    )
    SELECT day, c AS n_events, v AS value_cents,
           ROUND(((c - mc) * (c - mc) * s22
                  - 2.0 * (c - mc) * (v - mv) * s12
                  + (v - mv) * (v - mv) * s11)
                 / (s11 * s22 - s12 * s12), 6) AS t2,
           CAST(CASE WHEN ((c - mc) * (c - mc) * s22
                           - 2.0 * (c - mc) * (v - mv) * s12
                           + (v - mv) * (v - mv) * s11)
                          / (s11 * s22 - s12 * s12) > 9.21034
                     THEN 1 ELSE 0 END AS BIGINT) AS out_of_control
    FROM daily, cov
    ORDER BY day
    """,
)
def hotelling_t2_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hotelling T² multivariate control chart on the daily (event
    count, event value) PAIR: T²_t = (x_t−μ)ᵀ S⁻¹ (x_t−μ) with the 2×2
    inverse in closed form, flagged against the χ²₂ 99% line
    (9.21034) — the JOINT process monitor the univariate charts
    (`p_chart_weekly_late_orders`, `cusum_changepoint_daily`,
    `hampel_filter_daily`) cannot be: a day whose count and value are
    each unremarkable but move AGAINST their usual correlation is
    exactly what T² catches.

    Determinism: per-day count/value are exact integers; the five
    moment sums run in 128-bit; means/covariances are fixed double
    expressions over those exact integers, shared verbatim by both
    engines; one round(6) on T².

    Scale shape: fact → |days| hash agg; one moment census broadcast
    back; the chart is a map over the tiny day relation.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            epoch_day("ts").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum("cents").cast("long").alias("v"),
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec("c")).alias("sc"),
        F.sum(dec("v")).alias("sv"),
        F.sum(dec("c") * dec("c")).alias("scc"),
        F.sum(dec("v") * dec("v")).alias("svv"),
        F.sum(dec("c") * dec("v")).alias("scv"),
    )
    nd = F.col("n").cast("double")
    cov = mom.select(
        "n",
        (F.col("sc").cast("double") / F.col("n")).alias("mc"),
        (F.col("sv").cast("double") / F.col("n")).alias("mv"),
        (
            (F.col("n") * F.col("scc") - F.col("sc") * F.col("sc")).cast("double")
            / nd
            / (F.col("n") - 1)
        ).alias("s11"),
        (
            (F.col("n") * F.col("svv") - F.col("sv") * F.col("sv")).cast("double")
            / nd
            / (F.col("n") - 1)
        ).alias("s22"),
        (
            (F.col("n") * F.col("scv") - F.col("sc") * F.col("sv")).cast("double")
            / nd
            / (F.col("n") - 1)
        ).alias("s12"),
    )
    t2 = (
        (F.col("c") - F.col("mc")) * (F.col("c") - F.col("mc")) * F.col("s22")
        - 2.0
        * (F.col("c") - F.col("mc"))
        * (F.col("v") - F.col("mv"))
        * F.col("s12")
        + (F.col("v") - F.col("mv")) * (F.col("v") - F.col("mv")) * F.col("s11")
    ) / (F.col("s11") * F.col("s22") - F.col("s12") * F.col("s12"))
    return (
        daily.crossJoin(F.broadcast(cov))
        .select(
            "day",
            F.col("c").alias("n_events"),
            F.col("v").alias("value_cents"),
            F.round(t2, 6).alias("t2"),
            F.when(t2 > 9.21034, 1).otherwise(0).cast("long").alias(
                "out_of_control"
            ),
        )
        .orderBy("day")
    )


@query(
    "permutation_test_order_value",
    oracle="""
    WITH pts AS (
        SELECT o_orderkey,
               CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS grp,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), base AS (
        SELECT CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS na,
               CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb,
               CAST(SUM(CASE WHEN grp = 1 THEN cents ELSE 0 END) AS BIGINT)
                   AS sa,
               CAST(SUM(cents) AS BIGINT) AS st
        FROM pts
    ), obs AS (
        SELECT abs(CAST(sa AS DOUBLE) / na
                   - CAST(st - sa AS DOUBLE) / nb) AS d_obs
        FROM base
    ), reps AS (
        SELECT unnest(generate_series(1, 20)) AS b
    ), shuffled AS (
        SELECT r.b, p.cents,
               ROW_NUMBER() OVER (
                   PARTITION BY r.b
                   ORDER BY (1103515245 * p.o_orderkey + 12345 * r.b)
                            % 2147483647, p.o_orderkey) AS pos
        FROM pts p CROSS JOIN reps r
    ), perm AS (
        SELECT s.b,
               abs(CAST(SUM(CASE WHEN s.pos <= base.na
                            THEN s.cents ELSE 0 END) AS DOUBLE) / base.na
                   - CAST(SUM(CASE WHEN s.pos > base.na
                              THEN s.cents ELSE 0 END) AS DOUBLE) / base.nb)
                   AS d_perm
        FROM shuffled s, base
        GROUP BY s.b, base.na, base.nb
    )
    SELECT (SELECT na FROM base) AS n_a, (SELECT nb FROM base) AS n_b,
           ROUND((SELECT d_obs FROM obs) / 100.0, 4) AS obs_diff_dollars,
           CAST(SUM(CASE WHEN d_perm >= (SELECT d_obs FROM obs)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           ROUND((1.0 + SUM(CASE WHEN d_perm >= (SELECT d_obs FROM obs)
                            THEN 1 ELSE 0 END)) / 21.0, 6) AS p_value
    FROM perm
    """,
)
def permutation_test_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test of the URGENT-vs-LOW mean order-value gap with
    B = 20 DETERMINISTIC pseudo-permutations: each replicate re-ranks
    rows by an LCG hash of (orderkey, b) and hands the first n_a
    positions to the treatment — distribution-free inference beside
    the parametric `welch_ttest_order_value` (same estimand, no
    normality assumption), with p = (1 + #extreme)/(1 + B), the
    standard add-one permutation p-value. Reproducible on any engine:
    no RNG state, the 'randomness' is the hash.

    Determinism: group sums are exact cents; each replicate's
    assignment comes from an integer LCG rank with orderkey
    tie-breaks, so both engines shuffle identically; the mean gaps are
    fixed double expressions over exact integers.

    Scale shape: one filtered scan; the B replicates are a fact ×
    20-row cross join (map-side), each needing only a per-replicate
    rank and one hash agg. At 100 TB swap the global rank for a hash
    threshold on a per-replicate quantile of the LCG value (noted) —
    the shape stays one pass.
    """
    o = load_table(spark, sf_dir, "orders")
    pts = o.where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW")).select(
        "o_orderkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    base = pts.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(F.col("grp") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("sa"),
        F.sum("cents").cast("long").alias("st"),
    )
    obs = base.select(
        "na",
        "nb",
        F.abs(
            F.col("sa").cast("double") / F.col("na")
            - (F.col("st") - F.col("sa")).cast("double") / F.col("nb")
        ).alias("d_obs"),
    )
    reps = spark.range(1, 21).select(F.col("id").cast("long").alias("b"))
    shuffled = pts.crossJoin(F.broadcast(reps)).select(
        "b",
        "cents",
        F.row_number()
        .over(
            Window.partitionBy("b").orderBy(
                (1103515245 * F.col("o_orderkey") + 12345 * F.col("b"))
                % 2147483647,
                "o_orderkey",
            )
        )
        .alias("pos"),
    )
    perm = (
        shuffled.crossJoin(F.broadcast(base.select("na", "nb")))
        .groupBy("b", "na", "nb")
        .agg(
            F.abs(
                F.sum(F.when(F.col("pos") <= F.col("na"), F.col("cents")).otherwise(0))
                .cast("double")
                / F.max("na")
                - F.sum(
                    F.when(F.col("pos") > F.col("na"), F.col("cents")).otherwise(0)
                )
                .cast("double")
                / F.max("nb")
            ).alias("d_perm")
        )
        .select("b", "d_perm")
    )
    return (
        perm.crossJoin(F.broadcast(obs))
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.round(F.max("d_obs") / 100.0, 4).alias("obs_diff_dollars"),
            F.sum(F.when(F.col("d_perm") >= F.col("d_obs"), 1).otherwise(0))
            .cast("long")
            .alias("n_extreme"),
            F.round(
                (
                    F.lit(1.0)
                    + F.sum(
                        F.when(F.col("d_perm") >= F.col("d_obs"), 1).otherwise(0)
                    )
                )
                / 21.0,
                6,
            ).alias("p_value"),
        )
    )


# ---------------------------------------------------------------------------
# wave 164: one-way ANOVA F-test, McNemar paired-classifier test
# ---------------------------------------------------------------------------


@query(
    "anova_f_order_priority",
    oracle="""
    WITH pts AS (
        SELECT o_orderpriority AS grp,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ), g AS (
        SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_g,
               CAST(SUM(cents) AS BIGINT) AS s_g,
               SUM(CAST(cents AS HUGEINT) * cents) AS ss_g
        FROM pts GROUP BY grp
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n_g) AS BIGINT) AS n,
               CAST(SUM(s_g) AS BIGINT) AS s,
               CAST(SUM(ss_g) AS HUGEINT) AS ss,
               SUM(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g)
                   AS rterm
        FROM g
    ), parts AS (
        SELECT k, n,
               rterm - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS ssb,
               CAST(ss AS DOUBLE) - rterm AS ssw
        FROM tot
    )
    SELECT k AS n_groups, n AS n_rows,
           ROUND(ssb / (k - 1) / (ssw / (n - k)), 6) AS f_stat,
           ROUND(ssb / (ssb + ssw), 6) AS eta_sq,
           CAST(CASE WHEN ssb / (k - 1) / (ssw / (n - k)) > 3.3192
                     THEN 1 ELSE 0 END AS BIGINT) AS rejected
    FROM parts
    """,
)
def anova_f_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test: does mean order value differ across the
    five o_orderpriority strata? The PARAMETRIC omnibus counterpart of
    `kruskal_wallis_quantity` (rank-based) and the k-group extension of
    `welch_ttest_order_value` — F = (SSB/(k−1))/(SSW/(N−k)) with
    eta² = SSB/(SSB+SSW) as the effect size, flagged against the
    F(4,∞) 99% line (3.3192).

    Determinism: per-group (n, Σ, Σ²) are exact integers (Σ² in
    128-bit); SSB/SSW are fixed double expressions over those exact
    sums, identical text on both engines; the only cross-group double
    sum (Σ s_g²/n_g over 5 groups) follows the proven
    kruskal_wallis pattern and is absorbed by round(6).

    Scale shape: one map-side-combined hash agg to k=5 rows, then a
    5-row census — the fact table is scanned once, nothing else
    shuffles.
    """
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    g = pts.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("cents").cast("long").alias("s_g"),
        F.sum(dec("cents") * dec("cents")).alias("ss_g"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("ss_g").alias("ss"),
        F.sum(
            F.col("s_g").cast("double")
            * F.col("s_g").cast("double")
            / F.col("n_g")
        ).alias("rterm"),
    )
    ssb = (
        F.col("rterm")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    )
    ssw = F.col("ss").cast("double") - F.col("rterm")
    f_stat = ssb / (F.col("k") - 1) / (ssw / (F.col("n") - F.col("k")))
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("n").alias("n_rows"),
        F.round(f_stat, 6).alias("f_stat"),
        F.round(ssb / (ssb + ssw), 6).alias("eta_sq"),
        F.when(f_stat > 3.3192, 1).otherwise(0).cast("long").alias("rejected"),
    )
