"""Query registry part 10 of 12 — registration order preserved.

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

_BALLOT_SQL = """
        SELECT c.c_nationkey AS nk, c.c_mktsegment AS seg,
               CAST(ROUND(SUM(o.o_totalprice) * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
"""


@query(
    "kemeny_optimal_ranking",
    oracle=f"""
    WITH b AS ({_BALLOT_SQL}),
    r AS (
        SELECT nk, seg,
               ROW_NUMBER() OVER (
                   PARTITION BY nk ORDER BY cents DESC, seg) AS rk
        FROM b
    ), pref AS (
        SELECT a.seg AS sa, x.seg AS sb, CAST(COUNT(*) AS BIGINT) AS w
        FROM r a JOIN r x ON a.nk = x.nk AND a.rk < x.rk
        GROUP BY 1, 2
    ), segs AS (SELECT DISTINCT seg FROM b),
    perms AS (
        SELECT s1.seg AS c1, s2.seg AS c2, s3.seg AS c3, s4.seg AS c4,
               s5.seg AS c5,
               s1.seg || '>' || s2.seg || '>' || s3.seg || '>' || s4.seg
                      || '>' || s5.seg AS pid
        FROM segs s1, segs s2, segs s3, segs s4, segs s5
        WHERE s1.seg <> s2.seg AND s1.seg <> s3.seg AND s1.seg <> s4.seg
          AND s1.seg <> s5.seg AND s2.seg <> s3.seg AND s2.seg <> s4.seg
          AND s2.seg <> s5.seg AND s3.seg <> s4.seg AND s3.seg <> s5.seg
          AND s4.seg <> s5.seg
    ), pos AS (
        SELECT pid, c1 AS seg, 1 AS pos FROM perms
        UNION ALL SELECT pid, c2, 2 FROM perms
        UNION ALL SELECT pid, c3, 3 FROM perms
        UNION ALL SELECT pid, c4, 4 FROM perms
        UNION ALL SELECT pid, c5, 5 FROM perms
    ), score AS (
        SELECT a.pid, SUM(pref.w) AS agree
        FROM pos a JOIN pos x ON a.pid = x.pid AND a.pos < x.pos
        JOIN pref ON pref.sa = a.seg AND pref.sb = x.seg
        GROUP BY 1
    ), best AS (
        SELECT pid, agree FROM score ORDER BY agree DESC, pid LIMIT 1
    )
    SELECT CAST(pos.pos AS BIGINT) AS rank_pos, pos.seg AS segment,
           CAST(best.agree AS BIGINT) AS total_agreements
    FROM pos JOIN best USING (pid)
    """,
)
def kemeny_optimal_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kemeny-Young optimal ranking of the five market segments from
    25 nation ballots (each nation ranks segments by exact revenue
    cents): the permutation maximizing total pairwise agreements with
    the electorate — the maximum-likelihood ranking under Mallows
    noise, NP-hard in general but EXACTLY enumerable here because the
    candidate set is 5 (120 permutations). Complements
    `borda_nation_ranking` (positional) and `copeland_condorcet_nations`
    (pairwise majority): Kemeny is the only one of the three that is a
    true median ranking under Kendall distance.

    Determinism: ballots are exact cent totals with a (cents DESC,
    segment) tie-break; the winning permutation ties break on the
    permutation string.

    Scale shape: the voter relation aggregates to 25x5 rows, the
    preference matrix to 20, and the 120-permutation enumeration is a
    five-way self-cross of a FIVE-row relation — every join after the
    first agg is broadcast; the exponential object stays O(k!) in k=5
    candidates, independent of data volume.
    """
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    b = (
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
        .groupBy(
            F.col("c_nationkey").alias("nk"), F.col("c_mktsegment").alias("seg")
        )
        .agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents"))
    )
    b = _ckpt(b)  # shared fan-out relation
    r = b.select(
        "nk",
        "seg",
        F.row_number()
        .over(Window.partitionBy("nk").orderBy(F.desc("cents"), "seg"))
        .alias("rk"),
    )
    ra, rx = r.alias("ra"), r.alias("rx")
    pref = (
        ra.join(
            rx,
            (F.col("ra.nk") == F.col("rx.nk")) & (F.col("ra.rk") < F.col("rx.rk")),
        )
        .groupBy(F.col("ra.seg").alias("sa"), F.col("rx.seg").alias("sb"))
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    segs = b.select("seg").distinct()
    s = [segs.select(F.col("seg").alias(f"c{i}")) for i in range(1, 6)]
    perms = s[0].crossJoin(s[1]).crossJoin(s[2]).crossJoin(s[3]).crossJoin(s[4])
    for i in range(1, 6):
        for j in range(i + 1, 6):
            perms = perms.filter(F.col(f"c{i}") != F.col(f"c{j}"))
    perms = perms.withColumn(
        "pid", F.concat_ws(">", "c1", "c2", "c3", "c4", "c5")
    )
    pos = None
    for i in range(1, 6):
        part = perms.select(
            "pid", F.col(f"c{i}").alias("seg"), F.lit(i).alias("pos")
        )
        pos = part if pos is None else pos.unionByName(part)
    pa, px = pos.alias("pa"), pos.alias("px")
    score = (
        pa.join(
            px,
            (F.col("pa.pid") == F.col("px.pid"))
            & (F.col("pa.pos") < F.col("px.pos")),
        )
        .join(
            F.broadcast(pref),
            (F.col("pa.seg") == F.col("sa")) & (F.col("px.seg") == F.col("sb")),
        )
        .groupBy(F.col("pa.pid").alias("pid"))
        .agg(F.sum("w").alias("agree"))
    )
    best = score.orderBy(F.desc("agree"), "pid").limit(1)
    return (
        pos.join(F.broadcast(best), "pid")
        .select(
            F.col("pos").cast("long").alias("rank_pos"),
            F.col("seg").alias("segment"),
            F.col("agree").cast("long").alias("total_agreements"),
        )
    )


@query(
    "instant_runoff_winner",
    oracle=f"""
    WITH b AS ({_BALLOT_SQL}),
    r AS (
        SELECT nk, seg,
               ROW_NUMBER() OVER (
                   PARTITION BY nk ORDER BY cents DESC, seg) AS rk
        FROM b
    ),
    c1 AS (
        SELECT seg, CAST(COUNT(*) AS BIGINT) AS votes
        FROM (SELECT nk, seg, ROW_NUMBER() OVER (
                  PARTITION BY nk ORDER BY rk) AS rn FROM r) t
        WHERE rn = 1 GROUP BY 1
    ), e1 AS (SELECT seg FROM c1 ORDER BY votes, seg LIMIT 1),
    r2 AS (SELECT * FROM r WHERE seg NOT IN (SELECT seg FROM e1)),
    c2 AS (
        SELECT seg, CAST(COUNT(*) AS BIGINT) AS votes
        FROM (SELECT nk, seg, ROW_NUMBER() OVER (
                  PARTITION BY nk ORDER BY rk) AS rn FROM r2) t
        WHERE rn = 1 GROUP BY 1
    ), e2 AS (SELECT seg FROM c2 ORDER BY votes, seg LIMIT 1),
    r3 AS (SELECT * FROM r2 WHERE seg NOT IN (SELECT seg FROM e2)),
    c3 AS (
        SELECT seg, CAST(COUNT(*) AS BIGINT) AS votes
        FROM (SELECT nk, seg, ROW_NUMBER() OVER (
                  PARTITION BY nk ORDER BY rk) AS rn FROM r3) t
        WHERE rn = 1 GROUP BY 1
    ), e3 AS (SELECT seg FROM c3 ORDER BY votes, seg LIMIT 1),
    r4 AS (SELECT * FROM r3 WHERE seg NOT IN (SELECT seg FROM e3)),
    c4 AS (
        SELECT seg, CAST(COUNT(*) AS BIGINT) AS votes
        FROM (SELECT nk, seg, ROW_NUMBER() OVER (
                  PARTITION BY nk ORDER BY rk) AS rn FROM r4) t
        WHERE rn = 1 GROUP BY 1
    ), e4 AS (SELECT seg FROM c4 ORDER BY votes, seg LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS round, c1.seg AS segment,
           c1.votes AS first_choice_votes, 'eliminated' AS outcome
    FROM c1 JOIN e1 USING (seg)
    UNION ALL
    SELECT CAST(2 AS BIGINT), c2.seg, c2.votes, 'eliminated'
    FROM c2 JOIN e2 USING (seg)
    UNION ALL
    SELECT CAST(3 AS BIGINT), c3.seg, c3.votes, 'eliminated'
    FROM c3 JOIN e3 USING (seg)
    UNION ALL
    SELECT CAST(4 AS BIGINT), c4.seg, c4.votes, 'eliminated'
    FROM c4 JOIN e4 USING (seg)
    UNION ALL
    SELECT CAST(4 AS BIGINT), c4.seg, c4.votes, 'winner'
    FROM c4 WHERE c4.seg NOT IN (SELECT seg FROM e4)
    """,
)
def instant_runoff_winner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instant-runoff voting over the same 25 nation ballots as
    `kemeny_optimal_ranking`: each round counts first choices among
    the surviving segments, eliminates the fewest-votes candidate
    (ties break alphabetically), and transfers those ballots to their
    next surviving preference — the sequential-elimination social
    choice rule that can disagree with both Borda and Condorcet.
    Four unrolled rounds for five candidates; a majority holder is
    never the round minimum, so run-to-last-standing returns the
    classic IRV winner. Output: one row per elimination with the
    votes held at elimination, plus the winner with its final
    two-way tally.

    Determinism: ballot ranks from exact cents with name tie-breaks;
    elimination argmin on (votes, segment).

    Scale shape: ballots aggregate once to 125 rows; each round is a
    window + 5-row agg + broadcast anti-join on the TINY candidate
    relation — the election re-count never rescans the fact table,
    however large. The round structure is static (k-1 rounds for k
    candidates), so the plan is a fixed-depth DAG, not a driver loop.
    """
    o = load_table(spark, sf_dir, "orders")
    cst = load_table(spark, sf_dir, "customer")
    b = (
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
        .groupBy(
            F.col("c_nationkey").alias("nk"), F.col("c_mktsegment").alias("seg")
        )
        .agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents"))
    )
    r = b.select(
        "nk",
        "seg",
        F.row_number()
        .over(Window.partitionBy("nk").orderBy(F.desc("cents"), "seg"))
        .alias("rk"),
    ).transform(_ckpt)

    def round_counts(alive: DataFrame) -> DataFrame:
        top = alive.withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("nk").orderBy("rk")),
        ).filter(F.col("rn") == 1)
        return top.groupBy("seg").agg(
            F.count(F.lit(1)).cast("long").alias("votes")
        )

    out = None
    alive = r
    for rnd in range(1, 5):
        counts = round_counts(alive)
        elim = counts.orderBy("votes", "seg").limit(1)
        row = elim.select(
            F.lit(rnd).cast("long").alias("round"),
            F.col("seg").alias("segment"),
            F.col("votes").alias("first_choice_votes"),
            F.lit("eliminated").alias("outcome"),
        )
        out = row if out is None else out.unionByName(row)
        if rnd == 4:
            winner = counts.join(
                elim.select("seg"), "seg", "left_anti"
            ).select(
                F.lit(4).cast("long").alias("round"),
                F.col("seg").alias("segment"),
                F.col("votes").alias("first_choice_votes"),
                F.lit("winner").alias("outcome"),
            )
            out = out.unionByName(winner)
        else:
            alive = alive.join(
                F.broadcast(elim.select("seg")), "seg", "left_anti"
            )
    return out


@query(
    "mean_cumulative_function_purchases",
    oracle="""
    WITH spans AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS entry,
               MAX(CAST(ts AS DATE)) AS exit
        FROM events GROUP BY 1
    ), days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    ent AS (SELECT entry AS day, CAST(COUNT(*) AS BIGINT) AS n_in
            FROM spans GROUP BY 1),
    ext AS (SELECT exit AS day, CAST(COUNT(*) AS BIGINT) AS n_out
            FROM spans GROUP BY 1),
    pur AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS d
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ), grid AS (
        SELECT days.day,
               COALESCE(ent.n_in, 0) AS n_in,
               COALESCE(ext.n_out, 0) AS n_out,
               COALESCE(pur.d, 0) AS d
        FROM days
        LEFT JOIN ent USING (day)
        LEFT JOIN ext USING (day)
        LEFT JOIN pur USING (day)
    ), risk AS (
        SELECT day, d,
               SUM(n_in) OVER (ORDER BY day) -
               COALESCE(SUM(n_out) OVER (
                   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS n_risk
        FROM grid
    )
    SELECT day, CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_events,
           ROUND(SUM(d * 1.0 / n_risk) OVER (ORDER BY day), 6) AS mcf
    FROM risk
    """,
)
def mean_cumulative_function_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean cumulative function (Nelson's recurrent-event MCF) for
    purchases: expected cumulative purchases per user-at-risk by day,
    where a user is at risk from their first to their last observed
    event of any type (staggered entry AND exit — the estimator
    `kaplan_meier_signup_purchase` generalizes to REPEATED events).
    MCF(t) = sum over days s<=t of d(s)/n(s); its slope is the
    recurrence rate, and a flattening curve is the canonical
    engagement-decay readout.

    Determinism: integer event/risk counts; the cumulative ratio sum
    is an identically-ordered window accumulation on both engines,
    rounded to 6 decimals per row.

    Scale shape: risk sets come from entry/exit COUNT deltas and two
    prefix sums over the DAY grid — never a user x day materialization
    (the naive risk-set join is |users| * |days|; the delta form is
    |days| rows after two tiny aggs). One shuffle to the day grid, one
    ordered window over ~10^3-10^4 calendar rows regardless of user
    count.
    """
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("entry"),
        F.max(F.to_date("ts")).alias("exit"),
    )
    spans = _ckpt(spans)  # shared fan-out relation
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    ent = spans.groupBy(F.col("entry").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_in")
    )
    ext = spans.groupBy(F.col("exit").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n_out")
    )
    pur = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    grid = (
        days.join(ent, "day", "left")
        .join(ext, "day", "left")
        .join(pur, "day", "left")
        .select(
            "day",
            F.coalesce("n_in", F.lit(0)).alias("n_in"),
            F.coalesce("n_out", F.lit(0)).alias("n_out"),
            F.coalesce("d", F.lit(0)).alias("d"),
        )
    )
    w = Window.orderBy("day")
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    risk = grid.select(
        "day",
        "d",
        (
            F.sum("n_in").over(w)
            - F.coalesce(F.sum("n_out").over(wprev), F.lit(0))
        ).alias("n_risk"),
    )
    return risk.select(
        "day",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.round(F.sum(F.col("d") * 1.0 / F.col("n_risk")).over(w), 6).alias(
            "mcf"
        ),
    )


@query(
    "base_stock_policy_replay",
    oracle="""
    WITH dem AS (
        SELECT p.p_brand AS brand,
               CAST(date_trunc('week', l.l_shipdate) AS DATE) AS wk,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS q
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2
    ), bounds AS (
        SELECT MIN(wk) AS w0, MAX(wk) AS w1 FROM dem
    ), wgrid AS (
        SELECT CAST(unnest(generate_series(w0, w1, INTERVAL 7 DAY))
                    AS DATE) AS wk
        FROM bounds
    ), brands AS (SELECT DISTINCT brand FROM dem),
    grid AS (
        SELECT b.brand, g.wk, COALESCE(dem.q, 0) AS q
        FROM brands b CROSS JOIN wgrid g
        LEFT JOIN dem ON dem.brand = b.brand AND dem.wk = g.wk
    ), pol AS (
        SELECT brand, CAST(MAX(q) AS BIGINT) AS s FROM grid GROUP BY 1
    ), pipe AS (
        SELECT grid.brand, wk, q, pol.s,
               q + COALESCE(LAG(q) OVER (
                   PARTITION BY grid.brand ORDER BY wk), 0) AS pip
        FROM grid JOIN pol ON pol.brand = grid.brand
    )
    SELECT brand, MAX(s) AS base_stock,
           CAST(COUNT(*) AS BIGINT) AS n_weeks,
           CAST(SUM(CASE WHEN s - pip < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS stockout_weeks,
           CAST(MIN(s - pip) AS BIGINT) AS min_on_hand,
           CAST(SUM(q) AS BIGINT) AS total_demand,
           CAST(SUM(GREATEST(pip - s, 0)) AS BIGINT) AS backorder_weeks_qty,
           CAST(ROUND(1000000.0 * (1.0 - SUM(GREATEST(pip - s, 0)) * 1.0
                / SUM(q))) AS BIGINT) AS service_ppm
    FROM pipe
    GROUP BY brand
    """,
)
def base_stock_policy_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-up-to (base-stock) inventory policy replayed against each
    brand's weekly shipment demand: with review period one week, lead
    time one week, and S sized to the brand's PEAK week, on-hand at
    week t is S minus the two-week demand pipeline (this week's plus
    the in-transit replenishment of last week's). The replay reports
    stockout weeks, worst on-hand, cumulative backordered quantity and
    the resulting fill-rate ppm — the empirical cousin of
    `newsvendor_stock_levels` (single-period optimum) and
    `eoq_by_brand` (order sizing): same data, the POLICY simulated
    through time instead of solved in closed form.

    Determinism: integer quantities end-to-end; week buckets are
    date_trunc; the only rounding is the final ppm.

    Scale shape: one agg to brand x week (the fact scan), a zero-fill
    via a generated week spine crossed with the 25-brand dim (tiny),
    a single LAG window partitioned by brand, and a 25-group final
    agg — linear, two shuffles, no self-joins; 1000x more lineitems
    only widens the first agg.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    dem = (
        l.join(
            F.broadcast(p.select(F.col("p_partkey").alias("l_partkey"), "p_brand")),
            "l_partkey",
        )
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("week", "l_shipdate").cast("date").alias("wk"),
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("q"))
    )
    dem = _ckpt(dem)  # shared fan-out relation
    bounds = dem.agg(F.min("wk").alias("w0"), F.max("wk").alias("w1"))
    wgrid = bounds.select(
        F.explode(
            F.sequence("w0", "w1", F.expr("INTERVAL 7 DAY"))
        ).alias("wk")
    )
    brands = dem.select("brand").distinct()
    grid = (
        brands.crossJoin(F.broadcast(wgrid))
        .join(dem, ["brand", "wk"], "left")
        .select("brand", "wk", F.coalesce("q", F.lit(0)).alias("q"))
    )
    pol = grid.groupBy("brand").agg(F.max("q").cast("long").alias("s"))
    wlag = Window.partitionBy("brand").orderBy("wk")
    pipe = (
        grid.join(pol, "brand")
        .withColumn(
            "pip",
            F.col("q") + F.coalesce(F.lag("q").over(wlag), F.lit(0)),
        )
    )
    return pipe.groupBy("brand").agg(
        F.max("s").alias("base_stock"),
        F.count(F.lit(1)).cast("long").alias("n_weeks"),
        F.sum(F.when(F.col("s") - F.col("pip") < 0, 1).otherwise(0))
        .cast("long")
        .alias("stockout_weeks"),
        F.min(F.col("s") - F.col("pip")).cast("long").alias("min_on_hand"),
        F.sum("q").cast("long").alias("total_demand"),
        F.sum(F.greatest(F.col("pip") - F.col("s"), F.lit(0)))
        .cast("long")
        .alias("backorder_weeks_qty"),
        F.round(
            1000000.0
            * (
                1.0
                - F.sum(F.greatest(F.col("pip") - F.col("s"), F.lit(0)))
                * 1.0
                / F.sum("q")
            )
        )
        .cast("long")
        .alias("service_ppm"),
    )


def _vi_oracle(k_iters: int) -> str:
    """Unrolled K-step integer value-iteration oracle (aggregates are
    not allowed in a recursive CTE term, so the fixed iteration count
    is generated as K chained CTEs)."""
    steps = []
    for k in range(1, k_iters + 1):
        steps.append(
            f"""v{k} AS MATERIALIZED (
        SELECT r.state,
               CAST(r.r_micro + (3 * COALESCE(pv.sm, 0)) // 4000000
                    AS BIGINT) AS v
        FROM rew r LEFT JOIN (
            SELECT p.s AS state, SUM(p.ppm * v{k - 1}.v) AS sm
            FROM p JOIN v{k - 1} ON v{k - 1}.state = p.s2
            GROUP BY 1
        ) pv ON pv.state = r.state
    )"""
        )
    return f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ), trans AS MATERIALIZED (
        SELECT prev AS s, event_type AS s2, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    ), outdeg AS (
        SELECT s, CAST(SUM(n) AS BIGINT) AS tot FROM trans GROUP BY 1
    ), p AS MATERIALIZED (
        SELECT trans.s, trans.s2,
               CAST((1000000 * trans.n) // outdeg.tot AS BIGINT) AS ppm
        FROM trans JOIN outdeg ON outdeg.s = trans.s
    ), rew AS MATERIALIZED (
        SELECT event_type AS state,
               CAST(COUNT(*) AS BIGINT) AS n_obs,
               CAST(CAST(ROUND(SUM(value) * 1000000) AS BIGINT)
                    // COUNT(*) AS BIGINT) AS r_micro
        FROM events GROUP BY 1
    ), v0 AS MATERIALIZED (
        SELECT state, CAST(0 AS BIGINT) AS v FROM rew
    ), {", ".join(steps)}
    SELECT rew.state, rew.n_obs, rew.r_micro,
           v{k_iters}.v AS value_micro
    FROM rew JOIN v{k_iters} ON v{k_iters}.state = rew.state
    """


@query("value_iteration_event_mdp", oracle=_vi_oracle(25))
def value_iteration_event_mdp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25-step value iteration on the empirical event-type Markov
    reward process: states are event types, transition probabilities
    come from per-user consecutive event pairs (ppm integers, floor
    division — sub-stochastic rows lose their remainder mass, a
    deterministic absorption), rewards are per-type mean event value
    in micro-units, and v_{{k+1}} = r + floor(3/4 * P v) is iterated
    EXACTLY in integer arithmetic — the dynamic-programming engine
    behind `greedy_policy_improvement` (one-step lookahead) and the
    discounted sibling of `markov_next_event_hit_rate`.

    Determinism: every quantity is an exact integer; both engines run
    the identical floor-division recurrence, so the 25-step vector
    matches bit-for-bit — no float tolerance anywhere. Fixed K (not
    convergence-tested) keeps the spec engine-independent; gamma=3/4
    puts the remaining contraction error below micro resolution.

    Scale shape: estimating P is the distributed work (one window
    over user event sequences + two aggs); the MRP itself collapses
    to |types|^2 rows, and the K iterations run in ONE applyInPandas
    call on that closure (arbitrary-precision Python ints) — never K
    driver-coordinated joins. A 1M-state MRP would switch to the
    iterated-join form of `connected_components`; same recurrence.
    """
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    )
    trans = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("s"), F.col("event_type").alias("s2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    outdeg = trans.groupBy("s").agg(F.sum("n").cast("long").alias("tot"))
    p = trans.join(outdeg, "s").select(
        "s", "s2", F.expr("(1000000 * n) DIV tot").cast("long").alias("ppm")
    )
    rew = ev.groupBy(F.col("event_type").alias("state")).agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.expr(
            "CAST(ROUND(SUM(value) * 1000000) AS BIGINT) DIV COUNT(*)"
        )
        .cast("long")
        .alias("r_micro"),
    )
    closure = (
        p.join(rew.select(F.col("state").alias("s"), "r_micro", "n_obs"), "s")
        .withColumn("g", F.lit(1))
    )

    def vi(pdf: pd.DataFrame) -> pd.DataFrame:
        states = sorted(set(pdf["s"]) | set(pdf["s2"]))
        r = {}
        nobs = {}
        for _, row in pdf.drop_duplicates("s").iterrows():
            r[row["s"]] = int(row["r_micro"])
            nobs[row["s"]] = int(row["n_obs"])
        ppm = {(row["s"], row["s2"]): int(row["ppm"]) for _, row in pdf.iterrows()}
        v = {s: 0 for s in states}
        for _ in range(25):
            v = {
                s: r.get(s, 0)
                + (
                    3
                    * sum(
                        ppm.get((s, s2), 0) * v[s2] for s2 in states
                    )
                )
                // 4000000
                for s in states
            }
        return pd.DataFrame(
            {
                "state": states,
                "n_obs": [nobs.get(s, 0) for s in states],
                "r_micro": [r.get(s, 0) for s in states],
                "value_micro": [v[s] for s in states],
            }
        )

    return closure.groupBy("g").applyInPandas(
        vi,
        schema="state string, n_obs long, r_micro long, value_micro long",
    ).drop("g")


@query("maxflow_mincut_trade")
def maxflow_mincut_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum s-t flow and minimum cut on the directed nation trade
    graph (edge capacity = supplier-nation -> customer-nation revenue
    cents), source = the largest-out-capacity nation, sink = the
    largest-inflow nation other than the source (id tie-breaks):
    Edmonds-Karp with lexicographic BFS, returning one row per nation
    with its min-cut side plus the (identical) max-flow value and cut
    capacity. The query is SELF-CERTIFYING: by weak LP duality any
    flow <= any cut, so reporting a flow and a cut of EQUAL value
    proves optimality inside the result itself — the invariant test
    asserts flow_cents == cut_cents (no SQL oracle: augmenting-path
    search is not oracle-expressible; this is one of the documented
    rows-only queries).

    Determinism: integer capacities; BFS scans neighbors in ascending
    nation order so the augmenting path chosen each round is the
    lexicographically smallest shortest path; the cut is the set of
    nodes residual-reachable from the source at termination.

    Scale shape: the distributed work is collapsing the fact tables
    to the nation x nation capacity closure (<= 625 rows); the
    combinatorial search runs in ONE applyInPandas call on that
    closure — same contract-vs-closure split as
    `value_iteration_event_mdp` and `held_karp_region_tour`. Flow on
    a billion-edge graph needs a different algorithm family
    (push-relabel / Boykov-Kolmogorov partitioned), which the
    docstring scope excludes deliberately.
    """
    import pandas as pd

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    caps = (
        l.join(
            F.broadcast(
                s.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")
            ),
            "l_suppkey",
        )
        .join(
            o.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
            "l_orderkey",
        )
        .join(
            F.broadcast(
                c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").cast("long").alias("u"),
            F.col("c_nationkey").cast("long").alias("v"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cap")
        )
        .withColumn("g", F.lit(1))
    )

    def maxflow(pdf: pd.DataFrame) -> pd.DataFrame:
        from collections import deque

        nodes = sorted(set(pdf["u"]) | set(pdf["v"]))
        out_cap = {n: 0 for n in nodes}
        in_cap = {n: 0 for n in nodes}
        for _, row in pdf.iterrows():
            out_cap[int(row["u"])] += int(row["cap"])
            in_cap[int(row["v"])] += int(row["cap"])
        src = min(nodes, key=lambda n: (-out_cap[n], n))
        snk = min(
            (n for n in nodes if n != src),
            key=lambda n: (-in_cap[n], n),
        )
        res = {}
        for _, row in pdf.iterrows():
            res[(int(row["u"]), int(row["v"]))] = int(row["cap"])
            res.setdefault((int(row["v"]), int(row["u"])), 0)
        adj = {n: sorted({b for (a, b) in res if a == n}) for n in nodes}
        flow = 0
        while True:
            parent = {src: None}
            q = deque([src])
            while q and snk not in parent:
                a = q.popleft()
                for b in adj[a]:
                    if b not in parent and res[(a, b)] > 0:
                        parent[b] = a
                        q.append(b)
            if snk not in parent:
                break
            path, node = [], snk
            while parent[node] is not None:
                path.append((parent[node], node))
                node = parent[node]
            aug = min(res[e] for e in path)
            for (a, b) in path:
                res[(a, b)] -= aug
                res[(b, a)] += aug
            flow += aug
        cut_side = set(parent)  # residual-reachable from src
        cut_cap = sum(
            int(row["cap"])
            for _, row in pdf.iterrows()
            if int(row["u"]) in cut_side and int(row["v"]) not in cut_side
        )
        return pd.DataFrame(
            {
                "nation_key": nodes,
                "side": ["source" if n in cut_side else "sink" for n in nodes],
                "max_flow_cents": [flow] * len(nodes),
                "min_cut_cents": [cut_cap] * len(nodes),
            }
        )

    return (
        caps.groupBy("g")
        .applyInPandas(
            maxflow,
            schema=(
                "nation_key long, side string, max_flow_cents long, "
                "min_cut_cents long"
            ),
        )
    )


@query(
    "sax_symbolic_motifs",
    oracle="""
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(ROUND(SUM(value) * 100) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ), r AS (
        SELECT event_type, c,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY day) - 1 AS BIGINT)
                   AS rk
        FROM d
    ), stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS sum_c,
               CAST(SUM(c * c) AS BIGINT) AS sumsq_c
        FROM r GROUP BY 1
    ), paa AS (
        SELECT event_type, rk // 2 AS seg,
               SUM(c) * 1.0 / COUNT(*) AS paa_val
        FROM r GROUP BY 1, 2
    ), z AS (
        SELECT p.event_type, p.seg,
               (p.paa_val - s.sum_c * 1.0 / s.n)
               / SQRT(s.sumsq_c * 1.0 / s.n
                      - (s.sum_c * 1.0 / s.n) * (s.sum_c * 1.0 / s.n))
                   AS zval
        FROM paa p JOIN stats s ON s.event_type = p.event_type
    ), sym AS (
        SELECT event_type, seg,
               CASE WHEN zval < -0.6745 THEN 'a'
                    WHEN zval < 0.0 THEN 'b'
                    WHEN zval < 0.6745 THEN 'c'
                    ELSE 'd' END AS s
        FROM z
    ), words AS (
        SELECT event_type, seg,
               s || LEAD(s, 1) OVER (PARTITION BY event_type ORDER BY seg)
                 || LEAD(s, 2) OVER (PARTITION BY event_type ORDER BY seg)
                   AS w
        FROM sym
    )
    SELECT event_type, w AS sax_word,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(seg) AS BIGINT) AS first_seg
    FROM words WHERE w IS NOT NULL
    GROUP BY 1, 2
    """,
)
def sax_symbolic_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) motif census per event
    type: the daily cents series is z-normalized, reduced by 2-day
    PAA segments, discretized into a 4-letter alphabet at the
    standard Gaussian equiprobable breakpoints (-0.6745, 0, 0.6745),
    and swept with a sliding 3-letter word — repeated words are the
    motifs, the symbolic cheap-first-pass that `motif_discovery_daily`
    (exact numeric matrix-profile style) refines. SAX words also feed
    hashing/indexing: identical words = candidate similar subsequences
    at 24x compression.

    Determinism: the z-pipeline starts from exact integer cent sums,
    so mean/variance/PAA are IDENTICAL doubles on both engines (same
    exact-integer inputs, same expression shape) and every breakpoint
    comparison resolves the same way — no rounding needed anywhere.

    Scale shape: one agg to (type, day), one to (type, segment), one
    broadcast stats join, two LEADs in a per-type window, and a
    motif-count agg — linear in days, parallel across series; the
    alphabet/word-length constants are plan literals.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100).cast("long").alias("c")
    )
    r = d.select(
        "event_type",
        "c",
        (
            F.row_number().over(
                Window.partitionBy("event_type").orderBy("day")
            )
            - 1
        )
        .cast("long")
        .alias("rk"),
    )
    stats = r.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("sum_c"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sumsq_c"),
    )
    paa = r.groupBy(
        "event_type", F.expr("rk DIV 2").alias("seg")
    ).agg((F.sum("c") * 1.0 / F.count(F.lit(1))).alias("paa_val"))
    mu = F.col("sum_c") * 1.0 / F.col("n")
    z = paa.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "seg",
        (
            (F.col("paa_val") - mu)
            / F.sqrt(F.col("sumsq_c") * 1.0 / F.col("n") - mu * mu)
        ).alias("zval"),
    )
    sym = z.select(
        "event_type",
        "seg",
        F.when(F.col("zval") < -0.6745, "a")
        .when(F.col("zval") < 0.0, "b")
        .when(F.col("zval") < 0.6745, "c")
        .otherwise("d")
        .alias("s"),
    )
    w = Window.partitionBy("event_type").orderBy("seg")
    words = sym.select(
        "event_type",
        "seg",
        F.concat(
            "s", F.lead("s", 1).over(w), F.lead("s", 2).over(w)
        ).alias("w"),
    )
    return (
        words.filter(F.col("w").isNotNull())
        .groupBy("event_type", F.col("w").alias("sax_word"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("seg").cast("long").alias("first_seg"),
        )
    )


@query(
    "product_quantization_adc",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(ROUND(x * 1000000) AS BIGINT)) AS v
        FROM embeddings
    ), cb AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
                   AS cent_idx,
               v
        FROM e WHERE vec_id IN (3, 66, 129, 192, 255, 318, 381, 444)
    ), subs AS (SELECT CAST(unnest([0, 1, 2, 3]) AS BIGINT) AS sub),
    sdist AS (
        SELECT e.vec_id, subs.sub, cb.cent_idx,
               list_sum(list_transform(range(1, 17),
                   i -> (e.v[CAST(subs.sub * 16 + i AS INT)]
                         - cb.v[CAST(subs.sub * 16 + i AS INT)])
                        * (e.v[CAST(subs.sub * 16 + i AS INT)]
                           - cb.v[CAST(subs.sub * 16 + i AS INT)])))
                   AS d
        FROM e CROSS JOIN subs CROSS JOIN cb
    ), codes AS (
        SELECT vec_id, sub, cent_idx AS code, d AS qdist
        FROM (
            SELECT vec_id, sub, cent_idx, d,
                   ROW_NUMBER() OVER (
                       PARTITION BY vec_id, sub
                       ORDER BY d, cent_idx) AS rn
            FROM sdist) t
        WHERE rn = 1
    ), probes AS (SELECT CAST(unnest([0, 100, 200, 300, 400]) AS BIGINT)
                      AS probe_id),
    lut AS (
        SELECT s.vec_id AS probe_id, s.sub, s.cent_idx, s.d
        FROM sdist s JOIN probes ON probes.probe_id = s.vec_id
    ), adc AS (
        SELECT lut.probe_id, c.vec_id,
               CAST(SUM(lut.d) AS BIGINT) AS adc_d
        FROM codes c
        JOIN lut ON lut.sub = c.sub AND lut.cent_idx = c.code
        WHERE c.vec_id <> lut.probe_id
        GROUP BY 1, 2
    ), adc_top AS (
        SELECT probe_id, vec_id FROM (
            SELECT probe_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY probe_id
                       ORDER BY adc_d, vec_id) AS rn
            FROM adc) t
        WHERE rn <= 10
    ), exact AS (
        SELECT p.probe_id, c.vec_id,
               list_sum(list_transform(range(1, 65),
                   i -> (pe.v[i] - c.v[i]) * (pe.v[i] - c.v[i]))) AS d
        FROM probes p
        JOIN e pe ON pe.vec_id = p.probe_id
        JOIN e c ON c.vec_id <> p.probe_id
    ), exact_top AS (
        SELECT probe_id, vec_id FROM (
            SELECT probe_id, vec_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY probe_id ORDER BY d, vec_id) AS rn
            FROM exact) t
        WHERE rn <= 10
    )
    SELECT x.probe_id,
           CAST(COUNT(a.vec_id) AS BIGINT) AS overlap_at_10,
           CAST(MIN(x.vec_id) AS BIGINT) AS exact_top_min_id
    FROM exact_top x
    LEFT JOIN adc_top a
      ON a.probe_id = x.probe_id AND a.vec_id = x.vec_id
    GROUP BY 1
    """,
)
def product_quantization_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization with asymmetric distance computation
    (ADC), the workhorse of billion-scale ANN (IVF-PQ): 64-dim
    vectors split into 4 subspaces of 16, each subvector quantized to
    its nearest of 8 pinned codebook centroids (exact integer-micro
    squared distance, index tie-break), so a vector compresses to 4
    codes; a probe's distance to ANY corpus vector is then a 4-term
    LOOKUP-TABLE sum (probe-to-centroid distances, computed once per
    probe) — never a full-vector scan. The audit reports overlap@10
    between ADC retrieval and exact retrieval per probe, the recall
    number that decides the codebook budget. Completes the ANN family:
    `ann_lsh_pairs` (hashing), `ann_ivf_topk` (partitioning),
    `embedding_int8_quantize` (scalar depth), `matryoshka_overlap_at_k`
    (width) — PQ is the subspace-codebook axis.

    Determinism: all distances are exact BIGINT sums of squared
    micro-unit differences; every argmin/top-k carries an id
    tie-break.

    Scale shape: code assignment is corpus x 8 centroids per subspace
    (broadcast codebook, map-side); ADC scoring shuffles only (probe,
    vec, 4 codes) rows and joins a 160-row broadcast LUT — the
    vectors themselves never enter the scoring join, which is the
    entire point of PQ at 100 TB (codes are 4 bytes vs 256).
    """
    CB = [3, 66, 129, 192, 255, 318, 381, 444]
    PROBES = [0, 100, 200, 300, 400]
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000)"
            " AS BIGINT))"
        ).alias("v"),
    )
    e = _ckpt(e)  # shared fan-out relation
    cb = (
        e.filter(F.col("vec_id").isin(CB))
        .select(
            (
                F.row_number().over(Window.orderBy("vec_id")) - 1
            )
            .cast("long")
            .alias("cent_idx"),
            F.col("v").alias("cv"),
        )
    )
    subs = spark.range(4).select(F.col("id").cast("long").alias("sub"))
    sub_d = (
        "aggregate(transform(sequence(1, 16), i -> "
        "(element_at(v, CAST(sub * 16 + i AS INT)) "
        "- element_at(cv, CAST(sub * 16 + i AS INT))) * "
        "(element_at(v, CAST(sub * 16 + i AS INT)) "
        "- element_at(cv, CAST(sub * 16 + i AS INT)))), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    sdist = (
        e.crossJoin(F.broadcast(subs))
        .crossJoin(F.broadcast(cb))
        .select("vec_id", "sub", "cent_idx", F.expr(sub_d).alias("d"))
    )
    sdist = _ckpt(sdist)  # shared fan-out relation
    codes = (
        sdist.groupBy("vec_id", "sub")
        .agg(F.min(F.struct("d", "cent_idx")).alias("m"))
        .select("vec_id", "sub", F.col("m.cent_idx").alias("code"))
    )
    lut = sdist.filter(F.col("vec_id").isin(PROBES)).select(
        F.col("vec_id").alias("probe_id"),
        F.col("sub").alias("lsub"),
        F.col("cent_idx").alias("lcent"),
        "d",
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            (F.col("sub") == F.col("lsub")) & (F.col("code") == F.col("lcent")),
        )
        .filter(F.col("vec_id") != F.col("probe_id"))
        .groupBy("probe_id", "vec_id")
        .agg(F.sum("d").cast("long").alias("adc_d"))
    )
    wadc = Window.partitionBy("probe_id").orderBy("adc_d", "vec_id")
    adc_top = (
        adc.withColumn("rn", F.row_number().over(wadc))
        .filter(F.col("rn") <= 10)
        .select("probe_id", "vec_id")
    )
    pe = e.filter(F.col("vec_id").isin(PROBES)).select(
        F.col("vec_id").alias("probe_id"), F.col("v").alias("pv")
    )
    full_d = (
        "aggregate(transform(sequence(1, 64), i -> "
        "(element_at(pv, i) - element_at(v, i)) * "
        "(element_at(pv, i) - element_at(v, i))), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    exact = (
        e.crossJoin(F.broadcast(pe))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", F.expr(full_d).alias("d"))
    )
    wex = Window.partitionBy("probe_id").orderBy("d", "vec_id")
    exact_top = (
        exact.withColumn("rn", F.row_number().over(wex))
        .filter(F.col("rn") <= 10)
        .select("probe_id", "vec_id")
    )
    return (
        exact_top.alias("x")
        .join(
            adc_top.alias("a"),
            (F.col("a.probe_id") == F.col("x.probe_id"))
            & (F.col("a.vec_id") == F.col("x.vec_id")),
            "left",
        )
        .groupBy(F.col("x.probe_id").alias("probe_id"))
        .agg(
            F.count(F.col("a.vec_id")).cast("long").alias("overlap_at_10"),
            F.min(F.col("x.vec_id")).cast("long").alias("exact_top_min_id"),
        )
    )


_REGSEG_SQL = """
        SELECT r.r_name AS region, c.c_mktsegment AS seg,
               CAST(ROUND(SUM(o.o_totalprice) * 100) AS BIGINT) AS cents
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        GROUP BY 1, 2
"""


@query(
    "assignment_optimal_exact",
    oracle=f"""
    WITH m AS ({_REGSEG_SQL}),
    regs AS (SELECT DISTINCT region FROM m),
    perms AS (
        SELECT r1.region AS c1, r2.region AS c2, r3.region AS c3,
               r4.region AS c4, r5.region AS c5,
               r1.region || '|' || r2.region || '|' || r3.region || '|'
                         || r4.region || '|' || r5.region AS pid
        FROM regs r1, regs r2, regs r3, regs r4, regs r5
        WHERE r1.region <> r2.region AND r1.region <> r3.region
          AND r1.region <> r4.region AND r1.region <> r5.region
          AND r2.region <> r3.region AND r2.region <> r4.region
          AND r2.region <> r5.region AND r3.region <> r4.region
          AND r3.region <> r5.region AND r4.region <> r5.region
    ), segs AS (
        SELECT seg, CAST(ROW_NUMBER() OVER (ORDER BY seg) AS BIGINT) AS srk
        FROM (SELECT DISTINCT seg FROM m) t
    ), pos AS (
        SELECT pid, c1 AS region, 1 AS srk FROM perms
        UNION ALL SELECT pid, c2, 2 FROM perms
        UNION ALL SELECT pid, c3, 3 FROM perms
        UNION ALL SELECT pid, c4, 4 FROM perms
        UNION ALL SELECT pid, c5, 5 FROM perms
    ), score AS (
        SELECT pos.pid, SUM(m.cents) AS total
        FROM pos
        JOIN segs ON segs.srk = pos.srk
        JOIN m ON m.region = pos.region AND m.seg = segs.seg
        GROUP BY 1
    ), best AS (
        SELECT pid, total FROM score ORDER BY total DESC, pid LIMIT 1
    )
    SELECT segs.seg AS segment, pos.region,
           m.cents AS pair_cents,
           CAST(best.total AS BIGINT) AS optimal_total_cents
    FROM pos
    JOIN best USING (pid)
    JOIN segs ON segs.srk = pos.srk
    JOIN m ON m.region = pos.region AND m.seg = segs.seg
    """,
)
def assignment_optimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal one-to-one assignment of the five regions to the five
    market segments maximizing total revenue coverage — the linear
    assignment problem (what the Hungarian algorithm solves in
    O(n^3)) answered EXACTLY by enumerating all 5! = 120 bijections,
    the same theorem-does-the-work trick as `kemeny_optimal_ranking`:
    for k <= 6 the factorial enumeration is a broadcast-side constant
    while the cost matrix aggregation is the only data-scale work.
    Pairs with `stable_matching_region_segment`: optimal total vs
    stable matchings on the SAME matrix (stability and optimality
    famously need not coincide).

    Determinism: exact cent matrix; ties across assignments break on
    the permutation string; segment slots are alphabetically ranked.

    Scale shape: fact tables collapse to a 25-cell matrix (two
    broadcast dim joins + one agg); enumeration is a 5-way self-cross
    of a 5-row relation, scored via a broadcast join against the
    matrix; nothing downstream of the first agg touches data volume.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    m = (
        o.join(
            F.broadcast(
                c.select(
                    F.col("c_custkey").alias("o_custkey"), "c_nationkey"
                ).join(
                    n.select(
                        F.col("n_nationkey").alias("c_nationkey"),
                        "n_regionkey",
                    ),
                    "c_nationkey",
                ).join(
                    r.select(
                        F.col("r_regionkey").alias("n_regionkey"), "r_name"
                    ),
                    "n_regionkey",
                )
            ),
            "o_custkey",
        )
        .join(
            F.broadcast(
                c.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
            ),
            "o_custkey",
        )
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents"))
    )
    m = _ckpt(m)  # shared fan-out relation
    regs = m.select("region").distinct()
    rsel = [regs.select(F.col("region").alias(f"c{i}")) for i in range(1, 6)]
    perms = (
        rsel[0]
        .crossJoin(rsel[1])
        .crossJoin(rsel[2])
        .crossJoin(rsel[3])
        .crossJoin(rsel[4])
    )
    for i in range(1, 6):
        for j in range(i + 1, 6):
            perms = perms.filter(F.col(f"c{i}") != F.col(f"c{j}"))
    perms = perms.withColumn(
        "pid", F.concat_ws("|", "c1", "c2", "c3", "c4", "c5")
    )
    segs = (
        m.select("seg")
        .distinct()
        .select(
            "seg",
            F.row_number().over(Window.orderBy("seg")).cast("long").alias("srk"),
        )
    )
    pos = None
    for i in range(1, 6):
        part = perms.select(
            "pid", F.col(f"c{i}").alias("region"), F.lit(i).alias("srk")
        )
        pos = part if pos is None else pos.unionByName(part)
    scored = (
        pos.join(F.broadcast(segs), "srk")
        .join(F.broadcast(m), ["region", "seg"])
    )
    score = scored.groupBy("pid").agg(F.sum("cents").alias("total"))
    best = score.orderBy(F.desc("total"), "pid").limit(1)
    return (
        scored.join(F.broadcast(best), "pid")
        .select(
            F.col("seg").alias("segment"),
            "region",
            F.col("cents").alias("pair_cents"),
            F.col("total").cast("long").alias("optimal_total_cents"),
        )
    )


@query("stable_matching_region_segment")
def stable_matching_region_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gale-Shapley deferred acceptance between regions (proposers)
    and market segments over the same revenue matrix as
    `assignment_optimal_exact`: each region ranks segments by the
    revenue it does with them, each segment ranks regions likewise,
    and the region-optimal stable matching is computed by the classic
    proposal rounds. The result is SELF-CERTIFYING: the returned
    `n_blocking_pairs` column is computed DECLARATIVELY afterwards
    (a join counting pairs (r, s) not matched to each other where
    both prefer each other to their assigned partners) and stability
    means it is exactly 0 — the invariant test pins that, plus
    region-optimality vs the enumerated optimum's total. Rows-only by
    design: proposal dynamics are not oracle-expressible SQL.

    Determinism: preferences from exact cents with name tie-breaks;
    Gale-Shapley's region-optimal outcome is independent of proposal
    order (lattice theorem), so no order sensitivity exists at all.

    Scale shape: the matrix agg is the data-scale work; the 5x5
    matching runs in one applyInPandas closure call; the blocking-pair
    certificate is two broadcast self-joins of 25-row relations.
    """
    import pandas as pd

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    m = (
        o.join(
            F.broadcast(
                c.select(
                    F.col("c_custkey").alias("o_custkey"),
                    "c_nationkey",
                    "c_mktsegment",
                ).join(
                    n.select(
                        F.col("n_nationkey").alias("c_nationkey"),
                        "n_regionkey",
                    ),
                    "c_nationkey",
                ).join(
                    r.select(
                        F.col("r_regionkey").alias("n_regionkey"), "r_name"
                    ),
                    "n_regionkey",
                )
            ),
            "o_custkey",
        )
        .groupBy(
            F.col("r_name").alias("region"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents"))
        .withColumn("g", F.lit(1))
    )
    m = m.transform(_ckpt)

    def gale_shapley(pdf: pd.DataFrame) -> pd.DataFrame:
        cents = {
            (row["region"], row["seg"]): int(row["cents"])
            for _, row in pdf.iterrows()
        }
        regions = sorted({k[0] for k in cents})
        segs = sorted({k[1] for k in cents})
        # preference lists: higher cents first, name tie-break
        rpref = {
            rg: sorted(segs, key=lambda s: (-cents.get((rg, s), 0), s))
            for rg in regions
        }
        srank = {
            s: {
                rg: rank
                for rank, rg in enumerate(
                    sorted(
                        regions, key=lambda rg: (-cents.get((rg, s), 0), rg)
                    )
                )
            }
            for s in segs
        }
        nxt = {rg: 0 for rg in regions}
        match_s = {}
        free = sorted(regions)
        while free:
            rg = free.pop(0)
            s = rpref[rg][nxt[rg]]
            nxt[rg] += 1
            cur = match_s.get(s)
            if cur is None:
                match_s[s] = rg
            elif srank[s][rg] < srank[s][cur]:
                match_s[s] = rg
                free.append(cur)
                free.sort()
            else:
                free.append(rg)
                free.sort()
        return pd.DataFrame(
            {
                "region": [match_s[s] for s in segs],
                "segment": list(segs),
                "pair_cents": [cents[(match_s[s], s)] for s in segs],
            }
        )

    matched = m.groupBy("g").applyInPandas(
        gale_shapley, schema="region string, segment string, pair_cents long"
    )
    matched = matched.transform(_ckpt)
    # declarative stability certificate: blocking pair (r, s) where r
    # prefers s to r's partner AND s prefers r to s's partner
    mm = m.select("region", F.col("seg").alias("segment"), "cents")
    r_assigned = matched.select(
        "region", F.col("pair_cents").alias("r_cents")
    )
    s_assigned = matched.select(
        "segment", F.col("pair_cents").alias("s_cents")
    )
    blocking = (
        mm.join(F.broadcast(r_assigned), "region")
        .join(F.broadcast(s_assigned), "segment")
        .join(
            F.broadcast(
                matched.select("region", "segment").withColumn(
                    "is_matched", F.lit(1)
                )
            ),
            ["region", "segment"],
            "left",
        )
        .filter(F.col("is_matched").isNull())
        .filter(
            (F.col("cents") > F.col("r_cents"))
            & (F.col("cents") > F.col("s_cents"))
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_blocking_pairs"))
    )
    return matched.crossJoin(F.broadcast(blocking)).select(
        "region", "segment", "pair_cents", "n_blocking_pairs"
    )


@query(
    "lz76_complexity_docs",
    oracle="""
    WITH RECURSIVE d AS (
        SELECT doc_id, substring(trim(text), 1, 150) AS t,
               CAST(length(substring(trim(text), 1, 150)) AS BIGINT) AS n
        FROM documents WHERE doc_id % 25 = 0 AND length(trim(text)) > 0
    ), lz(doc_id, p, c) AS (
        SELECT doc_id, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM d
        UNION ALL
        SELECT lz.doc_id,
               lz.p + COALESCE(list_max(list_filter(
                   range(1, CAST(least(40, d.n - lz.p + 1) AS BIGINT) + 1),
                   L -> strpos(d.t[1:CAST(lz.p + L - 2 AS INT)],
                               d.t[CAST(lz.p AS INT):
                                   CAST(lz.p + L - 1 AS INT)]) > 0)), 0) + 1,
               lz.c + 1
        FROM lz JOIN d ON d.doc_id = lz.doc_id
        WHERE lz.p <= d.n
    )
    SELECT d.doc_id, d.n AS n_chars_used, MAX(lz.c) AS n_phrases,
           CAST(ROUND(1000000.0 * MAX(lz.c) / d.n) AS BIGINT)
               AS phrases_ppm
    FROM lz JOIN d ON d.doc_id = lz.doc_id
    GROUP BY 1, 2
    """,
)
def lz76_complexity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lempel-Ziv (LZ76) complexity of each sampled document's
    150-char prefix: the number of phrases in the exhaustive-history
    parse (each phrase = longest substring reproducible from the
    prior text, overlap allowed, plus one innovative character;
    match length capped at 40). LZ complexity is the
    SEQUENCE-structure compressibility measure — order-0 entropy
    (`char_entropy_compressibility`) is blind to repetition
    STRUCTURE, while a copied paragraph collapses LZ phrase counts;
    low phrases_ppm flags templated/boilerplate text that token
    frequency ratios miss.

    Determinism: pure integer phrase counting over exact prefixes;
    the DuckDB oracle replays the identical parse as a recursive CTE
    (one recursion step per phrase, candidate lengths via
    list_filter) — an inherently sequential algorithm checked
    declaratively.

    Scale shape: embarrassingly parallel per document — the Arrow
    pandas UDF parses each doc independently in O(n * cap) substring
    checks; no shuffle at all beyond the scan (the doc sample filter
    is pushed down). 100-TB corpora parse at map speed; the 150-char
    prefix is the spec'd budget, not a limitation of the plumbing.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _lz_phrases(texts: "pd.Series") -> "pd.Series":
        def parse(t: str) -> int:
            n = len(t)
            p, c = 1, 0
            while p <= n:
                lmax = 0
                for L in range(1, min(40, n - p + 1) + 1):
                    hay = t[0 : max(p + L - 2, 0)]
                    nd = t[p - 1 : p - 1 + L]
                    if nd and nd in hay:
                        lmax = L
                p = p + lmax + 1
                c += 1
            return c

        return texts.map(parse)

    # queries.py stringizes annotations (PEP 563) and has no module-level
    # pandas import, so resolve the hint namespace explicitly
    _lz_phrases.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    lz_phrases = pandas_udf(_lz_phrases, "long")

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select(
            "doc_id", F.substring(F.trim("text"), 1, 150).alias("t")
        )
        .filter(F.length("t") > 0)
        .select("doc_id", "t", F.length("t").cast("long").alias("n"))
    )
    return d.select(
        "doc_id",
        F.col("n").alias("n_chars_used"),
        lz_phrases("t").alias("n_phrases"),
    ).withColumn(
        "phrases_ppm",
        F.round(1000000.0 * F.col("n_phrases") / F.col("n_chars_used"))
        .cast("long"),
    )


@query("huffman_code_audit")
def huffman_code_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huffman OPTIMAL prefix code over the corpus letter distribution
    (a-z counts from lowercased document text): greedy two-smallest
    merging with a (weight, min-symbol) tie-break, reporting each
    letter's exact count and code length plus the corpus totals the
    certificate needs — Kraft sum scaled by 2^L_max (optimality-tight
    codes satisfy Kraft with EQUALITY) and total coded bits. The
    true-optimum companion of `shannon_code_audit` (whose ceil(-log2 p)
    lengths Huffman must beat or match symbol-for-symbol in total):
    Shannon <= H+1 per symbol, Huffman is the exact minimum over all
    prefix codes. Rows-only by design: the greedy merge tree is not
    oracle-expressible SQL; the invariant test pins Kraft equality,
    weight-length anti-monotonicity, and the entropy sandwich
    H <= avg_len < H+1.

    Determinism: integer letter counts; merge order fully determined
    by the (weight, min-symbol) heap key.

    Scale shape: the distributed work is the letter histogram (one
    explode-free split/agg pass, 26-row result); the merge runs in
    one applyInPandas closure call. Code ASSIGNMENT to a 100-TB
    corpus is then a broadcast-map of the 26-row code table.
    """
    import heapq

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    letters = (
        docs.select(
            F.explode(
                F.split(F.regexp_replace(F.lower("text"), "[^a-z]", ""), "")
            ).alias("ch")
        )
        .filter(F.col("ch") != "")
        .groupBy("ch")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .withColumn("g", F.lit(1))
    )

    def huffman(pdf: pd.DataFrame) -> pd.DataFrame:
        items = sorted((int(r["w"]), r["ch"]) for _, r in pdf.iterrows())
        # heap of (weight, min_symbol, symbol_set)
        heap = [(w, ch, (ch,)) for w, ch in items]
        heapq.heapify(heap)
        depth = {ch: 0 for _, ch in items}
        if len(heap) == 1:
            depth[heap[0][1]] = 1
        while len(heap) > 1:
            w1, m1, s1 = heapq.heappop(heap)
            w2, m2, s2 = heapq.heappop(heap)
            for ch in s1 + s2:
                depth[ch] += 1
            heapq.heappush(heap, (w1 + w2, min(m1, m2), s1 + s2))
        lmax = max(depth.values())
        kraft_scaled = sum(2 ** (lmax - L) for L in depth.values())
        total_bits = sum(w * depth[ch] for w, ch in items)
        return pd.DataFrame(
            {
                "symbol": [ch for _, ch in items],
                "weight": [w for w, _ in items],
                "code_len": [depth[ch] for _, ch in items],
                "max_code_len": [lmax] * len(items),
                "kraft_scaled": [kraft_scaled] * len(items),
                "total_bits": [total_bits] * len(items),
            }
        )

    return letters.groupBy("g").applyInPandas(
        huffman,
        schema=(
            "symbol string, weight long, code_len long, max_code_len long, "
            "kraft_scaled long, total_bits long"
        ),
    )


@query(
    "page_hinkley_drift",
    oracle="""
    WITH d AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(ROUND(SUM(value) * 100) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), r AS (
        SELECT event_type, day, x,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY day) AS BIGINT) AS t,
               CAST(SUM(x) OVER (
                   PARTITION BY event_type ORDER BY day) AS BIGINT) AS cum
        FROM d
    ), m AS (
        SELECT event_type, day, t, x,
               SUM(x - cum * 1.0 / t - 500000.0) OVER (
                   PARTITION BY event_type ORDER BY day) AS ph
        FROM r
    ), s AS (
        SELECT event_type, day, t, ph,
               ph - MIN(ph) OVER (
                   PARTITION BY event_type ORDER BY day) AS dev
        FROM m
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(MAX(dev), 4) AS max_deviation,
           CAST(MIN(CASE WHEN dev > 10000000.0 THEN t END) AS BIGINT)
               AS alarm_t,
           MIN(CASE WHEN dev > 10000000.0 THEN day END) AS alarm_day
    FROM s GROUP BY 1
    """,
)
def page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential drift detector per event type: the PH
    statistic accumulates deviations of each day's revenue cents from
    the RUNNING mean (minus a delta = 5000-cent tolerance), and an
    alarm fires the first day the statistic rises lambda = 100k cents
    above its running minimum — the classic one-pass mean-increase
    detector, complementing the batch two-window tests
    (`cusum_changepoint_daily` restarts on the full series;
    `psi_drift_order_value` needs a reference window; PH is the
    streaming-native form with O(1) state).

    Determinism: exact integer daily cents; running mean, PH sum, and
    running min are all ordered-window accumulations evaluated in day
    order identically on both engines; the one reported float is
    rounded.

    Scale shape: one agg to (type, day) then three stacked windows
    over the SAME (type, day-order) partitioning — Catalyst collapses
    them into a single sort+window stage, so drift detection over any
    number of series costs one shuffle; in production the identical
    recurrence would run incrementally as per-series arbitrary state
    (transformWithState).
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100).cast("long").alias("x")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    r = d.select(
        "event_type",
        "day",
        "x",
        F.row_number().over(w).cast("long").alias("t"),
        F.sum("x").over(w).cast("long").alias("cum"),
    )
    m = r.select(
        "event_type",
        "day",
        "t",
        F.sum(
            F.col("x") - F.col("cum") * 1.0 / F.col("t") - 500000.0
        )
        .over(w)
        .alias("ph"),
    )
    s = m.select(
        "event_type",
        "day",
        "t",
        (F.col("ph") - F.min("ph").over(w)).alias("dev"),
    )
    return s.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.max("dev"), 4).alias("max_deviation"),
        F.min(F.when(F.col("dev") > 10000000.0, F.col("t")))
        .cast("long")
        .alias("alarm_t"),
        F.min(F.when(F.col("dev") > 10000000.0, F.col("day"))).alias(
            "alarm_day"
        ),
    )


@query(
    "synthetic_control_weekly",
    oracle="""
    WITH wk AS (
        SELECT c.c_nationkey AS nk,
               CAST(date_trunc('week', o.o_orderdate) AS DATE) AS wk,
               CAST(ROUND(SUM(o.o_totalprice) * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), rankn AS (
        SELECT nk, CAST(ROW_NUMBER() OVER (
                   ORDER BY SUM(cents) DESC, nk) AS BIGINT) AS rk
        FROM wk GROUP BY nk
    ), spine AS (
        SELECT CAST(unnest(generate_series(
                   (SELECT MIN(wk) FROM wk),
                   (SELECT MAX(wk) FROM wk),
                   INTERVAL 7 DAY)) AS DATE) AS wk
    ), tri AS (
        SELECT s.wk,
               COALESCE(y.cents, 0) AS y,
               COALESCE(a.cents, 0) AS d1,
               COALESCE(b.cents, 0) AS d2
        FROM spine s
        LEFT JOIN wk y ON y.wk = s.wk
            AND y.nk = (SELECT nk FROM rankn WHERE rk = 1)
        LEFT JOIN wk a ON a.wk = s.wk
            AND a.nk = (SELECT nk FROM rankn WHERE rk = 2)
        LEFT JOIN wk b ON b.wk = s.wk
            AND b.nk = (SELECT nk FROM rankn WHERE rk = 3)
    ), fit AS (
        SELECT SUM((y - d2) * (d1 - d2)) AS num,
               SUM((d1 - d2) * (d1 - d2)) AS den
        FROM tri WHERE wk < DATE '1999-01-01'
    ), wstar AS (
        SELECT LEAST(GREATEST(num * 1.0 / den, 0.0), 1.0) AS w FROM fit
    )
    SELECT (SELECT nk FROM rankn WHERE rk = 1) AS treated_nation,
           (SELECT nk FROM rankn WHERE rk = 2) AS donor1,
           (SELECT nk FROM rankn WHERE rk = 3) AS donor2,
           CAST(ROUND(w * 1000000) AS BIGINT) AS w_ppm,
           ROUND(SQRT(SUM(CASE WHEN wk < DATE '1999-01-01'
                     THEN (y - (w * d1 + (1 - w) * d2))
                          * (y - (w * d1 + (1 - w) * d2)) END)
                 / SUM(CASE WHEN wk < DATE '1999-01-01'
                       THEN 1 END)), 2) AS pre_rmse_cents,
           ROUND(SUM(CASE WHEN wk >= DATE '1999-01-01'
                     THEN y - (w * d1 + (1 - w) * d2) END)
                 / SUM(CASE WHEN wk >= DATE '1999-01-01'
                       THEN 1 END), 2) AS post_effect_cents
    FROM tri, wstar
    GROUP BY w
    """,
)
def synthetic_control_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic control with a closed-form convex donor weight: the
    top-revenue nation is 'treated', the next two are the donor pool,
    and the single weight w on donor1 (1-w on donor2) minimizing the
    pre-1999 weekly squared tracking error has the exact projection
    solution w* = <y-d2, d1-d2>/||d1-d2||^2 clipped to [0,1]. The
    post-1999 mean gap between the treated series and its synthetic
    twin is the causal-effect readout — the comparative-case-study
    method (Abadie et al.) in its smallest exactly-solvable instance,
    complementing `diff_in_diff_revenue` (which forces equal weights)
    and `two_way_fixed_effects`.

    Determinism: weekly cents are exact integers on a zero-filled
    spine; w* comes from two exact BIGINT sums; the two reported
    floats are rounded after identical arithmetic.

    Scale shape: one agg to nation x week, a broadcast 3-row rank
    pick, zero-fill against a generated spine, and scalar sums — the
    donor-pool generalization (k donors = a k x k normal-equation
    solve) keeps the same nation x week closure; nothing here scales
    with order count beyond the first agg.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    wk = (
        o.join(
            F.broadcast(
                c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.date_trunc("week", "o_orderdate").cast("date").alias("wk"),
        )
        .agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents"))
    )
    wk = _ckpt(wk)  # shared fan-out relation
    rankn = (
        wk.groupBy("nk")
        .agg(F.sum("cents").alias("tot"))
        .select(
            "nk",
            F.row_number()
            .over(Window.orderBy(F.desc("tot"), "nk"))
            .cast("long")
            .alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )
    rankn = _ckpt(rankn)  # shared fan-out relation
    bounds = wk.agg(F.min("wk").alias("w0"), F.max("wk").alias("w1"))
    spine = bounds.select(
        F.explode(F.sequence("w0", "w1", F.expr("INTERVAL 7 DAY"))).alias("wk")
    )
    picked = wk.join(F.broadcast(rankn), "nk")
    tri = spine
    for rk, col in [(1, "y"), (2, "d1"), (3, "d2")]:
        side = picked.filter(F.col("rk") == rk).select(
            "wk", F.col("cents").alias(col)
        )
        tri = tri.join(side, "wk", "left")
    tri = tri.select(
        "wk",
        F.coalesce("y", F.lit(0)).alias("y"),
        F.coalesce("d1", F.lit(0)).alias("d1"),
        F.coalesce("d2", F.lit(0)).alias("d2"),
    )
    pre = F.col("wk") < F.lit("1999-01-01").cast("date")
    fit = tri.filter(pre).agg(
        F.sum(
            (F.col("y") - F.col("d2")) * (F.col("d1") - F.col("d2"))
        ).alias("num"),
        F.sum(
            (F.col("d1") - F.col("d2")) * (F.col("d1") - F.col("d2"))
        ).alias("den"),
    )
    wstar = fit.select(
        F.least(
            F.greatest(F.col("num") * 1.0 / F.col("den"), F.lit(0.0)),
            F.lit(1.0),
        ).alias("w")
    )
    ids = (
        rankn.groupBy()
        .pivot("rk", [1, 2, 3])
        .agg(F.first("nk"))
        .select(
            F.col("1").cast("long").alias("treated_nation"),
            F.col("2").cast("long").alias("donor1"),
            F.col("3").cast("long").alias("donor2"),
        )
    )
    synth = F.col("w") * F.col("d1") + (1 - F.col("w")) * F.col("d2")
    gap = F.col("y") - synth
    agg = tri.crossJoin(F.broadcast(wstar)).groupBy("w").agg(
        F.round(
            F.sqrt(
                F.sum(F.when(pre, gap * gap))
                / F.sum(F.when(pre, F.lit(1)))
            ),
            2,
        ).alias("pre_rmse_cents"),
        F.round(
            F.sum(F.when(~pre, gap)) / F.sum(F.when(~pre, F.lit(1))), 2
        ).alias("post_effect_cents"),
    )
    return ids.crossJoin(F.broadcast(agg)).select(
        "treated_nation",
        "donor1",
        "donor2",
        F.round(F.col("w") * 1000000).cast("long").alias("w_ppm"),
        "pre_rmse_cents",
        "post_effect_cents",
    )


@query(
    "poisson_irls_weekly_orders",
    oracle="""
    WITH wkc AS (
        SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
               CAST(COUNT(*) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), pts AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY wk) AS BIGINT) / 100.0 AS x,
               y * 1.0 AS y
        FROM wkc
    ), f0 AS (
        -- standard GLM start: a = ln(mean y), b = 0
        SELECT ln(SUM(y) / COUNT(*)) AS a, 0.0 AS b FROM pts
    ), w1 AS (
        SELECT x, y,
               exp(a + b*x) AS w,
               (a + b*x) + (y - exp(a + b*x)) / exp(a + b*x) AS z
        FROM pts, f0
    ), f1 AS (
        SELECT (SUM(w*x*z) - SUM(w*x)*SUM(w*z)/SUM(w))
               / (SUM(w*x*x) - SUM(w*x)*SUM(w*x)/SUM(w)) AS b,
               SUM(w*z)/SUM(w)
               - (SUM(w*x*z) - SUM(w*x)*SUM(w*z)/SUM(w))
                 / (SUM(w*x*x) - SUM(w*x)*SUM(w*x)/SUM(w))
                 * SUM(w*x)/SUM(w) AS a
        FROM w1
    ), w2 AS (
        SELECT x, y,
               exp(a + b*x) AS w,
               (a + b*x) + (y - exp(a + b*x)) / exp(a + b*x) AS z
        FROM pts, f1
    ), f2 AS (
        SELECT (SUM(w*x*z) - SUM(w*x)*SUM(w*z)/SUM(w))
               / (SUM(w*x*x) - SUM(w*x)*SUM(w*x)/SUM(w)) AS b,
               SUM(w*z)/SUM(w)
               - (SUM(w*x*z) - SUM(w*x)*SUM(w*z)/SUM(w))
                 / (SUM(w*x*x) - SUM(w*x)*SUM(w*x)/SUM(w))
                 * SUM(w*x)/SUM(w) AS a
        FROM w2
    ), dv AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               2.0 * SUM(CASE WHEN y > 0
                         THEN y * ln(y / exp(a + b*x)) END
                         - (y - exp(a + b*x))) AS deviance
        FROM pts, f2
    )
    SELECT dv.n AS n_weeks,
           ROUND(f2.a, 4) AS beta0, ROUND(f2.b, 4) AS beta1,
           ROUND(dv.deviance, 2) AS deviance
    FROM f2, dv
    """,
)
def poisson_irls_weekly_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson (log-link) regression of weekly order counts on a time
    trend by IRLS — two fixed Newton steps from the standard GLM start
    a = ln(mean y), b = 0 (a zero start overshoots wildly for counts:
    z = y-1 puts the first eta near 40), reporting the trend
    coefficient and model deviance. The count-GLM member of the repo's
    fixed-step IRLS family (`logistic_irls_status_price` for binary,
    `huber_irls_regression` for robust-Gaussian): a count process
    regressed under its variance-equals-mean likelihood, the model
    behind `negative_binomial_user_events`' overdispersion contrast.

    Determinism: repo IRLS precedent — identical double expression
    trees on both engines, rounding at the end (ulp noise sits far
    below the grid); the week index is an exact integer scaled by 100.

    Scale shape: three streaming moment censuses over the weekly agg
    (map-side partials, 1-row broadcast between steps); the weekly
    reduction is the only data-volume stage.
    """
    o = load_table(spark, sf_dir, "orders")
    wkc = o.groupBy(
        F.date_trunc("week", "o_orderdate").cast("date").alias("wk")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    pts = wkc.select(
        (F.row_number().over(Window.orderBy("wk")).cast("long") / 100.0).alias(
            "x"
        ),
        (F.col("y") * 1.0).alias("y"),
    )
    pts = _ckpt(pts)  # shared fan-out relation
    n_ = F.count(F.lit(1))
    f0 = pts.agg(
        F.log(F.sum("y") / n_).alias("a"), F.lit(0.0).alias("b")
    )
    eta = F.col("a") + F.col("b") * F.col("x")
    sw = F.sum("w")
    bw = (
        F.sum(F.col("w") * F.col("x") * F.col("z"))
        - F.sum(F.col("w") * F.col("x"))
        * F.sum(F.col("w") * F.col("z"))
        / sw
    ) / (
        F.sum(F.col("w") * F.col("x") * F.col("x"))
        - F.sum(F.col("w") * F.col("x"))
        * F.sum(F.col("w") * F.col("x"))
        / sw
    )

    def newton_step(prev: DataFrame) -> DataFrame:
        wz = pts.crossJoin(F.broadcast(prev)).select(
            "x",
            "y",
            F.exp(eta).alias("w"),
            (eta + (F.col("y") - F.exp(eta)) / F.exp(eta)).alias("z"),
        )
        return wz.agg(
            bw.alias("b"),
            (
                F.sum(F.col("w") * F.col("z")) / sw
                - bw * F.sum(F.col("w") * F.col("x")) / sw
            ).alias("a"),
        )

    f2 = newton_step(newton_step(f0))
    mu = F.exp(F.col("a") + F.col("b") * F.col("x"))
    dv = pts.crossJoin(F.broadcast(f2)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            2.0
            * F.sum(
                F.when(F.col("y") > 0, F.col("y") * F.log(F.col("y") / mu))
                - (F.col("y") - mu)
            )
        ).alias("deviance"),
    )
    return f2.crossJoin(F.broadcast(dv)).select(
        F.col("n").alias("n_weeks"),
        F.round("a", 4).alias("beta0"),
        F.round("b", 4).alias("beta1"),
        F.round("deviance", 2).alias("deviance"),
    )


def _textrank_oracle(k_iters: int) -> str:
    """Unrolled K-step integer TextRank oracle (MATERIALIZED chained
    CTEs; aggregates are not allowed in a recursive CTE term)."""
    steps = []
    for k in range(1, k_iters + 1):
        steps.append(
            f"""t{k} AS MATERIALIZED (
        SELECT n.w,
               CAST(150000 + (850 * COALESCE(agg.sm, 0)) // 1000
                    AS BIGINT) AS s
        FROM nodes n LEFT JOIN (
            SELECT e.v AS w, SUM((e.wt * t{k - 1}.s) // e.outstr) AS sm
            FROM e JOIN t{k - 1} ON t{k - 1}.w = e.u
            GROUP BY 1
        ) agg ON agg.w = n.w
    )"""
        )
    return f"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    ), uc AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(t) AS w FROM toks)
        WHERE length(w) >= 4 GROUP BY w
    ), nodes AS MATERIALIZED (
        SELECT w FROM uc ORDER BY c DESC, w LIMIT 30
    ), bi AS (
        SELECT t[g.i] AS a, t[g.i + 1] AS b
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
    ), und AS (
        SELECT a AS u, b AS v FROM bi WHERE a <> b
        UNION ALL
        SELECT b, a FROM bi WHERE a <> b
    ), e0 AS (
        SELECT u, v, CAST(COUNT(*) AS BIGINT) AS wt
        FROM und
        JOIN nodes nu ON nu.w = und.u
        JOIN nodes nv ON nv.w = und.v
        GROUP BY 1, 2
    ), e AS MATERIALIZED (
        SELECT e0.u, e0.v, e0.wt,
               SUM(e0.wt) OVER (PARTITION BY e0.u) AS outstr
        FROM e0
    ), t0 AS MATERIALIZED (
        SELECT w, CAST(1000000 AS BIGINT) AS s FROM nodes
    ), {", ".join(steps)}
    SELECT nodes.w AS word,
           CAST(COALESCE((SELECT SUM(e.wt) FROM e WHERE e.u = nodes.w), 0)
                AS BIGINT) AS strength,
           t{k_iters}.s AS score_ppm
    FROM nodes JOIN t{k_iters} ON t{k_iters}.w = nodes.w
    """


@query("textrank_keywords", oracle=_textrank_oracle(10))
def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scoring: PageRank (damping 0.85, 10 fixed
    iterations) over the word co-occurrence graph of the corpus — the
    30 most frequent words of length >= 4 are nodes, weighted edges
    connect words ADJACENT in the token stream (both directions), and
    the stationary importance score surfaces the words that sit in
    many well-connected contexts rather than merely occurring often
    (the keyword-extraction counterpart of `rake_keyphrases`' degree
    heuristic, and the text twin of `pagerank_trade_graph`).

    Determinism: the iteration runs ENTIRELY in integer ppm units
    with floor division — s' = 150000 + (850 * sum((wt * s) // outstr))
    // 1000 — identical on both engines, no float tolerance; node and
    edge selection use count-then-word orderings.

    Scale shape: tokenize + bigram window + two aggs collapse the
    corpus to a <=30-node closure; the 10 iterations run in one
    applyInPandas call on that closure (same contract as
    `value_iteration_event_mdp`); at web scale the SAME recurrence
    runs as iterated joins exactly like `pagerank_trade_graph`.
    """
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.trim("text")), r"\s+")
        ).alias("pos", "w"),
    )
    uc = (
        toks.filter(F.length("w") >= 4)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    nodes = (
        uc.orderBy(F.desc("c"), "w").limit(30).select("w")
    )
    nodes = _ckpt(nodes)  # shared fan-out relation
    wseq = Window.partitionBy("doc_id").orderBy("pos")
    bi = toks.select(
        F.lag("w").over(wseq).alias("a"), F.col("w").alias("b")
    ).filter(F.col("a").isNotNull() & (F.col("a") != F.col("b")))
    und = bi.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        bi.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    e0 = (
        und.join(F.broadcast(nodes.select(F.col("w").alias("u"))), "u")
        .join(F.broadcast(nodes.select(F.col("w").alias("v"))), "v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("wt"))
    )
    e = e0.withColumn(
        "outstr", F.sum("wt").over(Window.partitionBy("u")).cast("long")
    )
    closure = nodes.join(
        e.select(F.col("v").alias("w"), "u", "wt", "outstr"), "w", "left"
    ).withColumn("g", F.lit(1))

    def textrank(pdf: pd.DataFrame) -> pd.DataFrame:
        states = sorted(set(pdf["w"]))
        incoming = {}
        strength = {s: 0 for s in states}
        for _, row in pdf.iterrows():
            if row["u"] is None or (
                isinstance(row["u"], float) and pd.isna(row["u"])
            ):
                continue
            incoming.setdefault(row["w"], []).append(
                (row["u"], int(row["wt"]), int(row["outstr"]))
            )
            strength[row["w"]] += int(row["wt"])
        s = {w: 1000000 for w in states}
        for _ in range(10):
            s = {
                w: 150000
                + (
                    850
                    * sum(
                        (wt * s[u]) // outstr
                        for (u, wt, outstr) in incoming.get(w, [])
                    )
                )
                // 1000
                for w in states
            }
        return pd.DataFrame(
            {
                "word": states,
                "strength": [strength[w] for w in states],
                "score_ppm": [s[w] for w in states],
            }
        )

    return closure.groupBy("g").applyInPandas(
        textrank, schema="word string, strength long, score_ppm long"
    )


@query(
    "longest_common_substring_pairs",
    bench=True,
    oracle="""
    WITH d AS (
        SELECT doc_id, substring(trim(text), 1, 150) AS t,
               CAST(length(substring(trim(text), 1, 150)) AS BIGINT) AS n
        FROM documents WHERE doc_id % 25 = 0 AND length(trim(text)) > 0
    ), pairs AS (
        SELECT a.doc_id AS ida, b.doc_id AS idb
        FROM d a JOIN d b ON b.doc_id = a.doc_id + 25
    ), subs AS (
        SELECT doc_id, ln AS len, sub
        FROM (
            SELECT d.doc_id,
                   CAST(g.st AS BIGINT) AS st,
                   CAST(h.ln AS BIGINT) AS ln,
                   substring(d.t, CAST(g.st AS INT), CAST(h.ln AS INT))
                       AS sub
            FROM d,
                 LATERAL (SELECT unnest(generate_series(1, CAST(d.n AS INT)))
                              AS st) g,
                 LATERAL (SELECT unnest(generate_series(
                              1, CAST(d.n AS INT) - g.st + 1)) AS ln) h
        ) t
        GROUP BY 1, 2, 3
    ), shared AS (
        SELECT p.ida, p.idb, sa.len, sa.sub
        FROM pairs p
        JOIN subs sa ON sa.doc_id = p.ida
        JOIN subs sb ON sb.doc_id = p.idb
            AND sb.len = sa.len AND sb.sub = sa.sub
    ), best AS (
        SELECT ida, idb, MAX(len) AS lcs_len FROM shared GROUP BY 1, 2
    )
    SELECT b.ida AS doc_a, b.idb AS doc_b, b.lcs_len,
           MIN(s.sub) AS lcs_min
    FROM best b
    JOIN shared s ON s.ida = b.ida AND s.idb = b.idb
        AND s.len = b.lcs_len
    GROUP BY 1, 2, 3
    """,
)
def longest_common_substring_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact longest common substring between consecutive sampled
    document pairs (150-char prefixes): every substring of each side
    is enumerated and the pair's maximum shared length (plus the
    lexicographically smallest witness) is reported — the
    contiguous-overlap sibling of `decontaminate_ngram_overlap`
    (token n-gram sets) and `source_shingle_overlap`: LCS catches
    verbatim COPIED SPANS that shingle-set Jaccard dilutes, the
    signal used for quote/plagiarism detection and split-leakage
    audits on contiguous text.

    Determinism: pure string equality on exact prefixes; witness ties
    break lexicographically.

    Scale shape: the ENGINE runs the suffix-ordering algorithm — all
    suffixes of a pair sorted together, cross-doc ADJACENT pairs'
    longest common prefixes taken via a length ladder; the classic
    lemma (max cross-doc LCP is achieved by an adjacent pair, and
    every maximal shared substring heads some adjacent cross pair)
    makes it value-identical to the oracle's O(n^2)-per-doc
    enumerate-all-substrings SPEC while shuffling O(n log n) strings
    per pair (measured 1.8x faster at sf0.1; the gap widens with n).
    """
    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select("doc_id", F.substring(F.trim("text"), 1, 150).alias("t"))
        .filter(F.length("t") > 0)
        .select("doc_id", "t", F.length("t").cast("long").alias("n"))
    )
    # ckpt the sampled pair relation (tiny: |docs|/25 rows of 150-char
    # prefixes): both suffix sides and the witness stages read it —
    # without materialization each branch re-ran the doc scan + self-join
    pairs = (
        d.select(F.col("doc_id").alias("ida"), F.col("t").alias("ta"))
        .join(
            d.select(
                (F.col("doc_id") - 25).alias("ida"),
                F.col("doc_id").alias("idb"),
                F.col("t").alias("tb"),
            ),
            "ida",
        )
        .transform(_ckpt)
    )
    # suffix-array formulation: the LCS of two strings equals the max
    # LCP of ADJACENT suffixes from different docs in the merged
    # suffix ordering — O(n log n) strings per pair instead of the
    # O(n^2) substring multiset the oracle enumerates as the spec
    suf_a = pairs.select(
        "ida",
        "idb",
        F.lit(0).alias("side"),
        F.expr(
            "explode(transform(sequence(1, length(ta)),"
            " i -> substring(ta, CAST(i AS INT))))"
        ).alias("suf"),
    )
    suf_b = pairs.select(
        "ida",
        "idb",
        F.lit(1).alias("side"),
        F.expr(
            "explode(transform(sequence(1, length(tb)),"
            " i -> substring(tb, CAST(i AS INT))))"
        ).alias("suf"),
    )
    sufs = suf_a.unionByName(suf_b)
    wpair = Window.partitionBy("ida", "idb").orderBy("suf", "side")
    adj = sufs.select(
        "ida",
        "idb",
        "side",
        "suf",
        F.lead("suf").over(wpair).alias("nsuf"),
        F.lead("side").over(wpair).alias("nside"),
    ).filter(
        F.col("nsuf").isNotNull() & (F.col("side") != F.col("nside"))
    )
    # LCP of each cross-doc adjacent pair via a length ladder
    lcp = (
        adj.select(
            "ida",
            "idb",
            "suf",
            "nsuf",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.length("suf"), F.length("nsuf")),
                )
            ).alias("l"),
        )
        .filter(
            F.expr("substring(suf, 1, CAST(l AS INT))")
            == F.expr("substring(nsuf, 1, CAST(l AS INT))")
        )
        .select(
            "ida",
            "idb",
            "l",
            F.expr("substring(suf, 1, CAST(l AS INT))").alias("sub"),
        )
    )
    # one pass over the ladder: min(struct(-l, sub)) IS (max length,
    # then lexicographically smallest witness) — the previous
    # max-then-rejoin shape re-executed the whole suffix window +
    # ladder explode for the witness lookup
    return (
        lcp.groupBy("ida", "idb")
        .agg(
            F.min(
                F.struct((-F.col("l")).alias("nl"), F.col("sub").alias("sub"))
            ).alias("m")
        )
        .select(
            F.col("ida").alias("doc_a"),
            F.col("idb").alias("doc_b"),
            (-F.col("m.nl")).alias("lcs_len"),
            F.col("m.sub").alias("lcs_min"),
        )
    )


@query(
    "point_in_polygon_census",
    oracle="""
    WITH supp AS (
        SELECT s.s_suppkey,
               (s.s_suppkey * 6271)  % 100000 AS x,
               (s.s_suppkey * 31337) % 100000 AS y,
               n.n_regionkey AS rk
        FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    ), cent AS (
        SELECT rk,
               CAST(SUM(x) // COUNT(*) AS BIGINT) AS cx,
               CAST(SUM(y) // COUNT(*) AS BIGINT) AS cy
        FROM supp GROUP BY 1
    ), g AS (
        SELECT CAST(SUM(cx) // COUNT(*) AS BIGINT) AS gx,
               CAST(SUM(cy) // COUNT(*) AS BIGINT) AS gy
        FROM cent
    ), poly AS (
        SELECT cx, cy,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY atan2(CAST(cy - gy AS DOUBLE),
                                  CAST(cx - gx AS DOUBLE)), rk)
                   AS BIGINT) AS vid,
               CAST(COUNT(*) OVER () AS BIGINT) AS nv
        FROM cent, g
    ), edges AS (
        SELECT a.cx AS x1, a.cy AS y1, b.cx AS x2, b.cy AS y2
        FROM poly a
        JOIN poly b ON b.vid = (a.vid % a.nv) + 1
    ), cust AS (
        SELECT c_custkey, c_nationkey,
               (c_custkey * 7919)   % 100000 AS px,
               (c_custkey * 104729) % 100000 AS py
        FROM customer
    ), crossings AS (
        SELECT c.c_custkey, c.c_nationkey,
               CAST(SUM(CASE
                   WHEN e.y1 <= c.py AND e.y2 > c.py
                        AND (c.px - e.x1) * (e.y2 - e.y1)
                            < (e.x2 - e.x1) * (c.py - e.y1)
                   THEN 1
                   WHEN e.y2 <= c.py AND e.y1 > c.py
                        AND (c.px - e.x1) * (e.y2 - e.y1)
                            > (e.x2 - e.x1) * (c.py - e.y1)
                   THEN 1 ELSE 0 END) AS BIGINT) AS k
        FROM cust c CROSS JOIN edges e
        GROUP BY 1, 2
    )
    SELECT c_nationkey AS nation_key,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(k % 2) AS BIGINT) AS n_inside,
           CAST(ROUND(1000000.0 * SUM(k % 2) / COUNT(*)) AS BIGINT)
               AS inside_ppm
    FROM crossings
    GROUP BY 1
    """,
)
def point_in_polygon_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon census by exact integer ray casting: the five
    region supplier centroids (angle-ordered around their common
    center) form a pentagon on the synthetic 100x100 km plane of
    `spatial_proximity_pairs`, and each customer point is classified
    by crossing parity of a rightward ray — the fundamental
    geo-fencing primitive (zone membership, service-area rollups)
    that the radius joins (`spatial_proximity_pairs`,
    `haversine_hub_assignment`) cannot express for polygonal zones.

    Determinism: the edge-crossing test is rearranged to an exact
    BIGINT cross-product comparison (no division), with the half-open
    [y1, y2) rule so vertex-level ray grazes count exactly once; the
    only float is the atan2 vertex ordering, computed from identical
    integer differences on both engines.

    Scale shape: the polygon is a 5-row closure (two tiny aggs);
    classification is a broadcast nested-loop of every point against
    5 edges — map-side, no shuffle before the final nation rollup. A
    many-vertex polygon would swap in an interval index on the edge
    y-spans; the parity predicate is unchanged.
    """
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    supp = s.join(
        F.broadcast(
            n.select(F.col("n_nationkey").alias("s_nationkey"), "n_regionkey")
        ),
        "s_nationkey",
    ).select(
        F.col("n_regionkey").alias("rk"),
        ((F.col("s_suppkey") * 6271) % 100000).alias("x"),
        ((F.col("s_suppkey") * 31337) % 100000).alias("y"),
    )
    cent = supp.groupBy("rk").agg(
        F.expr("SUM(x) DIV COUNT(*)").cast("long").alias("cx"),
        F.expr("SUM(y) DIV COUNT(*)").cast("long").alias("cy"),
    )
    cent = _ckpt(cent)  # shared fan-out relation
    g = cent.agg(
        F.expr("SUM(cx) DIV COUNT(*)").cast("long").alias("gx"),
        F.expr("SUM(cy) DIV COUNT(*)").cast("long").alias("gy"),
    )
    poly = (
        cent.crossJoin(F.broadcast(g))
        .select(
            "cx",
            "cy",
            F.row_number()
            .over(
                Window.orderBy(
                    F.atan2(
                        (F.col("cy") - F.col("gy")).cast("double"),
                        (F.col("cx") - F.col("gx")).cast("double"),
                    ),
                    "rk",
                )
            )
            .cast("long")
            .alias("vid"),
        )
        .withColumn(
            "nv", F.count(F.lit(1)).over(Window.partitionBy()).cast("long")
        )
    )
    edges = (
        poly.alias("a")
        .join(
            poly.alias("b"),
            F.col("b.vid") == (F.col("a.vid") % F.col("a.nv")) + 1,
        )
        .select(
            F.col("a.cx").alias("x1"),
            F.col("a.cy").alias("y1"),
            F.col("b.cx").alias("x2"),
            F.col("b.cy").alias("y2"),
        )
    )
    cust = c.select(
        "c_custkey",
        "c_nationkey",
        ((F.col("c_custkey") * 7919) % 100000).alias("px"),
        ((F.col("c_custkey") * 104729) % 100000).alias("py"),
    )
    lhs = (F.col("px") - F.col("x1")) * (F.col("y2") - F.col("y1"))
    rhs = (F.col("x2") - F.col("x1")) * (F.col("py") - F.col("y1"))
    crossing = F.when(
        (F.col("y1") <= F.col("py")) & (F.col("y2") > F.col("py")) & (lhs < rhs),
        1,
    ).when(
        (F.col("y2") <= F.col("py")) & (F.col("y1") > F.col("py")) & (lhs > rhs),
        1,
    ).otherwise(0)
    crossings = (
        cust.crossJoin(F.broadcast(edges))
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.sum(crossing).cast("long").alias("k"))
    )
    return crossings.groupBy(
        F.col("c_nationkey").alias("nation_key")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.col("k") % 2).cast("long").alias("n_inside"),
        F.round(
            1000000.0 * F.sum(F.col("k") % 2) / F.count(F.lit(1))
        )
        .cast("long")
        .alias("inside_ppm"),
    )


@query("lis_patience_daily")
def lis_patience_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest strictly-increasing subsequence of the global daily
    revenue-cents series via patience sorting, SELF-CERTIFYING by
    Dilworth duality: each day is returned with its pile id and a
    witness flag, where (a) the flagged days form a strictly
    increasing subsequence of length L and (b) the piles partition
    the series into exactly L non-increasing subsequences — any
    increasing subsequence can use at most one element per pile, so
    the cover PROVES no longer subsequence exists. The
    longest-run-structure complement of `mann_kendall_trend`
    (monotonicity on average) and `running_record_rate` (record
    highs): LIS measures the deepest sortedness skeleton. Rows-only
    by design (patience piles are not oracle-expressible SQL); the
    invariant test re-verifies both certificate halves.

    Determinism: exact integer cents; leftmost-eligible pile rule and
    backpointer-to-current-top-of-previous-pile make the witness
    unique.

    Scale shape: the daily agg is the data-volume stage; the O(n log n)
    patience scan runs in one applyInPandas call on the day-series
    closure — per-series at scale (partition by series key), exactly
    like `kalman_local_level_daily`.
    """
    import bisect

    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100).cast("long").alias("cents")
    ).withColumn("g", F.lit(1))

    def patience(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("day").reset_index(drop=True)
        vals = pdf["cents"].astype("int64").tolist()
        tops: list[int] = []  # current top value per pile
        pile_of: list[int] = []
        back: list[int] = []  # index of top of previous pile at placement
        top_idx: list[int] = []  # index of current top per pile
        for i, v in enumerate(vals):
            # leftmost pile whose top >= v (strict LIS)
            j = bisect.bisect_left(tops, v)
            if j == len(tops):
                tops.append(v)
                top_idx.append(i)
            else:
                tops[j] = v
                top_idx[j] = i
            pile_of.append(j)
            back.append(top_idx[j - 1] if j > 0 else -1)
        # walk back from the top of the last pile
        witness = set()
        i = top_idx[len(tops) - 1]
        while i != -1:
            witness.add(i)
            i = back[i]
        return pd.DataFrame(
            {
                "day": pdf["day"],
                "cents": vals,
                "pile_id": [p + 1 for p in pile_of],
                "in_witness": [i in witness for i in range(len(vals))],
                "lis_len": [len(tops)] * len(vals),
            }
        )

    return daily.groupBy("g").applyInPandas(
        patience,
        schema=(
            "day date, cents long, pile_id long, in_witness boolean, "
            "lis_len long"
        ),
    )


@query(
    "weighted_interval_scheduling",
    oracle="""
    WITH RECURSIVE iv0 AS (
        SELECT o_custkey AS cust,
               CAST(datediff('day', DATE '1990-01-01', o_orderdate)
                    AS BIGINT) AS s,
               CAST(datediff('day', DATE '1990-01-01', o_orderdate)
                    + 1 + (o_orderkey % 30) AS BIGINT) AS e,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS w,
               o_orderkey
        FROM orders
    ), iv1 AS (
        SELECT cust, s, e, w,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY cust ORDER BY e, s, o_orderkey) AS BIGINT)
                   AS rn
        FROM iv0
    ), iv AS MATERIALIZED (
        SELECT a.cust, a.rn, a.w,
               CAST(COALESCE(MAX(b.rn), 0) AS BIGINT) AS p
        FROM iv1 a LEFT JOIN iv1 b
            ON b.cust = a.cust AND b.e <= a.s
        GROUP BY 1, 2, 3
    ), nk AS MATERIALIZED (
        SELECT cust, CAST(COUNT(*) AS BIGINT) AS k FROM iv GROUP BY 1
    ), it(cust, i, ms) AS (
        SELECT cust, CAST(0 AS BIGINT), [CAST(0 AS BIGINT)] FROM nk
        UNION ALL
        SELECT it.cust, it.i + 1,
               list_append(it.ms,
                   GREATEST(it.ms[CAST(it.i + 1 AS INT)],
                            iv.w + it.ms[CAST(iv.p + 1 AS INT)]))
        FROM it JOIN iv ON iv.cust = it.cust AND iv.rn = it.i + 1
    )
    SELECT it.cust AS customer_key, nk.k AS n_intervals,
           it.ms[CAST(nk.k + 1 AS INT)] AS best_cents
    FROM it JOIN nk ON nk.cust = it.cust
    WHERE it.i = nk.k
    """,
)
def weighted_interval_scheduling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted interval scheduling per customer: each order spans a
    deterministic interval (orderdate, plus 1 + orderkey mod 30 days)
    carrying its cent value as weight, and the classic DP — sort by
    end time, p(i) = last compatible predecessor, M(i) = max(M(i-1),
    w_i + M(p(i))) — returns the maximum-value NON-OVERLAPPING subset
    per customer. The optimal counterpart of the greedy
    `edd_wspt_schedule_audit` family and the scheduling sibling of
    `fractional_knapsack_procurement` (which may split items;
    intervals cannot overlap). Half-open compatibility: a next
    interval may start the day a previous one ends.

    Determinism: integer day/cent arithmetic end-to-end; interval
    ranks tie-break on (end, start, orderkey); the oracle replays the
    identical DP as a recursive CTE whose state carries the full M
    prefix as a LIST column — a nontrivial declarative encoding of a
    random-access DP.

    Scale shape: per-customer DP — rank window + predecessor range
    join (bounded by per-key interval count) + one applyInPandas scan
    per key, parallel across the million-customer dimension; nothing
    global except the fact scan.
    """
    import pandas as pd

    o = load_table(spark, sf_dir, "orders")
    iv0 = o.select(
        F.col("o_custkey").alias("cust"),
        F.datediff(
            "o_orderdate", F.lit("1990-01-01").cast("date")
        )
        .cast("long")
        .alias("s"),
        (
            F.datediff("o_orderdate", F.lit("1990-01-01").cast("date"))
            + 1
            + (F.col("o_orderkey") % 30)
        )
        .cast("long")
        .alias("e"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("w"),
        "o_orderkey",
    )
    iv1 = iv0.select(
        "cust",
        "s",
        "e",
        "w",
        F.row_number()
        .over(Window.partitionBy("cust").orderBy("e", "s", "o_orderkey"))
        .cast("long")
        .alias("rn"),
    )
    a, b = iv1.alias("a"), iv1.alias("b")
    iv = (
        a.join(
            b,
            (F.col("b.cust") == F.col("a.cust"))
            & (F.col("b.e") <= F.col("a.s")),
            "left",
        )
        .groupBy(
            F.col("a.cust").alias("cust"),
            F.col("a.rn").alias("rn"),
            F.col("a.w").alias("w"),
        )
        .agg(F.coalesce(F.max("b.rn"), F.lit(0)).cast("long").alias("p"))
    )

    def dp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn")
        m = [0]
        for _, row in pdf.iterrows():
            m.append(max(m[-1], int(row["w"]) + m[int(row["p"])]))
        return pd.DataFrame(
            {
                "customer_key": [int(pdf["cust"].iloc[0])],
                "n_intervals": [len(pdf)],
                "best_cents": [m[-1]],
            }
        )

    return iv.groupBy("cust").applyInPandas(
        dp, schema="customer_key long, n_intervals long, best_cents long"
    )


@query(
    "knapsack_01_by_brand",
    oracle="""
    WITH RECURSIVE items AS (
        SELECT p_brand AS brand,
               CAST(p_size AS BIGINT) AS sz,
               CAST(ROUND(p_retailprice * 100) AS BIGINT) AS v,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY p_brand
                   ORDER BY p_partkey) AS BIGINT) AS rn
        FROM part
    ), nk AS MATERIALIZED (
        SELECT brand, CAST(COUNT(*) AS BIGINT) AS k FROM items GROUP BY 1
    ), it(brand, i, ms) AS (
        SELECT brand, CAST(0 AS BIGINT),
               list_transform(range(0, 101), c -> CAST(0 AS BIGINT))
        FROM nk
        UNION ALL
        SELECT it.brand, it.i + 1,
               list_transform(range(0, 101), c ->
                   CASE WHEN c >= items.sz
                        THEN GREATEST(it.ms[CAST(c + 1 AS INT)],
                                      items.v
                                      + it.ms[CAST(c - items.sz + 1 AS INT)])
                        ELSE it.ms[CAST(c + 1 AS INT)] END)
        FROM it JOIN items
            ON items.brand = it.brand AND items.rn = it.i + 1
    )
    SELECT it.brand, nk.k AS n_items,
           CAST(it.ms[101] AS BIGINT) AS best_value_cents,
           CAST(it.ms[51] AS BIGINT) AS best_value_cents_cap50
    FROM it JOIN nk ON nk.brand = it.brand
    WHERE it.i = nk.k
    """,
)
def knapsack_01_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """0/1 knapsack per brand: choose a subset of the brand's parts
    maximizing total retail value under a size budget of 100 (and,
    from the same DP table, the value at budget 50) — the
    pseudo-polynomial capacity DP M'[c] = max(M[c], v + M[c-size]),
    the INDIVISIBLE-item counterpart of
    `fractional_knapsack_procurement` (whose greedy bound it can
    never exceed — pinned in the invariant test). Procurement under a
    container/weight budget is the canonical instance.

    Determinism: exact integer sizes and cent values; items enter the
    DP in p_partkey order (the optimum is order-invariant; the order
    only fixes the oracle replay).

    Scale shape: per-brand DP over a 101-slot integer array — one
    partitioned rank window, then one applyInPandas scan per brand
    (the array is the per-key state, like the M-prefix of
    `weighted_interval_scheduling`); the oracle carries the SAME
    array through a recursive CTE via list_transform. Parallel across
    brands; capacity is a constant, so state never grows with data.
    """
    import pandas as pd

    p = load_table(spark, sf_dir, "part")
    items = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").cast("long").alias("sz"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("v"),
        F.row_number()
        .over(Window.partitionBy("p_brand").orderBy("p_partkey"))
        .cast("long")
        .alias("rn"),
    )

    def dp(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("rn")
        m = [0] * 101
        for _, row in pdf.iterrows():
            sz, v = int(row["sz"]), int(row["v"])
            for c in range(100, sz - 1, -1):
                cand = v + m[c - sz]
                if cand > m[c]:
                    m[c] = cand
        return pd.DataFrame(
            {
                "brand": [pdf["brand"].iloc[0]],
                "n_items": [len(pdf)],
                "best_value_cents": [m[100]],
                "best_value_cents_cap50": [m[50]],
            }
        )

    return items.groupBy("brand").applyInPandas(
        dp,
        schema=(
            "brand string, n_items long, best_value_cents long, "
            "best_value_cents_cap50 long"
        ),
    )


@query(
    "bwt_rle_compressibility",
    oracle="""
    WITH d AS (
        SELECT doc_id, substring(trim(text), 1, 100) AS t,
               CAST(length(substring(trim(text), 1, 100)) AS BIGINT) AS n
        FROM documents WHERE doc_id % 25 = 0
          AND length(trim(text)) >= 10
    ), rot AS (
        SELECT d.doc_id, g.i,
               substring(d.t, CAST(g.i + 1 AS INT))
                   || substring(d.t, 1, CAST(g.i AS INT)) AS r
        FROM d, LATERAL (SELECT unnest(generate_series(
                             0, CAST(d.n - 1 AS INT))) AS i) g
    ), bwt AS (
        SELECT doc_id,
               string_agg(substring(r, CAST(n AS INT), 1), ''
                          ORDER BY r, i) AS b
        FROM rot JOIN d USING (doc_id)
        GROUP BY doc_id
    ), runs AS (
        SELECT d.doc_id, d.n,
               CAST(d.n - SUM(CASE WHEN substring(d.t, CAST(g.i AS INT), 1)
                             = substring(d.t, CAST(g.i + 1 AS INT), 1)
                        THEN 1 ELSE 0 END) AS BIGINT) AS runs_orig,
               CAST(d.n - SUM(CASE WHEN substring(bwt.b, CAST(g.i AS INT), 1)
                             = substring(bwt.b, CAST(g.i + 1 AS INT), 1)
                        THEN 1 ELSE 0 END) AS BIGINT) AS runs_bwt
        FROM d JOIN bwt USING (doc_id),
             LATERAL (SELECT unnest(generate_series(
                          1, CAST(d.n - 1 AS INT))) AS i) g
        GROUP BY 1, 2
    )
    SELECT doc_id, n AS n_chars, runs_orig, runs_bwt,
           CAST(ROUND(1000000.0 * runs_bwt / runs_orig) AS BIGINT)
               AS bwt_run_ratio_ppm
    FROM runs
    """,
)
def bwt_rle_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows-Wheeler transform run-length audit on sampled document
    prefixes: all n rotations of each 100-char prefix are sorted
    (rotation then offset tie-break, no sentinel — we measure
    clustering, not invert) and the BWT column's RUN COUNT is
    compared with the original text's — BWT groups same-context
    characters, so runs_bwt / runs_orig below 1 quantifies the gain
    bzip2-style compressors get BEFORE entropy coding. Completes the
    compressibility family: `char_entropy_compressibility` (order-0
    floor), `lz76_complexity_docs` (copy structure), BWT (context
    clustering).

    Determinism: pure string sorting and integer run counts;
    identical rotation enumeration on both engines.

    Scale shape: rotation enumeration is O(n^2) chars per doc by
    design at audit scale (the 100-TB path is a suffix-array BWT,
    same output) — per-doc independent, map-side except the per-doc
    ordered string_agg; run counting is one more map-side explode.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select("doc_id", F.substring(F.trim("text"), 1, 100).alias("t"))
        .filter(F.length("t") >= 10)
        .select("doc_id", "t", F.length("t").cast("long").alias("n"))
    )
    rot = d.select(
        "doc_id",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("i"),
        "t",
    ).select(
        "doc_id",
        "n",
        "i",
        F.concat(
            F.expr("substring(t, CAST(i + 1 AS INT))"),
            F.expr("substring(t, 1, CAST(i AS INT))"),
        ).alias("r"),
    )
    bwt = (
        rot.withColumn(
            "last_ch", F.expr("substring(r, CAST(n AS INT), 1)")
        )
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "",
                F.array_sort(
                    F.collect_list(F.struct("r", "i", "last_ch"))
                ).getField("last_ch"),
            ).alias("b")
        )
    )
    seq = d.join(bwt, "doc_id").select(
        "doc_id",
        "n",
        "t",
        "b",
        F.explode(F.sequence(F.lit(1), F.col("n") - 1)).alias("i"),
    )
    same = lambda col: F.when(  # noqa: E731
        F.expr(f"substring({col}, CAST(i AS INT), 1)")
        == F.expr(f"substring({col}, CAST(i + 1 AS INT), 1)"),
        1,
    ).otherwise(0)
    return (
        seq.groupBy("doc_id", "n")
        .agg(
            (F.col("n") - F.sum(same("t"))).cast("long").alias("runs_orig"),
            (F.col("n") - F.sum(same("b"))).cast("long").alias("runs_bwt"),
        )
        .select(
            "doc_id",
            F.col("n").alias("n_chars"),
            "runs_orig",
            "runs_bwt",
            F.round(1000000.0 * F.col("runs_bwt") / F.col("runs_orig"))
            .cast("long")
            .alias("bwt_run_ratio_ppm"),
        )
    )


@query(
    "scc_trade_graph",
    oracle="""
    WITH RECURSIVE flows AS (
        SELECT s.s_nationkey AS u, c.c_nationkey AS v,
               CAST(SUM(ROUND(l.l_extendedprice * 100)) AS BIGINT) AS cap
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE s.s_nationkey <> c.c_nationkey
        GROUP BY 1, 2
    ), ee AS MATERIALIZED (
        SELECT u, v FROM (
            SELECT u, v,
                   ROW_NUMBER() OVER (ORDER BY cap DESC, u, v) AS rn
            FROM flows) t
        WHERE rn <= 180
    ), reach(u, v) AS (
        SELECT u, v FROM ee
        UNION
        SELECT r.u, ee.v FROM reach r JOIN ee ON ee.u = r.v
    ), nodes AS (
        SELECT DISTINCT u AS n FROM ee
        UNION SELECT DISTINCT v FROM ee
    ), mutual AS (
        SELECT n1.n AS a, n2.n AS b
        FROM nodes n1, nodes n2
        WHERE n1.n = n2.n
           OR (EXISTS (SELECT 1 FROM reach
                       WHERE u = n1.n AND v = n2.n)
               AND EXISTS (SELECT 1 FROM reach
                           WHERE u = n2.n AND v = n1.n))
    ), lbl AS (
        SELECT a AS node, CAST(MIN(b) AS BIGINT) AS scc
        FROM mutual GROUP BY 1
    )
    SELECT CAST(node AS BIGINT) AS nation_key, scc,
           CAST(COUNT(*) OVER (PARTITION BY scc) AS BIGINT) AS scc_size
    FROM lbl
    """,
)
def scc_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the DIRECTED nation trade
    graph (top-180 edges by revenue — exact count-based selection, so
    the graph is equally sparse at every scale factor): nations in
    one SCC trade with each other through directed cycles (money can
    round-trip), while the condensation DAG order is the upstream/
    downstream structure. The directed completion of the component
    family — `dedup_components` / `dedup_components_star` are
    UNDIRECTED reachability; SCC needs MUTUAL reachability, which
    label propagation alone cannot express.

    Determinism: integer capacities with (cap DESC, u, v) edge
    ranking; SCC labels are min-member ids.

    Scale shape: the engine computes reachability by ITERATED
    SQUARING of the relation (5 doubling rounds reach 2^5 hops, each
    one self-join + distinct, lineage checkpointed) — O(log diameter)
    rounds vs label propagation's O(diameter); mutual-reach labels
    then come from one join of the closure with its transpose. The
    closure is quadratic in the NODE count, which the top-K edge
    policy bounds; planetary graphs would swap in forward-backward
    reach from pivot nodes (same mutual-reach rule).
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    flows = (
        l.join(
            F.broadcast(
                s.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")
            ),
            "l_suppkey",
        )
        .join(
            o.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
            "l_orderkey",
        )
        .join(
            F.broadcast(
                c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").cast("long").alias("u"),
            F.col("c_nationkey").cast("long").alias("v"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cap")
        )
    )
    ee = (
        flows.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.desc("cap"), "u", "v")),
        )
        .filter(F.col("rn") <= 180)
        .select("u", "v")
        .transform(_ckpt)
    )
    reach = ee
    for _ in range(5):  # doubling: paths up to 2^5 = 32 hops
        hop = (
            reach.alias("x")
            .join(
                reach.alias("y"), F.col("x.v") == F.col("y.u")
            )
            .select(F.col("x.u").alias("u"), F.col("y.v").alias("v"))
        )
        reach = reach.unionByName(hop).distinct().transform(_ckpt)
    nodes = (
        ee.select(F.col("u").alias("n"))
        .unionByName(ee.select(F.col("v").alias("n")))
        .distinct()
    )
    fwd = reach.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bwd = reach.select(F.col("v").alias("a"), F.col("u").alias("b"))
    mutual = (
        fwd.join(bwd, ["a", "b"])
        .unionByName(nodes.select(F.col("n").alias("a"), F.col("n").alias("b")))
        .distinct()
    )
    lbl = mutual.groupBy(F.col("a").alias("node")).agg(
        F.min("b").cast("long").alias("scc")
    )
    return lbl.select(
        F.col("node").cast("long").alias("nation_key"),
        "scc",
        F.count(F.lit(1))
        .over(Window.partitionBy("scc"))
        .cast("long")
        .alias("scc_size"),
    )


@query(
    "welch_psd_hourly",
    oracle="""
    WITH hrs AS (
        SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), bounds AS (
        SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hrs
    ), spine AS (
        SELECT g.h, CAST(ROW_NUMBER() OVER (ORDER BY g.h) - 1 AS BIGINT)
                   AS i
        FROM (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
              FROM bounds) g
    ), grid AS (
        SELECT spine.i, COALESCE(hrs.x, 0) AS x
        FROM spine LEFT JOIN hrs ON hrs.h = spine.h
    ), nseg AS (
        SELECT CAST((MAX(i) + 1 - 64) // 32 AS BIGINT) AS smax FROM grid
    ), segs AS (
        SELECT CAST(unnest(generate_series(0, CAST(smax AS INT))) AS BIGINT)
                   AS s
        FROM nseg
    ), pos AS (
        SELECT segs.s, CAST(g.t AS BIGINT) AS t
        FROM segs, LATERAL (SELECT unnest(generate_series(0, 63)) AS t) g
    ), win AS (
        SELECT s, t, 0.5 - 0.5 * cos(2 * pi() * t / 64.0) AS w
        FROM pos
    ), u AS (
        SELECT SUM(w * w) AS uw FROM win WHERE s = 0
    ), spec AS (
        SELECT k.k, win.s,
               SUM(win.w * grid.x
                   * cos(2 * pi() * k.k * win.t / 64.0)) AS re,
               SUM(win.w * grid.x
                   * sin(2 * pi() * k.k * win.t / 64.0)) AS im
        FROM win
        JOIN grid ON grid.i = win.s * 32 + win.t
        CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS k) k
        GROUP BY 1, 2
    )
    SELECT CAST(spec.k AS BIGINT) AS k,
           ROUND(24.0 * spec.k / 64.0, 6) AS cycles_per_day,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           ROUND(AVG((re * re + im * im) / u.uw), 4) AS psd
    FROM spec, u
    GROUP BY spec.k, u.uw
    """,
)
def welch_psd_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch power spectral density of the hourly event-count series:
    the zero-filled hour grid is cut into 64-hour segments with 50%
    overlap, Hann-windowed (periodic, 0.5 - 0.5 cos(2 pi t/64)), each
    segment's periodogram taken at harmonics k = 1..8 (k = 8/3 would
    be daily; bins straddle it), and the segment average reported —
    overlap-averaging trades frequency resolution for VARIANCE
    reduction, which is why Welch is the production spectrum
    estimator over the raw periodogram. Completes the spectral
    family: `goertzel_periodogram_daily` (single-bin exact),
    `lomb_scargle_events` (irregular sampling), `spectral_entropy_
    daily` (whole-spectrum summary), Welch (windowed averaging).

    Determinism: integer counts on an exact hour spine; both engines
    evaluate the same trig expressions on the same integer arguments
    (1-ulp libm noise sits ~12 digits below the rounding grid) and
    round once.

    Scale shape: hour agg + spine zero-fill, then the segment/window
    expansion is a constant 21x64x8 relation joined to the grid by
    slot equality — one shuffle to the (k, s) agg; years of data only
    lengthen the segment spine linearly. An FFT beats the direct DFT
    only above ~10^3 bins; at 8 bins the direct form IS the fast one.
    """
    ev = load_table(spark, sf_dir, "events")
    hrs = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    hrs = _ckpt(hrs)  # shared fan-out relation
    bounds = hrs.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (
        bounds.select(
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("h")
        )
        .select(
            "h",
            (F.row_number().over(Window.orderBy("h")) - 1)
            .cast("long")
            .alias("i"),
        )
    )
    grid = spine.join(hrs, "h", "left").select(
        "i", F.coalesce("x", F.lit(0)).alias("x")
    )
    nseg = grid.agg(
        F.expr("CAST((MAX(i) + 1 - 64) DIV 32 AS BIGINT)").alias("smax")
    )
    segs = nseg.select(
        F.explode(F.sequence(F.lit(0), F.col("smax"))).alias("s")
    )
    pos = segs.select(
        "s", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("t")
    )
    win = pos.select(
        "s",
        "t",
        (0.5 - 0.5 * F.cos(2 * 3.141592653589793 * F.col("t") / 64.0)).alias(
            "w"
        ),
    )
    u = win.filter(F.col("s") == 0).agg(
        F.sum(F.col("w") * F.col("w")).alias("uw")
    )
    ks = spark.range(1, 9).select(F.col("id").cast("long").alias("k"))
    ang = 2 * 3.141592653589793 * F.col("k") * F.col("t") / 64.0
    spec = (
        win.join(grid, F.col("i") == F.col("s") * 32 + F.col("t"))
        .crossJoin(F.broadcast(ks))
        .groupBy("k", "s")
        .agg(
            F.sum(F.col("w") * F.col("x") * F.cos(ang)).alias("re"),
            F.sum(F.col("w") * F.col("x") * F.sin(ang)).alias("im"),
        )
    )
    return (
        spec.crossJoin(F.broadcast(u))
        .groupBy("k", "uw")
        .agg(
            F.round(24.0 * F.col("k") / 64.0, 6).alias("cycles_per_day"),
            F.count(F.lit(1)).cast("long").alias("n_segments"),
            F.round(
                F.avg(
                    (F.col("re") * F.col("re") + F.col("im") * F.col("im"))
                    / F.col("uw")
                ),
                4,
            ).alias("psd"),
        )
        .select(
            F.col("k").cast("long").alias("k"),
            "cycles_per_day",
            "n_segments",
            "psd",
        )
    )


@query(
    "string_border_period_census",
    oracle="""
    WITH d AS (
        SELECT doc_id, substring(trim(text), 1, 100) AS t,
               CAST(length(substring(trim(text), 1, 100)) AS BIGINT) AS n
        FROM documents WHERE doc_id % 25 = 0
          AND length(trim(text)) >= 10
    ), borders AS (
        SELECT d.doc_id, d.n,
               CAST(COALESCE(MAX(CASE
                   WHEN substring(d.t, 1, g.l)
                        = substring(d.t, CAST(d.n - g.l + 1 AS INT), g.l)
                   THEN g.l END), 0) AS BIGINT) AS max_border
        FROM d, LATERAL (SELECT unnest(generate_series(
                             1, CAST(d.n - 1 AS INT))) AS l) g
        GROUP BY 1, 2
    )
    SELECT doc_id, n AS n_chars, max_border,
           n - max_border AS min_period,
           CAST(CASE WHEN max_border > 0
                      AND n % (n - max_border) = 0
                THEN 1 ELSE 0 END AS BIGINT) AS fully_periodic
    FROM borders
    """,
)
def string_border_period_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMP border / Fine-Wilf period census on sampled document
    prefixes: the longest proper border (prefix that is also a
    suffix) gives the minimal period p = n - border, and the prefix
    is FULLY periodic iff p divides n — the exact stringology
    primitive behind KMP matching, tandem-repeat detection, and
    templated-text flags (a tiny min_period on a long prefix means
    the document is a repeated block, invisible to token-frequency
    quality scores and complementary to `lz76_complexity_docs` /
    `intra_doc_repetition_rate`).

    Determinism: pure substring equality over exact prefixes; integer
    arithmetic only.

    Scale shape: per-doc explode of n-1 candidate border lengths with
    a prefix/suffix substring compare — map-side, embarrassingly
    parallel, one per-doc agg; the KMP failure-function scan is the
    O(n) sequential form of the same quantity and would drop in as a
    pandas UDF if n grew.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select("doc_id", F.substring(F.trim("text"), 1, 100).alias("t"))
        .filter(F.length("t") >= 10)
        .select("doc_id", "t", F.length("t").cast("long").alias("n"))
    )
    borders = (
        d.select(
            "doc_id",
            "n",
            "t",
            F.explode(F.sequence(F.lit(1), F.col("n") - 1)).alias("l"),
        )
        .groupBy("doc_id", "n")
        .agg(
            F.coalesce(
                F.max(
                    F.when(
                        F.expr("substring(t, 1, CAST(l AS INT))")
                        == F.expr(
                            "substring(t, CAST(n - l + 1 AS INT),"
                            " CAST(l AS INT))"
                        ),
                        F.col("l"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("max_border")
        )
    )
    return borders.select(
        "doc_id",
        F.col("n").alias("n_chars"),
        "max_border",
        (F.col("n") - F.col("max_border")).alias("min_period"),
        F.when(
            (F.col("max_border") > 0)
            & (F.col("n") % (F.col("n") - F.col("max_border")) == 0),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("fully_periodic"),
    )


@query("jackson_network_solve")
def jackson_network_solve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open Jackson network over the event types: external arrivals
    are each user's FIRST event (micro-events/hour over the observed
    span), routing probabilities come from consecutive-event
    transitions (sub-stochastic — sessions end), service capacity per
    station is its observed PEAK hour, and the traffic equations
    lambda = lambda0 + P^T lambda are solved EXACTLY by Gaussian
    elimination over rational numbers (Fractions) in one closure
    call. By Jackson's theorem each station then behaves as M/M/1
    with rho = lambda/mu, giving queue length L = rho/(1-rho) and
    sojourn W = L/lambda in product form. SELF-CERTIFYING: the
    returned residual_micro re-evaluates the traffic equation
    DECLARATIVELY on the rounded solution (must be within integer
    rounding of zero; fixed-point iteration would need ~1000 rounds
    at this sub-stochastic mass, which is exactly why the solve is
    exact). Extends the queueing family — `erlang_c_staffing` (one
    station, many servers), `littles_law_orders`,
    `lindley_waiting_times`, `kingman_vut_audit` — to a NETWORK.

    Determinism: integer micro/ppm inputs; exact rational solve;
    single rounding at output.

    Scale shape: estimating lambda0 / P / mu is three aggs over the
    event log; the k x k solve (k = 5 stations) is one applyInPandas
    closure; the residual check is a broadcast join of the 5-row
    solution against the 25-row routing matrix.
    """
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        (
            (
                F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
            )
            / 3600.0
        ).alias("hours")
    )
    wfirst = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        ev.withColumn("rn", F.row_number().over(wfirst))
        .filter(F.col("rn") == 1)
        .groupBy(F.col("event_type").alias("state"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_first"))
    )
    lam0 = firsts.crossJoin(F.broadcast(span)).select(
        "state",
        F.round(1000000.0 * F.col("n_first") / F.col("hours"))
        .cast("long")
        .alias("lam0_micro"),
    )
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(wfirst).alias("prev"),
    )
    trans = (
        seq.filter(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("s"), F.col("event_type").alias("s2"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    outdeg = ev.groupBy(F.col("event_type").alias("s")).agg(
        F.count(F.lit(1)).cast("long").alias("tot")
    )
    p = trans.join(outdeg, "s").select(
        "s", "s2", F.expr("(1000000 * n) DIV tot").cast("long").alias("ppm")
    )
    mu = (
        ev.groupBy(
            F.col("event_type").alias("state"),
            F.date_trunc("hour", "ts").alias("h"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("state")
        .agg((F.max("c") * 1000000).cast("long").alias("mu_micro"))
    )
    # per-state base LEFT JOIN edges: a state that never appears as a
    # transition SOURCE still carries its lam0/mu into the closure
    base = mu.join(lam0, "state", "left").select(
        "state",
        F.coalesce("lam0_micro", F.lit(0)).cast("long").alias("lam0_micro"),
        "mu_micro",
    )
    closure = base.join(
        p.select(F.col("s").alias("state"), "s2", "ppm"), "state", "left"
    ).withColumn("g", F.lit(1))

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        from fractions import Fraction

        states = sorted(set(pdf["state"]))
        k = len(states)
        idx = {s: i for i, s in enumerate(states)}
        lam0 = {}
        muv = {}
        P = [[Fraction(0)] * k for _ in range(k)]
        for _, row in pdf.iterrows():
            i = idx[row["state"]]
            lam0[i] = Fraction(int(row["lam0_micro"]), 1)
            muv[i] = Fraction(int(row["mu_micro"]), 1)
            if row["s2"] is not None and not (
                isinstance(row["s2"], float) and pd.isna(row["s2"])
            ):
                P[i][idx[row["s2"]]] = Fraction(int(row["ppm"]), 1000000)
        # solve (I - P^T) lam = lam0 by Gaussian elimination
        A = [
            [
                (Fraction(1) if i == j else Fraction(0)) - P[j][i]
                for j in range(k)
            ]
            + [lam0.get(i, Fraction(0))]
            for i in range(k)
        ]
        for col in range(k):
            piv = next(r for r in range(col, k) if A[r][col] != 0)
            A[col], A[piv] = A[piv], A[col]
            pv = A[col][col]
            A[col] = [x / pv for x in A[col]]
            for r in range(k):
                if r != col and A[r][col] != 0:
                    f = A[r][col]
                    A[r] = [x - f * y for x, y in zip(A[r], A[col])]
        lam = [A[i][k] for i in range(k)]
        rows = []
        for s in states:
            i = idx[s]
            rho = lam[i] / muv[i]
            lq = rho / (1 - rho) if rho < 1 else None
            rows.append(
                {
                    "state": s,
                    "lambda_micro": int(round(lam[i])),
                    "mu_micro": int(muv[i]),
                    "rho_ppm": int(round(rho * 1000000)),
                    "l_station_micro": (
                        int(round(lq * 1000000)) if lq is not None else None
                    ),
                }
            )
        return pd.DataFrame(rows)

    solved = closure.groupBy("g").applyInPandas(
        solve,
        schema=(
            "state string, lambda_micro long, mu_micro long, rho_ppm long, "
            "l_station_micro long"
        ),
    )
    solved = solved.transform(_ckpt)
    # declarative certificate: lambda_j - lam0_j - sum_s P(s,j) lambda_s
    # on the ROUNDED solution must be within rounding noise
    inflow = (
        p.join(
            solved.select(F.col("state").alias("s"), "lambda_micro"), "s"
        )
        .groupBy(F.col("s2").alias("state"))
        .agg(
            F.expr("SUM(ppm * lambda_micro) DIV 1000000")
            .cast("long")
            .alias("inflow_micro")
        )
    )
    resid = (
        solved.join(F.broadcast(lam0), "state", "left")
        .join(F.broadcast(inflow), "state", "left")
        .select(
            "state",
            (
                F.col("lambda_micro")
                - F.coalesce("lam0_micro", F.lit(0))
                - F.coalesce("inflow_micro", F.lit(0))
            ).alias("residual_micro"),
        )
    )
    return solved.join(F.broadcast(resid), "state").select(
        "state",
        "lambda_micro",
        "mu_micro",
        "rho_ppm",
        "l_station_micro",
        "residual_micro",
    )


@query("konig_matching_cover")
def konig_matching_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum bipartite matching AND minimum vertex cover on the
    sampled part-supplier supply graph (parts with key % 100 == 0 vs
    the suppliers that shipped them), via augmenting-path matching
    plus the Koenig construction — SELF-CERTIFYING by LP duality
    twice over: (a) every edge must touch the returned cover (checked
    DECLARATIVELY by an anti-join whose count is returned), and (b)
    |cover| == |matching|, which simultaneously proves the matching
    maximum and the cover minimum (any cover >= any matching). The
    bipartite-optimization member of the graph family; unlike
    `local_min_matching_rounds` (distributed heuristic), this is the
    exact optimum with its optimality certificate in-row.

    Determinism: augmenting-path search scans vertices and adjacency
    in sorted key order; the Koenig alternating-reachability sets are
    order-independent.

    Scale shape: the distributed work collapses the fact table to the
    sampled bipartite edge closure (distinct pairs after a pushed-down
    key filter); matching runs in one applyInPandas call; the
    edge-coverage certificate is one broadcast anti-join. Planetary
    matchings would switch to the auction/push-relabel family — the
    Koenig certificate shape is unchanged.
    """
    import pandas as pd

    l = load_table(spark, sf_dir, "lineitem")
    edges = (
        l.filter(F.col("l_partkey") % 100 == 0)
        .select(
            F.col("l_partkey").cast("long").alias("p"),
            F.col("l_suppkey").cast("long").alias("s"),
        )
        .distinct()
        .withColumn("g", F.lit(1))
    )
    edges = edges.transform(_ckpt)

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        adj = {}
        for _, row in pdf.iterrows():
            adj.setdefault(int(row["p"]), []).append(int(row["s"]))
        for v in adj.values():
            v.sort()
        parts = sorted(adj)
        match_p = {}  # part -> supplier
        match_s = {}  # supplier -> part

        def augment(u, seen):
            for w in adj[u]:
                if w in seen:
                    continue
                seen.add(w)
                if w not in match_s or augment(match_s[w], seen):
                    match_p[u] = w
                    match_s[w] = u
                    return True
            return False

        for u in parts:
            augment(u, set())
        # Koenig: Z = unmatched parts + alternating reachability;
        # cover = (parts not in Z) + (suppliers in Z)
        z_p = {u for u in parts if u not in match_p}
        z_s = set()
        frontier = list(z_p)
        while frontier:
            nxt = []
            for u in frontier:
                for w in adj[u]:
                    if w not in z_s and match_p.get(u) != w:
                        z_s.add(w)
                        if w in match_s and match_s[w] not in z_p:
                            z_p.add(match_s[w])
                            nxt.append(match_s[w])
            frontier = nxt
        cover_p = sorted(set(parts) - z_p)
        cover_s = sorted(z_s)
        rows = []
        for u in parts:
            rows.append(
                {
                    "side": "part",
                    "node_key": u,
                    "matched_to": match_p.get(u),
                    "in_cover": u in set(cover_p),
                    "matching_size": len(match_p),
                    "cover_size": len(cover_p) + len(cover_s),
                }
            )
        for w in sorted(match_s) + [x for x in cover_s if x not in match_s]:
            rows.append(
                {
                    "side": "supplier",
                    "node_key": w,
                    "matched_to": match_s.get(w),
                    "in_cover": w in set(cover_s),
                    "matching_size": len(match_p),
                    "cover_size": len(cover_p) + len(cover_s),
                }
            )
        return pd.DataFrame(rows)

    solved = edges.groupBy("g").applyInPandas(
        solve,
        schema=(
            "side string, node_key long, matched_to long, in_cover boolean, "
            "matching_size long, cover_size long"
        ),
    )
    solved = solved.transform(_ckpt)
    # declarative certificate: count edges NOT covered (must be 0)
    cov_p = solved.filter(
        (F.col("side") == "part") & F.col("in_cover")
    ).select(F.col("node_key").alias("p"))
    cov_s = solved.filter(
        (F.col("side") == "supplier") & F.col("in_cover")
    ).select(F.col("node_key").alias("s"))
    uncovered = (
        edges.join(F.broadcast(cov_p), "p", "left_anti")
        .join(F.broadcast(cov_s), "s", "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n_uncovered_edges"))
    )
    return solved.crossJoin(F.broadcast(uncovered))


@query(
    "cluster_robust_se_regression",
    oracle="""
    WITH pts AS (
        SELECT c.c_nationkey AS g,
               ln(o.o_totalprice) AS y,
               c.c_acctbal / 1000.0 AS x
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE o.o_totalprice > 0
    ), fit AS (
        SELECT (SUM(x*y) - SUM(x)*SUM(y)/COUNT(*))
               / (SUM(x*x) - SUM(x)*SUM(x)/COUNT(*)) AS b,
               SUM(y)/COUNT(*)
               - (SUM(x*y) - SUM(x)*SUM(y)/COUNT(*))
                 / (SUM(x*x) - SUM(x)*SUM(x)/COUNT(*))
                 * SUM(x)/COUNT(*) AS a,
               SUM(x)/COUNT(*) AS xbar,
               SUM(x*x) - SUM(x)*SUM(x)/COUNT(*) AS sxx,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pts
    ), gsum AS (
        -- per-cluster score sums: sum_g (x - xbar) * e
        SELECT pts.g,
               SUM((pts.x - fit.xbar)
                   * (pts.y - fit.a - fit.b * pts.x)) AS sg
        FROM pts, fit
        GROUP BY pts.g
    ), meat AS (
        SELECT SUM(sg * sg) AS m, CAST(COUNT(*) AS BIGINT) AS n_clusters
        FROM gsum
    )
    SELECT fit.n AS n_orders, meat.n_clusters,
           ROUND(fit.b, 6) AS beta1,
           ROUND(SQRT(meat.m) / fit.sxx, 6) AS se_cluster,
           ROUND(SQRT((SELECT SUM((pts.y - fit.a - fit.b*pts.x)
                                  * (pts.y - fit.a - fit.b*pts.x))
                       FROM pts) / (fit.n - 2) / fit.sxx), 6) AS se_iid
    FROM fit, meat
    """,
)
def cluster_robust_se_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-robust (CR0 / Liang-Zeger) standard error for the OLS
    slope of ln(order value) on customer balance, clustered by the
    customer's NATION: the sandwich meat sums SQUARED PER-CLUSTER
    score totals (sum of (x - xbar) e within each nation), so
    within-nation error correlation — which the iid formula ignores —
    inflates the SE honestly. Reported next to the iid SE: their
    ratio is the design-effect the analyst must check before trusting
    any per-nation experiment readout. Completes the
    robust-inference family: `newey_west_se_daily` (serial HAC),
    `delta_method_ratio_se` (nonlinearity), `block_bootstrap_se`
    (resampling) — CR0 is the cross-sectional clustering member.

    Determinism: single-pass double moment sums with identical
    expression trees; rounding at the end (repo IRLS/OLS precedent).

    Scale shape: one global moment census, one 25-group score agg,
    one scalar combine — all streaming aggs with map-side partials;
    the cluster dimension never shuffles more than its own
    cardinality.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pts = (
        o.filter(F.col("o_totalprice") > 0)
        .join(
            F.broadcast(
                c.select(
                    F.col("c_custkey").alias("o_custkey"),
                    "c_nationkey",
                    "c_acctbal",
                )
            ),
            "o_custkey",
        )
        .select(
            F.col("c_nationkey").alias("g"),
            F.log("o_totalprice").alias("y"),
            (F.col("c_acctbal") / 1000.0).alias("x"),
        )
    )
    n_ = F.count(F.lit(1))
    sxx_ = F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x") / n_
    b_ = (
        F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y") / n_
    ) / sxx_
    fit = pts.agg(
        b_.alias("b"),
        (F.sum("y") / n_ - b_ * F.sum("x") / n_).alias("a"),
        (F.sum("x") / n_).alias("xbar"),
        sxx_.alias("sxx"),
        n_.cast("long").alias("n"),
    )
    fit = _ckpt(fit)  # shared fan-out relation
    e = F.col("y") - F.col("a") - F.col("b") * F.col("x")
    gsum = (
        pts.crossJoin(F.broadcast(fit))
        .groupBy("g")
        .agg(F.sum((F.col("x") - F.col("xbar")) * e).alias("sg"))
    )
    meat = gsum.agg(
        F.sum(F.col("sg") * F.col("sg")).alias("m"),
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
    )
    sse = pts.crossJoin(F.broadcast(fit)).agg(
        F.sum(e * e).alias("sse")
    )
    return (
        fit.crossJoin(F.broadcast(meat))
        .crossJoin(F.broadcast(sse))
        .select(
            F.col("n").alias("n_orders"),
            "n_clusters",
            F.round("b", 6).alias("beta1"),
            F.round(F.sqrt(F.col("m")) / F.col("sxx"), 6).alias(
                "se_cluster"
            ),
            F.round(
                F.sqrt(
                    F.col("sse") / (F.col("n") - 2) / F.col("sxx")
                ),
                6,
            ).alias("se_iid"),
        )
    )


@query(
    "voptimal_segmentation_daily",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(ROUND(SUM(value) * 100) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), r AS (
        SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
        FROM d
    ), ps AS MATERIALIZED (
        SELECT i, x,
               CAST(SUM(x) OVER (ORDER BY i) AS BIGINT) AS cs,
               CAST(SUM(x * x) OVER (ORDER BY i) AS BIGINT) AS cs2
        FROM r
    ), nn AS (SELECT CAST(MAX(i) AS BIGINT) AS n FROM ps),
    cost AS MATERIALIZED (
        SELECT a.i AS a, b.i AS b,
               CAST((b.i - a.i + 1) * (b.cs2 - COALESCE(pa.cs2, 0))
                    - (b.cs - COALESCE(pa.cs, 0))
                      * (b.cs - COALESCE(pa.cs, 0)) AS BIGINT) AS c
        FROM ps a JOIN ps b ON b.i >= a.i
        LEFT JOIN ps pa ON pa.i = a.i - 1
    ),
    m1 AS MATERIALIZED (SELECT b, c AS m FROM cost WHERE a = 1),
    m2 AS MATERIALIZED (
        SELECT cost.b, CAST(MIN(m1.m + cost.c) AS BIGINT) AS m
        FROM cost JOIN m1 ON m1.b = cost.a - 1 GROUP BY 1
    ),
    m3 AS MATERIALIZED (
        SELECT cost.b, CAST(MIN(m2.m + cost.c) AS BIGINT) AS m
        FROM cost JOIN m2 ON m2.b = cost.a - 1 GROUP BY 1
    ),
    m4 AS (
        SELECT cost.b, CAST(MIN(m3.m + cost.c) AS BIGINT) AS m,
               CAST(MIN(struct_pack(t := m3.m + cost.c,
                                    a := cost.a)).a AS BIGINT)
                   AS best_a
        FROM cost JOIN m3 ON m3.b = cost.a - 1 GROUP BY 1
    )
    SELECT nn.n AS n_days,
           CAST(m1.m AS BIGINT) AS cost_k1,
           m2.m AS cost_k2, m3.m AS cost_k3, m4.m AS cost_k4,
           m4.best_a AS k4_last_segment_start
    FROM nn
    JOIN m1 ON m1.b = nn.n JOIN m2 ON m2.b = nn.n
    JOIN m3 ON m3.b = nn.n JOIN m4 ON m4.b = nn.n
    """,
)
def voptimal_segmentation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V-optimal-style segmentation of the daily revenue series into
    k = 1..4 contiguous buckets, minimizing the EXACT integer
    objective sum over segments of len*sumsq - sum^2 (= len^2 *
    within-variance — the scaled form keeps the whole DP in BIGINTs;
    classic v-optimal SSE divides by len and would force float
    argmins): the histogram-construction DP that query optimizers
    run to place bucket boundaries where they minimize estimation
    error, and the k-segment generalization of
    `binseg_single_changepoint` (greedy one split) /
    `wbs_dyadic_cusum_scan` (randomized scan). The k-ladder of costs
    is the model-selection curve; `k4_last_segment_start` exposes the
    final boundary.

    Determinism: prefix sums make every segment cost an exact BIGINT;
    DP minima tie-break through the (cost, start) struct order.

    Scale shape: FULLY DECLARATIVE DP — the O(n^2) cost relation from
    one prefix-sum window + self-join, then k-1 chained min-aggs; no
    Python anywhere. n is the day-grid cardinality (tiny forever);
    per-series parallelism comes free by adding the series key to
    every join.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100).cast("long").alias("x")
    )
    r = d.select(
        "x",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("i"),
    )
    wcum = Window.orderBy("i")
    ps = r.select(
        "i",
        "x",
        F.sum("x").over(wcum).cast("long").alias("cs"),
        F.sum(F.col("x") * F.col("x")).over(wcum).cast("long").alias("cs2"),
    ).transform(_ckpt)
    nn = ps.agg(F.max("i").cast("long").alias("n"))
    a, b, pa = ps.alias("a"), ps.alias("b"), ps.alias("pa")
    cost = (
        a.join(b, F.col("b.i") >= F.col("a.i"))
        .join(pa, F.col("pa.i") == F.col("a.i") - 1, "left")
        .select(
            F.col("a.i").alias("ca"),
            F.col("b.i").alias("cb"),
            (
                (F.col("b.i") - F.col("a.i") + 1)
                * (F.col("b.cs2") - F.coalesce(F.col("pa.cs2"), F.lit(0)))
                - (F.col("b.cs") - F.coalesce(F.col("pa.cs"), F.lit(0)))
                * (F.col("b.cs") - F.coalesce(F.col("pa.cs"), F.lit(0)))
            )
            .cast("long")
            .alias("c"),
        )
    ).transform(_ckpt)
    m = cost.filter(F.col("ca") == 1).select("cb", F.col("c").alias("m"))
    ms = [m]
    for _ in range(3):
        prev = ms[-1].select(F.col("cb").alias("pb"), F.col("m").alias("pm"))
        nxt = (
            cost.join(prev, F.col("pb") == F.col("ca") - 1)
            .groupBy("cb")
            .agg(
                F.min(F.col("pm") + F.col("c")).cast("long").alias("m"),
                F.min(F.struct((F.col("pm") + F.col("c")).alias("t"), F.col("ca").alias("a")))
                .getField("a")
                .cast("long")
                .alias("best_a"),
            )
        )
        ms.append(nxt)
    m1, m2, m3, m4 = ms
    pick = lambda df, cols: df.join(  # noqa: E731
        F.broadcast(nn), df["cb"] == F.col("n")
    ).select(*cols)
    out = (
        pick(m1, [F.col("m").alias("cost_k1"), F.col("n").alias("n_days")])
        .crossJoin(F.broadcast(pick(m2, [F.col("m").alias("cost_k2")])))
        .crossJoin(F.broadcast(pick(m3, [F.col("m").alias("cost_k3")])))
        .crossJoin(
            F.broadcast(
                pick(
                    m4,
                    [
                        F.col("m").alias("cost_k4"),
                        F.col("best_a").alias("k4_last_segment_start"),
                    ],
                )
            )
        )
    )
    return out.select(
        "n_days",
        "cost_k1",
        "cost_k2",
        "cost_k3",
        "cost_k4",
        "k4_last_segment_start",
    )


@query(
    "ziv_merhav_cross_parse",
    bench=True,
    oracle="""
    WITH RECURSIVE d AS (
        SELECT doc_id, substring(trim(text), 1, 150) AS t,
               CAST(length(substring(trim(text), 1, 150)) AS BIGINT) AS n
        FROM documents WHERE doc_id % 25 = 0 AND length(trim(text)) > 0
    ), pr AS MATERIALIZED (
        SELECT a.doc_id AS src, b.doc_id AS db,
               a.t AS ts, a.n AS ns, b.t AS tb
        FROM d a JOIN d b ON b.doc_id = a.doc_id + 25
        UNION ALL
        SELECT b.doc_id, a.doc_id, b.t, b.n, a.t
        FROM d a JOIN d b ON b.doc_id = a.doc_id + 25
    ), zm(src, db, p, c) AS (
        SELECT src, db, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM pr
        UNION ALL
        SELECT zm.src, zm.db,
               zm.p + COALESCE(list_max(list_filter(
                   range(1, CAST(least(40, pr.ns - zm.p + 1) AS BIGINT) + 1),
                   L -> strpos(pr.tb,
                               pr.ts[CAST(zm.p AS INT):
                                     CAST(zm.p + L - 1 AS INT)]) > 0)),
                   0) + 1,
               zm.c + 1
        FROM zm JOIN pr ON pr.src = zm.src AND pr.db = zm.db
        WHERE zm.p <= pr.ns
    )
    SELECT zm.src AS src_doc, zm.db AS db_doc, pr.ns AS n_chars,
           MAX(zm.c) AS n_cross_phrases
    FROM zm JOIN pr ON pr.src = zm.src AND pr.db = zm.db
    GROUP BY 1, 2, 3
    """,
)
def ziv_merhav_cross_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ziv-Merhav cross-parsing between paired document prefixes: doc
    A is parsed into the fewest phrases such that each phrase (match
    capped at 40 chars, plus one innovation char) occurs SOMEWHERE in
    doc B — the phrase count estimates the cross entropy H(A|B), so
    FEW phrases mean B's language model describes A well. Run in both
    directions per pair, this is the classic universal (model-free)
    relative-entropy estimator between sources — the pairwise sibling
    of `lz76_complexity_docs` (self-parse) and the information-theoretic
    counterpart of `jsd_source_unigrams` (which only sees unigram
    frequencies, not structure).

    Determinism: exact prefixes, integer phrase counts; the greedy
    longest-match parse is replayed by the oracle's recursive CTE one
    phrase per step.

    Scale shape: per-pair independent — the Arrow UDF parses each
    (src, db) row in O(n * cap) substring probes with no shuffle
    beyond building the pair relation; a corpus-level run fans out
    pairs from the dedup candidate generator exactly like
    `levenshtein_neardup`.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    docs = load_table(spark, sf_dir, "documents")
    # both self-join sides and both union arms re-derive this sampled
    # projection — materialize it once (documents scanned once)
    d = _ckpt(
        docs.filter(F.col("doc_id") % 25 == 0)
        .select("doc_id", F.substring(F.trim("text"), 1, 150).alias("t"))
        .filter(F.length("t") > 0)
        .select("doc_id", "t", F.length("t").cast("long").alias("n"))
    )
    a, b = d.alias("a"), d.alias("b")
    base = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 25)
    pr = base.select(
        F.col("a.doc_id").alias("src"),
        F.col("b.doc_id").alias("db"),
        F.col("a.t").alias("ts"),
        F.col("a.n").alias("ns"),
        F.col("b.t").alias("tb"),
    ).unionByName(
        base.select(
            F.col("b.doc_id").alias("src"),
            F.col("a.doc_id").alias("db"),
            F.col("b.t").alias("ts"),
            F.col("b.n").alias("ns"),
            F.col("a.t").alias("tb"),
        )
    )

    def _cross_parse(ts: "pd.Series", tb: "pd.Series") -> "pd.Series":
        def parse(src: str, db: str) -> int:
            n = len(src)
            p, c = 1, 0
            while p <= n:
                lmax = 0
                for L in range(1, min(40, n - p + 1) + 1):
                    if src[p - 1 : p - 1 + L] in db:
                        lmax = L
                    else:
                        break
                p = p + lmax + 1
                c += 1
            return c

        return pd.Series(
            [parse(s_, b_) for s_, b_ in zip(ts, tb)]
        )

    _cross_parse.__annotations__ = {
        "ts": pd.Series,
        "tb": pd.Series,
        "return": pd.Series,
    }
    cross_parse = pandas_udf(_cross_parse, "long")
    return pr.select(
        F.col("src").alias("src_doc"),
        F.col("db").alias("db_doc"),
        F.col("ns").alias("n_chars"),
        cross_parse("ts", "tb").alias("n_cross_phrases"),
    )


_IND_CANDIDATES = [
    # (child_table, child_col, parent_table, parent_col)
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    # deliberately-false directions: prove the audit rejects
    ("customer", "c_custkey", "orders", "o_custkey"),
    ("part", "p_partkey", "lineitem", "l_partkey"),
    ("nation", "n_nationkey", "customer", "c_nationkey"),
]


def _ind_oracle() -> str:
    parts = []
    for ct, cc, pt, pc in _IND_CANDIDATES:
        parts.append(
            f"""    SELECT '{ct}.{cc}' AS child, '{pt}.{pc}' AS parent,
           CAST(COUNT(*) AS BIGINT) AS n_child_values,
           CAST(SUM(CASE WHEN p.v IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contained,
           CAST((1000000 * SUM(CASE WHEN p.v IS NOT NULL
                               THEN 1 ELSE 0 END)) // COUNT(*)
                AS BIGINT) AS containment_ppm,
           CAST(CASE WHEN COUNT(*) = SUM(CASE WHEN p.v IS NOT NULL
                                         THEN 1 ELSE 0 END)
                THEN 1 ELSE 0 END AS BIGINT) AS ind_holds
    FROM (SELECT DISTINCT {cc} AS v FROM {ct}) c
    LEFT JOIN (SELECT DISTINCT {pc} AS v FROM {pt}) p ON p.v = c.v"""
        )
    return "\n    UNION ALL\n".join(parts)


@query("inclusion_dependency_discovery", oracle=_ind_oracle())
def inclusion_dependency_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency (foreign-key) discovery audit: for ten
    candidate column pairs — the seven genuine FK edges of the schema
    plus three deliberately reversed directions — compute the exact
    containment fraction of DISTINCT child values inside the parent
    column and flag full inclusion. This is the data-profiling
    primitive behind automatic FK inference, join-order hints, and
    `referential_integrity_audit` (which checks DECLARED edges; this
    query DISCOVERS them, including rejecting the reversed decoys —
    customers without orders break c_custkey into o_custkey).

    Determinism: distinct-set counts and ppm floor division, all
    integers.

    Scale shape: each candidate is distinct-reduce both sides then a
    LEFT equi-join on the value — map-side combine collapses the fact
    table before any shuffle; candidates evaluate independently (one
    union of 10 small plans). Real discovery over wide schemas prunes
    candidates first by min/max/type metadata (`zone_map_pruning_
    simulation` territory), then runs exactly this join per survivor.
    """
    # several (table, column) sides repeat across candidates (the
    # reversed decoys reuse the genuine edges' columns) — materialize
    # each distinct value set once and share it, instead of re-running
    # the scan + distinct per candidate that mentions it
    sets: dict = {}
    for ct, cc, pt, pc in _IND_CANDIDATES:
        for t, col in ((ct, cc), (pt, pc)):
            if (t, col) not in sets:
                sets[(t, col)] = _ckpt(
                    load_table(spark, sf_dir, t)
                    .select(F.col(col).alias("v"))
                    .distinct()
                )
    out = None
    for ct, cc, pt, pc in _IND_CANDIDATES:
        child = sets[(ct, cc)]
        parent = sets[(pt, pc)]
        joined = child.join(
            parent.withColumn("hit", F.lit(1)), "v", "left"
        ).agg(
            F.count(F.lit(1)).cast("long").alias("n_child_values"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_contained"),
        )
        row = joined.select(
            F.lit(f"{ct}.{cc}").alias("child"),
            F.lit(f"{pt}.{pc}").alias("parent"),
            "n_child_values",
            "n_contained",
            F.expr("(1000000 * n_contained) DIV n_child_values")
            .cast("long")
            .alias("containment_ppm"),
            F.when(F.col("n_child_values") == F.col("n_contained"), 1)
            .otherwise(0)
            .cast("long")
            .alias("ind_holds"),
        )
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "pps_horvitz_thompson",
    oracle="""
    WITH u AS (
        SELECT c_custkey,
               GREATEST(CAST(ROUND(c_acctbal * 100) AS BIGINT), 1) AS sz
        FROM customer
    ), cum AS (
        SELECT c_custkey, sz,
               CAST(SUM(sz) OVER (ORDER BY c_custkey) AS BIGINT) AS cs
        FROM u
    ), tot AS (
        SELECT CAST(SUM(sz) AS BIGINT) AS t FROM u
    ), pts AS (
        SELECT CAST((t // 50) // 2 + k.k * (t // 50) AS BIGINT) AS dk
        FROM tot, LATERAL (SELECT unnest(generate_series(0, 49)) AS k) k
    ), hits AS (
        SELECT cum.c_custkey, cum.sz, CAST(COUNT(*) AS BIGINT) AS n_hits
        FROM pts JOIN cum
          ON pts.dk > cum.cs - cum.sz AND pts.dk <= cum.cs
        GROUP BY 1, 2
    ), rev AS (
        SELECT o_custkey AS c_custkey,
               CAST(ROUND(SUM(o_totalprice) * 100) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ), est AS (
        SELECT SUM(hits.n_hits * COALESCE(rev.y, 0) * (tot.t * 1.0)
                   / (50.0 * hits.sz)) AS ht
        FROM hits LEFT JOIN rev USING (c_custkey), tot
        GROUP BY tot.t
    ), truth AS (
        SELECT CAST(SUM(y) AS BIGINT) AS tt FROM rev
    )
    SELECT CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_sampled,
           CAST(ROUND(est.ht) AS BIGINT) AS ht_estimate_cents,
           truth.tt AS true_total_cents,
           CAST(ROUND(1000000.0 * (est.ht - truth.tt) / truth.tt)
                AS BIGINT) AS error_ppm
    FROM est, truth
    """,
)
def pps_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling with the
    Horvitz-Thompson total estimator: 50 equally spaced points on the
    cumulative account-balance axis (deterministic half-step start)
    select customers with probability proportional to balance, and
    each hit contributes its order revenue weighted by t/(n*size) —
    the unequal-probability design that beats SRS whenever size
    correlates with the target. The PPS member of the sampling
    family: `neyman_allocation_sampling` (stratified optimum),
    `systematic_sampling_deff` (equal-probability systematic),
    `survey_sample_estimate` (SRS + FPC); large units can be hit
    multiple times and carry their multiplicity.

    Determinism: integer size/cumulative axis and hit selection; the
    only floats are the final HT weights, rounded to integer cents.

    Scale shape: the cumulative size axis comes from the
    range-bucketed distributed prefix sum (``operators/rank.py`` —
    no single-task window over the ~10⁹-row customer dimension at
    100 TB), a broadcast 50-point interval join (each point lands
    in exactly one cumulative interval), and two scalar aggs — the
    sampling plan itself never touches the fact table, which joins
    only for the 50 sampled keys' outcomes.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    u = c.select(
        "c_custkey",
        F.greatest(
            F.round(F.col("c_acctbal") * 100).cast("long"), F.lit(1)
        ).alias("sz"),
    )
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_prefix_sum,
    )

    cum = distributed_prefix_sum(
        u, "c_custkey", "c_custkey", "sz", out_col="cs"
    ).select("c_custkey", "sz", "cs")
    tot = u.agg(F.sum("sz").cast("long").alias("t"))
    pts = tot.select(
        F.explode(F.sequence(F.lit(0), F.lit(49))).alias("k"), "t"
    ).select(
        (
            F.expr("(t DIV 50) DIV 2") + F.col("k") * F.expr("t DIV 50")
        )
        .cast("long")
        .alias("dk")
    )
    hits = (
        cum.join(
            F.broadcast(pts),
            (F.col("dk") > F.col("cs") - F.col("sz"))
            & (F.col("dk") <= F.col("cs")),
        )
        .groupBy("c_custkey", "sz")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    rev = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.round(F.sum("o_totalprice") * 100).cast("long").alias("y")
    )
    est = (
        hits.join(rev, "c_custkey", "left")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("n_hits")
                * F.coalesce("y", F.lit(0))
                * (F.col("t") * 1.0)
                / (50.0 * F.col("sz"))
            ).alias("ht"),
            F.count(F.lit(1)).cast("long").alias("n_sampled"),
        )
    )
    truth = rev.agg(F.sum("y").cast("long").alias("tt"))
    return est.crossJoin(F.broadcast(truth)).select(
        "n_sampled",
        F.round("ht").cast("long").alias("ht_estimate_cents"),
        F.col("tt").alias("true_total_cents"),
        F.round(1000000.0 * (F.col("ht") - F.col("tt")) / F.col("tt"))
        .cast("long")
        .alias("error_ppm"),
    )


@query("belady_opt_cache_replay")
def belady_opt_cache_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Belady MIN (clairvoyant-optimal) cache replay on the brand
    reference stream of `mattson_reuse_profile`: at capacities
    1/2/4/8, on each miss evict the resident brand whose NEXT use is
    farthest in the future — the provably optimal offline policy, so
    these hit ratios are the UPPER BOUND the whole cache family is
    graded against (`lru_cache_hit_simulation` replays LRU,
    `mattson_reuse_profile` derives LRU's full curve,
    `che_lru_approximation` approximates it; the invariant test pins
    OPT >= LRU at every shared capacity). The distributed part is the
    NEXT-USE index — a single LEAD window per brand — which is
    exactly the future knowledge OPT needs.

    Determinism: total stream order (shipdate, orderkey, linenumber);
    eviction ties (two residents never used again) break on the
    larger sentinel-then-brand order.

    Scale shape: position via the range-bucketed distributed rank
    (``operators/rank.py``, no single-task sort); next-use via one
    partitioned window. OPT replay is inherently sequential, so the
    scan runs per BOUNDED pos-segment — one applyInPandas task per
    segment, each holding only its segment's rows — with the tiny
    carried state (≤capacity resident (brand, next_use) pairs per
    capacity) threaded between segments by the driver, the same
    legitimate driver-coordination class as an iterative-algorithm
    convergence loop. At 100 TB, segment count grows with the
    stream so per-task memory stays fixed; sharding by tenant/cache
    instance parallelizes fully independent replays.
    """
    import heapq

    import pandas as pd

    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_order_stats,
    )

    li = load_table(spark, sf_dir, "lineitem")
    prt = load_table(spark, sf_dir, "part")
    stream = distributed_order_stats(
        li.join(
            F.broadcast(
                prt.select(F.col("p_partkey").alias("l_partkey"), "p_brand")
            ),
            "l_partkey",
        ).select(
            F.col("p_brand").alias("k"),
            F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("sd"),
            "l_orderkey",
            "l_linenumber",
        ),
        "sd",
        ["l_orderkey", "l_linenumber"],
        rank_col="pos",
    ).select("k", "pos")
    caps = (1, 2, 4, 8)
    n_seg = 8
    nxt = stream.select(
        "k",
        "pos",
        F.coalesce(
            F.lead("pos").over(Window.partitionBy("k").orderBy("pos")),
            F.lit(2**62),
        ).alias("next_use"),
    )
    n_total = nxt.count()
    if n_total == 0:
        return spark.createDataFrame(
            [], "capacity long, n_accesses long, hits long, hit_ppm long"
        )
    seg_size = -(-n_total // n_seg)
    nxt = nxt.withColumn(
        "seg", ((F.col("pos") - 1) / seg_size).cast("long")
    ).transform(_ckpt)

    def make_replay(entry_state: dict[int, dict[str, int]]):
        def replay(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("pos")
            ks = pdf["k"].tolist()
            nus = pdf["next_use"].astype("int64").tolist()
            out = []
            for cap in caps:
                resident = dict(entry_state.get(cap, {}))
                hits = 0
                heap: list[tuple[int, str]] = []  # (-next_use, key) lazy
                for rk, rnu in resident.items():
                    heapq.heappush(heap, (-rnu, rk))
                for k, nu in zip(ks, nus):
                    if k in resident:
                        hits += 1
                    else:
                        if len(resident) >= cap:
                            # evict farthest-next-use (lazy heap entries)
                            while True:
                                negnu, ek = heapq.heappop(heap)
                                if resident.get(ek) == -negnu:
                                    del resident[ek]
                                    break
                    resident[k] = nu
                    heapq.heappush(heap, (-nu, k))
                out.append(
                    {
                        "capacity": cap,
                        "seg_hits": hits,
                        "seg_n": len(ks),
                        "exit_state": ";".join(
                            f"{k}={v}" for k, v in sorted(resident.items())
                        ),
                    }
                )
            return pd.DataFrame(out)

        return replay

    state: dict[int, dict[str, int]] = {c: {} for c in caps}
    hits = {c: 0 for c in caps}
    for s in range(n_seg):
        seg_rows = bounded_collect(
            nxt.filter(F.col("seg") == s)
            .groupBy("seg")
            .applyInPandas(
                make_replay(state),
                schema="capacity long, seg_hits long, seg_n long,"
                " exit_state string",
            ),
            len(caps),  # one row per capacity per segment
            "registry_10.segment_replay",
        )
        for r in seg_rows:
            hits[r["capacity"]] += r["seg_hits"]
            state[r["capacity"]] = {
                kv.split("=")[0]: int(kv.split("=")[1])
                for kv in r["exit_state"].split(";")
                if kv
            }
    return spark.createDataFrame(
        [
            (c, n_total, hits[c], (1000000 * hits[c]) // n_total)
            for c in caps
        ],
        "capacity long, n_accesses long, hits long, hit_ppm long",
    )


@query(
    "rle_sort_compression_advisor",
    oracle="""
    WITH src AS (
        SELECT l_returnflag AS rf, l_linestatus AS ls,
               strftime(l_shipdate, '%Y-%m') AS sm,
               ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber)
                   AS pos
        FROM lineitem
    ), cols AS (
        SELECT 'l_returnflag' AS col, pos, rf AS v FROM src
        UNION ALL SELECT 'l_linestatus', pos, ls FROM src
        UNION ALL SELECT 'l_shipmonth', pos, sm FROM src
    ), nat AS (
        SELECT col, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN v IS DISTINCT FROM prev
                        THEN 1 ELSE 0 END) AS BIGINT) AS runs_natural
        FROM (SELECT col, v,
                     LAG(v) OVER (PARTITION BY col ORDER BY pos) AS prev
              FROM cols) t
        GROUP BY col
    ), srt AS (
        SELECT col, CAST(COUNT(DISTINCT v) AS BIGINT) AS runs_sorted
        FROM cols GROUP BY col
    )
    SELECT nat.col, nat.n AS n_rows, nat.runs_natural, srt.runs_sorted,
           CAST((1000000 * srt.runs_sorted) // nat.runs_natural
                AS BIGINT) AS sorted_run_ratio_ppm
    FROM nat JOIN srt USING (col)
    """,
)
def rle_sort_compression_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-to-compress RLE advisor: for three lineitem columns, the
    run count in NATURAL (insertion) order versus the run count after
    sorting by that column (= its distinct cardinality — sorted runs
    are one per value), whose ratio is exactly the RLE size reduction
    a sort/cluster rewrite buys. This is the decision input for
    choosing a table SORT KEY: `zorder_layout_orders` and
    `hilbert_vs_zorder_locality` measure multi-column clustering,
    `encoding_size_advisor` prices dictionary-vs-plain; this query
    prices RUN-LENGTH encoding against physical order — the dominant
    effect in columnar formats for low-cardinality columns.

    Determinism: run counting via a LAG window over the exact
    (orderkey, linenumber) order; null-safe change detection;
    integer ppm.

    Scale shape: one window per (tiny) column set over a 3x-exploded
    narrow relation plus a distinct-count agg — linear scans with
    map-side partials; the advisory never materializes a sorted copy
    (the sorted run count IS the distinct count, a one-agg identity).
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_order_stats,
    )

    li = load_table(spark, sf_dir, "lineitem")
    src = distributed_order_stats(
        li.select(
            F.col("l_returnflag").alias("rf"),
            F.col("l_linestatus").alias("ls"),
            F.date_format("l_shipdate", "yyyy-MM").alias("sm"),
            "l_orderkey",
            "l_linenumber",
        ),
        "l_orderkey",
        ["l_linenumber"],
        rank_col="pos",
    ).select("rf", "ls", "sm", "pos")
    src = _ckpt(src)  # shared fan-out relation
    cols = (
        src.select(F.lit("l_returnflag").alias("col"), "pos", F.col("rf").alias("v"))
        .unionByName(
            src.select(
                F.lit("l_linestatus").alias("col"), "pos", F.col("ls").alias("v")
            )
        )
        .unionByName(
            src.select(
                F.lit("l_shipmonth").alias("col"), "pos", F.col("sm").alias("v")
            )
        )
    )
    cols = _ckpt(cols)  # shared fan-out relation
    prevs = cols.select(
        "col", (F.col("pos") + 1).alias("pos"), F.col("v").alias("prev")
    )
    nat = (
        cols.join(prevs, ["col", "pos"], "left")
        .groupBy("col")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(
                F.when(
                    ~F.col("v").eqNullSafe(F.col("prev")), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("runs_natural"),
        )
    )
    srt = cols.groupBy("col").agg(
        F.countDistinct("v").cast("long").alias("runs_sorted")
    )
    return nat.join(srt, "col").select(
        "col",
        "n_rows",
        "runs_natural",
        "runs_sorted",
        F.expr("(1000000 * runs_sorted) DIV runs_natural")
        .cast("long")
        .alias("sorted_run_ratio_ppm"),
    )


@query(
    "factorial_effects_yates",
    oracle="""
    WITH pts AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS fa,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS fb,
               CASE WHEN EXTRACT(month FROM o_orderdate) >= 7
                    THEN 1 ELSE 0 END AS fc,
               o_totalprice AS y
        FROM orders
    ), cells AS (
        SELECT fa, fb, fc, AVG(y) AS m, CAST(COUNT(*) AS BIGINT) AS n
        FROM pts GROUP BY 1, 2, 3
    )
    SELECT 'A_urgent' AS effect,
           ROUND(SUM(CASE WHEN fa = 1 THEN m ELSE -m END) / 4.0, 4)
               AS estimate,
           CAST(SUM(n) AS BIGINT) AS n_orders
    FROM cells
    UNION ALL
    SELECT 'B_finished',
           ROUND(SUM(CASE WHEN fb = 1 THEN m ELSE -m END) / 4.0, 4),
           CAST(SUM(n) AS BIGINT)
    FROM cells
    UNION ALL
    SELECT 'C_h2',
           ROUND(SUM(CASE WHEN fc = 1 THEN m ELSE -m END) / 4.0, 4),
           CAST(SUM(n) AS BIGINT)
    FROM cells
    UNION ALL
    SELECT 'AB',
           ROUND(SUM(CASE WHEN fa = fb THEN m ELSE -m END) / 4.0, 4),
           CAST(SUM(n) AS BIGINT)
    FROM cells
    UNION ALL
    SELECT 'AC',
           ROUND(SUM(CASE WHEN fa = fc THEN m ELSE -m END) / 4.0, 4),
           CAST(SUM(n) AS BIGINT)
    FROM cells
    UNION ALL
    SELECT 'BC',
           ROUND(SUM(CASE WHEN fb = fc THEN m ELSE -m END) / 4.0, 4),
           CAST(SUM(n) AS BIGINT)
    FROM cells
    UNION ALL
    SELECT 'ABC',
           ROUND(SUM(CASE WHEN (fa + fb + fc) % 2 = 1 THEN m ELSE -m END)
                 / 4.0, 4),
           CAST(SUM(n) AS BIGINT)
    FROM cells
    """,
)
def factorial_effects_yates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2^3 factorial effect decomposition (the Yates contrast table)
    of mean order value over urgency x finished-status x half-year:
    each main effect and interaction is a signed half-difference of
    the 8 cell means — the designed-experiment reading of categorical
    structure that `anova_f_order_priority` (one factor, F test) and
    `two_way_fixed_effects` (additive model) don't give: the THREE-WAY
    interaction term is exactly the quantity both of those assume to
    be zero. Unbalanced cell counts are handled as means-of-means
    (Type-III-style contrasts on cell means).

    Determinism: cell means are exact-count averages of identical
    doubles; contrasts are +/- sums of 8 such means, rounded once.

    Scale shape: one 8-cell hash agg over the fact scan, then a
    constant contrast matrix applied by unioned 8-row aggs — the
    entire factorial analysis rides on one shuffle of 8 rows.
    """
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("fa"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("fb"),
        F.when(F.month("o_orderdate") >= 7, 1).otherwise(0).alias("fc"),
        F.col("o_totalprice").alias("y"),
    )
    cells = pts.groupBy("fa", "fb", "fc").agg(
        F.avg("y").alias("m"), F.count(F.lit(1)).cast("long").alias("n")
    )
    cells = cells.transform(_ckpt)

    def contrast(name: str, sign):
        return cells.agg(
            F.lit(name).alias("effect"),
            F.round(F.sum(F.when(sign, F.col("m")).otherwise(-F.col("m"))) / 4.0, 4)
            .alias("estimate"),
            F.sum("n").cast("long").alias("n_orders"),
        )

    out = contrast("A_urgent", F.col("fa") == 1)
    for name, sign in [
        ("B_finished", F.col("fb") == 1),
        ("C_h2", F.col("fc") == 1),
        ("AB", F.col("fa") == F.col("fb")),
        ("AC", F.col("fa") == F.col("fc")),
        ("BC", F.col("fb") == F.col("fc")),
        ("ABC", (F.col("fa") + F.col("fb") + F.col("fc")) % 2 == 1),
    ]:
        out = out.unionByName(contrast(name, sign))
    return out


@query(
    "sobol_main_effects",
    oracle="""
    WITH pts AS (
        SELECT o_orderpriority AS xp, o_orderstatus AS xs,
               CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS xm,
               o_totalprice AS y
        FROM orders
    ), tot AS (
        SELECT SUM(y) AS s, SUM(y * y) AS s2,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pts
    ), vy AS (
        SELECT (s2 - s * s / n) / n AS v, n, s / n AS mu FROM tot
    ), byp AS (
        SELECT SUM(cm * cm * cn) / MAX(vy.n) - MAX(vy.mu) * MAX(vy.mu)
                   AS vce
        FROM (SELECT xp, AVG(y) AS cm, CAST(COUNT(*) AS BIGINT) AS cn
              FROM pts GROUP BY xp) g, vy
    ), bys AS (
        SELECT SUM(cm * cm * cn) / MAX(vy.n) - MAX(vy.mu) * MAX(vy.mu)
                   AS vce
        FROM (SELECT xs, AVG(y) AS cm, CAST(COUNT(*) AS BIGINT) AS cn
              FROM pts GROUP BY xs) g, vy
    ), bym AS (
        SELECT SUM(cm * cm * cn) / MAX(vy.n) - MAX(vy.mu) * MAX(vy.mu)
                   AS vce
        FROM (SELECT xm, AVG(y) AS cm, CAST(COUNT(*) AS BIGINT) AS cn
              FROM pts GROUP BY xm) g, vy
    )
    SELECT 'priority' AS factor,
           CAST(ROUND(1000000.0 * byp.vce / vy.v) AS BIGINT) AS s_ppm
    FROM byp, vy
    UNION ALL
    SELECT 'status',
           CAST(ROUND(1000000.0 * bys.vce / vy.v) AS BIGINT)
    FROM bys, vy
    UNION ALL
    SELECT 'month',
           CAST(ROUND(1000000.0 * bym.vce / vy.v) AS BIGINT)
    FROM bym, vy
    """,
)
def sobol_main_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Sobol sensitivity indices of order value against
    three categorical factors: S_i = Var(E[y | x_i]) / Var(y),
    estimated exactly by the conditional-means decomposition (each
    factor's between-group variance over total variance, population
    form). The global-sensitivity reading of `anova_f_order_priority`
    (same decomposition, hypothesis-test framing) and the
    variance-explained sibling of `mutual_information_type_segment`
    (information framing); near-zero everywhere says order value is
    driven by none of these coarse factors alone.

    Determinism: moment sums with identical expression trees;
    weighted second moment of conditional means computed as
    sum(cm^2 * cn)/n - mu^2; ppm rounding at the end.

    Scale shape: one global moment census plus one small hash agg per
    factor (map-side partials, group cardinality <= 12); factors
    evaluate independently and union — no shuffle carries more than
    the group dimension.
    """
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        F.col("o_orderpriority").alias("xp"),
        F.col("o_orderstatus").alias("xs"),
        F.month("o_orderdate").cast("long").alias("xm"),
        F.col("o_totalprice").alias("y"),
    )
    pts = _ckpt(pts)  # shared fan-out relation
    n_ = F.count(F.lit(1))
    vy = pts.agg(
        (
            (F.sum(F.col("y") * F.col("y")) - F.sum("y") * F.sum("y") / n_)
            / n_
        ).alias("v"),
        n_.cast("long").alias("n"),
        (F.sum("y") / n_).alias("mu"),
    )
    out = None
    for name, col in [("priority", "xp"), ("status", "xs"), ("month", "xm")]:
        grp = pts.groupBy(col).agg(
            F.avg("y").alias("cm"), F.count(F.lit(1)).cast("long").alias("cn")
        )
        row = (
            grp.crossJoin(F.broadcast(vy))
            .agg(
                F.lit(name).alias("factor"),
                F.round(
                    1000000.0
                    * (
                        F.sum(F.col("cm") * F.col("cm") * F.col("cn"))
                        / F.max("n")
                        - F.max("mu") * F.max("mu")
                    )
                    / F.max("v")
                )
                .cast("long")
                .alias("s_ppm"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


@query("tsp_two_opt_certified")
def tsp_two_opt_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Travelling-salesman tour over the 25 nations (deterministic
    integer plane coordinates) by nearest-neighbour construction plus
    2-OPT descent to a local optimum — with the local optimality
    CERTIFIED DECLARATIVELY: the returned n_improving_swaps column
    recounts, by a relational join over all edge pairs of the final
    tour, how many 2-opt exchanges would still shorten it (must be
    0). The heuristic-at-scale counterpart of
    `held_karp_region_tour` (exact DP, 5 nodes): Held-Karp is
    O(2^n) and stops at ~20 nodes; NN+2opt is the workhorse at any
    n, and the certificate makes its quality claim checkable instead
    of asserted.

    Determinism: integer coordinates; first-improvement 2-opt scans
    (i, j) pairs in lexicographic order and restarts until a full
    clean pass, so the final tour is a pure function of the input.

    Scale shape: the closure is the nation coordinate relation
    (tiny); construction+descent run in one applyInPandas call; the
    certificate is a self-join of the 25-edge tour relation against
    the distance expression — the same join shape that would verify a
    billion-stop tour shard by shard.
    """
    import math

    import pandas as pd

    n = load_table(spark, sf_dir, "nation")
    pts = n.select(
        F.col("n_nationkey").cast("long").alias("id"),
        ((F.col("n_nationkey") * 6271) % 100000).cast("long").alias("x"),
        ((F.col("n_nationkey") * 31337) % 100000).cast("long").alias("y"),
    ).withColumn("g", F.lit(1))
    pts = pts.transform(_ckpt)

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].tolist()
        xy = {int(r["id"]): (int(r["x"]), int(r["y"])) for _, r in pdf.iterrows()}

        def d(a, b):
            ax, ay = xy[a]
            bx, by = xy[b]
            return math.sqrt((ax - bx) ** 2 + (ay - by) ** 2)

        # nearest neighbour from the smallest id
        start = min(ids)
        tour = [start]
        left = set(ids) - {start}
        while left:
            cur = tour[-1]
            nxt = min(left, key=lambda v: (d(cur, v), v))
            tour.append(nxt)
            left.remove(nxt)
        # first-improvement 2-opt to local optimality
        nn = len(tour)
        improved = True
        while improved:
            improved = False
            for i in range(nn - 1):
                for j in range(i + 2, nn):
                    if i == 0 and j == nn - 1:
                        continue  # same edge pair (wraparound)
                    a, b = tour[i], tour[i + 1]
                    c, e = tour[j], tour[(j + 1) % nn]
                    if d(a, c) + d(b, e) < d(a, b) + d(c, e) - 1e-9:
                        tour[i + 1 : j + 1] = reversed(tour[i + 1 : j + 1])
                        improved = True
            # loop until one full pass makes no exchange
        length = sum(d(tour[i], tour[(i + 1) % nn]) for i in range(nn))
        return pd.DataFrame(
            {
                "seq": list(range(1, nn + 1)),
                "nation_key": tour,
                "tour_len_micro": [int(round(length * 1000000))] * nn,
            }
        )

    tour = pts.groupBy("g").applyInPandas(
        solve, schema="seq long, nation_key long, tour_len_micro long"
    )
    tour = tour.transform(_ckpt)
    nn_ = tour.agg(F.max("seq").alias("m"))
    edges = (
        tour.crossJoin(F.broadcast(nn_))
        .alias("t")
        .join(
            tour.alias("u"),
            F.col("u.seq") == F.when(
                F.col("t.seq") == F.col("m"), 1
            ).otherwise(F.col("t.seq") + 1),
        )
        .join(pts.select(F.col("id").alias("ka"), F.col("x").alias("xa"), F.col("y").alias("ya")),
              F.col("t.nation_key") == F.col("ka"))
        .join(pts.select(F.col("id").alias("kb"), F.col("x").alias("xb"), F.col("y").alias("yb")),
              F.col("u.nation_key") == F.col("kb"))
        .select(
            F.col("t.seq").alias("ei"),
            F.col("ka"), F.col("kb"),
            F.sqrt(
                (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
                + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
            ).alias("len"),
            F.col("xa"), F.col("ya"),
            F.col("xb").alias("xb2"), F.col("yb").alias("yb2"),
        )
    )
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    cross_d = lambda x1, y1, x2, y2: F.sqrt(  # noqa: E731
        (F.col(x1) - F.col(x2)) * (F.col(x1) - F.col(x2))
        + (F.col(y1) - F.col(y2)) * (F.col(y1) - F.col(y2))
    )
    improving = (
        e1.join(e2, F.col("e2.ei") > F.col("e1.ei") + 1)
        .select(
            F.col("e1.ei").alias("i"),
            F.col("e2.ei").alias("j"),
            (
                cross_d("e1.xa", "e1.ya", "e2.xa", "e2.ya")
                + cross_d("e1.xb2", "e1.yb2", "e2.xb2", "e2.yb2")
                - F.col("e1.len")
                - F.col("e2.len")
            ).alias("delta"),
        )
        .crossJoin(F.broadcast(nn_))
        .filter(~((F.col("i") == 1) & (F.col("j") == F.col("m"))))
        .agg(
            F.sum(F.when(F.col("delta") < -1e-9, 1).otherwise(0))
            .cast("long")
            .alias("n_improving_swaps")
        )
    )
    return tour.crossJoin(F.broadcast(improving))


@query("lpt_makespan_certified")
def lpt_makespan_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-Processing-Time-first scheduling of the 100 largest
    orders onto 4 parallel machines, with Graham's approximation
    guarantee surfaced as a CERTIFICATE: the returned ratio of
    makespan to the lower bound max(total/m, longest job) must lie
    within LPT's proven 4/3 - 1/(3m) factor — so the row itself
    demonstrates near-optimality without solving the NP-hard optimum.
    The load-balancing member of the scheduling family
    (`johnsons_rule_flowshop` exact 2-machine, `edd_wspt_schedule_
    audit` due-date heuristics): LPT is what a shuffle planner does
    when it packs skewed partitions onto reducers.

    Determinism: integer cent job sizes; ties in the greedy
    least-loaded choice break on machine index, job order on
    (cents DESC, orderkey).

    Scale shape: top-100 selection is a TakeOrderedAndProject over
    the fact scan; the greedy packing is one applyInPandas closure
    call; certificate arithmetic is in-row. Planetary bin counts use
    the identical greedy per shard (this is literally AQE's skew
    mitigation shape).
    """
    import heapq

    import pandas as pd

    o = load_table(spark, sf_dir, "orders")
    jobs = (
        o.select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .orderBy(F.desc("cents"), "o_orderkey")
        .limit(100)
        .withColumn("g", F.lit(1))
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["cents", "o_orderkey"], ascending=[False, True]
        )
        m = 4
        heap = [(0, i) for i in range(m)]
        loads = [0] * m
        for _, row in pdf.iterrows():
            load, i = heapq.heappop(heap)
            loads[i] = load + int(row["cents"])
            heapq.heappush(heap, (loads[i], i))
        total = int(pdf["cents"].sum())
        longest = int(pdf["cents"].max())
        lb = max((total + m - 1) // m, longest)
        mk = max(loads)
        return pd.DataFrame(
            {
                "machine": list(range(m)),
                "load_cents": loads,
                "makespan_cents": [mk] * m,
                "lower_bound_cents": [lb] * m,
                "ratio_ppm": [(1000000 * mk) // lb] * m,
            }
        )

    return jobs.groupBy("g").applyInPandas(
        pack,
        schema=(
            "machine long, load_cents long, makespan_cents long, "
            "lower_bound_cents long, ratio_ppm long"
        ),
    )


_H2 = (
    "((i DIV 1) % 2) * 512 + ((i DIV 2) % 2) * 256"
    " + ((i DIV 4) % 2) * 128 + ((i DIV 8) % 2) * 64"
    " + ((i DIV 16) % 2) * 32 + ((i DIV 32) % 2) * 16"
    " + ((i DIV 64) % 2) * 8 + ((i DIV 128) % 2) * 4"
    " + ((i DIV 256) % 2) * 2 + ((i DIV 512) % 2)"
)
_H3 = (
    "((i DIV 1) % 3) * 729 + ((i DIV 3) % 3) * 243"
    " + ((i DIV 9) % 3) * 81 + ((i DIV 27) % 3) * 27"
    " + ((i DIV 81) % 3) * 9 + ((i DIV 243) % 3) * 3"
    " + ((i DIV 729) % 3)"
)


@query(
    "halton_qmc_integration",
    oracle=f"""
    WITH pts AS (
        SELECT i,
               CAST({_H2.replace("DIV", "//")} AS BIGINT) AS h2,
               CAST({_H3.replace("DIV", "//")} AS BIGINT) AS h3,
               CAST(((i * 2654435761) % 4294967296) % 1024 AS BIGINT)
                   AS r2,
               CAST(((i * 40503 + 2654435761) % 4294967296) % 2187
                   AS BIGINT) AS r3
        FROM (SELECT unnest(generate_series(1, 1024)) AS i)
    ), evals AS (
        SELECT n.n, m.method,
               CASE WHEN m.method = 'halton'
                    THEN CASE WHEN 2 * h2 * h3 < 1024 * 2187
                         THEN 1 ELSE 0 END
                    ELSE CASE WHEN 2 * r2 * r3 < 1024 * 2187
                         THEN 1 ELSE 0 END END AS hit
        FROM pts
        CROSS JOIN (SELECT unnest([64, 256, 1024]) AS n) n
        CROSS JOIN (SELECT unnest(['halton', 'hash-mc']) AS method) m
        WHERE pts.i <= n.n
    )
    SELECT CAST(n AS BIGINT) AS n_points, method,
           CAST((1000000 * SUM(hit)) // n AS BIGINT) AS estimate_ppm,
           CAST(846574 AS BIGINT) AS exact_ppm,
           CAST(ABS((1000000 * SUM(hit)) // n - 846574) AS BIGINT)
               AS abs_error_ppm
    FROM evals GROUP BY n, method
    """,
)
def halton_qmc_integration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quasi-Monte-Carlo integration audit: the area of the region
    xy < 1/2 on the unit square (exact value 1/2 + ln2/2 ~ 0.846574)
    estimated by the 2-3 Halton low-discrepancy sequence versus a
    multiplicative-hash pseudo-MC baseline, at n = 64/256/1024. The
    Halton coordinates are EXACT DYADIC/TRIADIC RATIONALS (10-digit
    bit reversal / 7-digit base-3 reversal), so the integrand test
    2*h2*h3 < 1024*2187 is pure integer arithmetic — a QMC pipeline
    with no floats at all. This is the sampling-design layer for
    approximate query processing: low-discrepancy point sets are how
    a scan-budgeted engine picks probe rows with guaranteed coverage,
    the deterministic upgrade of the hash sampling used by
    `per_group_hash_sample` / `bootstrap_ci_order_value`.

    Determinism: everything is integers, including the hash baseline
    (same multiplicative scheme as the bootstrap family).

    Scale shape: the point set is a generated literal relation
    (map-side); evaluation is one agg per (n, method). Against real
    data the same radical-inverse expressions index into a sorted key
    domain — the generator is the only thing that changes.
    """
    pts = spark.range(1, 1025).select(
        F.col("id").alias("i"),
        F.expr(_H2).cast("long").alias("h2"),
        F.expr(_H3).cast("long").alias("h3"),
        F.expr("((i * 2654435761) % 4294967296) % 1024")
        .cast("long")
        .alias("r2"),
        F.expr("((i * 40503 + 2654435761) % 4294967296) % 2187")
        .cast("long")
        .alias("r3"),
    )
    ns = spark.createDataFrame([(64,), (256,), (1024,)], "n long")
    methods = spark.createDataFrame(
        [("halton",), ("hash-mc",)], "method string"
    )
    evals = (
        pts.crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(methods))
        .filter(F.col("i") <= F.col("n"))
        .select(
            "n",
            "method",
            F.when(
                F.col("method") == "halton",
                F.when(
                    2 * F.col("h2") * F.col("h3") < 1024 * 2187, 1
                ).otherwise(0),
            )
            .otherwise(
                F.when(
                    2 * F.col("r2") * F.col("r3") < 1024 * 2187, 1
                ).otherwise(0)
            )
            .alias("hit"),
        )
    )
    return evals.groupBy("n", "method").agg(
        F.expr("(1000000 * SUM(hit)) DIV n").cast("long").alias("estimate_ppm"),
        F.lit(846574).cast("long").alias("exact_ppm"),
        F.expr("ABS((1000000 * SUM(hit)) DIV n - 846574)")
        .cast("long")
        .alias("abs_error_ppm"),
    ).select(
        F.col("n").cast("long").alias("n_points"),
        "method",
        "estimate_ppm",
        "exact_ppm",
        "abs_error_ppm",
    )


@query(
    "dorfman_pooling_design",
    oracle="""
    WITH base AS (
        SELECT p.p_brand AS brand,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN l.l_returnflag = 'R'
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_def
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1
    ), rates AS (
        SELECT brand, n, n_def, n_def * 1.0 / n AS p FROM base
    ), grid AS (
        SELECT rates.*, CAST(k.k AS BIGINT) AS k,
               1.0 / k.k + 1.0 - POW(1.0 - p, k.k) AS ept
        FROM rates,
             LATERAL (SELECT unnest(generate_series(2, 20)) AS k) k
    ), best AS (
        SELECT brand, n, n_def, k, ept FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY brand ORDER BY ept, k) AS rn
            FROM grid) t
        WHERE rn = 1
    )
    SELECT brand, n AS n_items, n_def AS n_defective,
           k AS best_pool_size,
           CAST(ROUND(1000000 * ept) AS BIGINT) AS tests_per_item_ppm,
           CAST(ROUND(1000000 * (1.0 - ept)) AS BIGINT) AS savings_ppm
    FROM best
    """,
)
def dorfman_pooling_design(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dorfman two-stage group-testing design per brand: with
    defective rate p (returned lineitems), pooling k items costs
    1/k + 1 - (1-p)^k expected tests per item (one pooled test
    amortized over k, plus individual retests when the pool fires);
    the integer pool size minimizing that — searched exactly over
    k = 2..20 — and the resulting savings are the classic
    quality-inspection economics (Dorfman 1943, the same math behind
    pooled PCR screening and pooled data-validation probes:
    `acceptance_sampling_oc` decides lot accept/reject, this decides
    HOW to spend the test budget).

    Determinism: exact defect counts; the expected-tests curve is
    evaluated on identical doubles with an (ept, k) argmin tie-break;
    ppm rounding at the end.

    Scale shape: one fact-scan agg to 25 brand rates, a 19-point
    literal grid crossed in-row, a windowed argmin — nothing after
    the first agg touches data volume.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    base = (
        l.join(
            F.broadcast(p.select(F.col("p_partkey").alias("l_partkey"), "p_brand")),
            "l_partkey",
        )
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("n_def"),
        )
    )
    rates = base.withColumn("p", F.col("n_def") * 1.0 / F.col("n"))
    ks = spark.range(2, 21).select(F.col("id").cast("long").alias("k"))
    grid = rates.crossJoin(F.broadcast(ks)).withColumn(
        "ept",
        1.0 / F.col("k") + 1.0 - F.pow(1.0 - F.col("p"), F.col("k")),
    )
    w = Window.partitionBy("brand").orderBy("ept", "k")
    best = grid.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return best.select(
        "brand",
        F.col("n").alias("n_items"),
        F.col("n_def").alias("n_defective"),
        F.col("k").alias("best_pool_size"),
        F.round(1000000 * F.col("ept")).cast("long").alias("tests_per_item_ppm"),
        F.round(1000000 * (1.0 - F.col("ept")))
        .cast("long")
        .alias("savings_ppm"),
    )


def _probit_sql(p: str) -> str:
    """Acklam inverse-normal-CDF as a SQL expression string (|rel err|
    < 1.15e-9). The SAME text is used in the DuckDB oracle and in
    Spark F.expr, so both engines evaluate an identical expression
    tree — IEEE doubles agree bit-for-bit."""
    a = (
        "-39.69683028665376", "220.9460984245205", "-275.9285104469687",
        "138.3577518672690", "-30.66479806614716", "2.506628277459239",
    )
    b = (
        "-54.47609879822406", "161.5858368580409", "-155.6989798598866",
        "66.80131188771972", "-13.28068155288572",
    )
    c = (
        "-0.007784894002430293", "-0.3223964580411365",
        "-2.400758277161838", "-2.549732539343734",
        "4.374664141464968", "2.938163982698783",
    )
    d = (
        "0.007784695709041462", "0.3224671290700398",
        "2.445134137142996", "3.754408661907416",
    )
    central = (
        f"((((({a[0]}*rr+{a[1]})*rr+{a[2]})*rr+{a[3]})*rr+{a[4]})*rr+{a[5]})"
        f"*qq / ((((({b[0]}*rr+{b[1]})*rr+{b[2]})*rr+{b[3]})*rr+{b[4]})*rr+1.0)"
    ).replace("qq", f"(({p})-0.5)").replace(
        "rr", f"((({p})-0.5)*(({p})-0.5))"
    )
    lower = (
        f"((((({c[0]}*ql+{c[1]})*ql+{c[2]})*ql+{c[3]})*ql+{c[4]})*ql+{c[5]})"
        f" / (((({d[0]}*ql+{d[1]})*ql+{d[2]})*ql+{d[3]})*ql+1.0)"
    ).replace("ql", f"SQRT(-2.0*LN(({p})))")
    upper = (
        f"-(((((({c[0]}*qu+{c[1]})*qu+{c[2]})*qu+{c[3]})*qu+{c[4]})*qu+{c[5]})"
        f" / (((({d[0]}*qu+{d[1]})*qu+{d[2]})*qu+{d[3]})*qu+1.0))"
    ).replace("qu", f"SQRT(-2.0*LN(1.0-({p})))")
    return (
        f"CASE WHEN ({p}) < 0.02425 THEN ({lower}) "
        f"WHEN ({p}) > 0.97575 THEN ({upper}) "
        f"ELSE ({central}) END"
    )


def _phi_sql(x: str) -> str:
    """Standard normal CDF (Zelen-Severo 26.2.17, |err| < 7.5e-8) as a
    shared SQL expression string."""
    core = (
        "1.0 - (EXP(-(xx*xx)/2.0)/2.5066282746310002) * "
        "(0.319381530*tt - 0.356563782*tt*tt + 1.781477937*tt*tt*tt "
        "- 1.821255978*tt*tt*tt*tt + 1.330274429*tt*tt*tt*tt*tt)"
    )
    pos = core.replace("tt", "(1.0/(1.0+0.2316419*xx))").replace(
        "xx", f"ABS({x})"
    )
    return f"CASE WHEN ({x}) >= 0.0 THEN ({pos}) ELSE (1.0 - ({pos})) END"


_BCA_Z0 = _probit_sql("frac_below")
_BCA_A1 = _phi_sql("z0 + (z0 - 1.959963984540054) / (1.0 - acc * (z0 - 1.959963984540054))")
_BCA_A2 = _phi_sql("z0 + (z0 + 1.959963984540054) / (1.0 - acc * (z0 + 1.959963984540054))")


@query(
    "bootstrap_bca_ci",
    oracle=f"""
    WITH w AS (
        SELECT b.b, o.o_orderkey,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
               ((o.o_orderkey * 2654435761 + b.b * 40503) % 4294967296)
                   % 3 AS wt
        FROM orders o,
             (SELECT unnest(generate_series(0, 99)) AS b) b
    ), means AS (
        SELECT b, SUM(wt * cents) * 1.0 / SUM(wt) AS m
        FROM w GROUP BY b HAVING SUM(wt) > 0
    ), hat AS (
        SELECT SUM(cents) * 1.0 / COUNT(*) AS th,
               SUM((cents - (SELECT SUM(cents) * 1.0 / COUNT(*)
                             FROM w WHERE b = 0))
                   * (cents - (SELECT SUM(cents) * 1.0 / COUNT(*)
                               FROM w WHERE b = 0))) AS m2,
               SUM((cents - (SELECT SUM(cents) * 1.0 / COUNT(*)
                             FROM w WHERE b = 0))
                   * (cents - (SELECT SUM(cents) * 1.0 / COUNT(*)
                               FROM w WHERE b = 0))
                   * (cents - (SELECT SUM(cents) * 1.0 / COUNT(*)
                               FROM w WHERE b = 0))) AS m3
        FROM w WHERE b = 0
    ), zz AS (
        SELECT GREATEST(LEAST(
                   (SELECT SUM(CASE WHEN m < hat.th THEN 1 ELSE 0 END)
                           * 1.0 / COUNT(*) FROM means),
                   0.995), 0.005) AS frac_below,
               hat.m3 / (6.0 * POW(hat.m2, 1.5)) AS acc,
               hat.th AS th
        FROM hat
    ), z0t AS (
        SELECT ({_BCA_Z0}) AS z0, acc, th FROM zz
    ), alphas AS (
        SELECT ({_BCA_A1}) AS a1, ({_BCA_A2}) AS a2, z0, acc, th
        FROM z0t
    ), ranked AS (
        SELECT m, CAST(ROW_NUMBER() OVER (ORDER BY m) - 1 AS BIGINT)
                   AS rk,
               CAST(COUNT(*) OVER () AS BIGINT) AS nb
        FROM means
    ), q1 AS (
        -- quantile_cont semantics with a non-constant fraction:
        -- idx = a*(n-1), linear interpolation between adjacent ranks
        SELECT MAX(CASE WHEN rk = CAST(FLOOR(a1 * (nb - 1)) AS BIGINT)
                        THEN m END)
               + MAX(a1 * (nb - 1) - FLOOR(a1 * (nb - 1)))
                 * (MAX(CASE WHEN rk = LEAST(
                            CAST(FLOOR(a1 * (nb - 1)) AS BIGINT) + 1,
                            nb - 1) THEN m END)
                    - MAX(CASE WHEN rk = CAST(FLOOR(a1 * (nb - 1))
                               AS BIGINT) THEN m END)) AS lo
        FROM ranked, alphas
    ), q2 AS (
        SELECT MAX(CASE WHEN rk = CAST(FLOOR(a2 * (nb - 1)) AS BIGINT)
                        THEN m END)
               + MAX(a2 * (nb - 1) - FLOOR(a2 * (nb - 1)))
                 * (MAX(CASE WHEN rk = LEAST(
                            CAST(FLOOR(a2 * (nb - 1)) AS BIGINT) + 1,
                            nb - 1) THEN m END)
                    - MAX(CASE WHEN rk = CAST(FLOOR(a2 * (nb - 1))
                               AS BIGINT) THEN m END)) AS hi
        FROM ranked, alphas
    )
    SELECT CAST((SELECT COUNT(*) FROM means) AS BIGINT) AS n_resamples,
           ROUND(alphas.th, 4) AS theta_hat,
           ROUND(alphas.z0, 6) AS z0,
           ROUND(alphas.acc, 6) AS acceleration,
           ROUND(q1.lo, 4) AS bca_lo,
           ROUND(q2.hi, 4) AS bca_hi
    FROM alphas, q1, q2
    """,
)
def bootstrap_bca_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BCa (bias-corrected and accelerated) bootstrap confidence
    interval for mean order cents, on the SAME 100 deterministic
    hash-weighted resamples as `bootstrap_ci_order_value`: the bias
    correction z0 = probit(fraction of replicate means below the
    estimate) and the jackknife acceleration (which for the mean
    collapses exactly to skewness/(6*sqrt-law): sum d^3 / (6 (sum
    d^2)^1.5), the (n-1) factors cancel) SHIFT the percentile
    endpoints to second-order-correct coverage — the difference
    between BCa and raw percentile bounds is precisely the skewness
    of order values that `bootstrap_ci_order_value` ignores. Probit
    and normal CDF are evaluated from Acklam / Zelen-Severo rational
    polynomials whose EXPRESSION TEXT is shared between the DuckDB
    oracle and Spark's F.expr — identical trees, identical doubles.

    Determinism: the repo's multiplicative-hash bootstrap weights;
    polynomial special functions instead of engine-specific erf;
    fraction clamped to [0.005, 0.995]; rounding at the end.

    Scale shape: the resample fan-out is map-side (literal range
    cross), three moment censuses stream with map-side partials, and
    the special-function arithmetic runs on 1-row relations.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.explode(F.expr("sequence(0, 99)")).alias("b"),
    ).select(
        "b",
        "cents",
        F.expr(
            "((o_orderkey * 2654435761 + b * 40503) % 4294967296) % 3"
        ).alias("wt"),
    )
    means = (
        w.groupBy("b")
        .agg(
            F.sum(F.col("wt") * F.col("cents")).alias("num"),
            F.sum("wt").alias("den"),
        )
        .filter(F.col("den") > 0)
        .select("b", (F.col("num") * 1.0 / F.col("den")).alias("m"))
    )
    means = _ckpt(means)  # shared fan-out relation
    base = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    th = base.agg((F.sum("cents") * 1.0 / F.count(F.lit(1))).alias("th"))
    devs = base.crossJoin(F.broadcast(th)).select(
        (F.col("cents") - F.col("th")).alias("d"), "th"
    )
    hat = devs.groupBy("th").agg(
        F.sum(F.col("d") * F.col("d")).alias("m2"),
        F.sum(F.col("d") * F.col("d") * F.col("d")).alias("m3"),
    )
    hat = _ckpt(hat)  # shared fan-out relation
    frac = (
        means.crossJoin(F.broadcast(hat))
        .agg(
            (
                F.sum(F.when(F.col("m") < F.col("th"), 1).otherwise(0))
                * 1.0
                / F.count(F.lit(1))
            ).alias("fb"),
            F.count(F.lit(1)).cast("long").alias("nb"),
        )
    )
    zz = (
        hat.crossJoin(F.broadcast(frac))
        .select(
            F.expr("GREATEST(LEAST(fb, 0.995), 0.005)").alias("frac_below"),
            (F.col("m3") / (6.0 * F.pow(F.col("m2"), 1.5))).alias("acc"),
            "th",
            "nb",
        )
    )
    z0t = zz.select(
        F.expr(_BCA_Z0).alias("z0"), "acc", "th", "nb"
    )
    alphas = z0t.select(
        F.expr(_BCA_A1).alias("a1"),
        F.expr(_BCA_A2).alias("a2"),
        "z0",
        "acc",
        "th",
        "nb",
    )
    ranked = means.select(
        "m",
        (F.row_number().over(Window.orderBy("m")) - 1)
        .cast("long")
        .alias("rk"),
    )

    def interp_quantile(adf: DataFrame, acol: str, out: str) -> DataFrame:
        # quantile_cont semantics: idx = a*(n-1); linear interpolation
        # between floor and ceil ranks
        j = adf.crossJoin(ranked)
        k = F.floor(F.col(acol) * (F.col("nb") - 1)).cast("long")
        frac = F.col(acol) * (F.col("nb") - 1) - k
        lo_v = F.max(F.when(F.col("rk") == k, F.col("m")))
        hi_v = F.max(
            F.when(
                F.col("rk") == F.least(k + 1, F.col("nb") - 1), F.col("m")
            )
        )
        return j.groupBy("nb", "th", "z0", "acc", "a1", "a2").agg(
            (lo_v + F.max(frac) * (hi_v - lo_v)).alias(out)
        )

    q1 = interp_quantile(alphas, "a1", "lo")
    q2 = interp_quantile(alphas, "a2", "hi").select("nb", "hi")
    qs = q1.join(F.broadcast(q2), "nb")
    return qs.select(
        F.col("nb").alias("n_resamples"),
        F.round("th", 4).alias("theta_hat"),
        F.round("z0", 6).alias("z0"),
        F.round("acc", 6).alias("acceleration"),
        F.round("lo", 4).alias("bca_lo"),
        F.round("hi", 4).alias("bca_hi"),
    )


@query("lp_duality_certified")
def lp_duality_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tiny production-mix LINEAR PROGRAM solved to PROVEN optimality:
    choose per-brand production quantities (the 5 alphabetically
    first brands; objective = average retail cents) under a scaled
    size budget, a total count budget, and per-brand caps, via exact
    rational simplex (Fractions, Bland's anti-cycling rule). The
    result ships its own optimality proof — strong duality: the
    returned primal and dual objectives are EQUAL, every primal row
    is feasible (slack >= 0), every dual multiplier is >= 0, and
    complementary slackness holds pairwise (x * reduced_cost = 0,
    dual * slack = 0) — all pinned by the invariant test. The
    continuous-optimization anchor of the certified family
    (`maxflow_mincut_trade`, `konig_matching_cover`,
    `assignment_optimal_exact` are its combinatorial specializations).

    Determinism: integer micro coefficients from exact DIV averages;
    rational arithmetic end-to-end; Bland's rule fixes the pivot
    sequence.

    Scale shape: coefficient estimation is one fact agg; the m x n
    solve is one applyInPandas closure call. Production LPs with
    millions of columns use the same certificate — duality gap and
    complementary slackness are always O(nnz) postchecks, which is
    why solvers report them.
    """
    import pandas as pd

    p = load_table(spark, sf_dir, "part")
    brands5 = (
        p.select("p_brand")
        .distinct()
        .orderBy("p_brand")
        .limit(5)
        .select(F.col("p_brand").alias("brand"))
    )
    coefs = (
        p.join(F.broadcast(brands5), p["p_brand"] == brands5["brand"])
        .groupBy("brand")
        .agg(
            F.expr(
                "CAST(ROUND(SUM(p_retailprice) * 100) AS BIGINT)"
                " DIV COUNT(*)"
            )
            .cast("long")
            .alias("c_cents"),
            F.expr(
                "CAST(ROUND(SUM(p_size) * 100) AS BIGINT) DIV COUNT(*)"
            )
            .cast("long")
            .alias("size_scaled"),
        )
        .withColumn("g", F.lit(1))
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        from fractions import Fraction as Fr

        pdf = pdf.sort_values("brand")
        brands = pdf["brand"].tolist()
        c = [Fr(int(v)) for v in pdf["c_cents"]]
        sz = [Fr(int(v)) for v in pdf["size_scaled"]]
        nv = len(brands)
        # constraints: size budget, count budget, per-brand caps
        A = [sz, [Fr(1)] * nv]
        b = [Fr(150000), Fr(100)]
        cons = ["size_budget", "count_budget"]
        for i, br in enumerate(brands):
            row = [Fr(0)] * nv
            row[i] = Fr(1)
            A.append(row)
            b.append(Fr(40))
            cons.append(f"cap_{br}")
        m = len(A)
        # simplex tableau: maximize c x, slack basis start
        T = [A[i][:] + [Fr(1) if j == i else Fr(0) for j in range(m)] + [b[i]]
             for i in range(m)]
        obj = [-x for x in c] + [Fr(0)] * m + [Fr(0)]
        basis = [nv + i for i in range(m)]
        while True:
            # Bland: entering = smallest index with negative cost
            enter = next(
                (j for j in range(nv + m) if obj[j] < 0), None
            )
            if enter is None:
                break
            # ratio test, Bland ties by row basis index
            best = None
            for i in range(m):
                if T[i][enter] > 0:
                    r = T[i][-1] / T[i][enter]
                    if best is None or r < best[0] or (
                        r == best[0] and basis[i] < basis[best[1]]
                    ):
                        best = (r, i)
            piv = best[1]
            pv = T[piv][enter]
            T[piv] = [x / pv for x in T[piv]]
            for i in range(m):
                if i != piv and T[i][enter] != 0:
                    f = T[i][enter]
                    T[i] = [x - f * y for x, y in zip(T[i], T[piv])]
            f = obj[enter]
            obj = [x - f * y for x, y in zip(obj, T[piv])]
            basis[piv] = enter
        x = [Fr(0)] * nv
        for i, bi in enumerate(basis):
            if bi < nv:
                x[bi] = T[i][-1]
        duals = [obj[nv + i] for i in range(m)]
        reduced = [obj[j] for j in range(nv)]
        primal_obj = sum(ci * xi for ci, xi in zip(c, x))
        dual_obj = sum(yi * bi for yi, bi in zip(duals, b))
        slacks = [
            bi - sum(A[i][j] * x[j] for j in range(nv))
            for i, bi in enumerate(b)
        ]
        rows = []
        for j, br in enumerate(brands):
            rows.append(
                {
                    "kind": "variable",
                    "name": br,
                    "value_micro": int(x[j] * 1000000),
                    "partner_micro": int(reduced[j] * 1000000),
                    "primal_obj_micro": int(primal_obj * 1000000),
                    "dual_obj_micro": int(dual_obj * 1000000),
                }
            )
        for i, cn in enumerate(cons):
            rows.append(
                {
                    "kind": "constraint",
                    "name": cn,
                    "value_micro": int(duals[i] * 1000000),
                    "partner_micro": int(slacks[i] * 1000000),
                    "primal_obj_micro": int(primal_obj * 1000000),
                    "dual_obj_micro": int(dual_obj * 1000000),
                }
            )
        return pd.DataFrame(rows)

    return coefs.groupBy("g").applyInPandas(
        solve,
        schema=(
            "kind string, name string, value_micro long, partner_micro long,"
            " primal_obj_micro long, dual_obj_micro long"
        ),
    )


@query(
    "getis_ord_hotspots",
    oracle="""
    WITH pts AS (
        SELECT (c_custkey * 7919) % 100000 AS x,
               (c_custkey * 104729) % 100000 AS y,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS v
        FROM customer
    ), cells AS (
        SELECT CAST(x // 10000 AS BIGINT) AS cx,
               CAST(y // 10000 AS BIGINT) AS cy,
               CAST(SUM(v) AS BIGINT) AS v
        FROM pts GROUP BY 1, 2
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(v) * 1.0 / COUNT(*) AS xbar,
               SQRT(SUM(v * v) * 1.0 / COUNT(*)
                    - (SUM(v) * 1.0 / COUNT(*))
                      * (SUM(v) * 1.0 / COUNT(*))) AS s
        FROM cells
    ), nbr AS (
        SELECT a.cx, a.cy,
               CAST(SUM(b.v) AS BIGINT) AS wsum,
               CAST(COUNT(*) AS BIGINT) AS wn
        FROM cells a JOIN cells b
          ON ABS(a.cx - b.cx) <= 1 AND ABS(a.cy - b.cy) <= 1
        GROUP BY 1, 2
    )
    SELECT nbr.cx, nbr.cy, nbr.wn AS n_neighbors,
           ROUND((nbr.wsum - stats.xbar * nbr.wn)
                 / (stats.s * SQRT((stats.n * nbr.wn - nbr.wn * nbr.wn)
                                   * 1.0 / (stats.n - 1))), 6) AS gi_star
    FROM nbr, stats
    """,
)
def getis_ord_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hotspot statistic on a 10x10 grid of customer
    account balance (deterministic plane coordinates, 8-neighborhood
    + self weights): for each cell, the z-score of its neighborhood
    SUM against the global mean — the local statistic that answers
    'WHERE are the clusters?' after `spatial_moran_i` (global
    clustering yes/no) and `join_count_spatial` (binary adjacency)
    say one exists. |Gi*| > 1.96 cells are the 5%-significant hot or
    cold spots a territory planner acts on.

    Determinism: integer cell sums from exact cent values; the
    z-score pipeline uses identical double expression trees (same
    discipline as the SAX z-normalization) and rounds once.

    Scale shape: one grid agg over the point scan, then a 9-cell
    neighborhood self-join of the TINY cell relation and a broadcast
    1-row stats join — the points themselves never enter the
    neighborhood join (this is the raster trick: aggregate first,
    neighbor-join the raster, never the points).
    """
    c = load_table(spark, sf_dir, "customer")
    pts = c.select(
        ((F.col("c_custkey") * 7919) % 100000).alias("x"),
        ((F.col("c_custkey") * 104729) % 100000).alias("y"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("v"),
    )
    cells = pts.groupBy(
        F.expr("x DIV 10000").cast("long").alias("cx"),
        F.expr("y DIV 10000").cast("long").alias("cy"),
    ).agg(F.sum("v").cast("long").alias("v"))
    n_ = F.count(F.lit(1))
    stats = cells.agg(
        n_.cast("long").alias("n"),
        (F.sum("v") * 1.0 / n_).alias("xbar"),
        F.sqrt(
            F.sum(F.col("v") * F.col("v")) * 1.0 / n_
            - (F.sum("v") * 1.0 / n_) * (F.sum("v") * 1.0 / n_)
        ).alias("s"),
    )
    a, b = cells.alias("a"), cells.alias("b")
    nbr = (
        a.join(
            b,
            (F.abs(F.col("a.cx") - F.col("b.cx")) <= 1)
            & (F.abs(F.col("a.cy") - F.col("b.cy")) <= 1),
        )
        .groupBy(F.col("a.cx").alias("cx"), F.col("a.cy").alias("cy"))
        .agg(
            F.sum("b.v").cast("long").alias("wsum"),
            F.count(F.lit(1)).cast("long").alias("wn"),
        )
    )
    return nbr.crossJoin(F.broadcast(stats)).select(
        "cx",
        "cy",
        F.col("wn").alias("n_neighbors"),
        F.round(
            (F.col("wsum") - F.col("xbar") * F.col("wn"))
            / (
                F.col("s")
                * F.sqrt(
                    (F.col("n") * F.col("wn") - F.col("wn") * F.col("wn"))
                    * 1.0
                    / (F.col("n") - 1)
                )
            ),
            6,
        ).alias("gi_star"),
    )


@query("number_partition_kk_vs_exact")
def number_partition_kk_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced two-way number partitioning of the 24 largest order
    values: the Karmarkar-Karp DIFFERENCING heuristic versus the true
    optimum computed by meet-in-the-middle enumeration (2 x 2^12
    subset sums, exact) — the canonical hard-instance audit for load
    balancing two warehouses/shards, and the two-bin special case
    whose m-bin sibling is `lpt_makespan_certified` (KK dominates LPT
    for balance). Invariants pin exact <= kk, parity (any achievable
    difference has the total's parity), and nonnegativity.

    Determinism: integer cents; KK's max-heap differencing breaks
    ties on value then orderkey rank; meet-in-middle is exhaustive so
    order-free.

    Scale shape: top-k selection prunes the fact scan
    (TakeOrderedAndProject); both solvers run in one applyInPandas
    closure call (2^12 sums = 4096 ints per half). Real shard
    balancing runs KK per window — exact only audits samples, which
    is precisely what this query is.
    """
    import heapq
    from itertools import combinations

    import pandas as pd

    o = load_table(spark, sf_dir, "orders")
    jobs = (
        o.select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .orderBy(F.desc("cents"), "o_orderkey")
        .limit(24)
        .withColumn("g", F.lit(1))
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = sorted(int(v) for v in pdf["cents"])
        total = sum(vals)
        # Karmarkar-Karp differencing
        heap = [-v for v in vals]
        heapq.heapify(heap)
        while len(heap) > 1:
            a = -heapq.heappop(heap)
            b = -heapq.heappop(heap)
            heapq.heappush(heap, -(a - b))
        kk_diff = -heap[0]
        # exact: meet in the middle
        half1, half2 = vals[:12], vals[12:]

        def sums(arr):
            out = set()
            for r in range(len(arr) + 1):
                for comb in combinations(arr, r):
                    out.add(sum(comb))
            return sorted(out)

        s1 = sums(half1)
        s2 = sums(half2)
        import bisect

        best = total
        target = total / 2.0
        for a in s1:
            want = target - a
            j = bisect.bisect_left(s2, want)
            for jj in (j - 1, j):
                if 0 <= jj < len(s2):
                    diff = abs(total - 2 * (a + s2[jj]))
                    best = min(best, diff)
        return pd.DataFrame(
            {
                "n_items": [len(vals)],
                "total_cents": [total],
                "kk_diff_cents": [kk_diff],
                "exact_diff_cents": [best],
            }
        )

    return jobs.groupBy("g").applyInPandas(
        solve,
        schema=(
            "n_items long, total_cents long, kk_diff_cents long, "
            "exact_diff_cents long"
        ),
    )


@query(
    "ski_rental_competitive_audit",
    oracle="""
    WITH dur AS (
        SELECT user_id,
               CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS d
        FROM events GROUP BY 1
    ), costs AS (
        SELECT user_id, d,
               CASE WHEN d < 10 THEN d ELSE 10 END AS opt_cost,
               CASE WHEN d < 10 THEN d ELSE 9 + 10 END AS online_cost
        FROM dur
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(opt_cost) AS BIGINT) AS total_opt,
           CAST(SUM(online_cost) AS BIGINT) AS total_online,
           CAST(MAX((1000000 * online_cost) // opt_cost) AS BIGINT)
               AS worst_ratio_ppm,
           CAST((1000000 * SUM(online_cost)) // SUM(opt_cost) AS BIGINT)
               AS aggregate_ratio_ppm
    FROM costs
    """,
)
def ski_rental_competitive_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ski-rental replay on user activity spans: renting costs 1 per
    active day, buying costs B = 10, the break-even ONLINE rule rents
    through day B-1 then buys on day B, and offline OPT pays
    min(duration, B). Per-user online cost is at most (2B-1)/B = 1.9x
    OPT — the textbook competitive-analysis guarantee, here AUDITED
    against the empirical duration distribution (worst and aggregate
    ratios in ppm). The decision template for cache-vs-recompute,
    spot-vs-reserved, and materialize-vs-rescan choices
    (`cache_residency_economics` prices the same tradeoff with real
    reuse times; ski rental is its adversarial bound).

    Determinism: integer day counts and costs; floor-division ppm.

    Scale shape: one distinct-day agg per user (map-side partial),
    then scalar aggregates — the replay is closed-form per row, no
    iteration anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    dur = ev.groupBy("user_id").agg(
        F.countDistinct(F.to_date("ts")).cast("long").alias("d")
    )
    costs = dur.select(
        "user_id",
        "d",
        F.when(F.col("d") < 10, F.col("d")).otherwise(F.lit(10)).alias(
            "opt_cost"
        ),
        F.when(F.col("d") < 10, F.col("d")).otherwise(F.lit(19)).alias(
            "online_cost"
        ),
    )
    return costs.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("opt_cost").cast("long").alias("total_opt"),
        F.sum("online_cost").cast("long").alias("total_online"),
        F.max(F.expr("(1000000 * online_cost) DIV opt_cost"))
        .cast("long")
        .alias("worst_ratio_ppm"),
        F.expr("(1000000 * SUM(online_cost)) DIV SUM(opt_cost)")
        .cast("long")
        .alias("aggregate_ratio_ppm"),
    )


@query(
    "ewma_control_chart",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(ROUND(SUM(value) * 100) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), r AS (
        SELECT day, x,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t
        FROM d
    ), stats AS (
        SELECT SUM(x) * 1.0 / COUNT(*) AS mu,
               SQRT(SUM(x * x) * 1.0 / COUNT(*)
                    - (SUM(x) * 1.0 / COUNT(*))
                      * (SUM(x) * 1.0 / COUNT(*))) AS s
        FROM r
    ), ewma AS (
        SELECT r.day, r.t, r.x, stats.mu, stats.s,
               stats.mu * POW(0.8, r.t)
               + 0.2 * (SELECT SUM(r2.x * POW(0.8, r.t - r2.t))
                        FROM r r2 WHERE r2.t <= r.t) AS z
        FROM r, stats
    )
    SELECT day, x,
           ROUND(z, 4) AS ewma,
           ROUND(mu + 3.0 * s * SQRT(0.2 / 1.8
                 * (1.0 - POW(0.64, t))), 4) AS ucl,
           ROUND(mu - 3.0 * s * SQRT(0.2 / 1.8
                 * (1.0 - POW(0.64, t))), 4) AS lcl,
           CAST(CASE WHEN z > mu + 3.0 * s * SQRT(0.2 / 1.8
                          * (1.0 - POW(0.64, t)))
                      OR z < mu - 3.0 * s * SQRT(0.2 / 1.8
                          * (1.0 - POW(0.64, t)))
                THEN 1 ELSE 0 END AS BIGINT) AS breach
    FROM ewma
    """,
)
def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (lambda = 0.2, 3-sigma, exact
    time-varying limits with the 1-(1-lambda)^2t variance inflation
    factor) on daily revenue cents: the small-persistent-shift
    detector that completes the SPC trio — `xbar_r_control_chart`
    (large shifts), `cusum_changepoint_daily` / `page_hinkley_drift`
    (cumulative), EWMA (geometric memory, the chart of choice for
    drift a single point never trips). The recursion z_t = (1-l)
    z_{t-1} + l x_t is UNROLLED into its closed convolution form
    mu*(1-l)^t + l * sum x_i (1-l)^(t-i), so the whole chart is
    windows + powers — no sequential state.

    Determinism: exact integer cents; both engines evaluate identical
    power-sum expression trees per row (the geometric weights decay
    to ~1e-3 at depth 30 — no overflow, no cancellation); one
    rounding per output.

    Scale shape: per-day convolution against earlier days is an
    O(n^2) correlated sum at audit scale; the production form is the
    sequential EWMA in `streaming/jobs.py` state — this query is its
    exact closed-form spec, one day-grid self-join, parallel over
    series keys.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100).cast("long").alias("x")
    )
    r = d.select(
        "day",
        "x",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
    )
    n_ = F.count(F.lit(1))
    stats = r.agg(
        (F.sum("x") * 1.0 / n_).alias("mu"),
        F.sqrt(
            F.sum(F.col("x") * F.col("x")) * 1.0 / n_
            - (F.sum("x") * 1.0 / n_) * (F.sum("x") * 1.0 / n_)
        ).alias("s"),
    )
    r2 = r.select(F.col("t").alias("t2"), F.col("x").alias("x2"))
    conv = (
        r.join(r2, F.col("t2") <= F.col("t"))
        .groupBy("day", "t", "x")
        .agg(
            F.sum(
                F.col("x2") * F.pow(F.lit(0.8), F.col("t") - F.col("t2"))
            ).alias("cs")
        )
    )
    lim = F.lit(3.0) * F.col("s") * F.sqrt(
        F.lit(0.2 / 1.8) * (1.0 - F.pow(F.lit(0.64), F.col("t")))
    )
    z = F.col("mu") * F.pow(F.lit(0.8), F.col("t")) + 0.2 * F.col("cs")
    return conv.crossJoin(F.broadcast(stats)).select(
        "day",
        "x",
        F.round(z, 4).alias("ewma"),
        F.round(F.col("mu") + lim, 4).alias("ucl"),
        F.round(F.col("mu") - lim, 4).alias("lcl"),
        F.when(
            (z > F.col("mu") + lim) | (z < F.col("mu") - lim), 1
        )
        .otherwise(0)
        .cast("long")
        .alias("breach"),
    )


@query(
    "hyperexponential_mom_fit",
    oracle="""
    WITH ia AS (
        SELECT (epoch_us(ts) - epoch_us(LAG(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)))
               / 1000000.0 AS gap_s
        FROM events WHERE event_type = 'purchase'
    ), pos AS (
        SELECT gap_s FROM ia WHERE gap_s IS NOT NULL AND gap_s > 0
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(gap_s) / COUNT(*) AS m1,
               SUM(gap_s * gap_s) / COUNT(*) AS m2
        FROM pos
    ), cv AS (
        SELECT n, m1, m2,
               (m2 - m1 * m1) / (m1 * m1) AS cv2
        FROM mom
    ), fit AS (
        -- balanced-means 2-phase hyperexponential (Whitt): requires
        -- cv2 > 1; p = (1 + sqrt((cv2-1)/(cv2+1)))/2,
        -- l1 = 2p/m1, l2 = 2(1-p)/m1
        SELECT n, m1, cv2,
               (1.0 + SQRT((cv2 - 1.0) / (cv2 + 1.0))) / 2.0 AS p
        FROM cv
    )
    SELECT n AS n_gaps,
           ROUND(m1, 4) AS mean_gap_s,
           ROUND(cv2, 6) AS cv2,
           ROUND(p, 6) AS p_phase1,
           ROUND(2.0 * p / m1, 9) AS lambda1,
           ROUND(2.0 * (1.0 - p) / m1, 9) AS lambda2
    FROM fit
    """,
)
def hyperexponential_mom_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase hyperexponential (H2) fit to purchase interarrival
    gaps by the balanced-means method of moments (Whitt): with
    squared coefficient of variation cv2 > 1 (burstier than Poisson),
    p = (1 + sqrt((cv2-1)/(cv2+1)))/2 and rates 2p/m1, 2(1-p)/m1
    reproduce the first two moments exactly — the standard bursty
    arrival model plugged into queueing formulas
    (`kingman_vut_audit`'s variability term, `erlang_c_staffing`'s
    Poisson assumption is the cv2 = 1 boundary this fit tests;
    `gamma_mom_interarrival` is the cv2 < 1 smooth-side sibling).

    Determinism: epoch-second gaps are exact; moment expressions are
    identical double trees; rounding at the end.

    Scale shape: one LAG window per user, one global moment census —
    the fit is closed-form arithmetic on a 1-row relation.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ia = ev.filter(F.col("event_type") == "purchase").select(
        (
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(
                    F.lag("ts").over(w).cast("timestamp")
                )
            )
            / 1000000.0
        ).alias("gap_s")
    )
    pos = ia.filter(F.col("gap_s").isNotNull() & (F.col("gap_s") > 0)).select(
        F.col("gap_s").cast("double").alias("gap_s")
    )
    n_ = F.count(F.lit(1))
    mom = pos.agg(
        n_.cast("long").alias("n"),
        (F.sum("gap_s") / n_).alias("m1"),
        (F.sum(F.col("gap_s") * F.col("gap_s")) / n_).alias("m2"),
    )
    cv = mom.select(
        "n",
        "m1",
        ((F.col("m2") - F.col("m1") * F.col("m1")) / (F.col("m1") * F.col("m1"))).alias(
            "cv2"
        ),
    )
    fit = cv.select(
        "n",
        "m1",
        "cv2",
        (
            (1.0 + F.sqrt((F.col("cv2") - 1.0) / (F.col("cv2") + 1.0))) / 2.0
        ).alias("p"),
    )
    return fit.select(
        F.col("n").alias("n_gaps"),
        F.round("m1", 4).alias("mean_gap_s"),
        F.round("cv2", 6).alias("cv2"),
        F.round("p", 6).alias("p_phase1"),
        F.round(2.0 * F.col("p") / F.col("m1"), 9).alias("lambda1"),
        F.round(2.0 * (1.0 - F.col("p")) / F.col("m1"), 9).alias("lambda2"),
    )


@query(
    "haar_synopsis_topk",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(ROUND(SUM(value) * 100) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), slots AS (
        SELECT CAST(g.t AS BIGINT) AS t,
               COALESCE(r.x, 0) AS x
        FROM (SELECT unnest(generate_series(1, 32)) AS t) g
        LEFT JOIN (SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY day)
                        AS BIGINT) AS t FROM d) r
          ON r.t = g.t
    ), s1 AS (
        SELECT (t + 1) // 2 AS i,
               CAST(SUM(CASE WHEN t % 2 = 1 THEN x ELSE x END) AS BIGINT)
                   AS s,
               CAST(SUM(CASE WHEN t % 2 = 1 THEN x ELSE -x END) AS BIGINT)
                   AS dd
        FROM slots GROUP BY 1
    ), s2 AS (
        SELECT (i + 1) // 2 AS i, CAST(SUM(s) AS BIGINT) AS s,
               CAST(SUM(CASE WHEN i % 2 = 1 THEN s ELSE -s END) AS BIGINT)
                   AS dd
        FROM s1 GROUP BY 1
    ), s3 AS (
        SELECT (i + 1) // 2 AS i, CAST(SUM(s) AS BIGINT) AS s,
               CAST(SUM(CASE WHEN i % 2 = 1 THEN s ELSE -s END) AS BIGINT)
                   AS dd
        FROM s2 GROUP BY 1
    ), s4 AS (
        SELECT (i + 1) // 2 AS i, CAST(SUM(s) AS BIGINT) AS s,
               CAST(SUM(CASE WHEN i % 2 = 1 THEN s ELSE -s END) AS BIGINT)
                   AS dd
        FROM s3 GROUP BY 1
    ), s5 AS (
        SELECT (i + 1) // 2 AS i, CAST(SUM(s) AS BIGINT) AS s,
               CAST(SUM(CASE WHEN i % 2 = 1 THEN s ELSE -s END) AS BIGINT)
                   AS dd
        FROM s4 GROUP BY 1
    ), details AS (
        SELECT 1 AS lvl, i, dd FROM s1
        UNION ALL SELECT 2, i, dd FROM s2
        UNION ALL SELECT 3, i, dd FROM s3
        UNION ALL SELECT 4, i, dd FROM s4
        UNION ALL SELECT 5, i, dd FROM s5
    ), kept AS (
        SELECT lvl, i, dd FROM (
            SELECT lvl, i, dd,
                   ROW_NUMBER() OVER (
                       ORDER BY dd * dd * (CASE lvl WHEN 1 THEN 16
                           WHEN 2 THEN 8 WHEN 3 THEN 4 WHEN 4 THEN 2
                           ELSE 1 END) DESC, lvl, i) AS rn
            FROM details) t
        WHERE rn <= 7
    ), recon AS (
        SELECT slots.t,
               CAST(slots.x AS BIGINT) AS x,
               CAST((SELECT s FROM s5) AS BIGINT)
               + CAST(COALESCE(SUM(
                     kept.dd
                     * (CASE WHEN slots.t <= (kept.i * 2 - 1)
                                  * POW(2, kept.lvl - 1)
                             THEN 1 ELSE -1 END)
                     * (CASE kept.lvl WHEN 1 THEN 16 WHEN 2 THEN 8
                        WHEN 3 THEN 4 WHEN 4 THEN 2 ELSE 1 END)), 0)
                 AS BIGINT) AS r32
        FROM slots
        LEFT JOIN kept
          ON slots.t > (kept.i - 1) * POW(2, kept.lvl)
         AND slots.t <= kept.i * POW(2, kept.lvl)
        GROUP BY slots.t, slots.x
    )
    SELECT CAST(32 AS BIGINT) AS n_slots, CAST(8 AS BIGINT) AS k_kept,
           CAST(SUM((32 * x - r32) * (32 * x - r32)) AS BIGINT)
               AS sse_scaled,
           CAST(SUM(32 * x * 32 * x) AS BIGINT) AS energy_scaled,
           -- scale by 2^20 first: 10^6 * SSE overflows BIGINT
           CAST(1000000 - (1000000 * (SUM((32 * x - r32)
                * (32 * x - r32)) // 1048576))
                // (SUM(32 * x * 32 * x) // 1048576) AS BIGINT)
               AS retained_ppm
    FROM recon
    """,
)
def haar_synopsis_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet SYNOPSIS of the daily revenue series: the
    zero-padded 32-slot series is transformed with the unnormalized
    Haar pyramid (pairwise sums and differences — all BIGINTs), the
    top-7 detail coefficients by true L2 contribution (d^2 * 2^(5-l),
    an exact integer key) are kept along with the DC term, and the
    series is reconstructed DIRECTLY from the kept coefficients via
    the support-sign formula 32*x_t ~ s5 + sum d_l[i] * sign *
    2^(5-l) — so compression error is an exact integer SSE. This is
    the classic wavelet synopsis for approximate range queries
    (Matias-Vitter-Wang): `haar_wavelet_energy` reports the spectrum,
    this query builds the 8-coefficient summary an AQP engine would
    store and prices its error.

    Determinism: integers end-to-end (the x32 scaling clears every
    dyadic denominator); coefficient selection ties break on
    (level, index).

    Scale shape: five pairwise-reduction aggs (log n levels), a
    top-k window over 31 coefficients, and a support-range join of
    32 slots x 7 kept coefficients — all constant-size after the
    day-grid agg; per-series parallelism by keying every stage.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100).cast("long").alias("x")
    )
    r = d.select(
        "x",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
    )
    slots = (
        spark.range(1, 33)
        .select(F.col("id").cast("long").alias("t"))
        .join(r, "t", "left")
        .select("t", F.coalesce("x", F.lit(0)).alias("x"))
    )
    slots = _ckpt(slots)  # shared fan-out relation
    lvl_dfs = []
    cur = slots.select(F.col("t").alias("i"), F.col("x").alias("s"))
    for lvl in range(1, 6):
        nxt = cur.groupBy(
            F.expr("(i + 1) DIV 2").cast("long").alias("i")
        ).agg(
            F.sum("s").cast("long").alias("s"),
            F.sum(
                F.when(F.col("i") % 2 == 1, F.col("s")).otherwise(-F.col("s"))
            )
            .cast("long")
            .alias("dd"),
        )
        lvl_dfs.append(
            nxt.select(F.lit(lvl).alias("lvl"), "i", "dd")
        )
        cur = nxt.select("i", "s")
    s5 = cur.select(F.col("s").alias("dc"))
    details = lvl_dfs[0]
    for x_ in lvl_dfs[1:]:
        details = details.unionByName(x_)
    wgt = (
        F.when(F.col("lvl") == 1, 16)
        .when(F.col("lvl") == 2, 8)
        .when(F.col("lvl") == 3, 4)
        .when(F.col("lvl") == 4, 2)
        .otherwise(1)
    )
    kept = (
        details.withColumn(
            "rn",
            F.row_number().over(
                Window.orderBy(
                    (F.col("dd") * F.col("dd") * wgt).desc(), "lvl", "i"
                )
            ),
        )
        .filter(F.col("rn") <= 7)
        .select("lvl", "i", "dd")
    )
    recon = (
        slots.join(
            F.broadcast(kept),
            (
                F.col("t")
                > (F.col("i") - 1) * F.pow(F.lit(2.0), F.col("lvl"))
            )
            & (F.col("t") <= F.col("i") * F.pow(F.lit(2.0), F.col("lvl"))),
            "left",
        )
        .groupBy("t", "x")
        .agg(
            F.coalesce(
                F.sum(
                    F.col("dd")
                    * F.when(
                        F.col("t")
                        <= (F.col("i") * 2 - 1)
                        * F.pow(F.lit(2.0), F.col("lvl") - 1),
                        1,
                    ).otherwise(-1)
                    * wgt
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("dsum")
        )
        .crossJoin(F.broadcast(s5))
        .select(
            "t",
            "x",
            (F.col("dc") + F.col("dsum")).cast("long").alias("r32"),
        )
    )
    err = (32 * F.col("x") - F.col("r32"))
    return recon.agg(
        F.lit(32).cast("long").alias("n_slots"),
        F.lit(8).cast("long").alias("k_kept"),
        F.sum(err * err).cast("long").alias("sse_scaled"),
        F.sum(32 * F.col("x") * 32 * F.col("x"))
        .cast("long")
        .alias("energy_scaled"),
        (
            F.lit(1000000)
            - F.expr(
                "(1000000 * (SUM((32 * x - r32) * (32 * x - r32))"
                " DIV 1048576))"
                " DIV (SUM(32 * x * 32 * x) DIV 1048576)"
            )
        )
        .cast("long")
        .alias("retained_ppm"),
    )


@query("dgim_sliding_count")
def dgim_sliding_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DGIM (Datar-Gionis-Indyk-Motwani) sliding-window bit counting
    on the urgent-order indicator stream (orders in date/key order,
    window = last 1000 positions): buckets of exponentially growing
    size, at most two per size, give an O(log^2 W)-space estimate
    whose error is at most HALF THE LAST BUCKET — certified in-row:
    the exact window count (computable offline) must lie within the
    theorem's 50% band of the estimate, and the bucket count must
    stay within 2*(log2 W + 1). THE textbook sliding-window sketch,
    complementing the landmark-window family (`hll_distinct_sketch`,
    `cms_heavy_hitter_audit` count from stream start; DGIM forgets).

    Determinism: the bucket-merge rule is a pure function of the
    bit sequence; the stream order is (o_orderdate, o_orderkey).

    Scale shape: positions via the range-bucketed distributed rank
    (``operators/rank.py``); the DGIM state machine is inherently
    sequential, so it replays per BOUNDED pos-segment — one
    applyInPandas task per segment — with the O(log² W) bucket state
    (≤ ~22 (end_pos, size) pairs) carried between segments by the
    driver, the same legitimate driver-coordination class as a
    convergence loop; in production the same state machine is
    per-key transformWithState. Exact truth for the audit is one
    tail-filter SUM in Spark (never inside the Python state).
    """
    import pandas as pd

    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_order_stats,
    )

    W = 1000
    o = load_table(spark, sf_dir, "orders")
    stream = distributed_order_stats(
        o.select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("bit"),
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("od"),
            "o_orderkey",
        ),
        "od",
        ["o_orderkey"],
        rank_col="pos",
    ).select("bit", "pos")
    n_total = stream.count()
    n_seg = 8
    seg_size = max(1, -(-n_total // n_seg))
    stream = stream.withColumn(
        "seg", ((F.col("pos") - 1) / seg_size).cast("long")
    ).transform(_ckpt)

    def make_step(entry: list[tuple[int, int]]):
        def step(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("pos")
            buckets = list(entry)  # (end_pos, size), newest first
            for bit, pos in zip(pdf["bit"].tolist(), pdf["pos"].tolist()):
                buckets = [b for b in buckets if b[0] > pos - W]
                if bit == 1:
                    buckets.insert(0, (pos, 1))
                    # merge triples of equal size (keep at most two)
                    while True:
                        sizes = [b[1] for b in buckets]
                        sz = None
                        for s_ in sorted(set(sizes)):
                            if sizes.count(s_) > 2:
                                sz = s_
                                break
                        if sz is None:
                            break
                        idxs = [
                            k for k, b in enumerate(buckets) if b[1] == sz
                        ]
                        a, b2 = idxs[-1], idxs[-2]  # two OLDEST
                        merged = (buckets[b2][0], sz * 2)
                        buckets = [
                            b
                            for k, b in enumerate(buckets)
                            if k not in (a, b2)
                        ]
                        buckets.append(merged)
                        buckets.sort(key=lambda x: -x[0])
            return pd.DataFrame(
                {
                    "state": [
                        ";".join(f"{e}:{z}" for e, z in buckets)
                    ]
                }
            )

        return step

    buckets: list[tuple[int, int]] = []
    for seg in range(n_seg):
        rows = bounded_collect(
            stream.filter(F.col("seg") == seg)
            .groupBy("seg")
            .applyInPandas(make_step(buckets), schema="state string"),
            1,
            "registry_10.dgim_segment",
        )
        if rows:
            buckets = [
                (int(kv.split(":")[0]), int(kv.split(":")[1]))
                for kv in rows[0]["state"].split(";")
                if kv
            ]
    live = [b for b in buckets if b[0] > n_total - W]
    if live:
        # standard DGIM: full sizes of all but oldest, half of oldest
        est = sum(b[1] for b in live) - live[-1][1] + max(
            live[-1][1] // 2, 1
        )
    else:
        est = 0
    exact = (
        scalar_row(
            stream.filter(F.col("pos") > n_total - W).agg(
                F.sum("bit").cast("long").alias("x")
            ),
            "registry_10.dgim_exact",
        )["x"]
        or 0
    )
    return spark.createDataFrame(
        [
            (
                W,
                int(exact),
                int(est),
                len(live),
                2 * (int(math.log2(W)) + 1),
                500000,
            )
        ],
        "window long, exact_ones long, dgim_estimate long, "
        "n_buckets long, bucket_bound long, max_rel_error_ppm long",
    )


@query("misra_gries_merge_audit")
def misra_gries_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABILITY audit of Misra-Gries heavy-hitter summaries: each
    of 8 hash partitions of the lineitem stream builds a k=8 MG
    summary of brand counts, the summaries are MERGED (counter-wise
    add, then subtract the (k+1)-th largest and drop non-positives —
    the Agarwal et al. mergeable-summaries rule), and every surviving
    estimate is certified against the exact count: est <= true <=
    est + n/(k+1) (the MG guarantee SURVIVES merging, which is the
    whole point for distributed aggregation). Extends
    `misra_gries_heavy_hitters` (single-pass) with the property that
    makes the sketch usable as a map-side partial at 100 TB.

    Determinism: hash partitioning by orderkey; MG decrement order is
    value-then-key sorted; exact counts are exact.

    Scale shape: per-partition summaries via applyInPandas (8
    groups), one tiny merge, one exact groupBy for the certificate —
    the exact side exists only because this is an AUDIT.
    """
    import pandas as pd

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    stream = l.join(
        F.broadcast(p.select(F.col("p_partkey").alias("l_partkey"), "p_brand")),
        "l_partkey",
    ).select(
        F.col("p_brand").alias("k"),
        (F.col("l_orderkey") % 8).cast("long").alias("part"),
    )
    K = 8

    def mg_partition(pdf: pd.DataFrame) -> pd.DataFrame:
        counters: dict[str, int] = {}
        for key in pdf["k"]:
            if key in counters:
                counters[key] += 1
            elif len(counters) < K:
                counters[key] = 1
            else:
                dead = []
                for c in counters:
                    counters[c] -= 1
                    if counters[c] == 0:
                        dead.append(c)
                for c in dead:
                    del counters[c]
        items = sorted(counters.items())
        return pd.DataFrame(
            {
                "part": [int(pdf["part"].iloc[0])] * len(items),
                "k": [k_ for k_, _ in items],
                "est": [v for _, v in items],
            }
        )

    partials = stream.groupBy("part").applyInPandas(
        mg_partition, schema="part long, k string, est long"
    )
    partials = partials.withColumn("g", F.lit(1)).transform(_ckpt)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        total: dict[str, int] = {}
        for _, row in pdf.iterrows():
            total[row["k"]] = total.get(row["k"], 0) + int(row["est"])
        if len(total) > K:
            kth = sorted(total.values(), reverse=True)[K]
            total = {k_: v - kth for k_, v in total.items() if v - kth > 0}
        items = sorted(total.items())
        return pd.DataFrame(
            {"k": [k_ for k_, _ in items], "est": [v for _, v in items]}
        )

    merged = partials.groupBy("g").applyInPandas(
        merge, schema="k string, est long"
    )
    exact = stream.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    n_tot = stream.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        merged.join(exact, "k")
        .crossJoin(F.broadcast(n_tot))
        .select(
            F.col("k").alias("brand"),
            F.col("est").alias("mg_estimate"),
            "true_count",
            F.expr(f"n DIV {K + 1}").cast("long").alias("error_bound"),
            F.when(
                (F.col("est") <= F.col("true_count"))
                & (
                    F.col("true_count")
                    <= F.col("est") + F.expr(f"n DIV {K + 1}") + 1
                ),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("within_bound"),
        )
    )


@query(
    "panjer_compound_poisson",
    oracle="""
    WITH RECURSIVE sev AS (
        SELECT LEAST(CAST(CEIL(o_totalprice / 100000.0) AS BIGINT), 6)
                   AS j,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
    ), n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM sev),
    f AS MATERIALIZED (
        SELECT list(COALESCE(sev.c, 0) * 1.0 / n.n ORDER BY g.j) AS fl
        FROM (SELECT unnest(generate_series(1, 6)) AS j) g
        LEFT JOIN sev ON sev.j = g.j, n
        GROUP BY n.n
    ), lam2 AS MATERIALIZED (
        SELECT COUNT(*) * 1.0 / COUNT(DISTINCT o_custkey) AS l
        FROM orders
    ), pj(s, g, l, fl) AS (
        SELECT CAST(0 AS BIGINT), [EXP(-lam2.l)], lam2.l, f.fl
        FROM lam2, f
        UNION ALL
        SELECT pj.s + 1,
            list_append(pj.g,
                (pj.l / (pj.s + 1)) *
                list_sum(list_transform(
                    range(1, CAST(LEAST(pj.s + 1, 6) AS BIGINT) + 1),
                    j -> j * pj.fl[CAST(j AS INT)]
                         * pj.g[CAST(pj.s + 1 - j + 1 AS INT)]))),
            pj.l, pj.fl
        FROM pj
        WHERE pj.s < 30
    ), final AS (
        SELECT g FROM pj WHERE s = 30
    ), expanded AS (
        SELECT CAST(t.s AS BIGINT) AS s,
               final.g[CAST(t.s + 1 AS INT)] AS prob
        FROM final,
             LATERAL (SELECT unnest(generate_series(0, 30)) AS s) t
    )
    SELECT s, ROUND(prob, 9) AS prob,
           ROUND(SUM(prob) OVER (ORDER BY s), 6) AS cdf
    FROM expanded
    """,
)
def panjer_compound_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Panjer recursion for the compound-Poisson aggregate loss: per
    customer, claim COUNT ~ Poisson(lambda = mean orders/customer)
    and claim SEVERITY is the empirical order-value distribution in
    $1000-hundred units (capped support 1..6); the exact aggregate
    pmf g(s) follows the Panjer recursion g_s = (lambda/s) * sum_j
    j f_j g_{s-j} from g_0 = e^-lambda — the actuarial standard for
    aggregate-loss curves, completing the reserving family
    (`chain_ladder_reserves`, `bornhuetter_ferguson_reserves` project
    totals; Panjer gives the whole DISTRIBUTION, hence quantile
    capital). CDF to s = 30 units reported.

    Determinism: the severity pmf is exact count ratios; both engines
    run the identical 30-step recursion with the same inner fold
    order (ascending j), rounded at output.

    Scale shape: two aggs build the (lambda, pmf) closure; the
    recursion is one applyInPandas call (DuckDB replays it as a
    list-carrying recursive CTE). Support growth is the only cost
    driver and it is a modeling constant.
    """
    import math

    import pandas as pd

    o = load_table(spark, sf_dir, "orders")
    sev = o.groupBy(
        F.least(
            F.ceil(F.col("o_totalprice") / 100000.0).cast("long"), F.lit(6)
        ).alias("j")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = sev.agg(F.sum("c").cast("long").alias("n"))
    lam = o.agg(
        (F.count(F.lit(1)) * 1.0 / F.countDistinct("o_custkey")).alias("l")
    )
    closure = (
        sev.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(lam))
        .withColumn("g", F.lit(1))
    )

    def panjer(pdf: pd.DataFrame) -> pd.DataFrame:
        nn = int(pdf["n"].iloc[0])
        lam_ = float(pdf["l"].iloc[0])
        fl = [0.0] * 6
        for _, row in pdf.iterrows():
            fl[int(row["j"]) - 1] = int(row["c"]) * 1.0 / nn
        g = [math.exp(-lam_)]
        for s in range(1, 31):
            inner = None
            for j in range(1, min(s, 6) + 1):
                term = j * fl[j - 1] * g[s - j]
                inner = term if inner is None else inner + term
            g.append((lam_ / s) * inner)
        cdf = []
        run = None
        out_prob = []
        for s in range(31):
            run = g[s] if run is None else run + g[s]
            out_prob.append(g[s])
            cdf.append(run)
        return pd.DataFrame(
            {"s": list(range(31)), "prob_raw": out_prob, "cdf_raw": cdf}
        )

    raw = closure.groupBy("g").applyInPandas(
        panjer, schema="s long, prob_raw double, cdf_raw double"
    )
    return raw.select(
        "s",
        F.round("prob_raw", 9).alias("prob"),
        F.round("cdf_raw", 6).alias("cdf"),
    )


@query(
    "median_of_means_estimator",
    oracle="""
    WITH w AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               (o_orderkey * 2654435761 % 4294967296) % 10 AS grp
        FROM orders
    ), gm AS (
        SELECT grp, SUM(cents) * 1.0 / COUNT(*) AS m,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM w GROUP BY grp
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           ROUND(median(m), 4) AS mom_estimate,
           ROUND((SELECT SUM(cents) * 1.0 / COUNT(*) FROM w), 4)
               AS plain_mean,
           ROUND(MAX(m) - MIN(m), 4) AS group_spread
    FROM gm
    """,
)
def median_of_means_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-of-means robust mean estimator: order values are split
    into 10 DETERMINISTIC hash groups (the repo's multiplicative
    scheme), each group's mean is taken, and the MEDIAN of those
    means is the estimate — sub-Gaussian concentration under mere
    finite variance, the heavy-tail-robust drop-in where the plain
    mean is one adversarial row away from garbage. The
    estimator-level sibling of `winsorized_stats_orders` /
    `mad_outliers_orders` (which trim values; MoM trims GROUPS), and
    the aggregation rule sketch pipelines use for untrusted shards.

    Determinism: hash grouping; exact per-group integer sums; one
    median over 10 identical doubles.

    Scale shape: one hash agg (map-side partials) to 10 rows, then a
    10-row median — the estimator parallelizes exactly like a plain
    mean, which is its operational selling point.
    """
    o = load_table(spark, sf_dir, "orders")
    w = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.expr("(o_orderkey * 2654435761 % 4294967296) % 10").alias("grp"),
    )
    gm = w.groupBy("grp").agg(
        (F.sum("cents") * 1.0 / F.count(F.lit(1))).alias("m"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    plain = w.agg(
        (F.sum("cents") * 1.0 / F.count(F.lit(1))).alias("pm")
    )
    return gm.crossJoin(F.broadcast(plain)).agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("n").cast("long").alias("n_rows"),
        F.round(F.expr("median(m)"), 4).alias("mom_estimate"),
        F.round(F.first("pm"), 4).alias("plain_mean"),
        F.round(F.max("m") - F.min("m"), 4).alias("group_spread"),
    )


@query(
    "pollaczek_khinchine_mg1",
    oracle="""
    WITH span AS (
        SELECT (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0
                   AS horizon_s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events WHERE event_type = 'purchase'
    ), svc AS (
        -- synthetic service seconds: value scaled; exact integers
        SELECT CAST(ROUND(value * 10) AS BIGINT) AS s_ds
        FROM events WHERE event_type = 'purchase'
    ), mom AS (
        SELECT SUM(s_ds) / (10.0 * COUNT(*)) AS es,
               SUM(s_ds * s_ds) / (100.0 * COUNT(*)) AS es2,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM svc
    )
    SELECT mom.n AS n_jobs,
           ROUND(mom.n / span.horizon_s, 9) AS lambda_per_s,
           ROUND(mom.es, 4) AS mean_service_s,
           ROUND((mom.n / span.horizon_s) * mom.es, 6) AS rho,
           ROUND((mom.n / span.horizon_s) * mom.es2
                 / (2.0 * (1.0 - (mom.n / span.horizon_s) * mom.es)),
                 4) AS wq_s,
           ROUND((mom.n / span.horizon_s) * mom.es2
                 / (2.0 * (1.0 - (mom.n / span.horizon_s) * mom.es))
                 + mom.es, 4) AS sojourn_s
    FROM mom, span
    """,
)
def pollaczek_khinchine_mg1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pollaczek-Khinchine exact M/G/1 waiting time on the purchase
    stream: Poisson arrivals at the observed rate, general service
    with the empirical first/second moments (value-scaled deciseconds
    — exact integers), Wq = lambda E[S^2] / (2(1-rho)). The exact
    mid-point of the queueing trio: `lindley_waiting_times` replays a
    G/G/1 sample path, `kingman_vut_audit` bounds it, PK is the exact
    closed form when arrivals are Poisson — and the E[S^2] term is
    the variance penalty the VUT formula approximates.

    Determinism: microsecond-exact horizon; integer decisecond
    service values; identical moment expression trees; rounding at
    the end.

    Scale shape: two streaming moment censuses, closed-form
    arithmetic on a 1-row relation.
    """
    ev = load_table(spark, sf_dir, "events")
    pur = ev.filter(F.col("event_type") == "purchase")
    span = pur.agg(
        (
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            )
            / 1000000.0
        ).alias("horizon_s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    svc = pur.select(
        F.round(F.col("value") * 10).cast("long").alias("s_ds")
    )
    mom = svc.agg(
        (F.sum("s_ds") / (10.0 * F.count(F.lit(1)))).alias("es"),
        (
            F.sum(F.col("s_ds") * F.col("s_ds"))
            / (100.0 * F.count(F.lit(1)))
        ).alias("es2"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    lam = F.col("n") / F.col("horizon_s")
    rho = lam * F.col("es")
    wq = lam * F.col("es2") / (2.0 * (1.0 - rho))
    return mom.crossJoin(F.broadcast(span.drop("n"))).select(
        F.col("n").alias("n_jobs"),
        F.round(lam, 9).alias("lambda_per_s"),
        F.round("es", 4).alias("mean_service_s"),
        F.round(rho, 6).alias("rho"),
        F.round(wq, 4).alias("wq_s"),
        F.round(wq + F.col("es"), 4).alias("sojourn_s"),
    )


@query(
    "elo_rating_replay",
    oracle="""
    WITH RECURSIVE mon AS (
        SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS m,
               c.c_nationkey AS nk,
               CAST(ROUND(SUM(o.o_totalprice) * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), top2 AS (
        SELECT m, nk, rk FROM (
            SELECT m, nk,
                   ROW_NUMBER() OVER (
                       PARTITION BY m ORDER BY cents DESC, nk) AS rk
            FROM mon) t
        WHERE rk <= 2
    ), gg AS MATERIALIZED (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY a.m) AS BIGINT) AS g,
               CAST(a.nk AS BIGINT) AS na, CAST(b.nk AS BIGINT) AS nb
        FROM top2 a JOIN top2 b
          ON b.m = a.m AND a.rk = 1 AND b.rk = 2
    ), ng AS (SELECT CAST(MAX(g) AS BIGINT) AS n FROM gg),
    elo(g, r) AS (
        SELECT CAST(0 AS BIGINT),
               list_transform(range(0, 25), i -> CAST(1000.0 AS DOUBLE))
        FROM ng
        UNION ALL
        SELECT elo.g + 1,
               list_transform(range(0, 25), i ->
                   CASE WHEN i = gg.na
                        THEN elo.r[CAST(i + 1 AS INT)]
                             + 32.0 * (1.0 - 1.0 / (1.0 + POW(10.0,
                               (elo.r[CAST(gg.nb + 1 AS INT)]
                                - elo.r[CAST(gg.na + 1 AS INT)])
                               / 400.0)))
                        WHEN i = gg.nb
                        THEN elo.r[CAST(i + 1 AS INT)]
                             - 32.0 * (1.0 - 1.0 / (1.0 + POW(10.0,
                               (elo.r[CAST(gg.nb + 1 AS INT)]
                                - elo.r[CAST(gg.na + 1 AS INT)])
                               / 400.0)))
                        ELSE elo.r[CAST(i + 1 AS INT)] END)
        FROM elo JOIN gg ON gg.g = elo.g + 1
    ), final AS (
        SELECT r FROM elo, ng WHERE elo.g = ng.n
    ), played AS (
        SELECT nk, CAST(COUNT(*) AS BIGINT) AS n_games FROM (
            SELECT na AS nk FROM gg UNION ALL SELECT nb FROM gg) t
        GROUP BY 1
    )
    SELECT CAST(u.i - 1 AS BIGINT) AS nation_key,
           ROUND(final.r[CAST(u.i AS INT)], 2) AS rating,
           COALESCE(played.n_games, 0) AS n_games
    FROM final,
         LATERAL (SELECT unnest(generate_series(1, 25)) AS i) u
    LEFT JOIN played ON played.nk = u.i - 1
    """,
)
def elo_rating_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elo rating replay: each month the two top-revenue nations
    'play' (the higher-revenue one wins), and ratings update
    sequentially from 1000 with K = 32 and the logistic expected
    score 1/(1 + 10^((rb-ra)/400)) — the ONLINE rating system whose
    batch-MLE counterpart is `bradley_terry_priorities`: Elo tracks
    drift through time while Bradley-Terry assumes a fixed strength.
    An 80-game deterministic tournament over the order history.

    Determinism: exact cent standings pick the monthly pair (nation
    tie-breaks); the sequential update is replayed identically on
    both engines (the oracle carries the 25-rating vector through a
    list-transforming recursive CTE); ratings round to 2 decimals.

    Scale shape: standings are one month x nation agg; the replay is
    one applyInPandas pass over the ~80-game closure (ratings are
    inherently sequential state — the same per-key transformWithState
    shape as streaming sessionization at production scale).
    """
    import pandas as pd

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    mon = (
        o.join(
            F.broadcast(
                c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
            F.col("c_nationkey").alias("nk"),
        )
        .agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents"))
    )
    top2 = mon.select(
        "m",
        "nk",
        F.row_number()
        .over(Window.partitionBy("m").orderBy(F.desc("cents"), "nk"))
        .alias("rk"),
    ).filter(F.col("rk") <= 2)
    a = top2.filter(F.col("rk") == 1).select("m", F.col("nk").alias("na"))
    b = top2.filter(F.col("rk") == 2).select("m", F.col("nk").alias("nb"))
    gg = (
        a.join(b, "m")
        .select(
            F.row_number().over(Window.orderBy("m")).cast("long").alias("g"),
            F.col("na").cast("long").alias("na"),
            F.col("nb").cast("long").alias("nb"),
        )
        .withColumn("grp", F.lit(1))
    )

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("g")
        r = {i: 1000.0 for i in range(25)}
        games = {i: 0 for i in range(25)}
        for _, row in pdf.iterrows():
            na, nb = int(row["na"]), int(row["nb"])
            ea = 1.0 / (1.0 + 10.0 ** ((r[nb] - r[na]) / 400.0))
            delta = 32.0 * (1.0 - ea)
            r[na] = r[na] + delta
            r[nb] = r[nb] - delta
            games[na] += 1
            games[nb] += 1
        return pd.DataFrame(
            {
                "nation_key": list(range(25)),
                "rating_raw": [r[i] for i in range(25)],
                "n_games": [games[i] for i in range(25)],
            }
        )

    raw = gg.groupBy("grp").applyInPandas(
        replay, schema="nation_key long, rating_raw double, n_games long"
    )
    return raw.select(
        "nation_key", F.round("rating_raw", 2).alias("rating"), "n_games"
    )


@query(
    "distinct_substring_census",
    oracle="""
    WITH d AS (
        SELECT doc_id, substring(trim(text), 1, 100) AS t,
               CAST(length(substring(trim(text), 1, 100)) AS BIGINT) AS n
        FROM documents WHERE doc_id % 25 = 0
          AND length(trim(text)) >= 10
    ), subs AS (
        SELECT doc_id, n,
               CAST(COUNT(DISTINCT substring(t, CAST(g.st AS INT),
                                             CAST(h.ln AS INT)))
                    AS BIGINT) AS n_distinct
        FROM d,
             LATERAL (SELECT unnest(generate_series(1, CAST(d.n AS INT)))
                          AS st) g,
             LATERAL (SELECT unnest(generate_series(
                          1, CAST(d.n AS INT) - g.st + 1)) AS ln) h
        GROUP BY 1, 2
    )
    SELECT doc_id, n AS n_chars, n_distinct,
           CAST(n * (n + 1) // 2 AS BIGINT) AS max_possible,
           CAST((1000000 * n_distinct) // (n * (n + 1) // 2) AS BIGINT)
               AS complexity_ppm
    FROM subs
    """,
)
def distinct_substring_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-substring census (substring complexity) of sampled
    document prefixes: the count of DISTINCT substrings over the
    n(n+1)/2 maximum — exactly what a suffix automaton computes in
    O(n) states, enumerated here as the exact spec. A string with
    complexity_ppm near 1e6 is substring-rich (random-like); heavy
    repetition collapses it — the third repetition lens after
    `lz76_complexity_docs` (copy structure) and
    `string_border_period_census` (global periodicity), and the
    quantity that bounds how much a suffix-automaton dedup index for
    `longest_common_substring_pairs` can compress.

    Determinism: exact substring sets over exact prefixes; pure
    integer ratio.

    Scale shape: the O(n^2) substring explode is per-doc map-side
    with a distinct-agg per doc (the shuffle carries substrings of
    ONE doc per key); the 100-TB path builds suffix automata per doc
    in a pandas UDF — same number, linear state.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select("doc_id", F.substring(F.trim("text"), 1, 100).alias("t"))
        .filter(F.length("t") >= 10)
        .select("doc_id", "t", F.length("t").cast("long").alias("n"))
    )
    subs = (
        d.select(
            "doc_id",
            "n",
            "t",
            F.explode(F.sequence(F.lit(1), F.col("n"))).alias("st"),
        )
        .select(
            "doc_id",
            "n",
            "t",
            "st",
            F.explode(
                F.sequence(F.lit(1), F.col("n") - F.col("st") + 1)
            ).alias("ln"),
        )
        .select(
            "doc_id",
            "n",
            F.expr("substring(t, CAST(st AS INT), CAST(ln AS INT))").alias(
                "sub"
            ),
        )
        .groupBy("doc_id", "n")
        .agg(F.countDistinct("sub").cast("long").alias("n_distinct"))
    )
    maxp = F.col("n") * (F.col("n") + 1) / 2
    return subs.select(
        "doc_id",
        F.col("n").alias("n_chars"),
        "n_distinct",
        maxp.cast("long").alias("max_possible"),
        F.expr("(1000000 * n_distinct) DIV (n * (n + 1) DIV 2)")
        .cast("long")
        .alias("complexity_ppm"),
    )


@query("tarjan_bridges_certified")
def tarjan_bridges_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bridge (cut-edge) detection on the undirected top-120 nation
    trade graph via Tarjan's lowlink DFS, CERTIFIED by the
    bridge-forest identity: removing ALL bridges must increase the
    connected-component count by EXACTLY the number of bridges
    (each bridge joins two 2-edge-connected components in a forest),
    and the certificate re-runs the repo's own distributed
    `connected_components` on both edge sets declaratively — so an
    over- or under-report of even one bridge breaks the count
    equality. The robustness complement of `single_source_risk` and
    `attack_robustness_copurchase`: bridges are the edges whose loss
    partitions the network.

    Determinism: integer capacities pick the top-120 edges ((cap,
    u, v) order); DFS visits sorted adjacency; output lists every
    edge with its bridge flag.

    Scale shape: edge selection is a fact-scan agg + rank; the DFS
    runs on the edge closure in one applyInPandas call; the
    certificate costs two label-propagation CC runs on a <=120-edge
    relation. Planetary bridge-finding uses the same certificate
    with sampled verification.
    """
    import pandas as pd

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    flows = (
        l.join(
            F.broadcast(
                s.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")
            ),
            "l_suppkey",
        )
        .join(
            o.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
            "l_orderkey",
        )
        .join(
            F.broadcast(
                c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.least("s_nationkey", "c_nationkey").cast("long").alias("u"),
            F.greatest("s_nationkey", "c_nationkey").cast("long").alias("v"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cap")
        )
    )
    ee = (
        flows.withColumn(
            "rn",
            F.row_number().over(Window.orderBy(F.desc("cap"), "u", "v")),
        )
        .filter(F.col("rn") <= 120)
        .select("u", "v")
        .withColumn("g", F.lit(1))
        .transform(_ckpt)
    )

    def bridges(pdf: pd.DataFrame) -> pd.DataFrame:
        import sys

        sys.setrecursionlimit(10000)
        edges = sorted(
            (int(r["u"]), int(r["v"])) for _, r in pdf.iterrows()
        )
        adj: dict[int, list[tuple[int, int]]] = {}
        for idx, (u, v) in enumerate(edges):
            adj.setdefault(u, []).append((v, idx))
            adj.setdefault(v, []).append((u, idx))
        for k in adj:
            adj[k].sort()
        disc: dict[int, int] = {}
        low: dict[int, int] = {}
        timer = [0]
        is_bridge = [False] * len(edges)

        def dfs(u, pe):
            disc[u] = low[u] = timer[0]
            timer[0] += 1
            for (w, ei) in adj[u]:
                if ei == pe:
                    continue
                if w in disc:
                    low[u] = min(low[u], disc[w])
                else:
                    dfs(w, ei)
                    low[u] = min(low[u], low[w])
                    if low[w] > disc[u]:
                        is_bridge[ei] = True

        for node in sorted(adj):
            if node not in disc:
                dfs(node, -1)
        return pd.DataFrame(
            {
                "u": [e[0] for e in edges],
                "v": [e[1] for e in edges],
                "is_bridge": is_bridge,
                "n_bridges": [sum(is_bridge)] * len(edges),
            }
        )

    labeled = ee.groupBy("g").applyInPandas(
        bridges, schema="u long, v long, is_bridge boolean, n_bridges long"
    )
    labeled = labeled.transform(_ckpt)
    from pyspark_movie_recommender_spark.operators.graph import (
        connected_components,
    )

    cc_all = (
        connected_components(
            labeled.select(F.col("u").alias("id_a"), F.col("v").alias("id_b"))
        )
        .select("component")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("cc_all"))
    )
    nonbridge = labeled.filter(~F.col("is_bridge"))
    # nodes that become isolated keep their own component
    all_nodes = (
        labeled.select(F.col("u").alias("id"))
        .unionByName(labeled.select(F.col("v").alias("id")))
        .distinct()
    )
    cc_nb_labels = connected_components(
        nonbridge.select(F.col("u").alias("id_a"), F.col("v").alias("id_b"))
    )
    cc_nb = (
        all_nodes.join(cc_nb_labels, "id", "left")
        .select(F.coalesce("component", F.col("id")).alias("comp"))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("cc_nonbridge"))
    )
    return (
        labeled.crossJoin(F.broadcast(cc_all))
        .crossJoin(F.broadcast(cc_nb))
        .select(
            "u",
            "v",
            "is_bridge",
            "n_bridges",
            "cc_all",
            "cc_nonbridge",
        )
    )


@query("effective_resistance_trade")
def effective_resistance_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective resistance between nation pairs on the undirected
    trade graph (edge conductance = revenue in millions of cents,
    exact integers): grounding one terminal and solving the Laplacian
    system L x = e_u - e_v EXACTLY over rationals gives
    R_eff(u, v) = x_u - x_v — the commute-distance metric
    (commute time = 2m R_eff) that underlies spectral sparsification
    and graph embeddings; unlike shortest paths
    (`bellman_ford_trade_costs`) it DECREASES with every parallel
    route, so it measures redundancy, and unlike `betweenness_nation_
    trade` it is a true metric. Five deterministic pairs reported;
    the invariant test pins the metric axioms (symmetry by
    construction, triangle inequality across the reported pairs) and
    the series/parallel bound R <= 1/c_direct.

    Determinism: exact integer conductances; Fraction Gaussian
    elimination; micro rounding at output only.

    Scale shape: the graph collapse is the fact-scan agg; each solve
    is the same k x k exact elimination as `jackson_network_solve`
    on the 25-node closure. Planetary resistance uses approximate
    Laplacian solvers — this is their exact spec.
    """
    import pandas as pd

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    flows = (
        l.join(
            F.broadcast(
                s.select(F.col("s_suppkey").alias("l_suppkey"), "s_nationkey")
            ),
            "l_suppkey",
        )
        .join(
            o.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
            "l_orderkey",
        )
        .join(
            F.broadcast(
                c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .where(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.least("s_nationkey", "c_nationkey").cast("long").alias("u"),
            F.greatest("s_nationkey", "c_nationkey").cast("long").alias("v"),
        )
        .agg(
            (
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                / F.lit(1000000)
            )
            .cast("long")
            .alias("cond")
        )
        .filter(F.col("cond") > 0)
        .withColumn("g", F.lit(1))
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        from fractions import Fraction as Fr

        nodes = sorted(set(pdf["u"]) | set(pdf["v"]))
        idx = {n_: i for i, n_ in enumerate(nodes)}
        k = len(nodes)
        L = [[Fr(0)] * k for _ in range(k)]
        cond = {}
        for _, row in pdf.iterrows():
            i, j = idx[int(row["u"])], idx[int(row["v"])]
            w = Fr(int(row["cond"]))
            cond[(int(row["u"]), int(row["v"]))] = int(row["cond"])
            L[i][i] += w
            L[j][j] += w
            L[i][j] -= w
            L[j][i] -= w

        def reff(u, v):
            iu, iv = idx[u], idx[v]
            # ground node k-1 (drop its row/col); solve reduced system
            gr = k - 1
            keep = [i for i in range(k) if i != gr]
            A = [
                [L[r][cc] for cc in keep]
                + [
                    (Fr(1) if r == iu else Fr(0))
                    - (Fr(1) if r == iv else Fr(0))
                ]
                for r in keep
            ]
            m = len(keep)
            for col in range(m):
                piv = next(r for r in range(col, m) if A[r][col] != 0)
                A[col], A[piv] = A[piv], A[col]
                pv = A[col][col]
                A[col] = [x / pv for x in A[col]]
                for r in range(m):
                    if r != col and A[r][col] != 0:
                        f = A[r][col]
                        A[r] = [x - f * y for x, y in zip(A[r], A[col])]
            x = {keep[i]: A[i][m] for i in range(m)}
            x[gr] = Fr(0)
            return x[iu] - x[iv]

        pairs = [
            (nodes[0], nodes[-1]),
            (nodes[0], nodes[len(nodes) // 2]),
            (nodes[1], nodes[2]),
            (nodes[0], nodes[1]),
            (nodes[1], nodes[-1]),
        ]
        rows = []
        for (u, v) in pairs:
            r_ = reff(u, v)
            direct = cond.get((min(u, v), max(u, v)), 0)
            rows.append(
                {
                    "node_a": u,
                    "node_b": v,
                    "r_eff_micro": int(r_ * 1000000),
                    "direct_conductance": direct,
                }
            )
        return pd.DataFrame(rows)

    return flows.groupBy("g").applyInPandas(
        solve,
        schema=(
            "node_a long, node_b long, r_eff_micro long, "
            "direct_conductance long"
        ),
    )


@query(
    "wilks_tolerance_interval",
    oracle="""
    WITH v AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(ROW_NUMBER() OVER (ORDER BY
                   ROUND(o_totalprice * 100), o_orderkey) AS BIGINT) AS rk
        FROM orders
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    lf AS (
        SELECT CAST(g.i AS BIGINT) AS i,
               SUM(LN(g.i)) OVER (ORDER BY g.i) AS lnf
        FROM (SELECT unnest(generate_series(1,
                  (SELECT CAST(n AS INT) FROM n))) AS i) g
    ), kser AS (
        SELECT unnest(generate_series(0,
            (SELECT CAST(2 * (n // 18) AS INT) FROM n))) AS k
    ), pmf AS (
        -- Bin(n, 0.1) pmf for k = 0..2*(n/18)
        SELECT kser.k,
               EXP(nf.lnf - COALESCE(kf.lnf, 0.0)
                   - COALESCE(nkf.lnf, 0.0)
                   + kser.k * LN(0.1) + (n.n - kser.k) * LN(0.9)) AS p
        FROM kser
        CROSS JOIN n
        JOIN lf nf ON nf.i = n.n
        LEFT JOIN lf kf ON kf.i = kser.k
        LEFT JOIN lf nkf ON nkf.i = n.n - kser.k
    ), cdf AS (
        SELECT k, SUM(p) OVER (ORDER BY k) AS c FROM pmf
    ), rser AS (
        SELECT unnest(generate_series(
            (SELECT CAST(n // 25 AS INT) FROM n),
            (SELECT CAST(n // 18 AS INT) FROM n))) AS r
    ), conf AS (
        -- P(coverage >= 0.9) = 1 - P(Bin(n, 0.1) <= 2r - 1)
        SELECT CAST(rser.r AS BIGINT) AS r, 1.0 - cdf.c AS conf
        FROM rser JOIN cdf ON cdf.k = 2 * rser.r - 1
    ), best AS (
        SELECT r, conf FROM conf
        WHERE conf >= 0.90
        ORDER BY r DESC LIMIT 1
    )
    SELECT n.n AS n_orders, best.r,
           CAST(ROUND(1000000 * best.conf) AS BIGINT) AS confidence_ppm,
           (SELECT cents FROM v WHERE rk = best.r) AS lower_cents,
           (SELECT cents FROM v, n WHERE rk = n.n - best.r + 1)
               AS upper_cents
    FROM n, best
    """,
)
def wilks_tolerance_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilks nonparametric tolerance interval for order values: the
    LARGEST trim depth r such that the order-statistics interval
    (x_(r), x_(n-r+1)) contains at least 90% of the population with
    at least 90% confidence. Distribution-free, from the exact
    beta-binomial identity P(coverage >= g) = 1 - P(Bin(n, 1-g) <=
    2r-1), evaluated with log-factorial sums (no incomplete-beta
    builtin). The population-coverage counterpart of
    `bootstrap_ci_order_value` (which bounds a PARAMETER, not future
    observations): this answers 'what range will 90% of orders fall
    into, with what confidence'.

    Determinism: the log-factorial table is an ordered prefix sum of
    identical LN terms; the binomial cdf accumulates in k order on
    both engines; the trim search and endpoints are integer order
    statistics with key tie-breaks; search grid scales with n.

    Scale shape: the order-statistics rank goes through the
    range-bucketed distributed rank (``operators/rank.py`` — no
    single-task sort of the fact); the O(n/9)-row pmf/cdf ladder and
    the O(n) log-factorial table are sequential-IEEE prefix sums BY
    SPEC (the engine-exact beta-binomial needs the same summation
    order on both engines) — at extreme n the documented swap is the
    normal approximation to Bin(n, 1−γ), which needs no ladder.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_global_rank,
    )

    o = load_table(spark, sf_dir, "orders")
    v = distributed_global_rank(
        o.select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            "o_orderkey",
        ),
        "cents",
        "o_orderkey",
        out_col="rk",
    ).select("cents", "rk")
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_order_stats,
    )

    # n as a driver scalar (relation size — the same legitimate
    # driver-scalar class as the rank machinery's bucket offsets) so
    # the k-grid is generated by spark.range (parallel), not an
    # explode-of-sequence from one row (single task). The binomial
    # log-coefficient uses ln C(n,k) = Σ_{j≤k} ln((n−j+1)/j) — a
    # k-grain cumulative sum through the distributed rank machinery —
    # instead of an n-row log-factorial table under a single-task
    # global window (n is fact-sized: every order).
    n_val = v.count()
    n = spark.range(1).select(F.lit(n_val).cast("long").alias("n"))
    kmax = 2 * (n_val // 18)
    ks = spark.range(0, kmax + 1).select(F.col("id").cast("long").alias("k"))
    terms = ks.withColumn(
        "t",
        F.when(F.col("k") == 0, F.lit(0.0)).otherwise(
            F.log(F.lit(float(n_val)) - F.col("k") + 1) - F.log(F.col("k"))
        ),
    )
    lnc = distributed_order_stats(
        terms.withColumn("__k", F.col("k").cast("double")),
        "__k",
        [],
        cumsum_cols={"lnC": "t"},
    )
    pmf = lnc.select(
        "k",
        F.exp(
            F.col("lnC")
            + F.col("k") * F.log(F.lit(0.1))
            + (F.lit(float(n_val)) - F.col("k")) * F.log(F.lit(0.9))
        ).alias("p"),
    )
    cdf = distributed_order_stats(
        pmf.withColumn("__k", F.col("k").cast("double")),
        "__k",
        [],
        cumsum_cols={"c": "p"},
    ).select("k", "c")
    rs = spark.range(n_val // 25, n_val // 18 + 1).select(
        F.col("id").cast("long").alias("r")
    )
    conf = rs.join(
        cdf.select((F.col("k") + 1).alias("k2"), "c"),
        F.col("k2") == 2 * F.col("r"),
    ).select("r", (1.0 - F.col("c")).alias("conf"))
    best = (
        conf.filter(F.col("conf") >= 0.90).orderBy(F.desc("r")).limit(1)
    )
    lo = v.join(
        F.broadcast(best.select(F.col("r").alias("rk"))), "rk"
    ).select(F.col("cents").alias("lower_cents"))
    hi = (
        v.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(best.select(F.col("r").alias("r2"))))
        .filter(F.col("rk") == F.col("n") - F.col("r2") + 1)
        .select(F.col("cents").alias("upper_cents"))
    )
    return (
        n.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.col("n").alias("n_orders"),
            "r",
            F.round(1000000 * F.col("conf")).cast("long").alias(
                "confidence_ppm"
            ),
            "lower_cents",
            "upper_cents",
        )
    )


@query("kriging_simple_trade")
def kriging_simple_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple kriging of nation revenue over the synthetic plane:
    with an exponential covariance C(d) = exp(-d/30000) on the
    deterministic nation coordinates, the kriging weights solve
    K w = k exactly (Gaussian elimination in one closure call) for
    each of four probe sites — three UNOBSERVED grid points plus ONE
    OBSERVED nation location, whose prediction must reproduce the
    observed value EXACTLY (the interpolation property of kriging is
    the certificate: weight vector = the indicator row, error 0).
    The geostatistical completion of `idw_hub_interpolation`
    (heuristic weights) and `empirical_variogram_2d` (which fits the
    structure kriging consumes): kriging is the BLUP given that
    structure.

    Determinism: integer coordinates; identical double kernel matrix
    and a fixed elimination pivot order inside ONE engine (no oracle
    — float elimination order cannot be mirrored in SQL); the
    invariant test pins the interpolation certificate and weight
    normalization instead.

    Scale shape: the nation closure is tiny; production kriging
    tiles the plane and solves per-tile neighborhoods — same
    applyInPandas contract per tile.
    """
    import math

    import pandas as pd

    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    val = (
        o.join(
            F.broadcast(
                c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            (F.round(F.sum("o_totalprice") * 100) / 1000000.0)
            .alias("v")
        )
    )
    pts = n.select(
        F.col("n_nationkey").cast("long").alias("nk"),
        ((F.col("n_nationkey") * 6271) % 100000).cast("long").alias("x"),
        ((F.col("n_nationkey") * 31337) % 100000).cast("long").alias("y"),
    ).join(val, "nk", "left").select(
        "nk", "x", "y", F.coalesce("v", F.lit(0.0)).alias("v")
    ).withColumn("g", F.lit(1))

    def krige(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("nk")
        xs = pdf["x"].tolist()
        ys = pdf["y"].tolist()
        vs = pdf["v"].tolist()
        nks = pdf["nk"].tolist()
        k = len(xs)
        theta = 30000.0

        def cov(x1, y1, x2, y2):
            return math.exp(
                -math.sqrt((x1 - x2) ** 2 + (y1 - y2) ** 2) / theta
            )

        K = [[cov(xs[i], ys[i], xs[j], ys[j]) for j in range(k)]
             for i in range(k)]
        mean_v = sum(vs) / k
        probes = [
            ("grid_25k_25k", 25000, 25000),
            ("grid_50k_50k", 50000, 50000),
            ("grid_75k_25k", 75000, 25000),
            (f"at_nation_{nks[0]}", xs[0], ys[0]),
        ]
        rows = []
        for name, px, py in probes:
            kvec = [cov(px, py, xs[i], ys[i]) for i in range(k)]
            # solve K w = kvec (partial-pivot elimination)
            A = [K[i][:] + [kvec[i]] for i in range(k)]
            for col in range(k):
                piv = max(range(col, k), key=lambda r_: abs(A[r_][col]))
                A[col], A[piv] = A[piv], A[col]
                pv = A[col][col]
                A[col] = [x_ / pv for x_ in A[col]]
                for r_ in range(k):
                    if r_ != col and A[r_][col] != 0.0:
                        f = A[r_][col]
                        A[r_] = [
                            a_ - f * b_ for a_, b_ in zip(A[r_], A[col])
                        ]
            w = [A[i][k] for i in range(k)]
            pred = mean_v + sum(
                wi * (vi - mean_v) for wi, vi in zip(w, vs)
            )
            var_red = sum(wi * ki for wi, ki in zip(w, kvec))
            rows.append(
                {
                    "site": name,
                    "prediction": round(pred, 4),
                    "kriging_var_ratio_ppm": int(
                        round(1000000 * (1.0 - var_red))
                    ),
                    "sum_weights": round(sum(w), 6),
                    "observed_at_site": (
                        round(vs[0], 4) if name.startswith("at_") else None
                    ),
                }
            )
        return pd.DataFrame(rows)

    return pts.groupBy("g").applyInPandas(
        krige,
        schema=(
            "site string, prediction double, kriging_var_ratio_ppm long, "
            "sum_weights double, observed_at_site double"
        ),
    )


@query(
    "passing_bablok_regression",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(ROUND(SUM(CASE WHEN event_type = 'view'
                        THEN value END) * 100) AS BIGINT) AS x,
               CAST(ROUND(SUM(CASE WHEN event_type = 'click'
                        THEN value END) * 100) AS BIGINT) AS y
        FROM events GROUP BY 1
    ), pts AS (
        SELECT day, x, y FROM d WHERE x IS NOT NULL AND y IS NOT NULL
    ), slopes AS (
        SELECT (b.y - a.y) * 1.0 / (b.x - a.x) AS s
        FROM pts a JOIN pts b ON b.day > a.day AND b.x <> a.x
    ), stat AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS ns,
               CAST(SUM(CASE WHEN s < -1.0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS k_neg
        FROM slopes
    ), ranked AS (
        SELECT s, CAST(ROW_NUMBER() OVER (ORDER BY s) AS BIGINT) AS rk
        FROM slopes
    ), med AS (
        -- Passing-Bablok: offset median at position ceil((ns+1)/2)+K
        SELECT ranked.s AS slope
        FROM ranked, stat
        WHERE ranked.rk = (stat.ns + 1) // 2 + stat.k_neg
    ), icept AS (
        SELECT median(pts.y - med.slope * pts.x) AS b0
        FROM pts, med
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pts) AS n_days,
           stat.ns AS n_slopes, stat.k_neg,
           ROUND(med.slope, 6) AS slope,
           ROUND(icept.b0, 4) AS intercept_cents
    FROM stat, med, icept
    """,
)
def passing_bablok_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passing-Bablok regression between two daily 'measurement
    methods' (view-event vs click-event revenue cents): the slope is
    the SHIFTED median of all pairwise slopes — the offset K counts
    slopes below -1 so that the estimator is symmetric in x and y
    (swap-invariant), which ordinary Theil-Sen is not — making it
    the standard method-comparison regression in lab medicine. Joins
    the agreement family: `bland_altman_order_totals` (difference
    plot), `lins_ccc_order_totals` (concordance), `theil_sen_price_
    curve` (plain median slope); PB adds the scale-symmetric fit.

    Determinism: exact cent pairs; pairwise slopes are identical
    doubles; the shifted-median pick is a pure rank lookup; the
    intercept is a median over identical values.

    Scale shape: the day grid keeps the pair join tiny (C(30,2));
    at scale PB runs on a per-stratum sample exactly like
    `theil_sen_price_curve` — the estimator needs O(n^2) slopes by
    definition, so sampling IS the scale strategy.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(
            F.sum(F.when(F.col("event_type") == "view", F.col("value")))
            * 100
        )
        .cast("long")
        .alias("x"),
        F.round(
            F.sum(F.when(F.col("event_type") == "click", F.col("value")))
            * 100
        )
        .cast("long")
        .alias("y"),
    )
    pts = d.filter(F.col("x").isNotNull() & F.col("y").isNotNull())
    # ≤30-row day relation fans out to both self-join sides, the
    # intercept median, and the day count — without materialization
    # each consumer re-runs the events agg (census: events ×6)
    pts = _ckpt(pts)
    a, b = pts.alias("a"), pts.alias("b")
    slopes = a.join(
        b,
        (F.col("b.day") > F.col("a.day")) & (F.col("b.x") != F.col("a.x")),
    ).select(
        (
            (F.col("b.y") - F.col("a.y"))
            * 1.0
            / (F.col("b.x") - F.col("a.x"))
        ).alias("s")
    )
    slopes = _ckpt(slopes)  # shared fan-out relation (stat / ranked)
    stat = slopes.agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        F.sum(F.when(F.col("s") < -1.0, 1).otherwise(0))
        .cast("long")
        .alias("k_neg"),
    )
    stat = _ckpt(stat)  # shared fan-out relation
    ranked = slopes.select(
        "s",
        F.row_number().over(Window.orderBy("s")).cast("long").alias("rk"),
    )
    med = ranked.crossJoin(F.broadcast(stat)).filter(
        F.col("rk") == F.expr("(ns + 1) DIV 2") + F.col("k_neg")
    ).select(F.col("s").alias("slope"))
    icept = pts.crossJoin(F.broadcast(med)).agg(
        F.expr("median(y - slope * x)").alias("b0")
    )
    npts = pts.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        npts.crossJoin(F.broadcast(stat))
        .crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(icept))
        .select(
            "n_days",
            F.col("ns").alias("n_slopes"),
            "k_neg",
            F.round("slope", 6).alias("slope"),
            F.round("b0", 4).alias("intercept_cents"),
        )
    )


@query(
    "decision_curve_net_benefit",
    oracle="""
    WITH scored AS (
        -- risk score: order value percentile as P(returned)
        SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
               PERCENT_RANK() OVER (ORDER BY l_extendedprice,
                                    l_orderkey, l_linenumber) AS p
        FROM lineitem
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM scored),
    grid AS (
        SELECT t.t / 20.0 AS pt FROM
            (SELECT unnest(generate_series(1, 15)) AS t) t
    )
    SELECT ROUND(grid.pt, 2) AS threshold,
           CAST(SUM(CASE WHEN scored.p >= grid.pt AND scored.y = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
           CAST(SUM(CASE WHEN scored.p >= grid.pt AND scored.y = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
           ROUND(SUM(CASE WHEN scored.p >= grid.pt AND scored.y = 1
                     THEN 1.0 ELSE 0.0 END) / MAX(n.n)
                 - SUM(CASE WHEN scored.p >= grid.pt AND scored.y = 0
                       THEN 1.0 ELSE 0.0 END) / MAX(n.n)
                   * grid.pt / (1.0 - grid.pt), 6) AS net_benefit,
           ROUND(SUM(scored.y * 1.0) / MAX(n.n)
                 - (1.0 - SUM(scored.y * 1.0) / MAX(n.n))
                   * grid.pt / (1.0 - grid.pt), 6)
               AS treat_all_benefit
    FROM scored CROSS JOIN grid CROSS JOIN n
    GROUP BY grid.pt
    """,
)
def decision_curve_net_benefit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-curve analysis (Vickers-Elkin net benefit) for a
    return-risk score: at each threshold pt, net benefit = TP/n -
    FP/n * pt/(1-pt) — the utility-weighted readout that says WHEN a
    model is worth ACTING on, which neither discrimination
    (`auc_order_status_price`, `pr_curve_threshold_tuning`) nor
    calibration (`calibration_reliability_bins`,
    `platt_scaling_calibration`) answers: the pt/(1-pt) exchange rate
    prices false positives in true-positive units. Reported against
    the treat-ALL policy curve; the model earns its keep only where
    it clears both treat-all and treat-none (0).

    Determinism: the score is a PERCENT_RANK with a total tie-break
    order; counts are exact; two rounded ratios per row.

    Scale shape: the score is the range-bucketed distributed
    PERCENT_RANK (``operators/rank.py`` — no single-task window over
    the fact), then a 15-point broadcast threshold grid with a
    single conditional agg — the curve costs one shuffle regardless
    of n.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_percent_rank,
    )

    l = load_table(spark, sf_dir, "lineitem")
    scored = distributed_percent_rank(
        l.select(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("y"),
            "l_extendedprice",
            "l_orderkey",
            "l_linenumber",
        ),
        "l_extendedprice",
        ["l_orderkey", "l_linenumber"],
        out_col="p",
    ).select("y", "p")
    n = scored.agg(F.count(F.lit(1)).cast("long").alias("n"))
    grid = spark.range(1, 16).select((F.col("id") / 20.0).alias("pt"))
    hit = F.col("p") >= F.col("pt")
    return (
        scored.crossJoin(F.broadcast(grid))
        .crossJoin(F.broadcast(n))
        .groupBy("pt")
        .agg(
            F.round(F.first("pt"), 2).alias("threshold"),
            F.sum(F.when(hit & (F.col("y") == 1), 1).otherwise(0))
            .cast("long")
            .alias("n_tp"),
            F.sum(F.when(hit & (F.col("y") == 0), 1).otherwise(0))
            .cast("long")
            .alias("n_fp"),
            F.round(
                F.sum(F.when(hit & (F.col("y") == 1), 1.0).otherwise(0.0))
                / F.max("n")
                - F.sum(F.when(hit & (F.col("y") == 0), 1.0).otherwise(0.0))
                / F.max("n")
                * F.first("pt")
                / (1.0 - F.first("pt")),
                6,
            ).alias("net_benefit"),
            F.round(
                F.sum(F.col("y") * 1.0) / F.max("n")
                - (1.0 - F.sum(F.col("y") * 1.0) / F.max("n"))
                * F.first("pt")
                / (1.0 - F.first("pt")),
                6,
            ).alias("treat_all_benefit"),
        )
        .drop("pt")
    )


@query(
    "chao2_shared_vocabulary",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT source, w
        FROM (
            SELECT source, unnest(string_split_regex(lower(trim(text)),
                       '\\s+')) AS w
            FROM documents WHERE trim(text) <> ''
        ) t
        WHERE length(w) >= 1
    ), inc AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS n_sources
        FROM toks GROUP BY w
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS s_obs,
               CAST(SUM(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS q1,
               CAST(SUM(CASE WHEN n_sources = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS q2
        FROM inc
    ), m AS (
        SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS m FROM toks
    )
    SELECT agg.s_obs, agg.q1, agg.q2, m.m AS n_sources,
           CAST(ROUND(agg.s_obs
                + ((m.m - 1.0) / m.m) * agg.q1 * (agg.q1 - 1)
                  / (2.0 * (agg.q2 + 1))) AS BIGINT) AS chao2_estimate
    FROM agg, m
    """,
)
def chao2_shared_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao2 incidence-based richness estimator on the corpus
    vocabulary: treating each SOURCE as a sampling occasion and a
    word's presence/absence per source as incidence, the
    bias-corrected Chao2 S_obs + ((m-1)/m) Q1(Q1-1)/(2(Q2+1))
    extrapolates how many vocabulary items exist that NO source has
    shown yet — the incidence twin of `chao1_vocabulary_estimate`
    (abundance-based): Chao1 asks 'how many words haven't we read',
    Chao2 asks 'how many words has no SOURCE exhibited', the right
    question when coverage grows by adding sources/domains rather
    than tokens.

    Determinism: distinct incidence sets and integer Q1/Q2 counts;
    one rounded closed form.

    Scale shape: distinct (source, word) reduce (map-side combine
    collapses duplicates), one small agg ladder — identical shape to
    the Chao1 pipeline with source in the key.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.trim("text") != "")
        .select(
            "source",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w"),
        )
        .filter(F.length("w") >= 1)
        .distinct()
    )
    inc = toks.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_sources")
    )
    agg = inc.agg(
        F.count(F.lit(1)).cast("long").alias("s_obs"),
        F.sum(F.when(F.col("n_sources") == 1, 1).otherwise(0))
        .cast("long")
        .alias("q1"),
        F.sum(F.when(F.col("n_sources") == 2, 1).otherwise(0))
        .cast("long")
        .alias("q2"),
    )
    m = toks.agg(F.countDistinct("source").cast("long").alias("m"))
    return agg.crossJoin(F.broadcast(m)).select(
        "s_obs",
        "q1",
        "q2",
        F.col("m").alias("n_sources"),
        F.round(
            F.col("s_obs")
            + ((F.col("m") - 1.0) / F.col("m"))
            * F.col("q1")
            * (F.col("q1") - 1)
            / (2.0 * (F.col("q2") + 1))
        )
        .cast("long")
        .alias("chao2_estimate"),
    )


@query(
    "dp_exponential_mechanism",
    oracle="""
    WITH util AS (
        SELECT c.c_mktsegment AS seg,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
    ), w AS (
        -- epsilon = 0.1, sensitivity = 1 (one order moves one count)
        SELECT seg, n_orders,
               EXP(0.1 * n_orders / 2.0
                   - (SELECT MAX(0.1 * n_orders / 2.0) FROM util)) AS wt
        FROM util
    ), z AS (SELECT SUM(wt) AS z FROM w)
    SELECT w.seg AS segment, w.n_orders,
           CAST(ROUND(1000000 * w.wt / z.z) AS BIGINT) AS select_ppm,
           CAST(CASE WHEN w.n_orders = (SELECT MAX(n_orders) FROM util)
                THEN 1 ELSE 0 END AS BIGINT) AS is_argmax
    FROM w, z
    """,
)
def dp_exponential_mechanism(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential mechanism for differentially-private SELECTION:
    choosing the busiest market segment with epsilon = 0.1 and
    sensitivity 1, each candidate is selected with probability
    proportional to exp(eps * utility / 2) — reported here as the
    EXACT selection distribution in ppm (max-shifted for overflow-
    free exponentials) rather than one sampled draw, which is the
    auditable object. Completes the DP family's selection gap:
    `dp_noisy_counts_segments` releases counts, `svt_above_threshold_
    replay` answers threshold queries, `ldp_rr_frequency_debias`
    randomizes locally — the exponential mechanism picks a BEST item
    with a utility guarantee (P(utility gap > 2t/eps) <= m e^-t).

    Determinism: integer utilities; identical shifted-exponential
    expression trees; ppm rounding.

    Scale shape: one agg to the candidate relation, one 1-row
    normalizer, in-row arithmetic — selection cost is independent of
    fact volume.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    util = (
        o.join(
            F.broadcast(
                c.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
            ),
            "o_custkey",
        )
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )
    util = _ckpt(util)  # shared fan-out relation
    mx = util.agg(
        F.max(0.1 * F.col("n_orders") / 2.0).alias("mx"),
        F.max("n_orders").alias("best_n"),
    )
    w = util.crossJoin(F.broadcast(mx)).select(
        "seg",
        "n_orders",
        F.exp(0.1 * F.col("n_orders") / 2.0 - F.col("mx")).alias("wt"),
        "best_n",
    )
    z = w.agg(F.sum("wt").alias("z"))
    return w.crossJoin(F.broadcast(z)).select(
        F.col("seg").alias("segment"),
        "n_orders",
        F.round(1000000 * F.col("wt") / F.col("z"))
        .cast("long")
        .alias("select_ppm"),
        F.when(F.col("n_orders") == F.col("best_n"), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_argmax"),
    )


@query("mondrian_k_anonymization")
def mondrian_k_anonymization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mondrian multidimensional k-anonymization (k = 50) of the
    customer quasi-identifiers (account balance cents, nation key):
    recursively split the widest-normalized-range dimension at its
    median until no split leaves both halves >= k, then publish each
    leaf BOX (attribute ranges + count) — the standard top-down
    generalization that `k_anonymity_audit` MEASURES (it checks a
    given generalization; this query CONSTRUCTS one). Every leaf is
    guaranteed >= k (pinned by the invariant test), and the output
    discernibility cost sum(|leaf|^2) is the quality metric to
    compare anonymization schemes.

    Determinism: exact integer QIs; median splits use the lower
    median with deterministic tie handling; dimension choice by
    (normalized range, dimension index).

    Scale shape: the recursion runs in one applyInPandas call over
    the QI closure (two ints per person); at population scale each
    split is a distributed median + partition-by-predicate pass —
    O(depth) scans, the classic Mondrian implementation.
    """
    import pandas as pd

    c = load_table(spark, sf_dir, "customer")
    qi = c.select(
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
        F.col("c_nationkey").cast("long").alias("nk"),
    ).withColumn("g", F.lit(1))
    K = 50

    def mondrian(pdf: pd.DataFrame) -> pd.DataFrame:
        pts = list(zip(pdf["bal"].astype(int), pdf["nk"].astype(int)))
        gmin = [min(p[d] for p in pts) for d in (0, 1)]
        gspan = [
            max(max(p[d] for p in pts) - gmin[d], 1) for d in (0, 1)
        ]
        leaves = []

        def split(box):
            if len(box) < 2 * K:
                leaves.append(box)
                return
            spans = []
            for d_ in (0, 1):
                vals = [p[d_] for p in box]
                spans.append(
                    ((max(vals) - min(vals)) / gspan[d_], -d_, d_)
                )
            spans.sort(reverse=True)
            for _, _, d_ in spans:
                vals = sorted(p[d_] for p in box)
                med = vals[(len(vals) - 1) // 2]
                lo = [p for p in box if p[d_] <= med]
                hi = [p for p in box if p[d_] > med]
                if len(lo) >= K and len(hi) >= K:
                    split(lo)
                    split(hi)
                    return
            leaves.append(box)

        split(pts)
        rows = []
        for i, box in enumerate(
            sorted(leaves, key=lambda b: (min(p[0] for p in b),
                                          min(p[1] for p in b)))
        ):
            rows.append(
                {
                    "leaf": i + 1,
                    "bal_min": min(p[0] for p in box),
                    "bal_max": max(p[0] for p in box),
                    "nk_min": min(p[1] for p in box),
                    "nk_max": max(p[1] for p in box),
                    "n_customers": len(box),
                    "discernibility": sum(
                        len(b) * len(b) for b in leaves
                    ),
                }
            )
        return pd.DataFrame(rows)

    return qi.groupBy("g").applyInPandas(
        mondrian,
        schema=(
            "leaf long, bal_min long, bal_max long, nk_min long, "
            "nk_max long, n_customers long, discernibility long"
        ),
    )


@query("sinkhorn_ot_segments")
def sinkhorn_ot_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropic optimal transport (Sinkhorn, 50 fixed iterations,
    reg = 0.1) between the market-segment revenue profiles of the
    top-2 revenue nations: cost = |segment rank difference| / 4, and
    the resulting transport plan is returned with a DECLARATIVE
    certificate — the row/column marginal residuals are recomputed
    relationally from the emitted plan and must vanish to rounding
    (Sinkhorn converges geometrically; 50 iterations puts residuals
    below micro resolution). The regularized-OT workhorse that
    scales where exact OT (`wasserstein_value_drift` is 1-D closed
    form; `assignment_optimal_exact` is the 0-reg limit) needs an
    LP. Transport distance + plan entropy reported per cell.

    Determinism: exact cent marginals normalized once; the scaling
    iterations run in one closure call; residual check is pure
    relational arithmetic on the rounded plan.

    Scale shape: profiles collapse to k x k (k = 5); Sinkhorn on
    big k is embarrassingly parallel matrix scaling — the per-cell
    independence is why it replaced LP solvers at scale.
    """
    import math

    import pandas as pd

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    base = (
        o.join(
            F.broadcast(
                c.select(
                    F.col("c_custkey").alias("o_custkey"),
                    "c_nationkey",
                    "c_mktsegment",
                )
            ),
            "o_custkey",
        )
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents"))
    )
    top2 = (
        base.groupBy("nk")
        .agg(F.sum("cents").alias("tot"))
        .select(
            "nk",
            F.row_number()
            .over(Window.orderBy(F.desc("tot"), "nk"))
            .alias("rk"),
        )
        .filter(F.col("rk") <= 2)
    )
    closure = base.join(F.broadcast(top2), "nk").withColumn("g", F.lit(1))

    def sinkhorn(pdf: pd.DataFrame) -> pd.DataFrame:
        segs = sorted(set(pdf["seg"]))
        k = len(segs)
        sidx = {s_: i for i, s_ in enumerate(segs)}
        a = [0.0] * k
        b = [0.0] * k
        for _, row in pdf.iterrows():
            if int(row["rk"]) == 1:
                a[sidx[row["seg"]]] = float(row["cents"])
            else:
                b[sidx[row["seg"]]] = float(row["cents"])
        sa, sb = sum(a), sum(b)
        a = [x / sa for x in a]
        b = [x / sb for x in b]
        cost = [[abs(i - j) / 4.0 for j in range(k)] for i in range(k)]
        Kmat = [[math.exp(-cost[i][j] / 0.1) for j in range(k)]
                for i in range(k)]
        u = [1.0] * k
        v = [1.0] * k
        for _ in range(50):
            u = [
                a[i] / sum(Kmat[i][j] * v[j] for j in range(k))
                for i in range(k)
            ]
            v = [
                b[j] / sum(Kmat[i][j] * u[i] for i in range(k))
                for j in range(k)
            ]
        rows = []
        for i in range(k):
            for j in range(k):
                p = u[i] * Kmat[i][j] * v[j]
                rows.append(
                    {
                        "seg_from": segs[i],
                        "seg_to": segs[j],
                        "plan_ppm": int(round(1000000 * p)),
                        "cost_micro": int(round(1000000 * cost[i][j])),
                        "a_ppm": int(round(1000000 * a[i])),
                        "b_ppm": int(round(1000000 * b[j])),
                    }
                )
        return pd.DataFrame(rows)

    plan = closure.groupBy("g").applyInPandas(
        sinkhorn,
        schema=(
            "seg_from string, seg_to string, plan_ppm long, cost_micro long,"
            " a_ppm long, b_ppm long"
        ),
    )
    plan = plan.transform(_ckpt)
    rowres = plan.groupBy("seg_from").agg(
        (F.sum("plan_ppm") - F.first("a_ppm")).alias("row_resid_ppm")
    )
    colres = plan.groupBy("seg_to").agg(
        (F.sum("plan_ppm") - F.first("b_ppm")).alias("col_resid_ppm")
    )
    return (
        plan.join(F.broadcast(rowres), "seg_from")
        .join(F.broadcast(colres), "seg_to")
        .select(
            "seg_from",
            "seg_to",
            "plan_ppm",
            "cost_micro",
            "row_resid_ppm",
            "col_resid_ppm",
        )
    )
