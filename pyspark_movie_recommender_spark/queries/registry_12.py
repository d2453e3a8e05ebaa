"""Query registry part 12 of 12 — registration order preserved.

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

from pyspark_movie_recommender_spark.queries.registry_10 import _BALLOT_SQL  # noqa: E501

@query("disk_scheduling_replay")
def disk_scheduling_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disk-arm scheduling replay on a synthetic seek workload (the
    first 200 orders' value-percent positions 0-99 in arrival order,
    head starting at 50): total seek distance under FCFS (arrival
    order), SSTF (greedy nearest), and SCAN (elevator: service
    upward then downward) — the OS-scheduling triad whose trade-offs
    (FCFS fair but thrashy, SSTF short but starvation-prone, SCAN
    bounded) mirror the I/O-ordering choices a columnar scan
    scheduler makes. Invariants pin the SCAN bound (total <= 2x the
    position span) and that SSTF never exceeds FCFS on this workload
    shape.

    Determinism: integer positions from exact cent ranks; greedy
    ties toward the lower track; fixed start.

    Scale shape: workload extraction is the range-bucketed
    distributed PERCENT_RANK (``operators/rank.py`` — no single-task
    window over the fact) + a 200-row limit; the replays are one
    closure call over those 200 rows — arm scheduling state is O(1).
    """
    import pandas as pd

    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_percent_rank,
    )

    o = load_table(spark, sf_dir, "orders")
    jobs = (
        distributed_percent_rank(
            o.select("o_orderkey", "o_orderdate", "o_totalprice"),
            "o_totalprice",
            ["o_orderkey"],
            out_col="pr",
        )
        .select("o_orderkey", "o_orderdate", "pr")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(200)
        .select(
            F.floor(F.col("pr") * 99.999).cast("long").alias("track"),
            F.row_number()
            .over(Window.orderBy("o_orderdate", "o_orderkey"))
            .alias("seq"),
        )
        .withColumn("g", F.lit(1))
    )

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("seq")
        tracks = [int(t) for t in pdf["track"]]
        start = 50
        # FCFS
        cur, fcfs = start, 0
        for t in tracks:
            fcfs += abs(t - cur)
            cur = t
        # SSTF
        left = sorted(tracks)
        cur, sstf = start, 0
        pool = list(left)
        while pool:
            nxt = min(pool, key=lambda t: (abs(t - cur), t))
            sstf += abs(nxt - cur)
            cur = nxt
            pool.remove(nxt)
        # SCAN: service everything >= start going up, then sweep down
        ups = sorted(t for t in tracks if t >= start)
        downs = sorted((t for t in tracks if t < start), reverse=True)
        cur, scan = start, 0
        for t in ups + downs:
            scan += abs(t - cur)
            cur = t
        span = max(tracks) - min(tracks)
        return pd.DataFrame(
            {
                "n_requests": [len(tracks)],
                "fcfs_seek": [fcfs],
                "sstf_seek": [sstf],
                "scan_seek": [scan],
                "track_span": [span],
            }
        )

    return jobs.groupBy("g").applyInPandas(
        replay,
        schema=(
            "n_requests long, fcfs_seek long, sstf_seek long, "
            "scan_seek long, track_span long"
        ),
    )


@query("fifo_belady_anomaly")
def fifo_belady_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Belady-anomaly scan for FIFO page replacement on the brand
    reference stream: FIFO hit counts at capacities 1..8, with the
    anomaly flag set wherever ADDING a frame produced FEWER hits —
    the famous non-monotonicity FIFO suffers and stack algorithms
    (LRU in `mattson_reuse_profile`, OPT in `belady_opt_cache_replay`)
    provably cannot. Alongside those two, the cache family now shows
    the full inclusion-property story: OPT >= LRU at every size,
    both monotone; FIFO — checked here — need not be.

    Determinism: total stream order; FIFO queue replay per capacity.

    Scale shape: position via the range-bucketed distributed rank
    (``operators/rank.py``); the FIFO replay is inherently
    sequential, so it runs per BOUNDED pos-segment with the tiny
    carried queue state (≤ capacity brands per capacity) threaded
    between segments by the driver — no single-task pass over the
    full stream.
    """
    from collections import deque

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
    caps = list(range(1, 9))
    n_total = stream.count()
    n_seg = 8
    seg_size = max(1, -(-n_total // n_seg))
    stream = stream.withColumn(
        "seg", ((F.col("pos") - 1) / seg_size).cast("long")
    ).transform(_ckpt)

    def make_replay(entry: dict[int, list[str]]):
        def replay(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("pos")
            ks = pdf["k"].tolist()
            rows = []
            for cap in caps:
                q: deque = deque(entry.get(cap, []))
                inq = set(q)
                hits = 0
                for k in ks:
                    if k in inq:
                        hits += 1
                    else:
                        if len(q) >= cap:
                            inq.discard(q.popleft())
                        q.append(k)
                        inq.add(k)
                rows.append(
                    {
                        "capacity": cap,
                        "seg_hits": hits,
                        "exit_q": ";".join(q),
                    }
                )
            return pd.DataFrame(rows)

        return replay

    state: dict[int, list[str]] = {c: [] for c in caps}
    hits = {c: 0 for c in caps}
    for seg in range(n_seg):
        seg_rows = bounded_collect(
            stream.filter(F.col("seg") == seg)
            .groupBy("seg")
            .applyInPandas(
                make_replay(state),
                schema="capacity long, seg_hits long, exit_q string",
            ),
            len(caps),  # one row per capacity per segment
            "registry_12.segment_replay",
        )
        for r in seg_rows:
            hits[r["capacity"]] += r["seg_hits"]
            state[r["capacity"]] = [
                b for b in r["exit_q"].split(";") if b
            ]
    out, prev_hits = [], None
    for cap in caps:
        out.append(
            (cap, hits[cap], prev_hits is not None and hits[cap] < prev_hits)
        )
        prev_hits = hits[cap]
    return spark.createDataFrame(
        out, "capacity long, hits long, anomaly boolean"
    )


@query(
    "latin_hypercube_audit",
    oracle="""
    WITH idx AS (
        SELECT CAST(unnest(generate_series(0, 31)) AS BIGINT) AS i
    ), perm AS (
        -- two deterministic hash permutations of 0..31
        SELECT i,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY (i * 2654435761) % 4294967296, i) - 1
                   AS BIGINT) AS px,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY (i * 40503 + 17) % 4294967296, i) - 1
                   AS BIGINT) AS py
        FROM idx
    ), pts AS (
        -- LHS point in stratum centers: ((px+0.5)/32, (py+0.5)/32)
        SELECT i, px, py,
               (2 * px + 1) AS nx, (2 * py + 1) AS ny
        FROM perm
    ), est AS (
        -- integrand xy < 1/2 on the unit square: exact integer test
        -- (2px+1)(2py+1) < 2 * 64 * 64 / 2  => nx*ny < 2048
        SELECT CAST(SUM(CASE WHEN nx * ny < 2048 THEN 1 ELSE 0 END)
                    AS BIGINT) AS under,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM pts
    )
    SELECT est.n AS n_points,
           CAST((1000000 * est.under) // est.n AS BIGINT)
               AS estimate_ppm,
           CAST(846574 AS BIGINT) AS exact_ppm,
           CAST(ABS((1000000 * est.under) // est.n - 846574) AS BIGINT)
               AS abs_error_ppm,
           CAST((SELECT COUNT(DISTINCT px) FROM pts) AS BIGINT)
               AS distinct_x_strata,
           CAST((SELECT COUNT(DISTINCT py) FROM pts) AS BIGINT)
               AS distinct_y_strata
    FROM est
    """,
)
def latin_hypercube_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latin hypercube sample audit: 32 points built from two
    deterministic hash PERMUTATIONS of the strata (one point per row
    and per column — the LHS property, certified by the distinct-
    strata counts equalling n), placed at stratum centers and used to
    integrate the same xy < 1/2 region as `halton_qmc_integration` —
    stratified sampling's variance-reduction story told with exact
    integer arithmetic (the integrand test cross-multiplies to
    (2px+1)(2py+1) < 2048). The third member of the sampling-design
    family: hash-MC (bootstrap weights), low-discrepancy (Halton),
    and now LHS — the design used for expensive-simulation sweeps.

    Determinism: permutations are rank windows over multiplicative
    hashes with index tie-breaks; all integers.

    Scale shape: a 32-row literal relation and two rank windows —
    design generation is control-plane work; the same permutation
    trick stratifies scans at any n.
    """
    idx = spark.range(0, 32).select(F.col("id").cast("long").alias("i"))
    perm = idx.select(
        "i",
        (
            F.row_number().over(
                Window.orderBy(
                    F.expr("(i * 2654435761) % 4294967296"), F.col("i")
                )
            )
            - 1
        )
        .cast("long")
        .alias("px"),
        (
            F.row_number().over(
                Window.orderBy(
                    F.expr("(i * 40503 + 17) % 4294967296"), F.col("i")
                )
            )
            - 1
        )
        .cast("long")
        .alias("py"),
    )
    pts = perm.select(
        "i",
        "px",
        "py",
        (2 * F.col("px") + 1).alias("nx"),
        (2 * F.col("py") + 1).alias("ny"),
    )
    pts = pts.transform(_ckpt)
    est = pts.agg(
        F.sum(F.when(F.col("nx") * F.col("ny") < 2048, 1).otherwise(0))
        .cast("long")
        .alias("under"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    strata = pts.agg(
        F.countDistinct("px").cast("long").alias("distinct_x_strata"),
        F.countDistinct("py").cast("long").alias("distinct_y_strata"),
    )
    return est.crossJoin(F.broadcast(strata)).select(
        F.col("n").alias("n_points"),
        F.expr("(1000000 * under) DIV n").cast("long").alias("estimate_ppm"),
        F.lit(846574).cast("long").alias("exact_ppm"),
        F.expr("ABS((1000000 * under) DIV n - 846574)")
        .cast("long")
        .alias("abs_error_ppm"),
        "distinct_x_strata",
        "distinct_y_strata",
    )


@query(
    "richardson_extrapolation_audit",
    oracle="""
    WITH d AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) - 1 AS BIGINT)
                   AS t,
               x
        FROM (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(ROUND(SUM(value) * 100) AS BIGINT) AS x
            FROM events GROUP BY 1
        ) s
    ), n AS (SELECT CAST(MAX(t) AS BIGINT) AS tmax FROM d),
    fine AS (
        -- trapezoid at h = 1 over t = 0..tmax (tmax even)
        SELECT SUM(CASE WHEN t = 0 OR t = n.tmax
                   THEN x * 0.5 ELSE x * 1.0 END) AS t_h
        FROM d, n GROUP BY n.tmax
    ), coarse AS (
        -- trapezoid at h = 2 using even t only
        SELECT SUM(CASE WHEN t = 0 OR t = n.tmax
                   THEN x * 1.0 ELSE x * 2.0 END) AS t_2h
        FROM d, n WHERE t % 2 = 0 GROUP BY n.tmax
    )
    SELECT ROUND(coarse.t_2h, 1) AS trap_coarse,
           ROUND(fine.t_h, 1) AS trap_fine,
           ROUND((4.0 * fine.t_h - coarse.t_2h) / 3.0, 4)
               AS richardson_simpson,
           ROUND(ABS(fine.t_h - coarse.t_2h), 1) AS refinement_delta
    FROM fine, coarse
    """,
)
def richardson_extrapolation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Richardson extrapolation on the daily revenue integral: the
    trapezoid rule at step h and 2h combines as (4 T_h - T_2h)/3 —
    which is EXACTLY Simpson's rule, gaining two orders of accuracy
    from two cheap estimates. The numerical-analysis pattern behind
    every 'compute at two resolutions and extrapolate' production
    trick (step-halving error control, multigrid); the
    refinement_delta column is the practical error indicator (the
    h -> 2h difference bounds the trapezoid error to leading order).

    Determinism: exact integer samples; fixed even grid (the series
    has an odd day count so tmax is even); rounding at output.

    Scale shape: two conditional aggs over the day grid.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100).cast("long").alias("x")
    )
    d = base.select(
        (F.row_number().over(Window.orderBy("day")) - 1)
        .cast("long")
        .alias("t"),
        "x",
    ).withColumn(
        "tmax", F.max("t").over(Window.partitionBy()).cast("long")
    )
    d = d.transform(_ckpt)
    fine = d.agg(
        F.sum(
            F.when(
                (F.col("t") == 0) | (F.col("t") == F.col("tmax")),
                F.col("x") * 0.5,
            ).otherwise(F.col("x") * 1.0)
        ).alias("t_h")
    )
    coarse = d.filter(F.col("t") % 2 == 0).agg(
        F.sum(
            F.when(
                (F.col("t") == 0) | (F.col("t") == F.col("tmax")),
                F.col("x") * 1.0,
            ).otherwise(F.col("x") * 2.0)
        ).alias("t_2h")
    )
    return fine.crossJoin(F.broadcast(coarse)).select(
        F.round("t_2h", 1).alias("trap_coarse"),
        F.round("t_h", 1).alias("trap_fine"),
        F.round((4.0 * F.col("t_h") - F.col("t_2h")) / 3.0, 4).alias(
            "richardson_simpson"
        ),
        F.round(F.abs(F.col("t_h") - F.col("t_2h")), 1).alias(
            "refinement_delta"
        ),
    )


@query("two_sat_certified")
def two_sat_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-SAT promo-selection certified end-to-end: ten part variables
    ('promote part group g'), CONFLICT clauses (not a or not b) for
    group pairs that co-occur in many orders (cannibalization), and
    COVERAGE clauses (a or b) for consecutive groups — solved exactly
    via the implication-graph SCC algorithm (satisfiable iff no
    variable shares an SCC with its negation; assignment by SCC
    order). The emitted assignment is then checked DECLARATIVELY:
    the count of violated clauses is recomputed relationally and
    must be 0 when satisfiable. The logic-layer member of the
    certified family — `konig`/`lp`/`maxflow` certify optimization;
    2-SAT certifies CONSTRAINT SATISFACTION, the shape of
    feasibility checks in configuration pipelines.

    Determinism: integer co-occurrence thresholds; Tarjan SCC with
    sorted adjacency; clause relation is exact.

    Scale shape: clause construction is the fact agg; the 20-node
    implication solve is one closure call; the certificate is one
    broadcast join of clauses against the 10-row assignment.
    """
    import pandas as pd

    l = load_table(spark, sf_dir, "lineitem")
    d = l.select("l_orderkey", (F.col("l_partkey") % 10).alias("grp")).distinct()
    co = (
        d.alias("x")
        .join(
            d.alias("y"),
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.grp") < F.col("y.grp")),
        )
        .groupBy(F.col("x.grp").alias("a"), F.col("y.grp").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # conflict threshold at the 6 heaviest co-occurrence pairs keeps
    # the instance satisfiable while exercising real constraints
    thr = (
        co.select(
            "n",
            F.row_number()
            .over(Window.orderBy(F.desc("n"), "a", "b"))
            .alias("rn"),
        )
        .filter(F.col("rn") == 6)
        .select(F.col("n").alias("md"))
    )
    conflicts = (
        co.crossJoin(F.broadcast(thr))
        .filter(F.col("n") >= F.col("md"))
        .select("a", "b", F.lit("conflict").alias("kind"))
    )
    coverage = spark.createDataFrame(
        [(i, (i + 1) % 10, "coverage") for i in range(10)],
        "a long, b long, kind string",
    )
    clauses = conflicts.unionByName(coverage).withColumn("g", F.lit(1))
    clauses = clauses.transform(_ckpt)

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        import sys

        sys.setrecursionlimit(10000)
        # literals: var v -> node 2v (true), 2v+1 (false)
        n_vars = 10
        adj: dict[int, list] = {i: [] for i in range(2 * n_vars)}

        def lit(v, neg):
            return 2 * v + (1 if neg else 0)

        def add_or(x, negx, y, negy):
            # (x or y): !x -> y, !y -> x
            adj[lit(x, not negx)].append(lit(y, negy))
            adj[lit(y, not negy)].append(lit(x, negx))

        for _, row in pdf.iterrows():
            a, b = int(row["a"]), int(row["b"])
            if row["kind"] == "conflict":
                add_or(a, True, b, True)  # (!a or !b)
            else:
                add_or(a, False, b, False)  # (a or b)
        for k in adj:
            adj[k].sort()
        # Tarjan SCC
        idx = {}
        low = {}
        onstk = {}
        stk = []
        comp = {}
        counter = [0]
        ncomp = [0]

        def dfs(u):
            idx[u] = low[u] = counter[0]
            counter[0] += 1
            stk.append(u)
            onstk[u] = True
            for w in adj[u]:
                if w not in idx:
                    dfs(w)
                    low[u] = min(low[u], low[w])
                elif onstk.get(w):
                    low[u] = min(low[u], idx[w])
            if low[u] == idx[u]:
                while True:
                    w = stk.pop()
                    onstk[w] = False
                    comp[w] = ncomp[0]
                    if w == u:
                        break
                ncomp[0] += 1

        for u in sorted(adj):
            if u not in idx:
                dfs(u)
        sat = all(
            comp[lit(v, False)] != comp[lit(v, True)]
            for v in range(n_vars)
        )
        # Tarjan numbers components in reverse topological order:
        # var is TRUE iff comp(true-literal) < comp(false-literal)
        assign = {
            v: comp[lit(v, False)] < comp[lit(v, True)]
            for v in range(n_vars)
        }
        return pd.DataFrame(
            {
                "grp": list(range(n_vars)),
                "promoted": [bool(assign[v]) for v in range(n_vars)],
                "satisfiable": [sat] * n_vars,
            }
        )

    solved = clauses.groupBy("g").applyInPandas(
        solve, schema="grp long, promoted boolean, satisfiable boolean"
    )
    solved = solved.transform(_ckpt)
    av = solved.select(F.col("grp").alias("a"), F.col("promoted").alias("pa"))
    bv = solved.select(F.col("grp").alias("b"), F.col("promoted").alias("pb"))
    violated = (
        clauses.join(F.broadcast(av), "a")
        .join(F.broadcast(bv), "b")
        .agg(
            F.sum(
                F.when(
                    (F.col("kind") == "conflict")
                    & F.col("pa")
                    & F.col("pb"),
                    1,
                )
                .when(
                    (F.col("kind") == "coverage")
                    & ~F.col("pa")
                    & ~F.col("pb"),
                    1,
                )
                .otherwise(0)
            )
            .cast("long")
            .alias("n_violated"),
            F.count(F.lit(1)).cast("long").alias("n_clauses"),
        )
    )
    return solved.crossJoin(F.broadcast(violated))


@query("boyer_moore_majority")
def boyer_moore_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boyer-Moore majority vote over the lineitem brand stream: the
    one-pass, two-variable candidate algorithm followed by the
    REQUIRED second-pass verification — here done DECLARATIVELY (the
    candidate's exact count vs n/2 recomputed relationally), which is
    the half of the algorithm people forget: the vote only promises
    that IF a majority exists it is the candidate. With 25 near-
    uniform brands there is provably no majority — the verified
    is_majority = 0 outcome is the honest result, and the candidate
    column shows what a verification-free pipeline would have
    wrongly reported. Streaming-algorithms pedagogy as an audit;
    `misra_gries_heavy_hitters` is its k-candidate generalization.

    Determinism: per-segment votes over total (segment, pos) order;
    the weighted merge folds segments in segment order.

    Scale shape: the DISTRIBUTED form of the algorithm — one
    parallel per-segment vote (each applyInPandas task sees only its
    pos-segment), a driver-side weighted merge of the 8 tiny
    (candidate, residual) votes (the Misra-Gries k=1 merge rule,
    which preserves the majority guarantee), then one exact groupBy
    recount of the merged candidate. No single-task pass anywhere.
    """
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
            F.col("p_brand").alias("k"), "l_orderkey", "l_linenumber"
        ),
        "l_orderkey",
        ["l_linenumber"],
        rank_col="pos",
    ).select("k", "pos")
    n_total = stream.count()
    n_seg = 8
    seg_size = max(1, -(-n_total // n_seg))
    stream = stream.withColumn(
        "seg", ((F.col("pos") - 1) / seg_size).cast("long")
    ).transform(_ckpt)

    def vote(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("pos")
        cand, cnt = None, 0
        for k in pdf["k"]:
            if cnt == 0:
                cand, cnt = k, 1
            elif k == cand:
                cnt += 1
            else:
                cnt -= 1
        return pd.DataFrame(
            {"seg": [int(pdf["seg"].iloc[0])], "cand": [cand], "cnt": [cnt]}
        )

    votes = bounded_collect(
        stream.groupBy("seg").applyInPandas(
            vote, schema="seg long, cand string, cnt long"
        ),
        n_seg,
        "registry_12.segment_votes",
    )
    # Misra-Gries k=1 merge, folded in segment order: same candidate
    # adds, different candidates cancel and the larger survives
    mc, mn, fallback = None, 0, None
    for r in sorted(votes, key=lambda r: r["seg"]):
        if r["cand"] is not None:
            fallback = r["cand"]  # a fully-cancelled segment still
            # names ITS last candidate, like the sequential pass does
        if r["cand"] is None or r["cnt"] == 0:
            continue
        if mc is None or mn == 0:
            mc, mn = r["cand"], r["cnt"]
        elif r["cand"] == mc:
            mn += r["cnt"]
        elif r["cnt"] > mn:
            mc, mn = r["cand"], r["cnt"] - mn
        else:
            mn -= r["cnt"]
    if mc is None or mn == 0:
        mc = fallback
    cand = spark.createDataFrame([(mc,)], "candidate string")
    counts = stream.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n = stream.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        cand.join(counts, cand["candidate"] == counts["k"])
        .crossJoin(F.broadcast(n))
        .select(
            "candidate",
            F.col("c").alias("candidate_count"),
            F.col("n").alias("n_rows"),
            F.when(2 * F.col("c") > F.col("n"), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_majority"),
        )
    )


@query(
    "anagram_census",
    oracle="""
    WITH toks AS (
        SELECT DISTINCT
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM documents WHERE trim(text) <> ''
    ), clean AS (
        SELECT w FROM toks WHERE length(w) >= 3
          AND regexp_matches(w, '^[a-z]+$')
    ), sig AS (
        SELECT w,
               array_to_string(list_sort(string_split(w, '')), '')
                   AS signature
        FROM clean
    ), groups AS (
        SELECT signature, CAST(COUNT(*) AS BIGINT) AS n_words
        FROM sig GROUP BY 1
    )
    SELECT CAST(SUM(n_words) AS BIGINT) AS n_vocab,
           CAST(COUNT(*) AS BIGINT) AS n_signatures,
           CAST(SUM(CASE WHEN n_words >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_anagram_classes,
           CAST(MAX(n_words) AS BIGINT) AS largest_class
    FROM groups
    """,
)
def anagram_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anagram census of the corpus vocabulary: distinct alphabetic
    words (length >= 3) grouped by their sorted-letter signature;
    groups holding two or more distinct words are anagram classes
    (with min/max examples). Signature grouping is the same
    canonicalize-then-hash-join shape as the dedup family
    (`dedup_content_hash` canonicalizes documents; this canonicalizes
    WORDS up to letter order) — and sorted-letter keys are the
    classic interview question done as a relational one-liner.

    Determinism: exact distinct vocabulary; character sort; min/max
    examples.

    Scale shape: tokenize + distinct + one agg on the signature key;
    the sort-within-word is per-row map-side.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.filter(F.trim("text") != "")
        .select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
        )
        .distinct()
        .filter(
            (F.length("w") >= 3) & F.col("w").rlike("^[a-z]+$")
        )
    )
    sig = toks.select(
        "w",
        F.concat_ws(
            "", F.array_sort(F.split("w", ""))
        ).alias("signature"),
    )
    groups = sig.groupBy("signature").agg(
        F.count(F.lit(1)).cast("long").alias("n_words")
    )
    return groups.agg(
        F.sum("n_words").cast("long").alias("n_vocab"),
        F.count(F.lit(1)).cast("long").alias("n_signatures"),
        F.sum(F.when(F.col("n_words") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_anagram_classes"),
        F.max("n_words").cast("long").alias("largest_class"),
    )


@query("pareto_layers_certified")
def pareto_layers_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto onion-peeling layers of parts under (cheaper price,
    smaller size) dominance: layer 1 is the skyline, layer k the
    skyline after removing layers < k — computed in O(n log n) by the
    patience/LIS duality (sort by price with size tie, pile index on
    size = layer), and CERTIFIED DECLARATIVELY: a self-join counts
    strict-dominance pairs WITHIN a layer, which must be zero by
    construction (each layer is an antichain). Extends
    `skyline_parts_pareto` (layer 1 only): the layer number is the
    standard multi-criteria rank ('how many fronts deep'), the
    selection key NSGA-style optimizers sort by.

    Determinism: exact integer cents/sizes; patience piles with the
    established tie rule; certificate is exact.

    Scale shape: one sort feeds the sequential pile scan (pandas
    closure over a 200-part sample); the antichain certificate is a
    within-layer self-join — the scalable layer algorithm (repeated
    distributed skylines) would produce the identical labels.
    """
    import pandas as pd

    p = load_table(spark, sf_dir, "part")
    pts = (
        p.filter(F.col("p_partkey") % 10 == 0)
        .select(
            "p_partkey",
            F.round(F.col("p_retailprice") * 100).cast("long").alias(
                "price_c"
            ),
            F.col("p_size").cast("long").alias("size"),
        )
        .withColumn("g", F.lit(1))
        .transform(_ckpt)
    )

    def peel(pdf: pd.DataFrame) -> pd.DataFrame:
        # exact definitional DP: layer(p) = 1 + max layer over points
        # that STRICTLY dominate p (smaller price AND smaller size);
        # processing in (price, size) order makes all dominators
        # already labeled. Price ties dominate nothing.
        rows = sorted(
            (
                (int(r["price_c"]), int(r["size"]), int(r["p_partkey"]))
                for _, r in pdf.iterrows()
            )
        )
        labeled: list[tuple] = []
        for (pr, sz, key) in rows:
            deepest = 0
            for (qpr, qsz, _qk, ql) in labeled:
                if qpr < pr and qsz < sz and ql > deepest:
                    deepest = ql
            labeled.append((pr, sz, key, deepest + 1))
        return pd.DataFrame(
            {
                "p_partkey": [x[2] for x in labeled],
                "price_c": [x[0] for x in labeled],
                "size": [x[1] for x in labeled],
                "layer": [x[3] for x in labeled],
            }
        )

    layered = pts.groupBy("g").applyInPandas(
        peel, schema="p_partkey long, price_c long, size long, layer long"
    )
    layered = layered.transform(_ckpt)
    a, b = layered.alias("a"), layered.alias("b")
    viol = a.join(
        b,
        (F.col("a.layer") == F.col("b.layer"))
        & (F.col("a.price_c") < F.col("b.price_c"))
        & (F.col("a.size") < F.col("b.size")),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_within_layer_dominance"))
    return layered.crossJoin(F.broadcast(viol))


@query(
    "pattern_mask_profile",
    oracle="""
    WITH masks AS (
        SELECT regexp_replace(regexp_replace(regexp_replace(
                   p_name, '[a-z]', 'a', 'g'), '[A-Z]', 'A', 'g'),
                   '[0-9]', '9', 'g') AS mask
        FROM part
    )
    SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_values
    FROM masks
    GROUP BY mask
    ORDER BY n_values DESC, mask
    LIMIT 10
    """,
)
def pattern_mask_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pattern-mask profile of part names: every value is abstracted
    to a mask (lowercase -> a, uppercase -> A, digits -> 9,
    punctuation kept) and the mask histogram shows the column's
    FORMAT population — the data-profiling primitive behind format
    validation, PII detection heuristics, and parser inference
    (`data_expectations_report` checks declared expectations; masks
    DISCOVER the de-facto format). A clean column shows one dominant
    mask; format drift shows as a mask tail.

    Determinism: pure regex rewriting; exact counts; (count, mask)
    ordered top-10.

    Scale shape: three map-side regex rewrites and one hash agg —
    the profile is a single pass per column.
    """
    p = load_table(spark, sf_dir, "part")
    masks = p.select(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col("p_name"), "[a-z]", "a"),
                "[A-Z]",
                "A",
            ),
            "[0-9]",
            "9",
        ).alias("mask")
    )
    return (
        masks.groupBy("mask")
        .agg(F.count(F.lit(1)).cast("long").alias("n_values"))
        .orderBy(F.desc("n_values"), "mask")
        .limit(10)
    )


@query(
    "time_reversal_asymmetry",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(ROUND(SUM(value) * 100) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), lagd AS (
        SELECT x,
               LAG(x, 1) OVER (ORDER BY day) AS x1,
               LAG(x, 2) OVER (ORDER BY day) AS x2
        FROM d
    ), diffs AS (
        SELECT (x - x2) * 1.0 AS dd,
               x, x1, x2
        FROM lagd WHERE x2 IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triples,
           ROUND(SUM(dd * dd * dd) / COUNT(*)
                 / POW(SUM(dd * dd) / COUNT(*), 1.5), 6) AS tra_c3,
           ROUND(SUM((x * 1.0 * x) * x1 - x * 1.0 * (x1 * x1))
                 / COUNT(*)
                 / POW((SELECT (SUM(x * 1.0 * x) / COUNT(*))
                        - (SUM(x) * 1.0 / COUNT(*))
                          * (SUM(x) * 1.0 / COUNT(*)) FROM d), 1.5), 6)
               AS ramsey_t_rev
    FROM diffs
    """,
)
def time_reversal_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-reversal asymmetry diagnostics of the daily revenue
    series: the skewed-differences statistic C3 = E[(x_t -
    x_{t-2})^3] / E[(x_t - x_{t-2})^2]^1.5 and the Ramsey-Rothman
    TREV = E[x_t^2 x_{t-1} - x_t x_{t-1}^2] (variance-normalized) —
    both exactly ZERO in expectation for any time-reversible (hence
    any Gaussian linear) process, so significant values certify
    NONLINEARITY or irreversibility that the correlation-based tools
    (`acf_daily_event_value`, `arma11_mom_daily`) are blind to by
    construction. The cheap screen before reaching for
    `lyapunov_rosenstein_daily` / `rqa_daily`.

    Determinism: exact integer series; identical moment trees; one
    rounding per statistic.

    Scale shape: two LAG windows and two moment censuses — linear.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100).cast("long").alias("x")
    )
    d = d.transform(_ckpt)
    w = Window.orderBy("day")
    lagd = d.select(
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 2).over(w).alias("x2"),
    ).filter(F.col("x2").isNotNull())
    dd = (F.col("x") - F.col("x2")) * 1.0
    n_ = F.count(F.lit(1))
    var_d = d.agg(
        (
            (F.sum(F.col("x") * 1.0 * F.col("x")) / n_)
            - (F.sum("x") * 1.0 / n_) * (F.sum("x") * 1.0 / n_)
        ).alias("v")
    )
    return lagd.crossJoin(F.broadcast(var_d)).agg(
        n_.cast("long").alias("n_triples"),
        F.round(
            F.sum(dd * dd * dd)
            / n_
            / F.pow(F.sum(dd * dd) / n_, F.lit(1.5)),
            6,
        ).alias("tra_c3"),
        F.round(
            F.sum(
                (F.col("x") * 1.0 * F.col("x")) * F.col("x1")
                - F.col("x") * 1.0 * (F.col("x1") * F.col("x1"))
            )
            / n_
            / F.pow(F.first("v"), F.lit(1.5)),
            6,
        ).alias("ramsey_t_rev"),
    )


@query(
    "footrule_rank_aggregation",
    oracle=f"""
    WITH b AS ({_BALLOT_SQL}),
    r AS (
        SELECT nk, seg,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY nk ORDER BY cents DESC, seg) AS BIGINT)
                   AS rk
        FROM b
    ), segs AS (
        SELECT seg FROM (SELECT DISTINCT seg FROM b) t
    ), perms AS (
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
        SELECT pid, c1 AS seg, 1 AS p FROM perms
        UNION ALL SELECT pid, c2, 2 FROM perms
        UNION ALL SELECT pid, c3, 3 FROM perms
        UNION ALL SELECT pid, c4, 4 FROM perms
        UNION ALL SELECT pid, c5, 5 FROM perms
    ), cost AS (
        SELECT pos.pid, SUM(ABS(pos.p - r.rk)) AS footrule
        FROM pos JOIN r ON r.seg = pos.seg
        GROUP BY pos.pid
    ), best AS (
        SELECT pid, footrule FROM cost ORDER BY footrule, pid LIMIT 1
    )
    SELECT CAST(pos.p AS BIGINT) AS rank_pos, pos.seg AS segment,
           CAST(best.footrule AS BIGINT) AS total_footrule
    FROM pos JOIN best USING (pid)
    """,
)
def footrule_rank_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman-footrule-optimal rank aggregation of the 25 nation
    ballots: the consensus permutation minimizing the total
    displacement sum |position - voter rank| over all voters, found
    by exact 120-permutation enumeration — the L1 companion of
    `kemeny_optimal_ranking` (Kendall distance): footrule is a
    2-approximation of Kemeny (Diaconis-Graham) but, unlike Kemeny,
    is polynomial in general via bipartite assignment — and at 5
    candidates both are exact here, making the PAIR a measurable
    instance of the Diaconis-Graham inequality (pinned in the test).

    Determinism: exact cent ballots with tie-breaks; (cost, pid)
    argmin.

    Scale shape: identical to the Kemeny enumeration — ballots
    collapse to 125 rows, the 120-perm cross is broadcast-side.
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
        .cast("long")
        .alias("rk"),
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
            "pid", F.col(f"c{i}").alias("seg"), F.lit(i).alias("p")
        )
        pos = part if pos is None else pos.unionByName(part)
    cost = (
        pos.join(F.broadcast(r), "seg")
        .groupBy("pid")
        .agg(F.sum(F.abs(F.col("p") - F.col("rk"))).alias("footrule"))
    )
    best = cost.orderBy("footrule", "pid").limit(1)
    return pos.join(F.broadcast(best), "pid").select(
        F.col("p").cast("long").alias("rank_pos"),
        F.col("seg").alias("segment"),
        F.col("footrule").cast("long").alias("total_footrule"),
    )


@query(
    "g_chart_rare_events",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_err
        FROM events WHERE event_type = 'error'
        GROUP BY 1
    ), thr AS (
        SELECT quantile_cont(n_err, 0.8) AS q FROM daily
    ), spikes AS (
        SELECT day,
               CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
        FROM daily, thr WHERE n_err > thr.q
    ), gaps AS (
        SELECT CAST(datediff('day',
                   LAG(day) OVER (ORDER BY i), day) AS BIGINT) AS gap
        FROM spikes
    ), fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
               SUM(gap) * 1.0 / COUNT(*) AS gbar
        FROM gaps WHERE gap IS NOT NULL
    )
    SELECT n_gaps,
           ROUND(gbar, 4) AS mean_gap_days,
           -- geometric-model g-chart UCL: gbar + 3 sqrt(gbar(gbar-1))
           ROUND(gbar + 3.0 * SQRT(gbar * GREATEST(gbar - 1.0, 0.0)),
                 4) AS ucl_days,
           CAST((SELECT SUM(CASE WHEN gap > fit.gbar + 3.0
                     * SQRT(fit.gbar * GREATEST(fit.gbar - 1.0, 0.0))
                     THEN 1 ELSE 0 END)
                 FROM gaps WHERE gap IS NOT NULL) AS BIGINT)
               AS n_breaches
    FROM fit
    """,
)
def g_chart_rare_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """g-chart (geometric control chart) for RARE events: the gaps in
    days between error-count spike days (above the 80th percentile)
    are modeled geometrically, with UCL = gbar + 3 sqrt(gbar(gbar-1))
    — the SPC chart for when events are too rare for `p_chart_weekly_
    late_orders` (a mostly-zero p-chart is useless; the g-chart
    monitors the WAITING TIME instead). An unusually LONG quiet gap
    breaching the UCL is itself a signal (process change), counted in
    n_breaches. Completes the control-chart suite: xbar-R, p, EWMA,
    CUSUM (+ ARL design), g.

    Determinism: exact daily counts and date gaps; quantile threshold
    on identical values; rounding at output.

    Scale shape: daily agg, one LAG over spike days, scalar fit.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.filter(F.col("event_type") == "error").groupBy(
        F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_err"))
    thr = daily.agg(F.expr("percentile(n_err, 0.8)").alias("q"))
    spikes = (
        daily.crossJoin(F.broadcast(thr))
        .filter(F.col("n_err") > F.col("q"))
        .select(
            "day",
            F.row_number().over(Window.orderBy("day")).cast("long").alias("i"),
        )
    )
    gaps = spikes.select(
        F.datediff("day", F.lag("day").over(Window.orderBy("i")))
        .cast("long")
        .alias("gap")
    ).filter(F.col("gap").isNotNull())
    gaps = gaps.transform(_ckpt)
    fit = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        (F.sum("gap") * 1.0 / F.count(F.lit(1))).alias("gbar"),
    )
    ucl = F.col("gbar") + 3.0 * F.sqrt(
        F.col("gbar") * F.greatest(F.col("gbar") - 1.0, F.lit(0.0))
    )
    breaches = gaps.crossJoin(F.broadcast(fit)).agg(
        F.sum(F.when(F.col("gap") > ucl, 1).otherwise(0))
        .cast("long")
        .alias("n_breaches")
    )
    return fit.crossJoin(F.broadcast(breaches)).select(
        "n_gaps",
        F.round("gbar", 4).alias("mean_gap_days"),
        F.round(ucl, 4).alias("ucl_days"),
        "n_breaches",
    )


@query(
    "learned_index_audit",
    oracle="""
    WITH keys AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS k,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY ROUND(o_totalprice * 100), o_orderkey)
                   AS BIGINT) AS pos
        FROM orders
    ), fit AS (
        SELECT (SUM(k * 1.0 * pos) - SUM(k) * 1.0 * SUM(pos) / COUNT(*))
               / (SUM(k * 1.0 * k) - SUM(k) * 1.0 * SUM(k) / COUNT(*))
                   AS b,
               SUM(pos) * 1.0 / COUNT(*)
               - (SUM(k * 1.0 * pos) - SUM(k) * 1.0 * SUM(pos)
                  / COUNT(*))
                 / (SUM(k * 1.0 * k) - SUM(k) * 1.0 * SUM(k)
                    / COUNT(*))
                 * SUM(k) * 1.0 / COUNT(*) AS a,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM keys
    ), err AS (
        SELECT keys.pos,
               ABS(keys.pos - (fit.a + fit.b * keys.k)) AS e
        FROM keys, fit
    )
    SELECT fit.n AS n_keys,
           CAST(ROUND((SELECT MAX(e) FROM err)) AS BIGINT)
               AS max_abs_error,
           ROUND((SELECT SUM(e) / COUNT(*) FROM err), 2)
               AS mean_abs_error,
           ROUND(LN((SELECT MAX(e) FROM err) * 2 + 1) / LN(2.0), 2)
               AS learned_probe_bits,
           ROUND(LN(fit.n * 1.0) / LN(2.0), 2) AS btree_probe_bits
    FROM fit
    """,
)
def learned_index_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-index (RMI root) audit on the order-value key space: a
    single linear model position ~ key is fitted over the sorted key
    array, and its maximum absolute position error is the binary-
    search window a learned index must fall back to — log2(2*maxerr
    + 1) probe bits against log2(n) for a classical B-tree descent,
    the Kraska et al. trade made measurable on this data. Mean error
    shows the typical case; a heavy-tailed key distribution inflates
    max error and erodes the learned advantage — exactly the decision
    input for layout choices alongside `zone_map_pruning_simulation`
    and `rle_sort_compression_advisor`.

    Determinism: exact integer keys with rank tie-breaks; OLS closed
    form; rounding at output.

    Scale shape: the key→position rank goes through
    ``operators/rank.py:distributed_global_rank`` (range-bucketed —
    no single-task sort of the full key column) + two moment
    censuses + one error scan — entirely streaming; segmented
    (multi-model) RMIs repeat this per shard.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_global_rank,
    )

    o = load_table(spark, sf_dir, "orders")
    keys = distributed_global_rank(
        o.select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("k"),
            "o_orderkey",
        ),
        "k",
        "o_orderkey",
        out_col="pos",
    ).select("k", "pos")
    keys = keys.transform(_ckpt)
    n_ = F.count(F.lit(1))
    b_ = (
        F.sum(F.col("k") * 1.0 * F.col("pos"))
        - F.sum("k") * 1.0 * F.sum("pos") / n_
    ) / (
        F.sum(F.col("k") * 1.0 * F.col("k"))
        - F.sum("k") * 1.0 * F.sum("k") / n_
    )
    fit = keys.agg(
        b_.alias("b"),
        (F.sum("pos") * 1.0 / n_ - b_ * F.sum("k") * 1.0 / n_).alias("a"),
        n_.cast("long").alias("n"),
    )
    err = keys.crossJoin(F.broadcast(fit)).select(
        F.abs(
            F.col("pos") - (F.col("a") + F.col("b") * F.col("k"))
        ).alias("e"),
        "n",
    )
    return err.groupBy("n").agg(
        F.round(F.max("e")).cast("long").alias("max_abs_error"),
        F.round(F.sum("e") / F.count(F.lit(1)), 2).alias("mean_abs_error"),
        F.round(
            F.log(F.max("e") * 2 + 1) / F.log(F.lit(2.0)), 2
        ).alias("learned_probe_bits"),
        F.round(
            F.log(F.first("n") * 1.0) / F.log(F.lit(2.0)), 2
        ).alias("btree_probe_bits"),
    ).select(
        F.col("n").alias("n_keys"),
        "max_abs_error",
        "mean_abs_error",
        "learned_probe_bits",
        "btree_probe_bits",
    )


@query(
    "presortedness_census",
    oracle="""
    WITH s AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY o_orderkey) AS BIGINT) AS pos
        FROM orders WHERE o_orderkey % 30 = 0
    ), lagged AS (
        SELECT v, LAG(v) OVER (ORDER BY pos) AS pv FROM s
    ), runs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(1 + SUM(CASE WHEN v < pv THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_runs
        FROM lagged
    ), inv AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_inversions
        FROM s a JOIN s b ON b.pos > a.pos AND b.v < a.v
    )
    SELECT runs.n AS n_rows, runs.n_runs, inv.n_inversions,
           CAST((2000000 * inv.n_inversions)
                // (runs.n * (runs.n - 1)) AS BIGINT)
               AS inversion_ratio_ppm
    FROM runs, inv
    """,
)
def presortedness_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presortedness census of order values in physical (key) order:
    the number of ascending RUNS (what Timsort/merge planners
    exploit — n_runs near 1 means nearly sorted) and the exact
    INVERSION count (the Kendall-distance-to-sorted, the finest
    disorder measure), with the inversion ratio against the n(n-2)/2
    maximum. The adaptive-sort planning input that complements
    `rle_sort_compression_advisor` (disorder's storage cost) and
    `learned_index_audit` (disorder's lookup cost): an engine
    choosing merge-vs-quicksort or deciding whether a re-sort pays
    wants exactly these two numbers.

    Determinism: exact integer values on a keyed sample; counts
    exact.

    Scale shape: positions come from the range-bucketed distributed
    rank (``operators/rank.py``); the LAG becomes a self equi-join on
    pos = pos+1 (shuffled on pos, no global window); the inversion
    count is the exact pair join ON THE SAMPLE (the scale path is a
    modified distributed merge counting cross-partition inversions
    from per-partition sorted boundaries — same number).

    Note the sample keeps the quadratic pair join honest (~500 rows
    at sf0.01); inversion counting at full scale uses the merge form.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_global_rank,
    )

    o = load_table(spark, sf_dir, "orders")
    s = distributed_global_rank(
        o.filter(F.col("o_orderkey") % 30 == 0).select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
            "o_orderkey",
        ),
        "o_orderkey",
        "o_orderkey",
        out_col="pos",
    ).select("v", "pos")
    s = s.transform(_ckpt)
    prev = s.select((F.col("pos") + 1).alias("pos"), F.col("v").alias("pv"))
    runs = s.join(prev, "pos", "left").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (
            1
            + F.sum(
                F.when(F.col("v") < F.col("pv"), 1).otherwise(0)
            )
        )
        .cast("long")
        .alias("n_runs"),
    )
    a, b = s.alias("a"), s.alias("b")
    inv = a.join(
        b,
        (F.col("b.pos") > F.col("a.pos")) & (F.col("b.v") < F.col("a.v")),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_inversions"))
    return runs.crossJoin(F.broadcast(inv)).select(
        F.col("n").alias("n_rows"),
        "n_runs",
        "n_inversions",
        F.expr("(2000000 * n_inversions) DIV (n * (n - 1))")
        .cast("long")
        .alias("inversion_ratio_ppm"),
    )


@query(
    "mm1_priority_classes",
    oracle="""
    WITH arr AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 2 END AS cls,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    ), span AS (
        SELECT datediff('day', MIN(o_orderdate), MAX(o_orderdate))
               * 86400.0 AS horizon_s
        FROM orders
    ), lam AS (
        SELECT cls, n, n / span.horizon_s AS l FROM arr, span
    ), mu AS (
        -- service rate sized for total utilization 0.7
        SELECT (SELECT SUM(l) FROM lam) / 0.7 AS m
    ), rho AS (
        SELECT lam.cls, lam.n, lam.l, lam.l / mu.m AS r, mu.m
        FROM lam, mu
    ), r1 AS (SELECT r FROM rho WHERE cls = 1),
    w AS (
        -- nonpreemptive M/M/1 priority: W_k = R / ((1-s_{k-1})(1-s_k)),
        -- R = rho_tot / mu (mean residual), s_k = cumulative rho
        SELECT rho.cls, rho.n, rho.l, rho.r,
               ((SELECT SUM(r) FROM rho) / rho.m)
               / ((1.0 - CASE WHEN rho.cls = 1 THEN 0.0
                          ELSE (SELECT r FROM r1) END)
                  * (1.0 - CASE WHEN rho.cls = 1
                           THEN (SELECT r FROM r1)
                           ELSE (SELECT SUM(r) FROM rho) END)) AS wq
        FROM rho
    )
    SELECT cls AS priority_class, n AS n_orders,
           ROUND(l * 86400.0, 4) AS lambda_per_day,
           ROUND(r, 6) AS rho,
           ROUND(wq, 2) AS wq_seconds
    FROM w
    """,
)
def mm1_priority_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonpreemptive priority M/M/1 mean waits for two order classes
    (URGENT+HIGH vs the rest) at a server sized to 70% total
    utilization: the Cobham formula W_k = R / ((1 - s_{k-1})(1 -
    s_k)) with R the mean residual service and s_k the cumulative
    class utilization — class 1 waits less at the EXPENSE of class 2
    (conservation: the rho-weighted wait average is invariant, pinned
    by the invariant test). The class-differentiated completion of
    the queueing family (`pollaczek_khinchine_mg1` is the single-
    class case; `fifo_vs_sjf_replay` showed discipline effects by
    replay — Cobham gives them in closed form).

    Determinism: exact counts and day spans; identical double trees;
    rounding at output.

    Scale shape: one 2-group agg, scalar algebra.
    """
    o = load_table(spark, sf_dir, "orders")
    arr = o.groupBy(
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(2)
        .alias("cls")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    span = o.agg(
        (
            F.datediff(F.max("o_orderdate"), F.min("o_orderdate"))
            * 86400.0
        ).alias("horizon_s")
    )
    lam = arr.crossJoin(F.broadcast(span)).select(
        "cls", "n", (F.col("n") / F.col("horizon_s")).alias("l")
    )
    lam = _ckpt(lam)  # shared fan-out relation
    tot_l = lam.agg(F.sum("l").alias("lt"))
    mu = tot_l.select((F.col("lt") / 0.7).alias("m"))
    rho = lam.crossJoin(F.broadcast(mu)).select(
        "cls", "n", "l", (F.col("l") / F.col("m")).alias("r"), "m"
    )
    rho = _ckpt(rho)  # shared fan-out relation
    r1 = rho.filter(F.col("cls") == 1).select(F.col("r").alias("r1v"))
    rtot = rho.agg(F.sum("r").alias("rt"))
    w = (
        rho.crossJoin(F.broadcast(r1))
        .crossJoin(F.broadcast(rtot))
        .select(
            "cls",
            "n",
            "l",
            "r",
            (
                (F.col("rt") / F.col("m"))
                / (
                    (
                        1.0
                        - F.when(F.col("cls") == 1, 0.0).otherwise(
                            F.col("r1v")
                        )
                    )
                    * (
                        1.0
                        - F.when(
                            F.col("cls") == 1, F.col("r1v")
                        ).otherwise(F.col("rt"))
                    )
                )
            ).alias("wq"),
        )
    )
    return w.select(
        F.col("cls").alias("priority_class"),
        F.col("n").alias("n_orders"),
        F.round(F.col("l") * 86400.0, 4).alias("lambda_per_day"),
        F.round("r", 6).alias("rho"),
        F.round("wq", 2).alias("wq_seconds"),
    )


@query(
    "birthday_spacings_test",
    oracle="""
    WITH pts AS (
        SELECT DISTINCT
               (o_orderkey * 2654435761 % 4294967296) % 16777216 AS h
        FROM orders
        WHERE (o_orderkey * 40503) % 4294967296 % 29 = 0
    ), srt AS (
        SELECT h, h - LAG(h) OVER (ORDER BY h) AS sp
        FROM pts
    ), spc AS (
        SELECT sp FROM srt WHERE sp IS NOT NULL
    ), dup AS (
        SELECT CAST(SUM(c - 1) AS BIGINT) AS n_dup_spacings,
               CAST(SUM(c) AS BIGINT) AS m
        FROM (SELECT sp, COUNT(*) AS c FROM spc GROUP BY sp) t
    )
    SELECT dup.m + 1 AS n_points,
           dup.n_dup_spacings,
           ROUND(POW(dup.m + 1.0, 3) / (4.0 * 16777216.0), 4)
               AS poisson_lambda
    FROM dup
    """,
)
def birthday_spacings_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Birthday-spacings randomness test (Marsaglia's Diehard) on the
    repo's multiplicative hash: ~m hashed order keys in [0, 2^24),
    sorted, and the number of DUPLICATE spacings counted — for true
    uniform randomness duplicates are Poisson with lambda = m^3/(4n),
    so a hash whose duplicate count sits far from lambda fails. The
    spacing-level member of the hash-quality family
    (`hash_uniformity_audit` tests bins, `hash_avalanche_audit` tests
    bit diffusion; birthday spacings catches lattice structure both
    miss — the classic LCG killer). And it FIRES here: sequential
    order keys through a multiplicative congruential map produce a
    near-arithmetic point set whose spacings repeat massively — the
    duplicate count lands orders of magnitude above lambda, exactly
    the failure mode this test exists to expose (the invariant test
    pins the detection).

    Determinism: fixed hash, exact integer spacings and counts.

    Scale shape: one filtered distinct projection, a sort window,
    two aggs.
    """
    o = load_table(spark, sf_dir, "orders")
    pts = (
        o.filter(F.expr("(o_orderkey * 40503) % 4294967296 % 29 = 0"))
        .select(
            F.expr(
                "(o_orderkey * 2654435761 % 4294967296) % 16777216"
            ).alias("h")
        )
        .distinct()
    )
    srt = pts.select(
        "h", (F.col("h") - F.lag("h").over(Window.orderBy("h"))).alias("sp")
    ).filter(F.col("sp").isNotNull())
    dup = srt.groupBy("sp").agg(F.count(F.lit(1)).alias("c")).agg(
        F.sum(F.col("c") - 1).cast("long").alias("n_dup_spacings"),
        F.sum("c").cast("long").alias("m"),
    )
    return dup.select(
        (F.col("m") + 1).alias("n_points"),
        "n_dup_spacings",
        F.round(
            F.pow(F.col("m") + 1.0, F.lit(3.0)) / (4.0 * 16777216.0), 4
        ).alias("poisson_lambda"),
    )


@query(
    "luce_iia_audit",
    oracle="""
    WITH mon AS (
        SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS m,
               c.c_nationkey AS nk,
               CAST(ROUND(SUM(o.o_totalprice) * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_nationkey < 3
        GROUP BY 1, 2
    ), r AS (
        SELECT m, nk,
               ROW_NUMBER() OVER (
                   PARTITION BY m ORDER BY cents DESC, nk) AS rk
        FROM mon
    ), months AS (
        SELECT m,
               MAX(CASE WHEN nk = 0 THEN rk END) AS r0,
               MAX(CASE WHEN nk = 1 THEN rk END) AS r1,
               MAX(CASE WHEN nk = 2 THEN rk END) AS r2
        FROM r GROUP BY m
        HAVING COUNT(*) = 3
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_months,
           CAST(SUM(CASE WHEN r0 < r1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_0_beats_1,
           CAST(SUM(CASE WHEN r0 < r1 AND r2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_0_beats_1_c_first,
           CAST(SUM(CASE WHEN r2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_c_first,
           CAST((1000000 * SUM(CASE WHEN r0 < r1 THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS p_unconditional_ppm,
           CAST(CASE WHEN SUM(CASE WHEN r2 = 1 THEN 1 ELSE 0 END) > 0
                THEN (1000000 * SUM(CASE WHEN r0 < r1 AND r2 = 1
                                    THEN 1 ELSE 0 END))
                     // SUM(CASE WHEN r2 = 1 THEN 1 ELSE 0 END)
                ELSE NULL END AS BIGINT) AS p_given_c_first_ppm
    FROM months
    """,
)
def luce_iia_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luce choice-axiom (IIA) audit on the monthly nation standings:
    the share of months nation 0 outranks nation 1, UNCONDITIONALLY
    versus CONDITIONAL on nation 2 finishing first — under Luce/
    Plackett-Luce independence-of-irrelevant-alternatives the two
    shares are equal in expectation, so a large gap is direct
    evidence against the model `plackett_luce_mm` fits (and the
    empirical cousin of the red-bus/blue-bus critique). Exact counts
    both ways.

    Determinism: exact cent rankings; integer conditional counts;
    ppm floor division.

    Scale shape: month agg + rank window + one pivoted agg.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    mon = (
        o.join(
            F.broadcast(
                c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .filter(F.col("c_nationkey") < 3)
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
            F.col("c_nationkey").alias("nk"),
        )
        .agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents"))
    )
    r = mon.select(
        "m",
        "nk",
        F.row_number()
        .over(Window.partitionBy("m").orderBy(F.desc("cents"), "nk"))
        .alias("rk"),
    )
    months = (
        r.groupBy("m")
        .agg(
            F.max(F.when(F.col("nk") == 0, F.col("rk"))).alias("r0"),
            F.max(F.when(F.col("nk") == 1, F.col("rk"))).alias("r1"),
            F.max(F.when(F.col("nk") == 2, F.col("rk"))).alias("r2"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .filter(F.col("cnt") == 3)
    )
    win = F.when(F.col("r0") < F.col("r1"), 1).otherwise(0)
    cfirst = F.when(F.col("r2") == 1, 1).otherwise(0)
    return months.agg(
        F.count(F.lit(1)).cast("long").alias("n_months"),
        F.sum(win).cast("long").alias("n_0_beats_1"),
        F.sum(win * cfirst).cast("long").alias("n_0_beats_1_c_first"),
        F.sum(cfirst).cast("long").alias("n_c_first"),
        F.expr(
            "(1000000 * SUM(CASE WHEN r0 < r1 THEN 1 ELSE 0 END))"
            " DIV COUNT(*)"
        )
        .cast("long")
        .alias("p_unconditional_ppm"),
        F.expr(
            "CASE WHEN SUM(CASE WHEN r2 = 1 THEN 1 ELSE 0 END) > 0"
            " THEN (1000000 * SUM(CASE WHEN r0 < r1 AND r2 = 1"
            " THEN 1 ELSE 0 END))"
            " DIV SUM(CASE WHEN r2 = 1 THEN 1 ELSE 0 END)"
            " ELSE NULL END"
        )
        .cast("long")
        .alias("p_given_c_first_ppm"),
    )


@query(
    "hausman_iv_vs_ols",
    oracle="""
    WITH pts AS (
        SELECT ln(l_extendedprice) AS y,
               ln(CAST(l_quantity AS DOUBLE)) AS x,
               CASE WHEN l_partkey % 2 = 0 THEN 1.0 ELSE 0.0 END AS z
        FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
    ), mom AS (
        SELECT COUNT(*) AS n,
               AVG(x) AS mx, AVG(y) AS my, AVG(z) AS mz,
               AVG(x*x) AS xx, AVG(x*y) AS xy,
               AVG(z*x) AS zx, AVG(z*y) AS zy,
               AVG(y*y) AS yy
        FROM pts
    ), est AS (
        SELECT n,
               (xy - mx*my) / (xx - mx*mx) AS b_ols,
               (zy - mz*my) / (zx - mz*mx) AS b_iv,
               (xx - mx*mx) AS sxx,
               (zx - mz*mx) AS szx,
               (mz - mz*mz) AS szz,
               yy, my, xy, mx, xx
        FROM mom
    ), sig AS (
        -- residual variance under OLS (consistent under H0)
        SELECT est.*,
               (yy - my*my) - b_ols * (xy - mx*my) AS s2
        FROM est
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           ROUND(b_ols, 6) AS beta_ols,
           ROUND(b_iv, 6) AS beta_iv,
           ROUND((b_iv - b_ols) * (b_iv - b_ols)
                 / GREATEST(s2 / n * (szz / (szx * szx) - 1.0 / sxx),
                            1e-18), 4) AS hausman_stat
    FROM sig
    """,
)
def hausman_iv_vs_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hausman specification test comparing OLS and IV slopes for the
    quantity-price elasticity (instrument: part-key parity, a
    placebo-grade instrument): H = (b_IV - b_OLS)^2 / (V_IV - V_OLS)
    with the variance difference in its classical positive form —
    under exogeneity both estimators are consistent and H is small
    chi-square(1); a large H says OLS and IV disagree beyond sampling
    noise (endogeneity, or a broken instrument). The specification
    referee between `price_elasticity_loglog` (OLS) and
    `iv_wald_2sls` (IV), which this query contains as closed forms.

    Determinism: one moment census; identical expression trees;
    rounding at output (variance difference floored at 1e-18 against
    degenerate instruments).

    Scale shape: one streaming moment agg; everything after is
    in-row.
    """
    l = load_table(spark, sf_dir, "lineitem")
    pts = l.filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    ).select(
        F.log("l_extendedprice").alias("y"),
        F.log(F.col("l_quantity").cast("double")).alias("x"),
        F.when(F.col("l_partkey") % 2 == 0, 1.0).otherwise(0.0).alias("z"),
    )
    mom = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg("z").alias("mz"),
        F.avg(F.col("x") * F.col("x")).alias("xx"),
        F.avg(F.col("x") * F.col("y")).alias("xy"),
        F.avg(F.col("z") * F.col("x")).alias("zx"),
        F.avg(F.col("z") * F.col("y")).alias("zy"),
        F.avg(F.col("y") * F.col("y")).alias("yy"),
    )
    b_ols = (F.col("xy") - F.col("mx") * F.col("my")) / (
        F.col("xx") - F.col("mx") * F.col("mx")
    )
    b_iv = (F.col("zy") - F.col("mz") * F.col("my")) / (
        F.col("zx") - F.col("mz") * F.col("mx")
    )
    sxx = F.col("xx") - F.col("mx") * F.col("mx")
    szx = F.col("zx") - F.col("mz") * F.col("mx")
    szz = F.col("mz") - F.col("mz") * F.col("mz")
    s2 = (F.col("yy") - F.col("my") * F.col("my")) - b_ols * (
        F.col("xy") - F.col("mx") * F.col("my")
    )
    h = (b_iv - b_ols) * (b_iv - b_ols) / F.greatest(
        s2 / F.col("n") * (szz / (szx * szx) - 1.0 / sxx),
        F.lit(1e-18),
    )
    return mom.select(
        F.col("n").cast("long").alias("n_rows"),
        F.round(b_ols, 6).alias("beta_ols"),
        F.round(b_iv, 6).alias("beta_iv"),
        F.round(h, 4).alias("hausman_stat"),
    )


@query(
    "round_robin_schedule",
    oracle="""
    WITH teams AS (
        SELECT DISTINCT c_nationkey % 24 AS t FROM customer
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM teams),
    games AS (
        -- circle method: team n-1 fixed; in round r, slot k pairs
        -- (r + k) mod (n-1) vs (r - k) mod (n-1); slot 0 pairs the
        -- fixed team with r mod (n-1)
        SELECT r.r, k.k,
               CASE WHEN k.k = 0 THEN n.n - 1
                    ELSE ((r.r + k.k) % (n.n - 1) + (n.n - 1))
                         % (n.n - 1) END AS home,
               CASE WHEN k.k = 0 THEN r.r % (n.n - 1)
                    ELSE ((r.r - k.k) % (n.n - 1) + (n.n - 1))
                         % (n.n - 1) END AS away
        FROM n,
             LATERAL (SELECT unnest(generate_series(0,
                 CAST(n.n - 2 AS INT))) AS r) r,
             LATERAL (SELECT unnest(generate_series(0,
                 CAST(n.n / 2 - 1 AS INT))) AS k) k
    ), canon AS (
        SELECT r, LEAST(home, away) AS a, GREATEST(home, away) AS b
        FROM games
    )
    SELECT (SELECT n FROM n) AS n_teams,
           CAST(COUNT(DISTINCT r) AS BIGINT) AS n_rounds,
           CAST(COUNT(*) AS BIGINT) AS n_games,
           CAST(COUNT(DISTINCT (a, b)) AS BIGINT) AS n_distinct_pairs,
           CAST((SELECT n * (n - 1) / 2 FROM n) AS BIGINT)
               AS n_required_pairs,
           CAST((SELECT MAX(cnt) FROM (
               SELECT r, t, COUNT(*) AS cnt FROM (
                   SELECT r, a AS t FROM canon
                   UNION ALL SELECT r, b FROM canon) u
               GROUP BY r, t) v) AS BIGINT) AS max_games_per_round
    FROM canon
    """,
)
def round_robin_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single round-robin schedule for 24 teams by the CIRCLE METHOD,
    constructed fully declaratively (round r, slot k pairs (r+k) and
    (r-k) mod n-1, with the fixed pivot in slot 0) and certified
    in-row: 23 rounds x 12 games cover each of the C(24,2) = 276
    pairs EXACTLY once and no team plays twice in a round
    (max_games_per_round = 1). Constructive combinatorics as a
    query — the scheduling dual of the tournament ANALYSES
    (`elo_rating_replay`, `pythagorean_expectation` consume results;
    this emits the fixture list), and the same balanced-pairing
    construction used for all-pairs comparison batching.

    Determinism: pure modular arithmetic over literal ranges.

    Scale shape: a (rounds x slots) generated relation with
    aggregation certificates — construction is control-plane-sized
    for any league.
    """
    teams = load_table(spark, sf_dir, "customer").select(
        (F.col("c_nationkey") % 24).alias("t")
    ).distinct()
    n = teams.agg(F.count(F.lit(1)).cast("long").alias("n"))
    rs = n.select(
        F.explode(F.sequence(F.lit(0), F.col("n") - 2)).alias("r"), "n"
    )
    games = rs.select(
        "r",
        "n",
        F.explode(
            F.sequence(F.lit(0), F.expr("n DIV 2 - 1"))
        ).alias("k"),
    ).select(
        "r",
        F.when(F.col("k") == 0, F.col("n") - 1)
        .otherwise(
            ((F.col("r") + F.col("k")) % (F.col("n") - 1) + (F.col("n") - 1))
            % (F.col("n") - 1)
        )
        .alias("home"),
        F.when(F.col("k") == 0, F.col("r") % (F.col("n") - 1))
        .otherwise(
            ((F.col("r") - F.col("k")) % (F.col("n") - 1) + (F.col("n") - 1))
            % (F.col("n") - 1)
        )
        .alias("away"),
    )
    canon = games.select(
        "r",
        F.least("home", "away").alias("a"),
        F.greatest("home", "away").alias("b"),
    )
    canon = canon.transform(_ckpt)
    per_round_team = (
        canon.select("r", F.col("a").alias("t"))
        .unionAll(canon.select("r", F.col("b").alias("t")))
        .groupBy("r", "t")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.max("cnt").cast("long").alias("max_games_per_round"))
    )
    agg = canon.agg(
        F.countDistinct("r").cast("long").alias("n_rounds"),
        F.count(F.lit(1)).cast("long").alias("n_games"),
        F.countDistinct("a", "b").cast("long").alias("n_distinct_pairs"),
    )
    req = n.select(
        "n", F.expr("n * (n - 1) DIV 2").cast("long").alias("n_required_pairs")
    )
    return (
        req.crossJoin(F.broadcast(agg))
        .crossJoin(F.broadcast(per_round_team))
        .select(
            F.col("n").alias("n_teams"),
            "n_rounds",
            "n_games",
            "n_distinct_pairs",
            "n_required_pairs",
            "max_games_per_round",
        )
    )


@query(
    "circular_triads_count",
    oracle=f"""
    WITH b AS ({_BALLOT_SQL}),
    r AS (
        SELECT nk, seg,
               ROW_NUMBER() OVER (
                   PARTITION BY nk ORDER BY cents DESC, seg) AS rk
        FROM b
    ), pref AS (
        SELECT a.seg AS sa, x.seg AS sb, COUNT(*) AS w
        FROM r a JOIN r x ON a.nk = x.nk AND a.rk < x.rk
        GROUP BY 1, 2
    ), majority AS (
        -- tournament edge sa -> sb when sa beats sb in majority
        SELECT p1.sa, p1.sb
        FROM pref p1 JOIN pref p2
          ON p2.sa = p1.sb AND p2.sb = p1.sa
        WHERE p1.w > p2.w
           OR (p1.w = p2.w AND p1.sa < p1.sb)
    ), score AS (
        SELECT sa, CAST(COUNT(*) AS BIGINT) AS d FROM majority
        GROUP BY sa
    ), nodes AS (
        SELECT CAST(COUNT(DISTINCT seg) AS BIGINT) AS n FROM b
    )
    SELECT nodes.n AS n_items,
           CAST(nodes.n * (nodes.n - 1) * (2 * nodes.n - 1) / 12
                - (SELECT SUM(d * d) FROM score) / 2 AS BIGINT)
               AS n_circular_triads,
           CAST(nodes.n * (nodes.n * nodes.n - 4) / 24 AS BIGINT)
               AS max_possible_even_n,
           CAST((nodes.n * (nodes.n * nodes.n - 1)) / 24 AS BIGINT)
               AS max_possible_odd_n
    FROM nodes
    """,
)
def circular_triads_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Circular-triad (intransitivity) census of the majority
    tournament over the five segments: Kendall's identity counts the
    3-cycles as n(n-1)(2n-1)/12 - (1/2) sum of squared out-degrees —
    ZERO means the majority relation is a total order (a Condorcet
    ranking exists, and `copeland_condorcet_nations` /
    `kemeny_optimal_ranking` / `footrule_rank_aggregation` all agree
    trivially); every cycle is a rock-paper-scissors pocket where
    aggregation method CHOICE decides the outcome. Maximum possible
    counts for odd/even n accompany for Kendall's zeta normalization.

    Determinism: exact majority edges (count ties broken by name so
    the tournament is complete); integer identity.

    Scale shape: ballots to 20 preference cells, one join for
    majority orientation, a 5-row score agg, in-row identity.
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
            (F.col("ra.nk") == F.col("rx.nk"))
            & (F.col("ra.rk") < F.col("rx.rk")),
        )
        .groupBy(F.col("ra.seg").alias("sa"), F.col("rx.seg").alias("sb"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    pref = _ckpt(pref)  # shared fan-out relation
    p1, p2 = pref.alias("p1"), pref.alias("p2")
    majority = p1.join(
        p2,
        (F.col("p2.sa") == F.col("p1.sb"))
        & (F.col("p2.sb") == F.col("p1.sa")),
    ).filter(
        (F.col("p1.w") > F.col("p2.w"))
        | (
            (F.col("p1.w") == F.col("p2.w"))
            & (F.col("p1.sa") < F.col("p1.sb"))
        )
    ).select(F.col("p1.sa").alias("sa"), F.col("p1.sb").alias("sb"))
    score = majority.groupBy("sa").agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    nodes = b.agg(F.countDistinct("seg").cast("long").alias("n"))
    sd2 = score.agg(F.sum(F.col("d") * F.col("d")).alias("sd2"))
    return nodes.crossJoin(F.broadcast(sd2)).select(
        F.col("n").alias("n_items"),
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") - 1) / 12
            - F.col("sd2") / 2
        )
        .cast("long")
        .alias("n_circular_triads"),
        F.expr("CAST(n * (n * n - 4) / 24 AS BIGINT)").alias(
            "max_possible_even_n"
        ),
        F.expr("CAST((n * (n * n - 1)) / 24 AS BIGINT)").alias(
            "max_possible_odd_n"
        ),
    )


@query(
    "lacunarity_raster",
    oracle="""
    WITH pts AS (
        SELECT (c_custkey * 7919) % 100000 AS x,
               (c_custkey * 104729) % 100000 AS y,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS v
        FROM customer
    ), cells AS (
        SELECT CAST(x // 10000 AS BIGINT) AS cx,
               CAST(y // 10000 AS BIGINT) AS cy,
               CAST(GREATEST(SUM(v), 0) AS BIGINT) AS v
        FROM pts GROUP BY 1, 2
    ), grid AS (
        SELECT gx.i AS cx, gy.i AS cy, COALESCE(cells.v, 0) AS v
        FROM (SELECT unnest(generate_series(0, 9)) AS i) gx
        CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS i) gy
        LEFT JOIN cells ON cells.cx = gx.i AND cells.cy = gy.i
    ), rs AS (SELECT CAST(unnest([2, 3]) AS BIGINT) AS r),
    boxes AS (
        -- gliding boxes: every r x r window fully inside the raster
        SELECT rs.r, ox.i AS ox, oy.i AS oy,
               SUM(grid.v) AS mass
        FROM rs
        CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS i) ox
        CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS i) oy
        JOIN grid ON grid.cx >= ox.i AND grid.cx < ox.i + rs.r
                 AND grid.cy >= oy.i AND grid.cy < oy.i + rs.r
        WHERE ox.i + rs.r <= 10 AND oy.i + rs.r <= 10
        GROUP BY 1, 2, 3
    )
    SELECT r AS box_size,
           CAST(COUNT(*) AS BIGINT) AS n_boxes,
           ROUND((SUM(mass * 1.0 * mass) / COUNT(*))
                 / ((SUM(mass) * 1.0 / COUNT(*))
                    * (SUM(mass) * 1.0 / COUNT(*))), 6) AS lacunarity
    FROM boxes GROUP BY r
    """,
)
def lacunarity_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gliding-box lacunarity of the balance raster at box sizes
    2 and 3: Lambda(r) = E[M^2]/E[M]^2 over every r x r window's
    mass — the 'gappiness' of a spatial texture (1.0 = translation-
    invariant; larger = clumpy holes), the scale-dependent companion
    of `box_counting_dimension` (two fractal textures can share a
    dimension and differ wildly in lacunarity, which is exactly why
    ecologists report both). The raster family's final texture lens
    next to `haralick_glcm_texture` (co-occurrence) and
    `site_percolation_raster` (connectivity).

    Determinism: integer masses (clamped nonnegative); identical
    moment trees per box size; rounding at output.

    Scale shape: zero-filled raster, an offset x cell containment
    join per box size (the relational gliding window — on big
    rasters this is the integral-image trick of
    `integral_image_density`), one moment agg per size.
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
    ).agg(F.greatest(F.sum("v"), F.lit(0)).cast("long").alias("v"))
    gx = spark.range(0, 10).select(F.col("id").cast("long").alias("gcx"))
    gy = spark.range(0, 10).select(F.col("id").cast("long").alias("gcy"))
    grid = (
        gx.crossJoin(gy)
        .join(
            cells,
            (F.col("cx") == F.col("gcx")) & (F.col("cy") == F.col("gcy")),
            "left",
        )
        .select(
            F.col("gcx").alias("cx"),
            F.col("gcy").alias("cy"),
            F.coalesce("v", F.lit(0)).alias("v"),
        )
        .transform(_ckpt)
    )
    rs = spark.createDataFrame([(2,), (3,)], "r long")
    ox = spark.range(0, 10).select(F.col("id").cast("long").alias("ox"))
    oy = spark.range(0, 10).select(F.col("id").cast("long").alias("oy"))
    offsets = (
        rs.crossJoin(ox)
        .crossJoin(oy)
        .filter(
            (F.col("ox") + F.col("r") <= 10)
            & (F.col("oy") + F.col("r") <= 10)
        )
    )
    boxes = (
        offsets.join(
            grid,
            (F.col("cx") >= F.col("ox"))
            & (F.col("cx") < F.col("ox") + F.col("r"))
            & (F.col("cy") >= F.col("oy"))
            & (F.col("cy") < F.col("oy") + F.col("r")),
        )
        .groupBy("r", "ox", "oy")
        .agg(F.sum("v").alias("mass"))
    )
    n_ = F.count(F.lit(1))
    return boxes.groupBy("r").agg(
        n_.cast("long").alias("n_boxes"),
        F.round(
            (F.sum(F.col("mass") * 1.0 * F.col("mass")) / n_)
            / (
                (F.sum("mass") * 1.0 / n_)
                * (F.sum("mass") * 1.0 / n_)
            ),
            6,
        ).alias("lacunarity"),
    ).select(F.col("r").alias("box_size"), "n_boxes", "lacunarity")


@query(
    "moran_correlogram",
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
               SUM((v - (SELECT SUM(v) * 1.0 / COUNT(*) FROM cells))
                   * (v - (SELECT SUM(v) * 1.0 / COUNT(*) FROM cells)))
                   AS ss
        FROM cells
    ), bands AS (
        SELECT a.v AS va, b.v AS vb,
               GREATEST(ABS(a.cx - b.cx), ABS(a.cy - b.cy)) AS band
        FROM cells a JOIN cells b
          ON NOT (a.cx = b.cx AND a.cy = b.cy)
        WHERE GREATEST(ABS(a.cx - b.cx), ABS(a.cy - b.cy)) <= 3
    )
    SELECT CAST(band AS BIGINT) AS distance_band,
           CAST(COUNT(*) AS BIGINT) AS n_links,
           ROUND((stats.n * 1.0 / COUNT(*))
                 * SUM((va - stats.xbar) * (vb - stats.xbar))
                 / stats.ss, 6) AS moran_i
    FROM bands, stats
    GROUP BY band, stats.n, stats.xbar, stats.ss
    """,
)
def moran_correlogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran correlogram of the balance raster: Moran's I evaluated
    at Chebyshev distance bands 1, 2, 3 — the spatial ACF, showing
    how autocorrelation DECAYS with distance where the single global
    I (`spatial_moran_i`) gives one number and Gi*
    (`getis_ord_hotspots`) localizes in space: the correlogram's
    decay length is the 'range' a kriging variogram would fit
    (`empirical_variogram_2d` is its semivariance mirror — the two
    satisfy I(d) ~ 1 - gamma(d)/variance).

    Determinism: integer cell values; identical moment trees per
    band; rounding at output.

    Scale shape: raster agg then one banded self-join (<= 100 cells)
    grouped by band.
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
    cells = cells.transform(_ckpt)
    xbar = cells.agg((F.sum("v") * 1.0 / F.count(F.lit(1))).alias("xbar"))
    stats = cells.crossJoin(F.broadcast(xbar)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            (F.col("v") - F.col("xbar")) * (F.col("v") - F.col("xbar"))
        ).alias("ss"),
        F.first("xbar").alias("xbar"),
    )
    a, b = cells.alias("a"), cells.alias("b")
    band = F.greatest(
        F.abs(F.col("a.cx") - F.col("b.cx")),
        F.abs(F.col("a.cy") - F.col("b.cy")),
    )
    bands = a.join(
        b,
        ~(
            (F.col("a.cx") == F.col("b.cx"))
            & (F.col("a.cy") == F.col("b.cy"))
        )
        & (band <= 3),
    ).select(
        F.col("a.v").alias("va"), F.col("b.v").alias("vb"), band.alias("band")
    )
    return bands.crossJoin(F.broadcast(stats)).groupBy(
        "band", "n", "xbar", "ss"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_links"),
        F.round(
            (F.col("n") * 1.0 / F.count(F.lit(1)))
            * F.sum(
                (F.col("va") - F.col("xbar"))
                * (F.col("vb") - F.col("xbar"))
            )
            / F.col("ss"),
            6,
        ).alias("moran_i"),
    ).select(
        F.col("band").cast("long").alias("distance_band"),
        "n_links",
        "moran_i",
    )


@query(
    "capm_beta_nations",
    oracle="""
    WITH daily AS (
        SELECT c.c_nationkey AS nk, o.o_orderdate AS day,
               CAST(ROUND(SUM(o.o_totalprice) * 100) AS BIGINT) AS v
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_nationkey < 5
        GROUP BY 1, 2
    ), mkt AS (
        SELECT o_orderdate AS day,
               CAST(ROUND(SUM(o_totalprice) * 100) AS BIGINT) AS m
        FROM orders GROUP BY 1
    ), joined AS (
        SELECT daily.nk, daily.v * 1.0 AS v, mkt.m * 1.0 AS m
        FROM daily JOIN mkt USING (day)
    ), mom AS (
        SELECT nk, COUNT(*) AS n,
               AVG(v) AS mv, AVG(m) AS mm,
               AVG(v * m) AS vm, AVG(m * m) AS m2, AVG(v * v) AS v2
        FROM joined GROUP BY nk
    )
    SELECT nk AS nation_key, CAST(n AS BIGINT) AS n_days,
           ROUND((vm - mv * mm) / (m2 - mm * mm), 6) AS beta,
           ROUND(((vm - mv * mm) * (vm - mv * mm))
                 / ((m2 - mm * mm) * (v2 - mv * mv)), 6) AS r2,
           CAST(ROUND(1000000 * ((vm - mv * mm) * (vm - mv * mm))
                / ((m2 - mm * mm) * (v2 - mv * mv))) AS BIGINT)
               AS systematic_var_ppm
    FROM mom
    """,
)
def capm_beta_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-model betas for nations 0-4: each nation's daily
    revenue regressed on the market (all-nation) daily total, with
    R^2 as the SYSTEMATIC variance share — the CAPM decomposition
    that splits each book's risk into market-driven and idiosyncratic
    parts, the input `markowitz_min_variance_pair` and
    `inverse_vol_risk_parity` implicitly diversify over. Beta > 1 =
    amplifies market swings; R^2 near 0 = diversifiable.

    Determinism: exact daily cents; identical moment trees; rounding
    at output.

    Scale shape: two daily aggs, an equi-join on day, one per-nation
    moment agg.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    daily = (
        o.join(
            F.broadcast(
                c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .filter(F.col("c_nationkey") < 5)
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.col("o_orderdate").alias("day"),
        )
        .agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("v"))
    )
    mkt = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.round(F.sum("o_totalprice") * 100).cast("long").alias("m")
    )
    joined = daily.join(mkt, "day").select(
        "nk", (F.col("v") * 1.0).alias("v"), (F.col("m") * 1.0).alias("m")
    )
    mom = joined.groupBy("nk").agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("v").alias("mv"),
        F.avg("m").alias("mm"),
        F.avg(F.col("v") * F.col("m")).alias("vm"),
        F.avg(F.col("m") * F.col("m")).alias("m2"),
        F.avg(F.col("v") * F.col("v")).alias("v2"),
    )
    cov = F.col("vm") - F.col("mv") * F.col("mm")
    varm = F.col("m2") - F.col("mm") * F.col("mm")
    varv = F.col("v2") - F.col("mv") * F.col("mv")
    return mom.select(
        F.col("nk").alias("nation_key"),
        F.col("n").cast("long").alias("n_days"),
        F.round(cov / varm, 6).alias("beta"),
        F.round(cov * cov / (varm * varv), 6).alias("r2"),
        F.round(1000000 * cov * cov / (varm * varv))
        .cast("long")
        .alias("systematic_var_ppm"),
    )


@query(
    "momentum_persistence",
    oracle="""
    WITH mon AS (
        SELECT c.c_nationkey AS nk,
               CAST(date_trunc('month', o.o_orderdate) AS DATE) AS m,
               CAST(ROUND(SUM(o.o_totalprice) * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT nk, m,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY m ORDER BY cents DESC, nk) AS BIGINT)
                   AS rk,
               CAST(COUNT(*) OVER (PARTITION BY m) AS BIGINT) AS nn
        FROM mon
    ), paired AS (
        SELECT a.m, a.nk, a.rk AS r1, b.rk AS r2, a.nn
        FROM ranked a JOIN ranked b
          ON b.nk = a.nk
         AND b.m = CAST(a.m + INTERVAL 1 MONTH AS DATE)
        WHERE a.nn = 25 AND b.nn = 25
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM paired
    ), by_month AS (
        SELECT m,
               1.0 - 6.0 * SUM((r1 - r2) * 1.0 * (r1 - r2))
                     / (25.0 * (25.0 * 25.0 - 1.0)) AS rho
        FROM paired GROUP BY m
    ), winners AS (
        SELECT CAST(SUM(CASE WHEN r1 <= 5 AND r2 <= 5
                    THEN 1 ELSE 0 END) AS BIGINT) AS stay_top,
               CAST(SUM(CASE WHEN r1 <= 5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS was_top
        FROM paired
    )
    SELECT (SELECT n_pairs FROM stats) AS n_pairs,
           ROUND((SELECT AVG(rho) FROM by_month), 6)
               AS mean_rank_autocorr,
           winners.stay_top, winners.was_top,
           CAST((1000000 * winners.stay_top) // winners.was_top
                AS BIGINT) AS top5_persistence_ppm
    FROM winners
    """,
)
def momentum_persistence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-sectional momentum persistence of the monthly nation
    standings: the month-over-month Spearman rank autocorrelation
    (averaged over complete 25-nation month pairs) and the top-5
    persistence rate (how often a top-5 nation repeats) — the
    winner-stays question behind momentum strategies and the
    dynamic view of `rank_stability_audit` / `leaderboard_flip_rates`
    (which measure noise; this measures SIGNAL persistence). A
    1/5 = 200000 ppm persistence is the no-memory baseline.

    Determinism: exact cent rankings; integer rank differences;
    rounding at output.

    Scale shape: month agg + rank window + a month-shift self-join
    keyed by nation — dimension-sized.
    """
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
            F.col("c_nationkey").alias("nk"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
        )
        .agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents"))
    )
    ranked = mon.select(
        "nk",
        "m",
        F.row_number()
        .over(Window.partitionBy("m").orderBy(F.desc("cents"), "nk"))
        .cast("long")
        .alias("rk"),
    ).withColumn(
        "nn", F.count(F.lit(1)).over(Window.partitionBy("m")).cast("long")
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    paired = a.join(
        b,
        (F.col("b.nk") == F.col("a.nk"))
        & (
            F.col("b.m")
            == F.add_months(F.col("a.m"), 1)
        ),
    ).filter((F.col("a.nn") == 25) & (F.col("b.nn") == 25)).select(
        F.col("a.m").alias("m"),
        F.col("a.rk").alias("r1"),
        F.col("b.rk").alias("r2"),
    )
    paired = paired.transform(_ckpt)
    by_month = paired.groupBy("m").agg(
        (
            1.0
            - 6.0
            * F.sum(
                (F.col("r1") - F.col("r2"))
                * 1.0
                * (F.col("r1") - F.col("r2"))
            )
            / (25.0 * (25.0 * 25.0 - 1.0))
        ).alias("rho")
    )
    rho = by_month.agg(F.round(F.avg("rho"), 6).alias("mean_rank_autocorr"))
    winners = paired.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.when((F.col("r1") <= 5) & (F.col("r2") <= 5), 1).otherwise(0)
        )
        .cast("long")
        .alias("stay_top"),
        F.sum(F.when(F.col("r1") <= 5, 1).otherwise(0))
        .cast("long")
        .alias("was_top"),
    )
    return winners.crossJoin(F.broadcast(rho)).select(
        "n_pairs",
        "mean_rank_autocorr",
        "stay_top",
        "was_top",
        F.expr("(1000000 * stay_top) DIV was_top")
        .cast("long")
        .alias("top5_persistence_ppm"),
    )


@query(
    "friendship_paradox_audit",
    oracle="""
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT x.l_partkey AS u, y.l_partkey AS v
        FROM d x JOIN d y
          ON x.l_orderkey = y.l_orderkey
         AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2
        HAVING COUNT(*) >= 2
    ), deg AS (
        SELECT n, CAST(COUNT(*) AS BIGINT) AS k FROM (
            SELECT u AS n FROM e UNION ALL SELECT v FROM e) t
        GROUP BY n
    ), nbr AS (
        -- mean over EDGES of endpoint degrees = mean neighbor degree
        -- experienced by a random friend
        SELECT SUM(da.k + db.k) * 1.0 / (2 * COUNT(*)) AS mean_nbr_deg
        FROM e
        JOIN deg da ON da.n = e.u
        JOIN deg db ON db.n = e.v
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           ROUND((SELECT SUM(k) * 1.0 / COUNT(*) FROM deg), 6)
               AS mean_degree,
           ROUND(nbr.mean_nbr_deg, 6) AS mean_friend_degree,
           ROUND((SELECT SUM(k * 1.0 * k) / SUM(k) FROM deg), 6)
               AS size_biased_mean
    FROM nbr
    """,
)
def friendship_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friendship-paradox audit on the part co-purchase graph: the
    mean degree of a random NODE versus the mean degree of a random
    FRIEND (edge-endpoint) — Feld's theorem says the friend average
    equals the size-biased mean <k^2>/<k> and therefore ALWAYS
    (Cauchy-Schwarz) weakly exceeds the node average, with the gap
    equal to var(k)/<k>. 'Your friends have more friends than you'
    as an exact relational identity — and the operational reason
    degree-biased sampling (crawling, contact tracing, cache
    admission by reference) systematically oversamples hubs.

    Determinism: exact integer degrees; identical ratio trees;
    rounding at output.

    Scale shape: one distinct-pair agg, a degree agg, one edge join
    — the audit is two passes over the edge list.
    """
    l = load_table(spark, sf_dir, "lineitem")
    d = l.select("l_orderkey", "l_partkey").distinct()
    e = (
        d.alias("x")
        .join(
            d.alias("y"),
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("u"), F.col("y.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
        .transform(_ckpt)
    )
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    da = deg.select(F.col("n").alias("u"), F.col("k").alias("ka"))
    db = deg.select(F.col("n").alias("v"), F.col("k").alias("kb"))
    nbr = e.join(da, "u").join(db, "v").agg(
        (
            F.sum(F.col("ka") + F.col("kb"))
            * 1.0
            / (2 * F.count(F.lit(1)))
        ).alias("mean_nbr_deg")
    )
    degs = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum("k") * 1.0 / F.count(F.lit(1))).alias("mean_degree"),
        (F.sum(F.col("k") * 1.0 * F.col("k")) / F.sum("k")).alias(
            "size_biased_mean"
        ),
    )
    ne = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        degs.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(nbr))
        .select(
            "n_nodes",
            "n_edges",
            F.round("mean_degree", 6).alias("mean_degree"),
            F.round("mean_nbr_deg", 6).alias("mean_friend_degree"),
            F.round("size_biased_mean", 6).alias("size_biased_mean"),
        )
    )


@query("molloy_reed_giant_audit")
def molloy_reed_giant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Molloy-Reed giant-component criterion audited against reality:
    on the co-purchase graph, the branching ratio <k^2>/<k> predicts
    a giant component for a RANDOM graph with this degree sequence
    exactly when it exceeds 2 — here both the criterion AND the true
    giant share (via the repo's `connected_components`) are emitted
    side by side, measuring how far the real clustering/assortativity
    structure bends the configuration-model prediction
    (`null_model_clustering_audit` does the same for triangles).
    The percolation-theory anchor of `bond_percolation_curve` and
    `site_percolation_raster`.

    Determinism: exact degrees; min-label CC; integer ppm.

    Scale shape: degree moments are one agg; the giant share costs
    one CC run on the edge list.
    """
    from pyspark_movie_recommender_spark.operators.graph import (
        connected_components,
    )

    l = load_table(spark, sf_dir, "lineitem")
    d = l.select("l_orderkey", "l_partkey").distinct()
    e = (
        d.alias("x")
        .join(
            d.alias("y"),
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("u"), F.col("y.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select(F.col("u").alias("id_a"), F.col("v").alias("id_b"))
        .transform(_ckpt)
    )
    deg = (
        e.select(F.col("id_a").alias("n"))
        .unionAll(e.select(F.col("id_b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    mom = deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum(F.col("k") * 1.0 * F.col("k")) / F.sum("k")).alias(
            "branching"
        ),
    )
    comp = connected_components(e)
    giant = (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("sz"))
        .agg(F.max("sz").cast("long").alias("giant"))
    )
    return mom.crossJoin(F.broadcast(giant)).select(
        "n_nodes",
        F.round("branching", 4).alias("molloy_reed_ratio"),
        F.when(F.col("branching") > 2, 1)
        .otherwise(0)
        .cast("long")
        .alias("predicts_giant"),
        F.col("giant").alias("largest_component"),
        F.expr("(1000000 * giant) DIV n_nodes")
        .cast("long")
        .alias("giant_share_ppm"),
    )


@query(
    "reidentification_risk_ladder",
    oracle="""
    WITH q AS (
        SELECT c_custkey,
               c_nationkey AS q1,
               c_mktsegment AS q2,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) // 100000 AS q3
        FROM customer
    ), w1 AS (
        SELECT COUNT(*) AS n,
               SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS uniq
        FROM (SELECT q1, COUNT(*) OVER (PARTITION BY q1) AS cnt
              FROM q) t
    ), w2 AS (
        SELECT COUNT(*) AS n,
               SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS uniq
        FROM (SELECT q1, COUNT(*) OVER (PARTITION BY q1, q2) AS cnt
              FROM q) t
    ), w3 AS (
        SELECT COUNT(*) AS n,
               SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS uniq
        FROM (SELECT q1, COUNT(*) OVER (PARTITION BY q1, q2, q3)
                  AS cnt FROM q) t
    )
    SELECT 1 AS qi_width, CAST(w1.n AS BIGINT) AS n_people,
           CAST(w1.uniq AS BIGINT) AS n_unique,
           CAST((1000000 * w1.uniq) // w1.n AS BIGINT) AS unique_ppm
    FROM w1
    UNION ALL
    SELECT 2, CAST(w2.n AS BIGINT), CAST(w2.uniq AS BIGINT),
           CAST((1000000 * w2.uniq) // w2.n AS BIGINT)
    FROM w2
    UNION ALL
    SELECT 3, CAST(w3.n AS BIGINT), CAST(w3.uniq AS BIGINT),
           CAST((1000000 * w3.uniq) // w3.n AS BIGINT)
    FROM w3
    """,
)
def reidentification_risk_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification risk ladder: the share of customers UNIQUE
    under growing quasi-identifier sets — nation; nation + segment;
    nation + segment + balance-$1000-band — the Sweeney-style
    uniqueness curve showing how fast 'anonymous' data
    individualizes as attributes accumulate (87% of Americans are
    unique under {zip, birthdate, sex} — the effect this measures).
    The risk-assessment INPUT to `mondrian_k_anonymization` (which
    fixes it) and `k_anonymity_audit` / `l_diversity_t_closeness_
    audit` (which verify fixes): uniqueness is monotone in QI width,
    pinned by the invariant.

    Determinism: exact group sizes; integer ppm.

    Scale shape: three partitioned count windows over the dimension
    table — one pass per ladder rung.
    """
    c = load_table(spark, sf_dir, "customer")
    q = c.select(
        "c_custkey",
        F.col("c_nationkey").alias("q1"),
        F.col("c_mktsegment").alias("q2"),
        F.expr(
            "CAST(ROUND(c_acctbal * 100) AS BIGINT) DIV 100000"
        ).alias("q3"),
    )
    q = q.transform(_ckpt)
    out = None
    for width, cols in [(1, ["q1"]), (2, ["q1", "q2"]), (3, ["q1", "q2", "q3"])]:
        counted = q.withColumn(
            "cnt", F.count(F.lit(1)).over(Window.partitionBy(*cols))
        )
        row = counted.agg(
            F.lit(width).cast("long").alias("qi_width"),
            F.count(F.lit(1)).cast("long").alias("n_people"),
            F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
        ).withColumn(
            "unique_ppm",
            F.expr("(1000000 * n_unique) DIV n_people").cast("long"),
        )
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "attribution_lookback_ladder",
    oracle="""
    WITH purchases AS (
        SELECT user_id, ts AS pt, event_id
        FROM events WHERE event_type = 'purchase'
    ), views AS (
        SELECT user_id, ts AS vt FROM events WHERE event_type = 'view'
    ), ladder AS (
        SELECT CAST(w.w AS BIGINT) AS lookback_days
        FROM (SELECT unnest([1, 3, 7]) AS w) w
    ), hits AS (
        SELECT ladder.lookback_days, p.user_id, p.event_id,
               CAST(MAX(CASE WHEN v.vt < p.pt
                        AND v.vt >= p.pt
                            - to_microseconds(CAST(
                                ladder.lookback_days * 86400000000
                                AS BIGINT))
                        THEN 1 ELSE 0 END) AS BIGINT) AS attributed
        FROM purchases p
        CROSS JOIN ladder
        LEFT JOIN views v ON v.user_id = p.user_id
        GROUP BY 1, 2, 3
    )
    SELECT lookback_days,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(attributed) AS BIGINT) AS n_attributed,
           CAST((1000000 * SUM(attributed)) // COUNT(*) AS BIGINT)
               AS attributed_ppm
    FROM hits GROUP BY lookback_days
    """,
)
def attribution_lookback_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution lookback-window sensitivity: the share of
    purchases with at least one same-user VIEW within 1, 3, and 7
    days before — the window ladder every attribution methodology
    fight is actually about (the models in `linear_attribution_
    purchases` / `time_decay_attribution` / `markov_removal_
    attribution` all inherit whatever window was chosen upstream;
    this query shows how much credit the CHOICE itself moves).
    Monotone in the window by construction (pinned).

    Determinism: exact microsecond timestamps; integer counts.

    Scale shape: a per-user view-purchase join with the window
    predicate (at scale: an as-of/range join partitioned by user —
    `asof_join_purchases` shape), grouped twice.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pt"), "event_id"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("vuser"), F.col("ts").alias("vt")
    )
    ladder = spark.createDataFrame(
        [(1,), (3,), (7,)], "lookback_days long"
    )
    joined = (
        purchases.crossJoin(F.broadcast(ladder))
        .join(
            views,
            (F.col("vuser") == F.col("user_id")),
            "left",
        )
        .groupBy("lookback_days", "user_id", "event_id")
        .agg(
            F.max(
                F.when(
                    (F.col("vt") < F.col("pt"))
                    & (
                        F.unix_micros(F.col("vt").cast("timestamp"))
                        >= F.unix_micros(F.col("pt").cast("timestamp"))
                        - F.col("lookback_days") * 86400000000
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("attributed")
        )
    )
    return joined.groupBy("lookback_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum("attributed").cast("long").alias("n_attributed"),
        F.expr("(1000000 * SUM(attributed)) DIV COUNT(*)")
        .cast("long")
        .alias("attributed_ppm"),
    )


@query(
    "siegel_repeated_median",
    oracle="""
    WITH d AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
               x
        FROM (
            SELECT CAST(ts AS DATE) AS day,
                   CAST(ROUND(SUM(value) * 100) AS BIGINT) AS x
            FROM events GROUP BY 1
        ) s
    ), slopes AS (
        SELECT a.t AS ti, median((b.x - a.x) * 1.0 / (b.t - a.t))
                   AS med_i
        FROM d a JOIN d b ON b.t <> a.t
        GROUP BY a.t
    ), fit AS (
        SELECT median(med_i) AS slope FROM slopes
    ), icept AS (
        SELECT median(d.x - fit.slope * d.t) AS b0
        FROM d, fit
    )
    SELECT CAST((SELECT COUNT(*) FROM d) AS BIGINT) AS n_days,
           ROUND(fit.slope, 6) AS slope_cents_per_day,
           ROUND(icept.b0, 2) AS intercept_cents
    FROM fit, icept
    """,
)
def siegel_repeated_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel repeated-median regression of daily revenue on time:
    for each point, the MEDIAN of its pairwise slopes; the estimate
    is the median of those medians — the 50% breakdown-point line
    (Theil-Sen's median-of-all-pairs in `theil_sen_price_curve`
    breaks at ~29%; `passing_bablok_regression` is the symmetric
    variant). The most outlier-armored member of the robust
    regression trio, at the price of the nested median.

    Determinism: exact cent series; pairwise slopes are identical
    doubles; engine medians agree on identical multisets; rounding
    at output.

    Scale shape: the day grid keeps the pair relation tiny; per-point
    median is a grouped agg, the outer median a 30-row agg — at
    series scale the same double-median runs per key.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100).cast("long").alias("x")
    )
    d = base.select(
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
        "x",
    ).transform(_ckpt)
    a, b = d.alias("a"), d.alias("b")
    slopes = (
        a.join(b, F.col("b.t") != F.col("a.t"))
        .groupBy(F.col("a.t").alias("ti"))
        .agg(
            F.expr(
                "median((b.x - a.x) * 1.0 / (b.t - a.t))"
            ).alias("med_i")
        )
    )
    fit = slopes.agg(F.expr("median(med_i)").alias("slope"))
    icept = d.crossJoin(F.broadcast(fit)).agg(
        F.expr("median(x - slope * t)").alias("b0")
    )
    nd = d.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        nd.crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(icept))
        .select(
            "n_days",
            F.round("slope", 6).alias("slope_cents_per_day"),
            F.round("b0", 2).alias("intercept_cents"),
        )
    )


@query(
    "quantile_type_audit",
    oracle="""
    WITH v AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    )
    SELECT CAST(0.5 AS DOUBLE) AS p,
           CAST(quantile_disc(cents, 0.5) AS BIGINT) AS q_disc,
           ROUND(quantile_cont(cents, 0.5), 4) AS q_cont,
           ROUND(quantile_cont(cents, 0.5)
                 - quantile_disc(cents, 0.5), 4) AS convention_gap
    FROM v
    UNION ALL
    SELECT CAST(0.9 AS DOUBLE),
           CAST(quantile_disc(cents, 0.9) AS BIGINT),
           ROUND(quantile_cont(cents, 0.9), 4),
           ROUND(quantile_cont(cents, 0.9)
                 - quantile_disc(cents, 0.9), 4)
    FROM v
    UNION ALL
    SELECT CAST(0.99 AS DOUBLE),
           CAST(quantile_disc(cents, 0.99) AS BIGINT),
           ROUND(quantile_cont(cents, 0.99), 4),
           ROUND(quantile_cont(cents, 0.99)
                 - quantile_disc(cents, 0.99), 4)
    FROM v
    """,
)
def quantile_type_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-convention audit: the DISCrete (inverse-CDF,
    Hyndman-Fan type 1) and CONTinuous (linear-interpolation, type 7)
    quantiles of order values at p = 0.5/0.9/0.99, with the gap —
    the definitional spread that silently breaks cross-system metric
    parity (engines default differently: Spark percentile vs
    percentile_approx vs DuckDB quantile vs numpy). The gap is the
    honest error bar to put on any SLA percentile compared across
    tools; `exact_percentiles_by_flag` and `kll_quantile_rollup`
    inherit whichever convention they declare.

    Determinism: exact integer cents; both conventions are exact
    order-statistic arithmetic; rounding at output.

    Scale shape: one sorted-statistics pass; the grid is literal.
    """
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    v = v.transform(_ckpt)
    out = None
    for p in (0.5, 0.9, 0.99):
        row = v.agg(
            F.lit(float(p)).alias("p"),
            F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY cents)")
            .cast("long")
            .alias("q_disc"),
            F.round(F.expr(f"percentile(cents, {p})"), 4).alias("q_cont"),
        ).withColumn(
            "convention_gap",
            F.round(F.col("q_cont") - F.col("q_disc"), 4),
        )
        out = row if out is None else out.unionByName(row)
    return out


@query(
    "segment_migration_matrix",
    oracle="""
    WITH mon AS (
        SELECT o_custkey,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
               CAST(ROUND(SUM(o_totalprice) * 100) AS BIGINT) AS cents
        FROM orders GROUP BY 1, 2
    ), terc AS (
        SELECT o_custkey, m,
               NTILE(3) OVER (PARTITION BY m
                              ORDER BY cents, o_custkey) AS tier
        FROM mon
    ), moves AS (
        SELECT a.tier AS from_tier, b.tier AS to_tier,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM terc a JOIN terc b
          ON b.o_custkey = a.o_custkey
         AND b.m = CAST(a.m + INTERVAL 1 MONTH AS DATE)
        GROUP BY 1, 2
    ), totals AS (
        SELECT from_tier, CAST(SUM(n) AS BIGINT) AS tot
        FROM moves GROUP BY 1
    )
    SELECT moves.from_tier, moves.to_tier, moves.n,
           CAST((1000000 * moves.n) // totals.tot AS BIGINT)
               AS transition_ppm
    FROM moves JOIN totals USING (from_tier)
    """,
)
def segment_migration_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer value-tier migration matrix: customers are terciled
    by monthly spend within each month, and consecutive-month
    transitions are counted into the 3x3 migration matrix (ppm rows)
    — the dynamic sibling of `rfm_customer_segments` (a static
    snapshot) and the raw input to lifecycle Markov models
    (`absorbing_markov_purchase` is the event-level analogue). The
    diagonal is retention stickiness; heavy off-diagonals mean tiers
    are noise, not segments.

    Determinism: exact cent terciles with key tie-breaks; integer
    transition counts; ppm floor division.

    Scale shape: month agg, a per-month rank window, a month-shift
    self-join keyed by customer, and two small aggs.
    """
    o = load_table(spark, sf_dir, "orders")
    mon = o.groupBy(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
    ).agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents"))
    terc = mon.select(
        "o_custkey",
        "m",
        F.ntile(3)
        .over(Window.partitionBy("m").orderBy("cents", "o_custkey"))
        .alias("tier"),
    )
    a, b = terc.alias("a"), terc.alias("b")
    moves = a.join(
        b,
        (F.col("b.o_custkey") == F.col("a.o_custkey"))
        & (F.col("b.m") == F.add_months(F.col("a.m"), 1)),
    ).groupBy(
        F.col("a.tier").alias("from_tier"), F.col("b.tier").alias("to_tier")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    moves = _ckpt(moves)  # shared fan-out relation
    totals = moves.groupBy("from_tier").agg(
        F.sum("n").cast("long").alias("tot")
    )
    return moves.join(totals, "from_tier").select(
        "from_tier",
        "to_tier",
        "n",
        F.expr("(1000000 * n) DIV tot").cast("long").alias(
            "transition_ppm"
        ),
    )


@query(
    "lorenz_asymmetry",
    oracle="""
    WITH v AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM orders
    ), mu AS (SELECT SUM(cents) * 1.0 / COUNT(*) AS m FROM v),
    below AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_below,
               CAST(SUM(cents) AS BIGINT) AS s_below
        FROM v, mu WHERE cents < mu.m
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS s
        FROM v
    )
    SELECT tot.n AS n_orders,
           ROUND(below.n_below * 1.0 / tot.n
                 + below.s_below * 1.0 / tot.s, 6)
               AS lorenz_asymmetry_s,
           CAST(CASE WHEN below.n_below * 1.0 / tot.n
                          + below.s_below * 1.0 / tot.s < 1.0
                THEN 1 ELSE 0 END AS BIGINT) AS driven_by_large_units
    FROM below, tot
    """,
)
def lorenz_asymmetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz asymmetry coefficient S = F(mu) + L(mu) (Damgaard-Weiner)
    for order values: the point where the Lorenz curve runs parallel
    to the diagonal sits at the mean, and S below/above 1 says the
    observed inequality is driven by a few LARGE units versus many
    SMALL ones — two economies with the same Gini
    (`gini_exact_customer_spend`) but opposite S need opposite
    interventions, which is why ecologists and economists report the
    pair. `lorenz_dominance_pairs` compares whole curves; S reads the
    one structural bit Gini erases.

    Determinism: exact cent sums and counts; mean comparison on
    identical doubles; one rounding.

    Scale shape: one scalar mean then one conditional agg.
    """
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    v = v.transform(_ckpt)
    mu = v.agg((F.sum("cents") * 1.0 / F.count(F.lit(1))).alias("m"))
    below = v.crossJoin(F.broadcast(mu)).filter(
        F.col("cents") < F.col("m")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_below"),
        F.sum("cents").cast("long").alias("s_below"),
    )
    tot = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    s_ = (
        F.col("n_below") * 1.0 / F.col("n")
        + F.col("s_below") * 1.0 / F.col("s")
    )
    return below.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_orders"),
        F.round(s_, 6).alias("lorenz_asymmetry_s"),
        F.when(s_ < 1.0, 1).otherwise(0).cast("long").alias(
            "driven_by_large_units"
        ),
    )


@query(
    "chain_drift_audit",
    oracle="""
    WITH px AS (
        SELECT p.p_brand AS brand,
               CAST(date_trunc('year', o.o_orderdate) AS DATE) AS y,
               SUM(l.l_extendedprice)
               / SUM(CAST(l.l_quantity AS BIGINT)) AS price,
               CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE o.o_orderdate < DATE '1999-01-01'
        GROUP BY 1, 2
    ), yrs AS (
        SELECT DISTINCT y FROM px
    ), links AS (
        -- year-over-year Fisher link: sqrt(Laspeyres * Paasche)
        SELECT a.y AS y0, b.y AS y1,
               SQRT(
                 (SUM(b.price * a.qty) / SUM(a.price * a.qty))
                 * (SUM(b.price * b.qty) / SUM(a.price * b.qty))
               ) AS fisher_link
        FROM px a JOIN px b
          ON b.brand = a.brand
         AND b.y = CAST(a.y + INTERVAL 1 YEAR AS DATE)
        GROUP BY 1, 2
    ), chained AS (
        SELECT EXP(SUM(LN(fisher_link))) AS chain_index,
               CAST(COUNT(*) AS BIGINT) AS n_links
        FROM links
    ), direct AS (
        SELECT SQRT(
                 (SUM(b.price * a.qty) / SUM(a.price * a.qty))
                 * (SUM(b.price * b.qty) / SUM(a.price * b.qty))
               ) AS direct_index
        FROM px a JOIN px b
          ON b.brand = a.brand
         AND a.y = (SELECT MIN(y) FROM yrs)
         AND b.y = (SELECT MAX(y) FROM yrs)
    )
    SELECT chained.n_links,
           ROUND(chained.chain_index, 6) AS chained_fisher,
           ROUND(direct.direct_index, 6) AS direct_fisher,
           CAST(ROUND(1000000 * (chained.chain_index
                / direct.direct_index - 1.0)) AS BIGINT)
               AS chain_drift_ppm
    FROM chained, direct
    """,
)
def chain_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chain-drift audit of the Fisher price index over brand-year
    price/quantity aggregates: the CHAINED index (product of
    year-over-year Fisher links) against the DIRECT endpoint Fisher,
    with the drift in ppm — the index-number pathology (chained
    indices need not return to the direct value when prices cycle)
    that decides national-statistics methodology. Builds on the
    index family (`fisher_price_index`, `laspeyres_price_index`,
    `tornqvist_price_index`) with the property AUDIT those queries'
    docstrings assume away.

    Determinism: exact quantities, identical price/ratio trees;
    rounding at output.

    Scale shape: one brand-year agg, a year-shift self-join for
    links, endpoint join for the direct index, scalar combine.
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    px = (
        l.join(
            o.select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"),
            "l_orderkey",
        )
        .join(
            F.broadcast(
                p.select(F.col("p_partkey").alias("l_partkey"), "p_brand")
            ),
            "l_partkey",
        )
        .filter(F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("year", "o_orderdate").cast("date").alias("y"),
        )
        .agg(
            (
                F.sum("l_extendedprice")
                / F.sum(F.col("l_quantity").cast("long"))
            ).alias("price"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
        )
        .transform(_ckpt)
    )
    a, b = px.alias("a"), px.alias("b")
    fisher = F.sqrt(
        (
            F.sum(F.col("b.price") * F.col("a.qty"))
            / F.sum(F.col("a.price") * F.col("a.qty"))
        )
        * (
            F.sum(F.col("b.price") * F.col("b.qty"))
            / F.sum(F.col("a.price") * F.col("b.qty"))
        )
    )
    links = a.join(
        b,
        (F.col("b.brand") == F.col("a.brand"))
        & (F.col("b.y") == F.add_months(F.col("a.y"), 12)),
    ).groupBy(F.col("a.y").alias("y0")).agg(fisher.alias("fisher_link"))
    chained = links.agg(
        F.exp(F.sum(F.log("fisher_link"))).alias("chain_index"),
        F.count(F.lit(1)).cast("long").alias("n_links"),
    )
    bounds = px.agg(F.min("y").alias("y0"), F.max("y").alias("y1"))
    direct = (
        a.crossJoin(F.broadcast(bounds))
        .filter(F.col("a.y") == F.col("y0"))
        .join(
            b.crossJoin(F.broadcast(bounds.select(F.col("y1").alias("yy1"))))
            .filter(F.col("b.y") == F.col("yy1"))
            .select(
                F.col("b.brand").alias("brand2"),
                F.col("b.price").alias("bprice"),
                F.col("b.qty").alias("bqty"),
            ),
            F.col("a.brand") == F.col("brand2"),
        )
        .agg(
            F.sqrt(
                (
                    F.sum(F.col("bprice") * F.col("a.qty"))
                    / F.sum(F.col("a.price") * F.col("a.qty"))
                )
                * (
                    F.sum(F.col("bprice") * F.col("bqty"))
                    / F.sum(F.col("a.price") * F.col("bqty"))
                )
            ).alias("direct_index")
        )
    )
    return chained.crossJoin(F.broadcast(direct)).select(
        "n_links",
        F.round("chain_index", 6).alias("chained_fisher"),
        F.round("direct_index", 6).alias("direct_fisher"),
        F.round(
            1000000 * (F.col("chain_index") / F.col("direct_index") - 1.0)
        )
        .cast("long")
        .alias("chain_drift_ppm"),
    )


@query(
    "iso_week_year_boundary_audit",
    oracle="""
    WITH d AS (
        SELECT o_orderdate AS day,
               CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS cal_y,
               CAST(EXTRACT(isoyear FROM o_orderdate) AS BIGINT)
                   AS iso_y,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(CASE WHEN cal_y <> iso_y THEN 1 ELSE 0 END)
                AS BIGINT) AS n_mismatch_days,
           CAST(SUM(CASE WHEN cal_y <> iso_y THEN n ELSE 0 END)
                AS BIGINT) AS n_affected_orders,
           CAST(SUM(n) AS BIGINT) AS n_orders
    FROM d
    """,
)
def iso_week_year_boundary_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO week-year boundary audit: days where EXTRACT(isoyear)
    differs from the calendar year (the Dec-29..Jan-3 window that
    belongs to the 'wrong' year under ISO 8601 week numbering) and
    the order volume booked on them — the classic
    silent-misaggregation bug when one pipeline groups by YEARWEEK
    and another by YEAR (`timezone_local_rollup` is the same gotcha
    on the timezone axis; `business_day_ship_latency` on the
    calendar axis). Counted days > 0 is a guarantee this data WILL
    disagree across those groupings.

    Determinism: exact calendar arithmetic; integer counts.

    Scale shape: one day agg with two extracts.
    """
    o = load_table(spark, sf_dir, "orders")
    d = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).select(
        "day",
        "n",
        F.year("day").cast("long").alias("cal_y"),
        F.expr("EXTRACT(yearofweek FROM day)").cast("long").alias("iso_y"),
    )
    return d.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.when(F.col("cal_y") != F.col("iso_y"), 1).otherwise(0))
        .cast("long")
        .alias("n_mismatch_days"),
        F.sum(
            F.when(F.col("cal_y") != F.col("iso_y"), F.col("n")).otherwise(0)
        )
        .cast("long")
        .alias("n_affected_orders"),
        F.sum("n").cast("long").alias("n_orders"),
    )


def _monthly_games_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared closure: monthly top-2 nation 'games' (winner = the
    month's top-revenue nation), with exact cent margins — the same
    tournament `elo_rating_replay` and `pythagorean_expectation`
    consume."""
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
        "cents",
        F.row_number()
        .over(Window.partitionBy("m").orderBy(F.desc("cents"), "nk"))
        .alias("rk"),
    ).filter(F.col("rk") <= 2)
    a = top2.filter(F.col("rk") == 1).select(
        "m", F.col("nk").alias("wi"), F.col("cents").alias("cw")
    )
    b = top2.filter(F.col("rk") == 2).select(
        "m", F.col("nk").alias("li"), F.col("cents").alias("cl")
    )
    return (
        a.join(b, "m")
        .select(
            F.col("wi").cast("long").alias("winner"),
            F.col("li").cast("long").alias("loser"),
            (F.col("cw") - F.col("cl")).cast("long").alias("margin_cents"),
        )
        .withColumn("g", F.lit(1))
    )


@query("colley_matrix_ranking")
def colley_matrix_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Colley-matrix rating of the monthly nation tournament: the
    bias-free wins-only linear system C r = b (C = 2I + diag(games) -
    adjacency; b = 1 + (wins - losses)/2) solved EXACTLY over
    rationals, with the residual re-checked declaratively against the
    emitted micro ratings. The linear-algebra member of the rating
    family — `elo_rating_replay` (sequential), `plackett_luce_mm`
    (likelihood), `bradley_terry_priorities` (pairwise MLE) — with
    Colley's signature property that ratings average exactly 1/2
    (pinned by the invariant).

    Determinism: exact game counts; Fraction elimination; micro
    rounding at output.

    Scale shape: game aggregation is the fact work; the k x k solve
    is one closure call; the residual is a broadcast matvec.
    """
    import pandas as pd

    games = _monthly_games_closure(spark, sf_dir).transform(_ckpt)

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        from fractions import Fraction as Fr

        nodes = sorted(set(pdf["winner"]) | set(pdf["loser"]))
        idx = {n_: i for i, n_ in enumerate(nodes)}
        k = len(nodes)
        C = [
            [Fr(2) if i == j else Fr(0) for j in range(k)]
            for i in range(k)
        ]
        wins = {n_: 0 for n_ in nodes}
        losses = {n_: 0 for n_ in nodes}
        for _, row in pdf.iterrows():
            w_, l_ = int(row["winner"]), int(row["loser"])
            wins[w_] += 1
            losses[l_] += 1
            C[idx[w_]][idx[w_]] += 1
            C[idx[l_]][idx[l_]] += 1
            C[idx[w_]][idx[l_]] -= 1
            C[idx[l_]][idx[w_]] -= 1
        bvec = [
            Fr(1) + Fr(wins[n_] - losses[n_], 2) for n_ in nodes
        ]
        M = [C[i][:] + [bvec[i]] for i in range(k)]
        for col in range(k):
            piv = next(r for r in range(col, k) if M[r][col] != 0)
            M[col], M[piv] = M[piv], M[col]
            pv = M[col][col]
            M[col] = [x_ / pv for x_ in M[col]]
            for r_ in range(k):
                if r_ != col and M[r_][col] != 0:
                    f = M[r_][col]
                    M[r_] = [x_ - f * y_ for x_, y_ in zip(M[r_], M[col])]
        r_vec = [M[i][k] for i in range(k)]
        resid = max(
            abs(
                sum(C[i][j] * r_vec[j] for j in range(k)) - bvec[i]
            )
            for i in range(k)
        )
        return pd.DataFrame(
            {
                "nation_key": nodes,
                "colley_micro": [int(x * 1000000) for x in r_vec],
                "wins": [wins[n_] for n_ in nodes],
                "losses": [losses[n_] for n_ in nodes],
                "resid_micro": [int(resid * 1000000)] * k,
            }
        )

    return games.groupBy("g").applyInPandas(
        solve,
        schema=(
            "nation_key long, colley_micro long, wins long, losses long, "
            "resid_micro long"
        ),
    )


@query("massey_rating")
def massey_rating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Massey least-squares rating on the SAME games as
    `colley_matrix_ranking`, but using MARGINS: M r = p (M the Massey
    matrix, p the net point differentials in million-cent units),
    with the last equation replaced by sum r = 0 for identifiability
    — solved exactly over rationals, residual certified. Colley vs
    Massey on identical data is the wins-vs-margins debate made
    measurable: a team with narrow wins ranks higher under Colley
    than Massey.

    Determinism: exact integer margins; Fraction elimination; micro
    rounding at output.

    Scale shape: identical to Colley — fact agg, closure solve,
    broadcast residual.
    """
    import pandas as pd

    games = _monthly_games_closure(spark, sf_dir).transform(_ckpt)

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        from fractions import Fraction as Fr

        nodes = sorted(set(pdf["winner"]) | set(pdf["loser"]))
        idx = {n_: i for i, n_ in enumerate(nodes)}
        k = len(nodes)
        M = [[Fr(0)] * k for _ in range(k)]
        p = [Fr(0)] * k
        for _, row in pdf.iterrows():
            w_, l_ = int(row["winner"]), int(row["loser"])
            marg = Fr(int(row["margin_cents"]), 1000000)
            M[idx[w_]][idx[w_]] += 1
            M[idx[l_]][idx[l_]] += 1
            M[idx[w_]][idx[l_]] -= 1
            M[idx[l_]][idx[w_]] -= 1
            p[idx[w_]] += marg
            p[idx[l_]] -= marg
        # identifiability: replace last row with sum r = 0
        M[k - 1] = [Fr(1)] * k
        p[k - 1] = Fr(0)
        A = [M[i][:] + [p[i]] for i in range(k)]
        for col in range(k):
            piv = next(r for r in range(col, k) if A[r][col] != 0)
            A[col], A[piv] = A[piv], A[col]
            pv = A[col][col]
            A[col] = [x_ / pv for x_ in A[col]]
            for r_ in range(k):
                if r_ != col and A[r_][col] != 0:
                    f = A[r_][col]
                    A[r_] = [x_ - f * y_ for x_, y_ in zip(A[r_], A[col])]
        r_vec = [A[i][k] for i in range(k)]
        resid = max(
            abs(sum(M[i][j] * r_vec[j] for j in range(k)) - p[i])
            for i in range(k)
        )
        return pd.DataFrame(
            {
                "nation_key": nodes,
                "massey_micro": [int(x * 1000000) for x in r_vec],
                "resid_micro": [int(resid * 1000000)] * k,
            }
        )

    return games.groupBy("g").applyInPandas(
        solve,
        schema="nation_key long, massey_micro long, resid_micro long",
    )


@query("binomial_american_option")
def binomial_american_option(spark: SparkSession, sf_dir: str) -> DataFrame:
    """American vs European put on the 'daily revenue index' priced
    on a 20-step Cox-Ross-Rubinstein lattice calibrated to the
    series' realized volatility (u = e^sigma, d = 1/u, risk-neutral
    p from r = 0): backward induction with the early-exercise max at
    every node. Certificates ride along: american >= european >=
    intrinsic and the early-exercise premium is nonnegative (all
    pinned) — the optimal-stopping family's continuous-state member
    (`secretary_stop_rule_replay` and `pandora_reservation_prices`
    stop over discrete offers; the lattice stops over a price
    process).

    Determinism: volatility from exact integer log-return moments;
    fixed 20-step double recursion identical in one engine (rows-only
    by design — backward induction is not oracle SQL).

    Scale shape: calibration is two windows + a moment agg; the
    lattice is one closure call (21 terminal nodes).
    """
    import math

    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100).cast("long").alias("x")
    )
    w = Window.orderBy("day")
    rets = d.select(
        (F.log(F.col("x") * 1.0) - F.log(F.lag("x").over(w) * 1.0)).alias(
            "r"
        )
    ).filter(F.col("r").isNotNull())
    mom = rets.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("r").alias("mu"),
        (
            F.avg(F.col("r") * F.col("r")) - F.avg("r") * F.avg("r")
        ).alias("var"),
    ).withColumn("g", F.lit(1))

    def price(pdf: pd.DataFrame) -> pd.DataFrame:
        var = max(float(pdf["var"].iloc[0]), 1e-12)
        sigma = math.sqrt(var)
        steps = 20
        u = math.exp(sigma)
        dn = 1.0 / u
        p = (1.0 - dn) / (u - dn)  # risk-neutral, r = 0
        s0, strike = 100.0, 100.0
        # terminal payoffs
        eur = [
            max(strike - s0 * (u ** j) * (dn ** (steps - j)), 0.0)
            for j in range(steps + 1)
        ]
        amer = list(eur)
        for t in range(steps - 1, -1, -1):
            for j in range(t + 1):
                cont_e = p * eur[j + 1] + (1 - p) * eur[j]
                cont_a = p * amer[j + 1] + (1 - p) * amer[j]
                s = s0 * (u ** j) * (dn ** (t - j))
                eur[j] = cont_e
                amer[j] = max(cont_a, strike - s)
            eur = eur[: t + 1]
            amer = amer[: t + 1]
        intrinsic = max(strike - s0, 0.0)
        return pd.DataFrame(
            {
                "sigma_daily_milli": [int(round(1000 * sigma))],
                "european_put": [round(eur[0], 6)],
                "american_put": [round(amer[0], 6)],
                "early_exercise_premium": [
                    round(amer[0] - eur[0], 6)
                ],
                "intrinsic": [round(intrinsic, 6)],
            }
        )

    return mom.groupBy("g").applyInPandas(
        price,
        schema=(
            "sigma_daily_milli long, european_put double, "
            "american_put double, early_exercise_premium double, "
            "intrinsic double"
        ),
    )


@query(
    "certainty_equivalent_ladder",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(ROUND(SUM(value) * 100) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), scaled AS (
        SELECT x * 1.0 / 1000000.0 AS v FROM d
    ), mean_ AS (SELECT AVG(v) AS mu FROM scaled),
    ce AS (
        SELECT 'gamma_0.5' AS aversion,
               POW(AVG(SQRT(v)), 2.0) AS ce_val FROM scaled
        UNION ALL
        SELECT 'gamma_1_log', EXP(AVG(LN(v))) FROM scaled
        UNION ALL
        SELECT 'gamma_2', 1.0 / AVG(1.0 / v) FROM scaled
    )
    SELECT ce.aversion,
           ROUND(ce.ce_val, 6) AS certainty_equivalent,
           ROUND(mean_.mu, 6) AS expected_value,
           CAST(ROUND(1000000 * (mean_.mu - ce.ce_val) / mean_.mu)
                AS BIGINT) AS risk_premium_ppm
    FROM ce, mean_
    """,
)
def certainty_equivalent_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRRA certainty-equivalent ladder for the daily-revenue lottery
    (in $10k units): CE under square-root utility (gamma = 1/2), log
    utility (gamma = 1, the geometric mean), and gamma = 2 (the
    harmonic mean) — each an exact power/geometric/harmonic mean, so
    the ladder is the generalized-means inequality wearing its
    economic meaning: CE decreases with risk aversion and the risk
    premium (E[X] - CE)/E[X] grows. The utility-theoretic reading of
    `generalized_means_suite`, and the per-day counterpart of the
    growth framing in `kelly_growth_ladder` (log-CE IS the Kelly
    criterion's objective).

    Determinism: exact integer cents scaled once; identical mean
    trees; rounding at output.

    Scale shape: three streaming aggs over the day grid.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100).cast("long").alias("x")
    )
    scaled = d.select((F.col("x") * 1.0 / 1000000.0).alias("v"))
    scaled = scaled.transform(_ckpt)
    mean_ = scaled.agg(F.avg("v").alias("mu"))
    ces = [
        scaled.agg(
            F.lit("gamma_0.5").alias("aversion"),
            F.pow(F.avg(F.sqrt("v")), F.lit(2.0)).alias("ce_val"),
        ),
        scaled.agg(
            F.lit("gamma_1_log").alias("aversion"),
            F.exp(F.avg(F.log("v"))).alias("ce_val"),
        ),
        scaled.agg(
            F.lit("gamma_2").alias("aversion"),
            (1.0 / F.avg(1.0 / F.col("v"))).alias("ce_val"),
        ),
    ]
    ce = ces[0].unionByName(ces[1]).unionByName(ces[2])
    return ce.crossJoin(F.broadcast(mean_)).select(
        "aversion",
        F.round("ce_val", 6).alias("certainty_equivalent"),
        F.round("mu", 6).alias("expected_value"),
        F.round(
            1000000 * (F.col("mu") - F.col("ce_val")) / F.col("mu")
        )
        .cast("long")
        .alias("risk_premium_ppm"),
    )


@query(
    "pipeline_health_dashboard",
    oracle="""
    SELECT 'orders_rows' AS metric,
           CAST(COUNT(*) AS BIGINT) AS value
    FROM orders
    UNION ALL
    SELECT 'lineitem_rows', CAST(COUNT(*) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'customer_rows', CAST(COUNT(*) AS BIGINT) FROM customer
    UNION ALL
    SELECT 'orders_null_priority',
           CAST(SUM(CASE WHEN o_orderpriority IS NULL
                THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orphan_orders',
           CAST(COUNT(*) AS BIGINT)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'orphan_lineitems',
           CAST(COUNT(*) AS BIGINT)
    FROM lineitem l
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'order_date_span_days',
           CAST(datediff('day', MIN(o_orderdate), MAX(o_orderdate))
                AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'ship_after_order_violations',
           CAST(SUM(CASE WHEN l.l_shipdate < o.o_orderdate
                THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    UNION ALL
    SELECT 'duplicate_orderkeys',
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    """,
)
def pipeline_health_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pane pipeline health dashboard: the nine KPIs an
    on-call data engineer checks first — table row counts, null share
    of a required column, orphan counts across both FK edges
    (anti-join form), date span (freshness proxy), temporal sanity
    (ship-before-order violations), and key duplication — unioned
    into one metric/value relation. Each check exists in long form
    elsewhere (`referential_integrity_audit`,
    `data_completeness_calendar`, `minimal_key_discovery`,
    `data_expectations_report`); this is the OPERATIONAL rollup that
    pages someone, shaped for a metrics sink (name, value).

    Determinism: exact counts throughout.

    Scale shape: the nine KPIs come from THREE passes, not nine —
    every orders-only metric fuses into one aggregate, every
    lineitem-side metric (row count, FK orphans, temporal sanity)
    reads off a single left join against orders, and the 1-row fused
    results are materialized so the nine metric selects don't
    re-execute them. A production deployment runs exactly this union
    nightly and diffs against yesterday's row.
    """
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")

    o_stats = _ckpt(
        o.agg(
            F.count(F.lit(1)).cast("long").alias("orders_rows"),
            F.sum(F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("orders_null_priority"),
            F.datediff(F.max("o_orderdate"), F.min("o_orderdate"))
            .cast("long")
            .alias("order_date_span_days"),
            (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
            .cast("long")
            .alias("duplicate_orderkeys"),
        )
    )
    # left join preserves lineitem row count (o_orderkey is unique —
    # the duplicate_orderkeys KPI above audits exactly that), so the
    # row total, the orphan count (null parent), and the
    # ship-before-order violations all come from one pass
    l_stats = _ckpt(
        l.select("l_orderkey", "l_shipdate")
        .join(
            o.select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"),
            "l_orderkey",
            "left",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("lineitem_rows"),
            F.count(F.when(F.col("o_orderdate").isNull(), 1))
            .cast("long")
            .alias("orphan_lineitems"),
            F.sum(
                F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0)
            )
            .cast("long")
            .alias("ship_after_order_violations"),
        )
    )
    c_stats = _ckpt(
        c.agg(F.count(F.lit(1)).cast("long").alias("customer_rows"))
    )
    orphan_o = o.join(
        F.broadcast(c.select(F.col("c_custkey").alias("o_custkey"))),
        "o_custkey",
        "left_anti",
    ).agg(F.count(F.lit(1)).cast("long").alias("value"))

    def m(name, df, col=None):
        return df.select(
            F.lit(name).alias("metric"), F.col(col or "value").alias("value")
        )

    rows_ = [
        m("orders_rows", o_stats, "orders_rows"),
        m("lineitem_rows", l_stats, "lineitem_rows"),
        m("customer_rows", c_stats, "customer_rows"),
        m("orders_null_priority", o_stats, "orders_null_priority"),
        m("orphan_orders", orphan_o),
        m("orphan_lineitems", l_stats, "orphan_lineitems"),
        m("order_date_span_days", o_stats, "order_date_span_days"),
        m("ship_after_order_violations", l_stats, "ship_after_order_violations"),
        m("duplicate_orderkeys", o_stats, "duplicate_orderkeys"),
    ]
    out = rows_[0]
    for r_ in rows_[1:]:
        out = out.unionByName(r_)
    return out


@query("clarke_wright_savings")
def clarke_wright_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clarke-Wright savings construction for vehicle routes over the
    25 nation points (depot = grid center, capacity = 5 stops per
    route): merges are applied in decreasing savings order s_ij =
    d_0i + d_0j - d_ij while both endpoints remain route ends and
    capacity allows — THE classical VRP constructive heuristic. The
    result carries its defining certificate: total routed distance <=
    the out-and-back star total (every applied saving is positive),
    with both totals recomputed from the emitted route sequence. The
    vehicle-routing member of the OR family (`tsp_two_opt_certified`
    is its single-vehicle limit, `p_median_nations` chooses the
    depots this heuristic serves from).

    Determinism: integer plane coordinates; savings ties break on
    (i, j); route sequences emitted stop by stop.

    Scale shape: closure-sized savings list (C(25,2)); construction
    in one applyInPandas call; the certificate is arithmetic over
    the emitted rows.
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

    def cw(pdf: pd.DataFrame) -> pd.DataFrame:
        xs = {int(r["id"]): (int(r["x"]), int(r["y"])) for _, r in pdf.iterrows()}
        depot = (50000, 50000)

        def dist(a, b):
            return math.sqrt((a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2)

        nodes = sorted(xs)
        d0 = {i: dist(depot, xs[i]) for i in nodes}
        savings = sorted(
            (
                -(d0[i] + d0[j] - dist(xs[i], xs[j])),
                i,
                j,
            )
            for k, i in enumerate(nodes)
            for j in nodes[k + 1:]
        )
        route_of = {i: [i] for i in nodes}
        for (negs, i, j) in savings:
            if negs >= 0:
                break
            ri, rj = route_of[i], route_of[j]
            if ri is rj or len(ri) + len(rj) > 5:
                continue
            # merge only end-to-end
            if ri[-1] == i and rj[0] == j:
                merged = ri + rj
            elif rj[-1] == j and ri[0] == i:
                merged = rj + ri
            elif ri[0] == i and rj[0] == j:
                merged = list(reversed(ri)) + rj
            elif ri[-1] == i and rj[-1] == j:
                merged = ri + list(reversed(rj))
            else:
                continue
            for nid in merged:
                route_of[nid] = merged
        seen = set()
        routes = []
        for i in nodes:
            r_ = tuple(route_of[i])
            if r_ not in seen:
                seen.add(r_)
                routes.append(list(r_))
        total = 0.0
        star = sum(2 * d0[i] for i in nodes)
        rows = []
        for rid, r_ in enumerate(sorted(routes), 1):
            dsum = d0[r_[0]] + d0[r_[-1]]
            for a, b in zip(r_, r_[1:]):
                dsum += dist(xs[a], xs[b])
            total += dsum
            for pos, nid in enumerate(r_, 1):
                rows.append(
                    {
                        "route_id": rid,
                        "stop_pos": pos,
                        "nation_key": nid,
                        "route_len_micro": int(round(dsum * 1e6)),
                    }
                )
        for row in rows:
            row["total_routed_micro"] = int(round(total * 1e6))
            row["star_total_micro"] = int(round(star * 1e6))
        return pd.DataFrame(rows)

    return pts.groupBy("g").applyInPandas(
        cw,
        schema=(
            "route_id long, stop_pos long, nation_key long, "
            "route_len_micro long, total_routed_micro long, "
            "star_total_micro long"
        ),
    )


@query(
    "p_center_exact",
    oracle="""
    WITH pts AS (
        SELECT n_nationkey AS id,
               CAST((n_nationkey * 6271) % 100000 AS BIGINT) AS x,
               CAST((n_nationkey * 31337) % 100000 AS BIGINT) AS y
        FROM nation
    ), pairs AS (
        SELECT a.id AS fa, b.id AS fb, c.id AS cust,
               LEAST((a.x - c.x) * (a.x - c.x)
                     + (a.y - c.y) * (a.y - c.y),
                     (b.x - c.x) * (b.x - c.x)
                     + (b.y - c.y) * (b.y - c.y)) AS d2
        FROM pts a
        JOIN pts b ON b.id > a.id
        CROSS JOIN pts c
    ), radii AS (
        SELECT fa, fb, MAX(d2) AS max_d2
        FROM pairs GROUP BY 1, 2
    )
    SELECT CAST(fa AS BIGINT) AS facility_a,
           CAST(fb AS BIGINT) AS facility_b,
           CAST(max_d2 AS BIGINT) AS coverage_radius_sq
    FROM radii
    ORDER BY max_d2, fa, fb
    LIMIT 1
    """,
)
def p_center_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 2-center facility location on the nation plane: the pair
    of facility sites minimizing the MAXIMUM squared distance any
    nation travels to its nearest facility, by full enumeration of
    all C(25,2) candidate pairs against all 25 demand points — the
    minimax (worst-case) siting objective, NP-hard in general and the
    service-guarantee complement of `p_median_nations` (which
    minimizes the AVERAGE): median favors dense clusters, center
    protects the remotest customer.

    Determinism: exact integer squared distances; (radius, pair)
    argmin tie-break.

    Scale shape: a pairs x demand cross of dimension-sized relations
    (300 x 25 rows) with a grouped max and a top-1 — the exact spec
    a large-scale local-search p-center must match on samples.
    """
    n = load_table(spark, sf_dir, "nation")
    pts = n.select(
        F.col("n_nationkey").cast("long").alias("id"),
        ((F.col("n_nationkey") * 6271) % 100000).cast("long").alias("x"),
        ((F.col("n_nationkey") * 31337) % 100000).cast("long").alias("y"),
    )
    a = pts.select(
        F.col("id").alias("fa"), F.col("x").alias("ax"), F.col("y").alias("ay")
    )
    b = pts.select(
        F.col("id").alias("fb"), F.col("x").alias("bx"), F.col("y").alias("by")
    )
    c = pts.select(
        F.col("id").alias("cust"), F.col("x").alias("cx"), F.col("y").alias("cy")
    )
    da = (F.col("ax") - F.col("cx")) * (F.col("ax") - F.col("cx")) + (
        F.col("ay") - F.col("cy")
    ) * (F.col("ay") - F.col("cy"))
    db = (F.col("bx") - F.col("cx")) * (F.col("bx") - F.col("cx")) + (
        F.col("by") - F.col("cy")
    ) * (F.col("by") - F.col("cy"))
    pairs = (
        a.join(b, F.col("fb") > F.col("fa"))
        .crossJoin(c)
        .select("fa", "fb", F.least(da, db).alias("d2"))
    )
    radii = pairs.groupBy("fa", "fb").agg(F.max("d2").alias("max_d2"))
    return (
        radii.orderBy("max_d2", "fa", "fb")
        .limit(1)
        .select(
            F.col("fa").cast("long").alias("facility_a"),
            F.col("fb").cast("long").alias("facility_b"),
            F.col("max_d2").cast("long").alias("coverage_radius_sq"),
        )
    )


@query(
    "cori_rt_estimate",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS inc
        FROM events WHERE event_type = 'error'
        GROUP BY 1
    ), lagd AS (
        SELECT day, inc,
               LAG(inc, 1) OVER (ORDER BY day) AS i1,
               LAG(inc, 2) OVER (ORDER BY day) AS i2,
               LAG(inc, 3) OVER (ORDER BY day) AS i3
        FROM d
    )
    SELECT day, inc AS incidence,
           ROUND(inc / (0.25 * i1 + 0.5 * i2 + 0.25 * i3), 6) AS r_t
    FROM lagd
    WHERE i3 IS NOT NULL
      AND (0.25 * i1 + 0.5 * i2 + 0.25 * i3) > 0
    """,
)
def cori_rt_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cori-style instantaneous reproduction number R_t for the
    error-event 'epidemic': R_t = today's incidence over the
    serial-interval-weighted sum of recent incidence (kernel
    [0.25, 0.5, 0.25] over lags 1-3 days) — the real-time outbreak
    dial (R_t > 1: growing) used verbatim for incident-storm
    monitoring: are error bursts SELF-EXCITING beyond their recent
    history? The epidemiological member of the monitoring family
    (`page_hinkley_drift` detects level shifts; R_t measures
    multiplicative growth), and the renewal-equation sibling of
    `renewal_function_purchases`.

    Determinism: exact daily counts; fixed kernel; one rounded ratio
    per day.

    Scale shape: one day agg and three LAGs — linear, per-series
    parallel.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.filter(F.col("event_type") == "error").groupBy(
        F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("inc"))
    w = Window.orderBy("day")
    lagd = d.select(
        "day",
        "inc",
        F.lag("inc", 1).over(w).alias("i1"),
        F.lag("inc", 2).over(w).alias("i2"),
        F.lag("inc", 3).over(w).alias("i3"),
    )
    denom = 0.25 * F.col("i1") + 0.5 * F.col("i2") + 0.25 * F.col("i3")
    return lagd.filter(
        F.col("i3").isNotNull() & (denom > 0)
    ).select(
        "day",
        F.col("inc").alias("incidence"),
        F.round(F.col("inc") / denom, 6).alias("r_t"),
    )


@query(
    "basket_diversity_census",
    oracle="""
    WITH basket AS (
        SELECT l_orderkey,
               l_partkey % 10 AS grp,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY 1, 2
    ), per_order AS (
        SELECT l_orderkey,
               CAST(SUM(n) AS BIGINT) AS items,
               CAST(COUNT(*) AS BIGINT) AS distinct_groups,
               1.0 - SUM(n * 1.0 * n)
                 / (SUM(n) * 1.0 * SUM(n)) AS gini_simpson
        FROM basket GROUP BY 1
    )
    SELECT distinct_groups,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(AVG(gini_simpson), 6) AS mean_gini_simpson,
           ROUND(AVG(items * 1.0), 4) AS mean_items
    FROM per_order
    GROUP BY distinct_groups
    """,
)
def basket_diversity_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-basket diversity census: each order's lineitems are
    bucketed into 10 part groups and the Gini-Simpson index
    1 - sum p_i^2 measures how spread the basket is across groups —
    grouped by the distinct-group count, yielding the diversity
    PROFILE of the order population (single-category top-ups vs
    broad carts). The within-unit counterpart of the corpus-level
    diversity family (`renyi_entropy_spectrum`, `hhi_supplier_
    concentration` are across-unit concentration); basket diversity
    is the standard input to cross-sell targeting
    (`market_basket_pairs` finds the pairs; this finds WHO mixes).

    Determinism: exact counts; identical ratio trees; rounding at
    output.

    Scale shape: two grouped aggs — basket grain then profile grain.
    """
    l = load_table(spark, sf_dir, "lineitem")
    basket = l.groupBy(
        "l_orderkey", (F.col("l_partkey") % 10).alias("grp")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    per_order = basket.groupBy("l_orderkey").agg(
        F.sum("n").cast("long").alias("items"),
        F.count(F.lit(1)).cast("long").alias("distinct_groups"),
        (
            1.0
            - F.sum(F.col("n") * 1.0 * F.col("n"))
            / (F.sum("n") * 1.0 * F.sum("n"))
        ).alias("gini_simpson"),
    )
    return per_order.groupBy("distinct_groups").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.avg("gini_simpson"), 6).alias("mean_gini_simpson"),
        F.round(F.avg(F.col("items") * 1.0), 4).alias("mean_items"),
    )


@query(
    "efficiency_gap_gerrymander",
    oracle="""
    WITH votes AS (
        SELECT c.c_nationkey AS district,
               CAST(SUM(CASE WHEN o.o_orderpriority IN
                        ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                    AS BIGINT) AS va,
               CAST(SUM(CASE WHEN o.o_orderpriority NOT IN
                        ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                    AS BIGINT) AS vb
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
    ), wasted AS (
        SELECT district, va, vb,
               CASE WHEN va > vb
                    THEN va - ((va + vb) // 2 + 1)
                    ELSE va END AS wa,
               CASE WHEN vb > va
                    THEN vb - ((va + vb) // 2 + 1)
                    ELSE vb END AS wb
        FROM votes WHERE va <> vb
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_districts,
           CAST(SUM(CASE WHEN va > vb THEN 1 ELSE 0 END) AS BIGINT)
               AS seats_a,
           CAST(SUM(wa) AS BIGINT) AS wasted_a,
           CAST(SUM(wb) AS BIGINT) AS wasted_b,
           CAST((1000000 * (SUM(wa) - SUM(wb)))
                // SUM(va + vb) AS BIGINT) AS efficiency_gap_ppm
    FROM wasted
    """,
)
def efficiency_gap_gerrymander(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efficiency-gap analysis (Stephanopoulos-McGhee) treating the
    25 nations as districts and high- vs low-priority orders as two
    parties' votes: wasted votes are losing votes plus the winner's
    surplus over the majority threshold, and EG = (wasted_A -
    wasted_B) / total votes — the gerrymander metric courts actually
    used (|EG| > 7-8% flags packing/cracking). Near zero here is the
    calibration expectation for hash-uniform synthetic 'districts' —
    which is the point: EG's null behavior on neutral maps is what a
    real map is judged against. Joins the voting family's MAP
    dimension (the others aggregate BALLOTS).

    Determinism: exact integer votes; integer majority threshold
    (floor(total/2) + 1); ppm floor division; tied districts
    excluded exactly on both engines.

    Scale shape: one district agg and one scalar rollup.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    votes = (
        o.join(
            F.broadcast(
                c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .groupBy(F.col("c_nationkey").alias("district"))
        .agg(
            F.sum(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("va"),
            F.sum(
                F.when(
                    ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("vb"),
        )
        .filter(F.col("va") != F.col("vb"))
    )
    thr = F.expr("(va + vb) DIV 2") + 1
    wasted = votes.select(
        "district",
        "va",
        "vb",
        F.when(F.col("va") > F.col("vb"), F.col("va") - thr)
        .otherwise(F.col("va"))
        .alias("wa"),
        F.when(F.col("vb") > F.col("va"), F.col("vb") - thr)
        .otherwise(F.col("vb"))
        .alias("wb"),
    )
    return wasted.agg(
        F.count(F.lit(1)).cast("long").alias("n_districts"),
        F.sum(F.when(F.col("va") > F.col("vb"), 1).otherwise(0))
        .cast("long")
        .alias("seats_a"),
        F.sum("wa").cast("long").alias("wasted_a"),
        F.sum("wb").cast("long").alias("wasted_b"),
        F.expr(
            "(1000000 * (SUM(wa) - SUM(wb))) DIV SUM(va + vb)"
        )
        .cast("long")
        .alias("efficiency_gap_ppm"),
    )


@query(
    "alabama_paradox_check",
    oracle="""
    WITH pop AS (
        SELECT c.c_nationkey % 5 AS state,
               CAST(COUNT(*) AS BIGINT) AS votes
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1
    ), tot AS (SELECT CAST(SUM(votes) AS BIGINT) AS t FROM pop),
    h AS (SELECT CAST(unnest([10, 11]) AS BIGINT) AS house),
    quota AS (
        SELECT h.house, pop.state, pop.votes,
               pop.votes * 1.0 * h.house / tot.t AS q,
               CAST(FLOOR(pop.votes * 1.0 * h.house / tot.t)
                    AS BIGINT) AS base
        FROM pop, tot, h
    ), rem AS (
        SELECT house, state, votes, base,
               q - base AS frac,
               CAST(SUM(base) OVER (PARTITION BY house) AS BIGINT)
                   AS base_total
        FROM quota
    ), ranked AS (
        SELECT house, state, base,
               CASE WHEN ROW_NUMBER() OVER (
                   PARTITION BY house
                   ORDER BY frac DESC, state)
                   <= house - base_total THEN 1 ELSE 0 END AS bonus
        FROM rem
    ), seats AS (
        SELECT house, state, base + bonus AS seats FROM ranked
    )
    SELECT a.state AS state,
           a.seats AS seats_house10,
           b.seats AS seats_house11,
           CAST(CASE WHEN b.seats < a.seats THEN 1 ELSE 0 END
                AS BIGINT) AS alabama_paradox
    FROM seats a JOIN seats b
      ON b.state = a.state AND a.house = 10 AND b.house = 11
    """,
)
def alabama_paradox_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alabama-paradox check for Hamilton (largest-remainder)
    apportionment: seats for five state groups computed at house
    sizes 10 AND 11 — the paradox fires when a state LOSES a seat as
    the house GROWS, the defect that killed Hamilton's method in
    1880s Congress and the concrete reason divisor methods
    (`dhondt_vs_hamilton`, `seat_apportionment_revenue`) exist. The
    check emits both allocations and the per-state paradox flag; any
    1 is a live paradox instance on this data.

    Determinism: exact vote counts; largest-remainder with (frac,
    state) tie-break; integer seats.

    Scale shape: one agg, a 2-row house ladder, rank windows per
    house.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pop = (
        o.join(
            F.broadcast(
                c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .groupBy((F.col("c_nationkey") % 5).alias("state"))
        .agg(F.count(F.lit(1)).cast("long").alias("votes"))
    )
    # 5-row vote relation fans out to the total and the quota ladder —
    # without materialization both re-run the orders join agg
    pop = _ckpt(pop)
    tot = pop.agg(F.sum("votes").cast("long").alias("t"))
    houses = spark.createDataFrame([(10,), (11,)], "house long")
    quota = (
        pop.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(houses))
        .select(
            "house",
            "state",
            "votes",
            (F.col("votes") * 1.0 * F.col("house") / F.col("t")).alias("q"),
            F.floor(F.col("votes") * 1.0 * F.col("house") / F.col("t"))
            .cast("long")
            .alias("base"),
        )
    )
    rem = quota.select(
        "house",
        "state",
        "base",
        (F.col("q") - F.col("base")).alias("frac"),
    ).withColumn(
        "base_total",
        F.sum("base").over(Window.partitionBy("house")).cast("long"),
    )
    ranked = rem.select(
        "house",
        "state",
        "base",
        F.when(
            F.row_number().over(
                Window.partitionBy("house").orderBy(
                    F.desc("frac"), "state"
                )
            )
            <= F.col("house") - F.col("base_total"),
            1,
        )
        .otherwise(0)
        .alias("bonus"),
    )
    seats = ranked.select(
        "house", "state", (F.col("base") + F.col("bonus")).alias("seats")
    )
    seats = _ckpt(seats)  # 10-row allocation fans out to both houses
    a = seats.filter(F.col("house") == 10).select(
        "state", F.col("seats").alias("seats_house10")
    )
    b = seats.filter(F.col("house") == 11).select(
        "state", F.col("seats").alias("seats_house11")
    )
    return a.join(b, "state").select(
        "state",
        "seats_house10",
        "seats_house11",
        F.when(F.col("seats_house11") < F.col("seats_house10"), 1)
        .otherwise(0)
        .cast("long")
        .alias("alabama_paradox"),
    )


@query(
    "square_root_staffing",
    oracle="""
    WITH load AS (
        SELECT COUNT(*) * 1.0
               / ((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0)
               * 1800.0 AS r  -- offered load, 30-min service units
        FROM events WHERE event_type = 'purchase'
    ), betas AS (
        SELECT unnest([0.5, 1.0, 2.0]) AS beta
    )
    SELECT ROUND(betas.beta, 1) AS beta,
           ROUND(load.r, 4) AS offered_load,
           CAST(CEIL(load.r + betas.beta * SQRT(load.r)) AS BIGINT)
               AS staffing_n,
           ROUND((CEIL(load.r + betas.beta * SQRT(load.r)) - load.r)
                 / SQRT(load.r), 4) AS achieved_beta
    FROM load, betas
    """,
)
def square_root_staffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Square-root staffing rule (Halfin-Whitt): servers N = ceil(R +
    beta sqrt(R)) for quality-of-service slack beta in {0.5, 1, 2}
    at the purchase workload's offered load R — the asymptotically
    optimal sizing that keeps delay probability roughly CONSTANT as
    load grows (staff the mean plus a sqrt-order buffer, never a
    fixed utilization). The sizing rule that closes the loop on the
    queueing family: `erlang_c_staffing`/`erlang_b_blocking` price a
    GIVEN N; square-root staffing says which N to price.

    Determinism: microsecond-exact load; literal beta ladder;
    integer ceiling; rounding at output.

    Scale shape: one scalar agg and a 3-row literal.
    """
    ev = load_table(spark, sf_dir, "events")
    load = ev.filter(F.col("event_type") == "purchase").agg(
        (
            F.count(F.lit(1))
            * 1.0
            / (
                (
                    F.unix_micros(F.max("ts").cast("timestamp"))
                    - F.unix_micros(F.min("ts").cast("timestamp"))
                )
                / 1000000.0
            )
            * 1800.0
        ).alias("r")
    )
    betas = spark.createDataFrame([(0.5,), (1.0,), (2.0,)], "beta double")
    n_ = F.ceil(F.col("r") + F.col("beta") * F.sqrt("r"))
    return betas.crossJoin(F.broadcast(load)).select(
        F.round("beta", 1).alias("beta"),
        F.round("r", 4).alias("offered_load"),
        n_.cast("long").alias("staffing_n"),
        F.round((n_ - F.col("r")) / F.sqrt("r"), 4).alias(
            "achieved_beta"
        ),
    )


@query("token_bucket_conformance")
def token_bucket_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket conformance replay of the event stream: a bucket
    of burst capacity 20 refilling at 1.2x the average event rate is
    replayed over the exact microsecond arrivals, counting
    conforming vs dropped events — THE rate-limiter/shaper of every
    API gateway, evaluated offline to size (rate, burst) before
    deployment. The admission-control sibling of
    `liu_layland_schedulability` (periodic guarantees) and the
    enforcement half of the arrival analyses
    (`hyperexponential_mom_fit` measures burstiness; the bucket
    decides what burstiness is allowed to pass).

    Determinism: exact arrival times; fixed rate/burst; sequential
    replay in one closure pass with (ts, event_id) order.

    Scale shape: per-key buckets shard perfectly (the replay
    partitions by user at scale — same state machine as per-key
    transformWithState); this offline audit runs the global
    bucket in one pass.
    """
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    span = ev.agg(
        (
            F.count(F.lit(1))
            * 1.0
            / (
                (
                    F.unix_micros(F.max("ts").cast("timestamp"))
                    - F.unix_micros(F.min("ts").cast("timestamp"))
                )
                / 1000000.0
            )
        ).alias("rate_per_s")
    )
    stream = ev.select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        "event_id",
    ).crossJoin(F.broadcast(span)).withColumn("g", F.lit(1))

    def replay(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["t_us", "event_id"])
        rate = float(pdf["rate_per_s"].iloc[0]) * 1.2  # tokens/sec
        burst = 20.0
        tokens = burst
        last = None
        ok = 0
        dropped = 0
        for t in pdf["t_us"]:
            if last is not None:
                tokens = min(burst, tokens + (t - last) / 1e6 * rate)
            last = t
            if tokens >= 1.0:
                tokens -= 1.0
                ok += 1
            else:
                dropped += 1
        n = ok + dropped
        return pd.DataFrame(
            {
                "n_events": [n],
                "conforming": [ok],
                "dropped": [dropped],
                "conforming_ppm": [(1000000 * ok) // n],
                "rate_multiplier_pct": [120],
                "burst": [20],
            }
        )

    return stream.groupBy("g").applyInPandas(
        replay,
        schema=(
            "n_events long, conforming long, dropped long, "
            "conforming_ppm long, rate_multiplier_pct long, burst long"
        ),
    )


@query(
    "gini_mean_difference",
    oracle="""
    WITH v AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY ROUND(o_totalprice * 100), o_orderkey)
                   AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM orders
    )
    SELECT MAX(n) AS n_orders,
           ROUND(2.0 * SUM((2 * i - n - 1) * 1.0 * x)
                 / (MAX(n) * 1.0 * (MAX(n) - 1)), 4)
               AS gini_mean_difference_cents,
           ROUND(SUM((2 * i - n - 1) * 1.0 * x)
                 / (MAX(n) * 1.0 * (MAX(n) - 1))
                 / (SUM(x) * 1.0 / MAX(n)), 6) AS implied_gini
    FROM v
    """,
)
def gini_mean_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini mean difference of order values via the exact sorted
    closed form GMD = 2/(n(n-1)) * sum (2i - n - 1) x_(i) — the mean
    absolute difference between two random orders, computed in ONE
    rank window instead of the naive O(n^2) pair join. GMD is the
    dispersion measure that needs no center (unlike sd/MAD) and is
    26% more efficient than sd under contamination; GMD/(2 mu) is
    the Gini coefficient, making this query a closed-form
    cross-check of `gini_exact_customer_spend` (the implied_gini
    column; the invariant pins the identity's range).

    Determinism: exact integer cents with rank tie-breaks; one
    weighted sum; rounding at output.

    Scale shape: the sort-rank goes through the range-bucketed
    distributed rank (``operators/rank.py`` — no single-task window
    over the fact) and one weighted agg, using Σ(2i−n−1)x =
    Σ(2i−1)x − n·Σx so n never rides per-row — the O(n log n) form
    of an O(n^2) statistic, which IS the scale lesson.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_global_rank,
    )

    o = load_table(spark, sf_dir, "orders")
    v = distributed_global_rank(
        o.select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
            "o_orderkey",
        ),
        "x",
        "o_orderkey",
        out_col="i",
    ).select("x", "i")
    n_ = F.count(F.lit(1)).cast("long")
    wsum = (
        F.sum((2 * F.col("i") - 1) * 1.0 * F.col("x"))
        - n_ * 1.0 * F.sum("x")
    )
    return v.agg(
        n_.alias("n_orders"),
        F.round(
            2.0 * wsum / (n_ * 1.0 * (n_ - 1)), 4
        ).alias("gini_mean_difference_cents"),
        F.round(
            wsum / (n_ * 1.0 * (n_ - 1)) / (F.sum("x") * 1.0 / n_),
            6,
        ).alias("implied_gini"),
    )


@query(
    "tukey_summary_statistics",
    oracle="""
    WITH v AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x
        FROM orders
    )
    SELECT CAST(MIN(x) AS BIGINT) AS minimum,
           ROUND(quantile_cont(x, 0.25), 2) AS q1,
           ROUND(quantile_cont(x, 0.5), 2) AS median,
           ROUND(quantile_cont(x, 0.75), 2) AS q3,
           CAST(MAX(x) AS BIGINT) AS maximum,
           ROUND((quantile_cont(x, 0.25)
                  + 2 * quantile_cont(x, 0.5)
                  + quantile_cont(x, 0.75)) / 4.0, 2) AS trimean,
           ROUND((quantile_cont(x, 0.25)
                  + quantile_cont(x, 0.75)) / 2.0, 2) AS midhinge,
           ROUND((quantile_cont(x, 0.75) - quantile_cont(x, 0.25))
                 / (quantile_cont(x, 0.75) + quantile_cont(x, 0.25)),
                 6) AS quartile_coef_dispersion
    FROM v
    """,
)
def tukey_summary_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's resistant summary set for order values: the five-number
    summary plus the TRIMEAN (Q1 + 2*median + Q3)/4 — Tukey's
    'optimally snappy' location blend, 88% Gaussian-efficient yet
    quartile-robust — the MIDHINGE, and the quartile coefficient of
    dispersion (the scale-free spread the CV overstates under skew).
    The EDA vocabulary beneath the box plot, complementing the
    estimator-grade robust tools (`half_sample_mode`,
    `hodges_lehmann_location`, `winsorized_stats_orders`) with the
    exploratory set practitioners quote.

    Determinism: exact integer cents; interpolated quartiles on
    identical multisets; rounding at output.

    Scale shape: one sorted-statistics pass.
    """
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x")
    )
    q1 = F.expr("percentile(x, 0.25)")
    q2 = F.expr("percentile(x, 0.5)")
    q3 = F.expr("percentile(x, 0.75)")
    return v.agg(
        F.min("x").cast("long").alias("minimum"),
        F.round(q1, 2).alias("q1"),
        F.round(q2, 2).alias("median"),
        F.round(q3, 2).alias("q3"),
        F.max("x").cast("long").alias("maximum"),
        F.round((q1 + 2 * q2 + q3) / 4.0, 2).alias("trimean"),
        F.round((q1 + q3) / 2.0, 2).alias("midhinge"),
        F.round((q3 - q1) / (q3 + q1), 6).alias(
            "quartile_coef_dispersion"
        ),
    )


@query(
    "concentration_index_health",
    oracle="""
    WITH cust AS (
        SELECT c.c_custkey,
               CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS wealth,
               CAST(ROUND(SUM(o.o_totalprice) * 100) AS BIGINT) AS y
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ), ranked AS (
        SELECT y,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY wealth, c_custkey) AS BIGINT) AS r,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM cust
    )
    SELECT MAX(n) AS n_customers,
           -- CI = 2 cov(y, fractional rank) / mean(y)
           ROUND(2.0 * (SUM(y * 1.0 * r) / MAX(n)
                        - (SUM(y) * 1.0 / MAX(n))
                          * (SUM(r) * 1.0 / MAX(n)))
                 / MAX(n) / (SUM(y) * 1.0 / MAX(n)), 6)
               AS concentration_index
    FROM ranked
    """,
)
def concentration_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration index of customer spend against the WEALTH
    ranking (account balance): CI = 2 cov(spend, wealth-rank) /
    (n * mean spend) — the health-economics measure of
    wealth-related inequality (is spending concentrated among the
    balance-rich?), crucially DIFFERENT from the Gini
    (`gini_exact_customer_spend`, `gini_mean_difference`): Gini
    ranks by the outcome itself; CI ranks by a second dimension, so
    it can be negative (pro-poor) or zero under independence even
    when Gini is large.

    Determinism: exact cent totals; wealth-rank with key tie-break;
    covariance trees identical; rounding at output.

    Scale shape: one join-agg, one rank window, one moment agg.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cust = (
        c.join(
            o.select(F.col("o_custkey").alias("c_custkey"), "o_totalprice"),
            "c_custkey",
        )
        .groupBy(
            "c_custkey",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("wealth"),
        )
        .agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("y"))
    )
    ranked = cust.select(
        "y",
        F.row_number()
        .over(Window.orderBy("wealth", "c_custkey"))
        .cast("long")
        .alias("r"),
    ).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy()).cast("long")
    )
    nmax = F.max("n")
    cov = (
        F.sum(F.col("y") * 1.0 * F.col("r")) / nmax
        - (F.sum("y") * 1.0 / nmax) * (F.sum("r") * 1.0 / nmax)
    )
    return ranked.agg(
        nmax.alias("n_customers"),
        F.round(
            2.0 * cov / nmax / (F.sum("y") * 1.0 / nmax), 6
        ).alias("concentration_index"),
    )


@query(
    "ssd_check_segments",
    oracle="""
    WITH pts AS (
        SELECT c.c_mktsegment AS seg,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS x
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_mktsegment IN ('AUTOMOBILE', 'BUILDING')
    ), bounds AS (
        SELECT MIN(x) AS lo, MAX(x) AS hi FROM pts
    ), grid AS (
        SELECT CAST(g.k AS BIGINT) AS k,
               bounds.lo + g.k * (bounds.hi - bounds.lo) / 10 AS t
        FROM bounds,
             LATERAL (SELECT unnest(generate_series(1, 10)) AS k) g
    ), icdf AS (
        -- integrated CDF (expected shortfall below t): E[(t - X)+]
        SELECT grid.k, pts.seg,
               SUM(GREATEST(grid.t - pts.x, 0)) * 1.0
               / (SELECT COUNT(*) FROM pts p2 WHERE p2.seg = pts.seg)
                   AS ic
        FROM pts CROSS JOIN grid
        GROUP BY 1, 2
    ), wide AS (
        SELECT k,
               MAX(CASE WHEN seg = 'AUTOMOBILE' THEN ic END) AS ia,
               MAX(CASE WHEN seg = 'BUILDING' THEN ic END) AS ib
        FROM icdf GROUP BY k
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_grid,
           CAST(SUM(CASE WHEN ia <= ib + 1e-9 THEN 1 ELSE 0 END)
                AS BIGINT) AS auto_dominates_points,
           CAST(SUM(CASE WHEN ib <= ia + 1e-9 THEN 1 ELSE 0 END)
                AS BIGINT) AS building_dominates_points,
           CAST(CASE WHEN SUM(CASE WHEN ia <= ib + 1e-9
                     THEN 1 ELSE 0 END) = COUNT(*)
                THEN 1 ELSE 0 END AS BIGINT) AS auto_ssd_dominates
    FROM wide
    """,
)
def ssd_check_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order stochastic dominance check between AUTOMOBILE and
    BUILDING order values: A SSD-dominates B iff A's integrated CDF
    E[(t - X)+] (the expected shortfall below t) lies at or below B's
    at EVERY threshold — checked on a 10-point grid. SSD is the
    partial order every risk-averse expected-utility maximizer
    agrees with, one rung below first-order dominance and the
    risk-sensitive sibling of `lorenz_dominance_pairs` (equality
    order) and `quantile_shift_function` (pointwise quantile view):
    crossing integrated CDFs mean preference depends on the utility
    function, which is the decision-relevant finding.

    Determinism: exact cents; a literal grid off exact bounds;
    shortfall sums with identical trees; 1e-9 comparison guard.

    Scale shape: one grid-cross conditional agg per segment — the
    whole dominance check is one pass.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pts = (
        o.join(
            F.broadcast(
                c.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
            ),
            "o_custkey",
        )
        .filter(F.col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
        )
        .transform(_ckpt)
    )
    bounds = pts.agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    ks = spark.range(1, 11).select(F.col("id").cast("long").alias("k"))
    grid = ks.crossJoin(F.broadcast(bounds)).select(
        "k",
        (
            F.col("lo")
            + F.col("k") * (F.col("hi") - F.col("lo")) / 10
        ).alias("t"),
    )
    counts = pts.groupBy("seg").agg(F.count(F.lit(1)).alias("nseg"))
    icdf = (
        pts.crossJoin(F.broadcast(grid))
        .groupBy("k", "seg")
        .agg(F.sum(F.greatest(F.col("t") - F.col("x"), F.lit(0.0))).alias("s"))
        .join(F.broadcast(counts), "seg")
        .select("k", "seg", (F.col("s") * 1.0 / F.col("nseg")).alias("ic"))
    )
    wide = icdf.groupBy("k").agg(
        F.max(F.when(F.col("seg") == "AUTOMOBILE", F.col("ic"))).alias("ia"),
        F.max(F.when(F.col("seg") == "BUILDING", F.col("ic"))).alias("ib"),
    )
    return wide.agg(
        F.count(F.lit(1)).cast("long").alias("n_grid"),
        F.sum(
            F.when(F.col("ia") <= F.col("ib") + 1e-9, 1).otherwise(0)
        )
        .cast("long")
        .alias("auto_dominates_points"),
        F.sum(
            F.when(F.col("ib") <= F.col("ia") + 1e-9, 1).otherwise(0)
        )
        .cast("long")
        .alias("building_dominates_points"),
        F.when(
            F.sum(
                F.when(F.col("ia") <= F.col("ib") + 1e-9, 1).otherwise(0)
            )
            == F.count(F.lit(1)),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("auto_ssd_dominates"),
    )


@query(
    "selfish_routing_poa",
    oracle="""
    WITH params AS (
        -- two parallel routes with affine latency l_i = a_i + b_i x,
        -- parameters from the two largest segments' order stats
        SELECT
            (SELECT AVG(o_totalprice) / 100000.0 FROM orders o
             JOIN customer c ON c.c_custkey = o.o_custkey
             WHERE c.c_mktsegment = 'AUTOMOBILE') AS a1,
            (SELECT AVG(o_totalprice) / 100000.0 FROM orders o
             JOIN customer c ON c.c_custkey = o.o_custkey
             WHERE c.c_mktsegment = 'BUILDING') AS a2,
            1.0 AS b1, 2.0 AS b2
    ), eq AS (
        -- Wardrop equilibrium: a1 + b1 x = a2 + b2 (1 - x), clamped
        SELECT a1, a2, b1, b2,
               LEAST(GREATEST((a2 + b2 - a1) / (b1 + b2), 0.0), 1.0)
                   AS xe
        FROM params
    ), opt AS (
        -- social optimum of x(a1 + b1 x) + (1-x)(a2 + b2(1-x))
        SELECT eq.*,
               LEAST(GREATEST((a2 - a1 + 2 * b2) / (2 * b1 + 2 * b2),
                              0.0), 1.0) AS xo
        FROM eq
    )
    SELECT ROUND(xe, 6) AS equilibrium_share_r1,
           ROUND(xo, 6) AS optimal_share_r1,
           ROUND(xe * (a1 + b1 * xe)
                 + (1 - xe) * (a2 + b2 * (1 - xe)), 6) AS cost_eq,
           ROUND(xo * (a1 + b1 * xo)
                 + (1 - xo) * (a2 + b2 * (1 - xo)), 6) AS cost_opt,
           ROUND((xe * (a1 + b1 * xe)
                  + (1 - xe) * (a2 + b2 * (1 - xe)))
                 / (xo * (a1 + b1 * xo)
                    + (1 - xo) * (a2 + b2 * (1 - xo))), 6)
               AS price_of_anarchy
    FROM opt
    """,
)
def selfish_routing_poa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selfish routing price of anarchy on a two-route network with
    affine latencies (free-flow terms from the two largest segments'
    average order value, congestion slopes 1 and 2): the Wardrop
    equilibrium split (latencies equalize) versus the social optimum
    (marginal costs equalize), with PoA = equilibrium cost / optimal
    cost — Roughgarden-Tardos proves PoA <= 4/3 for ALL affine
    latencies, pinned by the invariant. The congestion-game anchor
    of the game family (`fictitious_play_minimax` learns equilibria;
    this one is closed-form) and the network twist on
    `maxflow_mincut_trade` (capacity vs congestion).

    Determinism: closed-form equilibria on identical doubles;
    clamped shares; rounding at output.

    Scale shape: two scalar aggs and in-row algebra.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")

    def seg_mean(seg):
        return (
            o.join(
                F.broadcast(
                    c.filter(F.col("c_mktsegment") == seg).select(
                        F.col("c_custkey").alias("o_custkey")
                    )
                ),
                "o_custkey",
            )
            .agg((F.avg("o_totalprice") / 100000.0).alias("a"))
        )

    a1 = seg_mean("AUTOMOBILE").select(F.col("a").alias("a1"))
    a2 = seg_mean("BUILDING").select(F.col("a").alias("a2"))
    params = a1.crossJoin(F.broadcast(a2)).select(
        "a1", "a2", F.lit(1.0).alias("b1"), F.lit(2.0).alias("b2")
    )
    xe = F.least(
        F.greatest(
            (F.col("a2") + F.col("b2") - F.col("a1"))
            / (F.col("b1") + F.col("b2")),
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    xo = F.least(
        F.greatest(
            (F.col("a2") - F.col("a1") + 2 * F.col("b2"))
            / (2 * F.col("b1") + 2 * F.col("b2")),
            F.lit(0.0),
        ),
        F.lit(1.0),
    )
    eq = params.select("a1", "a2", "b1", "b2", xe.alias("xe"), xo.alias("xo"))

    def cost(x):
        return x * (F.col("a1") + F.col("b1") * x) + (1 - x) * (
            F.col("a2") + F.col("b2") * (1 - x)
        )

    return eq.select(
        F.round("xe", 6).alias("equilibrium_share_r1"),
        F.round("xo", 6).alias("optimal_share_r1"),
        F.round(cost(F.col("xe")), 6).alias("cost_eq"),
        F.round(cost(F.col("xo")), 6).alias("cost_opt"),
        F.round(cost(F.col("xe")) / cost(F.col("xo")), 6).alias(
            "price_of_anarchy"
        ),
    )


@query(
    "arrival_curve_envelope",
    oracle="""
    WITH ev AS (
        SELECT epoch_us(ts) AS t, event_id FROM events
    ), ws AS (
        SELECT CAST(unnest([60, 600, 3600]) AS BIGINT) AS w_s
    ), counts AS (
        SELECT ws.w_s, a.event_id,
               CAST(COUNT(*) AS BIGINT) AS in_window
        FROM ev a CROSS JOIN ws
        JOIN ev b ON b.t >= a.t
               AND b.t < a.t + ws.w_s * 1000000
        GROUP BY 1, 2
    ), env AS (
        SELECT w_s, CAST(MAX(in_window) AS BIGINT) AS envelope
        FROM counts GROUP BY w_s
    ), rate AS (
        SELECT COUNT(*) * 1.0
               / ((MAX(t) - MIN(t)) / 1000000.0) AS r
        FROM ev
    )
    SELECT env.w_s AS window_seconds, env.envelope,
           ROUND(rate.r * env.w_s, 4) AS mean_rate_times_w,
           ROUND(env.envelope - rate.r * env.w_s, 4)
               AS burst_allowance
    FROM env, rate
    """,
)
def arrival_curve_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Network-calculus arrival curve of the event stream: the
    empirical envelope alpha(w) = max events in ANY window of length
    w (60 s / 600 s / 3600 s, anchored at arrivals — which suffices
    for exact left-continuous envelopes), against the mean-rate line
    r*w; the gap is the burst allowance a (sigma, rho) shaper must
    grant. THE deterministic-QoS object: where `token_bucket_
    conformance` replayed ONE shaper, the envelope characterizes
    every shaper this stream can conform to (sigma >= burst
    allowance at each w), and feeds delay bounds via max(alpha(w) -
    C w).

    Determinism: exact microsecond arrivals; exact window counts;
    rounding on the rate line only.

    Scale shape: a per-arrival forward range join per window size
    (bounded by window occupancy, the honest envelope cost; the
    streaming form is DGIM-style bucket maintenance), then one max
    per w.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"), "event_id"
    ).transform(_ckpt)
    ws = spark.createDataFrame([(60,), (600,), (3600,)], "w_s long")
    a = base.select(F.col("t").alias("ta"), "event_id")
    b = base.select(F.col("t").alias("tb"))
    counts = (
        a.crossJoin(F.broadcast(ws))
        .join(
            b,
            (F.col("tb") >= F.col("ta"))
            & (F.col("tb") < F.col("ta") + F.col("w_s") * 1000000),
        )
        .groupBy("w_s", "event_id")
        .agg(F.count(F.lit(1)).cast("long").alias("in_window"))
    )
    env = counts.groupBy("w_s").agg(
        F.max("in_window").cast("long").alias("envelope")
    )
    rate = base.agg(
        (
            F.count(F.lit(1))
            * 1.0
            / ((F.max("t") - F.min("t")) / 1000000.0)
        ).alias("r")
    )
    return env.crossJoin(F.broadcast(rate)).select(
        F.col("w_s").alias("window_seconds"),
        "envelope",
        F.round(F.col("r") * F.col("w_s"), 4).alias("mean_rate_times_w"),
        F.round(F.col("envelope") - F.col("r") * F.col("w_s"), 4).alias(
            "burst_allowance"
        ),
    )


@query(
    "cover_universal_portfolio",
    oracle="""
    WITH daily AS (
        SELECT c.c_nationkey AS nk,
               CAST(date_trunc('month', o.o_orderdate) AS DATE) AS day,
               CAST(ROUND(SUM(o.o_totalprice) * 100) AS BIGINT) AS v
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE c.c_nationkey IN (0, 1)
        GROUP BY 1, 2
    ), wide AS (
        SELECT day,
               MAX(CASE WHEN nk = 0 THEN v END) AS v0,
               MAX(CASE WHEN nk = 1 THEN v END) AS v1
        FROM daily GROUP BY day
        HAVING MAX(CASE WHEN nk = 0 THEN v END) IS NOT NULL
           AND MAX(CASE WHEN nk = 1 THEN v END) IS NOT NULL
    ), rets AS (
        SELECT v0 * 1.0 / LAG(v0) OVER (ORDER BY day) AS r0,
               v1 * 1.0 / LAG(v1) OVER (ORDER BY day) AS r1,
               LAG(v0) OVER (ORDER BY day) AS guard
        FROM wide
    ), clean AS (
        SELECT r0, r1 FROM rets WHERE guard IS NOT NULL
    ), grid AS (
        SELECT g.b / 10.0 AS b
        FROM (SELECT unnest(generate_series(0, 10)) AS g) s(b),
             LATERAL (SELECT s.b AS b) g
    ), crp AS (
        SELECT grid.b,
               EXP(SUM(LN(grid.b * clean.r0
                          + (1.0 - grid.b) * clean.r1))) AS wealth
        FROM clean CROSS JOIN grid
        GROUP BY grid.b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_portfolios,
           ROUND(LN(MAX(wealth)), 6) AS best_crp_log_wealth,
           ROUND(LN(AVG(wealth)), 6) AS universal_log_wealth,
           ROUND(AVG(wealth) / MAX(wealth), 6) AS universal_ratio
    FROM crp
    """,
)
def cover_universal_portfolio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cover's universal portfolio over two nation 'assets' (daily
    revenue relatives of nations 0 and 1): the wealth of every
    constant-rebalanced portfolio on an 11-point mix grid, the BEST
    CRP in hindsight, and the UNIVERSAL portfolio's wealth (the
    uniform average over the grid — Cover's integral discretized).
    The defining certificate is structural: average >= max / n_grid,
    so universal_ratio >= 1/11 with NO distributional assumption —
    the no-regret guarantee that made universal portfolios the
    founding result of online portfolio selection
    (`kelly_growth_ladder` optimizes knowing p; Cover competes with
    the best CRP WITHOUT knowing anything).

    Determinism: exact cent relatives; identical log-sum-exp wealth
    products; rounding at output.

    Scale shape: one day agg, a LAG, an 11-point grid cross with one
    grouped product — wealth paths never materialize.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    daily = (
        o.join(
            F.broadcast(
                c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
            ),
            "o_custkey",
        )
        .filter(F.col("c_nationkey").isin(0, 1))
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("day"),
        )
        .agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("v"))
    )
    wide = (
        daily.groupBy("day")
        .agg(
            F.max(F.when(F.col("nk") == 0, F.col("v"))).alias("v0"),
            F.max(F.when(F.col("nk") == 1, F.col("v"))).alias("v1"),
        )
        .filter(F.col("v0").isNotNull() & F.col("v1").isNotNull())
    )
    w = Window.orderBy("day")
    rets = wide.select(
        (F.col("v0") * 1.0 / F.lag("v0").over(w)).alias("r0"),
        (F.col("v1") * 1.0 / F.lag("v1").over(w)).alias("r1"),
        F.lag("v0").over(w).alias("guard"),
    ).filter(F.col("guard").isNotNull())
    grid = spark.range(0, 11).select((F.col("id") / 10.0).alias("b"))
    crp = (
        rets.crossJoin(F.broadcast(grid))
        .groupBy("b")
        .agg(
            F.exp(
                F.sum(
                    F.log(
                        F.col("b") * F.col("r0")
                        + (1.0 - F.col("b")) * F.col("r1")
                    )
                )
            ).alias("wealth")
        )
    )
    return crp.agg(
        F.count(F.lit(1)).cast("long").alias("n_portfolios"),
        F.round(F.log(F.max("wealth")), 6).alias("best_crp_log_wealth"),
        F.round(F.log(F.avg("wealth")), 6).alias("universal_log_wealth"),
        F.round(F.avg("wealth") / F.max("wealth"), 6).alias(
            "universal_ratio"
        ),
    )


@query(
    "evpi_decision_value",
    oracle="""
    WITH mon AS (
        SELECT c.c_mktsegment AS seg,
               CAST(date_trunc('month', o.o_orderdate) AS DATE) AS m,
               CAST(ROUND(SUM(o.o_totalprice) * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2
    ), complete AS (
        SELECT m FROM mon GROUP BY m HAVING COUNT(*) = 5
    ), filtered AS (
        SELECT mon.* FROM mon JOIN complete USING (m)
    ), e_max AS (
        -- expected value WITH perfect information: pick the best
        -- segment each month
        SELECT AVG(best) AS v FROM (
            SELECT m, MAX(cents) AS best FROM filtered GROUP BY m) t
    ), max_e AS (
        -- best fixed choice under uncertainty
        SELECT MAX(avg_c) AS v FROM (
            SELECT seg, AVG(cents) AS avg_c FROM filtered
            GROUP BY seg) t
    )
    SELECT CAST((SELECT COUNT(*) FROM complete) AS BIGINT) AS n_months,
           ROUND(e_max.v, 2) AS expected_with_perfect_info,
           ROUND(max_e.v, 2) AS best_fixed_choice,
           ROUND(e_max.v - max_e.v, 2) AS evpi_cents,
           CAST(ROUND(1000000 * (e_max.v - max_e.v) / max_e.v)
                AS BIGINT) AS evpi_ppm
    FROM e_max, max_e
    """,
)
def evpi_decision_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected value of perfect information for the monthly
    pick-a-segment decision: E[max over segments] (choose knowing the
    month's outcome) minus max over segments of E[...] (the best
    FIXED policy) — EVPI, the ceiling on what ANY forecast,
    experiment, or analyst is worth for this decision, nonnegative
    by Jensen (pinned). The decision-theoretic capstone over the
    measurement stack: `experiment_mde_calculator` prices detecting
    a difference; EVPI prices ACTING on one.

    Determinism: exact cent month x segment cells (complete months
    only); identical mean/max trees; rounding at output.

    Scale shape: one month x segment agg, two tiny reductions.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    mon = (
        o.join(
            F.broadcast(
                c.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
            ),
            "o_custkey",
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("m"),
        )
        .agg(F.round(F.sum("o_totalprice") * 100).cast("long").alias("cents"))
    )
    complete = mon.groupBy("m").agg(F.count(F.lit(1)).alias("k")).filter(
        F.col("k") == 5
    ).select("m")
    filtered = mon.join(F.broadcast(complete), "m")
    filtered = filtered.transform(_ckpt)
    e_max = (
        filtered.groupBy("m")
        .agg(F.max("cents").alias("best"))
        .agg(F.avg("best").alias("v1"))
    )
    max_e = (
        filtered.groupBy("seg")
        .agg(F.avg("cents").alias("avg_c"))
        .agg(F.max("avg_c").alias("v2"))
    )
    nm = complete.agg(F.count(F.lit(1)).cast("long").alias("n_months"))
    return (
        nm.crossJoin(F.broadcast(e_max))
        .crossJoin(F.broadcast(max_e))
        .select(
            "n_months",
            F.round("v1", 2).alias("expected_with_perfect_info"),
            F.round("v2", 2).alias("best_fixed_choice"),
            F.round(F.col("v1") - F.col("v2"), 2).alias("evpi_cents"),
            F.round(
                1000000 * (F.col("v1") - F.col("v2")) / F.col("v2")
            )
            .cast("long")
            .alias("evpi_ppm"),
        )
    )


@query("line_breaking_dp")
def line_breaking_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal line breaking (Knuth-Plass, squared-slack badness) for
    sampled documents at width 40: the DP min over break points of
    sum (W - line_len)^2 (last line free) versus GREEDY first-fit
    breaking — the TeX-vs-everyone comparison, with the defining
    certificate IN-ROW: dp_badness <= greedy_badness on every doc
    (optimality of the DP, pinned). Text layout as dynamic
    programming, the same M(i) = min over j < i structure as
    `weighted_interval_scheduling` on a different cost.

    Determinism: exact token lengths from whitespace split; fixed
    width; DP ties break toward earlier breaks.

    Scale shape: per-doc independent DP, one applyInPandas GROUP PER
    DOC (grouped by doc_id — never a constant key funnelling the
    sample through one task); O(n * max_line_tokens) per doc; the
    greedy runs in the same pass for the certificate. Over-long
    words (longer than the width) are charged ZERO badness on BOTH
    sides — an unavoidable over-long line is not a layout choice —
    so the dp <= greedy certificate compares like with like.
    """
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    d = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select("doc_id", F.substring(F.trim("text"), 1, 300).alias("t"))
        .filter(F.length("t") >= 20)
    )

    def breaklines(pdf: pd.DataFrame) -> pd.DataFrame:
        W = 40
        rows = []
        for row in pdf.itertuples(index=False):
            words = [w for w in row.t.split() if w]
            lens = [len(w) for w in words]
            n = len(lens)
            if n == 0:
                continue

            def line_len(i, j):
                # words i..j-1 on one line with single spaces
                return sum(lens[i:j]) + (j - i - 1)

            INF = float("inf")
            # dp[i]: min badness for words[i:], last line free
            dp = [INF] * (n + 1)
            dp[n] = 0.0
            nlines = [0] * (n + 1)
            for i in range(n - 1, -1, -1):
                j = i + 1
                while j <= n and line_len(i, j) <= W:
                    slack = W - line_len(i, j)
                    bad = 0.0 if j == n else float(slack * slack)
                    if dp[j] + bad < dp[i]:
                        dp[i] = dp[j] + bad
                        nlines[i] = nlines[j] + 1
                    j += 1
                if dp[i] == INF:  # an over-long word gets its own line
                    dp[i] = dp[i + 1]
                    nlines[i] = nlines[i + 1] + 1
            # greedy first-fit
            gb, i = 0.0, 0
            glines = 0
            while i < n:
                j = i + 1
                while j < n and line_len(i, j + 1) <= W:
                    j += 1
                if j < n:
                    slack = W - line_len(i, j)
                    # same over-long convention as the DP: an
                    # unavoidable over-width single-word line costs 0
                    gb += float(slack * slack) if slack >= 0 else 0.0
                glines += 1
                i = j
            rows.append(
                {
                    "doc_id": int(row.doc_id),
                    "n_words": n,
                    "dp_badness": int(dp[0]),
                    "greedy_badness": int(gb),
                    "dp_lines": nlines[0],
                    "greedy_lines": glines,
                }
            )
        return pd.DataFrame(rows)

    return d.groupBy("doc_id").applyInPandas(
        breaklines,
        schema=(
            "doc_id long, n_words long, dp_badness long, "
            "greedy_badness long, dp_lines long, greedy_lines long"
        ),
    )


@query(
    "hot_hand_conditional",
    oracle="""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(ROUND(SUM(value) * 100) AS BIGINT) AS x
        FROM events GROUP BY 1
    ), s AS (
        SELECT CASE WHEN x > LAG(x) OVER (ORDER BY day)
               THEN 1 ELSE 0 END AS up,
               LAG(x) OVER (ORDER BY day) AS guard,
               day
        FROM d
    ), seq AS (
        SELECT up,
               LAG(up, 1) OVER (ORDER BY day) AS u1,
               LAG(up, 2) OVER (ORDER BY day) AS u2
        FROM s WHERE guard IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(up) AS BIGINT) AS n_up,
           CAST((1000000 * SUM(up)) // COUNT(*) AS BIGINT)
               AS p_up_ppm,
           CAST(SUM(CASE WHEN u1 = 1 AND u2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_after_2up,
           CAST(CASE WHEN SUM(CASE WHEN u1 = 1 AND u2 = 1
                          THEN 1 ELSE 0 END) > 0
                THEN (1000000 * SUM(CASE WHEN u1 = 1 AND u2 = 1
                                    AND up = 1 THEN 1 ELSE 0 END))
                     // SUM(CASE WHEN u1 = 1 AND u2 = 1
                            THEN 1 ELSE 0 END)
                ELSE NULL END AS BIGINT) AS p_up_after_2up_ppm
    FROM seq
    """,
)
def hot_hand_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-hand conditional test on daily revenue direction: P(up)
    overall versus P(up | the previous two days were up) — the
    streak-conditioning comparison at the center of the hot-hand
    debate, including Miller-Sanjurjo's caution that the CONDITIONAL
    estimator is downward-biased in short sequences even under
    independence (so a small gap is expected, not evidence). The
    conditional-probability cousin of `runs_test_daily_value` (which
    tests streakiness globally) and `markov_next_event_hit_rate`
    (one-step memory).

    Determinism: exact cent comparisons; integer conditional counts;
    ppm floor division.

    Scale shape: two LAG windows and one agg.
    """
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value") * 100).cast("long").alias("x")
    )
    w = Window.orderBy("day")
    s = d.select(
        "day",
        F.when(F.col("x") > F.lag("x").over(w), 1).otherwise(0).alias("up"),
        F.lag("x").over(w).alias("guard"),
    ).filter(F.col("guard").isNotNull())
    seq = s.select(
        "up",
        F.lag("up", 1).over(Window.orderBy("day")).alias("u1"),
        F.lag("up", 2).over(Window.orderBy("day")).alias("u2"),
    )
    after2 = (F.col("u1") == 1) & (F.col("u2") == 1)
    return seq.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("up").cast("long").alias("n_up"),
        F.expr("(1000000 * SUM(up)) DIV COUNT(*)")
        .cast("long")
        .alias("p_up_ppm"),
        F.sum(F.when(after2, 1).otherwise(0))
        .cast("long")
        .alias("n_after_2up"),
        F.when(
            F.sum(F.when(after2, 1).otherwise(0)) > 0,
            F.expr(
                "(1000000 * SUM(CASE WHEN u1 = 1 AND u2 = 1 AND up = 1"
                " THEN 1 ELSE 0 END))"
            )
            / F.sum(F.when(after2, 1).otherwise(0)),
        )
        .otherwise(F.lit(None))
        .cast("long")
        .alias("p_up_after_2up_ppm"),
    )
