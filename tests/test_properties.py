"""Property-based operator-algebra invariants (hypothesis) — SURVEY §5
item 4: laws that must hold for ANY input, checked on small generated
frames. Example counts are kept low because every example is a Spark
job; the laws themselves are scale-independent.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows = st.lists(
    st.tuples(st.integers(0, 20), st.integers(-1000, 1000)),
    min_size=0,
    max_size=40,
)


def _df(spark, data):
    return spark.createDataFrame(data or [(0, 0)], "k int, v int").limit(
        len(data)
    )


@given(data=rows)
@settings(**SETTINGS)
def test_topk_equals_sort_limit(spark, data):
    df = _df(spark, data)
    k = 5
    a = df.orderBy(F.desc("v"), F.asc("k")).limit(k).collect()
    b = sorted(data, key=lambda t: (-t[1], t[0]))[:k]
    assert [(r.k, r.v) for r in a] == b


@given(data=rows, data2=rows)
@settings(**SETTINGS)
def test_union_all_preserves_multiset(spark, data, data2):
    from pyspark_movie_recommender_spark.operators.relational import union_all

    u = union_all(_df(spark, data), _df(spark, data2))
    assert u.count() == len(data) + len(data2)


@given(data=rows, data2=rows)
@settings(**SETTINGS)
def test_semi_plus_anti_partition_left(spark, data, data2):
    left, right = _df(spark, data), _df(spark, data2)
    semi = left.join(right, "k", "left_semi")
    anti = left.join(right, "k", "left_anti")
    assert semi.count() + anti.count() == left.count()
    # and they are disjoint on k
    assert (
        semi.select("k").intersect(anti.select("k")).count() == 0
    )


@given(data=rows)
@settings(**SETTINGS)
def test_dedup_is_idempotent_and_matches_distinct_count(spark, data):
    df = _df(spark, data)
    once = df.dropDuplicates(["k"])
    twice = once.dropDuplicates(["k"])
    n_distinct = len({k for k, _ in data})
    assert once.count() == twice.count() == n_distinct


@given(data=rows, data2=rows)
@settings(**SETTINGS)
def test_salted_join_equals_plain_join(spark, data, data2):
    from pyspark_movie_recommender_spark.operators.relational import salted_join

    left, right = _df(spark, data), _df(
        spark, [(k, v) for k, v in data2]
    ).withColumnRenamed("v", "w")
    plain = sorted(
        (r.k, r.v, r.w) for r in left.join(right, "k").collect()
    )
    salted = sorted(
        (r.k, r.v, r.w) for r in salted_join(left, right, "k", salt_buckets=4).collect()
    )
    assert plain == salted


docs_strategy = st.lists(
    st.text(alphabet="ab cd", min_size=0, max_size=30),
    min_size=0,
    max_size=12,
)


@given(texts=docs_strategy)
@settings(**SETTINGS)
def test_prefix_filter_jaccard_equals_bruteforce(spark, texts):
    """The prefix filter must be LOSSLESS pruning: its result set equals
    the brute-force all-pairs word-set Jaccard for any corpus."""
    from pyspark_movie_recommender_spark.operators.dedup import (
        prefix_filtered_jaccard_pairs,
    )

    data = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(
        data or [(0, "x")], "doc_id long, text string"
    ).limit(len(data))
    got = {
        (r.id_a, r.id_b, r.inter, r.n_a, r.n_b)
        for r in prefix_filtered_jaccard_pairs(df).collect()
    }
    sets = {i: set(t.split()) for i, t in data}
    want = set()
    for i in sets:
        for j in sets:
            if i < j and sets[i] and sets[j]:
                inter = len(sets[i] & sets[j])
                if 170 * inter >= 70 * (len(sets[i]) + len(sets[j])):
                    want.add((i, j, inter, len(sets[i]), len(sets[j])))
    assert got == want


@given(
    pairs=st.lists(
        st.tuples(
            st.text(alphabet="abcde ", min_size=0, max_size=12),
            st.text(alphabet="abcde ", min_size=0, max_size=12),
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(**SETTINGS)
def test_jaro_winkler_udf_matches_duckdb_on_random_strings(spark, pairs):
    """The pandas-UDF Jaro-Winkler must agree with DuckDB's native
    implementation on arbitrary strings, not just the part-name corpus."""
    import duckdb

    from pyspark_movie_recommender_spark.operators.udf_surface import jaro_winkler

    df = spark.createDataFrame(pairs, "s1 string, s2 string")
    got = [
        r.jw
        for r in df.select(jaro_winkler("s1", "s2").alias("jw"))
        .collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            "SELECT jaro_winkler_similarity(?, ?)", [a, b]
        ).fetchone()[0]
        for a, b in pairs
    ]
    for g, w in zip(got, want):
        assert abs(g - w) < 1e-12


@given(
    events=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10000)),  # (user, offset_s)
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_session_window_equals_gaps_and_islands(spark, events):
    """The native session_window aggregation must agree with the classic
    lag+cumsum islands algorithm for ANY event stream: same session
    count per user and same (start, n_events) multiset, 30-min gap."""
    from pyspark.sql.window import Window as W

    df = spark.createDataFrame(
        [(u, o) for u, o in events], "user_id int, off int"
    ).select(
        "user_id",
        (F.lit("2020-01-01 00:00:00").cast("timestamp") + F.col("off").cast(
            "string"
        ).cast("interval second")).alias("ts"),
    )
    native = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("session_window.start").alias("s"), "n")
        .collect()
    )
    w = W.partitionBy("user_id").orderBy("ts")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    islands = (
        df.withColumn(
            "new_s",
            F.when(
                (us - F.lag(us).over(w) > 1800 * 1_000_000)
                | F.lag("ts").over(w).isNull(),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("s"), F.count(F.lit(1)).alias("n"))
        .select("user_id", "s", "n")
        .collect()
    )
    assert sorted((r.user_id, r.s, r.n) for r in native) == sorted(
        (r.user_id, r.s, r.n) for r in islands
    )


@given(
    events=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 5000)),  # (user, start_s)
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_interval_coverage_laws(spark, events):
    """Interval-union laws for ANY point set: per user,
    1 <= islands <= n_events; total coverage between one interval's
    width and n_events * width; coverage == python reference union."""
    from pyspark.sql.window import Window as W

    width = 300
    df = spark.createDataFrame(
        [(u, s, i) for i, (u, s) in enumerate(events)],
        "user_id int, s_us long, event_id int",
    ).withColumn("e_us", F.col("s_us") + width)
    w = W.partitionBy("user_id").orderBy("s_us", "event_id")
    prev_max = F.max("e_us").over(w.rowsBetween(W.unboundedPreceding, -1))
    flagged = df.withColumn(
        "ni", F.when(prev_max.isNull() | (F.col("s_us") > prev_max), 1).otherwise(0)
    )
    islands = flagged.withColumn(
        "island", F.sum("ni").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    per = (
        islands.groupBy("user_id", "island")
        .agg((F.max("e_us") - F.min("s_us")).alias("cov"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_islands"), F.sum("cov").alias("covered"))
        .collect()
    )
    # python reference: exact union length per user
    import collections

    by_user = collections.defaultdict(list)
    for u, s in events:
        by_user[u].append((s, s + width))
    for r in per:
        ivs = sorted(by_user[r.user_id])
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1] = (merged[-1][0], max(merged[-1][1], e))
            else:
                merged.append((s, e))
        assert r.n_islands == len(merged)
        assert r.covered == sum(e - s for s, e in merged)
        assert 1 <= r.n_islands <= len(ivs)


@given(
    counts=st.lists(st.integers(1, 10_000), min_size=1, max_size=12),
    budget=st.integers(1, 5_000),
)
@settings(**SETTINGS)
def test_largest_remainder_allocation_laws(spark, counts, budget):
    """Largest-remainder allocation for ANY weights: allocations sum
    EXACTLY to the budget, and each differs from the exact quota by
    less than 1 (the classic quota property)."""
    from pyspark.sql.window import Window as W

    df = spark.createDataFrame(
        [(f"s{i:02d}", int(c)) for i, c in enumerate(counts)],
        "source string, n long",
    )
    wall = W.partitionBy()
    shares = df.select(
        "source",
        "n",
        F.expr(f"({budget} * n) div SUM(n) OVER ()").alias("base"),
        (F.lit(budget) * F.col("n") % F.sum("n").over(wall)).alias("rem"),
        F.sum("n").over(wall).alias("tot"),
    )
    ranked = shares.select(
        "source",
        "n",
        "base",
        "tot",
        F.row_number().over(W.orderBy(F.col("rem").desc(), "source")).alias("rnk"),
        (F.lit(budget) - F.sum("base").over(wall)).alias("deficit"),
    )
    rows = ranked.select(
        "source",
        "n",
        "tot",
        (
            F.col("base") + F.when(F.col("rnk") <= F.col("deficit"), 1).otherwise(0)
        ).alias("alloc"),
    ).collect()
    total = sum(r.alloc for r in rows)
    assert total == budget
    for r in rows:
        quota = budget * r.n / r.tot
        assert quota - 1 < r.alloc < quota + 1


# --- wave 50s-90s operator laws --------------------------------------------

asof_events = st.lists(
    st.tuples(
        st.integers(0, 3),          # key
        st.integers(0, 1000),       # time
        st.booleans(),              # is_right (view side)
    ),
    min_size=1,
    max_size=30,
)


@given(events=asof_events)
@settings(**SETTINGS)
def test_asof_nearest_equals_bruteforce(spark, events):
    """asof_nearest == the naive per-row nearest scan for any input,
    including ties (tie → preceding by the <=/>= convention)."""
    from pyspark_movie_recommender_spark.operators.asof import asof_nearest

    lefts = [
        (i, k, t) for i, (k, t, r) in enumerate(events) if not r
    ]
    rights = [(k, t) for (k, t, r) in events if r]
    if not lefts:
        lefts = [(999, 0, 0)]
    left = spark.createDataFrame(lefts, "id long, k long, t long")
    right = spark.createDataFrame(rights or [(98, -10**9)], "k long, t long")
    if not rights:
        right = right.limit(0)
    got = {
        r.id: (r.nearest_dir, r.gap)
        for r in asof_nearest(left, right, on="t", key="k").collect()
    }
    for (i, k, t) in lefts:
        prevs = [rt for (rk, rt) in rights if rk == k and rt <= t]
        nexts = [rt for (rk, rt) in rights if rk == k and rt >= t]
        if not prevs and not nexts:
            want = ("none", None)
        elif not nexts:
            want = ("prev", t - max(prevs))
        elif not prevs:
            want = ("next", min(nexts) - t)
        else:
            b, f = t - max(prevs), min(nexts) - t
            want = ("prev", b) if b <= f else ("next", f)
        assert got[i] == want, (i, got[i], want)


@given(
    xs=st.lists(st.integers(-1000, 1000), min_size=2, max_size=20),
    shift=st.integers(-500, 500),
)
@settings(**SETTINGS)
def test_mean_cleared_devs_laws(spark, xs, shift):
    """Σd = 0 exactly, and devs are invariant to constant shifts of the
    series (the property that makes the ACF/CUSUM family exact)."""
    from pyspark_movie_recommender_spark.operators.timeseries import (
        mean_cleared_devs,
    )

    daily = spark.createDataFrame(
        [(i, x) for i, x in enumerate(xs)], "day long, x long"
    )
    devs = {r.day: int(r.d) for r in mean_cleared_devs(daily).collect()}
    assert sum(devs.values()) == 0
    shifted = spark.createDataFrame(
        [(i, x + shift) for i, x in enumerate(xs)], "day long, x long"
    )
    devs2 = {r.day: int(r.d) for r in mean_cleared_devs(shifted).collect()}
    assert devs == devs2


@given(
    ranks_a=st.lists(st.integers(0, 30), min_size=0, max_size=10, unique=True),
    ranks_b=st.lists(st.integers(0, 30), min_size=0, max_size=10, unique=True),
)
@settings(**SETTINGS)
def test_rrf_fuse_matches_formula(spark, ranks_a, ranks_b):
    """rrf(id) == Σ present-list 1/(k+rank) for every id, any overlap."""
    from pyspark_movie_recommender_spark.operators.rank import rrf_fuse

    la = [(i, r + 1) for i, r in enumerate(ranks_a)]
    lb = [(i + 5, r + 1) for i, r in enumerate(ranks_b)]  # partial overlap
    if not la and not lb:
        la = [(0, 1)]
    a = spark.createDataFrame(la or [(0, 1)], "doc_id long, rank long")
    if not la:
        a = a.limit(0)
    b = spark.createDataFrame(lb or [(0, 1)], "doc_id long, rank long")
    if not lb:
        b = b.limit(0)
    got = {r.doc_id: r.rrf for r in rrf_fuse([a, b]).collect()}
    da, db = dict(la), dict(lb)
    for i in set(da) | set(db):
        want = (1.0 / (60 + da[i]) if i in da else 0.0) + (
            1.0 / (60 + db[i]) if i in db else 0.0
        )
        assert abs(got[i] - want) < 1e-12, (i, got[i], want)
