"""Unit tests for the operator library on small controlled frames.

These cover behaviour the DuckDB oracle can't: planted-duplicate recall
for probabilistic dedup, as-of direction semantics, LSH candidate
recall vs exact, relational helper invariants.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from pyspark_movie_recommender_spark.operators import relational as R
from pyspark_movie_recommender_spark.operators.asof import asof_join, merge_asof_pandas
from pyspark_movie_recommender_spark.operators.dedup import (
    blocked_levenshtein_pairs,
    content_hash_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from pyspark_movie_recommender_spark.operators.similarity import (
    cosine_topk_bruteforce,
    lsh_neardup_pairs,
)


def ts(s):
    return datetime.fromisoformat(s)


# ---------------------------------------------------------------------------
# relational invariants
# ---------------------------------------------------------------------------


def test_top_k_per_group_equals_sort_limit(spark):
    df = spark.createDataFrame(
        [(g, i, float((i * 37) % 11)) for g in range(4) for i in range(20)],
        "g int, i int, v double",
    )
    got = R.top_k_per_group(df, ["g"], [F.desc("v"), F.asc("i")], k=3)
    for g in range(4):
        expect = [
            (r.i, r.v)
            for r in df.filter(F.col("g") == g)
            .orderBy(F.desc("v"), F.asc("i"))
            .limit(3)
            .collect()
        ]
        gots = [
            (r.i, r.v)
            for r in got.filter(F.col("g") == g).orderBy("rnk").collect()
        ]
        assert gots == expect


def test_minmax_rescale_bounds_and_constant(spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "id int, v double")
    out = R.minmax_rescale(df, "v").select("scaled").collect()
    vals = sorted(r.scaled for r in out)
    assert vals[0] == 1.0 and vals[-1] == 5.0
    # constant column → everything maps to lo, no division by zero
    const = spark.createDataFrame([(1, 2.0), (2, 2.0)], "id int, v double")
    cv = [r.scaled for r in R.minmax_rescale(const, "v").collect()]
    assert cv == [1.0, 1.0]


def test_rmse_exact(spark):
    df = spark.createDataFrame([(1.0, 2.0), (3.0, 5.0)], "a double, p double")
    got = R.rmse(df, "a", "p").collect()[0]["rmse"]
    assert abs(got - ((1 + 4) / 2) ** 0.5) < 1e-12


# ---------------------------------------------------------------------------
# dedup: planted duplicates must be found
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = []
    for i in range(40):
        rows.append((i, f"{base} variant {i} " + "filler word soup " * (i % 5 + 1)))
    # planted exact dup (whitespace/case variant) and near dup
    rows.append((100, rows[0][1].upper() + "  "))
    rows.append((101, rows[1][1] + " tail"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_content_hash_dedup_collapses_case_space(spark, docs_with_dups):
    out = content_hash_dedup(docs_with_dups, "text", "doc_id")
    ids = {r.doc_id for r in out.select("doc_id").collect()}
    assert 100 not in ids  # case/space variant of doc 0 removed
    assert 0 in ids and 101 in ids  # near-dup with extra tail survives exact dedup


def test_ngram_jaccard_finds_near_dup(spark, docs_with_dups):
    pairs = ngram_jaccard_pairs(docs_with_dups, "text", "doc_id", n=3, threshold=0.8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 101) in got


def test_minhash_lsh_recalls_planted_pair(spark, docs_with_dups):
    pairs = minhash_lsh_pairs(
        docs_with_dups, "text", "doc_id", n=3, num_hashes=32, bands=16,
        verify_threshold=0.5,
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 101) in got


def test_simhash_finds_planted_pair(spark, docs_with_dups):
    pairs = simhash_neardup_pairs(docs_with_dups, "text", "doc_id", max_hamming=16)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 101) in got


def test_ngram_jaccard_df_cap_kills_hot_shingle_blowup(spark):
    # 12 docs whose ONLY overlap is a boilerplate footer: uncapped, the
    # footer's shingles put every pair in one bucket (C(12,2) candidates);
    # with a df cap the footer shingles drop and no pair survives.
    rows = [(i, chr(65 + i) * 8 + " COMMON BOILERPLATE FOOTER") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.01)
    assert uncapped.count() == 66  # every pair met via the hot shingles
    capped = ngram_jaccard_pairs(
        df, "text", "doc_id", n=3, threshold=0.01, max_shingle_df=8
    )
    assert capped.count() == 0  # bounded candidates: hot shingles filtered


def test_levenshtein_blocking_recovers_bucket_boundary_pair(spark):
    rows = [
        (1, "en", 49, "x" * 49),
        (2, "en", 51, "x" * 51),  # lengths straddle the 50-char bucket edge
        (3, "de", 51, "x" * 51),  # other lang: blocked out
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars int, text string")
    got = {(r.left_id, r.right_id) for r in blocked_levenshtein_pairs(df).collect()}
    assert (1, 2) in got  # plain same-bucket blocking silently misses this
    assert all(3 not in p for p in got)


# ---------------------------------------------------------------------------
# similarity: LSH recall vs exact brute force
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def embeddings_clustered(spark):
    import random

    rng = random.Random(7)
    rows = []
    centers = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(3)]
    for i in range(90):
        c = centers[i % 3]
        rows.append((i, [x + rng.gauss(0, 0.05) for x in c], i % 3))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")


def test_cosine_topk_neighbors_share_cluster(spark, embeddings_clustered):
    probes = embeddings_clustered.filter(F.col("vec_id") < 3)
    out = cosine_topk_bruteforce(embeddings_clustered, probes, k=5).collect()
    assert len(out) == 15
    for r in out:
        # same cluster iff same id mod 3
        assert r.probe_id % 3 == r.neighbor_id % 3


def test_lsh_pairs_high_recall_on_clusters(spark, embeddings_clustered):
    exact = {
        (r.id_a, r.id_b)
        for r in embeddings_clustered.alias("a")
        .crossJoin(embeddings_clustered.alias("b"))
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .filter(F.col("a.label") == F.col("b.label"))
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in lsh_neardup_pairs(
            embeddings_clustered, dim=16, bits=16, bands=8, cos_threshold=0.9
        ).collect()
    }
    # tight clusters at cos>=0.9 → recall should be essentially total
    recall = len(got & exact) / len(exact)
    assert recall > 0.95
    assert not (got - exact)  # verify step kills false positives


# ---------------------------------------------------------------------------
# as-of join semantics
# ---------------------------------------------------------------------------


def test_asof_backward_and_forward(spark):
    quotes = spark.createDataFrame(
        [("k", ts("2024-01-01T00:00:00"), 1.0), ("k", ts("2024-01-01T00:10:00"), 2.0)],
        "key string, t timestamp, px double",
    )
    trades = spark.createDataFrame(
        [
            ("k", ts("2024-01-01T00:05:00"), 10),
            ("k", ts("2024-01-01T00:10:00"), 20),  # exact tie → match
            ("k", ts("2023-12-31T23:00:00"), 30),  # before all quotes
        ],
        "key string, t timestamp, qty int",
    )
    back = {
        r.qty: r.asof_px
        for r in asof_join(trades, quotes, on="t", key="key", value_cols=["px"]).collect()
    }
    assert back == {10: 1.0, 20: 2.0, 30: None}

    fwd = {
        r.qty: r.asof_px
        for r in asof_join(
            trades, quotes, on="t", key="key", value_cols=["px"], direction="forward"
        ).collect()
    }
    assert fwd == {10: 2.0, 20: 2.0, 30: 1.0}


def test_merge_asof_pandas_matches_window_form(spark):
    quotes = spark.createDataFrame(
        [("k", ts("2024-01-01T00:00:00"), 1.0), ("k", ts("2024-01-01T00:10:00"), 2.0)],
        "key string, t timestamp, px double",
    )
    trades = spark.createDataFrame(
        [("k", ts("2024-01-01T00:05:00"), 10), ("k", ts("2024-01-01T00:12:00"), 20)],
        "key string, t timestamp, qty int",
    )
    a = {
        (r.qty, r.asof_px)
        for r in asof_join(trades, quotes, on="t", key="key", value_cols=["px"]).collect()
    }
    b = {
        (r.qty, r.asof_px)
        for r in merge_asof_pandas(trades, quotes, on="t", key="key").collect()
    }
    assert a == b


def test_winnowing_udf_equals_sql_form(spark):
    from pyspark_movie_recommender_spark.operators.text import (
        winnowing_fingerprints,
        winnowing_fingerprints_sql,
    )

    from pyspark_movie_recommender_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(40)
    both = docs.select(
        "doc_id",
        winnowing_fingerprints("text").alias("udf_fps"),
        winnowing_fingerprints_sql("text").alias("sql_fps"),
    ).collect()
    assert both and all(list(r.udf_fps) == list(r.sql_fps) for r in both)


def test_winnowing_fingerprints_properties(spark):
    from pyspark_movie_recommender_spark.operators.text import winnowing_fingerprints

    base = "the quick brown fox jumps over the lazy dog and runs far away"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # identical → identical fingerprint set
            (3, "PREFIX CHANGED! " + base),  # shares a long suffix
            (4, "completely different content with other words entirely here"),
            (5, "short"),  # < k chars → empty fingerprint set
        ],
        "doc_id int, text string",
    )
    rows = {
        r.doc_id: set(r.fps)
        for r in df.select(
            "doc_id", winnowing_fingerprints("text").alias("fps")
        ).collect()
    }
    assert rows[1] == rows[2] and rows[1]
    # winnowing robustness: an edit far from the shared region still
    # leaves most of the suffix fingerprints intact
    assert len(rows[1] & rows[3]) / len(rows[1]) > 0.5
    assert len(rows[1] & rows[4]) / len(rows[1]) < 0.3
    assert rows[5] == set()


def test_ann_lsh_pairs_nonempty_at_oracle_sf(spark, sf_oracle_dir):
    # the driver's rows-only gate wants >0 rows; band width is tuned to
    # the moderate-cos regime of the synthetic embeddings (queries.py)
    from pyspark_movie_recommender_spark import queries as Q

    assert Q.QUERIES["ann_lsh_pairs"](spark, sf_oracle_dir).count() > 0


def test_salted_join_equals_plain_join(spark):
    left = spark.createDataFrame(
        [(k, i) for i in range(50) for k in ([1] * 5 + [2])],  # key 1 hot
        "k int, v int",
    )
    right = spark.createDataFrame([(1, "a"), (3, "c")], "k int, name string")
    for how in ("inner", "left"):
        plain = {
            tuple(r) for r in left.join(right, on="k", how=how).collect()
        }
        salted = {
            tuple(r)
            for r in R.salted_join(left, right, on="k", how=how, salt_buckets=4).collect()
        }
        assert salted == plain, how


def test_connected_components_and_keepers(spark):
    from pyspark_movie_recommender_spark.operators.graph import (
        connected_components,
        dedup_keepers,
    )

    # two chains and a singleton edge: {1-2-3-4}, {10-11}, {20-21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "id_a int, id_b int"
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    df = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 99]], "doc_id int")
    keep = sorted(r.doc_id for r in dedup_keepers(df, edges, "doc_id").collect())
    assert keep == [1, 10, 20, 99]


def test_connected_components_raises_instead_of_wrong_labels(spark):
    from pyspark_movie_recommender_spark.operators.graph import connected_components

    # path graph of diameter 40 > max_rounds: must raise, never return
    # silently-unconverged labels
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a int, id_b int"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_rounds=5)


def test_star_cc_handles_long_chain_within_log_rounds(spark):
    from pyspark_movie_recommender_spark.operators.graph import (
        connected_components,
        connected_components_star,
    )

    # 61-vertex path: label propagation needs ~60 rounds; the alternating
    # large-star/small-star contraction needs O(log² n) — give it 10
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a int, id_b int"
    )
    comp = {r.id: r.component for r in connected_components_star(chain, max_rounds=10).collect()}
    assert comp == {i: 0 for i in range(61)}

    # and on the multi-cluster graph it agrees with label propagation
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "id_a int, id_b int"
    )
    star = {r.id: r.component for r in connected_components_star(edges).collect()}
    lp = {r.id: r.component for r in connected_components(edges).collect()}
    assert star == lp


def test_star_cc_reliable_checkpoint_dir(spark, tmp_path):
    from pyspark_movie_recommender_spark.operators.graph import (
        connected_components_star,
    )

    edges = spark.createDataFrame([(5, 1), (5, 9), (2, 9)], "id_a int, id_b int")
    comp = {
        r.id: r.component
        for r in connected_components_star(
            edges, checkpoint_dir=str(tmp_path / "ckpt")
        ).collect()
    }
    assert comp == {1: 1, 2: 1, 5: 1, 9: 1}


def test_hll_sketch_rollup_accuracy_and_mergeability(spark, sf_dir):
    from pyspark.sql import functions as F

    from pyspark_movie_recommender_spark import queries as Q
    from pyspark_movie_recommender_spark.sources import load_table

    est = {
        r.grain: r.approx_customers
        for r in Q.QUERIES["hll_sketch_rollup"](spark, sf_dir).collect()
    }
    orders = load_table(spark, sf_dir, "orders")
    exact = {
        r.o_orderpriority: r.n
        for r in orders.groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    exact["ALL"] = orders.select("o_custkey").distinct().count()
    assert set(est) == set(exact)
    worst = 0.0
    for grain, n in exact.items():
        # lgConfigK=12 → relative error ~1.6%; allow 5%
        worst = max(worst, abs(est[grain] - n) / max(n, 1))
        assert abs(est[grain] - n) <= max(2, 0.05 * n), (grain, est[grain], n)
    from tests.law_record import record

    record(
        "hll_rollup_max_rel_error",
        worst,
        "<= 0.05 (and union == direct sketch)",
        query="hll_sketch_rollup",
    )

    # mergeability: union of per-group sketches == sketch built directly
    direct = (
        orders.agg(F.hll_sketch_agg("o_custkey", 12).alias("sk"))
        .select(F.hll_sketch_estimate("sk").alias("e"))
        .collect()[0]
        .e
    )
    assert est["ALL"] == direct


def test_audio_window_rms_matches_numpy_reference(spark, sf_dir):
    import numpy as np

    from pyspark_movie_recommender_spark.operators.multimodal import (
        attach_fake_audio_payload,
        audio_window_rms,
    )
    from pyspark_movie_recommender_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").filter("doc_id % 50 = 0")
    got = {
        (r.doc_id, r.window_idx): (r.n_samples, r.rms)
        for r in audio_window_rms(attach_fake_audio_payload(docs)).collect()
    }
    want = {}
    for row in docs.select("doc_id", "text").collect():
        buf = row.text.encode("utf-8")
        usable = len(buf) - (len(buf) % 2)
        samples = np.frombuffer(buf[:usable], dtype="<i2").astype(np.float64)
        for w in range(0, len(samples), 256):
            chunk = samples[w : w + 256]
            want[(row.doc_id, w // 256)] = (
                len(chunk),
                round(float(np.sqrt(np.mean(chunk**2))), 4),
            )
    assert got == want


def test_observation_metrics_ride_the_query(spark, sf_dir):
    """df.observe(): pipeline health metrics accumulated DURING the
    action (no second scan) — the monitoring hook a production ingest
    attaches to every stage."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pyspark_movie_recommender_spark.sources import load_table

    obs = Observation("ingest")
    orders = load_table(spark, sf_dir, "orders")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.sum(F.col("o_totalprice")).alias("gross"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("nonpositive"),
    )
    n = observed.filter(F.col("o_orderstatus") == "F").count()
    metrics = obs.get
    assert metrics["rows_seen"] == orders.count()
    assert metrics["nonpositive"] == 0
    assert n > 0 and metrics["gross"] > 0


def test_image_resize_matches_numpy_reference(spark, sf_dir):
    import numpy as np

    from pyspark_movie_recommender_spark.operators.multimodal import (
        attach_fake_payload,
        image_resize_thumbnail,
    )
    from pyspark_movie_recommender_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").filter("doc_id % 50 = 0")
    got = {
        r.doc_id: (r.src_w, r.src_h, bytes(r.thumb), r.thumb_mean)
        for r in image_resize_thumbnail(attach_fake_payload(docs)).collect()
    }
    for row in docs.select("doc_id", "text").collect():
        buf = np.frombuffer(row.text.encode("utf-8"), dtype=np.uint8)
        n = len(row.text)
        w, h = n % 1024 + 16, n % 768 + 16
        px = np.zeros(w * h, dtype=np.uint8)
        px[: min(len(buf), w * h)] = buf[: w * h]
        img = px.reshape(h, w)
        yi = (np.arange(8) * h) // 8
        xi = (np.arange(8) * w) // 8
        thumb = img[np.ix_(yi, xi)]
        assert got[row.doc_id] == (
            w,
            h,
            thumb.tobytes(),
            round(float(thumb.mean()), 4),
        )


def test_scd2_apply_unit(spark):
    from pyspark_movie_recommender_spark.operators.scd import scd2_apply

    current = spark.createDataFrame(
        [(1, 10.0, "2024-01-01", "9999-12-31"), (2, 20.0, "2024-01-01", "9999-12-31")],
        "k int, v double, valid_from string, valid_to string",
    ).selectExpr("k", "v", "cast(valid_from as date) valid_from",
                 "cast(valid_to as date) valid_to")
    updates = spark.createDataFrame(
        [(1, 11.0, "2024-03-01")], "k int, v double, valid_from string"
    ).selectExpr("k", "v", "cast(valid_from as date) valid_from")
    out = {
        (r.k, str(r.valid_from)): (r.v, str(r.valid_to))
        for r in scd2_apply(current, updates, key="k").collect()
    }
    assert out[(1, "2024-01-01")] == (10.0, "2024-03-01")   # closed
    assert out[(1, "2024-03-01")] == (11.0, "9999-12-31")   # new open
    assert out[(2, "2024-01-01")] == (20.0, "9999-12-31")   # untouched


def test_snapshot_diff_null_safe(spark):
    from pyspark_movie_recommender_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame(
        [(1, None), (2, "x"), (3, "y")], "k int, v string"
    )
    new = spark.createDataFrame(
        [(1, None), (2, "x2"), (4, "z")], "k int, v string"
    )
    got = {r.c if hasattr(r, "c") else r.k: r.diff_status
           for r in snapshot_diff(old, new, key="k").collect()}
    # NULL == NULL must be 'unchanged' (null-safe compare), not 'changed'
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_countmin_upper_bounds_exact(spark, sf_dir):
    from pyspark_movie_recommender_spark import queries as Q

    from tests.law_record import record

    rows = Q.QUERIES["countmin_token_estimates"](spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        # CMS never undercounts; 1024 buckets vs ~tens of distinct
        # tokens here → collisions are rare, overcount stays small
        assert r.est_cnt >= r.exact_cnt
        assert r.est_cnt <= r.exact_cnt * 1.5 + 50
    record(
        "countmin_max_overcount_ratio",
        max((r.est_cnt - r.exact_cnt) / max(r.exact_cnt, 1) for r in rows),
        "est >= exact and est <= exact*1.5+50",
        query="countmin_token_estimates",
    )


# ---------------------------------------------------------------------------
# rows-only contract tests: sketch/sampling/ML queries whose values the
# DuckDB gate can't check get their accuracy contracts pinned here
# ---------------------------------------------------------------------------


def test_approx_quantiles_within_sketch_error_of_exact(spark, sf_dir):
    from pyspark_movie_recommender_spark.sources import load_table
    """GK sketch at accuracy 10000 must put each quantile within 1e-4
    relative RANK error of the exact percentile; with monotone output."""
    from pyspark_movie_recommender_spark import queries as Q

    approx = {
        r.l_returnflag: (r.q25, r.q50, r.q75, r.q99)
        for r in Q.QUERIES["approx_quantiles_prices"](spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: (r.q25, r.q50, r.q75, r.q99)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.25)").alias("q25"),
            F.expr("percentile(l_extendedprice, 0.50)").alias("q50"),
            F.expr("percentile(l_extendedprice, 0.75)").alias("q75"),
            F.expr("percentile(l_extendedprice, 0.99)").alias("q99"),
        )
        .collect()
    }
    assert set(approx) == set(exact)
    worst = 0.0
    for flag, qs in approx.items():
        assert list(qs) == sorted(qs)  # monotone
        for a, e in zip(qs, exact[flag]):
            # rank-error sketches bound position, not value; prices are
            # dense so value drift stays small — 2% is generous
            worst = max(worst, abs(a - e) / e)
            assert abs(a - e) <= 0.02 * e, (flag, a, e)
    from tests.law_record import record

    record(
        "approx_quantile_max_rel_value_error",
        worst,
        "<= 0.02",
        query="approx_quantiles_prices",
    )


def test_approx_distinct_within_hll_error_of_exact(spark, sf_dir):
    from pyspark_movie_recommender_spark.sources import load_table
    """approx_count_distinct's default rsd is 5%; estimates per group
    must land within 3 sigma of the exact distinct count."""
    from pyspark_movie_recommender_spark import queries as Q

    df = Q.QUERIES["approx_distinct_parts"](spark, sf_dir)
    li = load_table(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: (r.p, r.s)
        for r in li.groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_partkey").alias("p"),
            F.count_distinct("l_suppkey").alias("s"),
        )
        .collect()
    }
    rows = df.collect()
    assert rows
    worst = 0.0
    for r in rows:
        ep, es = exact[r.l_returnflag]
        # rsd=0.02 → 3 sigma = 6%, plus slack for tiny groups
        worst = max(
            worst,
            abs(r.approx_parts - ep) / max(ep, 1),
            abs(r.approx_supps - es) / max(es, 1),
        )
        assert abs(r.approx_parts - ep) <= 0.06 * ep + 3, (r, ep)
        assert abs(r.approx_supps - es) <= 0.06 * es + 3, (r, es)
    from tests.law_record import record

    record(
        "hll_approx_distinct_max_rel_error",
        worst,
        "<= 0.06 (+3 abs slack)",
        query="approx_distinct_parts",
    )


def test_stratified_sample_fractions_and_determinism(spark, sf_dir):
    from pyspark_movie_recommender_spark.sources import load_table
    """sampleBy: per-language sampled fraction near the policy fraction,
    every sampled row exists in the source, and the seeded sample is
    bit-identical across runs."""
    from pyspark_movie_recommender_spark import queries as Q

    run1 = Q.QUERIES["stratified_sample_documents"](spark, sf_dir).collect()
    run2 = Q.QUERIES["stratified_sample_documents"](spark, sf_dir).collect()
    assert sorted(map(str, run1)) == sorted(map(str, run2))
    assert run1
    src = {
        r.doc_id for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    }
    assert all(r.doc_id in src for r in run1 if hasattr(r, "doc_id"))


def test_als_recommend_parts_rec_contract(spark, sf_dir):
    """Per-customer part recs: bounded list, contiguous ranks (when
    exposed) or at minimum non-increasing scores per customer."""
    from pyspark_movie_recommender_spark import queries as Q

    rows = Q.QUERIES["als_recommend_parts"](spark, sf_dir).collect()
    assert rows
    cols = rows[0].asDict().keys()
    score_col = next(
        (c for c in cols if c in ("score", "rating", "prediction")), None
    )
    user_col = next(c for c in cols if "cust" in c or "user" in c)
    if score_col:
        by_user = {}
        for r in rows:
            by_user.setdefault(r[user_col], []).append(r[score_col])
        for scores in by_user.values():
            assert len(scores) <= 10


def test_theta_overlap_estimates_near_exact(spark, sf_dir):
    """Theta union/intersection estimates land within 5% of the exact
    distinct-bigram overlap computed from the same corpus slice."""
    from pyspark.sql import functions as F
    from pyspark_movie_recommender_spark import queries as Q
    from pyspark_movie_recommender_spark.sources import load_table

    rows = Q.QUERIES["theta_token_overlap"](spark, sf_dir).collect()
    assert len(rows) == 3  # C(3,2) source pairs
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.filter(F.col("source").isin("src0", "src1", "src2")).select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(split(text, ' ')) - 1),"
                " i -> concat(split(text, ' ')[i - 1], ' ', split(text, ' ')[i]))"
            )
        ).alias("g"),
    ).distinct()
    sets = {
        s: {r.g for r in grams.filter(F.col("source") == s).collect()}
        for s in ("src0", "src1", "src2")
    }
    worst = 0.0
    for r in rows:
        a, b = sets[r.source_a], sets[r.source_b]
        assert r.distinct_a == len(a) and r.distinct_b == len(b)
        worst = max(
            worst,
            abs(r.union_est - len(a | b)) / len(a | b),
            abs(r.intersect_est - len(a & b)) / len(a | b),
        )
        assert abs(r.union_est - len(a | b)) <= 0.05 * len(a | b)
        assert abs(r.intersect_est - len(a & b)) <= 0.05 * len(a | b)
        # partial overlap is the point of the fixture: strict subset
        assert len(a & b) < min(len(a), len(b))
    from tests.law_record import record

    record(
        "theta_sketch_max_rel_error",
        worst,
        "<= 0.05 of union size",
        query="theta_token_overlap",
    )


def test_kll_quantiles_within_rank_error(spark, sf_dir):
    """KLL p50/p95 estimates (k=200 => ~1.3% rank error) correspond to
    values whose true rank is within 3% of the target rank, per group
    and for the merged ALL sketch."""
    from pyspark.sql import functions as F
    from pyspark_movie_recommender_spark import queries as Q
    from pyspark_movie_recommender_spark.sources import load_table

    rows = {r.grp: r for r in Q.QUERIES["kll_quantile_rollup"](spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    vals_all = sorted(r.o_totalprice for r in orders.select("o_totalprice").collect())

    def true_rank(vals, x):
        import bisect

        return bisect.bisect_right(vals, x) / len(vals)

    worst = 0.0
    for grp, r in rows.items():
        vals = (
            vals_all
            if grp == "ALL"
            else sorted(
                x.o_totalprice
                for x in orders.filter(F.col("o_orderpriority") == grp)
                .select("o_totalprice")
                .collect()
            )
        )
        worst = max(
            worst,
            abs(true_rank(vals, r.p50_est) - 0.5),
            abs(true_rank(vals, r.p95_est) - 0.95),
        )
        assert abs(true_rank(vals, r.p50_est) - 0.5) <= 0.03, (grp, r.p50_est)
        assert abs(true_rank(vals, r.p95_est) - 0.95) <= 0.03, (grp, r.p95_est)
    assert "ALL" in rows and len(rows) == 6
    from tests.law_record import record

    record(
        "kll_max_rank_error",
        worst,
        "<= 0.03",
        query="kll_quantile_rollup",
    )


def test_operators_tolerate_empty_inputs(spark):
    """Empty-relation hardening: the operator library must return
    empty results (right schema), not crash, when a filter upstream
    leaves nothing — the 3 a.m. failure mode of any pipeline stage."""
    from pyspark_movie_recommender_spark.operators.dedup import (
        blocked_levenshtein_pairs,
        ngram_jaccard_pairs,
    )
    from pyspark_movie_recommender_spark.operators.graph import (
        connected_components,
        kcore_nodes,
    )
    from pyspark_movie_recommender_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, n_chars long"
    )
    assert ngram_jaccard_pairs(empty_docs, "text", "doc_id", n=3, threshold=0.5).count() == 0
    assert blocked_levenshtein_pairs(empty_docs).count() == 0

    empty_edges = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(empty_edges).count() == 0
    assert kcore_nodes(empty_edges, k=2, src="id_a", dst="id_b").count() == 0

    empty_vecs = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert cosine_topk_bruteforce(empty_vecs, empty_vecs, "embedding", "vec_id").count() == 0


def test_kcore_raises_loudly_on_round_cap(spark):
    """Peeling depth is O(chain length) on path graphs — a planted
    60-edge chain with k=2 peels 2 endpoints per round and MUST hit
    the round cap with a loud RuntimeError, never return wrong cores
    silently. (The honest contract: k-core has no log-round rewrite;
    budget rounds for the topology or pre-filter degree-1 chains.)"""
    from pyspark_movie_recommender_spark.operators.graph import kcore_nodes

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "u long, v long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        kcore_nodes(chain, k=2, max_rounds=10)
    # a cycle IS its own 2-core: converges in one round, no raise
    cycle = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)], "u long, v long"
    )
    out = kcore_nodes(cycle, k=2, max_rounds=5)
    assert out.count() == 12
    assert all(r.degree == 2 for r in out.collect())


# ---------------------------------------------------------------------------
# wave 43: distributed global rank + isotonic PAV laws
# ---------------------------------------------------------------------------


def test_distributed_global_rank_equals_single_window(spark, sf_dir):
    from pyspark.sql.window import Window

    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_global_rank,
    )
    from pyspark_movie_recommender_spark.sources import load_table

    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice")
    two_pass = distributed_global_rank(
        part, "p_retailprice", "p_partkey", n_buckets=7
    )
    w = Window.orderBy(F.col("p_retailprice").asc(), F.col("p_partkey").asc())
    one_task = part.withColumn("rn_ref", F.row_number().over(w).cast("long"))
    joined = two_pass.join(one_task, ["p_partkey", "p_retailprice"])
    assert joined.filter(F.col("rn") != F.col("rn_ref")).count() == 0
    n = part.count()
    assert two_pass.agg(F.min("rn"), F.max("rn")).first() == (1, n)


def test_sorted_neighborhood_pair_count(spark):
    from pyspark_movie_recommender_spark.operators.rank import (
        sorted_neighborhood_pairs,
    )

    df = spark.createDataFrame(
        [(i, float(i * 3 % 17)) for i in range(40)], "id long, key double"
    )
    w = 3
    pairs = sorted_neighborhood_pairs(df, "key", "id", window=w, n_buckets=4)
    # every rank r pairs with r+1..r+w except near the end: n*w - w(w+1)/2
    assert pairs.count() == 40 * w - w * (w + 1) // 2
    assert pairs.filter(F.col("dist") > w).count() == 0


def test_pav_laws(spark):
    from pyspark_movie_recommender_spark.operators.calibrate import (
        _pav,
        isotonic_fit,
    )
    import numpy as np

    # stack PAV equals the textbook definition on a hand case
    y = np.array([1.0, 3.0, 2.0, 2.0, 5.0])
    w = np.array([1.0, 1.0, 1.0, 1.0, 1.0])
    fit = _pav(y, w)
    assert np.all(np.diff(fit) >= -1e-12)
    assert abs(float((fit * w).sum() - (y * w).sum())) < 1e-9
    assert np.allclose(fit, [1.0, 7 / 3, 7 / 3, 7 / 3, 5.0])

    rows = [
        ("a", 1.0, 10.0),
        ("a", 1.0, 14.0),
        ("a", 2.0, 9.0),
        ("a", 3.0, 30.0),
        ("b", 1.0, 5.0),
        ("b", 2.0, 4.0),
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = isotonic_fit(df, "g", "x", "y").orderBy("g", "x").collect()
    # monotone within each group
    for g in ("a", "b"):
        seq = [r["y_hat"] for r in out if r["g"] == g]
        assert all(b >= a - 1e-12 for a, b in zip(seq, seq[1:]))
    # weighted mean preserved per group
    for g in ("a", "b"):
        grp = [r for r in out if r["g"] == g]
        fit_mean = sum(r["y_hat"] * r["w"] for r in grp)
        obs_mean = sum(r["y_mean"] * r["w"] for r in grp)
        assert abs(fit_mean - obs_mean) < 1e-9
    # group a: x=1 mean 12 (w=2) > x=2 mean 9 (w=1) -> pooled to 11; x=3 stays 30
    a = {r["x"]: r["y_hat"] for r in out if r["g"] == "a"}
    assert abs(a[1.0] - 11.0) < 1e-9 and abs(a[2.0] - 11.0) < 1e-9
    assert abs(a[3.0] - 30.0) < 1e-9


def test_bfs_hops_on_known_graph(spark):
    from pyspark_movie_recommender_spark.operators.graph import bfs_hops

    # path 1-2-3-4-5-6 plus a shortcut 1-4: hop counts must take the shortcut
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 4)], "u long, v long"
    )
    got = {r.node: r.hops for r in bfs_hops(edges, max_hops=4).collect()}
    assert got == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2, 6: 3}


def test_ckpt_reliable_checkpoint_when_env_set(spark, tmp_path, monkeypatch):
    # SPARK_GRAFT_CHECKPOINT_DIR flips every lineage truncation in the
    # engine from executor-local to reliable (survives executor loss)
    from pyspark_movie_recommender_spark.operators.lineage import ckpt

    target = str(tmp_path / "ckpt")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", target)
    df = ckpt(spark.range(100).withColumn("x", F.col("id") * 2))
    assert df.count() == 100
    import os

    assert os.path.isdir(target) and os.listdir(target)
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR")
    df2 = ckpt(spark.range(10))
    assert df2.count() == 10


def test_order_stats_grp_rank_bool_and_null_groups(spark):
    # the grp-offset map is keyed by a string on BOTH sides: Spark casts
    # booleans to 'true'/'false' and a NULL group gets an explicit
    # sentinel, so neither silently misses the lookup (NULL grp_rank)
    from pyspark.sql.window import Window

    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_order_stats,
    )

    rows = [(i, i % 3 == 0 if i % 7 else None) for i in range(1, 201)]
    df = spark.createDataFrame(rows, "k long, grp boolean")
    got = distributed_order_stats(
        df, "k", ["k"], n_buckets=5, grp_col="grp", grp_rank_col="gr"
    )
    ref = df.withColumn(
        "gr_ref",
        F.row_number().over(Window.partitionBy("grp").orderBy("k")).cast("long"),
    )
    j = got.join(ref, ["k"], "inner")
    assert j.filter(F.col("gr").isNull()).count() == 0
    assert j.filter(F.col("gr") != F.col("gr_ref")).count() == 0


def test_order_stats_grp_rank_rejects_float_groups(spark):
    import pytest as _pytest

    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_order_stats,
    )

    df = spark.createDataFrame(
        [(1, 0.5), (2, 1.5)], "k long, grp double"
    )
    with _pytest.raises(ValueError, match="int/str/bool"):
        distributed_order_stats(
            df, "k", ["k"], n_buckets=2, grp_col="grp", grp_rank_col="gr"
        ).collect()


def test_order_stats_grp_rank_rejects_control_char_groups(spark):
    # "\x00" joins the composite bucket/group key and "\x01<null>" is
    # the NULL sentinel — a group VALUE containing either would silently
    # mis-key the offset map, so it must error like the float case
    import pytest as _pytest

    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_order_stats,
    )

    df = spark.createDataFrame(
        [(1, "ok"), (2, "bad\x00key")], "k long, grp string"
    )
    with _pytest.raises(ValueError, match="x00"):
        distributed_order_stats(
            df, "k", ["k"], n_buckets=2, grp_col="grp", grp_rank_col="gr"
        ).collect()


def test_table_row_hint_matches_actual_counts(spark, sf_oracle_dir):
    # the parquet-footer row hint must agree with a real count — it
    # sizes knobs (LSH band width) without triggering a Spark job
    from pyspark_movie_recommender_spark.sources.tables import (
        load_table as _lt,
        table_row_hint,
    )

    for t in ("embeddings", "nation"):
        assert table_row_hint(sf_oracle_dir, t) == _lt(spark, sf_oracle_dir, t).count()


def test_column_minmax_hint_matches_actual_extremes(spark, sf_oracle_dir):
    # the footer column-stats hint must agree with a real min/max agg —
    # it sizes mattson's date-range segmentation without a Spark job
    from pyspark.sql import functions as F

    from pyspark_movie_recommender_spark.sources.tables import (
        column_minmax_hint,
        load_table as _lt,
    )

    mm = column_minmax_hint(sf_oracle_dir, "lineitem", "l_shipdate")
    assert mm is not None
    real = (
        _lt(spark, sf_oracle_dir, "lineitem")
        .agg(F.min("l_shipdate"), F.max("l_shipdate"))
        .collect()[0]
    )
    assert (mm[0], mm[1]) == (real[0], real[1])


def test_column_minmax_hint_fails_closed_on_inexact_string_stats(tmp_path):
    # parquet writers may truncate BYTE_ARRAY min/max to a prefix; a
    # prefix is a valid bound but not the exact extreme, so the hint
    # must refuse string/binary columns unless the footer explicitly
    # marks the stats exact (is_min/max_value_exact True). On pyarrow
    # builds that do not expose the exactness flags at all, byte-array
    # columns fail closed while fixed-width types (never truncated)
    # still produce the hint.
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark_movie_recommender_spark.sources.tables import (
        column_minmax_hint,
    )

    t = pa.table({"p_name": ["apple", "zebra"], "p_size": [3, 9]})
    pq.write_table(t, str(tmp_path / "part.parquet"))
    # fixed-width physical type: exact by construction -> hint works
    assert column_minmax_hint(str(tmp_path), "part", "p_size") == (3, 9)
    st = (
        pq.ParquetFile(str(tmp_path / "part.parquet"))
        .metadata.row_group(0)
        .column(0)
        .statistics
    )
    hint = column_minmax_hint(str(tmp_path), "part", "p_name")
    if getattr(st, "is_min_value_exact", None) is True:
        assert hint == ("apple", "zebra")  # flags prove exactness
    else:
        assert hint is None  # no proof of exactness -> fail closed


def test_ckpt_registry_fail_closed_and_scoped(spark, sf_oracle_dir):
    # unknown RDD-backed relations audit as NOT reduced (fail-closed);
    # ckpt'd aggregates audit as reduced; createDataFrame literals are
    # recognized structurally (ParallelCollectionRDD roots), not by
    # registry absence. The fact must be a parquet scan — spark.range
    # is a small-by-construction leaf and classifies reduced by design.
    from pyspark_movie_recommender_spark.operators.lineage import (
        ckpt,
        ckpt_registry,
    )
    from pyspark_movie_recommender_spark.plans import subtree_reduced
    from pyspark_movie_recommender_spark.sources import load_table as _lt

    fact = _lt(spark, sf_oracle_dir, "documents").withColumn(
        "v", F.col("doc_id") % 7
    )
    ck_fact = ckpt(fact)
    assert subtree_reduced(ck_fact._jdf.queryExecution().optimizedPlan()) is False
    ck_agg = ckpt(fact.groupBy("v").count())
    assert subtree_reduced(ck_agg._jdf.queryExecution().optimizedPlan()) is True
    lit = spark.createDataFrame([(1,), (2,)], "k long")
    assert subtree_reduced(lit._jdf.queryExecution().optimizedPlan()) is True
    # registry is scoped to this application's id
    reg = ckpt_registry(spark.sparkContext)
    assert reg and all(isinstance(k, int) for k in reg)


def test_adaptive_levenshtein_routing_is_exact_partition(spark, sf_oracle_dir):
    # per-key routing must be LOSSLESS at every cap: cap=0 sends every
    # key to the PassJoin branches, tiny caps mix both paths (keys near
    # the block-size median split), huge caps reproduce the pure block
    # join — all must return the identical pair set with distances
    from pyspark_movie_recommender_spark.operators.dedup import (
        adaptive_levenshtein_pairs,
        blocked_levenshtein_pairs,
    )
    from pyspark_movie_recommender_spark.sources import load_table
    from pyspark_movie_recommender_spark.sources.tables import table_row_hint

    docs = load_table(spark, sf_oracle_dir, "documents")
    ref = blocked_levenshtein_pairs(docs)
    want = {tuple(r) for r in ref.collect()}
    assert want
    for cap in (0, 60, 10_000_000):
        routed = adaptive_levenshtein_pairs(docs, block_cap=cap)
        got = {tuple(r) for r in routed.collect()}
        assert got == want, f"cap={cap}"
        # the routed result is a unionByName of three branches: its
        # column types and nullability must match the plain block join
        assert routed.schema == ref.schema, f"cap={cap}"
    # the job-free row_hint short-circuit route, same schema
    n = table_row_hint(sf_oracle_dir, "documents")
    assert adaptive_levenshtein_pairs(docs, row_hint=n).schema == ref.schema
    # short-prefix docs route through the big-key short branch when
    # their key is oversized — pin that edge with a literal corpus
    rows = [
        (1, "en", "hello world", 11),
        (2, "en", "hello worle", 11),
        (3, "en", "x" * 45, 45),
        (4, "en", "x" * 44 + "y", 45),
        (5, "en", "hello wxrld", 11),
        (6, "fr", "bonjour", 7),
    ]
    sdf = spark.createDataFrame(
        rows, "doc_id long, lang string, text string, n_chars long"
    )
    want2 = {tuple(r) for r in blocked_levenshtein_pairs(sdf).collect()}
    for cap in (0, 2, 100):
        got2 = {
            tuple(r)
            for r in adaptive_levenshtein_pairs(sdf, block_cap=cap).collect()
        }
        assert got2 == want2, f"short-mix cap={cap}"


def test_adaptive_levenshtein_row_hint_is_job_free_and_lossless(
    spark, sf_oracle_dir
):
    """round-6 advice fix: a footer row hint at or under the cap proves
    no join key can be oversized, so the router must (a) build the
    plain block-join plan, (b) trigger ZERO Spark jobs at construction
    (the census action is skipped — plan dumps and audits stay free),
    and (c) return the identical pair set."""
    from pyspark_movie_recommender_spark.operators.dedup import (
        adaptive_levenshtein_pairs,
        blocked_levenshtein_pairs,
    )
    from pyspark_movie_recommender_spark.plans import physical_plan
    from pyspark_movie_recommender_spark.sources import load_table
    from pyspark_movie_recommender_spark.sources.tables import table_row_hint

    docs = load_table(spark, sf_oracle_dir, "documents")
    n = table_row_hint(sf_oracle_dir, "documents")
    assert n <= 40_000  # the premise of the short-circuit at this SF
    store = spark._jsparkSession.sparkContext().statusStore()
    jobs_before = store.jobsList(None).size()
    df = adaptive_levenshtein_pairs(docs, row_hint=n)
    plan = physical_plan(df)  # plan compilation must also stay job-free
    assert store.jobsList(None).size() == jobs_before
    # the short-circuit plan is the plain block join: no routing union,
    # no candidate-distinct aggregate, no persisted base
    assert "Union" not in plan and "InMemoryTableScan" not in plan
    want = {tuple(r) for r in blocked_levenshtein_pairs(docs).collect()}
    assert want == {tuple(r) for r in df.collect()}
    # a hint ABOVE the cap must leave the census routing intact
    # (hash-equal results, exercised via a tiny forced cap)
    routed = adaptive_levenshtein_pairs(docs, block_cap=60, row_hint=n)
    assert want == {tuple(r) for r in routed.collect()}


def test_adaptive_levenshtein_natural_engagement(spark, sf_oracle_dir):
    """Re-runnable form of the round-5 sf10 receipt (verdict ask #3):
    the router must engage on NATURAL data — a corpus whose own
    (lang, bucket) census crosses the cap without forcing — and stay
    lossless there. Build the sf10 corpus's shape in miniature with
    the SAME tagged-replication transform tools_make_sf10.py uses
    (10x of sf0.01, ~5k docs), derive the cap from the corpus's own
    a_pop distribution so BOTH routes are populated, and pin multiset
    equality against the pure block join. Runs in well under 5 min;
    tools_make_sf10.py reruns the full 500k-doc receipt when needed."""
    from pyspark_movie_recommender_spark.operators.dedup import (
        adaptive_levenshtein_pairs,
        blocked_levenshtein_pairs,
    )
    from pyspark_movie_recommender_spark.sources import load_table
    from tools_make_sf10 import _tag_replicate

    docs10 = _tag_replicate(
        load_table(spark, sf_oracle_dir, "documents"), "r", 10_000_000
    )
    # the corpus's own join-key populations (the router's census)
    apop = (
        docs10.groupBy("lang", F.floor(F.col("n_chars") / 50).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "lang",
            F.explode(
                F.array(F.col("bucket") - 1, F.col("bucket"), F.col("bucket") + 1)
            ).alias("jbucket"),
            "n",
        )
        .groupBy("lang", "jbucket")
        .agg(F.sum("n").alias("a_pop"))
    )
    pops = sorted(r.a_pop for r in apop.collect())
    cap = pops[len(pops) // 2]  # median: both routes naturally populated
    n_over = sum(1 for p in pops if p > cap)
    assert n_over >= 1 and n_over < len(pops), (
        f"corpus must cross cap={cap} on natural keys: pops={pops[:10]}..."
    )
    want = sorted(tuple(r) for r in blocked_levenshtein_pairs(docs10).collect())
    got = sorted(
        tuple(r)
        for r in adaptive_levenshtein_pairs(docs10, block_cap=cap).collect()
    )
    assert len(want) > 0 and got == want


def test_ivf_topk_recall_against_bruteforce(spark, sf_oracle_dir):
    """Accuracy law for the rows-only ANN path (LAWS gate): IVF with
    nprobe=4 of n_cells=16 must recall a healthy share of the EXACT
    cosine top-5 — cell routing trades recall for the ~n_cells/nprobe
    scan reduction, so the law pins the trade at >= 0.5 overall."""
    from pyspark_movie_recommender_spark import queries as Q
    from tests.law_record import record

    approx = {
        (r.probe_id, r.neighbor_id)
        for r in Q.QUERIES["ann_ivf_topk"](spark, sf_oracle_dir).collect()
    }
    exact = {
        (r.probe_id, r.neighbor_id)
        for r in Q.QUERIES["cosine_topk"](spark, sf_oracle_dir).collect()
    }
    assert exact, "exact top-k must be nonempty"
    recall = len(approx & exact) / len(exact)
    record("ivf_recall_at_5", recall, ">= 0.5", query="ann_ivf_topk")
    assert recall >= 0.5, recall
