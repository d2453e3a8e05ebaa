"""Query registry part 2 of 12 — registration order preserved.

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
from pyspark_movie_recommender_spark.queries import QUERIES, query
from pyspark_movie_recommender_spark.sources import load_table

@query(
    "bitmap_distinct_rollup",
    oracle="""
    SELECT o_orderpriority AS grp,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT 'ALL' AS grp,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct_cust
    FROM orders
    """,
)
def bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counting via roaring-style bitmaps:
    per-priority bitmaps of customer keys, then a bitmap-OR merge to the
    global count — the store-and-merge alternative to COUNT(DISTINCT)
    rescans, and (unlike HLL) exact, so the gate hash-checks it.

    Pattern: group by (grp, bitmap_bucket_number(key)) building one
    32k-bit bitmap per bucket with ``bitmap_construct_agg``; per-group
    distinct = SUM of ``bitmap_count`` over buckets; the rollup ORs the
    per-group bucket bitmaps (``bitmap_or_agg``) BEFORE counting —
    proving the bitmaps merge, which is the property that lets a 100 TB
    pipeline keep per-partition bitmaps and union them at any grain.

    Scale shape: one shuffle on (grp, bucket) with map-side partial
    bitmap construction; the merge agg runs on |grps|x|buckets| bitmap
    rows, never rescanning the fact.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"), "o_custkey"
    )
    buckets = orders.groupBy(
        "grp", F.bitmap_bucket_number("o_custkey").alias("bucket")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("o_custkey")).alias("bm")
    )
    per_grp = buckets.groupBy("grp").agg(
        F.sum(F.bitmap_count("bm")).cast("long").alias("n_distinct_cust")
    )
    merged = (
        buckets.groupBy("bucket")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .agg(F.sum(F.bitmap_count("bm")).cast("long").alias("n_distinct_cust"))
        .select(F.lit("ALL").alias("grp"), "n_distinct_cust")
    )
    return per_grp.unionByName(merged)


@query("theta_token_overlap")
def theta_token_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra over source vocabularies: per-source
    distinct-token sketches, then UNION and INTERSECTION estimates
    across source pairs — the sketch that (unlike HLL) supports
    intersection/difference, i.e. the 100 TB answer to "how much does
    crawl A overlap crawl B" without ever co-shuffling the corpora.

    Rows-only by design (estimates); the exact twin is
    ``source_shingle_overlap`` and tests/test_operators.py pins the
    estimate within a tolerance band of the exact overlap.

    Scale shape: one (source, token)-collapsing agg builds constant-size
    sketches map-side; all set algebra runs on |sources|² sketch pairs,
    corpus never rescanned.
    """
    docs = load_table(spark, sf_dir, "documents")
    # distinct word BIGRAMS per source (the unigram vocab is tiny and
    # fully shared; bigrams give a real partial-overlap signal) — built
    # in-row, exploded once
    # round 9: token array bound ONCE below the generator — the free
    # split(text) inside the interpreted lambda was re-splitting the
    # document twice per bigram (same fix as repeated_window_scrub)
    toks = (
        docs.filter(F.col("source").isin("src0", "src1", "src2"))
        .select("source", F.split("text", " ").alias("t"))
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat(t[i - 1], ' ', t[i]))"
                )
            ).alias("token"),
        )
    )
    sk = toks.groupBy("source").agg(
        F.theta_sketch_agg("token").alias("sk"),
        F.count_distinct("token").cast("long").alias("exact_distinct"),
    )
    a = sk.alias("a")
    b = sk.alias("b")
    pairs = a.join(b, F.col("a.source") < F.col("b.source"))
    return pairs.select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.col("a.exact_distinct").alias("distinct_a"),
        F.col("b.exact_distinct").alias("distinct_b"),
        F.theta_sketch_estimate(
            F.theta_union(F.col("a.sk"), F.col("b.sk"))
        )
        .cast("long")
        .alias("union_est"),
        F.theta_sketch_estimate(
            F.theta_intersection(F.col("a.sk"), F.col("b.sk"))
        )
        .cast("long")
        .alias("intersect_est"),
    )


@query("kll_quantile_rollup")
def kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile-sketch rollup: per-priority sketches of order value,
    MERGED to a global sketch — store-and-merge quantiles at any grain
    (the sketch twin of exact_percentiles_by_flag, which is the gate's
    exact check; tests pin the estimates inside a rank-error band).

    Scale shape: constant-size sketches built with map-side partials;
    the global quantile comes from merging |grps| sketches, not from a
    second fact scan — at 100 TB that's the difference between a
    metadata operation and a petabyte reshuffle.
    """
    orders = load_table(spark, sf_dir, "orders")
    per_grp = orders.groupBy(
        F.col("o_orderpriority").alias("grp")
    ).agg(F.kll_sketch_agg_double("o_totalprice", F.lit(200)).alias("sk"))
    grp_rows = per_grp.select(
        "grp",
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("p50_est"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.95)).alias("p95_est"),
    )
    # no agg-form KLL merge in 4.1 — fold the |grps| sketches with the
    # scalar pairwise merge (HOF over a collected array of 5 sketches)
    merged = per_grp.agg(F.collect_list("sk").alias("sks")).select(
        F.expr(
            "aggregate(slice(sks, 2, size(sks) - 1), sks[0],"
            " (acc, x) -> kll_sketch_merge_double(acc, x))"
        ).alias("sk")
    ).select(
        F.lit("ALL").alias("grp"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("p50_est"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.95)).alias("p95_est"),
    )
    return grp_rows.unionByName(merged)


@query(
    "phrase_search_positional",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), postings AS (
        SELECT doc_id, unnest(t) AS token,
               CAST(generate_subscripts(t, 1) AS BIGINT) AS pos
        FROM toks
    )
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           CAST(MIN(a.pos) AS BIGINT) AS first_pos
    FROM postings a
    JOIN postings b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    WHERE a.token = 'table' AND b.token = 'scan'
    GROUP BY a.doc_id
    """,
)
def phrase_search_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search through a POSITIONAL inverted index: postings
    are (token, doc_id, pos); a phrase match is an equi-join of the two
    term posting lists on (doc_id, adjacent position). This is the IR
    operator the tf-only inverted index cannot answer.

    Scale shape: the postings relation is filtered to the QUERY TERMS
    before any join — the join input is two posting lists, not the
    corpus; the adjacency is an equi-join on (doc_id, pos+1), so no
    range explosion. At 100 TB the index is built once, partitioned by
    token, and each phrase query touches only its terms' partitions
    (partition pruning on the token column).
    """
    docs = load_table(spark, sf_dir, "documents")
    postings = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "token"),
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "token")
    a = postings.filter(F.col("token") == "table").alias("a")
    b = postings.filter(F.col("token") == "scan").alias("b")
    hits = a.join(
        b,
        (F.col("b.doc_id") == F.col("a.doc_id"))
        & (F.col("b.pos") == F.col("a.pos") + 1),
    )
    return hits.groupBy(F.col("a.doc_id").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_hits"),
        F.min(F.col("a.pos")).cast("long").alias("first_pos"),
    )


# ---------------------------------------------------------------------------
# wave 24: grid-blocked spatial proximity join + event-sequence pattern match
# ---------------------------------------------------------------------------


@query(
    "spatial_proximity_pairs",
    oracle="""
    -- oracle is the NAIVE all-pairs join: hash equality proves the
    -- engine's grid blocking LOSSLESS (same trick as the prefix-filter
    -- Jaccard join)
    WITH cust AS (
        SELECT c_custkey,
               (c_custkey * 7919)   % 100000 AS x,
               (c_custkey * 104729) % 100000 AS y
        FROM customer
    ), supp AS (
        SELECT s_suppkey,
               (s_suppkey * 6271)  % 100000 AS x,
               (s_suppkey * 31337) % 100000 AS y
        FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           CAST((c.x - s.x) * (c.x - s.x)
              + (c.y - s.y) * (c.y - s.y) AS BIGINT) AS dist2_m2
    FROM cust c, supp s
    WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
          <= 2000 * 2000
    """,
)
def spatial_proximity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join with GRID BLOCKING: every customer paired
    with every supplier within 2 km, on a synthetic 100x100 km plane
    with deterministic integer-meter coordinates derived from the keys
    (BIGINT throughout — squared distances compare exactly).

    Engine shape: bucket both sides into r-sized grid cells; the
    smaller side (suppliers) replicates into its 3x3 cell neighborhood
    (in-row sequence explode, 9x a TINY relation); candidates come from
    a cell equi-join; the exact squared-distance predicate verifies.
    Any point within r of another must lie in one of its 9 cells, so
    blocking is lossless — and the oracle PROVES it: the DuckDB side is
    the naive all-pairs join.

    Scale shape: never a cross join — the fact side is hashed on its
    one cell, candidates are bounded by local density x 9, and the
    verify is map-side integer arithmetic. At 100 TB the same plan
    holds with cells sized to the radius and AQE handling dense-cell
    skew.
    """
    r = 2000
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 7919) % 100000).alias("x"),
        ((F.col("c_custkey") * 104729) % 100000).alias("y"),
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 6271) % 100000).alias("x"),
        ((F.col("s_suppkey") * 31337) % 100000).alias("y"),
    )
    cust_cell = cust.withColumn(
        "cell",
        F.expr(f"(x div {r}) * 1000 + (y div {r})"),
    )
    # replicate the SMALL side into its 3x3 neighborhood; the big side
    # keeps exactly one cell per row
    supp_cells = supp.select(
        "s_suppkey", F.col("x").alias("sx"), F.col("y").alias("sy")
    ).select(
        "s_suppkey",
        "sx",
        "sy",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(-1, 1), dx ->"
                f" transform(sequence(-1, 1), dy ->"
                f" ((sx div {r}) + dx) * 1000 + ((sy div {r}) + dy))))"
            )
        ).alias("cell"),
    )
    cand = cust_cell.join(F.broadcast(supp_cells), "cell")
    d2 = (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx")) + (
        F.col("y") - F.col("sy")
    ) * (F.col("y") - F.col("sy"))
    return (
        cand.filter(d2 <= r * r)
        .select(
            "c_custkey",
            "s_suppkey",
            d2.cast("long").alias("dist2_m2"),
        )
    )


@query(
    "event_pattern_funnels",
    oracle="""
    WITH journeys AS (
        SELECT user_id,
               string_agg(left(event_type, 1), '' ORDER BY ts, event_id)
                   AS journey
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(strlen(journey) AS BIGINT)  AS journey_len,
           CAST(len(regexp_extract_all(journey, 'v[ce]*p')) AS BIGINT)
               AS n_funnels
    FROM journeys
    """,
)
def event_pattern_funnels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over event streams (MATCH_RECOGNIZE
    lite): encode each user's journey as an ordered string of event
    initials, then count non-overlapping matches of the funnel regex
    ``v[ce]*p`` (a view, any clicks/errors, then a purchase). Regex
    over an encoded sequence turns order-sensitive funnel mining into
    one scalar expression — no self-joins per step.

    The conditional-MIN funnel (``event_funnel_ordered``) answers "did
    the user EVER convert"; this answers "how MANY times", with
    arbitrary-pattern expressiveness.

    Scale shape: one user_id exchange for the ordered concat (order
    restored in-row by array_sort — no window sort); the regex is
    map-side on |users| short strings. Journey strings are bounded by
    per-user activity — the same per-key-fits-in-memory contract as
    every grouped aggregate here.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", F.substring("event_type", 1, 1).alias("c")
    )
    journeys = ev.groupBy("user_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(ts, event_id, c))),"
            " s -> s.c), '')"
        ).alias("journey")
    )
    return journeys.select(
        "user_id",
        F.length("journey").cast("long").alias("journey_len"),
        F.size(F.regexp_extract_all("journey", F.lit("v[ce]*p"), F.lit(0)))
        .cast("long")
        .alias("n_funnels"),
    )


# ---------------------------------------------------------------------------
# wave 25: corrupt-tolerant ingestion audit + BPE-ish regex tokenizer
# ---------------------------------------------------------------------------


@query(
    "robust_json_ingest",
    oracle="""
    WITH feed AS (
        SELECT event_type,
               CASE WHEN event_id % 7 = 0 THEN substr(props, 2)
                    ELSE props END AS raw
        FROM events
    ), parsed AS (
        SELECT event_type, raw,
               CASE WHEN json_valid(raw)
                    THEN json_extract_string(raw, '$.k') IS NOT NULL
                    ELSE FALSE END AS ok
        FROM feed
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)                          AS n_rows,
           CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT)
               AS n_valid,
           CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT)
               AS n_corrupt,
           CAST(SUM(CASE WHEN ok
                    THEN CAST(json_extract_string(raw, '$.k') AS BIGINT)
                    ELSE 0 END) AS BIGINT)                   AS k_sum
    FROM parsed GROUP BY event_type
    """,
)
def robust_json_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-tolerant ingestion: a feed where every 7th record's JSON
    payload is truncated (deterministically, so the oracle sees the
    same corruption). The engine classifies each record as
    valid/corrupt WITHOUT failing the job — the dead-letter audit every
    production ingest needs: per-type row counts, corruption counts,
    and the typed sum over only the valid records.

    This is the error-handling contract at 100 TB: one malformed
    record must cost one null, not a task retry storm; the corrupt
    count IS the dead-letter queue's size, computed in the same pass.

    Scale shape: pure map-side parse + one small hash agg; no Python,
    no second scan for the audit.
    """
    ev = load_table(spark, sf_dir, "events")
    feed = ev.select(
        "event_type",
        F.when(
            F.col("event_id") % 7 == 0, F.expr("substr(props, 2)")
        )
        .otherwise(F.col("props"))
        .alias("raw"),
    )
    # NOTE: Spark's try_parse_json is lenient about trailing content (a
    # scalar prefix parses), so the dead-letter criterion is "the record
    # yields the required typed field" -- the contract a downstream
    # consumer actually needs -- not mere parseability.
    parsed = feed.withColumn(
        "ok", F.get_json_object("raw", "$.k").isNotNull()
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.when(F.col("ok"), 1).otherwise(0)).cast("long").alias("n_valid"),
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).cast("long").alias("n_corrupt"),
        F.sum(
            F.when(
                F.col("ok"), F.get_json_object("raw", "$.k").cast("long")
            ).otherwise(0)
        )
        .cast("long")
        .alias("k_sum"),
    )


@query(
    "bpe_regex_token_counts",
    oracle="""
    SELECT lang,
           CAST(SUM(len(string_split(text || ' v2.0-rc!', ' '))) AS BIGINT)
               AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text || ' v2.0-rc!',
                ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +'))) AS BIGINT)
               AS bpe_tokens,
           CAST(SUM(strlen(text || ' v2.0-rc!')) AS BIGINT) AS n_bytes
    FROM documents GROUP BY lang
    """,
)
def bpe_regex_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (SURVEY text-analysis): whitespace split
    vs a BPE-ish pretokenizer regex (GPT-2-style letter/digit/symbol
    runs with attached leading space, restricted to the RE2 ∩ Java
    common dialect — no lookahead). A deterministic ``' v2.0-rc!'``
    suffix exercises the digit/symbol branches the plain-word corpus
    lacks: the regex yields 7 subword-ish tokens where whitespace sees
    1 — the divergence that makes pretokenizer choice a real budget
    decision when pricing a corpus in tokens.

    Scale shape: both counts are map-side scalar expressions fused into
    one scan; the agg is |langs| rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.concat(F.col("text"), F.lit(" v2.0-rc!"))
    return docs.groupBy("lang").agg(
        F.sum(F.size(F.split(t, " "))).cast("long").alias("ws_tokens"),
        F.sum(
            F.size(
                F.regexp_extract_all(
                    t, F.lit(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"), F.lit(0)
                )
            )
        )
        .cast("long")
        .alias("bpe_tokens"),
        F.sum(F.octet_length(t)).cast("long").alias("n_bytes"),
    )


@query(
    "negative_sampling_pairs",
    oracle="""
    WITH pos AS (
        SELECT DISTINCT o.o_custkey AS user_id, l.l_partkey AS item_id
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), nparts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM part
    ), cand AS (
        SELECT c.c_custkey AS user_id,
               CAST(j AS BIGINT) AS j,
               (c.c_custkey * 2654435761 + j * 40503) % np.n AS item_id
        FROM customer c
        CROSS JOIN nparts np
        CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j)
    ), negs AS (
        SELECT cd.user_id, cd.j, cd.item_id,
               ROW_NUMBER() OVER (PARTITION BY cd.user_id ORDER BY cd.j)
                   AS rnk
        FROM cand cd
        WHERE NOT EXISTS (
            SELECT 1 FROM pos p
            WHERE p.user_id = cd.user_id AND p.item_id = cd.item_id)
    )
    SELECT user_id, j, CAST(item_id AS BIGINT) AS neg_item
    FROM negs WHERE rnk <= 4
    """,
)
def negative_sampling_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    every user, 8 multiplicative-hash candidate items, anti-joined
    against the user's TRUE positives (parts they actually ordered),
    first 4 survivors kept by candidate index. No rand() — the sample
    is reproducible, growth-stable, and recomputable on any engine,
    which is what lets the gate hash-check a SAMPLER.

    This is the (user, pos, neg) triple factory of every two-tower /
    contrastive recsys and embedding pipeline; the reference's ALS
    implicitly samples negatives inside MLlib, here the engine owns it.

    Scale shape: candidates are a map-side explode (|users| x 8 narrow
    rows); the anti-join shuffles on (user_id, item_id) against the
    distinct positives; the per-user top-4 window rides the same user
    partitioning — WindowGroupLimit prunes to 4 per task. Positives
    are pre-collapsed by DISTINCT before the join, so the anti-join
    probe side is bounded by the user-item graph, not raw order lines.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    pos = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
        )
        .distinct()
    )
    nparts = part.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cand = (
        customer.select(F.col("c_custkey").alias("user_id"))
        .crossJoin(F.broadcast(nparts))
        .select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j"),
            F.col("n"),
        )
        .select(
            "user_id",
            F.col("j").cast("long").alias("j"),
            (
                (F.col("user_id") * F.lit(2654435761) + F.col("j") * 40503)
                % F.col("n")
            ).alias("item_id"),
        )
    )
    negs = cand.join(pos, ["user_id", "item_id"], "left_anti")
    w = Window.partitionBy("user_id").orderBy("j")
    return (
        negs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 4)
        .select("user_id", "j", F.col("item_id").cast("long").alias("neg_item"))
    )


def _kcore_oracle(k: int = 3, rounds: int = 13) -> str:
    """Unrolled peeling oracle for the k-core query: DuckDB's recursive
    CTEs disallow the per-round aggregate, so the bounded peel is
    unrolled (same device as the PageRank oracle). ``rounds`` exceeds
    the observed sf0.01 convergence depth (11); once the node set is
    stable, extra rounds are no-ops, and the ENGINE raises if its own
    loop ever needs more than its cap — the gate would surface any
    divergence as a hash mismatch."""
    parts = [
        """
    WITH b AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS MATERIALIZED (
        SELECT a.l_partkey AS u, b2.l_partkey AS v
        FROM b a JOIN b b2
          ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    n0 AS MATERIALIZED (SELECT u AS n FROM edges UNION SELECT v FROM edges)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
    deg{i} AS MATERIALIZED (
        SELECT nn, COUNT(*) AS d FROM (
            SELECT e.u AS nn FROM edges e
            JOIN n{i - 1} x ON e.u = x.n JOIN n{i - 1} y ON e.v = y.n
            UNION ALL
            SELECT e.v AS nn FROM edges e
            JOIN n{i - 1} x ON e.u = x.n JOIN n{i - 1} y ON e.v = y.n
        ) GROUP BY nn),
    n{i} AS MATERIALIZED (SELECT nn AS n FROM deg{i} WHERE d >= {k})"""
        )
    parts.append(
        f"""
    SELECT nn AS part_id, CAST(d AS BIGINT) AS core_degree
    FROM deg{rounds} WHERE d >= {k}"""
    )
    return "".join(parts)


@query("kcore_copurchase", oracle=_kcore_oracle())
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the part co-purchase graph (edges = part pairs bought
    together in >= 2 orders): the maximal subgraph where every part has
    >= 3 co-purchase partners — the dense-community primitive beside
    PageRank (importance), connected components (reachability), and
    triangle counting (local density). Peeling has a genuinely
    different iteration structure: vertices DELETED per round, not
    labels propagated, with a unique engine-independent fixpoint the
    unrolled-SQL oracle replays exactly.

    Scale shape: see operators/graph.py kcore_nodes — per round one
    degree agg + two semi-joins on the live-node relation; edges are
    filtered, never rewritten; per-round checkpoint truncation.
    """
    from pyspark_movie_recommender_spark.operators.graph import (
        copurchase_pairs,
        kcore_nodes,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # round 9: basket census (one fact exchange) replaces the items
    # self-join — see operators/graph.copurchase_pairs
    edges = copurchase_pairs(li, min_support=2).select("u", "v")
    core = kcore_nodes(edges, k=3)
    return core.select(
        F.col("n").alias("part_id"), F.col("degree").alias("core_degree")
    )


@query(
    "auc_order_status_price",
    oracle="""
    WITH scored AS (
        SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label,
               ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey)
                   AS rnk
        FROM orders
    ), agg AS (
        SELECT CAST(SUM(label) AS BIGINT)                       AS n_pos,
               CAST(COUNT(*) - SUM(label) AS BIGINT)            AS n_neg,
               CAST(SUM(CASE WHEN label = 1 THEN rnk END) AS BIGINT)
                   AS pos_rank_sum
        FROM scored
    )
    SELECT n_pos, n_neg,
           CAST((pos_rank_sum - n_pos * (n_pos + 1) // 2) * 1000000
                // (n_pos * n_neg) AS BIGINT) AS auc_ppm
    FROM agg
    """,
)
def auc_order_status_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC-ROC as a query: does order value rank 'F' (fulfilled)
    orders above the rest? AUC via the Mann-Whitney rank-sum identity
    — rank every row once by (score, key), sum positive ranks, and
    AUC = (S - n_pos(n_pos+1)/2) / (n_pos * n_neg), reported in exact
    ppm BIGINT arithmetic. The model-evaluation metric (ranking
    quality of a scorer) computed engine-side with zero floats — the
    eval loop of the quality-classifier components made gate-checkable.

    Scale shape: the global row_number goes through
    ``operators/rank.py:distributed_global_rank`` — range-bucket on
    o_totalprice (approxQuantile boundaries), per-bucket partitioned
    window, broadcast prefix-sum offsets — so no task ever sorts more
    than one bucket (a bare ``Window.orderBy`` would funnel ALL orders
    through one task). Then a scalar agg. Ties broken deterministically
    by (score, o_orderkey) so the rank sum is engine-exact; for
    approximate AUC at extreme scale, bucket scores and interpolate —
    kept exact here because the gate hashes values.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_global_rank,
    )

    orders = load_table(spark, sf_dir, "orders")
    ranked = distributed_global_rank(
        orders.select("o_totalprice", "o_orderkey", "o_orderstatus"),
        "o_totalprice",
        "o_orderkey",
        out_col="rnk",
    )
    scored = ranked.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("label"),
        "rnk",
    )
    agg = scored.agg(
        F.sum("label").cast("long").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("label")).cast("long").alias("n_neg"),
        F.sum(F.when(F.col("label") == 1, F.col("rnk"))).cast("long").alias(
            "pos_rank_sum"
        ),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.expr(
            "(pos_rank_sum - n_pos * (n_pos + 1) div 2) * 1000000"
            " div (n_pos * n_neg)"
        )
        .cast("long")
        .alias("auc_ppm"),
    )


# ---------------------------------------------------------------------------
# wave 28: embedding-truncation retrieval eval, drift audit, k-anonymity
# ---------------------------------------------------------------------------


@query(
    "matryoshka_overlap_at_k",
    oracle="""
    WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    probes AS (SELECT * FROM s WHERE vec_id < 10),
    full_rank AS (
        SELECT probe_id, neighbor_id FROM (
            SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.vec_id
                       ORDER BY ROUND(list_cosine_similarity(p.e, c.e), 6)
                                DESC, c.vec_id) AS rnk
            FROM probes p JOIN s c ON c.vec_id <> p.vec_id)
        WHERE rnk <= 10
    ), trunc_rank AS (
        SELECT probe_id, neighbor_id FROM (
            SELECT p.vec_id AS probe_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.vec_id
                       ORDER BY ROUND(list_cosine_similarity(
                                    p.e[1:16], c.e[1:16]), 6)
                                DESC, c.vec_id) AS rnk
            FROM probes p JOIN s c ON c.vec_id <> p.vec_id)
        WHERE rnk <= 10
    )
    SELECT f.probe_id,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS overlap_at_10
    FROM full_rank f
    LEFT JOIN trunc_rank t
      ON t.probe_id = f.probe_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.probe_id
    """,
)
def matryoshka_overlap_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation retrieval eval (matryoshka embeddings): how
    many of each probe's exact top-10 neighbours survive when cosine
    runs on only the FIRST 16 of 64 dimensions? The overlap@k number
    that decides whether truncated vectors (4x cheaper to store, scan,
    and shuffle) are good enough for first-stage retrieval — the
    quantization question asked about width instead of precision
    (see embedding_int8_quantize for the depth version).

    Scale shape: two broadcast-probe rank-limited scans (same plan as
    cosine_topk — corpus never shuffled), joined on (probe, neighbor)
    top-k rows only: |probes| x k rows into the final join, corpus
    touched exactly twice.
    """
    from pyspark_movie_recommender_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # the two rank passes (full-width vs truncated) are the query's
    # semantics — the corpus is scanned once per pass by design; the
    # tiny probe relations, though, need not re-scan the corpus at all
    probes = _ckpt(emb.filter(F.col("vec_id") < 10))
    full = cosine_topk_bruteforce(emb, probes, k=10)
    emb16 = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    probes16 = _ckpt(emb16.filter(F.col("vec_id") < 10))
    trunc = cosine_topk_bruteforce(emb16, probes16, k=10)
    f = full.select("probe_id", "neighbor_id")
    t = trunc.select(
        F.col("probe_id").alias("tp"), F.col("neighbor_id").alias("tn")
    )
    return (
        f.join(
            t,
            (F.col("tp") == F.col("probe_id")) & (F.col("tn") == F.col("neighbor_id")),
            "left",
        )
        .groupBy("probe_id")
        .agg(F.count("tn").cast("long").alias("overlap_at_10"))
    )


@query(
    "chi2_drift_events",
    oracle="""
    WITH slices AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS o_a,
               CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS o_b
        FROM events GROUP BY event_type
    ), tot AS (
        SELECT SUM(o_a) AS n_a, SUM(o_b) AS n_b FROM slices
    )
    SELECT s.event_type, s.o_a, s.o_b,
           CAST(ROUND(
               (s.o_a - (s.o_a + s.o_b) * t.n_a / (t.n_a + t.n_b))
             * (s.o_a - (s.o_a + s.o_b) * t.n_a / (t.n_a + t.n_b))
             / ((s.o_a + s.o_b) * t.n_a / (t.n_a + t.n_b))
             + (s.o_b - (s.o_a + s.o_b) * t.n_b / (t.n_a + t.n_b))
             * (s.o_b - (s.o_a + s.o_b) * t.n_b / (t.n_a + t.n_b))
             / ((s.o_a + s.o_b) * t.n_b / (t.n_a + t.n_b)),
             6) * 1000000 AS BIGINT) AS chi2_contrib_ppm
    FROM slices s CROSS JOIN tot t
    """,
)
def chi2_drift_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit: chi-square contributions of each event
    type between two population slices (homogeneity test) — the
    monitoring primitive behind train/serve skew alarms and canary
    analyses. Contributions are reported in exact-integer ppm (the
    double arithmetic is written identically on both engines, each
    op correctly rounded, then scaled and truncated to BIGINT), so
    drift magnitude is hash-checkable per category; the alert sums
    the contributions.

    Scale shape: the fact collapses to |event_types| rows in one
    map-side-partial agg; everything downstream is arithmetic on that
    tiny relation with the totals broadcast.
    """
    ev = load_table(spark, sf_dir, "events")
    slices = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("o_a"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("o_b"),
    )
    tot = slices.agg(
        F.sum("o_a").alias("n_a"), F.sum("o_b").alias("n_b")
    )
    joined = slices.crossJoin(F.broadcast(tot))
    contrib = F.expr(
        "CAST(ROUND("
        "  (o_a - (o_a + o_b) * n_a / (n_a + n_b))"
        "* (o_a - (o_a + o_b) * n_a / (n_a + n_b))"
        "/ ((o_a + o_b) * n_a / (n_a + n_b))"
        "+ (o_b - (o_a + o_b) * n_b / (n_a + n_b))"
        "* (o_b - (o_a + o_b) * n_b / (n_a + n_b))"
        "/ ((o_a + o_b) * n_b / (n_a + n_b)),"
        "  6) * 1000000 AS BIGINT)"
    )
    return joined.select(
        "event_type", "o_a", "o_b", contrib.alias("chi2_contrib_ppm")
    )


@query(
    "k_anonymity_audit",
    oracle="""
    WITH qi AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
               COUNT(*) AS grp_n
        FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST(COUNT(*) AS BIGINT)                                  AS n_groups,
           CAST(SUM(CASE WHEN grp_n < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_risky_groups,
           CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) AS BIGINT)
               AS n_risky_rows,
           CAST(SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) * 1000000
                // SUM(grp_n) AS BIGINT)                             AS risky_ppm
    FROM qi
    """,
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (nation, market
    segment, $1000 balance band): how many QI groups have fewer than
    k=5 members — the rows a release would have to suppress or
    generalize because their QI combination re-identifies them. The
    measurement half of the privacy surface, beside the GDPR erasure
    audit's enforcement half.

    Scale shape: one hash agg on the QI key (map-side partials), then
    a scalar agg over group counts — the fact is scanned once and
    never leaves the executors.
    """
    cust = load_table(spark, sf_dir, "customer")
    qi = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("grp_n"))
    risky = F.when(F.col("grp_n") < 5, F.col("grp_n")).otherwise(0)
    return qi.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(F.col("grp_n") < 5, 1).otherwise(0))
        .cast("long")
        .alias("n_risky_groups"),
        F.sum(risky).cast("long").alias("n_risky_rows"),
        F.expr(
            "SUM(CASE WHEN grp_n < 5 THEN grp_n ELSE 0 END) * 1000000"
            " div SUM(grp_n)"
        )
        .cast("long")
        .alias("risky_ppm"),
    )


# ---------------------------------------------------------------------------
# wave 30: nested scaling samples, length-bucketed batching, incremental
# view maintenance
# ---------------------------------------------------------------------------


@query(
    "nested_scaling_samples",
    oracle="""
    WITH h AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n_tokens,
               (doc_id * 2654435761) % 4294967296 AS hv
        FROM documents
    ), tagged AS (
        SELECT lang, n_tokens,
               CASE WHEN hv * 100 < 4294967296 * 1  THEN 'p01'
                    WHEN hv * 100 < 4294967296 * 10 THEN 'p10'
                    ELSE 'rest' END AS tier
        FROM h
    )
    SELECT lang, tier,
           CAST(COUNT(*) AS BIGINT)      AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM tagged GROUP BY lang, tier
    """,
)
def nested_scaling_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested subsampling for scaling-law runs: 1% / 10% / 100% corpus
    subsets that are NESTED BY CONSTRUCTION — one multiplicative hash,
    two thresholds on the same value, so every doc in the 1% tier is in
    the 10% tier is in the full set. Train the small runs on strict
    subsets of the big run's data (the scaling-law protocol) without a
    sample table or rand(); membership is recomputable map-side on any
    engine, which is also what the gate hash-checks.

    Scale shape: pure projection + one (lang, tier) hash agg; no
    shuffle before the agg, no sample materialization ever.
    """
    docs = load_table(spark, sf_dir, "documents")
    hv = (F.col("doc_id") * F.lit(2654435761)) % F.lit(4294967296)
    tier = (
        F.when(hv * 100 < F.lit(4294967296) * 1, "p01")
        .when(hv * 100 < F.lit(4294967296) * 10, "p10")
        .otherwise("rest")
    )
    return (
        docs.select(
            "lang",
            F.size(F.split("text", " ")).alias("n_tokens"),
            tier.alias("tier"),
        )
        .groupBy("lang", "tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


@query(
    "length_bucketed_batches",
    oracle="""
    WITH d AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ), bucketed AS (
        SELECT doc_id, n_tokens,
               CAST(n_tokens // 16 AS BIGINT) AS bucket,
               CAST((ROW_NUMBER() OVER (PARTITION BY n_tokens // 16
                                        ORDER BY doc_id) - 1) // 8 AS BIGINT)
                   AS batch_id
        FROM d
    )
    SELECT bucket, batch_id,
           CAST(COUNT(*) AS BIGINT)       AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT)  AS token_sum,
           CAST(MAX(n_tokens) AS BIGINT)  AS max_len,
           CAST((MAX(n_tokens) * COUNT(*) - SUM(n_tokens)) * 1000000
                // (MAX(n_tokens) * COUNT(*)) AS BIGINT) AS pad_waste_ppm
    FROM bucketed GROUP BY bucket, batch_id
    """,
)
def length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed inference batching: docs grouped into 16-token
    length buckets, then numbered into batches of 8 inside each bucket;
    per batch, the padding-waste ppm — the fraction of a padded
    (max_len x batch) tensor that is padding. THE serving-cost metric
    that bucketed batching exists to minimize: random batching pads
    every sequence to the global max, bucketing pads only to the
    bucket-local max.

    Scale shape: one shuffle on the length bucket; the row_number
    window and the (bucket, batch) agg share that partitioning. Bucket
    population is corpus/|buckets| — no per-key blowup.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    ).withColumn("bucket", F.expr("n_tokens div 16").cast("long"))
    w = Window.partitionBy("bucket").orderBy("doc_id")
    b = d.withColumn(
        "batch_id", F.expr(f"(row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) div 8").cast("long")
    )
    return b.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("token_sum"),
        F.max("n_tokens").cast("long").alias("max_len"),
        F.expr(
            "(MAX(n_tokens) * COUNT(*) - SUM(n_tokens)) * 1000000"
            " div (MAX(n_tokens) * COUNT(*))"
        )
        .cast("long")
        .alias("pad_waste_ppm"),
    )


@query(
    "incremental_view_maintenance",
    oracle="""
    -- the oracle recomputes the view FROM SCRATCH over all rows;
    -- the engine merges a base aggregate with a CDC delta — hash
    -- equality proves merge == rescan
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
               AS BIGINT) AS revenue_cents
    FROM orders GROUP BY o_custkey
    """,
)
def incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a per-customer revenue view is
    maintained by MERGING yesterday's materialized aggregate with
    today's delta batch — never rescanning the base. Here the fact is
    deterministically split into base (o_orderkey % 97 != 0) and a
    late-arriving delta (% 97 == 0); the engine aggregates each side
    and full-outer merges with coalesced partial sums. The oracle
    recomputes the view from scratch over everything — hash equality
    IS the IVM correctness proof (aggregate merge == rescan), the
    property that lets a 100 TB nightly view absorb a 10 GB delta in
    delta-sized time.

    Scale shape: both partial aggs are map-side-combined hash aggs on
    the view key; the merge join shares the same key partitioning, so
    the whole maintenance step is one delta-scan + one co-partitioned
    join against the stored view.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")

    def agg_view(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(cents).cast("long").alias("revenue_cents"),
        )

    base_view = agg_view(orders.filter(F.col("o_orderkey") % 97 != 0))
    delta_view = agg_view(orders.filter(F.col("o_orderkey") % 97 == 0)).select(
        F.col("o_custkey").alias("d_custkey"),
        F.col("n_orders").alias("d_n"),
        F.col("revenue_cents").alias("d_cents"),
    )
    merged = base_view.join(
        delta_view, base_view.o_custkey == delta_view.d_custkey, "full_outer"
    )
    return merged.select(
        F.coalesce("o_custkey", "d_custkey").alias("o_custkey"),
        (F.coalesce("n_orders", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
        .cast("long")
        .alias("n_orders"),
        (
            F.coalesce("revenue_cents", F.lit(0))
            + F.coalesce("d_cents", F.lit(0))
        )
        .cast("long")
        .alias("revenue_cents"),
    )


@query(
    "entity_resolution_pipeline",
    oracle="""
    WITH RECURSIVE pairs AS (
        SELECT a.p_partkey AS key_a, b.p_partkey AS key_b
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand
         AND split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
         AND a.p_partkey < b.p_partkey
        WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.84
    ), bi AS (
        SELECT key_a AS u, key_b AS v FROM pairs
        UNION SELECT key_b, key_a FROM pairs
    ), reach(id, label) AS (
        SELECT DISTINCT u AS id, u AS label FROM bi
        UNION
        SELECT bi.u, r.label FROM reach r JOIN bi ON bi.v = r.id
    ), comp AS (
        SELECT id, MIN(label) AS entity_id FROM reach GROUP BY id
    )
    SELECT c.entity_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(CASE WHEN c.id = c.entity_id THEN p.p_name END)
               AS canonical_name
    FROM comp c JOIN part p ON p.p_partkey = c.id
    GROUP BY c.entity_id
    """,
)
def entity_resolution_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution as ONE composed plan: blocked
    Jaro-Winkler candidate scoring (the cross-engine value-checked
    UDF) → connected components over the >= 0.84 match graph →
    per-entity rollup with the canonical record (min-key member's
    name). The match/cluster/survivorship pipeline every MDM system
    runs, built from this engine's own verified operators — like
    curation_end_to_end, the composition is the check that the pieces
    pipeline without materialization barriers.

    Covers multi-member entities (singletons never enter the pair
    graph — the identity entity is a left-anti complement if needed).

    Scale shape: blocking equi-join bounds the UDF shortlist; CC runs
    O(diameter) rounds on the match edges only (name-match graphs are
    unions of small cliques); the rollup joins part on the component
    members, nation-sized, broadcast-eligible.
    """
    from pyspark_movie_recommender_spark.operators.graph import connected_components

    pairs = QUERIES["jaro_winkler_name_pairs"](spark, sf_dir).select(
        "key_a", "key_b"
    )
    comp = connected_components(pairs, src="key_a", dst="key_b")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), "p_name"
    )
    members = comp.join(part, "id")
    return members.groupBy(F.col("component").alias("entity_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min(
            F.when(F.col("id") == F.col("component"), F.col("p_name"))
        ).alias("canonical_name"),
    )


@query(
    "blocking_quality_report",
    oracle="""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM part),
    cand AS (
        SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
               jaro_winkler_similarity(a.p_name, b.p_name) AS jw
        FROM part a JOIN part b
          ON a.p_brand = b.p_brand
         AND split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
         AND a.p_partkey < b.p_partkey
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
               CAST(SUM(CASE WHEN jw >= 0.84 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_matches
        FROM cand
    )
    SELECT n.n_rows,
           CAST(n.n_rows * (n.n_rows - 1) // 2 AS BIGINT)
               AS n_possible_pairs,
           a.n_candidates,
           a.n_matches,
           CAST(1000000
                - a.n_candidates * 1000000
                  // (n.n_rows * (n.n_rows - 1) // 2)
                AS BIGINT)                         AS reduction_ppm,
           CAST(a.n_matches * 1000000 // a.n_candidates AS BIGINT)
               AS precision_ppm
    FROM n CROSS JOIN agg a
    """,
)
def blocking_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-quality metrics for the entity-resolution pipeline:
    reduction ratio (how much of the quadratic pair space the blocking
    key eliminates) and candidate precision (what fraction of
    surviving candidates actually match at >= 0.84) — the two numbers
    that justify a blocking scheme before anyone pays for the scorer.
    Exact ppm integers, single scan for the corpus count, blocking
    join reused from the ER pipeline.

    Scale shape: the report runs the same bounded blocking join as the
    pipeline plus one count — no new quadratic anything; the naive
    pair count is arithmetic on a scalar.
    """
    from pyspark_movie_recommender_spark.operators.udf_surface import jaro_winkler

    part = load_table(spark, sf_dir, "part")
    n = part.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    a = part.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
        F.col("p_brand").alias("brand"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"),
    )
    b = part.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
        F.col("p_brand").alias("brand"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(2)).alias("noun"),
    )
    cand = (
        a.join(b, ["brand", "noun"])
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("jw", jaro_winkler(F.col("name_a"), F.col("name_b")))
    )
    agg = cand.agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum(F.when(F.col("jw") >= 0.84, 1).otherwise(0))
        .cast("long")
        .alias("n_matches"),
    )
    return n.crossJoin(F.broadcast(agg)).select(
        "n_rows",
        F.expr("n_rows * (n_rows - 1) div 2")
        .cast("long")
        .alias("n_possible_pairs"),
        "n_candidates",
        "n_matches",
        F.expr(
            "CAST(1000000 - n_candidates * 1000000"
            " div (n_rows * (n_rows - 1) div 2) AS BIGINT)"
        ).alias("reduction_ppm"),
        F.expr("n_matches * 1000000 div n_candidates")
        .cast("long")
        .alias("precision_ppm"),
    )


_MODERN_SQL = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
               AS n_fulfilled,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
               AS fulfilled_cents
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """


@query("sql_modern_syntax", oracle=_MODERN_SQL)
def sql_modern_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern ANSI surface through the shared-dialect entry point: one
    string using GROUP BY ALL, aggregate FILTER clauses, and ORDER BY
    ALL runs verbatim on both Catalyst and DuckDB — the
    convenience syntax an analyst actually writes, pinned compatible.
    FILTER is the pre-aggregate predicate form (cleaner than
    CASE-in-SUM and planner-visible); GROUP BY ALL derives the keys
    from the non-aggregate select list.

    Scale shape: identical to the CASE-in-SUM forms — one map-side
    partial hash agg; exact cents BIGINT.
    """
    from pyspark_movie_recommender_spark.sources import register_views

    register_views(spark, sf_dir, "orders")
    return spark.sql(_MODERN_SQL)


@query(
    "null_safe_join_events",
    oracle="""
    WITH a AS (
        SELECT event_id, NULLIF(event_type, 'error') AS k
        FROM events WHERE event_id % 2 = 0
    ), b AS (
        SELECT event_id, NULLIF(event_type, 'error') AS k
        FROM events WHERE event_id % 2 = 1
    )
    SELECT COALESCE(a.k, '<null>') AS join_key,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY 1
    """,
)
def null_safe_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join: ``<=>`` join keys treat NULL as a VALUE
    (NULL matches NULL), unlike plain ``=`` which drops every
    null-keyed row from an inner join — the semantics CDC merge keys
    and nullable dimension keys actually need. Spark plans
    ``eqNullSafe`` as a hashable join key (no fallback to nested-loop),
    which is the part worth pinning at scale.

    The fixture NULLIFs one event type so both sides carry real null
    keys; output counts pairs per (coalesced) key.

    Scale shape: standard hash equi-join on the null-safe key — same
    single shuffle as ``=``; the null bucket is one more key.
    """
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") % 2 == 0).select(
        F.nullif(F.col("event_type"), F.lit("error")).alias("ka")
    )
    b = ev.filter(F.col("event_id") % 2 == 1).select(
        F.nullif(F.col("event_type"), F.lit("error")).alias("kb")
    )
    joined = a.join(b, F.col("ka").eqNullSafe(F.col("kb")))
    return joined.groupBy(
        F.coalesce("ka", F.lit("<null>")).alias("join_key")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))


@query(
    "dedup_threshold_sweep",
    oracle="""
    WITH sub AS (
        SELECT doc_id, trim(text) AS tx FROM documents WHERE doc_id % 25 = 0
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_filter(
                   list_transform(range(1, greatest(length(tx) - 2, 1) + 1),
                                  i -> substring(tx, CAST(i AS INT), 3)),
                   g -> length(g) > 0)) AS shingles
        FROM sub
    ), nonempty AS (
        SELECT * FROM sh WHERE len(shingles) > 0
    ), ex0 AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM nonempty
    ), keep AS (
        SELECT shingle FROM ex0 GROUP BY shingle HAVING COUNT(*) <= 15
    ), ex AS (
        SELECT ex0.doc_id, ex0.shingle FROM ex0 JOIN keep USING (shingle)
    ), sz AS (
        SELECT doc_id, COUNT(*) AS sz FROM ex GROUP BY doc_id
    ), shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), j AS (
        SELECT n_shared, sa.sz + sb.sz - n_shared AS un
        FROM shared
        JOIN sz sa ON sa.doc_id = id_a
        JOIN sz sb ON sb.doc_id = id_b
    ), bands(thr_permille) AS (
        SELECT unnest([300, 400, 500, 600, 700, 800, 900])
    )
    SELECT CAST(b.thr_permille AS BIGINT) AS thr_permille,
           CAST(SUM(CASE WHEN j.n_shared * 1000 >= b.thr_permille * j.un
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
    FROM bands b CROSS JOIN j
    GROUP BY b.thr_permille
    """,
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup operating-point selection: cumulative near-dup pair counts
    at Jaccard thresholds 0.3-0.9 from ONE candidate-generation pass —
    the sweep that picks a production threshold (too low = collapse
    distinct docs, too high = keep near-copies). All comparisons are
    the integer cross-product form ``1000*shared >= thr*union`` — no
    float boundary can flip a band.

    Scale shape: the shared-shingle join (df-capped) runs ONCE; the
    sweep is a 7-band conditional aggregation over the pair counts —
    adding operating points costs nothing.
    """
    from pyspark_movie_recommender_spark.operators.dedup import shingle_candidates

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    shared, sizes = shingle_candidates(
        docs, "text", "doc_id", max_shingle_df=15
    )
    j = (
        shared.join(
            sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("sza")),
            "id_a",
        )
        .join(
            sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("szb")),
            "id_b",
        )
        .select(
            "n_shared",
            (F.col("sza") + F.col("szb") - F.col("n_shared")).alias("un"),
        )
    )
    bands = spark.createDataFrame(
        [(t,) for t in (300, 400, 500, 600, 700, 800, 900)], "thr_permille long"
    )
    return (
        F.broadcast(bands)
        .crossJoin(j)
        .groupBy("thr_permille")
        .agg(
            F.sum(
                F.when(
                    F.col("n_shared") * 1000 >= F.col("thr_permille") * F.col("un"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_pairs")
        )
    )


@query(
    "dedup_impact_report",
    oracle="""
    WITH RECURSIVE sub AS (
        SELECT doc_id, trim(text) AS tx FROM documents WHERE doc_id % 25 = 0
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_filter(
                   list_transform(range(1, greatest(length(tx) - 2, 1) + 1),
                                  i -> substring(tx, CAST(i AS INT), 3)),
                   g -> length(g) > 0)) AS shingles
        FROM sub
    ), nonempty AS (
        SELECT * FROM sh WHERE len(shingles) > 0
    ), ex AS (
        SELECT doc_id, unnest(shingles) AS shingle FROM nonempty
    ), shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), pairs AS (
        SELECT id_a, id_b
        FROM shared
        JOIN (SELECT doc_id, len(shingles) AS sz FROM nonempty) sa ON sa.doc_id = id_a
        JOIN (SELECT doc_id, len(shingles) AS sz FROM nonempty) sb ON sb.doc_id = id_b
        WHERE n_shared * 1.0 / (sa.sz + sb.sz - n_shared) >= 0.5
    ), bi AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach(id, label) AS (
        SELECT DISTINCT u AS id, u AS label FROM bi
        UNION
        SELECT bi.u, r.label FROM reach r JOIN bi ON bi.v = r.id
    ), comp AS (
        SELECT id, MIN(label) AS component FROM reach GROUP BY id
    ), removed AS (
        SELECT id FROM comp WHERE id <> component
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs_subset,
           CAST(SUM(CASE WHEN r.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
           CAST(SUM(CASE WHEN r.id IS NOT NULL
                    THEN len(string_split(d.text, ' ')) ELSE 0 END) AS BIGINT)
               AS tokens_removed
    FROM (SELECT * FROM documents WHERE doc_id % 25 = 0) d
    LEFT JOIN removed r ON r.id = d.doc_id
    GROUP BY d.lang
    """,
)
def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What dedup actually costs the corpus: exact-Jaccard pairs →
    connected components → min-id keepers, then the per-language
    removal bill — docs dropped and tokens lost. The report a data
    lead reads before approving a dedup config (the threshold sweep
    picks the operating point; this shows its consequences).

    Composition #3 (after curation_end_to_end and
    entity_resolution_pipeline): pairs, clustering, survivorship, and
    reporting pipeline from verified operators in one lazy plan.

    Scale shape: pair generation is the df-capped shingle join on a
    sampled subset; CC rounds on pair edges only; the final report is
    a broadcast-eligible join of the (tiny) removed-id set back onto
    the subset scan.
    """
    from pyspark_movie_recommender_spark.operators.dedup import ngram_jaccard_pairs
    from pyspark_movie_recommender_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5)
    comp = connected_components(pairs)
    removed = comp.filter(F.col("id") != F.col("component")).select("id")
    flagged = docs.join(
        F.broadcast(removed.withColumnRenamed("id", "doc_id").withColumn(
            "is_removed", F.lit(True)
        )),
        "doc_id",
        "left",
    )
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_subset"),
        F.sum(F.when(F.col("is_removed"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.sum(
            F.when(
                F.col("is_removed"), F.size(F.split("text", " "))
            ).otherwise(0)
        )
        .cast("long")
        .alias("tokens_removed"),
    )


# ---------------------------------------------------------------------------
# wave 36: A/B readout, TTL forward-fill, trending stream twin
# ---------------------------------------------------------------------------


@query(
    "ab_experiment_readout",
    oracle="""
    WITH assigned AS (
        SELECT user_id,
               CASE WHEN (user_id * 2654435761) % 100 < 50
                    THEN 'control' ELSE 'treatment' END AS arm,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    )
    SELECT arm,
           CAST(COUNT(*) AS BIGINT)        AS n_users,
           CAST(SUM(converted) AS BIGINT)  AS n_converted,
           CAST(SUM(converted) * 1000000 // COUNT(*) AS BIGINT)
               AS conv_ppm
    FROM assigned GROUP BY arm
    """,
)
def ab_experiment_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: deterministic 50/50 hash assignment of
    users to arms (the SAME multiplicative hash family as the
    train/test splitter — assignment is reproducible, growth-stable,
    and auditable), then per-arm user counts and conversion in exact
    ppm. The experimentation-platform primitive: no assignment table,
    no rand(), any engine recomputes the same arms.

    Scale shape: per-user conversion collapses map-side into the
    user_id agg; arm assignment is arithmetic on the group key; the
    readout is a 2-row agg.
    """
    ev = load_table(spark, sf_dir, "events")
    assigned = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select(
        F.when(
            (F.col("user_id") * 2654435761) % 100 < 50, "control"
        )
        .otherwise("treatment")
        .alias("arm"),
        "converted",
    )
    return assigned.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
        F.expr("SUM(converted) * 1000000 div COUNT(*)")
        .cast("long")
        .alias("conv_ppm"),
    )


@query(
    "locf_with_ttl",
    oracle="""
    WITH daily AS (
        SELECT user_id,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(FLOOR(SUM(value) * 100 + 0.5) AS BIGINT) AS cents
        FROM events WHERE user_id < 30
        GROUP BY 1, 2
    ), bounds AS (
        SELECT user_id, MIN(day) AS lo, MAX(day) AS hi FROM daily GROUP BY user_id
    ), grid AS (
        SELECT b.user_id, CAST(gs.g AS BIGINT) AS day
        FROM bounds b, LATERAL (
            SELECT unnest(generate_series(b.lo, b.hi)) AS g) gs
    ), joined AS (
        SELECT g.user_id, g.day, d.cents
        FROM grid g LEFT JOIN daily d
          ON d.user_id = g.user_id AND d.day = g.day
    )
    SELECT user_id, day,
           COALESCE(cents,
               LAST_VALUE(cents IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   RANGE BETWEEN 3 PRECEDING AND 1 PRECEDING),
               0) AS filled_cents
    FROM joined
    """,
)
def locf_with_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill WITH EXPIRY: gap-filled per-user daily spend where
    a missing day carries the last observation forward at most 3 days
    (RANGE frame on the day axis), then falls to 0 — the sensor/
    feature-store freshness contract ('stale after N days') that plain
    LOCF silently violates. Exact BIGINT cents.

    Scale shape: same grid-explode + co-partitioned left join as
    forward_fill_user_value; the TTL is free — the RANGE frame bound
    replaces the unbounded-preceding frame, same single exchange.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    daily = ev.groupBy(
        "user_id", F.expr("unix_micros(CAST(ts AS timestamp_ltz)) div 86400000000").cast("long").alias("day")
    ).agg(
        F.floor(F.sum("value") * 100 + 0.5).cast("long").alias("cents")
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    grid = bounds.select(
        "user_id", F.explode(F.sequence("lo", "hi")).alias("day")
    )
    joined = grid.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rangeBetween(-3, -1)
    )
    return joined.select(
        "user_id",
        "day",
        F.coalesce(
            "cents", F.last("cents", ignorenulls=True).over(w), F.lit(0)
        ).alias("filled_cents"),
    )


@query(
    "binary_codec_suite",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN base64(props::BLOB) = base64(props::BLOB)
                          AND from_base64(base64(props::BLOB)) = props::BLOB
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_b64_roundtrip,
           min(base64(props::BLOB))                    AS min_b64,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT)                             AS k_sum_json
    FROM events GROUP BY event_type
    """,
)
def binary_codec_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec surface: base64 encode/decode roundtrip over the
    raw payload bytes (the wire format for binary columns in JSON/REST
    hand-offs), cross-checked VALUE-wise — DuckDB computes its own
    base64 of the same bytes and the gate compares the strings — plus
    the JSON-extracted control sum. Every row must survive the
    encode→decode roundtrip bit-for-bit.

    Scale shape: pure map-side codecs fused into one scan; |types|-row
    agg. Base64 inflates bytes 4/3 — the docstring-level reminder that
    payload columns should ship as binary, not base64 text, between
    engine stages.
    """
    ev = load_table(spark, sf_dir, "events")
    raw = F.encode(F.col("props"), "UTF-8")
    b64 = F.base64(raw)
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(
            F.when(F.unbase64(b64) == raw, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_b64_roundtrip"),
        F.min(b64).alias("min_b64"),
        F.sum(F.get_json_object("props", "$.k").cast("long"))
        .cast("long")
        .alias("k_sum_json"),
    )


@query(
    "xml_shred_events",
    oracle="""
    -- the oracle never parses XML: it extracts k from the ORIGINAL
    -- JSON. The engine round-trips the value through to_xml/from_xml,
    -- so equality proves the XML codec preserves the data.
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS k_sum,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events GROUP BY event_type
    """,
)
def xml_shred_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest surface: each event's payload re-serialized as an
    XML document (``to_xml`` of a struct) and shredded back with
    ``from_xml`` + an explicit schema — the Spark 4 native-XML path
    (no spark-xml package). The oracle reads the value from the
    ORIGINAL JSON, so hash equality proves the to_xml→from_xml
    round-trip is lossless — the same source-of-truth trick as the
    Arrow-kernel and base64 checks.

    Scale shape: map-side serialize+parse fused into the scan; one
    small agg. XML parse is the costliest codec here — fine for
    ingest-boundary columns, not for hot-loop re-parsing (shred once,
    as with VARIANT).
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    xml = F.to_xml(F.struct(k.alias("k")), {"rootTag": "r"})
    parsed = F.from_xml(xml, "k LONG")
    return ev.select("event_type", parsed.alias("p")).groupBy(
        "event_type"
    ).agg(
        F.sum(F.col("p.k")).cast("long").alias("k_sum"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


@query(
    "preference_pairs_by_quality",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               CAST(len(string_split(text, ' ')) // 20 AS BIGINT) AS len_band,
               CAST(len(list_distinct(string_split(text, ' '))) * 1000000
                    // len(string_split(text, ' ')) AS BIGINT) AS quality_ppm
        FROM documents
    )
    SELECT lang, len_band,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(quality_ppm * 10000000 + doc_id) % 10000000 AS BIGINT)
               AS chosen_id,
           CAST(MIN(quality_ppm * 10000000 + doc_id) % 10000000 AS BIGINT)
               AS rejected_id,
           CAST(MAX(quality_ppm * 10000000 + doc_id) // 10000000
              - MIN(quality_ppm * 10000000 + doc_id) // 10000000 AS BIGINT)
               AS margin_ppm
    FROM scored GROUP BY lang, len_band
    HAVING COUNT(*) >= 2
    """,
)
def preference_pairs_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for reward-model / DPO training:
    within each (language, length-band) group, pair the highest-quality
    document (chosen) with the lowest (rejected) and report the quality
    margin — the data factory that turns a scored corpus into
    comparison training rows. Quality = distinct-token ratio in exact
    ppm; argmax/argmin are the packed integer ``score*K + id`` trick
    (single aggregate, deterministic tie-break by id, no window sort).

    Scale shape: one scan, one (lang, band) hash agg with map-side
    partials — the min/max packing replaces two rank windows.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    scored = docs.select(
        "doc_id",
        "lang",
        F.expr("size(split(text, ' ')) div 20").cast("long").alias("len_band"),
        F.expr(
            "size(array_distinct(split(text, ' '))) * 1000000"
            " div size(split(text, ' '))"
        )
        .cast("long")
        .alias("quality_ppm"),
    )
    packed = F.col("quality_ppm") * 10000000 + F.col("doc_id")
    return (
        scored.groupBy("lang", "len_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (F.max(packed) % 10000000).cast("long").alias("chosen_id"),
            (F.min(packed) % 10000000).cast("long").alias("rejected_id"),
            (
                F.expr("MAX(quality_ppm * 10000000 + doc_id) div 10000000")
                - F.expr("MIN(quality_ppm * 10000000 + doc_id) div 10000000")
            )
            .cast("long")
            .alias("margin_ppm"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@query(
    "token_dropout_augment",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(toks) - len(list_filter(
                list_transform(range(1, len(toks) + 1),
                               i -> CASE WHEN i % 7 <> 0 THEN toks[i] END),
                x -> x IS NOT NULL)) AS BIGINT) AS n_dropped,
           array_to_string(list_filter(
               list_transform(range(1, len(toks) + 1),
                              i -> CASE WHEN i % 7 <> 0 THEN toks[i] END),
               x -> x IS NOT NULL), ' ') AS aug_text
    FROM t
    """,
)
def token_dropout_augment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data augmentation: word dropout that removes every
    7th token (position-based, so the augmentation is reproducible and
    hash-checkable — the seeded-random equivalent for a gate that
    compares engines). Produces the augmented text plus drop
    accounting; the training pipeline unions augmented rows with
    originals at a chosen rate.

    Scale shape: pure in-row array transform+filter — zero shuffles,
    no explode; the corpus is rewritten map-side.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr("size(split(text, ' '))").cast("long").alias("n_tokens"),
        F.expr(
            "size(split(text, ' ')) - size(filter("
            " transform(split(text, ' '), (x, i) ->"
            "  CASE WHEN (i + 1) % 7 != 0 THEN x END), x -> x IS NOT NULL))"
        )
        .cast("long")
        .alias("n_dropped"),
        F.expr(
            "array_join(filter(transform(split(text, ' '), (x, i) ->"
            " CASE WHEN (i + 1) % 7 != 0 THEN x END), x -> x IS NOT NULL), ' ')"
        ).alias("aug_text"),
    )


# ---------------------------------------------------------------------------
# wave 42: split-leakage audit + cross-source dedup ownership
# ---------------------------------------------------------------------------


@query(
    "split_leakage_audit",
    oracle="""
    WITH assigned AS (
        SELECT doc_id, sha256(text) AS h,
               CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
                    WHEN (doc_id * 2654435761) % 100 < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ), by_hash AS (
        SELECT h,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT split) AS n_splits
        FROM assigned GROUP BY h
    )
    SELECT CAST(COUNT(*) AS BIGINT)                                AS n_hashes,
           CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_leaked_hashes,
           CAST(SUM(CASE WHEN n_splits > 1 THEN n_docs ELSE 0 END) AS BIGINT)
               AS n_leaked_docs
    FROM by_hash
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test leakage audit: documents whose EXACT content
    appears in more than one split — the evaluation-hygiene bug that
    silently inflates held-out metrics (decontamination's n-gram check
    catches paraphrase overlap with EXTERNAL eval sets; this catches
    exact duplicates straddling the pipeline's OWN split boundaries).
    Splits come from the deterministic multiplicative hash (80/10/10),
    so the audit is reproducible anywhere.

    The clean protocol — dedup BEFORE splitting, or split by content
    hash instead of doc id — makes this report all zeros; run it as a
    release gate.

    Scale shape: one scan → (hash) hash-agg with map-side partials →
    scalar rollup; no joins.
    """
    docs = load_table(spark, sf_dir, "documents")
    split = (
        F.when((F.col("doc_id") * 2654435761) % 100 < 80, "train")
        .when((F.col("doc_id") * 2654435761) % 100 < 90, "val")
        .otherwise("test")
    )
    assigned = docs.select(F.sha2("text", 256).alias("h"), split.alias("split"))
    by_hash = assigned.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("split").alias("n_splits"),
    )
    return by_hash.agg(
        F.count(F.lit(1)).cast("long").alias("n_hashes"),
        F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_leaked_hashes"),
        F.sum(F.when(F.col("n_splits") > 1, F.col("n_docs")).otherwise(0))
        .cast("long")
        .alias("n_leaked_docs"),
    )


@query(
    "cross_source_dedup_ownership",
    oracle="""
    WITH hashed AS (
        SELECT doc_id, source, sha256(text) AS h FROM documents
    ), keepers AS (
        SELECT h, MIN(doc_id) AS keeper_id FROM hashed GROUP BY h
    ), judged AS (
        SELECT d.source,
               CASE WHEN d.doc_id = k.keeper_id THEN 0 ELSE 1 END AS lost,
               CASE WHEN d.doc_id <> k.keeper_id
                     AND kd.source <> d.source THEN 1 ELSE 0 END
                   AS lost_to_other_source
        FROM hashed d
        JOIN keepers k ON k.h = d.h
        JOIN hashed kd ON kd.doc_id = k.keeper_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT)                 AS n_docs,
           CAST(SUM(lost) AS BIGINT)                AS n_lost,
           CAST(SUM(lost_to_other_source) AS BIGINT)
               AS n_lost_to_other_source
    FROM judged GROUP BY source
    """,
)
def cross_source_dedup_ownership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup ownership across sources: when identical content exists in
    several crawls, min-id survivorship decides which SOURCE keeps the
    canonical copy — and every other source's copy is 'lost', possibly
    to a competitor crawl. The per-source bill (docs lost, docs lost to
    ANOTHER source) is the negotiation table for mixture weights after
    dedup: a source whose content is always owned elsewhere contributes
    nothing to the final corpus.

    Scale shape: hash → keeper agg (map-side partials), then two
    co-partitioned joins keyed on the hash / keeper id; no quadratic
    anything — the keeper relation is |distinct hashes|.
    """
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", "source", F.sha2("text", 256).alias("h")
    )
    keepers = hashed.groupBy("h").agg(F.min("doc_id").alias("keeper_id"))
    keeper_src = hashed.select(
        F.col("doc_id").alias("keeper_id"), F.col("source").alias("keeper_source")
    )
    judged = (
        hashed.join(keepers, "h")
        .join(keeper_src, "keeper_id")
        .select(
            "source",
            F.when(F.col("doc_id") == F.col("keeper_id"), 0)
            .otherwise(1)
            .alias("lost"),
            F.when(
                (F.col("doc_id") != F.col("keeper_id"))
                & (F.col("keeper_source") != F.col("source")),
                1,
            )
            .otherwise(0)
            .alias("lost_to_other_source"),
        )
    )
    return judged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("lost").cast("long").alias("n_lost"),
        F.sum("lost_to_other_source").cast("long").alias("n_lost_to_other_source"),
    )


# ---------------------------------------------------------------------------
# wave 43: weighted sampling, sorted-neighborhood blocking, isotonic fit
# ---------------------------------------------------------------------------


@query(
    "weighted_sample_parts",
    oracle="""
    WITH keyed AS (
        SELECT p_partkey, p_retailprice,
               ROUND(ln(((p_partkey * 2654435761) % 1000000007 + 1)
                         / 1000000009.0) / p_retailprice, 9) AS skey
        FROM part
    )
    SELECT p_partkey, ROUND(p_retailprice, 2) AS weight, skey
    FROM keyed
    ORDER BY skey DESC, p_partkey
    LIMIT 50
    """,
)
def weighted_sample_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis-Spirakis
    A-ES exponential-key trick: each row gets key = ln(u) / w (u a
    uniform in (0,1), w the row weight); the k LARGEST keys are an
    exact weighted sample. Replacing the usual random u with a
    deterministic multiplicative-hash uniform makes the sample
    reproducible anywhere and lets two engines agree bit-for-bit —
    the seeded-sampling analogue this gate can hash-check (keys are
    rounded to 9 decimals before ranking so libm noise in ``ln`` can
    never flip an ordering).

    Scale shape: the key is computed map-side; ``ORDER BY key LIMIT k``
    lowers to TakeOrderedAndProject — per-partition top-k heaps, only
    k rows per partition reach the driver-side merge; the corpus is
    never globally sorted. This is how you draw a 10M-doc weighted
    subcorpus from 100 TB in one pass.
    """
    part = load_table(spark, sf_dir, "part")
    u = ((F.col("p_partkey") * F.lit(2654435761)) % F.lit(1000000007) + 1) / F.lit(
        1000000009.0
    )
    keyed = part.select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("weight"),
        F.round(F.ln(u) / F.col("p_retailprice"), 9).alias("skey"),
    )
    return keyed.orderBy(F.col("skey").desc(), F.col("p_partkey")).limit(50)


@query(
    "sorted_neighborhood_parts",
    oracle="""
    WITH ranked AS (
        SELECT p_partkey, p_brand, p_retailprice,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY p_retailprice, p_partkey) AS BIGINT) AS rn
        FROM part
    )
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           ROUND(b.p_retailprice - a.p_retailprice, 6) AS price_gap,
           CAST(CASE WHEN a.p_brand = b.p_brand THEN 1 ELSE 0 END AS BIGINT)
               AS same_brand,
           CAST(b.rn - a.rn AS BIGINT) AS dist
    FROM ranked a
    JOIN ranked b ON b.rn IN (a.rn + 1, a.rn + 2)
    """,
)
def sorted_neighborhood_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking (the classic entity-resolution
    alternative to hash blocking): order the corpus by a fuzzy numeric
    key and emit candidate pairs within rank distance <= 2 — O(n*w)
    candidates instead of O(n^2). Pairs carry the price gap and a
    same-brand flag, the features a downstream match scorer consumes.

    The interesting part is HOW the global rank is computed: NOT via a
    single-partition ``Window.orderBy`` (the 1-task scale cliff Spark
    itself warns about) but via ``operators.rank.distributed_global_rank``
    — range-bucketed parallel windows plus a prefix-sum offset map, so
    no task ever sorts more than one bucket. The neighbor join is a
    pure EQUI-join (left side explodes rn+1, rn+2), no range predicate,
    no cross product. DuckDB's single-node ROW_NUMBER is the oracle
    proving the two-pass rank is exactly the global rank.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        sorted_neighborhood_pairs,
    )

    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    pairs = sorted_neighborhood_pairs(
        part, key_col="p_retailprice", id_col="p_partkey", window=2
    )
    return pairs.select(
        F.col("p_partkey_a").alias("id_a"),
        F.col("p_partkey_b").alias("id_b"),
        F.round(F.col("p_retailprice_b") - F.col("p_retailprice_a"), 6).alias(
            "price_gap"
        ),
        F.when(F.col("p_brand_a") == F.col("p_brand_b"), 1)
        .otherwise(0)
        .cast("long")
        .alias("same_brand"),
        "dist",
    )


@query("isotonic_fit_quantity_price")
def isotonic_fit_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone) calibration of mean extended price as a
    function of quantity, per return flag — weighted PAV on the
    x-level aggregate (see ``operators/calibrate.py``). Rows-only by
    design: PAV's pooling is an iterative fixpoint no single SQL
    expression computes; its laws (monotone output, exact weighted-mean
    preservation, pool values = block means) are pinned in
    ``tests/test_operators.py`` instead.

    Scale shape: JVM hash-agg (map-side partials) shrinks the fact
    table to one row per (flag, quantity) BEFORE Python sees it; the
    Arrow-batched PAV then costs |distinct quantities| per group.
    """
    from pyspark_movie_recommender_spark.operators.calibrate import isotonic_fit

    li = load_table(spark, sf_dir, "lineitem")
    fit = isotonic_fit(
        li, group_col="l_returnflag", x_col="l_quantity", y_col="l_extendedprice"
    )
    return fit.select(
        "l_returnflag",
        "l_quantity",
        "w",
        F.round("y_mean", 6).alias("y_mean"),
        F.round("y_hat", 6).alias("y_hat"),
    )


# ---------------------------------------------------------------------------
# wave 44: content-defined chunking, JL projection, KS drift
# ---------------------------------------------------------------------------


@query(
    "cdc_chunk_dedup",
    oracle="""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), tok AS (
        SELECT doc_id, unnest(t) AS tok,
               CAST(generate_subscripts(t, 1) AS BIGINT) AS pos
        FROM toks
    ), hashed AS (
        SELECT doc_id, pos, tok,
               ascii(tok) * 8191 + length(tok) * 131 AS h
        FROM tok
    ), rolled AS (
        SELECT doc_id, pos, tok,
               CASE WHEN pos >= 4 AND
                    (7 * lag(h, 3) OVER w + 5 * lag(h, 2) OVER w
                     + 3 * lag(h, 1) OVER w + h) % 16 = 0
                    THEN 1 ELSE 0 END AS boundary
        FROM hashed
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), chunked AS (
        SELECT doc_id, pos, tok,
               COALESCE(SUM(boundary) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS chunk_idx
        FROM rolled
    ), chunks AS (
        SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               sha256(string_agg(tok, ' ' ORDER BY pos)) AS chunk_hash
        FROM chunked GROUP BY doc_id, chunk_idx
    )
    SELECT c.doc_id, c.chunk_idx, c.n_tokens, c.chunk_hash,
           CAST(d.n_docs AS BIGINT) AS n_docs_sharing
    FROM chunks c
    JOIN (SELECT chunk_hash, COUNT(DISTINCT doc_id) AS n_docs
          FROM chunks GROUP BY chunk_hash) d USING (chunk_hash)
    """,
)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (rsync/LBFS-style) + corpus chunk dedup:
    split every document where a rolling hash of the last 4 tokens hits
    0 mod 16, so chunk boundaries are CONTENT-anchored — insert a token
    at the front of a document and the downstream boundaries do not
    shift (fixed-size chunking would re-chunk the whole tail). Each
    chunk is content-hashed and joined against the corpus-wide chunk
    census, giving sub-document dedup: how many documents share each
    exact chunk. This is the storage/transfer dedup primitive (and the
    passage-level twin of whole-doc hash dedup).

    All hash arithmetic is integer and shared verbatim with the oracle,
    so the gate checks boundary placement bit-for-bit.

    Scale shape: posexplode → per-doc windows (partitioned by doc_id,
    never global) → hash-agg to chunks → one hash-keyed self-agg join.
    No quadratic anything; chunking is embarrassingly parallel per doc.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        "tok",
        (F.ascii("tok") * 8191 + F.length("tok") * 131).alias("h"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    rolled = tok.withColumn(
        "boundary",
        F.when(
            (F.col("pos") >= 4)
            & (
                (
                    7 * F.lag("h", 3).over(w)
                    + 5 * F.lag("h", 2).over(w)
                    + 3 * F.lag("h", 1).over(w)
                    + F.col("h")
                )
                % 16
                == 0
            ),
            1,
        ).otherwise(0),
    )
    chunked = rolled.withColumn(
        "chunk_idx",
        F.coalesce(
            F.sum("boundary").over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).cast("long"),
    )
    chunks = chunked.groupBy("doc_id", "chunk_idx").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sha2(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ),
            256,
        ).alias("chunk_hash"),
    )
    census = chunks.groupBy("chunk_hash").agg(
        F.count_distinct("doc_id").cast("long").alias("n_docs_sharing")
    )
    return chunks.join(census, "chunk_hash").select(
        "doc_id", "chunk_idx", "n_tokens", "chunk_hash", "n_docs_sharing"
    )


@query(
    "jl_random_projection",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding FROM embeddings
    ), flat AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS i,
               unnest(embedding) AS v
        FROM e
    )
    SELECT f.vec_id, CAST(js.j AS BIGINT) AS dim,
           ROUND(SUM(f.v * CASE WHEN ((f.i * 1315423911 + js.j * 2654435761)
                                      % 97) % 2 = 0
                                THEN 1.0 ELSE -1.0 END), 6) AS value
    FROM flat f
    CROSS JOIN (SELECT unnest(range(0, 8)) AS j) js
    GROUP BY f.vec_id, js.j
    """,
)
def jl_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> 8 dims with a
    DETERMINISTIC +/-1 sign matrix: sign(i, j) = parity of a
    multiplicative hash of (input dim i, output dim j), so the
    projection needs no stored matrix, is identical on every executor
    and every engine, and the gate hash-checks the projected values.
    The sparse/sign JL family (Achlioptas) preserves pairwise distances
    within (1 +/- eps) — the cheap pre-step before clustering or ANN
    when 100-TB embeddings don't fit the index.

    Scale shape: entirely map-side JVM higher-order functions
    (zip_with + aggregate inside whole-stage codegen) — zero shuffles,
    zero Python, each row rewritten in place; posexplode only shapes
    the gate-friendly (vec_id, dim, value) output.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    proj = emb.select(
        "vec_id",
        F.expr(
            """
            transform(sequence(0, 7), j -> round(
              aggregate(
                zip_with(embedding, sequence(0, size(embedding) - 1),
                  (v, i) -> v * CASE WHEN pmod(CAST(i AS BIGINT) * 1315423911
                                              + CAST(j AS BIGINT)
                                                * 2654435761, 97) % 2 = 0
                                     THEN CAST(1.0 AS DOUBLE)
                                     ELSE CAST(-1.0 AS DOUBLE) END),
                CAST(0.0 AS DOUBLE), (acc, x) -> acc + x), 6))
            """
        ).alias("p"),
    )
    return proj.select(
        "vec_id", F.posexplode("p").alias("dim", "value")
    ).select(F.col("vec_id"), F.col("dim").cast("long"), F.col("value"))


@query(
    "ks_drift_view_purchase",
    oracle="""
    WITH binned AS (
        SELECT ROUND(value, 2) AS bin,
               SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS na,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS nb
        FROM events
        WHERE event_type IN ('view', 'purchase')
        GROUP BY bin
    ), cum AS (
        SELECT bin,
               SUM(na) OVER (ORDER BY bin) AS ca,
               SUM(nb) OVER (ORDER BY bin) AS cb,
               (SELECT SUM(na) FROM binned) AS ta,
               (SELECT SUM(nb) FROM binned) AS tb
        FROM binned
    )
    SELECT CAST(MAX(ta) AS BIGINT) AS n_view,
           CAST(MAX(tb) AS BIGINT) AS n_purchase,
           ROUND(MAX(ABS(ca * 1.0 / ta - cb * 1.0 / tb)), 6) AS ks
    FROM cum
    """,
)
def ks_drift_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the value
    distributions of 'view' and 'purchase' events — the CONTINUOUS
    drift detector beside the categorical chi-square audit
    (`chi2_drift_events`): KS = max vertical gap between the two
    empirical CDFs, evaluated on a 0.01-wide binned grid (binning makes
    the ECDF support bounded and both engines bit-agree on integer
    cumulative counts; the statistic is exact for the binned
    distributions).

    Scale shape: the fact table collapses to one row per bin in a
    map-side-partial hash-agg FIRST; the single ordered cumulative
    window then runs over |bins| rows (thousands), not |events| — the
    pre-shrink that keeps an unpartitioned window legal at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events")
    binned = (
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy(F.round("value", 2).alias("bin"))
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("na"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "nb"
            ),
        )
    )
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    totals = binned.agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb")
    )
    cum = binned.withColumn("ca", F.sum("na").over(wcum)).withColumn(
        "cb", F.sum("nb").over(wcum)
    )
    return (
        cum.crossJoin(F.broadcast(totals))
        .agg(
            F.max("ta").cast("long").alias("n_view"),
            F.max("tb").cast("long").alias("n_purchase"),
            F.round(
                F.max(
                    F.abs(
                        F.col("ca") * 1.0 / F.col("ta")
                        - F.col("cb") * 1.0 / F.col("tb")
                    )
                ),
                6,
            ).alias("ks"),
        )
    )


# ---------------------------------------------------------------------------
# wave 45: BFS shortest hops + integer-exact quantile normalization
# ---------------------------------------------------------------------------


@query(
    "bfs_copurchase_hops",
    oracle="""
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e0 AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), e AS (
        SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
    ), walk(node, hops) AS (
        SELECT (SELECT MIN(u) FROM e), 0
        UNION
        SELECT e.v, w.hops + 1
        FROM walk w JOIN e ON e.u = w.node
        WHERE w.hops < 4
    )
    SELECT CAST(node AS BIGINT) AS node, CAST(MIN(hops) AS BIGINT) AS hops
    FROM walk GROUP BY node
    """,
)
def bfs_copurchase_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS shortest hop counts over the part co-purchase graph (edges =
    parts sharing >= 2 orders) from the minimum part id — the reach /
    influence-radius primitive beside PageRank (importance), k-core
    (cohesion) and CC (membership). First visit = minimum hops, so the
    frontier loop needs no per-node min; the DuckDB oracle is the
    recursive-CTE fixpoint with UNION-dedup termination, making this an
    ORACLE-CHECKED iterative graph algorithm, not rows-only.

    Scale shape (see ``operators/graph.py bfs_hops``): support->=2
    threshold caps degree before any traversal; one vertex-keyed join
    per round, O(max_hops) rounds, per-round lineage truncation.
    """
    from pyspark_movie_recommender_spark.operators.graph import (
        bfs_hops,
        copurchase_pairs,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # round 9: basket census (one fact exchange) replaces the items
    # self-join — see operators/graph.copurchase_pairs
    edges = copurchase_pairs(li, min_support=2).select("u", "v")
    return bfs_hops(edges)


@query(
    "quantile_normalize_sources",
    oracle="""
    WITH g AS (
        SELECT n_chars,
               CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
                   AS grn
        FROM documents
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
    ), s AS (
        SELECT doc_id, source, n_chars,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT)
                   AS rs,
               CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS ns
        FROM documents
    )
    SELECT s.doc_id, s.source, s.n_chars, g.n_chars AS norm_chars
    FROM s
    JOIN tot ON TRUE
    JOIN g ON g.grn = ((s.rs - 1) * (tot.n - 1)) // GREATEST(s.ns - 1, 1) + 1
    """,
)
def quantile_normalize_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization across sources (the batch-effect
    correction standard in bioinformatics, applied to corpus length
    bias): each source's document-length distribution is mapped onto
    the GLOBAL length distribution by rank, so after normalization
    every source has the same length profile — the principled
    alternative to per-source truncation when mixing crawls whose
    length distributions disagree.

    The rank-to-rank mapping is INTEGER-EXACT: target global rank =
    (r-1)(N-1) // (n_s-1) + 1 — no float percentiles, no interpolation
    noise, so both engines agree bit-for-bit.

    Scale shape: the global rank comes from
    ``operators/rank.py distributed_global_rank`` (range-bucketed
    parallel windows — never a 1-task global window); per-source ranks
    are ordinarily partitioned windows; the final mapping is one
    hash-keyed equi-join on the computed rank.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_global_rank,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    g = distributed_global_rank(docs, "n_chars", "doc_id", out_col="grn").select(
        F.col("n_chars").alias("g_chars"), "grn"
    )
    tot = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    s = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(ws).cast("long").alias("rs"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).cast("long").alias("ns"),
    )
    mapped = s.crossJoin(F.broadcast(tot)).withColumn(
        "grn",
        F.expr("((rs - 1) * (n - 1)) div greatest(ns - 1, 1) + 1"),
    )
    return mapped.join(g, "grn").select(
        "doc_id", "source", "n_chars", F.col("g_chars").alias("norm_chars")
    )


# ---------------------------------------------------------------------------
# wave 46: Kaplan-Meier survival, Zipf fit, deterministic-DP counts
# ---------------------------------------------------------------------------


@query(
    "kaplan_meier_signup_purchase",
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
    )
    SELECT t_days, n_risk, d_events,
           CASE WHEN MAX(CASE WHEN d_events >= n_risk THEN 1 ELSE 0 END)
                     OVER (ORDER BY t_days) = 1
                THEN 0.0
                ELSE ROUND(EXP(SUM(
                         CASE WHEN d_events < n_risk AND d_events > 0
                              THEN ln(1.0 - d_events * 1.0 / n_risk)
                              ELSE 0.0 END) OVER (ORDER BY t_days)), 6)
           END AS survival
    FROM risk
    """,
)
def kaplan_meier_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for signup -> first purchase with
    right-censoring at the corpus horizon: S(t) = prod_{t'<=t}
    (1 - d/n). The estimator runs as EXP of a cumulative SUM of
    ln(1 - d/n) — a single ordered window — with the d=n absorbing
    state handled by a cumulative flag instead of ln(0). Survival /
    time-to-conversion is the retention primitive product analytics
    adds beside funnels and cohorts.

    Scale shape: the fact table collapses to one row per user
    (hash-agg), then to one row per distinct duration — the windows run
    over |distinct days| rows (hundreds), never |events|; the horizon
    and total are broadcast scalars.
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
    converted = F.col("buy_ts").isNotNull() & (F.col("buy_ts") >= F.col("signup_ts"))
    durations = (
        per_user.filter(F.col("signup_ts").isNotNull())
        .crossJoin(F.broadcast(horizon))
        .select(
            F.when(converted, F.datediff("buy_ts", "signup_ts"))
            .otherwise(F.datediff("max_ts", "signup_ts"))
            .cast("long")
            .alias("t_days"),
            F.when(converted, 1).otherwise(0).alias("event"),
        )
    )
    durations = _ckpt(durations)  # shared fan-out relation
    km = durations.groupBy("t_days").agg(
        F.sum("event").cast("long").alias("d_events"),
        F.count(F.lit(1)).cast("long").alias("n_here"),
    )
    total = durations.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    wprev = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, 0)
    risk = (
        km.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            (
                F.col("n_total")
                - F.coalesce(F.sum("n_here").over(wprev), F.lit(0))
            ).cast("long"),
        )
        .drop("n_total", "n_here")
    )
    absorbed = F.max(
        F.when(F.col("d_events") >= F.col("n_risk"), 1).otherwise(0)
    ).over(wcum)
    logsum = F.sum(
        F.when(
            (F.col("d_events") < F.col("n_risk")) & (F.col("d_events") > 0),
            F.log(1.0 - F.col("d_events") * 1.0 / F.col("n_risk")),
        ).otherwise(0.0)
    ).over(wcum)
    return risk.select(
        "t_days",
        "n_risk",
        "d_events",
        F.when(absorbed == 1, 0.0)
        .otherwise(F.round(F.exp(logsum), 6))
        .alias("survival"),
    )


@query(
    "zipf_fit_tokens",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), vocab AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
        FROM toks GROUP BY token
        ORDER BY freq DESC, token
        LIMIT 1000
    ), ranked AS (
        SELECT freq,
               CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS BIGINT)
                   AS rnk
        FROM vocab
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(regr_slope(ln(freq), ln(rnk)), 6) AS slope,
           ROUND(regr_intercept(ln(freq), ln(rnk)), 6) AS intercept,
           ROUND(regr_r2(ln(freq), ln(rnk)), 6) AS r2
    FROM ranked
    """,
)
def zipf_fit_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-1000 vocabulary: OLS slope of
    ln(freq) against ln(rank) (natural corpora sit near slope -1; a
    synthetic or templated corpus shows up instantly as a flat or
    kinked fit — a one-row corpus-health gate beside the heavy-hitter
    list).

    Scale shape: explode -> map-side-partial hash-agg to the vocab,
    TakeOrderedAndProject for the top-1000 cut, then the rank window
    and regression aggregate run over exactly 1000 rows — the
    "pre-shrink before any unpartitioned window" pattern again.
    """
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token"))
        .limit(1000)
    )
    ranked = vocab.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.col("freq").desc(), F.col("token")))
        .cast("long")
        .alias("rnk"),
    )
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.round(F.expr("regr_slope(ln(freq), ln(rnk))"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(ln(freq), ln(rnk))"), 6).alias(
            "intercept"
        ),
        F.round(F.expr("regr_r2(ln(freq), ln(rnk))"), 6).alias("r2"),
    )


@query(
    "dp_noisy_counts_segments",
    oracle="""
    WITH seg AS (
        SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS true_count
        FROM customer GROUP BY c_mktsegment
    ), seeded AS (
        SELECT segment, true_count,
               ((ascii(segment) * 31 + length(segment)) * 2654435761
                % 1000003 + 1) / 1000005.0 AS u
        FROM seg
    )
    SELECT segment, true_count,
           ROUND(true_count
                 + (-2.0) * CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END
                   * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy_count
    FROM seeded
    """,
)
def dp_noisy_counts_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release primitive: per-segment counts with
    Laplace(sensitivity/epsilon = 1/0.5 = 2) noise drawn by INVERSE-CDF
    from a deterministic per-key uniform — the seeded twin of a real DP
    mechanism, so the gate can hash-check the noise arithmetic
    bit-for-bit (a production release would swap the hash uniform for a
    secure RNG; ``true_count`` is emitted here only because the gate
    compares engines — a DP release would drop it). Noise composes
    map-side after the aggregate: one hash-agg, then pure per-row math.
    """
    cust = load_table(spark, sf_dir, "customer")
    seg = cust.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    u = (
        (F.ascii("segment") * 31 + F.length("segment")) * F.lit(2654435761)
        % 1000003
        + 1
    ) / F.lit(1000005.0)
    seeded = seg.withColumn("u", u)
    noise = (
        F.lit(-2.0)
        * F.when(F.col("u") >= 0.5, 1.0).otherwise(-1.0)
        * F.log(1.0 - 2.0 * F.abs(F.col("u") - 0.5))
    )
    return seeded.select(
        "segment",
        "true_count",
        F.round(F.col("true_count") + noise, 6).alias("noisy_count"),
    )


# ---------------------------------------------------------------------------
# wave 47: one-scan k-fold cross-validation + multi-touch attribution
# ---------------------------------------------------------------------------


@query(
    "kfold_price_model",
    oracle="""
    WITH folded AS (
        SELECT (l_orderkey * 2654435761 + l_linenumber * 40503) % 5 AS fold,
               CAST(l_quantity AS DOUBLE) AS x,
               l_extendedprice AS y
        FROM lineitem
    ), stats AS (
        SELECT fold,
               CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
        FROM folded GROUP BY fold
    ), tot AS (
        SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
               SUM(sxx) AS sxx, SUM(sxy) AS sxy, SUM(syy) AS syy
        FROM stats
    ), models AS (
        SELECT s.fold, s.n AS n_test,
               ((t.n - s.n) * (t.sxy - s.sxy) - (t.sx - s.sx) * (t.sy - s.sy))
               / ((t.n - s.n) * (t.sxx - s.sxx)
                  - (t.sx - s.sx) * (t.sx - s.sx)) AS b,
               s.sx AS sx, s.sy AS sy, s.sxx AS sxx, s.sxy AS sxy,
               s.syy AS syy,
               (t.sy - s.sy) AS csy, (t.sx - s.sx) AS csx,
               (t.n - s.n) AS cn
        FROM stats s, tot t
    )
    SELECT CAST(fold AS BIGINT) AS fold, n_test,
           ROUND(b, 3) AS slope,
           ROUND((csy - b * csx) / cn, 3) AS intercept,
           ROUND(SQRT(GREATEST(
               (syy - 2 * ((csy - b * csx) / cn) * sy - 2 * b * sxy
                + 2 * ((csy - b * csx) / cn) * b * sx
                + ((csy - b * csx) / cn) * ((csy - b * csx) / cn) * n_test
                + b * b * sxx) / n_test, 0)), 3) AS rmse
    FROM models
    """,
)
def kfold_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validation of the linear price model y = a + b·x
    (extended price on quantity) in ONE scan of the fact table: the
    scan produces per-fold sufficient statistics (n, Σx, Σy, Σx²,
    Σxy, Σy²); each fold's TRAINING stats are the algebraic complement
    (total − fold), its coefficients come from the normal equations on
    those complements, and its held-out RMSE expands from the fold's
    OWN stats — E[(y−a−bx)²] is a polynomial in the six sums. No
    per-fold rescans, no 5× data movement: cross-validation cost =
    one aggregate, the way model selection has to work at 100 TB.
    Folds are deterministic multiplicative-hash assignments.

    Scale shape: one map-side-partial hash-agg to 5 rows; everything
    after is constant-size arithmetic.
    """
    li = load_table(spark, sf_dir, "lineitem")
    folded = li.select(
        ((F.col("l_orderkey") * 2654435761 + F.col("l_linenumber") * 40503) % 5)
        .alias("fold"),
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    stats = folded.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    tot = stats.agg(
        F.sum("n").alias("tn"),
        F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"),
        F.sum("sxx").alias("tsxx"),
        F.sum("sxy").alias("tsxy"),
        F.sum("syy").alias("tsyy"),
    )
    m = stats.crossJoin(F.broadcast(tot))
    cn = F.col("tn") - F.col("n")
    csx = F.col("tsx") - F.col("sx")
    csy = F.col("tsy") - F.col("sy")
    csxx = F.col("tsxx") - F.col("sxx")
    csxy = F.col("tsxy") - F.col("sxy")
    b = (cn * csxy - csx * csy) / (cn * csxx - csx * csx)
    a = (csy - b * csx) / cn
    mse = (
        F.col("syy")
        - 2 * a * F.col("sy")
        - 2 * b * F.col("sxy")
        + 2 * a * b * F.col("sx")
        + a * a * F.col("n")
        + b * b * F.col("sxx")
    ) / F.col("n")
    return m.select(
        F.col("fold").cast("long").alias("fold"),
        F.col("n").alias("n_test"),
        F.round(b, 3).alias("slope"),
        F.round(a, 3).alias("intercept"),
        F.round(F.sqrt(F.greatest(mse, F.lit(0.0))), 3).alias("rmse"),
    )


@query(
    "linear_attribution_purchases",
    oracle="""
    WITH purchases AS (
        SELECT event_id, user_id, ts, value FROM events
        WHERE event_type = 'purchase'
    ), touches AS (
        SELECT user_id, ts, event_type FROM events
        WHERE event_type IN ('view', 'click')
    ), joined AS (
        SELECT p.event_id, p.value, t.event_type AS channel
        FROM purchases p LEFT JOIN touches t
          ON t.user_id = p.user_id
         AND t.ts <= p.ts
         AND t.ts > p.ts - INTERVAL 3 DAY
    ), credited AS (
        SELECT event_id, value,
               COALESCE(channel, 'unattributed') AS channel,
               COUNT(channel) OVER (PARTITION BY event_id) AS k
        FROM joined
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(SUM(CASE WHEN k = 0 THEN value ELSE value / k END), 6)
               AS credited_value
    FROM credited
    GROUP BY channel
    """,
)
def linear_attribution_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase's value is split
    equally across the user's view/click touches in the 3 days before
    it; purchases with no touches report as 'unattributed'. The
    credited-value-per-channel table is how marketing/traffic sources
    get budgeted — and the same pattern attributes training-corpus
    value back to acquisition pipelines.

    Scale shape: the touch join is a user-keyed EQUI-join with a
    residual time-range predicate (never a cross join); the per-purchase
    touch count comes from a window partitioned by purchase id —
    bounded by touches-per-purchase, no global window; final channel
    rollup is a tiny hash-agg.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"),
        "value",
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    joined = purchases.join(
        touches,
        (F.col("t_user") == F.col("p_user"))
        & (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("t_ts") > F.col("p_ts") - F.expr("INTERVAL 3 DAY")),
        "left",
    )
    wk = Window.partitionBy("event_id")
    credited = joined.select(
        "event_id",
        "value",
        F.coalesce(F.col("channel"), F.lit("unattributed")).alias("channel"),
        F.count("channel").over(wk).alias("k"),
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.round(
            F.sum(
                F.when(F.col("k") == 0, F.col("value")).otherwise(
                    F.col("value") / F.col("k")
                )
            ),
            6,
        ).alias("credited_value"),
    )


# ---------------------------------------------------------------------------
# wave 48: SemDedup cells, temperature mixture, curriculum interleave
# ---------------------------------------------------------------------------


@query(
    "semdedup_embedding_cells",
    oracle="""
    WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    c AS (
        SELECT e AS ce,
               CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
        FROM s WHERE vec_id IN (3, 66, 129, 192, 255, 318, 381, 444)
    ), scored AS (
        SELECT s.vec_id, s.e, c.cell,
               CAST(ROUND(list_cosine_similarity(s.e, c.ce) * 1e6) AS BIGINT)
                   AS sim_ppm
        FROM s CROSS JOIN c
    ), best AS (
        SELECT vec_id, e, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim_ppm DESC, cell) AS rn
        FROM scored
    ), assigned AS (
        SELECT vec_id, e, cell FROM best WHERE rn = 1
    ), pair_stats AS (
        SELECT a.cell,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN
                    CAST(ROUND(list_cosine_similarity(a.e, b.e) * 1e6) AS BIGINT)
                    >= 450000 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
               MAX(CAST(ROUND(list_cosine_similarity(a.e, b.e) * 1e6) AS BIGINT))
                   AS max_cos_ppm
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        GROUP BY a.cell
    )
    SELECT CAST(v.cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           COALESCE(MAX(p.n_pairs), 0) AS n_pairs,
           COALESCE(MAX(p.n_dups), 0) AS n_dups,
           COALESCE(MAX(p.max_cos_ppm), -1) AS max_cos_ppm
    FROM assigned v LEFT JOIN pair_stats p ON p.cell = v.cell
    GROUP BY v.cell
    """,
)
def semdedup_embedding_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup (Abbas et al. 2023) shape: semantic near-duplicate
    detection BLOCKED by k-means cells — pairwise cosine runs only
    WITHIN a cell, so the quadratic term is bounded by cluster size,
    never corpus size. Emitted as the per-cell dedup report (vector
    count, pairs scored, pairs over the 0.45-cosine dup threshold, max
    similarity) — the report form is what a curation run reviews before
    committing deletions, and it is never empty even on a corpus with
    no near-dups (this synthetic one's max pairwise cosine is ~0.51).

    Cosine is compared in exact ppm BIGINTs (round(cos*1e6)) so
    cross-engine float noise cannot flip an aggregate.

    Scale shape: assignment is the map-side NumPy matmul of
    ``kmeans_assign``; the within-cell self-join shuffles on the cell
    key only; per-cell pair counts bound memory. At 100 TB you raise k
    so cells stay ~1e4 vectors (SemDedup's own regime).
    """
    from pyspark_movie_recommender_spark.operators.similarity import kmeans_assign

    emb = load_table(spark, sf_dir, "embeddings")
    # the Arrow k-means argmax feeds the cell census AND both self-join
    # sides; without materialization the Python stage executes 5x over
    # 5 embeddings scans — ckpt the narrow assignment once, and the
    # (id, vector, cell) relation both pair sides consume
    assigned = _ckpt(
        kmeans_assign(
            emb, centroid_ids=[3, 66, 129, 192, 255, 318, 381, 444]
        ).select("vec_id", "cell")
    )
    vec = _ckpt(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("e")
        ).join(assigned, "vec_id")
    )
    a = vec.select(
        F.col("cell"),
        F.col("vec_id").alias("id_a"),
        F.col("e").alias("ea"),
    )
    b = vec.select(
        F.col("cell"),
        F.col("vec_id").alias("id_b"),
        F.col("e").alias("eb"),
    )
    cos_ppm = F.expr(
        """
        CAST(ROUND(
          aggregate(zip_with(ea, eb, (x, y) -> x * y), CAST(0.0 AS DOUBLE),
                    (acc, x) -> acc + x)
          / (sqrt(aggregate(transform(ea, x -> x * x), CAST(0.0 AS DOUBLE),
                            (acc, x) -> acc + x))
             * sqrt(aggregate(transform(eb, x -> x * x), CAST(0.0 AS DOUBLE),
                              (acc, x) -> acc + x))) * 1e6) AS BIGINT)
        """
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("cell", cos_ppm.alias("cos_ppm"))
    )
    pair_stats = pairs.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("cos_ppm") >= 450000, 1).otherwise(0))
        .cast("long")
        .alias("n_dups"),
        F.max("cos_ppm").alias("max_cos_ppm"),
    )
    cells = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    return (
        cells.join(pair_stats, "cell", "left")
        .select(
            F.col("cell").cast("long").alias("cell"),
            "n_vectors",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_dups", F.lit(0)).alias("n_dups"),
            F.coalesce("max_cos_ppm", F.lit(-1)).alias("max_cos_ppm"),
        )
    )


@query(
    "temperature_mixture_weights",
    oracle="""
    WITH s AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
        FROM documents GROUP BY source
    ), z AS (
        SELECT SUM(POW(n_chars_total, 0.7)) AS z FROM s
    )
    SELECT source, n_docs, n_chars_total,
           ROUND(POW(n_chars_total, 0.7) / z, 6) AS weight,
           CAST(ROUND(POW(n_chars_total, 0.7) / z * 100000) AS BIGINT)
               AS quota_chars_e5
    FROM s, z
    """,
)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights (the multilingual-sampling
    formula from mBERT/XLM-R, alpha = 0.7): per-source sampling weight
    proportional to size^alpha, which up-weights small sources and
    tempers head domination — THE standard knob for balancing crawl
    mixtures before training. Emits the weight and a concrete quota for
    a 100k-char budget.

    Scale shape: one map-side-partial hash-agg to |sources| rows, a
    broadcast scalar normalizer, then per-row math. The pow/divide runs
    on identical inputs in both engines so rounding at 1e-6 is stable.
    """
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars_total"),
    )
    z = s.agg(F.sum(F.pow("n_chars_total", 0.7)).alias("z"))
    return (
        s.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_chars_total",
            F.round(F.pow("n_chars_total", 0.7) / F.col("z"), 6).alias("weight"),
            F.round(F.pow("n_chars_total", 0.7) / F.col("z") * 100000)
            .cast("long")
            .alias("quota_chars_e5"),
        )
    )


@query(
    "curriculum_interleave_order",
    oracle="""
    WITH src AS (
        SELECT source,
               CAST(ROW_NUMBER() OVER (ORDER BY source) - 1 AS BIGINT) AS sidx
        FROM (SELECT DISTINCT source FROM documents)
    ), nsrc AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k FROM src
    ), ranked AS (
        SELECT doc_id, source,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id) - 1 AS BIGINT) AS rs
        FROM documents
    )
    SELECT r.doc_id, r.source, r.rs * n.k + s.sidx AS position
    FROM ranked r JOIN src s USING (source) CROSS JOIN nsrc n
    """,
)
def curriculum_interleave_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum construction: a GLOBAL training order that (a) feeds
    higher-quality documents first within each source (quality proxy:
    length) and (b) round-robins across sources so no contiguous run of
    steps sees one source — position = within-source-rank * n_sources +
    source-index, a collision-free integer interleave computed without
    ever globally sorting the corpus. This is how you lay out a 100-TB
    epoch: per-source windows (parallel) plus pure arithmetic, then
    write sorted-within-partitions by position.

    Scale shape: one partitioned window per source + a broadcast
    |sources|-row index map; no global window, no shuffle beyond the
    source partitioning.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    src = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            (F.row_number().over(Window.orderBy("source")) - 1)
            .cast("long")
            .alias("sidx"),
        )
    )
    k = src.agg(F.count(F.lit(1)).cast("long").alias("k"))
    ranked = docs.select(
        "doc_id",
        "source",
        (
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.col("n_chars").desc(), F.col("doc_id")
                )
            )
            - 1
        )
        .cast("long")
        .alias("rs"),
    )
    return (
        ranked.join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(k))
        .select(
            "doc_id",
            "source",
            (F.col("rs") * F.col("k") + F.col("sidx")).alias("position"),
        )
    )


# ---------------------------------------------------------------------------
# wave 49: join-size estimation, referential integrity, Benford audit
# ---------------------------------------------------------------------------


@query(
    "join_size_estimate",
    oracle="""
    WITH exact AS (
        SELECT CAST(SUM(a.n * b.n) AS BIGINT) AS exact_pairs
        FROM (SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY 1) a
        JOIN (SELECT c_custkey AS k, COUNT(*) AS n FROM customer GROUP BY 1) b
          USING (k)
    ), sa AS (
        SELECT o_custkey AS k FROM orders
        WHERE (o_orderkey * 2654435761) % 100 < 10
    ), sb AS (
        SELECT c_custkey AS k FROM customer
        WHERE (c_custkey * 40503) % 100 < 50
    ), est AS (
        SELECT CAST(COUNT(*) * 100 / 10 * 100 / 50 AS BIGINT) AS est_pairs
        FROM sa JOIN sb USING (k)
    )
    SELECT exact_pairs, est_pairs,
           CAST(ROUND(ABS(est_pairs - exact_pairs) * 1000000.0
                      / exact_pairs) AS BIGINT) AS err_ppm
    FROM exact, est
    """,
)
def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation by deterministic Bernoulli sampling —
    the statistic a cost-based optimizer needs before picking a join
    strategy: |A ⋈ B| estimated from a 10% sample of the fact side and
    a 50% sample of the dim side, scaled by 1/(p·q), next to the exact
    count (per-key count-product aggregate, never a materialized join)
    and the relative error in ppm. Deterministic multiplicative-hash
    samples make the estimate reproducible and gate-checkable.

    Scale shape: the exact side is two hash-aggs + a key join on
    pre-aggregated counts (|keys| rows, not |rows|); the sampled side
    filters map-side THEN joins — both asymptotically cheaper than the
    join being estimated.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    a = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_a")
    )
    b = cust.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_b")
    )
    exact = a.join(b, "k").agg(
        F.sum(F.col("n_a") * F.col("n_b")).cast("long").alias("exact_pairs")
    )
    sa = orders.filter((F.col("o_orderkey") * 2654435761) % 100 < 10).select(
        F.col("o_custkey").alias("k")
    )
    sb = cust.filter((F.col("c_custkey") * 40503) % 100 < 50).select(
        F.col("c_custkey").alias("k")
    )
    est = sa.join(sb, "k").agg(
        (F.count(F.lit(1)) * 100 / 10 * 100 / 50).cast("long").alias("est_pairs")
    )
    return exact.crossJoin(est).select(
        "exact_pairs",
        "est_pairs",
        F.round(
            F.abs(F.col("est_pairs") - F.col("exact_pairs"))
            * 1000000.0
            / F.col("exact_pairs")
        )
        .cast("long")
        .alias("err_ppm"),
    )


@query(
    "referential_integrity_audit",
    oracle="""
    SELECT 'orders.o_custkey->customer' AS fk,
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
               AS n_orphans,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM part p
                                   WHERE p.p_partkey = l.l_partkey)) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT)
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT),
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT)
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key orphan audit across the star schema: for each FK
    edge, how many child rows reference a missing parent — the
    cross-TABLE data-quality gate beside the per-column
    `profile_orders_columns` / expectations reports. Run it after every
    ingest; a nonzero count means an upstream extractor dropped parents
    or the load raced.

    Scale shape: each FK check is ONE pass over the child keys — a left
    join against the distinct parent keys with the orphan count and the
    row total read off the same aggregate (the previous anti-join +
    separate total scanned every child table twice; lineitem, a child
    in two checks, was scanned 4x). Parent sides are dims (broadcast)
    except orders, which co-partitions with lineitem on the order key.
    Four checks union into one 4-row report.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")

    def audit(fk_name, child, child_key, parent, parent_key):
        # distinct keeps the left join row-preserving even if a parent
        # key ever duplicated (it would multiply child rows otherwise)
        pk = parent.select(F.col(parent_key).alias("__pk")).distinct()
        return (
            child.select(F.col(child_key).alias("__ck"))
            .join(pk, F.col("__ck") == F.col("__pk"), "left")
            .agg(
                F.count(F.when(F.col("__pk").isNull(), 1))
                .cast("long")
                .alias("n_orphans"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
            )
            .select(F.lit(fk_name).alias("fk"), "n_orphans", "n_rows")
        )

    return (
        audit("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey")
        .unionByName(
            audit("lineitem.l_orderkey->orders", li, "l_orderkey", orders,
                  "o_orderkey")
        )
        .unionByName(
            audit("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey")
        )
        .unionByName(
            audit("customer.c_nationkey->nation", cust, "c_nationkey", nation,
                  "n_nationkey")
        )
    )


@query(
    "benford_first_digit_audit",
    oracle="""
    WITH digits AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                          1, 1) AS BIGINT) AS d
        FROM orders WHERE o_totalprice >= 1
    ), counts AS (
        SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
    ), tot AS (
        SELECT SUM(n) AS t FROM counts
    )
    SELECT d, n,
           ROUND(n * 1.0 / t, 6) AS observed,
           ROUND(log10(1.0 + 1.0 / d), 6) AS expected,
           ROUND((n * 1.0 / t - log10(1.0 + 1.0 / d))
                 * (n * 1.0 / t - log10(1.0 + 1.0 / d))
                 / log10(1.0 + 1.0 / d), 6) AS chi2_term
    FROM counts, tot
    """,
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed
    leading-digit frequencies against the log10(1+1/d) law, with
    per-digit chi-square terms. Natural multiplicative data follows
    Benford; synthetic/fabricated/truncated data deviates loudly — a
    one-scan forensic gate for ingested numeric columns (this corpus's
    uniform-ish synthetic prices deviate by construction, which is
    exactly what the audit should report).

    Scale shape: leading digit extracted map-side from the integer
    part; one hash-agg to <=9 rows; constants thereafter.
    """
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor("o_totalprice").cast("string"), 1, 1
        )
        .cast("long")
        .alias("d")
    )
    counts = digits.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = counts.agg(F.sum("n").alias("t"))
    obs = F.col("n") * 1.0 / F.col("t")
    exp = F.log10(1.0 + 1.0 / F.col("d"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        F.round(obs, 6).alias("observed"),
        F.round(exp, 6).alias("expected"),
        F.round((obs - exp) * (obs - exp) / exp, 6).alias("chi2_term"),
    )


# ---------------------------------------------------------------------------
# wave 50: collocation mining, RFM segmentation, nearest-event as-of
# ---------------------------------------------------------------------------


@query(
    "pmi_bigram_collocations",
    oracle="""
    WITH toks AS (
        SELECT CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    ), uc AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
    ), tot AS (
        SELECT SUM(c) AS n FROM uc
    ), bi AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab
        FROM (
            SELECT t[g.i] AS a, t[g.i + 1] AS b
            FROM toks,
                 LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
        ) GROUP BY a, b HAVING COUNT(*) >= 5
    )
    SELECT a, b, c_ab, ROUND(ln((CAST(c_ab AS DOUBLE) * n) / (CAST(ua.c AS DOUBLE) * ub.c)), 6) AS pmi
    FROM bi JOIN uc ua ON ua.w = bi.a JOIN uc ub ON ub.w = bi.b, tot
    ORDER BY (CAST(c_ab AS DOUBLE) * n) / (CAST(ua.c AS DOUBLE) * ub.c) DESC, a, b
    LIMIT 20
    """,
)
def pmi_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-token bigram collocations by pointwise mutual
    information, min support 5 — the phrase-mining pass (tokenizer merge
    candidates, stopword-phrase discovery) over the corpus.

    PMI = ln(c(ab)·N / (c(a)·c(b))) with N = total token occurrences.
    Ordering is done on the raw double ratio (pure IEEE mul/div of exact
    BIGINTs — engine-identical), not the rounded log, so the top-k is
    stable across engines; ties break on the token pair.

    Scale shape: bigrams enumerated map-side inside the row (transform
    over sequence — no self-join, no shuffle to form pairs); two hash
    aggs whose key spaces are vocab and vocab² bounded by min-support;
    unigram side joined twice (vocab-sized, broadcast at corpus scale);
    TakeOrdered top-k. No corpus-sized shuffle anywhere.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(ws_tokens(F.lower(F.col("text"))).alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    uni = _ckpt(uni)  # shared fan-out relation
    tot = uni.agg(F.sum("c").alias("n"))
    bi = (
        toks.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1),"
                    " i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))"
                    " ELSE array() END"
                )
            ).alias("bg")
        )
        .select("bg.a", "bg.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    ua = uni.select(F.col("w").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("b"), F.col("c").alias("c_b"))
    ratio = (F.col("c_ab").cast("double") * F.col("n")) / (
        F.col("c_a").cast("double") * F.col("c_b")
    )
    return (
        bi.join(F.broadcast(ua), "a")
        .join(F.broadcast(ub), "b")
        .crossJoin(F.broadcast(tot))
        .orderBy(ratio.desc(), "a", "b")
        .limit(20)
        .select("a", "b", "c_ab", F.round(F.log(ratio), 6).alias("pmi"))
    )


@query(
    "rfm_customer_segments",
    oracle="""
    WITH cust AS (
        SELECT o_custkey AS custkey,
               date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                         (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders)) AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS monetary_cents
        FROM orders GROUP BY o_custkey
    ), scored AS (
        SELECT NTILE(4) OVER (ORDER BY recency_days ASC, custkey) AS r,
               NTILE(4) OVER (ORDER BY freq DESC, custkey) AS f,
               NTILE(4) OVER (ORDER BY monetary_cents DESC, custkey) AS m,
               monetary_cents
        FROM cust
    )
    SELECT r, f, m, CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
    FROM scored GROUP BY r, f, m
    """,
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) quartile segmentation — the
    classic customer-value census. r/f/m = NTILE(4) with r1 = most
    recent, f1 = most frequent, m1 = highest spend; output is the
    64-cell-max segment census with exact BIGINT cents.

    Scale shape: the fact collapses to one row per customer in a single
    map-side-partial hash agg; the three ntiles run over the customer
    summary (dimension-sized, not fact-sized) and share one single-
    partition sort exchange; final agg is 64 rows. At extreme customer
    counts the ntile cut points would swap to approx percentiles — the
    exact form here is the checkable spec. Tie-breaks on custkey make
    every quartile boundary deterministic.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    maxd = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    cust = cust.crossJoin(F.broadcast(maxd)).select(
        "custkey",
        F.datediff("maxd", "last_order").alias("recency_days"),
        "freq",
        "monetary_cents",
    )
    w = Window.orderBy
    scored = cust.select(
        F.ntile(4).over(w(F.asc("recency_days"), F.asc("custkey"))).alias("r"),
        F.ntile(4).over(w(F.desc("freq"), F.asc("custkey"))).alias("f"),
        F.ntile(4).over(w(F.desc("monetary_cents"), F.asc("custkey"))).alias("m"),
        "monetary_cents",
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("monetary_cents").cast("long").alias("segment_cents"),
    )


@query(
    "asof_nearest_event",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, epoch_us(ts) AS pt
        FROM events WHERE event_type = 'purchase'
    ), v AS (
        SELECT user_id, epoch_us(ts) AS vt FROM events WHERE event_type = 'view'
    ), b AS (
        SELECT p.event_id, MAX(v.vt) AS prev_vt
        FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.vt <= p.pt
        GROUP BY p.event_id
    ), f AS (
        SELECT p.event_id, MIN(v.vt) AS next_vt
        FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.vt >= p.pt
        GROUP BY p.event_id
    )
    SELECT p.event_id, p.user_id,
           CASE WHEN prev_vt IS NULL AND next_vt IS NULL THEN 'none'
                WHEN next_vt IS NULL THEN 'prev'
                WHEN prev_vt IS NULL THEN 'next'
                WHEN p.pt - prev_vt <= next_vt - p.pt THEN 'prev'
                ELSE 'next' END AS nearest_dir,
           CASE WHEN prev_vt IS NULL AND next_vt IS NULL THEN NULL
                WHEN next_vt IS NULL THEN p.pt - prev_vt
                WHEN prev_vt IS NULL THEN next_vt - p.pt
                ELSE LEAST(p.pt - prev_vt, next_vt - p.pt) END AS gap_us
    FROM p JOIN b ON b.event_id = p.event_id JOIN f ON f.event_id = p.event_id
    """,
)
def asof_nearest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-in-time as-of join, BOTH directions: for every purchase,
    the temporally closest view by the same user (preceding or
    following), ties to the preceding one. Completes the as-of family
    (backward `asof_join_purchases`, forward `asof_forward_next_purchase`)
    with the symmetric nearest-neighbour variant sensor/order-book
    alignment needs.

    Engine: ONE shuffle on user_id — views and purchases ride the same
    RANGE-framed window (ordered by microsecond epoch) where
    `last(view_ts) ignore nulls` over (-inf, 0] gives the nearest
    preceding view and `first(view_ts) ignore nulls` over [0, +inf) the
    nearest following; frames are RANGE (value) based so rows tied on
    ts agree with the oracle's pure ts-inequality semantics no matter
    the intra-tie row order. The oracle is the naive inequality-join
    formulation — agreement proves the single-pass window form exact.
    All gaps are BIGINT microseconds.

    Scale shape: no pair explosion (the naive join is oracle-only);
    state per row is two BIGINTs; AQE handles hot users.
    """
    from pyspark_movie_recommender_spark.operators.asof import asof_nearest

    ev = load_table(spark, sf_dir, "events")
    # NTZ fixture timestamps: cast through LTZ (session TZ is UTC in tests)
    # so unix_micros matches the oracle's epoch_us over naive timestamps
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", us.alias("t")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", us.alias("t")
    )
    return asof_nearest(purchases, views, on="t", key="user_id").select(
        "event_id", "user_id", "nearest_dir", F.col("gap").alias("gap_us")
    )


# ---------------------------------------------------------------------------
# wave 51: corpus keyness, n-gram diversity, pure-SQL naive Bayes
# ---------------------------------------------------------------------------


@query(
    "g2_keyness_sources",
    oracle="""
    WITH toks AS (
        SELECT CAST(substr(source, 4) AS INT) % 2 AS grp,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    ), tc AS (
        SELECT w,
               CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b
        FROM (SELECT grp, unnest(t) AS w FROM toks) GROUP BY w
    ), tot AS (
        SELECT SUM(a) AS na, SUM(b) AS nb FROM tc
    )
    SELECT w, a, b,
           CASE WHEN a * nb > b * na THEN 'A' ELSE 'B' END AS leans,
           ROUND(2.0 * (
               CASE WHEN a > 0 THEN a * ln(CAST(a AS DOUBLE)
                    / (na * (CAST(a + b AS DOUBLE) / (na + nb)))) ELSE 0.0 END
             + CASE WHEN b > 0 THEN b * ln(CAST(b AS DOUBLE)
                    / (nb * (CAST(a + b AS DOUBLE) / (na + nb)))) ELSE 0.0 END
           ), 6) AS g2
    FROM tc, tot
    WHERE a + b >= 20
    """,
)
def g2_keyness_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-likelihood (G², Dunning 1993) keyness of every token with
    corpus frequency >= 20 between two crawl halves (even- vs
    odd-numbered sources) — the corpus-comparison statistic behind
    'which words distinguish crawl A from crawl B', used to audit
    ingest drift between two acquisitions of nominally-the-same web
    data. `leans` marks the over-represented side via exact BIGINT
    cross-multiplication (a·Nb vs b·Na) so the direction never rides a
    float ratio.

    Scale shape: one explode into a (token → two partial counts) hash
    agg (map-side combine collapses occurrences before the shuffle);
    totals are a 1-row broadcast; G² itself is a map-side expression on
    the vocab-sized relation. All rows returned (no top-k), so no
    cross-engine float-ordering hazard — the gate sorts rows itself.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        (F.substring("source", 4, 10).cast("int") % 2).alias("grp"),
        ws_tokens(F.lower(F.col("text"))).alias("t"),
    )
    tc = (
        toks.select("grp", F.explode("t").alias("w"))
        .groupBy("w")
        .agg(
            F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("a"),
            F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("b"),
        )
    )
    tot = tc.agg(F.sum("a").alias("na"), F.sum("b").alias("nb"))
    a, b = F.col("a"), F.col("b")
    na, nb = F.col("na"), F.col("nb")
    ea = na * ((a + b).cast("double") / (na + nb))
    eb = nb * ((a + b).cast("double") / (na + nb))
    g2 = 2.0 * (
        F.when(a > 0, a * F.log(a.cast("double") / ea)).otherwise(F.lit(0.0))
        + F.when(b > 0, b * F.log(b.cast("double") / eb)).otherwise(F.lit(0.0))
    )
    return (
        tc.filter(a + b >= 20)
        .crossJoin(F.broadcast(tot))
        .select(
            "w",
            "a",
            "b",
            F.when(a * nb > b * na, "A").otherwise("B").alias("leans"),
            F.round(g2, 6).alias("g2"),
        )
    )


@query(
    "ngram_diversity_ratio",
    oracle="""
    WITH toks AS (
        SELECT source,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    ), grams AS (
        SELECT source,
               t[g.i] || ' ' || t[g.i + 1] || ' ' || t[g.i + 2] || ' ' || t[g.i + 3] AS gram
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, len(t) - 3)) AS i) g
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct,
           CAST(COUNT(DISTINCT gram) * 1000000 // COUNT(*) AS BIGINT) AS diversity_ppm
    FROM grams GROUP BY source
    """,
)
def ngram_diversity_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source 4-gram diversity (distinct/total in exact ppm) — the
    self-repetition audit for generated or templated corpora: a source
    whose distinct-4-gram ratio collapses is emitting boilerplate or
    model-generated loops (the distinct-n-gram metric of self-BLEU
    fame), and should be down-weighted in the training mixture.

    Scale shape: 4-grams enumerated map-side inside the row (transform
    over sequence, no join); COUNT(DISTINCT) expands to a two-phase
    (source, gram) partial-dedup agg → per-source count, so the shuffle
    carries distinct grams, not occurrences; result is |sources| rows of
    pure BIGINT arithmetic.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", ws_tokens(F.lower(F.col("text"))).alias("t"))
    grams = toks.select(
        "source",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 4 THEN transform(sequence(1, size(t) - 3),"
                " i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),"
                " element_at(t, i + 2), element_at(t, i + 3)))"
                " ELSE array() END"
            )
        ).alias("gram"),
    )
    return (
        grams.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.countDistinct("gram").cast("long").alias("n_distinct"),
        )
        .select(
            "source",
            "n_grams",
            "n_distinct",
            F.expr("n_distinct * 1000000L div n_grams").alias("diversity_ppm"),
        )
    )


@query(
    "naive_bayes_lang_confusion",
    bench=True,
    oracle="""
    WITH split AS (
        SELECT doc_id, lang,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t,
               ((doc_id * 2654435761) % 4294967296) % 100 AS bucket
        FROM documents
    ),
    train_tok AS (
        SELECT lang, unnest(t) AS w FROM split WHERE bucket < 80
    ),
    counts AS (
        SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM train_tok GROUP BY lang, w
    ),
    n_lang AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l FROM train_tok GROUP BY lang
    ),
    vocab AS (
        SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM train_tok
    ),
    priors AS (
        SELECT lang,
               CAST(ROUND(ln(CAST(COUNT(*) AS DOUBLE)
                   / (SELECT COUNT(*) FROM split WHERE bucket < 80)) * 1000000)
                   AS BIGINT) AS prior_unats
        FROM split WHERE bucket < 80 GROUP BY lang
    ),
    test_tok AS (
        SELECT doc_id, lang AS true_lang, w, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT doc_id, lang, unnest(t) AS w FROM split WHERE bucket >= 80)
        GROUP BY doc_id, lang, w
    ),
    scored AS (
        SELECT tt.doc_id, tt.true_lang, nl.lang AS cand,
               SUM(tt.k * CAST(ROUND(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
                   / (nl.n_l + vocab.v)) * 1000000) AS BIGINT)) AS tok_unats
        FROM test_tok tt
        CROSS JOIN n_lang nl
        CROSS JOIN vocab
        LEFT JOIN counts c ON c.lang = nl.lang AND c.w = tt.w
        GROUP BY tt.doc_id, tt.true_lang, nl.lang
    ),
    ranked AS (
        SELECT true_lang, cand,
               ROW_NUMBER() OVER (
                   PARTITION BY doc_id
                   ORDER BY tok_unats + p.prior_unats DESC, cand) AS rn
        FROM scored JOIN priors p ON p.lang = scored.cand
    )
    SELECT true_lang, cand AS pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM ranked WHERE rn = 1 GROUP BY true_lang, cand
    """,
)
def naive_bayes_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language identification, trained AND
    applied entirely in relational algebra: Laplace-smoothed per-language
    token log-probabilities learned on the deterministic 80% hash split
    (same Knuth multiplicative hash as `deterministic_hash_split`),
    argmax-scored on the held-out 20%, reported as a confusion matrix.
    The statistical twin of the rule-based `language_id_heuristic`.

    Every log-probability is quantized to BIGINT micro-nats
    (round(ln·10⁶)) BEFORE summation, so per-document scores are exact
    integer sums — immune to float summation-order divergence between
    engines — and the argmax (ties → lexicographic language) is
    hash-stable. Model quality is what a unigram NB earns; the point is
    the shape: train = two hash aggs (vocab×langs and langs), apply =
    token-keyed join of test tokens against the model, doc-keyed agg,
    5-row-per-doc window argmax.

    Scale shape: the model relation is vocab×|langs| and broadcasts; the
    only data-sized shuffles are the (lang,w) training agg and ONE
    doc-keyed repartition of the exploded test tokens — every
    downstream doc-keyed op (the (doc,w) collapse, the per-doc scoring
    agg, the argmax window) reuses that partitioning, and n_lang/vocab
    are linear sums over the ckpt'd model relation instead of extra
    passes over the exploded training tokens. Nothing quadratic, no
    UDFs, no driver loop.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    # tokenize ONCE: six downstream branches (counts / n_lang / vocab /
    # d_tot / priors / test scoring) otherwise each re-scan the corpus
    # and re-run lower+split — the 100 TB shape is materialize-then-fan
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "lang",
            ws_tokens(F.lower(F.col("text"))).alias("t"),
            (((F.col("doc_id") * 2654435761) % 4294967296) % 100).alias(
                "bucket"
            ),
        )
        .transform(_ckpt)
    )
    train = docs.filter(F.col("bucket") < 80)
    test = docs.filter(F.col("bucket") >= 80)

    train_tok = train.select("lang", F.explode("t").alias("w"))
    # ckpt the (lang, w) model counts: n_lang (Σ_w c) and the vocab size
    # (distinct w) are linear sums over this vocab×|langs| relation —
    # deriving them here replaces two more explode+agg passes over the
    # training tokens with two tiny aggs over the materialized model
    counts = (
        train_tok.groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(_ckpt)
    )
    n_lang = counts.groupBy("lang").agg(F.sum("c").cast("long").alias("n_l"))
    vocab = counts.agg(F.countDistinct("w").cast("long").alias("v"))
    d_tot = train.agg(F.count(F.lit(1)).cast("long").alias("d_tot"))
    priors = (
        train.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("d_l"))
        .crossJoin(F.broadcast(d_tot))
        .select(
            "lang",
            F.round(F.log(F.col("d_l").cast("double") / F.col("d_tot")) * 1000000)
            .cast("long")
            .alias("prior_unats"),
        )
    )

    test_tok = (
        test.select(
            "doc_id", F.col("lang").alias("true_lang"), F.explode("t").alias("w")
        )
        # ONE doc-keyed exchange for the whole scoring pipeline:
        # HashPartitioning(doc_id) satisfies the (doc,true,w) collapse,
        # the (doc,true,cand) scoring agg AND the argmax window, so the
        # two fact-sized downstream exchanges (one carrying the ×|langs|
        # candidate fan-out) collapse into this single narrow shuffle.
        # Round-9 A/B receipt (flat windows, vs the partial-agg-first
        # form the round-8 advice asked to re-measure): repartition
        # 0.76x at sf0.1, 0.94x at sf1 — kept on measurement, no longer
        # only on the scale-shape argument.
        .repartition("doc_id")
        .groupBy("doc_id", "true_lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    cand = n_lang.select(F.col("lang").alias("cand"), "n_l")
    model = counts.select(F.col("lang").alias("cand"), "w", "c")
    lp = (
        F.round(
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
                / (F.col("n_l") + F.col("v"))
            )
            * 1000000
        )
        .cast("long")
    )
    scored = (
        test_tok.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(vocab))
        .join(F.broadcast(model), ["cand", "w"], "left")
        .select("doc_id", "true_lang", "cand", (F.col("k") * lp).alias("wu"))
        .groupBy("doc_id", "true_lang", "cand")
        .agg(F.sum("wu").alias("tok_unats"))
        .join(
            F.broadcast(priors.select(F.col("lang").alias("cand"), "prior_unats")),
            "cand",
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tok_unats") + F.col("prior_unats")).desc(), F.asc("cand")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("true_lang", F.col("cand").alias("pred_lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# wave 52: time-series statistics — ACF, CUSUM changepoint, trend tests
# ---------------------------------------------------------------------------


@query(
    "acf_daily_event_value",
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
        SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s FROM daily
    ), dev AS (
        SELECT i, CAST(n * x - s AS HUGEINT) AS d FROM daily, stats
    ), den AS (
        SELECT SUM(d * d) AS dd FROM dev
    ), lags AS (
        SELECT unnest(generate_series(1, 7)) AS lag
    )
    SELECT lag,
           ROUND(CAST(SUM(a.d * b.d) AS DOUBLE) / CAST(den.dd AS DOUBLE), 6) AS acf
    FROM lags JOIN dev a ON TRUE JOIN dev b ON b.i = a.i - lag, den
    GROUP BY lag, den.dd
    """,
)
def acf_daily_event_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1-7) of the zero-filled daily
    event-value series — the seasonality detector behind 'does this
    metric have a weekly cycle', feeding resampling/forecast choices.

    Exactness: deviations are computed as n·x_t − Σx (pure BIGINT — the
    n² normalization cancels in the ACF ratio), products and their sums
    in 38-digit decimals, so both engines produce bit-identical
    numerators/denominators regardless of summation order; only the
    final single division is floating point. Missing days are zero
    revenue via a generated calendar grid, keeping lag alignment honest
    across gaps.

    Scale shape: the fact collapses to |days| rows in one hash agg; the
    grid, lag self-join, and ACF aggregation all run on that tiny series
    relation. At 100 TB the day-grid is still just thousands of rows.
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
    lags = spark.range(1, 8).select(F.col("id").cast("long").alias("lag"))
    pairs = (
        lags.crossJoin(dev.select(F.col("i").alias("ai"), F.col("d").alias("ad")))
        .join(
            dev.select(F.col("i").alias("bi"), F.col("d").alias("bd")),
            F.col("bi") == F.col("ai") - F.col("lag"),
        )
        .groupBy("lag")
        .agg(F.sum(F.col("ad") * F.col("bd")).alias("num"))
    )
    return pairs.crossJoin(F.broadcast(den)).select(
        "lag",
        F.round(
            F.col("num").cast("double") / F.col("dd").cast("double"), 6
        ).alias("acf"),
    )


@query(
    "cusum_changepoint_daily",
    oracle="""
    WITH pts AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        FROM events
    ), bounds AS (
        SELECT MIN(day) AS lo, MAX(day) AS hi FROM pts
    ), grid AS (
        SELECT et.event_type, g.day
        FROM (SELECT DISTINCT event_type FROM pts) et,
             (SELECT unnest(generate_series(lo, hi)) AS day FROM bounds) g
    ), daily AS (
        SELECT g.event_type, g.day,
               CAST(COUNT(p.day) AS BIGINT) AS x
        FROM grid g LEFT JOIN pts p
          ON p.event_type = g.event_type AND p.day = g.day
        GROUP BY g.event_type, g.day
    ), stats AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s
        FROM daily GROUP BY event_type
    ), cusum AS (
        SELECT d.event_type, d.day,
               SUM(st.n * d.x - st.s) OVER (
                   PARTITION BY d.event_type ORDER BY d.day) AS c
        FROM daily d JOIN stats st ON st.event_type = d.event_type
    ), ranked AS (
        SELECT event_type, day, c,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY ABS(c) DESC, day) AS rn
        FROM cusum
    )
    SELECT event_type, day AS change_day, CAST(c AS BIGINT) AS cusum_n_scaled
    FROM ranked WHERE rn = 1
    """,
)
def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint locator per event type: the day where the
    running sum of mean-deviations of the zero-filled daily count series
    peaks in magnitude — the classic single-changepoint estimator for
    'when did this metric shift level' (deploy regressions, logging
    changes, traffic steps).

    Exactness: deviations are n·x_t − Σx (BIGINT; the n scaling is
    reported as-is and documented, so no division ever happens), the
    running sum is an exact integer window, and the argmax breaks ties
    on the earlier day — fully hash-stable.

    Scale shape: fact → |types|×|days| hash agg; calendar grid generated
    from a 1-row bounds agg; window and argmax run on the tiny series
    relation partitioned by type.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import (
        epoch_day,
        mean_cleared_devs,
        zero_filled_daily_grid,
    )

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select("event_type", epoch_day("ts").alias("day")).withColumn(
        "hit", F.lit(1)
    )
    daily = zero_filled_daily_grid(
        pts, F.count("hit").cast("long"), keys=["event_type"]
    )
    cusum = mean_cleared_devs(daily, keys=["event_type"]).select(
        "event_type",
        "day",
        F.sum("d")
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("c"),
    )
    ranked = cusum.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.abs("c").desc(), F.asc("day"))
        ),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("day").alias("change_day"),
        F.col("c").cast("long").alias("cusum_n_scaled"),
    )


@query(
    "mann_kendall_trend",
    oracle="""
    WITH pts AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ), daily AS (
        SELECT event_type, day, CAST(SUM(cents) AS BIGINT) AS x
        FROM pts GROUP BY event_type, day
    ), pairs AS (
        SELECT a.event_type,
               CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END AS sgn,
               CAST(b.x - a.x AS DOUBLE) / (b.day - a.day) AS slope
        FROM daily a JOIN daily b
          ON b.event_type = a.event_type AND b.day > a.day
    )
    SELECT event_type,
           CAST(SUM(sgn) AS BIGINT) AS mk_s,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(quantile_cont(slope, 0.5), 6) AS theil_sen_cents_per_day
    FROM pairs GROUP BY event_type
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test statistic S plus the Theil-Sen slope
    estimator per event type over the daily value series — the robust
    (outlier-immune, distribution-free) monotonic-trend detector used on
    operational metrics where OLS is wrecked by spikes.

    S = Σ_{i<j} sign(x_j − x_i) is pure BIGINT counting. The Theil-Sen
    slope is the exact interpolated median of all pairwise slopes; each
    slope is one IEEE division of exact integers, so the sorted slope
    multiset is engine-identical and the median deterministic.

    Scale shape: the fact collapses to the |types|×|days| daily relation
    FIRST; the pairwise self-join is days²-bounded per type (series
    length, never event count) — for longer horizons the documented
    swap is bucketing days into epochs before pairing. No window over
    the raw facts, no UDFs.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr("unix_micros(CAST(ts AS timestamp_ltz)) div 86400000000")
            .cast("long")
            .alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").cast("long").alias("x"))
    )
    a = daily.select(
        "event_type", F.col("day").alias("ad"), F.col("x").alias("ax")
    )
    b = daily.select(
        "event_type", F.col("day").alias("bd"), F.col("x").alias("bx")
    )
    pairs = a.join(b, "event_type").filter(F.col("bd") > F.col("ad")).select(
        "event_type",
        F.when(F.col("bx") > F.col("ax"), 1)
        .when(F.col("bx") < F.col("ax"), -1)
        .otherwise(0)
        .alias("sgn"),
        (
            (F.col("bx") - F.col("ax")).cast("double") / (F.col("bd") - F.col("ad"))
        ).alias("slope"),
    )
    return pairs.groupBy("event_type").agg(
        F.sum("sgn").cast("long").alias("mk_s"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.5)"), 6).alias("theil_sen_cents_per_day"),
    )


# ---------------------------------------------------------------------------
# wave 53: mutual information, bigram LM surprisal, deterministic bootstrap
# ---------------------------------------------------------------------------


@query(
    "mutual_information_type_segment",
    oracle="""
    WITH joint AS (
        SELECT e.event_type, c.c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS n_ij
        FROM events e JOIN customer c ON c.c_custkey = e.user_id
        GROUP BY e.event_type, c.c_mktsegment
    ), mi AS (
        SELECT j.event_type, j.segment, j.n_ij,
               CAST(SUM(j.n_ij) OVER () AS BIGINT) AS n,
               CAST(SUM(j.n_ij) OVER (PARTITION BY j.event_type) AS BIGINT) AS n_i,
               CAST(SUM(j.n_ij) OVER (PARTITION BY j.segment) AS BIGINT) AS n_j
        FROM joint j
    )
    SELECT event_type, segment, n_ij,
           ROUND((CAST(n_ij AS DOUBLE) / n)
                 * ln((CAST(n_ij AS DOUBLE) * n) / (CAST(n_i AS DOUBLE) * n_j)), 6)
               + 0.0 AS mi_contrib
    FROM mi
    """,
)
def mutual_information_type_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and the acting customer's
    market segment, reported as the per-cell contribution matrix
    (Σ cells = I(X;Y)) — the dependence detector for 'is behaviour
    segment-conditioned', used for feature selection and leakage checks
    before training on joined features.

    All counts are exact BIGINTs; each cell does one ln of a rational
    built from those counts and one division — no float accumulations,
    no top-k, so no cross-engine ordering hazard (≤ |types|·|segments|
    rows, the gate sorts them).

    Scale shape: fact joins the customer dim (broadcast at real scale),
    collapses to the |types|×|segments| contingency table in one hash
    agg with map-side combine; the three marginal windows run on that
    tiny table.
    """
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    joint = (
        ev.join(
            F.broadcast(cust.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")),
            "user_id",
        )
        .groupBy("event_type", F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_ij"))
    )
    w_all = Window.partitionBy()
    w_i = Window.partitionBy("event_type")
    w_j = Window.partitionBy("segment")
    mi = joint.select(
        "event_type",
        "segment",
        "n_ij",
        F.sum("n_ij").over(w_all).cast("long").alias("n"),
        F.sum("n_ij").over(w_i).cast("long").alias("n_i"),
        F.sum("n_ij").over(w_j).cast("long").alias("n_j"),
    )
    return mi.select(
        "event_type",
        "segment",
        "n_ij",
        # + 0.0 folds IEEE -0.0 (a libm ulp at the rounding boundary on
        # near-independent cells) to +0.0 on both engines
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


@query(
    "bigram_lm_surprisal",
    bench=True,
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    ), bi AS (
        SELECT doc_id, lang, t[g.i] AS a, t[g.i + 1] AS b
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) g
    ), bc AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c_ab FROM bi GROUP BY a, b
    ), uc AS (
        SELECT a, CAST(COUNT(*) AS BIGINT) AS c_a FROM bi GROUP BY a
    ), vocab AS (
        SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v
        FROM (SELECT unnest(t) AS w FROM toks)
    ), scored AS (
        SELECT bi.doc_id, bi.lang,
               CAST(ROUND(-ln(CAST(bc.c_ab + 1 AS DOUBLE) / (uc.c_a + vocab.v))
                    * 1000000) AS BIGINT) AS unats
        FROM bi JOIN bc ON bc.a = bi.a AND bc.b = bi.b
                JOIN uc ON uc.a = bi.a
                CROSS JOIN vocab
    )
    SELECT doc_id, lang,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(unats) // COUNT(*) AS BIGINT) AS mean_surprisal_unats
    FROM scored GROUP BY doc_id, lang
    """,
)
def bigram_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram surprisal −ln p(w_i | w_{i−1}) under the
    corpus's own Laplace-smoothed bigram LM — the sequence-aware quality
    scorer beside `unigram_logprob_quality`: word-salad documents whose
    unigrams look fine light up here because their TRANSITIONS are
    improbable.

    Each conditional log-probability is quantized to BIGINT micro-nats
    before aggregation, so per-doc sums and the integer-division mean
    are exact and summation-order-proof across engines.

    Scale shape: bigrams enumerated map-side in-row; the LM is two hash
    aggs (bigram and unigram-context counts) re-joined to the bigram
    stream on their natural keys — vocab-sized sides that broadcast at
    corpus scale; final agg is per-doc. No UDFs, no windows over the
    corpus.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    # tokenize ONCE: four branches (bigram counts, context counts, the
    # scored join's bigram stream, vocab) otherwise each re-scan the
    # corpus and re-run lower+split; the in-row bigram explode stays
    # lazy — re-deriving it from checkpointed token arrays is map-side
    # cheap, materializing the bigram STREAM would not be
    toks = docs.select(
        "doc_id", "lang", ws_tokens(F.lower(F.col("text"))).alias("t")
    ).transform(_ckpt)
    bi = toks.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS a, element_at(t, i + 1) AS b))"
                " ELSE array() END"
            )
        ).alias("bg"),
    ).select("doc_id", "lang", "bg.a", "bg.b")
    # Round 9: REVERTED the round-8 "context counts as the LM's marginal
    # over a tracked persist" form back to two independent passes. The
    # flat-window interleaved A/B the round-8 switch never got reads the
    # persist form 1.13x (sf0.1) and 1.15x (sf1) SLOWER: the cache write
    # of the distinct-bigram table costs more than the saved second
    # explode+agg pass, whose map-side partial aggregation collapses the
    # Zipf head before the shuffle anyway. Two-pass is the known-good
    # oracle form (guide §5: prefer recompute over caching wide data).
    bc = bi.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c_ab")
    )
    uc = bi.groupBy("a").agg(F.count(F.lit(1)).cast("long").alias("c_a"))
    vocab = toks.select(F.explode("t").alias("w")).agg(
        F.countDistinct("w").cast("long").alias("v")
    )
    unats = (
        F.round(
            -F.log(
                (F.col("c_ab") + 1).cast("double") / (F.col("c_a") + F.col("v"))
            )
            * 1000000
        )
        .cast("long")
    )
    scored = (
        bi.join(F.broadcast(bc), ["a", "b"])
        .join(F.broadcast(uc), "a")
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", "lang", unats.alias("unats"))
    )
    return (
        scored.groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("unats").alias("su"),
        )
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            F.expr("su div n_bigrams").cast("long").alias("mean_surprisal_unats"),
        )
    )


@query(
    "bootstrap_ci_order_value",
    oracle="""
    WITH w AS (
        SELECT b.b, o.o_orderkey,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
               ((o.o_orderkey * 2654435761 + b.b * 40503) % 4294967296) % 3 AS wt
        FROM orders o,
             (SELECT unnest(generate_series(0, 99)) AS b) b
    ), means AS (
        SELECT b,
               CAST(SUM(wt * cents) AS BIGINT) AS num,
               CAST(SUM(wt) AS BIGINT) AS den
        FROM w GROUP BY b HAVING SUM(wt) > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_resamples,
           ROUND(quantile_cont(CAST(num AS DOUBLE) / den, 0.025), 4) AS ci_lo,
           ROUND(quantile_cont(CAST(num AS DOUBLE) / den, 0.5), 4) AS ci_mid,
           ROUND(quantile_cont(CAST(num AS DOUBLE) / den, 0.975), 4) AS ci_hi
    FROM means
    """,
)
def bootstrap_ci_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted-bootstrap 95% confidence interval for the
    mean order value (cents): 100 resamples whose per-row weights
    {0,1,2} come from a multiplicative hash of (orderkey, resample) —
    the reproducible, cluster-stable stand-in for Poisson bootstrap
    weights (mean 1, recomputable map-side on any executor, no rand(),
    no resample tables to ship).

    Each resample mean is an exact BIGINT ratio evaluated with ONE IEEE
    division; the CI bounds are exact interpolated percentiles of those
    100 engine-identical doubles. This is the uncertainty layer for
    every point estimate the engine reports.

    Scale shape: the fan-out is rows×B but entirely map-side (a
    generated literal range crossed in-row) feeding a B-row hash agg
    with map-side partials — the shuffle carries 2·B BIGINTs per task,
    not the resampled data. B scales independently of the corpus.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.explode(F.expr("sequence(0, 99)")).alias("b"),
    ).select(
        "b",
        "cents",
        (
            ((F.col("o_orderkey") * 2654435761 + F.col("b") * 40503) % 4294967296)
            % 3
        ).alias("wt"),
    )
    means = (
        w.groupBy("b")
        .agg(
            F.sum(F.col("wt") * F.col("cents")).cast("long").alias("num"),
            F.sum("wt").cast("long").alias("den"),
        )
        .filter(F.col("den") > 0)
        .select((F.col("num").cast("double") / F.col("den")).alias("m"))
    )
    return means.agg(
        F.count(F.lit(1)).cast("long").alias("n_resamples"),
        F.round(F.expr("percentile(m, 0.025D)"), 4).alias("ci_lo"),
        F.round(F.expr("percentile(m, 0.5D)"), 4).alias("ci_mid"),
        F.round(F.expr("percentile(m, 0.975D)"), 4).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# wave 54: PSI drift, weekday seasonality, Lorenz concentration curve
# ---------------------------------------------------------------------------


@query(
    "psi_drift_order_value",
    oracle="""
    WITH o AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
               CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day
        FROM orders
    ), bounds AS (
        SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM o
    ), tagged AS (
        SELECT cents, CASE WHEN day < mid THEN 0 ELSE 1 END AS period
        FROM o, bounds
    ), edges AS (
        SELECT quantile_cont(CAST(cents AS DOUBLE),
                             [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS e
        FROM tagged WHERE period = 0
    ), binned AS (
        SELECT period, len(list_filter(e, x -> cents > x)) AS bin
        FROM tagged, edges
    ), counts AS (
        SELECT bin,
               CAST(SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        FROM binned GROUP BY bin
    ), tot AS (
        SELECT SUM(n0) AS t0, SUM(n1) AS t1 FROM counts
    )
    SELECT bin, n0, n1,
           ROUND((CAST(n1 AS DOUBLE) / t1 - CAST(n0 AS DOUBLE) / t0)
                 * ln((CAST(n1 AS DOUBLE) / t1) / (CAST(n0 AS DOUBLE) / t0)),
                 6) AS psi_term
    FROM counts, tot
    """,
)
def psi_drift_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of order value between the first and
    second half of the order history: reference-period deciles become
    fixed bin edges, and each bin contributes (p₁−p₀)·ln(p₁/p₀) — the
    scorecard-monitoring drift metric (PSI > 0.25 ⇒ the distribution a
    model was trained on no longer holds). Binned twin of the
    KS statistic in `ks_drift_view_purchase`.

    Decile edges are exact interpolated percentiles of BIGINT cents
    (engine-identical doubles); bin assignment is a strict > count over
    the 9-edge array (in-row, no join); counts are exact; each PSI term
    does two divisions and one ln of already-identical doubles, rounded
    to 6. All ≤10 rows returned, no ordering hazard.

    Scale shape: one pass to tag periods (pure arithmetic on the date),
    one exact-percentile agg over the reference half, then a 10-row
    hash agg; the edge array broadcasts in-row. At extreme scale the
    documented swap is approx percentiles for the edges — the exact
    form is the checkable spec.
    """
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.expr("unix_micros(CAST(o_orderdate AS timestamp_ltz)) div 86400000000")
        .cast("long")
        .alias("day"),
    )
    bounds = o.agg(
        F.expr("(min(day) + max(day)) div 2").cast("long").alias("mid")
    )
    tagged = o.crossJoin(F.broadcast(bounds)).select(
        "cents", F.when(F.col("day") < F.col("mid"), 0).otherwise(1).alias("period")
    )
    edges = tagged.filter(F.col("period") == 0).agg(
        F.expr(
            "percentile(CAST(cents AS DOUBLE),"
            " array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))"
        ).alias("e")
    )
    binned = tagged.crossJoin(F.broadcast(edges)).select(
        "period",
        F.expr("size(filter(e, x -> cents > x))").alias("bin"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("period") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).cast("long").alias("n1"),
    )
    counts = _ckpt(counts)  # shared fan-out relation
    tot = counts.agg(F.sum("n0").alias("t0"), F.sum("n1").alias("t1"))
    p0 = F.col("n0").cast("double") / F.col("t0")
    p1 = F.col("n1").cast("double") / F.col("t1")
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n0",
        "n1",
        F.round((p1 - p0) * F.log(p1 / p0), 6).alias("psi_term"),
    )


@query(
    "dow_seasonality_profile",
    oracle="""
    WITH e AS (
        SELECT (CAST(epoch_us(ts) // 86400000000 AS BIGINT)) % 7 AS dow,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ), agg AS (
        SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(cents) AS BIGINT) AS cents
        FROM e GROUP BY dow
    ), tot AS (
        SELECT SUM(n_events) AS tn FROM agg
    )
    SELECT dow, n_events, cents,
           CAST(n_events * 1000000 // tn AS BIGINT) AS share_ppm,
           CAST(n_events * 7000000 // tn AS BIGINT) AS index_ppm
    FROM agg, tot
    """,
)
def dow_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile of the event stream: per-weekday
    event count, value cents, traffic share, and a seasonality index
    (share × 7, ppm — 1,000,000 = flat) — the weekly-cycle census that
    justifies (or kills) the lag-7 signal `acf_daily_event_value`
    measures.

    The weekday is epoch_day mod 7 (day 0 = a Thursday) — pure integer
    arithmetic with identical semantics in every engine, dodging the
    1-vs-0-based / Sunday-vs-Monday-first minefield of native dayofweek
    functions (documented, and trivially relabeled downstream). All
    outputs are exact BIGINT ppm.

    Scale shape: one map-side projection, one 7-row hash agg with
    map-side partials, a 1-row broadcast total. Nothing else.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        (
            F.expr("unix_micros(CAST(ts AS timestamp_ltz)) div 86400000000") % 7
        )
        .cast("long")
        .alias("dow"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    agg = e.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("cents"),
    )
    tot = agg.agg(F.sum("n_events").alias("tn"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n_events",
        "cents",
        F.expr("n_events * 1000000L div tn").cast("long").alias("share_ppm"),
        F.expr("n_events * 7000000L div tn").cast("long").alias("index_ppm"),
    )


@query(
    "lorenz_curve_customer_spend",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders GROUP BY o_custkey
    ), deciled AS (
        SELECT cents,
               NTILE(10) OVER (ORDER BY cents ASC, o_custkey) AS decile
        FROM spend
    ), agg AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS cents
        FROM deciled GROUP BY decile
    ), tot AS (
        SELECT SUM(cents) AS tc FROM agg
    )
    SELECT decile, n_customers, cents,
           CAST(SUM(cents) OVER (ORDER BY decile) * 1000000 // tc AS BIGINT)
               AS cum_share_ppm
    FROM agg, tot
    """,
)
def lorenz_curve_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz concentration curve of customer spend: customers ranked
    poorest→richest into deciles, with the cumulative revenue share each
    decile accounts for (exact ppm) — the 'top 10% of customers drive X%
    of revenue' curve, and the oracle-checkable integral twin of the
    rows-only Gini UDAF (`udaf_gini_per_segment`): Gini = 1 − 2·∫Lorenz.

    Scale shape: the fact collapses to one row per customer map-side;
    the decile assignment goes through
    ``operators/rank.py:distributed_ntile`` (range-bucketed global
    rank + exact NTILE arithmetic from the rank and total count) —
    the per-customer summary is ~10⁹ rows at 100 TB, so a bare
    ``Window.orderBy`` ntile would single-task it. Tie-broken on
    custkey, so every boundary is deterministic; the cumulative
    window runs over 10 rows. All arithmetic BIGINT.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_ntile,
    )

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    deciled = distributed_ntile(
        spend, "cents", "o_custkey", 10, out_col="decile"
    ).select("cents", "decile")
    agg = deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("cents"),
    )
    tot = agg.agg(F.sum("cents").alias("tc"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_customers",
        "cents",
        F.expr(
            "sum(cents) over (order by decile rows between unbounded preceding"
            " and current row) * 1000000L div tc"
        )
        .cast("long")
        .alias("cum_share_ppm"),
    )


# ---------------------------------------------------------------------------
# wave 55: graph modularity, bag-semantics set ops, discrete percentiles
# ---------------------------------------------------------------------------


@query(
    "modularity_trade_communities",
    bench=True,
    oracle="""
    WITH fwd AS (
        SELECT DISTINCT o.o_custkey AS ck, l.l_suppkey AS sk
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), nodes AS (
        SELECT 'c' || CAST(c_custkey AS VARCHAR) AS node,
               CAST(c_nationkey AS BIGINT) AS com FROM customer
        UNION ALL
        SELECT 's' || CAST(s_suppkey AS VARCHAR) AS node,
               CAST(s_nationkey AS BIGINT) AS com FROM supplier
    ), edges AS (
        SELECT 'c' || CAST(ck AS VARCHAR) AS src, 's' || CAST(sk AS VARCHAR) AS dst
        FROM fwd
        UNION ALL
        SELECT 's' || CAST(sk AS VARCHAR), 'c' || CAST(ck AS VARCHAR) FROM fwd
    ), lab AS (
        SELECT ns.com AS src_com, nd.com AS dst_com
        FROM edges e JOIN nodes ns ON ns.node = e.src
                     JOIN nodes nd ON nd.node = e.dst
    ), s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m2 FROM lab
    ), per AS (
        SELECT src_com AS com,
               CAST(SUM(CASE WHEN src_com = dst_com THEN 1 ELSE 0 END) AS BIGINT)
                   AS e_int,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM lab GROUP BY src_com
    )
    SELECT com, e_int, k,
           CAST(e_int * m2 - k * k AS BIGINT) AS q_scaled
    FROM per, s
    """,
)
def modularity_trade_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the bidirected customer↔supplier trade graph
    under the nation partition — 'do nations form real trade communities
    or is the graph nation-agnostic?'. Per-community contribution in the
    EXACT integer scaling Q·(2m)² = Σ_c (e_c·2m − K_c²), so the quality
    score of any community assignment (here: nations; in production: the
    output of label propagation / Louvain rounds) is hash-checkable with
    zero float drift. Σ q_scaled / (2m)² recovers the float Q.

    Scale shape: the distinct bipartite edge set collapses the fact
    first; ONE pass over it (integer keys, both nation dims broadcast)
    yields the ≤|nations|² (cust_nation, supp_nation) census, and
    every bidirected per-community quantity is a linear combination of
    that tiny relation: k(c) sums the census row-wise + column-wise
    (each undirected edge contributes one src endpoint per direction),
    e_int(c) = 2·census(c,c). The previous shape unioned two
    string-keyed direction projections and walked the edge ckpt twice;
    the census form never materializes the bidirected edge list at
    all. Degree products never materialize pairs.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    fwd = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    census = (
        fwd.join(
            F.broadcast(
                cust.select(
                    F.col("c_custkey").alias("ck"),
                    F.col("c_nationkey").cast("long").alias("cn"),
                )
            ),
            "ck",
        )
        .join(
            F.broadcast(
                supp.select(
                    F.col("s_suppkey").alias("sk"),
                    F.col("s_nationkey").cast("long").alias("sn"),
                )
            ),
            "sk",
        )
        .groupBy("cn", "sn")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        # ckpt the tiny census: the two role projections below read it
        # twice — without materialization each role re-ran the fact join
        .transform(_ckpt)
    )
    roles = census.select(
        F.col("cn").alias("com"),
        F.when(F.col("cn") == F.col("sn"), F.col("cnt")).otherwise(0).alias("e_part"),
        F.col("cnt").alias("k_part"),
    ).unionByName(
        census.select(
            F.col("sn").alias("com"),
            F.when(F.col("cn") == F.col("sn"), F.col("cnt"))
            .otherwise(0)
            .alias("e_part"),
            F.col("cnt").alias("k_part"),
        )
    )
    per = roles.groupBy("com").agg(
        F.sum("e_part").cast("long").alias("e_int"),
        F.sum("k_part").cast("long").alias("k"),
    )
    s = per.agg(F.sum("k").cast("long").alias("m2"))
    return per.crossJoin(F.broadcast(s)).select(
        "com",
        "e_int",
        "k",
        (F.col("e_int") * F.col("m2") - F.col("k") * F.col("k"))
        .cast("long")
        .alias("q_scaled"),
    )


@query(
    "setop_bag_semantics",
    oracle="""
    WITH a AS (
        SELECT o_orderpriority AS p FROM orders WHERE o_orderstatus = 'F'
    ), b AS (
        SELECT o_orderpriority AS p FROM orders WHERE o_orderstatus = 'O'
    ), i AS (
        SELECT p FROM a INTERSECT ALL SELECT p FROM b
    ), x AS (
        SELECT p FROM a EXCEPT ALL SELECT p FROM b
    )
    SELECT 'intersect_all' AS op, p, CAST(COUNT(*) AS BIGINT) AS n
    FROM i GROUP BY p
    UNION ALL
    SELECT 'except_all' AS op, p, CAST(COUNT(*) AS BIGINT) AS n
    FROM x GROUP BY p
    """,
)
def setop_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — the multiplicity-preserving (bag)
    set operations the DISTINCT-flavoured `setop_*` queries don't cover:
    intersect keeps min(multiplicity), except keeps the excess
    multiplicity. Pinning these semantics matters because 'subtract the
    rows I already processed' pipelines silently corrupt counts if the
    engine dedups. Output is the per-value multiplicity census of both
    results.

    Scale shape: Spark plans both as a single hash aggregation over the
    union computing per-side counts, then replicates rows min(a,b) /
    (a−b) times — no sort, no pairwise join; the final census agg is
    |priorities|-sized.
    """
    orders = load_table(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderpriority").alias("p")
    )
    a = _ckpt(a)  # shared fan-out relation
    b = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderpriority").alias("p")
    )
    b = _ckpt(b)  # shared fan-out relation
    i = (
        a.intersectAll(b)
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "p", "n")
    )
    x = (
        a.exceptAll(b)
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("except_all").alias("op"), "p", "n")
    )
    return i.unionByName(x)


@query(
    "percentile_disc_by_status",
    oracle="""
    SELECT o_orderstatus,
           quantile_disc(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.25) AS p25_cents,
           quantile_disc(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.5)  AS p50_cents,
           quantile_disc(CAST(ROUND(o_totalprice * 100) AS BIGINT), 0.9)  AS p90_cents
    FROM orders GROUP BY o_orderstatus
    """,
)
def percentile_disc_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISCRETE percentiles per order status: the smallest actual data
    value whose cumulative share reaches the quantile — no interpolation,
    so results are values that exist in the data (what you want for
    latency SLOs and price points). Completes the quantile tier beside
    interpolated (`exact_percentiles_by_flag`), sketched (KLL/GK),
    weighted, and winsorized forms; pins that Spark's
    `percentile_disc WITHIN GROUP` and DuckDB's `quantile_disc` agree on
    the lower-value convention. BIGINT cents in, BIGINT cents out —
    exact by construction.

    Scale shape: sort-based aggregate within each status group (Spark
    plans ObjectHashAggregate); one |statuses|-row result, no window.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = "CAST(ROUND(o_totalprice * 100) AS BIGINT)"
    return (
        orders.selectExpr("o_orderstatus", f"{cents} AS cents")
        .groupBy("o_orderstatus")
        .agg(
            F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY cents)")
            .cast("long")
            .alias("p25_cents"),
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY cents)")
            .cast("long")
            .alias("p50_cents"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY cents)")
            .cast("long")
            .alias("p90_cents"),
        )
    )


@query("multimodal_ahash_index")
def multimodal_ahash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash (aHash) index over the image corpus: per image
    the 64-bit average-hash signature, its popcount, and how many OTHER
    images share at least one pigeonhole chunk bucket with it (the
    candidate fan-in the near-dup pair join would pay) — the image twin
    of the text-side SimHash index, completing visual near-dup beside
    decode/featurize/resize/frame-sample.

    Rows-only by design (the signature comes from the Arrow-batched
    fake decode; no SQL oracle can see payload bytes); exactness is
    pinned by a NumPy-reference test and a brute-force-equality recall
    test on planted variants (`tests/test_wave50s.py`).

    Scale shape: signatures are map-side mapInPandas (payload never
    shuffles); the peer census equi-joins 8-byte chunk buckets — the
    sub-quadratic LSH shape, never all-pairs.
    """
    from pyspark_movie_recommender_spark.operators.dedup import hamming_chunks
    from pyspark_movie_recommender_spark.operators.multimodal import (
        attach_fake_payload,
        image_ahash,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the Arrow decode+hash stage feeds both banded self-join sides and
    # the final signature join — ckpt the narrow signature relation so
    # the payload decode runs once, not 3x
    sigs = _ckpt(image_ahash(attach_fake_payload(docs)))
    # the near-dup join's buckets at a max_hamming 6 budget (7 chunks)
    banded = hamming_chunks(sigs.select(F.col("doc_id").alias("id"), "sig"), 6)
    peers = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("doc_id"))
        .agg(F.countDistinct("b.id").cast("long").alias("n_bucket_peers"))
    )
    return sigs.join(peers, "doc_id", "left").select(
        "doc_id",
        "sig",
        "n_set_bits",
        F.coalesce("n_bucket_peers", F.lit(0)).cast("long").alias("n_bucket_peers"),
    )


# ---------------------------------------------------------------------------
# wave 57: concordance extraction, skew-safe distinct, SRM guard
# ---------------------------------------------------------------------------


@query(
    "kwic_concordance",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t
        FROM documents
    ), hits AS (
        SELECT doc_id, g.i AS pos, t
        FROM toks,
             LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g
        WHERE t[g.i] = 'join'
    )
    SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           COALESCE(array_to_string(t[GREATEST(1, pos - 3):pos - 1], ' '), '')
               AS left_ctx,
           COALESCE(array_to_string(t[pos + 1:LEAST(len(t), pos + 3)], ' '), '')
               AS right_ctx
    FROM hits
    """,
)
def kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context (KWIC) concordance for the term 'join': every
    occurrence with its ±3-token window — the corpus-linguistics /
    search-debugging view ('show me how this token is actually used')
    that also powers snippet generation for retrieval results.

    Scale shape: position explode and context slicing happen entirely
    in-row (posexplode + array slice — no join, no shuffle; the filter
    on the term prunes before any wide operation). Output is
    occurrence-sized, already the user-requested result. A
    token-partitioned inverted index (`phrase_search_positional`) is the
    100 TB route when the term set is dynamic; this is the single-term
    scan form.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", ws_tokens(F.lower(F.col("text"))).alias("t"))
    hits = toks.select(
        "doc_id", "t", F.posexplode("t").alias("p0", "tok")
    ).filter(F.col("tok") == "join")
    # posexplode is 0-based; oracle positions are 1-based
    pos = (F.col("p0") + 1).alias("pos")
    left_start = F.greatest(F.lit(1), F.col("p0") + 1 - 3)
    left_len = (F.col("p0") + 1 - 1) - F.greatest(F.lit(1), F.col("p0") + 1 - 3) + 1
    return hits.select(
        "doc_id",
        pos.cast("long").alias("pos"),
        F.concat_ws(
            " ", F.slice("t", left_start, F.greatest(left_len, F.lit(0)))
        ).alias("left_ctx"),
        F.concat_ws(
            " ",
            F.expr("slice(t, p0 + 2, LEAST(size(t), p0 + 4) - (p0 + 2) + 1)"),
        ).alias("right_ctx"),
    )


@query(
    "two_phase_skewed_distinct",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY event_type
    """,
)
def two_phase_skewed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-type distinct-user counts via an EXPLICIT two-phase
    plan: dedup on the composite (event_type, user_id) key first, then
    count the survivors — the skew-safe formulation of COUNT(DISTINCT).
    A direct count-distinct shuffles raw rows keyed by event_type alone
    (5 reducers hold everything, the hottest type melts one of them);
    the composite-key dedup spreads the same work over the full key
    space and the second agg receives only distincts.

    Oracle is the plain COUNT(DISTINCT) — equality proves the rewrite.

    Scale shape: phase 1 = hash agg on (type, user) with map-side
    partial dedup (most duplicate hits collapse before the shuffle);
    phase 2 = |types|-row count. Both aggs whole-stage codegen, no
    Expand node.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_type", "user_id")
        .dropDuplicates(["event_type", "user_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@query(
    "srm_check_assignments",
    oracle="""
    WITH arms AS (
        SELECT ((user_id * 2654435761) % 4294967296) % 2 AS arm
        FROM (SELECT DISTINCT user_id FROM events)
    ), c AS (
        SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
        FROM arms
    )
    SELECT n0, n1,
           ROUND(CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1), 6) AS chi2,
           CASE WHEN CAST((n0 - n1) * (n0 - n1) AS DOUBLE) / (n0 + n1) > 10.83
                THEN 'SRM' ELSE 'ok' END AS verdict
    FROM c
    """,
)
def srm_check_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch (SRM) guard for the deterministic-hash A/B
    assignment used by `ab_experiment_readout`: χ² of the observed arm
    counts against the intended 50/50 split ((n0−n1)²/(n0+n1) for two
    equal-probability arms), flagged at the p<0.001 threshold (10.83).
    SRM is the first gate every experiment readout must pass — a
    triggered-assignment bug silently invalidates every downstream
    metric, so the guard ships next to the readout.

    Scale shape: distinct users collapse map-side, arms are pure
    hash arithmetic, the census is a 1-row agg. χ² is one division of
    exact BIGINTs.
    """
    ev = load_table(spark, sf_dir, "events")
    arms = ev.select("user_id").distinct().select(
        (((F.col("user_id") * 2654435761) % 4294967296) % 2).alias("arm")
    )
    c = arms.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
    )
    chi2 = ((F.col("n0") - F.col("n1")) * (F.col("n0") - F.col("n1"))).cast(
        "double"
    ) / (F.col("n0") + F.col("n1"))
    return c.select(
        "n0",
        "n1",
        F.round(chi2, 6).alias("chi2"),
        F.when(chi2 > 10.83, "SRM").otherwise("ok").alias("verdict"),
    )


@query("streaming_drift_band_counts")
def streaming_drift_band_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous drift monitoring, stream side: per-reference-decile
    band counts of event value maintained in complete mode against
    STATIC edges (the refreshed-daily training-distribution config);
    the PSI score (`psi_drift_order_value`) runs downstream on this
    materialized relation. Rows-only; band assignment is pinned equal
    to the identical batch expression in tests/test_streaming.py."""
    from pyspark_movie_recommender_spark.streaming.jobs import (
        drift_band_counts_stream,
    )

    return drift_band_counts_stream(spark, sf_dir, query_name="q_stream_drift")


# ---------------------------------------------------------------------------
# wave 59: NDCG ranking eval, transition latency, embedding-label purity
# ---------------------------------------------------------------------------


@query(
    "ndcg_nation_forecast",
    oracle="""
    WITH o AS (
        SELECT c.c_nationkey AS nation,
               CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT) AS day,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), bounds AS (
        SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM o
    ), agg AS (
        SELECT nation,
               CAST(SUM(CASE WHEN day <  mid THEN cents ELSE 0 END) AS BIGINT) AS hist,
               CAST(SUM(CASE WHEN day >= mid THEN cents ELSE 0 END) AS BIGINT) AS rel
        FROM o, bounds GROUP BY nation
    ), ranked AS (
        SELECT rel,
               ROW_NUMBER() OVER (ORDER BY hist DESC, nation) AS pred_rank,
               ROW_NUMBER() OVER (ORDER BY rel  DESC, nation) AS ideal_rank
        FROM agg
    ), g AS (
        SELECT SUM(CASE WHEN pred_rank <= 10
                        THEN rel / log2(pred_rank + 1.0) ELSE 0 END) AS dcg,
               SUM(CASE WHEN ideal_rank <= 10
                        THEN rel / log2(ideal_rank + 1.0) ELSE 0 END) AS idcg
        FROM ranked
    )
    SELECT ROUND(dcg, 2) AS dcg, ROUND(idcg, 2) AS idcg,
           ROUND(dcg / idcg, 6) AS ndcg_at_10
    FROM g
    """,
)
def ndcg_nation_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the naive 'rank nations by first-half revenue' forecast
    against actual second-half revenue as graded relevance — the
    ranking-quality evaluation metric (search, recommendations,
    prioritization) beside the classification-side `auc_order_status_price`.
    DCG = Σ rel_i / log2(rank_i + 1) over the top 10 predicted; IDCG is
    the same sum under the ideal (relevance-sorted) ranking.

    Relevances are exact BIGINT cents; each DCG term divides by
    log2(k+1) for integer k ≤ 25 — a constant both engines compute
    identically — and the per-rank terms are summed over ≤25 values
    with deterministic tie-broken ranks, so the rounded sums are
    engine-stable.

    Scale shape: the fact collapses to |nations| rows in one agg
    (customer dim broadcast); both rankings and the DCG sums run on
    that 25-row relation.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    o = orders.join(
        F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")),
        "o_custkey",
    ).select(
        F.col("c_nationkey").alias("nation"),
        F.expr("unix_micros(CAST(o_orderdate AS timestamp_ltz)) div 86400000000")
        .cast("long")
        .alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    bounds = o.agg(F.expr("(min(day) + max(day)) div 2").alias("mid"))
    agg = (
        o.crossJoin(F.broadcast(bounds))
        .groupBy("nation")
        .agg(
            F.sum(F.when(F.col("day") < F.col("mid"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("hist"),
            F.sum(F.when(F.col("day") >= F.col("mid"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("rel"),
        )
    )
    ranked = agg.select(
        "rel",
        F.row_number()
        .over(Window.orderBy(F.desc("hist"), F.asc("nation")))
        .alias("pred_rank"),
        F.row_number()
        .over(Window.orderBy(F.desc("rel"), F.asc("nation")))
        .alias("ideal_rank"),
    )
    g = ranked.agg(
        F.sum(
            F.when(
                F.col("pred_rank") <= 10,
                F.col("rel") / F.log2(F.col("pred_rank") + 1.0),
            ).otherwise(0.0)
        ).alias("dcg"),
        F.sum(
            F.when(
                F.col("ideal_rank") <= 10,
                F.col("rel") / F.log2(F.col("ideal_rank") + 1.0),
            ).otherwise(0.0)
        ).alias("idcg"),
    )
    return g.select(
        F.round("dcg", 2).alias("dcg"),
        F.round("idcg", 2).alias("idcg"),
        F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_at_10"),
    )


@query(
    "transition_latency_stats",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type, epoch_us(ts) AS t,
               LAG(event_type) OVER w AS prev_type,
               LAG(epoch_us(ts)) OVER w AS prev_t
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(FLOOR(quantile_cont(t - prev_t, 0.5)) AS BIGINT) AS median_gap_us,
           CAST(MAX(t - prev_t) AS BIGINT) AS max_gap_us
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def transition_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How LONG each journey transition takes: per (prev_type →
    next_type) pair the count, median, and max inter-event gap in exact
    microseconds — the timing layer over `event_transition_matrix`'s
    pure counts (a checkout that follows a view in 2 s vs 2 days is a
    different product story).

    Gaps are BIGINT microsecond differences; the median is the exact
    interpolated percentile over integers (midpoints are exact halves,
    truncated identically by the BIGINT cast on both engines — even
    counts can only produce .0 or .5). The lag ordering carries the
    (ts, event_id) total tie-break.

    Scale shape: one user_id exchange for the lag window; the stats agg
    collapses to |types|² rows with map-side partials.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        us.alias("t"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag(us).over(w).alias("prev_t"),
    ).filter(F.col("prev_type").isNotNull())
    gap = F.col("t") - F.col("prev_t")
    return (
        seq.select("prev_type", F.col("event_type").alias("next_type"), gap.alias("g"))
        .groupBy("prev_type", "next_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.floor(F.expr("percentile(g, 0.5)")).cast("long").alias("median_gap_us"),
            F.max("g").cast("long").alias("max_gap_us"),
        )
    )


@query(
    "label_purity_by_lang",
    oracle="""
    WITH j AS (
        SELECT d.lang, e.label, CAST(COUNT(*) AS BIGINT) AS n
        FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
        GROUP BY d.lang, e.label
    ), tot AS (
        SELECT lang, SUM(n) AS tn FROM j GROUP BY lang
    ), best AS (
        SELECT lang, label AS majority_label, n AS best_n
        FROM (
            SELECT lang, label, n,
                   ROW_NUMBER() OVER (
                       PARTITION BY lang ORDER BY n DESC, label ASC) AS rn
            FROM j
        ) WHERE rn = 1
    )
    SELECT b.lang, b.majority_label, b.best_n, CAST(t.tn AS BIGINT) AS n_docs,
           CAST(b.best_n * 1000000 // t.tn AS BIGINT) AS purity_ppm
    FROM best b JOIN tot t ON t.lang = b.lang
    """,
)
def label_purity_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-purity audit across modalities: join the embedding
    table's cluster labels to the document table's languages (vec_id =
    doc_id) and report each language's majority label with its purity
    in exact ppm — 'do the embedding clusters recover the language
    partition?', the sanity gate before trusting labels for SemDedup /
    IVF routing / mixture decisions.

    The majority label uses max_by with an (n, -label) tie-break struct
    — deterministic on both engines with zero floats; purity is BIGINT
    integer division.

    Scale shape: the id-keyed join is co-partitionable (both sides keyed
    by the same id domain; dim side broadcastable); everything after is
    |langs|×|labels| sized.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    j = (
        emb.join(
            docs.select(F.col("doc_id").alias("vec_id"), "lang"), "vec_id"
        )
        .groupBy("lang", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = j.groupBy("lang").agg(F.sum("n").alias("tn"))
    best = j.groupBy("lang").agg(
        F.expr("max_by(label, struct(n, -label))").alias("majority_label"),
        F.max("n").alias("best_n"),
    )
    return best.join(tot, "lang").select(
        "lang",
        "majority_label",
        "best_n",
        F.col("tn").cast("long").alias("n_docs"),
        F.expr("best_n * 1000000L div tn").cast("long").alias("purity_ppm"),
    )


# ---------------------------------------------------------------------------
# wave 60: hybrid retrieval fusion, rank correlation
# ---------------------------------------------------------------------------


@query(
    "hybrid_rrf_retrieval",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\\s+') END AS t
        FROM documents
    ), d AS (
        SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, t FROM toks
    ), stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM d
    ), tf AS (
        SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, dl, unnest(t) AS term FROM d)
        WHERE term IN ('spark', 'vector', 'stream')
        GROUP BY doc_id, dl, term
    ), dft AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term
    ), bm AS (
        SELECT doc_id,
               ROUND(SUM(
                   ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
               ), 6) AS bm25
        FROM tf JOIN dft USING (term) CROSS JOIN stats
        GROUP BY doc_id
    ), brank AS (
        SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
               AS BIGINT) AS rank_b
        FROM bm
    ), s AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ), probe AS (
        SELECT e FROM s WHERE vec_id = 0
    ), crank AS (
        SELECT c.vec_id AS doc_id,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY ROUND(list_cosine_similarity(p.e, c.e), 6) DESC,
                            c.vec_id) AS BIGINT) AS rank_c
        FROM s c, probe p WHERE c.vec_id <> 0
    ), fused AS (
        SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id, b.rank_b, c.rank_c,
               COALESCE(1.0 / (60 + b.rank_b), 0.0)
             + COALESCE(1.0 / (60 + c.rank_c), 0.0) AS rrf
        FROM brank b FULL OUTER JOIN crank c ON c.doc_id = b.doc_id
    )
    SELECT doc_id, rank_b, rank_c, ROUND(rrf, 6) AS rrf_score
    FROM fused
    ORDER BY rrf DESC, doc_id
    LIMIT 10
    """,
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (k=60): the BM25
    lexical ranking for {spark, vector, stream} fused with the exact
    cosine ranking against probe vector 0 — the standard RAG trick for
    combining keyword and embedding retrieval without score calibration
    (RRF uses only RANKS, so the incomparable score scales never meet).
    Docs absent from one list contribute only the other's term, per the
    original Cormack/Clarke formulation.

    Determinism: both input rankings order by 6-decimal-rounded scores
    with doc-id tie-breaks (the repo's proven bm25/cosine patterns);
    RRF values are sums of two reciprocals of small integers — IEEE-
    identical across engines — and the final top-10 tie-breaks on
    doc_id.

    Scale shape: the lexical leg is the BM25 explode+broadcast shape;
    the vector leg scans the corpus once against a broadcast probe; the
    fusion is a full outer join of two rank relations already reduced
    to (doc, rank) — at scale both legs would be rank-limited (ANN +
    WAND) before fusing, which changes their internals, not this shape.
    """
    from pyspark_movie_recommender_spark.operators.text import bm25_scores

    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_order_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    bm = bm25_scores(docs, ["spark", "vector", "stream"])
    brank = distributed_order_stats(
        bm.select("doc_id", (-F.col("bm25")).alias("negb")),
        "negb",
        ["doc_id"],
        rank_col="rank_b",
    ).select("doc_id", "rank_b")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").cast("array<double>").alias("e"),
    )
    probe = emb.filter(F.col("doc_id") == 0).select(F.col("e").alias("pe"))
    sim = F.expr(
        "aggregate(zip_with(e, pe, (x, y) -> x * y), 0D, (a, x) -> a + x)"
        " / (sqrt(aggregate(e, 0D, (a, x) -> a + x * x))"
        "    * sqrt(aggregate(pe, 0D, (a, x) -> a + x * x)))"
    )
    crank = (
        emb.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(probe))
        .select("doc_id", (-F.round(sim, 6)).alias("negsim"))
    )
    crank = distributed_order_stats(
        crank, "negsim", ["doc_id"], rank_col="rank_c"
    ).select("doc_id", "rank_c")
    from pyspark_movie_recommender_spark.operators.rank import rrf_fuse

    fused = rrf_fuse(
        [
            brank.select("doc_id", F.col("rank_b").alias("rank")),
            crank.select("doc_id", F.col("rank_c").alias("rank")),
        ]
    )
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
        .select(
            "doc_id",
            F.col("rank_0").alias("rank_b"),
            F.col("rank_1").alias("rank_c"),
            F.round("rrf", 6).alias("rrf_score"),
        )
    )


@query(
    "kendall_tau_rankings",
    oracle="""
    WITH o AS (
        SELECT c.c_nationkey AS nation,
               CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT) AS day,
               CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ), bounds AS (
        SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM o
    ), agg AS (
        SELECT nation,
               CAST(SUM(CASE WHEN day <  mid THEN cents ELSE 0 END) AS BIGINT) AS hist,
               CAST(SUM(CASE WHEN day >= mid THEN cents ELSE 0 END) AS BIGINT) AS rel
        FROM o, bounds GROUP BY nation
    ), ranked AS (
        SELECT nation,
               ROW_NUMBER() OVER (ORDER BY hist DESC, nation) AS ra,
               ROW_NUMBER() OVER (ORDER BY rel  DESC, nation) AS rb
        FROM agg
    ), pairs AS (
        SELECT CASE WHEN (x.ra - y.ra) * (x.rb - y.rb) > 0 THEN 1 ELSE 0 END AS conc
        FROM ranked x JOIN ranked y ON y.nation > x.nation
    )
    SELECT CAST(SUM(conc) AS BIGINT) AS concordant,
           CAST(COUNT(*) - SUM(conc) AS BIGINT) AS discordant,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST((SUM(conc) * 2 - COUNT(*)) * 1000000 // COUNT(*) AS BIGINT)
               AS tau_ppm
    FROM pairs
    """,
)
def kendall_tau_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall rank correlation between the first-half revenue ranking
    of nations and the second-half actual — τ = (C−D)/pairs as exact
    BIGINT ppm, the pairwise-agreement companion to `ndcg_nation_forecast`
    (NDCG asks 'is the top good'; τ asks 'is the whole ORDER right').
    Everything is integer: tie-broken ranks, concordance indicators,
    floor-div ppm.

    Scale shape: the fact collapses to |nations| rows; rankings and the
    C(n,2) pair join run on that 25-row relation — at a million-item
    ranking the pair join swaps for the O(n log n) merge-sort inversion
    count, which is a different engine op with the same contract.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    o = orders.join(
        F.broadcast(cust.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")),
        "o_custkey",
    ).select(
        F.col("c_nationkey").alias("nation"),
        F.expr("unix_micros(CAST(o_orderdate AS timestamp_ltz)) div 86400000000")
        .cast("long")
        .alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    o = _ckpt(o)  # shared fan-out relation
    bounds = o.agg(F.expr("(min(day) + max(day)) div 2").alias("mid"))
    agg = (
        o.crossJoin(F.broadcast(bounds))
        .groupBy("nation")
        .agg(
            F.sum(F.when(F.col("day") < F.col("mid"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("hist"),
            F.sum(F.when(F.col("day") >= F.col("mid"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("rel"),
        )
    )
    ranked = agg.select(
        "nation",
        F.row_number().over(Window.orderBy(F.desc("hist"), F.asc("nation"))).alias("ra"),
        F.row_number().over(Window.orderBy(F.desc("rel"), F.asc("nation"))).alias("rb"),
    )
    ranked = _ckpt(ranked)  # shared fan-out relation
    x = ranked.select(
        F.col("nation").alias("nx"), F.col("ra").alias("rax"), F.col("rb").alias("rbx")
    )
    y = ranked.select(
        F.col("nation").alias("ny"), F.col("ra").alias("ray"), F.col("rb").alias("rby")
    )
    pairs = x.join(y, F.col("ny") > F.col("nx")).select(
        F.when(
            (F.col("rax") - F.col("ray")) * (F.col("rbx") - F.col("rby")) > 0, 1
        )
        .otherwise(0)
        .alias("conc")
    )
    return pairs.agg(
        F.sum("conc").cast("long").alias("concordant"),
        (F.count(F.lit(1)) - F.sum("conc")).cast("long").alias("discordant"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr("(sum(conc) * 2 - count(1)) * 1000000L div count(1)")
        .cast("long")
        .alias("tau_ppm"),
    )


# ---------------------------------------------------------------------------
# wave 61: NOT-IN null trap, LSH parameter planner, grouping labels
# ---------------------------------------------------------------------------


@query(
    "not_in_null_trap",
    oracle="""
    WITH denylist AS (
        SELECT * FROM (VALUES ('1-URGENT'), (NULL)) t(p)
    ), not_in AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders
        WHERE o_orderpriority NOT IN (SELECT p FROM denylist)
    ), not_exists AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM denylist d
                          WHERE d.p = o.o_orderpriority)
    ), lanti AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n
        FROM orders o LEFT JOIN denylist d ON d.p = o.o_orderpriority
        WHERE d.p IS NULL
    )
    SELECT 'not_in'     AS form, n FROM not_in
    UNION ALL SELECT 'not_exists' AS form, n FROM not_exists
    UNION ALL SELECT 'left_anti'  AS form, n FROM lanti
    """,
)
def not_in_null_trap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI NOT-IN null trap, pinned on both engines: a denylist
    containing a NULL makes `NOT IN` return ZERO rows (x <> NULL is
    UNKNOWN, so no row ever passes), while `NOT EXISTS` / left-anti —
    the forms every exclusion pipeline should use — return the real
    complement. Three counts side by side so the trap is a visible,
    regression-tested fact rather than tribal knowledge; completes the
    three-valued-logic family of `null_semantics_suite`.

    Scale shape: the denylist is a 2-row literal broadcast; all three
    forms are one fact scan each (Catalyst plans the NOT IN as a
    null-aware anti join — the expensive null-aware machinery is
    exactly WHY the result is empty, which is the lesson).
    """
    orders = load_table(spark, sf_dir, "orders")
    deny = spark.createDataFrame([("1-URGENT",), (None,)], "p string")
    deny.createOrReplaceTempView("nin_denylist")
    orders.createOrReplaceTempView("nin_orders")
    not_in = spark.sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nin_orders"
        " WHERE o_orderpriority NOT IN (SELECT p FROM nin_denylist)"
    ).select(F.lit("not_in").alias("form"), "n")
    not_exists = spark.sql(
        "SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nin_orders o"
        " WHERE NOT EXISTS (SELECT 1 FROM nin_denylist d"
        "                   WHERE d.p = o.o_orderpriority)"
    ).select(F.lit("not_exists").alias("form"), "n")
    anti = (
        orders.join(deny, orders.o_orderpriority == deny.p, "left_anti")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(F.lit("left_anti").alias("form"), "n")
    )
    return not_in.unionByName(not_exists).unionByName(anti)


@query(
    "lsh_s_curve_planner",
    oracle="""
    WITH configs AS (
        SELECT b, 128 // b AS r FROM (VALUES (8), (16), (32), (64)) t(b)
    )
    SELECT b, CAST(r AS BIGINT) AS r,
           ROUND(1 - pow(1 - pow(0.5, r), b), 6)  AS p_at_50,
           ROUND(1 - pow(1 - pow(0.7, r), b), 6)  AS p_at_70,
           ROUND(1 - pow(1 - pow(0.9, r), b), 6)  AS p_at_90,
           ROUND(pow(1.0 / b, 1.0 / r), 6)        AS threshold_est
    FROM configs
    """,
)
def lsh_s_curve_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH parameter planner: for each (bands b, rows r) split
    of a 128-permutation signature, the S-curve collision probability
    1−(1−s^r)^b at Jaccard 0.5/0.7/0.9 and the (1/b)^(1/r) threshold
    estimate — the table an operator reads to pick the banding that
    `dedup_minhash_lsh` runs with (and that `dedup_threshold_sweep`
    validates empirically). Tuning math as a first-class, oracle-checked
    relation instead of a notebook aside.

    Scale shape: a 4-row literal relation and closed-form pow() — zero
    data touched; it composes (crossJoin) with measured corpus stats
    when candidate-budget forecasting is needed.
    """
    configs = spark.createDataFrame([(8,), (16,), (32,), (64,)], "b int").select(
        "b", F.expr("128 div b").cast("long").alias("r")
    )
    def p_at(s: float):
        return F.round(
            1 - F.pow(1 - F.pow(F.lit(s), F.col("r")), F.col("b")), 6
        )
    return configs.select(
        "b",
        "r",
        p_at(0.5).alias("p_at_50"),
        p_at(0.7).alias("p_at_70"),
        p_at(0.9).alias("p_at_90"),
        F.round(F.pow(1.0 / F.col("b"), 1.0 / F.col("r")), 6).alias("threshold_est"),
    )


@query(
    "rollup_grouping_labels",
    oracle="""
    SELECT GROUPING(r_name) AS g_region, GROUPING(n_name) AS g_nation,
           COALESCE(r_name, CASE WHEN GROUPING(r_name) = 1 THEN '<all>' END)
               AS region,
           COALESCE(n_name, CASE WHEN GROUPING(n_name) = 1 THEN '<all>' END)
               AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS balance_cents
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY ROLLUP(r_name, n_name)
    """,
)
def rollup_grouping_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with explicit GROUPING() indicators: subtotal rows carry
    g_region/g_nation flags and '<all>' labels, so a NULL-valued group
    member can never be confused with a subtotal — the disambiguation
    every BI export over rollups needs (the raw rollup queries
    `rollup_customer_geo`/`cube_lineitem_flags` leave NULL doing double
    duty). Exact BIGINT cents throughout.

    Scale shape: Spark's Expand node generates the grouping sets before
    one hash agg with map-side partials; dims broadcast onto the fact.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    j = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    g = j.rollup("r_name", "n_name").agg(
        F.grouping("r_name").cast("int").alias("g_region"),
        F.grouping("n_name").cast("int").alias("g_nation"),
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
        .cast("long")
        .alias("balance_cents"),
    )
    return g.select(
        "g_region",
        "g_nation",
        F.coalesce(
            "r_name", F.when(F.col("g_region") == 1, "<all>")
        ).alias("region"),
        F.coalesce(
            "n_name", F.when(F.col("g_nation") == 1, "<all>")
        ).alias("nation"),
        "n_customers",
        "balance_cents",
    )


# ---------------------------------------------------------------------------
# wave 62: SQL pipe syntax, MRR eval, regression calibration bins
# ---------------------------------------------------------------------------


@query(
    "sql_pipe_syntax",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL PIPE syntax (`|>` — SPARK-49555): the same
    filter→aggregate expressed as a linear pipeline instead of
    inside-out SQL, pinned value-equal to the classic formulation the
    DuckDB oracle runs. The pipe form parses to the IDENTICAL Catalyst
    plan (one pushed filter, partial+final hash agg), so the modern
    authoring surface costs nothing at execution time.
    """
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("pipe_orders")
    return spark.sql(
        """
        FROM pipe_orders
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE CAST(COUNT(*) AS BIGINT) AS n_orders,
                     CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                         AS cents
           GROUP BY o_orderpriority
        """
    ).select("o_orderpriority", "n_orders", "cents")


@query(
    "mrr_bm25_eval",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\\s+') END AS t
        FROM documents
    ), d AS (
        SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, t FROM toks
    ), stats AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM d
    ), tf AS (
        SELECT doc_id, dl, term, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, dl, unnest(t) AS term FROM d)
        WHERE term IN ('spark', 'vector', 'stream')
        GROUP BY doc_id, dl, term
    ), dft AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term
    ), bm AS (
        SELECT doc_id,
               COUNT(*) AS n_terms,
               ROUND(SUM(
                   ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                   * tf * (1.2 + 1) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
               ), 6) AS bm25
        FROM tf JOIN dft USING (term) CROSS JOIN stats
        GROUP BY doc_id
    ), ranked AS (
        SELECT doc_id, n_terms,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
        FROM bm
    )
    SELECT CAST(MIN(rnk) AS BIGINT) AS first_relevant_rank,
           CAST(SUM(CASE WHEN n_terms = 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_relevant,
           ROUND(1.0 / MIN(rnk), 6) AS mrr
    FROM ranked WHERE n_terms = 3
    """,
)
def mrr_bm25_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of the BM25 ranking for {spark, vector,
    stream}, with relevance = documents containing ALL three terms —
    'how far down the list is the first fully-on-topic document'. With
    NDCG (top quality) and Kendall τ (whole-order quality) this
    completes the standard retrieval-eval triple; a multi-query MRR is
    this same relation averaged over a query table.

    Determinism: the ranking orders by the 6-decimal-rounded BM25 with
    doc-id tie-break (the proven bm25 pattern); relevance and ranks are
    integers; the final reciprocal is one IEEE division.

    Scale shape: rides the BM25 explode+broadcast shape; the eval adds
    one |matching-docs| window and a scalar agg.
    """
    from pyspark_movie_recommender_spark.functions import ws_tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", ws_tokens(F.trim(F.col("text"))).alias("t"))
    d = toks.select("doc_id", F.size("t").cast("double").alias("dl"), "t")
    stats = d.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        d.select("doc_id", "dl", F.explode("t").alias("term"))
        .filter(F.col("term").isin("spark", "vector", "stream"))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    dft = tf.groupBy("term").agg(
        F.countDistinct("doc_id").cast("double").alias("df")
    )
    idf = F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    score = idf * F.col("tf") * (1.2 + 1) / (
        F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))
    )
    bm = (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum(score), 6).alias("bm25"),
        )
    )
    ranked = bm.select(
        "doc_id",
        "n_terms",
        F.row_number().over(Window.orderBy(F.desc("bm25"), F.asc("doc_id"))).alias("rnk"),
    )
    return ranked.filter(F.col("n_terms") == 3).agg(
        F.min("rnk").cast("long").alias("first_relevant_rank"),
        F.sum(F.when(F.col("n_terms") == 3, 1).otherwise(0))
        .cast("long")
        .alias("n_relevant"),
        F.round(1.0 / F.min("rnk"), 6).alias("mrr"),
    )


@query(
    "calibration_reliability_bins",
    oracle="""
    WITH m AS (
        SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS actual,
               CAST(ROUND((50000.0 + 1500.0 * (o_orderkey % 100)) * 100) AS BIGINT)
                   AS pred
        FROM orders
    ), binned AS (
        SELECT NTILE(10) OVER (ORDER BY pred, actual) AS bin, actual, pred FROM m
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(pred)   // COUNT(*) AS BIGINT) AS mean_pred_cents,
           CAST(SUM(actual) // COUNT(*) AS BIGINT) AS mean_actual_cents,
           CAST((SUM(pred) - SUM(actual)) // COUNT(*) AS BIGINT) AS bias_cents
    FROM binned GROUP BY bin
    """,
)
def calibration_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration) table for a price predictor: rows
    binned into prediction deciles, each reporting mean predicted vs
    mean actual and the signed bias — the regression counterpart of a
    classifier reliability diagram, and the diagnosis layer over
    `rmse_price_model`'s single score (RMSE says HOW wrong; this says
    WHERE and WHICH WAY). The stand-in predictor is the same
    deterministic hash-linear model the RMSE query scores. All columns
    exact BIGINT cents via integer floor-division.

    Scale shape: the decile assignment goes through
    ``operators/rank.py:distributed_ntile`` (range-bucketed rank +
    exact NTILE arithmetic — no single-task sort of the fact; rows
    tied on (pred, actual) may swap bins at the boundary, which
    leaves every per-bin sum unchanged); at extreme scale the decile
    cut points swap to approx percentiles; per-bin stats are a
    10-row hash agg.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_ntile,
    )

    orders = load_table(spark, sf_dir, "orders")
    m = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("actual"),
        F.round((50000.0 + 1500.0 * (F.col("o_orderkey") % 100)) * 100)
        .cast("long")
        .alias("pred"),
    )
    binned = distributed_ntile(
        m, "pred", ["actual"], 10, out_col="bin"
    ).select("bin", "actual", "pred")
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pred").alias("sp"),
            F.sum("actual").alias("sa"),
        )
        .select(
            "bin",
            "n",
            F.expr("sp div n").cast("long").alias("mean_pred_cents"),
            F.expr("sa div n").cast("long").alias("mean_actual_cents"),
            F.expr("(sp - sa) div n").cast("long").alias("bias_cents"),
        )
    )


# ---------------------------------------------------------------------------
# wave 63: seasonal anomalies, lead-lag cross-correlation, assortativity
# ---------------------------------------------------------------------------


@query(
    "seasonal_residual_outlier_days",
    oracle="""
    WITH pts AS (
        SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events
    ), bounds AS (
        SELECT MIN(day) AS lo, MAX(day) AS hi FROM pts
    ), grid AS (
        SELECT unnest(generate_series(lo, hi)) AS day FROM bounds
    ), daily AS (
        SELECT g.day, g.day % 7 AS dow, CAST(COUNT(p.day) AS BIGINT) AS x
        FROM grid g LEFT JOIN pts p ON p.day = g.day GROUP BY g.day
    ), dstats AS (
        SELECT dow, CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(x) AS BIGINT) AS sd
        FROM daily GROUP BY dow
    ), resid AS (
        SELECT d.day, d.dow, d.x,
               d.x * s.nd - s.sd AS r
        FROM daily d JOIN dstats s ON s.dow = d.dow
    ), mad AS (
        SELECT CAST(FLOOR(quantile_cont(ABS(r), 0.5)) AS BIGINT) AS m FROM resid
    )
    SELECT day, dow, x, CAST(r AS BIGINT) AS resid_scaled,
           CASE WHEN ABS(r) > 3 * m THEN 1 ELSE 0 END AS is_outlier
    FROM resid, mad
    ORDER BY ABS(r) DESC, day
    LIMIT 5
    """,
)
def seasonal_residual_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-adjusted anomaly days: daily event counts residualized
    against their own weekday mean (the `dow_seasonality_profile` cycle),
    top-5 days by |residual| with a 3×MAD outlier flag — 'which days
    were abnormal FOR THAT WEEKDAY', the detector that doesn't fire on
    every ordinary weekend dip.

    Exactness: residuals are x·n_dow − Σ_dow (BIGINT, the same
    denominator-clearing trick as CUSUM/ACF — the per-dow mean never
    becomes a float); the MAD threshold is the floor of an exact
    interpolated median of integers; ordering breaks ties on the day.

    Scale shape: the fact collapses to the day grid; weekday stats are
    a 7-row agg joined back; the MAD is a percentile over |days| rows;
    TakeOrdered emits the top-5.
    """
    from pyspark_movie_recommender_spark.operators.timeseries import (
        epoch_day,
        mean_cleared_devs,
        zero_filled_daily_grid,
    )

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(epoch_day("ts").alias("day")).withColumn("hit", F.lit(1))
    daily = zero_filled_daily_grid(pts, F.count("hit").cast("long")).select(
        "day", (F.col("day") % 7).alias("dow"), "x"
    )
    resid = mean_cleared_devs(daily, keys=["dow"]).select(
        "day", "dow", "x", F.col("d").alias("r")
    )
    resid = _ckpt(resid)  # shared fan-out relation
    mad = resid.agg(
        F.floor(F.expr("percentile(abs(r), 0.5)")).cast("long").alias("m")
    )
    return (
        resid.crossJoin(F.broadcast(mad))
        .orderBy(F.abs("r").desc(), F.asc("day"))
        .limit(5)
        .select(
            "day",
            "dow",
            "x",
            F.col("r").cast("long").alias("resid_scaled"),
            F.when(F.abs("r") > 3 * F.col("m"), 1).otherwise(0).alias("is_outlier"),
        )
    )


@query(
    "cross_correlation_types",
    oracle="""
    WITH pts AS (
        SELECT event_type, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        FROM events WHERE event_type IN ('view', 'purchase')
    ), bounds AS (
        SELECT MIN(day) AS lo, MAX(day) AS hi FROM pts
    ), grid AS (
        SELECT unnest(generate_series(lo, hi)) AS day FROM bounds
    ), daily AS (
        SELECT g.day,
               CAST(SUM(CASE WHEN p.event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS a,
               CAST(SUM(CASE WHEN p.event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS b
        FROM grid g LEFT JOIN pts p ON p.day = g.day GROUP BY g.day
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb
        FROM daily
    ), dev AS (
        SELECT day,
               CAST(n * a - sa AS HUGEINT) AS da,
               CAST(n * b - sb AS HUGEINT) AS db
        FROM daily, stats
    ), den AS (
        SELECT SUM(da * da) AS va, SUM(db * db) AS vb FROM dev
    ), lags AS (
        SELECT unnest(generate_series(-3, 3)) AS lag
    )
    SELECT lag,
           ROUND(CAST(SUM(x.da * y.db) AS DOUBLE)
                 / sqrt(CAST(den.va AS DOUBLE) * CAST(den.vb AS DOUBLE)), 6)
               AS xcorr
    FROM lags JOIN dev x ON TRUE JOIN dev y ON y.day = x.day + lag, den
    GROUP BY lag, den.va, den.vb
    """,
)
def cross_correlation_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between daily view and purchase
    volumes at lags −3..+3 — 'do views predict purchases days later,
    or move same-day?' — the marketing/causality screening companion to
    the single-series `acf_daily_event_value`, built with the same
    denominator-clearing integer deviations (n·x−Σx) so numerator and
    variance sums are exact 38-digit decimals; only the final
    normalize-and-divide is floating point.

    Scale shape: both series collapse to one zero-filled day grid in a
    single conditional agg; the ±3-lag pairing and the correlation sums
    run on that |days|-row relation.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    pts = ev.select("event_type", epoch_day("ts").alias("day"))
    bounds = pts.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    grid = bounds.select(F.explode(F.expr("sequence(lo, hi)")).alias("day"))
    daily = (
        grid.join(pts, "day", "left")
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("a"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("b"),
        )
    )
    daily = _ckpt(daily)  # shared fan-out relation
    stats = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a").cast("long").alias("sa"),
        F.sum("b").cast("long").alias("sb"),
    )
    dev = daily.crossJoin(F.broadcast(stats)).select(
        "day",
        (F.col("n") * F.col("a") - F.col("sa")).cast("decimal(38,0)").alias("da"),
        (F.col("n") * F.col("b") - F.col("sb")).cast("decimal(38,0)").alias("db"),
    )
    den = dev.agg(
        F.sum(F.col("da") * F.col("da")).alias("va"),
        F.sum(F.col("db") * F.col("db")).alias("vb"),
    )
    lags = spark.range(-3, 4).select(F.col("id").cast("long").alias("lag"))
    pairs = (
        lags.crossJoin(dev.select(F.col("day").alias("xd"), F.col("da").alias("xa")))
        .join(
            dev.select(F.col("day").alias("yd"), F.col("db").alias("yb")),
            F.col("yd") == F.col("xd") + F.col("lag"),
        )
        .groupBy("lag")
        .agg(F.sum(F.col("xa") * F.col("yb")).alias("num"))
    )
    return pairs.crossJoin(F.broadcast(den)).select(
        "lag",
        F.round(
            F.col("num").cast("double")
            / F.sqrt(F.col("va").cast("double") * F.col("vb").cast("double")),
            6,
        ).alias("xcorr"),
    )


@query(
    "degree_assortativity",
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
    ), ed AS (
        SELECT CAST(ds.d AS HUGEINT) AS x, CAST(dd.d AS HUGEINT) AS y
        FROM edges e JOIN deg ds ON ds.node = e.src
                     JOIN deg dd ON dd.node = e.dst
    ), s AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS m,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM ed
    )
    SELECT CAST(m AS BIGINT) AS m_edges,
           ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                        * CAST(m * syy - sy * sy AS DOUBLE)), 6)
               AS assortativity
    FROM s
    """,
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman's r) of the bidirected trade graph:
    the Pearson correlation of endpoint degrees over all directed edges
    — 'do hubs trade with hubs (r>0) or with the periphery (r<0)?',
    the third structural metric beside modularity and the k-core
    decomposition. Bipartite trade graphs are typically disassortative,
    which this measures rather than assumes.

    Every moment (Σx, Σxy, Σx², edge count) is an exact integer sum of
    BIGINT degrees in 38-digit arithmetic; the closed-form Pearson does
    exactly one sqrt and one division at the end, rounded to 6.

    Scale shape: the distinct edge set collapses first; degrees are one
    hash agg re-joined onto edges (node-keyed — broadcastable dims at
    this shape, co-partitioned joins at extreme scale); the moment agg
    is a 1-row reduce with map-side partials.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    fwd = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("ck"), F.col("l_suppkey").alias("sk"))
        .distinct()
    )
    fwd = _ckpt(fwd)  # shared fan-out relation
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
    deg = _ckpt(deg)  # shared fan-out relation
    ed = (
        edges.join(
            deg.select(F.col("node").alias("src"), F.col("d").alias("xd")), "src"
        )
        .join(deg.select(F.col("node").alias("dst"), F.col("d").alias("yd")), "dst")
        .select(
            F.col("xd").cast("decimal(38,0)").alias("x"),
            F.col("yd").cast("decimal(38,0)").alias("y"),
        )
    )
    s = ed.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    return s.select(
        F.col("m").cast("long").alias("m_edges"),
        F.round(
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(
                (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
                * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            ),
            6,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# wave 64: cohort LTV, time-decay attribution, exact Gini
# ---------------------------------------------------------------------------


@query(
    "cohort_ltv_curve",
    oracle="""
    WITH firsts AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY 1
    ), sizes AS (
        SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_users
        FROM firsts GROUP BY 1
    ), spend AS (
        SELECT f.cohort_week,
               CAST(date_diff('day', f.cohort_week,
                              CAST(date_trunc('week', e.ts) AS DATE)) // 7
                    AS BIGINT) AS week_offset,
               CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events e JOIN firsts f ON f.user_id = e.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2
    ), cum AS (
        SELECT cohort_week, week_offset,
               SUM(cents) OVER (PARTITION BY cohort_week ORDER BY week_offset)
                   AS cum_cents
        FROM spend
    )
    SELECT c.cohort_week, c.week_offset, s.n_users,
           CAST(c.cum_cents AS BIGINT) AS cum_cents,
           CAST(c.cum_cents // s.n_users AS BIGINT) AS ltv_cents_per_user
    FROM cum c JOIN sizes s ON s.cohort_week = c.cohort_week
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: cumulative purchase value per
    first-seen-week cohort by week offset, normalized to exact
    cents-per-user — the monetary companion to
    `cohort_retention_weekly`'s headcount triangle (retention says who
    came back; LTV says what they were worth, which is what payback
    windows are computed from). Integer floor-division keeps every cell
    BIGINT.

    Scale shape: first-seen and spend aggs both shuffle once on
    user_id and join co-partitioned; the cumulative window runs on the
    |cohorts|×|offsets| triangle; cohort sizes broadcast back.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    spend = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort_week"),
                )
                / 7
            )
            .cast("long")
            .alias("week_offset"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    cum = spend.select(
        "cohort_week",
        "week_offset",
        F.sum("cents")
        .over(Window.partitionBy("cohort_week").orderBy("week_offset"))
        .alias("cum_cents"),
    )
    return cum.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_users",
        F.col("cum_cents").cast("long").alias("cum_cents"),
        F.expr("cum_cents div n_users").cast("long").alias("ltv_cents_per_user"),
    )


@query(
    "time_decay_attribution",
    oracle="""
    WITH purchases AS (
        SELECT event_id, user_id, ts,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ), touches AS (
        SELECT user_id, ts, event_type FROM events
        WHERE event_type IN ('view', 'click')
    ), joined AS (
        SELECT p.event_id, p.cents, t.event_type AS channel,
               1000000 // CAST(pow(2,
                   (epoch_us(p.ts) - epoch_us(t.ts)) // 86400000000) AS BIGINT)
                   AS w
        FROM purchases p LEFT JOIN touches t
          ON t.user_id = p.user_id
         AND t.ts <= p.ts
         AND t.ts > p.ts - INTERVAL 3 DAY
    ), credited AS (
        SELECT event_id, cents,
               COALESCE(channel, 'unattributed') AS channel,
               COALESCE(w, 0) AS w,
               SUM(COALESCE(w, 0)) OVER (PARTITION BY event_id) AS sw
        FROM joined
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(CASE WHEN sw = 0 THEN cents
                         ELSE cents * w // sw END) AS BIGINT)
               AS credited_cents
    FROM credited GROUP BY channel
    """,
)
def time_decay_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution (half-life = 1 day): each
    purchase's cents split across the user's prior-3-day view/click
    touches with weights halving per day of age — the recency-respecting
    sibling of `linear_attribution_purchases`. Weights are
    1e6 ÷ 2^age_days (exact integers: 1000000/500000/250000), the
    per-purchase split is integer cents·w÷Σw, and purchases with no
    touches credit 'unattributed' in full — so every column is BIGINT
    and hash-stable with zero float shares.

    Scale shape: same single range-join on user_id as the linear form
    (AQE splits hot users), per-purchase weight sums ride one window on
    the joined relation, final census is |channels| rows.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("pts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        "user_id", F.col("ts").alias("tts"), F.col("event_type").alias("channel")
    )
    age_days = F.expr(
        "(unix_micros(CAST(pts AS timestamp_ltz))"
        " - unix_micros(CAST(tts AS timestamp_ltz))) div 86400000000"
    )
    joined = purchases.join(
        touches,
        (purchases.user_id == touches.user_id)
        & (F.col("tts") <= F.col("pts"))
        & (F.col("tts") > F.col("pts") - F.expr("INTERVAL 3 DAY")),
        "left",
    ).select(
        "event_id",
        "cents",
        F.coalesce("channel", F.lit("unattributed")).alias("channel"),
        # 1e6 / 2^age: exact in double for age 0..2, truncating cast matches
        # the oracle's integer floor-division
        F.coalesce(
            (F.lit(1000000).cast("long") / F.pow(2.0, age_days.cast("double")))
            .cast("long"),
            F.lit(0),
        ).alias("w"),
    )
    credited = joined.select(
        "event_id",
        "cents",
        "channel",
        "w",
        F.sum("w").over(Window.partitionBy("event_id")).alias("sw"),
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.sum(
            F.when(F.col("sw") == 0, F.col("cents")).otherwise(
                F.expr("cents * w div sw")
            )
        )
        .cast("long")
        .alias("credited_cents"),
    )


@query(
    "gini_exact_customer_spend",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT CAST(x AS HUGEINT) AS x,
               CAST(ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS HUGEINT) AS i
        FROM spend
    ), s AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n, SUM(x) AS sx,
               SUM((2 * i - (SELECT COUNT(*) FROM ranked) - 1) * x) AS num
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(sx AS BIGINT) AS total_cents,
           CAST(num * 1000000 // (n * sx) AS BIGINT) AS gini_ppm
    FROM s
    """,
)
def gini_exact_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of customer spend via the closed form
    G = Σ(2i−n−1)·x_i / (n·Σx) over spend-sorted customers — the scalar
    that `lorenz_curve_customer_spend` integrates and the rows-only
    `udaf_gini_per_segment` approximates engine-side; this one is
    hash-checkable to the exact ppm. Every term (ranks, the weighted
    sum, the n·Σx denominator) is 38-digit integer arithmetic; ties
    order by custkey so the rank weighting is deterministic (the Gini
    value itself is tie-order invariant, the pin makes it bit-stable).

    Scale shape: fact → per-customer agg → distributed global rank
    over the customer summary via ``operators/rank.py`` (range-bucket
    on spend, per-bucket windows, broadcast prefix offsets — the
    per-customer relation is ~10⁹ rows at 100 TB, so a bare
    ``Window.orderBy`` single-task sort is not acceptable here) →
    1-row moment agg with map-side partials, using the identity
    Σ(2i−n−1)x = Σ(2i−1)x − n·Σx so n never has to ride on each row.
    """
    from pyspark_movie_recommender_spark.operators.rank import (
        distributed_global_rank,
    )

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("x")
    )
    ranked_rn = distributed_global_rank(
        spend, "x", "o_custkey", out_col="rn"
    ).select(
        F.col("x").cast("decimal(38,0)").alias("x"),
        F.col("rn").cast("decimal(38,0)").alias("i"),
    )
    s0 = ranked_rn.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum((2 * F.col("i") - 1) * F.col("x")).alias("s2"),
    )
    s = s0.select(
        "n", "sx", (F.col("s2") - F.col("n") * F.col("sx")).alias("num")
    )
    return s.select(
        F.col("n").cast("long").alias("n_customers"),
        F.col("sx").cast("long").alias("total_cents"),
        (F.col("num") * 1000000 / (F.col("n") * F.col("sx")))
        .cast("long")
        .alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# wave 65: rolling distinct users (DAU/WAU stickiness)
# ---------------------------------------------------------------------------


@query(
    "rolling_mau_stickiness",
    bench=True,
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               user_id
        FROM events
    ), days AS (
        SELECT DISTINCT day FROM du
    ), dau AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day
    ), wau AS (
        SELECT d.day, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau7
        FROM days d JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
        GROUP BY d.day
    )
    SELECT d.day, a.dau, w.wau7,
           CAST(a.dau * 1000000 // w.wau7 AS BIGINT) AS stickiness_ppm
    FROM days d JOIN dau a ON a.day = d.day JOIN wau w ON w.day = d.day
    """,
)
def rolling_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per day plus the DAU/WAU stickiness
    ratio in exact ppm — the engagement health metric. Rolling COUNT
    (DISTINCT) is the classic window functions CAN'T do (distinct isn't
    decomposable over sliding frames): the exact formulation joins the
    per-day distinct-user relation to a ±6-day range and re-counts —
    correct, and the checkable spec; the documented scale path swaps the
    inner relation for per-day HLL sketches unioned over the window
    (`hll_sketch_rollup` machinery), trading exactness for O(1) merge
    state.

    Scale shape: the fact collapses to the (day, user) distinct relation
    first (one shuffle, map-side partial dedup); the 7× fan-out joins
    day keys only, and the recount agg shuffles (day, user) pairs
    bounded by 7·|daily actives| — never raw events.
    """
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select(
            F.expr("unix_micros(CAST(ts AS timestamp_ltz)) div 86400000000")
            .cast("long")
            .alias("day"),
            "user_id",
        )
        .distinct()
    )
    du = _ckpt(du)  # shared fan-out relation
    days = du.select("day").distinct()
    days = _ckpt(days)  # shared fan-out relation
    dau = du.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    u = du.select(F.col("day").alias("uday"), "user_id")
    wau = (
        days.join(
            u,
            (F.col("uday") >= F.col("day") - 6) & (F.col("uday") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("wau7"))
    )
    return (
        days.join(dau, "day")
        .join(wau, "day")
        .select(
            "day",
            "dau",
            "wau7",
            F.expr("dau * 1000000L div wau7").cast("long").alias("stickiness_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# wave 66: CUPED experiment adjustment, audience overlap
# ---------------------------------------------------------------------------


@query(
    "cuped_adjusted_readout",
    oracle="""
    WITH pts AS (
        SELECT user_id,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ), bounds AS (
        SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM pts
    ), per_user AS (
        SELECT user_id,
               ((user_id * 2654435761) % 4294967296) % 2 AS arm,
               CAST(SUM(CASE WHEN day <  mid THEN cents ELSE 0 END) AS BIGINT) AS x,
               CAST(SUM(CASE WHEN day >= mid THEN cents ELSE 0 END) AS BIGINT) AS y
        FROM pts, bounds GROUP BY user_id
    ), mo AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx
        FROM per_user
    ), theta AS (
        SELECT CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS th,
               CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx
        FROM mo
    )
    SELECT arm,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(y) // COUNT(*) AS BIGINT) AS raw_mean_cents,
           ROUND(AVG(CAST(y AS DOUBLE)) - th * (AVG(CAST(x AS DOUBLE)) - mx), 4)
               AS cuped_mean_cents,
           ROUND(th, 6) AS theta
    FROM per_user, theta
    GROUP BY arm, th, mx
    """,
)
def cuped_adjusted_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout: per-user post-period spend
    adjusted by the pre-period covariate (Y′ = Y − θ·(X − X̄), θ the
    pooled OLS slope) under the deterministic-hash arm assignment the
    SRM guard audits — the variance-reduction technique that makes
    experiments read out in days instead of weeks. Arms differ only by
    hash here, so the adjusted means also demonstrate the null case.

    θ's numerator/denominator are exact 128-bit integer moments
    (n·Σxy − Σx·Σy over BIGINT cents — zero float accumulation); θ, the
    means, and the adjustment are then a handful of IEEE ops on those
    exact sums, rounded for the gate. Per-arm raw means stay pure
    BIGINT floor-division.

    Scale shape: one pass collapses events to per-user (x, y) pairs
    (map-side partials); the moment agg is 1 row; the readout agg is
    |arms| rows. CUPED at 100 TB is exactly this shape.
    """
    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS timestamp_ltz)) div 86400000000")
        .cast("long")
        .alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    bounds = pts.agg(F.expr("(min(day) + max(day)) div 2").alias("mid"))
    per_user = (
        pts.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("day") < F.col("mid"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("day") >= F.col("mid"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("y"),
        )
        .select(
            (((F.col("user_id") * 2654435761) % 4294967296) % 2).alias("arm"),
            "x",
            "y",
        )
    )
    per_user = _ckpt(per_user)  # shared fan-out relation
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    mo = per_user.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
    )
    theta = mo.select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("th"),
        (F.col("sx").cast("double") / F.col("n").cast("double")).alias("mx"),
    )
    return (
        per_user.crossJoin(F.broadcast(theta))
        .groupBy("arm", "th", "mx")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("y").alias("sy"),
            F.avg(F.col("y").cast("double")).alias("my"),
            F.avg(F.col("x").cast("double")).alias("mxa"),
        )
        .select(
            "arm",
            "n_users",
            F.expr("sy div n_users").cast("long").alias("raw_mean_cents"),
            F.round(
                F.col("my") - F.col("th") * (F.col("mxa") - F.col("mx")), 4
            ).alias("cuped_mean_cents"),
            F.round("th", 6).alias("theta"),
        )
    )


@query(
    "segment_overlap_jaccard",
    oracle="""
    WITH tu AS (
        SELECT DISTINCT event_type, user_id FROM events
    ), sizes AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM tu GROUP BY 1
    ), inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM tu a JOIN tu b
          ON b.user_id = a.user_id AND b.event_type > a.event_type
        GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, i.n_both,
           sa.n AS n_a, sb.n AS n_b,
           CAST(i.n_both * 1000000 // (sa.n + sb.n - i.n_both) AS BIGINT)
               AS jaccard_ppm
    FROM inter i JOIN sizes sa ON sa.event_type = i.type_a
                 JOIN sizes sb ON sb.event_type = i.type_b
    """,
)
def segment_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between behaviour segments: for every event-type
    pair, the exact user-set intersection and Jaccard similarity in ppm
    — 'are clickers and purchasers the same people?', the audience
    planning/cannibalization census. The exact hash-checkable twin of
    what `theta_token_overlap` answers with mergeable sketches when the
    sets can't be co-shuffled.

    Scale shape: events collapse to the distinct (type, user) relation
    once; the pair intersection equi-joins on user_id (fan-out bounded
    by |types| per user, never quadratic in users); sizes broadcast onto
    the |types|² result. All BIGINT.
    """
    ev = load_table(spark, sf_dir, "events")
    tu = ev.select("event_type", "user_id").distinct()
    tu = _ckpt(tu)  # shared fan-out relation
    sizes = tu.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    sizes = _ckpt(sizes)  # shared fan-out relation
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_b") > F.col("type_a"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    return (
        inter.join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_a"),
                                     F.col("n").alias("n_a"))),
            "type_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_b"),
                                     F.col("n").alias("n_b"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.expr("n_both * 1000000L div (n_a + n_b - n_both)")
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# wave 67: MV rewrite equivalence, char-level n-gram profiles
# ---------------------------------------------------------------------------


@query(
    "mv_rewrite_monthly_from_daily",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders GROUP BY 1
    """,
)
def mv_rewrite_monthly_from_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view rewrite: the monthly revenue rollup answered
    FROM the daily pre-aggregate (the MV a BI layer maintains), never
    rescanning the fact — while the oracle recomputes straight from
    orders, so hash equality IS the proof that answering from the MV is
    lossless (count and BIGINT-cents sums are mergeable partials;
    averages would need sum+count carried separately — the classic MV
    design rule this query pins).

    Scale shape: the daily MV is |days| rows; the monthly answer is one
    tiny re-aggregation of it. At 100 TB the fact scan happens once a
    day into the MV; every downstream grain (week/month/quarter) is
    this re-agg — that asymmetry is the whole point of the pattern
    (`incremental_view_maintenance` keeps the MV fresh; this query is
    the read path).
    """
    orders = load_table(spark, sf_dir, "orders")
    daily_mv = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
    )
    return (
        daily_mv.groupBy(F.date_trunc("month", F.col("day")).cast("date").alias("month"))
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )


@query(
    "char_trigram_profile",
    oracle="""
    WITH chars AS (
        SELECT lang, lower(trim(text)) AS s FROM documents
        WHERE length(trim(text)) >= 3
    ), grams AS (
        SELECT lang, substr(s, g.i, 3) AS tri
        FROM chars,
             LATERAL (SELECT unnest(generate_series(1, length(s) - 2)) AS i) g
    ), counts AS (
        SELECT lang, tri, CAST(COUNT(*) AS BIGINT) AS n
        FROM grams GROUP BY lang, tri
    ), ranked AS (
        SELECT lang, tri, n,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY n DESC, tri) AS BIGINT) AS rnk
        FROM counts
    )
    SELECT lang, tri, n, rnk FROM ranked WHERE rnk <= 10
    """,
)
def char_trigram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 character trigrams per language — the char-level signal
    real language identifiers (CLD, fastText) are built on, and the
    character-granularity member of the n-gram family (tokens:
    heavy-hitters/PMI; token n-grams: diversity/decontamination; chars:
    this). Whitespace is part of the trigram alphabet by design — word
    boundaries are the strongest language cue.

    Scale shape: trigrams enumerate in-row from a sequence (no join);
    one (lang, tri) hash agg with map-side combine (alphabet³-bounded
    keys); per-lang top-10 via WindowGroupLimit-prunable rank with full
    (n desc, tri) tie-break so the cut is engine-stable.
    """
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "lang", F.lower(F.trim(F.col("text"))).alias("s")
    ).filter(F.length("s") >= 3)
    grams = chars.select(
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(s) - 2), i -> substr(s, i, 3))")
        ).alias("tri"),
    )
    counts = grams.groupBy("lang", "tri").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    ranked = counts.select(
        "lang",
        "tri",
        "n",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("tri")))
        .cast("long")
        .alias("rnk"),
    )
    return ranked.filter(F.col("rnk") <= 10)


# ---------------------------------------------------------------------------
# wave 68: per-dimension embedding stats, centroid shift between labels
# ---------------------------------------------------------------------------


@query(
    "embedding_dimension_stats",
    oracle="""
    WITH vals AS (
        SELECT g.i AS dim,
               CAST(ROUND(CAST(e.embedding[g.i] AS DOUBLE) * 1000000) AS BIGINT)
                   AS v
        FROM embeddings e,
             LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) g
    )
    SELECT CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(v) AS BIGINT) AS min_u,
           CAST(MAX(v) AS BIGINT) AS max_u,
           CAST(SUM(v) // COUNT(*) AS BIGINT) AS mean_u
    FROM vals GROUP BY dim
    """,
)
def embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-DIMENSION statistics of the embedding matrix (count/min/max/
    mean in exact micro-units) — the feature-scaling profile a whitening
    or normalization step consumes, and the column-wise companion to the
    per-vector `embedding_norm_stats`. A dimension whose range collapses
    is dead weight (matryoshka-truncate it); one whose mean drifts far
    from zero breaks cosine-vs-dot equivalence assumptions.

    Values are quantized to BIGINT micro-units BEFORE aggregation, so
    min/max/mean are exact integers with no float-summation-order
    hazard. 1-based dimension ids match the oracle's list indexing.

    Scale shape: a map-side posexplode fans each vector into (dim, v)
    pairs; one |dims|-row hash agg with map-side partials absorbs the
    volume. No joins, no windows.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias("p", "ev")
    ).select(
        (F.col("p") + 1).cast("long").alias("dim"),
        F.round(F.col("ev") * 1000000).cast("long").alias("v"),
    )
    return (
        vals.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("v").cast("long").alias("min_u"),
            F.max("v").cast("long").alias("max_u"),
            F.sum("v").alias("sv"),
        )
        .select(
            "dim",
            "n",
            "min_u",
            "max_u",
            F.expr("sv div n").cast("long").alias("mean_u"),
        )
    )


@query(
    "centroid_shift_labels",
    oracle="""
    WITH vals AS (
        SELECT e.label, g.i AS dim,
               CAST(ROUND(CAST(e.embedding[g.i] AS DOUBLE) * 1000000) AS BIGINT)
                   AS v
        FROM embeddings e,
             LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) g
    ), cent AS (
        SELECT label, dim, CAST(SUM(v) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM vals GROUP BY label, dim
    ), pairs AS (
        SELECT a.label AS label_a, b.label AS label_b,
               SUM(CAST(a.s * b.c - b.s * a.c AS HUGEINT)
                   * CAST(a.s * b.c - b.s * a.c AS HUGEINT)) AS num2,
               ANY_VALUE(CAST(a.c AS HUGEINT) * b.c) AS cc
        FROM cent a JOIN cent b ON b.dim = a.dim AND b.label > a.label
        GROUP BY a.label, b.label
    )
    SELECT label_a, label_b,
           ROUND(sqrt(CAST(num2 AS DOUBLE)) / CAST(cc AS DOUBLE), 6)
               AS centroid_dist_u
    FROM pairs
    """,
)
def centroid_shift_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise centroid distances between embedding cluster labels, in
    micro-units — the separation matrix behind 'are these clusters
    actually distinct', feeding merge decisions for SemDedup cells and
    k-means routing (`kmeans_embedding_assign`). Distances use the
    common-denominator identity ‖s_a/c_a − s_b/c_b‖ =
    √Σ(s_a·c_b − s_b·c_a)² / (c_a·c_b): the inner sums are EXACT
    128-bit integers over micro-unit coordinates, so both engines reach
    the identical rational before one sqrt+divide.

    Scale shape: vectors explode map-side into (label, dim, v); the
    centroid agg collapses to |labels|×|dims| rows; the pair join runs
    on that tiny relation keyed by dim. The corpus never pairs with
    itself.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("p", "ev"),
    ).select(
        "label",
        (F.col("p") + 1).alias("dim"),
        F.round(F.col("ev") * 1000000).cast("long").alias("v"),
    )
    cent = vals.groupBy("label", "dim").agg(
        F.sum("v").cast("long").alias("s"), F.count(F.lit(1)).cast("long").alias("c")
    )
    a = cent.select(
        F.col("label").alias("label_a"),
        "dim",
        F.col("s").alias("sa"),
        F.col("c").alias("ca"),
    )
    b = cent.select(
        F.col("label").alias("label_b"),
        "dim",
        F.col("s").alias("sb"),
        F.col("c").alias("cb"),
    )
    diff = (F.col("sa") * F.col("cb") - F.col("sb") * F.col("ca")).cast(
        "decimal(38,0)"
    )
    pairs = (
        a.join(b, "dim")
        .filter(F.col("label_b") > F.col("label_a"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(diff * diff).alias("num2"),
            F.first((F.col("ca").cast("decimal(38,0)") * F.col("cb"))).alias("cc"),
        )
    )
    return pairs.select(
        "label_a",
        "label_b",
        F.round(
            F.sqrt(F.col("num2").cast("double")) / F.col("cc").cast("double"), 6
        ).alias("centroid_dist_u"),
    )


# ---------------------------------------------------------------------------
# wave 69: Wilson proportion bounds, Laspeyres price index
# ---------------------------------------------------------------------------


@query(
    "wilson_conversion_bounds",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS viewed,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
        FROM events GROUP BY user_id
    ), seg AS (
        SELECT user_id % 4 AS segment, bought FROM per_user WHERE viewed = 1
    ), c AS (
        SELECT segment, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(bought) AS BIGINT) AS k
        FROM seg GROUP BY segment
    )
    SELECT segment, n, k,
           ROUND(CAST(k AS DOUBLE) / n, 6) AS p_hat,
           ROUND((CAST(k AS DOUBLE) / n + 1.9208 / n
                  - 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                        * (1 - CAST(k AS DOUBLE) / n) / n + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 6) AS wilson_lo,
           ROUND((CAST(k AS DOUBLE) / n + 1.9208 / n
                  + 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                        * (1 - CAST(k AS DOUBLE) / n) / n + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 6) AS wilson_hi
    FROM c
    """,
)
def wilson_conversion_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase conversion rate per (hash-derived) user segment
    with Wilson-score 95% bounds — the proportion-uncertainty tool that
    stays honest at small n and extreme rates where the naive ±1.96·SE
    interval leaves [0,1]. Bootstrap CI covers means; this covers
    rates; together they bracket the readout surface.

    Counts are exact BIGINTs; the Wilson formula is a fixed dag of IEEE
    ops (z=1.96 constants pre-squared: 3.8416, 1.9208, 0.9604) on those
    exact counts, identical on both engines, rounded to 6.

    Scale shape: events collapse per-user map-side (two MAX flags), the
    segment census is a 4-row agg. Nothing wide.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("viewed"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "bought"
        ),
    )
    c = (
        per_user.filter(F.col("viewed") == 1)
        .select((F.col("user_id") % 4).alias("segment"), "bought")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("bought").cast("long").alias("k"),
        )
    )
    p = F.col("k").cast("double") / F.col("n")
    n = F.col("n")
    half = 1.96 * F.sqrt(p * (1 - p) / n + 0.9604 / (n * n))
    denom = 1 + 3.8416 / n
    return c.select(
        "segment",
        "n",
        "k",
        F.round(p, 6).alias("p_hat"),
        F.round((p + 1.9208 / n - half) / denom, 6).alias("wilson_lo"),
        F.round((p + 1.9208 / n + half) / denom, 6).alias("wilson_hi"),
    )


@query(
    "laspeyres_price_index",
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
               cents * 1000 // qty AS base_milli_per_unit,
               qty AS base_qty
        FROM m WHERE month = (SELECT MIN(month) FROM m)
    ), cur AS (
        SELECT m.month,
               SUM(CAST(m.cents * 1000 // m.qty AS HUGEINT) * b.base_qty)
                   AS cur_basket,
               SUM(CAST(b.base_milli_per_unit AS HUGEINT) * b.base_qty)
                   AS base_basket
        FROM m JOIN base b ON b.l_partkey = m.l_partkey
        GROUP BY m.month
    )
    SELECT month,
           CAST(cur_basket * 1000000 // base_basket AS BIGINT) AS laspeyres_ppm
    FROM cur
    """,
)
def laspeyres_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres price index per ship month: the base month's basket
    (its parts, at their base quantities) repriced at each month's unit
    prices, as exact ppm of the base cost — the inflation/price-drift
    measure over the matched basket (parts absent in a month simply
    drop out of that month's numerator, the standard matched-sample
    convention). Unit prices are integer milli-cents (cents·1000 ÷ qty)
    so the whole index is BIGINT/128-bit arithmetic with zero float
    drift.

    Scale shape: lineitem collapses once to (part, month) price/qty
    partials; the base basket is one month's slice joined back
    part-keyed (broadcast at dim scale); per-month totals are a tiny
    agg. No windows over the fact.
    """
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy(
        "l_partkey",
        F.date_trunc("month", F.col("l_shipdate")).cast("date").alias("month"),
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("cents"),
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty"),
    )
    base_month = m.agg(F.min("month").alias("bm"))
    base = (
        m.crossJoin(F.broadcast(base_month))
        .filter(F.col("month") == F.col("bm"))
        .select(
            "l_partkey",
            F.expr("cents * 1000L div qty").alias("base_milli_per_unit"),
            F.col("qty").alias("base_qty"),
        )
    )
    cur = (
        m.join(base, "l_partkey")
        .groupBy("month")
        .agg(
            F.sum(
                F.expr("cents * 1000L div qty").cast("decimal(38,0)")
                * F.col("base_qty")
            ).alias("cur_basket"),
            F.sum(
                F.col("base_milli_per_unit").cast("decimal(38,0)")
                * F.col("base_qty")
            ).alias("base_basket"),
        )
    )
    return cur.select(
        "month",
        (F.col("cur_basket") * 1000000 / F.col("base_basket"))
        .cast("long")
        .alias("laspeyres_ppm"),
    )


# ---------------------------------------------------------------------------
# wave 70: power-iteration principal direction, two-proportion z-test
# ---------------------------------------------------------------------------


@query(
    "power_iteration_top_pc",
    oracle="""
    WITH vals AS (
        SELECT e.vec_id, g.i AS dim,
               CAST(ROUND(CAST(e.embedding[g.i] AS DOUBLE) * 100) AS BIGINT) AS v
        FROM embeddings e,
             LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) g
    ), sums AS (
        SELECT dim, CAST(SUM(v) AS BIGINT) AS s FROM vals GROUP BY dim
    ), n AS (
        SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n FROM vals
    ), cov AS (
        SELECT a.dim AS i, b.dim AS j,
               CAST(n.n AS HUGEINT) * SUM(CAST(a.v AS HUGEINT) * b.v)
                   - CAST(sa.s AS HUGEINT) * sb.s AS c
        FROM vals a
        JOIN vals b ON b.vec_id = a.vec_id
        JOIN sums sa ON sa.dim = a.dim
        JOIN sums sb ON sb.dim = b.dim, n
        GROUP BY a.dim, b.dim, n.n, sa.s, sb.s
    ), y1 AS (
        SELECT i AS dim, c AS y FROM cov WHERE j = 1
    ), y2 AS (
        SELECT cov.i AS dim, SUM((cov.c // 1000) * (y1.y // 1000)) AS y
        FROM cov JOIN y1 ON y1.dim = cov.j
        GROUP BY cov.i
    ), mx AS (
        SELECT MAX(ABS(y)) AS m FROM y2
    )
    SELECT dim, CAST(y * 1000000 // m AS BIGINT) AS pc_ppm
    FROM y2, mx
    """,
)
def power_iteration_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two steps of power iteration for the leading principal component
    of the embedding covariance, entirely in EXACT integer arithmetic —
    linear algebra as relational joins: the covariance matrix is the
    centered Gram identity n·Σv_iv_j − Σv_i·Σv_j over centi-unit
    coordinates (128-bit exact), and y = C·(C·e₁) is two matrix-vector
    joins with a deterministic 10³ truncating down-scaling between products to
    keep magnitudes inside 128 bits. Output is the direction as exact
    ppm of its max coordinate — a hash-checkable PCA estimate (two
    iterations from e₁: a coarse but deterministic direction; more
    rounds = more joins, same shape). The anisotropy this finds is what
    `jl_random_projection` ignores and mean-centering debates in
    cosine retrieval hinge on.

    Scale shape: the Gram accumulation is the only data-sized job —
    explode to (id, dim, v) then one self-join on id bounded by 64²
    output cells per vector, collapsing in a dims²-row agg with
    map-side partials; everything after runs on the 64×64 relation.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("p", "ev"),
    ).select(
        "vec_id",
        (F.col("p") + 1).alias("dim"),
        F.round(F.col("ev") * 100).cast("long").alias("v"),
    )
    sums = vals.groupBy("dim").agg(F.sum("v").cast("long").alias("s"))
    sums = _ckpt(sums)  # shared fan-out relation
    n = vals.agg(F.countDistinct("vec_id").cast("long").alias("n"))
    a = vals.select("vec_id", F.col("dim").alias("i"), F.col("v").alias("va"))
    b = vals.select("vec_id", F.col("dim").alias("j"), F.col("v").alias("vb"))
    gram = (
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(
            F.sum(F.col("va").cast("decimal(38,0)") * F.col("vb")).alias("svv")
        )
    )
    cov = (
        gram.join(
            F.broadcast(sums.select(F.col("dim").alias("i"), F.col("s").alias("sa"))),
            "i",
        )
        .join(
            F.broadcast(sums.select(F.col("dim").alias("j"), F.col("s").alias("sb"))),
            "j",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            (
                F.col("n").cast("decimal(38,0)") * F.col("svv")
                - F.col("sa").cast("decimal(38,0)") * F.col("sb")
            ).alias("c"),
        )
    )
    y1 = cov.filter(F.col("j") == 1).select(F.col("i").alias("dim"), F.col("c").alias("y"))
    y2 = (
        cov.join(F.broadcast(y1.select(F.col("dim").alias("j"), F.col("y").alias("y1"))), "j")
        .groupBy("i")
        .agg(
            # truncate-toward-zero scaling (matches DuckDB's integer //):
            # (x - x % 1000) / 1000 is exact for either sign
            F.sum(
                F.expr("CAST((c - (c % 1000)) / 1000 AS DECIMAL(38,0))")
                * F.expr("CAST((y1 - (y1 % 1000)) / 1000 AS DECIMAL(38,0))")
            ).alias("y")
        )
        .select(F.col("i").alias("dim"), "y")
    )
    y2 = _ckpt(y2)  # shared fan-out relation
    mx = y2.agg(F.max(F.abs(F.col("y"))).alias("m"))
    return y2.crossJoin(F.broadcast(mx)).select(
        "dim",
        (F.col("y") * 1000000 / F.col("m")).cast("long").alias("pc_ppm"),
    )


@query(
    "two_proportion_ztest",
    oracle="""
    WITH pts AS (
        SELECT user_id, event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        FROM events
    ), bounds AS (
        SELECT (MIN(day) + MAX(day)) // 2 AS mid FROM pts
    ), tagged AS (
        SELECT CASE WHEN day < mid THEN 0 ELSE 1 END AS period,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b
        FROM pts, bounds
    ), c AS (
        SELECT CAST(SUM(CASE WHEN period = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
               CAST(SUM(CASE WHEN period = 0 THEN b ELSE 0 END) AS BIGINT) AS k0,
               CAST(SUM(CASE WHEN period = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN period = 1 THEN b ELSE 0 END) AS BIGINT) AS k1
        FROM tagged
    )
    SELECT n0, k0, n1, k1,
           ROUND(CAST(k0 AS DOUBLE) / n0 - CAST(k1 AS DOUBLE) / n1, 6) AS diff,
           ROUND((CAST(k0 AS DOUBLE) / n0 - CAST(k1 AS DOUBLE) / n1)
                 / sqrt((CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
                        * (1 - CAST(k0 + k1 AS DOUBLE) / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)), 6) AS z
    FROM c
    """,
)
def two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: did the PURCHASE SHARE of all events change
    between the first and second half of the observation window? The
    pooled-variance z statistic over exact per-period event counts — the
    difference-in-rates hypothesis test beside chi-square (composition),
    KS (distribution), and CUSUM (when). Counts are exact BIGINTs; z is
    a fixed IEEE dag on them, rounded to 6. (Event-level shares, not
    per-user flags: on this fixture every user purchases in every
    period, which would degenerate the pooled variance to zero.)

    Scale shape: one map-side tagging pass and a 1-row census agg with
    map-side partials. Nothing wide.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    pts = ev.select("user_id", "event_type", epoch_day("ts").alias("day"))
    bounds = pts.agg(F.expr("(min(day) + max(day)) div 2").alias("mid"))
    tagged = pts.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("day") < F.col("mid"), 0).otherwise(1).alias("period"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("b"),
    )
    c = tagged.agg(
        F.sum(F.when(F.col("period") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("period") == 0, F.col("b")).otherwise(0))
        .cast("long")
        .alias("k0"),
        F.sum(F.when(F.col("period") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("period") == 1, F.col("b")).otherwise(0))
        .cast("long")
        .alias("k1"),
    )
    p0 = F.col("k0").cast("double") / F.col("n0")
    p1 = F.col("k1").cast("double") / F.col("n1")
    pp = (F.col("k0") + F.col("k1")).cast("double") / (F.col("n0") + F.col("n1"))
    z = (p0 - p1) / F.sqrt(pp * (1 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    return c.select(
        "n0", "k0", "n1", "k1",
        F.round(p0 - p1, 6).alias("diff"),
        F.round(z, 6).alias("z"),
    )


# ---------------------------------------------------------------------------
# wave 71: journey trigram paths, chance-corrected classifier agreement
# ---------------------------------------------------------------------------


@query(
    "top_event_trigram_paths",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type, 1) OVER w AS p1,
               LAG(event_type, 2) OVER w AS p2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT p2 AS step1, p1 AS step2, event_type AS step3,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE p2 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n DESC, step1, step2, step3
    LIMIT 10
    """,
)
def top_event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step user journeys (event-type trigrams over each
    user's time-ordered stream) — the Sankey/path-analysis view one
    level deeper than `event_transition_matrix`'s bigrams: 'what do
    users do around an error', 'which 3-step paths end in purchase'.
    Ordering ties break on the full path so the cut is engine-stable;
    the lag window carries the (ts, event_id) total order.

    Scale shape: one user_id exchange for the two lags; the path census
    collapses to ≤|types|³ rows with map-side partials; TakeOrdered
    emits the top-10.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("p1"),
        F.lag("event_type", 2).over(w).alias("p2"),
    ).filter(F.col("p2").isNotNull())
    return (
        seq.select(
            F.col("p2").alias("step1"),
            F.col("p1").alias("step2"),
            F.col("event_type").alias("step3"),
        )
        .groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "step1", "step2", "step3")
        .limit(10)
    )


@query(
    "classifier_agreement_kappa",
    oracle="""
    WITH split AS (
        SELECT doc_id, lang,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t,
               ((doc_id * 2654435761) % 4294967296) % 100 AS bucket
        FROM documents
    ),
    train_tok AS (
        SELECT lang, unnest(t) AS w FROM split WHERE bucket < 80
    ),
    counts AS (
        SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM train_tok GROUP BY lang, w
    ),
    n_lang AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l FROM train_tok GROUP BY lang
    ),
    vocab AS (
        SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM train_tok
    ),
    priors AS (
        SELECT lang,
               CAST(ROUND(ln(CAST(COUNT(*) AS DOUBLE)
                   / (SELECT COUNT(*) FROM split WHERE bucket < 80)) * 1000000)
                   AS BIGINT) AS prior_unats
        FROM split WHERE bucket < 80 GROUP BY lang
    ),
    test_tok AS (
        SELECT doc_id, lang AS true_lang, w, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT doc_id, lang, unnest(t) AS w FROM split WHERE bucket >= 80)
        GROUP BY doc_id, lang, w
    ),
    scored AS (
        SELECT tt.doc_id, tt.true_lang, nl.lang AS cand,
               SUM(tt.k * CAST(ROUND(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
                   / (nl.n_l + vocab.v)) * 1000000) AS BIGINT)) AS tok_unats
        FROM test_tok tt
        CROSS JOIN n_lang nl
        CROSS JOIN vocab
        LEFT JOIN counts c ON c.lang = nl.lang AND c.w = tt.w
        GROUP BY tt.doc_id, tt.true_lang, nl.lang
    ),
    pred AS (
        SELECT true_lang, cand AS pred_lang
        FROM (
            SELECT true_lang, cand,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY tok_unats + p.prior_unats DESC, cand) AS rn
            FROM scored JOIN priors p ON p.lang = scored.cand
        ) WHERE rn = 1
    ),
    conf AS (
        SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(CASE WHEN true_lang = pred_lang THEN n ELSE 0 END)
                    AS BIGINT) AS agree
        FROM conf
    ),
    marg AS (
        SELECT CAST(SUM(r.rn * c.cn) AS HUGEINT) AS pe_num
        FROM (SELECT true_lang AS l, SUM(n) AS rn FROM conf GROUP BY 1) r
        JOIN (SELECT pred_lang AS l, SUM(n) AS cn FROM conf GROUP BY 1) c
          ON c.l = r.l
    )
    SELECT nn AS n_docs, agree AS n_agree,
           CAST(agree * 1000000 // nn AS BIGINT) AS accuracy_ppm,
           CAST((agree * nn - pe_num) * 1000000
                // (CAST(nn AS HUGEINT) * nn - pe_num) AS BIGINT) AS kappa_ppm
    FROM tot, marg
    """,
)
def classifier_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa for the naive-Bayes language identifier: accuracy
    corrected for chance agreement, κ = (p_o − p_e)/(1 − p_e) with
    p_e from the confusion matrix's marginals — the honest skill score
    when classes are imbalanced (this corpus is ~50% English, so raw
    accuracy flatters a majority-class guesser). Computed as exact
    128-bit integer ratios in ppm: κ = (agree·N − Σ row_i·col_i)·10⁶ ÷
    (N² − Σ row_i·col_i).

    Scale shape: rides the NB scoring shape (`naive_bayes_lang_confusion`)
    to the |langs|² confusion matrix, then everything is constant-sized
    marginal algebra.
    """
    conf = QUERIES["naive_bayes_lang_confusion"](spark, sf_dir)
    tot = conf.agg(
        F.sum("n_docs").cast("long").alias("nn"),
        F.sum(
            F.when(F.col("true_lang") == F.col("pred_lang"), F.col("n_docs")).otherwise(0)
        )
        .cast("long")
        .alias("agree"),
    )
    r = conf.groupBy(F.col("true_lang").alias("l")).agg(F.sum("n_docs").alias("rn"))
    c = conf.groupBy(F.col("pred_lang").alias("l")).agg(F.sum("n_docs").alias("cn"))
    marg = (
        r.join(c, "l")
        .agg(
            F.sum(F.col("rn").cast("decimal(38,0)") * F.col("cn")).alias("pe_num")
        )
    )
    return tot.crossJoin(F.broadcast(marg)).select(
        F.col("nn").alias("n_docs"),
        F.col("agree").alias("n_agree"),
        F.expr("agree * 1000000L div nn").cast("long").alias("accuracy_ppm"),
        (
            (F.col("agree").cast("decimal(38,0)") * F.col("nn") - F.col("pe_num"))
            * 1000000
            / (
                F.col("nn").cast("decimal(38,0)") * F.col("nn") - F.col("pe_num")
            )
        )
        .cast("long")
        .alias("kappa_ppm"),
    )


# ---------------------------------------------------------------------------
# wave 72: business-day latency, burst-rate detection
# ---------------------------------------------------------------------------


@query(
    "business_day_ship_latency",
    oracle="""
    WITH pairs AS (
        SELECT o.o_orderpriority AS priority,
               CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT) AS d0,
               CAST(epoch_us(l.l_shipdate)  // 86400000000 AS BIGINT) AS d1
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate >= o.o_orderdate
    ), biz AS (
        -- business days in [d0, d1): full weeks * 5 + weekday remainder.
        -- epoch day 0 = Thursday => weekday index (day + 3) % 7, Mon=0.
        SELECT priority,
               ((d1 - d0) // 7) * 5
               + GREATEST(0, LEAST((d0 + 3) % 7 + (d1 - d0) % 7, 5)
                             - ((d0 + 3) % 7))
               + GREATEST(0, LEAST((d0 + 3) % 7 + (d1 - d0) % 7 - 7, 5))
               AS bdays
        FROM pairs
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(bdays) AS BIGINT) AS total_bdays,
           CAST(SUM(bdays) * 1000 // COUNT(*) AS BIGINT) AS mean_bdays_milli,
           CAST(FLOOR(quantile_cont(bdays, 0.5)) AS BIGINT) AS median_bdays
    FROM biz GROUP BY priority
    """,
)
def business_day_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency in BUSINESS days per priority class — the SLA
    metric operations teams actually track (a Friday order shipping
    Monday is 1 business day, not 3). Business-day counting is closed-
    form integer arithmetic on epoch days (full weeks ×5 plus a
    two-segment weekday-remainder clamp; weekday = (epoch_day+3) mod 7
    with Monday=0 — engine-neutral, no calendar-dialect traps), so
    every column is exact BIGINT; the mean ships as milli-days by
    integer division.

    Scale shape: the join is the star-schema orderkey equi-join; the
    latency math is map-side; the census is |priorities| rows. A real
    deployment adds a broadcast holiday dimension — same shape.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark_movie_recommender_spark.operators.timeseries import epoch_day

    pairs = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            epoch_day("o_orderdate").alias("d0"),
            epoch_day("l_shipdate").alias("d1"),
        )
    )
    w0 = (F.col("d0") + 3) % 7
    rem = (F.col("d1") - F.col("d0")) % 7
    bdays = (
        F.expr("((d1 - d0) div 7) * 5")
        + F.greatest(F.lit(0), F.least(w0 + rem, F.lit(5)) - w0)
        + F.greatest(F.lit(0), F.least(w0 + rem - 7, F.lit(5)))
    )
    biz = pairs.select("priority", bdays.alias("bdays"))
    return biz.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("bdays").cast("long").alias("total_bdays"),
        F.expr("sum(bdays) * 1000L div count(1)").cast("long").alias(
            "mean_bdays_milli"
        ),
        F.floor(F.expr("percentile(bdays, 0.5)")).cast("long").alias("median_bdays"),
    )


@query(
    "bot_rate_detection",
    oracle="""
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS t FROM events
    ), rates AS (
        SELECT user_id, t,
               CAST(COUNT(*) OVER (
                   PARTITION BY user_id ORDER BY t
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS burst
        FROM e
    ), peak AS (
        SELECT user_id, MAX(burst) AS max_burst_1h,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM rates GROUP BY user_id
    )
    SELECT user_id, n_events, max_burst_1h,
           CASE WHEN max_burst_1h >= 8 THEN 1 ELSE 0 END AS flagged
    FROM peak
    ORDER BY max_burst_1h DESC, user_id
    LIMIT 20
    """,
)
def bot_rate_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst-rate abuse detection: each user's maximum events within any
    trailing 1-hour window (an exact sliding count via a RANGE frame
    over microsecond epochs — the frame ends at each event, which is
    where the true maximum always sits), top-20 burstiest with a
    threshold flag. The rate-limiter's ban-list query; thresholds are
    config, the SHAPE is the operator.

    All integers; ties break on user_id so the top-k is stable.

    Scale shape: one user_id exchange; the RANGE frame holds only the
    in-window event times per user; the per-user peak agg collapses
    before TakeOrdered. No self-joins, no minute-grid materialization.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    e = ev.select("user_id", us.alias("t"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rangeBetween(-3600000000, 0)
    )
    rates = e.select("user_id", F.count(F.lit(1)).over(w).alias("burst"))
    peak = rates.groupBy("user_id").agg(
        F.max("burst").cast("long").alias("max_burst_1h"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return (
        peak.select(
            "user_id",
            "n_events",
            "max_burst_1h",
            F.when(F.col("max_burst_1h") >= 8, 1).otherwise(0).alias("flagged"),
        )
        .orderBy(F.desc("max_burst_1h"), F.asc("user_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# wave 73: per-class P/R/F1, overdispersion index
# ---------------------------------------------------------------------------


@query(
    "nb_per_class_prf",
    oracle="""
    WITH split AS (
        SELECT doc_id, lang,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(lower(trim(text)), '\\s+') END AS t,
               ((doc_id * 2654435761) % 4294967296) % 100 AS bucket
        FROM documents
    ),
    train_tok AS (
        SELECT lang, unnest(t) AS w FROM split WHERE bucket < 80
    ),
    counts AS (
        SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
        FROM train_tok GROUP BY lang, w
    ),
    n_lang AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l FROM train_tok GROUP BY lang
    ),
    vocab AS (
        SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM train_tok
    ),
    priors AS (
        SELECT lang,
               CAST(ROUND(ln(CAST(COUNT(*) AS DOUBLE)
                   / (SELECT COUNT(*) FROM split WHERE bucket < 80)) * 1000000)
                   AS BIGINT) AS prior_unats
        FROM split WHERE bucket < 80 GROUP BY lang
    ),
    test_tok AS (
        SELECT doc_id, lang AS true_lang, w, CAST(COUNT(*) AS BIGINT) AS k
        FROM (SELECT doc_id, lang, unnest(t) AS w FROM split WHERE bucket >= 80)
        GROUP BY doc_id, lang, w
    ),
    scored AS (
        SELECT tt.doc_id, tt.true_lang, nl.lang AS cand,
               SUM(tt.k * CAST(ROUND(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
                   / (nl.n_l + vocab.v)) * 1000000) AS BIGINT)) AS tok_unats
        FROM test_tok tt
        CROSS JOIN n_lang nl
        CROSS JOIN vocab
        LEFT JOIN counts c ON c.lang = nl.lang AND c.w = tt.w
        GROUP BY tt.doc_id, tt.true_lang, nl.lang
    ),
    pred AS (
        SELECT true_lang, cand AS pred_lang
        FROM (
            SELECT true_lang, cand,
                   ROW_NUMBER() OVER (
                       PARTITION BY doc_id
                       ORDER BY tok_unats + p.prior_unats DESC, cand) AS rn
            FROM scored JOIN priors p ON p.lang = scored.cand
        ) WHERE rn = 1
    ),
    conf AS (
        SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
        FROM pred GROUP BY 1, 2
    ),
    classes AS (
        SELECT true_lang AS cls FROM conf
        UNION SELECT pred_lang FROM conf
    ),
    prf AS (
        SELECT cls,
               COALESCE((SELECT SUM(n) FROM conf
                         WHERE true_lang = cls AND pred_lang = cls), 0) AS tp,
               COALESCE((SELECT SUM(n) FROM conf WHERE pred_lang = cls), 0) AS pp,
               COALESCE((SELECT SUM(n) FROM conf WHERE true_lang = cls), 0) AS ap
        FROM classes
    )
    SELECT cls AS lang,
           CAST(tp AS BIGINT) AS tp,
           CAST(pp - tp AS BIGINT) AS fp,
           CAST(ap - tp AS BIGINT) AS fn,
           CAST(CASE WHEN pp = 0 THEN 0 ELSE tp * 1000000 // pp END AS BIGINT)
               AS precision_ppm,
           CAST(CASE WHEN ap = 0 THEN 0 ELSE tp * 1000000 // ap END AS BIGINT)
               AS recall_ppm,
           CAST(CASE WHEN pp + ap = 0 THEN 0
                     ELSE 2 * tp * 1000000 // (pp + ap) END AS BIGINT) AS f1_ppm
    FROM prf
    """,
)
def nb_per_class_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language precision / recall / F1 of the naive-Bayes language
    identifier, in exact ppm from the confusion-matrix marginals —
    where the single accuracy (and kappa) numbers hide which MINORITY
    class the classifier sacrifices. F1 = 2·tp/(pp+ap) stays pure
    integer division; zero-support classes report 0 by convention.

    Scale shape: rides the NB confusion matrix; everything after is
    |langs|-sized marginal algebra.
    """
    conf = QUERIES["naive_bayes_lang_confusion"](spark, sf_dir)
    ap = conf.groupBy(F.col("true_lang").alias("lang")).agg(
        F.sum("n_docs").cast("long").alias("ap")
    )
    pp = conf.groupBy(F.col("pred_lang").alias("lang")).agg(
        F.sum("n_docs").cast("long").alias("pp")
    )
    tp = (
        conf.filter(F.col("true_lang") == F.col("pred_lang"))
        .groupBy(F.col("true_lang").alias("lang"))
        .agg(F.sum("n_docs").cast("long").alias("tp"))
    )
    prf = (
        ap.join(pp, "lang", "full")
        .join(tp, "lang", "left")
        .select(
            "lang",
            F.coalesce("tp", F.lit(0)).cast("long").alias("tp"),
            F.coalesce("pp", F.lit(0)).cast("long").alias("pp"),
            F.coalesce("ap", F.lit(0)).cast("long").alias("ap"),
        )
    )
    return prf.select(
        "lang",
        "tp",
        (F.col("pp") - F.col("tp")).cast("long").alias("fp"),
        (F.col("ap") - F.col("tp")).cast("long").alias("fn"),
        F.when(F.col("pp") == 0, 0)
        .otherwise(F.expr("tp * 1000000L div pp"))
        .cast("long")
        .alias("precision_ppm"),
        F.when(F.col("ap") == 0, 0)
        .otherwise(F.expr("tp * 1000000L div ap"))
        .cast("long")
        .alias("recall_ppm"),
        F.when(F.col("pp") + F.col("ap") == 0, 0)
        .otherwise(F.expr("2 * tp * 1000000L div (pp + ap)"))
        .cast("long")
        .alias("f1_ppm"),
    )


@query(
    "dispersion_index_daily",
    oracle="""
    WITH pts AS (
        SELECT event_type,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        FROM events
    ), bounds AS (
        SELECT MIN(day) AS lo, MAX(day) AS hi FROM pts
    ), grid AS (
        SELECT et.event_type, g.day
        FROM (SELECT DISTINCT event_type FROM pts) et,
             (SELECT unnest(generate_series(lo, hi)) AS day FROM bounds) g
    ), daily AS (
        SELECT g.event_type, g.day, CAST(COUNT(p.day) AS BIGINT) AS x
        FROM grid g LEFT JOIN pts p
          ON p.event_type = g.event_type AND p.day = g.day
        GROUP BY g.event_type, g.day
    ), mo AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n, s,
           CAST((CAST(n AS HUGEINT) * sxx - CAST(s AS HUGEINT) * s) * 1000000
                // ((n - 1) * CAST(n AS HUGEINT) * s) AS BIGINT)
               AS dispersion_ppm
    FROM mo
    """,
)
def dispersion_index_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index of dispersion (variance-to-mean ratio) of the zero-filled
    daily count series per event type, in exact ppm — the Poisson
    sanity check: ≈10⁶ means Poisson-like arrivals, ≫10⁶ means bursty/
    overdispersed traffic (negative-binomial territory — alerting
    thresholds calibrated on Poisson will cry wolf), ≪10⁶ means
    suspiciously regular (synthetic or rate-limited). Var/mean =
    (n·Σx² − (Σx)²)·10⁶ ÷ ((n−1)·n·x̄·…) — entirely 128-bit integer
    arithmetic via the sample-variance identity; no float moments.

    Scale shape: the per-type day grid collapse (shared
    `zero_filled_daily_grid` shape) then a |types|-row moment agg.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark_movie_recommender_spark.operators.timeseries import (
        epoch_day,
        zero_filled_daily_grid,
    )

    pts = ev.select("event_type", epoch_day("ts").alias("day")).withColumn(
        "hit", F.lit(1)
    )
    daily = zero_filled_daily_grid(
        pts, F.count("hit").cast("long"), keys=["event_type"]
    )
    mo = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    num = (
        F.col("n").cast("decimal(38,0)") * F.col("sxx")
        - F.col("s").cast("decimal(38,0)") * F.col("s")
    ) * 1000000
    den = (
        (F.col("n") - 1).cast("decimal(38,0)")
        * F.col("n").cast("decimal(38,0)")
        * F.col("s")
    )
    return mo.select(
        "event_type",
        "n",
        "s",
        # decimal quotient truncates toward zero on cast; values are
        # positive so this matches DuckDB's integer //
        (num / den).cast("long").alias("dispersion_ppm"),
    )


# ---------------------------------------------------------------------------
# wave 74: bootstrap uplift CI, capture-recapture estimation
# ---------------------------------------------------------------------------


@query(
    "bootstrap_uplift_ci",
    oracle="""
    WITH m AS (
        SELECT event_id,
               ((user_id * 2654435761) % 4294967296) % 2 AS arm,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ), w AS (
        SELECT b.b, m.arm, m.cents,
               ((m.event_id * 2654435761 + b.b * 40503) % 4294967296) % 3 AS wt
        FROM m, (SELECT unnest(generate_series(0, 99)) AS b) b
    ), means AS (
        SELECT b,
               CAST(SUM(CASE WHEN arm = 0 THEN wt * cents ELSE 0 END) AS BIGINT)
                   AS num0,
               CAST(SUM(CASE WHEN arm = 0 THEN wt ELSE 0 END) AS BIGINT) AS den0,
               CAST(SUM(CASE WHEN arm = 1 THEN wt * cents ELSE 0 END) AS BIGINT)
                   AS num1,
               CAST(SUM(CASE WHEN arm = 1 THEN wt ELSE 0 END) AS BIGINT) AS den1
        FROM w GROUP BY b HAVING SUM(CASE WHEN arm = 0 THEN wt ELSE 0 END) > 0
                             AND SUM(CASE WHEN arm = 1 THEN wt ELSE 0 END) > 0
    ), uplifts AS (
        SELECT CAST(num1 AS DOUBLE) / den1 - CAST(num0 AS DOUBLE) / den0 AS u
        FROM means
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_resamples,
           ROUND(quantile_cont(u, 0.025), 4) AS uplift_lo,
           ROUND(quantile_cont(u, 0.5), 4) AS uplift_mid,
           ROUND(quantile_cont(u, 0.975), 4) AS uplift_hi
    FROM uplifts
    """,
)
def bootstrap_uplift_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap 95% CI for the A/B UPLIFT (arm-1 minus arm-0 mean
    purchase cents) under the deterministic hash-weight resampling of
    `bootstrap_ci_order_value` — the interval that answers 'is the
    treatment effect distinguishable from zero' without any normality
    assumption, completing the experimentation kit (SRM gate → CUPED
    point estimate → this uncertainty band). Each resample's per-arm
    means are exact BIGINT ratios; the uplift is two IEEE divisions and
    a subtract, and the CI is exact interpolated percentiles over 100
    engine-identical doubles.

    Scale shape: the ×100 fan-out is map-side; the resample agg carries
    4 BIGINTs per (resample, arm) with map-side partials; percentiles
    run over ≤100 rows.
    """
    ev = load_table(spark, sf_dir, "events")
    m = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        (((F.col("user_id") * 2654435761) % 4294967296) % 2).alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = m.select(
        "arm",
        "cents",
        F.explode(F.expr("sequence(0, 99)")).alias("b"),
        F.col("event_id"),
    ).select(
        "b",
        "arm",
        "cents",
        (
            ((F.col("event_id") * 2654435761 + F.col("b") * 40503) % 4294967296)
            % 3
        ).alias("wt"),
    )
    means = (
        w.groupBy("b")
        .agg(
            F.sum(F.when(F.col("arm") == 0, F.col("wt") * F.col("cents")).otherwise(0))
            .cast("long")
            .alias("num0"),
            F.sum(F.when(F.col("arm") == 0, F.col("wt")).otherwise(0))
            .cast("long")
            .alias("den0"),
            F.sum(F.when(F.col("arm") == 1, F.col("wt") * F.col("cents")).otherwise(0))
            .cast("long")
            .alias("num1"),
            F.sum(F.when(F.col("arm") == 1, F.col("wt")).otherwise(0))
            .cast("long")
            .alias("den1"),
        )
        .filter((F.col("den0") > 0) & (F.col("den1") > 0))
        .select(
            (
                F.col("num1").cast("double") / F.col("den1")
                - F.col("num0").cast("double") / F.col("den0")
            ).alias("u")
        )
    )
    return means.agg(
        F.count(F.lit(1)).cast("long").alias("n_resamples"),
        F.round(F.expr("percentile(u, 0.025D)"), 4).alias("uplift_lo"),
        F.round(F.expr("percentile(u, 0.5D)"), 4).alias("uplift_mid"),
        F.round(F.expr("percentile(u, 0.975D)"), 4).alias("uplift_hi"),
    )


@query(
    "capture_recapture_estimate",
    oracle="""
    WITH viewers AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
    ), clickers AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
    ), c AS (
        SELECT (SELECT COUNT(*) FROM viewers) AS na,
               (SELECT COUNT(*) FROM clickers) AS nb,
               (SELECT COUNT(*) FROM viewers v
                JOIN clickers k ON k.user_id = v.user_id) AS m,
               (SELECT COUNT(DISTINCT user_id) FROM events) AS truth
    )
    SELECT CAST(na AS BIGINT) AS n_sample_a,
           CAST(nb AS BIGINT) AS n_sample_b,
           CAST(m AS BIGINT) AS n_both,
           CAST((na + 1) * (nb + 1) // (m + 1) - 1 AS BIGINT) AS chapman_estimate,
           CAST(truth AS BIGINT) AS true_population
    FROM c
    """,
)
def capture_recapture_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture (Chapman) population estimate: treat viewers
    and clickers as two independent 'capture' samples of the active
    user population and estimate its TOTAL size from their overlap,
    N̂ = (n_a+1)(n_b+1)/(m+1) − 1 — the mark-recapture estimator data
    teams use to answer 'how much did we NOT see' (residual duplicates
    after a dedup pass, uncrawled hosts, unmatched entities) without a
    census. The true distinct-user count ships alongside so the
    fixture itself shows the estimator's bias when the independence
    assumption bends. All integer arithmetic.

    Scale shape: two distinct-collapses and one user-keyed semi-overlap
    count; the estimator is constant algebra on three scalars.
    """
    ev = load_table(spark, sf_dir, "events")
    viewers = ev.filter(F.col("event_type") == "view").select("user_id").distinct()
    viewers = _ckpt(viewers)  # shared fan-out relation
    clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    clickers = _ckpt(clickers)  # shared fan-out relation
    na = viewers.agg(F.count(F.lit(1)).cast("long").alias("na"))
    nb = clickers.agg(F.count(F.lit(1)).cast("long").alias("nb"))
    m = viewers.join(clickers, "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    truth = ev.agg(F.countDistinct("user_id").cast("long").alias("truth"))
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(truth))
        .select(
            F.col("na").alias("n_sample_a"),
            F.col("nb").alias("n_sample_b"),
            F.col("m").alias("n_both"),
            F.expr("(na + 1) * (nb + 1) div (m + 1) - 1")
            .cast("long")
            .alias("chapman_estimate"),
            F.col("truth").alias("true_population"),
        )
    )


# ---------------------------------------------------------------------------
# wave 75: Shapley channel attribution
# ---------------------------------------------------------------------------


@query(
    "shapley_channel_attribution",
    bench=True,
    oracle="""
    WITH purchases AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), touches AS (
        SELECT user_id, ts, event_type FROM events
        WHERE event_type IN ('view', 'click', 'signup')
    ), flags AS (
        SELECT p.event_id,
               MAX(CASE WHEN t.event_type = 'view'   THEN 1 ELSE 0 END) AS fv,
               MAX(CASE WHEN t.event_type = 'click'  THEN 2 ELSE 0 END) AS fc,
               MAX(CASE WHEN t.event_type = 'signup' THEN 4 ELSE 0 END) AS fs
        FROM purchases p LEFT JOIN touches t
          ON t.user_id = p.user_id
         AND t.ts <= p.ts AND t.ts > p.ts - INTERVAL 3 DAY
        GROUP BY p.event_id
    ), tcounts AS (
        SELECT fv + fc + fs AS t, CAST(COUNT(*) AS BIGINT) AS n
        FROM flags GROUP BY 1
    ), coalitions AS (
        SELECT unnest(generate_series(0, 7)) AS s
    ), v AS (
        SELECT c.s, CAST(COALESCE(SUM(tc.n), 0) AS BIGINT) AS val
        FROM coalitions c LEFT JOIN tcounts tc
          ON (tc.t & c.s) = tc.t AND tc.t <> 0
        GROUP BY c.s
    ), shapley_terms AS (
        SELECT ch.bit, ch.name, sub.s AS s0, w.w
        FROM (VALUES (1, 'view'), (2, 'click'), (4, 'signup')) ch(bit, name),
             (SELECT unnest(generate_series(0, 7)) AS s) sub,
             LATERAL (SELECT CASE
                 WHEN bit_count(CAST(sub.s AS BIGINT)) = 0 THEN 2
                 WHEN bit_count(CAST(sub.s AS BIGINT)) = 1 THEN 1
                 ELSE 2 END AS w) w
        WHERE (sub.s & ch.bit) = 0
    ), phi AS (
        SELECT st.name,
               CAST(SUM(st.w * (v1.val - v0.val)) AS BIGINT) AS phi6
        FROM shapley_terms st
        JOIN v v0 ON v0.s = st.s0
        JOIN v v1 ON v1.s = (st.s0 | st.bit)
        GROUP BY st.name
    ), tot AS (
        SELECT SUM(phi6) AS t6 FROM phi
    )
    SELECT name AS channel, phi6,
           CAST(CASE WHEN t6 = 0 THEN 0
                     ELSE phi6 * 1000000 // t6 END AS BIGINT) AS share_ppm
    FROM phi, tot
    """,
)
def shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value attribution over the three touch channels
    (view / click / signup in the 3 days before each purchase) — the
    game-theoretically fair credit split that linear and time-decay
    attribution approximate. Coalition value v(S) = purchases whose
    whole touch set lies inside S; with 3 players the ordering weights
    {2,1,1,2}/6 make 6·φ_c a pure INTEGER combination of coalition
    counts, so Shapley values are hash-exact BIGINTs (reported as φ·6
    plus the ppm share; Σ6φ = v(full) by efficiency — test-pinned).

    Scale shape: the only data-sized work is ONE pass over the events
    relation — a per-user range-frame window collapses each purchase's
    trailing 3 days into a 3-bit touch mask with no purchase x touch
    pair relation at any scale; everything after runs on the 8-row
    coalition lattice (subset sums via bitmask joins) and a 12-row
    Shapley-term table. Adding a 4th channel doubles the lattice, not
    the data cost.
    """
    ev = load_table(spark, sf_dir, "events")
    # Round 9: the purchase x touch PAIR relation is never needed — only
    # a per-purchase running max of three channel indicators over the
    # trailing 3 days. A range-frame window per user computes that
    # directly: ONE events scan (the legacy range join scanned events
    # twice — purchases + touches branches — and materialized
    # |touches-in-3d| rows per purchase before collapsing them; a hot
    # user makes that quadratic, and no AQE rule can split a single
    # key's pair stream). Frame bounds are exact in MICROSECONDS (ts is
    # timestamp[us]): tts > pts - 3d  <=>  unix_micros(tts) >=
    # unix_micros(pts) - 3d_us + 1, and the upper bound 0 gives
    # tts <= pts including same-microsecond peers (RANGE includes
    # ties), identical to the join predicates. The purchase anchor row
    # sits in its own frame with indicator 0, so empty-touch purchases
    # read (0,0,0) exactly like the left join's unmatched rows.
    # Interleaved A/B: 0.954x sf0.1 (n=5); sf1 1.06/1.09x (n=3/n=5) —
    # local wash (the legacy side broadcasts purchases locally, hiding
    # its exchange+sort); kept for the single-scan / no-pair-stream
    # shape, pinned by tests/test_plans.py::
    # test_shapley_mask_pass_single_exchange_no_join.
    rel = ev.filter(
        F.col("event_type").isin("view", "click", "signup", "purchase")
    ).select("event_id", "user_id", "ts", "event_type")
    # ts is TIMESTAMP_NTZ; the session timezone is pinned UTC
    # (session.py), so the cast to TIMESTAMP is the identity on the
    # wall-clock fields and unix_micros is an exact monotonic int64
    uw = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-(3 * 86400 * 1000000) + 1, 0)
    )
    flags = (
        rel.select(
            "event_id",
            "user_id",
            "event_type",
            F.max(
                F.when(F.col("event_type") == "view", 1).otherwise(0)
            ).over(uw).alias("fv"),
            F.max(
                F.when(F.col("event_type") == "click", 2).otherwise(0)
            ).over(uw).alias("fc"),
            F.max(
                F.when(F.col("event_type") == "signup", 4).otherwise(0)
            ).over(uw).alias("fs"),
        )
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "event_id", "fv", "fc", "fs")
    )
    # ckpt the <=8-row mask census: everything downstream consumes it
    # through FOUR plan branches (v appears as v0 and v1 in phi, and
    # phi again under the efficiency total) — without materialization
    # each branch re-executes the fact-sized mask window pass
    tcounts = (
        flags.select((F.col("fv") + F.col("fc") + F.col("fs")).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .transform(_ckpt)
    )
    coalitions = spark.range(0, 8).select(F.col("id").cast("int").alias("s"))
    v = (
        coalitions.join(
            F.broadcast(tcounts),
            F.expr("(t & s) = t AND t <> 0"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("val"))
    )
    ch = spark.createDataFrame(
        [(1, "view"), (2, "click"), (4, "signup")], "bit int, name string"
    )
    terms = (
        ch.crossJoin(coalitions.withColumnRenamed("s", "s0"))
        .filter(F.expr("(s0 & bit) = 0"))
        .select(
            "bit",
            "name",
            "s0",
            F.when(F.expr("bit_count(s0)") == 0, 2)
            .when(F.expr("bit_count(s0)") == 1, 1)
            .otherwise(2)
            .alias("w"),
        )
    )
    phi = (
        terms.join(
            F.broadcast(v.select(F.col("s").alias("s0"), F.col("val").alias("v0"))),
            "s0",
        )
        .join(
            F.broadcast(v.select(F.col("s").alias("s1"), F.col("val").alias("v1"))),
            F.expr("s1 = (s0 | bit)"),
        )
        .groupBy("name")
        .agg(F.sum(F.col("w") * (F.col("v1") - F.col("v0"))).cast("long").alias("phi6"))
    )
    tot = phi.agg(F.sum("phi6").alias("t6"))
    return phi.crossJoin(F.broadcast(tot)).select(
        F.col("name").alias("channel"),
        "phi6",
        F.when(F.col("t6") == 0, 0)
        .otherwise(F.expr("phi6 * 1000000L div t6"))
        .cast("long")
        .alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# wave 76: forecast evaluation, duplicate-payment rule
# ---------------------------------------------------------------------------
