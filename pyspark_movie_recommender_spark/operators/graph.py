"""Graph operators for dedup pipelines: near-dup pairs → clusters.

A dedup pipeline is only done once pairs become clusters and each
cluster picks a canonical row: pairs (MinHash/SimHash/Jaccard) are
edges, connected components give cluster ids, ``min(id)`` per component
is the keeper. The reference has no graph surface at all (SURVEY.md §2);
this is north-star pipeline infrastructure.

Two algorithms, same contract (returns (id, component) with component =
min reachable vertex id):

- ``connected_components`` — iterative min-label propagation; one
  shuffle per round, converges in O(diameter) rounds. The right choice
  for near-dup graphs (unions of small dense clusters, diameter ≲ 3).
  Raises if the graph doesn't converge within ``max_rounds`` rather than
  silently returning wrong labels.
- ``connected_components_star`` — alternating large-star/small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14): converges in O(log² n) rounds regardless of diameter, so
  adversarial long chains can't blow the round budget.

Every loop here truncates lineage once per round through
``operators.lineage.ckpt``: an eager ``localCheckpoint`` locally, a
reliable checkpoint when ``SPARK_GRAFT_CHECKPOINT_DIR`` is set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark_movie_recommender_spark.driver_scalar import scalar_row
from pyspark_movie_recommender_spark.operators.lineage import ckpt


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 20,
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    Returns (id, component) with component = min vertex id reachable.
    Driver-coordinated iteration (like ALS training): one Spark job per
    round to evaluate the convergence predicate. Raises ``RuntimeError``
    if labels are still changing after ``max_rounds`` — unconverged
    labels are silently-wrong cluster assignments; long-diameter graphs
    should use :func:`connected_components_star` instead.
    """
    bi = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    labels = ckpt(
        bi.select(F.col("u").alias("id")).distinct().withColumn("label", F.col("id"))
    )

    for _ in range(max_rounds):
        nbr = (
            bi.join(labels, bi.v == labels.id)
            .groupBy("u")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = ckpt(
            labels.join(nbr, labels.id == nbr.u, "left").select(
                "id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} rounds "
            "(graph diameter exceeds the round budget); use "
            "connected_components_star, which needs O(log^2 n) rounds"
        )

    return labels.select("id", F.col("label").alias("component"))


def connected_components_star(edges: DataFrame, max_rounds: int = 25) -> DataFrame:
    """Connected components of an ``(id_a, id_b)`` edge list by
    alternating large-star/small-star.

    Each round rewires edges toward the per-neighborhood minimum:
    large-star hangs every larger neighbor of u under min(Γ(u) ∪ {u});
    small-star does the same for the smaller neighbors. The edge set
    monotonically contracts to one star per component rooted at the
    component minimum, in O(log² n) rounds for ANY topology (Kiveris et
    al., SoCC'14) — the defense against adversarial long chains where
    label propagation needs O(diameter) rounds.

    Edges are kept as (child > parent) pairs; the fixpoint test is a
    single-pass count+checksum aggregate per round (no extra join): XOR
    of per-edge hashes — order-insensitive, overflow-free under ANSI,
    and exact on the distinct edge set up to a 2⁻⁶⁴-ish collision
    probability, negligible next to hardware fault rates.
    """

    def star(e: DataFrame, large: bool) -> DataFrame:
        # neighborhood view: (u, v) in both directions
        nbrs = e.select(
            F.col("child").alias("u"), F.col("parent").alias("v")
        ).unionByName(
            e.select(F.col("parent").alias("u"), F.col("child").alias("v"))
        )
        m = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        j = nbrs.join(m, "u")
        if large:
            out = j.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("child"), F.col("m").alias("parent")
            )
        else:
            out = (
                j.filter(F.col("v") < F.col("u"))
                .select(F.col("v").alias("child"), F.col("m").alias("parent"))
                .unionByName(
                    m.select(F.col("u").alias("child"), F.col("m").alias("parent"))
                )
            )
        return out.filter(F.col("child") != F.col("parent")).distinct()

    e = ckpt(
        edges.select(
            F.greatest(F.col("id_a"), F.col("id_b")).alias("child"),
            F.least(F.col("id_a"), F.col("id_b")).alias("parent"),
        )
        .filter(F.col("child") != F.col("parent"))
        .distinct()
    )

    def fingerprint(df: DataFrame):
        row = scalar_row(
            df.agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("child", "parent")).alias("chk"),
            ),
            "graph.fingerprint",
        )
        return (row.n, row.chk)

    fp = fingerprint(e)
    for _ in range(max_rounds):
        e = ckpt(star(star(e, large=True), large=False))
        new_fp = fingerprint(e)
        if new_fp == fp:
            break
        fp = new_fp
    else:
        raise RuntimeError(
            f"connected_components_star did not converge within {max_rounds} "
            "rounds — beyond the O(log^2 n) bound; the edge input is likely "
            "pathological (check for self-loops or nulls)"
        )

    roots = e.select("parent").distinct().join(
        e.select(F.col("child").alias("parent")).distinct(), "parent", "left_anti"
    )
    return e.select(
        F.col("child").alias("id"), F.col("parent").alias("component")
    ).unionByName(
        roots.select(F.col("parent").alias("id"), F.col("parent").alias("component"))
    )


def dedup_keepers(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Rows of ``df`` that survive near-dup clustering of the
    ``(id_a, id_b)`` pairs: the min-id member of each component plus
    every row not in any pair."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def copurchase_pairs(li: DataFrame, min_support: int | None = None) -> DataFrame:
    """Distinct co-purchase part pairs ``(u, v, c)`` with ``u < v`` and
    ``c`` = number of orders containing both parts — the shared edge
    derivation of the co-purchase graph family (triangles, k-core, BFS,
    peeling, influence cascades, link prediction, market baskets).

    Round 9: basket-CENSUS form. ONE fact exchange (groupBy l_orderkey
    + collect_set with map-side partials dedups in-row) and pairs
    enumerated in-row from the sorted basket — C(k, 2) bounded by
    lines-per-order, never corpus size. Replaces the previous
    (l_orderkey, l_partkey)-DISTINCT exchange plus the items
    self-join's two orderkey exchanges at every call site (3 fact
    exchanges → 1; the same shape as the association_rules_parts and
    source_shingle_overlap censuses, plan-pinned there).
    """
    baskets = li.select("l_orderkey", "l_partkey").groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps)),"
                    " y -> struct(x AS u, y AS v))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if min_support is not None:
        pairs = pairs.filter(F.col("c") >= min_support)
    return pairs


def kcore_nodes(
    edges: DataFrame,
    k: int,
    src: str = "u",
    dst: str = "v",
    max_rounds: int = 30,
) -> DataFrame:
    """k-core decomposition by iterative peeling: repeatedly delete
    every vertex whose degree (within the surviving subgraph) is < k
    until none remains — the fixpoint is the maximal subgraph where
    every vertex has >= k neighbors. The standard graph-densification
    primitive (community cores, spam-farm detection, robust dedup
    clusters that survive losing a member).

    Returns (node, degree) for the surviving core, degree measured
    WITHIN the core. Deterministic: simultaneous deletion each round,
    so the fixpoint is unique and engine-independent — an unrolled
    SQL replay of the same rounds reaches the same set.

    Scale shape (same contract as connected_components): one degree
    aggregation + one semi-join per round over a NODE-keyed relation
    (edges are never rewritten, only filtered through the live-node
    semi-joins); rounds are O(peeling depth), capped by ``max_rounds``
    with a loud failure rather than silently-wrong cores. Lineage is
    truncated per round with ``ckpt``.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    live = ckpt(
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .distinct()
    )
    prev = live.count()
    for _ in range(max_rounds):
        alive_edges = e.join(
            live.withColumnRenamed("n", "u"), "u", "left_semi"
        ).join(live.withColumnRenamed("n", "v"), "v", "left_semi")
        deg = (
            alive_edges.select(F.col("u").alias("n"))
            .unionAll(alive_edges.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        # vertices with NO alive edge have degree 0 and die implicitly:
        # deg only lists endpoints of alive edges
        survivors = ckpt(deg.filter(F.col("d") >= k))
        cur = survivors.count()  # one action/round; ckpt already ran the job
        live = survivors.select("n")
        if cur == prev:
            return survivors.select(
                "n", F.col("d").cast("long").alias("degree")
            )
        prev = cur
    raise RuntimeError(
        f"k-core did not converge within {max_rounds} rounds"
    )


def bfs_hops(edges: DataFrame) -> DataFrame:
    """Breadth-first shortest hop counts, up to 4 hops, from the minimum
    vertex id of a ``(u, v)`` edge list; an empty edge list gives an
    empty ``(node, hops)`` frame.

    Frontier-expansion BFS over an undirected edge list (stored one
    direction, expanded to both): round h joins the hop-(h-1) frontier
    to the edges, anti-joins out already-visited nodes, and tags
    survivors with hop h — first visit IS the minimum hop count, so no
    per-node min needs recomputing. Driver-coordinated loop like the
    CC/PageRank operators: one join per round, at most 4 rounds,
    lineage truncated per round with ``ckpt``, early exit when a
    frontier empties.

    Scale shape: each round shuffles only frontier ∪ edges on the
    vertex key; ``visited`` grows monotonically but stays (node, hops)
    narrow. The oracle twin is DuckDB's recursive CTE with UNION-dedup
    termination.
    """
    und = edges.select("u", "v").union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )

    seed = scalar_row(und.agg(F.min("u").alias("seed")), "graph.bfs_seed")["seed"]
    if seed is None:  # no edges, no vertices
        return und.sparkSession.createDataFrame([], "node long, hops long")
    visited = und.sparkSession.createDataFrame(
        [(int(seed), 0)], "node long, hops long"
    )
    frontier = visited
    for h in range(1, 5):
        nxt = (
            frontier.join(und, frontier["node"] == und["u"])
            .select(und["v"].alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("long"))
        )
        nxt = ckpt(nxt)
        if nxt.isEmpty():
            break
        visited = ckpt(visited.union(nxt))
        frontier = nxt
    return visited
