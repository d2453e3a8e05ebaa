"""Similarity search over embedding columns (ARRAY<FLOAT>).

Three tiers:

- ``cosine_topk_bruteforce`` — exact top-k for a (small) probe set:
  broadcast the probes, scan the corpus once, per-partition top-k heap
  via ORDER BY + LIMIT-per-group. The correctness baseline; also the
  right plan when |probes| is small (probe-broadcast beats any index
  until probe count ~ corpus/1e3).
- ``lsh_neardup_pairs`` — random-hyperplane LSH (cosine): sign-bit
  sketches bucketed by bands; sub-quadratic all-pairs candidates.
- ``ivf_topk`` — IVF-style two-stage search: k-means-lite centroids
  (deterministic seeded sample), assign corpus to nearest centroid
  (one pass), probe only the 4 nearest of 16 cells. The 100 TB path
  for large probe sets.

Vector math on hot paths is Arrow-batched NumPy (``cosine_arrow``) —
nested-lambda HOFs (zip_with/aggregate) evaluate interpreted in Spark,
which is a 10-50× cliff on candidate-verify loops. The HOF forms in
``functions`` remain as the oracle-checkable SQL spec.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from pyspark_movie_recommender_spark.functions import cosine_sim  # noqa: F401 — SQL spec twin of cosine_arrow

from pyspark_movie_recommender_spark.driver_scalar import bounded_collect


def _as_double(col):
    return F.col(col).cast("array<double>") if isinstance(col, str) else col.cast("array<double>")


def cosine_arrow():
    """Arrow-batched exact cosine over two ARRAY<DOUBLE> columns.

    Nested-lambda HOFs (``aggregate``/``zip_with``) run interpreted, not
    codegen'd — on a candidate-verify hot path that is a 10-50× cliff.
    One NumPy matmul per Arrow batch is the scale-correct shape; the
    HOF form in ``functions.cosine_sim`` stays as the SQL-checkable spec.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        ma = np.stack(a.to_numpy())
        mb = np.stack(b.to_numpy())
        num = np.einsum("ij,ij->i", ma, mb)
        den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        return pd.Series(num / den)

    return _cos


def cosine_topk_bruteforce(corpus: DataFrame, probes: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k neighbours for each probe (excluding
    self-matches); corpus and probes are ``(vec_id, embedding)`` rows.

    Plan shape: probes broadcast → BroadcastNestedLoopJoin (corpus
    scanned once, no shuffle of the corpus) → per-probe top-k via
    row_number window over (probe_id), which shuffles only
    |probes| * |corpus-partition top-k| rows.

    The similarity is rounded to 6 decimals BEFORE ranking so that rank
    order is reproducible across engines/summation orders (ties break
    by neighbour id).
    """
    p = probes.select(
        F.col("vec_id").alias("probe_id"), _as_double("embedding").alias("__pv")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("__cv")
    )
    sim = F.round(cosine_arrow()(F.col("__pv"), F.col("__cv")), 6)
    scored = (
        c.crossJoin(F.broadcast(p))
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", sim.alias("sim"))
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", "sim", "rnk")
    )


def _hyperplanes(dim: int, bits: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes, seed 42 (driver-side
    constants).

    Tiny (bits x dim doubles) — shipped in the plan as literals, the
    moral equivalent of a broadcast variable.
    """
    import random

    rng = random.Random(42)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def band_bucket_udf(dim: int, bits: int):
    """Arrow-batched sketch: sign bits via one NumPy matmul, packed into
    one integer bucket per band (8 bands of ``bits / 8`` bits).

    The (bits x dim) plane matrix is a closure constant (~24 KB — the
    moral equivalent of a broadcast variable, shipped once per task, not
    per row). Replaces a 3000-literal expression tree that cost ~8 s of
    driver-side analysis per query and evaluated interpreted per row;
    the matmul form is BLAS-vectorized per Arrow batch, which is the
    100 TB-correct shape for dense projections.
    """
    from pyspark.sql.functions import pandas_udf

    bands = 8
    planes = np.array(_hyperplanes(dim, bits))  # (bits, dim)
    rows_per_band = bits // bands
    weights = 1 << np.arange(rows_per_band, dtype=np.int64)

    @pandas_udf("array<long>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(vecs.to_numpy())  # (n, dim)
        signs = (m @ planes.T) >= 0  # (n, bits)
        packed = [
            signs[:, b * rows_per_band : (b + 1) * rows_per_band] @ weights
            for b in range(bands)
        ]  # bands x (n,)
        out = np.stack(packed, axis=1)  # (n, bands)
        return pd.Series(list(out))

    return _buckets


def lsh_neardup_pairs(
    df: DataFrame, dim: int = 64, bits: int = 32, cos_threshold: float = 0.8
) -> DataFrame:
    """All-pairs near-duplicate candidates over ``(vec_id, embedding)``
    via random-hyperplane LSH, verified with exact cosine on the
    candidates only.

    Sub-quadratic: pairs meet only when a whole band of sign bits (8
    bands of ``bits / 8``) matches. Returns (id_a, id_b, cos_sim) with
    id_a < id_b and cos_sim >= threshold.
    """
    from pyspark_movie_recommender_spark.operators.cache import track

    buckets = band_bucket_udf(dim, bits)
    v = df.select(F.col("vec_id").alias("id"), _as_double("embedding").alias("v"))
    # Band join and pair-dedup shuffle ONLY (id, band, bucket) — never
    # the vectors. At 100 TB the candidate set dwarfs the corpus, so a
    # wide row through explode+join+distinct is the difference between
    # shuffling ~16 bytes/candidate and ~0.5 KB/candidate. Vectors are
    # re-attached to the deduped pairs with two narrow hash joins.
    # Both sides of the self-join read the sketch; tracked persist =
    # compute the sketch UDF once, releasable via cache.release_all()
    banded = track(
        v.select("id", F.posexplode(buckets(F.col("v"))).alias("band", "bucket"))
    )
    a = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    pairs = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    cand = pairs.join(
        v.select(F.col("id").alias("id_a"), F.col("v").alias("va")), "id_a"
    ).join(v.select(F.col("id").alias("id_b"), F.col("v").alias("vb")), "id_b")
    return (
        cand.withColumn(
            "cos_sim", F.round(cosine_arrow()(F.col("va"), F.col("vb")), 6)
        )
        .filter(F.col("cos_sim") >= cos_threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def ivf_topk(corpus: DataFrame, probes: DataFrame) -> DataFrame:
    """IVF-style approximate top-5 over ``(vec_id, embedding)`` rows:
    partition the corpus into 16 Voronoi cells around sampled centroids,
    search only the ``nprobe`` = 4 cells nearest each probe.

    Centroids = deterministic sample of corpus vectors (cheap k-means
    substitute that needs no iteration — good enough for cell routing).
    Corpus assignment is one scan; the probe search joins on cell id, so
    the per-probe work drops by ~n_cells/nprobe versus brute force.

    Cell assignment is MAP-SIDE: the n_cells centroid vectors are
    collected once (a tiny driver-side scalar, like ALS's RMSE — NOT a
    hot-path collect) and shipped as a pandas-UDF closure constant, so
    each corpus vector's nearest cell is one row of a per-batch NumPy
    matmul with no shuffle between the corpus scan and the cell join.
    (The previous form ranked a corpus×centroids cross join with a
    window partitioned by the per-row-unique id — a full shuffle of the
    corpus, vectors included, to compute a per-row argmax.)
    """
    from pyspark.sql.functions import pandas_udf

    k, n_cells, nprobe = 5, 16, 4
    # deterministic centroid sample: ~n_cells vectors, driver-side once
    # driver-scalar contract: k-bounded by construction (limit(n_cells))
    cent_rows = bounded_collect(
        corpus.select(F.col("vec_id").alias("cid"), _as_double("embedding").alias("cv"))
        .withColumn("h", F.xxhash64(F.col("cid"), F.lit(42)))
        .orderBy("h")
        .limit(n_cells)
        .orderBy("cid"),  # cell id = rank of centroid's vec_id (stable)
        n_cells,
        "similarity.ivf_centroids",
    )
    cmat = np.stack([np.asarray(r.cv, dtype=np.float64) for r in cent_rows])
    cnorm = np.linalg.norm(cmat, axis=1)

    def top_cells_udf(topn: int):
        @pandas_udf("array<int>")
        def _top(vs: pd.Series) -> pd.Series:
            if len(vs) == 0:
                return pd.Series([], dtype=object)
            m = np.stack(vs.to_numpy())
            sims = (m @ cmat.T) / (
                np.linalg.norm(m, axis=1)[:, None] * cnorm[None, :]
            )
            # stable argsort on -sim: ties break by centroid order (cell asc)
            idx = np.argsort(-sims, axis=1, kind="stable")[:, :topn]
            return pd.Series(list((idx + 1).astype(np.int32)))

        return _top

    c = corpus.select(F.col("vec_id").alias("neighbor_id"), _as_double("embedding").alias("nv"))
    # coalesce with a literal makes `cell` provably non-null, so the join
    # does NOT infer an isnotnull(cell) filter — which would re-evaluate
    # the argmax UDF a second time over the whole corpus scan
    assigned = c.withColumn(
        "cell", F.coalesce(F.element_at(top_cells_udf(1)(F.col("nv")), 1), F.lit(-1))
    )
    p = probes.select(F.col("vec_id").alias("probe_id"), _as_double("embedding").alias("pv"))
    probed = p.withColumn(
        "cell", F.explode(top_cells_udf(nprobe)(F.col("pv")))
    )

    scored = (
        # probes are small by definition in ANN search — broadcast them so
        # the corpus is never shuffled for the cell join
        assigned.join(F.broadcast(probed), on="cell")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select(
            "probe_id",
            "neighbor_id",
            F.round(cosine_arrow()(F.col("pv"), F.col("nv")), 6).alias("sim"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
        .select("probe_id", "neighbor_id", "sim", "rnk")
    )


def kmeans_assign(
    corpus: DataFrame, centroid_ids: list[int], top2: bool = False
) -> DataFrame:
    """One Lloyd ASSIGNMENT step of k-means over the ``embedding`` column
    of ``(vec_id, embedding)`` rows, with centroids fixed to named corpus
    vectors (``centroid_ids``) so the step is deterministic and
    cross-engine checkable.

    Returns ``(vec_id, cell, sim_ppm)`` — each vector's nearest
    centroid by cosine (ties break to the lowest cell index) and the
    similarity as exact ppm (``round(cos*1e6)`` BIGINT, so downstream
    aggregation is integer arithmetic, immune to summation order).

    Scale shape: the k centroid vectors are collected once (tiny
    driver-side scalar, like ALS's RMSE) and shipped as a pandas-UDF
    closure constant; assignment is one NumPy matmul per Arrow batch —
    MAP-SIDE, zero shuffles, same regime as ``ivf_topk``'s cell
    routing. Iterating Lloyd = re-calling this with recomputed means;
    each round stays one scan + one tiny agg.

    With ``top2=True`` returns ``(vec_id, cell, a_dist, b_dist)``
    instead: the ppm cosine DISTANCES (1e6 − sim_ppm) to the nearest
    and second-nearest centroid (ties to the lower cell) — the exact
    integer inputs the centroid-silhouette quality metric needs.
    """
    from pyspark.sql.functions import pandas_udf

    # driver-scalar contract: k-bounded by the caller's centroid id list
    cent_rows = bounded_collect(
        corpus.filter(F.col("vec_id").isin(*centroid_ids))
        .select(F.col("vec_id").alias("cid"), _as_double("embedding").alias("cv"))
        .orderBy("cid"),
        len(centroid_ids),
        "similarity.kmeans_centroids",
    )
    # cell index = rank of the centroid's id in sorted order (0-based)
    cmat = np.stack([np.asarray(r.cv, dtype=np.float64) for r in cent_rows])
    cnorm = np.linalg.norm(cmat, axis=1)

    @pandas_udf("struct<cell: int, sim_ppm: bigint>")
    def _assign(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"cell": [], "sim_ppm": []})
        m = np.stack(vs.to_numpy())
        sims = (m @ cmat.T) / (
            np.linalg.norm(m, axis=1)[:, None] * cnorm[None, :]
        )
        # round BEFORE argmax so ties resolve identically to the oracle's
        # ORDER BY sim_ppm DESC, cell ASC
        ppm = np.round(sims * 1e6)
        best = np.argmax(ppm, axis=1)  # first max = lowest cell on ties
        return pd.DataFrame(
            {
                "cell": best.astype(np.int32),
                "sim_ppm": ppm[np.arange(len(best)), best].astype(np.int64),
            }
        )

    @pandas_udf("struct<cell: int, a_dist: bigint, b_dist: bigint>")
    def _assign2(vs: pd.Series) -> pd.DataFrame:
        if len(vs) == 0:
            return pd.DataFrame({"cell": [], "a_dist": [], "b_dist": []})
        m = np.stack(vs.to_numpy())
        sims = (m @ cmat.T) / (
            np.linalg.norm(m, axis=1)[:, None] * cnorm[None, :]
        )
        dist = (1e6 - np.round(sims * 1e6)).astype(np.int64)
        # stable argsort on distance: equal distances keep the lower
        # cell first (columns are in cell order), matching the oracle's
        # ORDER BY dist_ppm, cell
        order = np.argsort(dist, axis=1, kind="stable")
        rows = np.arange(len(m))
        return pd.DataFrame(
            {
                "cell": order[:, 0].astype(np.int32),
                "a_dist": dist[rows, order[:, 0]],
                "b_dist": dist[rows, order[:, 1]],
            }
        )

    if top2:
        out = corpus.select(
            F.col("vec_id"), _assign2(_as_double("embedding")).alias("a")
        )
        return out.select(
            "vec_id",
            F.col("a.cell").alias("cell"),
            F.col("a.a_dist").alias("a_dist"),
            F.col("a.b_dist").alias("b_dist"),
        )

    out = corpus.select(
        F.col("vec_id"), _assign(_as_double("embedding")).alias("a")
    )
    return out.select("vec_id", F.col("a.cell").alias("cell"), F.col("a.sim_ppm").alias("sim_ppm"))
