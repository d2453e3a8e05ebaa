"""Deduplication operators for LLM training-data pipelines.

Six tiers, each with a different cost/recall point at 100 TB:

1. exact row/subset dedup — ``dropDuplicates`` (hash shuffle on the key);
2. content-hash dedup — md5/sha2 of normalized text, keep canonical row
   per hash via min-aggregation (one shuffle, no window sort needed);
3. exact Jaccard — character n-gram sets via shingle explode + equi-join
   on shared shingles (candidate pairs bounded by shared-shingle count),
   and word sets via prefix filtering (candidates from each document's
   rarest tokens only);
4. edit distance — prefix Levenshtein with (lang, length-bucket±1)
   blocking; a per-key census routes oversized blocks from the block
   join to a lossless PassJoin segment join;
5. MinHash + LSH banding — the sub-quadratic scale path: constant-size
   signature per doc, band-bucket equi-join, verify candidates only;
6. SimHash — 64-bit fingerprint; near-dups differ in few bits, bucketed
   by (max_hamming+1) bit chunks (pigeonhole-exact recall).

The exact forms (1-4) are DuckDB-oracle-checkable; the probabilistic
forms (5-6) are deterministic given fixed hash seeds but engine-specific,
so they get rows-only checks plus unit tests on planted duplicates.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark_movie_recommender_spark.functions import char_ngrams, fingerprint


def exact_dedup(df: DataFrame, subset: list[str] | None = None) -> DataFrame:
    """Exact duplicate removal — hash shuffle on the subset columns."""
    return df.dropDuplicates(subset)


def content_hash_dedup(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Keep the lowest-id row per normalized-content fingerprint.

    groupBy(min) instead of window+row_number: no per-group sort, and
    map-side partial aggregation collapses duplicates before the shuffle
    — at 100 TB with high dup rates that is most of the win.
    """
    fp = fingerprint(text_col).alias("__fp")
    keep = df.select(fp, F.col(id_col)).groupBy("__fp").agg(
        F.min(id_col).alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def shingle_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    max_shingle_df: int | None = None,
):
    """Shared candidate machinery for the exact-Jaccard family: returns
    (shared, sizes) where ``shared`` is (id_a, id_b, n_shared) from the
    shingle self-equi-join (df-capped when ``max_shingle_df`` is set)
    and ``sizes`` is (id, n_shingles) over the SAME filtered sets.
    Used by ngram_jaccard_pairs and the threshold-sweep report so both
    run the identical candidate pass.

    The (df-capped) exploded posting relation is MATERIALIZED at its
    fan-out point: three consumers (sizes, both self-join sides) would
    otherwise each re-execute the corpus scan + explode (+ the df-cap
    shuffle join) — a 3x fact re-read that dominates at corpus scale.
    One write + three reads of the postings beats three executions of
    the subtree that produces them."""
    from pyspark_movie_recommender_spark.operators.lineage import ckpt

    base = df.select(
        F.col(id_col).alias("id"), char_ngrams(text_col, n).alias("shingles")
    ).filter(F.size("shingles") > 0)
    exploded = base.select("id", F.explode("shingles").alias("shingle"))
    if max_shingle_df is not None:
        keep = (
            exploded.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_shingle_df)
            .select("shingle")
        )
        exploded = ckpt(exploded.join(keep, "shingle").select("id", "shingle"))
        sizes = exploded.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    else:
        exploded = ckpt(exploded)
        sizes = base.select("id", F.size("shingles").alias("n_shingles"))

    a = exploded.select(F.col("id").alias("id_a"), "shingle")
    b = exploded.select(F.col("id").alias("id_b"), "shingle")
    shared = (
        a.join(b, on="shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return shared, sizes


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard-similar pairs over character n-gram shingle sets.

    Distributed shape: explode distinct shingles → self-equi-join on
    shingle → count shared shingles per pair → Jaccard from
    |A∩B| / (|A|+|B|-|A∩B|). Candidate generation is driven by shared
    shingles, so disjoint documents never meet. Returns
    (id_a, id_b, jaccard) with id_a < id_b.

    ``max_shingle_df`` is the stop-shingle cap that makes this safe
    beyond sampling scale: a shingle present in d documents contributes
    C(d, 2) candidate pairs, so ONE boilerplate shingle shared by 1M
    docs is a 10¹²-pair bucket. Capping document frequency bounds every
    shingle's contribution at C(cap, 2); Jaccard is then computed over
    the FILTERED shingle sets (sizes included) so the measure stays
    internally consistent. The df-filter join keys on ``shingle`` — the
    same key as the candidate self-join — so its shuffle partitioning is
    reused, not added.

    At 100 TB the uncapped exact form is for verification/sampling; LSH
    (``minhash_lsh_pairs``) is the candidate generator.
    """
    shared, sizes = shingle_candidates(
        df, text_col, id_col, n=n, max_shingle_df=max_shingle_df
    )
    out = (
        shared.join(sizes.select(F.col("id").alias("id_a"), F.col("n_shingles").alias("size_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_shingles").alias("size_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("n_shared") / (F.col("size_a") + F.col("size_b") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def _lev_base(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    lang_col: str,
    len_col: str,
    bucket_size: int,
    prefix_len: int,
) -> DataFrame:
    """The narrow (doc_id, lang, bucket, prefix) projection that every
    edit-distance route blocks on and verifies."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(lang_col).alias("lang"),
        F.floor(F.col(len_col) / bucket_size).alias("bucket"),
        F.substring(text_col, 1, prefix_len).alias("prefix"),
    )


def _bucket_pm1(bucket: Column) -> Column:
    """Explode a length bucket to {bucket-1, bucket, bucket+1}, so pairs
    straddling a bucket boundary (e.g. lengths 49 vs 51) still meet."""
    return F.explode(F.array(bucket - 1, bucket, bucket + 1))


def _block_sides(base: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The two sides of the (lang, jbucket) block join over ``base``.

    The probe side explodes to bucket±1 and the build side keeps its
    single true bucket, so each unordered pair matches exactly one key;
    after ``left_id < right_id`` that key is the GREATER id's
    (lang, bucket), which makes it an exact routing unit. Every column
    besides doc_id/lang/bucket is carried with an ``_a`` / ``_b``
    suffix."""
    payload = [c for c in base.columns if c not in ("doc_id", "lang", "bucket")]
    a = base.select(
        F.col("doc_id").alias("left_id"),
        "lang",
        _bucket_pm1(F.col("bucket")).alias("jbucket"),
        *[F.col(c).alias(f"{c}_a") for c in payload],
    )
    b = base.select(
        F.col("doc_id").alias("right_id"),
        "lang",
        F.col("bucket").alias("jbucket"),
        *[F.col(c).alias(f"{c}_b") for c in payload],
    )
    return a, b


def _block_join(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.join(b, ["lang", "jbucket"]).filter(F.col("left_id") < F.col("right_id"))


def _verify(pairs: DataFrame, max_dist: int) -> DataFrame:
    """Exact verify of candidate pairs: the 3-arg
    ``levenshtein(l, r, threshold)`` (SPARK-44510) runs the banded
    early-abandon DP — O(len·max_dist) per pair instead of O(len²) —
    and returns -1 when the distance exceeds the bound."""
    return pairs.select(
        "left_id",
        "right_id",
        F.levenshtein("prefix_a", "prefix_b", max_dist)
        .cast("long")
        .alias("edit_distance"),
    ).filter(F.col("edit_distance") >= 0)


def _blocked_pairs(
    base: DataFrame, max_dist: int, probe_repartition: int | None = None
) -> DataFrame:
    """Block join + verify over a :func:`_lev_base` projection.

    ``probe_repartition``: the pair-enumeration + banded-DP stage is
    CPU-bound, but its parallelism follows the probe side's BYTE-sized
    partitioning: a broadcast-joined probe inherits the parquet scan's
    few input splits (and AQE coalesces shuffles by bytes, blind to the
    quadratic per-row fan-out downstream). A round-robin repartition of
    the narrow probe rows spreads the DP across the cluster — measured
    19.9s -> 9.7s at the sf1 profile on 32 cores. Set it ONLY when the
    corpus is hint-proven small enough that the build side broadcasts;
    on a corpus that shuffle-joins, the join's own key exchange already
    sets parallelism and the extra pass would be waste."""
    a, b = _block_sides(base)
    if probe_repartition:
        a = a.repartition(probe_repartition)
    return _verify(_block_join(a, b), max_dist)


def _passjoin_candidates(
    full: DataFrame, keys: DataFrame, prefix_len: int, max_dist: int
) -> DataFrame:
    """PassJoin candidate pairs (Li, Deng, Feng, PVLDB 2011) among the
    full-length prefixes of ``full`` whose (lang, jbucket) block is in
    ``keys``; returns distinct (left_id, right_id) with left_id < right_id.

    The pigeonhole: split one side's prefix into ``max_dist + 1``
    segments; ≤ max_dist edits can destroy at most max_dist of them, so
    at least one segment survives EXACTLY in any partner within
    distance, at a position shifted by at most max_dist. Candidates
    therefore come from an equi-join on (lang, bucket, segment index,
    segment content) between one side's exact segments (exploded to
    bucket±1) and the other side's substrings at the ±max_dist position
    window — never from enumerating whole blocks. Both explodes are
    constant fan-out per doc (27 segment keys, ~135 windowed substrings
    at the defaults), so candidate volume is driven by shared aligned
    segments, not by block population. Lossless: every pair within
    distance is a candidate, and :func:`_verify` then drops the rest.
    """
    nseg = max_dist + 1
    seg_len, rem = divmod(prefix_len, nseg)
    lens = [seg_len + 1 if i < rem else seg_len for i in range(nseg)]
    starts = [1 + sum(lens[:i]) for i in range(nseg)]

    def seg(i: int, pos: int) -> Column:
        return F.struct(
            F.lit(i).alias("i"), F.substring("prefix", pos, lens[i]).alias("c")
        )

    segs = [seg(i, starts[i]) for i in range(nseg)]
    # every position a surviving segment can land on after ≤ max_dist
    # insertions/deletions before it
    subs = [
        seg(i, p)
        for i in range(nseg)
        for p in range(
            max(1, starts[i] - max_dist),
            min(prefix_len - lens[i] + 1, starts[i] + max_dist) + 1,
        )
    ]

    def side(id_alias: str, bkt: Column, structs: list[Column]) -> DataFrame:
        return (
            full.select(
                F.col("doc_id").alias(id_alias), "lang", bkt.alias("bkt"), "prefix"
            )
            .join(
                F.broadcast(keys.select("lang", F.col("jbucket").alias("bkt"))),
                ["lang", "bkt"],
                "semi",
            )
            .select(id_alias, "lang", "bkt", F.inline(F.array(*structs)))
        )

    seg_side = side("id_s", _bucket_pm1(F.col("bucket")), segs)
    sub_side = side("id_w", F.col("bucket"), subs).distinct()
    return (
        seg_side.join(sub_side, ["lang", "bkt", "i", "c"])
        .where(F.col("id_s") != F.col("id_w"))
        .select(
            F.least("id_s", "id_w").alias("left_id"),
            F.greatest("id_s", "id_w").alias("right_id"),
        )
        .distinct()
    )


def blocked_levenshtein_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    len_col: str = "n_chars",
    bucket_size: int = 50,
    prefix_len: int = 40,
    max_dist: int = 8,
) -> DataFrame:
    """Edit-distance near-dup pairs with (lang, length-bucket) blocking:
    (left_id, right_id, edit_distance) for every same-lang pair in
    adjacent length buckets whose ``prefix_len``-char prefixes are
    within ``max_dist`` edits, left_id < right_id.

    The probe side explodes each doc to blocks {bucket-1, bucket,
    bucket+1} so pairs straddling a bucket boundary still meet — plain
    same-bucket blocking silently loses exactly those near-dups — and
    each unordered pair matches exactly one exploded key, so no
    pair-dedup is needed.

    Scale shape: one shuffle on the (lang, bucket) block key; pair count
    is sum of per-block ~3·C(n,2), never global C(n,2). The prefix cap
    and the banded verify bound each pair's cost. The within-block
    quadratic itself is bounded by :func:`adaptive_levenshtein_pairs`'
    per-key routing; this plain form is its small-key route and the
    reference the router is tested against.
    """
    base = _lev_base(docs, text_col, id_col, lang_col, len_col, bucket_size, prefix_len)
    return _blocked_pairs(base, max_dist)


def adaptive_levenshtein_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    len_col: str = "n_chars",
    bucket_size: int = 50,
    prefix_len: int = 40,
    max_dist: int = 8,
    block_cap: int = 40_000,
    row_hint: int | None = None,
) -> DataFrame:
    """Edit-distance near-dups with PER-KEY routing between the block
    join and the PassJoin segment join — BOUNDS the block join's
    within-block quadratic term instead of hoping blocks stay small.

    Same result set as :func:`blocked_levenshtein_pairs` (same lang /
    bucket±1 / prefix-levenshtein ≤ max_dist semantics, oracle
    hash-equal). The block join surfaces each unordered pair exactly
    once, at the join key (lang, bucket-of-the-GREATER-id doc) — so
    that key is the exact routing unit. A tiny (lang, bucket) census
    (one hash-agg over the corpus, rows bounded by |langs| ×
    length-range/bucket_size) classifies each key by its a-side
    population (the bucket±1 sum): keys at or under ``block_cap`` run
    the enumeration-cheap block join — per-key pair count ≤
    block_cap² — and oversized keys run :func:`_passjoin_candidates`,
    whose candidate volume is driven by shared aligned segments, not
    block population. All branches end in the same banded-DP verify.

    Measured basis for the default cap (round-5 crossover scan on
    forced block profiles, BENCH_NOTES_r05.md): block join vs
    PassJoin = 63s vs 88s at 10 blocks of 5k docs (a_pop~15k), 115s
    vs 107s at 5 blocks of 10k (a_pop~30k), >45 MINUTES (killed) vs
    316s at 2 blocks of 25k (a_pop~75k — key skew additionally
    collapses the block join's parallelism to the giant keys). The
    ROUTER itself costs ~40% at the boundary (end-to-end at a_pop~30k:
    149s routed vs 115s pure block — persist, census, the three-branch
    union), so the cap sits ABOVE the raw-path toss-up zone, at the
    point where PassJoin wins decisively even with router overhead.
    End-to-end receipts at the default cap: a_pop~15k routes block at
    67.9s (pure block 63-68s); a_pop~75k routes PassJoin at a
    MEASURED 279s (vs pure PassJoin 316s — the router's big-key doc
    restriction prunes the explode inputs — and vs >2700s block:
    a >=9.7x win), identical row counts throughout. At the natural sf1 profile
    (max block 2.4k, a_pop <= 7k) every key routes to the block join,
    preserving the measured-faster plan. At 100 TB this routing is
    what keeps the operator alive on corpora whose
    (lang, length-bucket) profile concentrates.

    Short-prefix docs (< prefix_len, where the fixed segment layout
    doesn't apply) pair via a short×block join on both routes; the
    short side is a corpus-dependent minority, so that term stays
    linear in |short| × block population.

    ``row_hint`` (round-6, same pattern as the LSH band width fix):
    a driver-known upper bound on the corpus row count — parquet
    footer metadata via ``table_row_hint``, or catalog statistics on
    a real cluster. A join key's a-side population can never exceed
    the total corpus, so ``row_hint <= block_cap`` proves no key is
    oversized WITHOUT running the census: plan construction triggers
    zero Spark jobs (plan dumps, audits, and every at-or-below-cap
    corpus stay job-free). Above the hint — or with no hint — the
    eager census aggregate runs (a priced cold-path
    action, ~0.3 s at sf0.1). When routing does engage, ``base`` is
    persisted via ``track`` for the branches' shared scans; the
    persist lives until the caller's session-level
    ``cache.release_all()`` (bench/tests) or executor-memory eviction
    — it is bounded by the projected (id, lang, bucket, prefix)
    width, not the full document width.
    """
    from pyspark_movie_recommender_spark.operators.cache import track
    from pyspark_movie_recommender_spark.operators.lineage import ckpt

    base = _lev_base(docs, text_col, id_col, lang_col, len_col, bucket_size, prefix_len)
    # ~1M rows of 40-char prefixes stays well under the broadcast
    # threshold, so a hint-proven corpus that small gets the probe
    # repartition (2x the cores; see _blocked_pairs)
    probe_par: int | None = None
    if row_hint is not None and row_hint <= 1_000_000:
        probe_par = docs.sparkSession.sparkContext.defaultParallelism * 2
    if row_hint is not None and row_hint <= block_cap:
        return _blocked_pairs(base, max_dist, probe_par)

    def a_pop(census: DataFrame) -> DataFrame:
        return (
            census.select("lang", _bucket_pm1(F.col("bucket")).alias("jbucket"), "n")
            .groupBy("lang", "jbucket")
            .agg(F.sum("n").alias("a_pop"))
        )

    # --- routing census: a-side population per join key -------------
    # one construction-time aggregate over the corpus, bounded output
    # (|langs| x length-range/bucket_size) — the same priced cold-path
    # pattern as rank.py's range-bucket boundaries. When NO key is
    # oversized (every profile seen at bench scales) the plan is
    # byte-identical to blocked_levenshtein_pairs: no persist, no
    # three-branch union, no broadcast semi-joins — the 1.8 s of
    # routing machinery measured at sf0.1 is paid only when it buys
    # a bounded quadratic.
    census0 = base.groupBy("lang", "bucket").agg(F.count(F.lit(1)).alias("n"))
    if a_pop(census0).filter(F.col("a_pop") > block_cap).limit(1).count() == 0:
        return _blocked_pairs(base, max_dist, probe_par)

    base = track(base.withColumn("short", F.length("prefix") < prefix_len))
    # tiny relation; ckpt materializes it once so small_keys/big_keys
    # and their broadcast semi-join consumers don't each rescan
    census = ckpt(census0)
    routes = census.select("lang", F.col("bucket").alias("jbucket")).join(
        a_pop(census), ["lang", "jbucket"]
    )
    small_keys = routes.filter(F.col("a_pop") <= block_cap).select("lang", "jbucket")
    big_keys = routes.filter(F.col("a_pop") > block_cap).select("lang", "jbucket")

    def in_keys(df: DataFrame, keys: DataFrame) -> DataFrame:
        return df.join(F.broadcast(keys), ["lang", "jbucket"], "semi")

    a_side, b_side = _block_sides(base)

    # --- branch 1: small keys, plain block join ----------------------
    small_pairs = _block_join(in_keys(a_side, small_keys), in_keys(b_side, small_keys))

    # --- branch 2: big keys, pairs involving a short prefix ---------
    # the a<b filter pins each pair to key bucket(greater id); the
    # short side of each sub-join keeps the enumeration linear in
    # |short docs| x block population
    a_big, b_big = in_keys(a_side, big_keys), in_keys(b_side, big_keys)
    big_short_pairs = _block_join(a_big.filter("short_a"), b_big).unionByName(
        _block_join(a_big.filter(~F.col("short_a")), b_big.filter("short_b"))
    )

    # --- branch 3: big keys, full-full pairs via PassJoin segments ---
    # pin the routing predicate: keep only pairs whose key — the
    # GREATER id's (lang, bucket) — is big (a pair discovered via the
    # lesser doc's big bucket belongs to branch 1 when the greater
    # doc's bucket is small, and to branch 2 when a side is short)
    cand = _passjoin_candidates(
        base.filter(~F.col("short")), big_keys, prefix_len, max_dist
    )
    prefix_a = base.select(
        F.col("doc_id").alias("left_id"), F.col("prefix").alias("prefix_a")
    )
    big_full_pairs = in_keys(cand.join(b_side, "right_id"), big_keys).join(
        prefix_a, "left_id"
    )

    return (
        _verify(small_pairs, max_dist)
        .unionByName(_verify(big_short_pairs, max_dist))
        .unionByName(_verify(big_full_pairs, max_dist))
    )


def minhash_signature_udf(n: int = 3, num_hashes: int = 64, seed: int = 42):
    """Arrow-batched MinHash: text → distinct char n-gram hashes →
    ``num_hashes`` universal rehashes → positionwise min, all NumPy.

    Base n-gram hash is an FNV-style wrapping polynomial over
    codepoints; the hash family is multiply-add in uint64 (wrapping
    multiplication is the point — no mod needed). One (shingles x
    num_hashes) broadcasted multiply per doc, BLAS-free but fully
    vectorized; at 100 TB the documents scan stays I/O-bound instead of
    burning cores in interpreted lambda evaluation.

    Returns a pandas UDF: (text: Series[str]) -> Series[list[int64]].
    Deterministic for a given (n, num_hashes, seed).
    """
    import random

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rng = random.Random(seed)
    A = np.array(
        [rng.randrange(1, 2**64, 2) for _ in range(num_hashes)], dtype=np.uint64
    )  # odd multipliers
    B = np.array([rng.randrange(0, 2**64) for _ in range(num_hashes)], dtype=np.uint64)
    FNV = np.uint64(1099511628211)

    @pandas_udf("array<long>")
    def _sig(texts: pd.Series) -> pd.Series:
        # Per-batch layout (round 9, guide §4.2): decode each string in
        # ONE call (utf-32-le buffer == the ord() codepoints), hash the
        # n-gram windows with shifted slices (no sliding_window_view
        # copy, no multiply on the first term), then run the
        # (num_hashes x distinct-shingles) rehash as num_hashes
        # VECTOR passes over the batch-concatenated distinct arrays
        # with a segment-min reduceat — same signatures bit-for-bit
        # (min over a*x+b is invariant to duplicates and to doc
        # boundaries respected by the segment starts), measured 2.3x
        # over the per-doc broadcast multiply, and the peak temp is one
        # batch-length uint64 row instead of a (hashes x shingles)
        # matrix.
        empty_sig = np.full(num_hashes, np.iinfo(np.int64).max, dtype=np.int64)
        uniqs: list[np.ndarray] = []
        idxs: list[int] = []
        with np.errstate(over="ignore"):
            for i, s in enumerate(texts):
                if s is None or len(s) < n:
                    continue
                cps = np.frombuffer(
                    s.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.uint64)
                m = len(cps) - n + 1
                h = cps[:m].copy()
                for j in range(1, n):  # wrapping FNV-ish polynomial
                    h = h * FNV ^ cps[j : m + j]
                uniqs.append(np.unique(h))  # distinct shingles
                idxs.append(i)
            if not uniqs:
                return pd.Series([empty_sig] * len(texts))
            lens = np.fromiter(
                (len(u) for u in uniqs), dtype=np.int64, count=len(uniqs)
            )
            starts = np.zeros(len(uniqs), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            allu = np.concatenate(uniqs)
            mins = np.empty((num_hashes, len(uniqs)), dtype=np.uint64)
            tmp = np.empty_like(allu)
            for r in range(num_hashes):
                np.multiply(allu, A[r], out=tmp)
                np.add(tmp, B[r], out=tmp)
                mins[r] = np.minimum.reduceat(tmp, starts)
            sigs = mins.astype(np.int64).T
        out: list[np.ndarray] = [empty_sig] * len(texts)
        for k, i in enumerate(idxs):
            out[i] = sigs[k]
        return pd.Series(out)

    return _sig


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """Sub-quadratic near-dup candidate pairs: shingle → MinHash → band →
    bucket-join → (optionally) verify with the estimated Jaccard.

    Scale shape: each doc contributes ``bands`` (band_id, band_hash) keys;
    candidates come from an equi-join on those keys — never a cross join.
    The MinHash estimate of Jaccard = fraction of matching signature
    positions; ``verify_threshold`` filters on it (set None to return raw
    candidates for a downstream exact verify).

    Returns (id_a, id_b, est_jaccard) with id_a < id_b, deduplicated
    across bands.
    """
    from pyspark_movie_recommender_spark.operators.cache import track

    rows_per_band = num_hashes // bands
    sig_udf = minhash_signature_udf(n, num_hashes, seed)
    base = track(
        # the signature table feeds three plan branches (band keys + two
        # re-attach joins); tracked persist = the single-query stand-in
        # for the checkpointed signature table a 100 TB pipeline would
        # write (cache.release_all() frees the blocks once consumed)
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .filter(F.length("__t") >= n)
        .select("id", sig_udf(F.col("__t")).alias("sig"))
    )
    # Band join + pair-dedup shuffle ONLY (id, band, bucket): 24 bytes
    # per banded row instead of the 0.5 KB signature array. At 100 TB
    # the candidate stream dwarfs the corpus — narrow rows there decide
    # the shuffle volume. Signatures are re-attached to the deduped
    # pairs by two hash joins.
    banded = base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(F.slice("sig", b * rows_per_band + 1, rows_per_band)).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))

    a = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    pairs = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    cand = pairs.join(
        base.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
    ).join(base.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b")
    est = cand.withColumn(
        "est_jaccard",
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        )
        / F.lit(
            # signature length
            float(num_hashes)
        ),
    ).select("id_a", "id_b", "est_jaccard")
    if verify_threshold is not None:
        est = est.filter(F.col("est_jaccard") >= verify_threshold)
    return est


def simhash64_udf(seed: int = 42):
    """Arrow-batched 64-bit SimHash over whitespace tokens.

    Whitespace tokens → FNV-style wrapping token hash → for each bit
    position b, the sum over tokens of ±1 according to bit b of the
    token hash; bit b is set iff that sum is positive, and the sign-bits
    are packed to int64. Near-duplicate documents land within small
    Hamming distance.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    FNV = np.uint64(1099511628211)
    SEED = np.uint64(seed * 2 + 1)

    @pandas_udf("long")
    def _sim(texts: pd.Series) -> pd.Series:
        # Round 9 (guide §4.2): the per-token per-CHAR Python loop was
        # the hottest interpreted path in the operator family. Now the
        # whole batch's tokens are hashed together — one utf-32 decode
        # of the concatenated tokens, then max(token_len) masked vector
        # folds replace len(token) Python iterations per token; the
        # per-bit ±1 sums become 64 reduceat passes over the token-hash
        # vector (sum of ±1 > 0  <=>  2·popcount > n_tokens), so peak
        # temp stays O(batch tokens), never (tokens × 64). Identical
        # signatures (same fold, same tie behavior), measured 8x.
        out = np.zeros(len(texts), dtype=np.int64)
        doc_ntoks: list[int] = []
        all_toks: list[str] = []
        for s in texts:
            toks = s.split() if s else []
            doc_ntoks.append(len(toks))
            all_toks.extend(toks)
        if not all_toks:
            return pd.Series(out)
        n_tok = len(all_toks)
        lens = np.fromiter(map(len, all_toks), dtype=np.int64, count=n_tok)
        cat = np.frombuffer(
            "".join(all_toks).encode("utf-32-le"), dtype=np.uint32
        ).astype(np.uint64)
        starts = np.cumsum(lens) - lens
        with np.errstate(over="ignore"):
            th = np.full(n_tok, SEED, dtype=np.uint64)
            for j in range(int(lens.max())):  # wrapping FNV over codepoints
                v = lens > j
                th[v] = th[v] * FNV ^ cat[starts[v] + j]
            nt = np.asarray(doc_ntoks, dtype=np.int64)
            nz = np.flatnonzero(nt)
            dstarts = np.zeros(len(nz), dtype=np.int64)
            np.cumsum(nt[nz][:-1], out=dstarts[1:])
            half = nt[nz]
            vals = np.zeros(len(nz), dtype=np.uint64)
            one = np.uint64(1)
            for s_ in range(64):
                bitvec = (th >> np.uint64(s_)) & one
                cnt = np.add.reduceat(bitvec, dstarts)
                vals |= (2 * cnt > half).astype(np.uint64) << np.uint64(s_)
            out[nz] = vals.astype(np.int64)
        return pd.Series(out)

    return _sim


def simhash_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    seed: int = 42,
) -> DataFrame:
    """SimHash near-dup pairs bucketed by ``max_hamming + 1`` bit chunks.

    Pigeonhole guarantee: two signatures within Hamming distance h
    differ in at most h chunks, so they agree exactly on at least one of
    h+1 — recall is 100% for ANY ``max_hamming`` (the chunk count is
    derived from it, not fixed). The cost side: larger h → narrower
    chunks → smaller bucket key space → more candidate collisions, so
    keep h modest (≤ ~8 for a 64-bit signature); beyond that, use
    multi-chunk combination keys (Manku et al., WWW'07 §3) or the
    MinHash path.

    Returns (id_a, id_b, hamming) pairs with hamming <= max_hamming.
    """
    n_chunks = max_hamming + 1
    if n_chunks > 32:
        raise ValueError(
            f"max_hamming={max_hamming} needs {n_chunks} chunks of a 64-bit "
            "signature; chunks below 2 bits bucket everything together — "
            "use minhash_lsh_pairs for that similarity regime"
        )
    starts = [c * 64 // n_chunks for c in range(n_chunks)]
    widths = [(c + 1) * 64 // n_chunks - starts[c] for c in range(n_chunks)]
    from pyspark_movie_recommender_spark.operators.lineage import ckpt

    # materialize the (id, sim) signatures: both self-join sides consume
    # them, and without the ckpt the Python SimHash stage (the expensive
    # part — it reads the full text column) executes twice
    sig = ckpt(
        df.select(
            F.col(id_col).alias("id"),
            simhash64_udf(seed)(F.col(text_col)).alias("sim"),
        )
    )
    chunks = sig.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftrightunsigned("sim", starts[c])
                        .bitwiseAND(F.lit((1 << widths[c]) - 1))
                        .alias("key"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select("id", "sim", F.col("ck.chunk").alias("chunk"), F.col("ck.key").alias("key"))

    a = chunks.select(F.col("id").alias("id_a"), F.col("sim").alias("sim_a"), "chunk", "key")
    b = chunks.select(F.col("id").alias("id_b"), F.col("sim").alias("sim_b"), "chunk", "key")
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        a.join(b, on=["chunk", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def prefix_filtered_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_pct: int = 70,
) -> DataFrame:
    """Set-similarity join with PREFIX FILTERING (Chaudhuri/Bayardo
    ppjoin family): exact word-set Jaccard ≥ threshold, generating
    candidates only from each document's RAREST tokens instead of all
    of them.

    Why it scales where the plain shared-token join doesn't: order the
    vocabulary by ascending document frequency; if |A∩B| ≥ α then the
    first |A|−α+1 tokens of A and first |B|−α+1 of B must share one
    (pigeonhole on the global order). With α = ⌈t·|A|⌉ (implied by
    J ≥ t), each doc only emits its prefix — mostly RARE tokens, so
    join buckets stay small by construction; the corpus-wide stop
    words that explode the naive join never appear in any prefix. A
    size-ratio pre-filter (t ≤ |A|/|B| ≤ 1/t) prunes further.

    All arithmetic is integer-exact: prefix length uses the integer
    ceiling (t_pct·n + 99) DIV 100, the verify threshold is
    (100+t_pct)·inter ≥ t_pct·(|A|+|B|), and the returned similarity
    is BIGINT ppm — so the all-pairs oracle matches hash-for-hash.

    Returns (id_a, id_b, inter, n_a, n_b, jaccard_ppm), id_a < id_b.
    """
    tok = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.array_distinct(F.split(F.trim(F.col(text_col)), "\\s+"))
            ).alias("w"),
        )
        .filter(F.col("w") != "")
    )
    from pyspark_movie_recommender_spark.operators.lineage import ckpt

    # the token postings fan out FIVE ways (sizes, dfreq, ranked, and
    # both verification sides) — materialize them once instead of
    # re-running the corpus scan + explode per consumer; sizes and the
    # prefix relation are each consumed 2-3x downstream and are
    # |docs|-sized and prefix-sized respectively, so they get the same
    # treatment
    tok = ckpt(tok)
    sizes = ckpt(
        tok.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    )
    dfreq = tok.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    w_rank = Window.partitionBy("id").orderBy(F.asc("df"), F.asc("w"))
    ranked = (
        tok.join(dfreq, "w")
        .withColumn("pos", F.row_number().over(w_rank))
        .join(sizes, "id")
    )
    # integer ceil: prefix keeps sz - ceil(t*sz) + 1 rarest tokens
    prefix = ckpt(
        ranked.filter(
            F.col("pos")
            <= F.col("sz") - F.expr(f"({threshold_pct} * sz + 99) DIV 100") + 1
        ).select("id", "w", "sz")
    )
    a = prefix.select(
        F.col("id").alias("id_a"), "w", F.col("sz").alias("n_a")
    )
    b = prefix.select(
        F.col("id").alias("id_b"), "w", F.col("sz").alias("n_b")
    )
    cand = (
        a.join(b, "w")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # size ratio: t <= n_a/n_b <= 1/t (both directions, integer)
            & (100 * F.col("n_a") >= threshold_pct * F.col("n_b"))
            & (100 * F.col("n_b") >= threshold_pct * F.col("n_a"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ta = tok.select(F.col("id").alias("id_a"), "w")
    tb = tok.select(F.col("id").alias("id_b"), "w")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "w"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("n_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("n_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .filter(
            (100 + threshold_pct) * F.col("inter")
            >= threshold_pct * (F.col("n_a") + F.col("n_b"))
        )
        .select(
            "id_a",
            "id_b",
            "inter",
            "n_a",
            "n_b",
            F.expr("CAST((inter * 1000000) DIV (n_a + n_b - inter) AS BIGINT)")
            .alias("jaccard_ppm"),
        )
    )
