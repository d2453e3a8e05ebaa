"""Text analysis over the documents table — LLM-data quality operators.

All hot-path expressions are built-in SQL functions (codegen'd); nothing
here crosses into Python per row. Each operator is factored as a Column
expression so queries can compose them in one projection pass — at
100 TB a documents scan should compute every per-doc statistic in a
single pipeline stage.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyspark_movie_recommender_spark.functions import token_count, ws_tokens

# small embedded stopword sets per language — enough for a ratio-based
# heuristic; swap for real lexicons in production
_STOPWORDS = {
    "en": ["the", "a", "and", "of", "to"],
    "es": ["el", "la", "de", "y", "que"],
    "fr": ["le", "la", "de", "et", "que"],
    "de": ["der", "die", "das", "und", "zu"],
}


def avg_token_len(text: Column | str) -> Column:
    """Mean token length; NULL for empty documents."""
    toks = ws_tokens(text)
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks))


def type_token_ratio(text: Column | str) -> Column:
    """Lexical diversity: distinct tokens / total tokens; NULL if empty."""
    toks = ws_tokens(text)
    return F.when(
        F.size(toks) > 0, F.size(F.array_distinct(toks)) / F.size(toks)
    )


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are English stopwords."""
    toks = ws_tokens(text)
    sw = F.array(*[F.lit(s) for s in _STOPWORDS["en"]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks))


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + diversity + structure.

    Deliberately simple and fully SQL-expressible: docs score higher for
    having 20-500 tokens, diverse vocabulary, and sane mean token length.
    """
    nt = token_count(text)
    ttr = F.coalesce(type_token_ratio(text), F.lit(0.0))
    atl = F.coalesce(avg_token_len(text), F.lit(0.0))
    len_score = F.when((nt >= 20) & (nt <= 500), 1.0).when(nt > 0, 0.5).otherwise(0.0)
    atl_score = F.when((atl >= 3) & (atl <= 8), 1.0).when(atl > 0, 0.5).otherwise(0.0)
    return (len_score + ttr + atl_score) / 3


def bpe_ish_token_count(text: Column | str) -> Column:
    """Sub-word-ish token count: words + digit runs + punctuation marks.

    A regex approximation of BPE tokenizer output volume (the metric
    pipelines budget by), without needing a tokenizer library.
    """
    c = F.col(text) if isinstance(text, str) else text
    # count word chunks of <=4 chars as 1 token, longer words as ceil(len/4)
    toks = ws_tokens(c)
    per_word = F.transform(
        toks, lambda t: F.ceil(F.length(t) / F.lit(4.0)).cast("long")
    )
    return F.coalesce(
        F.aggregate(per_word, F.lit(0).cast("long"), lambda a, x: a + x), F.lit(0).cast("long")
    )


def lang_marker_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword hit counts (the n-gram-heuristic family)."""
    toks = ws_tokens(text)
    out = {}
    for lang, words in _STOPWORDS.items():
        sw = F.array(*[F.lit(s) for s in words])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return out


def predict_lang(text: Column | str) -> Column:
    """Argmax language over marker scores, deterministic tie-break by
    language code; 'und' (undetermined) when no marker hits at all."""
    scores = lang_marker_scores(text)
    best_lang = F.lit("und")
    best_score = F.lit(-1).cast("int")
    # iterate in sorted order so ties resolve to the alphabetically first
    for lang in sorted(scores, reverse=True):
        s = scores[lang].cast("int")
        cond = s >= best_score  # later (alphabetically earlier) wins ties
        best_lang = F.when((s > 0) & cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, s).otherwise(best_score)
    return best_lang


# winnowing fingerprint constants — shared with the DuckDB oracle SQL in
# queries.py, which re-derives the identical polynomial arithmetic
FP_K = 8  # k-gram width (chars)
FP_W = 4  # winnowing window (hashes)
FP_BASE = 257
FP_MOD = 1_000_003  # small prime: acc*base+255 stays < 2^31 (no overflow)


def winnowing_fingerprints_sql(text: Column | str) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03) in pure SQL.

    Polynomial hash of every character ``FP_K``-gram (Horner form, base
    ``FP_BASE``, mod the small prime ``FP_MOD``), then the min hash of
    each window of ``FP_W`` consecutive k-grams; the distinct
    window-mins are the fingerprint set.

    REFERENCE FORM, not the hot path: nested higher-order lambdas are
    interpreted row-at-a-time by Catalyst (~0.5 ms per k-gram measured),
    ~1000x slower than the Arrow/NumPy form below. Kept because it is
    the executable spec the oracle SQL mirrors, and for the equivalence
    test pinning the UDF to it. Use :func:`winnowing_fingerprints` in
    queries.
    """
    k, w, base, mod = FP_K, FP_W, FP_BASE, FP_MOD
    c = F.col(text) if isinstance(text, str) else text
    n = F.length(c)

    def gram_hash(i: Column) -> Column:
        comps = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            lambda j: F.ascii(c.substr(i + j, F.lit(1))),
        )
        return F.aggregate(comps, F.lit(0), lambda acc, x: (acc * base + x) % mod)

    hashes = F.transform(F.sequence(F.lit(1), n - (k - 1)), gram_hash)
    nh = F.size(hashes)
    wins = F.transform(
        F.sequence(F.lit(1), nh - (w - 1)),
        lambda j: F.array_min(F.slice(hashes, j, w)),
    )
    fps = F.when(nh >= w, wins).otherwise(F.array(F.array_min(hashes)))
    return F.when(n >= k, F.array_sort(F.array_distinct(fps))).otherwise(
        F.array().cast("array<int>")
    )


def winnowing_fingerprints(text: Column | str) -> Column:
    """Winnowing fingerprints, Arrow-batched NumPy hot path.

    Value-identical to :func:`winnowing_fingerprints_sql` (the
    polynomial-mod arithmetic is congruent: Horner with per-step mod ==
    dot-with-precomputed-powers mod) — the DuckDB oracle checks values,
    and tests pin UDF == SQL form. Per Arrow batch: one vectorized
    sliding-window dot per doc; ~1000x the interpreted-HOF throughput,
    which is the difference between a scan-bound and a CPU-bound
    documents pipeline at 100 TB.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    k, w, base, mod = FP_K, FP_W, FP_BASE, FP_MOD
    powers = np.array([pow(base, k - 1 - j, mod) for j in range(k)], dtype=np.int64)

    @pandas_udf("array<int>")
    def _fps(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            if s is None or len(s) < k:
                out.append([])
                continue
            cps = np.fromiter(map(ord, s), dtype=np.int64, count=len(s))
            grams = np.lib.stride_tricks.sliding_window_view(cps, k)
            h = (grams @ powers) % mod
            if len(h) >= w:
                mins = np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
            else:
                mins = h.min(keepdims=True)
            out.append(np.unique(mins).astype(np.int32))
        return pd.Series(out)

    c = F.col(text) if isinstance(text, str) else text
    return _fps(c)


def bm25_scores(docs: DataFrame, terms: list[str]) -> DataFrame:
    """BM25 ranked retrieval for a fixed term set over ``(doc_id, text)``,
    pure SQL.

    Classic Robertson/Sparck-Jones BM25: idf(t) = ln(1 + (N-df+0.5)/(df+0.5)),
    tf saturation k1 = 1.2, length normalization b = 0.75. Shapes for scale: one
    tokens explode (map-side), tf = groupBy(doc, term), df = groupBy(term)
    (tiny — |terms| rows, broadcast back), N/avgdl are a 1-row global
    aggregate cross-joined in. No UDF anywhere; the explode dominates and
    is linear in corpus tokens.
    """
    k1, b = 1.2, 0.75
    toks = docs.select(
        "doc_id",
        ws_tokens("text").alias("toks"),
    ).select("doc_id", F.size("toks").cast("double").alias("dl"), "toks")

    stats = toks.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )

    term_arr = F.array(*[F.lit(t) for t in terms])
    tf = (
        toks.select("doc_id", "dl", F.explode("toks").alias("term"))
        .filter(F.array_contains(term_arr, F.col("term")))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df_t = tf.groupBy("term").agg(F.countDistinct("doc_id").cast("double").alias("df"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    score_t = idf * (
        F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("term_score", score_t)
        .groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
    )


def chunk_documents(docs: DataFrame) -> DataFrame:
    """Split ``(doc_id, text)`` documents into overlapping 64-token
    chunks — the tokenize-and-window step every LLM pretraining pipeline
    runs before packing. Pure SQL: token array → sequence of chunk
    starts → explode. Output: (doc_id, chunk_idx, n_chunk_tokens,
    chunk_text).

    Chunks start every 48 tokens (overlap = 16 tokens); the final
    partial chunk is kept iff it is the only one or extends past the
    previous chunk. Map-side only — no shuffle; explode multiplies rows
    ~n_tokens/48, which is the point.
    """
    chunk_tokens, stride = 64, 48
    toks = ws_tokens("text")
    base = docs.select(
        "doc_id", toks.alias("__toks"), F.size(toks).alias("__n")
    ).filter(F.size(toks) > 0)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.ceil((F.col("__n") - chunk_tokens) / F.lit(stride)), F.lit(0)),
    )
    chunks = base.select(
        "doc_id",
        "__toks",
        F.explode(starts).alias("chunk_idx"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.slice(
            "__toks", F.col("chunk_idx") * stride + 1, chunk_tokens
        ).alias("__chunk"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size("__chunk").cast("long").alias("n_chunk_tokens"),
        F.array_join("__chunk", " ").alias("chunk_text"),
    )


def pack_documents(docs: DataFrame) -> DataFrame:
    """Assign ``(doc_id, source, text)`` documents to 512-token
    context-window bins: contiguous greedy fill in deterministic
    (source, doc_id) order via one window cumsum —
    bin = floor((cumsum - n_tokens) / 512). Docs longer than the
    budget get a bin of their own (they'd be chunked first in a real
    pipeline; composition with chunk_documents is the full path).

    One shuffle (window partition on the group key); no driver loop, no
    UDF. Deterministic, so the DuckDB oracle checks exact assignments.
    """
    n = token_count("text")
    w = Window.partitionBy("grp").orderBy("doc_id")
    return (
        docs.select(
            "doc_id", F.col("source").alias("grp"), n.alias("n_tokens")
        )
        .withColumn("cum", F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select(
            "doc_id",
            "grp",
            "n_tokens",
            F.floor((F.col("cum") - F.col("n_tokens")) / 512)
            .cast("long")
            .alias("bin_id"),
        )
    )


CONTROL_CHAR_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"
NON_ASCII_RE = r"[^\x00-\x7F]"


def encoding_health(docs: DataFrame) -> DataFrame:
    """Per-``source`` encoding-health census of ``text``: documents
    carrying C0 control characters (NUL..US minus tab/newline/CR), U+FFFD
    replacement characters, or the 'Ã' UTF-8-decoded-as-Latin-1 mojibake
    marker, plus exact non-ASCII and whitespace char rates (ppm, integer
    DIV).

    The ingest-side tripwire for codec bugs: a healthy corpus shows
    zeros in the flag columns, and any nonzero is an upstream decode
    defect to quarantine by source. All counters are integer regexp
    censuses — deterministic on any engine, no floats anywhere.

    Scale shape: map-side regexp counting fused into the scan, one
    |groups|-row hash aggregate. A 100 TB audit is one pass.
    """
    t = F.col("text")
    return docs.groupBy(F.col("source").alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.when(F.regexp_count(t, F.lit(CONTROL_CHAR_RE)) > 0, 1).otherwise(0)
        )
        .cast("long")
        .alias("docs_with_control"),
        F.sum(F.when(t.contains("�"), 1).otherwise(0))
        .cast("long")
        .alias("docs_with_replacement"),
        F.sum(F.when(t.contains("Ã"), 1).otherwise(0))
        .cast("long")
        .alias("docs_mojibake"),
        (
            F.sum(F.regexp_count(t, F.lit(NON_ASCII_RE)).cast("long"))
            * F.lit(1000000)
        )
        .cast("long")
        .alias("_na_num"),
        (
            F.sum(F.regexp_count(t, F.lit(r"\s")).cast("long"))
            * F.lit(1000000)
        )
        .cast("long")
        .alias("_ws_num"),
        F.sum(F.length(t).cast("long")).cast("long").alias("n_chars_total"),
    ).select(
        "grp",
        "n_docs",
        "docs_with_control",
        "docs_with_replacement",
        "docs_mojibake",
        F.expr("_na_num div n_chars_total").cast("long").alias("non_ascii_ppm"),
        F.expr("_ws_num div n_chars_total").cast("long").alias("whitespace_ppm"),
        "n_chars_total",
    )
