"""Parquet star-schema sources (the driver's TPC-H-ish tables).

Columnar parquet scans are the engine's primary source: Catalyst pushes
predicates and prunes columns into the scan (verify with
``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``), which
is the scale path for 100 TB — a query touching 2 of 11 lineitem columns
reads ~2/11ths of the bytes.

The reference's only sources were ``sc.textFile`` over CSV and
``sc.parallelize`` over literal lists (``recommender.py:39,121,133``);
those map to :mod:`..sources.movielens` and
``spark.createDataFrame`` respectively.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

# The driver-generated tables (TESTDATA.md). Order: dims first.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor —
# region/nation are fixed-size (5/25 rows) even at 100 TB.
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation"})


def _table_path(sf_dir: str, name: str) -> str:
    """Parquet path of one driver table; ``KeyError`` for an unknown name."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def _parquet_files(sf_dir: str, name: str) -> list[str]:
    """The parquet files of one table: the part files of a dataset
    directory, sorted, or the single file."""
    path = _table_path(sf_dir, name)
    if os.path.isdir(path):
        return sorted(glob.glob(os.path.join(path, "*.parquet")))
    return [path]


def table_row_hint(sf_dir: str, name: str) -> int:
    """Row count of one table from parquet FOOTER metadata — an O(file
    footers) driver-side read, NOT a Spark action, so queries that size
    a knob from n (e.g. the LSH band width) stay job-free at plan-build
    time (round-4 advice: ``emb.count()`` at construction made every
    plan dump trigger a full scan). At cluster scale the same number
    comes from table statistics / catalog metadata."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(sf_dir, name))


def column_minmax_hint(sf_dir: str, name: str, column: str):
    """(min, max) of one column from parquet FOOTER row-group
    statistics — the column-stats sibling of :func:`table_row_hint`:
    an O(file footers) driver-side read, no Spark job, so a query can
    size a range-bucketing scheme at plan-build time. Returns ``None``
    when any row group lacks min/max stats (caller falls back to a
    1-row aggregate); at cluster scale the same numbers come from
    table statistics / catalog metadata or manifest-level zone maps.

    Exactness guard: parquet writers may TRUNCATE min/max statistics
    for string/binary columns (a 64-byte prefix is a valid bound but
    not the exact value). ``has_min_max`` alone cannot distinguish
    exact from truncated, so any row group whose footer reports
    ``is_min_value_exact``/``is_max_value_exact`` as False also
    returns None — the hint is only ever a substitute for a real
    aggregate when it is bit-exact. (Arrow exposes the exactness flags
    as None for pre-2.6 writers; numeric and date statistics are never
    truncated, so None+numeric is accepted, but None on a BYTE_ARRAY
    column falls back too.)
    """
    import pyarrow.parquet as pq

    lo = hi = None
    for f in _parquet_files(sf_dir, name):
        md = pq.ParquetFile(f).metadata
        try:
            ci = next(
                i
                for i in range(md.num_columns)
                if md.schema.column(i).name == column
            )
        except StopIteration:
            raise KeyError(f"no column {column!r} in {name}")
        phys = md.schema.column(ci).physical_type
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                return None
            # Truncation guard: BYTE_ARRAY stats may be prefix-bounds.
            # Exactness flags are tri-state (None on pre-2.6 writers);
            # require an explicit True for byte-array columns, accept
            # None only for fixed-width physical types (never truncated).
            min_exact = getattr(st, "is_min_value_exact", None)
            max_exact = getattr(st, "is_max_value_exact", None)
            if min_exact is False or max_exact is False:
                return None
            if phys in ("BYTE_ARRAY", "FIXED_LEN_BYTE_ARRAY") and (
                min_exact is not True or max_exact is not True
            ):
                return None
            lo = st.min if lo is None or st.min < lo else lo
            hi = st.max if hi is None or st.max > hi else hi
    return None if lo is None else (lo, hi)


# path -> (stamp, inferred schema); one entry per table path, replaced
# when its stamp changes (see ``table_schema``)
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """The schema Spark infers for one parquet table, inferred once per
    file set. Inference runs a footer-reading Spark job; a memo keyed
    by the table's path answers again for as long as its stamp holds:
    ``(st_ino, st_size, st_mtime_ns)`` of each of its parquet files,
    plus the session's ``spark.sql.legacy.parquet.nanosAsLong``, which
    decides whether a nanosecond timestamp infers as ``bigint``. A
    rewritten table (new files, a new column) has a new stamp and is
    inferred again."""
    path = _table_path(sf_dir, name)
    stamp = (
        tuple(
            (st.st_ino, st.st_size, st.st_mtime_ns)
            for st in map(os.stat, _parquet_files(sf_dir, name))
        ),
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong"),
    )
    hit = _SCHEMAS.get(path)
    if hit is None or hit[0] != stamp:
        hit = _SCHEMAS[path] = (stamp, spark.read.parquet(path).schema)
    return hit[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one parquet table from a scale-factor directory.

    The read carries the schema :func:`table_schema` memoizes, so only
    the first read of a file set runs Spark's schema inference; later
    reads of the unchanged files submit no Spark job.

    An events table written with nanosecond parquet timestamps, which
    Spark's reader rejects ([PARQUET_TYPE_ILLEGAL]), reads as INT64 in a
    session from ``get_spark`` (it sets ``nanosAsLong``; another session
    must set it to read such a table), and we convert it to a proper
    TIMESTAMP with exact integer division (``div 1000`` — a double
    divide would lose precision at 1.7e18 nanos, ulp ≈ 256 ns), which
    matches DuckDB's truncate-to-micros behaviour bit-for-bit.
    """
    df = spark.read.schema(table_schema(spark, sf_dir, name)).parquet(
        _table_path(sf_dir, name)
    )
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load several tables at once; all of them when ``names`` is empty."""
    wanted = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in wanted}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register tables as temp views so ``spark.sql`` can reference them."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
) -> None:
    """Persist a table bucketed (and optionally sorted) by a join key.

    Bucketing pre-partitions data at rest: two tables bucketed by the
    same key into the same bucket count join WITHOUT a shuffle — at
    100 TB that turns the nightly fact-fact join from the dominant
    network cost into a local merge per bucket. Plan-asserted in
    tests/test_sources_sinks.py (no Exchange above the joined scans).
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table_name)


def compact_parquet(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    sort_cols: list[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a parquet directory into files of
    ~128 MB each, optionally sorting within partitions so
    min/max row-group stats cluster for data skipping.

    The small-files problem is a first-order 100 TB cost (every file is
    a task + a footer read + a NameNode/liststore entry); streaming
    sinks and over-parallel writes produce thousands of KB-sized files.
    Returns the output file count. Sizing reads the source's actual
    bytes — no collect of data, just filesystem metadata.
    """
    size_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(src_dir)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, round(size_bytes / (128 * 1024 * 1024)))
    df = spark.read.parquet(src_dir)
    out = df.repartition(n_files)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").parquet(dst_dir)
    return sum(
        1
        for root, _, files in os.walk(dst_dir)
        for f in files
        if f.endswith(".parquet")
    )
