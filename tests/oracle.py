"""Local replica of the driver's DuckDB differential check.

Runs a registered query through Spark AND its oracle SQL through DuckDB
on the same parquet tables, then compares row count, column names, and
an order-insensitive multiset of normalized values. Strict by design —
if this passes, the driver's hash compare should too.
"""

from __future__ import annotations

import math
import os
import zlib
from datetime import datetime

import duckdb

from pyspark_movie_recommender_spark.sources.tables import TABLES


def _commit_week() -> int:
    """The ISO week of the HEAD commit: a function of the COMMIT, not of
    today's date, so the slices still cycle through CI week by week but
    re-running a historical commit is reproducible and a pre-push run
    exercises the same slice CI will."""
    import subprocess

    try:
        ts = subprocess.run(
            ["git", "log", "-1", "--format=%cI"],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            timeout=10,
        ).stdout.strip()
        return datetime.fromisoformat(ts).isocalendar()[1]
    except Exception:
        return datetime.now().isocalendar()[1]


# Run by default next to the commit-week slice, so part of every default
# run (its queries and test ids) is the same from commit to commit.
FIXED_SLICE = 2


def registry_slice(names) -> list[str]:
    """The part of the registry a suite run covers: the names with
    ``crc32(name) % 8`` in a set of slices, sorted. ``SPARK_GRAFT_ORACLE_SLICE``
    pins one slice ``k`` (``0``-``7``) or selects every name (``all``);
    unset, the run covers the commit-week slice (week mod 8, so all eight
    cycle through CI week by week) plus ``FIXED_SLICE``. The oracle,
    plan-census and determinism tests all walk this same selection."""
    env = os.environ.get("SPARK_GRAFT_ORACLE_SLICE")
    if env == "all":
        return sorted(names)
    ks = {int(env) % 8} if env is not None else {_commit_week() % 8, FIXED_SLICE}
    return sorted(n for n in names if zlib.crc32(n.encode()) % 8 in ks)


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return bool(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # kill -0.0 and representation noise at the edge of rounding
        return round(v + 0.0, 9)
    if isinstance(v, (int,)):
        return int(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "?"):
    """Assert Spark result == DuckDB result (order-insensitive)."""
    duck = con.execute(sql)
    duck_cols = [d[0] for d in duck.description]
    duck_rows = duck.fetchall()

    spark_cols = spark_df.columns
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    spark_rows = [tuple(r) for r in spark_df.collect()]
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    # an empty==empty hash match proves nothing — every registered query
    # must produce evidence at the oracle SF
    assert spark_rows, f"{name}: empty result at oracle SF (vacuous match)"
    # the driver's canonicalizer cannot hash list/dict cells
    for v in spark_rows[0]:
        assert not isinstance(v, (list, dict)), (
            f"{name}: unhashable {type(v).__name__} cell reaches the gate"
        )

    # align columns by sorted name, normalize, compare as multiset
    from collections import Counter

    s_idx = [spark_cols.index(c) for c in sorted(spark_cols)]
    d_idx = [duck_cols.index(c) for c in sorted(duck_cols)]
    s_set = Counter(tuple(_norm(r[i]) for i in s_idx) for r in spark_rows)
    d_set = Counter(tuple(_norm(r[i]) for i in d_idx) for r in duck_rows)
    if s_set != d_set:
        only_s = list((s_set - d_set).keys())[:3]
        only_d = list((d_set - s_set).keys())[:3]
        raise AssertionError(
            f"{name}: value mismatch; spark-only={only_s} duck-only={only_d}"
        )
