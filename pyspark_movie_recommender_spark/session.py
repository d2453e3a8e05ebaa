"""SparkSession factory with scale-aware defaults.

The reference (``/root/reference/recommender.py``) assumes a live ``sc``
from the PySpark shell and never configures anything. Here we own the
session and pin the configs that matter for both local correctness runs
and a 1000-executor / 100 TB deployment:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing);
- one shuffle partition per local core (not the 200 default): more
  only queue on this host, and a stateful stream pays for each state
  partition on every micro-batch (a task, a state ``.delta`` and
  checksum file, a sink part), with no AQE coalescing and a count its
  checkpoint fixes at the first batch. On a real cluster this would be
  ~2-3x total executor cores, and AQE coalesces batch shuffles down
  from there;
- parquet nanosecond timestamps read as INT64 (``nanosAsLong``), which
  ``sources.load_table`` converts for the events table;
- UTC session timezone so timestamp semantics match the DuckDB oracle;
- Arrow enabled for every pandas-UDF boundary.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[N]: honour the driver's CPU budget, default to all cores.
_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def get_spark(
    app_name: str = "pyspark_movie_recommender_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Shuffle partitions default to one per local core. More partitions
    than cores only queue tasks on this host, and a stateful stream's
    checkpoint keeps the count it starts with, so each extra partition
    is one more task, state file and sink part on every later
    micro-batch. On a real cluster, set ``spark.sql.shuffle.partitions``
    to ~2-3x the total executor cores through ``extra_conf``; AQE
    coalesces small post-shuffle partitions automatically either way.
    """
    cpus = (os.cpu_count() or 8) if _CPUS == "*" else int(_CPUS)

    builder = (
        SparkSession.builder.master(f"local[{_CPUS}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # reliable-checkpoint mode (SPARK_GRAFT_CHECKPOINT_DIR): let the
        # ContextCleaner reap checkpoint files for out-of-scope RDDs so
        # a long run's ~290 truncation sites don't grow the dir forever
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
