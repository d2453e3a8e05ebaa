"""Structured Streaming jobs over the events table.

Batch/stream parity by construction: the transformations here are the
SAME expressions used by the batch queries (``tumbling_window_events``,
``sessionize_events``); only source (``readStream``) and sink
(``writeStream``) differ — which is the point of Structured Streaming.

Local testing drives each job to completion with
``trigger(availableNow=True)`` over the static parquet, a deterministic
replay (SURVEY.md §7 hard-part 5: streaming state has no oracle, so we
check stream-vs-batch equivalence instead). In production the source
would be Kafka/files-in-arrival; watermarks bound state for late data.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the events parquet, with the schema the
    batch loader memoizes (nanos ts handled as in the batch loader — see
    sources/tables.py)."""
    from pyspark_movie_recommender_spark.sources.tables import table_schema

    schema = table_schema(spark, sf_dir, "events")
    # file stream sources want a directory; glob-filter to the one table
    src = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    ts_type = dict((f.name, f.dataType.simpleString()) for f in schema).get("ts")
    if ts_type == "bigint":
        src = src.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # watermarks require TIMESTAMP (LTZ); with the UTC session timezone
        # the cast is wall-clock-identity, matching the batch twins' oracle
        src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    return src


def _run_to_table(df: DataFrame, query_name: str, output_mode: str) -> None:
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def tumbling_window_stream(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "stream_tumbling",
    output_mode: str = "append",
) -> DataFrame:
    """One-hour tumbling-window streaming aggregation with a one-hour
    watermark for late data.

    In append mode a window only emits once the watermark passes its
    end — state is bounded by (watermark + window) regardless of
    stream length, the property that matters at 100 TB/day ingest.
    (That also means windows still inside the horizon when a bounded
    replay ends never emit; equivalence tests use complete mode.)
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    _run_to_table(agg, query_name, output_mode)
    return spark.table(query_name)


def session_window_stream(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "stream_sessions",
    output_mode: str = "append",
) -> DataFrame:
    """Native session windows (30-minute gap, one-hour watermark), the
    streaming twin of the batch ``sessionize_events`` lag+cumsum query."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )
    _run_to_table(agg, query_name, output_mode)
    return spark.table(query_name)


def dedup_within_watermark_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_dedup"
) -> DataFrame:
    """Stateful streaming dedup on event_id with bounded state
    (``dropDuplicatesWithinWatermark``): duplicates arriving within the
    one-hour watermark horizon are dropped; state older than it is
    evicted."""
    ev = _events_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts", "user_id", "event_type", "value")
    )
    _run_to_table(deduped, query_name, "append")
    return spark.table(query_name)


def enrich_join_stream(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "stream_enrich",
) -> DataFrame:
    """Stream-static join: each micro-batch of events is enriched with
    the (static) customer dimension, then aggregated per market segment.

    The static side is broadcast — no stream-side shuffle for the join,
    and the dim is re-resolved every micro-batch so slowly-changing
    dimensions pick up updates without restarting the query. This is the
    canonical enrichment topology for 100 TB/day ingest: the only
    stateful operator is the final windowless aggregate (state ∝
    |segments|, constant).
    """
    from pyspark_movie_recommender_spark.sources.tables import load_table

    ev = _events_stream(spark, sf_dir)
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_mktsegment"
        )
    )
    agg = (
        ev.join(dim, "user_id")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    _run_to_table(agg, query_name, "complete")
    return spark.table(query_name)


def running_user_totals_stream(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "stream_user_totals",
) -> DataFrame:
    """Per-user running event count + value total, state carried across
    micro-batches by Spark's built-in streaming aggregation (update mode).

    The state is tiny (a partial count and sum per user) and keyed by the
    shuffle partitioning, so state size scales with |users|, not
    |events|; being associative, it stays in the JVM state store with no
    Python-worker stage.
    """
    ev = _events_stream(spark, sf_dir)
    _run_to_table(_user_totals(ev), query_name, "update")
    return spark.table(query_name)


def _user_totals(ev: DataFrame) -> DataFrame:
    """The per-user (count, total) aggregation used by both the one-shot
    and the resumable running-totals jobs — one definition so the resume
    test exercises EXACTLY the production update logic."""
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def _user_peaks(ev: DataFrame) -> DataFrame:
    """The per-user (count, peak) aggregation used by both the one-shot
    and the resumable user-peaks jobs."""
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.max("value"), 2).alias("peak_value"),
    )


def _run_updates_to_parquet(
    out: DataFrame, sink_dir: str, checkpoint_dir: str
) -> None:
    """Drive an update-mode stateful stream into an append-only parquet
    log via foreachBatch (the memory sink refuses checkpoint recovery —
    it is not fault-tolerant). Each micro-batch's update rows land
    stamped with the batch id; batch ids CONTINUE across restarts on
    the same checkpoint, so ``max_by(…, batch_id)`` reads the latest
    state per key after any number of resumes."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        stamped = batch_df.withColumn("batch_id", F.lit(batch_id).cast("long"))
        stamped.write.mode("append").parquet(sink_dir)

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _read_update_log(
    spark: SparkSession, sink_dir: str, schema: StructType
) -> DataFrame:
    """Read the foreachBatch parquet log, tolerating a sink that never
    materialized: an availableNow pass over an empty source dir runs
    zero micro-batches, foreachBatch never fires, and the path does not
    exist — that is an empty log of ``schema``, not an error. A sink dir
    that EXISTS but holds no parquet parts (a crashed run that died
    before its first batch committed) is equally an empty log, so glob
    first. The log is read with ``schema``, not an inferred one: inference
    is a Spark job over every part file, and the log grows by a part per
    state partition on each micro-batch. Logs written before ``batch_id``
    was stamped as ``bigint`` hold it as int32, which the parquet reader
    widens."""
    if not os.path.isdir(sink_dir) or not glob.glob(
        os.path.join(sink_dir, "**", "*.parquet"), recursive=True
    ):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(sink_dir)


def _resumable_user_aggregate(
    spark: SparkSession,
    source_dir: str,
    schema,
    sink_dir: str,
    checkpoint_dir: str,
    aggregate,
) -> DataFrame:
    """One ``availableNow`` pass of the per-user ``aggregate`` over the
    events parquet files ARRIVING in ``source_dir``: the aggregation's
    state lives in ``checkpoint_dir`` and its update rows are appended
    to the ``sink_dir`` log. Returns the latest update per user across
    all passes so far."""
    ev = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(source_dir)
    )
    out = aggregate(ev)
    _run_updates_to_parquet(out, sink_dir, checkpoint_dir)
    log = _read_update_log(
        spark,
        sink_dir,
        StructType(out.schema.fields + [StructField("batch_id", LongType())]),
    )
    return log.groupBy("user_id").agg(
        *[F.max_by(c, "batch_id").alias(c) for c in out.columns if c != "user_id"]
    )


def running_user_totals_resumable(
    spark: SparkSession,
    source_dir: str,
    schema,
    sink_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Resume-from-checkpoint form of ``running_user_totals_stream``:
    reads events parquet files ARRIVING in ``source_dir``, keeps the
    per-user state in ``checkpoint_dir``, one ``availableNow`` pass per
    call, updates appended to ``sink_dir`` via foreachBatch. Calling it
    again after more files arrive must RESTORE the (n, total) state —
    the later batches' emitted counts continue from the first run's,
    which is the checkpoint-recovery contract a long-lived 100 TB
    stream restarts on (executor loss, code deploys). Returns the
    latest update per user across all runs so far.

    State partitions: the checkpoint records the session's
    ``spark.sql.shuffle.partitions`` when it is created, at the first
    batch, and every resume keeps that count whatever the session's
    setting is then; each state partition costs a task, a state file
    and a sink part per micro-batch.

    Checkpoint compatibility: the state is the built-in aggregation's
    partial (count, sum) buffer. A checkpoint written by the earlier
    pandas-state-function form of this job has a different state schema
    and cannot resume here; start such a stream on a fresh checkpoint
    (and sink)."""
    return _resumable_user_aggregate(
        spark, source_dir, schema, sink_dir, checkpoint_dir, _user_totals
    )


def user_peaks_resumable(
    spark: SparkSession,
    source_dir: str,
    schema,
    sink_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Resume-from-checkpoint form of ``user_peaks_stream``: same
    arriving-files source, checkpoint contract and update log as
    :func:`running_user_totals_resumable`, with the per-user
    (count, peak) state kept by the built-in streaming aggregation.

    Checkpoint compatibility: a checkpoint written by the earlier
    transformWithState form of this job (RocksDB state store, typed
    ValueState) has a different state operator and schema and cannot
    resume here; start such a stream on a fresh checkpoint (and sink)."""
    return _resumable_user_aggregate(
        spark, source_dir, schema, sink_dir, checkpoint_dir, _user_peaks
    )


def user_peaks_stream(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "stream_user_peaks",
) -> DataFrame:
    """Per-user running event count and peak value (rounded to 2
    places), state carried across micro-batches by Spark's built-in
    streaming aggregation in update mode. Count and max are
    associative, so the state is a partial (count, max) buffer per user
    in the JVM state store, with no Python-worker stage; the last update
    per user equals the batch ``groupBy``."""
    _run_to_table(_user_peaks(_events_stream(spark, sf_dir)), query_name, "update")
    return spark.table(query_name)


def stream_stream_interval_join(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "stream_interval_join",
) -> DataFrame:
    """Stream-stream interval join: each 'view' event joined to the same
    user's 'purchase' events landing within the next 30 minutes — the
    attribution topology (did the view convert?).

    Both sides carry watermarks so the join state store can expire:
    a buffered view can be dropped once event time passes view.ts +
    30 min + watermark; purchases expire symmetrically. Without BOTH
    watermarks + the time-range join condition, stream-stream join
    state grows forever — this is the canonical bounded-state shape.
    The equality key (user_id) keeps the join a co-partitioned
    stream-stream hash join; state is per-user and per-window, so a
    100 TB/day feed shards horizontally with no global state.
    """
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
    )
    joined = views.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND "
            "purchase_ts >= view_ts AND "
            "purchase_ts <= view_ts + INTERVAL 30 MINUTES"
        ),
    ).select("view_id", "purchase_id", "user_id", "view_ts", "purchase_ts",
             "purchase_value")
    _run_to_table(joined, query_name, "append")
    return spark.table(query_name)


def ingest_audit_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "ingest_audit"
) -> None:
    """Streaming twin of the ``robust_json_ingest`` batch query: the
    event stream's JSON payloads (with the same deterministic 1-in-7
    truncation) classified valid/corrupt per micro-batch, dead-letter
    counts aggregated per event type in complete mode. The corruption
    audit a production ingest runs CONTINUOUSLY, not nightly — same
    map-side classification expression as the batch query, so the
    stream inherits its oracle-checked semantics via the equivalence
    test.
    """
    ev = _events_stream(spark, sf_dir)
    feed = ev.select(
        "event_type",
        F.when(
            F.col("event_id") % 7 == 0, F.expr("substr(props, 2)")
        )
        .otherwise(F.col("props"))
        .alias("raw"),
    )
    parsed = feed.withColumn(
        "ok", F.get_json_object("raw", "$.k").isNotNull()
    )
    agg = parsed.groupBy("event_type").agg(
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
    _run_to_table(agg, query_name, "complete")


def trending_counts_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "trending_counts"
) -> None:
    """Streaming half of the trending-items pipeline: per (1-hour
    tumbling window, item) VIEW counts with a 30-minute watermark,
    append mode. Top-k ranking runs DOWNSTREAM on the materialized
    count relation (window functions don't exist on streams — the
    standard split is: stream maintains the counts, batch ranks), so
    the streaming job's output is exactly the batch twin's
    pre-ranking relation.
    """
    ev = _events_stream(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "ts", F.get_json_object("props", "$.k").cast("long").alias("item_id")
    )
    agg = (
        views.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "item_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_views"))
        .select(
            F.col("w.start").alias("window_start"), "item_id", "n_views"
        )
    )
    _run_to_table(agg, query_name, "append")


def stream_stream_left_interval_join(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "stream_left_interval_join",
) -> None:
    """LEFT OUTER stream-stream interval join: every view, matched to
    purchases within 30 minutes — and views that never convert emit a
    NULL-padded row once the watermark proves no match can still
    arrive. The unmatched-left rows are the churn signal the inner
    join can't produce, and their delayed emission (only after
    view_ts + 30 min + watermark passes) is the semantics that makes
    outer stream joins correct instead of eager-and-wrong.

    Same bounded-state shape as the inner variant: both sides
    watermarked, equality key + time range bound the buffers.
    """
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "30 minutes")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = views.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND "
            "purchase_ts >= view_ts AND "
            "purchase_ts <= view_ts + INTERVAL 30 MINUTES"
        ),
        "left_outer",
    ).select("view_id", "user_id", "view_ts", "purchase_id", "purchase_ts")
    _run_to_table(joined, query_name, "append")


def drift_band_counts_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "drift_bands"
) -> DataFrame:
    """Streaming half of distribution-drift monitoring: per-band event
    VALUE counts maintained continuously, where the band edges are a
    STATIC reference config (here: deciles of the full static table,
    standing in for 'yesterday's training distribution' a deployment
    would refresh on a schedule). The PSI itself (`psi_drift_order_value`
    math) runs downstream on the materialized band counts — the same
    stream-maintains-counts / batch-computes-scores split as
    `trending_counts_stream`.

    The one driver-side action is the reference-edge fetch — that's the
    monitoring CONFIG load (10 doubles), not a data-path collect; the
    per-event band assignment is a map-side 9-edge array scan with no
    shuffle before the 10-row complete-mode agg.
    """
    from pyspark_movie_recommender_spark.sources import load_table

    edges = (
        load_table(spark, sf_dir, "events")
        .agg(
            F.expr(
                "percentile(CAST(ROUND(value * 100) AS BIGINT),"
                " array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))"
            ).alias("e")
        )
        .first()[0]
    )
    edge_arr = "array(" + ", ".join(f"{v!r}D" for v in edges) + ")"
    ev = _events_stream(spark, sf_dir)
    banded = ev.select(
        F.expr(
            f"size(filter({edge_arr}, x -> CAST(ROUND(value * 100) AS BIGINT) > x))"
        ).alias("band")
    )
    agg = banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    _run_to_table(agg, query_name, "complete")
    return spark.table(query_name)


def hourly_user_counts_stream(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "hourly_user_counts",
    output_mode: str = "append",
) -> DataFrame:
    """Streaming half of burst-rate monitoring (`bot_rate_detection`):
    per (1-hour tumbling window, user) event counts with a 30-minute
    watermark — the state the rate-limiter maintains continuously; peak
    detection and thresholding run downstream on the materialized
    counts (the stream-maintains-counts / batch-ranks split of
    `trending_counts_stream`). Tumbling windows approximate the batch
    query's exact trailing-hour frame within a factor of 2 — the
    standard cost of streamable state.
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n_events")
    )
    _run_to_table(agg, query_name, output_mode)
    return spark.table(query_name)


def cdc_upsert_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "cdc_upsert"
) -> DataFrame:
    """foreachBatch CDC upsert: each micro-batch MERGEs its per-user
    latest event into an accumulated state relation — the streaming
    materialized-view pattern (Kafka CDC topic → MERGE INTO lakehouse
    table) with the merge expressed as union + max_by per key, which
    is exactly what MERGE WHEN MATCHED UPDATE does for a
    last-writer-wins table. State is re-keyed per batch and
    ckpt-truncated so batch k+1 plans against materialized state
    (reliable on a cluster via SPARK_GRAFT_CHECKPOINT_DIR),
    not k chained unions (reliable checkpoint/Delta table in
    production). Batch-split-invariant by construction: max_by over
    (ts, event_id) is associative across batches, so the final state
    equals the batch twin regardless of how the stream was chopped —
    pinned by the stream≡batch test.

    Returns the final state DataFrame (user_id, last_ts, last_op,
    last_value).
    """
    state: dict[str, DataFrame] = {}

    latest = F.max_by(
        F.struct("ts", "event_id", "event_type", "value"),
        F.struct("ts", "event_id"),
    ).alias("s")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.groupBy("user_id").agg(latest)
        prev = state.get("df")
        if prev is not None:
            b = (
                prev.unionByName(b)
                .groupBy("user_id")
                .agg(
                    F.max_by(F.col("s"), F.struct("s.ts", "s.event_id")).alias(
                        "s"
                    )
                )
            )
        from pyspark_movie_recommender_spark.operators.lineage import ckpt

        state["df"] = ckpt(b)

    ev = _events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    q = (
        ev.writeStream.foreachBatch(upsert)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = state["df"]
    return final.select(
        "user_id",
        F.col("s.ts").alias("last_ts"),
        F.col("s.event_type").alias("last_op"),
        F.round(F.col("s.value"), 6).alias("last_value"),
    )


def running_user_stats_stream(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_user_stats"
) -> DataFrame:
    """Per-user running (n_events, total_value, max_value), with the sum
    and max rounded to 6 places, kept by Spark's built-in streaming
    aggregation in update mode: each micro-batch emits the updated row
    of every user it touched, so the LAST emitted row per user equals
    the batch aggregate — the stream≡batch equivalence test pins it."""
    stats = _events_stream(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )
    _run_to_table(stats, query_name, "update")
    return spark.table(query_name)
