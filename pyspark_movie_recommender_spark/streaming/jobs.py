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


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the events parquet (nanos ts handled as in
    the batch loader — see sources/tables.py)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, "events.parquet")
    schema = spark.read.parquet(path).schema
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
    window: str = "1 hour",
    watermark: str = "1 hour",
    query_name: str = "stream_tumbling",
    output_mode: str = "append",
) -> DataFrame:
    """Windowed streaming aggregation with a watermark for late data.

    In append mode a window only emits once the watermark passes its
    end — state is bounded by (watermark + window) regardless of
    stream length, the property that matters at 100 TB/day ingest.
    (That also means windows still inside the horizon when a bounded
    replay ends never emit; equivalence tests use complete mode.)
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
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
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    query_name: str = "stream_sessions",
    output_mode: str = "append",
) -> DataFrame:
    """Native session windows (gap-based), the streaming twin of the
    batch ``sessionize_events`` lag+cumsum query."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), "user_id")
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
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "1 hour",
    query_name: str = "stream_dedup",
) -> DataFrame:
    """Stateful streaming dedup on event_id with bounded state
    (``dropDuplicatesWithinWatermark``): duplicates arriving within the
    watermark horizon are dropped; state older than it is evicted."""
    ev = _events_stream(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", watermark)
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
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count + value total, state carried across micro-batches.

    The state dict is tiny (two numbers per user) and keyed by the
    shuffle partitioning, so state size scales with |users|, not
    |events| — the invariant that keeps arbitrary-state operators
    viable on unbounded streams.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = _events_stream(spark, sf_dir).select("user_id", "value")

    out = ev.groupBy("user_id").applyInPandasWithState(
        _stateful_update_fn(),
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_to_table(out, query_name, "update")
    return spark.table(query_name)


def _stateful_update_fn():
    """The per-user (count, total) update used by both the one-shot and
    the resumable applyInPandasWithState jobs — one definition so the
    resume test exercises EXACTLY the production update logic."""
    import pandas as pd

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return update


def _require_protobuf(spark: SparkSession, alternative: str | None = None) -> None:
    """The transformWithState gate: wire up a protobuf runtime for the
    session's Python workers (protobuf_compat), else raise ImportError
    naming ``alternative``, the applyInPandasWithState job to use
    where no runtime exists."""
    from pyspark_movie_recommender_spark.streaming.protobuf_compat import (
        enable_for_session,
    )

    reason = enable_for_session(spark)
    if reason is None:
        return
    hint = ""
    if alternative is not None:
        hint = f"; use {alternative} (applyInPandasWithState) where it is unavailable"
    raise ImportError(
        f"transformWithStateInPandas requires the protobuf package{hint} — {reason}"
    )


def _user_peaks_processor():
    """The per-user (count, peak) transformWithState processor used by
    both the one-shot and the resumable user-peaks jobs — one
    definition so the resume test exercises EXACTLY the production
    update logic."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    state_schema = StructType(
        [StructField("n", LongType(), True), StructField("peak", DoubleType(), True)]
    )

    class UserPeaks(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("peaks", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, peak = 0, float("-inf")
            if self._state.exists():
                n, peak = self._state.get()
            for pdf in rows:
                n += len(pdf)
                peak = max(peak, float(pdf["value"].max()))
            self._state.update((n, peak))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "peak_value": [round(peak, 2)]}
            )

        def close(self) -> None:
            pass

    return UserPeaks()


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
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(sink_dir)

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _read_update_log(spark: SparkSession, sink_dir: str, schema_ddl: str) -> DataFrame:
    """Read the foreachBatch parquet log, tolerating a sink that never
    materialized: an availableNow pass over an empty source dir runs
    zero micro-batches, foreachBatch never fires, and the path does not
    exist — that is an empty log, not an error. A sink dir that EXISTS
    but holds no parquet parts (a crashed run that died before its
    first batch committed) is equally an empty log: reading it would
    raise a schema-inference error, so glob first (round-6 advice)."""
    if not os.path.isdir(sink_dir) or not glob.glob(
        os.path.join(sink_dir, "**", "*.parquet"), recursive=True
    ):
        return spark.createDataFrame([], schema_ddl)
    return spark.read.parquet(sink_dir)


_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


class _rocksdb_state_store:
    """Scope the RocksDB state-store provider to one streaming run.

    transformWithState requires RocksDB, but setting the provider
    session-wide would silently switch it for every LATER stateful
    stream in the session — a checkpoint-compatibility hazard for
    checkpoints created under the default (HDFS-backed) provider. The
    conf is read at query START, so set-around-start/restore-after is
    sufficient scoping.
    """

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._prior: str | None = None

    def __enter__(self):
        self._prior = self._spark.conf.get(_PROVIDER_KEY, None)
        self._spark.conf.set(_PROVIDER_KEY, _ROCKSDB_PROVIDER)
        return self

    def __exit__(self, *exc):
        if self._prior is None:
            self._spark.conf.unset(_PROVIDER_KEY)
        else:
            self._spark.conf.set(_PROVIDER_KEY, self._prior)
        return False


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
    latest update per user across all runs so far."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(source_dir)
        .select("user_id", "value")
    )
    out = ev.groupBy("user_id").applyInPandasWithState(
        _stateful_update_fn(),
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _run_updates_to_parquet(out, sink_dir, checkpoint_dir)
    log = _read_update_log(
        spark,
        sink_dir,
        "user_id bigint, n_events bigint, total_value double, batch_id bigint",
    )
    return log.groupBy("user_id").agg(
        F.expr("max_by(n_events, batch_id)").alias("n_events"),
        F.expr("max_by(total_value, batch_id)").alias("total_value"),
    )


def user_peaks_tws_resumable(
    spark: SparkSession,
    source_dir: str,
    schema,
    sink_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Resume-from-checkpoint form of ``user_peaks_transform_with_state``
    (Spark 4 transformWithStateInPandas + RocksDB state store): same
    arriving-files source and checkpoint contract as
    :func:`running_user_totals_resumable`. Carries the same protobuf
    gate — protobuf_compat wires up the bundled runtime (so this runs
    for real here); only where NO runtime exists does the gate fire,
    with the applyInPandasWithState twin covering resume semantics.
    """
    _require_protobuf(spark, "running_user_totals_resumable")
    ev = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(source_dir)
        .select("user_id", "value")
    )
    out = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_user_peaks_processor(),
        outputStructType="user_id bigint, n_events bigint, peak_value double",
        outputMode="Update",
        timeMode="None",
    )
    with _rocksdb_state_store(spark):
        _run_updates_to_parquet(out, sink_dir, checkpoint_dir)
    log = _read_update_log(
        spark,
        sink_dir,
        "user_id bigint, n_events bigint, peak_value double, batch_id bigint",
    )
    return log.groupBy("user_id").agg(
        F.expr("max_by(n_events, batch_id)").alias("n_events"),
        F.expr("max_by(peak_value, batch_id)").alias("peak_value"),
    )


def user_peaks_transform_with_state(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "stream_user_peaks",
) -> DataFrame:
    """Arbitrary stateful streaming on the Spark 4 ``transformWithState``
    API (SPARK-46815): per-user running event count and peak value kept
    in typed ValueState, updated per micro-batch.

    Compared to ``applyInPandasWithState`` (kept in
    ``running_user_totals_stream`` as the 3.x-era form), the processor
    object gets explicit state handles, timers, and schema evolution —
    and requires the RocksDB state store, the provider that scales state
    past executor memory (the 100 TB-stream requirement).

    Gated: the TWS protocol speaks protobuf between the JVM and the
    Python driver worker; raises ImportError with guidance when no
    ``google.protobuf`` runtime can be wired up (protobuf_compat first
    tries the container's bundled pure-Python runtime — with it, this
    path runs for real and the stream≡batch test pins it).
    """
    _require_protobuf(spark, "running_user_totals_stream")

    ev = _events_stream(spark, sf_dir).select("user_id", "value")
    out = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_user_peaks_processor(),
        outputStructType="user_id bigint, n_events bigint, peak_value double",
        outputMode="Update",
        timeMode="None",
    )
    with _rocksdb_state_store(spark):
        _run_to_table(out, query_name, "update")
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
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "drift_bands",
    output_mode: str = "complete",
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
    _run_to_table(agg, query_name, output_mode)
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


def running_user_stats_tws(
    spark: SparkSession, sf_dir: str, query_name: str = "tws_user_stats"
) -> None:
    """transformWithStateInPandas (the Spark 4 arbitrary-state API that
    supersedes applyInPandasWithState): per-user running (n_events,
    total_value, max_value) kept in a typed ValueState, updated row
    emitted per key per micro-batch in Update mode. The state schema
    is declared (not pickled blobs), state lives in the state store
    (RocksDB on a real cluster — checkpointable, rescalable), and the
    processor sees Arrow batches per key. Counts/sums are exact longs
    + rounded doubles, so the LAST emitted row per user must equal
    the batch aggregate — the stream≡batch equivalence test pins it.

    Environment gate: the transformWithState protocol speaks protobuf
    between JVM and the Python driver worker; raises ImportError only
    when protobuf_compat can wire up no runtime at all (this container
    carries a bundled pure-Python one, so the path runs for real).
    """
    _require_protobuf(spark)

    import pandas as pd

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "stats", "n bigint, total double, mx double"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total, mx = 0, 0.0, float("-inf")
            if self._state.exists():
                n, total, mx = self._state.get()
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                mx = max(mx, float(pdf["value"].max()))
            self._state.update((n, total, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [round(total, 6)],
                    "max_value": [round(mx, 6)],
                }
            )

        def close(self) -> None:
            pass

    ev = _events_stream(spark, sf_dir).select("user_id", "value")
    out = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningStats(),
        outputStructType=(
            "user_id bigint, n_events bigint,"
            " total_value double, max_value double"
        ),
        outputMode="Update",
        timeMode="None",
    )
    with _rocksdb_state_store(spark):
        _run_to_table(out, query_name, "update")
