"""Stream/batch equivalence: the streaming jobs must produce exactly the
batch results when driven to completion over the same static input
(deterministic AvailableNow replay — SURVEY.md §5/§7 streaming strategy).
"""

from __future__ import annotations

import pytest

from pyspark_movie_recommender_spark import queries as Q
from pyspark_movie_recommender_spark.sources import load_table
from pyspark_movie_recommender_spark.streaming.jobs import (
    dedup_within_watermark_stream,
    session_window_stream,
    tumbling_window_stream,
)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, sf_dir):
    stream = tumbling_window_stream(
        spark, sf_dir, query_name="t_tumble_eq", output_mode="complete"
    )
    batch = Q.QUERIES["tumbling_window_events"](spark, sf_dir)
    assert rows(stream) == rows(batch)


def test_session_window_stream_matches_batch_sessionize(spark, sf_dir):
    stream = session_window_stream(
        spark, sf_dir, query_name="t_sess_eq", output_mode="complete"
    )
    batch = Q.QUERIES["sessionize_events"](spark, sf_dir)
    # same session count per user (start/end representations differ:
    # session_window end = last_ts + gap)
    s = sorted((r.user_id, r.n_events) for r in stream.collect())
    b = sorted((r.user_id, r.n_events) for r in batch.collect())
    assert s == b


def test_streaming_dedup_keeps_all_unique_events(spark, sf_dir):
    out = dedup_within_watermark_stream(spark, sf_dir, query_name="t_dedup_eq")
    n_in = load_table(spark, sf_dir, "events").count()
    # event_id is unique in the source → nothing should be dropped
    assert out.count() == n_in


def test_stateful_running_totals_match_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from pyspark_movie_recommender_spark.streaming.jobs import (
        running_user_totals_stream,
    )

    out = running_user_totals_stream(spark, sf_dir, query_name="t_state_eq")
    # last update per user == batch aggregate
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    s = sorted(tuple(r) for r in out.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert s == b


def _arrival_dirs(spark, sf_dir, tmp_path):
    """Split events into two arrival batches under tmp_path and return
    (source_dir, schema, full_batch_df)."""
    from pyspark.sql import functions as F

    src_dir = tmp_path / "arrivals"
    src_dir.mkdir()
    ev = load_table(spark, sf_dir, "events").select("user_id", "value", "event_id")
    half1 = ev.filter(F.col("event_id") % 2 == 0).select("user_id", "value")
    half2 = ev.filter(F.col("event_id") % 2 == 1).select("user_id", "value")
    half1.coalesce(1).write.parquet(str(src_dir / "batch1"))
    return src_dir, half1.schema, half2, ev.select("user_id", "value")


def test_stateful_resume_from_checkpoint(spark, sf_dir, tmp_path):
    """Streaming-aggregation state RESTORE: two availableNow runs over
    a growing source dir sharing one checkpoint — run 2 must continue
    the per-user (count, total) state from run 1, so its final counts
    equal the batch aggregate over ALL events, not just the new file.
    A third run with no new file is a no-op pass: same totals, and no
    new micro-batch lands in the update log. This is the restart
    contract of a long-lived stateful stream."""
    from pyspark.sql import functions as F

    from pyspark_movie_recommender_spark.streaming.jobs import (
        running_user_totals_resumable,
    )

    src_dir, schema, half2, all_ev = _arrival_dirs(spark, sf_dir, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    running_user_totals_resumable(spark, str(src_dir), schema, sink, ckpt)
    half2.coalesce(1).write.parquet(str(src_dir / "batch2"))
    out2 = running_user_totals_resumable(spark, str(src_dir), schema, sink, ckpt)

    batch = all_ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    # latest update per user across both runs must equal the batch
    # aggregate over ALL events — run 2 only saw batch2's file, so
    # equality proves its state was RESTORED from run 1's checkpoint
    got = {r.user_id: (r.n_events, r.total_value) for r in out2.collect()}
    want = {r.user_id: (r.n_events, r.total_value) for r in batch.collect()}
    assert got == want

    def batch_ids():
        rows = spark.read.parquet(sink).select("batch_id").distinct().collect()
        return sorted(r.batch_id for r in rows)

    ids2 = batch_ids()
    out3 = running_user_totals_resumable(spark, str(src_dir), schema, sink, ckpt)
    got3 = {r.user_id: (r.n_events, r.total_value) for r in out3.collect()}
    assert got3 == want
    assert batch_ids() == ids2


def test_resume_keeps_the_checkpoints_state_partitions(spark, sf_dir, tmp_path):
    """A stateful stream's state-partition count is fixed in its
    checkpoint at the first batch: a checkpoint begun under 8 shuffle
    partitions resumes under a session set to 4 on its own 8 state
    partitions, each of which commits the resumed batch, and the totals
    still equal the batch aggregate."""
    import os

    from pyspark.sql import functions as F

    from pyspark_movie_recommender_spark.streaming.jobs import (
        running_user_totals_resumable,
    )

    src_dir, schema, half2, all_ev = _arrival_dirs(spark, sf_dir, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    key = "spark.sql.shuffle.partitions"
    setting = spark.conf.get(key)
    try:
        spark.conf.set(key, "8")
        running_user_totals_resumable(spark, str(src_dir), schema, sink, ckpt)
        half2.coalesce(1).write.parquet(str(src_dir / "batch2"))
        spark.conf.set(key, "4")
        out = running_user_totals_resumable(spark, str(src_dir), schema, sink, ckpt)
        got = {r.user_id: (r.n_events, r.total_value) for r in out.collect()}
    finally:
        spark.conf.set(key, setting)

    batch = all_ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    assert got == {r.user_id: (r.n_events, r.total_value) for r in batch.collect()}
    state = os.path.join(ckpt, "state", "0")
    parts = sorted(int(d) for d in os.listdir(state) if d.isdigit())
    assert parts == list(range(8))
    for p in parts:  # version 2 is the resumed batch's commit
        assert os.path.exists(os.path.join(state, str(p), "2.delta"))


def test_update_log_reads_int32_batch_ids_as_bigint(spark, tmp_path):
    """Update logs written before ``batch_id`` was stamped as bigint
    hold it as int32; the log reader widens it to its bigint schema."""
    from pyspark.sql.types import LongType, StructField, StructType

    from pyspark_movie_recommender_spark.streaming.jobs import _read_update_log

    sink = str(tmp_path / "sink")
    spark.createDataFrame([(1, 0), (2, 1)], "user_id long, batch_id int").write.parquet(
        sink
    )
    schema = StructType(
        [StructField("user_id", LongType()), StructField("batch_id", LongType())]
    )
    log = _read_update_log(spark, sink, schema)
    assert dict(log.dtypes)["batch_id"] == "bigint"
    assert sorted(tuple(r) for r in log.collect()) == [(1, 0), (2, 1)]


@pytest.mark.parametrize(
    "job", ["running_user_totals_resumable", "user_peaks_resumable"]
)
def test_running_totals_keep_state_in_builtin_aggregation(
    spark, sf_dir, tmp_path, job
):
    """The per-user (count, total) and (count, peak) states are
    associative, so the resumable jobs keep them in Spark's built-in
    streaming aggregation (the JVM state store's ``stateStoreSave``),
    not in a Python-worker state function or transformWithState. The
    checkpoint's operator metadata names the state operator that wrote
    it."""
    from pyspark_movie_recommender_spark.streaming import jobs

    src_dir, schema, _, _ = _arrival_dirs(spark, sf_dir, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    getattr(jobs, job)(spark, str(src_dir), schema, str(tmp_path / "sink"), ckpt)
    ops = spark.read.format("state-metadata").load(ckpt).collect()
    assert [r.operatorName for r in ops] == ["stateStoreSave"]


def test_tws_resume_from_checkpoint(spark, sf_dir, tmp_path):
    """Per-user (count, peak) resume twin of
    ``test_stateful_resume_from_checkpoint``: run 2 continues run 1's
    state, so its latest updates equal the batch aggregate over all
    events."""
    from pyspark.sql import functions as F

    from pyspark_movie_recommender_spark.streaming.jobs import (
        user_peaks_resumable,
    )

    src_dir, schema, half2, all_ev = _arrival_dirs(spark, sf_dir, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    user_peaks_resumable(spark, str(src_dir), schema, sink, ckpt)
    half2.coalesce(1).write.parquet(str(src_dir / "batch2"))
    out2 = user_peaks_resumable(spark, str(src_dir), schema, sink, ckpt)

    batch = all_ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.max("value"), 2).alias("peak_value"),
    )
    got = {r.user_id: (r.n_events, r.peak_value) for r in out2.collect()}
    want = {r.user_id: (r.n_events, r.peak_value) for r in batch.collect()}
    assert got == want


def test_enrich_join_stream_equals_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from pyspark_movie_recommender_spark.streaming.jobs import enrich_join_stream

    stream = enrich_join_stream(spark, sf_dir, query_name="t_enrich_eq")
    batch = (
        load_table(spark, sf_dir, "events")
        .join(
            load_table(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("user_id"), "c_mktsegment"
            ),
            "user_id",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    assert rows(stream) == rows(batch)


def test_checkpointed_availablenow_resume_is_exactly_once(spark, sf_dir, tmp_path):
    """Incremental ingest: two AvailableNow runs over a growing source
    directory, one checkpoint — the second run must process ONLY the
    newly arrived file (no reprocessing, no loss): the exactly-once
    resume contract a 100 TB daily-ingest pipeline leans on."""
    from pyspark.sql import functions as F

    src_dir = tmp_path / "arrivals"
    sink_dir = tmp_path / "sink"
    ckpt_dir = tmp_path / "ckpt"
    src_dir.mkdir()

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    total = ev.count()
    half1 = ev.filter(F.col("event_id") % 2 == 0)
    half2 = ev.filter(F.col("event_id") % 2 == 1)
    half1.coalesce(1).write.parquet(str(src_dir / "batch1"))

    schema = ev.schema

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src_dir))
            .writeStream.format("parquet")
            .option("path", str(sink_dir))
            .option("checkpointLocation", str(ckpt_dir))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.parquet(str(sink_dir)).count()
    assert n1 == half1.count()

    half2.coalesce(1).write.parquet(str(src_dir / "batch2"))
    run_once()
    out = spark.read.parquet(str(sink_dir))
    assert out.count() == total  # nothing lost, nothing duplicated
    assert out.select("event_id").distinct().count() == total


def test_foreachbatch_streaming_upsert(spark, sf_dir, tmp_path):
    """foreachBatch upsert sink: maintain a per-user totals table in
    parquet across micro-batches (merge = full-outer combine + atomic
    overwrite) — the exactly-once-per-batch upsert pattern used where a
    transactional table format isn't available."""
    from pyspark.sql import functions as F

    state_dir = str(tmp_path / "totals")

    def upsert(batch_df, batch_id):
        agg = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("total")
        )
        try:
            prev = batch_df.sparkSession.read.parquet(state_dir)
            merged = (
                prev.unionByName(agg)
                .groupBy("user_id")
                .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
            )
        except Exception:
            merged = agg
        merged.persist()
        merged.count()
        merged.write.mode("overwrite").parquet(state_dir)
        merged.unpersist()

    ev = _events_stream_for_test(spark, sf_dir)
    q = (
        ev.select("user_id", "value")
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        r.user_id: (r.n, round(r.total, 2))
        for r in spark.read.parquet(state_dir).collect()
    }
    want = {
        r.user_id: (r.n, round(r.total, 2))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == want


def _events_stream_for_test(spark, sf_dir):
    from pyspark_movie_recommender_spark.streaming.jobs import _events_stream

    return _events_stream(spark, sf_dir)


def test_transform_with_state_peaks_match_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from pyspark_movie_recommender_spark.streaming.jobs import (
        user_peaks_stream,
    )

    out = user_peaks_stream(spark, sf_dir, query_name="t_peaks_eq")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.max("value"), 2).alias("peak_value"),
        )
    )
    s = sorted(tuple(r) for r in out.collect())
    b = sorted(tuple(r) for r in batch.collect())
    assert s == b


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    from pyspark_movie_recommender_spark.streaming.jobs import (
        stream_stream_interval_join,
    )

    stream = stream_stream_interval_join(spark, sf_dir, query_name="t_ssj_eq")
    batch = Q.QUERIES["interval_join_view_purchase"](spark, sf_dir)
    cols = ["view_id", "purchase_id", "user_id", "view_ts", "purchase_ts",
            "purchase_value"]
    assert rows(stream.select(*cols)) == rows(batch.select(*cols))


def test_ingest_audit_stream_equals_batch(spark, sf_dir):
    """The streaming corruption audit lands on exactly the batch
    query's oracle-checked numbers — same classification expression,
    so stream == batch == DuckDB."""
    from pyspark_movie_recommender_spark import queries as Q
    from pyspark_movie_recommender_spark.streaming.jobs import ingest_audit_stream

    ingest_audit_stream(spark, sf_dir, query_name="ingest_audit_eq")
    got = {
        r.event_type: (r.n_rows, r.n_valid, r.n_corrupt, r.k_sum)
        for r in spark.sql("SELECT * FROM ingest_audit_eq").collect()
    }
    want = {
        r.event_type: (r.n_rows, r.n_valid, r.n_corrupt, r.k_sum)
        for r in Q.QUERIES["robust_json_ingest"](spark, sf_dir).collect()
    }
    assert got == want


def test_trending_stream_counts_equal_batch_and_rank_downstream(spark, sf_dir):
    """The streamed (window, item) view counts equal the batch
    aggregation exactly, and the downstream batch rank over the
    streamed table yields the same per-window top-3 as ranking the
    batch twin — the stream-maintains-counts / batch-ranks split."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W
    from pyspark_movie_recommender_spark.streaming.jobs import (
        trending_counts_stream,
    )

    trending_counts_stream(spark, sf_dir, query_name="trending_eq")
    streamed = spark.sql("SELECT * FROM trending_eq")

    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("ts").cast("timestamp").alias("ts"),
            F.get_json_object("props", "$.k").cast("long").alias("item_id"),
        )
        .groupBy(F.window("ts", "1 hour").alias("w"), "item_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_views"))
        .select(F.col("w.start").alias("window_start"), "item_id", "n_views")
    )
    # append mode emits only CLOSED windows: a window is final once the
    # watermark (max event time - 30 min) passes its end — the last
    # in-flight window is withheld by design. Compare on closed windows.
    max_ts = ev.agg(F.max(F.col("ts").cast("timestamp"))).collect()[0][0]
    import datetime

    cutoff = max_ts - datetime.timedelta(minutes=30)
    closed_batch = batch.filter(
        F.col("window_start") + F.expr("INTERVAL 1 HOUR") <= F.lit(cutoff)
    )
    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in closed_batch.collect()}
    assert got == want and got
    batch = closed_batch

    def top3(df):
        w = W.partitionBy("window_start").orderBy(
            F.desc("n_views"), F.asc("item_id")
        )
        return {
            tuple(r)
            for r in df.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .collect()
        }

    assert top3(streamed) == top3(batch)


def test_left_outer_stream_join_emits_nulls_after_watermark(spark, sf_dir):
    """Left-outer stream-stream join: matched rows equal the batch left
    join's matches; unmatched views emit NULL rows only once the
    watermark proves no purchase can arrive — compare the null set on
    the closed region and require both kinds of rows to exist."""
    import datetime

    from pyspark.sql import functions as F
    from pyspark_movie_recommender_spark.sources import load_table
    from pyspark_movie_recommender_spark.streaming.jobs import (
        stream_stream_left_interval_join,
    )

    stream_stream_left_interval_join(spark, sf_dir, query_name="left_ij_eq")
    streamed = spark.sql("SELECT * FROM left_ij_eq")

    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = views.join(
        purchases,
        F.expr(
            "user_id = p_user_id AND purchase_ts >= view_ts AND "
            "purchase_ts <= view_ts + INTERVAL 30 MINUTES"
        ),
        "left_outer",
    ).select("view_id", "user_id", "view_ts", "purchase_id", "purchase_ts")

    got_matched = {
        tuple(r) for r in streamed.filter(F.col("purchase_id").isNotNull()).collect()
    }
    want_matched = {
        tuple(r) for r in batch.filter(F.col("purchase_id").isNotNull()).collect()
    }
    assert got_matched == want_matched and got_matched

    # null rows: only emittable once the JOIN watermark — min of the
    # two sides' (max event time - 30 min) — passes view_ts + 30 min;
    # compare strictly inside the region closed for BOTH engines
    max_view = views.agg(F.max("view_ts")).collect()[0][0]
    max_purch = purchases.agg(F.max("purchase_ts")).collect()[0][0]
    cutoff = min(max_view, max_purch) - datetime.timedelta(minutes=61)
    got_nulls = {
        tuple(r)
        for r in streamed.filter(
            F.col("purchase_id").isNull() & (F.col("view_ts") <= F.lit(cutoff))
        ).collect()
    }
    want_nulls = {
        tuple(r)
        for r in batch.filter(
            F.col("purchase_id").isNull() & (F.col("view_ts") <= F.lit(cutoff))
        ).collect()
    }
    assert got_nulls == want_nulls and got_nulls


def test_drift_band_counts_stream_equals_batch(spark, sf_dir):
    import pyspark.sql.functions as F

    from pyspark_movie_recommender_spark.streaming.jobs import (
        drift_band_counts_stream,
    )

    stream = drift_band_counts_stream(
        spark, sf_dir, query_name="t_drift_eq"
    )
    ev = load_table(spark, sf_dir, "events")
    edges = ev.agg(
        F.expr(
            "percentile(CAST(ROUND(value * 100) AS BIGINT),"
            " array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))"
        ).alias("e")
    ).first()[0]
    edge_arr = "array(" + ", ".join(f"{v!r}D" for v in edges) + ")"
    batch = (
        ev.select(
            F.expr(
                f"size(filter({edge_arr}, x -> CAST(ROUND(value * 100) AS BIGINT) > x))"
            ).alias("band")
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    assert rows(stream) == rows(batch)
    # ten reference-decile bands, all populated on the static replay
    assert stream.count() == 10


def test_hourly_user_counts_stream_equals_batch(spark, sf_dir):
    import pyspark.sql.functions as F

    from pyspark_movie_recommender_spark.streaming.jobs import (
        hourly_user_counts_stream,
    )

    stream = hourly_user_counts_stream(
        spark, sf_dir, query_name="t_hourly_eq", output_mode="complete"
    )
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.groupBy(
            F.window(F.col("ts").cast("timestamp"), "1 hour").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "user_id", "n_events")
    )
    assert rows(stream) == rows(batch)


def test_cdc_upsert_stream_equals_batch_latest(spark, sf_dir):
    """foreachBatch MERGE accumulation must equal the batch last-event-
    per-user relation regardless of micro-batch splits."""
    import pyspark.sql.functions as F

    from pyspark_movie_recommender_spark.sources import load_table
    from pyspark_movie_recommender_spark.streaming.jobs import cdc_upsert_stream

    got = {
        r.user_id: (r.last_ts, r.last_op, r.last_value)
        for r in cdc_upsert_stream(
            spark, sf_dir, query_name="t_cdc_upsert"
        ).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    want = {
        r.user_id: (r.last_ts, r.last_op, r.last_value)
        for r in ev.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("ts", "event_id", "event_type", "value"),
                F.struct("ts", "event_id"),
            ).alias("s")
        )
        .select(
            "user_id",
            F.col("s.ts").alias("last_ts"),
            F.col("s.event_type").alias("last_op"),
            F.round(F.col("s.value"), 6).alias("last_value"),
        )
        .collect()
    }
    assert got == want


def test_running_user_stats_stream_matches_batch(spark, sf_dir):
    """Per-user running (count, total, max) on the built-in streaming
    aggregation: the last emitted row per user equals the batch
    aggregate exactly."""
    import pyspark.sql.functions as F

    from pyspark_movie_recommender_spark.sources import load_table
    from pyspark_movie_recommender_spark.streaming.jobs import (
        running_user_stats_stream,
    )

    running_user_stats_stream(spark, sf_dir, query_name="t_user_stats")
    out = spark.sql(
        "SELECT user_id, max_by(struct(n_events, total_value, max_value),"
        " n_events) AS s FROM t_user_stats GROUP BY user_id"
    ).select("user_id", "s.n_events", "s.total_value", "s.max_value")
    got = {r.user_id: (r.n_events, r.total_value, r.max_value)
           for r in out.collect()}
    ev = load_table(spark, sf_dir, "events")
    want = {
        r.user_id: (r.n_events, r.total_value, r.max_value)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
        .collect()
    }
    assert got == want
