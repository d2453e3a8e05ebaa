"""Sources & sinks: CSV with real RFC-4180 quoting (the reference's
parsing defect, fixed), JSON, partitioned parquet writes with partition
pruning on read-back.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from pyspark_movie_recommender_spark.sources import (
    load_table,
    read_movies_csv,
    read_ratings_csv,
)


def test_ratings_csv_schema_and_timestamp(spark, tmp_path):
    p = tmp_path / "ratings.csv"
    p.write_text("1,31,2.5,1260759144\n2,1029,3.0,1260759179\n")
    df = read_ratings_csv(spark, str(p))
    rows = df.orderBy("user_id").collect()
    assert [f.name for f in df.schema.fields] == ["user_id", "movie_id", "rating", "ts"]
    assert rows[0].user_id == 1 and rows[0].rating == 2.5
    assert rows[0].ts.year == 2009  # epoch 1260759144 → 2009-12-14, kept not dropped


def test_movies_csv_rfc4180_quoting(spark, tmp_path):
    """The reference's line.split(',') truncates quoted titles
    (recommender.py:137, SURVEY.md §1.2); the real CSV reader must not."""
    p = tmp_path / "movies.csv"
    p.write_text(
        '11,"American President, The (1995)",Comedy|Drama|Romance\n'
        "1,Toy Story (1995),Adventure|Animation|Children|Comedy|Fantasy\n"
        '100,"Quoted ""inner"" title (2000)",(no genres listed)\n'
    )
    df = read_movies_csv(spark, str(p))
    by_id = {r.movie_id: r for r in df.collect()}
    assert by_id[11].title == "American President, The (1995)"  # not truncated
    assert by_id[11].genres == ["Comedy", "Drama", "Romance"]
    assert by_id[100].title == 'Quoted "inner" title (2000)'
    assert by_id[1].genres[0] == "Adventure"


def test_title_year_extraction(spark, tmp_path):
    from pyspark_movie_recommender_spark.functions import title_year

    p = tmp_path / "movies.csv"
    p.write_text('1,Toy Story (1995),Adventure\n2,No Year Title,Drama\n')
    df = read_movies_csv(spark, str(p)).select(
        "movie_id", title_year("title").alias("yr")
    )
    got = {r.movie_id: r.yr for r in df.collect()}
    assert got == {1: 1995, 2: None}


def test_json_source_roundtrip(spark, tmp_path):
    out = str(tmp_path / "events_json")
    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(100)
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(ev.schema).json(out)
    assert back.count() == 100
    assert sorted(back.columns) == sorted(ev.columns)


def test_partitioned_parquet_write_and_pruning(spark, tmp_path):
    out = str(tmp_path / "li_part")
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    # hive-style partition dirs exist
    assert any(d.startswith("l_returnflag=") for d in os.listdir(out))
    back = spark.read.parquet(out)
    q = back.filter(F.col("l_returnflag") == "A").select("l_orderkey", "l_quantity")
    plan = q.queryExecution.executedPlan.toString() if hasattr(q, "queryExecution") else ""
    explained = q._jdf.queryExecution().executedPlan().toString()
    # partition pruning: non-matching partitions never scanned
    assert "PartitionFilters" in explained or "l_returnflag" in explained
    expect = li.filter(F.col("l_returnflag") == "A").count()
    assert q.count() == expect


def test_csv_sink_roundtrip(spark, tmp_path):
    out = str(tmp_path / "nation_csv")
    nation = load_table(spark, "/root/testdata/sf0.001", "nation")
    nation.write.mode("overwrite").option("header", True).csv(out)
    back = spark.read.option("header", True).schema(nation.schema).csv(out)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in nation.collect()
    )


def test_bucketed_tables_join_without_shuffle(spark):
    from pyspark_movie_recommender_spark.plans import count_exchanges
    from pyspark_movie_recommender_spark.sources.tables import write_bucketed

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_totalprice"
    )
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force sort-merge so the assertion proves bucketing (a broadcast
        # join would also show 0 hash exchanges, for the wrong reason)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(li, "li_b", "l_orderkey", n_buckets=8, sort_col="l_orderkey")
        write_bucketed(orders, "ord_b", "o_orderkey", n_buckets=8, sort_col="o_orderkey")
        joined = spark.table("li_b").join(
            spark.table("ord_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        # co-located buckets: the sort-merge join needs NO exchange
        from pyspark_movie_recommender_spark.plans import has_operator

        assert has_operator(joined, "SortMergeJoin")
        assert count_exchanges(joined) == 0
        assert joined.count() == li.join(
            orders, li.l_orderkey == orders.o_orderkey
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.sql("DROP TABLE IF EXISTS li_b")
        spark.sql("DROP TABLE IF EXISTS ord_b")


def test_python_datasource_partitioned_scan(spark):
    from pyspark.sql import functions as F

    from pyspark_movie_recommender_spark.sources import pydatasource

    pydatasource.register(spark)
    docs = (
        spark.read.format("synthetic_docs")
        .option("numRows", 100)
        .option("numPartitions", 7)
        .load()
    )
    # the reader's splits drive scan parallelism
    assert docs.rdd.getNumPartitions() == 7
    assert docs.count() == 100
    # deterministic content: id 9 -> word 'beta' x 5
    row = docs.filter(F.col("id") == 9).collect()[0]
    assert row.body == "beta beta beta beta beta" and row.body_len == len(row.body)


def test_schema_evolution_merge_read(spark, tmp_path):
    """Parquet schema evolution: files written before a column existed
    read back as NULL for that column under mergeSchema — the contract
    a years-long 100 TB table relies on when fields are added."""
    from pyspark.sql import functions as F

    old = spark.range(5).select(F.col("id"), F.lit("a").alias("v1"))
    new = spark.range(5, 10).select(
        F.col("id"), F.lit("b").alias("v1"), (F.col("id") * 10).alias("v2")
    )
    old.write.parquet(str(tmp_path / "t" / "batch=old"))
    new.write.parquet(str(tmp_path / "t" / "batch=new"))
    df = spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "t"))
    assert set(df.columns) == {"id", "v1", "v2", "batch"}
    got = {r.id: r.v2 for r in df.collect()}
    assert got[1] is None and got[7] == 70


def test_load_table_infers_schema_once_per_file_set(spark, tmp_path):
    """``load_table`` infers a table's schema once per file set: a
    second read of the unchanged files submits no Spark job, and a
    table rewritten with an added column is inferred again and returns
    the new column."""
    from pyspark.sql import functions as F

    from pyspark_movie_recommender_spark.sources import load_table

    sc = spark.sparkContext

    def jobs():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup())

    path = str(tmp_path / "region.parquet")
    spark.range(3).select(F.col("id").alias("r_regionkey")).write.parquet(path)
    before = jobs()
    load_table(spark, str(tmp_path), "region")
    assert jobs() - before  # the first read inferred the schema
    before = jobs()
    df = load_table(spark, str(tmp_path), "region")
    assert jobs() == before
    assert df.columns == ["r_regionkey"]

    spark.range(3).select(
        F.col("id").alias("r_regionkey"), F.lit("x").alias("r_name")
    ).write.mode("overwrite").parquet(path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert {r.r_name for r in df.collect()} == {"x"}


def test_compact_parquet_reduces_file_count(spark, sf_dir, tmp_path):
    from pyspark_movie_recommender_spark.sources import load_table
    from pyspark_movie_recommender_spark.sources.tables import compact_parquet

    src = str(tmp_path / "shattered")
    # simulate a streaming sink's small-file output: 64 shards
    load_table(spark, sf_dir, "orders").repartition(64).write.parquet(src)
    import os

    n_in = sum(1 for f in os.listdir(src) if f.endswith(".parquet"))
    assert n_in >= 32
    dst = str(tmp_path / "compacted")
    n_out = compact_parquet(
        spark, src, dst, sort_cols=["o_orderdate"]
    )
    assert n_out < n_in / 8
    assert spark.read.parquet(dst).count() == load_table(
        spark, sf_dir, "orders"
    ).count()


def test_orc_sink_source_roundtrip(spark, sf_dir, tmp_path):
    """ORC is the other columnar format Spark ships natively — verify
    write→read preserves rows, schema, and predicate pushdown."""
    from pyspark.sql import functions as F

    from pyspark_movie_recommender_spark.plans import physical_plan
    from pyspark_movie_recommender_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_orc")
    orders.write.orc(path)
    back = spark.read.orc(path)
    assert back.schema == orders.schema
    assert back.count() == orders.count()
    filtered = back.filter(F.col("o_orderpriority") == "URGENT").select(
        "o_orderkey"
    )
    plan = physical_plan(filtered)
    assert "PushedFilters" in plan  # ORC scan gets pushdown too


def test_text_source_line_per_row(spark, tmp_path):
    """spark.read.text: one line per row in a single `value` column —
    the raw-corpus ingestion path (jsonl/plain dumps) before parsing."""
    p = tmp_path / "corpus.txt"
    p.write_text("alpha beta\ngamma\n\ndelta epsilon zeta\n")
    df = spark.read.text(str(p))
    assert df.columns == ["value"]
    lines = [r.value for r in df.collect()]
    assert lines == ["alpha beta", "gamma", "", "delta epsilon zeta"]


def test_binaryfile_source_payload_and_metadata(spark, tmp_path):
    """binaryFile source: whole-file BinaryType payloads + file metadata
    — the object-store ingestion path for the multimodal operators
    (operators/multimodal.py consumes exactly this shape)."""
    (tmp_path / "a.bin").write_bytes(b"\x00\x01\x02payload-a")
    (tmp_path / "b.bin").write_bytes(b"payload-b")
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(str(tmp_path))
    )
    assert {"path", "modificationTime", "length", "content"} <= set(df.columns)
    rows = {r.path.split("/")[-1]: bytes(r.content) for r in df.collect()}
    assert rows["a.bin"] == b"\x00\x01\x02payload-a"
    assert rows["b.bin"] == b"payload-b"


def test_python_datasource_jsonl_sink_round_trip(spark, tmp_path):
    """Custom Python SINK: partitioned two-phase-commit jsonl writer —
    every row lands exactly once and the commit manifest names exactly
    the files the tasks reported."""
    import json
    import os

    from pyspark.sql import functions as F

    from pyspark_movie_recommender_spark.sources import pydatasource

    pydatasource.register_sink(spark)
    out = str(tmp_path / "jsonl_out")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("doubled")
    )
    df.write.format("jsonl_sink").option("path", out).mode("append").save()

    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert manifest["rows"] == 100
    assert all(os.path.exists(p) for p in manifest["files"])
    back = spark.read.json(manifest["files"])
    assert back.count() == 100
    assert back.agg(F.sum("doubled")).collect()[0][0] == sum(2 * i for i in range(100))


def test_python_datasource_counter_stream_resumes_from_checkpoint(spark, tmp_path):
    """Custom Python STREAMING source: offsets are engine-checkpointed
    dicts — a second trigger-once run resumes at the next offset instead
    of replaying batch one."""
    from pyspark_movie_recommender_spark.sources import pydatasource

    pydatasource.register_stream(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("counter_stream")
            .option("batchSize", 10)
            .load()
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run_once()
    first = {r.id for r in spark.read.json(out).collect()}
    assert first == set(range(10))

    run_once()
    both = {r.id for r in spark.read.json(out).collect()}
    # resumed: the second run appended the NEXT batch, no replay of 0-9
    assert both == set(range(20))


def test_jsonl_sink_clean_uncommitted_orphans(spark, tmp_path):
    """VACUUM for the custom sink: files not named by the commit
    manifest (failed/speculative attempts) are removed; committed files
    and their data survive untouched."""
    import json
    import os

    from pyspark.sql import functions as F

    from pyspark_movie_recommender_spark.sources import pydatasource

    pydatasource.register_sink(spark)
    out = str(tmp_path / "jsonl_vacuum")
    spark.range(50).select("id").write.format("jsonl_sink").option(
        "path", out
    ).mode("append").save()
    # plant an orphan that looks like a task file but was never committed
    orphan = os.path.join(out, "part-deadbeef.jsonl")
    with open(orphan, "w") as f:
        f.write('{"id": 999999}\n')

    removed = pydatasource.clean_uncommitted(out)
    assert removed == [orphan]
    manifest = json.load(open(os.path.join(out, "_MANIFEST.json")))
    assert all(os.path.exists(p) for p in manifest["files"])
    back = spark.read.json(manifest["files"])
    assert back.count() == 50
    assert back.agg(F.max("id")).collect()[0][0] == 49


def test_python_datasource_streaming_sink_manifests_per_batch(spark, tmp_path):
    """Custom STREAMING sink via DataSourceStreamWriter: the counter
    stream written through jsonl_sink publishes one manifest per
    micro-batch naming exactly the committed files; the union of
    manifest files holds each emitted id exactly once."""
    import json
    import os

    from pyspark_movie_recommender_spark.sources import pydatasource

    pydatasource.register_stream(spark)
    pydatasource.register_sink(spark)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("counter_stream")
            .option("batchSize", 7)
            .load()
            .writeStream.format("jsonl_sink")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        q.stop()

    run_once()
    run_once()  # second epoch appends; checkpoint prevents replay

    manifests = sorted(
        f for f in os.listdir(out) if f.startswith("_MANIFEST-")
    )
    assert len(manifests) >= 2, manifests
    seen: list[int] = []
    total_rows = 0
    for mf in manifests:
        with open(os.path.join(out, mf)) as f:
            m = json.load(f)
        total_rows += m["rows"]
        for path in m["files"]:
            with open(path) as fh:
                seen += [json.loads(line)["id"] for line in fh]
    assert sorted(seen) == list(range(14))
    assert total_rows == 14
    # every committed file exists and no uncommitted data file remains
    committed = {
        p
        for mf in manifests
        for p in json.load(open(os.path.join(out, mf)))["files"]
    }
    on_disk = {
        os.path.join(out, f)
        for f in os.listdir(out)
        if f.startswith("part-") and f.endswith(".jsonl")
    }
    assert on_disk == committed


def test_dynamic_partition_overwrite_preserves_others(spark, sf_dir, tmp_path):
    """INSERT OVERWRITE with partitionOverwriteMode=dynamic replaces
    ONLY the partitions present in the incoming batch — the idempotent
    daily-reload pattern (re-run yesterday without clobbering history).
    Static mode (the default) would truncate the whole table."""
    import os

    from pyspark_movie_recommender_spark.sources import load_table

    path = str(tmp_path / "orders_part")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    orders.write.partitionBy("o_orderpriority").parquet(path)
    before = spark.read.parquet(path)
    n_before = before.count()
    n_urgent_before = before.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).count()

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # reload ONLY the urgent partition, halving its rows
        replacement = (
            before.filter(F.col("o_orderpriority") == "1-URGENT")
            .filter(F.col("o_orderkey") % 2 == 0)
        )
        replacement.write.mode("overwrite").partitionBy(
            "o_orderpriority"
        ).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    after = spark.read.parquet(path)
    n_urgent_after = after.filter(F.col("o_orderpriority") == "1-URGENT").count()
    assert 0 < n_urgent_after < n_urgent_before
    # every other partition untouched
    assert (
        after.filter(F.col("o_orderpriority") != "1-URGENT").count()
        == n_before - n_urgent_before
    )
    # partition dirs still exist on disk for other priorities
    assert len([d for d in os.listdir(path) if d.startswith("o_orderpriority=")]) == 5


def test_metadata_columns_expose_file_lineage(spark, sf_dir, tmp_path):
    """The hidden _metadata struct gives row-level file lineage
    (file_path, row_index) without any bookkeeping columns — the
    debugging/backfill surface for 'which input file produced this
    row'."""
    path = str(tmp_path / "li")
    from pyspark_movie_recommender_spark.sources import load_table

    load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).repartition(4).write.parquet(path)
    df = spark.read.parquet(path).select(
        "l_orderkey",
        F.col("_metadata.file_name").alias("fname"),
        F.col("_metadata.row_index").alias("ridx"),
    )
    per_file = df.groupBy("fname").agg(
        F.count(F.lit(1)).alias("n"), F.max("ridx").alias("max_idx")
    )
    rows = per_file.collect()
    assert len(rows) == 4
    # row_index is 0-based within each file: max index == count - 1
    assert all(r.max_idx == r.n - 1 for r in rows)
