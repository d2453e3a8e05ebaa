"""Plan-shape regression tests: the physical properties the 100 TB
design depends on, pinned. If one of these fails after a refactor, the
query got slower at scale even if answers stay right.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_movie_recommender_spark import queries as Q
from pyspark_movie_recommender_spark.plans import (
    count_exchanges,
    has_operator,
    has_pushed_filter,
    physical_plan,
    scan_read_schema,
)
from pyspark_movie_recommender_spark.sources import load_table


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = Q.QUERIES["filter_predicates"](spark, sf_dir)
    assert has_pushed_filter(df, "l_quantity")
    assert has_pushed_filter(df, "l_returnflag")


def test_column_pruning_projects_only_needed(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    schemas = scan_read_schema(df)
    assert schemas and all("l_extendedprice" not in s for s in schemas)
    assert any("l_orderkey" in s for s in schemas)


def test_global_topk_is_take_ordered_not_full_sort(spark, sf_dir):
    df = Q.QUERIES["top_lineitems_global"](spark, sf_dir)
    assert has_operator(df, "TakeOrderedAndProject")


def test_per_group_topk_uses_window_group_limit(spark, sf_dir):
    df = Q.QUERIES["flagship_top_orders_per_customer"](spark, sf_dir)
    assert has_operator(df, "WindowGroupLimit")


def test_nation_join_is_broadcast(spark, sf_dir):
    df = Q.QUERIES["revenue_per_nation"](spark, sf_dir)
    assert has_operator(df, "BroadcastHashJoin")


def test_aggregation_is_partial_then_final(spark, sf_dir):
    df = Q.QUERIES["pricing_summary"](spark, sf_dir)
    plan = physical_plan(df)
    # partial+final HashAggregate pair = map-side combine before shuffle
    assert plan.count("HashAggregate") >= 2


def test_asof_join_is_single_shuffle(spark, sf_dir):
    df = Q.QUERIES["asof_join_purchases"](spark, sf_dir)
    # union + one window: exactly one hash exchange (on user_id)
    assert count_exchanges(df) == 1


def test_window_suite_shares_one_shuffle(spark, sf_dir):
    df = Q.QUERIES["window_order_history"](spark, sf_dir)
    # two window specs (custkey-ordered by date, custkey-ordered by status)
    # over ONE partitioning → one hash exchange
    assert count_exchanges(df) == 1


def test_cosine_topk_corpus_not_shuffled_before_scoring(spark, sf_dir):
    df = Q.QUERIES["cosine_topk"](spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan  # probes broadcast to corpus


def test_ivf_cell_assignment_is_map_side(spark, sf_dir):
    df = Q.QUERIES["ann_ivf_topk"](spark, sf_dir)
    plan = physical_plan(df)
    # exactly one shuffle in the whole query: the final per-probe top-k
    # window. Corpus→cell assignment is a map-side pandas UDF and the
    # cell join broadcasts the probes, so the corpus is never shuffled.
    assert count_exchanges(df) == 1
    assert "BroadcastHashJoin" in plan
    # the assignment UDF must run ONCE over the corpus: a nullable cell
    # key would make the join re-evaluate it behind an isnotnull filter.
    # (formatted plans list each node twice — tree + detail header; count
    # detail headers: corpus cell, probe cells, cosine scoring = 3)
    import re

    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 3


def test_forward_fill_is_single_exchange_pipeline(spark, sf_dir):
    df = Q.QUERIES["forward_fill_user_value"](spark, sf_dir)
    # daily agg, span agg, grid join and fill window all hash by user_id;
    # AQE may materialize stages but only user_id exchanges should exist
    plan = physical_plan(df)
    assert "rangepartitioning" not in plan.lower()
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "user_id" in line, line


def test_sales_opportunity_anti_join_and_scalar_broadcast(spark, sf_dir):
    df = Q.QUERIES["global_sales_opportunity"](spark, sf_dir)
    plan = physical_plan(df)
    # NOT EXISTS must plan as an anti join, never a cartesian filter
    assert "LeftAnti" in plan
    # the scalar average reaches the fact side via broadcast
    assert "BroadcastExchange" in plan


def test_variant_shred_stays_in_codegen_until_agg(spark, sf_dir):
    df = Q.QUERIES["variant_shred_events"](spark, sf_dir)
    plan = physical_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_no_query_uses_row_at_a_time_python(spark, sf_dir):
    """Global invariant: every registered query stays JVM-side or uses
    Arrow-batched Python (ArrowEvalPython / MapInPandas / udtf) — a
    BatchEvalPython node means a row-at-a-time UDF crept into a hot
    path. Streaming and ALS queries are skipped (building them executes
    jobs/training, and their transforms are shared with batch twins)."""
    skipped = ("streaming_", "als_")
    for name, fn in Q.QUERIES.items():
        if name.startswith(skipped):
            continue
        plan = physical_plan(fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name


def test_aqe_coalesces_small_shuffle_partitions(spark, sf_dir):
    """Runtime scale behavior: AQE shrinks the 32 configured shuffle
    partitions to a handful for a tiny aggregate output — the property
    that keeps small stages from fragmenting into thousands of no-op
    tasks on a real cluster."""
    df = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .count()
    )
    configured = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert df.rdd.getNumPartitions() < configured


def test_zorder_key_is_pure_map_side(spark, sf_dir):
    df = Q.QUERIES["zorder_layout_orders"](spark, sf_dir)
    # bit-interleave is a projection: zero exchanges, nothing but the scan
    assert count_exchanges(df) == 0
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hash_sample_prunes_before_shuffle(spark, sf_dir):
    df = Q.QUERIES["per_group_hash_sample"](spark, sf_dir)
    # rn <= 3 filter must compile to WindowGroupLimit (k rows per group
    # per partition cross the wire, not the corpus)
    assert has_operator(df, "WindowGroupLimit")


def test_inverted_index_two_exchanges_window_reused(spark, sf_dir):
    df = Q.QUERIES["inverted_index_postings"](spark, sf_dir)
    # (tok, doc) partial-agg shuffle + tok shuffle; the final token agg
    # reuses the window's partitioning (no third exchange)
    assert count_exchanges(df) == 2


def test_lateral_topk_decorrelates_to_group_limit(spark, sf_dir):
    df = Q.QUERIES["lateral_topk_per_nation"](spark, sf_dir)
    # the correlated LATERAL ... LIMIT must NOT replay the subquery per
    # outer row: Catalyst rewrites it into the windowed group-limit form
    plan = physical_plan(df)
    assert "WindowGroupLimit" in plan or "Window" in plan


def test_pit_join_dim_is_broadcast(spark, sf_dir):
    df = Q.QUERIES["pit_join_orders_scd2"](spark, sf_dir)
    assert has_operator(df, "BroadcastHashJoin")


def test_table_checksum_single_exchange(spark, sf_dir):
    df = Q.QUERIES["table_checksum_orders"](spark, sf_dir)
    # map-side modular partials; only the 5-group final agg shuffles
    assert count_exchanges(df) <= 1


def test_q10_top_customers_is_take_ordered(spark, sf_dir):
    df = Q.QUERIES["returned_revenue_top_customers"](spark, sf_dir)
    assert has_operator(df, "TakeOrderedAndProject")
    # returnflag filter must reach the lineitem scan
    from pyspark_movie_recommender_spark.plans import has_pushed_filter
    assert has_pushed_filter(df, "l_returnflag")


def test_q15_rank_prunes_with_group_limit(spark, sf_dir):
    df = Q.QUERIES["top_supplier_per_quarter"](spark, sf_dir)
    assert has_operator(df, "WindowGroupLimit")


def test_q19_disjunction_pushes_conjuncts_to_scans(spark, sf_dir):
    df = Q.QUERIES["disjunctive_pushdown_revenue"](spark, sf_dir)
    from pyspark_movie_recommender_spark.plans import has_pushed_filter
    # CNF conversion: the brand IN-list and quantity range reach scans
    assert has_pushed_filter(df, "p_brand")
    assert has_pushed_filter(df, "l_quantity")


def test_pii_redaction_is_shuffle_free(spark, sf_dir):
    df = Q.QUERIES["pii_redact_documents"](spark, sf_dir)
    assert count_exchanges(df) == 0
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_int8_quantize_is_shuffle_free(spark, sf_dir):
    df = Q.QUERIES["embedding_int8_quantize"](spark, sf_dir)
    assert count_exchanges(df) == 0


def test_q6_is_pure_scan_agg_with_pushdown(spark, sf_dir):
    df = Q.QUERIES["forecast_revenue_q6"](spark, sf_dir)
    # every predicate reaches the scan; only the single-row final agg
    # crosses the wire
    assert has_pushed_filter(df, "l_shipdate")
    assert has_pushed_filter(df, "l_discount")
    assert has_pushed_filter(df, "l_quantity")
    # zero hash shuffles — only the SinglePartition gather of one partial
    # row per task
    assert count_exchanges(df) == 0


def test_q21_scans_fact_once_no_expand(spark, sf_dir):
    df = Q.QUERIES["sole_late_supplier_orders"](spark, sf_dir)
    plan = physical_plan(df)
    # windowed decorrelation: one lineitem scan, no COUNT(DISTINCT) expand
    assert plan.count("lineitem.parquet") == 1
    assert "Expand" not in plan


def test_q11_global_total_is_broadcast_not_recomputed(spark, sf_dir):
    df = Q.QUERIES["important_part_revenue_share"](spark, sf_dir)
    # the scalar total joins back as a broadcast, never per-row recompute
    assert has_operator(df, "BroadcastNestedLoopJoin")
    # the two agg branches are exchange-reuse-eligible: with static
    # planning the second fact scan dedups to a ReusedExchange (under AQE
    # the same dedup happens at runtime stage materialization)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df2 = Q.QUERIES["important_part_revenue_share"](spark, sf_dir)
        plan = physical_plan(df2)
        assert "ReusedExchange" in plan
        assert plan.count("lineitem.parquet") == 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """The 100-TB semi-join-reduction lever: with a selective dim filter
    and a shuffle join, the optimizer injects a bloom-filter subquery on
    the fact side (`might_contain(...)` above the scan) so non-matching
    fact rows die before the shuffle. Local thresholds are loosened —
    at real scan sizes the defaults trigger on their own."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        assert "might_contain" in physical_plan(j)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """The other big scan-elimination lever beside bloom filters: a fact
    laid out with `partitionBy(key)` joined to a filtered dim plans a
    `dynamicpruning` subquery on the partition column — whole partitions
    of the fact are skipped at runtime based on the dim's surviving
    keys, before any fact IO happens."""
    fact_dir = str(tmp_path / "orders_by_priority")
    load_table(spark, sf_dir, "orders").write.partitionBy(
        "o_orderpriority"
    ).parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [("1-URGENT", 1), ("2-HIGH", 2)], "prio string, rank int"
    ).filter(F.col("rank") == 1)
    j = fact.join(
        F.broadcast(dim), fact.o_orderpriority == dim.prio
    ).groupBy("prio").count()
    assert "dynamicpruning" in physical_plan(j).lower()


def test_parquet_aggregate_pushdown_count_min_max(spark, sf_dir):
    """COUNT/MIN/MAX over a raw parquet scan can be answered from footer
    statistics alone (DataSource V2 + aggregatePushdown): the scan node
    carries PushedAggregation and no data pages are decoded. The
    metadata-only answer to 'how big is this 100 TB table' — IO goes
    from table-sized to footer-sized."""
    saved = {
        "spark.sql.parquet.aggregatePushdown": spark.conf.get(
            "spark.sql.parquet.aggregatePushdown"
        ),
        "spark.sql.sources.useV1SourceList": spark.conf.get(
            "spark.sql.sources.useV1SourceList"
        ),
    }
    try:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        import os

        df = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_orderkey").alias("lo"),
            F.max("l_orderkey").alias("hi"),
        )
        plan = physical_plan(agg)
        assert "PushedAggregation" in plan
        assert "count(*)" in plan.lower() or "COUNT(*)" in plan
        # and the footer answer matches the data answer
        row = agg.collect()[0]
        assert row.n == df.count()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join handling, observed in the FINAL adaptive plan: one
    hot key owning ~90% of the left side gets its partition split
    (SortMergeJoin tagged skew=true) instead of one straggler task
    dragging the stage. Thresholds are shrunk to fire at local sizes —
    at 100 TB the defaults (256 MB, 5x median) fire on real skew."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        left = spark.range(200000).select(
            F.when(F.col("id") % 10 == 0, F.col("id")).otherwise(0).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("w")
        )
        j = left.join(right, "k")
        j.collect()  # materialize THIS query execution so AQE finalizes it
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_cbo_stats_drive_join_strategy(spark, tmp_path):
    """Cost-based optimizer wiring: ANALYZE TABLE ... COMPUTE STATISTICS
    FOR ALL COLUMNS on a managed table puts rowCount into the optimized
    plan's statistics, and a join against the small analyzed table plans
    as BroadcastHashJoin WITHOUT a broadcast hint — table-level stats,
    not just file sizes, feed the planner. On a real warehouse this is
    what makes join ORDER decisions survive views and filters that hide
    file-size estimates.
    """
    spark.sql("DROP TABLE IF EXISTS cbo_dim")
    spark.sql("DROP TABLE IF EXISTS cbo_fact")
    try:
        spark.range(0, 50).selectExpr(
            "id AS k", "concat('name-', id) AS name"
        ).write.saveAsTable("cbo_dim")
        spark.range(0, 100000).selectExpr(
            "id AS pk", "id % 50 AS k", "id * 3 AS v"
        ).write.saveAsTable("cbo_fact")
        spark.sql("ANALYZE TABLE cbo_dim COMPUTE STATISTICS FOR ALL COLUMNS")
        spark.sql("ANALYZE TABLE cbo_fact COMPUTE STATISTICS")
        prev = spark.conf.get("spark.sql.cbo.enabled", "false")
        spark.conf.set("spark.sql.cbo.enabled", "true")
        try:
            df = spark.sql(
                "SELECT f.pk, d.name FROM cbo_fact f JOIN cbo_dim d ON f.k = d.k"
            )
            optimized = (
                df._jdf.queryExecution().optimizedPlan().stats().toString()
            )
            assert "rowCount" in optimized, optimized
            plan = physical_plan(df)
            assert "BroadcastHashJoin" in plan
        finally:
            spark.conf.set("spark.sql.cbo.enabled", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS cbo_dim")
        spark.sql("DROP TABLE IF EXISTS cbo_fact")


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """Strategy hints override the planner's default pick: the same
    equi-join plans as SortMergeJoin under MERGE, ShuffledHashJoin
    under SHUFFLE_HASH, and BroadcastHashJoin under BROADCAST — the
    manual override lever when statistics mislead (skewed builds,
    memory-tight executors)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    def plan_with(hint: str) -> str:
        return physical_plan(
            orders.join(customer.hint(hint), orders.o_custkey == customer.c_custkey)
        )

    assert "SortMergeJoin" in plan_with("MERGE")
    assert "ShuffledHashJoin" in plan_with("SHUFFLE_HASH")
    assert "BroadcastHashJoin" in plan_with("BROADCAST")


def test_observe_metrics_ride_the_job(spark, sf_dir):
    """df.observe(): data-quality metrics (row count, sum, null count)
    collected DURING the real job — no second scan, no extra action.
    The on-the-fly audit lever for production writes; values must equal
    a direct aggregation."""
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("orders_audit")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
            "cents"
        ),
        F.sum(F.col("o_custkey").isNull().cast("int")).alias("null_keys"),
    )
    observed.write.format("noop").mode("overwrite").save()
    direct = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
            "cents"
        ),
    ).collect()[0]
    got = obs.get
    assert got["n"] == direct["n"]
    assert got["cents"] == direct["cents"]
    assert got["null_keys"] == 0


def test_aqe_converts_smj_to_broadcast_at_runtime(spark, sf_dir):
    """AQE re-plans with RUNTIME sizes: a join whose build side is a
    shuffled aggregate (static size unknown → SortMergeJoin planned)
    becomes a BroadcastHashJoin in the final adaptive plan once the
    actual shuffle output turns out tiny — the third AQE lever pinned
    here beside partition coalescing and skew splitting."""
    prev_static = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_adaptive = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    # static planner: never broadcast; AQE: broadcast from RUNTIME sizes
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
    try:
        orders = load_table(spark, sf_dir, "orders")
        dim = orders.groupBy("o_orderpriority").agg(
            F.avg("o_totalprice").alias("avg_price")
        )
        joined = orders.join(dim, "o_orderpriority").select(
            "o_orderkey", "avg_price"
        )
        initial = physical_plan(joined)
        assert "SortMergeJoin" in initial, initial
        joined.collect()
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "AdaptiveSparkPlan isFinalPlan=true" in final
        assert "BroadcastHashJoin" in final, final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_static)
        if prev_adaptive:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", prev_adaptive
            )
        else:
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_sql_scripting_control_flow(spark, sf_dir):
    """Spark 4 SQL scripting: BEGIN/DECLARE/WHILE control flow executes
    server-side and the script's final SELECT is the result — the
    procedural surface for migration-style logic without a driver
    round-trip per statement."""
    prev = spark.conf.get("spark.sql.scripting.enabled", "false")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        out = spark.sql(
            """
            BEGIN
              DECLARE total BIGINT DEFAULT 0;
              DECLARE i INT DEFAULT 0;
              WHILE i < 3 DO
                SET total = total + i;
                SET i = i + 1;
              END WHILE;
              SELECT total AS looped_sum;
            END
            """
        ).collect()
        assert out[0].looped_sum == 3
    finally:
        spark.conf.set("spark.sql.scripting.enabled", prev)


def test_null_safe_join_is_hash_join_not_bnlj(spark, sf_dir):
    """eqNullSafe keys stay HASHABLE: the null-safe join plans as a
    hash/sort-merge equi-join, never a nested-loop — nullable merge
    keys don't cost O(n*m)."""
    plan = physical_plan(Q.QUERIES["null_safe_join_events"](spark, sf_dir))
    assert "NestedLoop" not in plan, plan
    assert ("HashJoin" in plan) or ("SortMergeJoin" in plan), plan


def test_reused_exchange_dedups_identical_subplans(spark, sf_dir):
    """Identical subplans referenced twice (self-union of one shuffled
    aggregate) plan ONE exchange plus a ReusedExchange — Spark's
    common-subplan dedup, the reason a report can reference the same
    rollup many times without paying for it twice."""
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")).alias(
            "cents"
        )
    )
    both = agg.unionAll(agg)
    both.collect()
    final = both._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final or "ReusedQueryStage" in final, final


def test_preference_pairs_single_agg_no_window(spark, sf_dir):
    """The packed argmax/argmin aggregate replaces two rank windows:
    exactly one pass of partial+final HashAggregate, zero Window
    operators."""
    df = Q.QUERIES["preference_pairs_by_quality"](spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan, plan
    assert count_exchanges(df) == 1, plan


def test_token_dropout_is_shuffle_free(spark, sf_dir):
    df = Q.QUERIES["token_dropout_augment"](spark, sf_dir)
    assert count_exchanges(df) == 0, physical_plan(df)


def test_spatial_join_broadcasts_replicated_dim_no_cartesian(spark, sf_dir):
    """The grid join must be a broadcast hash join on the cell key —
    never a cartesian/nested-loop — with the 9x replication confined
    to the small side."""
    plan = physical_plan(Q.QUERIES["spatial_proximity_pairs"](spark, sf_dir))
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_weighted_sample_is_take_ordered(spark, sf_dir):
    """A-ES weighted sampling must lower to per-partition top-k heaps
    (TakeOrderedAndProject), never a global sort."""
    df = Q.QUERIES["weighted_sample_parts"](spark, sf_dir)
    assert has_operator(df, "TakeOrderedAndProject")


def test_jl_projection_is_shuffle_free(spark, sf_dir):
    """JL sign projection is a pure map-side rewrite: zero exchanges."""
    df = Q.QUERIES["jl_random_projection"](spark, sf_dir)
    assert count_exchanges(df) == 0


def test_sorted_neighborhood_join_is_equi_not_nested_loop(spark, sf_dir):
    """The rank-window neighbor join must stay a hash equi-join (left
    side explodes rn+1..rn+w) — a range predicate would nested-loop."""
    df = Q.QUERIES["sorted_neighborhood_parts"](spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --- wave 169+ plan pins ----------------------------------------------------


def test_jarque_bera_single_census_no_exchange_of_rows(spark, sf_dir):
    df = Q.QUERIES["jarque_bera_order_values"](spark, sf_dir)
    plan = physical_plan(df)
    # streaming moment census: partial+final agg, no sort anywhere
    assert plan.count("HashAggregate") >= 2
    assert "Sort" not in plan or "TakeOrdered" in plan


def test_decision_stump_fact_read_once(spark, sf_dir):
    df = Q.QUERIES["decision_stump_price_returnflag"](spark, sf_dir)
    plan = physical_plan(df)
    # one parquet scan of lineitem (node + its formatted-detail entry):
    # candidate evaluation runs on the bin relation, never rescanning
    # the fact table
    assert plan.count("Scan parquet") <= 2


def test_merge_upsert_is_single_shuffled_join(spark, sf_dir):
    df = Q.QUERIES["merge_upsert_audit"](spark, sf_dir)
    plan = physical_plan(df)
    # full-outer join must be a shuffled hash/sort-merge join, and the
    # staged side pre-aggregates before the join (partial agg present)
    assert "FullOuter" in plan.replace(" ", "")
    assert plan.count("HashAggregate") >= 2


def test_knn_probes_broadcast_corpus_unshuffled(spark, sf_dir):
    df = Q.QUERIES["knn_holdout_accuracy"](spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan


def test_mahalanobis_two_streaming_passes_no_sort(spark, sf_dir):
    df = Q.QUERIES["mahalanobis_outlier_census"](spark, sf_dir)
    plan = physical_plan(df)
    assert "Sort" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # 1-row params broadcast


def test_binseg_single_window_pass(spark, sf_dir):
    df = Q.QUERIES["binseg_single_changepoint"](spark, sf_dir)
    # day relation: one shuffle to the single-partition window at most
    # plus the broadcast of the 1-row best; candidate stats come from
    # ONE window pass (no per-candidate joins)
    plan = physical_plan(df)
    assert plan.count("Scan parquet") <= 2  # events scanned for daily (+reuse)


def test_tornqvist_dims_broadcast(spark, sf_dir, monkeypatch):
    # the fan-out ckpt truncates the visible plan at the materialized
    # relation; disable it (test-only seam) to pin the full join shape
    monkeypatch.setenv("SPARK_GRAFT_CKPT_DISABLE", "1")
    df = Q.QUERIES["tornqvist_price_index"](spark, sf_dir)
    plan = physical_plan(df)
    assert "BroadcastHashJoin" in plan  # part dim broadcast


def test_kmv_topk_is_take_ordered(spark, sf_dir):
    df = Q.QUERIES["kmv_distinct_sketch"](spark, sf_dir)
    # the k smallest hashes ride a per-partition top-k merge, not a
    # global sort
    assert has_operator(df, "TakeOrderedAndProject")


def test_cms_sketch_joins_are_broadcast(spark, sf_dir):
    df = Q.QUERIES["cms_heavy_hitter_audit"](spark, sf_dir)
    plan = physical_plan(df)
    # params (4 rows) and the 4x512 sketch both broadcast back to keys
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2
    assert has_operator(df, "TakeOrderedAndProject")


def test_delong_placements_avoid_pair_blowup(spark, sf_dir):
    df = Q.QUERIES["delong_auc_variance"](spark, sf_dir)
    plan = physical_plan(df)
    # the placement-value formulation must never build pos x neg pairs
    assert "CartesianProduct" not in plan
    # windows (global + per-class midranks) then scalar agg
    assert plan.count("Window") >= 2


def test_myerson_argmax_is_window_group_limit(spark, sf_dir):
    df = Q.QUERIES["myerson_reserve_price"](spark, sf_dir)
    # per-segment argmax over the demand curve prunes before shuffle
    assert has_operator(df, "WindowGroupLimit")


def test_win_ratio_never_materializes_pairs(spark, sf_dir):
    df = Q.QUERIES["win_ratio_composite"](spark, sf_dir)
    plan = physical_plan(df)
    # marginal/rank-sum formulation: no join of treated vs control rows
    # (the only joins are the order-grain lineitem rollup inputs)
    assert "CartesianProduct" not in plan
    # order-grain agg is partial+final
    assert plan.count("HashAggregate") >= 2


def test_fairness_audit_dims_broadcast(spark, sf_dir, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CKPT_DISABLE", "1")  # see tornqvist
    df = Q.QUERIES["fairness_group_audit"](spark, sf_dir)
    assert has_operator(df, "BroadcastHashJoin")


def test_mantel_fact_aggs_partial_final(spark, sf_dir):
    df = Q.QUERIES["mantel_matrix_correlation"](spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 4  # two fact rollups, each 2-phase


def test_sketch_pipeline_single_fact_scan(spark, sf_dir):
    # AMS builds its sketch FROM per-key counts: lineitem scanned once
    df = Q.QUERIES["ams_f2_sketch"](spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") <= 2  # exact agg + audit reuse


def test_dbscan_grid_join_never_cartesian(spark, sf_dir):
    # eps-neighborhood candidates come from the 3x3 cell equi-join;
    # the O(n^2) pair space must never materialize
    df = Q.QUERIES["dbscan_embedding_2d"](spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan


def test_pq_adc_scoring_join_is_broadcast_lut(spark, sf_dir):
    # ADC scores come from codes joined to the tiny probe LUT —
    # broadcast, never shuffling the vectors into the scoring join
    df = Q.QUERIES["product_quantization_adc"](spark, sf_dir)
    assert has_operator(df, "BroadcastHashJoin")


def test_rle_advisor_single_fact_window(spark, sf_dir, monkeypatch):
    # natural-order runs: one window per exploded column set; sorted
    # runs come from a distinct-count agg, not a sorted materialization
    monkeypatch.setenv("SPARK_GRAFT_CKPT_DISABLE", "1")  # see tornqvist
    df = Q.QUERIES["rle_sort_compression_advisor"](spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 1


def test_voptimal_cost_relation_from_prefix_sums(spark, sf_dir):
    # the DP cost matrix derives from prefix-sum windows over the tiny
    # day grid; the fact table is scanned once for the day agg
    df = Q.QUERIES["voptimal_segmentation_daily"](spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("events.parquet") <= 1


def test_mcf_risk_sets_without_user_day_blowup(spark, sf_dir):
    # risk sets come from entry/exit count deltas + prefix sums,
    # never a |users| x |days| join
    df = Q.QUERIES["mean_cumulative_function_purchases"](spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan


def test_lcs_substring_join_is_equi(spark, sf_dir):
    # shared-substring candidates come from a (len, sub) hash join;
    # the doc-pair space must never materialize as a nested loop
    df = Q.QUERIES["longest_common_substring_pairs"](spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan


def test_ind_discovery_all_joins_hashed(spark, sf_dir):
    df = Q.QUERIES["inclusion_dependency_discovery"](spark, sf_dir)
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    # distinct-reduce before the containment join: 2-phase aggregates
    assert plan.count("HashAggregate") >= 4


def test_learned_index_single_scan(spark, sf_dir):
    df = Q.QUERIES["learned_index_audit"](spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("orders.parquet") <= 1


REROUTED_GLOBAL_WINDOW_QUERIES = [
    # round-3 verdict task 1: fact-grain global windows rerouted through
    # operators/rank.py distributed machinery — pin that no plan keeps a
    # fact-sized unpartitioned Window (post-aggregation globals are fine)
    "auc_order_status_price",
    "gini_exact_customer_spend",
    "lorenz_curve_customer_spend",
    "conformal_price_interval",
    "cramer_von_mises_drift",
    "anderson_darling_two_sample",
    "learned_index_audit",
    "mattson_reuse_profile",
    "gini_mean_difference",
    "presortedness_census",
    "calibration_reliability_bins",
    "group_calibration_gap",
    "isotonic_urgent_rate_fit",
    "krippendorff_alpha_nominal",
    "zone_map_pruning_simulation",
    "n50_length_summary",
    "pps_horvitz_thompson",
    "rle_sort_compression_advisor",
    "decision_curve_net_benefit",
    "partial_auc_low_fpr",
    "hybrid_rrf_retrieval",
    "systematic_sampling_deff",
    "range_partition_splitter_audit",
    "confidence_sequence_widths",
    "evalue_supermartingale_monitor",
    "lindley_waiting_times",
    "kingman_vut_audit",
    "heavy_traffic_scaling",
    # round-4: final fact-grain offender, collapsed to the value
    # histogram (kruskal_wallis_quantity's midrank construction)
    "lepage_location_scale_test",
]


def test_no_fact_sized_unpartitioned_windows(spark, sf_dir):
    from pyspark_movie_recommender_spark.plans import unpartitioned_windows

    offenders = {}
    for name in REROUTED_GLOBAL_WINDOW_QUERIES:
        df = Q.QUERIES[name](spark, sf_dir)
        _, fact_sized = unpartitioned_windows(df)
        if fact_sized:
            offenders[name] = fact_sized
    assert not offenders, f"fact-sized global windows: {offenders}"


def test_registry_slice_no_fact_sized_windows(spark, sf_dir):
    """Registry-WIDE plan census over the oracle suite's slices
    (``tests.oracle.registry_slice``; ``SPARK_GRAFT_ORACLE_SLICE=all``
    walks the FULL registry, the census to run before a change to query
    plans). Per query:

    - fact_sized == 0: together with the named reroute pin above this
      keeps the single-task global-sort cliff out of every plan, not
      just the 29 rewritten ones;
    - duplicate-subtree gate: a plan the text census flags over
      threshold must be cached, and must not hold more fact-sized
      duplicated subtrees than reused exchanges. Only flagged plans are
      classified: unflagged plans with dup > reused exist (a second
      scan of a small subtree is often the cheapest plan).
    """
    from pyspark_movie_recommender_spark.plans import (
        duplicate_fact_subtrees,
        subtree_census,
        unpartitioned_windows,
    )
    from tests.oracle import registry_slice

    offenders = {}
    fanouts = {}
    for name in registry_slice(Q.QUERIES):
        df = Q.QUERIES[name](spark, sf_dir)
        _, fact_sized = unpartitioned_windows(df)
        if fact_sized:
            offenders[name] = fact_sized
        census = subtree_census(df)
        if census["over_threshold"]:
            dup, reused = duplicate_fact_subtrees(df)
            if not census["cached"] or dup > reused:
                fanouts[name] = {**census, "dup_fact": dup, "reused": reused}
    assert not offenders, f"fact-sized global windows: {offenders}"
    assert not fanouts, f"re-executed fan-outs: {fanouts}"


def test_unpartitioned_windows_flags_fact_sized_global_window(spark, sf_dir):
    """The census classifier must see the exact anti-pattern the 100 TB
    contract bans (row_number over the whole fact table in a single
    task) as fact-sized, and must not flag the global top-k, whose
    TakeOrderedAndProject has no window at all."""
    from pyspark.sql import Window

    from pyspark_movie_recommender_spark.plans import unpartitioned_windows

    poison = load_table(spark, sf_dir, "orders").withColumn(
        "rn", F.row_number().over(Window.orderBy("o_orderkey"))
    )
    assert unpartitioned_windows(poison)[1] >= 1
    clean = Q.QUERIES["top_lineitems_global"](spark, sf_dir)
    assert unpartitioned_windows(clean)[1] == 0


def test_adaptive_levenshtein_routes_by_block_population(spark, sf_dir):
    """The round-5 router's two regimes, pinned as PLAN shapes:

    - natural profile (every a_pop under the cap): the plan must be the
      plain block join — no segment-explode machinery, no distinct over
      candidates, no union of branches;
    - oversized profile: the plan must contain the PassJoin segment
      join (Expand/explode over segment structs + the candidate
      distinct) UNIONed with the small-key block branch.
    """
    from pyspark_movie_recommender_spark.operators.dedup import (
        adaptive_levenshtein_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    # natural: cap far above any key -> byte-identical block join
    plan = physical_plan(adaptive_levenshtein_pairs(docs, block_cap=10_000_000))
    assert "Union" not in plan
    assert "HashAggregate" not in plan  # the candidate distinct
    assert "levenshtein" in plan
    # forced: cap 0 -> every key big -> union with the segment branch
    plan_big = physical_plan(adaptive_levenshtein_pairs(docs, block_cap=0))
    assert "Union" in plan_big
    assert "HashAggregate" in plan_big  # candidate distinct present
    # both regimes broadcast the tiny routing key tables, never shuffle
    # the corpus against them
    assert "BroadcastExchange" in plan_big


def test_mattson_segmented_scan_shape(spark, sf_dir):
    # round-4 rewrite: reuse distances come from a cogrouped Arrow
    # segmented scan, NOT a sum-of-gaps candidate join — pin the
    # cogroup operator and the absence of any nested-loop fallback.
    # round-7 tightening: EXACTLY ONE cogroup — the hit-rate curve is
    # a single partial-aggregable pass (a separate n-aggregate used to
    # re-execute the whole Arrow scan as a second
    # FlatMapCoGroupsInPandas subtree), and the order-only segment
    # scheme leaves no Window or rank machinery over the fact
    df = Q.QUERIES["mattson_reuse_profile"](spark, sf_dir)
    plan = physical_plan(df)
    # count DISTINCT node ids, not raw substring mentions: the
    # formatted renderer prints each node in both the tree and the
    # detail block, and that multiplicity is a formatting accident a
    # Spark upgrade may change (round-7 advice)
    from pyspark_movie_recommender_spark.plans import count_nodes

    assert count_nodes(df, "FlatMapCoGroupsInPandas") == 1
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_betweenness_runs_in_row(spark, sf_dir):
    # round-4 rewrite: closure + path counting + betweenness sweep are
    # HOFs over 625-element arrays on one checkpointed row — the plan
    # downstream of the ckpt'd matrices has NO exchange at all
    from pyspark_movie_recommender_spark.plans import count_exchanges

    df = Q.QUERIES["betweenness_nation_trade"](spark, sf_dir)
    assert count_exchanges(df) == 0
    plan = physical_plan(df)
    assert "Join" not in plan


def test_warp_dp_no_join_stages(spark, sf_dir):
    # round-4 rewrite: the 7x7 DP runs in-row; the only join left is
    # the 25-row broadcast pair cross (no SMJ, no anti-diagonal chain)
    for name in ("dtw_nation_dow_profiles", "frechet_nation_dow_profiles"):
        df = Q.QUERIES[name](spark, sf_dir)
        plan = physical_plan(df)
        assert "SortMergeJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "Window" not in plan, name


def test_keyish_pinned_filter_matches_whole_last_token(spark):
    """The pinned-id IN-list exemption classifies a column as key-like
    by its LAST underscore-token: TPC-H bare-"key" columns (o_custkey)
    and *_id/_key names qualify; English words that merely END in
    "key" or "id" (monkey, whiskey, valid, paid — round-5/6 advice) do
    not earn the fail-open exemption."""
    from pyspark_movie_recommender_spark.plans import _pinned_in_filter, _walk

    def pinned(colname: str) -> bool:
        # the limit() is a pushdown barrier: without it the optimizer
        # rewrites the filter onto the underlying `id` attribute and the
        # test would never see `colname`
        df = (
            spark.range(100)
            .select(F.col("id").alias(colname))
            .limit(50)
            .filter(F.col(colname).isin(1, 2, 3))
        )
        plan = df._jdf.queryExecution().optimizedPlan()
        for n in _walk(plan):
            if n.getClass().getSimpleName() == "Filter":
                return _pinned_in_filter(n.condition())
        raise AssertionError(f"no Filter in optimized plan for {colname}")

    for good in ("id", "o_custkey", "l_orderkey", "session_key", "user_id"):
        assert pinned(good), good
    for bad in ("monkey", "whiskey", "turkey", "valid", "paid", "bid"):
        assert not pinned(bad), bad


def test_shapley_mask_pass_single_exchange_no_join(spark, sf_dir, monkeypatch):
    """Round-9 rewrite pin (supersedes the round-8 range-join pin): the
    per-purchase channel masks come from ONE pass over the events
    relation — a range-frame window per user — so the fact segment of
    the plan has exactly one exchange (hashpartitioning(user_id)), a
    Window node, NO join and ONE events scan. The legacy form scanned
    events twice (purchases + touches branches) and materialized the
    purchase x touch pair stream through a join before collapsing it;
    this fails red on it (its plan carries a join and two scans).
    Broadcast is disabled so the legacy form cannot hide its join
    behind a BroadcastHashJoin either; ckpt is disabled so the mask
    census ckpt does not truncate the fact subtree.
    """
    monkeypatch.setenv("SPARK_GRAFT_CKPT_DISABLE", "1")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = Q.QUERIES["shapley_channel_attribution"](spark, sf_dir)
        plan = physical_plan(df)
        assert "Window" in plan  # legacy (join form) plans no Window at all
        # With ckpt disabled the coalition lattice replicates the mask
        # subtree 4x (v0/v1 in phi, phi again under the efficiency
        # total), so the ONE-scan-per-branch property reads as exactly
        # 4 events scans; the legacy pair-join form scanned events
        # TWICE per branch (purchases + touches) = 8. (With ckpt on,
        # both collapse to one executed scan — this pin checks the
        # per-branch shape the 100 TB claim rests on.)
        scans = [
            ln for ln in plan.splitlines() if "events.parquet" in ln
        ]
        assert len(scans) == 4, f"events scanned {len(scans)}x (want 4 = 1/branch)"
        offenders = [
            ln
            for ln in plan.splitlines()
            if "Arguments: hashpartitioning" in ln and "event_id" in ln
        ]
        assert not offenders, (
            "fact-sized exchange keyed on event_id: " + offenders[0]
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_association_basket_census_single_fact_exchange(spark, sf_dir):
    """Round-9 rewrite pin: association_rules_parts derives pairs from a
    basket census (groupBy l_orderkey + collect_set, pairs enumerated
    in-row) — ONE fact-sized exchange keyed on l_orderkey. The legacy
    form paid three: a (l_orderkey, l_partkey)-distinct exchange plus
    the items self-join's two orderkey exchanges. Fails red on it:
    the distinct exchange keys on BOTH columns and the self-join plants
    a SortMergeJoin."""
    import re

    df = Q.QUERIES["association_rules_parts"](spark, sf_dir)
    plan = physical_plan(df)
    # the tracked basket persist prints its stored plan twice (AQE
    # Initial + Final copies of the same exchange) — dedupe by the
    # plan_id-stripped signature
    fact_exchanges = {
        re.sub(r"plan_id=\d+", "", ln.strip())
        for ln in plan.splitlines()
        if "Arguments: hashpartitioning" in ln and "l_orderkey" in ln
    }
    assert len(fact_exchanges) == 1, fact_exchanges
    # the one exchange is keyed on l_orderkey ALONE (census), not the
    # legacy (l_orderkey, l_partkey) distinct
    only = next(iter(fact_exchanges))
    assert "l_partkey" not in only, only
    assert "SortMergeJoin" not in plan  # no items self-join
    from pyspark_movie_recommender_spark.operators.cache import release_all

    release_all()  # construction tracked the basket persist


def test_naive_bayes_scoring_path_single_doc_exchange(spark, sf_dir, monkeypatch):
    """Round-8 rewrite pin (round-9 verdict ask #5b): the test-side
    scoring pipeline pays exactly ONE doc-keyed exchange — the explicit
    repartition("doc_id") — and the (doc,true,w) collapse, the
    (doc,true,cand) scoring agg and the argmax window all reuse that
    partitioning. The pre-rewrite form paid three doc-keyed exchanges
    (collapse key, scoring key, window key); this fails red on it.
    """
    monkeypatch.setenv("SPARK_GRAFT_CKPT_DISABLE", "1")
    df = Q.QUERIES["naive_bayes_lang_confusion"](spark, sf_dir)
    plan = physical_plan(df)
    doc_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Arguments: hashpartitioning" in ln and "doc_id" in ln
    ]
    assert len(doc_exchanges) == 1, doc_exchanges


def test_lsh_band_join_skew_is_aqe_split(spark, monkeypatch):
    """Round-9 verdict ask #6: the LSH family deliberately keeps the
    banded bucket EQUI-JOIN (not collect_list-per-bucket) because a
    degenerate bucket is then a skewed join partition AQE can split at
    runtime. This converts that rationale into checked evidence: one
    planted hot bucket (500 identical docs — every band collides), AQE
    skew thresholds scaled to test size, broadcast disabled to force
    the shuffled join; the executed plan must carry the skew=true SMJ
    marker with skewJoin enabled and must NOT when it is disabled.
    """
    from pyspark_movie_recommender_spark.operators.dedup import minhash_lsh_pairs

    rows = [(i, "the quick brown fox jumps over the lazy dog " * 4) for i in range(500)]
    rows += [(1000 + i, f"unique document body number {i} with words {i*7%97} {i*13%89}") for i in range(500)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    confs = {
        # 64 partitions so the 8 planted hot keys (one per band) land
        # among many near-empty partitions — with partitions == hot
        # keys every partition holds one hot key and none exceeds the
        # factor x median bar
        "spark.sql.shuffle.partitions": "64",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1k",
    }
    old = {k: spark.conf.get(k, None) for k in confs}

    def run() -> str:
        pairs = minhash_lsh_pairs(
            docs, "text", "doc_id", num_hashes=32, bands=8,
            verify_threshold=None,
        )
        # collect, not a noop write: the write runs on a SEPARATE
        # QueryExecution, so the DataFrame's own plan would stay
        # isFinalPlan=false and carry no AQE runtime decisions
        pairs.collect()
        return pairs._jdf.queryExecution().executedPlan().toString()

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan_on = run()
        assert "skew=true" in plan_on, (
            "AQE did not split the planted hot bucket:\n" + plan_on[:4000]
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        plan_off = run()
        assert "skew=true" not in plan_off
    finally:
        from pyspark_movie_recommender_spark.operators.cache import release_all

        release_all()
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
