"""Regression tests for the duplicate-subtree gate.

The gate runs in ``tests/test_plans.py::test_registry_slice_no_fact_sized_windows``
over the oracle suite's slice, with two triggers: an uncached query
over the text census's threshold (``plans.subtree_census``), and a
flagged query whose duplicated subtree is fact-sized per
``plans.duplicate_fact_subtrees``. Both classifiers are exercised here
against deliberately injected regressions, so the gate is shown to
fire, not only to pass.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pyspark_movie_recommender_spark.operators.lineage import ckpt
from pyspark_movie_recommender_spark.plans import (
    duplicate_fact_subtrees,
    subtree_census,
)
from pyspark_movie_recommender_spark.sources import load_table


def _fanout_union(df):
    """The injected regression: one aggregate subtree consumed by four
    DIFFERENT downstream aggregates with NO materialization — each
    branch re-executes the scan + groupBy shuffle (exactly the shape
    round 8 burned down; plain re-projections don't reproduce it
    because CollapseProject folds them into distinct aggregates)."""
    base = df.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
    out = None
    for name, agg in (
        ("max", F.max("s")),
        ("min", F.min("s")),
        ("avg", F.avg("s")),
        ("cnt", F.count("s").cast("double")),
    ):
        b = base.agg(F.lit(name).alias("metric"), agg.alias("v"))
        out = b if out is None else out.unionByName(b)
    return out


def test_gate_classifier_fires_on_injected_duplicate(spark, sf_oracle_dir):
    o = load_table(spark, sf_oracle_dir, "orders")
    bad = _fanout_union(o)
    dup, reused = duplicate_fact_subtrees(bad)
    # four identical aggregate-over-scan branches -> at least one
    # maximal duplicated compute subtree, and nothing reuses exchanges
    assert dup >= 1
    assert dup > reused

    # census text rule fires too: orders scanned 4x, uncached, so the
    # registry gate reds on it whatever the classifier says
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert plan.count("orders.parquet") >= 4
    assert "Scan ExistingRDD" not in plan and "InMemoryRelation" not in plan
    rec = subtree_census(bad)
    assert rec["over_threshold"] and not rec["cached"]


def test_gate_classifier_passes_after_ckpt_fix(spark, sf_oracle_dir):
    o = load_table(spark, sf_oracle_dir, "orders")
    base = ckpt(o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s")))
    out = None
    for name, agg in (
        ("max", F.max("s")),
        ("min", F.min("s")),
        ("avg", F.avg("s")),
        ("cnt", F.count("s").cast("double")),
    ):
        b = base.agg(F.lit(name).alias("metric"), agg.alias("v"))
        out = b if out is None else out.unionByName(b)
    dup, _ = duplicate_fact_subtrees(out)
    assert dup == 0  # duplicates root on the materialized leaf now
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan  # census classifies as cached


def test_gate_ignores_intentional_self_join(spark, sf_oracle_dir):
    # a plain self-join scans the table twice but re-executes no
    # compute — the fact-dup classifier must NOT flag it (a second
    # scan is usually cheaper than a checkpoint write at scale)
    o = load_table(spark, sf_oracle_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    pairs = o.alias("a").join(
        o.alias("b"),
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
    )
    dup, _ = duplicate_fact_subtrees(pairs)
    assert dup == 0


def test_gate_classifier_fires_on_cached_plan_hiding_duplicate(
    spark, sf_oracle_dir
):
    # a plan can contain a ckpt/persist leaf (census classifies it
    # cached) while a DIFFERENT subtree still fans out unmaterialized —
    # 13 registry queries once hid exactly this behind their recipe
    # text. The gate runs the fact-dup classifier on cached flags too;
    # this pins that a partially cached plan with a live fan-out still
    # classifies dup > reused.
    o = load_table(spark, sf_oracle_dir, "orders")
    marker = ckpt(o.groupBy().agg(F.count("*").cast("double").alias("v"))
                  .select(F.lit("n").alias("metric"), "v"))
    bad = _fanout_union(o).unionByName(marker)

    rec = subtree_census(bad)
    assert rec["cached"], "ckpt leaf must classify the plan as cached"
    assert rec["over_threshold"], "4-scan fan-out must stay over threshold"
    dup, reused = duplicate_fact_subtrees(bad)
    assert dup >= 1 and dup > reused  # the gate's red condition

