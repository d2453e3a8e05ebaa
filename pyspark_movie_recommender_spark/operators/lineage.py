"""Lineage truncation with a cluster-safe switch.

Iterative and multi-reference queries truncate lineage so Catalyst
replans from materialized results instead of an ever-growing DAG. On
local[n] an EAGER ``localCheckpoint`` is right: executor-local blocks,
no filesystem round-trip. On a real cluster localCheckpoint is
lost-executor-fatal — the blocks live only in executor storage — so
production runs set ``SPARK_GRAFT_CHECKPOINT_DIR`` (HDFS/object-store
path) and every truncation point becomes a RELIABLE ``checkpoint``
that survives executor loss.

Usage: ``df.transform(ckpt)`` anywhere a bare
``df.localCheckpoint(eager=True)`` would appear. This is the engine's
only truncation path — the query registry, the operators and the
graph loops' per-round truncation (``operators/graph.py``) all call
it, and ``tests/test_driver_scalar_contract.py`` fails on a
``localCheckpoint(``/``.checkpoint(`` anywhere else — so one flag
flips the whole engine.

Reliable-checkpoint hygiene: the checkpoint dir is set ONCE per
SparkContext (memoized — not re-invoked at each of the ~290 call
sites), a per-run subdirectory is used so successive runs don't
interleave files, and ``spark.cleaner.referenceTracking
.cleanCheckpoints=true`` (set in ``session.get_spark``) lets the
ContextCleaner reap checkpoint files whose RDDs go out of scope, so a
long run does not grow the dir without bound.

Plan-audit transparency: checkpointing replaces the logical subtree
with a ``LogicalRDD`` leaf, which would blind
``plans.unpartitioned_windows`` to whether the checkpointed input had
already been reduced by an aggregate. ``ckpt`` therefore records, per
materialized RDD id, whether the PRE-checkpoint plan was
cardinality-reduced (``REDUCED_RDD_IDS``); the plan walker consults
the registry when it meets a ``LogicalRDD``.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame

_ENV = "SPARK_GRAFT_CHECKPOINT_DIR"

# SparkContext ids whose checkpoint dir has already been set this run.
_CKPT_DIR_SET: set[str] = set()

# RDD id -> was the pre-checkpoint logical plan cardinality-reduced
# (aggregate / limit / small-leaf input)? Every ckpt output is
# recorded, so the plan auditor (plans.unpartitioned_windows) can
# distinguish a checkpointed fact table (False) from a checkpointed
# aggregate (True). RDD ids restart at 0 per SparkContext, so the
# registry is scoped to ONE application: ``ckpt_registry()`` clears it
# whenever a new applicationId is observed (round-4 advice — a stale
# entry from a previous context must not classify a new context's
# plans). Ids the registry never saw fail CLOSED in the auditor.
CKPT_RDD_REDUCED: dict[int, bool] = {}

# applicationId the registry's entries belong to.
_CKPT_APP_ID: list[str] = []


def ckpt_registry(sc=None) -> dict[int, bool]:
    """The RDD-id→reduced registry, scoped to the current SparkContext:
    entries recorded under a different applicationId are dropped before
    the dict is returned. ``sc`` defaults to the active context."""
    if sc is None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
    if sc is not None:
        app = sc.applicationId
        if not _CKPT_APP_ID or _CKPT_APP_ID[0] != app:
            CKPT_RDD_REDUCED.clear()
            _CKPT_APP_ID[:] = [app]
    return CKPT_RDD_REDUCED


def _logical_rdd_id(df: DataFrame) -> int | None:
    """RDD id of a checkpointed DataFrame's LogicalRDD leaf (None if
    the plan isn't the expected single-leaf shape)."""
    try:
        node = df._jdf.queryExecution().analyzed()
        if node.getClass().getSimpleName() == "LogicalRDD":
            return node.rdd().id()
    except Exception:
        pass
    return None


def ckpt(df: DataFrame) -> DataFrame:
    """Eagerly truncate ``df``'s lineage.

    Reliable ``checkpoint`` into ``$SPARK_GRAFT_CHECKPOINT_DIR`` when
    that env var is set (cluster-safe); executor-local
    ``localCheckpoint`` otherwise (fast local default).

    ``SPARK_GRAFT_CKPT_DISABLE=1`` makes this a no-op — a TEST-ONLY
    seam: eager materialization truncates the visible plan at every
    fan-out point, so plan-shape pins (dim broadcasts, window counts)
    set the env var to inspect the full untruncated plan. Production,
    perfbench and the registry-wide plan census never set it. It also
    removes the per-round truncation of the iterative loops in
    ``operators.graph``, whose plans then grow every round, so it must
    not be set around anything that runs a graph loop.
    """
    if os.environ.get("SPARK_GRAFT_CKPT_DISABLE"):
        return df
    # Classify the pre-checkpoint plan BEFORE it is replaced by a
    # LogicalRDD leaf, so downstream plan audits keep the information.
    from ..plans import subtree_reduced

    try:
        was_reduced = subtree_reduced(
            df._jdf.queryExecution().optimizedPlan()
        )
    except Exception:
        was_reduced = False

    target = os.environ.get(_ENV)
    if target:
        sc = df.sparkSession.sparkContext
        key = sc.applicationId
        if key not in _CKPT_DIR_SET:
            # one per-run subdirectory per SparkContext; memoized so
            # the JVM call happens once, not at every truncation site
            sc.setCheckpointDir(os.path.join(target, f"run-{uuid.uuid4().hex}"))
            _CKPT_DIR_SET.add(key)
        out = df.checkpoint(eager=True)
    else:
        out = df.localCheckpoint(eager=True)

    rid = _logical_rdd_id(out)
    if rid is not None:
        ckpt_registry(df.sparkSession.sparkContext)[rid] = was_reduced
    return out
