"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed`` under ``.perfbench_work/``, starts its own Spark session
(``local[nproc]``), checks the program's outputs, times the workload's
closed loop for ``--seconds`` and prints, as its last stdout line,
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, measured in a second, traced pass of the same loop,
and the spans are written to ``.perfbench_work/<run>/spans.jsonl``.
A line before it carries host diagnostics that are not metrics.
``perfbench/METRICS.md`` maps every metric to its layer and workload.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # session set-ups per run; setup_s is the median of their CPU time
DRIVER_MEM = "2g"
WARMUP_QUERY = "pricing_summary"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None, help="input scale (default: the workload's)")
    return p.parse_args(argv)


def configure_env(work: str) -> dict[str, str]:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``; pin the engine's CPU budget and driver heap. Returns the
    extra session configuration."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    return {
        # a fixed set of JIT compiler and GC threads: a thread that exits
        # takes its CPU time into the process total, where ``tree_cpu_s``
        # can no longer tell it from the operation's own
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads -XX:-UseDynamicNumberOfGCThreads"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
    }


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def peak_rss_mb(spark) -> float:
    """JVM ``VmHWM`` plus this Python process's max RSS (Python workers
    are not included)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def main(argv=None) -> int:
    args = parse_args(argv)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    extra_conf = configure_env(work)
    sys.path.insert(0, ROOT)

    from bench import rig_canary
    from pyspark_movie_recommender_spark import get_spark
    from pyspark_movie_recommender_spark import queries as Q

    import gen
    import spans as tr
    import workloads as W

    if args.workload not in W.WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(W.WORKLOADS)}")
    wl = W.WORKLOADS[args.workload]()
    canary_pre = rig_canary()

    warm_dir = os.path.join(work, "warm")
    gen.write_tables(warm_dir, args.seed, 0.001)

    def setup():
        """get_spark, then one small query through the registry. Returns
        the session, the wall seconds of each step and the CPU seconds of
        both (see ``workloads.tree_cpu_s``)."""
        c = W.tree_cpu_s()
        a = time.perf_counter()
        spark = get_spark(f"perfbench-{run_id}", extra_conf=extra_conf)
        b = time.perf_counter()
        Q.QUERIES[WARMUP_QUERY](spark, warm_dir).write.format("noop").mode("overwrite").save()
        return spark, b - a, time.perf_counter() - b, W.tree_cpu_s() - c

    marks = {"start": time.perf_counter()}
    spark = None
    try:
        spark, g, w, _ = setup()
        cold_start_s = g + w
        gets, warms, cpus = [], [], []
        for _ in range(SETUPS):
            spark.stop()
            spark, g, w, c = setup()
            gets.append(g)
            warms.append(w)
            cpus.append(c)
        setup_s = statistics.median(cpus)
        marks["setup"] = time.perf_counter()

        run = W.Run(spark, tr.Tracer(run_id, enabled=False), args.seed, args.seconds, work,
                    args.sf if args.sf is not None else wl.default_sf)
        wl.inputs(run)
        marks["inputs"] = time.perf_counter()
        wl.prepare(run)
        marks["prepare"] = time.perf_counter()
        lat, n_ops, wall = wl.phase(run)
        loop = wl.end_to_end(run, lat)
        marks["timed"] = time.perf_counter()
        if args.trace:
            run.tracer.enabled = True
            run.listener = tr.ProgressListener()
            spark.streams.addListener(run.listener)
            t0 = time.time()
            _, _, traced_wall = wl.phase(run, n_ops=n_ops)
            t1 = time.time()
            run.stages, run.jobs = tr.status_store_snapshot(spark)
            layer = wl.layers(run, n_ops)
            spark.streams.removeListener(run.listener)
            marks["traced"] = time.perf_counter()
        wl.finish(run)
        marks["finish"] = time.perf_counter()
        rss = peak_rss_mb(spark)
        names = list(marks)
        diagnostics = {
            "workload": args.workload, "seed": args.seed, "sf": run.sf, "ops": n_ops,
            "nproc": len(os.sched_getaffinity(0)), "git_commit": git_commit(),
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "cold_start_s": cold_start_s, "setup_cpu_s": cpus, "errors": run.errors[:20],
            "op_samples": [(i, round(w, 4), round(c, 4)) for i, w, c in lat],
            "best_rank": getattr(getattr(wl, "grid", None), "best_rank", None),
            "peak_rss_note": "JVM VmHWM + driver Python max RSS; Python workers excluded",
            "phase_s": {b: round(marks[b] - marks[a], 3) for a, b in zip(names, names[1:])},
        }
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()

    if args.trace:
        cores = len(os.sched_getaffinity(0))
        eng = tr.engine_totals(run.stages, run.jobs, t0, t1)
        units = metric_units("per_layer")
        metrics = dict.fromkeys(units, 0.0)
        metrics.update(layer)
        metrics.update(
            {
                "session.cold_start_s": cold_start_s,
                "process.peak_rss_mb": rss,
                "session.get_spark_s": statistics.median(gets),
                "session.warmup_s": statistics.median(warms),
                "engine.jobs": eng["jobs"],
                "engine.stages": eng["stages"],
                "engine.tasks": eng["tasks"],
                "engine.failed_tasks": eng["failed_tasks"],
                "engine.task_s": eng["task_s"],
                "engine.cpu_s": eng["cpu_s"],
                "engine.gc_s": eng["gc_s"],
                "engine.offcpu_task_s": eng["task_s"] - eng["cpu_s"] - eng["gc_s"],
                "engine.shuffle_write_mb": eng["shuffle_write_b"] / 2**20,
                "engine.shuffle_read_mb": eng["shuffle_read_b"] / 2**20,
                "engine.spill_mb": eng["spill_b"] / 2**20,
                "engine.core_util": eng["task_s"] / ((t1 - t0) * cores),
                "trace.overhead_s": traced_wall - wall,
                "trace.spans": float(len(run.tracer.spans)),
                "failed_ratio": run.failed / max(run.attempted, 1),
                "loop.op_p50_ms": loop["op_p50_ms"],
                "loop.ops_per_s": loop["ops_per_s"],
            }
        )
        for layer_name, s in run.tracer.self_time_by_layer().items():
            metrics[f"self.{layer_name}_s"] = s
        run.tracer.write_jsonl(os.path.join(work, "spans.jsonl"))
    else:
        units = metric_units("end_to_end")
        metrics = {"setup_s": setup_s, **loop}
    diagnostics["rig_canary_s"] = [canary_pre, rig_canary()]
    print(json.dumps({"diagnostics": diagnostics}))
    for d in ("tables", "stream", "warm", "spark-local", "tmp"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


def shutdown_jvm() -> None:
    """End the JVM PySpark launched and wait until it has exited: the
    gateway exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def metric_units(kind: str) -> dict[str, str]:
    """Name → unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    sys.exit(main())
