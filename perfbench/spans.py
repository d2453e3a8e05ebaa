"""Spans, Spark status-store deltas and streaming progress for traced runs.

A :class:`Tracer` keeps spans (name, start, end, parent, run id) in
memory and writes them as JSONL when the run ends. Spans are recorded
only from the benchmark's own files, around calls into the program's
layers; a span's layer is its name up to the first dot.

Executor work comes from the application status store
(``sparkContext._jsc.sc().statusStore()``), which is kept with the UI
disabled. It is read once, after the traced phase, and each stage or
job is attributed to the spans whose interval holds its completion
(stage) or submission (job) time.
"""

from __future__ import annotations

import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    def self_time_by_layer(self) -> dict[str, float]:
        """Per layer, the sum over its spans of the span's duration minus
        the part of it covered by its direct children."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"].split(".")[0]] += s["end"] - s["start"] - child_time[s["id"]]
        return dict(out)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def status_store_snapshot(spark) -> tuple[list[dict], list[dict]]:
    """All stages and jobs the status store holds, as plain dicts, after
    the listener bus has delivered every pending event."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    jvm, gw = spark._jvm, spark.sparkContext._gateway
    as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
    stages = []
    for st in as_java(store.stageList(None, False, False, gw.new_array(jvm.double, 0), None)):
        stages.append(
            {
                "stage": st.stageId(),
                "done": _opt_ms(st.completionTime()),
                "tasks": st.numCompleteTasks() + st.numFailedTasks(),
                "failed_tasks": st.numFailedTasks(),
                "task_s": st.executorRunTime() / 1e3,
                "cpu_s": st.executorCpuTime() / 1e9,
                "gc_s": st.jvmGcTime() / 1e3,
                "shuffle_write_b": st.shuffleWriteBytes(),
                "shuffle_read_b": st.shuffleReadBytes(),
                "spill_b": st.memoryBytesSpilled() + st.diskBytesSpilled(),
            }
        )
    jobs = [{"job": j.jobId(), "submitted": _opt_ms(j.submissionTime())} for j in as_java(store.jobsList(None))]
    return stages, jobs


def engine_totals(stages: list[dict], jobs: list[dict], t0: float, t1: float) -> dict[str, float]:
    """Sum the stages completed and count the jobs submitted in [t0, t1]."""
    sel = [s for s in stages if s["done"] is not None and t0 <= s["done"] <= t1]
    keys = ("tasks", "failed_tasks", "task_s", "cpu_s", "gc_s", "shuffle_write_b", "shuffle_read_b", "spill_b")
    tot = {k: float(sum(s[k] for s in sel)) for k in keys}
    tot["stages"] = float(len(sel))
    tot["jobs"] = float(sum(1 for j in jobs if j["submitted"] is not None and t0 <= j["submitted"] <= t1))
    return tot


class ProgressListener(StreamingQueryListener):
    """Collects ``StreamingQueryProgress`` events of every query."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        ops = p.stateOperators
        rec = {
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_commit_ms": sum(o.commitTimeMs for o in ops),
            "state_mem_b": sum(o.memoryUsedBytes for o in ops),
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def wait_for_rows(self, rows: int, timeout_s: float = 15.0) -> None:
        """Progress events arrive asynchronously; wait until they account
        for ``rows`` input rows or the timeout passes."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            with self._lock:
                if sum(p["rows"] for p in self.progress) >= rows:
                    return
            time.sleep(0.05)
