"""The benchmark's workloads.

Each workload generates its inputs from the seed, checks the program's
outputs untimed, and times a closed loop with one client: the next
operation starts only after the previous one has returned. The loop
runs for the requested seconds (and at least a minimum number of
operations). In a traced run the same loop runs a second time, with
spans, over the same number of operations.

Operations go through the program's public functions only:
``queries.QUERIES``, ``sources.movielens.read_ratings_csv``,
``recommend.*`` and ``streaming.jobs.running_user_totals_resumable``.
"""

from __future__ import annotations

import gc
import math
import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from pyspark_movie_recommender_spark import queries as Q
from pyspark_movie_recommender_spark import recommend as R
from pyspark_movie_recommender_spark.operators.cache import release_all
from pyspark_movie_recommender_spark.operators.lineage import ckpt_registry
from pyspark_movie_recommender_spark.sources.movielens import read_ratings_csv
from pyspark_movie_recommender_spark.streaming.jobs import running_user_totals_resumable
from tests.oracle import compare, duck_connection

# JVM-only analytics headliners, then text/dedup/similarity headliners
ANALYTICS = [
    "flagship_top_orders_per_customer",
    "modularity_trade_communities",
]
CURATION = [
    "dedup_minhash_lsh",
    "cosine_topk",
    "doc_fingerprints",
]
BATCH_QUERIES = ANALYTICS + CURATION
# output columns of the timed queries that have no DuckDB oracle
EXPECTED_COLUMNS = {
    "dedup_minhash_lsh": ["id_a", "id_b", "est_jaccard"],
}

# the reference's new user (user 0) and their ten ratings
NEW_USER_RATINGS = [
    (0, 260, 4.0), (0, 1, 3.0), (0, 16, 3.0), (0, 25, 4.0), (0, 32, 4.0),
    (0, 335, 1.0), (0, 379, 1.0), (0, 296, 3.0), (0, 858, 5.0), (0, 50, 4.0),
]
TOP_K = 10


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def op_metrics(samples, key=lambda i: 0) -> dict:
    """Figures of a closed loop whose operations fall into classes
    (``key(i)``; analytics: one class per query and one for arrivals).
    Each class is represented by its median; ``op_p50_ms`` is the median
    of those, ``ops_per_s`` runs one of each class in turn, and
    ``op_cpu_ms`` is their mean CPU time."""
    wall, cpu = {}, {}
    for i, w, c in samples:
        wall.setdefault(key(i), []).append(w)
        cpu.setdefault(key(i), []).append(c)
    walls = [median(v) for v in wall.values()]
    cpus = [median(v) for v in cpu.values()]
    return {
        "op_p50_ms": median(walls) * 1e3,
        "ops_per_s": len(walls) / sum(walls),
        "op_cpu_ms": statistics.fmean(cpus) * 1e3,
    }


class Run:
    """What one benchmark run shares across its phases: the session,
    the tracer, the input locations and the failure counts."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str, sf: float):
        self.spark, self.tracer = spark, tracer
        self.seed, self.seconds, self.work, self.sf = seed, seconds, work, sf
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def attempt(self, name: str, fn) -> object:
        """Run one operation or check; an exception or a ``False`` result
        counts as a failure. Returns ``fn``'s result, or None on failure."""
        self.attempted += 1
        try:
            out = fn()
        except Exception as e:  # any failing operation is counted, not fatal
            out, why = None, f"{type(e).__name__}: {str(e)[:300]}"
        else:
            why = "check failed" if out is False else None
        if why:
            self.failed += 1
            self.errors.append(f"{name}: {why}")
            return None
        return out


# JVM service threads (JIT compilers, garbage collector) by name prefix
JVM_SERVICE_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ")


def _cpu_fields(stat_path: str):
    """(comm, ppid, own CPU ticks, reaped children's CPU ticks) from a
    /proc stat file, or None if the process or thread has ended."""
    try:
        with open(stat_path) as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw.rsplit(")", 1)[1].split()
    return comm, int(fields[1]), int(fields[11]) + int(fields[12]), int(fields[13]) + int(fields[14])


def _service_ticks(pid: int) -> int:
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    total = 0
    for tid in tids:
        f = _cpu_fields(f"/proc/{pid}/task/{tid}/stat")
        if f is not None and f[0].startswith(JVM_SERVICE_THREADS):
            total += f[2]
    return total


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds used so far by process ``pid`` (default: this one) and
    all its descendants, here the driver, the JVM and the Python workers,
    less the JVM's JIT compiler and garbage-collector threads, whose
    background work lands on whichever operation happens to run. Time the
    host gave to other guests (steal) is not in it."""
    pid = os.getpid() if pid is None else pid
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (f := _cpu_fields(f"/proc/{d}/stat")) is not None:
            children.setdefault(f[1], []).append(int(d))
            ticks[int(d)] = f[2] + f[3]
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo.extend(children.get(p, []))
        total += ticks.get(p, 0) - _service_ticks(p)
    return total / os.sysconf("SC_CLK_TCK")


def closed_loop(run: Run, op, min_ops: int, n_ops: int | None = None, between=None, step: int = 1):
    """Call ``op(i)`` for i = 0, 1, … until ``run.seconds`` have passed
    and ``min_ops`` calls were made (or exactly ``n_ops`` calls), stopping
    only after a multiple of ``step`` calls; ``between()``, untimed,
    follows each call. Returns
    ((i, wall s, CPU s) of each call that succeeded, calls, loop wall s)."""
    lat: list[tuple[int, float, float]] = []
    t0 = time.perf_counter()
    i = 0
    while True:
        if n_ops is not None:
            if i >= n_ops:
                break
        elif i >= min_ops and i % step == 0 and time.perf_counter() - t0 >= run.seconds:
            break
        c = tree_cpu_s()
        a = time.perf_counter()
        if run.attempt(f"op{i}", lambda: op(i)) is not None:
            lat.append((i, time.perf_counter() - a, tree_cpu_s() - c))
        if between is not None:
            between()
        i += 1
    return lat, i, time.perf_counter() - t0


class Analytics:
    """Batch queries and streaming arrivals on one engine. Each pass runs
    the registry's analytics and curation headliners (each built through
    ``QUERIES[name]`` and written to the noop sink), then lands one arrival
    file of events followed by one stateful streaming pass."""

    name = "analytics_stream"
    default_sf = 0.01
    ops_per_pass = len(BATCH_QUERIES) + 1  # the last op of a pass is an arrival
    min_passes = 2  # whole passes only, so every class has as many samples

    def __init__(self):
        self.stream = Stream()

    def inputs(self, run: Run) -> None:
        self.sf_dir = os.path.join(run.work, "tables")
        gen.write_tables(self.sf_dir, run.seed, run.sf)
        self.input_mb = dir_bytes(self.sf_dir) / 2**20
        self.stream.inputs(run)

    def check_query(self, run: Run, con, name: str) -> bool:
        df = Q.QUERIES[name](run.spark, self.sf_dir)
        try:
            if name in Q.ORACLE_SQL:
                compare(df, con, Q.ORACLE_SQL[name], name)
                return True
            if df.columns != EXPECTED_COLUMNS[name]:
                raise AssertionError(f"{name}: columns {df.columns}")
            return len(df.collect()) > 0
        finally:
            release_all()

    def prepare(self, run: Run) -> None:
        # the checks run every query once, which also warms the JIT
        con = duck_connection(self.sf_dir)
        try:
            for name in BATCH_QUERIES:
                run.attempt(f"check {name}", lambda: self.check_query(run, con, name))
        finally:
            con.close()
        self.released = 0
        self.stream.prepare(run)

    def op(self, run: Run, i: int) -> bool:
        q = i % self.ops_per_pass
        if q == len(BATCH_QUERIES):
            return self.stream.arrive(run)
        tr = run.tracer
        with tr.span("queries.query"):
            with tr.span("queries.build"):
                df = Q.QUERIES[BATCH_QUERIES[q]](run.spark, self.sf_dir)
            if tr.enabled:
                with tr.span("queries.plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("queries.exec"):
                df.write.format("noop").mode("overwrite").save()
        return True

    def between(self, run: Run) -> None:
        """Drop cached sketches and checkpoint blocks between operations,
        as the repository's bench.py does; not part of any op's time."""
        self.released += release_all()
        gc.collect()
        run.spark.sparkContext._jvm.System.gc()

    def phase(self, run: Run, n_ops: int | None = None):
        ck0 = len(ckpt_registry())
        first = len(self.stream.published)
        out = closed_loop(
            run, lambda i: self.op(run, i), self.min_passes * self.ops_per_pass, n_ops,
            between=lambda: self.between(run), step=self.ops_per_pass,
        )
        self.stream.phase_rows = sum(
            pq.ParquetFile(p).metadata.num_rows for p in self.stream.published[first:]
        )
        if n_ops is None:
            self.ckpt_count = len(ckpt_registry()) - ck0
            self.samples = out[0]
            arrivals = [w for i, w, _ in out[0] if i % self.ops_per_pass == len(BATCH_QUERIES)]
            self.stream.rows_per_s = self.stream.phase_rows / sum(arrivals)
        return out

    def end_to_end(self, run: Run, samples) -> dict:
        return op_metrics(samples, key=lambda i: i % self.ops_per_pass)

    def layers(self, run: Run, n_ops: int) -> dict:
        out = {
            f"query.{name}_s": median([w for i, w, _ in self.samples if i % self.ops_per_pass == q])
            for q, name in enumerate(BATCH_QUERIES)
        }
        passes = n_ops / self.ops_per_pass
        spans = run.tracer.spans
        for part in ("build", "plan", "exec"):
            out[f"queries.{part}_s"] = sum(
                s["end"] - s["start"] for s in spans if s["name"] == f"queries.{part}"
            ) / passes
        out["queries.build_jobs"] = count_in_spans(run.jobs, "submitted", spans, "queries.build") / passes
        out["lineage.ckpt_count"] = self.ckpt_count
        out["cache.tracked_released"] = self.released
        out["sources.input_mb"] = self.input_mb
        out.update(self.stream.layers(run))
        return out

    def finish(self, run: Run) -> None:
        self.stream.finish(run)


class Recsys:
    """ALS serving: ratings CSV → grid search → fold-in of a new user →
    a closed loop of top-k requests for distinct users."""

    name = "recsys_serving"
    default_sf = 1.0  # share of the ml-latest-small-sized ratings file

    def inputs(self, run: Run) -> None:
        self.csv = os.path.join(run.work, "ratings.csv")
        users = max(20, int(670 * run.sf))
        gen.write_ratings_csv(self.csv, run.seed, users, max(200, int(9000 * run.sf)), int(100_000 * run.sf))
        order = np.random.default_rng([run.seed, 300]).permutation(np.arange(1, users + 1))
        self.users = [int(u) for u in order]
        self.input_mb = os.path.getsize(self.csv) / 2**20

    def train(self, run: Run) -> None:
        spark, tr = run.spark, run.tracer
        a = time.perf_counter()
        with tr.span("sources.read_csv"):
            ratings = read_ratings_csv(spark, self.csv).select(
                "user_id", F.col("movie_id").alias("item_id"), "rating"
            ).cache()
            ratings.count()
        b = time.perf_counter()
        with tr.span("recommend.grid_search"):
            self.grid = R.train_with_grid_search(ratings)
        c = time.perf_counter()
        new = spark.createDataFrame(NEW_USER_RATINGS, "user_id int, item_id int, rating double")
        with tr.span("recommend.fold_in"):
            self.model = R.fold_in_user(ratings, new, self.grid.best_rank)
        d = time.perf_counter()
        self.ratings = ratings
        self.served = ratings.unionByName(new).cache()
        self.items = (
            self.served.select("item_id").distinct()
            .withColumn("title", F.concat(F.lit("movie "), F.col("item_id").cast("string")))
            .cache()
        )
        self.items.count()
        self.train_times = {"csv_read": b - a, "grid_search": c - b, "fold_in": d - c}

    def request(self, run: Run) -> bool:
        uid = self.users[self.next_user % len(self.users)]
        self.next_user += 1
        tr = run.tracer
        with tr.span("recommend.request"):
            with tr.span("recommend.request_build"):
                df = R.recommend_for_user(self.model, self.items, self.served, uid, TOP_K)
            with tr.span("recommend.request_exec"):
                rows = df.collect()
        return check_reply(rows, self.rated.get(uid, set()), TOP_K)

    def prepare(self, run: Run) -> None:
        self.rated: dict[int, set[int]] = {}
        for u, m in np.loadtxt(self.csv, delimiter=",", usecols=(0, 1)).astype(int):
            self.rated.setdefault(int(u), set()).add(int(m))
        self.next_user = 0

    def phase(self, run: Run, n_ops: int | None = None):
        # training is the prelude of every phase; four warm requests
        # follow it, checked but not counted among the timed requests
        # (the request path's own JIT warm-up moved CPU per request by
        # 30 % between runs with two)
        self.train(run)
        for _ in range(4):
            run.attempt("warm request", lambda: self.request(run))
        return closed_loop(run, lambda i: self.request(run), 8, n_ops)

    def check_model(self, run: Run) -> None:
        g = self.grid
        run.attempt("best_rank is the argmin", lambda: g.best_rank == min(g.validation_rmse, key=g.validation_rmse.get))

        def beats_mean() -> bool:
            train, _, test = self.ratings.randomSplit([0.6, 0.2, 0.2], seed=R.SPLIT_SEED)
            mu = train.agg(F.avg("rating")).first()[0]
            base = test.agg(F.sqrt(F.avg((F.col("rating") - F.lit(mu)) ** 2))).first()[0]
            return math.isfinite(g.test_rmse) and g.test_rmse < base

        run.attempt("test_rmse beats the global mean", beats_mean)

    def end_to_end(self, run: Run, samples) -> dict:
        return op_metrics(samples)

    def layers(self, run: Run, n_ops: int) -> dict:
        spans = run.tracer.spans
        req = [s for s in spans if s["name"] == "recommend.request"]
        dur = lambda n: [s["end"] - s["start"] for s in spans if s["name"] == n]  # noqa: E731
        t = self.train_times
        return {
            "sources.csv_read_s": t["csv_read"],
            "sources.input_mb": self.input_mb,
            "recommend.grid_search_s": t["grid_search"],
            "recommend.fold_in_s": t["fold_in"],
            "recommend.train_s": t["grid_search"] + t["fold_in"],
            "recommend.test_rmse": self.grid.test_rmse,
            "recommend.request_build_ms": median(dur("recommend.request_build")) * 1e3,
            "recommend.request_exec_ms": median(dur("recommend.request_exec")) * 1e3,
            "recommend.request_jobs": count_in_spans(run.jobs, "submitted", spans, "recommend.request") / len(req),
            "recommend.request_tasks": sum_in_spans(run.stages, "tasks", spans, "recommend.request") / len(req),
        }

    def finish(self, run: Run) -> None:
        self.check_model(run)


class Stream:
    """Streaming arrivals: events split into arrival files; each file lands
    by atomic rename and is followed by one resumable stateful pass on a
    shared checkpoint."""

    n_files = 64

    def inputs(self, run: Run) -> None:
        d = os.path.join(run.work, "stream")
        self.staged = gen.split_arrivals(gen.events_table(run.seed, run.sf), d, run.seed, self.n_files)
        self.src, self.sink, self.ckpt = (os.path.join(d, x) for x in ("src", "sink", "ckpt"))
        os.makedirs(self.src)
        self.published: list[str] = []

    def arrive(self, run: Run) -> bool:
        path = self.staged[len(self.published)]
        dst = os.path.join(self.src, os.path.basename(path))
        os.rename(path, dst)
        self.published.append(dst)
        with run.tracer.span("streaming.pass"):
            self.out = running_user_totals_resumable(run.spark, self.src, self.schema, self.sink, self.ckpt)
        return True

    def prepare(self, run: Run) -> None:
        self.schema = run.spark.read.parquet(self.staged[0]).schema
        run.attempt("warm arrival", lambda: self.arrive(run))  # not timed

    def layers(self, run: Run) -> dict:
        ls = run.listener
        ls.wait_for_rows(self.phase_rows)
        prog = ls.progress
        dur = lambda k: median([p["duration_ms"].get(k, 0) for p in prog])  # noqa: E731
        in_b = sum(os.path.getsize(p) for p in self.published)
        ck_b, sink_b = dir_bytes(self.ckpt), dir_bytes(self.sink)
        return {
            "streaming.batches": len(prog),
            "streaming.input_rows": sum(p["rows"] for p in prog),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "streaming.latest_offset_ms": dur("latestOffset"),
            "streaming.state_rows_total": max((p["state_rows"] for p in prog), default=0),
            "streaming.state_commit_ms": median([p["state_commit_ms"] for p in prog]),
            "streaming.state_mem_mb": max((p["state_mem_b"] for p in prog), default=0) / 2**20,
            "streaming.checkpoint_mb": ck_b / 2**20,
            "streaming.sink_mb": sink_b / 2**20,
            "streaming.rows_per_s": self.rows_per_s,
            "streaming.ckpt_bytes_per_input_byte": (ck_b + sink_b) / in_b,
        }

    def finish(self, run: Run) -> None:
        def totals_match() -> bool:
            got = {r.user_id: (r.n_events, r.total_value) for r in self.out.collect()}
            return check_totals(got, pq.read_table(self.published).to_pandas())

        run.attempt("final totals equal the batch groupBy", totals_match)


def check_reply(rows, rated: set[int], k: int) -> bool:
    """A reply holds ``k`` distinct items the user has not rated, each
    with ``scaled_rating`` in [1, 5]."""
    items = [r["item_id"] for r in rows]
    return (
        len(items) == k
        and len(set(items)) == k
        and not rated.intersection(items)
        and all(1.0 <= r["scaled_rating"] <= 5.0 for r in rows)
    )


def check_totals(got: dict, events) -> bool:
    """Per-user (n_events, total_value) equals a groupBy over ``events``
    (a pandas frame of user_id, value); totals agree to the cent."""
    want = events.groupby("user_id")["value"].agg(["count", "sum"])
    if set(got) != set(want.index):
        return False
    return all(
        got[u][0] == n and abs(got[u][1] - round(s, 2)) <= 0.011
        for u, n, s in zip(want.index, want["count"], want["sum"])
    )


def _in_spans(t, spans, name) -> bool:
    return t is not None and any(s["name"] == name and s["start"] <= t <= s["end"] for s in spans)


def count_in_spans(rows, key, spans, name) -> float:
    return float(sum(1 for r in rows if _in_spans(r[key], spans, name)))


def sum_in_spans(stages, field, spans, name) -> float:
    return float(sum(s[field] for s in stages if _in_spans(s["done"], spans, name)))


WORKLOADS = {w.name: w for w in (Analytics, Recsys)}
