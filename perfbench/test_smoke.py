"""Smoke checks for the benchmark harness.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload of BENCHMARK.json at a tiny scale, untraced and
traced, and fails if a declared metric is missing from the result line.
The remaining tests break one output on purpose and expect the harness
to count it as a failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
SMOKE_SF = {"analytics_stream": 0.001, "recsys_serving": 0.2}


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_declared_metric_is_printed(workload, trace):
    cmd = SPEC["command"] + [
        "--workload", workload, "--seed", "7", "--seconds", "0",
        "--trace", str(trace), "--sf", str(SMOKE_SF[workload]),
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    declared = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == declared
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1


def test_dropped_row_fails_the_oracle_check(tmp_path, monkeypatch):
    import gen
    import workloads as W
    from tests.oracle import duck_connection

    gen.write_tables(str(tmp_path), 1, 0.001)
    con = duck_connection(str(tmp_path))
    sql = "SELECT n_nationkey, n_name FROM nation"
    rows = con.execute(sql).fetchall()

    class OneRowShort:
        columns = ["n_nationkey", "n_name"]

        def collect(self):
            return rows[1:]

    monkeypatch.setitem(W.Q.QUERIES, "smoke_nation", lambda spark, sf_dir: OneRowShort())
    monkeypatch.setitem(W.Q.ORACLE_SQL, "smoke_nation", sql)
    batch, run = W.Analytics(), W.Run(None, None, 1, 0, str(tmp_path), 0.001)
    batch.sf_dir = str(tmp_path)
    run.attempt("check", lambda: batch.check_query(run, con, "smoke_nation"))
    assert (run.attempted, run.failed) == (1, 1)


def test_dropped_event_fails_the_stream_check():
    import workloads as W

    events = pd.DataFrame({"user_id": [1, 1, 2], "value": [1.5, 2.25, 4.0]})
    totals = {1: (2, 3.75), 2: (1, 4.0)}
    assert W.check_totals(totals, events)
    assert not W.check_totals(totals, events.iloc[1:])


def test_short_or_rated_reply_fails_the_request_check():
    import workloads as W

    reply = [{"item_id": i, "scaled_rating": 5.0 - i / 10} for i in range(10)]
    assert W.check_reply(reply, rated={99}, k=10)
    assert not W.check_reply(reply[1:], rated={99}, k=10)
    assert not W.check_reply(reply, rated={3}, k=10)
