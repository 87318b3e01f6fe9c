"""Tests of the benchmark itself: its statistics helpers, and that the
per-op counters of a traced run repeat exactly from pass to pass.

Run from the repository root:

    python3 -m pytest perfbench/test_perfbench.py -q

The counter test runs each workload once with ``--trace 1`` (about two
minutes per workload on four cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402
from run import TRACE_OUT, tail  # noqa: E402


def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 41)]
    value, pct, beyond = tail(xs)
    assert (value, beyond) == (30.0, 10)
    assert pct == 75.0


def test_tail_never_below_median():
    value, _, beyond = tail([3.0, 1.0, 2.0, 4.0])
    assert value == 3.0 and beyond == 1


def test_self_time_subtracts_children_and_jobs():
    spans = [
        {"id": 0, "parent": None, "name": "op", "start": 0.0, "end": 10.0, "group": "g"},
        {"id": 1, "parent": 0, "name": "plans.build", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 1, "name": "sources.read_table", "start": 1.0, "end": 2.0},
    ]
    jobs = [{"group": "g", "start": 3.0, "end": 6.0}, {"group": "other", "start": 0.0, "end": 10.0}]
    st = tracing.self_times(spans, jobs)
    assert st == {0: 5.0, 1: 2.0, 2: 1.0}


# Counters found not to repeat at the commit that added this benchmark:
# graph_pagerank launches 25 or 26 jobs (31 or 32 tasks) per run, as
# adaptive execution submits its query stages differently from run to
# run. Its counters cannot be cited as evidence until that is fixed;
# its scanned records do repeat.
NOT_REPEATING = {("graph_pagerank", "spark.jobs"), ("graph_pagerank", "spark.tasks")}


@pytest.mark.parametrize("workload", ["sql_mix", "etl_load"])
def test_traced_counters_repeat_between_passes(workload):
    seed = 7
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    with open(f"{TRACE_OUT}/trace-{workload}-seed{seed}.json") as fh:
        trace = json.load(fh)
    passes = trace["passes"]
    assert len(passes) >= 2
    varying = {}
    for op in passes[0]:
        for counter in tracing.DETERMINISTIC:
            values = [p[op][counter] for p in passes]
            assert min(values) > 0, f"{op} {counter} is {values}"
            if len(set(values)) > 1:
                varying[(op, counter)] = values
    assert set(varying) <= NOT_REPEATING, f"counters differ between passes: {varying}"
