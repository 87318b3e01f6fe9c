"""bench.py's stdout line must fit the driver's 2000-char capture
window however many queries fail: the line keeps the first three error
messages and a count, and the per-run file keeps them all."""

from __future__ import annotations

import json

import bench


def test_summary_line_caps_errors_under_the_window():
    errors = {
        f"failing_query_with_a_long_name_{i:02d}": "Py4JJavaError: " + "x" * 200
        for i in range(87)
    }
    times = {f"query_{i:02d}": 1.0 + i / 10 for i in range(20)}
    payload = {
        "value": round(sum(times.values()), 3),
        "queries": times,
        "errors": errors,
        "calibration": {"before": 0.3, "after": 0.4, "marks": [[0, 0.3]]},
        "sf": 0.1,
        "cpus": "32",
    }
    line = bench._summary_line(payload, "BENCH_full_c32.json")
    assert len(line) <= 1900
    summary = json.loads(line)
    assert list(summary["errors"]) == list(errors)[:3]
    assert summary["errors_total"] == 87
    # the cap leaves room for query rows, largest first
    assert summary["queries"]
    assert max(summary["queries"].values()) == round(max(times.values()), 2)
    assert summary["queries_omitted"] == len(times) - len(summary["queries"])
