"""Spans and Spark event-log counters for the traced benchmark run.

Spans are recorded from the benchmark's side of each layer boundary:
around the calls it makes (session start, plan build, plan execution,
pipeline runs) and around the package's own layer functions, which
`instrument` wraps for the length of a traced run. Spark jobs come
from the event log; each op runs under its own job group, so every
job is attributed to the op that launched it and becomes a child span
of that op.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import sys
import time
from collections import defaultdict

# Per-layer metric -> the end-to-end metric it should move, per workload.
MOVES = {
    "session.start_s": "setup_s",
    "plans.build_s": "op_p50_s and op_tail_s on sql_mix (graph ops); small on etl_load",
    "plans.build_jobs": "op_p50_s and op_tail_s on sql_mix; ~0 on etl_load",
    "plans.exec_s": "pass_s on sql_mix",
    "sources.read_table_s": "pass_s on etl_load",
    "sources.read_table_calls": "pass_s on etl_load",
    "sources.acid_swap_s": "pass_s on etl_load; 0 on sql_mix",
    "pipeline.full_s": "pass_s on etl_load; 0 on sql_mix",
    "pipeline.incremental_s": "pass_s on etl_load; 0 on sql_mix",
    "pipeline.out_bytes": "pass_s on etl_load; 0 on sql_mix",
    "pipeline.out_files": "pass_s on etl_load; 0 on sql_mix",
    "spark.jobs": "op_p50_s on sql_mix",
    "spark.stages": "op_p50_s on sql_mix",
    "spark.tasks": "op_p50_s on sql_mix",
    "spark.driver_gap_s": "op_p50_s on sql_mix",
    "spark.scheduler_delay_ms": "op_p50_s on sql_mix",
    "spark.executor_cpu_ms": "pass_s",
    "spark.python_rows": "pass_s (Python/Arrow UDF ops only)",
    "spark.python_bytes": "pass_s (Python/Arrow UDF ops only)",
    "spark.shuffle_read_bytes": "pass_s on etl_load (cube join)",
    "spark.shuffle_write_bytes": "pass_s on etl_load (cube join)",
    "spark.spill_bytes": "pass_s on etl_load",
    "spark.input_bytes": "pass_s",
    "spark.input_records": "pass_s",
    "spark.output_bytes": "pass_s on etl_load",
    "spark.gc_ms": "peak_rss_mb and op_tail_s",
    "spark.failed_tasks": "failed_frac",
    "trace.overhead_s": "none: traced pass_s minus untraced pass_s",
}

UNITS = {
    "session.start_s": "s", "plans.build_s": "s", "plans.build_jobs": "count",
    "plans.exec_s": "s", "sources.read_table_s": "s",
    "sources.read_table_calls": "count", "sources.acid_swap_s": "s",
    "pipeline.full_s": "s", "pipeline.incremental_s": "s",
    "pipeline.out_bytes": "bytes", "pipeline.out_files": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_gap_s": "s", "spark.scheduler_delay_ms": "ms",
    "spark.executor_cpu_ms": "ms", "spark.python_rows": "count",
    "spark.python_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes", "spark.input_records": "count",
    "spark.output_bytes": "bytes", "spark.gc_ms": "ms",
    "spark.failed_tasks": "ratio", "trace.overhead_s": "s",
}

# Counters the traced run must repeat exactly between passes, per op.
DETERMINISTIC = ("spark.jobs", "spark.tasks", "spark.input_records")
SPARK_COUNTERS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.scheduler_delay_ms",
    "spark.executor_cpu_ms", "spark.python_rows", "spark.python_bytes",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.input_bytes", "spark.input_records", "spark.output_bytes", "spark.gc_ms",
)

_PY_METRICS = ("data sent to Python workers", "data returned from Python workers")


class Tracer:
    """In-memory span recorder; `enabled=False` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = {"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
              "name": name, "start": time.time(), "end": None, **attrs}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()


def _replace_everywhere(orig, wrapper) -> list[tuple[object, str]]:
    """Point every package-module attribute bound to `orig` at `wrapper`
    (modules that did `from x import f` hold their own reference)."""
    patched = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith("datawarehouse_code_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapper)
                patched.append((mod, attr))
    return patched


@contextlib.contextmanager
def instrument(tracer: Tracer, funcs: dict[str, tuple[object, str]], leases: dict[str, tuple[object, str]]):
    """Wrap `funcs` (span name -> (module, attr)) in spans, and time the
    acquire and release of the context managers in `leases` the same
    way, for the duration of the block."""
    patched: list[tuple[object, str, object]] = []

    def timed(orig, span_name):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                return orig(*args, **kwargs)
        return wrapper

    def timed_cm(orig, span_name):
        @functools.wraps(orig)
        @contextlib.contextmanager
        def wrapper(*args, **kwargs):
            cm = orig(*args, **kwargs)
            with tracer.span(span_name):
                value = cm.__enter__()
            try:
                yield value
            except BaseException:
                with tracer.span(span_name):
                    if not cm.__exit__(*sys.exc_info()):
                        raise
            else:
                with tracer.span(span_name):
                    cm.__exit__(None, None, None)
        return wrapper

    try:
        for make, table in ((timed, funcs), (timed_cm, leases)):
            for span_name, (mod, attr) in table.items():
                orig = getattr(mod, attr)
                for m, a in _replace_everywhere(orig, make(orig, span_name)):
                    patched.append((m, a, orig))
        yield
    finally:
        for m, a, orig in reversed(patched):
            setattr(m, a, orig)


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict], jobs: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part covered by its children; Spark
    jobs count as children of the op span they ran under."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for sp in spans:
        if sp["parent"] is not None:
            children[sp["parent"]].append((sp["start"], sp["end"]))
    op_ids = {sp["group"]: sp["id"] for sp in spans if "group" in sp}
    for job in jobs:
        if job["group"] in op_ids:
            children[op_ids[job["group"]]].append((job["start"], job["end"]))
    out = {}
    for sp in spans:
        clipped = [(max(s, sp["start"]), min(e, sp["end"])) for s, e in children[sp["id"]]]
        out[sp["id"]] = sp["end"] - sp["start"] - _union_s([c for c in clipped if c[1] > c[0]])
    return out


def parse_event_log(path: str) -> dict[str, dict]:
    """Job group -> summed counters and the list of its jobs, from one
    uncompressed, non-rolling Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    py_rows_ids: set[int] = set()
    tasks: list[dict] = []
    stages_done: list[int] = []

    def scan_plan(node):
        names = {m["name"] for m in node.get("metrics", [])}
        if names & set(_PY_METRICS):
            py_rows_ids.update(m["accumulatorId"] for m in node["metrics"]
                               if m["name"] == "number of output rows")
        for child in node.get("children", []):
            scan_plan(child)

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                jobs[ev["Job ID"]] = {"group": group, "start": ev["Submission Time"] / 1000.0, "end": None}
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                stages_done.append(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif "sparkPlanInfo" in ev:
                scan_plan(ev["sparkPlanInfo"])

    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    group_jobs: dict[str, list[dict]] = defaultdict(list)
    for job in jobs.values():
        if job["group"] is not None and job["end"] is not None:
            group_jobs[job["group"]].append(job)
            groups[job["group"]]["spark.jobs"] += 1
    for sid in stages_done:
        job = jobs.get(stage_job.get(sid))
        if job is not None and job["group"] is not None:
            groups[job["group"]]["spark.stages"] += 1
    for ev in tasks:
        job = jobs.get(stage_job.get(ev["Stage ID"]))
        if job is None or job["group"] is None:
            continue
        g = groups[job["group"]]
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        g["spark.tasks"] += 1
        g["failed_attempts"] += ev["Task End Reason"]["Reason"] != "Success"
        if not m:
            continue
        duration = info["Finish Time"] - info["Launch Time"]
        getting = info["Finish Time"] - info["Getting Result Time"] if info["Getting Result Time"] else 0
        g["spark.scheduler_delay_ms"] += max(0, duration - m["Executor Run Time"]
                                             - m["Executor Deserialize Time"]
                                             - m["Result Serialization Time"] - getting)
        g["spark.executor_cpu_ms"] += m["Executor CPU Time"] / 1e6
        g["spark.gc_ms"] += m["JVM GC Time"]
        g["spark.spill_bytes"] += m["Disk Bytes Spilled"]
        rd = m["Shuffle Read Metrics"]
        g["spark.shuffle_read_bytes"] += rd["Remote Bytes Read"] + rd["Local Bytes Read"]
        g["spark.shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
        g["spark.input_bytes"] += m["Input Metrics"]["Bytes Read"]
        g["spark.input_records"] += m["Input Metrics"]["Records Read"]
        g["spark.output_bytes"] += m["Output Metrics"]["Bytes Written"]
        for acc in info.get("Accumulables", []):
            if acc["Name"] in _PY_METRICS:
                g["spark.python_bytes"] += int(acc["Update"])
            elif acc["ID"] in py_rows_ids:
                g["spark.python_rows"] += int(acc["Update"])
    return {k: {"counters": dict(v), "jobs": group_jobs[k]} for k, v in groups.items()}


def _op_values(op_span: dict, sub: list[dict], group: dict) -> dict:
    """Per-layer values of one op, from its spans and its Spark jobs."""
    counters, jobs = group["counters"], group["jobs"]
    wall = op_span["end"] - op_span["start"]
    builds = [s for s in sub if s["name"] == "plans.build"]
    build_s = sum(s["end"] - s["start"] for s in builds)

    def total(name):
        return sum(s["end"] - s["start"] for s in sub if s["name"] == name)

    v = {
        "plans.build_s": build_s,
        "plans.build_jobs": sum(1 for j in jobs if any(b["start"] <= j["start"] <= b["end"] for b in builds)),
        "plans.exec_s": wall - build_s,
        "sources.read_table_s": total("sources.read_table"),
        "sources.read_table_calls": sum(1 for s in sub if s["name"] == "sources.read_table"),
        "sources.acid_swap_s": total("sources.acid_swap"),
        "pipeline.full_s": total("pipeline.full"),
        "pipeline.incremental_s": total("pipeline.incremental"),
        "pipeline.out_bytes": op_span.get("out_bytes", 0),
        "pipeline.out_files": op_span.get("out_files", 0),
        "spark.driver_gap_s": wall - _union_s(
            [(max(j["start"], op_span["start"]), min(j["end"], op_span["end"]))
             for j in jobs if j["end"] > op_span["start"]]),
        "failed_attempts": counters.get("failed_attempts", 0),
    }
    for key in SPARK_COUNTERS:
        v[key] = counters.get(key, 0)
    return v


def _failed_ratio(v: dict) -> float:
    return v["failed_attempts"] / v["spark.tasks"] if v["spark.tasks"] else 0.0


def summarize(spans: list[dict], groups: dict[str, dict], per_pass: list[list[dict]]) -> dict:
    """Per-layer values for every op of every traced pass, their per-op
    medians, the per-pass totals' medians and each span name's median
    self time per op."""
    jobs = [j for g in groups.values() for j in g["jobs"]]
    self_t = self_times(spans, jobs)
    children: dict[int | None, list[dict]] = defaultdict(list)
    for sp in spans:
        children[sp["parent"]].append(sp)

    def below(sp_id):
        for c in children[sp_id]:
            yield c
            yield from below(c["id"])

    by_group = {sp["group"]: sp for sp in spans if "group" in sp}
    passes, self_by_op = [], defaultdict(lambda: defaultdict(list))
    for recs in per_pass:
        vals = {}
        for rec in recs:
            op_span = by_group[rec["group"]]
            sub = list(below(op_span["id"]))
            vals[rec["op"]] = _op_values(op_span, sub, groups.get(rec["group"], {"counters": {}, "jobs": []}))
            names = defaultdict(float)
            for s in [op_span] + sub:
                names[s["name"]] += self_t[s["id"]]
            for name, t in names.items():
                self_by_op[rec["op"]][name].append(t)
        passes.append(vals)

    keys = list(passes[0][next(iter(passes[0]))])
    per_op = {}
    for op in passes[0]:
        vals = [p[op] for p in passes]
        per_op[op] = {k: statistics.median(v[k] for v in vals) for k in keys}
        per_op[op]["spark.failed_tasks"] = statistics.median(_failed_ratio(v) for v in vals)
        per_op[op]["repeat"] = {k: len({v[k] for v in vals}) == 1 for k in DETERMINISTIC}
        per_op[op]["self_s"] = {n: statistics.median(ts) for n, ts in self_by_op[op].items()}
    totals = [{k: sum(v[k] for v in p.values()) for k in keys} for p in passes]
    workload = {k: statistics.median(t[k] for t in totals) for k in keys}
    workload["spark.failed_tasks"] = statistics.median(_failed_ratio(t) for t in totals)
    for d in [workload] + list(per_op.values()):
        d.pop("failed_attempts")
    return {"workload": workload, "per_op": per_op, "passes": passes}
