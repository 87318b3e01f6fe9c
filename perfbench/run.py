"""Repository benchmark: closed-loop workloads over the warehouse package.

Usage, from the repository root:

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --record      # rewrite perfbench/expected.json

One process is one closed-loop client on ``local[<cpus>]``, with
``<cpus>`` the CPUs this process may run on. A run:

1. generates the input tables (fixed data seed, scale ``SF``) under
   ``.perfbench_work/`` and derives the workload's seeded inputs;
2. sets up: imports the package, starts the session and runs one
   untimed warm-up pass, whose outputs are checked against
   ``expected.json``. A workload may set up more than once (a session
   restart in the same JVM plus another pass); ``setup_s`` is the
   median set-up, checks excluded;
3. runs timed passes until ``--seconds`` have gone by and at least the
   workload's ``min_passes`` ran;
4. with ``--trace 1``, restarts the session with the event log on,
   wraps the package's layer functions in spans, runs a warm-up pass
   and a second timed window, and reports per-layer numbers.

``SF`` is small on purpose: the package's queries are bound by
per-query fixed overhead (jobs, stages, driver round trips) at every
scale the project benches, and a run has to fit in about a minute.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Lines before it
give every metric with its unit, the op-latency sample counts, the
error count with the first few messages and, when traced, every
per-layer metric for the workload and for each op, together with the
end-to-end metric it should move.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TRACE_OUT = os.path.join(ROOT, ".perfbench_out")
EXPECTED = os.path.join(HERE, "expected.json")
SF = 0.002
MAX_ERRORS_SHOWN = 3
ERROR_CHARS = 160

sys.path.insert(0, HERE)
import datagen  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, load_row_hash, result_key  # noqa: E402


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def fail(msg: str) -> None:
    log(msg)
    sys.exit(2)


def pin_environment(run_dir: str) -> int:
    """Fix everything the run depends on, before pyspark is imported."""
    for need in ("datawarehouse_code_spark/__init__.py", ".claude/skills/verify/drive_contract.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a checkout of the repository")
    cpus = len(os.sched_getaffinity(0))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = f"{run_dir}/spark-local"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = f"{run_dir}/spark-warehouse"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    os.makedirs(f"{run_dir}/spark-local")
    sys.path.insert(0, ROOT)
    return cpus


def start_session(cpus: int, event_log: str | None = None):
    """Start (or restart) the package's session. `event_log` turns
    Spark's event log on for the new context, set as JVM system
    properties the way spark-submit passes ``--conf``."""
    from pyspark import SparkContext

    from datawarehouse_code_spark.session import get_spark

    if event_log is not None:
        os.makedirs(event_log, exist_ok=True)
        for key, value in (("spark.eventLog.enabled", "true"),
                           ("spark.eventLog.compress", "false"),
                           ("spark.eventLog.rolling.enabled", "false"),
                           ("spark.eventLog.dir", f"file://{event_log}")):
            SparkContext._jvm.java.lang.System.setProperty(key, value)
    spark = get_spark("perfbench")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    if sc.master != f"local[{cpus}]":
        raise RuntimeError(f"session master is {sc.master}, want local[{cpus}]")
    if (event_log is not None) != (sc.getConf().get("spark.eventLog.enabled", "false") == "true"):
        raise RuntimeError("event log setting did not reach the session")
    return spark


def shutdown() -> None:
    """Stop the active session and the JVM, then wait until every process
    this run started has ended (the JVM exits when its stdin closes, and
    its Python workers follow it)."""
    started = descendants(os.getpid())[1:]
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while (left := [p for p in started if running(p)]) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Peak resident set of this process plus its JVM (VmHWM)."""
    total_kb = 0
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/status") as fh:
                status = fh.read()
        except OSError:
            continue
        if pid == os.getpid() or comm == "java":
            for line in status.splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it (never
    below the median): value, percentile, samples beyond."""
    xs = sorted(latencies)
    k = max(len(xs) - 11, len(xs) // 2)
    return xs[k], 100.0 * (k + 1) / len(xs), len(xs) - 1 - k


class Runner:
    def __init__(self, args, run_dir: str, cpus: int):
        self.args, self.run_dir, self.cpus = args, run_dir, cpus
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.spark = None
        self.pass_no = 0

    def run_pass(self, workload, tracer, tag: str, verify: bool = False) -> tuple[list[float], list[dict]]:
        """One pass: each op timed alone. Returns the latencies and one
        record per op of the ops that ran without error."""
        self.pass_no += 1
        sc = self.spark.sparkContext
        latencies, records = [], []
        for op in workload.pass_ops():
            group = f"{tag}/{self.pass_no}/{op.name}"
            op.prepare()
            self.attempted += 1
            try:
                sc.setJobGroup(group, group)
                with tracer.span("op", op=op.name, group=group, pass_no=self.pass_no) as op_span:
                    t0 = time.perf_counter()
                    result = op.run(self.spark, tracer, verify)
                    latency = time.perf_counter() - t0
                if op_span is not None and hasattr(op, "out_files"):
                    files, size = op.out_files()
                    op_span.update({"out_files": files, "out_bytes": size})
                sc.setJobGroup("perfbench-check", "perfbench-check")
                errors = op.check(self.spark, result)
            except Exception as e:  # an op failure is a result, not a crash
                errors = [f"{op.name}: {type(e).__name__}: {e}"]
            finally:
                op.cleanup()
            if errors:
                self.failed += 1
                self.errors.extend(errors)
                continue
            latencies.append(latency)
            records.append({"op": op.name, "group": group, "latency": latency})
        return latencies, records

    def timed_window(self, workload, tracer, tag: str,
                     min_passes: int) -> tuple[list[float], list[float], list[list[dict]]]:
        """Passes until `--seconds` have gone by and at least `min_passes`
        were run. A pass in which an op failed is counted as failed and
        left out of the timings."""
        passes, ops, per_pass = [], [], []
        start, runs = time.perf_counter(), 0
        while runs < min_passes or time.perf_counter() - start < self.args.seconds:
            runs += 1
            lat, recs = self.run_pass(workload, tracer, tag)
            if len(lat) < len(workload.pass_ops()):
                continue
            passes.append(sum(lat))
            log(f"{tag} pass {len(passes)}: {passes[-1]:.2f} s")
            ops.extend(lat)
            per_pass.append(recs)
        if not passes:
            raise RuntimeError(f"no {tag} pass ran without a failed op: {self.errors[:MAX_ERRORS_SHOWN]}")
        return passes, ops, per_pass

    def run(self) -> dict:
        name = self.args.workload
        data_dir = f"{self.run_dir}/data"
        datagen.write_tables(data_dir, SF)
        with open(EXPECTED) as fh:
            expected = json.load(fh)
        row_hash = load_row_hash(ROOT)
        workload = WORKLOADS[name](self.run_dir, data_dir, self.args.seed, expected, row_hash)
        off = tracing.Tracer(False)

        # each set-up starts the session (the first one cold, later ones
        # restart the context in the same JVM) and runs one warm-up pass;
        # the first pass collects its results, checked outside the timing
        setups, starts = [], []
        for i in range(workload.setups):
            t0 = time.perf_counter()
            if self.spark is not None:
                self.spark.stop()
            self.spark = start_session(self.cpus)
            starts.append(time.perf_counter() - t0)
            lat, _ = self.run_pass(workload, off, "warmup", verify=(i == 0))
            setups.append(starts[-1] + sum(lat))
            log(f"set-up {i + 1}: {setups[-1]:.2f} s ({starts[-1]:.2f} s session), "
                f"checks {time.perf_counter() - t0 - setups[-1]:.2f} s")

        steal0, total0 = cpu_ticks()
        passes, ops, per_pass = self.timed_window(workload, off, "timed", workload.min_passes)
        steal1, total1 = cpu_ticks()
        by_op: dict[str, list[float]] = {}
        for rec in (r for recs in per_pass for r in recs):
            by_op.setdefault(rec["op"], []).append(rec["latency"])
        out = {
            "setup_s": (statistics.median(setups), "s"),
            "pass_s": (statistics.median(passes), "s"),
            "op_p50_s": (statistics.median(ops), "s"),
            "op_tail_s": (tail(ops)[0], "s"),
        }
        notes = {
            "setup_s": f"median of {len(setups)}: " + ", ".join(f"{x:.2f}" for x in setups),
            "pass_s": f"median of {len(passes)} passes",
            "op_p50_s": f"median of {len(ops)} ops",
            "op_tail_s": "p{1:.0f} of {3} ops, {2} beyond".format(*tail(ops), len(ops)),
        }
        notes["steal"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
        notes["ops"] = ", ".join(f"{op} {statistics.median(v):.3f}" for op, v in by_op.items())
        layers = None
        if self.args.trace:
            layers = self.traced_window(workload, statistics.median(passes), starts[0])
        notes["peak_rss_mb"] = peak_rss_mb()
        return {"metrics": out, "notes": notes, "layers": layers}

    def traced_window(self, workload, untraced_pass_s: float, start_s: float) -> dict:
        from datawarehouse_code_spark import pipeline
        from datawarehouse_code_spark.sources import acid, catalog

        tracer = tracing.Tracer(False)
        log_dir = f"{self.run_dir}/eventlog"
        self.spark.stop()
        self.spark = start_session(self.cpus, event_log=log_dir)
        funcs = {"sources.read_table": (catalog, "read_table"),
                 "sources.acid_swap": (acid, "_staged_overwrite")}
        if workload.name == "etl_load":
            funcs["plans.build"] = (pipeline, "build_warehouse")
        with tracing.instrument(tracer, funcs, {"sources.acid_swap": (acid, "leased_append")}):
            self.run_pass(workload, tracer, "warmup")
            tracer.enabled = True
            # two passes at least, so that every counter can be seen to repeat
            passes, _, per_pass = self.timed_window(workload, tracer, "traced",
                                                    max(2, workload.min_passes))
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        groups = tracing.parse_event_log(f"{log_dir}/{app_id}")
        layers = tracing.summarize(tracer.spans, groups, per_pass)
        layers["workload"]["session.start_s"] = start_s
        layers["workload"]["trace.overhead_s"] = statistics.median(passes) - untraced_pass_s
        layers.update(traced_pass_s=statistics.median(passes), untraced_pass_s=untraced_pass_s,
                      spans=tracer.spans)
        return layers


def report(args, res: dict, runner: Runner) -> dict:
    print(f"workload {args.workload}: seed {args.seed}, local[{runner.cpus}], sf {SF}, "
          f"closed loop, 1 client, {args.seconds} s timed")
    for key, (value, unit) in res["metrics"].items():
        print(f"  {key:12s} {value:12.4f} {unit:5s} {res['notes'][key]}")
    # peak RSS is reported but not gated: the JVM's heap growth under an
    # 8 GB cap varied by a third between identical runs
    print(f"  {'peak_rss_mb':12s} {res['notes']['peak_rss_mb']:12.4f} {'MB':5s} driver + JVM, VmHWM")
    print(f"  median op latency, s: {res['notes']['ops']}")
    print(f"  cpu time stolen by the host during timed passes: {res['notes']['steal']:.1f}%")
    frac = runner.failed / runner.attempted if runner.attempted else 0.0
    print(f"  {'failed_frac':12s} {frac:12.4f} {'ratio':5s} {runner.failed} of {runner.attempted} ops")
    shown = [e[:ERROR_CHARS] for e in runner.errors[:MAX_ERRORS_SHOWN]]
    print(f"errors: {len(runner.errors)}" + (f"; first {len(shown)}: {json.dumps(shown)}" if shown else ""))
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()}
    layers = res["layers"]
    if layers is None:
        return metrics
    print(f"per-layer ({args.workload}; per pass, median of traced passes):")
    for key, value in layers["workload"].items():
        print(f"  {key:26s} {value:16.4f} {tracing.UNITS[key]:6s} moves: {tracing.MOVES[key]}")
    for op, vals in layers["per_op"].items():
        print(f"op {op}:")
        for key, value in vals.items():
            if key not in ("self_s", "repeat"):
                print(f"  {key:26s} {value:16.4f} {tracing.UNITS[key]:6s} moves: {tracing.MOVES[key]}")
        print("  self time: " + ", ".join(f"{k} {v:.3f} s" for k, v in vals["self_s"].items()))
        print("  counters repeat across passes: " + ", ".join(f"{k} {v}" for k, v in vals["repeat"].items()))
    os.makedirs(TRACE_OUT, exist_ok=True)
    path = f"{TRACE_OUT}/trace-{args.workload}-seed{args.seed}.json"
    with open(path, "w") as fh:
        json.dump({k: layers[k] for k in ("workload", "per_op", "passes", "spans",
                                         "traced_pass_s", "untraced_pass_s")}, fh, indent=1)
    print(f"spans and per-pass counters written to {os.path.relpath(path, ROOT)}")
    return {k: {"value": v, "unit": tracing.UNITS[k]} for k, v in layers["workload"].items()}


def record(run_dir: str, cpus: int) -> None:
    """Write expected.json: each sql_mix query's result (checked against
    its DuckDB oracle) and every warehouse table of a fresh full build."""
    import duckdb

    from datawarehouse_code_spark.pipeline import run_pipeline
    from datawarehouse_code_spark.plans.registry import QUERIES, SUPPLEMENTARY_QUERIES
    from workloads import SQL_OPS, WAREHOUSE_TABLES

    data_dir = f"{run_dir}/data"
    datagen.write_tables(data_dir, SF)
    row_hash = load_row_hash(ROOT)
    spark = start_session(cpus)
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    out = {"sf": SF, "data_seed": datagen.DATA_SEED, "sql_mix": {}, "etl_load": {}}
    for name in SQL_OPS:
        query = QUERIES.get(name) or SUPPLEMENTARY_QUERIES[name]
        out["sql_mix"][name] = got = result_key(row_hash, query.fn(spark, data_dir))
        rel = con.sql(query.oracle)
        rows = rel.fetchall()
        want = {"rows": len(rows), "hash": row_hash(rel.columns, rows)}
        if got != want:
            raise RuntimeError(f"{name}: Spark {got} disagrees with its DuckDB oracle {want}")
        print(f"{name}: {got['rows']} rows, oracle agrees", flush=True)
    run_pipeline(spark, data_dir, f"{run_dir}/full_build")
    for table in WAREHOUSE_TABLES:
        out["etl_load"][table] = result_key(row_hash, spark.read.parquet(f"{run_dir}/full_build/{table}"))
    with open(EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {EXPECTED}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true", help="rewrite expected.json")
    args = ap.parse_args()
    if not args.record and args.workload is None:
        ap.error("--workload is required")
    run_dir = f"{WORK}/run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    cpus = pin_environment(run_dir)
    runner = None
    try:
        if args.record:
            record(run_dir, cpus)
            return
        runner = Runner(args, run_dir, cpus)
        res = runner.run()
    finally:
        shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics = report(args, res, runner)
    print(json.dumps({"correct": runner.failed == 0, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
