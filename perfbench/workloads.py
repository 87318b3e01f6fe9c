"""The benchmark's workloads: what one op runs and how its output is checked.

A workload hands the runner one pass at a time, as a list of ops. An op
has an untimed `prepare`, a timed `run` and an untimed `check` that
returns the list of mismatches against the expected results stored in
``expected.json``.

- ``sql_mix``: warehouse, streaming and graph registry queries in a
  seed-shuffled order, each built (``Query.fn``) and then forced through
  the ``noop`` sink. Loads the plans layer and the engine; writes
  nothing and never runs the pipeline.
- ``etl_load``: ``run_pipeline`` from a seed-chosen base (a share of
  orders and their lineitems held out) into a fresh out dir, then
  ``run_pipeline_incremental`` from the full tables. Loads the
  pipeline, the sources layer (catalog reads, acid swaps and leased
  appends) and parquet output; runs no registry query.
"""

from __future__ import annotations

import importlib.util
import os
import random
import shutil

import datagen

SQL_OPS = (
    "agg_revenue_year_country", "cube_table", "asof_join_events",
    "graph_pagerank", "supplier_bfs",
)
WAREHOUSE_TABLES = (
    "dim_client", "dim_product", "dim_product_subcategory", "dim_country",
    "dim_country_subregion", "dim_date", "dim_date_month", "dim_date_year",
    "fact", "cube",
)


def load_row_hash(root: str):
    """`row_hash` of the project's contract drive: row count aside, the
    order-insensitive value hash every result check in the project uses."""
    path = os.path.join(root, ".claude", "skills", "verify", "drive_contract.py")
    spec = importlib.util.spec_from_file_location("drive_contract", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.row_hash


def result_key(row_hash, df) -> dict:
    rows = [tuple(r) for r in df.collect()]
    return {"rows": len(rows), "hash": row_hash(df.columns, rows)}


def _mismatch(what: str, got: dict, want: dict | None) -> list[str]:
    if want is None:
        return [f"{what}: no expected result recorded"]
    if got != want:
        return [f"{what}: got {got['rows']} rows / {got['hash'][:8]}, "
                f"want {want['rows']} rows / {want['hash'][:8]}"]
    return []


class QueryOp:
    def __init__(self, name: str, data_dir: str, expected: dict, row_hash):
        self.name = name
        self.data_dir = data_dir
        self.expected = expected
        self.row_hash = row_hash

    def prepare(self) -> None:
        pass

    def run(self, spark, tracer, verify: bool):
        from datawarehouse_code_spark.plans.registry import QUERIES, SUPPLEMENTARY_QUERIES

        query = QUERIES.get(self.name) or SUPPLEMENTARY_QUERIES[self.name]
        with tracer.span("plans.build"):
            df = query.fn(spark, self.data_dir)
        with tracer.span("plans.exec"):
            if verify:
                return [tuple(r) for r in df.collect()], df.columns
            df.write.format("noop").mode("overwrite").save()
        return None

    def check(self, spark, result) -> list[str]:
        if result is None:
            return []
        rows, cols = result
        got = {"rows": len(rows), "hash": self.row_hash(cols, rows)}
        return _mismatch(self.name, got, self.expected.get(self.name))

    def cleanup(self) -> None:
        pass


class QueryMix:
    name = "sql_mix"
    # two set-ups (cold start, then a session restart), each with one
    # pass, before timing: the first timed pass after a single warm-up
    # pass was still 10-40% slower than the next ones. Three timed
    # passes let the median drop one disturbed pass.
    setups = 2
    min_passes = 3

    def __init__(self, work: str, data_dir: str, seed: int, expected: dict, row_hash):
        order = list(SQL_OPS)
        random.Random(seed).shuffle(order)
        self.ops = [QueryOp(n, data_dir, expected.get(self.name, {}), row_hash) for n in order]

    def pass_ops(self) -> list[QueryOp]:
        return self.ops


class EtlOp:
    """One load: full build from the held-out base, then the incremental
    load of the full tables. Each op reads fresh copies of its inputs,
    as a new batch would, and writes into a fresh out dir."""

    name = "etl_load"

    def __init__(self, work: str, full_dir: str, base_dir: str, held: dict, expected: dict, row_hash):
        self.work, self.full_dir, self.base_dir = work, full_dir, base_dir
        self.held, self.expected, self.row_hash = held, expected, row_hash
        self.n = 0

    def prepare(self) -> None:
        self.n += 1
        self.base = f"{self.work}/in{self.n}/base"
        self.full = f"{self.work}/in{self.n}/full"
        self.out = f"{self.work}/out{self.n}"
        shutil.copytree(self.base_dir, self.base)
        shutil.copytree(self.full_dir, self.full)

    def run(self, spark, tracer, verify: bool):
        from datawarehouse_code_spark.pipeline import (
            build_warehouse, run_pipeline, run_pipeline_incremental,
        )

        with tracer.span("pipeline.full"):
            run_pipeline(spark, self.base, self.out)
        with tracer.span("pipeline.incremental"):
            wh = build_warehouse(spark, self.full)
            report = run_pipeline_incremental(spark, wh, self.out)
        return report, verify

    def check(self, spark, result) -> list[str]:
        from datawarehouse_code_spark.pipeline import build_warehouse, run_pipeline_incremental

        report, verify = result
        errors = []
        for table in ("fact", "cube"):
            if report[table]["inserted"] != self.held["lineitem"]:
                errors.append(f"etl_load: incremental inserted {report[table]['inserted']} "
                              f"{table} rows, want {self.held['lineitem']}")
        if not verify:
            return errors
        for table in WAREHOUSE_TABLES:
            got = result_key(self.row_hash, spark.read.parquet(f"{self.out}/{table}"))
            errors += _mismatch(f"etl_load {table}", got, self.expected.get(self.name, {}).get(table))
        again = run_pipeline_incremental(spark, build_warehouse(spark, self.full), self.out)
        for table, rep in again.items():
            if rep["inserted"]:
                errors.append(f"etl_load: second incremental inserted {rep['inserted']} {table} rows")
        return errors

    def out_files(self) -> tuple[int, int]:
        n = size = 0
        for dirpath, _, files in os.walk(self.out):
            for f in files:
                if not f.startswith((".", "_")):
                    n += 1
                    size += os.path.getsize(os.path.join(dirpath, f))
        return n, size

    def cleanup(self) -> None:
        shutil.rmtree(f"{self.work}/in{self.n}", ignore_errors=True)
        shutil.rmtree(self.out, ignore_errors=True)


class EtlLoad:
    name = "etl_load"
    # one set-up and one timed load: a load runs ~170 jobs, and after
    # the cold load and its checks the run budget has room for one more
    setups = 1
    min_passes = 1

    def __init__(self, work: str, data_dir: str, seed: int, expected: dict, row_hash):
        base = f"{work}/base"
        held = datagen.write_holdout(data_dir, base, seed)
        self.op = EtlOp(work, data_dir, base, held, expected, row_hash)

    def pass_ops(self) -> list[EtlOp]:
        return [self.op]


WORKLOADS = {"sql_mix": QueryMix, "etl_load": EtlLoad}
