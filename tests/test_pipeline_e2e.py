"""End-to-end materialization: run_pipeline writes every warehouse
table to disk; the loaded artifacts are read back and verified
(O4/O17/O22/O26 — the reference's whole point is the load,
warehouse.py:307-314).
"""

from __future__ import annotations

import os
from datetime import date, datetime

from pyspark.sql import functions as F

from datawarehouse_code_spark.pipeline import build_warehouse, run_pipeline
from tests.conftest import SF_DIR


def test_run_pipeline_materializes_and_reads_back(spark, tmp_path):
    out = str(tmp_path / "wh")
    wh = run_pipeline(spark, SF_DIR, out)

    # every table written
    for name in (
        "dim_client", "dim_product", "dim_product_subcategory", "dim_country",
        "dim_country_subregion", "dim_date", "dim_date_month", "dim_date_year",
        "fact", "cube",
    ):
        assert os.path.isdir(f"{out}/{name}"), name

    # O17: fact is hive-partitioned by year on disk
    year_dirs = [d for d in os.listdir(f"{out}/fact") if d.startswith("year=")]
    assert len(year_dirs) >= 2

    # partition pruning actually happens on a year filter
    fact_back = spark.read.parquet(f"{out}/fact")
    plan = fact_back.filter(F.col("year") == 1995)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "year" in plan

    # O22/O26: the overwritten cube read back equals the in-memory cube
    cube_back = spark.read.parquet(f"{out}/cube")
    assert cube_back.count() == wh.cube.count()
    assert sorted(cube_back.columns) == sorted(wh.cube.columns)
    sym_diff = cube_back.exceptAll(wh.cube.select(*cube_back.columns)).count()
    assert sym_diff == 0

    # fact read back equals in-memory fact (column order differs:
    # partition column lands last on read)
    fact_mem = build_warehouse(spark, SF_DIR).fact
    assert fact_back.count() == fact_mem.count()
    assert fact_back.select(*fact_mem.columns).exceptAll(fact_mem).count() == 0


def test_run_pipeline_incremental_noop_then_catchup(spark, tmp_path):
    """Pipeline-level O5/O25: against an up-to-date warehouse the
    incremental load inserts nothing; against a warehouse built from a
    fact prefix it appends exactly the missing rows, converging to the
    full rebuild."""
    from datawarehouse_code_spark.operators.cube import build_cube
    from datawarehouse_code_spark.operators.fact import write_fact
    from datawarehouse_code_spark.pipeline import (
        _DIM_KEYS,
        run_pipeline_incremental,
    )

    out = str(tmp_path / "wh_inc")
    wh = run_pipeline(spark, SF_DIR, out)

    # 1) idempotent no-op against the fresh materialization, under a
    # job group: the dims' pool threads must carry it, so every job
    # between the one before the load and the one after is the group's
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")
    prev = {k: sc.getLocalProperty(k) for k in keys}
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = max(tracker.getJobIdsForGroup(prev["spark.jobGroup.id"]))
    group = "incremental-noop"
    sc.setJobGroup(group, group)
    try:
        reports = run_pipeline_incremental(spark, wh, out)
    finally:
        for k, v in prev.items():
            sc.setLocalProperty(k, v)
    assert list(reports) == [*_DIM_KEYS, "fact", "cube"]
    assert all(r["inserted"] == 0 for r in reports.values())
    assert spark.read.parquet(f"{out}/fact").count() == wh.fact.count()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    after = min(
        j for j in tracker.getJobIdsForGroup(prev["spark.jobGroup.id"])
        if j > before
    )
    in_group = set(tracker.getJobIdsForGroup(group))
    assert in_group and set(range(before + 1, after)) == in_group

    # 2) rebuild out_dir with a fact/cube PREFIX, then catch up
    old_fact = wh.fact.filter(F.col("year") <= 1995)
    write_fact(old_fact, f"{out}/fact")
    old_lines = wh.fact_lines.filter(F.year("date") <= 1995)
    old_cube = build_cube(old_lines, wh.part, wh.nation)
    old_cube.write.mode("overwrite").parquet(f"{out}/cube")

    reports = run_pipeline_incremental(spark, wh, out)
    missing = wh.fact.count() - old_fact.count()
    assert reports["fact"]["inserted"] == missing > 0
    assert reports["cube"]["inserted"] == wh.cube.count() - old_cube.count()

    fact_back = spark.read.parquet(f"{out}/fact")
    assert fact_back.count() == wh.fact.count()
    cube_back = spark.read.parquet(f"{out}/cube")
    assert cube_back.count() == wh.cube.count()
    assert cube_back.select(*wh.cube.columns).exceptAll(wh.cube).count() == 0

    # 3) a crash mid-swap left fact and cube renamed aside (the state
    # recover_interrupted_swap rolls back): each table's read sits
    # inside its lease, so the repair runs first and nothing is lost
    for name in ("fact", "cube"):
        os.rename(f"{out}/{name}", f"{out}/{name}._old")
    reports = run_pipeline_incremental(spark, wh, out)
    assert all(r["inserted"] == 0 for r in reports.values()), reports
    assert spark.read.parquet(f"{out}/fact").count() == wh.fact.count()
    assert spark.read.parquet(f"{out}/cube").count() == wh.cube.count()


def test_incremental_cube_equals_full_rebuild(spark):
    """Incremental maintenance: starting from a cube built on a fact
    prefix, feeding the FULL fact as the delta (overlapping rows must
    be skipped via the deterministic fact_id) yields the rows that,
    appended to the old cube, make exactly the full rebuild."""
    from datawarehouse_code_spark.operators.cube import build_cube, incremental_cube

    wh = build_warehouse(spark, SF_DIR)
    old_lines = wh.fact_lines.filter(F.year("date") <= 1995)
    old_cube = build_cube(old_lines, wh.part, wh.nation)
    assert 0 < old_cube.count() < wh.cube.count()

    delta = incremental_cube(old_cube, wh.fact_lines, wh.part, wh.nation)
    inc = old_cube.unionByName(delta)
    assert inc.count() == wh.cube.count()
    assert inc.exceptAll(wh.cube).count() == 0
    assert wh.cube.exceptAll(inc).count() == 0
    # idempotent: a second delivery of the same delta appends nothing
    assert incremental_cube(inc, wh.fact_lines, wh.part, wh.nation).count() == 0


# A few hand-built rows per source table, each one a case the cube's
# joins must drop or keep: part 11 has a null p_type, order 102 a null
# o_orderdate, lineitem (100, 3) names a part that does not exist,
# customer 2 has an unmapped c_mktsegment and customer 3 a nation that
# does not exist.
_EDGE_TABLES = {
    "region": [(0, "AFRICA"), (1, "AMERICA")],
    "nation": [(0, "ALGERIA", 0), (1, "BRAZIL", 1)],
    "customer": [
        (1, "Customer#1", 0, 10.0, "MACHINERY"),
        (2, "Customer#2", 1, 20.0, "HOUSEHOLD"),
        (3, "Customer#3", 7, 30.0, "BUILDING"),
    ],
    "part": [
        (10, "part ten", "Brand#1", "STANDARD BRASS", 1, 1.0),
        (11, "part eleven", "Brand#2", None, 2, 2.0),
        (12, "part twelve", "Brand#3", "LARGE TIN", 3, 3.0),
    ],
    "orders": [
        (100, 1, "O", 1.0, datetime(1995, 3, 4), "1-URGENT"),
        (101, 2, "F", 2.0, datetime(1996, 12, 31), "2-HIGH"),
        (102, 1, "O", 3.0, None, "3-MEDIUM"),
        (103, 3, "F", 4.0, datetime(1997, 1, 1), "4-LOW"),
    ],
    "lineitem": [
        (100, 10, 1, 1, 2.0, 20.0, 0.0, 0.0, "N", "O", datetime(1995, 3, 5)),
        (100, 11, 1, 2, 3.0, 30.0, 0.0, 0.0, "N", "O", datetime(1995, 3, 5)),
        (100, 99, 1, 3, 4.0, 40.0, 0.0, 0.0, "N", "O", datetime(1995, 3, 5)),
        (101, 12, 2, 1, 5.0, 50.0, 0.0, 0.0, "R", "F", datetime(1997, 1, 2)),
        (101, 10, 2, 2, 6.0, 60.0, 0.0, 0.0, "R", "F", datetime(1997, 1, 2)),
        (102, 10, 1, 1, 7.0, 70.0, 0.0, 0.0, "N", "O", None),
        (103, 12, 1, 1, 8.0, 80.0, 0.0, 0.0, "A", "F", datetime(1997, 1, 3)),
    ],
}


def test_cube_drops_rows_the_star_join_dropped(spark, tmp_path):
    """The cube keeps a fact line only if its order has a date, its
    part exists with a non-null p_type and its customer's nation
    exists; an unmapped segment keeps the line with a null
    company_type.  The expected rows are those the reference's 7-join
    star produced on this input; the fact keeps all seven lines."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from datawarehouse_code_spark.sources.schemas import SCHEMAS

    arrow = {
        T.IntegerType(): pa.int32(), T.LongType(): pa.int64(),
        T.DoubleType(): pa.float64(), T.StringType(): pa.string(),
        T.TimestampNTZType(): pa.timestamp("us"),
    }
    for name, rows in _EDGE_TABLES.items():
        schema = pa.schema([(f.name, arrow[f.dataType]) for f in SCHEMAS[name].fields])
        table = pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema)
        pq.write_table(table, f"{tmp_path}/{name}.parquet")

    wh = build_warehouse(spark, str(tmp_path))
    assert wh.fact.count() == 7
    assert sorted(tuple(r) for r in wh.cube.collect()) == [
        ("1b999a56596aeb866f274cfd0fbeb6a2", 10, "STANDARD BRASS", "part ten",
         "STANDARD BRASS", "Brand#1", 2, "Customer#2", None, "BRAZIL",
         date(1996, 12, 31), 31, 12, 1996, 6.0, 60.0),
        ("545740b389e146ffd5228ccd67f2f727", 12, "LARGE TIN", "part twelve",
         "LARGE TIN", "Brand#3", 2, "Customer#2", None, "BRAZIL",
         date(1996, 12, 31), 31, 12, 1996, 5.0, 50.0),
        ("94f7afe3e02a9dd8e436947b3d9e5460", 10, "STANDARD BRASS", "part ten",
         "STANDARD BRASS", "Brand#1", 1, "Customer#1", "mechanic_company",
         "ALGERIA", date(1995, 3, 4), 4, 3, 1995, 2.0, 20.0),
    ]


def test_write_fact_append_mode(spark, tmp_path):
    """O6: the append sink actually appends — a second append doubles
    the rows and both partitions' files coexist.  Each append runs
    through the lease handle its caller holds."""
    from datawarehouse_code_spark.operators.fact import write_fact
    from datawarehouse_code_spark.sources.acid import leased_append

    out = str(tmp_path / "fact_append")
    fact = build_warehouse(spark, SF_DIR).fact
    n = fact.count()
    for _ in range(2):
        with leased_append(spark, out) as lease:
            write_fact(fact, out, lease=lease)
    assert spark.read.parquet(out).count() == 2 * n


def test_run_pipeline_overwrite_idempotent(spark, tmp_path):
    """Running the pipeline twice over the same output is a no-op
    change: deterministic surrogate keys + overwrite semantics.  A
    third run whose dim_date is held by another writer fails loudly,
    after the other dims have released their leases, and never touches
    the fact or the cube."""
    import pytest as _pytest

    from datawarehouse_code_spark.sources.acid import (
        ConcurrentWriterError,
        writer_lease,
    )

    out = str(tmp_path / "wh2")
    run_pipeline(spark, SF_DIR, out)
    first = spark.read.parquet(f"{out}/cube").collect()
    run_pipeline(spark, SF_DIR, out)
    second = spark.read.parquet(f"{out}/cube").collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))

    def files(table: str) -> dict[str, int]:
        return {
            os.path.relpath(os.path.join(d, f), out):
                os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, fs in os.walk(f"{out}/{table}") for f in fs
        }

    untouched = {t: files(t) for t in ("fact", "cube")}
    with writer_lease(spark, f"{out}/dim_date"):
        with _pytest.raises(ConcurrentWriterError):
            run_pipeline(spark, SF_DIR, out)
        assert {t: files(t) for t in untouched} == untouched
        assert [n for n in os.listdir(out) if n.endswith("._wlock")] == [
            "dim_date._wlock"
        ]


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    """Small-file compaction: many tiny files collapse to the byte-
    sized target count, rows and values survive, input is never read
    and overwritten in the same job (staged rename)."""
    from datawarehouse_code_spark.pipeline import compact_parquet
    from datawarehouse_code_spark.sources.catalog import read_table
    from tests.conftest import SF_DIR

    out = str(tmp_path / "frag")
    nation = read_table(spark, "nation", SF_DIR)
    nation.repartition(20).write.parquet(out)  # 20 tiny files
    before = sorted(map(tuple, nation.collect()))

    report = compact_parquet(spark, out, target_file_mb=256)
    assert report["files_before"] >= 20
    assert report["files_after"] == 1  # tiny table -> one file
    after = sorted(map(tuple, spark.read.parquet(out).collect()))
    assert after == before


def test_write_cube_failed_rebuild_leaves_live_cube(spark, tmp_path):
    """r16 self-review: write_cube rides the staged swap, so a rebuild
    whose job FAILS (or crashes) leaves the live cube intact and
    readable — the previous bare overwrite deleted the live table
    before running the job, so every rebuild opened a no-cube window
    and a failure held it open until the next successful rebuild."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.cube import write_cube

    path = str(tmp_path / "cube")
    write_cube(spark.range(5).toDF("x"), path)
    bad = spark.range(5).select(
        F.assert_true(F.col("id") < 3).alias("a"), F.col("id").alias("x")
    )
    with _pytest.raises(Exception):
        write_cube(bad, path)
    assert spark.read.parquet(path).count() == 5


def test_write_fact_failed_rebuild_leaves_live_fact(spark, tmp_path):
    """write_fact's overwrite branch rides the staged swap like
    write_cube: a failed rebuild leaves the previous year-partitioned
    fact intact (the previous bare overwrite deleted it before the
    job ran)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.fact import write_fact

    path = str(tmp_path / "fact")
    good = spark.range(6).select(
        F.col("id").alias("date_id"),
        (F.lit(2020) + (F.col("id") % 2)).cast("int").alias("year"),
    )
    write_fact(good, path)
    assert spark.read.parquet(path).count() == 6

    # the assert column must stay in the output — dropping it lets
    # Catalyst prune the failing expression away entirely
    bad = good.select(
        F.assert_true(F.col("date_id") < 3).alias("x"), "date_id", "year"
    )
    with _pytest.raises(Exception):
        write_fact(bad, path)
    got = spark.read.parquet(path)
    assert got.count() == 6  # live fact survived the failed rebuild
    # the year partitioning survived too (partition pruning still works)
    assert got.filter(F.col("year") == 2020).count() == 3
