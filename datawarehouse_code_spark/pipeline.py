"""End-to-end warehouse build driver (O26).

The reference's __main__ loop (warehouse.py:307-314) extracts 9 source
tables one at a time and per-row loads them, then rebuilds the cube
(re-loading dims *after* the cube — quirk B8).  Here the ordering is
the intended one: the eight dims commit concurrently, in no fixed
order among themselves, all of them before the fact, and the fact
before the cube.  Each table is written by one declarative plan under
its own writer lease.

Atomicity (O24): each table write is atomic via Spark's job-commit
protocol; the pipeline as a whole is idempotent by construction
(deterministic surrogate keys + overwrite semantics), so a failed run
is simply re-run — no cross-table transaction needed (SURVEY.md §7.1).
"""

from __future__ import annotations

import logging
import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from datawarehouse_code_spark.operators.cube import (
    build_cube,
    incremental_cube,
    write_cube,
)
from datawarehouse_code_spark.operators.dimensions import (
    build_dim_client,
    build_dim_country,
    build_dim_country_subregion,
    build_dim_date,
    build_dim_date_month,
    build_dim_date_year,
    build_dim_product,
    build_dim_product_subcategory,
    insert_if_not_exists_report,
)
from datawarehouse_code_spark.operators.fact import build_fact, fact_lines, write_fact
from datawarehouse_code_spark.sources.acid import _fs_for, _staged_overwrite, leased_append
from datawarehouse_code_spark.sources.catalog import read_table, table_path


@dataclass
class Warehouse:
    """All built tables of one pipeline run (in-memory handles; lazy)."""

    dim_client: DataFrame
    dim_product: DataFrame
    dim_product_subcategory: DataFrame
    dim_country: DataFrame
    dim_country_subregion: DataFrame
    dim_date: DataFrame
    dim_date_month: DataFrame
    dim_date_year: DataFrame
    fact: DataFrame
    cube: DataFrame
    fact_lines: DataFrame  # with part and nation, incremental_cube's inputs
    part: DataFrame
    nation: DataFrame


_WAREHOUSE_CACHE: dict[tuple[str, str], tuple[tuple, Warehouse]] = {}
_SOURCE_TABLES = ("customer", "part", "nation", "region", "orders", "lineitem")


def _source_listing(spark: SparkSession, sf_dir: str) -> tuple:
    """(path, length, modification time) of every file under the six
    source tables, read through the Hadoop FS API: a batch appended to
    a directory-form table, or a table rewritten in place, changes it.
    A missing table or `sf_dir` is left out; read_table raises for
    it.  One listStatus of `sf_dir` plus one per table directory: a
    memo hit pays a few py4j round trips, not a located listing."""
    fs, root = _fs_for(spark, sf_dir)
    if not fs.exists(root):
        return ()
    names = {os.path.basename(table_path(sf_dir, t)) for t in _SOURCE_TABLES}
    pending = [st for st in fs.listStatus(root) if st.getPath().getName() in names]
    listing = []
    while pending:
        st = pending.pop()
        if st.isDirectory():
            pending.extend(fs.listStatus(st.getPath()))
        else:
            listing.append(
                (st.getPath().toString(), st.getLen(), st.getModificationTime())
            )
    return tuple(sorted(listing))


def build_warehouse(spark: SparkSession, sf_dir: str) -> Warehouse:
    """Build every warehouse table as a lazy DataFrame graph.

    The fact and the cube read one definition of a fact line
    (`fact_lines`, with the 128-bit id), so the cube's fact_id cannot
    drift from the fact's id; the cube joins only part and nation to
    it and reads none of the dims (operators/cube.py).

    Memoized per (session, sf_dir): the Warehouse is a bundle of
    immutable lazy plans, so re-building it for every registry query
    would only repeat schema verification and parquet-footer reads
    13× per run (VERDICT r1 "What's wrong" #4).  Keyed on the Spark
    applicationId, not id(spark): CPython reuses freed object ids, so
    an id-keyed cache could hand a new session plans bound to a
    stopped SparkContext.  A plan keeps the file listing it was built
    with, so a hit is served only while the source tables' listing
    (_source_listing) is unchanged; a batch landing in a source
    directory rebuilds the entry.
    """
    cache_key = (spark.sparkContext.applicationId, sf_dir)
    listing = _source_listing(spark, sf_dir)
    cached = _WAREHOUSE_CACHE.get(cache_key)
    if cached is not None and cached[0] == listing:
        return cached[1]
    customer, part, nation, region, orders, lineitem = (
        read_table(spark, t, sf_dir) for t in _SOURCE_TABLES
    )

    dim_client = build_dim_client(customer)
    dim_sub = build_dim_product_subcategory(part)
    dim_product = build_dim_product(part, dim_sub)
    dim_country = build_dim_country(nation)
    dim_subregion = build_dim_country_subregion(region, nation)
    dim_year = build_dim_date_year(orders)
    dim_month = build_dim_date_month(spark)
    dim_date = build_dim_date(orders, dim_year)
    lines = fact_lines(lineitem, orders, customer)
    wh = Warehouse(
        dim_client=dim_client,
        dim_product=dim_product,
        dim_product_subcategory=dim_sub,
        dim_country=dim_country,
        dim_country_subregion=dim_subregion,
        dim_date=dim_date,
        dim_date_month=dim_month,
        dim_date_year=dim_year,
        fact=build_fact(lineitem, orders, customer),
        cube=build_cube(lines, part, nation),
        fact_lines=lines,
        part=part,
        nation=nation,
    )
    _WAREHOUSE_CACHE[cache_key] = (listing, wh)
    return wh


# natural key per dimension table, for incremental (anti-join) loads
_DIM_KEYS: dict[str, list[str]] = {
    "dim_client": ["client_id"],
    "dim_product": ["product_id"],
    "dim_product_subcategory": ["subcategory_id"],
    "dim_country": ["country_id"],
    "dim_country_subregion": ["subregion_id", "country_id"],
    "dim_date": ["date_id"],
    "dim_date_month": ["month_id"],
    "dim_date_year": ["year_id"],
}
# every materialized table, in commit order: dims → fact → cube
_TABLES = (*_DIM_KEYS, "fact", "cube")

T = TypeVar("T")


def _load_in_commit_order(
    spark: SparkSession, load: Callable[[str], T]
) -> dict[str, T]:
    """Run ``load(name)`` for every table and return its results in
    ``_TABLES`` order.  The eight dims are independent plans, each
    written under its own lease, so they run concurrently on one
    thread each; fact and then cube run on the caller's thread once
    every dim has committed.  If a dim fails, the other dims still
    finish and release their leases, the first failure in
    ``_DIM_KEYS`` order is re-raised, and neither fact nor cube
    starts."""
    with ThreadPoolExecutor(len(_DIM_KEYS)) as pool:
        # one wrapper per thread: each thread gets its own copy of the
        # caller's local properties (job group, description), and
        # Spark sets each query's execution id in that copy, so
        # threads sharing one copy would overwrite each other's
        futures = [
            pool.submit(inheritable_thread_target(spark)(load), name)
            for name in _DIM_KEYS
        ]
    results = {name: f.result() for name, f in zip(_DIM_KEYS, futures)}
    for name in ("fact", "cube"):
        results[name] = load(name)
    return results


def run_pipeline(spark: SparkSession, sf_dir: str, out_dir: str) -> Warehouse:
    """Materialize the warehouse to parquet: the dims concurrently, in
    no fixed order among themselves, then the fact (partitioned by
    year, O17), then the cube (O22).  Every sink goes through acid's
    staged swap (O24) — a rebuild never deletes a live table before
    its replacement is in place, so readers of the previous load keep
    a complete warehouse through (and past a crash of) the next one.
    A failed dim leaves the fact and the cube untouched."""
    wh = build_warehouse(spark, sf_dir)

    def rebuild(name: str) -> None:
        path = f"{out_dir}/{name}"
        if name == "fact":
            write_fact(wh.fact, path)
        elif name == "cube":
            write_cube(wh.cube, path)
        else:
            _staged_overwrite(spark, getattr(wh, name), path)

    _load_in_commit_order(spark, rebuild)
    return wh


def run_pipeline_incremental(
    spark: SparkSession, wh: Warehouse, out_dir: str
) -> dict[str, dict[str, int]]:
    """Incremental warehouse load against an already-materialized
    out_dir — the pipeline-level composition of the reference's
    insert-if-not-exists loop (O5) with aggregate skip reports (O25):

    - each dim: append only rows whose natural key is absent;
    - fact: append only rows whose 128-bit id is absent (partitioned
      append through write_fact preserves year pruning);
    - cube: append incremental_cube's rows, the fact lines absent from
      the existing cube joined with part and nation.

    The dims commit concurrently, in no fixed order among themselves,
    all of them before the fact, and the fact before the cube; a
    failed dim leaves the fact and the cube untouched.

    Each table is ONE plan run by the job that appends it: its report
    is an Observation on that plan, read after the append, so no
    count or collect re-runs the join.  Each table's read of its
    existing rows, delta and append run under ITS writer lease
    (leased_append), whose crashed-swap repair runs first — a table a
    crash left renamed aside is rolled back before it is read — and a
    concurrent maintainer's mid-swap window can neither eclipse nor
    be eclipsed (r17 'append eclipse' find).

    Re-running against an up-to-date out_dir inserts nothing — the
    idempotency the reference gets from its per-row existence checks,
    at table-at-once cost.  Returns per-table skip reports
    ({"incoming", "inserted", "skipped"}; the cube's {"inserted"}) in
    ``_TABLES`` order.
    """
    log = logging.getLogger(__name__)

    def append_delta(name: str) -> dict[str, int]:
        path = f"{out_dir}/{name}"
        with leased_append(spark, path) as lease:
            existing = spark.read.parquet(path)
            if name == "cube":
                report = Observation()
                delta = incremental_cube(
                    existing, wh.fact_lines, wh.part, wh.nation
                ).observe(report, F.count(F.lit(1)).alias("inserted"))
            else:  # a dim on its natural key, the fact on its 128-bit id
                delta, report = insert_if_not_exists_report(
                    getattr(wh, name), existing, _DIM_KEYS.get(name, ["id"])
                )
            if name == "fact":
                write_fact(delta, path, lease=lease)
            else:
                delta.write.mode("append").parquet(path)
        counts = report.get
        log.info("incremental load of %s: %s", name, counts)
        return counts

    return _load_in_commit_order(spark, append_delta)


def compact_parquet(
    spark: SparkSession, path: str, target_file_mb: int = 256
) -> dict[str, int]:
    """Small-file compaction — the maintenance job every long-lived
    100 TB table needs: streaming appends and fine-grained partitions
    accumulate kilobyte files whose per-file open/footer cost comes to
    dominate scans.  Rewrites `path` with file count sized from the
    actual on-disk bytes (coalesce to ceil(bytes / target) files).

    The rewrite stages into a sibling directory and only then
    replaces the original: overwriting a dataset from its own live
    scan would truncate the input mid-read.  Returns before/after
    file counts.  (Partitioned layouts: run per partition directory —
    compacting across partition boundaries would drop the partition
    column values encoded in the paths.)

    A bucket-partitioned table (sources/bucketed.py sidecar) is
    compacted PER BUCKET automatically — a whole-table rewrite would
    flatten the layout and strand the sidecar, breaking every
    subsequent pruned maintenance call (round-14 review find).

    Crash safety (round-16 self-review find — the original swap was
    rmtree-then-rename, whose crash window left the data ONLY in a
    dot-invisible staging dir no recovery knew about: permanent
    silent loss for a bucket, and an absent-looking table a
    maintainer would re-create from one batch for the root): the
    whole-table case now rides acid's staged swap verbatim
    (``_staged_overwrite`` — recovery already runs on every
    table_exists/read), and the per-bucket case renames the live dir
    ASIDE (``.X._precompact``) before the staged result
    (``.X._compacting``) renames in — data is never destroyed before
    its replacement is in place, and
    ``recover_interrupted_bucket_swap(writer=True)`` (run here on
    entry and by every bucketed-lane mutator) repairs any crash
    window from the two dot-prefixed leftovers.  Runs under the
    writer lease with the same per-dir fencing as the bucket swap: a
    compactor stalled past APPLY_STALE_SEC whose lease was stolen
    aborts instead of racing the repairer.
    """
    import math

    from datawarehouse_code_spark.sources import bucketed as B

    # All filesystem traffic rides the Hadoop FileSystem API (r17
    # ADVICE fix: the fence previously re-read the lock file via
    # pathlib, which silently saw "no file" — and so raised
    # LeaseLostError on every fence — for any non-posix path like
    # file:/HDFS/object-store URIs; the dir listing/size/rename ops
    # had the same silent scheme assumption).  The module alias `B`
    # keeps `_fs_for` patchable by the crash-enumeration harness.

    def _files_and_target(fs, d) -> tuple[int, int]:
        it = fs.listFiles(d, True)
        n = total = 0
        while it.hasNext():
            st = it.next()
            if st.getPath().getName().endswith(".parquet"):
                n += 1
                total += st.getLen()
        return n, max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))

    def _files(fs, d) -> int:
        it = fs.listFiles(d, True)
        n = 0
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                n += 1
        return n

    # compaction mutates bucket dirs in place — it is a WRITER of the
    # table and takes the lease like every bucketed-lane mutator, so a
    # concurrent maintainer is refused loudly (and writer-grade
    # recovery repairs any crashed swap OR compaction before the
    # rewrite)
    with B.writer_lease(spark, path) as lease:
        B.recover_interrupted_bucket_swap(
            spark, path, writer=True, fence=lease.payload
        )
        fs, p = B._fs_for(spark, path)
        jp = spark._jvm.org.apache.hadoop.fs.Path
        if B.bucketed_meta(spark, path) is not None:
            report = {"files_before": 0, "files_after": 0}
            names = sorted(
                st.getPath().getName()
                for st in fs.listStatus(p)
                if st.isDirectory()
                and st.getPath().getName().startswith(f"{B.BUCKET_COL}=")
            )
            for name in names:
                d = jp(p, name)
                n_before, n_target = _files_and_target(fs, d)
                staged = jp(p, "." + name + B._COMPACT_STAGING)
                spark.read.parquet(d.toString()).coalesce(
                    n_target
                ).write.mode("overwrite").parquet(staged.toString())
                # shared fenced swap step (verify → live aside →
                # staged in → aside dropped → heartbeat): the fence
                # sits between the long un-heartbeated staged write
                # and the renames, and the heartbeat keeps a long
                # multi-dir loop from aging into stealability
                B._apply_aside_swap(spark, fs, p, name, staged, lease)
                report["files_before"] += n_before
                report["files_after"] += _files(fs, d)
            return report
        n_before, n_target = _files_and_target(fs, p)
        _staged_overwrite(
            spark, spark.read.parquet(path).coalesce(n_target), path,
            lease=lease,
        )
        return {"files_before": n_before, "files_after": _files(fs, p)}
