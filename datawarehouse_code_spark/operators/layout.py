"""Physical-layout operators: Z-order (Morton) clustering for
multi-column data skipping.

Reference context: the reference's only layout levers are the fact
table's year range partitions and InnoDB secondary indexes
(warehouse.py:183-200, O17/O18).  Partitioning covers ONE predicate
dimension; a secondary index has no parquet equivalent.  The
lakehouse answer to "queries filter on several columns" is Z-order
clustering: interleave the bits of the clustering columns into one
Morton value, range-partition + sort by it, and every file/row-group
ends up covering a small HYPERCUBE of the key space instead of a thin
slab of one column — so parquet min/max footer stats prune reads for
predicates on ANY prefix-free subset of the clustered columns (the
same mechanism Delta OPTIMIZE ZORDER BY and Iceberg's sort orders
use).

Scale shape: one agg job for the per-column min/max, then a pure
narrow projection (the Morton expression — shiftright/and/or inside
whole-stage codegen), one repartitionByRange on the z-value (a range
shuffle with driver-side sampling, the same cost as any sorted
write), sortWithinPartitions, write.  No Python, no driver data
paths, no global single-partition sort.

Pruned-read scale shape (round 8): survivor sets are DataFrames end
to end.  The driver materializes at most DRIVER_LIST_THRESHOLD file
paths (the budget under which an explicit multi-path JVM relation is
both safe and fastest); past the budget the survivors feed
distributed pyarrow scan tasks via mapInArrow — at ~10^6 files /
~10^7 row groups (100 TB) driver memory and plan size stay
O(threshold), never O(n_files).

Skew note: `width_bucket` over [min, max] assumes roughly uniform
value spread; for heavily skewed columns pass explicit `bounds` from
`approxQuantile` so buckets equalize row counts instead of value
ranges — the operator takes either.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datawarehouse_code_spark.operators.iterative import cut_lineage


def _local_path(file_path: str) -> str:
    """_metadata.file_path URI -> a path pyarrow can open (file: URIs
    only; object stores would go through a filesystem handler)."""
    return file_path[5:] if file_path.startswith("file:") else file_path


def morton_interleave(bucket_cols: list[Column], bits: int) -> Column:
    """Interleave the low `bits` bits of the given bucket ids into one
    Morton code: result bit (b * k + i) = bit b of column i (k =
    number of columns).  Inputs must already lie in [0, 2^bits); the
    output fits in a BIGINT for bits * k <= 63.

    Built as a flat OR-fold of bits*k shift/and terms — ~48 expression
    nodes for 3 columns × 16 bits, well under any codegen limit (the
    similarity.py plane-matrix lesson: keep literal trees small and
    flat)."""
    k = len(bucket_cols)
    if k * bits > 63:
        raise ValueError(f"{k} cols x {bits} bits exceeds a signed BIGINT")
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, c in enumerate(bucket_cols):
            bit = F.shiftright(c.cast("bigint"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * k + i))
    return z


def write_bucketed_table(
    df: DataFrame,
    name: str,
    path: str,
    n_buckets: int,
    bucket_cols: list[str],
    sort_cols: list[str] | None = None,
) -> None:
    """Hash-bucketed, per-bucket-sorted catalog table — Spark's
    co-located join layout, the third physical-layout lever beside
    Z-order clustering and year range partitions (reference context:
    warehouse.py:183-200 keeps InnoDB secondary indexes on the join
    keys; the lakehouse equivalent for a HOT REPEATED join is paying
    the key shuffle ONCE at write time).  Writing both sides of a
    recurring join bucketed by the key with the SAME bucket count
    makes every later join between them shuffle-free: the bucketed
    scan reports HashPartitioning(bucket_cols, n_buckets), and with
    `sort_cols` the per-file sort order too, so SortMergeJoin needs
    neither an Exchange nor (single file per bucket) a Sort on either
    side — at 100 TB that deletes the two largest shuffles from every
    run of the pipeline that reads them.

    The frame is repartitioned to exactly `n_buckets` tasks on the
    bucket keys first, so each bucket lands in ONE file (the standard
    small-files guard; many files per bucket would also force the
    reader to re-sort).  The table is registered in the session
    catalog at the external `path` (bucket metadata lives in the
    catalog — a plain parquet read of the same files would not know
    the layout; at production scale the same call writes through the
    shared metastore).
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1: {n_buckets}")
    if not bucket_cols:
        raise ValueError("write_bucketed_table needs bucket columns")
    (
        df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
        .saveAsTable(name)
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 64,
    bits: int = 16,
    bounds: dict[str, tuple[float, float]] | None = None,
    writer_options: dict[str, str] | None = None,
) -> None:
    """Write `df` as parquet clustered by the Z-order of `cols`.

    Each clustering column is bucketized to [0, 2^bits) with
    `width_bucket` over its [min, max] (computed in ONE agg job, or
    taken from `bounds` — pass approxQuantile-derived bounds for
    skewed columns), the bucket ids are Morton-interleaved, and the
    frame is range-partitioned + sorted by the z-value into `n_files`
    output files.  NULLs bucket to 0 (the lowest hypercube corner) so
    they cluster together instead of scattering.

    The z column is dropped before the write — layout is physical,
    the schema is unchanged, and any reader prunes via ordinary
    parquet min/max stats with zero reader-side cooperation.
    """
    if not cols:
        raise ValueError("zorder_write needs at least one clustering column")
    need = [c for c in cols if bounds is None or c not in bounds]
    stats: dict[str, tuple[float, float]] = dict(bounds or {})
    if need:
        row = df.agg(
            *[F.min(c).cast("double").alias(f"mn_{c}") for c in need],
            *[F.max(c).cast("double").alias(f"mx_{c}") for c in need],
        ).collect()[0]
        for c in need:
            stats[c] = (row[f"mn_{c}"], row[f"mx_{c}"])
    n_buckets = 1 << bits
    buckets = []
    for c in cols:
        mn, mx = stats[c]
        if mn is None or mx is None or mn == mx:
            # constant or all-NULL column contributes nothing to the
            # ordering; bucket 0 keeps the interleave well-defined
            buckets.append(F.lit(0))
            continue
        wb = F.expr(
            f"width_bucket(CAST({c} AS DOUBLE), {mn!r}, {mx!r}, {n_buckets - 1})"
        )
        # width_bucket: 0 below min, n+1 above max, else 1..n; NULL in
        # -> NULL out.  Clamp into [0, 2^bits) and send NULLs to 0.
        buckets.append(
            F.coalesce(F.least(F.greatest(wb - 1, F.lit(0)), F.lit(n_buckets - 1)),
                       F.lit(0))
        )
    z = morton_interleave(buckets, bits).alias("_z")
    writer = (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
    )
    # e.g. {"parquet.block.size": ...} to control row-group sizing —
    # smaller row groups sharpen row-group-level skipping at the cost
    # of compression ratio and footer size
    if writer_options:
        writer = writer.options(**writer_options)
    writer.parquet(path)


def bloom_filter_options(
    cols: list[str], expected_ndv: int | None = None
) -> dict[str, str]:
    """Writer options that embed parquet BLOOM FILTERS for `cols` —
    the data-skipping leg min/max stats can't provide: a
    high-cardinality id scattered uniformly across a table makes
    every row group's [min, max] span the whole domain, so stats
    prune NOTHING for point lookups, while a bloom filter answers
    "definitely absent" per row group with ~1% false positives.
    Spark's vectorized parquet reader consults the filters
    automatically for equality/IN predicates — layout doctrine:
    physical organization is the index, zero reader-side cooperation.

    Compose with zorder_write(writer_options=...) or any
    `.write.options(**...)`.  `expected_ndv` sizes the filter
    (per-row-group distinct estimate; Spark's default sizing applies
    when omitted).  Bloom filters cost write-side bytes per row
    group, so list only the columns point-lookups actually probe.
    """
    opts: dict[str, str] = {}
    for c in cols:
        opts[f"parquet.bloom.filter.enabled#{c}"] = "true"
        if expected_ndv is not None:
            opts[f"parquet.bloom.filter.expected.ndv#{c}"] = str(expected_ndv)
    return opts


def collect_file_stats(
    spark: "SparkSession", path: str, cols: list[str]
) -> DataFrame:
    """Per-file (min, max, n_nulls, n_rows) for each of `cols` — the
    standalone-parquet equivalent of the stats Delta/Iceberg keep in
    table metadata, enabling QUERY-TIME file pruning without opening
    any footer (prune_files) and layout audits (how well did
    zorder_write cluster?).

    Built distributedly: scan pruned to `cols` + the `_metadata`
    hidden column, one groupBy on file_path.  One pass over the table
    at BUILD time (amortized across every pruned read after it, the
    same trade every table format makes); the manifest itself is
    one row per file — negligible at any scale.

    Schema: file_path, n_rows, then per column c: mn_{c}, mx_{c},
    nulls_{c}.
    """
    if not cols:
        raise ValueError("collect_file_stats needs at least one column")
    return _file_stats_scan(spark, path, cols, only_files=None)


def _file_stats_scan(
    spark: "SparkSession",
    path: str,
    cols: list[str],
    only_files: list[str] | None,
) -> DataFrame:
    df = spark.read.parquet(path)
    if only_files is not None:
        # a filter on the CONSTANT metadata column prunes the file
        # LISTING itself — the scan opens exactly len(only_files)
        # files (numFiles metric pinned by test), which is what makes
        # refresh_file_stats cost ∝ the increment
        df = df.where(F.col("_metadata.file_path").isin(only_files))
    df = df.select(F.col("_metadata.file_path").alias("file_path"), *cols)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.min(c).alias(f"mn_{c}"),
            F.max(c).alias(f"mx_{c}"),
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"nulls_{c}"),
        ]
    return df.groupBy("file_path").agg(*aggs)


def refresh_file_stats(
    spark: "SparkSession",
    path: str,
    cols: list[str],
    manifest: DataFrame,
) -> DataFrame:
    """Incremental manifest maintenance: bring a collect_file_stats
    manifest up to date after files were APPENDED to (or removed
    from) the table, at cost ∝ |changed files| + |manifest| — never a
    full-table stats rescan (the same incremental doctrine as
    extend_ivf_index / near_dup_pairs_incremental).

    Mechanics: one zero-data-column distinct scan lists the CURRENT
    file set (distributed — no driver file list for the table);
    manifest rows for vanished files drop via a semi-join; stats for
    new files come from a scan whose `_metadata.file_path IN (...)`
    filter prunes the file listing to exactly the increment
    (numFiles == |new files|, metric-pinned by test).  Only the
    increment's paths are ever collected to the driver — bounded by
    the append batch, not the table.

    Returns the refreshed manifest (same schema); callers PERSIST it
    wherever they keep manifests before the next refresh — the frame
    is lazy and its lineage reads the table, so re-evaluating a stale
    manifest frame after files were deleted fails on the vanished
    files (a stored manifest has no such lineage).  Equals a
    from-scratch collect_file_stats exactly (pytest asserts it).
    """
    current = (
        spark.read.parquet(path)
        .select(F.col("_metadata.file_path").alias("file_path"))
        .distinct()
    )
    new_head = (
        current.join(manifest.select("file_path"), "file_path", "left_anti")
        .limit(DRIVER_LIST_THRESHOLD + 1)
        .collect()
    )
    if len(new_head) > DRIVER_LIST_THRESHOLD:
        # the "increment" is itself table-scale (first build, or a
        # bulk rewrite): an IN-list of that size would bloat the plan
        # past the same budget the pruned readers honor — a full
        # rebuild is both simpler and no more expensive
        return collect_file_stats(spark, path, cols)
    kept = manifest.join(current, "file_path", "left_semi")
    if not new_head:
        return kept
    return kept.unionByName(
        _file_stats_scan(
            spark, path, cols, only_files=[r["file_path"] for r in new_head]
        )
    )


def prune_files_df(
    manifest: DataFrame, predicates: dict[str, tuple[object, object]]
) -> DataFrame:
    """Surviving file paths as a DATAFRAME — files that MIGHT contain
    rows satisfying every [lo, hi] interval predicate (inclusive;
    None = unbounded on that side).  A file survives unless some
    column's [mn, mx] is disjoint from its interval.  All-NULL columns
    (mn/mx NULL) survive pruning: NULL comparisons are unknowable from
    stats, the row-level filter decides.

    Nothing is collected: at 100 TB (~10^6 files) the survivor set
    stays distributed and is consumed by the Arrow scan path in
    read_pruned — the driver never holds an O(n_files) list.
    """
    keep = manifest
    for c, (lo, hi) in predicates.items():
        if f"mn_{c}" not in manifest.columns:
            raise ValueError(f"manifest has no stats for column {c!r}")
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(f"mx_{c}") >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(f"mn_{c}") <= F.lit(hi))
        # NULL stats (all-NULL file) -> cond NULL -> keep the file
        keep = keep.filter(cond | F.col(f"mn_{c}").isNull())
    return keep.select("file_path")


def prune_files(
    manifest: DataFrame, predicates: dict[str, tuple[object, object]]
) -> list[str]:
    """prune_files_df collected to a Python list — a convenience for
    audits and tests at manifest scales that fit the driver.  The
    read path does NOT go through this: read_pruned materializes at
    most `driver_list_threshold` + 1 paths and switches to the
    distributed Arrow scan beyond that."""
    return [
        r["file_path"]
        for r in prune_files_df(manifest, predicates).collect()
    ]


# Default driver-side path-list budget for the pruned readers.  Below
# it, survivors ride the JVM vectorized parquet reader via an explicit
# multi-path relation (fastest, and the relation stays small); above
# it, survivors stay a DataFrame consumed by distributed Arrow tasks —
# driver memory and plan size are O(threshold), never O(n_files).
DRIVER_LIST_THRESHOLD = 65536


def _surviving_rowgroups(
    md, predicates: dict[str, tuple[object, object]]
) -> list[int]:
    """Row groups of one parquet footer that MIGHT satisfy every
    interval predicate — the same survival rule as prune_rowgroups
    (keep on missing/unknown stats), evaluated worker-side so the
    past-threshold Arrow path skips row groups WITHOUT any row-group
    manifest.  Conservative on any stats comparison surprise
    (TypeError on exotic physical types → keep the group): skipping
    must never be able to change results, only reduce I/O."""
    idx = {md.schema.column(i).path: i for i in range(md.num_columns)}
    keep = []
    for rg in range(md.num_row_groups):
        rgm = md.row_group(rg)
        ok = True
        for c, (lo, hi) in predicates.items():
            ci = idx.get(c)
            if ci is None:
                continue
            st = rgm.column(ci).statistics
            if st is None or not st.has_min_max:
                continue
            try:
                if (lo is not None and st.max < lo) or (
                    hi is not None and st.min > hi
                ):
                    ok = False
                    break
            except TypeError:
                continue
        if ok:
            keep.append(rg)
    return keep


def _arrow_scan(
    files_df: DataFrame,
    schema: T.StructType,
    parallelism: int | None = None,
    predicates: dict[str, tuple[object, object]] | None = None,
) -> DataFrame:
    """Distributed parquet scan over a DataFrame of (file_path, rgs):
    each task opens its assigned files with pyarrow and yields Arrow
    record batches — file paths and bytes never touch the driver.
    `rgs` NULL means the whole file; a populated array<int> reads only
    those row groups (footer-directed seek, data pages of skipped
    groups are never fetched).  With `predicates`, whole-file reads
    additionally consult the footer they already opened and skip
    row groups whose stats rule them out — the file-level manifest
    cannot see inside files, so this recovers the row-group skipping
    the JVM vectorized reader would have done on the fast path.

    mapInArrow, NOT mapInPandas: pandas degrades a null-bearing int64
    column to float64, silently corrupting values past 2^53 — arrow
    batches round-trip the physical types untouched.
    """
    names = list(schema.names)

    def read_parts(batches):
        import pyarrow.parquet as pq

        for batch in batches:
            d = batch.to_pydict()
            for fp, rgs in zip(d["file_path"], d["rgs"]):
                pf = pq.ParquetFile(_local_path(fp))
                if rgs is None and predicates:
                    md = pf.metadata
                    live = _surviving_rowgroups(md, predicates)
                    if not live:
                        continue
                    if len(live) == md.num_row_groups:
                        tbl = pf.read(columns=names)
                    else:
                        tbl = pf.read_row_groups(live, columns=names)
                elif rgs is None:
                    tbl = pf.read(columns=names)
                else:
                    tbl = pf.read_row_groups(
                        [int(g) for g in rgs], columns=names
                    )
                yield from tbl.select(names).to_batches()

    spark = files_df.sparkSession
    n_tasks = parallelism or spark.sparkContext.defaultParallelism
    return files_df.repartition(n_tasks).mapInArrow(read_parts, schema)


def read_pruned(
    spark: "SparkSession",
    path: str,
    manifest: DataFrame,
    predicates: dict[str, tuple[object, object]],
    driver_list_threshold: int = DRIVER_LIST_THRESHOLD,
    parallelism: int | None = None,
) -> DataFrame:
    """Read only the files the manifest can't rule out, then apply
    the interval predicates as ordinary row-level filters (file stats
    are coarse — a surviving file still holds non-matching rows).
    Returns an empty, correctly-typed frame when nothing survives.

    Semantics contract: equals the full-scan filter exactly (pytest
    asserts it); the win is I/O — with a Z-ordered layout a narrow
    band on ANY clustered column keeps a small fraction of files,
    BEFORE parquet footer/row-group pruning sees a byte.

    Scale shape: survivors are materialized on the driver only up to
    `driver_list_threshold` paths (limit(threshold+1) — ONE bounded
    job, no count-then-collect double pass).  Within budget they go
    through the JVM vectorized reader as a multi-path relation; past
    it the survivor DataFrame feeds distributed Arrow scan tasks and
    the driver never sees a path list — at ~10^6 files the old
    collect-everything plan would have blown driver memory AND built
    a million-path DataSource relation.
    """
    full = spark.read.parquet(path)
    cond = _interval_cond(predicates)
    survivors = prune_files_df(manifest, predicates)
    head = survivors.limit(driver_list_threshold + 1).collect()
    if not head:
        return full.filter(F.lit(False))
    _assert_unpartitioned(spark, full, head[0]["file_path"])
    if len(head) <= driver_list_threshold:
        files = [r["file_path"] for r in head]
        return spark.read.schema(full.schema).parquet(*files).filter(cond)
    with_rgs = survivors.withColumn("rgs", F.lit(None).cast("array<int>"))
    return _arrow_scan(
        with_rgs, full.schema, parallelism, predicates=predicates
    ).filter(cond)


def _interval_cond(predicates: dict[str, tuple[object, object]]) -> Column:
    cond = F.lit(True)
    for c, (lo, hi) in predicates.items():
        if lo is not None:
            cond = cond & (F.col(c) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(c) <= F.lit(hi))
    return cond


# Checks that already passed, keyed by (SAMPLE FILE path, logical
# column tuple) — keying on the sample FILE (not the table directory)
# makes rewrites self-invalidating: a rewrite — including one that
# hive-partitions the table at the same path — produces new file names
# (and lives in partition subdirectories), so the fresh manifest's
# sample file is a cache miss and the check re-runs; a STALE
# manifest's sample file no longer exists and the read fails loudly at
# the footer open.  The key is predicate-dependent (the sample is the
# min SURVIVING file), so the cost is one footer read per distinct
# surviving set rather than strictly one per table version — the
# accepted price of staleness-proofness.
_UNPARTITIONED_OK: set[tuple[str, tuple[str, ...]]] = set()


def _assert_unpartitioned(
    spark: "SparkSession", full: DataFrame, one_file: str
) -> None:
    """Per-file reads return hive-partition columns (which live in
    directory names, not file bytes) as all-NULL while the full-scan
    path populates them — a silent semantic divergence.  Guard: every
    logical column must exist physically in the files (one footer
    read, cached per table version), else raise; zorder_write output
    is always unpartitioned."""
    key = (one_file, tuple(full.schema.names))
    if key in _UNPARTITIONED_OK:
        return
    physical = {f.name for f in spark.read.parquet(one_file).schema.fields}
    missing = [c for c in full.schema.names if c not in physical]
    if missing:
        raise ValueError(
            f"pruned per-file reads cannot reconstruct hive-partition "
            f"columns {missing}; read_pruned/read_pruned_rowgroups "
            "require an unpartitioned layout (zorder_write output)"
        )
    _UNPARTITIONED_OK.add(key)


def collect_rowgroup_stats(
    spark: "SparkSession",
    path: str,
    cols: list[str],
    parallelism: int | None = None,
) -> DataFrame:
    """Per-ROW-GROUP (min, max, n_nulls, n_rows) for each of `cols` —
    one granularity below collect_file_stats.  On a Z-ordered table a
    file spans a contiguous z-range but each of its row groups spans a
    SUB-range, so row-group stats typically skip several times more
    data for the same band predicate, with readers untouched.

    Built distributedly like the file manifest: the file LIST comes
    from the scan's `_metadata` column, then each task walks its
    files' parquet footers with pyarrow (footer bytes only — never
    data pages, never through the driver).  Schema: file_path, rg,
    n_rows, then per column c: mn_{c}, mx_{c}, nulls_{c} (typed as
    the source column; NULL stats where the footer has none).
    """
    if not cols:
        raise ValueError("collect_rowgroup_stats needs at least one column")
    full = spark.read.parquet(path)
    fields = [
        T.StructField("file_path", T.StringType()),
        T.StructField("rg", T.IntegerType()),
        T.StructField("n_rows", T.LongType()),
    ]
    for c in cols:
        t = full.schema[c].dataType
        fields += [
            T.StructField(f"mn_{c}", t),
            T.StructField(f"mx_{c}", t),
            T.StructField(f"nulls_{c}", T.LongType()),
        ]
    out_schema = T.StructType(fields)
    names = [f.name for f in fields]
    files = full.select(
        F.col("_metadata.file_path").alias("file_path")
    ).distinct()

    def walk(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for fp in pdf["file_path"]:
                md = pq.ParquetFile(_local_path(fp)).metadata
                idx = {
                    md.schema.column(i).path: i for i in range(md.num_columns)
                }
                for rg in range(md.num_row_groups):
                    rgm = md.row_group(rg)
                    row = {"file_path": fp, "rg": rg, "n_rows": rgm.num_rows}
                    for c in cols:
                        st = rgm.column(idx[c]).statistics
                        has = st is not None and st.has_min_max
                        row[f"mn_{c}"] = st.min if has else None
                        row[f"mx_{c}"] = st.max if has else None
                        row[f"nulls_{c}"] = (
                            st.null_count
                            if st is not None and st.has_null_count
                            else None
                        )
                    rows.append(row)
            yield pd.DataFrame(rows, columns=names)

    n_tasks = parallelism or spark.sparkContext.defaultParallelism
    return files.repartition(n_tasks).mapInPandas(walk, out_schema)


def prune_rowgroups_df(
    rg_manifest: DataFrame, predicates: dict[str, tuple[object, object]]
) -> DataFrame:
    """Surviving (file_path, rg) pairs as a DATAFRAME — same survival
    rule as prune_files_df, one level finer.  Nothing is collected:
    at 100 TB (~10^7 row groups) the survivor set stays distributed
    and read_pruned_rowgroups consumes it as a per-file read plan."""
    keep = rg_manifest
    for c, (lo, hi) in predicates.items():
        if f"mn_{c}" not in rg_manifest.columns:
            raise ValueError(f"row-group manifest has no stats for {c!r}")
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(f"mx_{c}") >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(f"mn_{c}") <= F.lit(hi))
        keep = keep.filter(cond | F.col(f"mn_{c}").isNull())
    return keep.select("file_path", "rg")


def prune_rowgroups(
    rg_manifest: DataFrame, predicates: dict[str, tuple[object, object]]
) -> list[tuple[str, int]]:
    """prune_rowgroups_df collected to Python pairs — audit/test
    convenience at driver-friendly scales; the read path consumes the
    DataFrame form instead."""
    return [
        (r["file_path"], r["rg"])
        for r in prune_rowgroups_df(rg_manifest, predicates).collect()
    ]


def read_pruned_rowgroups(
    spark: "SparkSession",
    path: str,
    rg_manifest: DataFrame,
    predicates: dict[str, tuple[object, object]],
    driver_list_threshold: int = DRIVER_LIST_THRESHOLD,
    parallelism: int | None = None,
) -> DataFrame:
    """Read only the ROW GROUPS the manifest can't rule out, then
    apply the predicates row-level.  Equals the full-scan filter
    exactly (pytest asserts it).

    Split read: files whose EVERY row group survives go through the
    ordinary vectorized Spark parquet reader (when their path list
    fits `driver_list_threshold`; past it they join the Arrow path
    with rgs=NULL = whole file); partially-surviving files are read
    row-group-selectively by distributed pyarrow tasks.  The partial
    plan — (file_path, surviving row groups) — is built with a
    groupBy JOIN against the per-file row-group totals and NEVER
    collected: each Arrow task opens its own files, so driver memory
    stays O(threshold) at any corpus size (the old implementation
    collected every surviving (file, rg) pair plus a per-file total
    dict — O(n_rowgroups) driver state, the one audited 100x-scale
    defect of round 7).  On a band predicate over a Z-ordered table
    the Arrow path covers only the boundary files, so almost all data
    still moves through the JVM fast path.
    """
    full = spark.read.parquet(path)
    cond = _interval_cond(predicates)
    keep = prune_rowgroups_df(rg_manifest, predicates)
    totals = rg_manifest.groupBy("file_path").agg(
        F.count(F.lit(1)).alias("_n_total")
    )
    # materialized once: the stats collect, the whole-file collect,
    # and the Arrow scan all consume it — without the cut the
    # prune+agg+join shuffles would re-execute up to three times
    plan = cut_lineage(
        keep.groupBy("file_path")
        .agg(
            F.sort_array(F.collect_list("rg")).alias("rgs"),
            F.count(F.lit(1)).alias("_n_keep"),
        )
        .join(totals, "file_path")
        .select(
            "file_path",
            "rgs",
            (F.col("_n_keep") == F.col("_n_total")).alias("_whole"),
        )
    )
    # one metadata-sized job: per-_whole file counts + a sample path
    # (for the layout guard) — decides the split without collecting
    # any survivor list
    stats = {
        r["_whole"]: (r["n"], r["fp"])
        for r in plan.groupBy("_whole")
        .agg(F.count(F.lit(1)).alias("n"), F.min("file_path").alias("fp"))
        .collect()
    }
    n_whole = stats.get(True, (0, None))[0]
    n_partial = stats.get(False, (0, None))[0]
    if n_whole + n_partial == 0:
        return full.filter(F.lit(False))
    sample = (stats.get(True) or stats.get(False))[1]
    _assert_unpartitioned(spark, full, sample)

    parts: list[DataFrame] = []
    if 0 < n_whole <= driver_list_threshold:
        whole = plan.filter("_whole").select("file_path").collect()
        parts.append(
            spark.read.schema(full.schema).parquet(
                *[r["file_path"] for r in whole]
            )
        )
        if n_partial:
            parts.append(
                _arrow_scan(
                    plan.filter(~F.col("_whole")).select("file_path", "rgs"),
                    full.schema,
                    parallelism,
                )
            )
    else:
        # whole-file list over budget (or no whole files): everything
        # through the Arrow tasks, whole files as rgs=NULL
        parts.append(
            _arrow_scan(
                plan.select(
                    "file_path",
                    F.when(F.col("_whole"), F.lit(None).cast("array<int>"))
                    .otherwise(F.col("rgs"))
                    .alias("rgs"),
                ),
                full.schema,
                parallelism,
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.filter(cond)
