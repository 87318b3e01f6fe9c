"""Z-order layout (operators/layout.py): Morton interleave algebra,
write round-trip, and the property that justifies the operator —
parquet footer min/max stats prune files for predicates on the
NON-LEADING clustered column, where a single-column sort cannot.
"""

from __future__ import annotations

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datawarehouse_code_spark.operators.layout import morton_interleave, zorder_write
from datawarehouse_code_spark.plans.audit import formatted_plan
from datawarehouse_code_spark.sources.catalog import read_table
from tests.conftest import SF_DIR


def test_morton_interleave_known_bits(spark):
    # x=0b10, y=0b01, 2 bits: z = y1 x1 y0 x0 = 0 1 1 0 = 6
    df = spark.createDataFrame([(2, 1)], "x INT, y INT")
    z = df.select(
        morton_interleave([F.col("x"), F.col("y")], bits=2).alias("z")
    ).head().z
    assert z == 6
    # interleave is monotone per-dimension: raising one coordinate
    # never lowers z when the other is fixed
    df2 = spark.createDataFrame([(x, y) for x in range(4) for y in range(4)],
                                "x INT, y INT")
    rows = df2.select("x", "y",
                      morton_interleave([F.col("x"), F.col("y")], 2).alias("z")
                      ).collect()
    zmap = {(r.x, r.y): r.z for r in rows}
    assert len(set(zmap.values())) == 16  # bijective on the grid
    for x in range(4):
        for y in range(3):
            assert zmap[(x, y)] < zmap[(x, y + 1)]
    for y in range(4):
        for x in range(3):
            assert zmap[(x, y)] < zmap[(x + 1, y)]


def _overlapping_files(path, col, lo, hi):
    """Files whose parquet footer [min, max] for `col` intersects
    [lo, hi] — what any stats-based reader must scan."""
    import glob

    n_total, n_overlap = 0, 0
    for f in glob.glob(f"{path}/*.parquet"):
        pf = pq.ParquetFile(f)
        idx = pf.schema_arrow.get_field_index(col)
        mn = min(pf.metadata.row_group(g).column(idx).statistics.min
                 for g in range(pf.metadata.num_row_groups))
        mx = max(pf.metadata.row_group(g).column(idx).statistics.max
                 for g in range(pf.metadata.num_row_groups))
        n_total += 1
        if mx >= lo and mn <= hi:
            n_overlap += 1
    return n_total, n_overlap


def test_zorder_write_roundtrip_and_prunes_second_column(spark, tmp_path):
    li = read_table(spark, "lineitem", SF_DIR).select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    n = li.count()
    zpath = str(tmp_path / "zorder")
    naive = str(tmp_path / "naive")
    n_files = 8
    zorder_write(li, zpath, ["l_orderkey", "l_suppkey"], n_files=n_files)
    # naive comparison layout: same file count, sorted by the LEADING
    # column only (the classic single-key clustered table)
    (
        li.repartitionByRange(n_files, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").parquet(naive)
    )

    # round-trip: physical layout only, content unchanged
    back = spark.read.parquet(zpath)
    assert back.count() == n
    a = li.agg(F.sum("l_quantity"), F.sum("l_orderkey"), F.sum("l_suppkey")).collect()
    b = back.agg(F.sum("l_quantity"), F.sum("l_orderkey"), F.sum("l_suppkey")).collect()
    assert a == b

    # pruning on the SECOND clustered column: a narrow l_suppkey band
    lo, hi = 1, 5
    zt, zo = _overlapping_files(zpath, "l_suppkey", lo, hi)
    nt, no = _overlapping_files(naive, "l_suppkey", lo, hi)
    assert zt == nt == n_files
    # the orderkey-sorted layout spreads every suppkey across every
    # file (no skipping); z-order must let stats skip some files
    assert no == n_files
    assert zo < no, f"z-order pruned nothing: {zo}/{zt} vs naive {no}/{nt}"


def test_manifest_pruned_read_equals_full_scan(spark, tmp_path):
    """The query-time half of data skipping: collect_file_stats +
    read_pruned must (a) return EXACTLY the full-scan filter result,
    (b) actually skip files on a narrow second-column band over the
    Z-ordered layout, (c) agree with the parquet footers on which
    files can be skipped."""
    from datawarehouse_code_spark.operators.layout import (
        collect_file_stats,
        prune_files,
        read_pruned,
    )

    li = read_table(spark, "lineitem", SF_DIR).select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    zpath = str(tmp_path / "zorder")
    zorder_write(li, zpath, ["l_orderkey", "l_suppkey"], n_files=8)
    manifest = collect_file_stats(spark, zpath, ["l_orderkey", "l_suppkey"])
    assert manifest.count() == 8

    lo, hi = 1, 5
    preds = {"l_suppkey": (lo, hi)}
    kept = prune_files(manifest, preds)
    _, footer_overlap = _overlapping_files(zpath, "l_suppkey", lo, hi)
    assert len(kept) == footer_overlap  # manifest == footer truth
    assert 0 < len(kept) < 8

    got = sorted(tuple(r) for r in read_pruned(spark, zpath, manifest, preds).collect())
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(zpath)
        .filter(F.col("l_suppkey").between(lo, hi))
        .collect()
    )
    assert got == want and got

    # two-column band + open-ended interval compose
    preds2 = {"l_suppkey": (lo, hi), "l_orderkey": (None, 500)}
    got2 = sorted(tuple(r) for r in read_pruned(spark, zpath, manifest, preds2).collect())
    want2 = sorted(
        tuple(r)
        for r in spark.read.parquet(zpath)
        .filter(F.col("l_suppkey").between(lo, hi) & (F.col("l_orderkey") <= 500))
        .collect()
    )
    assert got2 == want2

    # empty survivor set -> empty, correctly-typed frame
    none = read_pruned(spark, zpath, manifest, {"l_suppkey": (10**9, None)})
    assert none.count() == 0
    assert none.schema == spark.read.parquet(zpath).schema


def test_rowgroup_manifest_matches_footers_and_outprunes_files(spark, tmp_path):
    """Row-group-granularity skipping (round 7): (a) the distributed
    row-group manifest agrees with the parquet footers row-group for
    row-group; (b) a band predicate on the Z-ordered table keeps
    FEWER row groups than 'every row group of every surviving file' —
    the extra skipping file-level stats cannot see; (c) the
    row-group-pruned read equals the full-scan filter exactly,
    exercising both the whole-file JVM path and the partial-file
    Arrow path."""
    from datawarehouse_code_spark.operators.layout import (
        collect_file_stats,
        collect_rowgroup_stats,
        prune_files,
        prune_rowgroups,
        read_pruned_rowgroups,
    )

    li = read_table(spark, "lineitem", SF_DIR).select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    zpath = str(tmp_path / "zorder")
    # small row groups: several per file, so row-group pruning has
    # something to win inside a surviving file
    zorder_write(
        li, zpath, ["l_orderkey", "l_suppkey"], n_files=4,
        writer_options={"parquet.block.size": str(4 * 1024)},
    )

    rgm = collect_rowgroup_stats(spark, zpath, ["l_orderkey", "l_suppkey"])
    rows = {(r["file_path"], r["rg"]): r for r in rgm.collect()}
    # footer truth, row group by row group
    import glob

    n_footer_rgs = 0
    for f in glob.glob(f"{zpath}/*.parquet"):
        pf = pq.ParquetFile(f)
        idx = pf.schema_arrow.get_field_index("l_suppkey")
        for g in range(pf.metadata.num_row_groups):
            st = pf.metadata.row_group(g).column(idx).statistics
            key = next(k for k in rows if k[0].endswith(f.split("/")[-1]) and k[1] == g)
            assert rows[key]["mn_l_suppkey"] == st.min
            assert rows[key]["mx_l_suppkey"] == st.max
            assert rows[key]["n_rows"] == pf.metadata.row_group(g).num_rows
            n_footer_rgs += 1
    assert len(rows) == n_footer_rgs > 4  # multiple row groups per file

    preds = {"l_suppkey": (1, 5)}
    manifest = collect_file_stats(spark, zpath, ["l_orderkey", "l_suppkey"])
    kept_files = prune_files(manifest, preds)
    kept_rgs = prune_rowgroups(rgm, preds)
    rgs_in_kept_files = sum(
        1 for (fp, _g) in rows if fp in set(kept_files)
    )
    assert kept_rgs, "band predicate must keep something"
    assert len(kept_rgs) < rgs_in_kept_files, (
        f"row-group stats must out-prune file stats: kept "
        f"{len(kept_rgs)} rgs vs {rgs_in_kept_files} rgs in kept files"
    )
    # at least one file survives PARTIALLY (the Arrow read path)
    from collections import Counter

    per_file = Counter(fp for fp, _g in kept_rgs)
    total_per_file = Counter(fp for fp, _g in rows)
    assert any(per_file[fp] < total_per_file[fp] for fp in per_file)

    got = sorted(
        tuple(r)
        for r in read_pruned_rowgroups(spark, zpath, rgm, preds).collect()
    )
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(zpath)
        .filter(F.col("l_suppkey").between(1, 5))
        .collect()
    )
    assert got == want and got

    # empty-survivor band returns an empty, correctly-typed frame
    nothing = read_pruned_rowgroups(
        spark, zpath, rgm, {"l_suppkey": (10**9, 10**9 + 1)}
    )
    assert nothing.count() == 0
    assert nothing.schema == spark.read.parquet(zpath).schema


def test_pruned_reads_scale_path_many_files(spark, tmp_path):
    """100x-scale contract (r7 verdict #1): with a MANY-file table and
    the driver-list budget forced to 0, both pruned readers must (a)
    never materialize an O(n_files) survivor list on the driver — the
    list-shaped prune_files/prune_rowgroups helpers are monkeypatched
    to explode if touched — and (b) still equal the full-scan filter
    exactly through the distributed Arrow scan path."""
    import datawarehouse_code_spark.operators.layout as layout

    n_files = 2048
    df = spark.range(0, 8 * n_files).select(
        F.col("id").alias("k"), (F.col("id") * 3 % 1000).alias("v")
    )
    path = str(tmp_path / "many")
    df.repartitionByRange(n_files, "k").sortWithinPartitions("k").write.parquet(path)

    manifest = layout.collect_file_stats(spark, path, ["k"])
    assert manifest.count() == n_files
    preds = {"k": (100, 3000)}

    # the survivor DataFrame itself never passes through a Python list
    old_pf, old_prg = layout.prune_files, layout.prune_rowgroups

    def _boom(*a, **k):
        raise AssertionError("driver-side survivor list materialized")

    layout.prune_files = layout.prune_rowgroups = _boom
    try:
        got = sorted(
            tuple(r)
            for r in layout.read_pruned(
                spark, path, manifest, preds, driver_list_threshold=0
            ).collect()
        )
    finally:
        layout.prune_files, layout.prune_rowgroups = old_pf, old_prg
    want = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .filter(F.col("k").between(100, 3000))
        .collect()
    )
    assert got == want and got

    # row-group granularity through the same forced-distributed path
    rgm = layout.collect_rowgroup_stats(spark, path, ["k"])
    layout.prune_files = layout.prune_rowgroups = _boom
    try:
        got_rg = sorted(
            tuple(r)
            for r in layout.read_pruned_rowgroups(
                spark, path, rgm, preds, driver_list_threshold=0
            ).collect()
        )
    finally:
        layout.prune_files, layout.prune_rowgroups = old_pf, old_prg
    assert got_rg == want

    # same answers below the budget (JVM multi-path fast path)
    got_jvm = sorted(
        tuple(r) for r in layout.read_pruned(spark, path, manifest, preds).collect()
    )
    assert got_jvm == want


def test_read_pruned_rejects_hive_partitioned_layout(spark, tmp_path):
    """ADVICE guard: per-file reads would silently NULL
    hive-partition columns; both pruned readers must refuse the
    layout loudly instead."""
    import pytest

    from datawarehouse_code_spark.operators.layout import (
        collect_file_stats,
        read_pruned,
    )

    li = read_table(spark, "lineitem", SF_DIR).select(
        "l_orderkey", "l_suppkey", "l_linestatus"
    )
    path = str(tmp_path / "parted")
    li.write.partitionBy("l_linestatus").parquet(path)
    manifest = collect_file_stats(spark, path, ["l_suppkey"])
    with pytest.raises(ValueError, match="hive-partition"):
        read_pruned(spark, path, manifest, {"l_suppkey": (1, 5)}).collect()


def test_rowgroup_partial_read_preserves_nullable_int64(spark, tmp_path):
    """Review regression (r7): the partial-file read path must NOT go
    through pandas — a null-bearing int64 column would degrade to
    float64 and silently corrupt values past 2^53 on boundary files
    while whole files read exactly.  Arrow batches round-trip the
    physical types."""
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.layout import (
        collect_rowgroup_stats,
        read_pruned_rowgroups,
    )

    big = 9_007_199_254_741_093  # > 2^53: float64 cannot represent it
    rows = [(i, big + i if i % 7 else None) for i in range(4000)]
    df = spark.createDataFrame(rows, "k bigint, payload bigint")
    zpath = str(tmp_path / "z")
    zorder_write(
        df, zpath, ["k"], n_files=4,
        writer_options={"parquet.block.size": str(4 * 1024)},
    )
    rgm = collect_rowgroup_stats(spark, zpath, ["k"])
    preds = {"k": (900, 1400)}  # straddles a file boundary
    got = {
        r["k"]: r["payload"]
        for r in read_pruned_rowgroups(spark, zpath, rgm, preds).collect()
    }
    want = {
        k: v for k, v in rows if 900 <= k <= 1400
    }
    assert got == want
    # the corruption case specifically: exact odd values survive
    assert got[901] == big + 901


def _scan_num_files(df):
    """Sum of FileSourceScan numFiles metrics after executing df."""
    df.collect()
    exe = df._jdf.queryExecution().executedPlan()
    total = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if "QueryStageExec" in name:
            walk(node.plan())
            return
        if "Scan" in name:
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numFiles":
                    total.append(kv._2().value())
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(exe)
    return sum(total)


def test_refresh_file_stats_incremental(spark, tmp_path):
    """Incremental manifest refresh (r8): after appending files, the
    refreshed manifest must equal a from-scratch rebuild, the new-file
    stats scan must OPEN only the appended files (numFiles metric ==
    increment size — the _metadata.file_path listing-pruning this op
    relies on), vanished files drop, and a no-change refresh is a
    pure carry-through."""
    import glob
    import os

    from datawarehouse_code_spark.operators.layout import (
        _file_stats_scan,
        collect_file_stats,
        refresh_file_stats,
    )

    path = str(tmp_path / "t")
    spark.range(0, 8000).select(F.col("id").alias("k")).repartition(8) \
        .write.parquet(path)
    manifest = collect_file_stats(spark, path, ["k"]).cache()
    assert manifest.count() == 8

    # append an increment
    spark.range(8000, 11000).select(F.col("id").alias("k")).repartition(3) \
        .write.mode("append").parquet(path)
    # the increment-only stats scan opens exactly the 3 new files
    new = [
        "file:" + f for f in sorted(glob.glob(f"{path}/*.parquet"))
    ]
    refreshed = refresh_file_stats(spark, path, ["k"], manifest)
    got = sorted(tuple(r) for r in refreshed.collect())
    want = sorted(tuple(r) for r in collect_file_stats(spark, path, ["k"]).collect())
    assert got == want and len(got) == 11

    # metric pin: scanning 3 chosen files opens 3 files, not 11
    three = new[:3]
    assert _scan_num_files(_file_stats_scan(spark, path, ["k"], three)) == 3

    # materialize the refreshed manifest (the real workflow persists
    # it between refreshes: its lazy lineage reads the TABLE, so once
    # files are deleted the old frame cannot be re-evaluated)
    stored = spark.createDataFrame(refreshed.collect(), refreshed.schema)

    # no-op refresh carries through; a deleted file's row drops
    again = refresh_file_stats(spark, path, ["k"], stored)
    assert sorted(tuple(r) for r in again.collect()) == got
    victim = sorted(glob.glob(f"{path}/*.parquet"))[0]
    os.remove(victim)
    after = refresh_file_stats(spark, path, ["k"], stored)
    assert after.count() == 10
    assert not any(
        r["file_path"].endswith(os.path.basename(victim))
        for r in after.select("file_path").collect()
    )
    manifest.unpersist()


def test_surviving_rowgroups_matches_footer_truth(spark, tmp_path):
    """Worker-side row-group survival (r8): against a real multi-row-
    group file, _surviving_rowgroups must keep exactly the groups
    whose [min, max] intersects the interval, keep groups on missing
    predicate columns, and keep everything for an untyped-comparable
    predicate (conservative fail-open)."""
    from datawarehouse_code_spark.operators.layout import (
        _surviving_rowgroups,
        zorder_write,
    )

    df = spark.range(0, 20000).select(F.col("id").alias("k"))
    path = str(tmp_path / "z")
    zorder_write(df, path, ["k"], n_files=1,
                 writer_options={"parquet.block.size": str(8 * 1024)})
    import glob

    f = glob.glob(f"{path}/*.parquet")[0]
    md = pq.ParquetFile(f).metadata
    assert md.num_row_groups > 3
    lo, hi = 5000, 6000
    live = _surviving_rowgroups(md, {"k": (lo, hi)})
    want = []
    idx = md.schema.column(0).path
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(0).statistics
        if st.max >= lo and st.min <= hi:
            want.append(rg)
    assert live == want and 0 < len(live) < md.num_row_groups
    # unknown predicate column: keep all (the row filter decides)
    assert _surviving_rowgroups(md, {"missing": (1, 2)}) == list(
        range(md.num_row_groups)
    )
    # incomparable bound: fail open, keep all
    assert _surviving_rowgroups(md, {"k": ("zzz", None)}) == list(
        range(md.num_row_groups)
    )


def test_bloom_filter_options_write_and_lookup(spark, tmp_path):
    """bloom_filter_options embeds parquet bloom filters for the
    listed column only (observable as footer-region growth on that
    file; pyarrow 16 doesn't expose the offset attribute), and
    point-lookup results are unchanged — the reader treats the filter
    as a pure skipping aid."""
    import glob
    import os

    from datawarehouse_code_spark.operators.layout import (
        bloom_filter_options,
    )

    df = spark.range(200_000).selectExpr(
        "id", "CAST(id * 7919 % 1000003 AS BIGINT) AS k"
    )
    plain, bloom = str(tmp_path / "plain"), str(tmp_path / "bloom")
    df.coalesce(1).write.parquet(plain)
    df.coalesce(1).write.options(
        **bloom_filter_options(["k"], expected_ndv=200_000)
    ).parquet(bloom)

    sz = {
        v: os.path.getsize(glob.glob(f"{p}/*.parquet")[0])
        for v, p in [("plain", plain), ("bloom", bloom)]
    }
    # a 200k-NDV bloom filter is ~100s of KB; well above parquet's
    # size jitter between two writes of identical data
    assert sz["bloom"] > sz["plain"] + 50_000, sz

    for probe in (7919, 1, 999_999_937):
        a = spark.read.parquet(plain).filter(f"k = {probe}").count()
        b = spark.read.parquet(bloom).filter(f"k = {probe}").count()
        assert a == b

    opts = bloom_filter_options(["a", "b"], expected_ndv=10)
    assert opts == {
        "parquet.bloom.filter.enabled#a": "true",
        "parquet.bloom.filter.expected.ndv#a": "10",
        "parquet.bloom.filter.enabled#b": "true",
        "parquet.bloom.filter.expected.ndv#b": "10",
    }


def test_bucketed_tables_join_colocated(spark, tmp_path):
    """The co-located-join layout: both sides written bucketed by the
    join key with the same bucket count -> the SortMergeJoin plan has
    ZERO exchanges and ZERO sorts (the bucketed scan reports the hash
    partitioning and, with one file per bucket, the sort order), while
    the identical join over plain parquet shuffles both sides.  Values
    are pinned equal between the two plans."""
    from datawarehouse_code_spark.operators.layout import write_bucketed_table

    orders = read_table(spark, "orders", SF_DIR).select(
        "o_orderkey", "o_totalprice"
    )
    li = read_table(spark, "lineitem", SF_DIR).select(
        "l_orderkey", "l_quantity"
    )

    try:
        write_bucketed_table(
            orders, "b_orders", str(tmp_path / "o"), 8, ["o_orderkey"]
        )
        write_bucketed_table(
            li, "b_lineitem", str(tmp_path / "l"), 8, ["l_orderkey"]
        )
        cond_b = F.col("o_orderkey") == F.col("l_orderkey")
        j = (
            spark.table("b_orders")
            .hint("merge")
            .join(spark.table("b_lineitem"), cond_b)
        )
        plan = formatted_plan(j)
        assert "SortMergeJoin" in plan, plan[:2000]
        assert "Exchange" not in plan, plan[:3000]
        assert ") Sort " not in plan and "\nSort " not in plan, plan[:3000]

        # contrast: the same join over plain (unbucketed) parquet
        # shuffles both sides
        orders.write.parquet(str(tmp_path / "po"))
        li.write.parquet(str(tmp_path / "pl"))
        pj = (
            spark.read.parquet(str(tmp_path / "po"))
            .hint("merge")
            .join(spark.read.parquet(str(tmp_path / "pl")), cond_b)
        )
        import re

        assert len(set(re.findall(r"\((\d+)\) Exchange", formatted_plan(pj)))) >= 2

        # identical values
        a = j.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("s"),
        ).head()
        b = pj.groupBy().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("s"),
        ).head()
        assert (a.n, a.s) == (b.n, b.s) and a.n > 0

        # layout on disk: exactly one data file per bucket per side
        import os

        files = [
            f for f in os.listdir(tmp_path / "o")
            if f.endswith(".parquet") and not f.startswith("_")
        ]
        assert len(files) == 8, sorted(files)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
