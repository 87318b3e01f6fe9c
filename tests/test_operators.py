"""Operator-level unit tests the oracle differential can't express:
surrogate-key determinism/uniqueness (O19), insert-if-not-exists
idempotency (O5/O25), and the connector round-trips (CSV/JSON).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehouse_code_spark.operators.dimensions import insert_if_not_exists
from datawarehouse_code_spark.operators.fact import build_fact
from datawarehouse_code_spark.plans.audit import executed_plan
from datawarehouse_code_spark.sources.catalog import (
    read_csv,
    read_json,
    read_orc,
    read_table,
)
from tests.conftest import SF_DIR


def test_fact_id_deterministic_and_unique(spark):
    """O19: the surrogate id is a pure function of the natural key and
    collision-free on the fixture (md5 of (l_orderkey, l_linenumber))."""
    lineitem = read_table(spark, "lineitem", SF_DIR)
    orders = read_table(spark, "orders", SF_DIR)
    customer = read_table(spark, "customer", SF_DIR)

    f1 = build_fact(lineitem, orders, customer)
    f2 = build_fact(lineitem, orders, customer)

    n = f1.count()
    assert n > 0
    # unique: one id per row
    assert f1.select("id").distinct().count() == n
    # deterministic: two independent builds agree exactly
    assert f1.select("id").exceptAll(f2.select("id")).count() == 0


def test_insert_if_not_exists_idempotent(spark):
    """O5/O25: re-running the load against existing ∪ delta yields an
    empty delta (the idempotency the reference's skip-logging implies)."""
    orders = read_table(spark, "orders", SF_DIR)
    existing = orders.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey")
    delta = insert_if_not_exists(orders, existing, ["o_orderkey"])
    assert delta.filter(F.col("o_orderkey") % 2 == 0).count() == 0

    merged = existing.unionByName(delta.select("o_orderkey"))
    rerun = insert_if_not_exists(orders, merged, ["o_orderkey"])
    assert rerun.count() == 0


def test_csv_json_connector_round_trip(spark, tmp_path):
    """Connectors (SURVEY §2.2 row 1): write a catalog table to CSV and
    JSON-lines, read it back with the declared schema, values survive."""
    nation = read_table(spark, "nation", SF_DIR)
    csv_path = str(tmp_path / "nation_csv")
    json_path = str(tmp_path / "nation_json")
    nation.write.mode("overwrite").option("header", "true").csv(csv_path)
    nation.write.mode("overwrite").json(json_path)

    back_csv = read_csv(spark, csv_path, "nation")
    back_json = read_json(spark, json_path, "nation")
    rows = sorted(nation.collect())
    assert sorted(back_csv.collect()) == rows
    assert sorted(back_json.collect()) == rows

    orc_path = str(tmp_path / "nation_orc")
    nation.write.mode("overwrite").orc(orc_path)
    assert sorted(read_orc(spark, orc_path, "nation").collect()) == rows


def test_asof_join_backward_semantics(spark):
    """As-of join edge semantics: equal-ts right rows match ('at or
    before'), the LATEST right row wins even when its payload value is
    NULL (struct carry — no fallback to an older non-null payload),
    and left rows with no prior right row get NULLs."""
    from datawarehouse_code_spark.operators.joins import asof_join_backward

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (2, 5, 102)],
        "k int, ts int, lid int",
    )
    right = spark.createDataFrame(
        [(1, 10, 7, 1.5), (1, 15, 8, None), (2, 6, 9, 2.5)],
        "k int, ts int, rid int, val double",
    )
    got = {
        r["lid"]: (r["asof_rid"], r["asof_val"])
        for r in asof_join_backward(
            left, right, keys=["k"], ts_col="ts",
            payload_cols=["rid", "val"], right_tiebreak="rid",
        ).collect()
    }
    assert got[100] == (7, 1.5)      # equal ts matches
    assert got[101] == (8, None)     # latest row wins, NULL payload kept
    assert got[102] == (None, None)  # right row is later -> no match


def test_asof_join_null_timestamps(spark):
    """NULL-ts right rows are ignored; NULL-ts left rows get NULL
    payloads (pinned NULLS FIRST ordering on both engines)."""
    from datawarehouse_code_spark.operators.joins import asof_join_backward

    left = spark.createDataFrame(
        [(1, 10, 100), (1, None, 101)], "k int, ts int, lid int"
    )
    right = spark.createDataFrame(
        [(1, 5, 7), (1, None, 8)], "k int, ts int, rid int"
    )
    got = {
        r["lid"]: r["asof_rid"]
        for r in asof_join_backward(
            left, right, keys=["k"], ts_col="ts", payload_cols=["rid"],
            right_tiebreak="rid",
        ).collect()
    }
    assert got == {100: 7, 101: None}


def _scd_rows(df):
    return {
        (r.k, r.v, str(r.valid_from), str(r.valid_to), r.is_current)
        for r in df.collect()
    }


def test_scd2_double_merge_builds_history(spark):
    """Two consecutive snapshots: a key that changes twice keeps both
    closed rows, re-changes track the latest open row, absent keys
    carry through, NULL→value counts as a change."""
    from datawarehouse_code_spark.operators.scd import scd2_init, scd2_merge

    base = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c")], "k int, v string"
    )
    dim = scd2_init(base, "2023-01-01")

    snap1 = spark.createDataFrame(
        [(1, "a2"), (2, "b"), (3, "c"), (4, "d")], "k int, v string"
    )
    dim1 = scd2_merge(dim, snap1, ["k"], ["v"], "2023-06-01")
    assert _scd_rows(dim1) == {
        (1, "a", "2023-01-01", "2023-06-01", False),
        (1, "a2", "2023-06-01", "None", True),
        (2, None, "2023-01-01", "2023-06-01", False),  # NULL→value = change
        (2, "b", "2023-06-01", "None", True),
        (3, "c", "2023-01-01", "None", True),          # unchanged
        (4, "d", "2023-06-01", "None", True),          # new key
    }

    snap2 = spark.createDataFrame([(1, "a3"), (3, "c")], "k int, v string")
    dim2 = scd2_merge(dim1, snap2, ["k"], ["v"], "2024-01-01")
    assert _scd_rows(dim2) == {
        (1, "a", "2023-01-01", "2023-06-01", False),   # history preserved
        (1, "a2", "2023-06-01", "2024-01-01", False),
        (1, "a3", "2024-01-01", "None", True),
        (2, None, "2023-01-01", "2023-06-01", False),
        (2, "b", "2023-06-01", "None", True),          # absent ≠ delete
        (3, "c", "2023-01-01", "None", True),
        (4, "d", "2023-06-01", "None", True),
    }
    # exactly one current row per live key
    cur = dim2.filter(F.col("is_current")).groupBy("k").count()
    assert cur.filter(F.col("count") > 1).count() == 0


def test_scd2_merge_idempotent(spark):
    """Re-merging the identical snapshot is a no-op (same guarantee the
    reference's skip-logging gives insert-if-not-exists)."""
    from datawarehouse_code_spark.operators.scd import scd2_init, scd2_merge

    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    dim = scd2_init(base, "2023-01-01")
    once = scd2_merge(dim, base, ["k"], ["v"], "2024-01-01")
    twice = scd2_merge(once, base, ["k"], ["v"], "2024-01-01")
    assert _scd_rows(once) == _scd_rows(dim)
    assert _scd_rows(twice) == _scd_rows(dim)


def test_dq_audit_counts_violations(spark):
    """quality.py on data with real defects: nulls, duplicate keys,
    orphaned FKs (NULL FK is NOT a violation), range breaches."""
    from datawarehouse_code_spark.operators.quality import (
        dq_audit,
        fk_violations,
        null_counts,
        range_violations,
        unique_violations,
    )

    child = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, -1.0), (3, 99, None), (3, None, 2.0)],
        "id int, fk int, v double",
    )
    parent = spark.createDataFrame([(10,)], "pk int")
    report = {
        (r.check_kind, r.target): (r.n_bad, r.n_rows)
        for r in dq_audit([
            null_counts(child, ["fk", "v"]),
            unique_violations(child, ["id"]),
            fk_violations(child, "fk", parent, "pk", "child.fk->parent.pk"),
            range_violations(child, "v>0", F.col("v") > 0),
        ]).collect()
    }
    assert report[("null", "fk")] == (1, 4)
    assert report[("null", "v")] == (1, 4)
    assert report[("unique", "id")] == (1, 4)          # id=3 twice
    assert report[("fk", "child.fk->parent.pk")] == (1, 4)  # fk=99; NULL exempt
    assert report[("range", "v>0")] == (2, 4)          # -1.0 and NULL both fail


def test_read_evolving_null_fills_old_files(spark, tmp_path):
    """Files written before a column existed must surface it as NULL
    under read_evolving (the default read takes one footer's schema
    and the visible columns become sampling-dependent); the expected
    contract adds never-present columns as typed NULLs and pins
    column order; conflicting types still fail loudly."""
    import pytest

    from datawarehouse_code_spark.sources.catalog import read_evolving

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, name string").coalesce(1) \
        .write.mode("overwrite").parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).coalesce(1).write.mode("append").parquet(path)

    df = read_evolving(spark, path)
    assert set(df.columns) == {"id", "name", "score"}
    got = {r["id"]: r["score"] for r in df.collect()}
    assert got == {1: None, 2: 9.5}

    pinned = read_evolving(
        spark, path, "id long, name string, score double, flag boolean"
    )
    assert pinned.columns == ["id", "name", "score", "flag"]
    assert {r["flag"] for r in pinned.collect()} == {None}

    # conflicting types across files fail loudly, not silently cast
    spark.createDataFrame([("x", "c")], "id string, name string").coalesce(1) \
        .write.mode("append").parquet(path)
    with pytest.raises(Exception, match="(?i)merge|incompatible|failed"):
        read_evolving(spark, path).collect()


def test_triangle_counts_known_graphs(spark):
    """K4 (every node in 3 triangles), a triangle with a pendant, a
    path (none), duplicate/reversed edges normalized, self-loops
    raise."""
    import pytest

    from datawarehouse_code_spark.operators.graph import triangle_counts

    k4 = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)], "a int, b int"
    )
    assert sorted(tuple(r) for r in triangle_counts(k4).collect()) == [
        (1, 3), (2, 3), (3, 3), (4, 3),
    ]

    messy = spark.createDataFrame(
        [(2, 1), (1, 3), (3, 2), (2, 3), (4, 1)], "a int, b int"
    )
    assert sorted(tuple(r) for r in triangle_counts(messy).collect()) == [
        (1, 1), (2, 1), (3, 1),
    ]

    path = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "a int, b int")
    assert triangle_counts(path).count() == 0

    loops = spark.createDataFrame([(1, 1), (1, 2)], "a int, b int")
    with pytest.raises(ValueError, match="self-loops"):
        triangle_counts(loops)


def test_anomaly_report_planted_spike_and_zero_mad(spark):
    from datawarehouse_code_spark.operators.quality import anomaly_report

    # stable series around 100 with one planted spike
    rows = [("a", i, 100 + (i % 3)) for i in range(20)] + [("a", 20, 500)]
    df = spark.createDataFrame(rows, "k string, t int, m int")
    out = anomaly_report(df, ["k"], "t", "m", k_bp=50_000).collect()
    assert [(r["t"], r["m"]) for r in out] == [(20, 500)]

    # constant series: MAD = 0 -> ANY deviation flags
    rows2 = [("b", i, 7) for i in range(10)] + [("b", 10, 8)]
    df2 = spark.createDataFrame(rows2, "k string, t int, m int")
    out2 = anomaly_report(df2, ["k"], "t", "m", k_bp=50_000).collect()
    assert [(r["t"], r["m"], r["mad"]) for r in out2] == [(10, 8, 0)]


def test_scd2_point_in_time_join_boundaries(spark):
    """Crafted two-version dim: the boundary day belongs to the NEW
    version (scd2_merge close/open convention); a fact before the
    first version keeps NULL attributes; at most one match per
    fact."""
    from datawarehouse_code_spark.operators.scd import (
        scd2_point_in_time_join,
    )

    dim = spark.createDataFrame(
        [
            (1, "v1", "2024-01-01", "2024-06-01", False),
            (1, "v2", "2024-06-01", None, True),
        ],
        "k int, attr string, valid_from string, valid_to string, is_current boolean",
    ).select(
        "k", "attr",
        F.to_date("valid_from").alias("valid_from"),
        F.to_date("valid_to").alias("valid_to"),
        "is_current",
    )
    facts = spark.createDataFrame(
        [
            (10, 1, "2023-12-31 12:00:00"),  # before first version
            (11, 1, "2024-01-01 00:00:00"),  # first day of v1
            (12, 1, "2024-05-31 23:59:59"),  # last day of v1
            (13, 1, "2024-06-01 00:00:00"),  # boundary -> v2
            (14, 1, "2025-01-01 08:00:00"),  # open end -> v2
            (15, 2, "2024-07-01 00:00:00"),  # unknown key
        ],
        "fid int, k int, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = scd2_point_in_time_join(facts, dim, ["k"], "ts")
    assert out.count() == facts.count()  # at most one match each
    got = {r["fid"]: r["attr"] for r in out.collect()}
    assert got == {10: None, 11: "v1", 12: "v1", 13: "v2", 14: "v2", 15: None}


def test_fuzzy_prefix_join_contract(spark):
    """Within-distance pairs found; beyond-distance rejected; a pair
    whose edit sits INSIDE the blocking prefix is (by documented
    contract) not a candidate; and the plan is an equi-join on the
    prefix, never a cartesian."""
    import pytest
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.joins import fuzzy_prefix_join

    left = spark.createDataFrame(
        [(1, "chocolate lace"), (2, "Xhocolate lace"), (3, "zzz unrelated")],
        "lid int, lname string",
    )
    right = spark.createDataFrame(
        [(10, "chocolate lace"), (11, "chocolatey lace"), (12, "wholly other")],
        "rid int, rname string",
    )
    out = fuzzy_prefix_join(left, right, "lname", "rname", max_distance=2)
    got = {(r["lid"], r["rid"]): r["edit_distance"] for r in out.collect()}
    # id 1 matches the exact copy (0) and the 1-insert variant (1);
    # id 2's edit is in the first 2 chars -> blocked out (contract);
    # id 3 matches nothing within distance 2
    assert got == {(1, 10): 0, (1, 11): 1}

    plan = executed_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    with pytest.raises(ValueError, match="max_distance"):
        fuzzy_prefix_join(left, right, "lname", "rname", max_distance=0)


def test_drift_report_buckets_and_outliers(spark):
    """Crafted drift: NULLs land in bucket -2, below-reference values
    in -1, above-reference in n_buckets; shares are integer basis
    points; non-integer columns are rejected."""
    import pytest
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.quality import drift_report

    ref = spark.createDataFrame([(i,) for i in range(0, 100)], "x bigint")
    cur = spark.createDataFrame(
        [(None,), (-5,), (150,)] + [(i,) for i in range(50, 100)],
        "x bigint",
    )
    out = {
        r["bucket"]: (r["n_ref"], r["n_cur"], r["drift_bp"])
        for r in drift_report(ref, cur, ["x"], n_buckets=10).collect()
    }
    assert out[-2][1] == 1 and out[-2][0] == 0      # NULL bucket, cur only
    assert out[-1][1] == 1 and out[10][1] == 1      # outlier buckets
    # reference is uniform: 10 per bucket = 1000 bp each
    for b in range(10):
        assert out[b][0] == 10
    # cur has no mass below 50 -> buckets 0..4 drift by the full
    # reference share (1000 bp)
    assert out[0] == (10, 0, 1000)
    assert out[9][1] == 10  # 10 of cur's 53 rows -> 1886 bp vs 1000
    assert out[9][2] == abs(1000 - (10 * 10000) // 53)

    with pytest.raises(ValueError, match="integer-typed"):
        drift_report(
            ref.withColumn("x", F.col("x").cast("double")),
            cur.withColumn("x", F.col("x").cast("double")),
            ["x"],
        )


def test_bfs_distances_crafted(spark):
    """Chain + branch + disconnected island: exact hop counts, min
    over multiple seeds, unreached nodes absent, max_hops truncation."""
    from datawarehouse_code_spark.operators.graph import bfs_distances

    # 1-2-3-4-5 chain, 3-6 branch, island 8-9
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (3, 6), (8, 9)], "a bigint, b bigint"
    )
    seeds = spark.createDataFrame([(1,), (5,)], "node bigint")
    got = {r["node"]: r["dist"] for r in bfs_distances(edges, seeds).collect()}
    assert got == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2, 6: 3}  # 8,9 unreached

    # truncation: distances beyond max_hops don't appear
    got1 = {
        r["node"]: r["dist"]
        for r in bfs_distances(
            edges, spark.createDataFrame([(1,)], "node bigint"), max_hops=2
        ).collect()
    }
    assert got1 == {1: 0, 2: 1, 3: 2}


def test_profile_table_exact_and_approx(spark):
    """Exact profile facts on a crafted frame; the approx knob stays
    within HLL error and shares the schema."""
    from datawarehouse_code_spark.operators.quality import profile_table

    df = spark.createDataFrame(
        [(i, None if i % 5 == 0 else f"v{i % 7}") for i in range(100)],
        "id bigint, s string",
    )
    got = {r["col"]: r for r in profile_table(df).collect()}
    assert got["id"]["n_rows"] == 100 and got["id"]["n_nulls"] == 0
    assert got["id"]["n_distinct"] == 100
    assert got["id"]["min_value"] == "0" and got["id"]["max_value"] == "99"
    assert got["s"]["n_nulls"] == 20
    assert got["s"]["n_distinct"] == 7  # NULLs don't count as a value

    ap = {r["col"]: r["n_distinct"] for r in profile_table(df, approx=True).collect()}
    assert abs(ap["id"] - 100) <= 10 and abs(ap["s"] - 7) <= 2

    import pytest

    with pytest.raises(ValueError, match="at least one column"):
        profile_table(df, cols=[])


def test_asof_nearest_tolerance_timezone_independent(spark):
    """Review regression (r7): the tolerance anchor must carry an
    explicit UTC offset — a bare epoch string parses in the SESSION
    timezone and shifts the tolerance by the UTC offset."""
    import datetime

    from datawarehouse_code_spark.operators.joins import asof_join_nearest

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        base = datetime.datetime(2024, 1, 1, 12, 0, 0)
        left = spark.createDataFrame(
            [(1, base, 10)], "k int, ts timestamp, lid int"
        )
        right = spark.createDataFrame(
            [(1, base + datetime.timedelta(seconds=4), 7)],
            "k int, ts timestamp, rid int",
        )
        # 4s away, 10s tolerance: MUST match under any session tz
        got = asof_join_nearest(
            left, right, ["k"], "ts", ["rid"], tolerance="10 seconds"
        ).collect()
        assert got[0]["asof_rid"] == 7
        # 4s away, 1s tolerance: must NOT match
        got2 = asof_join_nearest(
            left, right, ["k"], "ts", ["rid"], tolerance="1 seconds"
        ).collect()
        assert got2[0]["asof_rid"] is None
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_scd3_merge_crafted(spark):
    """Type-3 semantics: change moves old value to prev_* with the
    load date; a SECOND change overwrites prev_* (one level of
    history, by definition); unchanged and snap-absent rows carry;
    new keys have NULL prevs; schema validation raises."""
    import pytest
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.scd import scd3_init, scd3_merge

    snap0 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id bigint, v string"
    )
    dim = scd3_init(snap0, ["id"], ["v"])
    snap1 = spark.createDataFrame(
        [(1, "a2"), (2, "b"), (4, "d")], "id bigint, v string"
    )
    d1 = scd3_merge(dim, snap1, ["id"], ["v"], "2024-01-01")
    got = {r["id"]: (r["v"], r["prev_v"], str(r["changed_at"])) for r in d1.collect()}
    assert got[1] == ("a2", "a", "2024-01-01")
    assert got[2] == ("b", None, "None")
    assert got[3] == ("c", None, "None")      # absent from snap: carried
    assert got[4] == ("d", None, "None")      # new key

    snap2 = spark.createDataFrame([(1, "a3")], "id bigint, v string")
    d2 = scd3_merge(d1, snap2, ["id"], ["v"], "2024-02-01")
    got2 = {r["id"]: (r["v"], r["prev_v"], str(r["changed_at"])) for r in d2.collect()}
    assert got2[1] == ("a3", "a2", "2024-02-01")  # one level of history

    with pytest.raises(ValueError, match="SCD3 columns"):
        scd3_merge(snap0, snap1, ["id"], ["v"], "2024-01-01")


def test_label_propagation_two_cliques(spark):
    """Crafted two-community graph (r7 verdict ask #5): two 4-cliques
    joined by one bridge edge.  Deterministic synchronous LPA
    (neighbor-majority, min-label tie-break) must converge each clique
    to its own single label within 4 rounds, bridge notwithstanding —
    and the result is an exact, reproducible label assignment."""
    from datawarehouse_code_spark.operators.graph import label_propagation

    cl_a = [(i, j) for i in (1, 2, 3, 4) for j in (1, 2, 3, 4) if i < j]
    cl_b = [(i, j) for i in (10, 11, 12, 13) for j in (10, 11, 12, 13) if i < j]
    edges = spark.createDataFrame(cl_a + cl_b + [(4, 10)], "a BIGINT, b BIGINT")
    got = {r["node"]: r["label"] for r in label_propagation(edges, n_rounds=4).collect()}
    assert {got[n] for n in (1, 2, 3, 4)} == {1}
    assert {got[n] for n in (10, 11, 12, 13)} == {10}

    # determinism: a second run and a repartitioned input agree exactly
    got2 = {
        r["node"]: r["label"]
        for r in label_propagation(edges.repartition(7), n_rounds=4).collect()
    }
    assert got == got2

    # self-loops are dropped, not counted as neighbor votes
    with_loop = edges.union(spark.createDataFrame([(2, 2)], "a BIGINT, b BIGINT"))
    got3 = {r["node"]: r["label"] for r in label_propagation(with_loop, n_rounds=4).collect()}
    assert got3 == got


def test_weighted_shortest_paths_crafted(spark):
    """Weighted SP must differ from hop-count SP where weights demand
    it: 1-2 direct costs 10, the 1-3-2 detour costs 2; parallel edges
    keep the min weight; truncation at max_rounds is honest; negative
    weights raise."""
    import pytest

    from datawarehouse_code_spark.operators.graph import (
        weighted_shortest_paths,
    )

    edges = spark.createDataFrame(
        [
            (1, 2, 10), (1, 3, 1), (3, 2, 1),
            (2, 4, 3), (2, 4, 7),          # parallel edge: min wins
            (4, 5, 1), (5, 6, 1), (6, 7, 1),
        ],
        "a BIGINT, b BIGINT, w BIGINT",
    )
    seeds = spark.createDataFrame([(1,)], "node BIGINT")
    got = {
        r["node"]: r["dist"]
        for r in weighted_shortest_paths(edges, seeds, max_rounds=10).collect()
    }
    assert got == {1: 0, 3: 1, 2: 2, 4: 5, 5: 6, 6: 7, 7: 8}

    # <=H-edge truncation: with 2 rounds, node 4 is reachable only via
    # the heavy 2-edge route (1-2 direct + 2-4), nodes 5..7 not at all
    got2 = {
        r["node"]: r["dist"]
        for r in weighted_shortest_paths(edges, seeds, max_rounds=2).collect()
    }
    assert got2 == {1: 0, 3: 1, 2: 2, 4: 13}

    with pytest.raises(ValueError, match="negative"):
        weighted_shortest_paths(
            spark.createDataFrame([(1, 2, -1)], "a BIGINT, b BIGINT, w BIGINT"),
            seeds,
        )
