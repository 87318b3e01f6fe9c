"""Scale-mechanics tests: bucketed co-located joins eliminate the
shuffle (the 100 TB escape hatch for big-big joins), the SQL view
surface works, and the O25 skip report counts correctly."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from datawarehouse_code_spark.operators.dimensions import insert_if_not_exists_report
from datawarehouse_code_spark.operators.layout import write_bucketed_table
from datawarehouse_code_spark.sources.catalog import read_table, register_views
from tests.conftest import SF_DIR


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Joining two tables bucketed+sorted on the join key must need no
    Exchange (and no Sort beyond the bucket files): the co-location
    that replaces a multi-TB shuffle at scale."""
    li = read_table(spark, "lineitem", SF_DIR).select("l_orderkey", "l_quantity")
    orders = read_table(spark, "orders", SF_DIR).select("o_orderkey", "o_custkey")
    write_bucketed_table(
        li, "t_li_bucketed", str(tmp_path / "li"), 8, ["l_orderkey"]
    )
    write_bucketed_table(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"), "t_ord_bucketed",
        str(tmp_path / "ord"), 8, ["l_orderkey"],
    )
    try:
        a = spark.table("t_li_bucketed")
        b = spark.table("t_ord_bucketed")
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = a.join(b, "l_orderkey")
            assert joined.count() > 0
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan, "bucketed join still shuffles:\n" + plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
        spark.sql("DROP TABLE IF EXISTS t_ord_bucketed")


def test_register_views_sql_surface(spark):
    """O23: every catalog table is queryable through spark.sql, and the
    cube view (the reference's commented-out VIEW design) works too."""
    from datawarehouse_code_spark.operators.cube import register_cube_view
    from datawarehouse_code_spark.pipeline import build_warehouse

    register_views(spark, SF_DIR)
    row = spark.sql(
        """
        SELECT count(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        """
    ).collect()[0]
    assert row["n"] > 0
    assert spark.sql("SELECT count(*) AS n FROM documents").collect()[0]["n"] > 0

    register_cube_view(build_warehouse(spark, SF_DIR).cube)
    agg = spark.sql(
        "SELECT count(DISTINCT country_name) AS n FROM cube_view"
    ).collect()[0]
    assert agg["n"] > 0


def test_read_jdbc_builder_reaches_load(spark):
    """JDBC connector parity: no driver jar ships in this container, so
    the reader must at least assemble its options and fail at load time
    (not before) with a driver/connection error."""
    import pytest

    from datawarehouse_code_spark.sources.catalog import read_jdbc

    with pytest.raises(Exception):
        read_jdbc(
            spark,
            "jdbc:mysql://localhost:1/nope",
            "transportation.companies",
            partition_column="id",
            num_partitions=4,
            upper_bound=1000,
        )


def test_cube_broadcast_hints_only_on_bounded_dims(spark):
    """Regression guard for the round-1 scale defect: the cube plan
    must carry a broadcast HINT only for the domain-bounded nation
    table — never for part or customer, which scale with data size (a
    hint overrides AQE's size check and OOMs at 100 TB)."""
    from datawarehouse_code_spark.pipeline import build_warehouse

    cube = build_warehouse(spark, SF_DIR).cube
    logical = cube._jdf.queryExecution().analyzed().toString()
    # exactly one hint, on nation; the loop below also rejects any hint
    # whose subtree holds customer- or part-derived columns
    hints = logical.split("ResolvedHint")[1:]
    assert len(hints) == 1 and "n_nationkey" in hints[0][:400], logical
    for marker in ("c_mktsegment", "p_retailprice"):
        for block in logical.split("ResolvedHint")[1:]:
            # each hint block's immediate subtree (up to the next join)
            head = block[:400]
            if marker in head and "Deduplicate" not in head:
                raise AssertionError(
                    f"broadcast hint covers a scaling table ({marker}):\n{head}"
                )


def test_filter_pushdown_reaches_scan(spark):
    """The predicate query's filters must appear as PushedFilters on
    the parquet scan, and the scan schema must be pruned."""
    from datawarehouse_code_spark.plans.registry import SUPPLEMENTARY_QUERIES

    df = SUPPLEMENTARY_QUERIES["filter_orders_predicates"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "GreaterThan" in plan or "In(o_orderstatus" in plan


def test_salted_join_equals_plain_join(spark):
    """Salting must not change join semantics: on a deliberately
    skewed dataset (90% of rows share one key) the salted inner join
    returns exactly the plain join's rows."""
    from datawarehouse_code_spark.operators.joins import salted_join

    skewed = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 2000, 2).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("attr")
    )
    plain = skewed.join(dim, ["k"]).select("k", "payload", "attr")
    salted = salted_join(skewed, dim, ["k"]).select("k", "payload", "attr")
    assert salted.count() == plain.count() > 0
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_insert_report_counts(spark, tmp_path):
    """O25: the skip report rides the job that writes the delta and is
    read after it.  An empty incoming frame — whichever way it is
    empty — must still fire the Observation with zeros, or reading the
    report would block the load forever."""
    orders = read_table(spark, "orders", SF_DIR)
    existing = orders.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey")
    delta, report = insert_if_not_exists_report(orders, existing, ["o_orderkey"])
    assert delta.columns == orders.columns
    delta.write.parquet(str(tmp_path / "delta"))
    rep = report.get
    assert rep["incoming"] == orders.count()
    assert rep["inserted"] == spark.read.parquet(str(tmp_path / "delta")).count()
    assert rep["skipped"] == rep["incoming"] - rep["inserted"]
    assert rep["skipped"] > 0

    keys = existing.limit(3)
    for i, empty in enumerate((
        spark.range(0, 0).select(F.col("id").alias("o_orderkey")),
        spark.createDataFrame([], "o_orderkey long"),
        orders.select("o_orderkey").where(F.lit(False)),
    )):
        delta, report = insert_if_not_exists_report(empty, keys, ["o_orderkey"])
        delta.write.parquet(str(tmp_path / f"empty{i}"))
        # `get` blocks until the metrics arrive: read it on a thread
        # with a deadline so a report that never fires fails, not hangs
        got: list = []
        reader = threading.Thread(target=lambda: got.append(report.get), daemon=True)
        reader.start()
        reader.join(60)
        assert got == [{"incoming": 0, "inserted": 0, "skipped": 0}], i


def test_fact_write_sorted_row_groups_for_skipping(spark, tmp_path):
    """write_fact sorts by date_id within task partitions, so parquet
    row groups carry tight, ordered date_id min/max stats (row-group
    skipping for date-ranged scans — the secondary-index stand-in).
    Verified on the footer: within every written file, row-group
    date_id ranges must not overlap."""
    import glob

    import pyarrow.parquet as pq

    from datawarehouse_code_spark.operators.fact import build_fact, write_fact
    from datawarehouse_code_spark.sources.catalog import read_table

    fact = build_fact(
        read_table(spark, "lineitem", SF_DIR),
        read_table(spark, "orders", SF_DIR),
        read_table(spark, "customer", SF_DIR),
    )
    out = str(tmp_path / "fact_sorted")
    write_fact(fact, out)

    checked_files = checked_groups = 0
    for f in glob.glob(f"{out}/year=*/*.parquet"):
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["date_id"]
        ranges = []
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            assert st is not None and st.has_min_max
            ranges.append((st.min, st.max))
        for (lo, hi) in ranges:
            assert lo <= hi
        for (_, hi), (lo2, _) in zip(ranges, ranges[1:]):
            assert hi <= lo2  # sorted file -> non-overlapping groups
        checked_files += 1
        checked_groups += len(ranges)
    assert checked_files > 0 and checked_groups >= checked_files


def test_asof_join_single_shuffle_no_join_node(spark):
    """The as-of join must compile to ONE exchange + window sort and
    ZERO join operators — the union+window shape; a range-join rewrite
    (BroadcastNestedLoop / cartesian) would be a scale regression."""
    from datawarehouse_code_spark.plans.registry import QUERIES

    df = QUERIES["asof_join_events"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_vocab_topk_compiles_to_take_ordered(spark):
    """Vocabulary top-k must be TakeOrderedAndProject (per-partition
    top-k + k-row merge), not a global Sort of the whole vocabulary.
    (vocab_top_terms is a text_corpus_suite constituent since round
    10, so it resolves from the supplementary registry.)"""
    from datawarehouse_code_spark.plans.registry import SUPPLEMENTARY_QUERIES

    df = SUPPLEMENTARY_QUERIES["vocab_top_terms"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_contamination_check_broadcasts_holdout(spark):
    """The decontamination sweep must broadcast the holdout shingle
    set — a shuffle join of the train side on shingle hash would be
    the 100 TB regression this shape exists to avoid."""
    from datawarehouse_code_spark.plans.registry import QUERIES

    df = QUERIES["contamination_check"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scd2_merge_is_single_join(spark):
    """scd2_merge must execute exactly ONE join: the naive
    filter-per-branch + union shape re-runs the join subtree once per
    branch (4 physical joins), which quadruples the dominant cost at
    scale.  The explode-based merge keeps it to one."""
    import re

    from datawarehouse_code_spark.plans.registry import QUERIES

    df = QUERIES["dim_client_scd2"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_joins = len(re.findall(r"Join", plan))
    assert n_joins == 1, f"expected 1 physical join, found {n_joins}"
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_repetition_stats_single_doc_shuffle(spark):
    """repetition_stats' only hash shuffle must be the pre-explode
    whole-doc repartition: HashPartitioning(doc_id) satisfies both the
    (doc_id, term) count and the per-doc rollup, so no aggregation may
    introduce another exchange over the exploded term rows."""
    import re

    from datawarehouse_code_spark.operators.text import repetition_stats
    from datawarehouse_code_spark.sources.catalog import read_table

    df = repetition_stats(read_table(spark, "documents", SF_DIR))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("REPARTITION_BY_COL") == 1
    # at most one more exchange (the tiny narrow branch when AQE does
    # not broadcast it); never a second shuffle of term rows
    assert len(re.findall(r"Exchange hashpartitioning", final)) <= 2
    # everything ABOVE the explode (both aggregations and the final
    # rollup) must sit in the same stage: no exchange between the
    # aggregate chain's top and the Generate node
    agg_chain = final.split("Generate explode", 1)[0]
    agg_chain = agg_chain.rsplit("BroadcastHashJoin", 1)[-1]
    assert "Exchange" not in agg_chain, (
        "aggregation above the explode re-shuffled term rows:\n" + final
    )


def test_read_json_audited_quarantines_corrupt_lines(spark, tmp_path):
    """Malformed JSON lines must land in the quarantine frame with
    their raw text; well-formed lines parse into the declared schema;
    nothing is silently dropped."""
    from datawarehouse_code_spark.sources.catalog import read_json_audited

    p = tmp_path / "nation.jsonl"
    p.write_text(
        '{"n_nationkey": 1, "n_name": "A", "n_regionkey": 0}\n'
        '{"n_nationkey": broken!!\n'
        '{"n_nationkey": 2, "n_name": "B", "n_regionkey": 1}\n'
    )
    with read_json_audited(spark, str(p), "nation") as (good, bad):
        assert {r.n_nationkey for r in good.collect()} == {1, 2}
        bad_rows = bad.collect()
        assert len(bad_rows) == 1 and "broken" in bad_rows[0].raw_line
        assert "_corrupt_record" not in good.columns


def test_planted_skew_bot_user_end_to_end(spark):
    """Planted 100x-skew stress (r7 verdict ask #8): one bot user with
    100x the events of every normal user, pushed through the three
    skew-sensitive paths at test scale —
    (a) sessionize stays correct on the hot key (windowed lag, one
        fat-but-correct partition);
    (b) funnel_counts' per-user cap fires LOUDLY naming the bot, and
        with an adequate cap the counts are exactly right;
    (c) salted_join equals the plain join row-for-row while measurably
        spreading the hot key across shuffle partitions (the plain
        join concentrates the bot in exactly one partition).
    AQE skew-join stays enabled in the session (get_spark sets
    adaptive.enabled) as the runtime backstop for joins not routed
    through salted_join."""
    import pytest
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.joins import salted_join
    from datawarehouse_code_spark.operators.sessions import (
        funnel_counts,
        sessionize,
    )

    n_users, per_user, bot_events = 200, 20, 2000
    base = "timestamp'2024-01-01 00:00:00'"
    steps = ["A", "B", "C"]
    normal = spark.range(n_users * per_user).select(
        (F.col("id") % n_users + 1).alias("user_id"),
        F.expr(f"{base} + make_interval(0,0,0,0,0,40,0) * CAST(id DIV {n_users} AS INT)").alias("ts"),
        F.element_at(
            F.array(*[F.lit(s) for s in steps]),
            (F.expr(f"id DIV {n_users}") % 3 + 1).cast("int"),
        ).alias("event_type"),
    )
    bot = spark.range(bot_events).select(
        F.lit(0).cast("bigint").alias("user_id"),
        F.expr(f"{base} + make_interval(0,0,0,0,0,1,0) * CAST(id AS INT)").alias("ts"),
        F.element_at(
            F.array(*[F.lit(s) for s in steps]), (F.col("id") % 3 + 1).cast("int")
        ).alias("event_type"),
    )
    events = normal.unionByName(bot).localCheckpoint()

    # (a) sessionize: 40-min gaps split every normal event into its own
    # session; the bot's 1-min cadence is one long session
    sess = (
        sessionize(events, ["user_id"], "ts", gap="30 minutes")
        .groupBy("user_id")
        .agg(F.max("session_seq").alias("n_sessions"))
    )
    got = {r["user_id"]: r["n_sessions"] for r in sess.collect()}
    assert got[0] == 1
    assert all(got[u] == per_user for u in range(1, n_users + 1))

    # (b) cap fires naming the bot; adequate cap gives exact counts
    with pytest.raises(Exception, match="max_events_per_user=100.*user=0"):
        funnel_counts(events, steps, max_events_per_user=100).collect()
    counts = {
        r["step"]: r["n_users"]
        for r in funnel_counts(
            events, steps, max_events_per_user=bot_events
        ).collect()
    }
    # every user (bot included) runs A->B->C in order (steps are
    # reported by 1-based ordinal)
    assert counts == {1: n_users + 1, 2: n_users + 1, 3: n_users + 1}

    # (c) salted join == plain join, with the hot key actually spread.
    # Broadcast and AQE coalescing are disabled for the MEASUREMENT
    # only: at test scale the 201-row dim broadcasts (no exchange at
    # all — partition ids would reflect the scan, not the join) and
    # AQE would re-coalesce the tiny shuffle; at 100 TB with a
    # too-big-to-broadcast dim this shuffle shape is the real one.
    dim = spark.range(n_users + 1).select(
        F.col("id").alias("user_id"), (F.col("id") * 7).alias("segment")
    )
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plain = events.join(dim, "user_id")
        salted = salted_join(events, dim, ["user_id"], n_salts=8)
        key = lambda r: (r["user_id"], r["ts"], r["event_type"], r["segment"])
        assert sorted(map(key, salted.collect())) == sorted(map(key, plain.collect()))

        def bot_partitions(df):
            return (
                df.withColumn("p", F.spark_partition_id())
                .filter(F.col("user_id") == 0)
                .select("p")
                .distinct()
                .count()
            )

        spread_plain = bot_partitions(plain)
        spread_salted = bot_partitions(salted)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    assert spread_plain == 1, "plain hash join must concentrate the hot key"
    assert spread_salted >= 4, (
        f"salting must spread the hot key (got {spread_salted} partitions)"
    )
