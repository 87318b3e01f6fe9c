"""Sessionization tests: boundary semantics, agreement with
F.session_window, and the single-exchange plan shape."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from datawarehouse_code_spark.operators.sessions import sessionize
from datawarehouse_code_spark.plans.audit import executed_plan
from datawarehouse_code_spark.sources.catalog import read_table
from tests.conftest import SF_DIR


def _mk(spark, rows):
    return spark.createDataFrame(
        [(u, datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s), i)
         for i, (u, s) in enumerate(rows)],
        "user_id int, ts timestamp, event_id int",
    )


def test_sessionize_gap_boundary_is_strict(spark):
    """A gap EXACTLY equal to the threshold stays in the session (the
    break needs ts > prev + gap), matching session_window's
    inactivity-gap semantics; one microsecond more splits."""
    df = _mk(spark, [(1, 0), (1, 60), (1, 120)])
    out = sessionize(df, ["user_id"], "ts", gap="60 seconds", tiebreak="event_id")
    seqs = [r.session_seq for r in out.orderBy("event_id").collect()]
    assert seqs == [1, 1, 1]

    df2 = _mk(spark, [(1, 0), (1, 61)])
    out2 = sessionize(df2, ["user_id"], "ts", gap="60 seconds", tiebreak="event_id")
    assert [r.session_seq for r in out2.orderBy("event_id").collect()] == [1, 2]


def test_sessionize_per_key_independent(spark):
    """Session counters restart per key; simultaneous events in
    different keys never interact."""
    df = _mk(spark, [(1, 0), (2, 0), (1, 10_000), (2, 5)])
    out = sessionize(df, ["user_id"], "ts", gap="30 minutes", tiebreak="event_id")
    got = {(r.user_id, r.event_id): r.session_seq for r in out.collect()}
    assert got == {(1, 0): 1, (2, 1): 1, (1, 2): 2, (2, 3): 1}


def test_sessionize_agrees_with_session_window(spark):
    """Ground-truth cross-check on the real fixture: the number of
    sessions per user from explicit sessionization equals the number
    of session_window rows per user, and total event counts match."""
    events = read_table(spark, "events", SF_DIR)
    labelled = sessionize(events, ["user_id"], "ts", gap="30 minutes",
                          tiebreak="event_id")
    a = (
        labelled.groupBy("user_id")
        .agg(F.max("session_seq").alias("n_sessions"),
             F.count(F.lit(1)).alias("n_events"))
    )
    b = (
        events.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"),
             F.sum("n").alias("n_events"))
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_sessionize_single_exchange_plan(spark):
    """Scale audit: the lag pass and the running-sum pass share one
    (partitionBy, orderBy) spec, so the executed plan must contain
    exactly ONE Exchange (the shuffle on user_id) — a second one
    would double the dominant cost at 100 TB."""
    events = read_table(spark, "events", SF_DIR)
    out = sessionize(events, ["user_id"], "ts", gap="30 minutes",
                     tiebreak="event_id")
    out.count()
    plan = executed_plan(out)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 exchange, got {n_exchanges}:\n{plan}"


def test_funnel_strict_order_and_ties(spark):
    """Crafted users: (1) completes in order; (2) has the steps out of
    order — no progress past step 1; (3) step-2 event at the SAME
    timestamp as step 1 — strict ordering refuses it; (4) repeats
    step 1 then converts late — the lag is measured from the FIRST
    step-1 event (greedy-earliest)."""
    from datawarehouse_code_spark.operators.sessions import funnel_counts

    t = "2024-01-01 00:00:{:02d}"
    rows = [
        (1, t.format(1), "a"), (1, t.format(2), "b"),
        (2, t.format(1), "b"), (2, t.format(2), "a"),
        (3, t.format(5), "a"), (3, t.format(5), "b"),
        (4, t.format(10), "a"), (4, t.format(20), "a"), (4, t.format(30), "b"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string, event_type string")
    df = df.withColumn("ts", df["ts"].cast("timestamp"))
    out = {
        r["step"]: (r["n_users"], r["sum_lag_us"])
        for r in funnel_counts(df, ["a", "b"]).collect()
    }
    # users 1,2,3,4 all performed 'a'; only 1 and 4 converted
    assert out[1] == (4, 0)
    # user 1: 1s lag; user 4: 20s from FIRST 'a' (t=10) to 'b' (t=30)
    assert out[2] == (2, 1_000_000 + 20_000_000)


def test_funnel_unordered_input_and_empty_steps(spark):
    """The fold sorts each user's events itself (shuffled input is
    fine), and a step nobody reaches emits no row."""
    import pytest

    from datawarehouse_code_spark.operators.sessions import funnel_counts

    rows = [
        (1, "2024-01-01 00:00:03", "c"),
        (1, "2024-01-01 00:00:01", "a"),
        (1, "2024-01-01 00:00:02", "b"),
        (2, "2024-01-01 00:00:09", "a"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string, event_type string")
    df = df.withColumn("ts", df["ts"].cast("timestamp")).repartition(3)
    out = {
        r["step"]: r["n_users"]
        for r in funnel_counts(df, ["a", "b", "c", "d"]).collect()
    }
    assert out == {1: 2, 2: 1, 3: 1}  # no step-4 row at all

    with pytest.raises(ValueError):
        funnel_counts(df, ["a"])
    with pytest.raises(ValueError):
        funnel_counts(df, ["a", "a"])


def test_cohort_retention_crafted(spark):
    """Two cohorts with known activity: cell counts, cohort sizes,
    week-granularity truncation, and the invalid-period guard."""
    import pytest

    from datawarehouse_code_spark.operators.sessions import cohort_retention

    rows = [
        # user 1 first seen Mon Jan 1 week, active again 2 weeks later
        (1, "2024-01-03 10:00:00"), (1, "2024-01-17 09:00:00"),
        # user 2 same cohort, only the first week (two events, one cell)
        (2, "2024-01-05 10:00:00"), (2, "2024-01-06 11:00:00"),
        # user 3 next-week cohort
        (3, "2024-01-10 10:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = {
        (str(r["cohort_week"]), r["week_offset"]): (r["n_users"], r["n_cohort"])
        for r in cohort_retention(df).collect()
    }
    assert got == {
        ("2024-01-01 00:00:00", 0): (2, 2),
        ("2024-01-01 00:00:00", 2): (1, 2),
        ("2024-01-08 00:00:00", 0): (1, 1),
    }
    with pytest.raises(ValueError, match="period"):
        cohort_retention(df, period="fortnight")


def test_funnel_horizon_retry_and_boundary(spark):
    """The defining horizon cases: (1) the EARLIEST entry's window
    expires but a later entry completes — the later entry is
    credited (per-entry retry, the reason this is not a flag on
    funnel_counts); (2) a step landing EXACTLY at entry+T counts
    (inclusive deadline); (3) one microsecond past T does not;
    (4) same-timestamp progress is still refused (strict order)."""
    from datawarehouse_code_spark.operators.sessions import (
        funnel_counts_horizon,
    )

    rows = [
        # user 1: entry t=0 can't reach the click at t=120 within 60s,
        # but entry t=100 can — and then the purchase at t=150
        (1, "2024-01-01 00:00:00", "view"),
        (1, "2024-01-01 00:01:40", "view"),     # t=100
        (1, "2024-01-01 00:02:00", "click"),    # t=120
        (1, "2024-01-01 00:02:30", "purchase"), # t=150
        # user 2: click exactly at entry + 60s (inclusive boundary)
        (2, "2024-01-01 00:00:00", "view"),
        (2, "2024-01-01 00:01:00", "click"),
        # user 3: click at entry + 60s + 1us (just outside)
        (3, "2024-01-01 00:00:00", "view"),
        (3, "2024-01-01 00:01:00.000001", "click"),
        # user 4: click at the same timestamp as the view
        (4, "2024-01-01 00:00:05", "view"),
        (4, "2024-01-01 00:00:05", "click"),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["step"]: (r["n_users"], r["sum_lag_us"])
        for r in funnel_counts_horizon(
            df, ["view", "click", "purchase"], "60 seconds"
        ).collect()
    }
    assert out[1] == (4, 0)
    # step 2: user 1 (20s from the CREDITED entry t=100) + user 2 (60s)
    assert out[2] == (2, 20_000_000 + 60_000_000)
    # step 3: user 1 only, 50s from the credited entry
    assert out[3] == (1, 50_000_000)


def test_funnel_horizon_unbounded_equals_strict(spark):
    """Differential on the real fixture: with a horizon longer than
    the data span, per-entry retry must reduce to greedy-earliest
    (the earliest entry dominates every later one when no deadline
    can expire), so the output equals funnel_counts row-for-row —
    including the lag sums (ties credit the earliest entry)."""
    from datawarehouse_code_spark.operators.sessions import (
        funnel_counts,
        funnel_counts_horizon,
    )

    events = read_table(spark, "events", SF_DIR)
    steps = ["view", "click", "signup"]
    strict = funnel_counts(events, steps)
    horizon = funnel_counts_horizon(events, steps, "3650 days")
    assert strict.exceptAll(horizon).count() == 0
    assert horizon.exceptAll(strict).count() == 0


def test_funnel_user_cap_raises_naming_user(spark):
    """A planted bot user past max_events_per_user must fail the job
    LOUDLY with the user named — not build the array (the 100 TB
    failure mode is an unattributable executor OOM)."""
    import pytest

    from datawarehouse_code_spark.operators.sessions import funnel_counts

    rows = [(1, f"2024-01-01 00:{m:02d}:{s:02d}", "a")
            for m in range(5) for s in range(60)]  # 300 events: the bot
    rows += [(2, "2024-01-01 00:00:01", "a"), (2, "2024-01-01 00:00:02", "b")]
    df = spark.createDataFrame(
        rows, "user_id int, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    with pytest.raises(Exception, match="max_events_per_user=100.*user=1"):
        funnel_counts(df, ["a", "b"], max_events_per_user=100).collect()

    # under the cap the result is identical to the unguarded run
    ok = funnel_counts(df, ["a", "b"], max_events_per_user=1000)
    assert {r["step"]: r["n_users"] for r in ok.collect()} == {1: 2, 2: 1}


def test_funnel_cap_keeps_single_exchange(spark):
    """The cap's window partitions on the same key the groupBy hashes
    on, so the guarded plan still has exactly ONE exchange — the
    guard must not add a second shuffle at 100 TB."""
    from datawarehouse_code_spark.operators.sessions import funnel_counts

    events = read_table(spark, "events", SF_DIR)
    out = funnel_counts(
        events, ["view", "click", "purchase"], max_events_per_user=10**6
    )
    out.count()
    plan = executed_plan(out)
    n = plan.count("Exchange hashpartitioning")
    # one exchange for the per-user pass + the final tiny rollup on
    # step ordinals (<= k rows) — the user-keyed data moves ONCE
    assert n <= 2, f"expected <=2 exchanges, got {n}:\n{plan}"


def test_cohort_month_boundary_jan31(spark):
    """Month grain: a Jan-31 first-seen user active Feb-1 and Mar-31
    lands in offsets 0, 1, 2 — the fixed-divisor datediff trick
    would misbin these (31-day and 60-day gaps), months_between on
    truncated months cannot."""
    from datawarehouse_code_spark.operators.sessions import cohort_retention

    rows = [
        (1, "2024-01-31 23:59:59"),
        (1, "2024-02-01 00:00:01"),
        (1, "2024-03-31 12:00:00"),
        (2, "2024-02-29 10:00:00"),  # leap-day cohort
        (2, "2024-03-01 10:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    got = {
        (str(r["cohort_week"]), r["week_offset"]): (r["n_users"], r["n_cohort"])
        for r in cohort_retention(df, period="month").collect()
    }
    assert got == {
        ("2024-01-01 00:00:00", 0): (1, 1),
        ("2024-01-01 00:00:00", 1): (1, 1),
        ("2024-01-01 00:00:00", 2): (1, 1),
        ("2024-02-01 00:00:00", 0): (1, 1),
        ("2024-02-01 00:00:00", 1): (1, 1),
    }


def test_event_transitions_crafted(spark):
    """Known journey: a->b twice, b->a once, b->c once for user 1;
    user 2 contributes one a->b.  Shares are integer basis points of
    the prev type's outgoing edges; cross-user boundaries contribute
    nothing."""
    from datawarehouse_code_spark.operators.sessions import event_transitions

    rows = [
        (1, "2024-01-01 00:00:01", 1, "a"), (1, "2024-01-01 00:00:02", 2, "b"),
        (1, "2024-01-01 00:00:03", 3, "a"), (1, "2024-01-01 00:00:04", 4, "b"),
        (1, "2024-01-01 00:00:05", 5, "c"),
        (2, "2024-01-01 00:00:01", 6, "b"), (2, "2024-01-01 00:00:02", 7, "a"),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts string, event_id int, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got = {
        (r["prev_type"], r["next_type"]): (r["n_transitions"], r["p_bp"])
        for r in event_transitions(df, tiebreak="event_id").collect()
    }
    assert got == {
        ("a", "b"): (2, 10000),         # a's only outgoing edge type
        ("b", "a"): (2, 6666),          # 2 of b's 3 outgoing
        ("b", "c"): (1, 3333),
    }
