"""Structured Streaming ≡ batch equivalence for the time-window plans.

The batch queries (plans/streaming_queries.py) and the streaming jobs
(streaming/jobs.py) share their aggregation expressions; this proves
the streaming wrapper produces the identical result set.
"""

from __future__ import annotations

import shutil

from datawarehouse_code_spark.plans.streaming_queries import (
    _events_session_window,
    _events_tumbling_10min,
)
from datawarehouse_code_spark.streaming.jobs import (
    read_events_stream,
    run_to_memory,
    session_counts_stream,
    tumbling_counts_stream,
)
from tests.conftest import SF_DIR, seeded_raster


def _stream_dir(tmp_path):
    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-0.parquet")
    return str(d)


def test_tumbling_stream_equals_batch(spark, tmp_path):
    events = read_events_stream(spark, _stream_dir(tmp_path))
    run_to_memory(tumbling_counts_stream(events), "t_tumbling")
    got = sorted(spark.table("t_tumbling").collect())
    want = sorted(_events_tumbling_10min(spark, SF_DIR).collect())
    assert got == want
    assert len(got) > 0


def test_session_stream_equals_batch(spark, tmp_path):
    events = read_events_stream(spark, _stream_dir(tmp_path))
    run_to_memory(session_counts_stream(events), "t_session")
    got = sorted(spark.table("t_session").collect())
    want = sorted(_events_session_window(spark, SF_DIR).collect())
    assert got == want
    assert len(got) > 0


def test_watermark_drops_late_and_updates_stragglers(spark, tmp_path):
    """Out-of-order input through the append-mode tumbling stream:
    a row later than the watermark is dropped, an out-of-order row
    still inside the watermark updates its (open) window, and each
    closed window is emitted exactly once."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "wm"
    d.mkdir()

    def write(name, rows, mtime):
        tbl = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            # raw int64-nanos ts: exercises the legacy nanos ingest
            # path (the fixture itself now stores typed timestamps)
            "ts": pa.array(
                [int(pd.Timestamp(r[1]).value) for r in rows], pa.int64()
            ),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array(["click"] * len(rows)),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        })
        p = str(d / name)
        pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))  # file order == micro-batch order

    # batch 1: two rows in [10:00,10:10) + one at 13:00 that pushes the
    # watermark (1 h delay) to 12:00 once the batch completes
    write("f1.parquet", [(1, "2024-01-01T10:01"), (2, "2024-01-01T10:04"),
                         (3, "2024-01-01T13:00")], 1_700_000_000)
    # batch 2: event 5 is out-of-order (arrives after the 13:00 event)
    # but its window [12:00,12:10) is still open at watermark 12:00, so
    # it must be counted; eviction at this batch's end emits the closed
    # [10:00,10:10) window
    write("f2.parquet", [(5, "2024-01-01T12:05")], 1_700_000_010)
    # batch 3: event 4 is LATE — its window was already evicted (end
    # 10:10 < watermark 12:00), so the row must be dropped, NOT start a
    # fresh [10:00,10:10) group; event 6 advances the watermark to
    # 14:00, closing the 12:xx and 13:xx windows in the final
    # no-data flush batch
    write("f3.parquet", [(4, "2024-01-01T10:03"), (6, "2024-01-01T15:00")],
          1_700_000_020)

    events = read_events_stream(spark, str(d), max_files_per_trigger=1)
    run_to_memory(tumbling_counts_stream(events), "t_wm", output_mode="append")

    rows = spark.table("t_wm").collect()
    got = {str(r["window_start"]): r["n_events"] for r in rows}
    # exactly one row per closed window: if the late event had NOT been
    # dropped it would re-open [10:00,10:10) and emit a second row for
    # it (n_events=1) at the final eviction
    assert len(rows) == len(got)
    assert got["2024-01-01 10:00:00"] == 2
    # straggler event 5 counted in its still-open window
    assert got["2024-01-01 12:00:00"] == 1
    assert got["2024-01-01 13:00:00"] == 1
    # the final window never closes (no later data), so it is not emitted
    assert "2024-01-01 15:00:00" not in got
    # stream termination restored the nanos conf (batch reads fail loudly)
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) in (None, "false")


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a duplicate event_id arriving
    within the watermark is suppressed; after its key is evicted
    (watermark passed), the same id is emitted again — exactly-once
    within the watermark, at-least-once across evictions."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datawarehouse_code_spark.streaming.jobs import dedup_events_stream

    d = tmp_path / "dedup_stream"
    d.mkdir()

    def write(name, rows, mtime):
        tbl = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [int(pd.Timestamp(r[1]).value) for r in rows], pa.int64()
            ),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array(["click"] * len(rows)),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        })
        p = str(d / name)
        pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    write("f1.parquet", [(1, "2024-01-01T10:00"), (2, "2024-01-01T10:05")],
          1_700_000_000)
    # id=1 again, within the watermark -> suppressed; id=3 is new
    write("f2.parquet", [(1, "2024-01-01T10:01"), (3, "2024-01-01T10:07")],
          1_700_000_010)
    # advances the watermark (1 h delay) to 13:00 after this batch
    write("f3.parquet", [(4, "2024-01-01T14:00")], 1_700_000_020)
    # spacer batch: state eviction runs at END of a batch, so ids
    # 1,2,3 (expiry 11:xx < watermark 13:00) are removed at this
    # batch's end, not during the batch that advanced the watermark
    write("f4.parquet", [(5, "2024-01-01T14:01")], 1_700_000_030)
    # id=1 after eviction -> emitted again
    write("f5.parquet", [(1, "2024-01-01T14:05")], 1_700_000_040)

    events = read_events_stream(spark, str(d), max_files_per_trigger=1)
    run_to_memory(dedup_events_stream(events), "t_dedup", output_mode="append")

    rows = spark.table("t_dedup").collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["event_id"], []).append(str(r["ts"]))
    assert sorted(by_id[1]) == ["2024-01-01 10:00:00", "2024-01-01 14:05:00"]
    assert by_id[2] == ["2024-01-01 10:05:00"]
    assert by_id[3] == ["2024-01-01 10:07:00"]
    assert by_id[4] == ["2024-01-01 14:00:00"]
    assert by_id[5] == ["2024-01-01 14:01:00"]
    assert len(rows) == 6


def test_click_attribution_stream_equals_batch(spark, tmp_path):
    """Stream-stream self-join (clicks × views within 10 minutes):
    the joined pairs drained from the stream must equal the batch
    twin's pre-aggregate join (inner matches only — append mode
    emits pairs, not the left-join zero rows)."""
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.sources.catalog import read_table
    from datawarehouse_code_spark.streaming.jobs import click_attribution_stream

    events = read_events_stream(spark, _stream_dir(tmp_path))
    run_to_memory(
        click_attribution_stream(events), "t_click_attr", output_mode="append"
    )
    got = sorted(
        (r.click_id, r.user_id, str(r.click_ts), str(r.view_ts), r.view_value)
        for r in spark.table("t_click_attr").collect()
    )

    batch = read_table(spark, "events", SF_DIR)
    clicks = batch.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    views = batch.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("view_user"),
        F.col("ts").alias("view_ts"),
        F.col("value").alias("view_value"),
    )
    want = sorted(
        (r.click_id, r.user_id, str(r.click_ts), str(r.view_ts), r.view_value)
        for r in clicks.join(
            views,
            (F.col("user_id") == F.col("view_user"))
            & F.col("view_ts").between(
                F.col("click_ts") - F.expr("INTERVAL 10 minutes"), F.col("click_ts")
            ),
            "inner",
        ).collect()
    )
    assert got == want
    assert len(got) > 0


def test_stream_upsert_to_table(spark, tmp_path):
    """foreachBatch + keyed-upsert sink: three forced micro-batches with
    overlapping event_ids land as one keyed table — the latest batch's
    row wins per key, within-batch duplicates collapse by ts first."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datawarehouse_code_spark.streaming.jobs import run_upsert_to_table

    d = tmp_path / "upsert_src"
    d.mkdir()

    def write(name, rows, mtime):
        tbl = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [int(pd.Timestamp(r[1]).value) for r in rows], pa.int64()
            ),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array(["click"] * len(rows)),
            "value": pa.array([float(r[2]) for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        })
        p = str(d / name)
        pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    # batch 1 creates the table; id=1 appears twice (ts collapse -> 10.5)
    write("f1.parquet", [(1, "2024-01-01T10:00", 10.0),
                         (1, "2024-01-01T10:01", 10.5),
                         (2, "2024-01-01T10:02", 20.0)], 1_700_000_000)
    # batch 2 updates id=2, inserts id=3
    write("f2.parquet", [(2, "2024-01-01T11:00", 21.0),
                         (3, "2024-01-01T11:01", 30.0)], 1_700_000_010)
    # batch 3 updates id=1 again
    write("f3.parquet", [(1, "2024-01-01T12:00", 11.0)], 1_700_000_020)

    events = read_events_stream(spark, str(d), max_files_per_trigger=1)
    target = str(tmp_path / "upsert_table")
    run_upsert_to_table(
        events, target, ["event_id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    got = {(r.event_id, r.value) for r in spark.read.parquet(target).collect()}
    assert got == {(1, 11.0), (2, 21.0), (3, 30.0)}


def test_ts_layout_probe_rejects_mixed_zone(tmp_path):
    """A landing zone mixing int64-nanos and typed-timestamp files
    must fail AT STREAM CREATION with a clear error — not on some
    later micro-batch with a parquet type error far from the cause."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from datawarehouse_code_spark.streaming.jobs import _events_ts_layout

    nanos = pa.table({"ts": pa.array([1, 2], pa.int64())})
    typed = pa.table({"ts": pa.array([1, 2], pa.timestamp("us"))})
    pq.write_table(nanos, tmp_path / "a.parquet")
    pq.write_table(typed, tmp_path / "b.parquet")
    with _pytest.raises(ValueError, match="mixed ts layouts"):
        _events_ts_layout(str(tmp_path))

    # homogeneous zones still resolve, through the sampling path too
    (tmp_path / "b.parquet").unlink()
    for i in range(5):
        pq.write_table(nanos, tmp_path / f"n{i}.parquet")
    assert _events_ts_layout(str(tmp_path)) == "nanos"
    assert _events_ts_layout(str(tmp_path), probe_cap=3) == "nanos"


def test_corpus_ingest_stream_equals_batch(spark, tmp_path):
    """run_corpus_ingest drained over multiple micro-batches (in
    doc_id order) must produce exactly the batch pipeline's
    redact -> quality-filter -> exact-dedup output on the same input:
    a cross-batch exact duplicate is dropped, a PII doc lands
    redacted, a junk doc fails the quality gate, and a checkpoint
    replay changes nothing."""
    import os
    import time

    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.text import (
        exact_dedup,
        normalized_text,
        quality_filter,
        redact_pii,
    )
    from datawarehouse_code_spark.sources.catalog import read_table
    from datawarehouse_code_spark.streaming.jobs import run_corpus_ingest
    from tests.conftest import SF_DIR

    docs = read_table(spark, "documents", SF_DIR).orderBy("doc_id").cache()
    first_text = docs.filter(F.col("doc_id") == docs.agg(F.min("doc_id")).collect()[0][0]) \
        .select("text", "lang", "source").collect()[0]
    pii_text = (
        "the quick brown fox jumps over a lazy dog while the old miller "
        "grinds wheat in a stone mill near the river and the children play "
        "in the warm sand all day long write to ingest@example.com today"
    )
    planted = spark.createDataFrame(
        [
            # cross-batch exact duplicate of the first doc (later id)
            (900001, first_text.text, first_text.lang, first_text.source,
             len(first_text.text)),
            # unique PII doc (passes quality, must land redacted)
            (900002, pii_text, "en", "web", len(pii_text)),
            # junk doc: fails the quality gate (too few words)
            (900003, "!!! ???", "en", "web", 7),
        ],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )

    # land three files in doc_id order with strictly increasing mtimes
    # (the file stream source orders batches by modification time)
    land = tmp_path / "landing"
    land.mkdir()
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    parts = [
        docs.filter(F.col("doc_id") <= cut1),
        docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)),
        docs.filter(F.col("doc_id") > cut2).unionByName(planted),
    ]
    now = time.time() - 600
    for i, p in enumerate(parts):
        f = land / f"batch-{i}.parquet"
        p.toPandas().to_parquet(f, index=False)
        os.utime(f, (now + 60 * i, now + 60 * i))

    target = str(tmp_path / "corpus_table")
    stream = (
        spark.readStream.schema(
            "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    run_corpus_ingest(stream, target, checkpoint_dir=str(tmp_path / "ckpt"))

    # batch reference over the identical input, via the BATCH operators
    all_docs = docs.unionByName(planted)
    redacted = redact_pii(all_docs, keep_cols=True)
    swapped = (
        redacted.withColumn("text", F.col("redacted_text"))
        .withColumn("n_chars", F.length("text"))
        .drop("redacted_text", "n_email", "n_ip", "n_phone")
    )
    filtered = quality_filter(swapped)
    keep = exact_dedup(filtered).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    ref = filtered.join(keep, "doc_id", "left_semi").withColumn(
        "content_hash", F.md5(normalized_text(F.col("text")))
    )

    got = {
        (r.doc_id, r.text, r.content_hash)
        for r in spark.read.parquet(target).collect()
    }
    want = {(r.doc_id, r.text, r.content_hash) for r in ref.collect()}
    assert got == want and len(got) > 0
    assert not any(d == 900001 for d, _, _ in got)   # duplicate dropped
    assert not any(d == 900003 for d, _, _ in got)   # junk filtered
    pii_rows = [t for d, t, _ in got if d == 900002]
    assert pii_rows and "[EMAIL]" in pii_rows[0]     # redacted before landing
    assert "ingest@example.com" not in pii_rows[0]

    # checkpoint replay: re-running the drained stream is a no-op
    stream2 = (
        spark.readStream.schema(
            "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    run_corpus_ingest(stream2, target, checkpoint_dir=str(tmp_path / "ckpt"))
    again = {
        (r.doc_id, r.text, r.content_hash)
        for r in spark.read.parquet(target).collect()
    }
    assert again == want
    docs.unpersist()


def test_rollup_maintenance_replay_idempotent(spark, tmp_path):
    """apply_rollup_batch: two batches accumulate; replaying the last
    batch (same id, as a crashed foreachBatch would) changes nothing;
    a stale id is skipped; the final table equals the one-shot
    aggregate.  Then the stream wrapper over two files lands the same
    table."""
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.rollup import aggregate_delta
    from datawarehouse_code_spark.sources.catalog import read_table
    from datawarehouse_code_spark.streaming.jobs import (
        apply_rollup_batch,
        read_rollup,
        run_rollup_maintenance,
    )

    orders = read_table(spark, "orders", SF_DIR).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    keys, sums = ["o_orderstatus"], ["cents"]
    b0 = orders.filter(F.col("o_orderkey") % 2 == 0)
    b1 = orders.filter(F.col("o_orderkey") % 2 == 1)
    path = str(tmp_path / "rollup")

    assert apply_rollup_batch(b0, 0, path, keys, sums) is True
    assert apply_rollup_batch(b1, 1, path, keys, sums) is True
    after = sorted(tuple(r) for r in read_rollup(spark, path).collect())

    # crashed-foreachBatch replay: same id -> skipped, table unchanged
    assert apply_rollup_batch(b1, 1, path, keys, sums) is False
    assert apply_rollup_batch(b0, 0, path, keys, sums) is False
    assert sorted(tuple(r) for r in read_rollup(spark, path).collect()) == after

    want = sorted(
        tuple(r) for r in aggregate_delta(orders, keys, sums).collect()
    )
    assert after == want

    # empty batch: skipped without claiming an id
    assert apply_rollup_batch(orders.limit(0), 2, path, keys, sums) is False

    # the stream wrapper ends at the same table
    src = str(tmp_path / "orders_split")
    b0.coalesce(1).write.mode("overwrite").parquet(src)
    b1.coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(
            "o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    spath = str(tmp_path / "rollup_stream")
    run_rollup_maintenance(
        stream, spath, keys, sums,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    assert sorted(tuple(r) for r in read_rollup(spark, spath).collect()) == want


def test_ivf_ingest_stream_equals_batch_extend(spark, tmp_path):
    """run_ivf_ingest (r7 verdict ask #6): streaming increments over a
    bootstrapped IVF index must land EXACTLY the assignments the batch
    extend path produces (same frozen centroids => identical buckets),
    re-delivering the same files must append nothing, and
    forget_vectors stays exact on stream-extended vectors."""
    import os
    import time

    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        extend_ivf_index,
        forget_vectors,
        query_ivf_index,
    )
    from datawarehouse_code_spark.sources.catalog import read_table
    from datawarehouse_code_spark.streaming.jobs import run_ivf_ingest
    from tests.conftest import SF_DIR

    emb = read_table(spark, "embeddings", SF_DIR).cache()
    base = emb.filter(F.col("vec_id") % 4 != 0)
    inc1 = emb.filter((F.col("vec_id") % 4 == 0) & (F.col("vec_id") % 8 == 0))
    inc2 = emb.filter((F.col("vec_id") % 4 == 0) & (F.col("vec_id") % 8 != 0))

    # batch reference: bootstrap + two batch extends
    ref_path = str(tmp_path / "ivf_ref")
    build_ivf_index(base, ref_path)
    extend_ivf_index(inc1, ref_path)
    extend_ivf_index(inc2, ref_path)

    # streamed variant: same bootstrap, increments arrive as files
    got_path = str(tmp_path / "ivf_stream")
    build_ivf_index(base, got_path)
    land = tmp_path / "landing"
    land.mkdir()
    now = time.time() - 600
    for i, part in enumerate([inc1, inc2]):
        f = land / f"inc-{i}.parquet"
        part.toPandas().to_parquet(f, index=False)
        os.utime(f, (now + 60 * i, now + 60 * i))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    run_ivf_ingest(stream, got_path, checkpoint_dir=str(tmp_path / "ckpt"))

    def assignments(p):
        return {
            (r["cent_id"], r["vec_id"])
            for r in spark.read.parquet(f"{p}/assignments")
            .select("cent_id", "vec_id")
            .collect()
        }

    want = assignments(ref_path)
    assert assignments(got_path) == want and len(want) == emb.count()

    # identical query answers through the probed-partition path
    q = emb.filter(F.col("vec_id") < 10)
    a = sorted(tuple(r) for r in query_ivf_index(spark, ref_path, q).collect())
    b = sorted(tuple(r) for r in query_ivf_index(spark, got_path, q).collect())
    assert a == b and a

    # re-delivery without the checkpoint: the anti-join guard makes the
    # whole drain a no-op
    stream2 = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    run_ivf_ingest(stream2, got_path, checkpoint_dir=str(tmp_path / "ckpt2"))
    assert assignments(got_path) == want

    # RTBF still exact on a stream-extended vector
    victim = inc2.select(F.min("vec_id")).collect()[0][0]
    report = forget_vectors(
        spark, got_path, spark.createDataFrame([(victim,)], "vec_id bigint")
    )
    assert report["n_removed"] == 1
    left = {v for _c, v in assignments(got_path)}
    assert victim not in left and len(left) == emb.count() - 1
    emb.unpersist()


def test_ivf_ingest_recovers_half_bootstrapped_index(spark, tmp_path):
    """Review fix (r8): a crash between build_ivf_index's centroids
    write and its assignments write must not wedge the stream — the
    next drain detects the missing assignments, rolls the stale
    centroids back, and re-bootstraps."""
    import os
    import shutil
    import time

    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )
    from datawarehouse_code_spark.sources.catalog import read_table
    from datawarehouse_code_spark.streaming.jobs import run_ivf_ingest
    from tests.conftest import SF_DIR

    emb = read_table(spark, "embeddings", SF_DIR)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path)
    shutil.rmtree(f"{path}/assignments")  # the simulated crash state

    land = tmp_path / "landing"
    land.mkdir()
    f = land / "all.parquet"
    emb.toPandas().to_parquet(f, index=False)
    os.utime(f, (time.time() - 60, time.time() - 60))
    stream = spark.readStream.schema(emb.schema).parquet(str(land))
    run_ivf_ingest(stream, path, checkpoint_dir=str(tmp_path / "ckpt"))

    n = spark.read.parquet(f"{path}/assignments").count()
    assert n == emb.count()
    q = emb.filter(F.col("vec_id") < 5)
    assert query_ivf_index(spark, path, q).count() > 0


def test_sketch_rollup_maintenance_stream_and_replay(spark, tmp_path):
    """Streaming sketch maintenance (r8): a drained HLL rollup must
    estimate exactly what the one-shot batch sketch does (set-
    semantics merge), a re-delivered drain must change nothing (the
    versioned _last_batch protocol), apply_sketch_batch skips replayed
    ids for every family, and a KLL rollup maintained batch-by-batch
    lands its median within the documented rank bound."""
    import os
    import time

    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.rollup import (
        distinct_estimate,
        distinct_sketch_delta,
        quantile_estimate,
        theta_sketch_delta,
    )
    from datawarehouse_code_spark.sources.catalog import read_table
    from datawarehouse_code_spark.streaming.jobs import (
        apply_sketch_batch,
        read_rollup,
        run_sketch_maintenance,
    )
    from tests.conftest import SF_DIR

    ev = read_table(spark, "events", SF_DIR).select("event_type", "user_id").cache()
    land = tmp_path / "landing"
    land.mkdir()
    now = time.time() - 600
    for i in range(3):
        f = land / f"b{i}.parquet"
        ev.filter(F.col("user_id") % 3 == i).toPandas().to_parquet(f, index=False)
        os.utime(f, (now + 60 * i, now + 60 * i))

    stream = (
        spark.readStream.schema("event_type string, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    hll_path = str(tmp_path / "hll_rollup")
    run_sketch_maintenance(
        stream, hll_path, ["event_type"], "user_id",
        kind="hll", checkpoint_dir=str(tmp_path / "ck1"),
    )
    got = sorted(
        tuple(r)
        for r in distinct_estimate(
            read_rollup(spark, hll_path), ["event_type"]
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in distinct_estimate(
            distinct_sketch_delta(ev, ["event_type"], "user_id"), ["event_type"]
        ).collect()
    )
    assert got == want and got

    # re-delivery with a FRESH checkpoint: batch ids restart at 0,
    # every batch skips on id <= committed — state unchanged
    stream2 = (
        spark.readStream.schema("event_type string, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    run_sketch_maintenance(
        stream2, hll_path, ["event_type"], "user_id",
        kind="hll", checkpoint_dir=str(tmp_path / "ck2"),
    )
    assert sorted(
        tuple(r)
        for r in distinct_estimate(
            read_rollup(spark, hll_path), ["event_type"]
        ).collect()
    ) == want

    # per-family replay skip at the apply level (theta here)
    theta_path = str(tmp_path / "theta_rollup")
    assert apply_sketch_batch(ev, 0, theta_path, ["event_type"], "user_id", "theta")
    snap = sorted(
        tuple(r)
        for r in read_rollup(spark, theta_path)
        .select("event_type", F.theta_sketch_estimate("theta_sketch"))
        .collect()
    )
    assert not apply_sketch_batch(ev, 0, theta_path, ["event_type"], "user_id", "theta")
    assert sorted(
        tuple(r)
        for r in read_rollup(spark, theta_path)
        .select("event_type", F.theta_sketch_estimate("theta_sketch"))
        .collect()
    ) == snap

    # KLL maintained over two batches: median rank within 5%
    kll_path = str(tmp_path / "kll_rollup")
    halves = [ev.filter(F.col("user_id") % 2 == i) for i in range(2)]
    assert apply_sketch_batch(halves[0], 0, kll_path, ["event_type"], "user_id", "kll")
    assert apply_sketch_batch(halves[1], 1, kll_path, ["event_type"], "user_id", "kll")
    est = quantile_estimate(read_rollup(spark, kll_path), ["event_type"], [5000])
    import bisect

    exact = {
        r["event_type"]: r["vs"]
        for r in ev.groupBy("event_type")
        .agg(F.sort_array(F.collect_list("user_id")).alias("vs"))
        .collect()
    }
    for r in est.collect():
        vs = exact[r["event_type"]]
        assert r["n"] == len(vs)
        lo = bisect.bisect_left(vs, r["value_est"])
        hi = bisect.bisect_right(vs, r["value_est"])
        assert abs((lo + hi) / 2 / len(vs) - 0.5) < 0.05

    import pytest

    with pytest.raises(ValueError, match="unknown sketch kind"):
        apply_sketch_batch(ev, 0, kll_path, ["event_type"], "user_id", "bogus")
    ev.unpersist()


def test_cms_sketch_maintenance_batches_equal_oneshot(spark, tmp_path):
    """The CMS family through the exactly-once sketch maintenance
    protocol: two applied batches must leave a rollup whose sketch is
    BYTE-IDENTICAL to the one-shot batch sketch (counter addition is
    exact, and the versioned-merge path goes through
    merge_cms_rollup), and a replayed batch id is skipped without
    touching the state."""
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.rollup import cms_sketch_delta
    from datawarehouse_code_spark.sources.catalog import read_table
    from datawarehouse_code_spark.streaming.jobs import (
        apply_sketch_batch,
        read_rollup,
    )
    from tests.conftest import SF_DIR

    ev = read_table(spark, "events", SF_DIR).select("event_type", "user_id")
    path = str(tmp_path / "cms_rollup")
    halves = [ev.filter(F.col("user_id") % 2 == i) for i in range(2)]
    assert apply_sketch_batch(halves[0], 0, path, ["event_type"], "user_id", "cms")
    assert apply_sketch_batch(halves[1], 1, path, ["event_type"], "user_id", "cms")
    got = {
        r["event_type"]: bytes(r["cms_sketch"])
        for r in read_rollup(spark, path).collect()
    }
    want = {
        r["event_type"]: bytes(r["cms_sketch"])
        for r in cms_sketch_delta(ev, ["event_type"], "user_id").collect()
    }
    assert got == want and len(got) >= 3
    # replayed batch id: no-op, state unchanged
    assert not apply_sketch_batch(
        halves[1], 1, path, ["event_type"], "user_id", "cms"
    )
    after = {
        r["event_type"]: bytes(r["cms_sketch"])
        for r in read_rollup(spark, path).collect()
    }
    assert after == want


def test_ivf_ingest_semantic_dedup_gate(spark, tmp_path):
    """run_ivf_ingest(dedup_threshold_f6=...): the bootstrap corpus is
    batch-internally deduplicated, later batches drop vectors that
    duplicate an INDEXED vector (probe) or a smaller-id BATCH-mate
    (frozen-centroid pass), genuinely novel vectors append, and a
    re-delivered drain changes nothing."""
    import os
    import time

    from pyspark.sql import functions as F

    from datawarehouse_code_spark.sources.catalog import read_table
    from datawarehouse_code_spark.streaming.jobs import run_ivf_ingest
    from tests.conftest import SF_DIR

    emb = read_table(spark, "embeddings", SF_DIR).select("vec_id", "embedding")
    base_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    neg = F.transform("embedding", lambda x: -x)

    boot = emb.unionByName(
        emb.filter(F.col("vec_id") == 1)
        .select((F.lit(501)).alias("vec_id"), "embedding")
    )
    batch = (
        emb.filter(F.col("vec_id") == 2)
        .select(F.lit(502).alias("vec_id"), "embedding")          # index dup
        .unionByName(
            emb.filter(F.col("vec_id") == 30)
            .select(F.lit(600).alias("vec_id"), neg.alias("embedding"))  # novel
        )
        .unionByName(
            emb.filter(F.col("vec_id") == 31)
            .select(F.lit(603).alias("vec_id"), neg.alias("embedding"))  # novel,
        )
        .unionByName(
            emb.filter(F.col("vec_id") == 31)
            .select(F.lit(604).alias("vec_id"), neg.alias("embedding"))  # twin of 603
        )
    )
    land = tmp_path / "landing"
    land.mkdir()
    now = time.time() - 600
    for i, part in enumerate([boot, batch]):
        f = land / f"b{i}.parquet"
        part.toPandas().to_parquet(f, index=False)
        os.utime(f, (now + 60 * i, now + 60 * i))

    path = str(tmp_path / "ivf_dedup")
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    run_ivf_ingest(
        stream, path, checkpoint_dir=str(tmp_path / "ck"),
        n_centroids=4, dedup_threshold_f6=990_000,
    )

    def indexed():
        return {
            r["vec_id"]
            for r in spark.read.parquet(f"{path}/assignments")
            .select("vec_id").collect()
        }

    want = base_ids | {600, 603}
    assert indexed() == want  # 501/502/604 rejected as semantic dups

    # fresh-checkpoint re-delivery: nothing changes (rejects stay
    # rejected deterministically; survivors anti-join out)
    stream2 = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    run_ivf_ingest(
        stream2, path, checkpoint_dir=str(tmp_path / "ck2"),
        n_centroids=4, dedup_threshold_f6=990_000,
    )
    assert indexed() == want


def test_cdc_index_ingest_stream_equals_batch(spark, tmp_path):
    """run_cdc_index_ingest drained over three micro-batches must
    leave exactly the batch build's uncapped index rows (chunking is
    a pure per-doc function, so batching cannot change it); a
    checkpoint replay with no new files changes nothing; and the
    maintained index serves cdc_matches_incremental through the
    query-time hot-chunk cap."""
    import os
    import time

    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.text import (
        cap_hot_chunks,
        cdc_matches_incremental,
        content_defined_chunks,
    )
    from datawarehouse_code_spark.sources.catalog import read_table
    from datawarehouse_code_spark.streaming.jobs import run_cdc_index_ingest
    from tests.conftest import SF_DIR

    docs = read_table(spark, "documents", SF_DIR).cache()
    land = tmp_path / "landing"
    land.mkdir()
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    cut1, cut2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]
    parts = [
        docs.filter(F.col("doc_id") <= cut1),
        docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2)),
        docs.filter(F.col("doc_id") > cut2),
    ]
    now = time.time() - 600
    for i, p in enumerate(parts):
        f = land / f"batch-{i}.parquet"
        p.toPandas().to_parquet(f, index=False)
        os.utime(f, (now + 60 * i, now + 60 * i))

    schema = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    index_path = str(tmp_path / "cdc_index")

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land))
        )

    run_cdc_index_ingest(stream(), index_path,
                         checkpoint_dir=str(tmp_path / "ckpt"))

    expected = sorted(
        tuple(r)
        for r in content_defined_chunks(docs)
        .filter(F.col("n_words") >= 3)
        .select("doc_id", "chunk_idx", "chunk_hash", "n_words")
        .collect()
    )
    got = sorted(tuple(r) for r in spark.read.parquet(index_path).collect())
    assert got == expected and len(got) > 0

    # checkpoint replay: draining again with no new files is a no-op
    run_cdc_index_ingest(stream(), index_path,
                         checkpoint_dir=str(tmp_path / "ckpt"))
    again = sorted(tuple(r) for r in spark.read.parquet(index_path).collect())
    assert again == got

    # the maintained index serves increments through the read-time cap
    inc = spark.createDataFrame(
        [(990001, docs.orderBy("doc_id").first().text)], ["doc_id", "text"]
    )
    idx = cap_hot_chunks(
        spark.read.parquet(index_path).select("doc_id", "chunk_hash", "n_words"),
        5000,
    )
    matches = cdc_matches_incremental(inc, idx).collect()
    assert any(r["d_new"] == 990001 for r in matches)


def test_cdc_gated_ingest_rejects_shifted_boilerplate(spark, tmp_path):
    """The CDC ingest gate: a later batch's doc that repeats an
    already-ingested doc's paragraphs AT A DIFFERENT OFFSET is
    rejected (never lands in the table or the index); within one
    batch the smaller-id copy survives; unique docs pass; a replay
    with no new files changes nothing."""
    import os
    import time

    from tests.test_cdc_winnowing import _vocab

    from datawarehouse_code_spark.streaming.jobs import run_cdc_gated_ingest

    b = _vocab(6, True)
    n = _vocab(60, False)
    # two complete >=3-word interior chunks: [b0 n0 n1 n2] and
    # [b1 n3 n4 n5], both CLOSED by the trailing boundary b4 so their
    # hashes are context-independent (a chunk ending at the block's
    # edge would bleed into each doc's own following text)
    boiler = [b[0], n[0], n[1], n[2], b[1], n[3], n[4], n[5], b[4]]
    pairblk = [b[2], n[6], n[7], n[8], b[3], n[9], n[16], n[17], b[5]]
    batch1 = [
        (1, " ".join(n[10:14] + boiler + n[14:16])),
        (2, " ".join(n[20:32])),
    ]
    batch2 = [
        # shifted copy of doc 1's boilerplate -> cross-batch reject
        (10, " ".join(n[33:42] + boiler)),
        # intra-batch pair sharing boilerplate: 11 survives, 12 drops
        (11, " ".join(n[42:44] + pairblk)),
        (12, " ".join(pairblk + n[44:46])),
        # unique doc -> ingested
        (13, " ".join(f"u13w{i}" for i in range(14))),
    ]
    land = tmp_path / "landing"
    land.mkdir()
    now = time.time() - 600
    for i, rows in enumerate((batch1, batch2)):
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        f = land / f"b{i}.parquet"
        df.toPandas().to_parquet(f, index=False)
        os.utime(f, (now + 60 * i, now + 60 * i))

    target = str(tmp_path / "corpus")
    index = str(tmp_path / "cdc_idx")

    def stream():
        return (
            spark.readStream.schema("doc_id BIGINT, text STRING")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land))
        )

    run_cdc_gated_ingest(stream(), target, index,
                         checkpoint_dir=str(tmp_path / "ck"))
    ingested = sorted(
        r.doc_id for r in spark.read.parquet(target).collect()
    )
    assert ingested == [1, 2, 11, 13], ingested
    idx_docs = set(r.doc_id for r in spark.read.parquet(index).collect())
    # rejects never enter the index; survivors with >=3-word chunks do
    assert {1, 11} <= idx_docs and not ({10, 12} & idx_docs), idx_docs

    # replay with no new files: a no-op for both tables
    before = (ingested, sorted(idx_docs))
    run_cdc_gated_ingest(stream(), target, index,
                         checkpoint_dir=str(tmp_path / "ck"))
    after = (
        sorted(r.doc_id for r in spark.read.parquet(target).collect()),
        sorted(set(r.doc_id for r in spark.read.parquet(index).collect())),
    )
    assert after == before


def _media_landing(tmp_path, rows):
    """Write media rows into a landing dir as 3 time-ordered parquet
    files (the file-stream micro-batch fixture shape)."""
    import os
    import time

    import pandas as pd

    land = tmp_path / "media_landing"
    land.mkdir()
    now = time.time() - 600
    per = max(1, len(rows) // 3)
    for i in range(3):
        chunk = rows[i * per: (i + 1) * per] if i < 2 else rows[2 * per:]
        if not chunk:
            continue
        f = land / f"batch-{i}.parquet"
        pd.DataFrame(
            chunk, columns=["media_id", "media_type", "content"]
        ).to_parquet(f, index=False)
        os.utime(f, (now + 60 * i, now + 60 * i))
    return land


def test_dhash_index_ingest_stream_equals_batch(spark, tmp_path):
    """run_dhash_index_ingest drained over three micro-batches leaves
    exactly the batch build's rows (hashing is a pure per-payload
    function); a checkpoint replay is a no-op; and the maintained
    index serves dhash_matches_incremental."""
    from datawarehouse_code_spark.operators.media_dedup import (
        build_dhash_index,
        dhash_matches_incremental,
    )
    from datawarehouse_code_spark.streaming.jobs import run_dhash_index_ingest

    rows = [(i, "image/pgm", seeded_raster(i)) for i in range(9)]
    land = _media_landing(tmp_path, rows)
    schema = "media_id BIGINT, media_type STRING, content BINARY"
    index_path = str(tmp_path / "dhash_index")

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land))
        )

    run_dhash_index_ingest(stream(), index_path,
                           checkpoint_dir=str(tmp_path / "ckpt"))

    media = spark.createDataFrame(rows, schema)
    expected = sorted(map(tuple, build_dhash_index(media).collect()))
    got = sorted(map(tuple, spark.read.parquet(index_path).collect()))
    assert got == expected and len(got) == 9 * 4

    run_dhash_index_ingest(stream(), index_path,
                           checkpoint_dir=str(tmp_path / "ckpt"))
    assert sorted(map(tuple, spark.read.parquet(index_path).collect())) == got

    copy = spark.createDataFrame([(99, "image/pgm", seeded_raster(3))], schema)
    matches = dhash_matches_incremental(
        copy, spark.read.parquet(index_path)
    ).collect()
    assert any(r["d_corpus"] == 3 and r["hamming"] == 0 for r in matches)


def test_video_fp_ingest_stream_equals_batch(spark, tmp_path):
    """The generic media-index maintenance loop through the video
    builder: stream-drained index equals the batch build and serves
    increment matching through the read-time cap."""
    from datawarehouse_code_spark.operators.media_dedup import (  # noqa: F401
        dhash_bits,
    )
    from datawarehouse_code_spark.operators.video_dedup import (
        build_video_fp_index,
        encode_video,
        video_matches_incremental,
    )
    from datawarehouse_code_spark.streaming.jobs import run_video_fp_ingest

    base = [seeded_raster(s) for s in range(8)]
    rows = [
        (1, "video/vid0", encode_video(base)),
        (2, "video/vid0", encode_video([seeded_raster(s) for s in range(10, 16)])),
        (3, "video/vid0", encode_video([seeded_raster(s) for s in range(20, 26)])),
    ]
    land = _media_landing(tmp_path, rows)
    schema = "media_id BIGINT, media_type STRING, content BINARY"
    index_path = str(tmp_path / "video_index")

    run_video_fp_ingest(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land)),
        index_path,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )

    media = spark.createDataFrame(rows, schema)
    expected = sorted(map(tuple, build_video_fp_index(media).collect()))
    assert (
        sorted(map(tuple, spark.read.parquet(index_path).collect()))
        == expected
    )

    inc = spark.createDataFrame(
        [(30, "video/vid0", encode_video(base[2:]))], schema
    )
    got = {
        (r["d_new"], r["d_corpus"]): r["n_shared"]
        for r in video_matches_incremental(
            inc, spark.read.parquet(index_path)
        ).collect()
    }
    assert got == {(30, 1): 5}


def test_index_ingest_redelivery_with_zero_rows_sheds_stale(
    spark, tmp_path
):
    """r13 ADVICE fix: a re-delivered item whose revision produces
    ZERO index rows (all chunks below min_words; a video too short to
    gram) must still shed its OLD index rows — the delete is keyed on
    the batch's id set, not the filtered update rows' ('fewer rows'
    includes zero)."""
    import os
    import time

    import pandas as pd

    from datawarehouse_code_spark.operators.video_dedup import encode_video
    from datawarehouse_code_spark.streaming.jobs import (
        run_cdc_index_ingest,
        run_video_fp_ingest,
    )

    # --- CDC chunk index: doc 7 re-delivered as a 2-word text ---
    land = tmp_path / "docs_landing"
    land.mkdir()
    long_text = " ".join(f"w{i}" for i in range(60))
    now = time.time() - 600
    for i, rows in enumerate(
        [[(7, long_text), (8, long_text + " tail words here")],
         [(7, "too short")]]
    ):
        f = land / f"batch-{i}.parquet"
        pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
            f, index=False
        )
        os.utime(f, (now + 60 * i, now + 60 * i))
    index_path = str(tmp_path / "cdc_index")
    run_cdc_index_ingest(
        spark.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land)),
        index_path,
        checkpoint_dir=str(tmp_path / "ckpt_docs"),
    )
    idx = spark.read.parquet(index_path)
    assert idx.filter("doc_id = 7").count() == 0, (
        "doc 7's first-delivery chunks must be gone after the "
        "below-min_words re-delivery"
    )
    assert idx.filter("doc_id = 8").count() > 0

    # --- video fp index: id 5 re-delivered as a 1-frame video ---
    vland = tmp_path / "video_landing"
    vland.mkdir()
    vrows = [
        [(5, "video/vid0", encode_video([seeded_raster(s) for s in range(6)])),
         (6, "video/vid0", encode_video([seeded_raster(s) for s in range(10, 16)]))],
        [(5, "video/vid0", encode_video([seeded_raster(0)]))],  # 1 frame: no gram
    ]
    for i, rows in enumerate(vrows):
        f = vland / f"batch-{i}.parquet"
        pd.DataFrame(
            rows, columns=["media_id", "media_type", "content"]
        ).to_parquet(f, index=False)
        os.utime(f, (now + 60 * i, now + 60 * i))
    vindex = str(tmp_path / "video_index")
    run_video_fp_ingest(
        spark.readStream.schema(
            "media_id BIGINT, media_type STRING, content BINARY"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(vland)),
        vindex,
        checkpoint_dir=str(tmp_path / "ckpt_video"),
    )
    vidx = spark.read.parquet(vindex)
    assert vidx.filter("media_id = 5").count() == 0, (
        "media 5's first-delivery grams must be gone after the "
        "1-frame re-delivery"
    )
    assert vidx.filter("media_id = 6").count() > 0


def test_dhash_gated_ingest_rejects_perceptual_copies(spark, tmp_path):
    """The perceptual ingest gate: a later batch's brightness-shifted
    copy of an already-ingested image is rejected (cross-batch,
    through the maintained index); within one batch the larger id of
    a near-dup pair is rejected; unrelated images survive; and a
    checkpoint replay changes nothing."""
    from datawarehouse_code_spark.streaming.jobs import run_dhash_gated_ingest

    # batch 0: ids 1, 2 (2 is a batch-internal copy of 1 -> rejected);
    # batch 1: 10 = brightness-shifted copy of 1 (cross-batch reject),
    #          11 = unrelated survivor
    rows0 = [
        (1, "image/pgm", seeded_raster(3)),
        (2, "image/pgm", seeded_raster(3, shift=5)),
    ]
    rows1 = [
        (10, "image/pgm", seeded_raster(3, shift=9)),
        (11, "image/pgm", seeded_raster(17)),
    ]
    import os
    import time

    import pandas as pd

    land = tmp_path / "gate_landing"
    land.mkdir()
    now = time.time() - 600
    for i, chunk in enumerate([rows0, rows1]):
        f = land / f"batch-{i}.parquet"
        pd.DataFrame(
            chunk, columns=["media_id", "media_type", "content"]
        ).to_parquet(f, index=False)
        os.utime(f, (now + 60 * i, now + 60 * i))

    schema = "media_id BIGINT, media_type STRING, content BINARY"
    target, index = str(tmp_path / "media"), str(tmp_path / "gate_idx")

    def stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land))
        )

    run_dhash_gated_ingest(stream(), target, index,
                           checkpoint_dir=str(tmp_path / "gate_ckpt"))
    ingested = {r["media_id"] for r in spark.read.parquet(target).collect()}
    assert ingested == {1, 11}
    idx_ids = {r["media_id"] for r in spark.read.parquet(index).collect()}
    assert idx_ids == {1, 11}

    # replay: no new files, nothing changes
    run_dhash_gated_ingest(stream(), target, index,
                           checkpoint_dir=str(tmp_path / "gate_ckpt"))
    assert {r["media_id"] for r in spark.read.parquet(target).collect()} \
        == {1, 11}


def test_audio_and_video_gated_ingest_reject_shifted_copies(spark, tmp_path):
    """The fingerprint-shaped gates: a later batch's hop-shifted audio
    copy and frame-trimmed video copy are rejected through their
    maintained indexes; unrelated items survive; replays are no-ops."""
    import os
    import time

    import pandas as pd

    from datawarehouse_code_spark.operators.multimodal import (
        encode_pcm_wav,
    )
    from datawarehouse_code_spark.operators.video_dedup import encode_video
    from datawarehouse_code_spark.streaming.jobs import (
        run_audio_gated_ingest,
        run_video_gated_ingest,
    )

    def wav(samples):
        return encode_pcm_wav(8000, [samples])

    def base_samples(seed, n=120):
        return [((seed * 37 + i * 211) % 4096) - 2048 for i in range(n)]

    schema = "media_id BIGINT, media_type STRING, content BINARY"

    def land(name, batches):
        d = tmp_path / name
        d.mkdir()
        now = time.time() - 600
        for i, rows in enumerate(batches):
            f = d / f"batch-{i}.parquet"
            pd.DataFrame(
                rows, columns=["media_id", "media_type", "content"]
            ).to_parquet(f, index=False)
            os.utime(f, (now + 60 * i, now + 60 * i))
        return d

    # audio: 10 = two-hop-shifted copy of 1 (reject), 11 unrelated
    a = base_samples(1, 144)
    a_land = land("a_land", [
        [(1, "audio/wav", wav(a[:120]))],
        [(10, "audio/wav", wav(a[16:136])),
         (11, "audio/wav", wav(base_samples(99, 120)))],
    ])
    at, ai = str(tmp_path / "a_tbl"), str(tmp_path / "a_idx")
    run_audio_gated_ingest(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(a_land)),
        at, ai, checkpoint_dir=str(tmp_path / "a_ckpt"),
    )
    assert {r["media_id"] for r in spark.read.parquet(at).collect()} == {1, 11}

    # video: 20 = two-frame-trimmed copy of 2 (reject), 21 unrelated
    vb = [seeded_raster(s) for s in range(8)]
    v_land = land("v_land", [
        [(2, "video/vid0", encode_video(vb))],
        [(20, "video/vid0", encode_video(vb[2:])),
         (21, "video/vid0", encode_video([seeded_raster(s) for s in range(10, 16)]))],
    ])
    vt, vi = str(tmp_path / "v_tbl"), str(tmp_path / "v_idx")
    run_video_gated_ingest(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(v_land)),
        vt, vi, checkpoint_dir=str(tmp_path / "v_ckpt"),
    )
    assert {r["media_id"] for r in spark.read.parquet(vt).collect()} == {2, 21}
    # index only carries survivors
    assert {r["media_id"] for r in spark.read.parquet(vi).collect()} == {2, 21}


def test_fp_gate_min_shared_is_per_pair(spark, tmp_path):
    """min_shared is a PAIR threshold (r12 review fix): a new clip
    sharing exactly ONE gram with each of TWO unrelated corpus items
    must survive at min_shared=2 — counting shares across partners
    would wrongly reject it."""
    import os
    import time

    import pandas as pd

    from datawarehouse_code_spark.operators.media_dedup import (
        audio_fingerprints,
    )
    from datawarehouse_code_spark.operators.multimodal import encode_pcm_wav
    from datawarehouse_code_spark.streaming.jobs import run_audio_gated_ingest

    def wav(samples):
        return encode_pcm_wav(8000, [samples])

    def base(seed, n=120):
        return [((seed * 37 + i * 211) % 4096) - 2048 for i in range(n)]

    a, b = base(1), base(2)
    junk = base(77, 40)
    # C's windows 0-3 replay A's first gram; windows 5-8 replay B's
    # first gram; the straddling windows differ -> exactly one shared
    # gram per partner
    c = a[:40] + b[:40] + junk

    schema = "media_id BIGINT, media_type STRING, content BINARY"
    # sanity: the construction really gives one shared gram per pair
    fps = {
        r["media_id"]: set()
        for r in [{"media_id": i} for i in (1, 2, 3)]
    }
    for r in audio_fingerprints(
        spark.createDataFrame(
            [(1, "audio/wav", wav(a)), (2, "audio/wav", wav(b)),
             (3, "audio/wav", wav(c))], schema
        )
    ).collect():
        fps[r["media_id"]].add(r["fp"])
    assert len(fps[3] & fps[1]) == 1 and len(fps[3] & fps[2]) == 1

    land = tmp_path / "pp_land"
    land.mkdir()
    now = time.time() - 600
    for i, rows in enumerate([
        [(1, "audio/wav", wav(a)), (2, "audio/wav", wav(b))],
        [(3, "audio/wav", wav(c))],
    ]):
        f = land / f"batch-{i}.parquet"
        pd.DataFrame(
            rows, columns=["media_id", "media_type", "content"]
        ).to_parquet(f, index=False)
        os.utime(f, (now + 60 * i, now + 60 * i))

    t, idx = str(tmp_path / "pp_tbl"), str(tmp_path / "pp_idx")
    run_audio_gated_ingest(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(str(land)),
        t, idx, checkpoint_dir=str(tmp_path / "pp_ckpt"), min_shared=2,
    )
    assert {r["media_id"] for r in spark.read.parquet(t).collect()} \
        == {1, 2, 3}


def test_multimodal_gated_ingest_mixed_feed(spark, tmp_path):
    """The unified gate: one mixed (text/image/audio/video) feed,
    one loop — each modality's near-dup copy from a later batch is
    rejected through its own index, an undecodable payload and an
    unrouteable media_type are quarantined, unrelated items are
    accepted, the ledger attributes every decision to its modality,
    and a checkpoint replay changes nothing."""
    import os
    import time

    import pandas as pd

    from tests.test_cdc_winnowing import _vocab

    from datawarehouse_code_spark.operators.multimodal import (
        encode_pcm_wav,
    )
    from datawarehouse_code_spark.operators.video_dedup import encode_video
    from datawarehouse_code_spark.streaming.jobs import (
        run_multimodal_gated_ingest,
    )

    def base_samples(seed, n=144):
        return [((seed * 37 + i * 211) % 4096) - 2048 for i in range(n)]

    b, n = _vocab(6, True), _vocab(60, False)
    boiler = [b[0], n[0], n[1], n[2], b[1], n[3], n[4], n[5], b[4]]
    audio = base_samples(1)
    vframes = [seeded_raster(s) for s in range(40, 48)]

    batch0 = [
        (1, "text/plain", None, " ".join(n[10:14] + boiler + n[14:16])),
        (2, "image/pgm", seeded_raster(3), None),
        (3, "audio/wav", encode_pcm_wav(8000, [audio[:120]]), None),
        (4, "video/vid0", encode_video(vframes), None),
    ]
    batch1 = [
        # per-modality near-dup copies -> rejected THROUGH the indexes
        (10, "text/plain", None, " ".join(n[33:42] + boiler)),
        (11, "image/pgm", seeded_raster(3, shift=9), None),
        (12, "audio/wav", encode_pcm_wav(8000, [audio[16:136]]), None),
        (13, "video/vid0", encode_video(vframes[2:]), None),
        # quarantine lanes: undecodable image (truncated raster),
        # unrouteable type, NULL media_type (must not bypass the gate)
        (14, "image/pgm", seeded_raster(3)[:-20], None),
        (15, "application/pdf", b"%PDF-", None),
        (18, None, b"mystery", None),
        # unrelated survivors, one per modality
        (16, "text/plain", None,
         " ".join(f"u16w{i}" for i in range(14))),
        (17, "image/pgm", seeded_raster(19), None),
    ]

    land = tmp_path / "mm_landing"
    land.mkdir()
    now = time.time() - 600
    for i, rows in enumerate((batch0, batch1)):
        f = land / f"b{i}.parquet"
        pd.DataFrame(
            rows, columns=["media_id", "media_type", "content", "text"]
        ).to_parquet(f, index=False)
        os.utime(f, (now + 60 * i, now + 60 * i))

    schema = (
        "media_id BIGINT, media_type STRING, content BINARY, text STRING"
    )
    paths = {
        k: str(tmp_path / k)
        for k in ("target", "ledger", "t_idx", "i_idx", "a_idx", "v_idx")
    }

    def run():
        run_multimodal_gated_ingest(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(str(land)),
            paths["target"], paths["ledger"],
            paths["t_idx"], paths["i_idx"], paths["a_idx"], paths["v_idx"],
            checkpoint_dir=str(tmp_path / "mm_ckpt"),
        )

    run()
    got = {r["media_id"] for r in spark.read.parquet(paths["target"]).collect()}
    assert got == {1, 2, 3, 4, 16, 17}, got

    ledger = {
        r["media_id"]: (r["modality"], r["status"])
        for r in spark.read.parquet(paths["ledger"]).collect()
    }
    assert ledger == {
        1: ("text", "accepted"), 2: ("image", "accepted"),
        3: ("audio", "accepted"), 4: ("video", "accepted"),
        10: ("text", "rejected"), 11: ("image", "rejected"),
        12: ("audio", "rejected"), 13: ("video", "rejected"),
        14: ("image", "quarantined"), 15: ("application", "quarantined"),
        16: ("text", "accepted"), 17: ("image", "accepted"),
        18: ("unknown", "quarantined"),
    }, ledger
    reasons = {
        r["media_id"]: r["reason"]
        for r in spark.read.parquet(paths["ledger"]).collect()
    }
    assert reasons[10] == "near-duplicate"
    assert "ValueError" in reasons[14]
    assert "unsupported media_type" in reasons[15]
    assert reasons[18] == "unsupported media_type: NULL"

    # rejects and quarantines never reach any index (the text index
    # keeps the CDC tooling's native doc_id key)
    assert {
        r["doc_id"] for r in spark.read.parquet(paths["t_idx"]).collect()
    } <= {1, 16}
    assert {
        r["media_id"] for r in spark.read.parquet(paths["i_idx"]).collect()
    } == {2, 17}
    assert {
        r["media_id"] for r in spark.read.parquet(paths["a_idx"]).collect()
    } == {3}
    assert {
        r["media_id"] for r in spark.read.parquet(paths["v_idx"]).collect()
    } == {4}

    # replay with no new files: every table byte-stable
    before = (sorted(got), sorted(ledger.items()))
    run()
    after = (
        sorted(r["media_id"]
               for r in spark.read.parquet(paths["target"]).collect()),
        sorted(
            (r["media_id"], (r["modality"], r["status"]))
            for r in spark.read.parquet(paths["ledger"]).collect()
        ),
    )
    assert after == before


def test_multimodal_gate_phash_and_cross_modal_legs(spark, tmp_path):
    """The widened unified gate: a 2x box-downscaled image whose
    dHash drifts 8 bits (invisible to the dHash leg) is rejected by
    the pHash leg; a still image equal to a frame of an ingested
    video is rejected by the reverse cross-modal leg; a video whose
    frames are all corpus images is rejected at coverage grain while
    a video with only ONE known frame is accepted; indexes hold
    survivors only; a checkpoint replay changes nothing."""
    import hashlib
    import os
    import time

    import numpy as np
    import pandas as pd

    from datawarehouse_code_spark.operators.media_dedup import dhash_bits
    from datawarehouse_code_spark.operators.multimodal import encode_gray_pgm
    from datawarehouse_code_spark.operators.video_dedup import encode_video
    from datawarehouse_code_spark.streaming.jobs import (
        run_multimodal_gated_ingest,
    )

    def base32(salt):
        return np.frombuffer(
            b"".join(
                hashlib.sha256(f"{salt}:{i}".encode()).digest()
                for i in range(32)
            ),
            dtype=np.uint8,
        ).reshape(32, 32)

    def up2(a):
        return np.repeat(np.repeat(a, 2, axis=0), 2, axis=1)

    b = base32("mmgate-b")
    img_a = encode_gray_pgm(64, 64, up2(b).tobytes())      # the original
    img_b = encode_gray_pgm(32, 32, b.tobytes())           # its 2x downscale
    # the construction this test rests on: the twins drift PAST the
    # dHash gate's radius and land exactly on the pHash
    dh = sum(
        bin(x ^ y).count("1")
        for x, y in zip(
            dhash_bits(64, 64, 1, up2(b).tobytes()),
            dhash_bits(32, 32, 1, b.tobytes()),
        )
    )
    assert dh > 6, dh

    batch0 = [
        (1, "image/pgm", img_a, None),
        (2, "video/vid0", encode_video([seeded_raster(40), seeded_raster(41)]), None),
    ]
    batch1 = [
        (10, "image/pgm", img_b, None),                  # pHash reject
        (11, "image/pgm", seeded_raster(40), None),           # in video 2's frames
        (12, "video/vid0", encode_video([img_a, img_a]), None),  # 2 known
        (13, "video/vid0", encode_video([img_a, seeded_raster(77)]), None),  # 1
        (14, "image/pgm",
         encode_gray_pgm(32, 32, base32("mmgate-u").tobytes()), None),
        # EXACT copy of the ingested original: rejected by the dHash
        # leg AND the pHash leg — must still write ONE ledger row
        (15, "image/pgm", img_a, None),
    ]

    land = tmp_path / "xmm_landing"
    land.mkdir()
    now = time.time() - 600
    for i, rows in enumerate((batch0, batch1)):
        f = land / f"b{i}.parquet"
        pdf = pd.DataFrame(
            rows, columns=["media_id", "media_type", "content", "text"]
        )
        pdf["text"] = pdf["text"].astype("string")  # all-None else INT32
        pdf.to_parquet(f, index=False)
        os.utime(f, (now + 60 * i, now + 60 * i))

    schema = (
        "media_id BIGINT, media_type STRING, content BINARY, text STRING"
    )
    paths = {
        k: str(tmp_path / k)
        for k in ("target", "ledger", "t_idx", "i_idx", "a_idx", "v_idx",
                  "p_idx", "f_idx")
    }

    def run():
        run_multimodal_gated_ingest(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(str(land)),
            paths["target"], paths["ledger"],
            paths["t_idx"], paths["i_idx"], paths["a_idx"], paths["v_idx"],
            checkpoint_dir=str(tmp_path / "xmm_ckpt"),
            image_phash_index_path=paths["p_idx"],
            frame_index_path=paths["f_idx"],
        )

    run()
    ledger_rows = spark.read.parquet(paths["ledger"]).collect()
    ledger = {r["media_id"]: r["status"] for r in ledger_rows}
    assert ledger == {
        1: "accepted", 2: "accepted",
        10: "rejected", 11: "rejected", 12: "rejected",
        13: "accepted", 14: "accepted", 15: "rejected",
    }, ledger
    # the dual-leg reject (dHash AND pHash) writes exactly ONE row
    assert sum(1 for r in ledger_rows if r["media_id"] == 15) == 1

    # survivors only, in every index
    assert {
        r["media_id"] for r in spark.read.parquet(paths["p_idx"]).collect()
    } == {1, 14}
    assert {
        r["media_id"] for r in spark.read.parquet(paths["f_idx"]).collect()
    } == {2, 13}

    before = sorted(ledger.items())
    run()
    assert sorted(
        (r["media_id"], r["status"])
        for r in spark.read.parquet(paths["ledger"]).collect()
    ) == before


def test_phash_and_frame_index_ingest_stream_equals_batch(spark, tmp_path):
    """The two round-13 index maintainers through the shared loop:
    streamed pHash band rows equal the batch build (small images
    contribute nothing), streamed frame rows equal the batch build,
    replays are no-ops, and the maintained frame index serves
    image_video_matches."""
    import hashlib

    import numpy as np

    from datawarehouse_code_spark.operators.media_dedup import (
        build_dhash_index,
        image_dhash,
        image_phash,
    )
    from datawarehouse_code_spark.operators.multimodal import encode_gray_pgm
    from datawarehouse_code_spark.operators.video_dedup import (
        build_frame_dhash_index,
        encode_video,
        image_video_matches,
        video_frame_dhashes,
    )
    from datawarehouse_code_spark.streaming.jobs import (
        run_frame_index_ingest,
        run_phash_index_ingest,
    )

    def big(salt):
        raster = np.frombuffer(
            b"".join(
                hashlib.sha256(f"{salt}:{i}".encode()).digest()
                for i in range(32)
            ),
            dtype=np.uint8,
        )
        return encode_gray_pgm(32, 32, raster.tobytes())

    schema = "media_id BIGINT, media_type STRING, content BINARY"

    # ---- pHash maintainer: two hashable images + one below the grid
    img_rows = [
        (0, "image/pgm", big("pidx-0")),
        (1, "image/pgm", big("pidx-1")),
        (2, "image/pgm", seeded_raster(5)),  # 9x8 -> no pHash rows
    ]
    (tmp_path / "pi").mkdir()
    land_i = _media_landing(tmp_path / "pi", img_rows)
    p_idx = str(tmp_path / "p_idx")

    def istream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(str(land_i))
        )

    run_phash_index_ingest(istream(), p_idx,
                           checkpoint_dir=str(tmp_path / "pckpt"))
    media_i = spark.createDataFrame(img_rows, schema)
    expected = sorted(map(tuple, build_dhash_index(
        None, hashes=image_phash(media_i.filter("media_id <= 1"))
    ).collect()))
    got = sorted(map(tuple, spark.read.parquet(p_idx).collect()))
    assert got == expected and len(got) == 2 * 4
    run_phash_index_ingest(istream(), p_idx,
                           checkpoint_dir=str(tmp_path / "pckpt"))
    assert sorted(map(tuple, spark.read.parquet(p_idx).collect())) == got

    # ---- frame maintainer
    vid_rows = [
        (0, "video/vid0", encode_video([seeded_raster(3), seeded_raster(4)])),
        (1, "video/vid0", encode_video([seeded_raster(8)])),
    ]
    (tmp_path / "fv").mkdir()
    land_v = _media_landing(tmp_path / "fv", vid_rows)
    f_idx = str(tmp_path / "f_idx")

    def vstream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(str(land_v))
        )

    run_frame_index_ingest(vstream(), f_idx,
                           checkpoint_dir=str(tmp_path / "fckpt"))
    media_v = spark.createDataFrame(vid_rows, schema)
    expected_f = sorted(map(tuple, build_frame_dhash_index(
        video_frame_dhashes(media_v)
    ).collect()))
    got_f = sorted(map(tuple, spark.read.parquet(f_idx).collect()))
    assert got_f == expected_f and len(got_f) == 3 * 4
    run_frame_index_ingest(vstream(), f_idx,
                           checkpoint_dir=str(tmp_path / "fckpt"))
    assert sorted(map(tuple, spark.read.parquet(f_idx).collect())) == got_f

    probe = spark.createDataFrame(
        [(100, "image/pgm", seeded_raster(8))], schema
    )
    hits = image_video_matches(
        image_dhash(probe), spark.read.parquet(f_idx)
    ).collect()
    assert any(r["video_id"] == 1 and r["hamming"] == 0 for r in hits)


def test_multimodal_gate_same_batch_cross_modal(spark, tmp_path):
    """The batch-internal cross-modal leg: an image and the video
    containing it arriving in the SAME micro-batch — the image drops
    (containment), the video survives carrying the content (the
    superset-content rule), and a replay is a no-op."""
    import os
    import time

    import pandas as pd

    from datawarehouse_code_spark.operators.video_dedup import encode_video
    from datawarehouse_code_spark.streaming.jobs import (
        run_multimodal_gated_ingest,
    )

    batch0 = [
        (1, "image/pgm", seeded_raster(3), None),  # contained in video 2
        (2, "video/vid0", encode_video([seeded_raster(3), seeded_raster(4)]), None),
        (3, "image/pgm", seeded_raster(20), None),  # unrelated survivor
    ]
    land = tmp_path / "sb_landing"
    land.mkdir()
    f = land / "b0.parquet"
    pdf = pd.DataFrame(
        batch0, columns=["media_id", "media_type", "content", "text"]
    )
    pdf["text"] = pdf["text"].astype("string")
    pdf.to_parquet(f, index=False)
    os.utime(f, (time.time() - 600, time.time() - 600))

    schema = (
        "media_id BIGINT, media_type STRING, content BINARY, text STRING"
    )
    paths = {
        k: str(tmp_path / k)
        for k in ("target", "ledger", "t_idx", "i_idx", "a_idx", "v_idx",
                  "p_idx", "f_idx")
    }

    def run():
        run_multimodal_gated_ingest(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(str(land)),
            paths["target"], paths["ledger"],
            paths["t_idx"], paths["i_idx"], paths["a_idx"], paths["v_idx"],
            checkpoint_dir=str(tmp_path / "sb_ckpt"),
            image_phash_index_path=paths["p_idx"],
            frame_index_path=paths["f_idx"],
        )

    run()
    ledger = {
        r["media_id"]: r["status"]
        for r in spark.read.parquet(paths["ledger"]).collect()
    }
    assert ledger == {1: "rejected", 2: "accepted", 3: "accepted"}, ledger
    # the dropped image never reaches the image index; the video's
    # frames are indexed, so a LATER re-delivery of the image is
    # rejected through the frame index too
    assert {
        r["media_id"] for r in spark.read.parquet(paths["i_idx"]).collect()
    } == {3}
    assert {
        r["media_id"] for r in spark.read.parquet(paths["f_idx"]).collect()
    } == {2}
    run()
    assert {
        r["media_id"]: r["status"]
        for r in spark.read.parquet(paths["ledger"]).collect()
    } == ledger
