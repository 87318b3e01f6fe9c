"""Custom Python Data Source (sources/pydatasource.py): partitioned
parallel generation, determinism across partitionings, schema parity
with the events catalog table, and composition with the engine's
operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from datawarehouse_code_spark.sources.pydatasource import register
from datawarehouse_code_spark.sources.schemas import EVENTS


def _read(spark, rows, parts):
    register(spark)
    return (
        spark.read.format("synthetic_events")
        .option("rows", rows)
        .option("partitions", parts)
        .load()
    )


def test_generates_partitioned_rows(spark):
    df = _read(spark, 5000, 8)
    assert df.count() == 5000
    assert df.rdd.getNumPartitions() == 8
    assert df.select("event_id").distinct().count() == 5000


def test_schema_matches_events_catalog(spark):
    df = _read(spark, 10, 2)
    assert [f.name for f in df.schema.fields] == [f.name for f in EVENTS.fields]
    assert [f.dataType for f in df.schema.fields] == [
        f.dataType for f in EVENTS.fields
    ]


def test_deterministic_across_partitionings(spark):
    a = sorted(map(tuple, _read(spark, 2000, 8).collect()))
    b = sorted(map(tuple, _read(spark, 2000, 3).collect()))
    assert a == b


def test_composes_with_window_aggregation(spark):
    df = _read(spark, 5000, 4)
    agg = df.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    rows = agg.collect()
    assert sum(r.n for r in rows) == 5000


def test_stream_reader_drains_and_matches_batch(spark):
    """The micro-batch half: a full availableNow drain through the
    memory sink must produce exactly the batch read's rows (the
    determinism contract checkpoint recovery relies on)."""
    register(spark)
    df = (
        spark.readStream.format("synthetic_events")
        .option("rows", 1000)
        .option("partitions", 4)
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName("t_synth")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(map(tuple, spark.table("t_synth").collect()))
    want = sorted(map(tuple, _read(spark, 1000, 4).collect()))
    assert got == want


def test_stream_reader_offset_progression():
    """Offset bookkeeping without Spark: read(start) admits
    rows_per_batch per call from the PASSED offset (no process-local
    state), caps at rows, and a rebuilt reader — the checkpoint
    restart — resumes from any committed offset without regression or
    re-emission.  readBetweenOffsets replays a range identically."""
    from datawarehouse_code_spark.sources.pydatasource import (
        SyntheticEventsStreamReader,
    )

    opts = {"rows": 250, "rows_per_batch": 100, "partitions": 3}
    r = SyntheticEventsStreamReader(opts)
    assert r.initialOffset() == {"row": 0}
    it, end = r.read({"row": 0})
    assert end == {"row": 100} and len(list(it)) == 100
    it, end = r.read(end)
    assert end == {"row": 200}
    it, end = r.read(end)
    assert end == {"row": 250} and len(list(it)) == 50
    it, end = r.read(end)
    assert end == {"row": 250} and list(it) == []  # drained

    # restart: a FRESH reader picks up from the committed offset
    r2 = SyntheticEventsStreamReader(opts)
    it, end = r2.read({"row": 200})
    ids = [row[0] for row in it]
    assert end == {"row": 250} and ids == list(range(200, 250))

    # replay of a committed range is bit-identical
    a = list(r.readBetweenOffsets({"row": 100}, {"row": 200}))
    b = list(r2.readBetweenOffsets({"row": 100}, {"row": 200}))
    assert a == b and len(a) == 100


def test_stream_source_feeds_upsert_sink(spark, tmp_path):
    """Cross-component composition: the custom stream source drains
    through the foreachBatch → ACID upsert sink into a keyed table
    equal to the batch read (unique event_ids ⇒ pure insert path).

    An availableNow drain of a SIMPLE stream reader processes one
    prefetched batch per run, so the 500 rows are pulled through FIVE
    successive runs sharing one checkpoint: run 1 exercises the
    staged-create branch, runs 2-5 exercise acid.replace_keyed against the
    existing table, and every restart resumes from the committed
    offset (the regression the offset-state rewrite fixed)."""
    from datawarehouse_code_spark.streaming.jobs import run_upsert_to_table

    register(spark)
    target = str(tmp_path / "events_table")
    counts = []
    for _ in range(5):
        events = (
            spark.readStream.format("synthetic_events")
            .option("rows", 500)
            .option("rows_per_batch", 100)
            .option("partitions", 4)
            .load()
        )
        run_upsert_to_table(
            events, target, ["event_id"],
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        counts.append(spark.read.parquet(target).count())
    assert counts == [100, 200, 300, 400, 500]
    got = sorted(map(tuple, spark.read.parquet(target).collect()))
    want = sorted(map(tuple, _read(spark, 500, 4).collect()))
    assert got == want


def test_upsert_sink_with_file_uri_target(spark, tmp_path):
    """run_upsert_to_table against a `file:` URI target: the
    Hadoop-FS existence probe + staged swap must work where the old
    os.path.exists probe saw 'absent' every run (and so re-created
    the table per batch).  Two drains: staged-create, then upsert."""
    from datawarehouse_code_spark.streaming.jobs import run_upsert_to_table

    register(spark)
    target = f"file:{tmp_path}/events_table"
    for want in (100, 200):
        events = (
            spark.readStream.format("synthetic_events")
            .option("rows", 200)
            .option("rows_per_batch", 100)
            .option("partitions", 4)
            .load()
        )
        run_upsert_to_table(
            events, target, ["event_id"],
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        assert spark.read.parquet(target).count() == want
    got = sorted(map(tuple, spark.read.parquet(target).collect()))
    want_rows = sorted(map(tuple, _read(spark, 200, 4).collect()))
    assert got == want_rows
