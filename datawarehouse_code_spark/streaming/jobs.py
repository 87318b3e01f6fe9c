"""Structured Streaming layer over the batch time-window plans.

The batch queries in `plans/streaming_queries.py` use `F.window` /
`F.session_window`, whose semantics are identical under
`readStream` — this module is the thin wrapper that proves it: the
same aggregation expressions run over a file stream with a watermark,
and `tests/test_streaming.py` asserts stream output == batch output.

Scale/productionisation notes (100 TB stream):
- `withWatermark` bounds state: windows older than the watermark are
  evicted, so state size is O(active windows × keys), not O(history).
- `availableNow` trigger = incremental batch draining (the pattern
  for backfill + catch-up); a production deployment swaps the source
  for Kafka and the sink for a Delta/parquet table with checkpoints.
- Aggregations here are shuffle-partitioned by (window, key) exactly
  like the batch plan — no custom state management needed; custom
  stateful ops beyond windows would use applyInPandasWithState.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse_code_spark.operators.iterative import cut_lineage
from datawarehouse_code_spark.sources.schemas import EVENTS

# Raw event files come in two ts layouts (the fixture switched between
# rounds, and a real landing zone mixes producers): int64/TIMESTAMP(NANOS)
# nanos — which Spark can only read as long — or a typed parquet
# timestamp.  The footer of the first file decides which schema the
# stream declares (see _events_ts_layout).
_RAW_EVENTS_NANOS = "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, " \
                    "value DOUBLE, props STRING"
_RAW_EVENTS_TYPED = "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " \
                    "event_type STRING, value DOUBLE, props STRING"


_NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
# pre-stream value of _NANOS_CONF per session, so stream termination can
# restore it (single in-flight events stream per session, as before)
_PRIOR_NANOS_CONF: dict[int, str | None] = {}


def _events_ts_layout(source_dir: str, probe_cap: int = 64) -> str:
    """'nanos' if the files store ts as raw int64 / TIMESTAMP(NANOS)
    (both only readable as long), 'typed' for a normal parquet
    timestamp.  Probes footers with pyarrow — metadata only, no data
    read, no Spark job.  A single-layout landing zone is a CONTRACT
    this stream relies on (the declared schema is fixed at creation
    and never revised), so the probe samples up to `probe_cap` footers
    spread across the sorted listing and raises a mixed-layout error
    up front — without this, a later file in the other layout would
    fail every subsequent micro-batch with a parquet type error far
    removed from the cause."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    files = sorted(
        glob.glob(os.path.join(source_dir, "**", "*.parquet"), recursive=True)
    )
    if not files:
        # the schema is FIXED at stream creation and the probe never
        # re-runs, so guessing here would silently mis-read whichever
        # layout the producer later writes — fail loudly instead
        raise ValueError(
            f"read_events_stream: no parquet files in {source_dir!r} to "
            "probe the ts layout from; start the stream after the first "
            "file lands (the declared schema cannot be revised later)"
        )
    if len(files) > probe_cap:
        # evenly-spread sample, always including first and last
        step = (len(files) - 1) / (probe_cap - 1)
        sample = [files[round(i * step)] for i in range(probe_cap)]
    else:
        sample = files

    def _layout(path: str) -> str:
        t = pq.ParquetFile(path).schema_arrow.field("ts").type
        if pa.types.is_integer(t) or (pa.types.is_timestamp(t) and t.unit == "ns"):
            return "nanos"
        return "typed"

    layouts = {f: _layout(f) for f in sample}
    distinct = set(layouts.values())
    if len(distinct) > 1:
        by = {lay: [f for f, l in layouts.items() if l == lay][:3] for lay in distinct}
        raise ValueError(
            f"read_events_stream: mixed ts layouts in {source_dir!r}: {by}. "
            "A file-source stream declares ONE schema at creation; "
            "normalize the producers (or split the landing zone per "
            "layout) before starting the stream — a mixed zone would "
            "fail every micro-batch containing the other layout."
        )
    return distinct.pop()


def read_events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events with the catalog's ts conversion.

    Watermarks only accept TIMESTAMP (with timezone), so the stream
    carries `ts` as TimestampType; with the session pinned to UTC its
    wall clock is identical to the batch path's timestamp_ntz, and the
    window bounds are cast back to ntz after aggregation.

    `max_files_per_trigger` caps files per micro-batch (rate limiting;
    also what the watermark tests use to force multi-batch runs —
    availableNow honors it).
    """
    if _events_ts_layout(source_dir) == "typed":
        # Typed parquet timestamps: declare ts as NTZ and cast to the
        # watermark-able TIMESTAMP (UTC session → identical wall clock).
        reader = spark.readStream.schema(_RAW_EVENTS_TYPED)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        raw = reader.parquet(source_dir)
        df = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        return df.select([f.name for f in EVENTS.fields])
    # Nanos layout needs the legacy conf, session-persistent for the
    # stream's lifetime (unlike the batch reader's scoped set): a
    # stream re-resolves files every micro-batch, so the conf must
    # outlive this call.  CAUTION: while a stream is live, a batch
    # read of a nanos column in the same session silently yields
    # bigint instead of failing loudly; the batch reader contains the
    # blast radius by verifying every read against SCHEMAS.
    # restore_nanos_conf (called by run_to_memory and _drain on
    # termination) puts the prior value back.
    _PRIOR_NANOS_CONF.setdefault(id(spark), spark.conf.get(_NANOS_CONF, None))
    spark.conf.set(_NANOS_CONF, "true")
    reader = spark.readStream.schema(_RAW_EVENTS_NANOS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.parquet(source_dir)
    df = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.select([f.name for f in EVENTS.fields])


def restore_nanos_conf(spark: SparkSession) -> None:
    """Restore the pre-stream nanosAsLong conf (no-op if no events
    stream was opened on this session)."""
    sentinel = object()
    prior = _PRIOR_NANOS_CONF.pop(id(spark), sentinel)
    if prior is sentinel:
        return
    if prior is None:
        spark.conf.unset(_NANOS_CONF)
    else:
        spark.conf.set(_NANOS_CONF, prior)


def _drain(stream: DataFrame, apply, checkpoint_dir: str | None) -> None:
    """Run `apply(batch, batch_id)` on every micro-batch of `stream`
    with the availableNow trigger, checkpointed at `checkpoint_dir`
    when one is given, and block until the drain finishes.  Restores
    the nanos conf like run_to_memory, once no stream is active on
    the session (a no-op unless read_events_stream set it)."""
    spark = stream.sparkSession
    writer = stream.writeStream.foreachBatch(apply).trigger(availableNow=True)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    try:
        q.awaitTermination()
    finally:
        if not spark.streams.active:
            restore_nanos_conf(spark)


def tumbling_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming tumbling-window aggregate (same expressions as the
    batch `events_tumbling_10min` plan)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def dedup_events_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming ingest dedup — the streaming twin of exact_dedup for
    an at-least-once source (Kafka redeliveries, file re-drops): emit
    each event_id once, suppressing re-arrivals within the watermark.

    `dropDuplicatesWithinWatermark` keys state by event_id and evicts
    a key once the watermark passes its first-seen event time + delay,
    so state is O(keys per watermark window), not O(history) — the
    property that makes streaming dedup viable at 100 TB/day.  The
    documented consequence: a duplicate arriving AFTER its key was
    evicted is re-emitted (dedup is exactly-once only within the
    watermark; downstream exact_dedup remains the batch backstop).
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def session_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming session-window aggregate (30-minute gap)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def click_attribution_stream(
    events: DataFrame, lookback: str = "10 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: each click matched to the same user's
    views in the `lookback` window before it (click attribution).

    Two branches of the same source stream self-join; both carry a
    watermark and the join condition bounds view_ts relative to
    click_ts, so Spark can size the state store and EVICT: a buffered
    view is dropped once the click-side watermark passes
    view_ts + lookback (no unbounded buffering — the property that
    makes stream-stream joins viable at scale).  State is partitioned
    by user_id (the equi key); output is append-mode by construction.

    The batch twin is `events_click_attribution`
    (plans/streaming_queries.py) minus its final aggregate; equality
    is tested in tests/test_streaming.py.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
            F.col("value").alias("view_value"),
        )
        .withWatermark("view_ts", watermark)
    )
    return clicks.join(
        views,
        F.expr(
            "user_id = view_user AND "
            f"view_ts BETWEEN click_ts - INTERVAL {lookback} AND click_ts"
        ),
        "inner",
    ).select("click_id", "user_id", "click_ts", "view_ts", "view_value")


def run_upsert_to_table(
    events: DataFrame,
    target_path: str,
    key: list[str],
    seq_col: str = "ts",
    checkpoint_dir: str | None = None,
    n_buckets: int | None = None,
) -> None:
    """Drain the stream into a keyed table via foreachBatch +
    sources/bucketed.replace_keyed_auto — the production sink shape
    for CDC-style streams: each micro-batch collapses to its latest
    row per key (row_number over `seq_col` desc), then lands as one
    keyed upsert (a keyed replace on the batch's own keys, staged
    parquet overwrite).  The first batch creates the table.

    `n_buckets` opts a NEWLY-created table into the bucket-
    partitioned layout (sources/bucketed.py): each micro-batch then
    rewrites only the hash buckets containing its keys instead of the
    whole table — O(|touched buckets|) write amplification, the
    parquet-native answer to a table format's MERGE for a CDC sink
    whose table dwarfs its batches.
    An existing table keeps its own layout either way; readers go
    through read_bucketed / read_keyed_table (the layout column must
    not leak).

    Cross-batch ordering comes from the stream itself (a later batch's
    upsert overwrites an earlier batch's row for the same key);
    within-batch ties on (key, seq_col) are resolved arbitrarily by
    row_number — feed a totally-ordered seq (log offset / LSN) when
    that matters, as cdc_latest requires.

    The table-exists probe is `acid.table_exists` — a Hadoop-FS check
    (correct for `file:` URIs and remote filesystems, not just posix
    paths) that first repairs any swap a previous run's crash left
    half-done, so a mid-swap crash state reads as 'exists' rather
    than triggering a table re-create that would drop every earlier
    batch's rows.  Blocks until the availableNow drain finishes;
    restores the nanos conf like run_to_memory.
    """
    from datawarehouse_code_spark.sources.bucketed import replace_keyed_auto

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        w = Window.partitionBy(*key).orderBy(F.col(seq_col).desc())
        latest = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # creation is a staged write either way: a direct
        # write.parquet(target) that dies mid-job leaves a partial
        # directory which the checkpoint REPLAY of this batch would
        # then treat as an existing table and merge into — silently
        # losing this batch's unlanded rows.  The staged rename makes
        # table existence equivalent to table completeness.
        replace_keyed_auto(
            batch.sparkSession, target_path, latest, key,
            n_buckets=n_buckets,
            owner=checkpoint_dir,
        )

    _drain(events, _apply, checkpoint_dir)


def run_corpus_ingest(
    docs: DataFrame,
    target_path: str,
    checkpoint_dir: str | None = None,
    n_buckets: int | None = None,
) -> None:
    """Streaming increment of `prepare_training_corpus`'s stateless +
    key-local stages: per micro-batch of arriving documents,

      PII-redact → quality-filter → exact-dedup (within the batch AND
      against the persisted corpus) → doc_id-keyed upsert into
      `target_path`

    composing the same operators the batch pipeline runs
    (operators/text.redact_pii / quality_filter / the exact_dedup
    content hash) and the same ACID sink as run_upsert_to_table.
    Near-dup detection and sequence packing stay BATCH jobs over the
    resulting table — they need corpus-global state (the LSH index /
    the pack order), not per-key state.

    Dedup contract: within a batch the smallest doc_id per content
    hash survives (exact_dedup's rule); across batches the
    FIRST-ARRIVED hash wins and later copies under different doc_ids
    are dropped.  When documents arrive in doc_id order the table
    equals the batch pipeline's redact→filter→exact-dedup output
    exactly (integration-tested); under out-of-order arrival the
    survivor per hash may differ by id — same corpus content either
    way.  Checkpoint replays are no-ops: a replayed doc matches its
    own table row (hash AND doc_id), passes the guard, and the keyed
    upsert rewrites it identically.

    Scale shape per batch: narrow redact/filter projections, one
    window over the batch's hashes (batch-sized, not corpus-sized),
    one equi-join against the table's (content_hash, doc_id)
    projection — column-pruned scan, no corpus-wide shuffle — and one
    keyed upsert (a staged parquet keyed replace).

    `n_buckets` opts a NEWLY-created corpus table into the bucket-
    partitioned layout (sources/bucketed.py): the upsert rewrites
    only the doc_id hash buckets the batch touches — O(|touched
    buckets|) write amplification instead of re-staging the whole
    corpus per micro-batch.  An existing table keeps its own layout
    either way.  The cross-batch hash guard still scans the full
    (content_hash, doc_id) projection (duplicates hash anywhere, so
    that read is inherently corpus-wide but stays column-pruned);
    only the WRITE side is pruned.  Readers go through read_bucketed
    / read_keyed_table.
    """
    from datawarehouse_code_spark.operators.text import (
        normalized_text,
        quality_filter,
        redact_pii,
    )
    from datawarehouse_code_spark.sources.acid import table_exists
    from datawarehouse_code_spark.sources.bucketed import (
        read_keyed_table,
        replace_keyed_auto,
    )

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        sp = batch.sparkSession
        redacted = redact_pii(batch, keep_cols=True)
        swapped = (
            redacted.withColumn("text", F.col("redacted_text"))
            .withColumn("n_chars", F.length("text"))
            .drop("redacted_text", "n_email", "n_ip", "n_phone")
        )
        hashed = quality_filter(swapped).withColumn(
            "content_hash", F.md5(normalized_text(F.col("text")))
        )
        w = Window.partitionBy("content_hash").orderBy("doc_id")
        first = (
            hashed.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if table_exists(sp, target_path):
            existing = read_keyed_table(sp, target_path).select(
                "content_hash", F.col("doc_id").alias("_existing_id")
            )
            survivors = (
                first.join(existing, "content_hash", "left")
                .filter(
                    F.col("_existing_id").isNull()
                    | (F.col("_existing_id") == F.col("doc_id"))
                )
                .drop("_existing_id")
            )
            replace_keyed_auto(
                sp, target_path, survivors, ["doc_id"],
                n_buckets=n_buckets,
                owner=checkpoint_dir,
            )
        else:
            # staged create (plain or bucketed per n_buckets), same
            # reasoning as run_upsert_to_table
            replace_keyed_auto(
                sp, target_path, first, ["doc_id"], n_buckets=n_buckets,
                owner=checkpoint_dir,
            )

    _drain(docs, _apply, checkpoint_dir)


def run_cdc_index_ingest(
    docs: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
    min_words: int = 3,
    n_buckets: int | None = None,
) -> None:
    """Exactly-once streaming maintenance of the persisted CDC chunk
    index (operators/text.py build_cdc_index / cdc_matches_incremental)
    — the streaming sibling of run_ivf_ingest for the chunk-dedup
    family: per micro-batch of arriving documents, chunk the BATCH
    only (content-defined boundaries — no corpus state needed, the
    cut rule is per-word) and REPLACE each arriving document's rows
    in `index_path` (sources/acid.py replace_keyed on doc_id).

    Replace, not row-upsert: a document re-delivered with revised
    text can produce FEWER chunks than its earlier version; an upsert
    keyed on (doc_id, chunk_idx) would leave the old version's
    higher-chunk_idx rows behind as phantom index entries.  Dropping
    the doc's rows before inserting the fresh chunking closes that —
    at the same cost (both are one anti-join + union on the parquet
    path).

    Exactly-once: the chunking is a pure function of the text, so a
    checkpoint replay re-derives identical rows — the keyed replace
    makes it a no-op.  The
    hot-chunk cap is deliberately NOT applied at ingest (an
    append-only stream can only push a chunk past the cap
    monotonically, so an ingest-time cap would make replays
    order-dependent); readers apply operators/text.cap_hot_chunks at
    query time, which the batch build also routes through.

    Scale shape per batch: content_defined_chunks' narrow pipeline
    over the batch (cost ∝ |batch|) + one keyed upsert; the corpus is
    never re-chunked.  `n_buckets` opts a NEWLY-created index into
    the bucket-partitioned layout (sources/bucketed.py) — the replace
    then rewrites only the hash buckets holding the batch's doc_ids
    instead of the whole index, and readers go through read_bucketed.
    An existing table keeps its own layout either way
    (replace_keyed_auto's stickiness rule)."""
    from datawarehouse_code_spark.operators.text import (
        content_defined_chunks,
    )
    from datawarehouse_code_spark.sources.bucketed import (
        replace_keyed_auto,
    )

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        sp = batch.sparkSession
        chunks = content_defined_chunks(batch).filter(
            F.col("n_words") >= min_words
        ).select("doc_id", "chunk_idx", "chunk_hash", "n_words")
        # keys = the BATCH's ids, not the (min_words-filtered)
        # chunk rows' — a doc re-delivered with revised text whose
        # chunks ALL fall below min_words contributes zero update
        # rows yet must still shed its old index rows (r13 fix)
        replace_keyed_auto(
            sp, index_path, chunks, ["doc_id"],
            keys=batch.select("doc_id"), n_buckets=n_buckets,
            owner=checkpoint_dir,
        )

    _drain(docs, _apply, checkpoint_dir)


def _pair_share_rejects(
    fps: DataFrame, key: str, id_col: str, min_shared: int
) -> DataFrame:
    """Batch-internal rejects of a share-count gate: the LARGER id of
    every pair sharing ≥ `min_shared` matching `key` rows (OCCURRENCE
    grain — a doc carrying the same chunk twice shares two rows,
    exactly the count(*) grain of cdc_matches_incremental /
    cdc_shared_chunks; the fp inputs are distinct-per-media upstream,
    so occurrence ≡ distinct there).  Smaller-id drop rule, PER-PAIR
    counts — groupBy BOTH ids: min_shared is a pair threshold,
    matching the batch detectors; counting across partners would
    reject an item sharing one key each with several unrelated items
    (the r12 gate bug, fixed everywhere by this single
    implementation)."""
    a = fps.select(F.col(id_col).alias("_d1"), key)
    b = fps.select(F.col(id_col).alias("_d2"), key)
    return (
        a.join(b, key)
        .filter(F.col("_d1") < F.col("_d2"))
        .groupBy("_d1", "_d2")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_shared)
        .select(F.col("_d2").alias(id_col))
        .distinct()
    )


def _cross_share_rejects(
    fps: DataFrame, idx: DataFrame, key: str, id_col: str, min_shared: int
) -> DataFrame:
    """Cross-index rejects of a share-count gate: batch items sharing
    ≥ `min_shared` matching `key` rows with an already-ingested item
    (occurrence grain, as in _pair_share_rejects — the batch
    detectors' count(*) contract; self-matches excluded by id, so
    crash replays whose survivors already reached the index still
    pass)."""
    return (
        fps.join(idx.select(F.col(id_col).alias("_dc"), key), key)
        .filter(F.col(id_col) != F.col("_dc"))
        .groupBy(id_col, "_dc")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_shared)
        .select(id_col)
        .distinct()
    )


def _chunk_gate_rejects(
    sp: SparkSession,
    chunks: DataFrame,
    index_path: str,
    min_shared: int,
    hot_chunk_cap: int,
) -> DataFrame:
    """The CDC gate's per-batch reject set (doc_id rows): batch-
    internal smaller-id pairs ∪ cross-matches against the hot-capped
    persisted chunk index."""
    from datawarehouse_code_spark.operators.text import cap_hot_chunks
    from datawarehouse_code_spark.sources.acid import table_exists
    from datawarehouse_code_spark.sources.bucketed import read_keyed_table

    rejected = _pair_share_rejects(chunks, "chunk_hash", "doc_id", min_shared)
    if table_exists(sp, index_path):
        idx = cap_hot_chunks(
            read_keyed_table(sp, index_path).select("doc_id", "chunk_hash"),
            hot_chunk_cap,
        )
        rejected = rejected.unionByName(
            _cross_share_rejects(
                chunks, idx, "chunk_hash", "doc_id", min_shared
            )
        ).distinct()
    return rejected


def _fp_gate_rejects(
    sp: SparkSession,
    fps: DataFrame,
    index_path: str,
    min_shared: int,
    hot_cap: int,
) -> DataFrame:
    """The fingerprint gates' per-batch reject set (media_id rows) —
    audio grams, video temporal grams, or any detector whose index is
    distinct (media_id, fp).  The batch side of the self-join is
    hot-capped with _cap_hot_fps (the ONE distinct-carrier cap
    implementation) and the index side is capped at read time."""
    from datawarehouse_code_spark.operators.media_dedup import _cap_hot_fps
    from datawarehouse_code_spark.sources.acid import table_exists
    from datawarehouse_code_spark.sources.bucketed import read_keyed_table

    rejected = _pair_share_rejects(
        _cap_hot_fps(fps, hot_cap), "fp", "media_id", min_shared
    )
    if table_exists(sp, index_path):
        idx = _cap_hot_fps(read_keyed_table(sp, index_path), hot_cap)
        rejected = rejected.unionByName(
            _cross_share_rejects(fps, idx, "fp", "media_id", min_shared)
        ).distinct()
    return rejected


def _dhash_gate_rejects(
    sp: SparkSession,
    hashes: DataFrame,
    index_path: str,
    max_hamming: int,
    band_cap: int,
) -> DataFrame:
    """The perceptual image gate's per-batch reject set (media_id
    rows): the larger id of every batch-internal dHash near-dup pair
    ∪ batch items within `max_hamming` of an already-ingested image
    through the read-time-capped band index."""
    from datawarehouse_code_spark.operators.media_dedup import (
        dhash_matches_incremental,
        dhash_near_dup_pairs,
    )
    from datawarehouse_code_spark.sources.acid import table_exists
    from datawarehouse_code_spark.sources.bucketed import read_keyed_table

    rejected = (
        dhash_near_dup_pairs(
            hashes, max_hamming=max_hamming, band_cap=band_cap,
        )
        .select(F.col("d2").alias("media_id"))
        .distinct()
    )
    if table_exists(sp, index_path):
        cross = (
            dhash_matches_incremental(
                None, read_keyed_table(sp, index_path),
                max_hamming=max_hamming, band_cap=band_cap,
                new_hashes=hashes,
            )
            .select(F.col("d_new").alias("media_id"))
            .distinct()
        )
        rejected = rejected.unionByName(cross).distinct()
    return rejected


def run_cdc_gated_ingest(
    docs: DataFrame,
    target_path: str,
    index_path: str,
    checkpoint_dir: str | None = None,
    min_shared: int = 2,
    min_words: int = 3,
    hot_chunk_cap: int = 5000,
    n_buckets: int | None = None,
) -> None:
    """Streaming corpus ingest with a CDC NEAR-DUP GATE — the
    text-side sibling of run_ivf_ingest's semantic-dedup gate: per
    micro-batch, chunk the arriving docs (content-defined, so a
    shifted copy of already-ingested boilerplate still matches) and
    REJECT any doc sharing ≥ `min_shared` (≥ `min_words`-word)
    chunks with an already-INGESTED doc or with a smaller-id
    batch-mate (the SemDeDup smaller-id drop convention).  Survivors
    upsert into `target_path` and their chunks extend the index at
    `index_path` — rejects enter NEITHER, so replays reject the same
    ids deterministically (dedup-BEFORE-extend: later arrivals
    resolve to indexed survivors, never to rejects).

    Crash ordering: the table upsert commits BEFORE the index
    extend; a crash between them replays the batch, whose docs pass
    the gate unchanged (self-matches are excluded by doc id, and the
    missing index rows are re-derived from the same text), re-upsert
    identically, and complete the index — idempotent either way.

    Scale shape per batch: the batch's narrow chunking + one
    equi-join against the hot-capped index (per-chunk fan-out
    bounded) + one batch-internal hash self-join + two keyed
    upserts; the corpus is never re-chunked.  `n_buckets` opts
    NEWLY-created table+index into the bucket-partitioned layout
    (both writes then prune to the batch's doc_id buckets); existing
    tables keep their own layout either way (stickiness)."""
    from datawarehouse_code_spark.operators.text import (
        content_defined_chunks,
    )
    from datawarehouse_code_spark.sources.bucketed import (
        replace_keyed_auto,
    )

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        sp = batch.sparkSession
        chunks = content_defined_chunks(batch).filter(
            F.col("n_words") >= min_words
        ).select("doc_id", "chunk_idx", "chunk_hash", "n_words")
        rejected = _chunk_gate_rejects(
            sp, chunks, index_path, min_shared, hot_chunk_cap
        )
        survivors = batch.join(rejected, "doc_id", "left_anti")
        replace_keyed_auto(
            sp, target_path, survivors, ["doc_id"], n_buckets=n_buckets,
            owner=checkpoint_dir,
        )
        kept_chunks = chunks.join(rejected, "doc_id", "left_anti")
        # replace (not row-upsert) for the same reason as
        # run_cdc_index_ingest: a surviving doc re-delivered with
        # fewer chunks must not leave stale higher-chunk_idx rows.
        # keys = SURVIVOR ids (not the filtered chunk rows' — a
        # survivor whose revised chunks all fall below min_words
        # still sheds its old rows; not the whole batch's —
        # rejects keep their previously-ingested version in both
        # table and index, per rejects-enter-neither)
        replace_keyed_auto(
            sp, index_path, kept_chunks, ["doc_id"],
            keys=survivors.select("doc_id"), n_buckets=n_buckets,
            owner=checkpoint_dir,
        )

    _drain(docs, _apply, checkpoint_dir)


def run_to_memory(
    result: DataFrame, table_name: str, output_mode: str = "complete"
) -> None:
    """Drain the stream into an in-memory sink with the availableNow
    trigger (processes all available input, then stops), blocking
    until done.  `append` output mode emits each window exactly once,
    when the watermark passes its end — the mode the late-data tests
    exercise.

    Restores the nanosAsLong conf on termination so later batch reads
    of nanos columns fail loudly again — but ONLY once no other
    streaming query is still active on the session (yanking the conf
    under a live stream would break its next micro-batch's file
    resolution).  Starting a SECOND query from the same
    read_events_stream DataFrame after a drain restored the conf
    fails loudly at parquet resolution; call read_events_stream again
    (it re-sets the conf) for each drain."""
    spark = result.sparkSession
    q = (
        result.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        if not spark.streams.active:
            restore_nanos_conf(spark)


def apply_rollup_batch(
    batch: DataFrame,
    batch_id: int,
    rollup_path: str,
    keys: list[str],
    sum_cols: list[str],
    keep_versions: int = 2,
) -> bool:
    """Apply ONE micro-batch of fact rows to a versioned rollup,
    idempotently under foreachBatch replays — the missing piece of
    rollup maintenance's exactly-once contract (operators/rollup.py
    documents that re-delivering a delta double-counts; a crashed
    foreachBatch RE-RUNS its batch with the same id, which is exactly
    that).

    Protocol: the applied batch id rides IN the rollup version as a
    constant `_last_batch` column, so it commits atomically with the
    data (versioned.write_version's _SUCCESS marker) — there is no
    separate marker file to desync from the table.  Replays skip
    because their id <= the committed id (streaming batch ids are
    monotone; a failed batch re-runs with the SAME id).  A crash
    before the version commit leaves no visible change at all.

    Returns True if the batch was applied, False if skipped (replay
    or empty batch — an empty batch is skipped so its id need not be
    recorded: re-applying nothing is harmless).  Old versions are
    vacuumed to `keep_versions`.
    """
    from datawarehouse_code_spark.operators.rollup import (
        aggregate_delta,
        merge_rollup,
    )
    from datawarehouse_code_spark.sources.versioned import (
        list_versions,
        read_version,
        vacuum_versions,
        write_version,
    )

    if batch.isEmpty():
        return False
    spark = batch.sparkSession
    delta = aggregate_delta(batch, keys, sum_cols)
    if list_versions(spark, rollup_path):
        current = read_version(spark, rollup_path)
        last = current.select("_last_batch").limit(1).collect()
        if last and last[0][0] is not None and batch_id <= last[0][0]:
            return False
        merged = merge_rollup(current.drop("_last_batch"), delta, keys)
    else:
        merged = delta
    write_version(
        spark,
        merged.withColumn("_last_batch", F.lit(batch_id).cast("bigint")),
        rollup_path,
    )
    vacuum_versions(spark, rollup_path, keep=keep_versions)
    return True


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """The consumer view of a maintained rollup: latest committed
    version without the bookkeeping column."""
    from datawarehouse_code_spark.sources.versioned import read_version

    return read_version(spark, rollup_path).drop("_last_batch")


def run_rollup_maintenance(
    facts: DataFrame,
    rollup_path: str,
    keys: list[str],
    sum_cols: list[str],
    checkpoint_dir: str | None = None,
) -> None:
    """Drain a fact stream into a maintained rollup: foreachBatch →
    apply_rollup_batch (replay-idempotent, see there).  With a
    checkpoint dir the stream resumes where it stopped AND a replayed
    batch cannot double-count — together, end-to-end exactly-once
    aggregate maintenance over plain parquet."""
    def _apply(batch: DataFrame, batch_id: int) -> None:
        apply_rollup_batch(batch, batch_id, rollup_path, keys, sum_cols)

    _drain(facts, _apply, checkpoint_dir)


def run_ivf_ingest(
    embeddings: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
    n_centroids: int = 16,
    compress: str | None = None,
    dedup_threshold_f6: int | None = None,
    dedup_n_probes: int = 2,
    dedup_rerank_factor: int = 4,
    dedup_n_assign: int = 1,
) -> None:
    """Streaming maintenance for the persisted IVF ANN index
    (operators/similarity.py build_ivf_index family) — embedding
    streams keep the serving index fresh without refits or rebuilds:

    - the FIRST micro-batch bootstraps `build_ivf_index` (the k-means
      fit happens exactly once, on the bootstrap corpus; bucket
      boundaries are frozen from then on, which is what a serving
      index wants — recall on already-indexed vectors never shifts);
    - every later batch runs `extend_ivf_index` with only the vectors
      the index has NOT seen (anti-join on vec_id against the index's
      column-pruned vec_id projection — the same idempotence guard
      shape as run_corpus_ingest's content-hash join), so checkpoint
      replays and at-least-once re-deliveries append nothing twice;
    - `forget_vectors` (RTBF) composes unchanged: it rewrites only
      affected cent_id partitions regardless of whether a vector
      arrived via bootstrap, batch extend, or this stream.

    Scale shape per batch: batch-sized dedup, one anti-join whose
    index side is a two-column pruned scan, then extend's broadcast
    of the tiny centroid table + an append of batch-sized partitions.
    Nothing rescans vector payloads of the stored index.

    `compress` ("int8") bootstraps a compressed index
    (build_ivf_index compress semantics); later batches adapt to the
    stored format automatically (extend_ivf_index schema-detects), so
    the knob only matters for the bootstrap batch.

    `dedup_threshold_f6` turns the ingest into a SEMANTIC-DEDUPED
    feed: the bootstrap corpus is deduplicated batch-internally
    (semantic_dedup, same n_centroids), and every later batch drops
    vectors that duplicate EITHER an already-indexed vector
    (incremental_semantic_dedup — probes only, corpus never
    rescanned) or a smaller-id vector in the same batch
    (semantic_dedup_with_centroids over the index's FROZEN
    centroids — no per-batch fit).  Rejected vectors never enter the
    index, so the check is deterministic under replay: a re-delivered
    batch rejects the same ids and the anti-join guard drops the
    rest.  This is the dedup-BEFORE-extend ordering
    incremental_semantic_dedup's contract requires — duplicates in a
    later batch resolve to indexed SURVIVORS, never to rejects.
    The bootstrap fits the quantizer ONCE (fit_ivf_centroids) and
    shares it between the dedup pass and build_ivf_index(centroids=)
    — the fit is the dominant bootstrap cost.  `dedup_n_probes` /
    `dedup_rerank_factor` tune the index-probe gate and
    `dedup_n_assign` the batch-internal boundary recall (the
    semantic_dedup multi-assignment knob).
    """
    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        extend_ivf_index,
        fit_ivf_centroids,
        incremental_semantic_dedup,
        semantic_dedup_with_centroids,
    )
    from datawarehouse_code_spark.sources.acid import table_exists

    # stable lease identity for the per-batch index appends: a
    # crash-restarted maintainer (same checkpoint) reclaims its own
    # stale lease instantly instead of waiting out the TTL — the
    # owner= convention every streaming maintainer here uses
    _owner = f"ivf-ingest:{checkpoint_dir or index_path}"

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        from datawarehouse_code_spark.sources.acid import _fs_for

        sp = batch.sparkSession
        fresh = batch.dropDuplicates(["vec_id"])
        # bootstrap detection keys on the ASSIGNMENTS _SUCCESS marker —
        # the last byte of the last artifact build_ivf_index writes.
        # Bare dir existence is not enough: FileOutputCommitter creates
        # the output dir (holding only _temporary/) at job SETUP, so a
        # crash DURING the assignments write leaves a dir that exists
        # but cannot be read — keying on it would wedge every replay.
        # The marker appears only at job commit; until then the whole
        # half-bootstrap (stale centroids included) is rolled back and
        # rebuilt.  Appends rewrite the marker at THEIR commit, so a
        # crash mid-append leaves the previous committed state readable
        # and the marker present — the anti-join guard then re-extends.
        fs, marker = _fs_for(sp, f"{index_path}/assignments/_SUCCESS")
        if not fs.exists(marker):
            # assignments/ is written LAST by build_ivf_index, so the
            # rollback must sweep EVERY artifact written before it
            # (centroids, PQ codebooks, the compressed formats'
            # vectors/) — a survivor would make the rebuild's
            # mode("error") write wedge every replay
            for part in ("assignments", "centroids", "vectors", "codebooks"):
                if table_exists(sp, f"{index_path}/{part}"):
                    pfs, ppath = _fs_for(sp, f"{index_path}/{part}")
                    pfs.delete(ppath, True)
            if dedup_threshold_f6 is not None:
                # ONE quantizer fit shared by the dedup bucketing and
                # the index build — the fit dominates bootstrap cost
                cents0 = fit_ivf_centroids(fresh, n_centroids=n_centroids)
                kept = semantic_dedup_with_centroids(
                    fresh, cents0, threshold_f6=dedup_threshold_f6,
                    n_assign=dedup_n_assign,
                ).filter(F.col("kept") == 1).select("vec_id")
                build_ivf_index(
                    fresh.join(kept, "vec_id"), index_path,
                    n_centroids=n_centroids, compress=compress,
                    centroids=cents0,
                )
                return
            build_ivf_index(
                fresh, index_path, n_centroids=n_centroids, compress=compress
            )
            return
        seen = sp.read.parquet(f"{index_path}/assignments").select("vec_id")
        new = fresh.join(seen, "vec_id", "left_anti")
        if dedup_threshold_f6 is None:
            if new.limit(1).count() == 0:
                return  # pure replay/re-delivery: nothing to append
            extend_ivf_index(new, index_path, owner=_owner)
            return
        # the dedup branch reads `new` many times (two limit probes,
        # the index-probe gate, the in-batch gate, the final joins,
        # the extend) — persist the batch-sized frame so the file
        # scan + anti-join run once, not per consumer
        new = new.persist()
        try:
            if new.limit(1).count() == 0:
                return  # pure replay/re-delivery: nothing to append
            # survive BOTH gates: no indexed duplicate (probe) and no
            # smaller-id batch-mate duplicate (frozen-centroid pass)
            vs_index = incremental_semantic_dedup(
                sp, index_path, new, threshold_f6=dedup_threshold_f6,
                n_probes=dedup_n_probes, rerank_factor=dedup_rerank_factor,
            ).filter(F.col("kept") == 1).select("vec_id")
            cents = sp.read.parquet(f"{index_path}/centroids")
            in_batch = semantic_dedup_with_centroids(
                new, cents, threshold_f6=dedup_threshold_f6,
                n_assign=dedup_n_assign,
            ).filter(F.col("kept") == 1).select("vec_id")
            survivors = new.join(vs_index, "vec_id").join(in_batch, "vec_id")
            if survivors.limit(1).count() == 0:
                return  # every new vector was a semantic duplicate
            extend_ivf_index(survivors, index_path, owner=_owner)
        finally:
            new.unpersist()

    _drain(embeddings, _apply, checkpoint_dir)


# Sketch-family registry for streaming maintenance: kind -> (partial
# delta builder, partials merger).  HLL and theta
# are set-semantics (re-delivery harmless by construction); KLL rank
# state double-counts on re-delivery, so ALL three ride the same
# versioned _last_batch protocol as apply_rollup_batch — batch-id
# dedup makes replay a skip regardless of the family's algebra.
def _sketch_family(kind: str):
    from datawarehouse_code_spark.operators import rollup as R

    families = {
        "hll": (R.distinct_sketch_delta, R.merge_distinct_rollup),
        "theta": (R.theta_sketch_delta, R.merge_theta_rollup),
        "kll": (R.quantile_sketch_delta, R.merge_quantile_rollup),
        "cms": (R.cms_sketch_delta, R.merge_cms_rollup),
    }
    if kind not in families:
        raise ValueError(f"unknown sketch kind {kind!r}; one of {sorted(families)}")
    return families[kind]


def apply_sketch_batch(
    batch: DataFrame,
    batch_id: int,
    rollup_path: str,
    keys: list[str],
    value_col: str,
    kind: str = "hll",
    keep_versions: int = 2,
) -> bool:
    """Apply ONE micro-batch to a versioned SKETCH rollup (HLL
    distinct counts, theta set-algebra state, or KLL quantiles),
    idempotently under foreachBatch replays — the sketch companion of
    apply_rollup_batch, same protocol: the applied batch id commits
    atomically inside the version (`_last_batch` column), replays
    skip on id <= committed.  Streaming dashboards get mergeable
    distinct/quantile state over plain parquet with exactly-once
    semantics; cost per batch = one partial-agg over the batch + a
    rollup-sized merge."""
    delta_fn, merge_fn = _sketch_family(kind)
    from datawarehouse_code_spark.sources.versioned import (
        list_versions,
        read_version,
        vacuum_versions,
        write_version,
    )

    if batch.isEmpty():
        return False
    spark = batch.sparkSession
    delta = delta_fn(batch, keys, value_col)
    if list_versions(spark, rollup_path):
        current = read_version(spark, rollup_path)
        last = current.select("_last_batch").limit(1).collect()
        if last and last[0][0] is not None and batch_id <= last[0][0]:
            return False
        merged = merge_fn([current.drop("_last_batch"), delta], keys)
    else:
        merged = delta
    write_version(
        spark,
        merged.withColumn("_last_batch", F.lit(batch_id).cast("bigint")),
        rollup_path,
    )
    vacuum_versions(spark, rollup_path, keep=keep_versions)
    return True


def run_sketch_maintenance(
    rows: DataFrame,
    rollup_path: str,
    keys: list[str],
    value_col: str,
    kind: str = "hll",
    checkpoint_dir: str | None = None,
) -> None:
    """Drain a stream into a maintained sketch rollup: foreachBatch →
    apply_sketch_batch (replay-idempotent).  Read the result with
    read_rollup + the family's estimator (distinct_estimate /
    theta_estimate / quantile_estimate)."""
    def _apply(batch: DataFrame, batch_id: int) -> None:
        apply_sketch_batch(batch, batch_id, rollup_path, keys, value_col, kind)

    _drain(rows, _apply, checkpoint_dir)


def _run_media_index_ingest(
    media: DataFrame,
    index_path: str,
    rows_fn,
    checkpoint_dir: str | None = None,
    n_buckets: int | None = None,
) -> None:
    """Shared exactly-once maintenance loop for the media-keyed
    perceptual indexes (dHash bands, audio fingerprints, video
    fingerprints): per micro-batch of arriving media, derive the
    BATCH's index rows (every one of these is a pure function of the
    payload — no corpus state) and REPLACE each arriving media_id's
    rows in `index_path` (sources/acid.py replace_keyed, the
    stale-row-closing upsert the CDC index ingest uses: a re-delivered
    item producing fewer rows leaves no residue).

    Exactly-once: a checkpoint replay re-derives identical rows from
    identical payloads, so the keyed replace is a no-op.  Hot-key caps
    are deliberately NOT applied at ingest (append-only maintenance
    only pushes carrier counts up; an ingest-time cap would make
    replays order-dependent) — the incremental matchers cap at read
    time, same doctrine as cap_hot_chunks.

    `n_buckets` opts a NEWLY-created index into the bucket-
    partitioned layout (sources/bucketed.py): maintenance rewrites
    only the hash buckets containing the batch's media_ids instead of
    the whole table — O(|touched buckets|) write amplification per
    micro-batch, the shape a 100 TB index needs on plain parquet.
    Readers of a bucketed index go through read_bucketed (the layout
    column must not leak into band schemas).  An existing table keeps
    its own layout either way (replace_keyed_auto's stickiness rule).
    Replays stay no-ops: identical payloads re-derive identical rows
    into the same buckets."""
    from datawarehouse_code_spark.sources.bucketed import (
        replace_keyed_auto,
    )

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        sp = batch.sparkSession
        rows = rows_fn(batch)
        # keys = the BATCH's ids — an item re-delivered too short
        # to fingerprint contributes zero rows yet must still
        # shed its old index rows (r13 fix)
        replace_keyed_auto(
            sp, index_path, rows, ["media_id"],
            keys=batch.select("media_id"), n_buckets=n_buckets,
            owner=checkpoint_dir,
        )

    _drain(media, _apply, checkpoint_dir)


def run_dhash_index_ingest(
    media: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
    n_buckets: int | None = None,
) -> None:
    """Exactly-once streaming maintenance of the persisted perceptual
    dHash band index (operators/media_dedup.py build_dhash_index /
    dhash_matches_incremental) — the image sibling of
    run_cdc_index_ingest."""
    from datawarehouse_code_spark.operators.media_dedup import (
        build_dhash_index,
    )

    _run_media_index_ingest(
        media, index_path,
        build_dhash_index, checkpoint_dir,
        n_buckets=n_buckets,
    )


def run_audio_fp_ingest(
    media: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
    win: int = 16,
    hop: int = 8,
    gram: int = 4,
    qshift: int = 4,
    n_buckets: int | None = None,
) -> None:
    """Exactly-once streaming maintenance of the persisted audio
    fingerprint index (operators/media_dedup.py build_audio_fp_index /
    audio_matches_incremental).  Parameters are the index contract."""
    from datawarehouse_code_spark.operators.media_dedup import (
        build_audio_fp_index,
    )

    _run_media_index_ingest(
        media, index_path,
        lambda b: build_audio_fp_index(b, win, hop, gram, qshift),
        checkpoint_dir, n_buckets=n_buckets,
    )


def run_video_fp_ingest(
    media: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
    gram: int = 2,
    n_buckets: int | None = None,
) -> None:
    """Exactly-once streaming maintenance of the persisted video
    fingerprint index (operators/video_dedup.py build_video_fp_index /
    video_matches_incremental).  `gram` is the index contract."""
    from datawarehouse_code_spark.operators.video_dedup import (
        build_video_fp_index,
    )

    _run_media_index_ingest(
        media, index_path,
        lambda b: build_video_fp_index(b, gram=gram), checkpoint_dir,
        n_buckets=n_buckets,
    )


def run_phash_index_ingest(
    media: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
    n_buckets: int | None = None,
) -> None:
    """Exactly-once streaming maintenance of the persisted DCT-pHash
    band index (operators/media_dedup.py image_phash through the
    unchanged build_dhash_index / dhash_matches_incremental machinery
    — the separate-index doctrine: pHash and dHash band spaces are
    unrelated).  Images below the 32×32 pHash grid contribute no
    rows; replace_keyed on the batch's ids still sheds their stale
    rows on re-delivery."""
    from datawarehouse_code_spark.operators.media_dedup import (
        build_dhash_index,
        image_phash,
    )

    _run_media_index_ingest(
        media, index_path,
        lambda b: build_dhash_index(
            None, hashes=image_phash(b, skip_small=True)
        ),
        checkpoint_dir, n_buckets=n_buckets,
    )


def run_frame_index_ingest(
    media: DataFrame,
    index_path: str,
    checkpoint_dir: str | None = None,
    n_buckets: int | None = None,
) -> None:
    """Exactly-once streaming maintenance of the persisted FRAME-grain
    dHash index (operators/video_dedup.py build_frame_dhash_index /
    image_video_matches) — keeps the reverse cross-modal lane current
    as videos arrive on a single-modality feed (the unified gate
    maintains the same table for mixed feeds)."""
    from datawarehouse_code_spark.operators.video_dedup import (
        build_frame_dhash_index,
        video_frame_dhashes,
    )

    _run_media_index_ingest(
        media, index_path,
        lambda b: build_frame_dhash_index(video_frame_dhashes(b)),
        checkpoint_dir, n_buckets=n_buckets,
    )


def run_dhash_gated_ingest(
    media: DataFrame,
    target_path: str,
    index_path: str,
    checkpoint_dir: str | None = None,
    max_hamming: int = 6,
    band_cap: int = 50,
    n_buckets: int | None = None,
) -> None:
    """Streaming media ingest with a PERCEPTUAL NEAR-DUP GATE — the
    image sibling of run_cdc_gated_ingest: per micro-batch, dHash the
    arriving media (so a re-encoded, brightness-shifted or integer-
    upscaled copy of an already-ingested image still matches) and
    REJECT any item within `max_hamming` of an already-INGESTED image
    or of a smaller-id batch-mate (the smaller-id drop convention
    every dedup here uses).  Survivors upsert into `target_path` and
    their band rows extend the index at `index_path` — rejects enter
    NEITHER, so replays reject the same ids deterministically
    (dedup-BEFORE-extend, the CDC-gate doctrine).

    Crash ordering: the table upsert commits BEFORE the index extend;
    a crash between them replays the batch, whose items pass the gate
    unchanged (self-matches excluded by id; the missing index rows
    re-derive from the same payloads), re-upsert identically, and
    complete the index.

    Scale shape per batch: one narrow decode+hash map over the batch
    + one band equi-join against the read-time-capped index + one
    batch-internal band self-join + two keyed writes; the corpus is
    never re-decoded.  `n_buckets` opts NEWLY-created table+index
    into the bucket-partitioned layout (both writes then prune to
    the batch's media_id buckets); existing tables keep their own
    layout either way (stickiness)."""
    from datawarehouse_code_spark.operators.media_dedup import (
        build_dhash_index,
        image_dhash,
    )
    from datawarehouse_code_spark.sources.bucketed import (
        replace_keyed_auto,
    )

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        sp = batch.sparkSession
        # decode + hash the batch ONCE; every leg below (internal
        # pairs, cross-match, index extend) rides the materialized
        # hash table through the hashes=/new_hashes= pass-throughs
        hashes = cut_lineage(image_dhash(batch))
        rejected = _dhash_gate_rejects(
            sp, hashes, index_path, max_hamming, band_cap
        )
        survivors = batch.join(rejected, "media_id", "left_anti")
        replace_keyed_auto(
            sp, target_path, survivors, ["media_id"], n_buckets=n_buckets,
            owner=checkpoint_dir,
        )
        kept_rows = build_dhash_index(
            None,
            hashes=hashes.join(
                survivors.select("media_id"), "media_id", "left_semi"
            ),
        )
        # keys = SURVIVOR ids (a survivor re-delivered with an
        # undecodable/short payload keeps zero hash rows; rejects
        # keep their previously-ingested rows — r13 fix)
        replace_keyed_auto(
            sp, index_path, kept_rows, ["media_id"],
            keys=survivors.select("media_id"), n_buckets=n_buckets,
            owner=checkpoint_dir,
        )

    _drain(media, _apply, checkpoint_dir)


def _run_fp_gated_ingest(
    media: DataFrame,
    target_path: str,
    index_path: str,
    fps_fn,
    min_shared: int,
    hot_cap: int,
    checkpoint_dir: str | None = None,
    n_buckets: int | None = None,
) -> None:
    """Shared fingerprint-gated media ingest (audio/video — any
    detector whose index is distinct (media_id, fp) rows): per
    micro-batch, fingerprint the arriving media and REJECT any item
    sharing ≥ `min_shared` fingerprints with an already-ingested item
    (through the read-time-capped index) or with a smaller-id
    batch-mate.  Survivors upsert into `target_path` and their
    fingerprints extend `index_path`; rejects enter neither, so
    replays reject the same ids deterministically (dedup-BEFORE-
    extend, the CDC-gate doctrine; table commit BEFORE index extend
    for the same crash-replay argument).  `n_buckets` opts
    NEWLY-created table+index into the bucket-partitioned layout;
    existing tables keep their own layout either way (stickiness)."""
    from datawarehouse_code_spark.sources.bucketed import (
        replace_keyed_auto,
    )

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        sp = batch.sparkSession
        fps = cut_lineage(fps_fn(batch))
        rejected = _fp_gate_rejects(sp, fps, index_path, min_shared, hot_cap)
        survivors = batch.join(rejected, "media_id", "left_anti")
        replace_keyed_auto(
            sp, target_path, survivors, ["media_id"], n_buckets=n_buckets,
            owner=checkpoint_dir,
        )
        kept = fps.join(survivors.select("media_id"), "media_id", "left_semi")
        # keys = SURVIVOR ids — an item too short to fingerprint
        # has zero fps rows yet must shed old index rows (r13 fix)
        replace_keyed_auto(
            sp, index_path, kept, ["media_id"],
            keys=survivors.select("media_id"), n_buckets=n_buckets,
            owner=checkpoint_dir,
        )

    _drain(media, _apply, checkpoint_dir)


def run_audio_gated_ingest(
    media: DataFrame,
    target_path: str,
    index_path: str,
    checkpoint_dir: str | None = None,
    min_shared: int = 2,
    hot_cap: int = 50,
    win: int = 16,
    hop: int = 8,
    gram: int = 4,
    qshift: int = 4,
    n_buckets: int | None = None,
) -> None:
    """Streaming audio ingest gated on shared energy-gram
    fingerprints — a hop-aligned shifted copy of already-ingested
    audio is rejected at the feed."""
    from datawarehouse_code_spark.operators.media_dedup import (
        audio_fingerprints,
    )

    _run_fp_gated_ingest(
        media, target_path, index_path,
        lambda b: audio_fingerprints(b, win, hop, gram, qshift),
        min_shared, hot_cap, checkpoint_dir, n_buckets=n_buckets,
    )


def run_video_gated_ingest(
    media: DataFrame,
    target_path: str,
    index_path: str,
    checkpoint_dir: str | None = None,
    min_shared: int = 2,
    hot_cap: int = 50,
    gram: int = 2,
    n_buckets: int | None = None,
) -> None:
    """Streaming video ingest gated on shared temporal-gram
    fingerprints — a frame-trimmed copy of already-ingested video is
    rejected at the feed."""
    from datawarehouse_code_spark.operators.video_dedup import (
        video_fingerprints,
    )

    _run_fp_gated_ingest(
        media, target_path, index_path,
        lambda b: video_fingerprints(b, gram),
        min_shared, hot_cap, checkpoint_dir, n_buckets=n_buckets,
    )


def run_multimodal_gated_ingest(
    feed: DataFrame,
    target_path: str,
    ledger_path: str,
    text_index_path: str,
    image_index_path: str,
    audio_index_path: str,
    video_index_path: str,
    checkpoint_dir: str | None = None,
    min_shared: int = 2,
    min_words: int = 3,
    hot_chunk_cap: int = 5000,
    max_hamming: int = 6,
    band_cap: int = 50,
    hot_cap: int = 50,
    image_phash_index_path: str | None = None,
    frame_index_path: str | None = None,
    min_shared_frames: int = 2,
    n_buckets: int | None = None,
) -> None:
    """The UNIFIED multimodal ingest gate — one streaming loop over a
    MIXED feed (media_id BIGINT, media_type STRING, content BINARY,
    text STRING) that routes every payload through its modality's
    near-dup gate and maintains a single accepted/rejected/quarantined
    LEDGER beside the shared target table and the four per-modality
    indexes.  This is the composition a production crawl actually
    runs: the per-modality loops (run_cdc_gated_ingest,
    run_dhash_gated_ingest, run_audio/video_gated_ingest) exist for
    single-modality feeds; a crawl's firehose is mixed.

    Routing is by media_type prefix: 'text/' chunks `text`
    content-defined and gates on shared chunks; 'image/' dHashes and
    gates on banded hamming; 'audio/' gates on energy-gram shares;
    'video/' on temporal-gram shares.  Every payload is DECODED
    EXACTLY ONCE per batch: each lane fingerprints through its
    quarantine variant (one pass emits both the fingerprints and the
    decode errors) and materializes the result (one lineage cut)
    before the gate's multiple consumers.  An undecodable payload, a
    NULL text document and an unrouteable media_type are QUARANTINED
    — they enter neither the target nor any index, so a later
    re-delivery with a fixed payload is re-gated from scratch.

    The ledger at `ledger_path` holds one row per EVER-SEEN media_id
    — (media_id, modality, status ∈ accepted|rejected|quarantined,
    reason) — maintained with replace_keyed on the batch's ids:
    replays rewrite identical rows (idempotent), and a re-delivered
    item's row reflects the LATEST decision.

    Exactly-once: identical to the per-modality gates (decisions are
    pure functions of payloads + indexes; survivors-only index
    extension keeps replays deterministic; target commit precedes
    index extends precedes the ledger, and a crash anywhere replays
    into identical decisions — survivors self-excluded by id).

    Optional legs widen the image/video envelope, each gated on its
    index path being given:
    - `image_phash_index_path`: the image lane ALSO matches on DCT
      pHash (phash_view over the same combined decode — interpolated
      rescales that flip dHash bits are caught), maintaining a second
      band index per the separate-index doctrine.
    - `frame_index_path`: BIDIRECTIONAL cross-modal matching — a new
      image within `max_hamming` of any frame of an already-ingested
      video is rejected (image_video_matches), and a new video with
      ≥ `min_shared_frames` DISTINCT frames matching corpus images is
      rejected (video_image_matches).  The video threshold is
      deliberately COVERAGE grain, not the fp-share pair grain: each
      frame match is an exact hamming-verified containment of a
      specific corpus image (strong evidence individually, unlike
      low-entropy fingerprint shares), so the right question is "how
      many of this video's frames are already-known content".
      Cross-modal legs read their index with the CURRENT BATCH's ids
      anti-joined out, the cross-modal generalization of survivor
      self-exclusion: a crash between index extends and the replay
      reaches identical decisions whether or not the other modality's
      extend landed.  Same-batch arrivals are handled by a
      batch-internal leg (pure function of the batch — no replay
      hazard): an image contained in a batch-mate video drops, while
      a video composed of batch-mate images deliberately survives
      carrying them (the superset-content rule; the coverage
      rejection runs only against the corpus index).

    Scale shape per batch: four narrow decode+fingerprint maps (one
    per present modality) + one equi-join per lane against its
    read-time-capped index + one batch-internal self-join per lane +
    keyed writes.  Nothing re-decodes, nothing is all-pairs, and an
    absent modality costs one empty filter.

    `n_buckets` opts every NEWLY-created table this loop maintains —
    target, ledger and all indexes — into the bucket-partitioned
    layout (sources/bucketed.py), making each keyed write
    O(|touched buckets|) instead of O(table); existing tables keep
    their own layout either way, and mixed layouts across the tables
    are fine (the layout is per-table, resolved from its sidecar)."""
    from datawarehouse_code_spark.operators.media_dedup import (
        audio_fingerprints_quarantine,
        build_dhash_index,
        image_fingerprints_quarantine,
        phash_view,
    )
    from datawarehouse_code_spark.operators.text import (
        content_defined_chunks,
    )
    from datawarehouse_code_spark.operators.video_dedup import (
        build_frame_dhash_index,
        image_video_matches,
        video_fingerprints_frames_quarantine,
        video_fingerprints_quarantine,
        video_image_matches,
    )
    from datawarehouse_code_spark.sources.acid import table_exists
    from datawarehouse_code_spark.sources.bucketed import (
        read_keyed_table,
        replace_keyed_auto,
    )

    def _modality(col: F.Column) -> F.Column:
        return F.split(col, "/").getItem(0)

    def _apply(batch: DataFrame, _batch_id: int) -> None:
        sp = batch.sparkSession
        rejected_parts: list[DataFrame] = []   # (media_id, modality)
        quarantined_parts: list[DataFrame] = []  # (media_id, modality, reason)
        # (index_path, rows, lane ids, key col) — the text index keeps
        # the CDC tooling's native doc_id key so cap_hot_chunks /
        # cdc_matches_incremental read it unchanged
        index_extends: list[tuple[str, DataFrame, DataFrame, str]] = []

        # lane presence, ONE routing agg per batch (r13 ADVICE): a
        # single-modality feed must not pay three empty decode maps
        # plus their lineage-cut materializations per micro-batch
        # — the per-lane blocks below are skipped entirely when the
        # batch has no rows matching that lane's exact prefix
        # predicate (skipping an empty lane changes no decision: an
        # empty fingerprint set rejects nothing, and an empty index
        # extend was a no-op; the only observable difference is that
        # an index table is not CREATED until its modality first
        # appears, which every reader already gates on table_exists)
        _pr = batch.agg(*[
            F.max(
                F.col("media_type").startswith(pfx).cast("int")
            ).alias(name)
            for name, pfx in (
                ("text", "text/"), ("image", "image/"),
                ("audio", "audio/"), ("video", "video/"),
            )
        ]).collect()[0]
        present = {k for k in ("text", "image", "audio", "video") if _pr[k]}

        if "text" in present:
            # ---- text lane: CDC chunk gate over the `text` column
            docs = batch.filter(F.col("media_type").startswith("text/"))
            null_docs = docs.filter(F.col("text").isNull()).select(
                "media_id",
                F.lit("text").alias("modality"),
                F.lit("null text").alias("reason"),
            )
            quarantined_parts.append(null_docs)
            chunks = cut_lineage(
                content_defined_chunks(
                    docs.filter(F.col("text").isNotNull())
                    .select(F.col("media_id").alias("doc_id"), "text")
                ).filter(F.col("n_words") >= min_words).select(
                    "doc_id", "chunk_idx", "chunk_hash", "n_words"
                )
            )
            rejected_parts.append(
                _chunk_gate_rejects(
                    sp, chunks, text_index_path, min_shared, hot_chunk_cap
                ).select(F.col("doc_id").alias("media_id"),
                         F.lit("text").alias("modality"))
            )
            index_extends.append(
                (text_index_path, chunks,
                 docs.select(F.col("media_id").alias("doc_id")), "doc_id")
            )

        if "image" in present:
            # ---- image lane: perceptual gate — dHash always, pHash and
            # reverse cross-modal when their indexes are configured (one
            # decode feeds all legs, with the quarantine lane in the same
            # pass)
            images = batch.filter(F.col("media_type").startswith("image/"))
            iq = cut_lineage(image_fingerprints_quarantine(images))
            quarantined_parts.append(
                iq.filter(F.col("decode_error").isNotNull()).select(
                    "media_id", F.lit("image").alias("modality"),
                    F.col("decode_error").alias("reason"),
                )
            )
            ihealthy = iq.filter(F.col("decode_error").isNull())
            ihashes = ihealthy.select(
                "media_id", "b0", "b1", "b2", "b3", "dhash"
            )
            rejected_parts.append(
                _dhash_gate_rejects(
                    sp, ihashes, image_index_path, max_hamming, band_cap
                ).select("media_id", F.lit("image").alias("modality"))
            )
            index_extends.append(
                (image_index_path,
                 build_dhash_index(None, hashes=ihashes),
                 images.select("media_id"), "media_id")
            )
            if image_phash_index_path is not None:
                iphashes = phash_view(ihealthy)
                rejected_parts.append(
                    _dhash_gate_rejects(
                        sp, iphashes, image_phash_index_path,
                        max_hamming, band_cap,
                    ).select("media_id", F.lit("image").alias("modality"))
                )
                index_extends.append(
                    (image_phash_index_path,
                     build_dhash_index(None, hashes=iphashes),
                     images.select("media_id"), "media_id")
                )
            if (
                frame_index_path is not None
                and table_exists(sp, frame_index_path)
            ):
                # a new image contained in an already-ingested video
                # (batch's own videos anti-joined out — see docstring)
                fidx = read_keyed_table(sp, frame_index_path).join(
                    batch.select("media_id"), "media_id", "left_anti"
                )
                rejected_parts.append(
                    image_video_matches(
                        ihashes, fidx,
                        max_hamming=max_hamming, band_cap=band_cap,
                    )
                    .select(F.col("image_id").alias("media_id"))
                    .distinct()
                    .withColumn("modality", F.lit("image"))
                )

        if "audio" in present:
            # ---- audio lane: energy-gram gate
            audio = batch.filter(F.col("media_type").startswith("audio/"))
            aq = cut_lineage(audio_fingerprints_quarantine(audio))
            quarantined_parts.append(
                aq.filter(F.col("decode_error").isNotNull()).select(
                    "media_id", F.lit("audio").alias("modality"),
                    F.col("decode_error").alias("reason"),
                )
            )
            afps = aq.filter(
                F.col("decode_error").isNull() & F.col("fp").isNotNull()
            ).select("media_id", "fp")
            rejected_parts.append(
                _fp_gate_rejects(
                    sp, afps, audio_index_path, min_shared, hot_cap
                ).select("media_id", F.lit("audio").alias("modality"))
            )
            index_extends.append(
                (audio_index_path, afps, audio.select("media_id"), "media_id")
            )

        if "video" in present:
            # ---- video lane: temporal-gram gate + forward cross-modal
            # when the frame index is configured (one container walk +
            # decode feeds grams, frame rows and the quarantine lane;
            # with the frame legs OFF the grams-only map avoids
            # materializing per-frame rows no consumer reads)
            video = batch.filter(F.col("media_type").startswith("video/"))
            if frame_index_path is not None:
                vq = cut_lineage(video_fingerprints_frames_quarantine(video))
            else:
                vq = cut_lineage(video_fingerprints_quarantine(video))
            quarantined_parts.append(
                vq.filter(F.col("decode_error").isNotNull()).select(
                    "media_id", F.lit("video").alias("modality"),
                    F.col("decode_error").alias("reason"),
                )
            )
            vfps = vq.filter(
                F.col("decode_error").isNull() & F.col("fp").isNotNull()
            ).select("media_id", "fp")
            rejected_parts.append(
                _fp_gate_rejects(
                    sp, vfps, video_index_path, min_shared, hot_cap
                ).select("media_id", F.lit("video").alias("modality"))
            )
            index_extends.append(
                (video_index_path, vfps, video.select("media_id"), "media_id")
            )
            if frame_index_path is not None:
                vframes = vq.filter(F.col("frame_idx").isNotNull()).select(
                    "media_id", "frame_idx", "b0", "b1", "b2", "b3"
                )
                # batch-internal cross-modal: an image contained in a
                # batch-mate video drops — a pure function of the batch,
                # so no replay hazard, and it closes the same-batch blind
                # window in the image→video direction.  Deliberately
                # one-directional: the video is the SUPERSET content, so
                # a video composed of batch-mate images survives carrying
                # them (dropping both sides would lose the content
                # entirely); the video coverage rule runs only against
                # the CORPUS index below.  Like the same-modality gates,
                # decisions are computed on the raw batch — an image
                # contained in a video that itself gets rejected still
                # drops (the smaller-id convention's cross-modal twin).
                # Skipped when the batch has no images (`ihashes` only
                # exists inside the image lane, and an empty image
                # side can contain nothing).
                if "image" in present:
                    rejected_parts.append(
                        video_image_matches(
                            vframes,
                            build_dhash_index(None, hashes=ihashes),
                            max_hamming=max_hamming, band_cap=band_cap,
                        )
                        .select(F.col("image_id").alias("media_id"))
                        .distinct()
                        .withColumn("modality", F.lit("image"))
                    )
                if table_exists(sp, image_index_path):
                    # a new video whose frames are mostly already-known
                    # images (coverage grain — see docstring; batch's own
                    # images anti-joined out)
                    iidx = read_keyed_table(sp, image_index_path).join(
                        batch.select("media_id"), "media_id", "left_anti"
                    )
                    rejected_parts.append(
                        video_image_matches(
                            vframes, iidx,
                            max_hamming=max_hamming, band_cap=band_cap,
                        )
                        .groupBy("video_id")
                        .agg(
                            F.countDistinct("frame_idx").alias("_nf")
                        )
                        .filter(F.col("_nf") >= min_shared_frames)
                        .select(F.col("video_id").alias("media_id"))
                        .withColumn("modality", F.lit("video"))
                    )
                index_extends.append(
                    (frame_index_path, build_frame_dhash_index(vframes),
                     video.select("media_id"), "media_id")
                )

        # ---- unrouteable media_type -> quarantine.  NULL-safe: a
        # NULL media_type matches NO lane filter (startswith yields
        # NULL) and would slip past per-prefix negations too — the
        # coalesce routes it here instead of silently accepting an
        # un-gated payload into the target
        known = ("text/", "image/", "audio/", "video/")
        routed = F.lit(False)
        for p in known:
            routed = routed | F.col("media_type").startswith(p)
        unknown = batch.filter(~F.coalesce(routed, F.lit(False)))
        quarantined_parts.append(
            unknown.select(
                "media_id",
                F.coalesce(
                    _modality(F.col("media_type")), F.lit("unknown")
                ).alias("modality"),
                F.concat(
                    F.lit("unsupported media_type: "),
                    F.coalesce(F.col("media_type"), F.lit("NULL")),
                ).alias("reason"),
            )
        )

        # rejected_parts is empty when NO modality lane ran (an
        # all-unknown batch — every row quarantines above)
        rejected = (
            rejected_parts[0]
            if rejected_parts
            else sp.createDataFrame([], "media_id BIGINT, modality STRING")
        )
        for p in rejected_parts[1:]:
            rejected = rejected.unionByName(p)
        quarantined = quarantined_parts[0]
        for p in quarantined_parts[1:]:
            quarantined = quarantined.unionByName(p)
        # decisions feed the target write, the index extends and the
        # ledger — materialize them once.  distinct: an item rejected
        # by several legs (dHash AND pHash, gate AND cross-modal)
        # must still write ONE ledger row (replace_keyed inserts all
        # update rows, so duplicates would survive the keyed delete)
        rejected = cut_lineage(rejected.distinct())
        quarantined = cut_lineage(quarantined)

        dropped = rejected.select("media_id").unionByName(
            quarantined.select("media_id")
        ).distinct()
        survivors = batch.join(dropped, "media_id", "left_anti")
        replace_keyed_auto(
            sp, target_path, survivors, ["media_id"], n_buckets=n_buckets,
            owner=checkpoint_dir,
        )

        surviving_ids = survivors.select("media_id")
        for index_path, rows, lane_ids, key in index_extends:
            sids = surviving_ids.select(F.col("media_id").alias(key))
            kept = rows.join(sids, key, "left_semi")
            keys = lane_ids.join(sids, key, "left_semi")
            # keys = the lane's SURVIVOR ids (rejects keep their
            # previously-ingested rows; a survivor re-delivered
            # with zero fingerprint rows still sheds old ones)
            replace_keyed_auto(
                sp, index_path, kept, [key], keys=keys,
                n_buckets=n_buckets,
                owner=checkpoint_dir,
            )

        ledger = (
            survivors.select(
                "media_id",
                _modality(F.col("media_type")).alias("modality"),
                F.lit("accepted").alias("status"),
                F.lit(None).cast("string").alias("reason"),
            )
            .unionByName(
                rejected.select(
                    "media_id", "modality",
                    F.lit("rejected").alias("status"),
                    F.lit("near-duplicate").alias("reason"),
                )
            )
            .unionByName(
                quarantined.select(
                    "media_id", "modality",
                    F.lit("quarantined").alias("status"), "reason",
                )
            )
        )
        replace_keyed_auto(
            sp, ledger_path, ledger, ["media_id"],
            keys=batch.select("media_id"), n_buckets=n_buckets,
            owner=checkpoint_dir,
        )

    _drain(feed, _apply, checkpoint_dir)
