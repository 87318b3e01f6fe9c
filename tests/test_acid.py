"""Atomic parquet writes (sources/acid.py): keyed replace (and its
``keys=None`` keyed-upsert form), SCD2 apply, staged-swap crash
recovery and the whole-table lane's writer lease.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehouse_code_spark.operators.scd import scd2_init
from datawarehouse_code_spark.sources.acid import replace_keyed, scd2_apply


def _base(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id BIGINT, name STRING, bal DOUBLE",
    )


def test_upsert_parquet_fallback(spark, tmp_path):
    path = str(tmp_path / "t")
    _base(spark).write.parquet(path)
    updates = spark.createDataFrame(
        [(2, "b", 25.0), (4, "d", 40.0)], "id BIGINT, name STRING, bal DOUBLE"
    )
    replace_keyed(spark, path, updates, ["id"])
    got = {
        (r.id, r.name, r.bal) for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "a", 10.0), (2, "b", 25.0), (3, "c", 30.0), (4, "d", 40.0)}
    # no staging leftovers
    assert not list(tmp_path.glob("*._staging"))


def test_scd2_apply_parquet_fallback(spark, tmp_path):
    path = str(tmp_path / "dim")
    scd2_init(_base(spark), "2023-01-01").write.parquet(path)
    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 99.0), (4, "d", 40.0)],
        "id BIGINT, name STRING, bal DOUBLE",
    )
    scd2_apply(spark, path, snap, ["id"], ["name", "bal"], "2024-06-01")
    dim = spark.read.parquet(path)
    cur = {(r.id, r.bal) for r in dim.filter("is_current").collect()}
    # unchanged 1 + 3 carried, 2 reopened at 99, 4 opened
    assert cur == {(1, 10.0), (2, 99.0), (3, 30.0), (4, 40.0)}
    closed = dim.filter(~F.col("is_current")).collect()
    assert [(r.id, r.bal, str(r.valid_to)) for r in closed] == [
        (2, 20.0, "2024-06-01")
    ]


# --- staged-swap crash recovery (recover_interrupted_swap) ----------
#
# Crash states are SIMULATED with plain file ops: a mid-swap crash of
# _staged_overwrite leaves target absent with `._old` (complete old
# table) and `._staging` (complete new table, has _SUCCESS) on disk; a
# crash during the staged write leaves `._staging` partial (no
# _SUCCESS).  recover_interrupted_swap must restore "target holds one
# complete table" and table_exists must never read a recoverable state
# as 'absent' (the silent-loss window: an exists-probe miss would
# re-create the table from one batch).

import shutil
from pathlib import Path

from datawarehouse_code_spark.sources.acid import (
    recover_interrupted_swap,
    table_exists,
)


def _ids(spark, path):
    return {r.id for r in spark.read.parquet(str(path)).collect()}


def test_recover_rolls_forward_midswap(spark, tmp_path):
    """Target absent, old + complete staging present -> finish the
    swap: the STAGED (new) table wins, leftovers removed."""
    target = tmp_path / "t"
    _base(spark).write.parquet(str(target))
    new = spark.createDataFrame([(9, "z", 9.0)], "id BIGINT, name STRING, bal DOUBLE")
    new.write.parquet(str(tmp_path / "t._staging"))
    assert (tmp_path / "t._staging" / "_SUCCESS").exists()
    target.rename(tmp_path / "t._old")  # crash between the two renames

    assert recover_interrupted_swap(spark, str(target)) == "rolled_forward"
    assert _ids(spark, target) == {9}
    assert not (tmp_path / "t._old").exists()
    assert not (tmp_path / "t._staging").exists()


def test_recover_rolls_back_partial_staging(spark, tmp_path):
    """Target absent, old present, staging INCOMPLETE (no _SUCCESS) ->
    the old table is the only complete copy: roll it back."""
    target = tmp_path / "t"
    _base(spark).write.parquet(str(target))
    (tmp_path / "t._staging").mkdir()
    (tmp_path / "t._staging" / "part-00000.parquet").write_bytes(b"partial")
    target.rename(tmp_path / "t._old")

    assert recover_interrupted_swap(spark, str(target)) == "rolled_back"
    assert _ids(spark, target) == {1, 2, 3}
    assert not (tmp_path / "t._old").exists()


def test_recover_cleans_stale_old(spark, tmp_path):
    """Target live + `._old` leftover (crash after the staged rename
    landed, before the delete) -> the leftover goes, target stays."""
    target = tmp_path / "t"
    _base(spark).write.parquet(str(target))
    shutil.copytree(target, tmp_path / "t._old")

    assert recover_interrupted_swap(spark, str(target)) == "cleaned_stale_old"
    assert _ids(spark, target) == {1, 2, 3}
    assert not (tmp_path / "t._old").exists()


def test_recover_noop_on_fresh_and_live_paths(spark, tmp_path):
    assert recover_interrupted_swap(spark, str(tmp_path / "nope")) is None
    target = tmp_path / "t"
    _base(spark).write.parquet(str(target))
    assert recover_interrupted_swap(spark, str(target)) is None
    assert _ids(spark, target) == {1, 2, 3}


def test_table_exists_reads_midswap_as_exists(spark, tmp_path):
    """The probe repairs the crash state first, so an upsert after a
    mid-swap crash MERGES with the recovered table instead of
    re-creating it from one batch (the data-loss scenario)."""
    target = tmp_path / "t"
    _base(spark).write.parquet(str(target))
    # complete staged copy of the same table, then the first rename
    spark.read.parquet(str(target)).write.parquet(str(tmp_path / "t._staging"))
    target.rename(tmp_path / "t._old")

    assert table_exists(spark, str(target))  # recovered, not 'absent'
    updates = spark.createDataFrame([(4, "d", 40.0)], "id BIGINT, name STRING, bal DOUBLE")
    replace_keyed(spark, str(target), updates, ["id"])
    assert _ids(spark, target) == {1, 2, 3, 4}  # nothing lost


def test_upsert_with_file_uri_target(spark, tmp_path):
    """The Hadoop-FS swap works against a `file:` URI, which the old
    pathlib/os.path implementation could not handle."""
    uri = f"file:{tmp_path}/t"
    _base(spark).write.parquet(uri)
    updates = spark.createDataFrame(
        [(2, "b", 25.0), (4, "d", 40.0)], "id BIGINT, name STRING, bal DOUBLE"
    )
    assert table_exists(spark, uri)
    replace_keyed(spark, uri, updates, ["id"])
    got = {(r.id, r.bal) for r in spark.read.parquet(uri).collect()}
    assert got == {(1, 10.0), (2, 25.0), (3, 30.0), (4, 40.0)}
    assert not (tmp_path / "t._staging").exists()
    assert not (tmp_path / "t._old").exists()


# --- keyed upsert vs an independent simulated MERGE -----------------
#
# The same multi-round upsert sequence replays through (a) the shipped
# anti-join keyed replace (replace_keyed with keys=None) and (b) an
# independent file-level simulated MERGE that does physically what a
# table format's whenMatchedUpdateAll/whenNotMatchedInsertAll does —
# rewrite ONLY the files containing matched keys, append one file for
# the inserts.  Identical tables after every round pin the parquet
# lane's upsert semantics against a reference that shares no code
# with it.


def _simulated_file_merge(table_dir: Path, updates: "list[tuple]", cols):
    """Reference MERGE on parquet files via pandas: per file, replace
    rows whose key matches an update; unmatched updates land in one
    new file.  Key = first column."""
    import pandas as pd

    upd = {u[0]: u for u in updates}
    matched = set()
    for f in sorted(table_dir.glob("*.parquet")):
        pdf = pd.read_parquet(f)
        hit = pdf[cols[0]].isin(upd.keys())
        if hit.any():
            rows = []
            for t in pdf.itertuples(index=False):
                if t[0] in upd:
                    rows.append(upd[t[0]])
                    matched.add(t[0])
                else:
                    rows.append(tuple(t))
            pd.DataFrame(rows, columns=cols).to_parquet(f, index=False)
    inserts = [u for k, u in upd.items() if k not in matched]
    if inserts:
        n = len(list(table_dir.glob("*.parquet")))
        pd.DataFrame(inserts, columns=cols).to_parquet(
            table_dir / f"part-insert-{n:05d}.parquet", index=False
        )


def test_upsert_fallback_equals_simulated_merge(spark, tmp_path):
    """Three rounds of overlapping upserts: after each, the anti-join
    keyed-replace table equals the file-level simulated MERGE table."""
    import pandas as pd

    cols = ["id", "name", "bal"]
    seed = [(i, chr(97 + i % 26), float(i) * 10) for i in range(1, 41)]
    seed_df = spark.createDataFrame(seed, "id BIGINT, name STRING, bal DOUBLE")

    a = str(tmp_path / "fallback")
    seed_df.repartition(4, "id").write.parquet(a)
    b = tmp_path / "simulated"
    b.mkdir()
    # same physical seed layout for the simulated side
    for i, f in enumerate(sorted((tmp_path / "fallback").glob("*.parquet"))):
        pd.read_parquet(f).to_parquet(b / f"part-{i:05d}.parquet", index=False)

    rounds = [
        # update some, insert some
        [(2, "B", 2.5), (41, "new", 410.0), (7, "G", 7.7)],
        # re-update a previous insert + touch keys in several files
        [(41, "NEW", 411.0), (1, "A", 1.1), (40, "Z", 40.4), (50, "x", 0.0)],
        # pure inserts
        [(60, "p", 6.0), (61, "q", 6.1)],
    ]
    for ups in rounds:
        upd_df = spark.createDataFrame(ups, "id BIGINT, name STRING, bal DOUBLE")
        replace_keyed(spark, a, upd_df, ["id"])
        _simulated_file_merge(b, ups, cols)

        got_a = {tuple(r) for r in spark.read.parquet(a).collect()}
        got_b = {
            tuple(r)
            for f in b.glob("*.parquet")
            for r in pd.read_parquet(f).itertuples(index=False)
        }
        assert got_a == got_b, "fallback and simulated MERGE diverged"
    # sanity: the merge actually exercised both match and insert paths
    assert {r[0] for r in got_a} == set(range(1, 41)) | {41, 50, 60, 61}


# ---------------------------------------------------------------------------
# The SCD2 load as a MERGE is the one shape the upsert replay above
# does not cover: a 2-branch source (close-rows match their open target
# version, open-rows match nothing) merged on (key, valid_from).  Same
# doctrine: replay a multi-round SCD2 load through (a) the shipped
# scd2_apply (full scd2_merge + staged overwrite) and (b) an
# independent file-level simulated MERGE that does physically what a
# table format's whenMatchedUpdateAll/whenNotMatchedInsertAll would —
# rewrite only files containing matched (key, valid_from) rows, append
# one file for the inserts — fed only the change rows (merged filtered
# to valid_to == load_date OR valid_from == load_date).  Equality after
# every round pins scd2_apply ≡ MERGE; a same-date replay pins the
# idempotence claim.


def _scd2_arrow_schema():
    import pyarrow as pa

    # explicit schema: an all-NULL valid_to column must stay DATE
    # through the file rewrites (pandas would degrade it to null/int)
    return pa.schema(
        [("id", pa.int64()), ("city", pa.string()), ("tier", pa.string()),
         ("valid_from", pa.date32()), ("valid_to", pa.date32()),
         ("is_current", pa.bool_())]
    )


def _simulated_scd2_file_merge(table_dir: Path, changes: "list[dict]", cols):
    """Reference MERGE on parquet files via pyarrow, merge key =
    (id, valid_from): matched rows are replaced in place (update-all),
    unmatched change rows land in one new file (insert-all)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = _scd2_arrow_schema()
    upd = {(c["id"], c["valid_from"]): c for c in changes}
    matched = set()
    for f in sorted(table_dir.glob("*.parquet")):
        rows, hit = [], False
        for d in pq.read_table(f).to_pylist():
            mk = (d["id"], d["valid_from"])
            if mk in upd:
                rows.append(upd[mk])
                matched.add(mk)
                hit = True
            else:
                rows.append(d)
        if hit:
            pq.write_table(pa.Table.from_pylist(rows, schema=schema), f)
    inserts = [c for mk, c in upd.items() if mk not in matched]
    if inserts:
        n = len(list(table_dir.glob("*.parquet")))
        pq.write_table(
            pa.Table.from_pylist(inserts, schema=schema),
            table_dir / f"part-insert-{n:05d}.parquet",
        )


def test_scd2_apply_fallback_equals_simulated_merge(spark, tmp_path):
    """Three SCD2 loads (changes + new keys + an unchanged majority),
    then a same-date replay: after every step the scd2_apply table
    equals the file-level simulated 2-branch MERGE table."""
    from datawarehouse_code_spark.operators.scd import scd2_init, scd2_merge
    from datawarehouse_code_spark.sources.acid import scd2_apply

    def snap_df(rows):
        return spark.createDataFrame(rows, "id BIGINT, city STRING, tier STRING")

    base = [(i, "nyc" if i % 3 else "sfo", "t1") for i in range(1, 21)]
    a = str(tmp_path / "fallback")
    scd2_init(snap_df(base), "2024-01-01").repartition(4, "id").write.parquet(a)
    b = tmp_path / "simulated"
    b.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = _scd2_arrow_schema()
    for i, f in enumerate(sorted((tmp_path / "fallback").glob("*.parquet"))):
        tbl = pq.read_table(f)
        pq.write_table(
            pa.Table.from_pylist(tbl.to_pylist(), schema=schema),
            b / f"part-{i:05d}.parquet",
        )
    cols = ["id", "city", "tier", "valid_from", "valid_to", "is_current"]

    def rows_of(city_moves, new_ids, tier_ups):
        out = []
        for i, c, t in base:
            city = city_moves.get(i, c)
            tier = tier_ups.get(i, t)
            out.append((i, city, tier))
        out += [(i, "ber", "t3") for i in new_ids]
        return out

    rounds = [
        ("2024-02-01", rows_of({2: "la", 5: "la"}, [21], {})),
        # move a previously-changed key again + a new key + tier change
        ("2024-03-01", rows_of({2: "chi"}, [21, 22], {7: "t2"})),
        # replay round 2 verbatim: MERGE idempotence (matched rows
        # update to identical values, nothing inserts)
        ("2024-03-01", rows_of({2: "chi"}, [21, 22], {7: "t2"})),
    ]
    for load_date, rows in rounds:
        snapshot = snap_df(rows)
        scd2_apply(spark, a, snapshot, ["id"], ["city", "tier"], load_date)

        # the change set: only the closed and the opened versions
        sim_dim = spark.read.parquet(str(b))
        merged = scd2_merge(sim_dim, snapshot, ["id"], ["city", "tier"], load_date)
        ld = F.to_date(F.lit(load_date))
        changes = [
            r.asDict()
            for r in merged.filter(
                F.col("valid_to").eqNullSafe(ld) | (F.col("valid_from") == ld)
            ).collect()
        ]
        _simulated_scd2_file_merge(b, changes, cols)

        got_a = {tuple(r) for r in spark.read.parquet(a).collect()}
        got_b = {tuple(r) for r in spark.read.parquet(str(b)).collect()}
        assert got_a == got_b, f"diverged at load {load_date}"

    # the history actually exercised every branch: closed versions for
    # 2 (twice), 5, 7; open rows for the new keys; carried majority
    final = spark.read.parquet(a)
    assert final.filter(~F.col("is_current")).count() == 5
    assert final.filter(F.col("id") == 2).count() == 3
    assert final.count() == 22 + 5


def test_replace_keyed_drops_stale_one_to_many_rows(spark, tmp_path):
    """replace_keyed: a key re-delivered with FEWER payload rows
    leaves no residue from its earlier delivery (the stale-chunk-index
    hazard a (doc_id, chunk_idx)-keyed upsert cannot close), while
    untouched keys keep every row."""
    path = str(tmp_path / "idx")
    spark.createDataFrame(
        [(1, 0, "a"), (1, 1, "b"), (1, 2, "c"), (2, 0, "x"), (2, 1, "y")],
        ["doc_id", "chunk_idx", "chunk_hash"],
    ).write.parquet(path)
    # doc 1 re-delivered with revised text producing ONE chunk
    updates = spark.createDataFrame(
        [(1, 0, "a2")], ["doc_id", "chunk_idx", "chunk_hash"]
    )
    replace_keyed(spark, path, updates, ["doc_id"])
    got = {
        (r["doc_id"], r["chunk_idx"], r["chunk_hash"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, 0, "a2"), (2, 0, "x"), (2, 1, "y")}
    # replay-idempotent: the identical replace is a no-op
    replace_keyed(spark, path, updates, ["doc_id"])
    assert spark.read.parquet(path).count() == 3


def test_replace_keyed_explicit_keys_covers_zero_update_rows(
    spark, tmp_path
):
    """replace_keyed(keys=...): 'fewer rows' includes ZERO — a key in
    the explicit key set with no update row at all sheds its old rows
    (r13 ADVICE fix: callers that filter the update rows, like
    min-word chunking or too-short-to-fingerprint media, pass the
    batch's unfiltered id set so a re-delivery that filters down to
    nothing still cleans up)."""
    path = str(tmp_path / "idx")
    spark.createDataFrame(
        [(1, 0, "a"), (1, 1, "b"), (2, 0, "x"), (3, 0, "p"), (3, 1, "q")],
        ["doc_id", "chunk_idx", "chunk_hash"],
    ).write.parquet(path)
    # batch re-delivers docs 1 and 2; doc 1's revision produces one
    # chunk, doc 2's produces NONE (all below min_words) — without the
    # explicit key set doc 2's old row would survive as stale residue
    updates = spark.createDataFrame(
        [(1, 0, "a2")], ["doc_id", "chunk_idx", "chunk_hash"]
    )
    batch_keys = spark.createDataFrame([(1,), (2,)], ["doc_id"])
    replace_keyed(spark, path, updates, ["doc_id"], keys=batch_keys)
    got = {
        (r["doc_id"], r["chunk_idx"], r["chunk_hash"])
        for r in spark.read.parquet(path).collect()
    }
    # doc 2 fully gone, doc 1 replaced, untouched doc 3 intact
    assert got == {(1, 0, "a2"), (3, 0, "p"), (3, 1, "q")}
    # replay-idempotent with the same key set
    replace_keyed(spark, path, updates, ["doc_id"], keys=batch_keys)
    assert spark.read.parquet(path).count() == 3


def test_whole_table_lane_enforces_single_writer(spark, tmp_path):
    """r16 continuation: the whole-table swap lane enforces the
    single-writer contract like the bucketed lane — two concurrent
    _staged_overwrite/replace_keyed writers would race on the
    same ._staging/._old names and can interleave the swap renames
    into a mixed or vanished table, so the second raises
    ConcurrentWriterError while a foreign lease is fresh (and a
    crashed writer's stale lease still ages out)."""
    import json
    import os
    import time

    from datawarehouse_code_spark.sources.acid import ConcurrentWriterError

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    df.write.parquet(path)
    upd = spark.createDataFrame([(2, "b2"), (3, "c")], ["id", "v"])

    lease = tmp_path / "t._wlock"
    lease.write_text(json.dumps({"owner": "other-writer", "nonce": "x"}))
    with pytest.raises(ConcurrentWriterError, match="live writer lease"):
        replace_keyed(spark, path, upd, ["id"])
    with pytest.raises(ConcurrentWriterError, match="live writer lease"):
        replace_keyed(spark, path, upd, ["id"], keys=upd.select("id"))
    assert spark.read.parquet(path).count() == 2  # untouched

    # a crashed writer's stale lease is stolen and the write proceeds
    old = time.time() - 2000
    os.utime(lease, (old, old))
    replace_keyed(spark, path, upd, ["id"])
    got = {(r["id"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a"), (2, "b2"), (3, "c")}
    assert not lease.exists()  # released on commit
