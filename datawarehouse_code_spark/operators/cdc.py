"""Change-data-capture application: collapse a change log to state.

The reference's load loop re-reads full source tables every run
(warehouse.py:25-43); the production pattern it approximates is a CDC
feed — an append-only log of (key, operation, sequence, payload)
rows from upstream OLTP — applied to the warehouse as latest-wins
upsert + delete.  Spark-first that is ONE window pass, not a per-row
loop:

  rank change rows per key by sequence (descending) → keep rank 1 →
  drop keys whose latest operation is a delete.

Scale shape: a single shuffle on the key (the window partition);
row_number short-circuits per key, no self-join against "current
state", and the output feeds sources/acid.replace_keyed (the keyed
upsert, a staged parquet overwrite) for the actual table write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cdc_latest(
    changes: DataFrame,
    key: list[str],
    seq_col: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Latest-wins state from a CDC change log.

    `seq_col` must totally order each key's changes (log offset, LSN,
    commit timestamp + tiebreak).  Ties within a key would make the
    survivor nondeterministic, so equal sequence values raise at
    runtime via a strict uniqueness check folded into the same window
    pass (count over the (key, seq) frame — no extra shuffle).
    """
    w = Window.partitionBy(*key).orderBy(F.col(seq_col).desc())
    wdup = Window.partitionBy(*key, seq_col)
    ranked = changes.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_nseq", F.count(F.lit(1)).over(wdup)
    )
    latest = ranked.filter(F.col("_rn") == 1)
    # The guards live INSIDE the filter condition (a dropped helper
    # column would be pruned by Catalyst and never evaluated).  Ties
    # below the survivor rank are harmless and deliberately ignored;
    # a tie AT the survivor would make row_number's pick arbitrary,
    # so it fails loudly — and so does a NULL op on the survivor
    # (`op != 'D'` would evaluate to NULL and silently drop the key,
    # indistinguishable from a legitimate delete).
    def _raise(msg: str) -> F.Column:
        return F.raise_error(
            F.concat(
                F.lit(msg),
                F.concat_ws("/", *[F.col(k).cast("string") for k in key]),
            )
        ).cast("boolean")

    keep = (
        F.when(F.col("_nseq") > 1,
               _raise("cdc_latest: duplicate sequence value for key "))
        .when(F.col(op_col).isNull(),
              _raise("cdc_latest: NULL operation on surviving change for key "))
        .otherwise(F.col(op_col) != delete_op)
    )
    return latest.filter(keep).drop("_rn", "_nseq", op_col)


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Snapshot diff — the GENERATING side of CDC (cdc_latest is the
    applying side): classify every key as insert ('I', in new only),
    delete ('D', in old only), or update ('U', present in both with
    any compared column differing, NULL-safely).  Unchanged keys are
    dropped.  Diff two commits of a versioned table
    (sources/versioned.read_version) to get the change feed a
    downstream consumer replays — or regression-check a rebuilt
    warehouse against the previous build.

    Output: op, keys..., compared columns (the NEW side's values;
    deletes carry the old values — the only ones that exist).
    Completeness contract (pinned by test): applying the diff to
    `old` — drop 'D' keys, upsert 'I'/'U' rows — reconstructs `new`
    exactly.

    Scale shape: ONE null-safe full-outer shuffle join on the keys;
    the unchanged majority is filtered before any downstream work.
    Both sides pay one scan — at 100 TB run it on key-partitioned or
    bucketed tables so the join co-locates.
    """
    if compare_cols is None:
        compare_cols = [c for c in new.columns if c not in keys]
    missing = [c for c in compare_cols if c not in old.columns]
    if missing:
        raise ValueError(f"compare_cols absent from old side: {missing}")
    overlap = [c for c in compare_cols if c in keys]
    if overlap:
        # a key in compare_cols would emit duplicate output column
        # names (key alias + value alias collide) and only fail
        # downstream as an ambiguous reference — reject it here
        raise ValueError(
            f"compare_cols overlap keys {overlap}; keys identify rows "
            "and cannot also be compared values"
        )
    # presence markers, not key-NULL probes: a row whose KEY is NULL
    # is still a row (eqNullSafe matches NULL keys), and testing
    # o.key IS NOT NULL would misclassify it as absent
    o = old.select(*keys, *compare_cols, F.lit(True).alias("_in_o")).alias("o")
    n = new.select(*keys, *compare_cols, F.lit(True).alias("_in_n")).alias("n")
    cond = [F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}")) for k in keys]
    joined = o.join(n, cond, "full_outer")
    in_old = F.col("o._in_o").isNotNull()
    in_new = F.col("n._in_n").isNotNull()
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    op = (
        F.when(~in_old, F.lit("I"))
        .when(~in_new, F.lit("D"))
        .when(changed, F.lit("U"))
    )
    # side selection by PRESENCE, not coalesce: an update that sets a
    # column to NULL must emit NULL — coalesce(new, old) would
    # resurrect the old value (and a NULL new key would do the same)
    key_cols = [
        F.when(in_new, F.col(f"n.{k}")).otherwise(F.col(f"o.{k}")).alias(k)
        for k in keys
    ]
    val_cols = [
        F.when(in_new, F.col(f"n.{c}")).otherwise(F.col(f"o.{c}")).alias(c)
        for c in compare_cols
    ]
    return (
        joined.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select("op", *key_cols, *val_cols)
    )  # marker cols dropped by the select


def apply_diff(
    target: DataFrame, diff: DataFrame, keys: list[str]
) -> DataFrame:
    """Apply an I/U/D feed (table_diff's output shape: op + keys +
    values) to a table: drop every diffed key from the target, then
    add back the insert/update rows — one null-safe anti-join + a
    union, the closing half of the diff→feed→apply loop
    (table_diff(old, new) applied to old IS new; pinned by test).

    Deletes need no special case: a 'D' key is dropped by the
    anti-join and not re-added.  Scale shape: one shuffle join on the
    keys against the (small) diff — broadcastable when the diff is a
    normal increment."""
    d = diff.alias("d")
    t = target.alias("t")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"d.{k}")) for k in keys]
    untouched = t.join(d.select(*keys), cond, "left_anti")
    upserts = diff.filter(F.col("op") != "D").drop("op")
    return untouched.unionByName(upserts)
