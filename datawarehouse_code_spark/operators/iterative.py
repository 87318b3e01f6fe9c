"""The package's one lineage cut, plus the helpers its iterative
operators share.

Every fixpoint/fixed-round operator (pagerank, BFS, LPA, weighted
SSSP, near-dup connected components, BPE training) must cut its
lineage each round — the naive loop builds an exponentially growing
plan and re-executes the whole upstream per iteration — and many
one-shot queries materialize a frame that several consumers read.
Spark offers two cuts with different failure semantics:

- ``DataFrame.localCheckpoint()``: materializes partitions in executor
  block storage.  Fast (no distributed-FS write), but the truncated
  lineage is UNRECOVERABLE if an executor holding blocks dies — on a
  real cluster a single executor loss fails the job.  Fine on
  local[n] (one JVM: losing "the executor" loses the job anyway).
- ``DataFrame.checkpoint()``: materializes to the RELIABLE checkpoint
  directory (HDFS/object store).  Survives executor loss; costs a
  distributed write per cut.

Which one is right depends on where the job runs, so no call site
picks: :func:`cut_lineage` is the only cut in the package (pinned by
tests/test_lineage_cuts.py) and takes the reliable ``checkpoint()``
iff the session has a checkpoint directory
(``spark.sparkContext.setCheckpointDir(...)``), ``localCheckpoint()``
otherwise.  A cluster deployment that configures the dir gets
executor-loss resilience at every cut with no code change; local
runs (``get_spark`` sets no dir) keep the cheap path.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def convergence_signature(df: DataFrame, col: str) -> tuple:
    """(count, Σ`col` over decimal(38,0)) in ONE scalar agg — the
    monotone fixpoint signature shared by the iterative operators
    whose per-round update never increases an integer column over a
    fixed (or growing) row set (near_dup_components' labels,
    bfs_distances' distances): the signature moves every round until
    the fixpoint and is equal exactly AT it, so one cheap agg
    replaces a join-based changed-count — and in local-checkpoint
    mode the round's non-eager cut materializes inside this same
    job, leaving one Spark action per round.  decimal(38,0) keeps
    the Σ exact at any node count; operators over FLOAT columns must
    NOT use this (Spark's double summation is order-dependent —
    weighted_shortest_paths only qualifies because its weight/distance
    contract is integer)."""
    row = df.agg(
        F.count(col).alias("n"),
        F.sum(F.col(col).cast("decimal(38,0)")).alias("s"),
    ).collect()[0]
    return (row["n"], row["s"])


def cut_lineage(
    df: DataFrame,
    eager: bool = True,
    supersedes: DataFrame | None = None,
) -> DataFrame:
    """Truncate ``df``'s lineage: reliable ``checkpoint()`` when the
    session has a checkpoint dir, ``localCheckpoint()`` otherwise (one
    py4j probe per call, no job).

    ``eager=False`` defers the materialization to the first action
    that reads the frame — in local mode only.  A reliable cut is
    always eager: a lazy reliable checkpoint re-runs the frame's job
    to write its files, so laziness would buy a second computation.

    ``supersedes`` names the PREVIOUS cut in the same iterative chain
    — a frame this round's result replaces and nothing will read
    again.  In reliable mode each round otherwise leaves one full
    checkpoint copy of the working frame on the distributed FS: a
    20-round loop persists 20 copies of which only the last is ever
    needed.  Passing the superseded frame deletes its checkpoint files
    (:func:`release_checkpoint`) once the new cut has materialized.
    Local mode ignores it: superseded executor blocks are reclaimed by
    the ContextCleaner on driver GC.

    ONLY pass a frame that is genuinely dead.  Deleting the checkpoint
    of a frame that is referenced later makes it unrecomputable (the
    cut discarded its lineage) — permanent per-loop frames (edge
    lists, degree tables) must never be superseded.

    The TERMINAL cut of each chain (the returned result's backing
    checkpoint), like every one-shot cut, is not deleted here — the
    caller still reads it.  Sessions that set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (the
    repo's get_spark does) reclaim it when the driver GCs the
    reference; cluster deployments configuring a checkpoint dir must
    set the same conf."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=eager)
    out = df.checkpoint(eager=True)
    release_checkpoint(supersedes)
    return out


def _reliable_checkpoint_file(df: DataFrame) -> str | None:
    """Filesystem path of the reliable checkpoint backing ``df``, or
    None when there isn't one.  ``df`` must be a frame RETURNED by
    :func:`cut_lineage` — its plan is a LogicalRDD over the
    checkpointed internal RDD (wrapped in a metrics map), so walking
    the physical RDD's first-parent chain reaches the RDD whose
    checkpoint data holds the path.  ``getCheckpointFile`` answers
    None for LOCAL checkpoints by construction (only
    ReliableRDDCheckpointData carries a directory), which is what
    makes the deletion a reliable-mode-only effect."""
    try:
        r = df._jdf.queryExecution().toRdd()
        for _ in range(8):
            if r.isCheckpointed():
                f = r.getCheckpointFile()
                return f.get() if f.isDefined() else None
            deps = r.dependencies()
            if deps.size() == 0:
                return None
            r = deps.apply(0).rdd()
    except Exception:  # noqa: BLE001 — probe failure means "not found"
        return None
    return None


def release_checkpoint(df: DataFrame | None, *, unless: tuple = ()) -> None:
    """Best-effort deletion of a DEAD frame's reliable checkpoint —
    what ``cut_lineage(supersedes=...)`` runs, and called directly for
    frames that die at loop exit rather than by being replaced (the
    final frontier of a converged BFS, the n-1'th distance table).
    GC must never fail a computation that already succeeded, so
    filesystem errors warn instead of raising.  No-op for local
    checkpoints and for ``df`` identical (by object) to any frame in
    ``unless`` — the guard for loops whose first round aliases two
    chain heads to one frame."""
    if df is None or any(df is u for u in unless):
        return
    path = _reliable_checkpoint_file(df)
    if path is None:
        return
    try:
        sc = df.sparkSession.sparkContext
        jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
        fs.delete(jpath, True)
    except Exception as e:  # noqa: BLE001 — GC is best-effort
        warnings.warn(
            f"failed to delete dead checkpoint {path}: {e}",
            RuntimeWarning,
            stacklevel=2,
        )
