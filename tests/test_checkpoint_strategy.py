"""The session-decided lineage cut (operators/iterative.cut_lineage).

Every lineage cut in the package goes through ``cut_lineage``, which
takes the RELIABLE ``checkpoint()`` iff the session has a checkpoint
directory and ``localCheckpoint()`` otherwise.  These tests pin:

- the rule itself (no ReliableCheckpointRDD without a dir, one with
  a dir; a reliable cut is eager even when asked for a lazy one);
- reliable mode actually materializes to the checkpoint dir (files
  appear; the result frame's RDD lineage shows ReliableCheckpointRDD)
  — executor-loss resilience on a real cluster, the property
  localCheckpoint lacks — for the iterative operators and for a
  one-shot query operator (cdc_containment);
- every operator returns identical results with and without a dir;
- superseded and dead reliable checkpoints are deleted.

The checkpoint dir is unset after each test so the shared session's
other tests keep the cheap local path.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def set_ckpt_dir(spark):
    """Yields ``set(d)``: point the session's checkpoint dir at ``d``,
    or unset it with ``None``.  The dir is unset after the test."""
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None, (
        "shared test session unexpectedly has a checkpoint dir"
    )
    yield sc.setCheckpointDir
    # SparkContext.setCheckpointDir(None) unsets (Option(null) -> None)
    sc.setCheckpointDir(None)
    assert sc.getCheckpointDir() is None


@pytest.fixture()
def ckpt_dir(set_ckpt_dir, tmp_path):
    d = str(tmp_path / "reliable_ckpt")
    set_ckpt_dir(d)
    return d


def _n_ckpt_files(d: str) -> int:
    return sum(len(files) for _, _, files in os.walk(d))


def _rows(df) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def _is_reliable(df) -> bool:
    return "ReliableCheckpointRDD" in df.rdd.toDebugString().decode()


def test_resolve_modes(spark):
    """No checkpoint dir: the cut is local, with no checkpoint file."""
    from datawarehouse_code_spark.operators.iterative import (
        _reliable_checkpoint_file,
        cut_lineage,
    )

    assert spark.sparkContext.getCheckpointDir() is None
    local = cut_lineage(spark.range(3))
    assert not _is_reliable(local)
    assert _reliable_checkpoint_file(local) is None
    lazy = cut_lineage(spark.range(4), eager=False)
    assert not _is_reliable(lazy)
    assert local.count() == 3 and lazy.count() == 4


def test_resolve_auto_prefers_reliable_with_dir(spark, ckpt_dir):
    """Dir set: a reliable cut, and eager even when called with
    eager=False (a lazy reliable checkpoint would re-run the frame's
    job to write its files)."""
    from datawarehouse_code_spark.operators.iterative import (
        _reliable_checkpoint_file,
        cut_lineage,
    )

    reliable = cut_lineage(spark.range(3))
    assert _is_reliable(reliable)
    lazy = cut_lineage(spark.range(4), eager=False)
    f = _reliable_checkpoint_file(lazy)  # written without an action
    assert f is not None and os.path.exists(f.replace("file:", ""))
    assert reliable.count() == 3 and lazy.count() == 4


def test_pagerank_reliable_checkpoints_and_matches_local(
    spark, ckpt_dir, set_ckpt_dir
):
    from datawarehouse_code_spark.operators.graph import pagerank_fixed

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3)], ["src", "dst"]
    )
    # checkpoint_every=1 so the RETURNED frame is itself checkpointed
    reliable = pagerank_fixed(edges, iters=2, checkpoint_every=1)
    assert _is_reliable(reliable)
    assert _n_ckpt_files(ckpt_dir) > 0
    want = _rows(reliable)
    set_ckpt_dir(None)
    assert _rows(pagerank_fixed(edges, iters=2, checkpoint_every=1)) == want


def test_bfs_reliable_matches_local(spark, ckpt_dir, set_ckpt_dir):
    from datawarehouse_code_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6)], ["a", "b"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    reliable = bfs_distances(edges, seeds)
    assert _is_reliable(reliable)
    want = _rows(reliable)
    set_ckpt_dir(None)
    assert _rows(bfs_distances(edges, seeds)) == want


def test_lpa_reliable_matches_local(spark, ckpt_dir, set_ckpt_dir):
    from datawarehouse_code_spark.operators.graph import label_propagation

    clique1 = [(a, b) for a in (1, 2, 3) for b in (1, 2, 3) if a < b]
    clique2 = [(a, b) for a in (7, 8, 9) for b in (7, 8, 9) if a < b]
    edges = spark.createDataFrame(clique1 + clique2 + [(3, 7)], ["a", "b"])
    reliable = label_propagation(edges, n_rounds=2, checkpoint_every=1)
    assert _is_reliable(reliable)
    want = _rows(reliable)
    set_ckpt_dir(None)
    local = label_propagation(edges, n_rounds=2, checkpoint_every=1)
    assert _rows(local) == want


def test_sssp_reliable_matches_local(spark, ckpt_dir, set_ckpt_dir):
    from datawarehouse_code_spark.operators.graph import weighted_shortest_paths

    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 1), (1, 3, 10), (3, 4, 2)], ["a", "b", "w"]
    )
    seeds = spark.createDataFrame([(1,)], ["node"])
    reliable = weighted_shortest_paths(edges, seeds)
    assert _is_reliable(reliable)
    want = _rows(reliable)
    set_ckpt_dir(None)
    assert _rows(weighted_shortest_paths(edges, seeds)) == want


def test_sssp_negative_weight_still_raises(spark, ckpt_dir):
    from datawarehouse_code_spark.operators.graph import weighted_shortest_paths

    seeds = spark.createDataFrame([(1,)], ["node"])
    neg = spark.createDataFrame([(1, 2, 3), (2, 3, -1)], ["a", "b", "w"])
    with pytest.raises(ValueError, match="negative edge weights"):
        weighted_shortest_paths(neg, seeds)
    # a negative SELF-LOOP is a negative cycle and must raise too
    # (the guard runs before self-loops are dropped)
    loop = spark.createDataFrame([(1, 2, 3), (2, 2, -5)], ["a", "b", "w"])
    with pytest.raises(ValueError, match="negative edge weights"):
        weighted_shortest_paths(loop, seeds)


def test_components_reliable_matches_local(spark, ckpt_dir, set_ckpt_dir):
    from datawarehouse_code_spark.operators.corpus import near_dup_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 11)], ["d1", "d2"]
    )
    algos = ("propagation", "two_phase")
    want = {a: _rows(near_dup_components(pairs, algorithm=a)) for a in algos}
    assert _n_ckpt_files(ckpt_dir) > 0
    set_ckpt_dir(None)
    for algo in algos:
        assert _rows(near_dup_components(pairs, algorithm=algo)) == want[algo], algo


def test_bpe_train_reliable_matches_local(spark, ckpt_dir, set_ckpt_dir):
    from datawarehouse_code_spark.operators.tokenizer import bpe_train

    docs = spark.createDataFrame(
        [("low lower lowest",), ("newer newest low",)], ["text"]
    )
    before = _n_rdd_dirs(ckpt_dir)
    reliable = bpe_train(docs, n_merges=3)
    # the merge LIST is the return value — every round's symbol-table
    # checkpoint is superseded by the next and the final one released,
    # so a completed training run leaves NOTHING in the checkpoint dir
    # (the unbounded-growth fix: 20-round loops used to persist 20
    # copies forever under reliable mode)
    assert _n_rdd_dirs(ckpt_dir) == before
    set_ckpt_dir(None)
    local = bpe_train(docs, n_merges=3)
    assert reliable == local and len(reliable) == 3


def _n_rdd_dirs(d: str) -> int:
    """Reliable checkpoints materialize as rdd-<id> directories."""
    n = 0
    for _root, dirs, _files in os.walk(d):
        n += sum(1 for x in dirs if x.startswith("rdd-"))
    return n


def test_cut_lineage_supersedes_reclaims_reliable_checkpoint(
    spark, ckpt_dir, set_ckpt_dir
):
    """cut_lineage(supersedes=prev) deletes prev's checkpoint files
    once the new cut materializes; release_checkpoint reclaims a dead
    terminal frame; local mode ignores both (blocks are ContextCleaner
    territory)."""
    from datawarehouse_code_spark.operators.iterative import (
        _reliable_checkpoint_file,
        cut_lineage,
        release_checkpoint,
    )

    df1 = cut_lineage(spark.range(10))
    f1 = _reliable_checkpoint_file(df1)
    assert f1 is not None and os.path.exists(f1.replace("file:", ""))
    df2 = cut_lineage(df1.withColumn("y", F.col("id") * 2), supersedes=df1)
    f2 = _reliable_checkpoint_file(df2)
    assert f2 is not None and f2 != f1
    assert not os.path.exists(f1.replace("file:", ""))  # superseded → gone
    assert df2.count() == 10  # the survivor still computes
    release_checkpoint(df2)
    assert not os.path.exists(f2.replace("file:", ""))
    # identity guard: a frame listed in `unless` is never deleted
    df3 = cut_lineage(spark.range(3))
    release_checkpoint(df3, unless=(df3,))
    f3 = _reliable_checkpoint_file(df3)
    assert f3 is not None and os.path.exists(f3.replace("file:", ""))
    # local mode: supersedes/release are no-ops, both frames usable
    set_ckpt_dir(None)
    l1 = cut_lineage(spark.range(5))
    l2 = cut_lineage(l1.withColumn("y", F.col("id") + 1), supersedes=l1)
    release_checkpoint(l1)
    assert l1.count() == 5 and l2.count() == 5


def test_iterative_loops_hold_bounded_checkpoints(spark, ckpt_dir):
    """A multi-round reliable-mode loop must not retain one checkpoint
    per round: after pagerank(iters=4, checkpoint_every=1) the dir
    holds only the PERMANENT per-loop frames (edges, nodes, outdeg)
    plus the final ranks — not 4 rank generations (the r8 verdict's
    unbounded-checkpoint-growth finding)."""
    from datawarehouse_code_spark.operators.graph import (
        bfs_distances,
        pagerank_fixed,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (3, 1), (1, 3)], ["src", "dst"]
    )
    before = _n_rdd_dirs(ckpt_dir)
    ranks = pagerank_fixed(edges, iters=4, checkpoint_every=1)
    ranks.count()
    # at most edges + nodes + outdeg + final ranks = 4 (the 3
    # superseded generations are reclaimed synchronously; the
    # permanent frames may ALSO disappear at any moment after
    # pagerank_fixed returns — cleanCheckpoints lets the
    # ContextCleaner delete them asynchronously once their driver
    # references are GC'd — so the pin is a RANGE, not an exact
    # count: the returned frame's own checkpoint must survive, and
    # nothing like the 7 dirs a no-GC run would hold may remain)
    d_pr = _n_rdd_dirs(ckpt_dir) - before
    assert 1 <= d_pr <= 4, d_pr
    # BFS on a 4-hop chain: per-round dist/frontier generations are
    # reclaimed as they are superseded; the converged run keeps at
    # most sym + the final dist (same async-cleaner caveat for sym)
    chain = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["a", "b"])
    seeds = spark.createDataFrame([(1,)], ["node"])
    mid = _n_rdd_dirs(ckpt_dir)
    dist = bfs_distances(chain, seeds)
    assert sorted(map(tuple, dist.collect())) == [(1, 0), (2, 1), (3, 2), (4, 3)]
    # the delta can go NEGATIVE under load: the async ContextCleaner
    # may reclaim pagerank's now-unreferenced permanent frames during
    # the BFS window (observed in a full-suite run under CPU
    # contention, r17) — so only the growth BOUND is a delta
    # assertion; "the final dist survives" is asserted on the frame's
    # own checkpoint file, which no cleaner may touch while `dist`
    # is referenced
    d_bfs = _n_rdd_dirs(ckpt_dir) - mid
    assert d_bfs <= 2, d_bfs
    from datawarehouse_code_spark.operators.iterative import (
        _reliable_checkpoint_file,
    )

    f = _reliable_checkpoint_file(dist)
    assert f is not None and os.path.exists(f.replace("file:", ""))


def test_cdc_containment_reliable_matches_local(spark, ckpt_dir, set_ckpt_dir):
    """A one-shot query operator follows the session's dir too: with
    a dir, cdc_containment's chunk-table cut writes rdd-* dirs (it is
    eager, so building the frame writes them) and the rows equal a
    run without a dir."""
    from datawarehouse_code_spark.operators.text import cdc_containment
    from datawarehouse_code_spark.sources.catalog import read_table
    from tests.conftest import SF_DIR

    docs = read_table(spark, "documents", SF_DIR)
    before = _n_rdd_dirs(ckpt_dir)
    reliable = cdc_containment(docs)
    assert _n_rdd_dirs(ckpt_dir) > before
    want = _rows(reliable)
    assert want, "no containment rows: the comparison would be vacuous"
    set_ckpt_dir(None)
    assert _rows(cdc_containment(docs)) == want
