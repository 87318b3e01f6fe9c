"""Physical-plan regression harness: pin the plan INVARIANTS the scale
story depends on, so a silent plan regression (a join degrading to
cartesian, an operator re-scanning its source, a filter no longer
reaching parquet) fails a test instead of only drifting a bench ratio.

Bounds are deliberately loose upper bounds — they catch order-of-
magnitude regressions (the 6-scan cohort_retention caught by hand in
round 6 is the motivating case), not cosmetic plan churn.
"""

from __future__ import annotations

import re

import pytest

from datawarehouse_code_spark.plans.audit import formatted_plan
from datawarehouse_code_spark.plans.registry import (
    QUERIES,
    SUPPLEMENTARY_QUERIES,
)
from tests.conftest import SF_DIR

ALL_QUERIES = {**SUPPLEMENTARY_QUERIES, **QUERIES}


def _plan(spark, name: str) -> str:
    return formatted_plan(ALL_QUERIES[name].fn(spark, SF_DIR))


def _scans(plan: str) -> int:
    # unique node ids: formatted explain lists each node in the tree
    # AND the details section (and AQE repeats subtrees)
    return len(set(re.findall(r"\((\d+)\) Scan parquet", plan)))


# name -> (max parquet scans, max shuffle exchanges); measured at
# round 6 (fact_build 3/0, cube_table 11/9, events_funnel 1/2,
# cohort 2/4, split_leakage 1/2, cdc 3/1, subquery 4/2, ...) with a
# small headroom — the bound should trip on a doubling, not churn.
# Headroom is sized for the SHARED pytest session: earlier tests can
# leave conf (broadcast thresholds, AQE state) that shifts join
# strategies by a few exchanges, so bounds sit ~50% above the
# dedicated-session measurement — still far under a doubling+.
PLAN_BOUNDS = {
    "fact_build": (5, 2),
    # the cube and its readers: fact lines ⋈ part ⋈ broadcast(nation)
    # (measured 5 scans / 0 shuffles for the cube, +1 or +2 for a
    # reader's aggregate and window; the 7-dim star join measured 11/9)
    "cube_table": (7, 1),
    "agg_revenue_year_country": (7, 2),
    "agg_rollup_year_type": (7, 2),
    "agg_cube_type_category": (7, 2),
    "agg_grouping_sets": (7, 2),
    "agg_pivot_company_type": (7, 3),
    "window_topk_products": (7, 3),
    "window_monthly_growth": (7, 3),
    "window_moving_avg": (7, 3),
    "window_growth_mavg": (7, 3),
    # three cube readers in one row (measured 15/3); the quarter pivot
    # also scans orders for its fact-side half (measured 10/5)
    "agg_grouping_suite": (22, 5),
    "agg_quarter_pivot": (15, 8),
    "filter_topk_orders": (3, 2),
    "asof_join_events": (3, 3),
    # funnel suite = strict (1 scan / <=3 exch) + horizon (1 scan /
    # <=3 exch incl. the cap window, which reuses the user exchange)
    "events_funnel_suite": (3, 7),
    # cohort suite = day-over-events (2/4-ish) + month-over-orders (2/4)
    "events_cohort_suite": (5, 11),
    "corpus_split_leakage": (2, 4),
    "cdc_upsert_latest": (4, 3),
    "subquery_above_avg": (6, 4),
    "set_ops_suite": (11, 7),
    "events_session_suite": (3, 4),
    "tokens_packed_suite": (2, 2),
    "corpus_survivors": (3, 5),
    # maintenance_suite is five oracle proofs in one row (split-merge
    # runs the orders scan per half on purpose) — bound generously,
    # it still trips on a doubling
    "maintenance_suite": (20, 36),
    # round-7 supplementary rows (measured r7: 2/5, 1/3, 2/3, 1/1,
    # 2/0, 1/2, 2/4 — bounds ~50% above)
    "orders_daily_gapfill": (3, 8),
    "events_transitions": (2, 5),
    "docs_duplicate_spans": (3, 5),
    "orders_trailing_window": (2, 2),
    "parts_fuzzy_match": (3, 3),
    "events_funnel_horizon": (2, 3),
    "orders_cohort_month": (3, 6),
    # per-column branches: 5 single-column scans + 2 tiny exchanges
    # each (partial + final distinct agg) — trades scans for the 6x
    # expand shuffle (measured 6x faster); bounds at cols+headroom
    "orders_profile": (8, 15),
    "asof_forward_events": (3, 3),
    "orders_drift_report": (3, 5),
    # round-8 rows (measured r8: 11/14, 1/0, 0/0, 4/4 — bounds ~50%
    # above).  supplier_communities' visible plan is checkpoint-
    # terminated (LPA localCheckpoints every 2 rounds), so its bound
    # pins that the lineage cut STAYS: removing the checkpoints would
    # surface ~12 exchanges and trip it.
    "approx_bounds_suite": (16, 21),
    "decoded_image_stats": (2, 1),
    "supplier_communities": (2, 6),
    "lang_suite": (6, 6),
    # late round-8 rows (measured: 0/0 checkpoint-terminated like the
    # other iterative graph rows, 2/2, 1/0)
    "supplier_weighted_paths": (2, 6),
    "docs_mixture_token_budget": (3, 4),
    "text_nfc_suite": (2, 1),
    # round-9 additions: semantic dedup reads the embedding scan once
    # per self-join side plus the planted-twin union (same small
    # parquet); BM25's shuffles are the tf/df/dl aggregation keys; the
    # heavy-hitters row's RETURNED frame is the tiny exact-top-10 join
    # (the sketch agg runs inside the fn, driver-bounded)
    "docs_semantic_dedup": (6, 2),
    "docs_bm25_topk": (4, 7),
    "events_heavy_hitters": (1, 1),
    # round-10 suites + rows (measured r10: 7/3, 4/4, 5/8, 4/3, 6/11,
    # 0/2 checkpoint-terminated, 1/0 — bounds ~50% above)
    "similarity_retrieval_suite": (11, 5),
    "multimodal_suite": (6, 6),
    "text_corpus_suite": (8, 12),
    "events_time_suite": (6, 5),
    "docs_bm25_multiterm": (9, 17),
    # the boundary strategy's visible plan starts at the range-cut
    # checkpoint; the bound pins that the cut STAYS (and the dedicated
    # test pins no SinglePartition / unpartitioned window)
    "docs_curriculum_boundary": (1, 3),
    "decoded_png_stats": (2, 1),
    # round-11 suites (measured r11: 20/18, 2/3 — bounds ~50% above;
    # each leg rebuilds its own tf/df/dl pipeline by design, the
    # constituents' tighter bounds above pin the per-leg shapes)
    "retrieval_bm25_suite": (30, 27),
    "curriculum_suite": (3, 5),
    # round-11 CDC + winnowing rows (measured r11: 2/2, 8/6 — bounds
    # ~50% above; winnowing recomputes the fingerprint pipeline per
    # self-join side + cold-cap branch by design at fixture scale —
    # a 100 TB caller persists the fingerprint table once)
    "docs_cdc_shared_chunks": (3, 3),
    "docs_winnowing_pairs": (12, 9),
    # decorrelated LATERAL: ranked join, window partitioned by the
    # correlation key (measured r11: 4/2)
    "sql_lateral_topk": (6, 3),
    # audio lane: two narrow Arrow maps, zero shuffles (measured 2/0)
    "decoded_audio_stats": (2, 1),
    # increment chunking + index equi-join (measured 4/3)
    "docs_cdc_incremental": (6, 5),
    # two broadcast-query brute rank passes + overlap join (16/8)
    "similarity_matryoshka_recall": (24, 12),
    # increment fingerprinting + index equi-join (measured 4/3)
    "docs_winnowing_incremental": (6, 5),
    # narrow shard hash + one per-shard lag window + grouped count
    "docs_shard_mix_quality": (2, 3),
    # chunk + distinct + hash self-join + totals join (measured 6/3)
    "docs_cdc_containment": (9, 5),
    # round-12 consolidation suites.  shift_robust_dedup_suite shares
    # ONE materialized chunking across its three CDC legs (ephemeral
    # localCheckpoint — the observable plan starts at the cut;
    # measured 0/15 post-cut, bound pins the cut STAYS); the
    # constituents' standalone bounds above pin the uncut shapes.
    "shift_robust_dedup_suite": (4, 20),
    "media_suite": (9, 8),
    # perceptual dHash / audio / video fingerprint rows: the
    # multiply-consumed fingerprint tables localCheckpoint (the
    # winnowing precedent — decode+hash runs once, not per consumer),
    # so the OBSERVABLE plans start at the checkpoint cut; the bounds
    # pin that the cut STAYS (removing it would surface the 8-scan
    # re-derivation shapes measured before the cut and trip these).
    # Measured r12 post-cut: 0-2 scans / 3-5 exchanges per row.
    "media_phash_pairs": (3, 8),
    "media_phash_incremental": (3, 5),
    "audio_fp_pairs": (3, 8),
    "audio_fp_incremental": (3, 6),
    "video_fp_pairs": (3, 8),
    "video_fp_incremental": (3, 6),
    # the four-leg media suite (measured 2/18 post-cut)
    "media_dedup_suite": (6, 24),
    # pairs checkpoint + per-round component lineage cuts terminate
    # the visible plan (measured 2/2)
    "media_canonical_selection": (3, 4),
    # positions table checkpointed once across cap + join sides
    # (measured 0/5 post-cut)
    "docs_winnowing_spans": (2, 8),
    # round-13 cross-modal row: frame hashing is one narrow Arrow map
    # over the video fixture's documents scan; the image index is
    # checkpoint-terminated (the persisted-index stand-in — the bound
    # pins the cut STAYS).  Measured r13: 1/3.
    "video_image_matches": (2, 5),
    # round-13 DCT pHash pairs: same checkpoint-terminated band-table
    # shape as media_phash_pairs (measured r13: 0/5 post-cut)
    "media_phash_dct_pairs": (3, 8),
    # round-13 reverse cross-modal: image hashing is the narrow Arrow
    # map, the frame index is checkpoint-terminated (measured 2/3)
    "image_video_matches": (3, 5),
    # round-13 pHash increment: one checkpointed image_phash pass
    # feeds both member filters (measured 0/3 post-cut)
    "media_phash_dct_incremental": (2, 5),
    # the four-leg cross-modal/pHash suite: three checkpointed decode
    # passes (image dHash, frame walk, image pHash) feed all four
    # legs (measured 0/14 post-cut; bound pins the cuts STAY)
    "cross_modal_suite": (3, 18),
    # the rescaled-frame corner: one image pHash map + the
    # checkpoint-terminated pHash frame index (measured 2/3)
    "video_frame_phash_matches": (3, 5),
    # cross-modal canonical selection: per-round component lineage
    # cuts terminate the visible plan at the selection joins
    # (measured 4/3 post-cut)
    "media_canonical_cross_modal": (5, 6),
}


@pytest.mark.parametrize("name", sorted(PLAN_BOUNDS))
def test_plan_bounds(spark, name):
    plan = _plan(spark, name)
    max_scans, max_exchanges = PLAN_BOUNDS[name]
    scans = _scans(plan)
    # plain Exchange nodes are shuffles; broadcasts print BroadcastExchange
    shuffles = len(set(re.findall(r"\((\d+)\) Exchange", plan)))
    assert scans <= max_scans, f"{name}: {scans} parquet scans (bound {max_scans})"
    assert shuffles <= max_exchanges, (
        f"{name}: {shuffles} shuffle exchanges (bound {max_exchanges})"
    )


@pytest.mark.parametrize(
    "name",
    sorted(
        n
        for n, q in ALL_QUERIES.items()
        if q.oracle is not None and n not in {"dedup_minhash_lsh"}
    ),
)
def test_no_cartesian_products(spark, name):
    """No registered query — driver row OR supplementary — may compile
    to CartesianProduct: the plan that detonates at scale."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name} has a cartesian product"


def test_vocab_topn_is_take_ordered(spark):
    """Top-df term selection must compile to TakeOrderedAndProject
    (per-partition top-n, n-sized merge) — never a global rank window,
    which would total-sort the vocabulary-sized df table through one
    partition (10⁸+ terms at 100 TB).  Covers both entry points: the
    standalone top_df_terms and bm25_scores' int query-set branch
    (bm25_topk's per-term rank window is partitioned by term and
    therefore fine — only an UNPARTITIONED Window over the df table
    is the scale bug this pins against)."""
    from datawarehouse_code_spark.operators.text import bm25_scores, top_df_terms
    from datawarehouse_code_spark.sources.catalog import read_table

    docs = read_table(spark, "documents", SF_DIR)
    plan = formatted_plan(top_df_terms(docs, 3))
    assert "TakeOrderedAndProject" in plan
    assert not re.search(r"\(\d+\) Window", plan), plan[:2000]

    plan = formatted_plan(bm25_scores(docs, 3))
    assert "TakeOrderedAndProject" in plan
    assert not re.search(r"\(\d+\) Window", plan), plan[:2000]


def test_filter_queries_push_predicates(spark):
    """The filter suite's predicates must reach the parquet scan."""
    plan = _plan(spark, "filter_topk_orders")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("GreaterThan" in p or "In(" in p for p in pushed), plan[:2000]


def test_audit_plan_product_surface(spark):
    """The exported audit_plan must report the same facts this
    harness derives: counts on a known query, pushdown and partition
    filters present where the layout provides them, and cartesian
    detection on a deliberately bad plan."""
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.plans.audit import audit_plan
    from datawarehouse_code_spark.sources.catalog import read_table

    li = read_table(spark, "lineitem", SF_DIR)
    q = li.filter(F.col("l_quantity") > 30).groupBy("l_returnflag").count()
    a = audit_plan(q)
    assert a["n_scans"] == 1 and a["n_exchanges"] == 1
    assert not a["has_cartesian"]
    assert any("GreaterThan" in p for p in a["pushed_filters"])

    bad = li.limit(5).crossJoin(
        read_table(spark, "orders", SF_DIR).limit(5)
    )
    # small-side cross joins may compile to BNLJ instead; force the
    # detector path by checking either signal

    plan = formatted_plan(bad)
    assert audit_plan(bad)["has_cartesian"] or "NestedLoop" in plan


def test_dim_delta_plan_scans_existing_once_with_one_observation(
    spark, tmp_path
):
    """An incremental dim load is ONE plan: the delta scans the
    existing table once, and its skip report is a single
    CollectMetrics node in that plan (no second job re-runs the
    join to count)."""
    from datawarehouse_code_spark.operators.dimensions import (
        insert_if_not_exists_report,
    )
    from datawarehouse_code_spark.pipeline import build_warehouse
    from datawarehouse_code_spark.plans.audit import audit_plan

    path = str(tmp_path / "dim_client")
    dim = build_warehouse(spark, SF_DIR).dim_client
    dim.write.parquet(path)
    delta, _ = insert_if_not_exists_report(
        dim, spark.read.parquet(path), ["client_id"]
    )
    plan = formatted_plan(delta)
    existing_scans = {
        m.group(1)
        for m in re.finditer(r"\((\d+)\) Scan parquet[^\n]*\n(.+?)(?:\n\n|$)", plan, re.S)
        if path in m.group(2)
    }
    assert len(existing_scans) == 1, plan
    # the other scan is the incoming dim's source (customer)
    assert audit_plan(delta)["n_scans"] == 2, plan
    assert len(set(re.findall(r"\((\d+)\) CollectMetrics", plan))) == 1, plan
