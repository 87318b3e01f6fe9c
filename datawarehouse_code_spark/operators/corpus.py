"""End-to-end corpus cleaning: the deliverable a training-data
pipeline runs nightly — compose exact dedup + near-dup detection into
a canonical-document selection and a partitioned clean-corpus write.

Policy:
1. exact duplicates (normalized content hash) collapse to the
   smallest doc_id;
2. near-duplicate PAIRS (verified at Jaccard >= threshold) are
   clustered into connected components by iterative smallest-label
   propagation (see near_dup_components); within each component only
   the minimum doc_id survives.  This handles transitive chains
   A~B~C where A and C are not directly paired — a single-step
   "drop the larger side of any pair" rule would let a doc survive
   whenever all of its detected partners have larger ids.
3. the surviving corpus is written partitioned by `lang` — the
   partition key analytics and per-language sampling use downstream.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse_code_spark.operators.iterative import (
    convergence_signature,
    cut_lineage,
    release_checkpoint,
)
from datawarehouse_code_spark.operators.text import exact_dedup, near_dup_pairs_lsh

# a pair source maps (documents, threshold) -> DataFrame[d1, d2, ...]
PairSource = Callable[[DataFrame, float], DataFrame]


def _two_phase_components(sym: DataFrame, max_rounds: int = 50) -> DataFrame:
    """(doc_id, rep) by the alternating large-star/small-star fixpoint
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — converges in O(log² n) rounds REGARDLESS of graph
    diameter, unlike label propagation whose round count is the
    diameter.  The fallback path for long-chain components.

    Per round (same join+agg shape as propagation, AQE-splittable):
      large-star: every node u emits (v, m(u)) for each strictly
        larger neighbor v, where m(u) = min(neighbors(u) ∪ {u}) —
        hangs big vertices directly under the local minimum;
      small-star: with edges oriented u > v, every node u re-hangs
        its smaller neighbors (and itself) under m(u).
    At the fixpoint the edge set IS the answer: a star per component,
    every member pointing at the component minimum.

    `max_rounds` (default 50 ≈ log²(2^7)·… far above any real corpus)
    is a pure runaway guard; hitting it on a connected input would
    take a graph beyond 2^(sqrt(50)) nodes of pure chain.
    """
    edges = cut_lineage(
        sym.filter(F.col("d1") != F.col("d2"))
        .select(
            F.greatest("d1", "d2").alias("u"), F.least("d1", "d2").alias("v")
        )
        .distinct(),
    )
    for _ in range(max_rounds):
        # --- large-star ---
        s = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = (
            s.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        large = cut_lineage(
            s.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct(),
        )
        # --- small-star (edges strictly oriented u > v by construction) ---
        m2 = large.groupBy("u").agg(F.min("v").alias("m"))
        joined = large.join(m2, "u")
        # `supersedes=large`: the large-star frame is consumed entirely
        # by this cut — reclaim its reliable checkpoint immediately
        small = cut_lineage(
            joined.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(m2.select("u", F.col("m").alias("v")))
            .distinct(),
            supersedes=large,
        )
        unchanged = (
            small.count() == edges.count()
            and small.join(edges, ["u", "v"], "left_anti").limit(1).count() == 0
        )
        # the fixpoint comparison above was the old edge set's last
        # reader; reclaim its checkpoint before replacing it
        release_checkpoint(edges, unless=(small,))
        edges = small
        if unchanged:
            # fixpoint: edges are stars rooted at each component min
            members = edges.select(F.col("u").alias("doc_id"), F.col("v").alias("rep"))
            roots = edges.select(F.col("v").alias("doc_id")).distinct().withColumn(
                "rep", F.col("doc_id")
            )
            # a node may transiently appear under two roots only before
            # the fixpoint; at it, min() is a no-op safety net
            return (
                members.unionByName(roots)
                .groupBy("doc_id")
                .agg(F.min("rep").alias("rep"))
            )
    raise RuntimeError(
        f"_two_phase_components did not converge in {max_rounds} rounds — "
        "not expected for any physical graph; raise max_rounds"
    )


def near_dup_components(
    pairs: DataFrame,
    max_iters: int = 20,
    algorithm: str = "propagation",
) -> DataFrame:
    """(doc_id, rep): every document in the pair graph mapped to the
    minimum doc_id of its connected component.

    `algorithm='propagation'` (default): iterative smallest-label
    propagation — each node starts labeled with min(self, neighbors)
    (the first round fused into the seed: it is the same
    shuffle+groupBy the node-set distinct() would cost, so round 1
    is free); every round a node's label becomes the min of its own
    and its neighbors' labels; stop when no label changes.  Shallow
    graphs (a hub duplicate links its variants — the common near-dup
    shape) converge in diameter rounds; a graph still live at round 2
    switches on POINTER JUMPING (rep(v) ← rep(rep(v)) fused into each
    round), which doubles the effective reach per round so even
    long-chain components finish in O(log diameter) rounds.  If it
    has STILL not converged after `max_iters` rounds (diameter beyond
    ~2^(max_iters−2) — no physical graph), it hands the edge set to
    the large-star/small-star fixpoint (`_two_phase_components`,
    O(log² n) rounds regardless of diameter) instead of failing —
    mid-propagation labels are never returned (they would silently
    keep duplicates and diverge from the transitive-closure oracle).

    Convergence is detected by a MONOTONE SIGNATURE, not a join:
    new_rep(v) = min(rep(v), reps of N(v)) never increases and the
    node set is fixed, so (count, Σrep) is strictly decreasing in Σ
    until the fixpoint and equal exactly AT it.  One scalar agg per
    round replaces the old labels⨝old_labels changed-count — and in
    local-checkpoint mode the round's cut is non-eager so that same
    agg job materializes the checkpoint, leaving ONE Spark action
    per round where the r13 shape paid three (checkpoint + join +
    count).  Σ is taken over decimal(38,0): exact, and no bigint
    overflow even at 10¹² nodes with 10¹⁸-scale ids.

    `algorithm='two_phase'`: skip propagation and run
    large-star/small-star directly — for callers that know their pair
    graph is deep.

    Scale notes: each round of either algorithm is join + groupBy on
    doc_id — no all-pairs step, no driver-side graph.  A lineage cut
    every round keeps the plan flat (the naive loop builds an
    exponentially growing plan and re-executes the pair source each
    round); every cut follows the session's checkpoint dir
    (operators/iterative.cut_lineage).
    """
    edges = cut_lineage(pairs.select("d1", "d2"))
    sym = cut_lineage(
        edges.union(
            edges.select(F.col("d2").alias("d1"), F.col("d1").alias("d2"))
        )
    )
    if algorithm == "two_phase":
        return _two_phase_components(sym)
    if algorithm != "propagation":
        raise ValueError(f"unknown algorithm {algorithm!r}")

    def _sig(frame: DataFrame) -> tuple:
        # monotone convergence signature (see docstring): node count
        # is invariant, Σrep strictly decreases until the fixpoint
        return convergence_signature(frame, "rep")

    # seed = one propagation round fused into the node-set build:
    # same shuffle cost as the plain distinct() it replaces, one
    # fewer loop round for every graph.  Lazy in local mode — the
    # signature agg right below materializes the cut in the same job.
    labels = cut_lineage(
        sym.groupBy(F.col("d1").alias("doc_id"))
        .agg(F.min("d2").alias("nbr_min"))
        .select(
            "doc_id", F.least("doc_id", F.col("nbr_min")).alias("rep")
        ),
        eager=False,
    )
    sig = _sig(labels)
    converged = False
    for rnd in range(max_iters):
        nbr_reps = sym.join(
            labels.select(F.col("doc_id").alias("d2"), "rep"), "d2"
        ).select(F.col("d1").alias("doc_id"), "rep")
        new_labels = (
            labels.unionByName(nbr_reps)
            .groupBy("doc_id")
            .agg(F.min("rep").alias("rep"))
        )
        if rnd >= 2:
            # POINTER JUMPING from round 2 on: rep(v) ← rep(rep(v)).
            # A graph still unconverged after two propagation rounds
            # has diameter > 3 — shortcutting makes the effective
            # reach double per round, so total rounds are
            # O(log diameter) instead of O(diameter) and the
            # two-phase fallback below becomes a never-fires guard
            # (the r13 shape burned all 20 rounds on a long-chain
            # band-collision graph, then STARTED OVER in two-phase).
            # Not from round 0: every rep value is a node id, but
            # shallow graphs — the common near-dup case — converge
            # before round 2, and the jump's extra n-row self-join
            # shuffle per round is exactly the cost a 100TB label
            # table shouldn't pay when propagation alone finishes.
            # new_labels is deliberately UNCUT here: the self-join
            # recomputes it twice inside one job from checkpointed
            # inputs, cheaper than materializing an extra cut.
            new_labels = new_labels.alias("a").join(
                new_labels.select(
                    F.col("doc_id").alias("rep"),
                    F.col("rep").alias("rep2"),
                ).alias("b"),
                "rep",
            ).select("doc_id", F.col("rep2").alias("rep"))
        new_labels = cut_lineage(new_labels, eager=False)
        new_sig = _sig(new_labels)
        # the signature agg above was the old label frame's last
        # reader; reclaim its reliable checkpoint before replacing it
        release_checkpoint(labels, unless=(new_labels,))
        labels = new_labels
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # long-diameter component: finish with the diameter-independent
        # fixpoint rather than raising (propagation's partial labels are
        # discarded — two-phase restarts from the edge set)
        return _two_phase_components(sym)
    return labels


def clean_corpus(
    documents: DataFrame,
    near_dup_threshold: float = 0.5,
    pair_source: PairSource | None = None,
) -> DataFrame:
    """The surviving documents after exact + near-dup removal.

    `pair_source` selects the near-dup detector: the default is the
    banded-LSH scale path (hot-bucket cap on by default); the
    oracle-checked registry query passes the exact inverted-index
    variant.  The selection POLICY — connected-component clustering,
    keep the component minimum — lives only here, so both paths stay
    in lockstep.
    """
    if pair_source is None:
        pair_source = lambda docs, t: near_dup_pairs_lsh(docs, threshold=t)  # noqa: E731
    canonical = exact_dedup(documents).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    exact_survivors = documents.join(canonical, "doc_id", "left_semi")
    components = near_dup_components(pair_source(documents, near_dup_threshold))
    dropped_near = components.filter(F.col("rep") != F.col("doc_id")).select("doc_id")
    return exact_survivors.join(dropped_near, "doc_id", "left_anti")


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic stratified sampling — the corpus-rebalancing
    primitive (downsample over-represented languages/sources before
    training).  Each row's keep/drop decision is a pure function of
    its integer key: u = ((key mod 2³¹) · 2654435761 mod 2³²) / 2³²
    (Knuth multiplicative hash), kept iff u < rate(stratum).

    Why not df.sample()/sampleBy(): their Bernoulli draw depends on
    partition layout, so results change under repartitioning and can't
    be reproduced by another engine.  The hash rule is stable across
    runs, partitionings, AND engines (plain integer arithmetic — the
    DuckDB oracle replays it exactly), and it composes: re-sampling
    with a higher rate yields a superset (u is fixed per key).
    Stateless narrow projection — no shuffle at any scale.
    """
    rate = F.lit(float(default_rate))
    for stratum, r in rates.items():
        rate = F.when(F.col(strata_col) == stratum, F.lit(float(r))).otherwise(rate)
    return df.filter(knuth_u(key_col) < rate)


def knuth_hash(key_col: str) -> F.Column:
    """((key mod 2³¹) · 2654435761) mod 2³² — the integer Knuth
    multiplicative hash every deterministic sampling/split operator
    here draws from.  THE single definition: knuth_u,
    assign_splits_leakage_safe, and deterministic_group_sample all
    call this, the DuckDB oracle strings are generated from
    knuth_hash_sql below, and Python row construction calls knuth_int
    — the cross-engine contract requires the copies to stay
    bit-identical, so there are no copies."""
    return F.pmod(
        F.pmod(F.col(key_col), F.lit(2**31)) * F.lit(2654435761),
        F.lit(2**32),
    )


def knuth_hash_sql(expr: str) -> str:
    """The same hash as an ANSI/DuckDB SQL fragment (SQL % is signed
    remainder, so the positive mod is spelled out)."""
    return (
        f"((({expr} % 2147483648 + 2147483648) % 2147483648) "
        "* 2654435761) % 4294967296"
    )


def knuth_int(key: int) -> int:
    """The same hash of one Python int, for row construction outside
    Spark (the media fixtures in plans/llm_queries.py)."""
    return ((key % 2**31) * 2654435761) % 2**32


def knuth_u(key_col: str) -> F.Column:
    """Uniform-ish u ∈ [0,1) as a pure function of an integer key:
    knuth_hash / 2³² — the deterministic sampling coin shared by
    stratified_hash_sample / mixture_resample and replayed exactly by
    the DuckDB oracles."""
    return knuth_hash(key_col) / F.lit(float(2**32))


def assign_splits_leakage_safe(
    docs: DataFrame,
    pairs: DataFrame,
    splits: tuple[tuple[str, float], ...] = (
        ("train", 0.9), ("val", 0.05), ("test", 0.05),
    ),
    id_col: str = "doc_id",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: every document in a
    near-duplicate connected component lands in the SAME split, so a
    paraphrase of a training doc can never leak into val/test (the
    standard eval-contamination failure a per-doc random split
    guarantees at corpus scale — with millions of near-dup pairs,
    some WILL straddle any independent per-doc draw).

    Mechanics: cluster the pair graph (near_dup_components — min-id
    representative), give every doc a group_id (its component rep;
    singletons are their own group), and draw the split from the
    deterministic Knuth coin on group_id (knuth_u) against the
    cumulative split weights.  The coin is a pure function of
    group_id, so the assignment is reproducible across runs,
    partitionings, and engines (the DuckDB oracle replays it).

    Stability caveat: growth stability holds only while new documents
    do NOT merge existing components — a new doc bridging two
    components merges them under the smaller rep, changing group_id
    (and possibly the split) for every doc in the larger-rep
    component.  Consumers needing frozen eval sets should PIN val/
    test membership from a snapshot of this assignment rather than
    recompute over a grown corpus; weight changes likewise reassign
    boundary groups.

    Scale shape: the component table covers only docs that appear in
    a pair (≪ corpus), so the assignment join broadcasts; everything
    after it is a stateless narrow projection.  The cost is the CC
    fixpoint itself, shared with corpus cleaning.

    Returns `docs` plus (group_id, split).
    """
    comps = near_dup_components(pairs).select(
        F.col("doc_id").alias(id_col), "rep"
    )
    grouped = (
        docs.join(comps, id_col, "left")
        .withColumn("group_id", F.coalesce(F.col("rep"), F.col(id_col)))
        .drop("rep")
    )
    # Integer-space comparison: the Knuth hash k ∈ [0, 2³²) is compared
    # against integer bounds (split_hash_bounds), never against float
    # fractions — a float bound like 0.9+0.05 differs between Python
    # accumulation and a SQL literal in the last ulp, and a boundary
    # group could flip splits between engines.  Integers can't drift.
    khash = knuth_hash("group_id")
    bounds = split_hash_bounds(splits)
    split_expr = F.lit(bounds[-1][0])
    for name, bound in reversed(bounds[:-1]):
        split_expr = F.when(khash < F.lit(bound), F.lit(name)).otherwise(split_expr)
    return grouped.withColumn("split", split_expr)


def split_hash_bounds(
    splits: tuple[tuple[str, float], ...],
) -> list[tuple[str, int]]:
    """Cumulative split weights as EXACT integer bounds on the 2³²
    Knuth-hash space: [(name, upper_bound_exclusive), ...], last bound
    always 2³².  Shared by assign_splits_leakage_safe and the DuckDB
    oracle generator so both engines compare the hash against the
    same integers (floats would disagree in the last ulp)."""
    if not splits:
        raise ValueError("splits must be non-empty")
    total = sum(w for _, w in splits)
    if total <= 0 or any(w < 0 for _, w in splits):
        raise ValueError(f"split weights must be >= 0 with a positive sum: {splits}")
    out: list[tuple[str, int]] = []
    cum = 0.0
    for name, w in splits[:-1]:
        cum += w / total
        out.append((name, min(int(cum * 2**32), 2**32)))
    out.append((splits[-1][0], 2**32))
    return out


def mixture_resample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    target: dict[str, float],
    weight_col: str | None = None,
) -> DataFrame:
    """Resample the corpus to a TARGET mixture over `strata_col`
    (domain/language reweighting before training) by downsampling
    only — no stratum is upsampled, so every kept row is distinct.

    The output size is the largest T with T·p(s) ≤ n(s) for every
    target stratum s (the binding stratum survives whole); stratum s
    keeps rate(s) = T·p(s)/n(s) of its rows, decided by the same
    deterministic per-key hash as stratified_hash_sample.  Strata
    absent from `target` are dropped (weight 0).

    `weight_col` switches the budget currency: with it, n(s) is the
    stratum's SUM of weights (pass a token-count column to mix by
    token budget — what a training-data pipeline actually targets,
    since domains with longer documents would otherwise be over-
    represented token-wise under a doc-count mixture).  The keep/drop
    decision stays per-DOCUMENT on the same deterministic coin, so
    realized token shares match the target in expectation with
    deviation ∝ per-stratum doc-length variance — the standard
    sampling trade; exact token-level truncation belongs to
    pack_sequences' budget, not the sampler.

    Fully declarative — the observed counts, the bottleneck T, and
    the per-stratum rates are computed as a tiny aggregate + a
    single-partition window over it + broadcast join; no driver-side
    collect.  Cost at any scale: ONE count aggregation pass + one
    filtered scan — the bottleneck min is a window over the
    already-aggregated per-stratum rows (≤ len(target) of them, a
    bounded domain), not a second aggregate over a duplicated
    subtree.
    """
    if not target:
        raise ValueError("mixture_resample: empty target mixture")
    bad = {k: v for k, v in target.items() if not v > 0}
    if bad:
        # a zero/negative weight divides by zero downstream — and the
        # engines disagree on n/0 (Spark NULL, DuckDB inf), so failing
        # loudly beats a silent cross-engine divergence
        raise ValueError(f"mixture_resample: non-positive target weights {bad}")
    from pyspark.sql import Window

    spark = df.sparkSession
    tgt = spark.createDataFrame(
        [(k, float(v)) for k, v in target.items()], f"{strata_col} string, _p double"
    )
    budget = (
        F.count(F.lit(1)) if weight_col is None
        else F.sum(weight_col).cast("double")
    )
    observed = (
        df.groupBy(strata_col)
        .agg(budget.alias("_n"))
        .join(F.broadcast(tgt), strata_col, "inner")
    )
    if weight_col is not None:
        # same loudness rule as the target-weight guard above: an
        # all-NULL weight column sums to NULL, whose rate least(NULL,1)
        # silently keeps the stratum WHOLE; a zero/negative sum zeroes
        # every rate and silently empties the corpus.  The check is a
        # collect over <= len(target) rows — bounded by the target
        # dict, not the data.
        #
        # Materialize the tiny aggregate first (r17, guide §1.2): the
        # validation collect and the broadcast-rates plan would
        # otherwise EACH re-run the full per-stratum aggregation over
        # `df` — two data-sized passes for one ≤len(target)-row frame.
        observed = cut_lineage(observed)
        bad_w = [
            (r[strata_col], r["_n"])
            for r in observed.filter(
                F.col("_n").isNull() | (F.col("_n") <= 0)
            ).collect()
        ]
        if bad_w:
            raise ValueError(
                f"mixture_resample: non-positive/NULL {weight_col} sums "
                f"for strata {bad_w}; clean the weight column first"
            )
    # single-partition window is safe here: the frame holds one row per
    # TARGET stratum (bounded by the target dict, not the data)
    rates = observed.withColumn(
        "_t", F.min(F.col("_n") / F.col("_p")).over(Window.partitionBy())
    ).select(
        strata_col,
        F.least(F.col("_t") * F.col("_p") / F.col("_n"), F.lit(1.0)).alias("_rate"),
    )
    return (
        df.join(F.broadcast(rates), strata_col, "inner")
        .filter(knuth_u(key_col) < F.col("_rate"))
        .drop("_rate")
    )


# strategy="auto" cutover: inputs whose Catalyst-estimated size
# exceeds this take the boundary strategy.  64 MB is manifest-grain —
# far below one shuffle partition's comfortable sort volume, far above
# any stats/centroid/query-set frame this package ever ranks.
CURRICULUM_AUTO_NTILE_MAX_BYTES = 64 << 20


def curriculum_phases(
    docs: DataFrame,
    n_phases: int,
    score_col: str,
    id_col: str = "doc_id",
    strategy: str = "auto",
    auto_ntile_max_bytes: int = CURRICULUM_AUTO_NTILE_MAX_BYTES,
) -> DataFrame:
    """Curriculum phase assignment: rank the corpus by a difficulty /
    quality score and split it into `n_phases` contiguous,
    near-equal-size phases (phase 1 = lowest scores first — the
    easy-to-hard curriculum ordering; feed phases to training in
    order, or invert the score upstream for the reverse).  Phases
    follow the (score, id) total order — the id tiebreak makes the
    assignment deterministic across engines and partitionings, the
    same contract every sampler here carries — and both strategies
    produce IDENTICAL assignments (ntile tile allocation: the first
    n mod k phases hold ceil(n/k) docs; pinned ≡ by test, ties
    included, because the composite order is total).

    strategy="auto" (default): pick by the input's Catalyst-estimated
    size (`optimizedPlan().stats().sizeInBytes` — a plan statistic,
    no job) — at most `auto_ntile_max_bytes` (64 MB: manifest grain)
    takes the ntile fast path, anything larger OR UNKNOWN takes the
    boundary path (unknown stats default to Long.Max, so uncertainty
    resolves toward the scale-safe plan).  A default caller therefore
    never gets the single-partition sort on corpus-sized input.

    strategy="ntile": one global NTILE window — one total sort
    through a single partition.  The manifest-sized fast path:
    correct at any size, cheapest below ~10⁷ rows, a non-starter at
    corpus grain.

    strategy="boundary": the corpus-scale path — no single-partition
    sort anywhere.  (1) range-exchange on (score, id) (Spark's
    distributed sort machinery: sampled balanced boundaries), cut and
    materialized so the boundary sample is computed ONCE (a second
    action would re-sample and could disagree with the counts job);
    (2) per-range-partition counts — a frame bounded by the shuffle-
    partition count, not the data — collected to the driver and
    turned into exclusive rank offsets; (3) local rank per range
    partition (a window PARTITIONED BY the range id — each partition
    sorts only its own near-equal slice) + offset = exact global
    rank; (4) phase from the ntile allocation formula in pure integer
    arithmetic.  Cost: two corpus shuffles of a narrow (id, score)
    projection + one bounded collect.

    Output composes with assign_shards / export_shards per phase."""
    if n_phases < 1:
        raise ValueError(f"curriculum_phases: n_phases must be >= 1: {n_phases}")
    if strategy == "auto":
        # py4j maps the Scala BigInt straight to a Python int
        est = int(
            docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        strategy = "ntile" if est <= auto_ntile_max_bytes else "boundary"
    if strategy == "ntile":
        w = Window.orderBy(F.col(score_col).asc(), F.col(id_col).asc())
        return docs.select(
            id_col, score_col, F.ntile(n_phases).over(w).alias("phase")
        )
    if strategy != "boundary":
        raise ValueError(
            f"curriculum_phases: strategy must be 'auto', 'ntile' or "
            f"'boundary': {strategy!r}"
        )
    parted = cut_lineage(
        docs.select(id_col, score_col)
        .repartitionByRange(F.col(score_col).asc(), F.col(id_col).asc())
        .withColumn("_pid", F.spark_partition_id()),
    )
    # bounded collect: one row per shuffle partition (cluster config,
    # not data) — the established manifest-sized driver hop
    counts = sorted(
        (r["_pid"], r["_n"])
        for r in parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n")).collect()
    )
    n = sum(c for _, c in counts)
    offsets, acc = [], 0
    for pid, c in counts:
        offsets.append((pid, acc))
        acc += c
    q, r = divmod(n, n_phases)
    size_hi, cut = q + 1, r * (q + 1)
    off_df = docs.sparkSession.createDataFrame(
        offsets or [(0, 0)], "`_pid` int, `_off` bigint"
    )
    lw = Window.partitionBy("_pid").orderBy(
        F.col(score_col).asc(), F.col(id_col).asc()
    )
    ranked = parted.join(F.broadcast(off_df), "_pid").withColumn(
        "_grk", F.col("_off") + F.row_number().over(lw)
    )
    # ntile allocation, integer-exact at any n: ranks 1..cut fall in
    # the r larger tiles of size q+1, the rest in tiles of size q
    # (max(q,1) guards the n < n_phases case, where cut == n and the
    # otherwise-branch is never taken)
    phase = (
        F.when(
            F.col("_grk") <= F.lit(cut),
            F.expr(f"(_grk - 1) div {size_hi}") + F.lit(1),
        )
        .otherwise(
            F.expr(f"(_grk - {cut} - 1) div {max(q, 1)}") + F.lit(1 + r)
        )
        .cast("int")
    )
    return ranked.select(id_col, score_col, phase.alias("phase"))


def assign_shards(
    df: DataFrame, n_shards: int, key_col: str = "doc_id"
) -> DataFrame:
    """Deterministic loader shard assignment: `shard_id` =
    knuth_hash(key) mod n_shards — the last step before a
    data-parallel training job reads the corpus (each worker reads
    its shard; write with .partitionBy("shard_id") so a worker's read
    is partition pruning).

    Same reproducibility contract as every sampler here: the
    assignment is a pure function of the integer key — stable across
    runs, partitionings, and engines — so a resumed or re-sharded-at-
    the-same-n job sees identical shards, and any engine can replay
    the mapping.  The multiplicative hash spreads sequential ids, so
    shard sizes concentrate tightly around n/n_shards (balance pinned
    by test).  Narrow projection; no shuffle."""
    if n_shards <= 0:
        raise ValueError(f"assign_shards: n_shards must be positive: {n_shards}")
    return df.withColumn(
        "shard_id", F.pmod(knuth_hash(key_col), F.lit(n_shards)).cast("int")
    )


def shard_mix_quality(
    df: DataFrame,
    n_shards: int,
    strata_col: str,
    key_col: str = "doc_id",
) -> DataFrame:
    """Data-ORDERING diagnostic for trainer shards: per shard, how
    clumped is `strata_col` along the loader's read order (ascending
    `key_col`, the order export_shards hands a worker)?  Reports
    integer adjacency counts — n_docs, n_adjacent (= n_docs − 1) and
    n_same_strata (adjacent pairs sharing the stratum).  A
    well-mixed shard reads n_same/n_adjacent ≈ Σ pₛ² (the mixture's
    collision probability); a clumped one starves a data-parallel
    worker of mixture diversity inside every gradient window, which
    is invisible to the count-based balance checks.

    Scale shape: the shard hash is a narrow projection; ONE window
    partitioned by shard (never global) ordered by the key; one
    grouped count.  Integer counts only — exact on every engine."""
    shards = assign_shards(df, n_shards, key_col)
    w = Window.partitionBy("shard_id").orderBy(key_col)
    lagged = shards.withColumn("_prev", F.lag(strata_col).over(w))
    return lagged.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("_prev").alias("n_adjacent"),
        F.sum(
            F.when(F.col("_prev") == F.col(strata_col), 1).otherwise(0)
        ).cast("bigint").alias("n_same_strata"),
    )


def export_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    fmt: str = "json",
    key_col: str = "doc_id",
    compression: str | None = None,
) -> None:
    """Materialize the corpus as LOADER SHARDS in a wire format a
    training job streams directly (`fmt`: "json" → JSONL, the
    de-facto trainer interchange; also "parquet"/"orc"/"csv"),
    one directory per deterministic shard (assign_shards' Knuth-hash
    contract) and ONE data file per shard — the layout a
    data-parallel reader wants: worker i opens shard_id=i and
    nothing else.

    One file per shard is guaranteed, not hoped for:
    `repartition(n_shards, "shard_id")` hash-clusters every row of a
    shard into a single task (two shards may share a task; each still
    writes its own single file under its own partition dir), so the
    export never produces the many-small-files layout a cached or
    AQE-coalesced write would.  A per-shard row-count manifest lands
    beside the data under `_manifest` (underscore-prefixed paths are
    invisible to Spark's partition discovery), computed from the SAME
    frame that was written — a resumed trainer can assert shard
    completeness without listing or re-counting data files.

    mode("error"): shards are immutable artifacts like the IVF index
    and BPE merges — re-exporting to a used path is a caller bug, not
    an overwrite."""
    if fmt not in ("json", "parquet", "orc", "csv"):
        raise ValueError(f"export_shards: unsupported format {fmt!r}")
    sharded = assign_shards(df, n_shards, key_col).persist()
    try:
        writer = (
            sharded.repartition(n_shards, "shard_id")
            .write.mode("error")
            .partitionBy("shard_id")
            .format(fmt)
        )
        if compression is not None:
            writer = writer.option("compression", compression)
        writer.save(path)
        (
            sharded.groupBy("shard_id")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .coalesce(1)
            .write.mode("error")
            .parquet(f"{path}/_manifest")
        )
    finally:
        # a failed write (e.g. the documented used-path caller bug)
        # must not leak the cached corpus for the session's lifetime
        sharded.unpersist()


def read_shard(
    spark: SparkSession, path: str, shard_id: int, fmt: str = "json"
) -> DataFrame:
    """One worker's view of an exported shard set: partition-pruned
    read of a single shard_id directory (the filter is a partition
    filter — no other shard's bytes are touched)."""
    return (
        spark.read.format(fmt).load(path)
        .filter(F.col("shard_id") == int(shard_id))
    )


def shard_manifest(spark: SparkSession, path: str) -> DataFrame:
    """(shard_id, n_rows) as written at export time."""
    return spark.read.parquet(f"{path}/_manifest")


def write_clean_corpus(
    spark: SparkSession, documents: DataFrame, out_path: str,
    near_dup_threshold: float = 0.5,
) -> dict[str, int]:
    """Materialize the cleaned corpus partitioned by lang; returns
    aggregate counts (input, surviving, dropped) — the O25-style
    report at corpus level.

    One pass over the survivor lineage: the input is persisted (its
    lineage is read by the exact-dedup branch, the survivor semi-join
    AND the pair source), survivors are persisted, counted once, and
    written from cache.  Neither the input nor the written output is
    re-scanned for the report — the input count reads the cache the
    cleaning pass already populated.  An input the CALLER already
    persisted is left exactly as given (not re-persisted, and not
    evicted on exit — unpersisting a borrowed cache would silently
    force the caller's next action to recompute its lineage).
    """
    from pyspark import StorageLevel

    caller_cached = documents.storageLevel != StorageLevel.NONE
    docs = documents if caller_cached else documents.persist()
    survivors = clean_corpus(docs, near_dup_threshold).persist()
    try:
        n_out = survivors.count()
        survivors.write.mode("overwrite").partitionBy("lang").parquet(out_path)
        n_in = docs.count()
    finally:
        survivors.unpersist()
        if not caller_cached:
            docs.unpersist()
    return {"input": n_in, "surviving": n_out, "dropped": n_in - n_out}


def pack_sequences(
    docs: DataFrame,
    budget: int,
    shard_col: str,
    order_col: str,
    tokens_col: str,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing — the layout step that
    turns a cleaned corpus into fixed-length training sequences: the
    documents of each shard are laid end-to-end in `order_col` order
    and cut every `budget` tokens, so a document may straddle a
    sequence boundary (the standard GPT-style pre-training packing,
    zero padding waste, as opposed to greedy bin-packing).

    Output: one row per input doc with its global token offset within
    the shard and the first/last sequence it lands in.

    Scale shape: the running offset is ONE window cumsum partitioned
    by `shard_col` (a real pipeline packs per shard/file exactly so
    this window never becomes a global single-partition sort); docs
    with a non-positive token count are rejected loudly rather than
    silently emitted as zero-width spans.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(shard_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    off = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    # NULL must be guarded explicitly: `col <= 0` is NULL for NULL
    # input, which would fall through to the otherwise-branch and emit
    # NULL offsets (the doc silently skipped by the window sum)
    # instead of raising.
    guard = F.when(
        F.col(tokens_col).isNull() | (F.col(tokens_col) <= 0),
        F.raise_error(
            F.concat(
                F.lit("pack_sequences: non-positive or NULL token count for "),
                F.col(order_col).cast("string"),
            )
        ).cast("bigint"),
    ).otherwise(off)
    budget = int(budget)
    # `div` (true integer division), never double `/` + cast: the
    # double quotient can round UP across an integer boundary near
    # 2^53/budget and disagree with the oracle's `//` (the graph.py
    # exactness rule)
    return docs.select(
        shard_col,
        order_col,
        F.col(tokens_col).cast("bigint").alias("n_tokens"),
        guard.cast("bigint").alias("token_offset"),
    ).select(
        "*",
        F.expr(f"token_offset div {budget}").alias("seq_first"),
        F.expr(f"(token_offset + n_tokens - 1) div {budget}").alias("seq_last"),
    )


def pack_documents_whole(
    docs: DataFrame,
    budget: int,
    shard_col: str,
    tokens_col: str,
    id_col: str,
) -> DataFrame:
    """Whole-document bin packing — the OTHER standard packing mode
    beside `pack_sequences`' concatenate-and-chunk: every document
    lands intact in exactly one fixed-capacity bin (SFT/instruction
    tuning wants unfragmented examples; the price is padding waste
    where chunk-packing has none).  Best-fit-decreasing per shard:
    docs sorted by (tokens desc, id asc), each placed in the fullest
    bin that still fits it (ties → lowest bin id), new bin otherwise
    — the classic ≤ 11/9·OPT + 1 guarantee, deterministic under any
    partitioning because both the order and the tie-breaks are total.

    Output: one row per doc with `bin_id` (per shard, dense from 0)
    and `bin_slot` (insertion order within the bin — the loader's
    concatenation order).  Docs larger than `budget` (and NULL or
    non-positive counts) are rejected loudly: silently dropping an
    unpackable document is how a corpus loses its longest examples.

    Scale shape: one shuffle on `shard_col`, then a per-shard
    sequential BFD in an Arrow-batched grouped map (bin packing is
    inherently order-dependent; the shard IS the parallelism unit,
    exactly like `pack_sequences`' per-shard window).  The in-memory
    state is the doc list of one shard — shards are sized for
    training-loader consumption, far under executor memory.
    """
    import pandas as pd

    if budget <= 0:
        raise ValueError(f"pack_documents_whole: budget must be > 0: {budget}")
    types = {f.name: f.dataType.simpleString() for f in docs.schema.fields}
    schema = (
        f"{shard_col} {types[shard_col]}, {id_col} {types[id_col]}, "
        f"n_tokens bigint, bin_id int, bin_slot int"
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        import bisect

        bad = pdf[pdf[tokens_col].isna() | (pdf[tokens_col] <= 0)]
        if len(bad):
            raise ValueError(
                "pack_documents_whole: non-positive or NULL token count "
                f"for {id_col}={bad.iloc[0][id_col]!r}"
            )
        over = pdf[pdf[tokens_col] > budget]
        if len(over):
            raise ValueError(
                f"pack_documents_whole: document {over.iloc[0][id_col]!r} "
                f"has {int(over.iloc[0][tokens_col])} tokens > budget "
                f"{budget} — it fits no bin; chunk it first or raise the "
                "budget"
            )
        pdf = pdf.sort_values(
            [tokens_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        open_bins: list[tuple[int, int]] = []  # (remaining, bin_id), sorted
        slots: list[int] = []  # next slot per bin_id
        bin_ids, bin_slots = [], []
        for length in pdf[tokens_col].astype("int64"):
            length = int(length)
            i = bisect.bisect_left(open_bins, (length, -1))
            if i < len(open_bins):
                rem, b = open_bins.pop(i)  # best fit: smallest rem >= len
                rem -= length
            else:
                b, rem = len(slots), budget - length  # open a new bin
                slots.append(0)
            if rem > 0:
                bisect.insort(open_bins, (rem, b))
            bin_ids.append(b)
            bin_slots.append(slots[b])
            slots[b] += 1
        out = pdf[[shard_col, id_col]].copy()
        out["n_tokens"] = pdf[tokens_col].astype("int64")
        out["bin_id"] = pd.array(bin_ids, dtype="int32")
        out["bin_slot"] = pd.array(bin_slots, dtype="int32")
        return out

    return docs.select(shard_col, id_col, tokens_col).groupBy(
        shard_col
    ).applyInPandas(_pack, schema)


def explode_sequence_spans(
    packed: DataFrame,
    budget: int,
    shard_col: str,
    order_col: str,
) -> DataFrame:
    """Materialize the seq_id→token-span mapping a training loader
    actually consumes from a `pack_sequences` manifest: one row per
    (document, sequence) pair — a doc straddling a sequence boundary
    emits one span per sequence it touches.

    Output per row: `seq_id` (per shard), `token_start`/`token_len`
    (the half-open token slice WITHIN the document that lands in this
    sequence) and `pos_in_seq` (where that slice starts inside the
    fixed-length sequence).  Invariants (property-tested): per doc,
    spans tile [0, n_tokens) contiguously; per (shard, seq_id), spans
    tile [0, budget) contiguously except the shard's final partial
    sequence.

    Scale shape: a stateless narrow generator over the manifest —
    explode(sequence(seq_first, seq_last)) plus integer arithmetic,
    no shuffle, no Python.  Fan-out is bounded: a doc emits
    ceil(n_tokens/budget)+1 rows at most.  Callers composing this
    with the manifest (as the registry suite does) should persist the
    manifest to avoid re-running its window cumsum per branch.
    """
    b = int(budget)
    span = packed.select(
        shard_col,
        order_col,
        "n_tokens",
        "token_offset",
        F.explode(F.sequence(F.col("seq_first"), F.col("seq_last"))).alias("seq_id"),
    )
    start_g = F.greatest(F.col("token_offset"), F.col("seq_id") * b)
    end_g = F.least(
        F.col("token_offset") + F.col("n_tokens"), (F.col("seq_id") + 1) * b
    )
    return span.select(
        shard_col,
        order_col,
        "seq_id",
        (start_g - F.col("token_offset")).cast("bigint").alias("token_start"),
        (end_g - start_g).cast("bigint").alias("token_len"),
        (start_g - F.col("seq_id") * b).cast("bigint").alias("pos_in_seq"),
    )


def prepare_training_corpus(
    documents: DataFrame,
    out_dir: str,
    budget: int = 2048,
    near_dup_threshold: float = 0.5,
    shard_col: str = "source",
) -> dict[str, int]:
    """The full pre-training data pipeline as one entry point:

      PII redaction → quality filter → exact + near dedup
      (clean_corpus, LSH scale path) → token counts →
      concat-and-chunk packing (pack_sequences)

    Writes `<out_dir>/documents` (cleaned, redacted docs partitioned
    by lang) and `<out_dir>/packed` (the per-doc sequence manifest),
    and returns per-stage counts.

    Ordering rationale: redact FIRST (redaction changes content
    hashes, so deduping before it would keep near-identical docs that
    differ only in their PII); filter before dedup (cheap narrow
    predicate shrinks the expensive inverted-index stages); pack LAST
    over survivors only.

    Cost shape: the stage counts are read from persisted frames the
    next stage scans anyway — persist → count → reuse (the
    write_clean_corpus rule), so no stage lineage executes twice.
    """
    from pyspark import StorageLevel

    from datawarehouse_code_spark.operators.text import (
        quality_filter,
        redact_pii,
    )

    # persist the input around its count — counting unpersisted and
    # then re-reading it for the redact stage would scan the largest
    # frame in the pipeline twice (the write_clean_corpus
    # borrowed-cache rule: respect a caller's existing persist)
    caller_cached = documents.storageLevel != StorageLevel.NONE
    docs_in = documents if caller_cached else documents.persist()
    n_input = docs_in.count()
    redacted = redact_pii(docs_in, keep_cols=True)
    swapped = (
        redacted.withColumn("text", F.col("redacted_text"))
        .withColumn("n_chars", F.length("text"))
        .drop("redacted_text", "n_email", "n_ip", "n_phone")
    )
    filtered = quality_filter(swapped).persist()
    try:
        n_filtered = filtered.count()
        survivors = clean_corpus(
            filtered, near_dup_threshold=near_dup_threshold
        ).persist()
        try:
            n_survivors = survivors.count()
            survivors.write.mode("overwrite").partitionBy("lang").parquet(
                f"{out_dir}/documents"
            )
            with_tokens = survivors.select(
                shard_col,
                "doc_id",
                F.regexp_count(F.lower(F.col("text")), F.lit("[a-z0-9]+"))
                .cast("bigint")
                .alias("n_tok"),
            )
            packed = pack_sequences(
                with_tokens, budget, shard_col, "doc_id", "n_tok"
            ).persist()
            try:
                # sequence ids are per shard, so the total is the sum
                # of each shard's (max seq_last + 1)
                n_seqs = (
                    packed.groupBy(shard_col)
                    .agg(F.max("seq_last").alias("m"))
                    .agg(F.sum(F.col("m") + 1))
                    .head()[0]
                )
                packed.write.mode("overwrite").parquet(f"{out_dir}/packed")
            finally:
                packed.unpersist()
        finally:
            survivors.unpersist()
    finally:
        filtered.unpersist()
        if not caller_cached:
            docs_in.unpersist()
    return {
        "input": n_input,
        "quality_kept": n_filtered,
        "dedup_kept": n_survivors,
        "sequences": int(n_seqs) if n_seqs is not None else 0,
    }


def deterministic_group_sample(
    df: DataFrame, group_cols: list[str], key_col: str, k: int
) -> DataFrame:
    """Exactly min(k, |group|) rows per group, selected by the
    smallest Knuth coin on the row key (ties broken by the key
    itself) — the eval-set / inspection-sample builder.  Unlike
    sampleBy, the selection is a pure function of the data: stable
    across runs, partitionings, and engines (the DuckDB twin replays
    the same integer hash), and REPRODUCIBLE months later from the
    same corpus snapshot.

    Scale shape: one window (rank within group by the hash) — a
    shuffle on group_cols.  A pathologically hot group makes that
    partition the straggler, the inherent cost of exact per-group
    k; for approximate needs at extreme skew, pre-filter with
    `knuth_u(key) < p` to cap group size first (composable: the coin
    is the same, so the pre-filter keeps exactly the rows the full
    rank would have ranked first... within the kept fraction)."""
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    khash = knuth_hash(key_col)
    w = Window.partitionBy(*group_cols).orderBy(
        khash.asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def forget_documents(
    spark: SparkSession,
    corpus_path: str,
    index_path: str | None,
    doc_ids: DataFrame,
    id_col: str = "doc_id",
) -> dict[str, int]:
    """Right-to-be-forgotten for the corpus: remove `doc_ids` from
    the stored corpus table AND its persisted LSH bucket index in one
    call, so a forgotten document can neither be read back nor ever
    surface as a near-dup candidate for future increments.  (The
    third leg — retracting the docs from maintained aggregate tables
    — is operators/rollup.propagate_deletes; it needs the metric
    columns, so it stays a separate call.)

    Both rewrites are one null-safe anti-join + staged overwrite
    (crash-recoverable swap, sources/acid.py); cost is a scan of
    each table, NOT of the raw text pipeline — no re-shingling, no
    re-signing of survivors, because the index rows are keyed by
    doc_id and deletion never changes other docs' signatures.

    Returns {'corpus_removed': n, 'index_rows_removed': m} from
    persisted before/after counts — the audit numbers a deletion
    request must report.

    Layout-transparent: a corpus or index created bucket-partitioned
    (e.g. run_corpus_ingest(n_buckets=)) takes the pruned deletion
    path and KEEPS its layout — a whole-table staged overwrite here
    would silently flatten the buckets and strand the sidecar,
    wedging the next maintenance run (round-14 review find).
    """
    from datawarehouse_code_spark.sources.acid import table_exists

    if not table_exists(spark, corpus_path):
        raise ValueError(f"no corpus table at {corpus_path}")
    ids = doc_ids.select(F.col(id_col)).distinct()
    report: dict[str, int] = {}
    report["corpus_removed"] = _forget_rows_from_table(
        spark, corpus_path, ids, id_col
    )
    if index_path is not None:
        if not table_exists(spark, index_path):
            raise ValueError(f"no LSH index at {index_path}")
        report["index_rows_removed"] = _forget_rows_from_table(
            spark, index_path, ids, id_col
        )
    return report


def _forget_rows_from_table(
    spark: SparkSession, path: str, ids: DataFrame, id_col: str
) -> int:
    """Delete `ids`' rows from ONE doc-keyed table, auto-detecting
    its layout, and return the exact removed count (audited BEFORE
    the write, against the recovered table).  Bucket-partitioned
    (sources/bucketed.py sidecar): the count scans only the ids' hash
    buckets and the deletion is a zero-update replace touching only
    those buckets — RTBF at O(|touched buckets|) that PRESERVES the
    layout.  Plain parquet: null-safe anti-join + crash-recoverable
    staged overwrite.  `ids` must be pre-distinct-ed on `id_col`."""
    from datawarehouse_code_spark.sources.acid import _staged_overwrite
    from datawarehouse_code_spark.sources.bucketed import (
        BUCKET_COL,
        bucket_expr,
        bucketed_meta,
        recover_interrupted_bucket_swap,
        replace_keyed_bucketed,
        writer_lease,
    )

    # forget IS a writer of this table: hold the lease across the
    # audit count AND the replace so (a) a concurrent maintainer is
    # refused loudly instead of invalidating the count between scan
    # and write, and (b) writer-grade recovery can repair a crashed
    # swap BEFORE the audit-count scan — counting against a
    # half-swapped table would report a wrong `removed` figure to the
    # deletion request (round-14 review find)
    with writer_lease(spark, path) as lease:
        recover_interrupted_bucket_swap(
            spark, path, writer=True, fence=lease.payload
        )
        meta = bucketed_meta(spark, path)
        if meta is not None:
            if list(meta["key"]) != [id_col]:
                raise ValueError(
                    f"bucketed table {path} is keyed on {meta['key']}, "
                    f"forget asked {[id_col]} — refusing a mismatched layout"
                )
            kb = bucket_expr([id_col], int(meta["n_buckets"]))
            touched = [
                r["b"] for r in ids.select(kb.alias("b")).distinct().collect()
            ]
            pruned = spark.read.parquet(path).filter(
                F.col(BUCKET_COL).isin(touched)
            )
            removed = pruned.join(ids, id_col, "left_semi").count()
            empty = spark.createDataFrame([], pruned.drop(BUCKET_COL).schema)
            replace_keyed_bucketed(
                spark, path, empty, [id_col], keys=ids, meta=meta,
                lease=lease,
            )
            return removed
        table = spark.read.parquet(path)
        before = table.count()
        kept = table.join(ids, id_col, "left_anti").persist()
        removed = before - kept.count()
        _staged_overwrite(spark, kept, path, lease=lease)
        kept.unpersist()
        return removed


def forget_index_rows(
    spark: SparkSession,
    index_path: str,
    doc_ids: DataFrame,
    id_col: str = "doc_id",
) -> int:
    """Right-to-be-forgotten for ANY doc-keyed persisted side table —
    the CDC chunk index, the winnowing fingerprint index, or any
    future detector's index (the LSH leg rides forget_documents; the
    IVF leg is similarity.forget_vectors, which needs partition
    surgery).  Every such index is keyed by the doc id, and deleting
    one doc's rows never changes another doc's rows (chunk hashes and
    selected fingerprints are per-doc pure functions), so deletion is
    one null-safe anti-join + crash-recoverable staged overwrite.
    Returns the number of rows removed — the audit figure a deletion
    request must report.  After the call, increments can never match
    the forgotten doc again (pinned by test).

    Bucket-partitioned indexes (sources/bucketed.py — the n_buckets=
    maintainer opt-in) take the pruned path automatically: the
    removed-count scan reads only the forgotten ids' hash buckets and
    the deletion is a zero-update replace_keyed_bucketed touching
    only those buckets — RTBF at O(|touched buckets|), not O(corpus),
    the same amplification contract as the maintenance writes."""
    from datawarehouse_code_spark.sources.acid import table_exists

    if not table_exists(spark, index_path):
        raise ValueError(f"no index table at {index_path}")
    ids = doc_ids.select(F.col(id_col)).distinct()
    return _forget_rows_from_table(spark, index_path, ids, id_col)


def select_canonical(
    documents: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware survivor selection: instead of clean_corpus's
    keep-the-minimum-id policy, keep the BEST document of each
    near-dup component by `score_col` (highest wins; ties break on
    the lower id, so the choice is deterministic and engine-
    reproducible).  Production pipelines keep the longest/cleanest
    member of a duplicate cluster, not an arbitrary one — the
    min-id policy exists for oracle simplicity, this one for corpus
    quality.

    Output: `documents` minus the non-canonical members of every
    component (singletons survive untouched).

    Scale shape: the component table covers only paired docs
    (≪ corpus); the winner per component is one max_by aggregation
    over it; the final filter is an id anti-join.  The CC fixpoint
    dominates, shared with every other component consumer.
    """
    comps = near_dup_components(pairs).select(
        F.col("doc_id").alias(id_col), "rep"
    )
    scored = comps.join(
        documents.select(id_col, score_col), id_col
    )
    # deterministic argmax: max_by on a (score, -id) struct — the
    # struct comparison is lexicographic, so higher score wins and
    # the LOWER id wins ties
    winners = scored.groupBy("rep").agg(
        F.max_by(
            F.col(id_col),
            F.struct(F.col(score_col).alias("s"), (-F.col(id_col)).alias("nid")),
        ).alias("keep_id")
    )
    losers = comps.join(
        winners, comps["rep"] == winners["rep"], "inner"
    ).filter(F.col(id_col) != F.col("keep_id")).select(id_col)
    return documents.join(losers, id_col, "left_anti")


def temperature_mixture(
    df: DataFrame, strata_col: str, alpha: float
) -> dict[str, float]:
    """Temperature-scaled target mixture — THE standard LLM data-mix
    rule (multilingual/multi-domain sampling à la the mBERT/T5
    exponential smoothing): target share p(s) ∝ n(s)^alpha.
    alpha = 1 keeps the natural mix, alpha = 0 gives uniform, values
    between damp head domains and boost tail ones.  Returns the
    normalized target dict for `mixture_resample` — the observed
    counts come from ONE aggregation pass (strata are a bounded
    domain, so the collect is dict-sized).
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1]: {alpha}")
    rows = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n")).collect()
    if not rows:
        raise ValueError("temperature_mixture: empty input")
    weights = {r[strata_col]: float(r["n"]) ** alpha for r in rows}
    total = sum(weights.values())
    return {k: v / total for k, v in weights.items()}


def ingest_corpus_increment(
    spark: SparkSession,
    corpus_path: str,
    index_path: str,
    new_docs: DataFrame,
    threshold: float = 0.5,
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
) -> dict[str, int]:
    """The composed NIGHTLY SWEEP the incremental pieces exist for:
    given a stored corpus and its persisted LSH index, ingest an
    increment end-to-end —

      1. exact dedup WITHIN the increment (min doc_id per content
         hash) and against the corpus (hash semi-join);
      2. near-dup dedup WITHIN the increment (batch detector over the
         increment only — the documented complement of the
         increment-vs-corpus detector);
      3. near-dup check AGAINST the corpus via the persisted index
         (near_dup_pairs_incremental — signs only the increment);
      4. append the survivors' index buckets, THEN the survivors to
         the corpus.

    Cost ∝ |increment| (+ the index equi-join) — the corpus is never
    re-shingled; only matched corpus docs re-derive shingles inside
    the incremental verifier.

    Crash/idempotence contract: the two appends are index-FIRST, so a
    crash between them leaves only orphan index buckets (harmless:
    their candidates verify against absent corpus docs and produce
    nothing), and a re-run of the SAME increment re-admits exactly
    the docs missing from the corpus; bucket re-appends are guarded
    by an anti-join on (doc_id) against the stored index, so retries
    never duplicate index rows.  Returns the per-stage drop counts.
    """
    from datawarehouse_code_spark.operators.text import (
        build_lsh_index,
        near_dup_pairs_exact,
        near_dup_pairs_incremental,
        normalized_text,
    )

    corpus = spark.read.parquet(corpus_path)
    index = spark.read.parquet(index_path)
    n_in = new_docs.count()

    # exact stage reuses exact_dedup's canonical mapping (text.py) for
    # the in-batch half; the corpus half is a hash anti-join.  Each
    # surviving stage is persisted: the stage counts below are
    # separate actions, and without the cache every later count
    # re-runs the whole upstream pipeline (the near-dup detector is
    # the dominant term — recomputing it per count doubles the sweep)
    canon = exact_dedup(new_docs).select(
        F.col("canonical_doc_id").alias("doc_id"),
        F.col("content_hash").alias("_h"),
    )
    in_batch = new_docs.join(canon, "doc_id").select(new_docs.columns + ["_h"])
    corpus_hashes = corpus.select(
        F.md5(normalized_text(F.col("text"))).alias("_h")
    )
    exact_ok = (
        in_batch.join(corpus_hashes, "_h", "left_anti").drop("_h").persist()
    )
    n_exact = exact_ok.count()

    pairs = near_dup_pairs_exact(exact_ok, k=k, threshold=threshold)
    comps = near_dup_components(pairs)
    # same survivor policy as clean_corpus: component minimum stays
    non_reps = comps.filter(F.col("rep") != F.col("doc_id")).select("doc_id")
    near_ok = exact_ok.join(non_reps, "doc_id", "left_anti").persist()
    n_near = near_ok.count()

    vs_corpus = near_dup_pairs_incremental(
        near_ok, corpus, index,
        k=k, num_hashes=num_hashes, bands=bands, threshold=threshold,
    )
    survivors = near_ok.join(
        vs_corpus.select(F.col("d_new").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    ).persist()
    n_final = survivors.count()

    if n_final:
        from datawarehouse_code_spark.sources.acid import leased_append

        new_buckets = build_lsh_index(
            survivors, k=k, num_hashes=num_hashes, bands=bands,
            hot_bucket_cap=None,
        )
        existing_ids = index.select("doc_id").distinct()
        # appends run under each table's writer lease with
        # repair-first (r17 'append eclipse' find in leased_append's
        # docstring): an unleased append could recreate a target a
        # crashed compaction/swap left aside-renamed, and the repair
        # would then delete the aside holding the real table
        with leased_append(spark, index_path):
            (
                new_buckets.join(existing_ids, "doc_id", "left_anti")
                .write.mode("append")
                .parquet(index_path)
            )
        with leased_append(spark, corpus_path):
            survivors.write.mode("append").parquet(corpus_path)
    for df in (survivors, near_ok, exact_ok):
        df.unpersist()
    return {
        "n_input": n_in,
        "dropped_exact": n_in - n_exact,
        "dropped_near_in_batch": n_exact - n_near,
        "dropped_near_vs_corpus": n_near - n_final,
        "n_ingested": n_final,
    }


def weighted_sample_k(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weight-proportional sample WITHOUT replacement
    (Efraimidis–Spirakis A-Res): each row draws u from the shared
    Knuth coin on its integer key and scores u^(1/w); the top-k
    scores are the sample.  With a fixed coin the draw is
    reproducible across runs, partitionings, and re-orderings — the
    same audit trail every deterministic sampler here offers — and
    inclusion probability rises with weight exactly as A-Res
    guarantees for the random-u case.

    Rows with non-positive or NULL weight are excluded (a zero weight
    must never be drawn; raising on negatives is the caller's
    validation).  Rows-only by nature (float pow crosses no oracle),
    pinned against a pure-Python recomputation in pytest.

    Scale shape: a narrow projection + global TakeOrderedAndProject
    (the top-k pattern — no full sort, no single-partition shuffle).
    """
    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    w = F.col(weight_col)
    valid = w.isNotNull() & (w > 0)
    if df.schema[weight_col].dataType.simpleString() in ("double", "float"):
        # NaN > 0 is TRUE in Spark and NaN sorts ABOVE every double,
        # so an unguarded NaN weight (a 0/0 upstream ratio) would
        # monopolize the sample
        valid = valid & ~F.isnan(w)
    score = F.pow(knuth_u(key_col), F.lit(1.0) / w)
    return (
        df.filter(valid)
        .withColumn("_ws", score)
        .orderBy(F.col("_ws").desc(), F.col(key_col).asc())
        .limit(k)
        .drop("_ws")
    )
