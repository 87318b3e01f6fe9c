"""Graph algorithms as iterative DataFrame plans.

Connected components live in operators/corpus.py (near-dup
clustering); this module adds PageRank — the other graph primitive a
training-data pipeline reaches for (domain/source authority scoring
for quality weighting, influence ranking over interaction graphs).

Exactness doctrine: ranks are INTEGER mass, not doubles.  A float
PageRank sums contributions in engine- and partition-dependent order,
so the low bits differ between Spark and DuckDB and any floor/round
of the result can flip — untestable cross-engine.  Integer mass with
integer division is exact everywhere: mass_0 = S div N and

    mass_{k+1}(i) = (15·mass_0 + 85·Σ_{j→i} (mass_k(j) div outdeg(j)))
                    div 100

(damping 0.85 as the 85/100 rational).  The div-truncation loses a
few units of mass per round — irrelevant for ranking, and the same
few units on every engine.

Scale shape per iteration: one equi-join (edges ⋈ ranks on src — the
join that partitions by src) + one groupBy dst — the identical
join+agg round as the connected-components loop, AQE-splittable on
hot nodes.  Fixed iteration count k (driver-side Python loop, no
convergence fixpoint needed); lineage stays k joins deep, so for
large k cut it each round like near_dup_components does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datawarehouse_code_spark.operators.iterative import (
    convergence_signature,
    cut_lineage,
    release_checkpoint,
)

TOTAL_MASS = 10**12


def pagerank_fixed(
    edges: DataFrame,
    iters: int = 3,
    checkpoint_every: int | None = 8,
    check_dangling: bool = True,
) -> DataFrame:
    """Integer-mass PageRank over a directed edge list (src, dst) for
    a FIXED number of iterations.  Every node must appear as a src at
    least once (no dangling nodes) — symmetrize the edge list first
    if needed; violating this silently leaks rank mass, so it raises.

    `check_dangling=False` skips that precondition scan (a distinct +
    anti-join + count — two extra jobs over the full edge list per
    invocation, pure overhead at scale): callers that just symmetrized
    the edge list (every src is also a dst and vice versa, so every
    node has an out-edge by construction) can prove the precondition
    statically and opt out.  Default stays ON — silent mass leak is
    strictly worse than two cheap jobs.

    Returns (node, mass) — higher mass = higher rank; mass values are
    exactly reproducible on any engine (integer arithmetic only).

    The edge list (and nodes/outdeg derived from it) is eagerly
    checkpointed up front: every iteration joins against all three,
    and without the cut each round's plan would re-derive the whole
    upstream edge lineage (at scale typically a large join +
    distinct) once per iteration.  Every cut follows the session's
    checkpoint dir (operators/iterative.cut_lineage).
    """
    edges = cut_lineage(edges)
    nodes = cut_lineage(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct(),
    )
    if check_dangling:
        srcs = edges.select("src").distinct()
        dangling = nodes.join(
            srcs.withColumnRenamed("src", "node"), "node", "left_anti"
        )
        if dangling.limit(1).count() > 0:
            raise ValueError(
                "pagerank_fixed: dangling nodes (no out-edges) present — "
                "symmetrize or self-loop the edge list first"
            )

    # NOTE (r17, measured): hoisting edges⋈outdeg out of the loop as
    # one (src, dst, outdeg) cut was tried and REVERTED — at practical
    # node counts the per-round ranks/outdeg sides are broadcast by
    # AQE (the edge list never shuffles), so the hoist's extra
    # edge-sized materialization is pure added cost (isolated A/B at
    # sf0.1: 2.98/3.11 s → 3.28/3.44 s, identical output).
    outdeg = cut_lineage(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    )
    n_nodes = nodes.count()
    base = TOTAL_MASS // n_nodes

    ranks = nodes.withColumn("mass", F.lit(base).cast("bigint"))
    # each periodic cut supersedes the previous one — under reliable
    # checkpointing the replaced round's files are deleted as soon as
    # the new cut materializes, so a long loop holds at most one
    # superseded copy instead of one per cut (operators/iterative.py)
    prev_cut = None
    for it in range(iters):
        # `div` is true integer division on both engines; a double `/`
        # followed by a cast can round UP across an integer boundary
        # (1-ulp error) and break exact cross-engine parity
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("mass div outdeg").alias("c"),
            )
        )
        incoming = contrib.groupBy("node").agg(F.sum("c").alias("inc"))
        ranks = nodes.join(incoming, "node", "left").select(
            "node",
            F.expr(
                f"(15 * CAST({base} AS BIGINT) + 85 * coalesce(inc, 0)) div 100"
            ).alias("mass"),
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            ranks = cut_lineage(ranks, supersedes=prev_cut)
            prev_cut = ranks
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts — the third graph primitive beside
    connected components (operators/corpus.py) and PageRank: input is
    an undirected simple edge set as (a, b) rows, output (node,
    n_triangles) for every node in at least one triangle.

    Algorithm: degree-ordered node-iterator.  Edges are re-oriented
    from the (degree, id)-SMALLER endpoint to the larger, wedges are
    built only at each edge's lower endpoint, and each wedge is
    closed against the oriented edge set — every triangle is found
    exactly once, and the wedge count is Σ d⁺(v)² over OUT-degrees,
    which the orientation bounds by O(m^1.5) overall (the classic
    fix for the hub problem: a star's center gets out-degree ~0, so
    a celebrity node no longer spawns |followers|² wedges; plain
    a<b<c ordering would put every hub with a small id at the wedge
    apex).  All equi-joins on node keys — no cross join at any step.

    Input contract: (a, b) pairs with a != b; duplicates and
    orientation are normalized here, self-loops raise (a self-loop
    would count spurious 'triangles' through itself).
    """
    canon = edges.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct()
    loops = canon.filter(F.col("a") == F.col("b")).limit(1).count()
    if loops:
        raise ValueError("triangle_counts: edge set contains self-loops")
    # degree over the CANONICAL undirected edges
    deg = (
        canon.select(F.explode(F.array("a", "b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("db"))
    withdeg = canon.join(da, "a").join(db, "b")
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = withdeg.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    # wedges at the lower endpoint u: (u→v), (u→w), v != w; close on
    # the oriented edge between v and w (either direction)
    e1 = oriented.alias("e1")
    e2 = oriented.alias("e2")
    wedges = e1.join(e2, F.col("e1.u") == F.col("e2.u")).filter(
        F.col("e1.v") < F.col("e2.v")
    ).select(
        F.col("e1.u").alias("x"),
        F.col("e1.v").alias("y"),
        F.col("e2.v").alias("z"),
    )
    close = oriented.select(
        F.least("u", "v").alias("cy"), F.greatest("u", "v").alias("cz")
    )
    tri = wedges.join(
        close,
        (F.least("y", "z") == F.col("cy"))
        & (F.greatest("y", "z") == F.col("cz")),
        "left_semi",
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def bfs_distances(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 20,
) -> DataFrame:
    """Unweighted shortest-path hop distances from a SOURCE SET — the
    fourth graph primitive beside pagerank, connected components, and
    triangles (reachability radii, "how far is every supplier from a
    flagged set", feature distances for fraud/risk graphs).

    `edges` is undirected input (a, b); `sources` is a one-column
    frame of seed nodes (distance 0).  Returns (node, dist) for every
    node within `max_hops` of a seed — unreached nodes are absent
    (the caller left-joins and fills if it wants INFs).

    Mechanics: synchronous distance relaxation — each round joins the
    current frontier to the symmetric edge list, proposes dist+1 to
    neighbors, merges with a min-groupBy, and stops when no node's
    distance improved.  Rounds needed = graph eccentricity from the
    seed set, each round join+agg on node ids, checkpointed like the
    other iterative operators (the lineage would otherwise grow per
    round — operators/iterative.py).  `max_hops` bounds the loop;
    hitting it
    truncates distances at max_hops (documented, not an error —
    distances are exact for every node whose dist < max_hops).

    Convergence is a MONOTONE SIGNATURE on the distance table (the
    near_dup_components pattern): the min-merge only ever adds nodes
    or lowers integer distances, so (count, Σdist) moves every round
    until the fixpoint and is equal exactly AT it — one scalar agg
    replaces the frontier-emptiness count, and in local-checkpoint
    mode the round's cut is non-eager so that agg job also
    materializes the checkpoint (ONE Spark action per round where
    the previous shape paid three).  Integer distances make the Σ
    exact — weighted_shortest_paths shares the same signature shape
    (its weights are integers by contract); a FLOAT distance column
    could not, because a float Σ is order-dependent and a masked
    change would terminate early / a phantom change would burn
    rounds.

    Scale shape: per round cost = |frontier adjacency| shuffled on
    node id; at 100 TB the same shape as one pagerank iteration.  No
    driver-side graph state — only the convergence counter.
    """
    clean = edges.filter(F.col("a") != F.col("b")).select("a", "b")
    sym = cut_lineage(
        clean.union(
            clean.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct(),
    )
    src = sources.toDF("node").distinct()
    dist = cut_lineage(src.withColumn("dist", F.lit(0)))
    frontier = dist

    def _sig(frame: DataFrame) -> tuple:
        # monotone: the min-merge only adds nodes or lowers dists
        return convergence_signature(frame, "dist")

    sig = _sig(dist)
    for _ in range(max_hops):
        proposals = (
            frontier.join(sym, frontier["node"] == sym["a"])
            .select(F.col("b").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        merged = cut_lineage(
            dist.unionByName(proposals)
            .groupBy("node")
            .agg(F.min("dist").alias("dist")),
            eager=False,
        )
        new_sig = _sig(merged)
        if new_sig == sig:
            # fixpoint: no node improved, so the would-be frontier is
            # empty — merged ≡ dist content-wise and neither it nor a
            # new frontier needs building (old dist is returned; the
            # identical merged cut is reclaimed)
            release_checkpoint(frontier, unless=(dist,))
            release_checkpoint(merged, unless=(dist,))
            break
        sig = new_sig
        # the next frontier = nodes whose distance just improved.
        # Lazy in local mode: it materializes inside the next round's
        # signature job.
        new_frontier = cut_lineage(
            merged.join(
                dist.select("node", F.col("dist").alias("_old")), "node", "left"
            ).filter(
                F.col("_old").isNull() | (F.col("dist") < F.col("_old"))
            ).select("node", "dist"),
            eager=False,
        )
        # the new cuts are (or will be) materialized and the round's
        # inputs are dead: reclaim their reliable-checkpoint files now
        # instead of leaking one per round (round 1 aliases frontier
        # to dist — the `unless` guard makes the two releases delete
        # once)
        release_checkpoint(frontier, unless=(dist, merged, new_frontier))
        release_checkpoint(dist, unless=(merged, new_frontier))
        dist = merged
        frontier = new_frontier
    else:
        # max_hops exhausted without converging (the documented
        # truncation case): the last round's frontier checkpoint has
        # no further reader — reclaim it (the convergence break path
        # releases inside the loop)
        release_checkpoint(frontier, unless=(dist,))
    return dist


def label_propagation(
    edges: DataFrame,
    n_rounds: int = 4,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (LPA) —
    the fifth graph primitive beside pagerank, connected components
    (operators/corpus.py), triangles, and BFS: communities in trade /
    co-occurrence / near-dup graphs without a modularity solver.

    `edges` is an undirected edge set as (a, b) rows (self-loops
    dropped, duplicates and orientation normalized here).  Every node
    starts labeled with its own id; each round every node adopts the
    label occurring MOST OFTEN among its neighbors, ties broken by
    the SMALLEST label.  Both rules are deterministic, so unlike
    classic randomized-order LPA the result is a pure function of the
    graph and `n_rounds` — which is also what makes it cross-engine
    testable (the oracle unrolls the same rounds in SQL).  A fixed
    round count sidesteps synchronous LPA's known two-coloring
    oscillation; in practice labels stabilize in a few rounds on
    community-structured graphs (pinned by the crafted two-clique
    pytest) and `n_rounds` bounds the cost on adversarial ones.

    Node ids must be SIGNED NUMERIC (r17 advice): the max_by argmax's
    tie-break negates the label (`-label`), which narrows the id
    contract to numeric types — string/uuid node ids (fine under the
    pre-r17 window's `label ASC`) now fail at runtime under ANSI
    casting.  Every in-repo caller keys on bigint supplier/doc ids;
    callers with string ids must map them to a numeric surrogate
    first.

    Scale shape per round: one equi-join of the symmetric edge list
    against the label frame (shuffled on node id), one (node, label)
    count, one per-node window for the argmax — the same join+agg
    round as the CC/pagerank loops, AQE-splittable on hot nodes.
    A lineage cut every `checkpoint_every` rounds caps the growing
    plan exactly as the other iterative operators do
    (operators/iterative.py).  No driver state beyond the loop
    counter.
    """
    clean = edges.filter(F.col("a") != F.col("b")).select("a", "b")
    sym = cut_lineage(
        clean.union(
            clean.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct(),
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    # superseded periodic cuts are reclaimed as soon as the next cut
    # materializes (reliable mode; see operators/iterative.py)
    prev_cut = None
    for r in range(n_rounds):
        nbr_labels = sym.join(
            labels.select(F.col("node").alias("b"), "label"), "b"
        ).select(F.col("a").alias("node"), "label")
        counts = nbr_labels.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        # argmax by (cnt DESC, label ASC) as a max_by hash aggregate
        # (r17, guide §2.3/§2.4): the former row_number window paid a
        # full sort per round and shipped every (node, label, cnt) row
        # to one partition per node; max_by partial-aggregates
        # map-side and never sorts.  (cnt, -label) is lexicographically
        # maximal exactly at the highest count, smallest label — the
        # identical deterministic tie-break, integer comparisons only.
        labels = counts.groupBy("node").agg(
            F.max_by(
                "label", F.struct(F.col("cnt"), (-F.col("label")).alias("_nl"))
            ).alias("label")
        )
        if checkpoint_every and (r + 1) % checkpoint_every == 0:
            labels = cut_lineage(labels, supersedes=prev_cut)
            prev_cut = labels
    return labels


def weighted_shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    max_rounds: int = 20,
) -> DataFrame:
    """Weighted shortest-path distances from a SOURCE SET — the
    weighted companion of bfs_distances (hop counts) and the sixth
    graph primitive: cost-weighted reachability over trade /
    co-occurrence / similarity graphs.

    `edges` is an undirected weighted edge list (a, b, w) with
    NON-NEGATIVE INTEGER weights (integer per the exactness doctrine
    at the top of this module — float path sums would differ in the
    low bits across engines; negative weights raise, since distributed
    Bellman-Ford has no negative-cycle detection worth its cost);
    parallel edges keep their minimum weight.  `sources` is a
    one-column frame of seed nodes (distance 0).

    Returns (node, dist): the minimum total weight over paths of AT
    MOST `max_rounds` edges — the same honest truncation contract as
    bfs_distances (distances are exact for every node whose shortest
    path uses fewer edges; the oracle replays the identical ≤H-edge
    semantics with a hop-bounded recursive CTE).  Converges early
    when a round improves nothing.

    Mechanics: frontier-based Bellman-Ford — each round joins the
    IMPROVED nodes to the symmetric edge list, proposes dist + w to
    neighbors, min-merges with the standing distances.  A node
    re-relaxes only when its own distance improved, so round k ends
    with exactly min-over-≤k-edge-paths.  Scale shape per round: one
    equi-join shuffled on node id + one min-groupBy — the
    bfs/pagerank/LPA round, checkpointed lineage
    (operators/iterative.py).

    Convergence is the MONOTONE SIGNATURE of bfs_distances (r17): the
    weights are integers by contract, so the min-merge only ever adds
    nodes or lowers integer distances and (count, Σdist over
    decimal(38,0)) is exact and moves every round until the fixpoint
    — one scalar agg replaces the old frontier-emptiness count, and
    in local-checkpoint mode the round's non-eager cut materializes
    inside that same job (ONE Spark action per round where the
    previous shape paid three: eager merged cut + eager frontier cut
    + frontier count).  A FLOAT distance column could not use this
    (order-dependent Σ) — the integer-weight precondition below is
    what licenses it.

    The negative-weight precondition is checked on the SYMMETRIZED
    frame, not with a separate scan of `edges`: sym is eagerly
    materialized for the loop anyway, so min-over-sym reads the
    deduplicated checkpoint blocks instead of paying one extra full
    edge scan per call (min(min-per-pair) == global min, so the
    check is exact).
    """
    # self-loops ride THROUGH the symmetrize (they collapse to (a, a)
    # rows) so the min-weight check still sees a negative self-loop —
    # a genuine negative cycle — before they are dropped for the loop
    raw = edges.select("a", "b", "w")
    sym_all = cut_lineage(
        raw.union(
            raw.select(
                F.col("b").alias("a"), F.col("a").alias("b"), F.col("w")
            )
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w")),
    )
    min_w = sym_all.agg(F.min("w").alias("mn")).first()["mn"]
    if min_w is not None and min_w < 0:
        raise ValueError(
            "weighted_shortest_paths: negative edge weights present — "
            "Bellman-Ford over a distributed frontier cannot certify "
            "negative-cycle freedom; shift or clamp weights first"
        )
    sym = sym_all.filter(F.col("a") != F.col("b"))
    src = sources.toDF("node").distinct()
    dist = cut_lineage(src.withColumn("dist", F.lit(0).cast("bigint")))
    frontier = dist

    def _sig(frame: DataFrame) -> tuple:
        # monotone: the min-merge only adds nodes or lowers INTEGER
        # distances (non-negative-integer weights enforced above)
        return convergence_signature(frame, "dist")

    sig = _sig(dist)
    for _ in range(max_rounds):
        proposals = frontier.join(sym, frontier["node"] == sym["a"]).select(
            F.col("b").alias("node"),
            (F.col("dist") + F.col("w")).cast("bigint").alias("dist"),
        )
        merged = cut_lineage(
            dist.unionByName(proposals)
            .groupBy("node")
            .agg(F.min("dist").alias("dist")),
            eager=False,
        )
        new_sig = _sig(merged)
        if new_sig == sig:
            # fixpoint: no node improved — merged ≡ dist content-wise,
            # the would-be frontier is empty, and neither it nor a new
            # frontier needs building (bfs_distances shape)
            release_checkpoint(frontier, unless=(dist,))
            release_checkpoint(merged, unless=(dist,))
            break
        sig = new_sig
        # next frontier = nodes whose distance just improved.
        # Lazy in local mode: it materializes inside the next round's
        # signature job.
        new_frontier = cut_lineage(
            merged.join(
                dist.select("node", F.col("dist").alias("_old")),
                "node",
                "left",
            )
            .filter(F.col("_old").isNull() | (F.col("dist") < F.col("_old")))
            .select("node", "dist"),
            eager=False,
        )
        # the round's inputs are dead once both cuts materialize —
        # reclaim reliable-checkpoint files (round 1 aliases frontier
        # to dist; the unless guard deletes once)
        release_checkpoint(frontier, unless=(dist, merged, new_frontier))
        release_checkpoint(dist, unless=(merged, new_frontier))
        dist = merged
        frontier = new_frontier
    else:
        # max_rounds exhausted without converging (the documented
        # ≤max_rounds-edge truncation): the last frontier checkpoint
        # has no further reader
        release_checkpoint(frontier, unless=(dist,))
    return dist
