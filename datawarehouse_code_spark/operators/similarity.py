"""Embedding similarity search: brute-force cosine top-k and a
random-hyperplane LSH-bucketed variant.

The vector math is pure Spark SQL array expressions (`zip_with` +
`aggregate`) — JVM-side, no UDFs.  Embeddings are cast float→double
up front: float32 arithmetic orders differently across engines and
would poison oracle comparison, and double accumulation is what a
production scorer wants anyway.

Scale shapes:
- Brute force is a broadcast of the (small) query set against the
  candidate corpus: cost O(|Q|·N·d), embarrassingly parallel, the
  right baseline and the exact-answer oracle for ANN evaluation.
- The LSH variant buckets vectors by the sign pattern of `n_planes`
  random-hyperplane projections (deterministic hash-derived planes,
  no stored model), then searches only within a bucket:
  cost O(|Q|·E[bucket]·d).  Recall is tuned by plane count, by
  multi-table union (`n_tables`), and — the production recall/cost
  knob — by query-side multi-probe (`n_probes`): flipping the
  lowest-|margin| planes visits the likeliest alternative buckets,
  buying ~p tables' recall for one table's corpus-side index cost
  (tables multiply the INDEX, probes multiply only the queries).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from datawarehouse_code_spark.functions.scalars import (
    cosine_similarity as cosine,
)
from datawarehouse_code_spark.functions.scalars import (
    dot_product as dot,
)
from datawarehouse_code_spark.functions.scalars import (
    l2_norm,
)
from datawarehouse_code_spark.operators.iterative import cut_lineage

__all__ = [
    "as_double_array", "dot", "l2_norm", "cosine",
    "brute_force_topk", "lsh_topk", "ivf_topk", "embedding_near_dup_lsh",
    "lsh_signature", "lsh_signatures_udf", "lsh_probe_sigs_udf",
    "plane_matrices", "kmeans_centroids",
    "build_ivf_index", "extend_ivf_index", "query_ivf_index",
    "forget_vectors",
    "_restrict_candidates", "quantized_rerank_topk",
    "pq_encode_udf", "pq_query_tables_udf",
    "semantic_dedup", "semantic_dedup_exact", "incremental_semantic_dedup",
    "semantic_dedup_with_centroids", "fit_ivf_centroids",
]


def as_double_array(c: Column) -> Column:
    return F.transform(c, lambda x: x.cast("double"))


# Compressed-index re-rank: when the shortlist has at most this many
# distinct candidate ids, the id list is collected and pushed into the
# vectors/ scan as a literal IN filter — parquet min/max row-group
# stats + the vec_id-sorted layout turn the fetch into a skip-read.
# Past it, the fetch falls back to a plain (broadcast) join: unbounded
# driver lists are never built (layout.py DRIVER_LIST_THRESHOLD
# doctrine).
_RERANK_IN_LIST_THRESHOLD = 20_000


def _ranked_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Rank candidates per query on the floor-6 cosine (floor avoids
    engine-specific round-half behavior; ties break on candidate id).

    Expects `inv_q`/`inv_c` (reciprocal norms) beside the vectors:
    norms are computed once per VECTOR on the join inputs, not per
    pair — a projection pushed through the join is a Catalyst collapse
    barrier, unlike a same-side withColumn, which gets re-inlined into
    the per-element lambda (64× recompute).
    """
    sim = (dot(F.col("qv"), F.col("cv")) * F.col("inv_q")) * F.col("inv_c")
    scored = pairs.select(
        "query_id", "candidate_id", (F.floor(sim * 1e6) / 1e6).alias("sim_f6")
    )
    return _ranked_topk_scored(scored, k)


def _sim_f6_col() -> Column:
    """The shared floor-6 cosine over (qv, inv_q, cv, inv_c) pair
    columns — _ranked_topk's exact arithmetic, exposed so callers can
    compute the similarity BEFORE a pair-dedup exchange and shuffle
    (query_id, candidate_id, sim_f6) instead of two 64-d vector
    payloads per row (r18, guide §2.3: shuffle keys and metadata
    instead of payloads).  Safe to evaluate per duplicate copy: a
    (query, candidate) pair's vectors are fixed, so every copy scores
    identically and dedup-after-score keeps the same single row
    dedup-before-score kept."""
    sim = (dot(F.col("qv"), F.col("cv")) * F.col("inv_q")) * F.col("inv_c")
    return (F.floor(sim * 1e6) / 1e6).alias("sim_f6")


def _ranked_topk_scored(scored: DataFrame, k: int) -> DataFrame:
    """Rank tail over already-scored (query_id, candidate_id, sim_f6)
    rows: (sim desc, candidate_id asc), keep k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_f6").desc(), F.col("candidate_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
    )


def _with_inv_norm(vecs: DataFrame) -> DataFrame:
    return vecs.withColumn("inv", F.lit(1.0) / l2_norm(F.col("v")))


def _restrict_candidates(vecs: DataFrame, allowed: DataFrame | None) -> DataFrame:
    """Metadata-filtered ANN: semi-join the candidate side down to an
    allowed-id set BEFORE any bucketing/ranking.  `allowed` is a
    one-column DataFrame of permitted candidate vec_ids (the caller
    computes it from whatever attribute predicate applies — lang,
    license, date — typically `documents.filter(pred).select(doc_id)`).

    Filter-BEFORE-rank is the whole point: ranking the full bucket and
    filtering the top-k afterwards returns fewer than k rows (or none)
    whenever the filter is selective — the classic post-filter ANN
    bug.  A semi-join keeps the shape scale-safe: no collect, and when
    the allowed set is small Spark broadcasts it."""
    if allowed is None:
        return vecs
    ids = allowed.select(F.col(allowed.columns[0]).alias("vec_id"))
    return vecs.join(ids, "vec_id", "left_semi")


def brute_force_topk(
    embeddings: DataFrame,
    max_query_id: int = 100,
    k: int = 5,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k for every query vector (vec_id < max_query_id)
    against the full corpus (self excluded).  `allowed` restricts the
    CANDIDATE side to an id set (see _restrict_candidates) — queries
    outside the set still search; candidates outside it are never
    ranked.

    Shape (r17, guide §8/§4.2): the bounded query set (≤max_query_id
    rows — the same bound the previous broadcast paid) is collected to
    a numpy matrix embedded in ONE Arrow pass over the candidates,
    which emits only each partition-batch's per-query top-k; a final
    window over those ≤(batches · |Q| · k) partial winners picks the
    global top-k.  The previous plan materialized the full |Q|·N pair
    table through interpreted array lambdas and shuffled it into |Q|
    window groups — at corpus scale that is the §8 anti-pattern
    (payloads shuffled to make a per-pair decision).  Every similarity
    is still the EXACT expression-twin arithmetic: the dot is a strict
    left fold (numpy cumsum), multiplied (·inv_q)·inv_c and floored at
    1e-6 grain, bit-for-bit what `_ranked_topk` computes — the oracle
    hash on similarity_topk_bruteforce/filtered enforces it.  NaN sims
    (zero-norm inputs) rank greatest, matching Spark's descending-sort
    NaN semantics.

    Precondition (r17 advice): embeddings must be NON-NULL arrays —
    the Arrow kernel np.vstacks the batch and raises on a NULL `v`,
    where the pre-r17 expression plan silently ranked a null sim last.
    Same contract as quantized_rerank_topk and ivf_topk's dense path;
    drop/repair null embeddings upstream (quality lane) before
    ranking."""
    vecs = _with_inv_norm(
        embeddings.select("vec_id", as_double_array(F.col("embedding")).alias("v"))
    )
    q_rows = (
        vecs.filter(F.col("vec_id") < max_query_id)
        .select("vec_id", "v", "inv")
        .collect()
    )
    c = _restrict_candidates(vecs, allowed).select(
        F.col("vec_id").cast("bigint").alias("candidate_id"),
        "v", "inv",
    )
    qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    qmat = (
        np.vstack([np.asarray(r["v"], dtype=np.float64) for r in q_rows])
        if q_rows else np.empty((0, 0))
    )
    qinv = np.array([r["inv"] for r in q_rows], dtype=np.float64)
    # ship the query matrix per EXECUTOR via a Spark broadcast, not
    # per task in the function closure (r18, r17 verdict ask #7): at
    # the default max_query_id=100 × 64 dims the closure tax is noise,
    # but a large query set would re-serialize with every task
    qbc = embeddings.sparkSession.sparkContext.broadcast(
        (qids, qmat, qinv)
    )

    def _partial_topk(batches):
        qids, qmat, qinv = qbc.value
        for pdf in batches:
            n = len(pdf)
            if n == 0 or len(qids) == 0:
                continue
            cids = pdf["candidate_id"].to_numpy(dtype=np.int64)
            C = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            cinv = pdf["inv"].to_numpy(dtype=np.float64)
            sims = np.empty((n, len(qids)), dtype=np.float64)
            # chunked so the (chunk × |Q| × dim) cumsum buffer stays
            # tens of MB; cumsum keeps the expression twin's strict
            # left-to-right accumulation order
            step = max(1, (16 << 20) // max(1, len(qids) * C.shape[1] * 8))
            for lo in range(0, n, step):
                hi = min(n, lo + step)
                prod = C[lo:hi, None, :] * qmat[None, :, :]
                d = np.cumsum(prod, axis=2)[:, :, -1]
                sims[lo:hi] = (d * qinv[None, :]) * cinv[lo:hi, None]
            f6 = np.floor(sims * 1e6) / 1e6
            # rank key: NaN ≡ greatest (Spark desc-sort semantics);
            # self-pairs excluded by index subset (not a -inf sentinel,
            # which a genuine -inf similarity could collide with)
            key = np.where(np.isnan(f6), np.inf, f6)
            excl = cids[:, None] == qids[None, :]
            out_q, out_c, out_s = [], [], []
            for j in range(len(qids)):
                valid = np.flatnonzero(~excl[:, j])
                order = valid[
                    np.lexsort((cids[valid], -key[valid, j]))[: min(k, len(valid))]
                ]
                out_q.append(np.full(len(order), qids[j], dtype=np.int64))
                out_c.append(cids[order])
                out_s.append(f6[order, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "candidate_id": np.concatenate(out_c),
                    "sim_f6": np.concatenate(out_s),
                }
            )

    partial = c.mapInPandas(
        _partial_topk, "query_id bigint, candidate_id bigint, sim_f6 double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_f6").desc(), F.col("candidate_id").asc()
    )
    return (
        partial.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
    )


def matryoshka_topk_recall(
    embeddings: DataFrame,
    prefix_dim: int = 16,
    max_query_id: int = 100,
    k: int = 5,
) -> DataFrame:
    """Prefix-truncation (Matryoshka) retrieval evaluation: rank
    top-k by cosine over only the FIRST `prefix_dim` dimensions —
    the cheap first-stage a Matryoshka-trained embedding enables
    (Kusupati et al., NeurIPS'22: nested prefixes are themselves
    usable embeddings) — and report, per query, how many of the
    EXACT full-dimension top-k the truncated ranking kept.  The
    measurement a pipeline needs before committing to a truncated
    first stage: n_overlap/k is recall@k of the cheap ranker.

    Both rankings are exact brute force under the shared floor-6 +
    (sim desc, id asc) contract, so every value replays on DuckDB —
    including queries the truncation fully misses (kept via the
    left join, n_overlap = 0).

    Scale shape: two broadcast-query rank passes (the brute_force
    shape — at corpus scale the truncated pass is the one you'd run
    over the full corpus at prefix_dim cost, the full-dim pass only
    over a rerank window); the overlap join is (queries × k)-sized.
    """
    if prefix_dim < 1:
        raise ValueError(f"prefix_dim must be >= 1: {prefix_dim}")
    full = brute_force_topk(embeddings, max_query_id, k).select(
        "query_id", "candidate_id"
    )
    truncated = brute_force_topk(
        embeddings.select(
            "vec_id",
            F.slice(as_double_array(F.col("embedding")), 1, prefix_dim)
            .alias("embedding"),
        ),
        max_query_id,
        k,
    ).select("query_id", "candidate_id")
    overlap = (
        full.join(truncated, ["query_id", "candidate_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        full.select("query_id").distinct()
        .join(overlap, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_overlap"), F.lit(0))
            .cast("bigint")
            .alias("n_overlap"),
            F.lit(k).cast("int").alias("k"),
        )
    )


def lsh_signature(v: Column, n_planes: int, dim: int, table: int = 0) -> Column:
    """Sign pattern of `n_planes` hyperplane projections, packed into
    one integer bucket id.  Plane components are ±1 derived from
    xxhash64(table, plane, dim) — deterministic, nothing stored."""
    def plane_dot(p: Column) -> Column:
        return F.aggregate(
            F.zip_with(
                v,
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda x, d: x
                * F.when(
                    F.xxhash64(F.lit(table), p, d).bitwiseAND(F.lit(1)) == 1, F.lit(1.0)
                ).otherwise(F.lit(-1.0)),
            ),
            F.lit(0.0),
            lambda acc, val: acc + val,
        )

    pow2 = F.array(*[F.lit(1 << i) for i in range(n_planes)])
    bits = F.transform(
        F.sequence(F.lit(0), F.lit(n_planes - 1)),
        lambda p: F.when(plane_dot(p) > 0, F.lit(1)).otherwise(F.lit(0)),
    )
    return F.aggregate(
        F.zip_with(
            bits,
            F.sequence(F.lit(0), F.lit(n_planes - 1)),
            lambda b, i: b.cast("long") * F.element_at(pow2, i + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, val: acc + val,
    )


def plane_matrices(
    spark: SparkSession, n_planes: int, dim: int, n_tables: int
) -> np.ndarray:
    """±1 hyperplane components for all tables, shape (n_tables,
    n_planes, dim), evaluated JVM-side with the SAME xxhash64 call
    `lsh_signature` makes — bit-for-bit the same planes, nothing
    stored.

    Shape matters: ONE xxhash64 expression over n_tables·n_planes·dim
    ROWS (spark.range), not one expression per component — a nested
    per-component literal tree (the first implementation) put ~2048
    `when(xxhash64(...))` nodes into a single projection, and Janino
    codegen of that method cost ~25-30 s PER QUERY, dwarfing the
    signature work the UDF saves.  This form is one trivial job
    (<0.5 s) regardless of the plane count.

    The int casts are load-bearing for parity: `lsh_signature` hashes
    IntegerType literals, and Spark's xxhash64 hashes int and bigint
    differently.
    """
    k = n_planes * dim
    rows = (
        spark.range(n_tables * k)
        .select(
            "id",
            F.xxhash64(
                F.expr(f"CAST(id div {k} AS INT)"),
                F.expr(f"CAST((id div {dim}) % {n_planes} AS INT)"),
                F.expr(f"CAST(id % {dim} AS INT)"),
            ).bitwiseAND(F.lit(1)).alias("bit"),
        )
        .collect()
    )
    bits = np.empty(n_tables * k, dtype=np.int64)
    for r in rows:
        bits[r["id"]] = r["bit"]
    return np.where(bits == 1, 1.0, -1.0).reshape(n_tables, n_planes, dim)


def lsh_signatures_udf(planes: np.ndarray):
    """All-tables LSH signatures in one Arrow batch: for a vector v,
    returns [sig_table0, ..., sig_table(T-1)] as array<bigint>.

    This is the measured Pandas-UDF exception to the no-UDF rule (the
    MinHash precedent, operators/text.py minhash_signature_udf): the
    expression twin `lsh_signature` evaluates n_planes × dim (~512 at
    defaults) interpreted higher-order-function lambdas PER VECTOR,
    while here each batch is a handful of numpy ops.  Exact parity
    with the expression twin is preserved — the planes come from the
    same xxhash64 evaluation (plane_matrices) and the per-plane dot
    replicates the expression's left-fold accumulation order via
    cumsum, so even float rounding matches (pinned by
    test_lsh_signature_udf_parity).
    """
    n_tables, n_planes, _dim = planes.shape
    pow2 = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @pandas_udf("array<bigint>")
    def _sigs(vec_lists: pd.Series) -> pd.Series:
        vals = [None if v is None else np.asarray(v, dtype=np.float64)
                for v in vec_lists]
        live = [i for i, v in enumerate(vals) if v is not None]
        out: list = [None] * len(vals)
        if live:
            V = np.vstack([vals[i] for i in live])  # (B, dim)
            sigs = np.empty((V.shape[0], n_tables), dtype=np.int64)
            for t in range(n_tables):
                bits = np.empty((V.shape[0], n_planes), dtype=np.int64)
                for p in range(n_planes):
                    # cumsum = strict left-to-right accumulation, the
                    # exact fold order of the expression twin
                    dots = np.cumsum(V * planes[t, p], axis=1)[:, -1]
                    bits[:, p] = dots > 0
                sigs[:, t] = bits @ pow2
            for j, i in enumerate(live):
                out[i] = sigs[j]
        return pd.Series(out)

    return _sigs


def lsh_probe_sigs_udf(planes: np.ndarray, n_probes: int):
    """Multi-probe signatures in one Arrow batch: for each table, the
    base bucket FOLLOWED by the n_probes-1 single-bit-flip buckets of
    the planes with the smallest |projection| — the standard
    multi-probe perturbation order (a vector near a hyperplane is the
    one whose true neighbors sit just across it, so flipping the
    lowest-margin bits visits the likeliest alternative buckets
    first).  Returns array<bigint> of length n_tables * n_probes,
    probes contiguous per table.

    Same parity discipline as lsh_signatures_udf: planes come from
    plane_matrices' xxhash64 evaluation and dots use the cumsum
    left-fold order, so probe-0 signatures are bit-identical to the
    single-probe path.
    """
    n_tables, n_planes, _dim = planes.shape
    if not (1 <= n_probes <= n_planes + 1):
        raise ValueError(
            f"n_probes must be in [1, n_planes+1={n_planes + 1}]: {n_probes}"
        )
    pow2 = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    @pandas_udf("array<bigint>")
    def _probes(vec_lists: pd.Series) -> pd.Series:
        vals = [None if v is None else np.asarray(v, dtype=np.float64)
                for v in vec_lists]
        live = [i for i, v in enumerate(vals) if v is not None]
        out: list = [None] * len(vals)
        if live:
            V = np.vstack([vals[i] for i in live])  # (B, dim)
            sigs = np.empty((V.shape[0], n_tables * n_probes), dtype=np.int64)
            for t in range(n_tables):
                dots = np.empty((V.shape[0], n_planes), dtype=np.float64)
                for p in range(n_planes):
                    dots[:, p] = np.cumsum(V * planes[t, p], axis=1)[:, -1]
                bits = (dots > 0).astype(np.int64)
                base = bits @ pow2
                # ascending |margin|: flip the least-confident planes
                order = np.argsort(np.abs(dots), axis=1, kind="stable")
                sigs[:, t * n_probes] = base
                for j in range(1, n_probes):
                    flip = pow2[order[:, j - 1]]
                    sigs[:, t * n_probes + j] = base ^ flip
            for j, i in enumerate(live):
                out[i] = sigs[j]
        return pd.Series(out)

    return _probes


def _lsh_bucketed(
    vecs: DataFrame,
    n_planes: int,
    n_tables: int,
    dim: int,
    n_probes: int = 1,
) -> DataFrame:
    """Vectors tagged with (tbl, sig) for each of `n_tables` hash
    tables — the shared bucketing step of lsh_topk and
    embedding_near_dup_lsh.  One narrow projection computes every
    table's signature (lsh_signatures_udf), then posexplode fans each
    vector out to its n_tables bucket rows — one scan of the corpus,
    not one per table.  With `n_probes` > 1 each vector additionally
    lands in its multi-probe alternative buckets (query-side use:
    probing multiplies only the bounded query set, never the
    corpus)."""
    planes = plane_matrices(vecs.sparkSession, n_planes, dim, n_tables)
    if n_probes > 1:
        sigs = lsh_probe_sigs_udf(planes, n_probes)
    else:
        sigs = lsh_signatures_udf(planes)
    return vecs.select(
        "vec_id", "v", "inv", sigs(F.col("v")).alias("sigs")
    ).select(
        "vec_id", "v", "inv",
        F.posexplode("sigs").alias("pos", "sig"),
    ).select(
        "vec_id", "v", "inv",
        (F.col("pos") / n_probes).cast("int").alias("tbl"), "sig",
    )


def lsh_topk(
    embeddings: DataFrame,
    max_query_id: int = 100,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 2,
    dim: int = 64,
    n_probes: int = 1,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Approximate cosine top-k: candidates share an LSH bucket in at
    least one hash table; exact cosine re-ranks within the union.

    `allowed` restricts the CANDIDATE side to an id set
    (_restrict_candidates) — applied BEFORE bucketing, so a selective
    filter shrinks the index build itself, and filtered top-k returns
    k results from the permitted set rather than post-filtering a
    ranked bucket down to fewer.

    `n_probes` > 1 turns on query-side multi-probe: each query also
    searches the n_probes-1 buckets reached by flipping its
    lowest-|margin| planes (lsh_probe_sigs_udf).  This buys the
    recall of extra hash tables WITHOUT their dominant cost — tables
    multiply the CORPUS-side index rows and the join's build side,
    probes multiply only the bounded query set, so 1 table × p probes
    ≈ the recall of ~p tables at roughly 1/p the candidate-side work
    (measured in tests/test_llm_operators.py recall-vs-cost)."""
    vecs = _with_inv_norm(
        embeddings.select("vec_id", as_double_array(F.col("embedding")).alias("v"))
    )
    bucketed = _lsh_bucketed(
        _restrict_candidates(vecs, allowed), n_planes, n_tables, dim
    )
    queries = vecs.filter(F.col("vec_id") < max_query_id)
    # queries bucket from the UNFILTERED corpus (a query outside the
    # allowed set still searches), so the candidate-bucket reuse
    # shortcut only applies when no filter is active
    q_bucketed = (
        _lsh_bucketed(queries, n_planes, n_tables, dim, n_probes=n_probes)
        if n_probes > 1 or allowed is not None
        else bucketed.filter(F.col("vec_id") < max_query_id)
    )
    q = q_bucketed.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("inv").alias("inv_q"), "tbl", "sig",
    )
    c = bucketed.select(
        F.col("vec_id").alias("candidate_id"), F.col("v").alias("cv"),
        F.col("inv").alias("inv_c"), "tbl", "sig",
    )
    # score BEFORE the pair dedup (r18, guide §2.3): a pair sharing m
    # of the n_tables·n_probes buckets lands m times, and the dedup
    # used to shuffle both 64-d vectors on every copy; computing the
    # floor-6 sim per copy (identical on every copy — same vectors)
    # narrows that exchange to (query_id, candidate_id, sim_f6).  The
    # bounded query side broadcasts, so this leaves NO payload-carrying
    # exchange anywhere in the plan.
    scored = (
        q.join(c, ["tbl", "sig"])
        .filter(F.col("query_id") != F.col("candidate_id"))
        .select("query_id", "candidate_id", _sim_f6_col())
        .dropDuplicates(["query_id", "candidate_id"])
    )
    return _ranked_topk_scored(scored, k)


def quantized_rerank_topk(
    embeddings: DataFrame,
    max_query_id: int = 100,
    k: int = 5,
    rerank_factor: int = 2,
    allowed: DataFrame | None = None,
) -> DataFrame:
    """The int8 rank-then-rerank primitive in isolation (no IVF
    bucketing): candidates are symmetrically quantized (scale =
    max|v|/127, code = round(v/scale) — the same arithmetic
    _quantize_int8 persists), every query ranks ALL candidates on the
    CODES (floor-6, candidate-id tiebreak), the top k·rerank_factor
    survivors re-rank on full precision, and the final top-k carries
    EXACT sims.  This is the deterministic, centroid-free core of the
    compressed index (query_ivf_index composes it with cent_id
    partition pruning) — and because quantization is pure arithmetic,
    DuckDB replays the ENTIRE pipeline including the int8 rounding,
    making the compression path a hash-checked oracle row
    (`similarity_topk_quantized`) rather than a pytest-only claim.
    With rerank_factor small (default 2) the quantized ranking
    genuinely decides the shortlist, so a quantization regression
    (wrong scale, wrong rounding, dropped tiebreak) flips the hash.

    Scale shape: same O(|Q|·N·d) pair arithmetic as brute_force_topk
    but over 1-byte codes (the memory-bandwidth win); the rerank
    touches |Q|·k·rerank_factor full vectors.  At index scale use the
    persisted compressed index — this operator is the exact-semantics
    anchor, not the serving path.

    The code-ranking stage runs as the brute_force_topk Arrow kernel
    (r17, guide §8/§4.2): codes and scales stay JVM-computed
    (_int8_expressions, shared with the persisted index), the bounded
    query matrix rides into one candidate pass that emits per-batch
    top-(k·rerank_factor) approx scores with the exact left-fold ×
    floor-6 arithmetic, and only the global shortlist — |Q|·k·
    rerank_factor rows — rejoins the full vectors for the exact
    rerank.  The previous plan materialized the |Q|·N pair table
    (vectors AND codes on every row) through interpreted lambdas and
    shuffled it whole into the shortlist window."""
    vecs = _with_inv_norm(
        embeddings.select(
            "vec_id", as_double_array(F.col("embedding")).alias("v")
        )
    )
    q_rows = (
        vecs.filter(F.col("vec_id") < max_query_id)
        .select("vec_id", "v", "inv")
        .collect()
    )
    qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    qmat = (
        np.vstack([np.asarray(r["v"], dtype=np.float64) for r in q_rows])
        if q_rows else np.empty((0, 0))
    )
    qinv = np.array([r["inv"] for r in q_rows], dtype=np.float64)
    # the SAME arithmetic the persisted index stores — shared helper,
    # double-typed codes so the kernel consumes them without a cast (a
    # formula change here and in _quantize_int8 cannot drift apart:
    # both are _int8_expressions)
    scale, code = _int8_expressions(F.col("v"), "double")
    c = _restrict_candidates(vecs, allowed).select(
        F.col("vec_id").cast("bigint").alias("candidate_id"),
        code.alias("code"), scale.alias("scale"), "inv",
    )
    m = k * rerank_factor
    # per-executor broadcast of the query matrix (r18; see
    # brute_force_topk)
    qbc = embeddings.sparkSession.sparkContext.broadcast(
        (qids, qmat, qinv)
    )

    def _partial_approx(batches):
        qids, qmat, qinv = qbc.value
        for pdf in batches:
            n = len(pdf)
            if n == 0 or len(qids) == 0:
                continue
            cids = pdf["candidate_id"].to_numpy(dtype=np.int64)
            C = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["code"]])
            cscale = pdf["scale"].to_numpy(dtype=np.float64)
            cinv = pdf["inv"].to_numpy(dtype=np.float64)
            sims = np.empty((n, len(qids)), dtype=np.float64)
            step = max(1, (16 << 20) // max(1, len(qids) * C.shape[1] * 8))
            for lo in range(0, n, step):
                hi = min(n, lo + step)
                # zip_with(qv, code, x*y) multiplies qv[i]·code[i];
                # IEEE multiplication commutes bit-exactly, cumsum is
                # the expression's left fold
                prod = C[lo:hi, None, :] * qmat[None, :, :]
                d = np.cumsum(prod, axis=2)[:, :, -1]
                # ((dot · scale) · inv_q) · inv_c — the expression's
                # left-associated multiplication order
                sims[lo:hi] = (
                    (d * cscale[lo:hi, None]) * qinv[None, :]
                ) * cinv[lo:hi, None]
            f6 = np.floor(sims * 1e6) / 1e6
            key = np.where(np.isnan(f6), np.inf, f6)
            excl = cids[:, None] == qids[None, :]
            out_q, out_c, out_s = [], [], []
            for j in range(len(qids)):
                valid = np.flatnonzero(~excl[:, j])
                order = valid[
                    np.lexsort((cids[valid], -key[valid, j]))[: min(m, len(valid))]
                ]
                out_q.append(np.full(len(order), qids[j], dtype=np.int64))
                out_c.append(cids[order])
                out_s.append(f6[order, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "candidate_id": np.concatenate(out_c),
                    "asim_f6": np.concatenate(out_s),
                }
            )

    partial = c.mapInPandas(
        _partial_approx, "query_id bigint, candidate_id bigint, asim_f6 double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("asim_f6").desc(), F.col("candidate_id").asc()
    )
    shortlist_ids = (
        partial.withColumn("ark", F.row_number().over(w))
        .filter(F.col("ark") <= m)
        .select("query_id", "candidate_id")
    )
    qside = vecs.select(
        F.col("vec_id").cast("bigint").alias("query_id"),
        F.col("v").alias("qv"), F.col("inv").alias("inv_q"),
    )
    cside = vecs.select(
        F.col("vec_id").cast("bigint").alias("candidate_id"),
        F.col("v").alias("cv"), F.col("inv").alias("inv_c"),
    )
    shortlist = shortlist_ids.join(qside, "query_id").join(
        cside, "candidate_id"
    ).select("query_id", "qv", "inv_q", "candidate_id", "cv", "inv_c")
    return _ranked_topk(shortlist, k)


def kmeans_centroids(
    vecs: DataFrame,
    n_centroids: int,
    seed: int = 42,
    fit_sample_fraction: float | None = None,
    max_iter: int = 20,
    init_mode: str = "k-means||",
) -> DataFrame:
    """K-means coarse quantizer for IVF: fit `pyspark.ml` KMeans
    (deterministic seed) on the corpus — or on a sample of it — and
    return the centroid set as a tiny (cent_id, cv, inv_c) DataFrame.

    The fit is the only training step in the engine: k-means|| init +
    Lloyd iterations, all distributed.  At 100 TB fit on a sample
    (`fit_sample_fraction` ~ 1e-4 still gives millions of points —
    far more than k-means needs for stable centroids); assignment of
    the full corpus stays a broadcast join against the k centroids, so
    the expensive path is untouched by how the centroids were learned.

    Determinism caveat: with a fixed seed, k-means|| init (and
    Bernoulli sampling) draw per-partition RNG streams, so the result
    is deterministic only for a fixed partition LAYOUT.  The fit input
    is range-partitioned by vec_id here to pin the layout for a given
    dataset; a different cluster size or upstream repartition still
    changes centroids (acceptable: IVF is rows-only/approximate, and
    downstream sims are exact regardless of bucketing).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    fit_df = vecs.repartitionByRange(16, F.col("vec_id")).select(
        array_to_vector(F.col("v")).alias("features")
    )
    if fit_sample_fraction is not None:
        fit_df = fit_df.sample(False, fit_sample_fraction, seed)
    # Cache strictly for the fit's lifetime: k-means|| init + every
    # Lloyd round is a separate job over fit_df, and Spark ML no
    # longer persists the input itself — without this each round
    # re-reads the source and redoes the array conversion.  fit() is
    # eager, so unpersisting right after it is safe.
    # `init_mode` (r17): k-means|| initialization is itself several
    # jobs over the fit set (init steps + weighting) — callers whose
    # OUTPUT is provably centroid-invariant (full-probe exact search,
    # planted-copy recall) pass "random" (seeded, still deterministic)
    # and skip that cost; quality-sensitive callers keep the default.
    fit_df = fit_df.persist()
    try:
        model = KMeans(
            k=n_centroids, seed=seed, maxIter=max_iter, initMode=init_mode
        ).fit(fit_df)
    finally:
        fit_df.unpersist()
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    cents = vecs.sparkSession.createDataFrame(rows, "cent_id int, cv array<double>")
    # a zero-norm centroid (possible only from an all-zero cluster)
    # scores 0 against everything instead of dividing by zero
    norm = l2_norm(F.col("cv"))
    return cents.withColumn(
        "inv_c", F.when(norm > 0, F.lit(1.0) / norm).otherwise(F.lit(0.0))
    )


def _nearest_centroids(
    df: DataFrame, cents: DataFrame, id_col: str, probes: int
) -> DataFrame:
    """Each vector tagged with its `probes` nearest centroids (cosine,
    deterministic cent_id tiebreak): one broadcast of the tiny
    centroid table against the vectors, then a per-vector argmax.

    probes=1 — the CORPUS-side assignment path, N·k scored rows at
    index-build scale — takes a max_by hash aggregate (r17, guide
    §2.3/§2.4): map-side partial aggregation collapses each vector's
    k scored rows to one BEFORE the exchange, where the former
    row_number window shuffled and sorted all N·k rows (each carrying
    the vector payload) just to keep one.  (csim, -cent_id) is
    lexicographically maximal exactly at the highest similarity,
    smallest cent_id — the identical tie-break (Spark orders NaN
    greatest in both sort-desc and struct-max, so even degenerate
    inputs rank the same).  probes>1 — the bounded QUERY side — keeps
    the window: top-p per vector has no partial-aggregable built-in."""
    sim = (dot(F.col("v"), F.col("cv")) * F.col("inv")) * F.col("inv_c")
    scored = df.crossJoin(F.broadcast(cents)).select(
        id_col, "v", "inv", "cent_id", sim.alias("csim")
    )
    if probes == 1:
        best = F.max_by(
            F.struct("v", "inv", "cent_id"),
            F.struct(F.col("csim"), (-F.col("cent_id")).alias("_nc")),
        )
        return scored.groupBy(id_col).agg(best.alias("_b")).select(
            id_col, "_b.v", "_b.inv", "_b.cent_id"
        )
    w = Window.partitionBy(id_col).orderBy(
        F.col("csim").desc(), F.col("cent_id").asc()
    )
    return (
        scored.withColumn("crk", F.row_number().over(w))
        .filter(F.col("crk") <= probes)
        .drop("csim", "crk")
    )


def ivf_topk(
    embeddings: DataFrame,
    max_query_id: int = 100,
    k: int = 5,
    n_centroids: int = 16,
    n_probes: int = 2,
    fit_sample_fraction: float | None = None,
    fit_max_iter: int = 8,
    allowed: DataFrame | None = None,
    fit_init_mode: str = "k-means||",
) -> DataFrame:
    """IVF-style ANN: the centroid-bucketed scale path beside LSH.

    `allowed` restricts the CANDIDATE side to an id set BEFORE
    ranking (_restrict_candidates); the quantizer still fits on the
    full corpus, so bucket boundaries are stable across filters (the
    same predicate-agnostic index serves every query).

    Coarse quantizer: k-means centroids (see kmeans_centroids;
    deterministic seed, optionally sample-fit).  Every vector is
    assigned to its nearest centroid (one broadcast join against the
    tiny centroid set); a query probes its `n_probes` nearest
    centroids and scores only those buckets.  Cost per query:
    O(n_probes · N/n_centroids · d) instead of O(N · d).

    `fit_max_iter` defaults to 8, not KMeans' 20: a coarse quantizer
    needs stable bucket boundaries, not a converged objective —
    centroid movement after the first few Lloyd rounds shifts only
    boundary vectors between adjacent buckets, which `n_probes` > 1
    already covers.  Every extra round is a full pass over the fit
    set, so at 100 TB (even sample-fit) the iteration cap is the fit's
    dominant cost knob.  Recall measured unchanged at 8 vs 20 on the
    fixture (test_similarity_ivf_recall_vs_bruteforce).

    Precondition, not checked: `vec_id` must be unique in
    `embeddings` (it is the table's primary key).  The sparse-probe
    path (n_probes·2 < n_centroids) does not dedup (query, candidate)
    pairs: with unique ids a candidate has one centroid and a query
    probes distinct centroids, so each pair is emitted at most once.
    A duplicated `vec_id` breaks both: the candidate side keeps one of
    its vectors, and the query side can probe one centroid twice and
    emit duplicate pairs into the top-k.
    """
    vecs = _with_inv_norm(
        embeddings.select("vec_id", as_double_array(F.col("embedding")).alias("v"))
    )
    cents = kmeans_centroids(
        vecs, n_centroids,
        fit_sample_fraction=fit_sample_fraction, max_iter=fit_max_iter,
        init_mode=fit_init_mode,
    )

    def nearest(df: DataFrame, id_col: str, probes: int) -> DataFrame:
        return _nearest_centroids(df, cents, id_col, probes)

    assigned = nearest(_restrict_candidates(vecs, allowed), "vec_id", 1).select(
        F.col("vec_id").cast("bigint").alias("candidate_id"),
        "v", "inv", "cent_id",
    )
    # Two ranking shapes, picked by probe COVERAGE (r17, measured at
    # sf0.1 — each wins its own regime):
    #
    # - coverage ≥ 1/2 (n_probes·2 ≥ n_centroids — the full-probe
    #   exact mode and near-exhaustive configs): the brute_force_topk
    #   Arrow kernel.  The bounded query matrix rides into ONE pass
    #   over the assignments; a candidate scores against exactly the
    #   queries probing its centroid (the probe mask replaces the
    #   cent_id equi-join row-for-row — a candidate has ONE centroid,
    #   so no pair can duplicate), each batch emits only per-query
    #   top-k, and a final window ranks the partial winners.  The
    #   join shape would materialize ~coverage·|Q|·N pairs (vectors on
    #   every row) through interpreted lambdas and shuffle them twice.
    #
    # - sparse coverage (the serving default, 2/16): the cent_id
    #   equi-join + window — the pair table is already bucket-bounded
    #   and small, and the kernel's fixed costs (query collect + a
    #   full-corpus Arrow transfer for mostly-masked candidates)
    #   exceed the pair arithmetic it saves.
    #
    # Similarities are the exact expression-twin arithmetic in both
    # shapes (left-fold dot, (·inv_q)·inv_c, floor-6) — the
    # ivf_full_probe oracle leg enforces it.
    if n_probes * 2 < n_centroids:
        probed = nearest(
            vecs.filter(F.col("vec_id") < max_query_id), "vec_id", n_probes
        ).select(
            F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
            F.col("inv").alias("inv_q"), "cent_id",
        )
        # No pair dedup (r18): a candidate carries exactly ONE cent_id
        # row (probes=1 assignment is a groupBy(vec_id) aggregate) and
        # a query's probe set holds DISTINCT cent_ids (row_number over
        # per-centroid scores; vec_id is the embeddings primary key),
        # so the cent_id equi-join emits each (query, candidate) pair
        # at most once — the former dropDuplicates was a full exchange
        # of vector-payload pair rows that provably kept every row.
        # The floor-6 sim is computed in the join projection, so only
        # (query_id, candidate_id, sim_f6) reaches the rank exchange
        # (guide §2.3).  Output verified row-identical to the dedup
        # shape at sf0.01 and sf0.1.
        scored = (
            probed.join(
                assigned.select(
                    "candidate_id", F.col("v").alias("cv"),
                    F.col("inv").alias("inv_c"), "cent_id",
                ),
                "cent_id",
            )
            .filter(F.col("query_id") != F.col("candidate_id"))
            .select("query_id", "candidate_id", _sim_f6_col())
        )
        return _ranked_topk_scored(scored, k)

    q_rows = (
        vecs.filter(F.col("vec_id") < max_query_id)
        .select("vec_id", "v", "inv")
        .collect()
    )
    qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    qmat = (
        np.vstack([np.asarray(r["v"], dtype=np.float64) for r in q_rows])
        if q_rows else np.empty((0, 0))
    )
    qinv = np.array([r["inv"] for r in q_rows], dtype=np.float64)
    # query probe sets computed driver-side over the two ALREADY-tiny
    # collected frames (queries, centroids) with _nearest_centroids'
    # exact arithmetic — left-fold dot, (·inv)·inv_c, (csim desc,
    # cent_id asc) tie-break, NaN greatest — so the probes are
    # bit-identical to the former query-side window's, without the
    # extra collect job that window cost
    cent_rows = cents.select("cent_id", "cv", "inv_c").collect()
    cent_ids = np.array([r["cent_id"] for r in cent_rows], dtype=np.int64)
    cent_order = np.argsort(cent_ids, kind="stable")
    cent_ids = cent_ids[cent_order]
    cmat = (
        np.vstack(
            [np.asarray(cent_rows[i]["cv"], dtype=np.float64) for i in cent_order]
        )
        if cent_rows else np.empty((0, 0))
    )
    cinv_c = np.array(
        [cent_rows[i]["inv_c"] for i in cent_order], dtype=np.float64
    )
    qprobes: list = []
    for j in range(len(qids)):
        d = np.cumsum(qmat[j][None, :] * cmat, axis=1)[:, -1]
        csim = (d * qinv[j]) * cinv_c
        ckey = np.where(np.isnan(csim), np.inf, csim)
        order = np.lexsort((cent_ids, -ckey))[:n_probes]
        qprobes.append(cent_ids[order])

    # per-executor broadcast of the query matrix + probe sets (r18;
    # see brute_force_topk)
    qbc = embeddings.sparkSession.sparkContext.broadcast(
        (qids, qmat, qinv, qprobes)
    )

    def _partial_topk(batches):
        qids, qmat, qinv, qprobes = qbc.value
        for pdf in batches:
            n = len(pdf)
            if n == 0 or len(qids) == 0:
                continue
            cids = pdf["candidate_id"].to_numpy(dtype=np.int64)
            ccents = pdf["cent_id"].to_numpy(dtype=np.int64)
            C = np.vstack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            cinv = pdf["inv"].to_numpy(dtype=np.float64)
            # probe mask: candidate × query, true iff the query probes
            # the candidate's centroid
            mask = np.zeros((n, len(qids)), dtype=bool)
            for j, pr in enumerate(qprobes):
                mask[:, j] = np.isin(ccents, pr)
            excl = ~mask | (cids[:, None] == qids[None, :])
            dense = mask.mean() > 0.5
            sims = None
            if dense:
                # most pairs rank (the full-probe exact mode): one
                # chunked matrix pass beats per-query gathers
                sims = np.empty((n, len(qids)), dtype=np.float64)
                step = max(1, (16 << 20) // max(1, len(qids) * C.shape[1] * 8))
                for lo in range(0, n, step):
                    hi = min(n, lo + step)
                    prod = C[lo:hi, None, :] * qmat[None, :, :]
                    d = np.cumsum(prod, axis=2)[:, :, -1]
                    sims[lo:hi] = (d * qinv[None, :]) * cinv[lo:hi, None]
            out_q, out_c, out_s = [], [], []
            for j in range(len(qids)):
                valid = np.flatnonzero(~excl[:, j])
                if len(valid) == 0:
                    continue
                if dense:
                    s = sims[valid, j]
                else:
                    # sparse probes: compute only this query's bucket
                    # candidates — identical arithmetic, no wasted
                    # flops on masked-out pairs
                    d = np.cumsum(C[valid] * qmat[j][None, :], axis=1)[:, -1]
                    s = (d * qinv[j]) * cinv[valid]
                f6 = np.floor(s * 1e6) / 1e6
                key = np.where(np.isnan(f6), np.inf, f6)
                pick = np.lexsort((cids[valid], -key))[: min(k, len(valid))]
                order = valid[pick]
                out_q.append(np.full(len(order), qids[j], dtype=np.int64))
                out_c.append(cids[order])
                out_s.append(f6[pick])
            if not out_q:
                continue
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "candidate_id": np.concatenate(out_c),
                    "sim_f6": np.concatenate(out_s),
                }
            )

    partial = assigned.mapInPandas(
        _partial_topk, "query_id bigint, candidate_id bigint, sim_f6 double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_f6").desc(), F.col("candidate_id").asc()
    )
    return (
        partial.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
    )


def _int8_expressions(v, code_type: str):
    """(scale, code) column expressions for symmetric per-vector int8
    scalar quantization: scale = max|v_i| / 127, code_i =
    round(v_i / scale) ∈ [-127, 127] (an all-zero vector gets scale 0
    and zero codes).  THE single definition of the quantization
    arithmetic — the persisted-index path (_quantize_int8, tinyint
    codes) and the hash-checked oracle row (quantized_rerank_topk,
    double codes so dot() consumes them directly) both call here, so
    a change to the formula cannot silently diverge the serving path
    from the row that checks it.  `code_type` is the cast applied to
    each code element.

    Expression shape: the scale is zipped in via `array_repeat`
    rather than referenced inside the transform lambda — an embedded
    `array_max(...)` subtree would re-evaluate PER ELEMENT (the
    interpreted-HOF O(d²) trap text.py's words() and _ranked_topk
    both document); array_repeat evaluates it once per row and the
    lambda reads the materialized element."""
    scale = (F.array_max(F.transform(v, F.abs)) / F.lit(127.0))
    code = F.when(
        scale > 0,
        F.zip_with(
            v,
            F.array_repeat(scale, F.size(v)),
            lambda x, s: F.round(x / s).cast(code_type),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast(code_type)))
    return scale, code


def _quantize_int8(assigned: DataFrame, extra_cols: list[str] = ()) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization of column `v`
    (arithmetic: _int8_expressions; tinyint codes on disk).  Pure JVM
    array expressions — no UDF.  The stored `inv` stays the EXACT
    reciprocal norm: quantization approximates the dot product only,
    which keeps the approximate cosine unbiased by norm error.
    `extra_cols` (attribute columns) ride along unchanged."""
    scale, code = _int8_expressions(F.col("v"), "tinyint")
    return assigned.select(
        "cent_id", "vec_id",
        code.alias("code"), scale.alias("scale"), "inv", *extra_cols,
    )


def fit_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    seed: int = 42,
    fit_sample_fraction: float | None = None,
    fit_max_iter: int = 8,
) -> DataFrame:
    """Fit the IVF coarse quantizer on a raw (vec_id, embedding)
    frame — the public wrapper around kmeans_centroids for callers
    that want to reuse ONE fit across several consumers (a
    frozen-centroid dedup pass + build_ivf_index(centroids=...), the
    streaming bootstrap's single-fit shape)."""
    return kmeans_centroids(
        _with_inv_norm(
            embeddings.select(
                "vec_id", as_double_array(F.col("embedding")).alias("v")
            )
        ),
        n_centroids, seed=seed,
        fit_sample_fraction=fit_sample_fraction, max_iter=fit_max_iter,
    )


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    seed: int = 42,
    fit_sample_fraction: float | None = None,
    fit_max_iter: int = 8,
    compress: str | None = None,
    attrs: DataFrame | None = None,
    centroids: DataFrame | None = None,
) -> None:
    """Persist an IVF ANN index: the k-means coarse quantizer's
    centroids (tiny) plus every corpus vector assigned to its nearest
    centroid, written PARTITIONED BY cent_id — so a query that probes
    p of k centroids reads p/k of the index through ordinary parquet
    partition pruning, no custom reader (pinned by plan test).

    The build-once/query-many split ivf_topk can't offer: ivf_topk
    refits the quantizer per call (right for one-shot analytics,
    wrong for a serving corpus queried repeatedly), while the index
    pays the fit + one corpus pass at build time and each query
    touches only its probed partitions.  Layout doctrine shared with
    operators/layout.py: physical organization (partitioning) IS the
    index.

    `compress="int8"` stores per-vector symmetric int8 codes + scale
    in `assignments/` (the RANKING columns — ~8× fewer probe bytes
    than float64 vectors, the dominant cost at 10⁹×d index scale) and
    the full-precision vectors in a separate `vectors/` table, also
    cent_id-partitioned and SORTED by vec_id within partitions so the
    re-rank's candidate-id filter can skip row groups via parquet
    min/max stats.  `query_ivf_index` ranks on the codes and re-ranks
    its top k·rerank_factor survivors on full precision — recall loss
    vs the uncompressed index is bounded to candidates whose
    quantized rank falls outside the rerank window (pinned by test).

    `compress="pq"` goes further: product quantization — the vector
    splits into PQ_SUBSPACES sub-vectors, each encoded as its nearest
    of 256 per-subspace codewords (codebooks trained on a bounded
    deterministic sample, persisted under codebooks/), so a d=64
    float64 vector stores as 8 BYTES (64× less than full precision,
    8× less than int8).  Queries rank via ADC lookup tables (one
    m×256 table per query) and re-rank exactly like the int8 path.
    The coarser the code the more the rerank window matters: PQ wants
    a larger rerank_factor than int8 (recall-vs-window pinned by
    test).  Codebooks are FROZEN at build like the centroids — codes
    of already-indexed vectors never shift on extend.

    `attrs` (a DataFrame whose FIRST column is the vector id, the
    rest attribute columns — lang, license, date...) denormalizes
    document metadata INTO the assignments table at build time, so
    `query_ivf_index(predicate=...)` filters candidates with a plain
    pushed parquet filter on the probed partitions — no id-set
    semi-join, no shuffle of an allowed list, the scale-right leg of
    metadata-filtered retrieval (the `allowed=` semi-join remains for
    ad-hoc sets the index never stored).  Left join: vectors missing
    from `attrs` carry NULLs and fail every predicate (excluded) —
    the safe default for retrieval filters.
    """
    if compress not in (None, "int8", "pq"):
        raise ValueError(
            f"compress must be None, 'int8', or 'pq': {compress!r}"
        )
    vecs = _with_inv_norm(
        embeddings.select(
            "vec_id", as_double_array(F.col("embedding")).alias("v")
        )
    )
    if centroids is not None:
        # caller fit the quantizer already (e.g. to bucket a dedup
        # pass over the same corpus before indexing the survivors) —
        # reuse it instead of paying the dominant build cost twice;
        # the fit knobs are ignored in this mode
        cents = centroids
    else:
        cents = kmeans_centroids(
            vecs, n_centroids, seed=seed,
            fit_sample_fraction=fit_sample_fraction, max_iter=fit_max_iter,
        )
    cents.coalesce(1).write.mode("error").parquet(f"{path}/centroids")
    assigned = _nearest_centroids(vecs, cents, "vec_id", 1)
    attr_cols: list[str] = []
    if attrs is not None:
        a = attrs.withColumnRenamed(attrs.columns[0], "vec_id")
        attr_cols = [c for c in a.columns if c != "vec_id"]
        # base column names are how readers detect the index FORMAT
        # (e.g. "scale" ⇒ int8, "code" ⇒ compressed) — an attribute
        # shadowing one would scramble detection and the scan schema
        reserved = {"cent_id", "vec_id", "v", "inv", "code", "scale",
                    "tables"}
        clash = sorted(reserved & set(attr_cols))
        if clash:
            raise ValueError(
                f"build_ivf_index: attribute columns {clash} shadow "
                "reserved index columns; rename them upstream"
            )
        assigned = assigned.join(a, "vec_id", "left")
    if compress is None:
        (
            assigned.select("cent_id", "vec_id", "v", "inv", *attr_cols)
            .write.mode("error")
            .partitionBy("cent_id")
            .parquet(f"{path}/assignments")
        )
        return
    # assignments/ is written LAST: its _SUCCESS is the bootstrap
    # commit marker run_ivf_ingest keys on, so every other artifact
    # (centroids, PQ codebooks, the full-precision vectors) must exist
    # before it appears — a crash between the writes rolls the whole
    # bootstrap back instead of leaving a marker over a half-built
    # index.
    # The compressed path writes `assigned` TWICE (vectors/ then
    # codes into assignments/); persist it so the dominant build job
    # (corpus x centroids crossJoin + per-vector window + attrs join)
    # runs once, not once per artifact — MEMORY_AND_DISK, so at index
    # scale the materialized assignment spills rather than recomputes.
    # The repartition on the write's partition column matters twice
    # over: a cached frame bypasses AQE's output coalescing, so
    # without it every cached partition writes its own small file
    # into every cent_id dir (shuffle-partitions x centroids tiny
    # parquet chunks — measured 2x the column bytes at fixture scale
    # from per-chunk overhead alone), and clustering by cent_id
    # before a partitionBy("cent_id") write is the standard
    # small-files guard regardless of caching.
    assigned = assigned.repartition("cent_id").persist()
    if compress == "pq":
        dim = len(vecs.select("v").first()["v"])
        books = _pq_train_codebooks(vecs, dim, seed=seed)
        spark = embeddings.sparkSession
        book_rows = [
            (j, c, [float(x) for x in books[j, c]])
            for j in range(books.shape[0])
            for c in range(books.shape[1])
        ]
        spark.createDataFrame(
            book_rows, "sub int, code int, centroid array<double>"
        ).coalesce(1).write.mode("error").parquet(f"{path}/codebooks")
    (
        assigned.select("cent_id", "vec_id", "v")
        .sortWithinPartitions("cent_id", "vec_id")
        .write.mode("error")
        .partitionBy("cent_id")
        .parquet(f"{path}/vectors")
    )
    if compress == "pq":
        enc = pq_encode_udf(books)
        coded = assigned.select(
            "cent_id", "vec_id", enc(F.col("v")).alias("code"), "inv",
            *attr_cols,
        )
    else:
        coded = _quantize_int8(assigned, attr_cols)
    (
        coded.write.mode("error")
        .partitionBy("cent_id")
        .parquet(f"{path}/assignments")
    )
    assigned.unpersist()


def _index_is_compressed(spark: SparkSession, path: str) -> bool:
    """True when the persisted index stores codes instead of full
    vectors (int8 or PQ — schema probe, footer metadata only)."""
    return "code" in spark.read.parquet(f"{path}/assignments").columns


# ----------------------------------------------- product quantization

PQ_SUBSPACES = 8
PQ_CODES = 256
PQ_FIT_SAMPLE_CAP = 20_000
PQ_FIT_ITERS = 10


def _pq_train_codebooks(
    vecs: DataFrame, dim: int, m: int = PQ_SUBSPACES, seed: int = 42
) -> np.ndarray:
    """(m, 256, dim/m) PQ codebooks: per-subspace Lloyd k-means in
    numpy on a DETERMINISTIC bounded sample (TakeOrdered by the shared
    Knuth hash, ≤ PQ_FIT_SAMPLE_CAP rows collected — ~10 MB at d=64;
    codebooks are tiny models and production PQ always trains them on
    samples, so the bounded collect is the scale-correct shape, not a
    shortcut).  Fixed seed + deterministic sample + fixed iteration
    count + first-index argmin ties ⇒ bit-reproducible codebooks for
    a given corpus."""
    if dim % m != 0:
        raise ValueError(f"PQ needs m | dim: m={m}, dim={dim}")
    from datawarehouse_code_spark.operators.corpus import knuth_hash

    rows = (
        vecs.select("vec_id", "v")
        .orderBy(knuth_hash("vec_id").asc(), F.col("vec_id").asc())
        .limit(PQ_FIT_SAMPLE_CAP)
        .collect()
    )
    X = np.array([r["v"] for r in rows], dtype=np.float64)
    sub_d = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, PQ_CODES, sub_d), dtype=np.float64)
    for j in range(m):
        S = X[:, j * sub_d : (j + 1) * sub_d]
        k = min(PQ_CODES, len(S))
        init_idx = rng.permutation(len(S))[:k]
        C = S[init_idx].copy()
        if k < PQ_CODES:  # degenerate tiny corpus: pad by repetition
            C = np.vstack([C, C[rng.integers(0, k, PQ_CODES - k)]])
        for _ in range(PQ_FIT_ITERS):
            # assign: ||s-c||² = ||s||² - 2 s·c + ||c||²; ||s||² is
            # constant per row, drop it
            d2 = (C**2).sum(axis=1)[None, :] - 2.0 * (S @ C.T)
            a = np.argmin(d2, axis=1)
            for c in range(PQ_CODES):
                mask = a == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
                else:  # empty cluster: reseed deterministically
                    C[c] = S[rng.integers(0, len(S))]
        books[j] = C
    return books


def pq_encode_udf(codebooks: np.ndarray):
    """Arrow-batched PQ encoder: vector → array<tinyint> of m codes
    (stored shifted by -128 so the byte range is honest int8).  The
    measured-exception UDF (argmin over 256 centroids × m subspaces
    per vector has no sane expression form); one matmul per subspace
    per batch."""
    m, k, sub_d = codebooks.shape
    c_norms = [(codebooks[j] ** 2).sum(axis=1) for j in range(m)]

    @pandas_udf("array<tinyint>")
    def _enc(vec_lists: pd.Series) -> pd.Series:
        vals = [None if v is None else np.asarray(v, dtype=np.float64)
                for v in vec_lists]
        live = [i for i, v in enumerate(vals) if v is not None]
        out: list = [None] * len(vals)
        if live:
            V = np.vstack([vals[i] for i in live]).reshape(len(live), m, sub_d)
            codes = np.empty((len(live), m), dtype=np.int64)
            for j in range(m):
                d2 = c_norms[j][None, :] - 2.0 * (V[:, j, :] @ codebooks[j].T)
                codes[:, j] = np.argmin(d2, axis=1)
            codes -= 128
            for row, i in zip(codes.astype(np.int8), live):
                out[i] = row
        return pd.Series(out)

    return _enc


def pq_query_tables_udf(codebooks: np.ndarray):
    """Per-query ADC lookup tables: flat array<double> of length
    m·256 where tables[j·256 + c] = q_sub_j · codebook[j][c].  Query-
    side only (bounded set), one matmul per subspace per batch."""
    m, k, sub_d = codebooks.shape

    @pandas_udf("array<double>")
    def _tab(vec_lists: pd.Series) -> pd.Series:
        vals = [None if v is None else np.asarray(v, dtype=np.float64)
                for v in vec_lists]
        live = [i for i, v in enumerate(vals) if v is not None]
        out: list = [None] * len(vals)
        if live:
            V = np.vstack([vals[i] for i in live]).reshape(len(live), m, sub_d)
            tabs = np.empty((len(live), m * k), dtype=np.float64)
            for j in range(m):
                tabs[:, j * k : (j + 1) * k] = V[:, j, :] @ codebooks[j].T
            for row, i in zip(tabs, live):
                out[i] = row
        return pd.Series(out)

    return _tab


def _load_codebooks(spark: SparkSession, path: str) -> np.ndarray:
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    m = 1 + max(r["sub"] for r in rows)
    k = 1 + max(r["code"] for r in rows)
    sub_d = len(rows[0]["centroid"])
    books = np.empty((m, k, sub_d), dtype=np.float64)
    for r in rows:
        books[r["sub"], r["code"]] = r["centroid"]
    return books


def extend_ivf_index(
    embeddings: DataFrame,
    path: str,
    attrs: DataFrame | None = None,
    owner: str | None = None,
) -> None:
    """Assign NEW vectors to the EXISTING centroids and append their
    partitions — the incremental path: cost ∝ |increment|, never a
    refit or corpus rewrite (bucket boundaries stay fixed, which is
    exactly what a serving index wants — recall on old vectors is
    untouched).  A compressed index (schema-detected) gets the same
    treatment: quantize the increment, append codes to assignments/
    and full vectors to vectors/.

    An index built with attribute columns (build_ivf_index attrs=)
    REQUIRES `attrs` covering those columns here — silently appending
    NULL attributes would make every new vector invisible to
    predicate-filtered queries, which is exactly the wrong failure
    mode for an incremental path.

    ``owner=`` is the lease identity for the per-table
    ``leased_append`` acquisitions (r17): streaming maintainers pass
    their stable checkpoint identity so a crash-restarted process
    reclaims its own stale lease instantly instead of waiting out
    the acquisition TTL (the same owner= convention every
    replace_keyed_auto caller uses)."""
    spark = embeddings.sparkSession
    cents = spark.read.parquet(f"{path}/centroids")
    vecs = _with_inv_norm(
        embeddings.select(
            "vec_id", as_double_array(F.col("embedding")).alias("v")
        )
    )
    assigned = _nearest_centroids(vecs, cents, "vec_id", 1)
    idx_cols = spark.read.parquet(f"{path}/assignments").columns
    compressed = "code" in idx_cols
    pq = compressed and "scale" not in idx_cols
    base = (
        {"cent_id", "vec_id", "code", "scale", "inv"}
        if compressed
        else {"cent_id", "vec_id", "v", "inv"}
    )
    attr_cols = [c for c in idx_cols if c not in base]
    if attr_cols and attrs is None:
        raise ValueError(
            f"extend_ivf_index: index stores attribute columns "
            f"{attr_cols} — pass attrs= for the increment (NULL "
            "attributes would hide new vectors from filtered queries)"
        )
    if attrs is not None:
        a = attrs.withColumnRenamed(attrs.columns[0], "vec_id")
        missing = [c for c in attr_cols if c not in a.columns]
        if missing:
            raise ValueError(
                f"extend_ivf_index: attrs missing index attribute "
                f"columns {missing}"
            )
        assigned = assigned.join(
            a.select("vec_id", *attr_cols), "vec_id", "left"
        )
    from datawarehouse_code_spark.sources.acid import leased_append

    if not compressed:
        # append under the table's writer lease with repair-first
        # (r17 'append eclipse' find): appending into a partition a
        # crashed forget left renamed aside would recreate the live
        # dir with only the increment, and the next repair would then
        # delete the aside holding the original rows
        with leased_append(spark, f"{path}/assignments", owner=owner):
            (
                assigned.select("cent_id", "vec_id", "v", "inv", *attr_cols)
                .write.mode("append")
                .partitionBy("cent_id")
                .parquet(f"{path}/assignments")
            )
        return
    # vectors/ first, assignments/ second: the streaming idempotence
    # guard anti-joins on ASSIGNMENTS vec_ids, so a crash between the
    # appends re-extends on replay — duplicate vectors/ rows from that
    # replay are deduplicated at query time (pairs dropDuplicates),
    # whereas the reverse order would leave committed codes whose
    # full-precision row is missing and silently drop them from the
    # re-rank.
    # Increment assignment feeds both appends — persist so the
    # nearest-centroid job (and the anti-join upstream) runs once per
    # increment, not twice (this path runs per streaming batch).  The
    # cent_id repartition keeps each append to one file per touched
    # partition dir (cached frames bypass AQE output coalescing; see
    # build_ivf_index).
    assigned = assigned.repartition("cent_id").persist()
    # each table's append runs under ITS writer lease with
    # repair-first (sequential, never nested — the forget lane takes
    # the same two leases in the same one-at-a-time order)
    with leased_append(spark, f"{path}/vectors", owner=owner):
        (
            assigned.select("cent_id", "vec_id", "v")
            .sortWithinPartitions("cent_id", "vec_id")
            .write.mode("append")
            .partitionBy("cent_id")
            .parquet(f"{path}/vectors")
        )
    if pq:
        # encode the increment with the STORED codebooks — like the
        # frozen centroids, frozen codebooks are the point: codes of
        # already-indexed vectors never shift
        enc = pq_encode_udf(_load_codebooks(spark, path))
        coded = assigned.select(
            "cent_id", "vec_id", enc(F.col("v")).alias("code"), "inv",
            *attr_cols,
        )
    else:
        coded = _quantize_int8(assigned, attr_cols)
    with leased_append(spark, f"{path}/assignments", owner=owner):
        (
            coded.write.mode("append")
            .partitionBy("cent_id")
            .parquet(f"{path}/assignments")
        )
    assigned.unpersist()


def forget_vectors(
    spark: SparkSession, path: str, vec_ids: DataFrame
) -> dict[str, int]:
    """Right-to-be-forgotten for the persisted IVF index (the
    embeddings leg of the corpus deletion story,
    operators/corpus.py forget_documents): remove `vec_ids` (a
    one-column DataFrame) and rewrite ONLY the cent_id partitions
    that contained them — a crash-safe aside-first staged swap for
    partitions with survivors (see _forget_from_table; r16 replaced
    dynamic partition overwrite, whose driver commit deletes a
    partition before renaming its replacement in), explicit directory
    deletion for partitions whose every vector was forgotten (a
    rewrite can't express an empty partition: writing zero rows for
    it would simply leave the stale files in place).

    Cost: one column-pruned scan of (vec_id, cent_id) to locate the
    doomed partitions (∝ index size, never a re-fit), then a rewrite
    of only the affected partitions (∝ affected buckets).  Untouched
    partitions' files are not rewritten (pinned by test).  Returns
    {n_removed, partitions_rewritten, partitions_deleted}.

    A compressed index (build_ivf_index compress="int8"/"pq") holds
    the forgotten vectors TWICE — codes in assignments/ and full
    precision in vectors/ — so both tables get the same
    partition-scoped rewrite (deleting only the codes would leave the
    recoverable full-precision embedding behind, which is the exact
    thing RTBF must not do).  The centroids and PQ codebooks stay:
    they are sample-trained AGGREGATE models (k-means means over
    thousands of vectors), not per-row data — the same posture as
    retaining a rollup's aggregates after forget_rollup removes the
    subject's contributions (operators/rollup.py RTBF leg).
    """
    from datawarehouse_code_spark.sources.acid import _fs_for

    # probe the format BEFORE mutating: forgetting every vector can
    # leave assignments/ without a readable schema
    compressed = _index_is_compressed(spark, path)
    result = _forget_from_table(spark, f"{path}/assignments", vec_ids, _fs_for)
    if compressed:
        _forget_from_table(spark, f"{path}/vectors", vec_ids, _fs_for)
    return result


_RTBF_STAGING = ".rtbf-staging"


def _forget_from_table(
    spark: SparkSession, apath: str, vec_ids: DataFrame, _fs_for
) -> dict[str, int]:
    """Partition-scoped RTBF rewrite with the aside-first staged-swap
    ordering (r16 self-review find, same family as compact_parquet's:
    the previous implementation rode Spark's dynamic partition
    overwrite, whose driver-side commit DELETES a partition dir before
    renaming the staged one in — a crash in that window permanently
    lost the partition's SURVIVOR vectors, invisible to any recovery).
    Now: all survivors stage in ONE job under a dot-invisible
    ``.rtbf-staging`` inside the table, then each affected partition
    swaps live→``.cent_id=X._precompact`` aside → staged in → aside
    dropped, so data is never destroyed before its replacement is in
    place.  A crashed run self-repairs on the next call: the entry
    repair rolls aside-renamed partitions back (the pre-forget state;
    the rerun then redoes them) and drops stale staging — and because
    the aside naming matches the compaction protocol, the shared
    `_repair_compaction_dirs` does it.  Runs under the table's writer
    lease, so a second concurrent forget/maintainer is refused loudly.
    `n_removed` is per-call: a rerun after a crash reports the
    remainder; the total across runs equals the true removal."""
    from datawarehouse_code_spark.sources.bucketed import (
        _repair_compaction_dirs,
        writer_lease,
    )

    ids = vec_ids.select(F.col(vec_ids.columns[0]).alias("vec_id"))
    fs, hpath = _fs_for(spark, apath)
    jvm = spark._jvm
    jp = jvm.org.apache.hadoop.fs.Path
    with writer_lease(spark, apath) as lease:
        names = [st.getPath().getName() for st in fs.listStatus(hpath)]
        _repair_compaction_dirs(spark, fs, hpath, names)
        stale = jp(hpath, _RTBF_STAGING)
        if fs.exists(stale):
            fs.delete(stale, True)

        idx = spark.read.parquet(apath)
        affected = sorted(
            r["cent_id"]
            for r in idx.join(ids, "vec_id", "left_semi")
            .select("cent_id")
            .distinct()
            .collect()
        )
        if not affected:
            return {"n_removed": 0, "partitions_rewritten": 0,
                    "partitions_deleted": 0}
        hit = idx.filter(F.col("cent_id").isin(affected))
        survivors = hit.join(ids, "vec_id", "left_anti")
        n_before = hit.count()
        # partitions with at least one survivor swap in a staged
        # rewrite; fully-forgotten partitions are deleted outright
        # (idempotent on rerun — their remaining rows are all
        # forgotten ids, so they re-enter `affected`)
        live_parts = sorted(
            r["cent_id"]
            for r in survivors.select("cent_id").distinct().collect()
        )
        dead_parts = [c for c in affected if c not in set(live_parts)]
        n_after = survivors.count()
        if live_parts:
            (
                # the vec_id re-sort keeps the vectors/ table's
                # row-group-skippable layout across rewrites (no-op
                # cost for assignments/); ONE job stages every
                # affected partition
                survivors.sortWithinPartitions("cent_id", "vec_id")
                .write.mode("overwrite")
                .partitionBy("cent_id")
                .parquet(f"{apath}/{_RTBF_STAGING}")
            )
            # fence between the long un-heartbeated staged write and
            # the renames (the same boundary compact_parquet and the
            # bucket swap fence): a holder stolen from mid-write must
            # not race the thief's repair/renames — then fenced AND
            # heartbeated per partition via the shared protocol step,
            # so a stall inside the loop aborts at the next boundary
            # and a long loop never ages into stealability (r17)
            lease.verify()
            lease.heartbeat()
            from datawarehouse_code_spark.sources.bucketed import (
                _apply_aside_swap,
            )

            for c in live_parts:
                _apply_aside_swap(
                    spark, fs, hpath, f"cent_id={c}",
                    jp(hpath, f"{_RTBF_STAGING}/cent_id={c}"), lease,
                )
            fs.delete(jp(hpath, _RTBF_STAGING), True)
        for c in dead_parts:
            lease.verify()
            fs.delete(jp(hpath, f"cent_id={c}"), True)
    return {
        "n_removed": n_before - n_after,
        "partitions_rewritten": len(live_parts),
        "partitions_deleted": len(dead_parts),
    }


def _reader_repair_index(spark: SparkSession, path: str) -> None:
    """Reader-grade repair of a crashed forget/maintenance swap on a
    persisted index's tables (r17, same fix as the bucketed and
    partitioned-rollup read paths): a forget_vectors killed between
    its per-partition renames leaves a ``cent_id=X`` dir renamed
    aside — without this, queries silently drop that partition's
    candidates until the next WRITER entry.  Only provable crashes
    are repaired (live dir absent + stale lease); a live maintainer's
    fresh lease defers and the query reads through the documented
    transient window."""
    from datawarehouse_code_spark.sources.acid import _fs_for
    from datawarehouse_code_spark.sources.bucketed import (
        _reader_repair_compaction,
    )

    for sub in ("assignments", "vectors"):
        fs, p = _fs_for(spark, f"{path}/{sub}")
        if fs.exists(p):
            _reader_repair_compaction(spark, fs, p, f"{path}/{sub}")


def query_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probes: int = 2,
    allowed: DataFrame | None = None,
    rerank_factor: int = 4,
    predicate: Column | str | None = None,
) -> DataFrame:
    """Top-k over a persisted IVF index: queries rank the stored
    centroids (broadcast), and the index scan is FILTERED to the
    probed cent_id partitions — the collect here is the probed
    centroid-id LIST (≤ n_centroids integers), which is what turns
    the filter into static partition pruning instead of a full-index
    join.  Self-matches (same vec_id) are excluded, mirroring
    ivf_topk.

    `allowed` (one-column id frame) restricts candidates BEFORE
    ranking — the semi-join sits ABOVE the pruned scan, so the
    attribute filter composes with cent_id partition pruning instead
    of replacing it (plan-pinned: PartitionFilters survive).

    `predicate` (a Column or SQL string over attribute columns the
    index stored at build time, build_ivf_index attrs=) also filters
    BEFORE ranking, but as a plain pushed parquet filter on the
    probed partitions — no id-set shuffle at all, the scale-right
    form when the filter is expressible over indexed attributes
    (plan-pinned: PushedFilters carry it beside the cent_id
    PartitionFilters).  Composes with `allowed`.

    On a COMPRESSED index (build_ivf_index compress="int8",
    schema-detected) the probed partitions are ranked on the int8
    codes (~1/8 the bytes of the float64 vectors — the probe-I/O
    win), the top k·`rerank_factor` per query are re-ranked on the
    full-precision vectors/ table, and the final top-k comes from the
    exact scores — so returned sims are EXACT; compression can only
    cost recall, and only for true top-k members whose quantized rank
    fell outside the rerank window.  The re-rank fetch filters
    vectors/ to the probed partitions, and when the shortlist is
    driver-bounded (≤ _RERANK_IN_LIST_THRESHOLD ids) pushes the
    candidate-id list into the scan so the vec_id-sorted row groups
    are SKIPPED via parquet min/max stats instead of read-and-joined.
    """
    _reader_repair_index(spark, path)
    cents = spark.read.parquet(f"{path}/centroids")
    qv = _with_inv_norm(
        queries.select(
            "vec_id", as_double_array(F.col("embedding")).alias("v")
        )
    )
    probed = _nearest_centroids(qv, cents, "vec_id", n_probes).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("inv").alias("inv_q"), "cent_id",
    )
    probe_ids = sorted(
        r["cent_id"] for r in probed.select("cent_id").distinct().collect()
    )
    scan = spark.read.parquet(f"{path}/assignments").filter(
        F.col("cent_id").isin(probe_ids)
    )
    if predicate is not None:
        scan = scan.filter(predicate)
    scan = _restrict_candidates(scan, allowed)
    if "code" not in scan.columns:
        idx = scan.select(
            "cent_id", F.col("vec_id").alias("candidate_id"),
            F.col("v").alias("cv"), F.col("inv").alias("inv_c"),
        )
        # the pair dedup stays (crash-replayed appends can duplicate
        # index rows) but runs on scored narrow rows (r18, guide
        # §2.3): a replayed duplicate carries the identical vector, so
        # every copy's floor-6 sim is equal and dedup-after-score
        # keeps the same row — while the exchange carries ids + one
        # double instead of two 64-d payloads.
        scored = (
            probed.join(idx, "cent_id")
            .filter(F.col("query_id") != F.col("candidate_id"))
            .select("query_id", "candidate_id", _sim_f6_col())
            .dropDuplicates(["query_id", "candidate_id"])
        )
        return _ranked_topk_scored(scored, k)
    # --- compressed path: rank codes, re-rank survivors exactly ---
    pq = "scale" not in scan.columns
    if pq:
        books = _load_codebooks(spark, path)
        m, n_codes, _sub_d = books.shape
        tab = pq_query_tables_udf(books)
        probed = probed.withColumn("tables", tab(F.col("qv")))
        cand = scan.select(
            "cent_id", F.col("vec_id").alias("candidate_id"),
            "code", F.col("inv").alias("inv_c"),
        )
        # ADC: sum of per-subspace lookups (codes stored shifted by
        # -128; element_at is 1-based, hence +129)
        adc = F.aggregate(
            F.zip_with(
                F.col("code"),
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda c, j: F.element_at(
                    F.col("tables"),
                    (j * n_codes + c.cast("int") + 129).cast("int"),
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        approx_sim = adc * F.col("inv_q") * F.col("inv_c")
    else:
        cand = scan.select(
            "cent_id", F.col("vec_id").alias("candidate_id"),
            "code", "scale", F.col("inv").alias("inv_c"),
        )
        approx_sim = (
            dot(F.col("qv"), as_double_array(F.col("code")))
            * F.col("scale") * F.col("inv_q") * F.col("inv_c")
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("asim").desc(), F.col("candidate_id").asc()
    )
    shortlist = (
        probed.join(cand, "cent_id")
        .filter(F.col("query_id") != F.col("candidate_id"))
        .select(
            "cent_id", "query_id", "qv", "inv_q", "candidate_id", "inv_c",
            approx_sim.alias("asim"),
        )
        .withColumn("ark", F.row_number().over(w))
        .filter(F.col("ark") <= k * rerank_factor)
        .select("cent_id", "query_id", "qv", "inv_q", "candidate_id", "inv_c")
    )
    # eagerly materialized: it is joined below AND probed for the
    # bounded id-list pushdown — |Q|·k·rerank_factor rows, small.
    shortlist = cut_lineage(shortlist)
    vec_scan = spark.read.parquet(f"{path}/vectors").filter(
        F.col("cent_id").isin(probe_ids)
    )
    id_probe = (
        shortlist.select("candidate_id").distinct()
        .limit(_RERANK_IN_LIST_THRESHOLD + 1).collect()
    )
    if len(id_probe) <= _RERANK_IN_LIST_THRESHOLD:
        vec_scan = vec_scan.filter(
            F.col("vec_id").isin(sorted(r["candidate_id"] for r in id_probe))
        )
    full = shortlist.join(
        vec_scan.select(
            F.col("vec_id").alias("candidate_id"), F.col("v").alias("cv")
        ),
        "candidate_id",
    )
    # same narrow-dedup shape as the uncompressed path: replay
    # duplicates in vectors/ carry identical payloads, so scoring
    # before the dedup keeps the same rows and the exchange sheds the
    # vector columns (r18, guide §2.3)
    scored = full.select(
        "query_id", "candidate_id", _sim_f6_col()
    ).dropDuplicates(["query_id", "candidate_id"])
    return _ranked_topk_scored(scored, k)


def ivf_index_stats(spark: SparkSession, path: str) -> DataFrame:
    """Bucket-balance report for a persisted IVF index: (cent_id,
    n_vectors, share_bp, imbalance_x100) — one row per centroid,
    share in integer basis points, and max-bucket/mean-bucket ratio
    (×100) repeated on every row so a single filter
    (`imbalance_x100 > 300`) flags a skewed index.  Repairs a crashed
    maintenance swap reader-grade first (_reader_repair_index) — a
    report missing an aside-renamed partition would understate the
    very imbalance it exists to flag.

    This is the ANN leg of the skew-observability story
    (operators/quality.py skew_report for join keys): probe cost is
    ∝ bucket size, so one hot centroid makes every query that probes
    it pay the whole imbalance — the report names the buckets worth
    splitting (re-fit with more centroids, or route the hot bucket's
    vectors through a sub-quantizer).  Cost: one column-pruned
    count-by-partition scan of assignment keys; integer arithmetic
    only (deterministic across engines/partitionings)."""
    _reader_repair_index(spark, path)
    counts = (
        spark.read.parquet(f"{path}/assignments")
        .groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )
    totals = counts.agg(
        F.sum("n_vectors").alias("_total"),
        F.max("n_vectors").alias("_max"),
        F.count(F.lit(1)).alias("_k"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "cent_id",
            "n_vectors",
            F.expr("(n_vectors * 10000) div _total").alias("share_bp"),
            F.expr("(_max * 100 * _k) div _total").alias("imbalance_x100"),
        )
        .orderBy(F.col("n_vectors").desc(), F.col("cent_id").asc())
    )


def embedding_near_dup_lsh(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH candidate generation
    over the WHOLE corpus (both sides), exact-cosine verification at
    `threshold`.  cos ≥ 0.95 means bit-agreement ≈ 0.9 per plane, so
    8 planes × 4 tables gives ~90% recall with bucket-bounded cost —
    never all-pairs."""
    vecs = _with_inv_norm(
        embeddings.select("vec_id", as_double_array(F.col("embedding")).alias("v"))
    )
    bucketed = _lsh_bucketed(vecs, n_planes, n_tables, dim)
    a = bucketed.select(
        F.col("vec_id").alias("v1"), F.col("v").alias("qv"),
        F.col("inv").alias("inv_q"), "tbl", "sig",
    )
    b = bucketed.select(
        F.col("vec_id").alias("v2"), F.col("v").alias("cv"),
        F.col("inv").alias("inv_c"), "tbl", "sig",
    )
    # score + threshold BEFORE the pair dedup (r18, guide §2.3): a
    # pair sharing m of the n_tables buckets lands m times, and the
    # dedup used to shuffle both 64-d vectors on every copy; every
    # copy scores identically (same vectors), so filtering at the
    # threshold first and deduping (v1, v2, sim_f6) keeps the exact
    # same survivor rows while the dedup exchange carries only ids +
    # one double — and the sub-threshold majority never shuffles at
    # all.  Output verified row-identical at sf0.01 and sf0.1.
    sim = (dot(F.col("qv"), F.col("cv")) * F.col("inv_q")) * F.col("inv_c")
    return (
        a.join(b, ["tbl", "sig"])
        .filter(F.col("v1") < F.col("v2"))
        .select("v1", "v2", (F.floor(sim * 1e6) / 1e6).alias("sim_f6"))
        .filter(F.col("sim_f6") >= threshold)
        .dropDuplicates(["v1", "v2"])
    )


# ------------------------------------------------------ semantic dedup


def _dedup_from_pairs(vecs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared drop-rule tail for the semantic dedup variants: given
    candidate (a_id, vec_id, sim_f6i) pairs with a_id < vec_id and
    the similarity already floored to integer 1e-6 grains, a vector
    is DROPPED iff any smaller-id pair survives the caller's
    threshold, `dup_of` names the smallest such neighbor (kept rows
    carry -1 — a sentinel instead of NULL keeps the row orderable and
    join-safe downstream), `kept` is a 0/1 int."""
    dups = pairs.groupBy("vec_id").agg(F.min("a_id").alias("_dup"))
    return (
        vecs.select("vec_id")
        .join(dups, "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("_dup").isNull(), F.lit(1))
            .otherwise(F.lit(0)).cast("int").alias("kept"),
            F.coalesce(F.col("_dup"), F.lit(-1).cast("bigint")).alias("dup_of"),
        )
    )


def semantic_dedup_exact(
    embeddings: DataFrame,
    threshold_f6: int = 420_000,
    max_rows: int = 100_000,
) -> DataFrame:
    """(vec_id, kept, dup_of): exact semantic deduplication — the
    SemDeDup drop rule (Abbas et al. 2023: remove embedding-space
    near-duplicates, not just textual ones) with brute-force all-pairs
    search as the exact-answer anchor.  A vector is dropped iff some
    SMALLER-id vector's cosine similarity, floored to 1e-6 grains,
    reaches `threshold_f6` (an integer count of those grains — the
    cross-engine-safe comparison; no round(), no float literal
    equality).  `dup_of` is the smallest such neighbor id, -1 for
    kept rows.  Keep-the-smallest-id is deterministic under any
    partitioning and engine — the property a reproducible corpus
    pipeline needs from its dedup stage.

    Scale posture: O(N²·d) pair arithmetic AND a broadcast of the
    whole input — this is the ORACLE and the calibration baseline
    (brute_force_topk doctrine), not the serving path;
    `semantic_dedup` is the cluster-bucketed scale variant and is
    pinned against this one in tests.  Because the nested-loop build
    side here is the ENTIRE corpus (unlike brute_force_topk, whose
    broadcast side is the bounded query set), the operator REFUSES
    inputs past `max_rows` (one limit-probe, not a full count)
    instead of dying mid-job on the broadcast — raise the cap
    deliberately for a big calibration box, or use semantic_dedup."""
    vecs = _with_inv_norm(
        embeddings.select(
            "vec_id", as_double_array(F.col("embedding")).alias("v")
        )
    )
    if vecs.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"semantic_dedup_exact: input exceeds max_rows={max_rows} — "
            "this exact variant broadcasts the whole corpus and scans "
            "N² pairs (calibration/oracle shape); use semantic_dedup "
            "(cluster-bucketed) at corpus scale, or raise max_rows "
            "deliberately"
        )
    a = vecs.select(
        F.col("vec_id").alias("a_id"), F.col("v").alias("av"),
        F.col("inv").alias("inv_a"),
    )
    b = vecs.select("vec_id", F.col("v").alias("bv"), F.col("inv").alias("inv_b"))
    sim_f6i = F.floor(
        ((dot(F.col("av"), F.col("bv")) * F.col("inv_a")) * F.col("inv_b"))
        * F.lit(1e6)
    )
    pairs = (
        F.broadcast(a).crossJoin(b)
        .filter(F.col("a_id") < F.col("vec_id"))
        .select("a_id", "vec_id", sim_f6i.alias("sim_f6i"))
        .filter(F.col("sim_f6i") >= F.lit(int(threshold_f6)))
    )
    return _dedup_from_pairs(vecs, pairs)


def semantic_dedup(
    embeddings: DataFrame,
    n_centroids: int = 16,
    threshold_f6: int = 420_000,
    seed: int = 42,
    fit_sample_fraction: float | None = None,
    fit_max_iter: int = 8,
    n_assign: int = 1,
) -> DataFrame:
    """Cluster-bucketed semantic dedup — the SemDeDup scale shape:
    k-means coarse clustering (the IVF quantizer, reused verbatim),
    then the smaller-id drop rule WITHIN each cluster only.  Same
    output contract as semantic_dedup_exact; near-duplicates that
    land in different clusters are missed by construction (the
    SemDeDup paper's accepted trade — true near-dups are nearly
    colinear and co-cluster; exact twins always do, since identical
    vectors score identically against every centroid and the
    tiebreak is deterministic).  `n_assign` is the recall knob for
    BOUNDARY pairs: each vector joins its n_assign nearest clusters
    (multi-probe, the IVF n_probes idea on the corpus side), so two
    near-dups straddling a cluster boundary pair up whenever they
    share ANY of their assigned clusters — cost multiplies by at most
    n_assign² and the drop rule is unchanged (duplicate pair hits
    across shared clusters collapse in the min() attribution).  With
    n_centroids=1 — or n_assign=n_centroids, every vector in every
    bucket — this IS the exact variant (full-probe≡brute-force
    doctrine), which is how tests pin the bucketed path to the
    oracle-checked one.

    Scale shape: one tiny-centroid broadcast + per-vector window to
    assign clusters, then a cent_id EQUI-join self-join — cost
    O(n_assign²·Σ bucket²·d), never corpus², with bucket sizes
    observable via ivf_index_stats (one hot cluster taxes only its
    own bucket; raise n_centroids or re-fit when imbalance_x100
    flags it)."""
    vecs = _with_inv_norm(
        embeddings.select(
            "vec_id", as_double_array(F.col("embedding")).alias("v")
        )
    )
    if not 1 <= n_assign <= n_centroids:
        raise ValueError(
            f"semantic_dedup: n_assign must be in [1, n_centroids]: "
            f"{n_assign} vs {n_centroids}"
        )
    if n_centroids == 1:
        # one bucket needs no quantizer (pyspark.ml KMeans requires
        # k >= 2 anyway) — this is the exact variant by construction
        assigned = vecs.withColumn("cent_id", F.lit(0))
    else:
        cents = kmeans_centroids(
            vecs, n_centroids, seed=seed,
            fit_sample_fraction=fit_sample_fraction, max_iter=fit_max_iter,
        )
        assigned = _nearest_centroids(vecs, cents, "vec_id", n_assign)
    return _semantic_dedup_assigned(
        vecs, assigned, threshold_f6, unique_pairs=(n_assign == 1)
    )


def _semantic_dedup_assigned(
    vecs: DataFrame,
    assigned: DataFrame,
    threshold_f6: int,
    unique_pairs: bool = False,
) -> DataFrame:
    """Shared bucketed tail of the clustered semantic-dedup variants:
    within-bucket smaller-id drop rule over an already-assigned
    (cent_id, vec_id, v, inv) frame.

    `unique_pairs=True` (callers pass it when n_assign == 1): every
    vector carries exactly ONE bucket row, so the cent_id equi-join
    cannot emit a pair twice and the pair dedup is skipped outright —
    the ivf_topk sparse-branch argument (r18).  Under multi-assignment
    the dedup stays but runs on scored narrow rows (guide §2.3): a
    pair sharing m buckets scores identically on every copy (same
    vectors), so dedup-after-score keeps the same row while the
    exchange carries (a_id, vec_id, sim) instead of two 64-d payloads
    — at scale the m-fold extra dot products are cheaper than
    shuffling the vectors once (the pre-r18 shape deduped payload rows
    first to save the arithmetic; threshold-filtering before the
    dedup also drops the sub-threshold majority from the exchange
    entirely, the embedding_near_dup_lsh shape)."""
    a = assigned.select(
        "cent_id", F.col("vec_id").alias("a_id"), F.col("v").alias("av"),
        F.col("inv").alias("inv_a"),
    )
    b = assigned.select(
        "cent_id", "vec_id", F.col("v").alias("bv"),
        F.col("inv").alias("inv_b"),
    )
    sim_f6i = F.floor(
        ((dot(F.col("av"), F.col("bv")) * F.col("inv_a")) * F.col("inv_b"))
        * F.lit(1e6)
    )
    pairs = (
        a.join(b, "cent_id")
        .filter(F.col("a_id") < F.col("vec_id"))
        .select("a_id", "vec_id", sim_f6i.alias("sim_f6i"))
        .filter(F.col("sim_f6i") >= F.lit(int(threshold_f6)))
    )
    if not unique_pairs:
        pairs = pairs.dropDuplicates(["a_id", "vec_id"])
    return _dedup_from_pairs(vecs, pairs)


def semantic_dedup_with_centroids(
    embeddings: DataFrame,
    cents: DataFrame,
    threshold_f6: int = 420_000,
    n_assign: int = 1,
) -> DataFrame:
    """Clustered semantic dedup bucketed by a FROZEN centroid table
    (the persisted IVF index's coarse quantizer) instead of a fresh
    k-means fit — the batch-internal dedup pass a streaming ingest
    wants: no per-batch fit, bucket boundaries identical to the
    serving index, same (vec_id, kept, dup_of) contract as
    semantic_dedup.  Validates `n_assign` against the ACTUAL centroid
    count (the table is tiny — the count is a no-op job) exactly as
    semantic_dedup does: silently assigning every vector to every
    bucket would degrade the bucketed pass to the O(N²) join the
    validation exists to catch."""
    n_cents = cents.count()
    if not 1 <= n_assign <= n_cents:
        raise ValueError(
            f"semantic_dedup_with_centroids: n_assign must be in "
            f"[1, n_centroids]: {n_assign} vs {n_cents}"
        )
    vecs = _with_inv_norm(
        embeddings.select(
            "vec_id", as_double_array(F.col("embedding")).alias("v")
        )
    )
    assigned = _nearest_centroids(vecs, cents, "vec_id", n_assign)
    return _semantic_dedup_assigned(
        vecs, assigned, threshold_f6, unique_pairs=(n_assign == 1)
    )


def incremental_semantic_dedup(
    spark: SparkSession,
    path: str,
    increment: DataFrame,
    threshold_f6: int = 420_000,
    n_probes: int = 2,
    rerank_factor: int = 4,
) -> DataFrame:
    """Semantic dedup for an INCREMENT against a persisted IVF index
    (the embedding-space sibling of text.py's incremental_near_dup
    over the persisted LSH index): (vec_id, kept, dup_of) for each
    new vector, where dup_of is its NEAREST indexed neighbor whose
    floor-6 cosine reaches `threshold_f6` (ties by candidate id —
    the top-1 contract; batch semantic_dedup attributes to the
    smallest-id neighbor instead, a deliberate difference: an
    index-probe answers "closest existing duplicate", the batch pass
    answers "canonical survivor") and -1 when no indexed neighbor
    reaches the threshold.

    Nightly-ingest shape: cost ∝ |increment| · probed buckets — the
    corpus is never rescanned; works unchanged on uncompressed, int8,
    and PQ indexes (exact sims after the re-rank, so the threshold
    comparison is exact arithmetic on every format).  The grain
    comparison reconstructs integer grains via round() — sim_f6 is
    floor(x·1e6)/1e6, so sim_f6·1e6 is an integer up to one ulp and
    round() recovers it exactly (a second floor could drop a grain).
    Survivors (kept=1) are what extend_ivf_index should then append —
    dedup BEFORE extend, or the next increment's duplicates resolve
    to this one's rejects.

    Precondition (GUARDED, not assumed): increment ids must be
    disjoint from the index's — query_ivf_index excludes
    query_id == candidate_id as a self-match, so a re-submitted
    indexed id would be blind to its own indexed twin and come back
    kept=1, double-appending on the follow-up extend.  The guard is
    one column-pruned semi-join probe (anti-join shape the streaming
    ingest already pays)."""
    # repaired here AND inside query_ivf_index below — deliberate
    # double probe (~6 metadata RPCs, noise against this call's Spark
    # jobs): the collision guard's read runs BEFORE query_ivf_index's
    # repair, and missing a collision on a broken index would wrongly
    # pass the guard and double-append on the follow-up extend
    _reader_repair_index(spark, path)
    collided = (
        increment.select("vec_id")
        .join(
            spark.read.parquet(f"{path}/assignments").select("vec_id"),
            "vec_id",
        )
        .limit(1)
        .count()
    )
    if collided:
        raise ValueError(
            "incremental_semantic_dedup: increment vec_ids collide with "
            "already-indexed ids — the self-match exclusion would hide "
            "their indexed twins; re-key the increment (or anti-join it "
            "first, the run_ivf_ingest guard)"
        )
    top1 = query_ivf_index(
        spark, path, increment, k=1,
        n_probes=n_probes, rerank_factor=rerank_factor,
    )
    dups = (
        top1.select(
            F.col("query_id").alias("vec_id"),
            F.col("candidate_id").alias("_dup"),
            F.round(F.col("sim_f6") * 1e6).cast("bigint").alias("_g"),
        )
        .filter(F.col("_g") >= F.lit(int(threshold_f6)))
    )
    # top-1 yields at most one pair per vec_id, so min() is the
    # identity and the shared tail applies unchanged
    return _dedup_from_pairs(
        increment, dups.select(F.col("_dup").alias("a_id"), "vec_id")
    )
