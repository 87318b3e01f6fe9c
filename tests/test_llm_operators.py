"""Tests for the rows-only (non-SQL-expressible) LLM operators: the
LSH variants must run, be deterministic, and track their exact twins
(precision 1.0 by construction; recall bounded below)."""

from __future__ import annotations

import numpy as np

from datawarehouse_code_spark.plans.audit import executed_plan
from datawarehouse_code_spark.plans.llm_queries import (
    _dedup_minhash_lsh,
    _dedup_near_jaccard,
    _dedup_simhash,
    _similarity_topk_bruteforce,
    _similarity_topk_lsh,
)
from tests.conftest import SF_DIR


def test_minhash_lsh_subset_of_exact(spark):
    """Every LSH-verified pair is a true near-dup (precision 1.0), and
    banded LSH with b=32, r=4 finds most of them at j >= 0.5."""
    exact = {(r["d1"], r["d2"]) for r in _dedup_near_jaccard(spark, SF_DIR).collect()}
    lsh = {(r["d1"], r["d2"]) for r in _dedup_minhash_lsh(spark, SF_DIR).collect()}
    assert lsh <= exact
    assert len(exact) > 0
    # S-curve at j=0.5 gives ~87% detection; the planted dups are mostly
    # far above threshold, so recall should be comfortably over half.
    assert len(lsh) >= len(exact) * 0.5


def test_minhash_mllib_agrees_with_exact(spark):
    """The MLlib MinHashLSH variant: every pair it reports at j>=0.5
    is a true near-dup (modulo feature-hash collisions, which 2^18
    features make vanishingly rare on this corpus), and it finds a
    healthy share of the exact pairs."""
    from datawarehouse_code_spark.plans.llm_queries import _dedup_minhash_mllib

    exact = {(r["d1"], r["d2"]) for r in _dedup_near_jaccard(spark, SF_DIR).collect()}
    ml = {(r["d1"], r["d2"]) for r in _dedup_minhash_mllib(spark, SF_DIR).collect()}
    assert len(ml) > 0
    assert ml <= exact
    assert len(ml) >= 0.5 * len(exact)


def test_minhash_lsh_deterministic(spark):
    a = sorted(map(tuple, _dedup_minhash_lsh(spark, SF_DIR).collect()))
    b = sorted(map(tuple, _dedup_minhash_lsh(spark, SF_DIR).collect()))
    assert a == b


def test_simhash_pairs_exact_within_bound(spark):
    """Pigeonhole banding (4 bands of 15 bits) has recall 1.0 for
    hamming <= 3: the banded join must find EXACTLY the pairs an
    all-pairs hamming scan finds."""
    from itertools import combinations

    from datawarehouse_code_spark.operators.text import simhash_near_dup_pairs
    from datawarehouse_code_spark.sources.catalog import read_table

    docs = read_table(spark, "documents", SF_DIR)
    got = {(r["d1"], r["d2"]): r["hamming"]
           for r in simhash_near_dup_pairs(docs).collect()}

    fingerprints = {r["doc_id"]: r["simhash"]
                    for r in _dedup_simhash(spark, SF_DIR).collect()}
    want = {}
    for (i, hi), (j, hj) in combinations(sorted(fingerprints.items()), 2):
        d = bin(hi ^ hj).count("1")
        if d <= 3:
            want[(i, j)] = d
    assert got == want
    assert len(want) > 0


def test_simhash_shape(spark):
    rows = _dedup_simhash(spark, SF_DIR).collect()
    assert len(rows) > 0
    assert all(r["simhash"] is not None for r in rows)


def test_simhash_expression_reference(spark):
    """The zero-Python expression SimHash: deterministic, in-range,
    and discriminating on a sample (the UDF twin uses a different base
    hash, so parity is algorithmic, not bitwise)."""
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.text import simhash64, word_hashes, words
    from datawarehouse_code_spark.sources.catalog import read_table

    docs = read_table(spark, "documents", SF_DIR).limit(20)
    w = docs.select("doc_id", words(F.col("text")).alias("ws"))
    wh = w.select("doc_id", word_hashes(F.col("ws")).alias("wh"))
    out = wh.select("doc_id", simhash64(F.col("wh")).alias("sh"))
    a = sorted(map(tuple, out.collect()))
    b = sorted(map(tuple, out.collect()))
    assert a == b
    values = [v for _, v in a]
    assert all(0 <= v < (1 << 60) for v in values)
    assert len(set(values)) > 1


def test_embedding_near_dup_precision_and_recall(spark):
    """Every emitted pair truly has cosine >= 0.95 (checked against
    exact all-pairs on the fixture), and most true pairs are found."""
    from datawarehouse_code_spark.operators.similarity import (
        as_double_array,
        cosine,
        embedding_near_dup_lsh,
    )
    from datawarehouse_code_spark.sources.catalog import read_table
    from pyspark.sql import functions as F

    emb = read_table(spark, "embeddings", SF_DIR)
    got = {(r["v1"], r["v2"]): r["sim_f6"]
           for r in embedding_near_dup_lsh(emb).collect()}

    vecs = emb.select("vec_id", as_double_array(F.col("embedding")).alias("v"))
    a = vecs.select(F.col("vec_id").alias("v1"), F.col("v").alias("va"))
    b = vecs.select(F.col("vec_id").alias("v2"), F.col("v").alias("vb"))
    exact_rows = (
        a.crossJoin(b)
        .filter(F.col("v1") < F.col("v2"))
        .withColumn("sim", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("sim") >= 0.95)
        .select("v1", "v2")
        .collect()
    )
    exact = {(r["v1"], r["v2"]) for r in exact_rows}
    assert set(got) <= exact          # precision 1.0
    if exact:
        assert len(got) >= 0.5 * len(exact)  # recall from 8 planes x 4 tables


def test_lsh_signature_udf_parity(spark):
    """The vectorized all-tables signature UDF must reproduce the
    expression twin `lsh_signature` bit-for-bit: same xxhash64-derived
    planes (plane_matrices) and same left-fold accumulation order
    (cumsum), so every (table, vector) bucket id is identical."""
    from datawarehouse_code_spark.operators.similarity import (
        as_double_array,
        lsh_signature,
        lsh_signatures_udf,
        plane_matrices,
    )
    from datawarehouse_code_spark.sources.catalog import read_table
    from pyspark.sql import functions as F

    n_planes, n_tables, dim = 8, 4, 64
    vecs = read_table(spark, "embeddings", SF_DIR).select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    planes = plane_matrices(spark, n_planes, dim, n_tables)
    assert planes.shape == (n_tables, n_planes, dim)
    assert set(np.unique(planes)) == {-1.0, 1.0}

    sigs = lsh_signatures_udf(planes)
    both = vecs.select(
        "vec_id",
        sigs(F.col("v")).alias("vec_sigs"),
        F.array(*[
            lsh_signature(F.col("v"), n_planes, dim, t) for t in range(n_tables)
        ]).alias("expr_sigs"),
    )
    mismatches = both.filter(F.col("vec_sigs") != F.col("expr_sigs")).count()
    assert mismatches == 0


def test_similarity_ivf_sims_match_bruteforce(spark):
    """IVF only scores pairs inside probed buckets with exact cosines,
    so any (query, candidate) it shares with brute force must agree on
    the sim; and most queries should have non-empty results."""
    from datawarehouse_code_spark.plans.llm_queries import _similarity_topk_ivf

    brute = {
        (r["query_id"], r["candidate_id"]): r["sim_f6"]
        for r in _similarity_topk_bruteforce(spark, SF_DIR).collect()
    }
    ivf_rows = _similarity_topk_ivf(spark, SF_DIR).collect()
    assert len(ivf_rows) > 50
    overlap = [r for r in ivf_rows if (r["query_id"], r["candidate_id"]) in brute]
    assert len(overlap) > 0
    for r in overlap:
        assert abs(r["sim_f6"] - brute[(r["query_id"], r["candidate_id"])]) < 1e-9


def test_similarity_lsh_subset_of_bruteforce_pairs(spark):
    """LSH top-k only scores pairs that share a bucket, and sims are
    exact cosines — so any (query, candidate, sim) it emits must match
    the brute-force sim for that pair."""
    brute = {
        (r["query_id"], r["candidate_id"]): r["sim_f6"]
        for r in _similarity_topk_bruteforce(spark, SF_DIR).collect()
    }
    lsh_rows = _similarity_topk_lsh(spark, SF_DIR).collect()
    assert len(lsh_rows) > 0
    # every LSH hit that brute force also ranked must agree on the sim
    overlap = [
        r for r in lsh_rows if (r["query_id"], r["candidate_id"]) in brute
    ]
    assert len(overlap) > 0
    for r in overlap:
        assert abs(r["sim_f6"] - brute[(r["query_id"], r["candidate_id"])]) < 1e-9


def test_hot_shingle_cap_bounds_postings_pre_aggregation(spark):
    """A shingle shared by every doc must be dropped BEFORE any posting
    array exists: with the cap, pairs glued only by the boilerplate
    vanish, the genuine near-dup pair survives, and no surviving
    posting list exceeds the cap."""
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.text import (
        filter_posting_keys,
        near_dup_pairs_exact,
        shingle_table,
    )

    boiler = "shared boilerplate footer text appended to every document"
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta " + boiler),
        (2, "alpha beta gamma delta epsilon zeta eta theta " + boiler),
    ] + [
        # docs 3..12 share ONLY the boilerplate with each other
        (i, f"unique{i}a unique{i}b unique{i}c unique{i}d unique{i}e " + boiler)
        for i in range(3, 13)
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    uncapped = {
        (r["d1"], r["d2"])
        for r in near_dup_pairs_exact(docs, threshold=0.01).collect()
    }
    capped = {
        (r["d1"], r["d2"])
        for r in near_dup_pairs_exact(
            docs, threshold=0.01, hot_shingle_cap=5
        ).collect()
    }
    # boilerplate-only pairs exist without the cap ...
    assert (3, 4) in uncapped
    # ... and are gone with it, while the genuine near-dup pair stays
    assert capped == {(1, 2)}

    # the surviving inverted index is bounded: no shingle's posting
    # count exceeds the cap (and singletons are gone too)
    sh = filter_posting_keys(shingle_table(docs), ["s"], 5)
    sizes = [r["n"] for r in sh.groupBy("s").agg(F.count("*").alias("n")).collect()]
    assert sizes and all(2 <= n <= 5 for n in sizes)


def test_similarity_ivf_recall_vs_bruteforce(spark):
    """IVF with k-means centroids must recover >= 80% of the exact
    top-k when probing 8 of 16 partitions.  The fixture embeddings are
    near-uniform random — the worst case for IVF (no cluster
    structure, so recall grows roughly with the probed fraction);
    real embedding corpora cluster, where few probes suffice.  The
    k-means quantizer still beats random partitioning: probes=2/16
    (12.5% of the corpus) measures ~0.40 recall here, >3x the probed
    fraction."""
    from collections import defaultdict

    from datawarehouse_code_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )
    from datawarehouse_code_spark.sources.catalog import read_table

    emb = read_table(spark, "embeddings", SF_DIR)
    brute = defaultdict(set)
    for r in brute_force_topk(emb).collect():
        brute[r["query_id"]].add(r["candidate_id"])
    ivf = defaultdict(set)
    for r in ivf_topk(emb, n_probes=8).collect():
        ivf[r["query_id"]].add(r["candidate_id"])
    recall = sum(len(ivf[q] & cs) / len(cs) for q, cs in brute.items()) / len(brute)
    assert recall >= 0.8


def test_incremental_near_dup_subset_and_noise(spark):
    """Incremental pairs (a) find every planted exact copy against the
    persisted index, (b) are a SUBSET of the exact cross-pairs at the
    same threshold (precision exact), (c) give a unique-text noise doc
    zero pairs, all without touching corpus signatures again."""
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.text import (
        build_lsh_index,
        near_dup_pairs_exact,
        near_dup_pairs_incremental,
    )
    from datawarehouse_code_spark.sources.catalog import read_table
    from tests.conftest import SF_DIR

    corpus = read_table(spark, "documents", SF_DIR).cache()
    planted = corpus.filter(F.col("doc_id") % 25 == 0).withColumn(
        "doc_id", F.col("doc_id") + 2_000_000
    )
    noise = spark.createDataFrame(
        [(3_000_000,
          "zymurgy quixotic fjord waltz vexing blackguard sphinx nymph "
          "jackdaws love my big quartz of unique ramblings never seen",
          "en", "web", 120)],
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    )
    new = planted.unionByName(noise)

    index = build_lsh_index(corpus).localCheckpoint()
    got = near_dup_pairs_incremental(new, corpus, index).cache()

    # (a) every shingle-bearing planted copy is found at jaccard 1.0
    planted_found = {
        (r.d_new, r.d_corpus)
        for r in got.filter(F.col("d_corpus") == F.col("d_new") - 2_000_000).collect()
    }
    expected_ids = {
        r.doc_id
        for r in planted.select("doc_id").collect()
    }
    # docs too short to shingle (<3 words) legitimately emit nothing
    from datawarehouse_code_spark.operators.text import shingle_hash_docs
    shingled = {r.doc_id for r in shingle_hash_docs(planted).select("doc_id").collect()}
    assert {p[0] for p in planted_found} == expected_ids & shingled
    assert all(d_c == d_n - 2_000_000 for d_n, d_c in planted_found)

    # (b) subset of exact cross pairs on the union
    exact = near_dup_pairs_exact(new.unionByName(corpus), threshold=0.5)
    exact_cross = {
        (max(r.d1, r.d2), min(r.d1, r.d2))
        for r in exact.collect()
        if (r.d1 >= 2_000_000) != (r.d2 >= 2_000_000)
    }
    got_pairs = {(r.d_new, r.d_corpus) for r in got.collect()}
    assert got_pairs <= exact_cross

    # (c) the noise doc matched nothing
    assert not any(d_n == 3_000_000 for d_n, _ in got_pairs)
    got.unpersist()
    corpus.unpersist()


def test_similarity_multiprobe_recall_vs_cost(spark):
    """Multi-probe LSH buys table-level recall at probe-level cost:
    on the fixture (near-uniform random embeddings — LSH's worst
    case), 1 table x 3 probes matches the recall of 3 tables x 1
    probe (measured 0.132 == 0.132 at sf0.001) while indexing the
    corpus side ONCE instead of three times, and 5 probes strictly
    beats both.  All quantities are deterministic (hash-derived
    planes, fixed fixture), so the comparisons are exact, not
    statistical."""
    from collections import defaultdict

    from datawarehouse_code_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )
    from datawarehouse_code_spark.sources.catalog import read_table

    emb = read_table(spark, "embeddings", SF_DIR)
    brute = defaultdict(set)
    for r in brute_force_topk(emb).collect():
        brute[r["query_id"]].add(r["candidate_id"])

    def recall(**kw):
        got = defaultdict(set)
        for r in lsh_topk(emb, **kw).collect():
            got[r["query_id"]].add(r["candidate_id"])
        return sum(
            len(got[q] & cs) / len(cs) for q, cs in brute.items()
        ) / len(brute)

    r11 = recall(n_tables=1, n_probes=1)
    r13 = recall(n_tables=1, n_probes=3)
    r15 = recall(n_tables=1, n_probes=5)
    r31 = recall(n_tables=3, n_probes=1)
    assert r13 >= 2 * r11, (r13, r11)      # probes add real recall
    assert r13 >= r31 - 1e-9, (r13, r31)   # ~3 tables' recall, 1 table's cost
    assert r15 > r13, (r15, r13)           # monotone in probe count


def test_multiprobe_probe0_parity_with_single_probe(spark):
    """Probe 0 of the multi-probe UDF must be bit-identical to the
    single-probe signature (same planes, same fold order) — the
    candidate side and query side of a multi-probe join meet only if
    this holds; flips must differ from base and stay within the
    plane-bit range."""
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.similarity import (
        as_double_array,
        lsh_probe_sigs_udf,
        lsh_signatures_udf,
        plane_matrices,
    )
    from datawarehouse_code_spark.sources.catalog import read_table

    emb = read_table(spark, "embeddings", SF_DIR).limit(200)
    vecs = emb.select(
        "vec_id", as_double_array(F.col("embedding")).alias("v")
    )
    n_planes, n_tables, n_probes = 6, 2, 3
    planes = plane_matrices(spark, n_planes, 64, n_tables)
    single = lsh_signatures_udf(planes)
    multi = lsh_probe_sigs_udf(planes, n_probes)
    rows = vecs.select(
        single(F.col("v")).alias("s"), multi(F.col("v")).alias("m")
    ).collect()
    assert len(rows) == 200
    for r in rows:
        for t in range(n_tables):
            base = r["m"][t * n_probes]
            assert base == r["s"][t]
            for j in range(1, n_probes):
                probe = r["m"][t * n_probes + j]
                flipped = probe ^ base
                # exactly one bit differs, and it's a valid plane bit
                assert flipped != 0 and (flipped & (flipped - 1)) == 0
                assert flipped < (1 << n_planes)

    import pytest

    with pytest.raises(ValueError, match="n_probes"):
        lsh_probe_sigs_udf(planes, n_planes + 2)


def test_ivf_index_build_query_extend(spark, tmp_path):
    """Persisted IVF index: (a) querying the index reaches the same
    recall floor as the in-memory ivf_topk at the same probe budget;
    (b) the index scan is PARTITION-PRUNED to the probed cent_id
    partitions (the plan's PartitionFilters, not a post-scan filter);
    (c) extend appends new vectors to existing buckets without a
    refit — a planted exact copy becomes its query's top hit."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        extend_ivf_index,
        query_ivf_index,
    )
    from datawarehouse_code_spark.sources.catalog import read_table

    emb = read_table(spark, "embeddings", SF_DIR)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=16)

    queries = emb.filter(F.col("vec_id") < 100)
    got = query_ivf_index(spark, path, queries, k=5, n_probes=8)

    brute = defaultdict(set)
    for r in brute_force_topk(emb).collect():
        brute[r["query_id"]].add(r["candidate_id"])
    idx = defaultdict(set)
    for r in got.collect():
        idx[r["query_id"]].add(r["candidate_id"])
    recall = sum(
        len(idx[q] & cs) / len(cs) for q, cs in brute.items()
    ) / len(brute)
    assert recall >= 0.8  # same floor as test_similarity_ivf_recall

    # partition pruning: the assignments scan must carry cent_id
    # partition filters (probed subset), not read-all-then-filter
    plan = executed_plan(got)
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*cent_id[^\]]*\]", plan)
    assert m, f"no cent_id partition filter in plan:\n{plan[:3000]}"

    # extend: plant an exact copy of vector 7 under a new id; its
    # bucket assignment equals vector 7's, so querying for 7 must now
    # return the copy as the top hit (cosine 1.0)
    copy = emb.filter(F.col("vec_id") == 7).withColumn(
        "vec_id", F.lit(1_000_007).cast(emb.schema["vec_id"].dataType)
    )
    extend_ivf_index(copy, path)
    got2 = query_ivf_index(
        spark, path, emb.filter(F.col("vec_id") == 7), k=1, n_probes=1
    )
    top = got2.collect()
    assert len(top) == 1 and top[0]["candidate_id"] == 1_000_007
    assert top[0]["sim_f6"] >= 0.999999


def test_ivf_index_forget_vectors(spark, tmp_path):
    """RTBF on the persisted index: the forgotten planted copy stops
    being returned; only its partition rewrites (untouched partitions
    keep their exact file set); forgetting every vector of a bucket
    deletes the partition directory."""
    import glob as globmod
    import os

    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        extend_ivf_index,
        forget_vectors,
        query_ivf_index,
    )
    from datawarehouse_code_spark.sources.catalog import read_table

    emb = read_table(spark, "embeddings", SF_DIR)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8)
    copy = emb.filter(F.col("vec_id") == 7).withColumn(
        "vec_id", F.lit(1_000_007).cast(emb.schema["vec_id"].dataType)
    )
    extend_ivf_index(copy, path)

    def files_by_part():
        out = {}
        for d in globmod.glob(f"{path}/assignments/cent_id=*"):
            out[os.path.basename(d)] = sorted(
                (os.path.basename(f), os.path.getsize(f))
                for f in globmod.glob(f"{d}/*.parquet")
            )
        return out

    before = files_by_part()
    copy_part = spark.read.parquet(f"{path}/assignments").filter(
        F.col("vec_id") == 1_000_007
    ).select("cent_id").first()["cent_id"]

    report = forget_vectors(
        spark, path, spark.createDataFrame([(1_000_007,)], "vec_id bigint")
    )
    assert report["n_removed"] == 1 and report["partitions_deleted"] == 0
    after = files_by_part()
    # untouched partitions keep their exact files
    for part, fl in before.items():
        if part != f"cent_id={copy_part}":
            assert after[part] == fl, f"partition {part} was rewritten"
    # the copy is gone from queries
    got = query_ivf_index(
        spark, path, emb.filter(F.col("vec_id") == 7), k=3, n_probes=8
    ).collect()
    assert all(r["candidate_id"] != 1_000_007 for r in got)

    # forget an entire bucket -> its directory disappears
    whole = spark.read.parquet(f"{path}/assignments").filter(
        F.col("cent_id") == copy_part
    ).select("vec_id")
    report2 = forget_vectors(spark, path, whole)
    assert report2["partitions_deleted"] == 1
    assert not os.path.isdir(f"{path}/assignments/cent_id={copy_part}")
    # the index still answers queries from the remaining buckets
    assert query_ivf_index(
        spark, path, emb.filter(F.col("vec_id") < 20), k=2, n_probes=8
    ).count() > 0


def test_approx_bounds_suite_all_ok(spark):
    """The approx-bounds driver row (r8): every within-bound flag must
    be 1 at test scale and every part populated — HLL distinct error,
    KLL one-shot + merged rank error, and full-probe IVF exactness all
    influence the driver hash through this row."""
    from datawarehouse_code_spark.plans.llm_queries import _approx_bounds_suite
    from tests.conftest import SF_DIR

    rows = _approx_bounds_suite(spark, SF_DIR).collect()
    parts = {r["part"] for r in rows}
    assert parts == {
        "hll", "kll_oneshot", "kll_merged", "theta_union", "ivf_full_probe"
    }
    bad = [tuple(r) for r in rows if r["ok"] != 1]
    assert not bad, f"bound violations: {bad}"
    # full-probe IVF contributes per-(query, rank) rows
    assert sum(1 for r in rows if r["part"] == "ivf_full_probe") == 500


def test_registry_order_oracle_first():
    """Governance (r7 verdict ask #2): oracle-backed rows occupy the
    driver's checked window positions exactly; rows-only entries all
    trail.  (registry.py also asserts this at import — this test
    documents the contract and fails closer to the edit.)"""
    from datawarehouse_code_spark.plans.registry import QUERIES

    kinds = [q.oracle is not None for q in QUERIES.values()]
    n_oracle = sum(kinds)
    assert n_oracle <= 50
    assert all(kinds[:n_oracle]) and not any(kinds[n_oracle:])


def test_remove_frequent_lines_crafted(spark):
    """CCNet-style line removal on a crafted corpus: the shared
    footer drops, unique lines survive in ORIGINAL order, empty lines
    are structure (kept, never counted), an all-boilerplate doc comes
    back empty, and max_df raises the bar."""
    from datawarehouse_code_spark.operators.text import remove_frequent_lines

    docs = spark.createDataFrame(
        [
            (1, "alpha one\nFOOTER\n\nbeta one"),
            (2, "alpha two\nFOOTER\ngamma two"),
            (3, "FOOTER"),
            (4, "only unique content"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["cleaned_text"], r["n_removed_lines"])
        for r in remove_frequent_lines(docs, max_df=1).collect()
    }
    assert got[1] == ("alpha one\n\nbeta one", 1)
    assert got[2] == ("alpha two\ngamma two", 1)
    assert got[3] == ("", 1)
    assert got[4] == ("only unique content", 0)

    # max_df=2 lets a 2-doc line live, still drops the 3-doc footer
    docs2 = spark.createDataFrame(
        [
            (1, "shared pair\nFOOTER"),
            (2, "shared pair\nFOOTER"),
            (3, "solo\nFOOTER"),
        ],
        ["doc_id", "text"],
    )
    got2 = {
        r["doc_id"]: (r["cleaned_text"], r["n_removed_lines"])
        for r in remove_frequent_lines(docs2, max_df=2).collect()
    }
    assert got2[1] == ("shared pair", 1)
    assert got2[3] == ("solo", 1)


def test_semantic_dedup_clustered_matches_exact_single_bucket(spark):
    """semantic_dedup with n_centroids=1 IS semantic_dedup_exact
    (one cluster ≡ all pairs — the full-probe≡brute-force doctrine),
    row for row."""
    from datawarehouse_code_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_exact,
    )
    from datawarehouse_code_spark.sources.catalog import read_table

    emb = read_table(spark, "embeddings", SF_DIR)
    exact = sorted(map(tuple, semantic_dedup_exact(emb, 420_000).collect()))
    one = sorted(map(tuple, semantic_dedup(emb, n_centroids=1,
                                           threshold_f6=420_000).collect()))
    assert exact == one
    assert len(exact) == emb.count()


def test_semantic_dedup_planted_twins_dropped_in_clusters(spark):
    """Exact twins (identical vectors, re-keyed ids) score identically
    against every centroid, so they ALWAYS co-cluster: with several
    clusters every planted copy must be dropped with dup_of naming
    its original, and the clustered drop set is a SUBSET of the exact
    one (bucketing only removes candidate pairs, never adds)."""
    import pyspark.sql.functions as F

    from datawarehouse_code_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_exact,
    )
    from datawarehouse_code_spark.sources.catalog import read_table

    emb = read_table(spark, "embeddings", SF_DIR).select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    base = emb.unionByName(planted)
    rows = {r["vec_id"]: r for r in
            semantic_dedup(base, n_centroids=4, threshold_f6=990_000).collect()}
    for orig in range(10):
        copy = rows[orig + 100000]
        assert copy["kept"] == 0 and copy["dup_of"] == orig, copy
        assert rows[orig]["kept"] == 1, rows[orig]
    dropped_clustered = {v for v, r in rows.items() if r["kept"] == 0}
    dropped_exact = {
        r["vec_id"]
        for r in semantic_dedup_exact(base, 990_000).collect()
        if r["kept"] == 0
    }
    assert dropped_clustered <= dropped_exact
    assert dropped_clustered >= {v + 100000 for v in range(10)}


def test_bm25_ranking_properties(spark):
    """BM25 semantics on a constructed corpus: (a) score grows with
    tf at fixed dl, (b) the idf term makes a RARE term outscore a
    ubiquitous one at identical tf/dl, (c) longer documents are
    penalized at equal tf, (d) only documents containing the term
    appear, capped at k."""
    import pyspark.sql.functions as F  # noqa: F401

    from datawarehouse_code_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "rare common common common"),        # tf(rare)=1, dl=4
            (2, "rare rare common common"),          # tf(rare)=2, dl=4
            (3, "rare common common common common common common common"),
            (4, "common common common common"),
            (5, "common"),
            (6, "common filler1 filler2 filler3"),   # tf(common)=1, dl=4
        ],
        ["doc_id", "text"],
    )
    q = spark.createDataFrame([("rare",), ("common",)], ["term"])
    rows = bm25_topk(docs, q, k=6).collect()
    by = {(r["term"], r["doc_id"]): r for r in rows}
    # (a) higher tf wins at equal dl
    assert by[("rare", 2)]["score_f6"] > by[("rare", 1)]["score_f6"]
    # (c) same tf, longer doc scores lower
    assert by[("rare", 1)]["score_f6"] > by[("rare", 3)]["score_f6"]
    # (b) the idf term alone: doc 1 for "rare" and doc 6 for "common"
    # sit at IDENTICAL (tf=1, dl=4) coordinates, so only df separates
    # them — the rare term (df=3 of 6) must outscore the ubiquitous
    # one (df=6 of 6)
    assert by[("rare", 1)]["score_f6"] > by[("common", 6)]["score_f6"]
    # (d) docs without the term never rank
    assert ("rare", 4) not in by and ("rare", 5) not in by
    assert {r["rk"] for r in rows if r["term"] == "rare"} == {1, 2, 3}


def test_semantic_dedup_multi_assign_recovers_boundary_pairs(spark):
    """n_assign is the boundary-pair recall knob: drops grow
    monotonically with it (more shared buckets → more candidate
    pairs, never fewer), and at n_assign=n_centroids — every vector
    in every bucket — the clustered variant IS the exact one."""
    import pyspark.sql.functions as F  # noqa: F401

    from datawarehouse_code_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_exact,
    )
    from datawarehouse_code_spark.sources.catalog import read_table

    emb = read_table(spark, "embeddings", SF_DIR)
    thr = 300_000  # low threshold → borderline natural pairs exist

    def dropped(n_assign):
        return {
            r["vec_id"]
            for r in semantic_dedup(
                emb, n_centroids=4, threshold_f6=thr, n_assign=n_assign
            ).collect()
            if r["kept"] == 0
        }

    d1, d2, d4 = dropped(1), dropped(2), dropped(4)
    exact = sorted(map(tuple, semantic_dedup_exact(emb, thr).collect()))
    full = sorted(
        map(tuple, semantic_dedup(
            emb, n_centroids=4, threshold_f6=thr, n_assign=4
        ).collect())
    )
    assert d1 <= d2 <= d4
    assert full == exact  # full assignment ≡ brute force, row for row
    import pytest

    with pytest.raises(ValueError, match="n_assign"):
        semantic_dedup(emb, n_centroids=4, n_assign=5)


def test_bm25_multiterm_semantics(spark):
    """Multi-term BM25: (a) score_micros is the exact integer sum of
    the constituent single-term micros, (b) a duplicated bag term
    weights its score by its count (qtf), (c) n_terms_matched counts
    the query's DISTINCT terms present in the doc, (d) per-query rank
    partitions are independent."""
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.text import (
        bm25_multiterm_topk,
        bm25_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta beta gamma"),
            (2, "alpha alpha delta delta"),
            (3, "beta gamma gamma gamma"),
            (4, "delta epsilon epsilon zeta"),
        ],
        ["doc_id", "text"],
    )
    queries = spark.createDataFrame(
        [(0, "alpha"), (0, "beta"), (1, "delta"), (1, "delta"), (1, "zeta")],
        ["query_id", "term"],
    )
    got = {
        (r["query_id"], r["doc_id"]): r
        for r in bm25_multiterm_topk(docs, queries, k=4).collect()
    }
    single = {
        (r["term"], r["doc_id"]): round(r["score_f6"] * 1e6)
        for r in bm25_scores(
            docs, queries.select("term").distinct()
        ).collect()
    }
    # (a) exact integer sum for the two-term query on doc 1
    assert got[(0, 1)]["score_micros"] == (
        single[("alpha", 1)] + single[("beta", 1)]
    )
    assert got[(0, 1)]["n_terms_matched"] == 2
    # (b) 'delta' appears twice in query 1's bag → doubled micros
    assert got[(1, 2)]["score_micros"] == 2 * single[("delta", 2)]
    # (c) doc 4 matches both delta (once) and zeta for query 1
    assert got[(1, 4)]["n_terms_matched"] == 2
    assert got[(1, 4)]["score_micros"] == (
        2 * single[("delta", 4)] + single[("zeta", 4)]
    )
    # (d) ranks restart per query and only matching docs appear
    assert {r["rk"] for (q, _), r in got.items() if q == 0} == {1, 2, 3}
    assert (0, 4) not in got and (1, 1) not in got


def test_ivf_forget_crash_window_repaired(spark, tmp_path):
    """r16 self-review find: forget_vectors previously rode dynamic
    partition overwrite, whose driver commit DELETES a partition dir
    before renaming the staged one in — a crash in that window
    permanently lost the partition's SURVIVOR vectors.  The rewrite
    now uses the aside-first staged swap, and a crashed run
    self-repairs on the next call: an aside-renamed partition (live
    absent — the worst window) rolls back to its pre-forget state,
    stale staging is dropped, and the rerun completes the forget."""
    import os
    import shutil as sh

    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        forget_vectors,
    )
    from datawarehouse_code_spark.sources.catalog import read_table

    emb = read_table(spark, "embeddings", SF_DIR)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8)
    apath = f"{path}/assignments"
    rows_before = sorted(
        map(tuple, spark.read.parquet(apath).select("vec_id").collect())
    )

    # fabricate the mid-swap crash: one partition renamed aside with a
    # stale staging root beside it (exactly what a kill between the
    # two renames leaves)
    victim = sorted(
        d for d in os.listdir(apath) if d.startswith("cent_id=")
    )[0]
    os.rename(f"{apath}/{victim}", f"{apath}/.{victim}._precompact")
    os.makedirs(f"{apath}/.rtbf-staging/{victim}", exist_ok=True)
    # reads now silently miss the partition — the broken state
    n_broken = spark.read.parquet(apath).count()
    assert n_broken < len(rows_before)

    # pick one real vec_id to forget; the entry repair must first
    # restore the aside partition, so the forget runs on FULL data
    doomed = int(rows_before[0][0])
    report = forget_vectors(
        spark, path, spark.createDataFrame([(doomed,)], "vec_id bigint")
    )
    assert report["n_removed"] == 1
    assert not os.path.exists(f"{apath}/.{victim}._precompact")
    assert not os.path.exists(f"{apath}/.rtbf-staging")
    got = sorted(
        map(tuple, spark.read.parquet(apath).select("vec_id").collect())
    )
    assert got == [r for r in rows_before if r[0] != doomed]
    sh.rmtree(path)  # tmp hygiene


def test_ivf_query_read_path_repairs_crashed_forget(spark, tmp_path):
    """r17: the IVF QUERY path (reader) repairs a forget/maintenance
    swap that died between its renames — a read-mostly index must not
    silently drop an aside-renamed partition's candidates until the
    next writer entry.  A fresh lease (live maintainer) defers and
    the query reads through the transient window."""
    import os

    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )
    from datawarehouse_code_spark.sources.catalog import read_table

    emb = read_table(spark, "embeddings", SF_DIR)
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=4)
    apath = f"{path}/assignments"
    queries = emb.limit(8)
    want = sorted(
        map(
            tuple,
            query_ivf_index(spark, path, queries, k=3, n_probes=4)
            .select("query_id", "candidate_id")
            .collect(),
        )
    )

    victim = sorted(
        d for d in os.listdir(apath) if d.startswith("cent_id=")
    )[0]
    os.rename(f"{apath}/{victim}", f"{apath}/.{victim}._precompact")

    # live maintainer (fresh lease): query defers, partition stays
    # aside, results transiently smaller — and no exception
    with open(f"{apath}._wlock", "w") as f:
        f.write('{"owner": "live-maintainer", "nonce": "dd"}')
    partial = query_ivf_index(spark, path, queries, k=3, n_probes=4)
    assert partial.count() <= len(want)
    assert os.path.exists(f"{apath}/.{victim}._precompact")
    os.remove(f"{apath}._wlock")

    # dead maintainer: the query itself repairs and results are whole
    got = sorted(
        map(
            tuple,
            query_ivf_index(spark, path, queries, k=3, n_probes=4)
            .select("query_id", "candidate_id")
            .collect(),
        )
    )
    assert got == want
    assert not os.path.exists(f"{apath}/.{victim}._precompact")


def test_ivf_extend_append_does_not_eclipse_crashed_forget(spark, tmp_path):
    """r17 'append eclipse' find: extend_ivf_index appending into a
    partition a crashed forget left renamed ASIDE (live absent) used
    to re-CREATE the live dir with only the increment — after which
    the next repair saw 'live present' and deleted the aside holding
    the ORIGINAL rows: permanent silent loss.  The append now runs
    under the table's writer lease with repair-first, so the aside
    rolls back before the increment lands beside the restored rows."""
    import os

    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        extend_ivf_index,
    )
    from datawarehouse_code_spark.sources.catalog import read_table

    emb = read_table(spark, "embeddings", SF_DIR)
    base = emb.limit(200)
    path = str(tmp_path / "ivf")
    build_ivf_index(base, path, n_centroids=4)
    apath = f"{path}/assignments"
    before = sorted(
        r["vec_id"]
        for r in spark.read.parquet(apath).select("vec_id").collect()
    )

    # fabricate the crashed-forget worst window on one partition
    victim = sorted(
        d for d in os.listdir(apath) if d.startswith("cent_id=")
    )[0]
    os.rename(f"{apath}/{victim}", f"{apath}/.{victim}._precompact")

    # extend with vectors NOT in the base set
    max_id = max(before)
    increment = (
        emb.filter(~F.col("vec_id").isin([int(i) for i in before]))
        .limit(20)
    )
    inc_ids = sorted(r["vec_id"] for r in increment.select("vec_id").collect())
    assert inc_ids
    extend_ivf_index(increment, path)

    got = sorted(
        r["vec_id"]
        for r in spark.read.parquet(apath).select("vec_id").collect()
    )
    assert got == sorted(before + inc_ids)  # nothing eclipsed, all added
    assert not os.path.exists(f"{apath}/.{victim}._precompact")
    del max_id
