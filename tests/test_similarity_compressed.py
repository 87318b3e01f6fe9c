"""Int8-compressed persisted IVF index + metadata-filtered ANN
(similarity.py round 9: build_ivf_index(compress="int8"),
query_ivf_index rerank path, `allowed=` on every ANN entry point).
"""

from __future__ import annotations

import glob
import os
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from datawarehouse_code_spark.plans.audit import executed_plan, formatted_plan
from tests.conftest import SF_DIR


def _dir_bytes(d: str) -> int:
    return sum(
        os.path.getsize(f)
        for f in glob.glob(f"{d}/**/*.parquet", recursive=True)
    )


def _column_bytes(d: str, col: str) -> int:
    """Compressed bytes of one column across every file in a parquet
    dir (footer metadata only) — the probe-I/O a column-pruned rank
    scan actually pays, free of per-file footer overhead that
    dominates at fixture scale."""
    import pyarrow.parquet as pq

    total = 0
    for f in glob.glob(f"{d}/**/*.parquet", recursive=True):
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                if c.path_in_schema.split(".")[0] == col:
                    total += c.total_compressed_size
    return total


@pytest.fixture(scope="module")
def emb(spark):
    from datawarehouse_code_spark.sources.catalog import read_table

    return read_table(spark, "embeddings", SF_DIR)


def test_int8_index_recall_exact_sims_and_size(spark, emb, tmp_path):
    """The compressed index must (a) return EXACT sims (re-rank runs
    on full precision), (b) keep recall vs the uncompressed index
    within the rerank-window bound, and (c) actually shrink the
    ranking table ~8x (the probe-I/O claim, measured not asserted-by-
    vibes: int8 codes + one double scale vs array<double>)."""
    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )

    pu, pc = str(tmp_path / "u"), str(tmp_path / "c")
    build_ivf_index(emb, pu, n_centroids=16)
    build_ivf_index(emb, pc, n_centroids=16, compress="int8")

    queries = emb.filter(F.col("vec_id") < 100)
    got_u = query_ivf_index(spark, pu, queries, k=5, n_probes=8).collect()
    got_c = query_ivf_index(spark, pc, queries, k=5, n_probes=8).collect()

    sims_u = {(r["query_id"], r["candidate_id"]): r["sim_f6"] for r in got_u}
    sims_c = {(r["query_id"], r["candidate_id"]): r["sim_f6"] for r in got_c}
    # exactness: every pair both paths return scores IDENTICALLY
    # (quantization affects candidate selection only, never the score)
    common = set(sims_u) & set(sims_c)
    assert common, "no overlap between compressed and uncompressed top-k"
    for pair in common:
        assert sims_u[pair] == sims_c[pair], pair

    by_q_u = defaultdict(set)
    by_q_c = defaultdict(set)
    for r in got_u:
        by_q_u[r["query_id"]].add(r["candidate_id"])
    for r in got_c:
        by_q_c[r["query_id"]].add(r["candidate_id"])
    recall = sum(
        len(by_q_c[q] & cs) / len(cs) for q, cs in by_q_u.items()
    ) / len(by_q_u)
    assert recall >= 0.9, recall

    # the probe-I/O claim, measured on the RANKING columns themselves
    # (column-chunk compressed bytes): int8 codes ~1/8 of the float64
    # vectors.  Whole-dir bytes get a looser bound — per-file footers
    # and the scale/inv doubles dominate at 500-vector fixture scale
    # but amortize away at index scale.
    # measured 0.24 at sf0.01: the fixture's float32-provenance doubles
    # snappy-compress (zero mantissa tails), so the on-disk gap is ~4x
    # here and approaches the raw 8x on true float64 embeddings
    code_b = _column_bytes(f"{pc}/assignments", "code")
    vec_b = _column_bytes(f"{pu}/assignments", "v")
    assert code_b < 0.3 * vec_b, (code_b, vec_b)
    assert _dir_bytes(f"{pc}/assignments") < 0.5 * _dir_bytes(f"{pu}/assignments")


def test_int8_rerank_pushes_id_list_into_vectors_scan(spark, emb, tmp_path):
    """The full-precision fetch must keep cent_id PartitionFilters AND
    (shortlist below the driver threshold) carry a pushed vec_id IN
    filter so sorted row groups are skippable."""
    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )

    path = str(tmp_path / "c")
    build_ivf_index(emb, path, n_centroids=8, compress="int8")
    got = query_ivf_index(
        spark, path, emb.filter(F.col("vec_id") < 10), k=3, n_probes=2
    )
    plan = executed_plan(got)
    import re

    assert re.search(r"PartitionFilters: \[[^\]]*cent_id[^\]]*\]", plan), plan[:3000]
    assert re.search(r"PushedFilters: \[[^\]]*In\(vec_id", plan), plan[:3000]
    assert got.count() > 0


def test_int8_extend_and_forget(spark, emb, tmp_path):
    """extend appends quantized codes AND full vectors; forget removes
    the id from BOTH tables (RTBF must not leave the recoverable
    full-precision copy behind)."""
    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        extend_ivf_index,
        forget_vectors,
        query_ivf_index,
    )

    path = str(tmp_path / "c")
    build_ivf_index(emb, path, n_centroids=8, compress="int8")
    copy = emb.filter(F.col("vec_id") == 7).withColumn(
        "vec_id", F.lit(1_000_007).cast(emb.schema["vec_id"].dataType)
    )
    extend_ivf_index(copy, path)
    top = query_ivf_index(
        spark, path, emb.filter(F.col("vec_id") == 7), k=1, n_probes=1
    ).collect()
    assert len(top) == 1 and top[0]["candidate_id"] == 1_000_007
    assert top[0]["sim_f6"] >= 0.999999

    report = forget_vectors(
        spark, path, spark.createDataFrame([(1_000_007,)], "vec_id bigint")
    )
    assert report["n_removed"] == 1
    for sub in ("assignments", "vectors"):
        left = (
            spark.read.parquet(f"{path}/{sub}")
            .filter(F.col("vec_id") == 1_000_007)
            .count()
        )
        assert left == 0, sub
    got = query_ivf_index(
        spark, path, emb.filter(F.col("vec_id") == 7), k=3, n_probes=8
    ).collect()
    assert all(r["candidate_id"] != 1_000_007 for r in got)


def test_pq_index_build_query_extend_forget(spark, emb, tmp_path):
    """Product quantization: 8-byte codes (64x smaller than float64),
    ADC ranking + exact rerank.  Pins (a) storage reduction on the
    code column, (b) exact sims on returned pairs, (c) recall floor
    vs the uncompressed index at a generous rerank window, (d) a
    planted exact copy surfaces as top hit after a codebook-frozen
    extend, and (e) RTBF clears codes, vectors, and codebook-encoded
    extends alike."""
    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        extend_ivf_index,
        forget_vectors,
        query_ivf_index,
    )

    pu, pp = str(tmp_path / "u"), str(tmp_path / "p")
    build_ivf_index(emb, pu, n_centroids=8)
    build_ivf_index(emb, pp, n_centroids=8, compress="pq")

    code_b = _column_bytes(f"{pp}/assignments", "code")
    vec_b = _column_bytes(f"{pu}/assignments", "v")
    assert code_b < 0.2 * vec_b, (code_b, vec_b)

    queries = emb.filter(F.col("vec_id") < 100)
    got_u = query_ivf_index(spark, pu, queries, k=5, n_probes=8).collect()
    got_p = query_ivf_index(
        spark, pp, queries, k=5, n_probes=8, rerank_factor=16
    ).collect()
    sims_u = {(r["query_id"], r["candidate_id"]): r["sim_f6"] for r in got_u}
    sims_p = {(r["query_id"], r["candidate_id"]): r["sim_f6"] for r in got_p}
    common = set(sims_u) & set(sims_p)
    assert common
    for pair in common:
        assert sims_u[pair] == sims_p[pair], pair
    by_q_u = defaultdict(set)
    by_q_p = defaultdict(set)
    for r in got_u:
        by_q_u[r["query_id"]].add(r["candidate_id"])
    for r in got_p:
        by_q_p[r["query_id"]].add(r["candidate_id"])
    recall = sum(
        len(by_q_p[q] & cs) / len(cs) for q, cs in by_q_u.items()
    ) / len(by_q_u)
    # PQ on 64-dim unstructured random vectors is the hard case; the
    # generous rerank window still has to recover most of the true
    # top-5 (the planted-copy check below pins the easy/important case
    # exactly)
    assert recall >= 0.5, recall

    copy = emb.filter(F.col("vec_id") == 7).withColumn(
        "vec_id", F.lit(1_000_007).cast(emb.schema["vec_id"].dataType)
    )
    extend_ivf_index(copy, pp)
    top = query_ivf_index(
        spark, pp, emb.filter(F.col("vec_id") == 7), k=1, n_probes=1,
        rerank_factor=16,
    ).collect()
    assert len(top) == 1 and top[0]["candidate_id"] == 1_000_007
    assert top[0]["sim_f6"] >= 0.999999

    report = forget_vectors(
        spark, pp, spark.createDataFrame([(1_000_007,)], "vec_id bigint")
    )
    assert report["n_removed"] == 1
    for sub in ("assignments", "vectors"):
        assert (
            spark.read.parquet(f"{pp}/{sub}")
            .filter(F.col("vec_id") == 1_000_007)
            .count()
            == 0
        ), sub


def test_pq_codebooks_deterministic(spark, emb, tmp_path):
    """Same corpus -> bit-identical codebooks and codes (fixed seed,
    deterministic Knuth-hash fit sample, first-index argmin ties)."""
    from datawarehouse_code_spark.operators.similarity import build_ivf_index

    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    build_ivf_index(emb, p1, n_centroids=8, compress="pq")
    build_ivf_index(emb.repartition(7), p2, n_centroids=8, compress="pq")
    b1 = sorted(
        map(tuple, spark.read.parquet(f"{p1}/codebooks")
            .select("sub", "code", F.col("centroid").cast("string"))
            .collect())
    )
    b2 = sorted(
        map(tuple, spark.read.parquet(f"{p2}/codebooks")
            .select("sub", "code", F.col("centroid").cast("string"))
            .collect())
    )
    assert b1 == b2
    c1 = sorted(
        map(tuple, spark.read.parquet(f"{p1}/assignments")
            .select("vec_id", F.col("code").cast("string")).collect())
    )
    c2 = sorted(
        map(tuple, spark.read.parquet(f"{p2}/assignments")
            .select("vec_id", F.col("code").cast("string")).collect())
    )
    assert c1 == c2


def test_int8_streaming_ingest_matches_batch(spark, emb, tmp_path):
    """run_ivf_ingest(compress='int8'): stream-bootstrapped +
    stream-extended compressed index ≡ batch bootstrap + batch
    extends — codes, full-precision rows, and query answers."""
    import os
    import time

    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        extend_ivf_index,
        query_ivf_index,
    )
    from datawarehouse_code_spark.streaming.jobs import run_ivf_ingest

    base = emb.filter(F.col("vec_id") % 4 != 0)
    inc = emb.filter(F.col("vec_id") % 4 == 0)

    ref_path = str(tmp_path / "ref")
    build_ivf_index(base, ref_path, n_centroids=8, compress="int8")
    extend_ivf_index(inc, ref_path)

    got_path = str(tmp_path / "got")
    land = tmp_path / "landing"
    land.mkdir()
    now = time.time() - 600
    for i, part in enumerate([base, inc]):
        f = land / f"inc-{i}.parquet"
        part.toPandas().to_parquet(f, index=False)
        os.utime(f, (now + 60 * i, now + 60 * i))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    run_ivf_ingest(
        stream, got_path, checkpoint_dir=str(tmp_path / "ckpt"),
        n_centroids=8, compress="int8",
    )

    # both sub-tables cover every vector, both sides
    for sub in ("assignments", "vectors"):
        got_ids = {
            r["vec_id"]
            for r in spark.read.parquet(f"{got_path}/{sub}").collect()
        }
        assert got_ids == {r["vec_id"] for r in emb.collect()}, sub
    assert "code" in spark.read.parquet(f"{got_path}/assignments").columns

    q = emb.filter(F.col("vec_id") < 10)
    a = sorted(
        tuple(r)
        for r in query_ivf_index(spark, ref_path, q, n_probes=8).collect()
    )
    b = sorted(
        tuple(r)
        for r in query_ivf_index(spark, got_path, q, n_probes=8).collect()
    )
    # centroid fits differ (different bootstrap corpora orderings are
    # the same here — base in both — so fits match); still compare
    # only the exact-scored answer sets
    assert a and b and a == b


# ------------------------------------------------- metadata-filtered ANN


@pytest.fixture(scope="module")
def allowed_en(spark):
    from datawarehouse_code_spark.sources.catalog import read_table

    return (
        read_table(spark, "documents", SF_DIR)
        .filter(F.col("lang") == "en")
        .select("doc_id")
    )


def test_filtered_fullprobe_ivf_equals_filtered_bruteforce(
    spark, emb, allowed_en
):
    """Full probing makes IVF exact under ANY centroids, so the
    filtered IVF path must match filter-then-brute-force EXACTLY —
    the equivalence that pins _restrict_candidates is applied before
    ranking, not after."""
    from datawarehouse_code_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
    )

    brute = brute_force_topk(emb, allowed=allowed_en)
    full_probe = ivf_topk(
        emb, n_centroids=8, n_probes=8, fit_max_iter=1, allowed=allowed_en
    )
    assert sorted(map(tuple, brute.collect())) == sorted(
        map(tuple, full_probe.collect())
    )


def test_filtered_lsh_candidates_all_allowed(spark, emb, allowed_en):
    from datawarehouse_code_spark.operators.similarity import lsh_topk

    allowed_ids = {r["doc_id"] for r in allowed_en.collect()}
    got = lsh_topk(emb, allowed=allowed_en, n_probes=2).collect()
    assert got, "filtered LSH returned nothing"
    assert all(r["candidate_id"] in allowed_ids for r in got)
    # a query OUTSIDE the allowed set still searches
    assert any(r["query_id"] not in allowed_ids for r in got)


def test_filtered_query_ivf_keeps_partition_pruning(
    spark, emb, allowed_en, tmp_path
):
    """The attribute semi-join must COMPOSE with cent_id partition
    pruning (sit above the pruned scan), not replace it."""
    import re

    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )

    path = str(tmp_path / "u")
    build_ivf_index(emb, path, n_centroids=16)
    got = query_ivf_index(
        spark, path, emb.filter(F.col("vec_id") < 50),
        k=5, n_probes=2, allowed=allowed_en,
    )
    plan = executed_plan(got)
    assert re.search(r"PartitionFilters: \[[^\]]*cent_id[^\]]*\]", plan), plan[:3000]
    allowed_ids = {r["doc_id"] for r in allowed_en.collect()}
    rows = got.collect()
    assert rows and all(r["candidate_id"] in allowed_ids for r in rows)


def test_attr_predicate_pushdown_matches_allowed_semi_join(
    spark, emb, allowed_en, tmp_path
):
    """Indexed-attribute predicate (build attrs= + query predicate=)
    must return exactly what the allowed= semi-join returns for the
    same logical filter, with the predicate PUSHED into the pruned
    scan (PushedFilters carries lang beside cent_id
    PartitionFilters) — the no-shuffle form of metadata filtering."""
    import re

    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        extend_ivf_index,
        query_ivf_index,
    )
    from datawarehouse_code_spark.sources.catalog import read_table

    docs = read_table(spark, "documents", SF_DIR)
    attrs = docs.select("doc_id", "lang")
    for compress in (None, "int8"):
        path = str(tmp_path / f"attr_{compress}")
        build_ivf_index(
            emb, path, n_centroids=8, compress=compress, attrs=attrs
        )
        q = emb.filter(F.col("vec_id") < 50)
        via_pred = query_ivf_index(
            spark, path, q, k=3, n_probes=8, predicate="lang = 'en'",
            rerank_factor=1000,
        )
        # plan assertions on the UNCOMPRESSED path only: the int8
        # path's eager shortlist checkpoint truncates the observable
        # lineage (the ranking scan ran inside query_ivf_index), and
        # executedPlan().toString() truncates long scan lines, so use
        # the formatted explain
        if compress is None:
            plan = formatted_plan(via_pred)
            assert re.search(r"PartitionFilters: \[[^\]]*cent_id", plan)
            assert re.search(
                r"PushedFilters: \[[^\]]*EqualTo\(lang,en\)", plan
            ), plan[:3000]
        via_allowed = query_ivf_index(
            spark, path, q, k=3, n_probes=8, allowed=allowed_en,
            rerank_factor=1000,
        )
        assert sorted(map(tuple, via_pred.collect())) == sorted(
            map(tuple, via_allowed.collect())
        ), compress

    # attribute names shadowing reserved index columns refuse loudly
    # (they would scramble the reader's format detection)
    with pytest.raises(ValueError, match="shadow"):
        build_ivf_index(
            emb, str(tmp_path / "clash"), n_centroids=8,
            attrs=docs.select("doc_id", F.col("lang").alias("scale")),
        )

    # extending an attributed index without attrs refuses loudly
    inc = emb.filter(F.col("vec_id") < 3).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    with pytest.raises(ValueError, match="attribute columns"):
        extend_ivf_index(inc, str(tmp_path / "attr_None"))
    # with attrs it lands and is predicate-visible
    extend_ivf_index(
        inc, str(tmp_path / "attr_None"),
        attrs=inc.select("vec_id", F.lit("en").alias("lang")),
    )
    got = query_ivf_index(
        spark,
        str(tmp_path / "attr_None"),
        emb.filter(F.col("vec_id") < 3),
        k=1, n_probes=8, predicate="lang = 'en'",
    ).collect()
    assert {r["candidate_id"] for r in got} == {1_000_000, 1_000_001, 1_000_002}


def test_filtered_compressed_query_matches_filtered_uncompressed(
    spark, emb, allowed_en, tmp_path
):
    """allowed= composes with the int8 rerank path."""
    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )

    pu, pc = str(tmp_path / "u"), str(tmp_path / "c")
    build_ivf_index(emb, pu, n_centroids=8)
    build_ivf_index(emb, pc, n_centroids=8, compress="int8")
    q = emb.filter(F.col("vec_id") < 50)
    got_u = query_ivf_index(spark, pu, q, k=3, n_probes=8, allowed=allowed_en)
    # rerank_factor large enough that the rerank window covers every
    # allowed candidate -> the compressed path is EXACT by
    # construction (quantization selects, full precision scores)
    got_c = query_ivf_index(
        spark, pc, q, k=3, n_probes=8, allowed=allowed_en,
        rerank_factor=1000,
    )
    assert sorted(map(tuple, got_u.collect())) == sorted(
        map(tuple, got_c.collect())
    )


def test_ivf_index_stats(spark, emb, tmp_path):
    """Bucket-balance report: shares sum to ~10000 bp, counts sum to
    the corpus, imbalance = max/mean x100, identical math on a
    compressed index."""
    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_stats,
    )

    n = emb.count()
    for compress in (None, "int8"):
        path = str(tmp_path / f"s_{compress}")
        build_ivf_index(emb, path, n_centroids=8, compress=compress)
        rows = ivf_index_stats(spark, path).collect()
        assert sum(r["n_vectors"] for r in rows) == n
        assert rows == sorted(
            rows, key=lambda r: (-r["n_vectors"], r["cent_id"])
        )
        total_bp = sum(r["share_bp"] for r in rows)
        assert 10000 - len(rows) <= total_bp <= 10000  # div truncation
        k = len(rows)
        want_imb = rows[0]["n_vectors"] * 100 * k // n
        assert all(r["imbalance_x100"] == want_imb for r in rows)
        assert want_imb >= 100


def test_pq_stream_bootstrap_replay_after_crash(spark, emb, tmp_path):
    """Half-bootstrap recovery for the PQ format: a crash AFTER
    codebooks/ (and centroids/, vectors/) land but BEFORE the
    assignments _SUCCESS marker must roll back EVERY artifact on
    replay — a surviving codebooks/ dir would wedge the rebuild's
    mode('error') write on this and every later replay."""
    import os
    import time

    from datawarehouse_code_spark.streaming.jobs import run_ivf_ingest

    path = str(tmp_path / "idx")
    # simulate the crash state: pre-marker artifacts present
    spark.createDataFrame(
        [(0, 0, [0.0] * 8)], "sub int, code int, centroid array<double>"
    ).write.parquet(f"{path}/codebooks")
    spark.createDataFrame(
        [(0, [0.0] * 64, 0.0)], "cent_id int, cv array<double>, inv_c double"
    ).write.parquet(f"{path}/centroids")
    spark.createDataFrame(
        [(0, 1, [0.0] * 64)], "cent_id int, vec_id bigint, v array<double>"
    ).write.parquet(f"{path}/vectors")
    assert not os.path.exists(f"{path}/assignments/_SUCCESS")

    land = tmp_path / "landing"
    land.mkdir()
    f = land / "batch.parquet"
    emb.limit(50).toPandas().to_parquet(f, index=False)
    os.utime(f, (time.time() - 600, time.time() - 600))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    run_ivf_ingest(
        stream, path, checkpoint_dir=str(tmp_path / "ckpt"),
        n_centroids=4, compress="pq",
    )
    # rebuilt cleanly: marker present, codebooks replaced (not the
    # planted single-row stub), all 50 vectors indexed
    assert os.path.exists(f"{path}/assignments/_SUCCESS")
    assert spark.read.parquet(f"{path}/codebooks").count() == 8 * 256
    assert spark.read.parquet(f"{path}/assignments").count() == 50


def test_incremental_semantic_dedup_against_persisted_index(spark, emb, tmp_path):
    """Increment dedup probes the persisted index: planted twins of
    indexed vectors are dropped with dup_of naming the indexed
    original, dissimilar new vectors are kept (the fixture's natural
    max cosine is far below the 0.99 threshold), the report covers
    exactly the increment, and the behavior is identical on an int8
    index (exact sims after re-rank)."""
    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        incremental_semantic_dedup,
    )

    for compress in (None, "int8"):
        path = str(tmp_path / f"idx_{compress}")
        build_ivf_index(emb, path, n_centroids=8, compress=compress)
        twins = emb.filter(F.col("vec_id") < 10).select(
            (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
        )
        novel = emb.filter(F.col("vec_id").between(20, 29)).select(
            (F.col("vec_id") + 200000).alias("vec_id"), "embedding"
        )
        # 'novel' reuses fixture vectors under new ids — but they ARE
        # exact twins of their indexed originals, so to get genuinely
        # novel vectors, negate them (cosine flips sign: nothing in
        # the corpus is near -v when max natural cos is ~0.6)
        novel = novel.select(
            "vec_id",
            F.transform("embedding", lambda x: -x).alias("embedding"),
        )
        inc = twins.unionByName(novel)
        rows = {
            r["vec_id"]: r
            for r in incremental_semantic_dedup(
                spark, path, inc, threshold_f6=990_000, n_probes=8
            ).collect()
        }
        assert len(rows) == 20, compress
        for orig in range(10):
            r = rows[orig + 100000]
            assert r["kept"] == 0 and r["dup_of"] == orig, (compress, r)
        for nid in range(200020, 200030):
            assert rows[nid]["kept"] == 1 and rows[nid]["dup_of"] == -1, (
                compress, rows[nid],
            )


def test_incremental_semantic_dedup_rejects_id_collisions(spark, emb, tmp_path):
    """An increment that reuses an indexed vec_id is refused loudly:
    the probe's self-match exclusion would hide the indexed twin and
    report the re-submitted vector as kept (the double-append bug the
    guard exists to prevent).  And semantic_dedup_with_centroids
    validates n_assign against the real centroid count like its
    fitting sibling."""
    import pytest

    from datawarehouse_code_spark.operators.similarity import (
        build_ivf_index,
        incremental_semantic_dedup,
        semantic_dedup_with_centroids,
    )

    path = str(tmp_path / "idx")
    build_ivf_index(emb, path, n_centroids=4)
    colliding = emb.filter(F.col("vec_id") < 5)
    with pytest.raises(ValueError, match="collide"):
        incremental_semantic_dedup(spark, path, colliding)
    cents = spark.read.parquet(f"{path}/centroids")
    with pytest.raises(ValueError, match="n_assign"):
        semantic_dedup_with_centroids(emb, cents, n_assign=99)
