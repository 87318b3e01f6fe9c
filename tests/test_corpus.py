"""Corpus cleaning end-to-end: duplicates (planted + synthetic exact
copies) are dropped, everything else survives, and the written corpus
is lang-partitioned."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from datawarehouse_code_spark.operators.corpus import clean_corpus, write_clean_corpus
from datawarehouse_code_spark.operators.text import near_dup_pairs_exact
from datawarehouse_code_spark.plans.audit import executed_plan, formatted_plan
from datawarehouse_code_spark.sources.catalog import read_table
from tests.conftest import SF_DIR


def _with_exact_copies(spark):
    docs = read_table(spark, "documents", SF_DIR)
    copies = docs.limit(5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    return docs.unionByName(copies)


def test_clean_corpus_drops_dups_keeps_rest(spark):
    docs = _with_exact_copies(spark)
    survivors = clean_corpus(docs)
    ids = {r["doc_id"] for r in survivors.select("doc_id").collect()}
    # every synthetic exact copy dropped (original id is smaller)
    assert all(i < 1_000_000 for i in ids)
    # every doc appearing as the larger side of a verified near-dup
    # pair is gone; all never-duplicated docs survive
    pairs = near_dup_pairs_exact(read_table(spark, "documents", SF_DIR)).collect()
    dup_larger = {r["d2"] for r in pairs}
    dup_any = {r["d1"] for r in pairs} | dup_larger
    all_ids = {r["doc_id"] for r in read_table(spark, "documents", SF_DIR).collect()}
    assert ids & dup_larger == set()
    assert (all_ids - dup_any) <= ids


def test_write_clean_corpus_partitioned(spark, tmp_path):
    out = str(tmp_path / "clean")
    docs = _with_exact_copies(spark)
    report = write_clean_corpus(spark, docs, out)
    assert report["input"] == report["surviving"] + report["dropped"]
    assert report["dropped"] >= 5
    lang_dirs = [d for d in os.listdir(out) if d.startswith("lang=")]
    assert len(lang_dirs) >= 2
    back = spark.read.parquet(out)
    assert back.count() == report["surviving"]


def test_near_dup_components_transitive_chain(spark):
    """A~B~C with A and C NOT directly paired must collapse to {A},
    even when the middle doc has the largest id — the case where the
    old single-step 'drop the larger pair side' rule kept C alive."""
    from datawarehouse_code_spark.operators.corpus import (
        clean_corpus,
        near_dup_components,
    )

    # ids chosen so doc 2 ("C") is only ever the SMALLER side of its
    # one pair (2, 5): a non-iterative rule would never drop it.
    a = "alpha beta gamma delta epsilon zeta eta theta"
    c = "kappa lam mu nu xi omicron pi rho"
    b = a + " " + c  # shares a run of shingles with both A and C
    rows = [
        (1, a, "en", "s", len(a)),
        (5, b, "en", "s", len(b)),
        (2, c, "en", "s", len(c)),
        (9, "totally unrelated words here only once", "en", "s", 38),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id int, text string, lang string, source string, n_chars int"
    )

    from datawarehouse_code_spark.operators.text import near_dup_pairs_exact

    pair_source = lambda d, t: near_dup_pairs_exact(d, threshold=t)  # noqa: E731
    pairs = pair_source(docs, 0.3)
    got_pairs = {(r["d1"], r["d2"]) for r in pairs.collect()}
    assert got_pairs == {(1, 5), (2, 5)}  # the chain, no (1, 2) edge

    comp = {r["doc_id"]: r["rep"] for r in near_dup_components(pairs).collect()}
    assert comp == {1: 1, 5: 1, 2: 1}

    survivors = clean_corpus(docs, near_dup_threshold=0.3, pair_source=pair_source)
    assert {r["doc_id"] for r in survivors.select("doc_id").collect()} == {1, 9}


def test_near_dup_components_empty_and_disjoint(spark):
    from datawarehouse_code_spark.operators.corpus import near_dup_components

    empty = spark.createDataFrame([], "d1 int, d2 int")
    assert near_dup_components(empty).count() == 0

    two = spark.createDataFrame([(1, 2), (7, 9)], "d1 int, d2 int")
    comp = {r["doc_id"]: r["rep"] for r in near_dup_components(two).collect()}
    assert comp == {1: 1, 2: 1, 7: 7, 9: 7}


def test_stratified_hash_sample_deterministic_and_composable(spark):
    """The hash-sampling rule is a pure function of the key: the same
    input yields the same sample under any partitioning; a higher rate
    yields a superset; the realized rate tracks the target; non-listed
    strata keep the default rate (1.0 keeps everything)."""
    from datawarehouse_code_spark.operators.corpus import stratified_hash_sample

    docs = read_table(spark, "documents", SF_DIR)
    half = stratified_hash_sample(docs, "doc_id", "lang", {"en": 0.5})
    ids1 = {r["doc_id"] for r in half.select("doc_id").collect()}
    ids2 = {
        r["doc_id"]
        for r in stratified_hash_sample(
            docs.repartition(17), "doc_id", "lang", {"en": 0.5}
        ).select("doc_id").collect()
    }
    assert ids1 == ids2  # partitioning-independent

    n_en = docs.filter(F.col("lang") == "en").count()
    n_en_kept = half.filter(F.col("lang") == "en").count()
    assert 0.35 * n_en <= n_en_kept <= 0.65 * n_en  # realized ~ target
    # non-listed strata untouched
    assert (
        half.filter(F.col("lang") != "en").count()
        == docs.filter(F.col("lang") != "en").count()
    )

    wider = stratified_hash_sample(docs, "doc_id", "lang", {"en": 0.8})
    ids_wide = {r["doc_id"] for r in wider.select("doc_id").collect()}
    assert ids1 <= ids_wide  # raising the rate only adds rows


def test_near_dup_components_falls_back_past_max_iters(spark):
    """Propagation that has NOT converged by max_iters hands off to
    the large-star/small-star fixpoint instead of raising — and never
    returns mid-propagation labels."""
    from datawarehouse_code_spark.operators.corpus import near_dup_components

    chain = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "d1 int, d2 int")
    comp = {
        r["doc_id"]: r["rep"]
        for r in near_dup_components(chain, max_iters=1).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1}
    # enough rounds -> converges via propagation alone, same answer
    comp = {r["doc_id"]: r["rep"] for r in near_dup_components(chain).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1}


def test_propagation_jumps_long_chains_without_fallback(spark, monkeypatch):
    """The round-14 pointer-jumping mechanism pin: a diameter-63 path
    must converge inside max_iters=12 through propagation ALONE —
    O(log diameter) rounds — so the two-phase fallback never fires.
    The r13 shape would burn all rounds and restart in two-phase (the
    monkeypatched stub would raise), which is exactly the double-work
    bill this pins against regressing."""
    import datawarehouse_code_spark.operators.corpus as C

    def _boom(*a, **k):
        raise AssertionError("two-phase fallback fired — jumping broken")

    monkeypatch.setattr(C, "_two_phase_components", _boom)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "d1 BIGINT, d2 BIGINT"
    )
    comp = {
        r["doc_id"]: r["rep"]
        for r in C.near_dup_components(pairs, max_iters=12).collect()
    }
    assert comp == {i: 0 for i in range(64)}


def test_two_phase_components_long_chain_past_diameter(spark):
    """A planted diameter-31 chain (> the default max_iters=20) plus a
    disjoint triangle: the default call path must cluster BOTH
    correctly (since round 14 pointer jumping converges this without
    the fallback — see the mechanism test below); the direct
    two_phase path agrees."""
    from datawarehouse_code_spark.operators.corpus import near_dup_components

    chain = [(i, i + 1) for i in range(31)]  # 0-1-...-31, diameter 31
    tri = [(100, 101), (101, 102), (100, 102)]
    pairs = spark.createDataFrame(chain + tri, "d1 int, d2 int")

    want = {i: 0 for i in range(32)} | {100: 100, 101: 100, 102: 100}
    via_fallback = {
        r["doc_id"]: r["rep"] for r in near_dup_components(pairs).collect()
    }
    assert via_fallback == want
    direct = {
        r["doc_id"]: r["rep"]
        for r in near_dup_components(pairs, algorithm="two_phase").collect()
    }
    assert direct == want


def test_two_phase_agrees_with_propagation_on_real_pairs(spark):
    """Cross-algorithm differential on the actual near-dup pair graph
    of the test corpus: two independent CC implementations must
    produce identical component labelings."""
    from datawarehouse_code_spark.operators.corpus import near_dup_components
    from datawarehouse_code_spark.operators.text import near_dup_pairs_exact
    from datawarehouse_code_spark.sources.catalog import read_table
    from tests.conftest import SF_DIR

    docs = read_table(spark, "documents", SF_DIR)
    pairs = near_dup_pairs_exact(docs, threshold=0.5).localCheckpoint()
    a = {
        (r["doc_id"], r["rep"])
        for r in near_dup_components(pairs).collect()
    }
    b = {
        (r["doc_id"], r["rep"])
        for r in near_dup_components(pairs, algorithm="two_phase").collect()
    }
    assert a == b and len(a) > 0


def test_quality_scores_empty_text_null_ratio(spark):
    from datawarehouse_code_spark.operators.text import quality_scores

    docs = spark.createDataFrame(
        [(1, ""), (2, "the quick brown fox of the age and the end is near "
                      "the lazy dog in a fog of war and the tin is full")],
        "doc_id int, text string",
    )
    rows = {r["doc_id"]: r for r in quality_scores(docs).collect()}
    assert rows[1]["symbol_ratio_f4"] is None
    assert rows[1]["passes"] is not True
    assert rows[2]["symbol_ratio_f4"] == 0.0


def test_mixture_resample_hits_target_proportions(spark):
    """mixture_resample: bottleneck stratum survives whole, output
    proportions approximate the target, non-target strata drop, and
    the decision is a deterministic subset of the input."""
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.corpus import mixture_resample

    docs = read_table(spark, "documents", SF_DIR)
    target = {"en": 0.5, "de": 0.25, "fr": 0.25}
    out = mixture_resample(docs, "doc_id", "lang", target)

    by_lang = {r.lang: r.n for r in
               out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    in_by_lang = {r.lang: r.n for r in
                  docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(by_lang) == set(target)                     # zh/es dropped
    t = min(in_by_lang[s] / p for s, p in target.items())
    bottleneck = min(target, key=lambda s: in_by_lang[s] / target[s])
    assert by_lang[bottleneck] == in_by_lang[bottleneck]   # kept whole
    total = sum(by_lang.values())
    for s, p in target.items():
        # hash sampling is uniform, not exact-count: allow a loose band
        assert abs(by_lang[s] / total - p) < 0.08, (s, by_lang, t)

    # deterministic + pure subset
    again = mixture_resample(docs, "doc_id", "lang", target)
    assert out.exceptAll(again).count() == 0 and again.exceptAll(out).count() == 0
    assert out.join(docs, "doc_id", "left_anti").count() == 0


def test_prepare_training_corpus_end_to_end(spark, tmp_path):
    """The one-call pipeline: redact -> quality-filter -> dedup ->
    pack; stage counts must be consistent, outputs readable, and the
    packed manifest must cover every surviving doc exactly once."""
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.corpus import prepare_training_corpus
    from datawarehouse_code_spark.sources.catalog import read_table
    from tests.conftest import SF_DIR

    docs = read_table(spark, "documents", SF_DIR)
    # plant one exact duplicate (to exercise dedup) and one PII doc —
    # off ONE FIXED row (min doc_id): bare limit(1) is not
    # deterministic across separate actions, so planting from three
    # independent limit(1)/head() calls could pick different rows and
    # flake the assertions below
    base_id = docs.agg(F.min("doc_id")).collect()[0][0]
    base = docs.filter(F.col("doc_id") == base_id)
    dup = base.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    # The PII doc gets its OWN unique text (passing the Gopher-style
    # quality gate: >=20 short words, stopwords, few symbols) — a
    # base-text-plus-email variant would be a near-duplicate of its
    # source and the dedup stage would (correctly) drop it, leaving
    # the redaction assertion below vacuous.
    pii_text = (
        "the quick brown fox jumps over a lazy dog while the old "
        "miller grinds wheat in a stone mill near the river and the "
        "children play in the warm sand all day long before dusk "
        "settles gently on the quiet valley reach me at spam@example.com"
    )
    pii = base.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.lit(pii_text).alias("text"),
        "lang", "source",
        F.length(F.lit(pii_text)).alias("n_chars"),
    )
    out = str(tmp_path / "corpus")
    report = prepare_training_corpus(
        docs.unionByName(dup).unionByName(pii), out, budget=256
    )

    assert report["input"] == docs.count() + 2
    assert 0 < report["quality_kept"] <= report["input"]
    # the planted exact duplicate must be gone
    assert report["dedup_kept"] < report["quality_kept"]
    assert report["sequences"] > 0

    cleaned = spark.read.parquet(f"{out}/documents")
    assert cleaned.count() == report["dedup_kept"]
    # redaction happened before the write
    pii_rows = cleaned.filter(F.col("doc_id") == 2_000_000 + base_id).collect()
    assert pii_rows, "planted PII doc was dropped entirely"
    for r in pii_rows:
        assert "spam@example.com" not in r.text and "[EMAIL]" in r.text

    packed = spark.read.parquet(f"{out}/packed")
    assert packed.count() == report["dedup_kept"]
    # offsets are dense per shard: sum of tokens == max offset + last len
    per_shard = packed.groupBy("source").agg(
        F.sum("n_tokens").alias("s"),
        F.max(F.col("token_offset") + F.col("n_tokens")).alias("end"),
    )
    bad = per_shard.filter(F.col("s") != F.col("end")).count()
    assert bad == 0


def test_assign_splits_leakage_safe_invariants(spark):
    """(a) every near-dup pair lands in ONE split (the whole point);
    (b) docs outside any pair are their own group; (c) the assignment
    is a pure function of group_id — repartitioning the input changes
    nothing; (d) bad weights fail loudly."""
    import pytest

    from datawarehouse_code_spark.operators.corpus import (
        assign_splits_leakage_safe,
        split_hash_bounds,
    )

    docs = read_table(spark, "documents", SF_DIR)
    pairs = near_dup_pairs_exact(docs, threshold=0.5)
    out = assign_splits_leakage_safe(docs, pairs)
    rows = {r["doc_id"]: (r["group_id"], r["split"]) for r in out.collect()}

    pair_rows = pairs.collect()
    assert pair_rows, "fixture must contain near-dup pairs"
    for p in pair_rows:
        assert rows[p["d1"]][1] == rows[p["d2"]][1], "pair straddles splits"
        assert rows[p["d1"]][0] == rows[p["d2"]][0], "pair straddles groups"

    paired = {p["d1"] for p in pair_rows} | {p["d2"] for p in pair_rows}
    for doc_id, (group_id, _) in rows.items():
        if doc_id not in paired:
            assert group_id == doc_id

    # all three splits non-empty at this fixture size, and train biggest
    from collections import Counter

    by_split = Counter(split for _, split in rows.values())
    assert set(by_split) == {"train", "val", "test"}
    assert by_split["train"] > by_split["val"]
    assert by_split["train"] > by_split["test"]

    again = {
        r["doc_id"]: (r["group_id"], r["split"])
        for r in assign_splits_leakage_safe(
            docs.repartition(7), pairs.repartition(5)
        ).collect()
    }
    assert again == rows

    with pytest.raises(ValueError):
        split_hash_bounds(())
    with pytest.raises(ValueError):
        split_hash_bounds((("a", -0.1), ("b", 1.1)))
    with pytest.raises(ValueError):
        split_hash_bounds((("a", 0.0), ("b", 0.0)))


def test_deterministic_group_sample_properties(spark):
    """Exactly min(k, |group|) rows per group; repartition-stable;
    and MONOTONE in k (the k=2 sample is a prefix of the k=5 sample —
    the fixed hash order makes samples composable); k guard."""
    import pytest

    from datawarehouse_code_spark.operators.corpus import (
        deterministic_group_sample,
    )

    docs = read_table(spark, "documents", SF_DIR)
    sizes = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    k5 = deterministic_group_sample(docs, ["lang"], "doc_id", 5)
    got = {r["lang"]: r["n"] for r in k5.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == {lang: min(5, n) for lang, n in sizes.items()}

    ids5 = {r["doc_id"] for r in k5.select("doc_id").collect()}
    again = {
        r["doc_id"]
        for r in deterministic_group_sample(
            docs.repartition(7), ["lang"], "doc_id", 5
        ).select("doc_id").collect()
    }
    assert again == ids5

    ids2 = {
        r["doc_id"]
        for r in deterministic_group_sample(docs, ["lang"], "doc_id", 2)
        .select("doc_id").collect()
    }
    assert ids2 < ids5

    with pytest.raises(ValueError, match="k must be positive"):
        deterministic_group_sample(docs, ["lang"], "doc_id", 0)


def test_forget_documents_removes_from_corpus_and_index(spark, tmp_path):
    """After forgetting, the docs are gone from the stored corpus,
    their index rows are gone, and an increment that IS an exact copy
    of a forgotten doc no longer finds it — the full
    right-to-be-forgotten contract for near-dup serving."""
    from datawarehouse_code_spark.operators.corpus import forget_documents
    from datawarehouse_code_spark.operators.text import (
        build_lsh_index,
        near_dup_pairs_incremental,
    )

    docs = read_table(spark, "documents", SF_DIR)
    corpus_path = str(tmp_path / "corpus")
    index_path = str(tmp_path / "index")
    docs.write.parquet(corpus_path)
    build_lsh_index(docs).write.parquet(index_path)

    gone = docs.filter(F.col("doc_id") % 25 == 0).select("doc_id")
    n_gone = gone.count()
    assert n_gone > 0

    report = forget_documents(
        spark, corpus_path, index_path, gone
    )
    assert report["corpus_removed"] == n_gone
    assert report["index_rows_removed"] > 0

    survivors = spark.read.parquet(corpus_path)
    assert survivors.join(gone, "doc_id", "left_semi").count() == 0
    index = spark.read.parquet(index_path)
    assert index.join(gone, "doc_id", "left_semi").count() == 0

    # an exact copy of a forgotten doc finds NO corpus match now
    probe = docs.filter(F.col("doc_id") % 25 == 0).withColumn(
        "doc_id", F.col("doc_id") + 5_000_000
    )
    pairs = near_dup_pairs_incremental(probe, survivors, index)
    hits = pairs.filter(F.col("d_corpus") % 25 == 0).filter(
        F.col("d_corpus") < 1_000_000
    )
    assert hits.count() == 0

    import pytest

    with pytest.raises(ValueError, match="no corpus"):
        forget_documents(spark, str(tmp_path / "nope"), None, gone)


def test_select_canonical_keeps_best_scored(spark):
    """Crafted component {1, 2, 3} with scores 5, 9, 9: the winner is
    doc 2 (highest score, lower id on the tie); singleton 4 survives;
    scores outside the component never matter."""
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.corpus import select_canonical

    docs = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (4, 1.0)], "doc_id bigint, q double"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "d1 bigint, d2 bigint"
    )
    kept = sorted(
        r["doc_id"]
        for r in select_canonical(docs, pairs, "q").collect()
    )
    assert kept == [2, 4]

    # min-id policy comparison: clean_corpus-style rep would keep 1;
    # the quality policy must differ on this input
    assert 1 not in kept


def test_temperature_mixture_damps_head(spark):
    """alpha=1 reproduces the natural shares, alpha=0 is uniform, and
    an intermediate alpha strictly shrinks the head stratum's share
    while growing the tail's; the dict feeds mixture_resample."""
    import pytest
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.corpus import (
        mixture_resample,
        temperature_mixture,
    )

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")

    nat = temperature_mixture(df, "lang", 1.0)
    assert abs(nat["big"] - 0.9) < 1e-12 and abs(nat["small"] - 0.1) < 1e-12
    uni = temperature_mixture(df, "lang", 0.0)
    assert abs(uni["big"] - 0.5) < 1e-12
    damped = temperature_mixture(df, "lang", 0.5)
    assert uni["big"] < damped["big"] < nat["big"]
    assert uni["small"] > damped["small"] > nat["small"]

    out = mixture_resample(df, "doc_id", "lang", damped)
    got = {r["lang"]: r["n"] for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    # the tail stratum binds (kept whole); the head is downsampled to
    # approximately the damped ratio
    assert got["small"] == 100
    want_big = 100 * damped["big"] / damped["small"]
    assert abs(got["big"] - want_big) / want_big < 0.15

    with pytest.raises(ValueError, match="alpha"):
        temperature_mixture(df, "lang", 1.5)


def test_ingest_corpus_increment_end_to_end(spark, tmp_path):
    """The composed nightly sweep: an increment carrying an exact
    in-batch dup, an in-batch near-dup pair, an exact copy of a
    corpus doc, a near-dup of a corpus doc, and one clean doc.  Only
    the clean doc and one survivor of the in-batch pair land; the
    index is extended so a FOLLOW-UP increment duplicating the newly
    ingested doc is caught; re-running the same increment ingests
    nothing and duplicates no index rows."""
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.corpus import (
        ingest_corpus_increment,
    )
    from datawarehouse_code_spark.operators.text import build_lsh_index
    from datawarehouse_code_spark.sources.catalog import read_table

    corpus_path = str(tmp_path / "corpus")
    index_path = str(tmp_path / "index")
    base = read_table(spark, "documents", SF_DIR).limit(50)
    base.write.parquet(corpus_path)
    build_lsh_index(base).write.parquet(index_path)

    corpus_doc = base.orderBy("doc_id").first()
    near_of_corpus = " ".join(corpus_doc["text"].split()[:-1])  # drop last word
    inc_rows = [
        (10_001, "a fresh unique document about nothing seen before xyz"),
        (10_002, "duplicate pair text alpha beta gamma delta epsilon"),
        (10_003, "duplicate pair text alpha beta gamma delta epsilon"),  # exact in-batch dup
        (10_004, "duplicate pair text alpha beta gamma delta epsilon zeta"),  # near in-batch
        (10_005, corpus_doc["text"]),                    # exact copy of corpus doc
        (10_006, near_of_corpus),                        # near-dup of corpus doc
    ]
    schema_cols = base.columns
    inc = spark.createDataFrame(
        [(i, t) for i, t in inc_rows], "doc_id bigint, text string"
    )
    for c in schema_cols:
        if c not in inc.columns:
            inc = inc.withColumn(c, F.lit(None).cast(base.schema[c].dataType))
    inc = inc.select(schema_cols)

    report = ingest_corpus_increment(spark, corpus_path, index_path, inc)
    assert report["n_input"] == 6
    assert report["dropped_exact"] == 2        # in-batch dup + corpus copy
    assert report["dropped_near_in_batch"] == 1
    assert report["dropped_near_vs_corpus"] == 1
    assert report["n_ingested"] == 2
    got_ids = {
        r["doc_id"]
        for r in spark.read.parquet(corpus_path)
        .filter(F.col("doc_id") > 10_000)
        .collect()
    }
    assert got_ids == {10_001, 10_002}

    # follow-up increment duplicating a newly ingested doc is caught
    # through the EXTENDED index / corpus
    follow = inc.filter(F.col("doc_id") == 10_001).withColumn(
        "doc_id", F.lit(20_001).cast("bigint")
    )
    r2 = ingest_corpus_increment(spark, corpus_path, index_path, follow)
    assert r2["n_ingested"] == 0 and r2["dropped_exact"] == 1

    # idempotent re-run: nothing new, no duplicated index rows
    n_index = spark.read.parquet(index_path).count()
    r3 = ingest_corpus_increment(spark, corpus_path, index_path, inc)
    assert r3["n_ingested"] == 0
    assert spark.read.parquet(index_path).count() == n_index


def test_weighted_sample_k_matches_python_and_is_weight_sensitive(spark):
    """A-Res with the shared Knuth coin: the selected keys equal a
    pure-Python recomputation of u^(1/w) top-k; heavier weights are
    overrepresented vs a uniform draw; zero/NULL weights never
    selected; the plan is TakeOrdered, not a global sort."""
    import pytest

    from datawarehouse_code_spark.operators.corpus import (
        knuth_u,
        weighted_sample_k,
    )

    rows = [(i, 100.0 if i % 10 == 0 else 1.0) for i in range(1, 1001)]
    rows += [(2001, 0.0), (2002, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, w double")
    got = sorted(
        r["doc_id"] for r in weighted_sample_k(df, "doc_id", "w", 50).collect()
    )

    # python twin with the same coin
    def u(key):
        return ((key % 2**31) * 2654435761 % 2**32) / 2**32

    scored = sorted(
        ((u(i) ** (1.0 / w), i) for i, w in rows if w),
        key=lambda t: (-t[0], t[1]),
    )
    want = sorted(i for _s, i in scored[:50])
    assert got == want
    assert 2001 not in got and 2002 not in got
    # the 10% heavy keys should dominate the sample
    heavy = sum(1 for i in got if i % 10 == 0)
    assert heavy > 25

    plan = executed_plan(weighted_sample_k(df, "doc_id", "w", 50))
    assert "TakeOrderedAndProject" in plan

    with pytest.raises(ValueError, match="k must be"):
        weighted_sample_k(df, "doc_id", "w", 0)


def test_weighted_sample_k_nan_weights_excluded(spark):
    """Review regression (r7): NaN > 0 is TRUE in Spark and NaN sorts
    above every double — unguarded NaN weights would monopolize the
    sample."""
    from datawarehouse_code_spark.operators.corpus import weighted_sample_k

    rows = [(i, 1000.0) for i in range(1, 6)]
    rows += [(100 + i, float("nan")) for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id bigint, w double")
    got = {r["doc_id"] for r in weighted_sample_k(df, "doc_id", "w", 3).collect()}
    assert got <= {1, 2, 3, 4, 5} and len(got) == 3


def test_mixture_resample_token_budget(spark):
    """Weighted mixture (r8): with weight_col the budget currency is
    tokens, so realized TOKEN shares approach the target where the
    doc-count mixture's token shares would drift with per-domain doc
    length; per-row decisions stay on the deterministic coin (a rerun
    and a repartitioned input agree exactly)."""
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.corpus import mixture_resample

    # planted corpus: en docs are 10x longer than de docs, doc counts
    # equal — a doc-count 50/50 mixture would give ~91/9 token shares
    rows = [(i, "en", 1000) for i in range(500)] + [
        (i + 1000, "de", 100) for i in range(500)
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, lang STRING, n_chars BIGINT")
    target = {"en": 0.5, "de": 0.5}
    got = mixture_resample(docs, "doc_id", "lang", target, weight_col="n_chars")
    tok = {
        r["lang"]: r["t"]
        for r in got.groupBy("lang").agg(F.sum("n_chars").alias("t")).collect()
    }
    share_en = tok["en"] / (tok["en"] + tok["de"])
    assert abs(share_en - 0.5) < 0.05, share_en  # token share ~ target
    # de is the binding stratum: kept (almost) whole
    assert tok["de"] == 500 * 100
    # determinism under repartitioning
    a = sorted(r["doc_id"] for r in got.collect())
    b = sorted(
        r["doc_id"]
        for r in mixture_resample(
            docs.repartition(13), "doc_id", "lang", target, weight_col="n_chars"
        ).collect()
    )
    assert a == b


def test_assign_shards_balance_and_determinism(spark):
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.corpus import assign_shards

    docs = spark.range(10_000).select(F.col("id").alias("doc_id"))
    n_shards = 16
    got = assign_shards(docs, n_shards)
    sizes = {
        r["shard_id"]: r["n"]
        for r in got.groupBy("shard_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(sizes) == set(range(n_shards))  # every shard populated
    # multiplicative hash spreads sequential ids tightly
    assert max(sizes.values()) / min(sizes.values()) < 1.3, sizes
    # pure function of the key: repartitioning changes nothing
    a = sorted((r["doc_id"], r["shard_id"]) for r in got.collect())
    b = sorted(
        (r["doc_id"], r["shard_id"])
        for r in assign_shards(docs.repartition(7), n_shards).collect()
    )
    assert a == b

    import pytest

    with pytest.raises(ValueError, match="positive"):
        assign_shards(docs, 0)


def test_mixture_resample_weight_guard(spark):
    """Second-review fix (r8): an all-NULL or non-positive weight sum
    must raise loudly (NULL would silently keep the stratum whole,
    zero would silently empty the corpus)."""
    import pytest

    from datawarehouse_code_spark.operators.corpus import mixture_resample

    docs = spark.createDataFrame(
        [(1, "en", None), (2, "en", None), (3, "de", 100)],
        "doc_id BIGINT, lang STRING, n_chars BIGINT",
    )
    with pytest.raises(ValueError, match="non-positive/NULL n_chars"):
        mixture_resample(
            docs, "doc_id", "lang", {"en": 0.5, "de": 0.5}, weight_col="n_chars"
        )
    zero = spark.createDataFrame(
        [(1, "en", 0), (2, "de", 50)], "doc_id BIGINT, lang STRING, n_chars BIGINT"
    )
    with pytest.raises(ValueError, match="non-positive/NULL n_chars"):
        mixture_resample(
            zero, "doc_id", "lang", {"en": 0.5, "de": 0.5}, weight_col="n_chars"
        )


def test_export_shards_jsonl_one_file_per_shard_roundtrip(spark, tmp_path):
    """export_shards: one data file per shard dir (the repartition-on-
    shard guarantee), JSONL round-trips losslessly, the manifest
    matches per-shard counts, shard membership is assign_shards'
    deterministic mapping, and a used path is refused."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.corpus import (
        assign_shards,
        export_shards,
        read_shard,
        shard_manifest,
    )
    from datawarehouse_code_spark.sources.catalog import read_table
    from tests.conftest import SF_DIR

    docs = read_table(spark, "documents", SF_DIR).select("doc_id", "text", "lang")
    path = str(tmp_path / "shards")
    export_shards(docs, path, n_shards=4, fmt="json", compression="gzip")

    for s in range(4):
        d = os.path.join(path, f"shard_id={s}")
        data_files = [f for f in os.listdir(d) if not f.startswith((".", "_"))]
        assert len(data_files) == 1, (s, data_files)
        assert data_files[0].endswith(".json.gz")

    want = sorted(map(tuple, docs.collect()))
    got = sorted(
        map(tuple, spark.read.format("json").load(path)
            .select("doc_id", "text", "lang").collect())
    )
    assert got == want

    # per-shard reads see exactly the deterministic assignment
    expected = {
        s: {r["doc_id"] for r in assign_shards(docs, 4)
            .filter(F.col("shard_id") == s).collect()}
        for s in range(4)
    }
    n_total = 0
    for s in range(4):
        ids = {r["doc_id"] for r in read_shard(spark, path, s).collect()}
        assert ids == expected[s]
        n_total += len(ids)
    assert n_total == docs.count()

    mani = {r["shard_id"]: r["n_rows"] for r in shard_manifest(spark, path).collect()}
    assert mani == {s: len(expected[s]) for s in range(4)}

    with pytest.raises(Exception, match="already exists|ERROR"):
        export_shards(docs, path, n_shards=4, fmt="json")


def test_pack_documents_whole_bfd_invariants(spark):
    """Whole-doc best-fit-decreasing packing: every doc lands in
    exactly one bin, no bin exceeds the budget, the bin count stays
    near the ceil(total/budget) lower bound (BFD guarantee), slots
    are dense per bin, results are partitioning-independent, and
    NULL/oversized docs are refused loudly."""
    import pytest
    from pyspark.sql import functions as F

    from datawarehouse_code_spark.operators.corpus import pack_documents_whole

    rows = [
        ("s0", i, t)
        for i, t in enumerate([900, 800, 700, 600, 500, 400, 300, 200,
                               150, 100, 90, 60, 30, 10, 5])
    ] + [("s1", 100 + i, 512) for i in range(7)]
    docs = spark.createDataFrame(rows, ["shard", "doc_id", "n_tok"])
    got = pack_documents_whole(docs, 1024, "shard", "n_tok", "doc_id")
    out = got.collect()
    assert len(out) == len(rows)  # every doc exactly once
    by_bin: dict = {}
    for r in out:
        by_bin.setdefault((r["shard"], r["bin_id"]), []).append(r)
    for (shard, _b), members in by_bin.items():
        assert sum(m["n_tokens"] for m in members) <= 1024, (shard, members)
        assert sorted(m["bin_slot"] for m in members) == list(
            range(len(members))
        )
    for shard, total in (("s0", sum(t for s, _, t in rows if s == "s0")),
                         ("s1", 7 * 512)):
        n_bins = len({b for (s, b) in by_bin if s == shard})
        lower = -(-total // 1024)
        assert lower <= n_bins <= 2 * lower + 1, (shard, n_bins, lower)
    # s1: seven 512s into 1024-bins → exactly 4 bins (pairs + one odd)
    assert len({b for (s, b) in by_bin if s == "s1"}) == 4

    # deterministic under repartitioning
    a = sorted(map(tuple, out))
    b = sorted(map(tuple,
                   pack_documents_whole(docs.repartition(7), 1024,
                                        "shard", "n_tok", "doc_id").collect()))
    assert a == b

    with pytest.raises(Exception, match="fits no bin"):
        pack_documents_whole(
            spark.createDataFrame([("s", 1, 2000)], ["shard", "doc_id", "n_tok"]),
            1024, "shard", "n_tok", "doc_id",
        ).collect()
    with pytest.raises(Exception, match="non-positive or NULL"):
        pack_documents_whole(
            spark.createDataFrame([("s", 1, 0)], ["shard", "doc_id", "n_tok"]),
            1024, "shard", "n_tok", "doc_id",
        ).collect()


def test_curriculum_boundary_equals_ntile(spark):
    """The corpus-scale boundary strategy must reproduce the ntile
    assignment EXACTLY — ties included, because both follow the
    (score, id) composite total order — across phase counts that
    exercise every allocation shape: n divisible by k, n mod k != 0,
    k > n (each row its own phase), and k = 1."""
    from datawarehouse_code_spark.operators.corpus import curriculum_phases

    rows = [(i, [5, 2, 2, 9, 2, 7, 1, 9, 4, 3, 2, 8, 6][i % 13] + (i // 13))
            for i in range(137)]
    docs = spark.createDataFrame(rows, ["doc_id", "score"])
    for k in (1, 4, 5, 137, 200):
        ntile = {
            r["doc_id"]: r["phase"]
            for r in curriculum_phases(
                docs, k, "score", strategy="ntile"
            ).collect()
        }
        boundary = {
            r["doc_id"]: r["phase"]
            for r in curriculum_phases(
                docs, k, "score", strategy="boundary"
            ).collect()
        }
        assert boundary == ntile, f"divergence at n_phases={k}"


def test_curriculum_boundary_plan_has_no_global_sort(spark):
    """The boundary strategy's returned plan must contain no
    single-partition exchange and no unpartitioned window — the two
    shapes that serialize the corpus through one task (the ntile
    path's documented limitation this strategy exists to remove)."""
    from datawarehouse_code_spark.operators.corpus import curriculum_phases
    from datawarehouse_code_spark.sources.catalog import read_table
    from tests.conftest import SF_DIR

    from pyspark.sql import functions as F

    docs = read_table(spark, "documents", SF_DIR).select(
        "doc_id", F.length("text").alias("score")
    )
    plan = formatted_plan(
        curriculum_phases(docs, 4, "score", strategy="boundary")
    )
    assert "SinglePartition" not in plan, plan[:3000]
    # every Window node must carry a partition spec (pinned by the
    # local-rank window being PARTITIONED BY the range id)
    assert "Window" in plan  # the local-rank window is there...
    import re

    for m in re.finditer(r"Arguments: .*windowspecdefinition\(([^)]*)\)", plan):
        assert m.group(1).strip().startswith("_pid"), m.group(0)


def test_curriculum_auto_strategy_selection(spark):
    """The DEFAULT strategy is 'auto': corpus-sized inputs (Catalyst
    size estimate above the cutover) must get the boundary plan — no
    SinglePartition exchange, no unpartitioned window — without the
    caller naming a strategy, while manifest-sized inputs keep the
    cheap global-ntile fast path.  The cutover reads a plan STATISTIC
    (no job), and unknown statistics default to Long.Max, i.e. the
    scale-safe branch."""
    from datawarehouse_code_spark.operators.corpus import curriculum_phases
    from datawarehouse_code_spark.sources.catalog import read_table
    from tests.conftest import SF_DIR

    from pyspark.sql import functions as F

    docs = read_table(spark, "documents", SF_DIR).select(
        "doc_id", F.length("text").alias("score")
    )

    # default call, input "large" relative to a forced 0-byte cutover:
    # the scale-safe boundary plan (this is the default-call pin — at
    # real corpus scale the 64 MB production cutover trips the same way)
    big = formatted_plan(
        curriculum_phases(docs, 4, "score", auto_ntile_max_bytes=0)
    )
    assert "SinglePartition" not in big, big[:3000]

    # default call, fixture-sized input under the production cutover:
    # the ntile fast path (its global window IS the single partition)
    small = formatted_plan(curriculum_phases(docs, 4, "score"))
    assert "SinglePartition" in small, small[:3000]

    # and the two default-call branches agree on values (the broader
    # tie-inclusive equivalence is pinned above)
    a = {r["doc_id"]: r["phase"]
         for r in curriculum_phases(docs, 4, "score").collect()}
    b = {r["doc_id"]: r["phase"]
         for r in curriculum_phases(
             docs, 4, "score", auto_ntile_max_bytes=0
         ).collect()}
    assert a == b
