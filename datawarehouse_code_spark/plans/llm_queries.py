"""LLM-data-pipeline queries (BASELINE.json north star, Phase 3).

Deduplication (exact, n-gram Jaccard, MinHash-LSH, SimHash, and
connected-component corpus cleaning), similarity search over
embeddings (brute-force cosine top-k, LSH-bucketed and IVF/k-means
variants, embedding near-dup), text analysis (token stats, language
rollup, marker-based language ID, tf-idf top terms, Gopher-style
quality filtering, vocabulary induction), corpus operations
(deterministic stratified hash-sampling, benchmark decontamination),
and multimodal plumbing (byte-feature extraction, 1→N frame
sampling) — all over the `documents` / `embeddings` fixtures.

Oracle policy: everything except the two LSH variants and SimHash is
SQL-expressible and hash-checked against DuckDB.  LSH output depends
on xxhash64 (Spark-only) and has recall < 1 by design, so those get
the driver's rows-only check — the exact-Jaccard and brute-force
queries serve as their ground truth.

Cross-engine determinism doctrine (see plans/base.py): ratios are
floor-scaled (floor has no .5 boundary, unlike round, where Spark
HALF-UPs the exact binary value and DuckDB multiplies-then-rounds);
tf-idf uses a rational idf (N+1)/(df+1) instead of ln() because libm
log is not guaranteed bit-identical across engines; embeddings are
cast float→double before any arithmetic.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datawarehouse_code_spark.operators.corpus import knuth_hash_sql, knuth_int
from datawarehouse_code_spark.operators.iterative import cut_lineage
from datawarehouse_code_spark.operators.multimodal import (
    decoded_audio_stats,
    decoded_image_stats,
    dhash_raster,
    encode_const_bmp,
    encode_const_png,
    encode_const_ppm,
    encode_gray_jpeg,
    encode_gray_pgm,
    encode_pcm_wav,
)
from datawarehouse_code_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_lsh,
    ivf_topk,
    lsh_topk,
    quantized_rerank_topk,
    semantic_dedup_exact,
)
from datawarehouse_code_spark.operators.text import (
    content_fingerprint_udf,
    exact_dedup,
    near_dup_pairs_exact,
    near_dup_pairs_lsh,
    simhash_near_dup_pairs,
    words,
)
from datawarehouse_code_spark.operators.video_dedup import encode_video
from datawarehouse_code_spark.plans.base import Query
from datawarehouse_code_spark.sources.catalog import read_table

_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_WORDS_SQL = f"string_split({_NORM_SQL}, ' ')"
# distinct 3-word shingles of the normalized text (DuckDB list comprehension)
_SHINGLES_SQL = (
    "list_distinct([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] "
    "for i in range(1, len(ws) - 1)])"
)

# ------------------------------------------------------------- deduplication


def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(read_table(spark, "documents", sf_dir))


_DEDUP_EXACT_SQL = f"""
SELECT md5({_NORM_SQL}) AS content_hash,
       min(doc_id) AS canonical_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
"""


def _dedup_near_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return near_dup_pairs_exact(read_table(spark, "documents", sf_dir))


_DEDUP_JACCARD_SQL = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
), sh_arr AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM w WHERE len(ws) >= 3
), sh AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh_arr WHERE len(sh) > 0
), pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, a.n_sh AS n1, b.n_sh AS n2,
         count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT d1, d2, shared, n1, n2,
       floor(shared * 1.0 / (n1 + n2 - shared) * 10000) / 10000 AS jaccard_f4
FROM pairs
WHERE shared * 1.0 / (n1 + n2 - shared) >= 0.5
"""


def _incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup (operators/text.py
    near_dup_pairs_incremental): an increment of planted exact copies
    (doc_id % 25 == 0 → +2e6) detected against the corpus through the
    PERSISTED LSH bucket index (build_lsh_index) — cost scales with
    the increment, never the corpus.  Output restricted to the
    planted identity pairs (the planted_recall_suite doctrine):
    identical docs agree on every band, so recall on them is
    deterministic 1.0 and the row is hash-checkable — a dropped
    planted pair (broken index join, band mismatch between build and
    increment, verify bug) fails the oracle."""
    from datawarehouse_code_spark.operators.text import (
        build_lsh_index,
        near_dup_pairs_incremental,
    )

    docs = read_table(spark, "documents", sf_dir)
    new = docs.filter(F.col("doc_id") % 25 == 0).withColumn(
        "doc_id", F.col("doc_id") + 2_000_000
    )
    index = build_lsh_index(docs)
    pairs = near_dup_pairs_incremental(new, docs, index)
    return pairs.filter(F.col("d_corpus") == F.col("d_new") - 2_000_000)


_INCREMENTAL_NEAR_DUP_SQL = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents WHERE doc_id % 25 = 0
), sh_arr AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM w WHERE len(ws) >= 3
)
SELECT doc_id + 2000000 AS d_new, doc_id AS d_corpus,
       CAST(1.0 AS DOUBLE) AS jaccard_f4
FROM sh_arr WHERE len(sh) > 0
"""


def _dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only check: bucket keys are xxhash64 (Spark-only) and LSH
    # recall < 1 by design; dedup_near_jaccard is the exact twin.
    return near_dup_pairs_lsh(read_table(spark, "documents", sf_dir))


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only: hash-based fingerprint (no DuckDB twin).  Arrow-UDF
    # hot path; the expression simhash64 is the zero-Python reference
    # (exercised in tests/test_llm_operators.py).
    from datawarehouse_code_spark.operators.text import simhash_udf

    sh_fn = simhash_udf()
    docs = read_table(spark, "documents", sf_dir).repartition("doc_id")
    return docs.select("doc_id", sh_fn(F.col("text")).alias("simhash"))


def _corpus_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-cleaning selection, oracle-checked: keep the canonical
    doc per exact-content group, then cluster exact-Jaccard near-dup
    pairs into connected components and keep only each component's
    minimum doc_id.  Delegates to clean_corpus with the exact pair
    source (the LSH source is the scale path used by
    write_clean_corpus — same policy, one implementation).  The oracle
    mirrors the component rule with a recursive CTE (min over the
    transitive closure of the symmetric pair graph)."""
    from datawarehouse_code_spark.operators.corpus import clean_corpus

    docs = read_table(spark, "documents", sf_dir)
    survivors = clean_corpus(
        docs, pair_source=lambda d, t: near_dup_pairs_exact(d, threshold=t)
    )
    return survivors.select("doc_id", "lang", "source", "n_chars")


_CORPUS_SQL = f"""
WITH RECURSIVE canon AS (
  SELECT min(doc_id) AS doc_id
  FROM documents
  GROUP BY md5({_NORM_SQL})
), w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
), sh_arr AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM w WHERE len(ws) >= 3
), sh AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh_arr WHERE len(sh) > 0
), pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, a.n_sh AS n1, b.n_sh AS n2,
         count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), edges AS (
  SELECT d1, d2 FROM pairs
  WHERE shared * 1.0 / (n1 + n2 - shared) >= 0.5
), sym AS (
  SELECT d1, d2 FROM edges UNION ALL SELECT d2 AS d1, d1 AS d2 FROM edges
), reach(doc_id, r) AS (
  SELECT d1, d1 FROM sym
  UNION
  SELECT s.d1, reach.r FROM sym s JOIN reach ON reach.doc_id = s.d2
), dropped AS (
  SELECT doc_id FROM reach GROUP BY doc_id HAVING min(r) <> doc_id
)
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE doc_id IN (SELECT doc_id FROM canon)
  AND doc_id NOT IN (SELECT doc_id FROM dropped)
"""


def _corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split
    (operators/corpus.py assign_splits_leakage_safe): exact-Jaccard
    near-dup pairs → connected components → whole component assigned
    to one split by the deterministic Knuth coin on the component
    representative.  The oracle replays the transitive closure
    (recursive CTE, as in corpus_survivors) and the identical integer
    hash arithmetic — a component split across splits, a wrong rep,
    or a drifting coin all hash-fail."""
    from datawarehouse_code_spark.operators.corpus import (
        assign_splits_leakage_safe,
    )

    docs = read_table(spark, "documents", sf_dir)
    pairs = near_dup_pairs_exact(docs, threshold=0.5)
    out = assign_splits_leakage_safe(docs, pairs)
    return out.select("doc_id", "group_id", "split")


_SPLIT_LEAKAGE_SQL = f"""
WITH RECURSIVE w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
), sh_arr AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM w WHERE len(ws) >= 3
), sh AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh_arr WHERE len(sh) > 0
), pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, a.n_sh AS n1, b.n_sh AS n2,
         count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
), edges AS (
  SELECT d1, d2 FROM pairs
  WHERE shared * 1.0 / (n1 + n2 - shared) >= 0.5
), sym AS (
  SELECT d1, d2 FROM edges UNION ALL SELECT d2 AS d1, d1 AS d2 FROM edges
), reach(doc_id, r) AS (
  SELECT d1, d1 FROM sym
  UNION
  SELECT s.d1, reach.r FROM sym s JOIN reach ON reach.doc_id = s.d2
), rep AS (
  SELECT doc_id, min(r) AS rep FROM reach GROUP BY doc_id
), g AS (
  SELECT d.doc_id, COALESCE(rep.rep, d.doc_id) AS group_id
  FROM documents d LEFT JOIN rep ON rep.doc_id = d.doc_id
), coin AS (
  SELECT doc_id, group_id,
         {knuth_hash_sql('group_id')} AS khash
  FROM g
)
SELECT doc_id, group_id, {{split_case}} AS split
FROM coin
"""


def _split_case_sql() -> str:
    """CASE expression over the integer Knuth hash, generated from the
    SAME split_hash_bounds integers the Spark operator compares
    against — both engines branch on identical integer bounds."""
    from datawarehouse_code_spark.operators.corpus import split_hash_bounds

    bounds = split_hash_bounds((("train", 0.9), ("val", 0.05), ("test", 0.05)))
    whens = " ".join(
        f"WHEN khash < {b} THEN '{name}'" for name, b in bounds[:-1]
    )
    return f"CASE {whens} ELSE '{bounds[-1][0]}' END"


_SPLIT_LEAKAGE_SQL = _SPLIT_LEAKAGE_SQL.replace(
    "{split_case}", _split_case_sql()
)


def _vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction: the top-500 corpus terms by document
    frequency (ties broken lexicographically), with df and total
    term frequency — the vocab-building step ahead of tokenizer
    training.  Scale shape: explode(distinct words) → two-phase
    count agg → TakeOrderedAndProject (per-partition top-k, k-row
    driver merge; no global sort of the full vocabulary)."""
    docs = read_table(spark, "documents", sf_dir)
    per_doc = docs.select(
        "doc_id", F.explode(words(F.col("text"))).alias("term")
    )
    stats = per_doc.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count(F.lit(1)).alias("tf"),
    )
    return stats.orderBy(F.col("df").desc(), F.col("term").asc()).limit(500)


_VOCAB_SQL = f"""
WITH per_doc AS (
  SELECT doc_id, unnest({_WORDS_SQL}) AS term FROM documents
)
SELECT term,
       count(DISTINCT doc_id) AS df,
       count(*) AS tf
FROM per_doc
GROUP BY term
ORDER BY df DESC, term ASC
LIMIT 500
"""


def _contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination sweep: treat source 'src0' as the held-out
    benchmark and every other source as training data; report each
    train doc's shingle overlap with the holdout (see
    operators.text.contamination_check)."""
    from datawarehouse_code_spark.operators.text import contamination_check

    docs = read_table(spark, "documents", sf_dir)
    return contamination_check(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
    )


_CONTAMINATION_SQL = f"""
WITH w AS (
  SELECT doc_id, source, {_WORDS_SQL} AS ws FROM documents
), sh_arr AS (
  SELECT doc_id, source, {_SHINGLES_SQL} AS sh FROM w WHERE len(ws) >= 3
), sh AS (
  SELECT doc_id, source, len(sh) AS n_sh, unnest(sh) AS s
  FROM sh_arr WHERE len(sh) > 0
), hold AS (
  SELECT DISTINCT s FROM sh WHERE source = 'src0'
), per_doc AS (
  SELECT t.doc_id, t.n_sh, count(h.s) AS shared
  FROM (SELECT * FROM sh WHERE source <> 'src0') t
  LEFT JOIN hold h ON t.s = h.s
  GROUP BY 1, 2
)
SELECT doc_id, n_sh, CAST(shared AS BIGINT) AS shared,
       floor(shared * 1.0 / n_sh * 10000) / 10000 AS contaminated_f4,
       floor(shared * 1.0 / n_sh * 10000) / 10000 >= 0.2 AS flagged
FROM per_doc
"""


def _docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing: keep half the English documents (the
    over-represented stratum on this fixture) and all others, decided
    by the deterministic per-key hash rule in stratified_hash_sample —
    reproducible across runs, partitionings, and engines."""
    from datawarehouse_code_spark.operators.corpus import stratified_hash_sample

    docs = read_table(spark, "documents", sf_dir)
    sampled = stratified_hash_sample(
        docs, key_col="doc_id", strata_col="lang", rates={"en": 0.5}
    )
    return sampled.select("doc_id", "lang", "source", "n_chars")


def _docs_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling (operators/corpus.py
    mixture_resample): rebalance the corpus to a 50/25/25 en/de/fr
    training mixture by downsampling only — fr is the bottleneck
    stratum (kept whole), en/de downsample to match, zh/es drop out.
    The keep decision replays the deterministic per-key hash, so the
    oracle reproduces the exact row set."""
    from datawarehouse_code_spark.operators.corpus import mixture_resample

    docs = read_table(spark, "documents", sf_dir)
    sampled = mixture_resample(
        docs, key_col="doc_id", strata_col="lang",
        target={"en": 0.5, "de": 0.25, "fr": 0.25},
    )
    return sampled.select("doc_id", "lang", "source", "n_chars")


_MIXTURE_SQL = f"""
WITH tgt AS (
  SELECT * FROM (VALUES
    ('en', CAST(0.5 AS DOUBLE)),
    ('de', CAST(0.25 AS DOUBLE)),
    ('fr', CAST(0.25 AS DOUBLE))) AS t(lang, p)
), counts AS (
  SELECT lang, count(*) AS n FROM documents GROUP BY 1
), obs AS (
  SELECT c.lang, c.n, t.p FROM counts c JOIN tgt t USING (lang)
), bt AS (
  SELECT min(n / p) AS t FROM obs
), rates AS (
  SELECT lang, LEAST(bt.t * p / n, 1.0) AS rate FROM obs, bt
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN rates r USING (lang)
WHERE ({knuth_hash_sql('doc_id')}) / 4294967296.0 < r.rate
"""


def _docs_mixture_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-BUDGET mixture resampling (r8): the same 50/25/25
    en/de/fr rebalance, but the per-stratum budget is the SUM of
    n_chars instead of the doc count — what a training mixture
    actually targets (long-doc domains are otherwise over-represented
    token-wise).  Per-doc keep decisions on the shared deterministic
    coin; the oracle replays the weighted rates exactly."""
    from datawarehouse_code_spark.operators.corpus import mixture_resample

    docs = read_table(spark, "documents", sf_dir)
    sampled = mixture_resample(
        docs, key_col="doc_id", strata_col="lang",
        target={"en": 0.5, "de": 0.25, "fr": 0.25},
        weight_col="n_chars",
    )
    return sampled.select("doc_id", "lang", "source", "n_chars")


_MIXTURE_TOKENS_SQL = f"""
WITH tgt AS (
  SELECT * FROM (VALUES
    ('en', CAST(0.5 AS DOUBLE)),
    ('de', CAST(0.25 AS DOUBLE)),
    ('fr', CAST(0.25 AS DOUBLE))) AS t(lang, p)
), counts AS (
  SELECT lang, CAST(sum(n_chars) AS DOUBLE) AS n FROM documents GROUP BY 1
), obs AS (
  SELECT c.lang, c.n, t.p FROM counts c JOIN tgt t USING (lang)
), bt AS (
  SELECT min(n / p) AS t FROM obs
), rates AS (
  SELECT lang, LEAST(bt.t * p / n, 1.0) AS rate FROM obs, bt
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN rates r USING (lang)
WHERE ({knuth_hash_sql('doc_id')}) / 4294967296.0 < r.rate
"""


# The double-mod makes the key term non-negative for negative ids too
# (DuckDB's % is sign-preserving; Spark-side pmod is non-negative).
_STRATIFIED_SQL = f"""
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE {knuth_hash_sql('doc_id')}
      < (CASE WHEN lang = 'en' THEN 0.5 ELSE 1.0 END) * 4294967296
"""


def _dedup_minhash_mllib(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only: MLlib MinHashLSH (stock-library twin of
    # dedup_minhash_lsh; approx join + hashed features).
    from datawarehouse_code_spark.operators.text_ml import near_dup_pairs_mllib

    return near_dup_pairs_mllib(read_table(spark, "documents", sf_dir))


def _dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only: xxhash64-based; pigeonhole banding guarantees recall
    # 1.0 within hamming <= 3 (see operators/text.py), tested directly.
    return simhash_near_dup_pairs(read_table(spark, "documents", sf_dir))


def _doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min-md5-shingle fingerprint — md5 is cross-engine, so unlike
    the xxhash64 operators this one IS hash-checked."""
    fp = content_fingerprint_udf()
    docs = read_table(spark, "documents", sf_dir).repartition("doc_id")
    return docs.select("doc_id", fp(F.col("text")).alias("fingerprint")).filter(
        F.col("fingerprint").isNotNull()
    )


_FINGERPRINT_SQL = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
), sh_arr AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM w WHERE len(ws) >= 3
)
SELECT doc_id,
       list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS fingerprint
FROM sh_arr
WHERE len(sh) > 0
"""

# ------------------------------------------------------------- text analysis

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")
_ES_MARKERS = ("el", "la", "de", "y", "que", "los")


def _text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality features per document: whitespace
    words, BPE-ish regex tokens, stopword hits, average word length."""
    docs = read_table(spark, "documents", sf_dir)
    ws = words(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    len_sum = F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w))
    n_words = F.size(ws)
    return docs.select(
        "doc_id",
        "n_chars",
        n_words.alias("n_words"),
        F.regexp_count(F.lower(F.col("text")), F.lit("[a-z0-9]+")).cast("int").alias(
            "n_tokens"
        ),
        F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w))).alias("stop_hits"),
        (F.floor(len_sum / n_words * 10000) / 10000).alias("avg_word_len_f4"),
    )


_TOKEN_STATS_SQL = f"""
WITH w AS (
  SELECT doc_id, n_chars, text, {_WORDS_SQL} AS ws FROM documents
)
SELECT doc_id, n_chars,
       len(ws) AS n_words,
       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INTEGER) AS n_tokens,
       len(list_filter(ws, x -> x IN {_STOPWORDS})) AS stop_hits,
       floor(list_sum(list_transform(ws, x -> len(x))) * 1.0 / len(ws) * 10000) / 10000
           AS avg_word_len_f4
FROM w
"""


def _lang_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, "documents", sf_dir)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("sum_chars"),
        (F.floor(F.sum("n_chars") / F.count(F.lit(1)) * 100) / 100).alias("avg_chars_f2"),
    )


_LANG_ROLLUP_SQL = """
SELECT lang,
       count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       floor(sum(n_chars) * 1.0 / count(*) * 100) / 100 AS avg_chars_f2
FROM documents
GROUP BY lang
"""


def _langid_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID heuristic (n-gram-profile stand-in):
    vote counts per language marker set, argmax with 'und' fallback."""
    docs = read_table(spark, "documents", sf_dir)
    ws = words(F.col("text"))
    en_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    es_arr = F.array(*[F.lit(s) for s in _ES_MARKERS])
    hits_en = F.size(F.filter(ws, lambda w: F.array_contains(en_arr, w)))
    hits_es = F.size(F.filter(ws, lambda w: F.array_contains(es_arr, w)))
    predicted = (
        F.when(hits_es > hits_en, F.lit("es"))
        .when(hits_en > 0, F.lit("en"))
        .otherwise(F.lit("und"))
    )
    return docs.select(
        "doc_id",
        "lang",
        hits_en.alias("hits_en"),
        hits_es.alias("hits_es"),
        predicted.alias("predicted"),
        (predicted == F.col("lang")).alias("agree"),
    )


_LANGID_SQL = f"""
WITH w AS (
  SELECT doc_id, lang, {_WORDS_SQL} AS ws FROM documents
), scored AS (
  SELECT doc_id, lang,
         len(list_filter(ws, x -> x IN {_STOPWORDS})) AS hits_en,
         len(list_filter(ws, x -> x IN {_ES_MARKERS})) AS hits_es
  FROM w
)
SELECT doc_id, lang, hits_en, hits_es,
       CASE WHEN hits_es > hits_en THEN 'es'
            WHEN hits_en > 0 THEN 'en'
            ELSE 'und' END AS predicted,
       (CASE WHEN hits_es > hits_en THEN 'es'
             WHEN hits_en > 0 THEN 'en'
             ELSE 'und' END) = lang AS agree
FROM scored
"""


def _docs_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style heuristic quality scoring (see
    operators.text.quality_scores) over the documents fixture."""
    from datawarehouse_code_spark.operators.text import quality_scores

    return quality_scores(read_table(spark, "documents", sf_dir))


_QUALITY_SQL = f"""
WITH w AS (
  SELECT doc_id, text, {_WORDS_SQL} AS ws FROM documents
), m AS (
  SELECT doc_id,
         len(ws) AS n_words,
         floor(len(list_filter(ws, x -> x IN {_STOPWORDS})) * 1.0
               / len(ws) * 10000) / 10000 AS stop_ratio_f4,
         floor(list_sum(list_transform(ws, x -> len(x))) * 1.0
               / len(ws) * 10000) / 10000 AS avg_word_len_f4,
         CASE WHEN length(lower(text)) > 0 THEN
           floor(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) * 1.0
                 / length(lower(text)) * 10000) / 10000
         END AS symbol_ratio_f4
  FROM w
)
SELECT doc_id, n_words, stop_ratio_f4, avg_word_len_f4, symbol_ratio_f4,
       (n_words >= 20 AND stop_ratio_f4 >= 0.04
        AND avg_word_len_f4 <= 4.8 AND symbol_ratio_f4 <= 0.1) AS passes
FROM m
"""


def _tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by tf-idf with a rational idf
    (N+1)/(df+1) — ln-free so both engines produce identical doubles.

    (Measured non-improvement: pre-repartitioning whole docs by doc_id
    — the repetition_stats shuffle shape — removes one exchange here
    but is SLOWER (0.98 → 1.27 s at sf0.1): tf-idf re-keys by term and
    then by doc_id regardless, so the trick only trades the first
    exploded-term shuffle for a doc shuffle plus an extra stage
    barrier.  It pays off only when the whole downstream stays keyed
    by doc_id.)"""
    docs = read_table(spark, "documents", sf_dir)
    terms = docs.select(
        "doc_id", F.explode(words(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = terms.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_total"))
    # no broadcast hint on df_: the document-frequency table scales
    # with the corpus vocabulary (10⁹ docs → 10⁸+ terms), so a forced
    # broadcast OOMs at scale — AQE picks broadcast when it actually
    # fits (the cube-hint rule: hint only domain-bounded sides)
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score_f4",
            F.floor(
                F.col("tf") * (F.col("n_total") + 1.0) / (F.col("df") + 1.0) * 10000
            )
            / 10000,
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score_f4").desc(), F.col("term").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", "score_f4", "rk")
    )


def _docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval as a hash-checked row (operators/text.py
    bm25_scores/bm25_topk): the query set is the corpus's own top-3
    document-frequency terms (deterministic, fixture-independent —
    top_df_terms), and DuckDB replays the WHOLE pipeline:
    tokenization, tf/df/dl/avgdl, the identical BM25 expression text
    (same literals, same association order — ln() is safe under the
    floor-6 grain), and the per-term top-5 ranking.  The int query
    arg derives the query set from bm25's OWN df table — one
    tokenization pass, not the two that composing with top_df_terms
    would cost."""
    from datawarehouse_code_spark.operators.text import bm25_topk

    docs = read_table(spark, "documents", sf_dir)
    return bm25_topk(docs, 3, k=5)


_BM25_SQL = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
), terms AS (
  SELECT doc_id, unnest(ws) AS term FROM w
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms WHERE term <> '' GROUP BY 1, 2
), dl AS (
  SELECT doc_id, count(*) AS dl FROM terms WHERE term <> '' GROUP BY 1
), stats AS (
  SELECT count(*) AS n_total, avg(dl) AS avgdl FROM dl
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM terms WHERE term <> '' GROUP BY 1
), q AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY df DESC, term ASC) AS qrk FROM df
  ) WHERE qrk <= 3
), scored AS (
  SELECT tf.term, tf.doc_id, tf.tf,
         floor(ln(1.0 + (n_total - df + 0.5) / (df + 0.5)) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6) / 1e6 AS score_f6
  FROM tf JOIN q USING (term) JOIN df USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats
)
SELECT term, doc_id, tf, score_f6, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY term ORDER BY score_f6 DESC, doc_id ASC) AS rk
  FROM scored
)
WHERE rk <= 5
"""


def _docs_bm25_multiterm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-term BM25 (operators/text.py bm25_multiterm_topk): two
    three-term query bags built from the corpus's own top-6
    document-frequency terms (rank 1-3 → query 0, rank 4-6 → query 1
    — deterministic, fixture-independent), scored as the SUM of
    per-term BM25 micros per (query, doc) — exact integer arithmetic,
    so the sum is independent of partial-aggregation order — then
    top-5 docs per query.  DuckDB replays the whole pipeline: the
    query-set derivation, the identical per-term floor-6 expression
    text, the micros conversion, the per-query summation, and the
    (score desc, doc_id asc) tiebreak."""
    from datawarehouse_code_spark.operators.text import (
        bm25_multiterm_topk,
        words,
    )

    docs = read_table(spark, "documents", sf_dir)
    terms = docs.select(
        "doc_id", F.explode(words(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    dft = terms.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # top-6 by (df desc, term asc) via TakeOrderedAndProject; the rank
    # window that assigns bags runs over the six SURVIVING rows — a
    # frame bounded by the limit, not the corpus
    top6 = dft.orderBy(F.col("df").desc(), F.col("term").asc()).limit(6)
    w6 = Window.orderBy(F.col("df").desc(), F.col("term").asc())
    qset = top6.withColumn("qrk", F.row_number().over(w6)).select(
        F.expr("CAST((qrk - 1) div 3 AS INT)").alias("query_id"), "term"
    )
    return bm25_multiterm_topk(docs, qset, k=5)


_BM25_MULTI_SQL = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
), terms AS (
  SELECT doc_id, unnest(ws) AS term FROM w
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms WHERE term <> '' GROUP BY 1, 2
), dl AS (
  SELECT doc_id, count(*) AS dl FROM terms WHERE term <> '' GROUP BY 1
), stats AS (
  SELECT count(*) AS n_total, avg(dl) AS avgdl FROM dl
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM terms WHERE term <> '' GROUP BY 1
), q AS (
  -- qtf mirrors bm25_multiterm_topk's per-(query_id, term) bag count
  -- so the twin stays equivalent even if the bag derivation ever
  -- produces duplicated terms (here the 6 top-df terms are distinct,
  -- so qtf = 1 — but the weighting path is expressed, not elided)
  SELECT CAST((qrk - 1) // 3 AS INTEGER) AS query_id, term,
         count(*) AS qtf FROM (
    SELECT term, row_number() OVER (ORDER BY df DESC, term ASC) AS qrk FROM df
  ) WHERE qrk <= 6 GROUP BY 1, 2
), su AS (
  SELECT tf.term, tf.doc_id,
         CAST(round(floor(ln(1.0 + (n_total - df + 0.5) / (df + 0.5)) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)) * 1e6) / 1e6 * 1e6, 0) AS BIGINT) AS score_u
  FROM tf JOIN (SELECT DISTINCT term FROM q) USING (term)
  JOIN df USING (term) JOIN dl USING (doc_id)
  CROSS JOIN stats
), qd AS (
  SELECT q.query_id, su.doc_id,
         CAST(count(*) AS BIGINT) AS n_terms_matched,
         CAST(sum(su.score_u * q.qtf) AS BIGINT) AS score_micros
  FROM su JOIN q USING (term)
  GROUP BY 1, 2
)
SELECT query_id, doc_id, n_terms_matched, score_micros, CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY score_micros DESC, doc_id ASC) AS rk
  FROM qd
)
WHERE rk <= 5
"""


def _retrieval_bm25_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-term + multi-term-bag BM25 retrieval as ONE labeled
    driver row (consolidated round 11, promoting the multi-term
    pipeline — qtf-weighted integer-micros sums over corpus-derived
    3-term bags — into the sf0.01 driver hash).  Normalized columns:
    key is the retrieval key rendered as a string (the query term for
    part='single', the query_id for part='multi'), n1 the integer
    payload (tf / n_terms_matched), n2 the exact micros score (multi
    only), v the floor-6 double score (single only)."""
    single = _docs_bm25_topk(spark, sf_dir).select(
        F.lit("single").alias("part"),
        F.col("term").alias("key"),
        F.col("doc_id"),
        F.col("tf").cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.col("score_f6").alias("v"),
        F.col("rk").cast("bigint").alias("rk"),
    )
    multi = _docs_bm25_multiterm(spark, sf_dir).select(
        F.lit("multi").alias("part"),
        F.col("query_id").cast("string").alias("key"),
        F.col("doc_id"),
        F.col("n_terms_matched").cast("bigint").alias("n1"),
        F.col("score_micros").cast("bigint").alias("n2"),
        F.lit(None).cast("double").alias("v"),
        F.col("rk").cast("bigint").alias("rk"),
    )
    return single.unionByName(multi)


_RETRIEVAL_BM25_SQL = f"""
SELECT 'single' AS part, term AS key, doc_id,
       CAST(tf AS BIGINT) AS n1, CAST(NULL AS BIGINT) AS n2,
       score_f6 AS v, CAST(rk AS BIGINT) AS rk
FROM ({_BM25_SQL})
UNION ALL
SELECT 'multi', CAST(query_id AS VARCHAR), doc_id,
       CAST(n_terms_matched AS BIGINT), CAST(score_micros AS BIGINT),
       CAST(NULL AS DOUBLE), CAST(rk AS BIGINT)
FROM ({_BM25_MULTI_SQL})
"""


_TFIDF_SQL = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
), terms AS (
  SELECT doc_id, unnest(ws) AS term FROM w
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM terms WHERE term <> '' GROUP BY 1, 2
), df AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM terms WHERE term <> '' GROUP BY 1
), n AS (SELECT count(*) AS n_total FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         floor(tf.tf * (n.n_total + 1.0) / (df.df + 1.0) * 10000) / 10000 AS score_f4
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tf, df, score_f4,
       CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id ORDER BY score_f4 DESC, term ASC) AS rk
  FROM scored
)
WHERE rk <= 3
"""

def _text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for training pipelines: overlapping word
    windows (size 50, stride 40) as one explode over a JVM expression
    — each chunk row carries its ordinal, start offset, and text.
    Scale shape: a narrow generator, output rows ≈ n_words/stride per
    doc, no UDF, no shuffle."""
    chunk_size, stride = 50, 40
    docs = read_table(spark, "documents", sf_dir).repartition("doc_id")
    w = docs.select("doc_id", words(F.col("text")).alias("ws"))
    chunks = w.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws"), F.lit(stride)),
                lambda s: F.struct(
                    s.cast("int").alias("chunk_start"),
                    F.concat_ws(" ", F.slice(F.col("ws"), s, chunk_size)).alias(
                        "chunk_text"
                    ),
                ),
            )
        ).alias("chunk_idx", "c"),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("c.chunk_start").alias("chunk_start"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.size(F.split("c.chunk_text", " ")).alias("n_chunk_words"),
    )


_TEXT_CHUNK_SQL = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
)
SELECT doc_id,
       CAST((s - 1) / 40 AS INTEGER) AS chunk_idx,
       CAST(s AS INTEGER) AS chunk_start,
       array_to_string(ws[s : s + 49], ' ') AS chunk_text,
       CAST(len(ws[s : s + 49]) AS INTEGER) AS n_chunk_words
FROM w, unnest(range(1, len(ws) + 1, 40)) AS t(s)
"""


def _lang_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles per language: the value at sorted index
    floor(q·(n-1)) — integer-exact end-to-end.  (Interpolated
    percentiles land on exact-integer reals where engine ulp
    differences flip floor/round; discrete quantiles have no such
    boundary, and the index definition is written out identically on
    both sides.)"""
    from pyspark.sql import Window

    docs = read_table(spark, "documents", sf_dir)
    w = Window.partitionBy("lang").orderBy("n_chars")
    ranked = docs.select(
        "lang",
        "n_chars",
        (F.row_number().over(w) - 1).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )

    def pick(q: float, name: str):
        idx = F.floor(F.lit(q) * (F.col("n") - 1)).cast("long")
        return F.max(F.when(F.col("rn") == idx, F.col("n_chars"))).alias(name)

    return ranked.groupBy("lang").agg(
        pick(0.25, "p25"), pick(0.5, "p50"), pick(0.9, "p90"),
        F.count(F.lit(1)).alias("n_docs"),
    )


_LANG_PCTL_SQL = """
WITH ranked AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars) - 1 AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang,
       max(CASE WHEN rn = CAST(floor(0.25 * (n - 1)) AS BIGINT) THEN n_chars END) AS p25,
       max(CASE WHEN rn = CAST(floor(0.5  * (n - 1)) AS BIGINT) THEN n_chars END) AS p50,
       max(CASE WHEN rn = CAST(floor(0.9  * (n - 1)) AS BIGINT) THEN n_chars END) AS p90,
       count(*) AS n_docs
FROM ranked
GROUP BY lang
"""


def _lang_stats_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same per-language stats via groupBy().applyInPandas — the
    grouped-map escape hatch for group-level logic Spark expressions
    can't state (here numpy percentiles, interpolation='linear' ==
    quantile_cont, so the DuckDB oracle still verifies it)."""
    import numpy as np
    import pandas as pd

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.sort(pdf["n_chars"].to_numpy(dtype=np.int64))
        n = len(x)
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                # discrete median: value at floor(0.5*(n-1)) — integer-exact
                "p50": [int(x[int(np.floor(0.5 * (n - 1)))])],
                "mean_x100": [int(np.floor(x.sum() / n * 100))],
                "n_docs": [n],
            }
        )

    docs = read_table(spark, "documents", sf_dir)
    return docs.groupBy("lang").applyInPandas(
        stats, "lang STRING, p50 BIGINT, mean_x100 BIGINT, n_docs BIGINT"
    )


_LANG_STATS_PANDAS_SQL = """
WITH ranked AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars) - 1 AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang,
       max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT)
                THEN CAST(n_chars AS BIGINT) END) AS p50,
       CAST(floor(sum(n_chars) * 1.0 / count(*) * 100) AS BIGINT) AS mean_x100,
       count(*) AS n_docs
FROM ranked
GROUP BY lang
"""


# --------------------------------------------------------- similarity search


def _similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return brute_force_topk(read_table(spark, "embeddings", sf_dir))


_SIM_BRUTE_SQL = """
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         1.0 / sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
             AS inv
  FROM embeddings
), pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
         (list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
          * q.inv) * c.inv AS sim
  FROM vecs q JOIN vecs c ON q.vec_id < 100 AND q.vec_id <> c.vec_id
)
SELECT query_id, candidate_id,
       floor(sim * 1e6) / 1e6 AS sim_f6,
       CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id
      ORDER BY floor(sim * 1e6) / 1e6 DESC, candidate_id ASC) AS rk
  FROM pairs
)
WHERE rk <= 5
"""


def _similarity_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered exact top-k: candidates restricted to
    English-language documents (fixture vec_id aligns with doc_id)
    BEFORE ranking — filter-then-rank semantics (the post-filter ANN
    bug returns < k rows under a selective predicate; this always
    ranks k permitted candidates).  Exact brute force so DuckDB
    replays it verbatim; the approximate paths (lsh_topk / ivf_topk /
    query_ivf_index `allowed=`) share the same _restrict_candidates
    semi-join and are pinned against this exact twin in
    tests/test_similarity_compressed.py."""
    emb = read_table(spark, "embeddings", sf_dir)
    docs = read_table(spark, "documents", sf_dir)
    allowed = docs.filter(F.col("lang") == "en").select("doc_id")
    return brute_force_topk(emb, allowed=allowed)


_SIM_FILTERED_SQL = """
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         1.0 / sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
             AS inv
  FROM embeddings
), pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
         (list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
          * q.inv) * c.inv AS sim
  FROM vecs q JOIN vecs c ON q.vec_id < 100 AND q.vec_id <> c.vec_id
  WHERE c.vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en')
)
SELECT query_id, candidate_id,
       floor(sim * 1e6) / 1e6 AS sim_f6,
       CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id
      ORDER BY floor(sim * 1e6) / 1e6 DESC, candidate_id ASC) AS rk
  FROM pairs
)
WHERE rk <= 5
"""


def _similarity_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 quantized-rank + exact-rerank top-k
    (operators/similarity.py quantized_rerank_topk) — the compression
    arithmetic of the persisted int8 IVF index as a HASH-CHECKED row:
    DuckDB replays the symmetric quantization (scale = max|v|/127,
    round(v/scale)), the floor-6 code ranking, the k·2 shortlist cut,
    and the exact full-precision rerank.  rerank_factor=2 keeps the
    quantized ranking decisive (a rounding/scale/tiebreak regression
    changes the shortlist and flips the hash)."""
    return quantized_rerank_topk(read_table(spark, "embeddings", sf_dir))


_SIM_QUANTIZED_SQL = """
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         1.0 / sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
             AS inv
  FROM embeddings
), coded AS (
  SELECT vec_id, v, inv, scale,
         CASE WHEN scale > 0
              THEN list_transform(v, x -> round(x / scale))
              ELSE list_transform(v, x -> 0.0) END AS code
  FROM (SELECT vec_id, v, inv,
               list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
        FROM vecs)
), approx AS (
  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
         q.v AS qv, q.inv AS inv_q, c.v AS cv, c.inv AS inv_c,
         floor(list_sum(list_transform(range(1, len(q.v) + 1),
                                       i -> q.v[i] * c.code[i]))
               * c.scale * q.inv * c.inv * 1e6) / 1e6 AS asim_f6
  FROM vecs q JOIN coded c ON q.vec_id < 100 AND q.vec_id <> c.vec_id
), short AS (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY asim_f6 DESC, candidate_id ASC) AS ark
  FROM approx
), pairs AS (
  SELECT query_id, candidate_id,
         (list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i]))
          * inv_q) * inv_c AS sim
  FROM short WHERE ark <= 10
)
SELECT query_id, candidate_id,
       floor(sim * 1e6) / 1e6 AS sim_f6,
       CAST(rk AS INTEGER) AS rk
FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id
      ORDER BY floor(sim * 1e6) / 1e6 DESC, candidate_id ASC) AS rk
  FROM pairs
)
WHERE rk <= 5
"""


def _docs_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication as a hash-checked row:
    exact all-pairs variant (operators/similarity.py
    semantic_dedup_exact) so DuckDB replays the whole pipeline —
    normalization, the floor-6 grain comparison against the integer
    threshold, the smaller-id drop rule, and the min-neighbor dup_of
    attribution.  The fixture's random embeddings have no natural
    near-duplicates (max pairwise cos ≈ 0.51 at sf0.01), so the query
    PLANTS exact twins — copies of vec_id < 50 re-keyed +100000, a
    union both engines replay — guaranteeing the drop path executes,
    while the 0.42 threshold also admits a band of natural borderline
    pairs that exercise the grain arithmetic (34 pairs at sf0.01).
    The corpus side is BOUNDED at vec_id < 600 — the same convention
    as the brute-force top-k rows' query bound: an O(N²) exact oracle
    row must stay sf-stable (unbounded it measured 13 s at sf0.1,
    all-pairs over 2050 vectors), while the operator itself is
    unbounded and its scale path is the cluster-bucketed variant.
    The cluster-bucketed scale variant (semantic_dedup) is pinned ≡
    this exact one at n_centroids=1 and on planted twins at
    n_centroids>1 in tests/test_llm_operators.py."""
    emb = read_table(spark, "embeddings", sf_dir).filter(
        F.col("vec_id") < 600
    )
    planted = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    base = emb.select("vec_id", "embedding").unionByName(planted)
    return semantic_dedup_exact(base, threshold_f6=420_000)


_SEMANTIC_DEDUP_SQL = """
WITH base AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 600
  UNION ALL
  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
  WHERE vec_id < 50
), vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         1.0 / sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x)))
             AS inv
  FROM base
), dups AS (
  SELECT b.vec_id AS vec_id, min(a.vec_id) AS dup_of
  FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
  WHERE floor(((list_sum(list_transform(range(1, len(a.v) + 1),
                                        i -> a.v[i] * b.v[i]))
                * a.inv) * b.inv) * 1e6) >= 420000
  GROUP BY b.vec_id
)
SELECT v.vec_id,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept,
       coalesce(d.dup_of, CAST(-1 AS BIGINT)) AS dup_of
FROM vecs v LEFT JOIN dups d ON v.vec_id = d.vec_id
"""


def _docs_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum phase assignment as a hash-checked row
    (operators/corpus.py curriculum_phases): documents split into 4
    contiguous near-equal phases by a deterministic difficulty score
    (text length in chars — engine-identical), reported as per-phase
    stats so the hash pins BOTH the balanced sizes and the contiguous
    score ranges (phase k's max_score ≤ phase k+1's min_score shows
    in the values).  Uses the default strategy='auto' — fixture-sized
    input takes the ntile fast path here; corpus-sized input would
    trip the 64 MB cutover into the boundary plan, with values
    identical by the pinned tie-inclusive equivalence."""
    from datawarehouse_code_spark.operators.corpus import curriculum_phases

    docs = read_table(spark, "documents", sf_dir).select(
        "doc_id", F.length("text").alias("score")
    )
    return (
        curriculum_phases(docs, 4, "score")
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("score").cast("bigint").alias("min_score"),
            F.max("score").cast("bigint").alias("max_score"),
            F.sum("score").cast("bigint").alias("sum_score"),
        )
    )


_CURRICULUM_SQL = """
SELECT CAST(phase AS INTEGER) AS phase, count(*) AS n_docs,
       CAST(min(score) AS BIGINT) AS min_score,
       CAST(max(score) AS BIGINT) AS max_score,
       CAST(sum(score) AS BIGINT) AS sum_score
FROM (
  SELECT doc_id, length(text) AS score,
         ntile(4) OVER (ORDER BY length(text) ASC, doc_id ASC) AS phase
  FROM documents
)
GROUP BY phase
"""


def _docs_curriculum_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale curriculum strategy (range-exchange + per-
    partition rank offsets — no single-partition sort; see
    operators/corpus.py curriculum_phases strategy='boundary') against
    the SAME ntile oracle: the two strategies are assignment-identical
    by contract (pinned tie-inclusive by test_corpus.py), so DuckDB's
    ntile replays this plan's values exactly — the hash row proves the
    distributed rank arithmetic, not just the formula."""
    from datawarehouse_code_spark.operators.corpus import curriculum_phases

    docs = read_table(spark, "documents", sf_dir).select(
        "doc_id", F.length("text").alias("score")
    )
    return (
        curriculum_phases(docs, 4, "score", strategy="boundary")
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("score").cast("bigint").alias("min_score"),
            F.max("score").cast("bigint").alias("max_score"),
            F.sum("score").cast("bigint").alias("sum_score"),
        )
    )


def _curriculum_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both curriculum strategies as ONE labeled driver row
    (consolidated round 11): part='default' is the auto-selected
    plan a plain caller gets, part='boundary' forces the corpus-scale
    range-exchange path — so the boundary rank arithmetic gets an
    sf0.01 driver hash beside the fast path it must equal.  Both legs
    replay against the SAME DuckDB ntile oracle (the strategies are
    assignment-identical by the tie-inclusive pinned equivalence)."""
    default = _docs_curriculum_phases(spark, sf_dir).select(
        F.lit("default").alias("part"), "phase", "n_docs",
        "min_score", "max_score", "sum_score",
    )
    boundary = _docs_curriculum_boundary(spark, sf_dir).select(
        F.lit("boundary").alias("part"), "phase", "n_docs",
        "min_score", "max_score", "sum_score",
    )
    return default.unionByName(boundary)


_CURRICULUM_SUITE_SQL = f"""
SELECT 'default' AS part, phase, n_docs, min_score, max_score, sum_score
FROM ({_CURRICULUM_SQL})
UNION ALL
SELECT 'boundary', phase, n_docs, min_score, max_score, sum_score
FROM ({_CURRICULUM_SQL})
"""


def _similarity_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only: bucket membership depends on xxhash64-derived planes.
    return lsh_topk(read_table(spark, "embeddings", sf_dir))


def _similarity_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only: bucket membership is data-dependent (nearest centroid);
    # the unit test checks sims against the brute-force exact twin.
    return ivf_topk(read_table(spark, "embeddings", sf_dir))


def _embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only: LSH recall < 1 by design; the unit test checks the
    # output against exact all-pairs cosine on a bounded sample.
    #
    # The fixture embeddings are near-uniform random (max pairwise
    # cosine ~0.6 even at sf0.1), so the raw corpus contains ZERO
    # near-dups at any sane threshold and the query would pass its
    # rows-only check trivially with 0 rows.  To keep the check
    # meaningful, plant deterministic duplicates: every vec_id
    # divisible by 50 gets an exact copy at id+1_000_000 (cosine 1.0).
    # The LSH detector must find each planted pair (identical vectors
    # share every bucket — recall 1.0 for exact copies), so the row
    # count is a known, stable function of the corpus size.
    emb = read_table(spark, "embeddings", sf_dir)
    copies = emb.filter(F.col("vec_id") % 50 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    return embedding_near_dup_lsh(emb.unionByName(copies))


def _docs_quality_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rows-only: hashed-ngram logistic-regression quality scores (the
    fastText-classifier leg beside the Gopher rules and the bigram
    LM).  Seed labels are PLANTED deterministically — every 5th doc as
    a keep-quality positive, its gibberish twin (words mapped into a
    shared vocabulary-disjoint pseudo-word set, text_ml.gibberish_twin)
    as a reject negative — then the trained model scores the whole
    corpus.  Probabilities
    are float/engine-specific, so this is a rows-only row; the
    planted-seed separation (AUC, margins) is pinned exactly in
    tests/test_quality_classifier.py."""
    from datawarehouse_code_spark.operators.text_ml import (
        gibberish_twin,
        quality_classifier_score,
        train_quality_classifier,
    )

    docs = read_table(spark, "documents", sf_dir)
    seed_docs = docs.filter(F.col("doc_id") % 5 == 0)
    pos = seed_docs.select("text", F.lit(1).alias("label"))
    neg = seed_docs.select(
        gibberish_twin(F.col("text")).alias("text"),
        F.lit(0).alias("label"),
    )
    model = train_quality_classifier(
        pos.unionByName(neg), num_features=1 << 16, max_iter=20
    )
    return quality_classifier_score(docs, model, num_features=1 << 16)


def _approx_distinct_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct (the 100 TB countDistinct): rows-only —
    HLL sketches are engine-specific, so DuckDB can't reproduce the
    estimate; agg_count_distinct is the exact hash-checked twin."""
    events = read_table(spark, "events", sf_dir)
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


def _approx_bounds_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable semantics for the engine's approximate
    aggregates (r7 verdict ask #2: every approximate operator must
    influence a green driver hash row, not sit past the 50-row
    window).  Each estimator emits an integer within-documented-bound
    flag NEXT TO exact cross-engine values, so the oracle replays the
    exact values and pins ok=1 — an estimator regression flips a
    hashed bit even though the estimate itself is engine-specific
    (HLL) or randomized (KLL compaction coin):

    part='hll' (per event_type): exact_n = exact countDistinct(user_id)
      (hash-checked); ok = |approx_count_distinct(rsd 0.01) - exact|
      <= 5% of exact (5x the configured rsd — deterministic estimator,
      wide margin).
    part='kll_oneshot' / 'kll_merged' (per o_orderstatus): exact_n =
      the exact discrete median of floor(o_totalprice*100) (both
      engines replay the (n-1) div 2 ranked pick); ok = the KLL median
      estimate's TRUE normalized rank is within 5% of 0.5 (documented
      ~1.65% bound at k=200; integer comparison 10*|lt+le-n| <= n,
      where lt/le = counts strictly-below / at-or-below the estimate).
      The merged leg merges three disjoint o_orderkey%3 partials —
      the merge ≡ one-shot error-bound law as a driver hash row.
    part='ivf_full_probe' (per query#rank): IVF with n_probes =
      n_centroids degenerates to EXACT search (every bucket probed),
      so the whole pipeline — centroid fit, nearest-centroid assign,
      bucket join, top-k ranking — must reproduce brute-force cosine
      top-5 exactly; exact_n = candidate_id, oracle = the brute-force
      SQL.  (Default-probe recall is pinned by planted_recall_suite.)
    part='theta_union' (per event_type): three day-bucket theta
      sketches merged with theta_union_agg must estimate the exact
      distinct user count within 5% (exact KMV mode below 2^12
      distincts; the set-algebra legs are pinned by pytest) — the
      theta rollup family's driver hash row.
    """
    from datawarehouse_code_spark.operators.rollup import (
        merge_quantile_rollup,
        merge_theta_rollup,
        quantile_estimate,
        quantile_sketch_delta,
        theta_estimate,
        theta_sketch_delta,
    )

    events = read_table(spark, "events", sf_dir)
    # ONE aggregation pass computes the HLL estimate AND the exact
    # countDistinct that both the hll leg and the theta leg compare
    # against (r17, guide §1.2/§2.3: the previous shape aggregated
    # events twice — once for the hll leg's exact, once for the theta
    # leg's exact_users — for byte-identical results)
    per_type = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("est"),
        F.countDistinct("user_id").alias("exact"),
    )
    hll = per_type.select(
        F.lit("hll").alias("part"),
        F.col("event_type").alias("key"),
        (F.abs(F.col("est") - F.col("exact")) * 100 <= F.col("exact") * 5)
        .cast("bigint")
        .alias("ok"),
        F.col("exact").cast("bigint").alias("exact_n"),
    )

    orders = read_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("price_cents"),
    )
    keys = ["o_orderstatus"]
    oneshot = quantile_sketch_delta(orders, keys, "price_cents")
    # the three o_orderkey%3 partials in ONE pass (r17, guide §1.2):
    # sketching per (status, shard) group sees exactly the rows each
    # per-filter partial saw, so merging the per-shard sketches obeys
    # the same merged-rank-error law the three-filter shape proved —
    # one orders aggregation instead of three
    merged = merge_quantile_rollup(
        [
            quantile_sketch_delta(
                # `% 3` + isin replicates the three == filters exactly
                # (sign-preserving %: a negative or NULL key matched
                # none of them and must stay excluded)
                orders.withColumn("_m3", F.col("o_orderkey") % 3)
                .filter(F.col("_m3").isin(0, 1, 2)),
                [*keys, "_m3"], "price_cents",
            ).drop("_m3")
        ],
        keys,
    )
    wr = Window.partitionBy("o_orderstatus").orderBy("price_cents")
    wn = Window.partitionBy("o_orderstatus")
    exact_med = (
        orders.withColumn("rn", F.row_number().over(wr) - 1)
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("(n - 1) div 2"))
        .select("o_orderstatus", F.col("price_cents").alias("exact_med"))
    )

    def kll_leg(sketch: DataFrame, label: str) -> DataFrame:
        est = quantile_estimate(sketch, keys, [5000]).select(
            "o_orderstatus", "value_est"
        )
        ranked = (
            orders.join(est, "o_orderstatus")
            .groupBy("o_orderstatus")
            .agg(
                F.sum((F.col("price_cents") < F.col("value_est")).cast("bigint")).alias("lt"),
                F.sum((F.col("price_cents") <= F.col("value_est")).cast("bigint")).alias("le"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        return ranked.join(exact_med, "o_orderstatus").select(
            F.lit(label).alias("part"),
            F.col("o_orderstatus").alias("key"),
            (F.abs(F.col("lt") + F.col("le") - F.col("n")) * 10 <= F.col("n"))
            .cast("bigint")
            .alias("ok"),
            F.col("exact_med").alias("exact_n"),
        )

    # three day-bucket theta partials in ONE events pass (r17, guide
    # §1.2): the CASE bucket partitions dayofmonth exactly like the
    # three between-filters did, each (event_type, bucket) group's KMV
    # state depends only on its value set, and the union of the same
    # three states is the same sketch — one scan instead of three
    theta_parts = [
        theta_sketch_delta(
            events.withColumn(
                "_day_bkt",
                F.when(F.dayofmonth("ts") <= 10, 0)
                .when(F.dayofmonth("ts") <= 20, 1)
                .when(F.dayofmonth("ts") <= 31, 2),
            # a NULL ts fell through every between-filter in the
            # three-scan shape; the null bucket keeps it excluded
            ).filter(F.col("_day_bkt").isNotNull()),
            ["event_type", "_day_bkt"], "user_id",
        ).drop("_day_bkt")
    ]
    exact_users = per_type.select(
        "event_type", F.col("exact")
    )
    theta = (
        theta_estimate(
            merge_theta_rollup(theta_parts, ["event_type"]), ["event_type"]
        )
        .join(exact_users, "event_type")
        .select(
            F.lit("theta_union").alias("part"),
            F.col("event_type").alias("key"),
            (
                F.abs(F.col("n_distinct_est") - F.col("exact")) * 100
                <= F.col("exact") * 5
            ).cast("bigint").alias("ok"),
            F.col("exact").cast("bigint").alias("exact_n"),
        )
    )

    emb = read_table(spark, "embeddings", sf_dir)
    # full probing makes the result exact under ANY centroid set (every
    # bucket is scored), so the quantizer fit — the dominant cost of an
    # IVF call — is minimized: quarter-sample fit, 2 Lloyd rounds.
    # This pins the assign/bucket-join/rank machinery, not fit quality.
    ivf_exact = ivf_topk(
        emb, n_centroids=16, n_probes=16,
        fit_sample_fraction=0.25, fit_max_iter=2, fit_init_mode="random",
    ).select(
        F.lit("ivf_full_probe").alias("part"),
        F.concat(
            F.col("query_id").cast("string"), F.lit("#"), F.col("rk").cast("string")
        ).alias("key"),
        F.lit(1).cast("bigint").alias("ok"),
        F.col("candidate_id").cast("bigint").alias("exact_n"),
    )
    return (
        hll.unionByName(kll_leg(oneshot, "kll_oneshot"))
        .unionByName(kll_leg(merged, "kll_merged"))
        .unionByName(theta)
        .unionByName(ivf_exact)
    )


_APPROX_BOUNDS_SQL = f"""
WITH med AS (
  SELECT o_orderstatus, price_cents AS exact_med
  FROM (
    SELECT o_orderstatus,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
           row_number() OVER (
             PARTITION BY o_orderstatus
             ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT)
           ) - 1 AS rn,
           count(*) OVER (PARTITION BY o_orderstatus) AS n
    FROM orders
  ) WHERE rn = (n - 1) // 2
)
SELECT 'hll' AS part, event_type AS key, CAST(1 AS BIGINT) AS ok,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n
FROM events GROUP BY event_type
UNION ALL
SELECT 'kll_oneshot', o_orderstatus, CAST(1 AS BIGINT), exact_med FROM med
UNION ALL
SELECT 'kll_merged', o_orderstatus, CAST(1 AS BIGINT), exact_med FROM med
UNION ALL
SELECT 'theta_union', event_type, CAST(1 AS BIGINT),
       CAST(count(DISTINCT user_id) AS BIGINT)
FROM events GROUP BY event_type
UNION ALL
SELECT 'ivf_full_probe',
       CAST(query_id AS VARCHAR) || '#' || CAST(rk AS VARCHAR),
       CAST(1 AS BIGINT), CAST(candidate_id AS BIGINT)
FROM ({_SIM_BRUTE_SQL})
"""


def _events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters as a hash-checked row — the
    frequency-sketch family's driver leg (approx_bounds_suite
    doctrine: an estimator emits integer within-documented-bound
    flags NEXT TO exact cross-engine values, so the oracle replays
    the exact values and pins the flags at 1).  The top-10 users by
    event count carry their EXACT counts (hash-checked) plus two CMS
    guarantee flags evaluated against the real sketch
    (operators/rollup.py cms_*): est_ge_exact (CMS never
    underestimates — deterministic, not probabilistic) and
    est_within_eps (est <= exact + ceil(2N/width), the eps*N budget,
    holding with confidence 0.99 — deterministic for a FIXED seed on
    fixed data, so the row is stable, and a hash/merge/serialization
    regression in the CMS path flips a hashed bit).  The sketch is a
    single one-row aggregate and the estimate report is top-10-sized:
    bounded driver work by construction."""
    from datawarehouse_code_spark.operators.rollup import (
        cms_estimate,
        cms_sketch_delta,
    )

    events = read_table(spark, "events", sf_dir)
    exact = (
        events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("user_id").asc())
        .limit(10)
    )
    roll = cms_sketch_delta(
        events.withColumn("_g", F.lit(0)), ["_g"], "user_id",
        eps=0.01, confidence=0.99, seed=42,
    )
    top_ids = [r["user_id"] for r in exact.collect()]
    est = cms_estimate(roll, ["_g"], top_ids).select(
        F.col("item").alias("user_id"), "est", "err_budget"
    )
    return exact.join(est, "user_id").select(
        "user_id",
        "exact_cnt",
        (F.col("est") >= F.col("exact_cnt")).cast("int").alias("est_ge_exact"),
        (F.col("est") <= F.col("exact_cnt") + F.col("err_budget"))
        .cast("int").alias("est_within_eps"),
    )


_HEAVY_HITTERS_SQL = """
SELECT user_id, exact_cnt,
       CAST(1 AS INTEGER) AS est_ge_exact,
       CAST(1 AS INTEGER) AS est_within_eps
FROM (
  SELECT user_id, count(*) AS exact_cnt,
         row_number() OVER (ORDER BY count(*) DESC, user_id ASC) AS rk
  FROM events GROUP BY user_id
) WHERE rk <= 10
"""


# ------------------------------------------------------- multimodal plumbing


def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction over binary media (deterministic
    byte-level fake decode — see operators/multimodal.py); the oracle
    recomputes the same features from the text bytes, verifying the
    whole Arrow round-trip."""
    from datawarehouse_code_spark.operators.multimodal import (
        extract_features,
        media_from_documents,
    )

    docs = read_table(spark, "documents", sf_dir).repartition("doc_id")
    return extract_features(media_from_documents(docs))


_MULTIMODAL_SQL = """
SELECT doc_id AS media_id,
       'image/fake' AS media_type,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       CAST(octet_length(encode(text)) % 640 AS INTEGER) AS width,
       CAST((7 * octet_length(encode(text))) % 480 AS INTEGER) AS height,
       CAST(list_sum(list_transform(
            range(1, least(length(text), 64) + 1),
            i -> ascii(substr(text, i, 1)))) AS BIGINT) AS checksum
FROM documents
"""


def _multimodal_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling + REAL image decode as one labeled suite.

    part='frames': the 1→N frame-sampling stage (mapInPandas row
    explosion) re-aggregated per media item.  The sampler cuts each
    payload into 4 evenly-spaced step-sized byte slices (step =
    max(size//4, 1)), so the per-media frame count and lengths have a
    closed form the oracle recomputes from octet_length alone —
    hash-checking the whole explode-and-reaggregate Arrow round-trip.
      n1=n_frames, n2=sum_frame_len, n3=min_frame_len, n4=max_frame_len, n5=NULL

    part='ppm': synthetic binary-PPM payloads built JVM-side from
    doc_id alone (header 'P6\\n{w} {h}\\n255\\n' + w·h repeats of a
    3-byte per-channel constant pixel, every byte < 128 so UTF-8
    encode is byte-exact), decoded by the PURE-PYTHON P6 decoder
    inside mapInPandas (operators/multimodal.decoded_image_stats).
    The oracle recomputes width/height/channel-sums from doc_id's
    closed form — a wrong header parse, a channel de-interleave slip,
    or a generation bug all hash-fail.
      n1=width, n2=height, n3=sum_r, n4=sum_g, n5=sum_b
    """
    from datawarehouse_code_spark.operators.multimodal import (
        decoded_image_stats,
        media_from_documents,
        sample_frames,
    )

    docs = read_table(spark, "documents", sf_dir).repartition("doc_id")
    frames = sample_frames(media_from_documents(docs))
    f = frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum("frame_len").alias("sum_frame_len"),
        F.min("frame_len").alias("min_frame_len"),
        F.max("frame_len").alias("max_frame_len"),
    ).select(
        F.lit("frames").alias("part"), "media_id",
        F.col("n_frames").cast("bigint").alias("n1"),
        F.col("sum_frame_len").cast("bigint").alias("n2"),
        F.col("min_frame_len").cast("bigint").alias("n3"),
        F.col("max_frame_len").cast("bigint").alias("n4"),
        F.lit(None).cast("bigint").alias("n5"),
    )
    ppm_payloads = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image/x-portable-pixmap").alias("media_type"),
        F.encode(
            F.concat(
                F.lit("P6\n"),
                (F.col("doc_id") % 5 + 4).cast("string"),
                F.lit(" "),
                (F.col("doc_id") % 4 + 3).cast("string"),
                F.lit("\n255\n"),
                F.expr(
                    "repeat(concat(char(doc_id % 107), char(doc_id * 3 % 109), "
                    "char(doc_id * 7 % 113)), "
                    "int((doc_id % 5 + 4) * (doc_id % 4 + 3)))"
                ),
            ),
            "utf-8",
        ).alias("content"),
    )
    p = decoded_image_stats(ppm_payloads).select(
        F.lit("ppm").alias("part"), "media_id",
        F.col("width").cast("bigint").alias("n1"),
        F.col("height").cast("bigint").alias("n2"),
        F.col("sum_r").alias("n3"),
        F.col("sum_g").alias("n4"),
        F.col("sum_b").alias("n5"),
    )
    return f.unionByName(p)


_FRAME_STATS_SQL = """
WITH m AS (
  SELECT doc_id AS media_id, octet_length(encode(text)) AS sz FROM documents
), dims AS (
  SELECT doc_id AS media_id,
         doc_id % 5 + 4 AS w, doc_id % 4 + 3 AS h,
         doc_id % 107 AS r, doc_id * 3 % 109 AS g, doc_id * 7 % 113 AS b
  FROM documents
)
SELECT 'frames' AS part, media_id,
       CAST(CASE WHEN sz >= 4 THEN 4 ELSE sz END AS BIGINT) AS n1,
       CAST(CASE WHEN sz >= 4 THEN 4 * (sz // 4) ELSE sz END AS BIGINT) AS n2,
       CAST(CASE WHEN sz >= 4 THEN sz // 4 ELSE 1 END AS BIGINT) AS n3,
       CAST(CASE WHEN sz >= 4 THEN sz // 4 ELSE 1 END AS BIGINT) AS n4,
       CAST(NULL AS BIGINT) AS n5
FROM m
WHERE sz > 0
UNION ALL
SELECT 'ppm', media_id,
       CAST(w AS BIGINT), CAST(h AS BIGINT),
       CAST(w * h * r AS BIGINT), CAST(w * h * g AS BIGINT),
       CAST(w * h * b AS BIGINT)
FROM dims
"""


# ------------------------------------------------- consolidated suites
#
# Labeled unions of trivially-coupled queries so every oracle-backed
# capability fits the driver's 50-row correctness window (the same
# policy as plans/warehouse_queries.py — constituents stay importable
# and benchable via LLM_SUPPLEMENTARY).


def _similarity_retrieval_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-retrieval family as ONE labeled driver row
    (consolidated round 10 to bring the r9 retrieval variants into
    the driver's sf0.01 hash window): brute-force cosine top-k, the
    metadata-filtered filter-then-rank variant, and the int8
    quantized-rank + exact-rerank variant.  All three constituents
    share the (query_id, candidate_id, sim_f6, rk) schema, so the
    suite is a plain labeled union; each stays a supplementary row
    (benchable, differential-tested, frozen bench rows
    like-for-like)."""
    return (
        _similarity_topk_bruteforce(spark, sf_dir)
        .select(F.lit("brute").alias("part"), "*")
        .unionByName(
            _similarity_topk_filtered(spark, sf_dir)
            .select(F.lit("filtered").alias("part"), "*")
        )
        .unionByName(
            _similarity_topk_quantized(spark, sf_dir)
            .select(F.lit("quantized").alias("part"), "*")
        )
    )


_SIM_RETRIEVAL_SQL = f"""
SELECT 'brute' AS part, * FROM ({_SIM_BRUTE_SQL})
UNION ALL
SELECT 'filtered' AS part, * FROM ({_SIM_FILTERED_SQL})
UNION ALL
SELECT 'quantized' AS part, * FROM ({_SIM_QUANTIZED_SQL})
"""


def _media_fixture(
    spark: SparkSession,
    sf_dir: str,
    make: Callable[[int], tuple[int, str, bytes]],
    where: Column | None = None,
) -> DataFrame:
    """A synthesized media table, one row per `documents.doc_id`:
    `make(doc_id)` returns that row's `(media_id, media_type,
    content)`, built in one distributed mapInPandas stage under the
    media schema every media operator reads.

    `where` filters the doc ids BEFORE the map: a filter on the output
    cannot push through mapInPandas, so it would still build (and
    discard) every dropped row's blob."""
    docs = read_table(spark, "documents", sf_dir).select("doc_id")
    if where is not None:
        docs = docs.filter(where)

    def rows(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                [make(int(d)) for d in pdf["doc_id"]],
                columns=["media_id", "media_type", "content"],
            )

    return docs.mapInPandas(
        rows, "media_id BIGINT, media_type STRING, content BINARY"
    )


def _png_stats_row(d: int) -> tuple[int, str, bytes]:
    w, h = 3 + d % 11, 2 + d % 9
    rgb = (d % 256, (5 * d) % 256, (11 * d) % 256)
    return d, "image/png", encode_const_png(w, h, rgb)


def _decoded_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode inside the Arrow pipeline (r9 verdict ask #1):
    per doc_id, synthesize a constant-color 8-bit truecolor PNG in a
    distributed mapInPandas stage (operators/multimodal.py
    encode_const_png — zlib-compressed filter-0 scanlines), then run
    the pure-Python chunk-walk/CRC/inflate/un-filter decoder
    (_decode_png) inside decoded_image_stats.  Constant payloads
    decode bit-exactly, so the oracle states width/height/channel
    sums in closed form from doc_id alone — a signature slip, chunk
    mis-walk, inflate bound error, filter bug, or channel swap all
    flip the hash.  (Filter reconstruction, palette/alpha channels,
    and hostile streams are pinned separately against javax.imageio
    and the corruption fuzz in tests/test_multimodal.py.)"""
    return decoded_image_stats(_media_fixture(spark, sf_dir, _png_stats_row))


_PNG_STATS_SQL = """
SELECT doc_id AS media_id,
       CAST(3 + doc_id % 11 AS INT) AS width,
       CAST(2 + doc_id % 9 AS INT) AS height,
       CAST((3 + doc_id % 11) * (2 + doc_id % 9) * (doc_id % 256) AS BIGINT) AS sum_r,
       CAST((3 + doc_id % 11) * (2 + doc_id % 9) * ((5 * doc_id) % 256) AS BIGINT) AS sum_g,
       CAST((3 + doc_id % 11) * (2 + doc_id % 9) * ((11 * doc_id) % 256) AS BIGINT) AS sum_b
FROM documents
"""


def _multimodal_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media feature extraction + frame sampling + pure-Python
    PPM decode as ONE labeled driver row (consolidated round 10; the
    constituents' part values — 'features' here, 'frames'/'ppm' from
    the frame-stats row — are disjoint by construction).  Normalized
    columns per the suite convention: s1 carries media_type for the
    features part; n1..n5 carry the per-part numeric payload."""
    features = _multimodal_features(spark, sf_dir).select(
        F.lit("features").alias("part"),
        "media_id",
        F.col("media_type").alias("s1"),
        F.col("n_bytes").cast("bigint").alias("n1"),
        F.col("width").cast("bigint").alias("n2"),
        F.col("height").cast("bigint").alias("n3"),
        F.col("checksum").alias("n4"),
        F.lit(None).cast("bigint").alias("n5"),
    )
    frames = _multimodal_frame_stats(spark, sf_dir).select(
        "part",
        "media_id",
        F.lit(None).cast("string").alias("s1"),
        "n1", "n2", "n3", "n4", "n5",
    )
    png = _decoded_png_stats(spark, sf_dir).select(
        F.lit("png").alias("part"),
        "media_id",
        F.lit(None).cast("string").alias("s1"),
        F.col("width").cast("bigint").alias("n1"),
        F.col("height").cast("bigint").alias("n2"),
        F.col("sum_r").alias("n3"),
        F.col("sum_g").alias("n4"),
        F.col("sum_b").alias("n5"),
    )
    return features.unionByName(frames).unionByName(png)


_MULTIMODAL_SUITE_SQL = f"""
SELECT 'features' AS part, media_id, media_type AS s1,
       CAST(n_bytes AS BIGINT) AS n1, CAST(width AS BIGINT) AS n2,
       CAST(height AS BIGINT) AS n3, checksum AS n4,
       CAST(NULL AS BIGINT) AS n5
FROM ({_MULTIMODAL_SQL})
UNION ALL
SELECT part, media_id, CAST(NULL AS VARCHAR) AS s1, n1, n2, n3, n4, n5
FROM ({_FRAME_STATS_SQL})
UNION ALL
SELECT 'png', media_id, CAST(NULL AS VARCHAR),
       CAST(width AS BIGINT), CAST(height AS BIGINT), sum_r, sum_g, sum_b
FROM ({_PNG_STATS_SQL})
"""


def _text_corpus_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction + per-doc tf-idf top terms + overlapping
    word-window chunking as ONE labeled driver row (consolidated
    round 10).  Normalized columns: key is the constituent's natural
    key rendered as a string (term for vocab, doc_id otherwise), s1
    the constituent's text payload (tf-idf's term, the chunk text),
    n1..n3 the numeric payload, v the tf-idf score."""
    vocab = _vocab_top_terms(spark, sf_dir).select(
        F.lit("vocab").alias("part"),
        F.col("term").alias("key"),
        F.lit(None).cast("string").alias("s1"),
        F.col("df").alias("n1"),
        F.col("tf").alias("n2"),
        F.lit(None).cast("bigint").alias("n3"),
        F.lit(None).cast("double").alias("v"),
    )
    tfidf = _tfidf_top_terms(spark, sf_dir).select(
        F.lit("tfidf").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("term").alias("s1"),
        F.col("tf").alias("n1"),
        F.col("df").alias("n2"),
        F.col("rk").cast("bigint").alias("n3"),
        F.col("score_f4").alias("v"),
    )
    chunks = _text_chunking(spark, sf_dir).select(
        F.lit("chunk").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("chunk_text").alias("s1"),
        F.col("chunk_idx").cast("bigint").alias("n1"),
        F.col("chunk_start").cast("bigint").alias("n2"),
        F.col("n_chunk_words").cast("bigint").alias("n3"),
        F.lit(None).cast("double").alias("v"),
    )
    return vocab.unionByName(tfidf).unionByName(chunks)


_TEXT_CORPUS_SUITE_SQL = f"""
SELECT 'vocab' AS part, term AS key, CAST(NULL AS VARCHAR) AS s1,
       df AS n1, tf AS n2, CAST(NULL AS BIGINT) AS n3,
       CAST(NULL AS DOUBLE) AS v
FROM ({_VOCAB_SQL})
UNION ALL
SELECT 'tfidf', CAST(doc_id AS VARCHAR), term,
       tf, df, CAST(rk AS BIGINT), score_f4
FROM ({_TFIDF_SQL})
UNION ALL
SELECT 'chunk', CAST(doc_id AS VARCHAR), chunk_text,
       CAST(chunk_idx AS BIGINT), CAST(chunk_start AS BIGINT),
       CAST(n_chunk_words AS BIGINT), CAST(NULL AS DOUBLE)
FROM ({_TEXT_CHUNK_SQL})
"""


def _dedup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content-hash dedup + exact n-gram Jaccard pairs +
    min-md5-shingle fingerprints, labeled."""
    exact = _dedup_exact(spark, sf_dir).select(
        F.lit("exact").alias("part"),
        F.col("content_hash").alias("s"),
        F.col("canonical_doc_id").alias("d1"),
        F.lit(None).cast("bigint").alias("d2"),
        F.lit(None).cast("bigint").alias("shared"),
        F.col("n_copies").cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.lit(None).cast("double").alias("v"),
    )
    jacc = _dedup_near_jaccard(spark, sf_dir).select(
        F.lit("jaccard").alias("part"),
        F.lit(None).cast("string").alias("s"),
        F.col("d1"),
        F.col("d2"),
        F.col("shared").cast("bigint").alias("shared"),
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.col("jaccard_f4").alias("v"),
    )
    fp = _doc_fingerprint(spark, sf_dir).select(
        F.lit("fingerprint").alias("part"),
        F.col("fingerprint").alias("s"),
        F.col("doc_id").alias("d1"),
        F.lit(None).cast("bigint").alias("d2"),
        F.lit(None).cast("bigint").alias("shared"),
        F.lit(None).cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.lit(None).cast("double").alias("v"),
    )
    return exact.unionByName(jacc).unionByName(fp)


_DEDUP_SUITE_SQL = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
), sh_arr AS (
  SELECT doc_id, {_SHINGLES_SQL} AS sh FROM w WHERE len(ws) >= 3
), sh AS (
  SELECT doc_id, len(sh) AS n_sh, unnest(sh) AS s FROM sh_arr WHERE len(sh) > 0
), pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, a.n_sh AS n1, b.n_sh AS n2,
         count(*) AS shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT 'exact' AS part, md5({_NORM_SQL}) AS s,
       min(doc_id) AS d1, CAST(NULL AS BIGINT) AS d2,
       CAST(NULL AS BIGINT) AS shared,
       count(*) AS n1, CAST(NULL AS BIGINT) AS n2, CAST(NULL AS DOUBLE) AS v
FROM documents
GROUP BY md5({_NORM_SQL})
UNION ALL
SELECT 'jaccard', CAST(NULL AS VARCHAR), d1, d2, shared, n1, n2,
       floor(shared * 1.0 / (n1 + n2 - shared) * 10000) / 10000
FROM pairs
WHERE shared * 1.0 / (n1 + n2 - shared) >= 0.5
UNION ALL
SELECT 'fingerprint',
       list_aggregate(list_transform(sh, x -> md5(x)), 'min'),
       doc_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
FROM sh_arr
WHERE len(sh) > 0
"""


def _lang_stats_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression-side discrete percentiles ⋈ applyInPandas stats on
    the same per-language grain — both code paths, one row set."""
    pctl = _lang_percentiles(spark, sf_dir)
    pand = _lang_stats_pandas(spark, sf_dir).select(
        "lang",
        F.col("p50").alias("pd_p50"),
        F.col("mean_x100").alias("pd_mean_x100"),
    )
    return pctl.join(pand, "lang")


_LANG_STATS_SUITE_SQL = """
WITH ranked AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars) - 1 AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang,
       max(CASE WHEN rn = CAST(floor(0.25 * (n - 1)) AS BIGINT) THEN n_chars END) AS p25,
       max(CASE WHEN rn = CAST(floor(0.5  * (n - 1)) AS BIGINT) THEN n_chars END) AS p50,
       max(CASE WHEN rn = CAST(floor(0.9  * (n - 1)) AS BIGINT) THEN n_chars END) AS p90,
       count(*) AS n_docs,
       max(CASE WHEN rn = CAST(floor(0.5 * (n - 1)) AS BIGINT)
                THEN CAST(n_chars AS BIGINT) END) AS pd_p50,
       CAST(floor(sum(n_chars) * 1.0 / count(*) * 100) AS BIGINT) AS pd_mean_x100
FROM ranked
GROUP BY lang
"""


def _lang_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language rollup + per-document marker language-ID +
    per-language percentile/stats comparison, labeled (full per-doc
    granularity preserved).

    part='stats' (folded in from the former lang_stats_suite driver
    row in round 8 to free an oracle slot for approx_bounds_suite):
    expression-side discrete percentiles beside the applyInPandas
    twin, with b = (expression median == pandas median) — both code
    paths hash-checked in one row set."""
    rollup = _lang_rollup(spark, sf_dir).select(
        F.lit("rollup").alias("part"),
        F.col("lang").alias("key"),
        F.col("n_docs").cast("bigint").alias("n1"),
        F.col("n_sources").cast("bigint").alias("n2"),
        F.col("sum_chars").cast("bigint").alias("n3"),
        F.col("avg_chars_f2").alias("v"),
        F.lit(None).cast("string").alias("s1"),
        F.lit(None).cast("string").alias("s2"),
        F.lit(None).cast("boolean").alias("b"),
    )
    langid = _langid_markers(spark, sf_dir).select(
        F.lit("langid").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("hits_en").cast("bigint").alias("n1"),
        F.col("hits_es").cast("bigint").alias("n2"),
        F.lit(None).cast("bigint").alias("n3"),
        F.lit(None).cast("double").alias("v"),
        F.col("predicted").alias("s1"),
        F.col("lang").alias("s2"),
        F.col("agree").alias("b"),
    )
    stats = _lang_stats_suite(spark, sf_dir).select(
        F.lit("stats").alias("part"),
        F.col("lang").alias("key"),
        F.col("p25").cast("bigint").alias("n1"),
        F.col("p50").cast("bigint").alias("n2"),
        F.col("p90").cast("bigint").alias("n3"),
        F.lit(None).cast("double").alias("v"),
        F.col("pd_p50").cast("string").alias("s1"),
        F.col("pd_mean_x100").cast("string").alias("s2"),
        (F.col("p50").cast("bigint") == F.col("pd_p50")).alias("b"),
    )
    return rollup.unionByName(langid).unionByName(stats)


_LANG_SUITE_SQL = f"""
WITH w AS (
  SELECT doc_id, lang, {_WORDS_SQL} AS ws FROM documents
), scored AS (
  SELECT doc_id, lang,
         len(list_filter(ws, x -> x IN {_STOPWORDS})) AS hits_en,
         len(list_filter(ws, x -> x IN {_ES_MARKERS})) AS hits_es
  FROM w
)
SELECT 'rollup' AS part, lang AS key,
       count(*) AS n1,
       CAST(count(DISTINCT source) AS BIGINT) AS n2,
       CAST(sum(n_chars) AS BIGINT) AS n3,
       floor(sum(n_chars) * 1.0 / count(*) * 100) / 100 AS v,
       CAST(NULL AS VARCHAR) AS s1, CAST(NULL AS VARCHAR) AS s2,
       CAST(NULL AS BOOLEAN) AS b
FROM documents
GROUP BY lang
UNION ALL
SELECT 'langid', CAST(doc_id AS VARCHAR),
       CAST(hits_en AS BIGINT), CAST(hits_es AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
       CASE WHEN hits_es > hits_en THEN 'es'
            WHEN hits_en > 0 THEN 'en'
            ELSE 'und' END,
       lang,
       (CASE WHEN hits_es > hits_en THEN 'es'
             WHEN hits_en > 0 THEN 'en'
             ELSE 'und' END) = lang
FROM scored
UNION ALL
SELECT 'stats', lang,
       CAST(p25 AS BIGINT), CAST(p50 AS BIGINT), CAST(p90 AS BIGINT),
       CAST(NULL AS DOUBLE),
       CAST(pd_p50 AS VARCHAR), CAST(pd_mean_x100 AS VARCHAR),
       CAST(p50 AS BIGINT) = pd_p50
FROM ({_LANG_STATS_SUITE_SQL})
"""


def _docs_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style frequent-line removal (operators/text.py
    remove_frequent_lines).  The fixture texts carry no newlines, so
    multi-line documents are PLANTED deterministically: every doc
    becomes three lines — its own text, a corpus-wide boilerplate
    footer (line-df = n_docs, must be removed at max_df=1), and a
    doc-unique line (df = 1, must survive).  Text lines shared by
    naturally-duplicated fixture docs also exceed max_df and drop on
    BOTH sides — the oracle replays the identical rule, so an
    off-by-one in the df count, a broken order-preserving
    reassembly, or an empty-line miscount hash-fails."""
    from datawarehouse_code_spark.operators.text import (
        remove_frequent_lines,
    )

    docs = read_table(spark, "documents", sf_dir)
    lined = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\n"),
            F.lit("standard boilerplate footer"), F.lit("\n"),
            F.concat(F.lit("doc-specific "), F.col("doc_id").cast("string")),
        ).alias("text"),
    )
    return remove_frequent_lines(lined, max_df=1)


_BOILERPLATE_SQL = """
WITH lined AS (
  SELECT doc_id,
         text || chr(10) || 'standard boilerplate footer' || chr(10)
              || 'doc-specific ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents
), parts_t AS (
  SELECT doc_id, string_split(text, chr(10)) AS parts FROM lined
), lines AS (
  SELECT doc_id, t.i - 1 AS pos, parts[t.i] AS line
  FROM parts_t, unnest(range(1, len(parts) + 1)) AS t(i)
), dfs AS (
  SELECT line, count(*) AS line_df
  FROM (SELECT DISTINCT doc_id, line FROM lines WHERE line <> '')
  GROUP BY line
), keep AS (
  SELECT l.doc_id, l.pos, l.line
  FROM lines l LEFT JOIN dfs d USING (line)
  WHERE l.line = '' OR d.line_df <= 1
), survivors AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY pos) AS cleaned_text,
         count(*) AS n_kept
  FROM keep GROUP BY doc_id
), totals AS (
  SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(s.cleaned_text, '') AS cleaned_text,
       CAST(t.n_lines - coalesce(s.n_kept, 0) AS BIGINT) AS n_removed_lines
FROM totals t LEFT JOIN survivors s USING (doc_id)
"""


def _docs_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated spans (operators/text.py
    duplicate_spans): maximal runs of 5-word grams occurring in >= 2
    distinct documents, per document with word-index bounds — the
    exact-substring dedup pass whole-doc detectors can't express.
    The oracle rebuilds the gram table, the distinct-doc counts, and
    the island merge; a off-by-one span bound or a missed merge
    hash-fails."""
    from datawarehouse_code_spark.operators.text import duplicate_spans

    docs = read_table(spark, "documents", sf_dir)
    return duplicate_spans(docs, k=5, min_docs=2)


_DUP_SPANS_SQL = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
), eligible AS (
  SELECT doc_id, ws FROM w WHERE len(ws) >= 5
), p1 AS (
  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 4)) AS i
  FROM eligible
), pos AS (
  SELECT doc_id, i, array_to_string(ws[i:i+4], ' ') AS gram FROM p1
), dup AS (
  SELECT gram FROM (SELECT DISTINCT doc_id, gram FROM pos)
  GROUP BY gram HAVING count(*) >= 2
), flagged AS (
  SELECT p.doc_id, p.i FROM pos p JOIN dup USING (gram)
), marked AS (
  SELECT doc_id, i,
         CASE WHEN lag(i) OVER w IS NULL OR i > lag(i) OVER w + 5
              THEN 1 ELSE 0 END AS brk
  FROM flagged
  WINDOW w AS (PARTITION BY doc_id ORDER BY i)
), grp AS (
  SELECT doc_id, i,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
)
SELECT doc_id,
       CAST(min(i) AS INT) AS span_start,
       CAST(max(i) + 4 AS INT) AS span_end,
       count(*) AS n_grams
FROM grp GROUP BY doc_id, g
"""


def _planted_recall_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic-recall oracle for the five approximate detectors
    (MinHash-LSH, SimHash, embedding-LSH near-dup, IVF top-k, LSH
    top-k): plant exact copies (doc_id % 25 / vec_id % 50 → id +
    1_000_000), semi-join each detector's found pairs against the
    planted universe, and emit the surviving planted rows.  The oracle
    is the FULL planted universe, so the driver's rows+hash match
    proves recall 1.0 on planted pairs — identical inputs share every
    MinHash band, every simhash band (hamming 0), every hyperplane
    bucket, and the same nearest centroid, so a miss is a real
    regression, never sampling noise.  This closes the one blind spot
    of the rows-only checks: the candidate-generation step itself is
    now cross-engine-verified."""
    from datawarehouse_code_spark.operators.similarity import ivf_topk, lsh_topk

    offset = 1_000_000
    docs = read_table(spark, "documents", sf_dir)
    doc_copies = docs.filter(F.col("doc_id") % 25 == 0).withColumn(
        "doc_id", F.col("doc_id") + offset
    )
    corpus = docs.unionByName(doc_copies)
    planted_docs = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("a"),
        (F.col("doc_id") + offset).alias("b"),
        F.size(words(F.col("text"))).alias("nw"),
    )

    def found(det: DataFrame, c1: str, c2: str, universe: DataFrame, label: str) -> DataFrame:
        return universe.join(
            det,
            (universe["a"] == det[c1]) & (universe["b"] == det[c2]),
            "left_semi",
        ).select(F.lit(label).alias("part"), "a", "b")

    mh = found(
        near_dup_pairs_lsh(corpus), "d1", "d2",
        planted_docs.filter(F.col("nw") >= 3), "minhash",
    )
    sh = found(
        simhash_near_dup_pairs(corpus), "d1", "d2", planted_docs, "simhash"
    )

    emb = read_table(spark, "embeddings", sf_dir)
    emb_copies = emb.filter(F.col("vec_id") % 50 == 0).withColumn(
        "vec_id", F.col("vec_id") + offset
    )
    emb_corpus = emb.unionByName(emb_copies)
    planted_emb = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("a"), (F.col("vec_id") + offset).alias("b")
    )
    ed = found(
        embedding_near_dup_lsh(emb_corpus), "v1", "v2", planted_emb, "embedding"
    )
    planted_q = planted_emb.filter(F.col("a") < 100)
    # sample-fit since round 7: the quantizer learns boundaries from a
    # quarter of the corpus (the 100 TB posture — fit cost is the
    # suite's dominant term and centroid QUALITY is irrelevant to
    # planted recall: an exact copy shares its original's nearest
    # centroid under ANY centroid set; this row's hash enforces that)
    # fit_max_iter=2 + random (seeded) init since r17 (the
    # approx_bounds ivf_full_probe reasoning): the quantizer fit —
    # including k-means||'s own init jobs — is this leg's dominant
    # cost and
    # centroid QUALITY is irrelevant to planted recall — an exact copy
    # shares its original's nearest centroid and ranks #1 by cosine
    # under ANY centroid set, so the emitted rows (the planted
    # universe) are invariant; this row's hash enforces exactly that
    iv = found(
        ivf_topk(
            emb_corpus, fit_sample_fraction=0.25, fit_max_iter=2,
            fit_init_mode="random",
        ),
        "query_id", "candidate_id", planted_q, "ivf_topk",
    )
    # multi-probe since round 7: ONE hash table with 3 probes replaces
    # the 2-table single-probe config — planted exact copies share the
    # base bucket in any table (recall 1.0 preserved, enforced by this
    # row's hash), while the corpus-side index work halves
    ls = found(
        lsh_topk(emb_corpus, n_tables=1, n_probes=3),
        "query_id", "candidate_id", planted_q, "lsh_topk",
    )
    return mh.unionByName(sh).unionByName(ed).unionByName(iv).unionByName(ls)


_PLANTED_RECALL_SQL = f"""
WITH p AS (
  SELECT doc_id AS a, doc_id + 1000000 AS b,
         len({_WORDS_SQL}) AS nw
  FROM documents WHERE doc_id % 25 = 0
), pe AS (
  SELECT vec_id AS a, vec_id + 1000000 AS b
  FROM embeddings WHERE vec_id % 50 = 0
)
SELECT 'minhash' AS part, a, b FROM p WHERE nw >= 3
UNION ALL SELECT 'simhash', a, b FROM p
UNION ALL SELECT 'embedding', a, b FROM pe
UNION ALL SELECT 'ivf_topk', a, b FROM pe WHERE a < 100
UNION ALL SELECT 'lsh_topk', a, b FROM pe WHERE a < 100
"""


def _text_cleaning_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction + repetition signals + consecutive-duplicate
    collapse (operators/text.py), labeled.  The fixture text carries
    no PII, so the pii branch first appends a deterministic synthetic
    contact line (pure function of doc_id, replayed identically by the
    oracle) — the redaction logic gets real matches to count and
    rewrite instead of passing vacuously."""
    from datawarehouse_code_spark.operators.text import (
        collapse_repeats,
        redact_pii,
        repetition_stats,
    )

    docs = read_table(spark, "documents", sf_dir)
    with_pii = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            (F.col("doc_id") % 100).cast("string"),
            F.lit(" or 555-867-5309"),
        ),
    )
    pii = redact_pii(with_pii).select(
        F.lit("pii").alias("part"),
        "doc_id",
        F.col("n_email").alias("n1"),
        F.col("n_ip").alias("n2"),
        F.col("n_phone").alias("n3"),
        F.lit(None).cast("double").alias("v1"),
        F.lit(None).cast("double").alias("v2"),
        F.expr("right(redacted_text, 40)").alias("s"),
    )
    rep = repetition_stats(docs).select(
        F.lit("repetition").alias("part"),
        "doc_id",
        F.col("n_words").alias("n1"),
        F.col("n_distinct_words").alias("n2"),
        F.col("n_2grams").alias("n3"),
        F.col("top_word_frac_f4").alias("v1"),
        F.col("dup_2gram_frac_f4").alias("v2"),
        F.lit(None).cast("string").alias("s"),
    )
    # ws then collapsed are materialized as attributes step-by-step:
    # collapse_repeats reads its input once per element and the suite
    # reads the collapsed array twice — inline expressions here would
    # re-run the normalize+split pipeline per element (the band_hashes
    # rule, see repetition_stats)
    col = (
        docs.select("doc_id", words(F.col("text")).alias("ws"))
        .select("doc_id", "ws", collapse_repeats(F.col("ws")).alias("cws"))
        .select(
            F.lit("collapse").alias("part"),
            "doc_id",
            F.size("ws").cast("bigint").alias("n1"),
            F.size("cws").cast("bigint").alias("n2"),
            F.lit(None).cast("bigint").alias("n3"),
            F.lit(None).cast("double").alias("v1"),
            F.lit(None).cast("double").alias("v2"),
            F.concat_ws(" ", F.slice(F.col("cws"), 1, 5)).alias("s"),
        )
    )
    return pii.unionByName(rep).unionByName(col)


_CLEANING_SQL = f"""
WITH pii_src AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
              || '.' || CAST(doc_id % 100 AS VARCHAR)
              || ' or 555-867-5309' AS t
  FROM documents
), w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
), terms AS (
  SELECT doc_id, unnest(ws) AS term FROM w
), freq AS (
  SELECT doc_id, term, count(*) AS cnt FROM terms WHERE term <> '' GROUP BY 1, 2
), perdoc AS (
  SELECT doc_id, sum(cnt) AS n_words, count(*) AS n_distinct, max(cnt) AS top_cnt
  FROM freq GROUP BY doc_id
), g2 AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 2
              THEN [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]
              ELSE [] END AS grams
  FROM w
)
SELECT 'pii' AS part, doc_id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT) AS n1,
       CAST(len(regexp_extract_all(t, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b')) AS BIGINT) AS n2,
       CAST(len(regexp_extract_all(t, '\\b\\d{{3}}[- ]\\d{{3,4}}[- ]\\d{{4}}\\b')) AS BIGINT) AS n3,
       CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2,
       right(
         regexp_replace(
           regexp_replace(
             regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
             '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '[IP]', 'g'),
           '\\b\\d{{3}}[- ]\\d{{3,4}}[- ]\\d{{4}}\\b', '[PHONE]', 'g'),
         40) AS s
FROM pii_src
UNION ALL
SELECT 'repetition', p.doc_id,
       CAST(p.n_words AS BIGINT), CAST(p.n_distinct AS BIGINT),
       CAST(len(g.grams) AS BIGINT),
       floor(p.top_cnt * 1.0 / p.n_words * 10000) / 10000,
       CASE WHEN len(g.grams) > 0 THEN
         floor((len(g.grams) - len(list_distinct(g.grams))) * 1.0
               / len(g.grams) * 10000) / 10000 END,
       CAST(NULL AS VARCHAR)
FROM perdoc p JOIN g2 g ON p.doc_id = g.doc_id
UNION ALL
SELECT 'collapse', doc_id,
       CAST(len(ws) AS BIGINT),
       CAST(len([ws[i] for i in range(1, len(ws) + 1)
                 if i = 1 or ws[i] <> ws[i-1]]) AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
       array_to_string(([ws[i] for i in range(1, len(ws) + 1)
                         if i = 1 or ws[i] <> ws[i-1]])[1:5], ' ')
FROM w
"""


def _tokens_packed_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence packing, manifest surface only
    (operators/corpus.py pack_sequences): documents laid end-to-end
    per source shard, cut every 512 tokens; each doc reports its shard
    offset and the sequences it spans.  Kept under the original
    `tokens_packed` name as a SUPPLEMENTARY query so its frozen bench
    row stays like-for-like; the driver row is `tokens_packed_suite`
    (manifest + loader-ready spans)."""
    from datawarehouse_code_spark.operators.corpus import pack_sequences

    docs = read_table(spark, "documents", sf_dir)
    with_tokens = docs.select(
        "source",
        "doc_id",
        F.regexp_count(F.lower(F.col("text")), F.lit("[a-z0-9]+"))
        .cast("bigint")
        .alias("n_tok"),
    )
    return pack_sequences(
        with_tokens, budget=512, shard_col="source",
        order_col="doc_id", tokens_col="n_tok",
    )


_TOKENS_MANIFEST_SQL = """
WITH t AS (
  SELECT source, doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
  FROM documents
), o AS (
  SELECT source, doc_id, n_tokens,
         COALESCE(CAST(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS BIGINT), 0) AS token_offset
  FROM t
)
SELECT source, doc_id, n_tokens, token_offset,
       token_offset // 512 AS seq_first,
       (token_offset + n_tokens - 1) // 512 AS seq_last
FROM o
"""


def _tokens_packed_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-chunk sequence packing, BOTH surfaces as one
    labeled suite: the per-doc manifest (pack_sequences — shard
    offset + first/last sequence) and the materialized seq_id→span
    rows a training loader consumes (explode_sequence_spans — a doc
    straddling a boundary emits one span per sequence).  Shared
    numeric columns n1..n4 per the suite convention:

      part='manifest': n1=n_tokens, n2=token_offset, n3=seq_first, n4=seq_last
      part='span':     n1=seq_id,   n2=token_start,  n3=token_len,  n4=pos_in_seq

    Fused single pass: both parts are emitted from ONE explode over
    the manifest (an array of [manifest struct, span structs...] per
    doc) — a two-branch union would run the window cumsum twice or
    need a checkpoint barrier; this form runs the window once and
    stays a narrow generator after it (the library operator
    `explode_sequence_spans` keeps the standalone span surface)."""
    from datawarehouse_code_spark.operators.corpus import pack_sequences

    docs = read_table(spark, "documents", sf_dir)
    with_tokens = docs.select(
        "source",
        "doc_id",
        F.regexp_count(F.lower(F.col("text")), F.lit("[a-z0-9]+"))
        .cast("bigint")
        .alias("n_tok"),
    )
    manifest = pack_sequences(
        with_tokens, budget=512, shard_col="source",
        order_col="doc_id", tokens_col="n_tok",
    )
    b = 512
    off, ntk = F.col("token_offset"), F.col("n_tokens")

    def _span(s):
        start_g = F.greatest(off, s * b)
        end_g = F.least(off + ntk, (s + 1) * b)
        return F.struct(
            F.lit("span").alias("part"),
            s.alias("n1"),
            (start_g - off).alias("n2"),
            (end_g - start_g).alias("n3"),
            (start_g - s * b).alias("n4"),
        )

    manifest_struct = F.struct(
        F.lit("manifest").alias("part"),
        ntk.alias("n1"),
        off.alias("n2"),
        F.col("seq_first").alias("n3"),
        F.col("seq_last").alias("n4"),
    )
    rows = F.concat(
        F.array(manifest_struct),
        F.transform(F.sequence(F.col("seq_first"), F.col("seq_last")), _span),
    )
    return manifest.select(
        "source", "doc_id", F.explode(rows).alias("e")
    ).select("e.part", "source", "doc_id", "e.n1", "e.n2", "e.n3", "e.n4")


_TOKENS_PACKED_SQL = """
WITH t AS (
  SELECT source, doc_id,
         CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
  FROM documents
), o AS (
  SELECT source, doc_id, n_tokens,
         COALESCE(CAST(sum(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS BIGINT), 0) AS token_offset
  FROM t
), m AS (
  SELECT source, doc_id, n_tokens, token_offset,
         token_offset // 512 AS seq_first,
         (token_offset + n_tokens - 1) // 512 AS seq_last
  FROM o
), spans AS (
  SELECT source, doc_id,
         CAST(u.s AS BIGINT) AS seq_id,
         CAST(greatest(token_offset, u.s * 512) - token_offset AS BIGINT) AS token_start,
         CAST(least(token_offset + n_tokens, (u.s + 1) * 512)
              - greatest(token_offset, u.s * 512) AS BIGINT) AS token_len,
         CAST(greatest(token_offset, u.s * 512) - u.s * 512 AS BIGINT) AS pos_in_seq
  FROM m, unnest(generate_series(seq_first, seq_last)) AS u(s)
)
SELECT 'manifest' AS part, source, doc_id,
       n_tokens AS n1, token_offset AS n2, seq_first AS n3, seq_last AS n4
FROM m
UNION ALL
SELECT 'span', source, doc_id, seq_id, token_start, token_len, pos_in_seq
FROM spans
"""


# LLM_QUERIES (the driver-row list) is defined at the BOTTOM of this
# module, after the round-12 consolidation suites it references — the
# plan functions above and below are unaffected.
_LLM_DRIVER_ROWS_HEAD: list[Query] = [
    Query("dedup_suite", _dedup_suite, _DEDUP_SUITE_SQL,
          "north-star: exact content-hash dedup + n-gram Jaccard pairs + min-md5 fingerprints"),
    Query("planted_recall_suite", _planted_recall_suite, _PLANTED_RECALL_SQL,
          "north-star: deterministic recall-1.0 oracle for all five approximate detectors"),
    Query("text_cleaning_suite", _text_cleaning_suite, _CLEANING_SQL,
          "north-star: PII redaction + repetition signals + duplicate-token collapse"),
    Query("tokens_packed_suite", _tokens_packed_suite, _TOKENS_PACKED_SQL,
          "north-star: concat-and-chunk packing (manifest + loader-ready seq spans)"),
    Query("dedup_minhash_lsh", _dedup_minhash_lsh, None,
          "north-star: banded MinHash-LSH near-dup (rows-only; exact twin = dedup_near_jaccard)"),
    Query("corpus_survivors", _corpus_survivors, _CORPUS_SQL,
          "north-star: end-to-end corpus-cleaning selection (exact + near-dup policy)"),
    Query("corpus_split_leakage", _corpus_split_leakage, _SPLIT_LEAKAGE_SQL,
          "north-star: leakage-safe train/val/test split (whole near-dup "
          "component per split, integer-exact coin)"),
    # NOTE: `dedup_minhash_mllib` and `dedup_simhash` (the raw fingerprint
    # projection) are deliberately NOT registered: both are rows-only
    # variants fully covered by pytest (tests/test_llm_operators.py) and
    # subsumed for driver purposes by `dedup_near_jaccard` (oracle-exact)
    # and `dedup_simhash_pairs` respectively.  Keeping the registry lean
    # ensures every oracle-backed query lands inside the driver's
    # correctness window (CORRECTNESS_r02 recorded only the first 50
    # entries of a 60-entry registry).
    Query("dedup_simhash_pairs", _dedup_simhash_pairs, None,
          "north-star: SimHash hamming<=3 near-dup pairs via 15-bit bands (rows-only)"),
    Query("lang_suite", _lang_suite, _LANG_SUITE_SQL,
          "north-star: language rollup + per-doc marker language-ID + "
          "percentile/stats parity (absorbed lang_stats_suite, round 8)"),
    Query("approx_bounds_suite", _approx_bounds_suite, _APPROX_BOUNDS_SQL,
          "§2.2 approximate aggregates as hash rows: HLL-within-bound, "
          "KLL merge/one-shot rank-error-within-bound beside exact "
          "medians, full-probe IVF ≡ brute-force (r7 verdict ask #2/#3)"),
    Query("docs_quality_filter", _docs_quality_filter, _QUALITY_SQL,
          "north-star: Gopher-style heuristic quality filter"),
    Query("docs_mixture_resample", _docs_mixture_resample, _MIXTURE_SQL,
          "north-star: resample corpus to a target domain mixture"),
    Query("contamination_check", _contamination_check, _CONTAMINATION_SQL,
          "north-star: benchmark decontamination (broadcast holdout shingle set)"),
    Query("text_corpus_suite", _text_corpus_suite, _TEXT_CORPUS_SUITE_SQL,
          "north-star: vocabulary induction + tf-idf top terms + "
          "word-window chunking, labeled (consolidated round 10)"),
    Query("similarity_retrieval_suite", _similarity_retrieval_suite,
          _SIM_RETRIEVAL_SQL,
          "north-star: exact + metadata-filtered + int8-quantized-"
          "rerank retrieval top-k, labeled (consolidated round 10)"),
    Query("similarity_topk_lsh", _similarity_topk_lsh, None,
          "north-star: LSH-bucketed cosine top-k (rows-only; exact twin = bruteforce)"),
    Query("docs_semantic_dedup", _docs_semantic_dedup, _SEMANTIC_DEDUP_SQL,
          "north-star: SemDeDup-style embedding-space dedup — planted "
          "exact twins + natural borderline pairs, smaller-id drop "
          "rule hash-checked (driver row since round 10)"),
    Query("events_heavy_hitters", _events_heavy_hitters, _HEAVY_HITTERS_SQL,
          "north-star: count-min-sketch heavy hitters — exact top-10 "
          "counts hash-checked beside CMS guarantee flags (driver row "
          "since round 10)"),
    Query("retrieval_bm25_suite", _retrieval_bm25_suite,
          _RETRIEVAL_BM25_SQL,
          "north-star: single-term + multi-term-bag BM25 retrieval "
          "top-k, labeled — full pipelines replayed by DuckDB "
          "(consolidated round 11)"),
    Query("curriculum_suite", _curriculum_suite, _CURRICULUM_SUITE_SQL,
          "north-star: curriculum phase assignment — default (auto) "
          "and forced corpus-scale boundary strategies hash-checked "
          "side by side (consolidated round 11)"),
    Query("similarity_topk_ivf", _similarity_topk_ivf, None,
          "north-star: IVF centroid-bucketed ANN (rows-only; exact twin = bruteforce)"),
    Query("embedding_near_dup", _embedding_near_dup, None,
          "north-star: embedding-cosine near-dup via LSH + exact verify (rows-only)"),
    Query("approx_distinct_events", _approx_distinct_events, None,
          "§2.2 aggregates: HLL approx_count_distinct (rows-only; exact twin = agg_count_distinct)"),
    Query("docs_quality_ml", _docs_quality_ml, None,
          "north-star: hashed-ngram logistic-regression quality scores "
          "(fastText-style classifier leg; rows-only — planted-seed "
          "separation pinned in tests/test_quality_classifier.py)"),
]

# Constituents of the suites above: still first-class library queries —
# benchable, unit-tested, importable — just not separate driver rows.
def _docs_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group sample (operators/corpus.py
    deterministic_group_sample): exactly 3 docs per language, chosen
    by the smallest Knuth coin on doc_id — the reproducible eval-set
    builder.  The oracle replays the identical integer hash and
    tie-break, so both engines pick the same documents."""
    from datawarehouse_code_spark.operators.corpus import (
        deterministic_group_sample,
    )

    docs = read_table(spark, "documents", sf_dir)
    return deterministic_group_sample(docs, ["lang"], "doc_id", 3).select(
        "doc_id", "lang", "source"
    )


_GROUP_SAMPLE_SQL = f"""
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {knuth_hash_sql('doc_id')} ASC,
                    doc_id ASC
         ) AS rk
  FROM documents
) t WHERE rk <= 3
"""


def _bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first merge-selection step of BPE/WordPiece tokenizer
    training at corpus scale: count ADJACENT word pairs across all
    documents and rank the merge candidates (top 200, ties broken
    lexicographically so both engines cut identically).  Same
    explode→two-phase-agg→TakeOrdered shape as vocab_top_terms — the
    pair explode is a narrow zip of the word array with its shift,
    one shuffle total."""
    docs = read_table(spark, "documents", sf_dir)
    ws = words(F.col("text"))
    pairs = docs.select(
        F.explode(
            F.arrays_zip(
                F.slice(ws, 1, F.greatest(F.size(ws) - 1, F.lit(0))).alias("w1"),
                F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))).alias("w2"),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    return (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(200)
    )


_BPE_PAIRS_SQL = f"""
WITH w AS (
  SELECT {_WORDS_SQL} AS ws FROM documents
), zipped AS (
  SELECT unnest(list_zip(ws[1:len(ws) - 1], ws[2:len(ws)])) AS p FROM w
), pairs AS (
  SELECT p[1] AS w1, p[2] AS w2 FROM zipped
)
SELECT w1, w2, count(*) AS n
FROM pairs
GROUP BY 1, 2
ORDER BY n DESC, w1 ASC, w2 ASC
LIMIT 200
"""


# decomposed combining sequences planted per doc_id%4: each is 2 code
# points that NFC composes to 1 (e-acute, A-ring, n-tilde, o-umlaut)
_NFC_MARKERS = ["é", "Å", "ñ", "ö"]


def _text_nfc_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization (operators/text.py normalize_unicode):
    plant a DECOMPOSED combining sequence per document (chosen by
    doc_id, so the oracle replays it literally), NFC-normalize, and
    emit pre/post character counts plus the md5 of the normalized
    text — composition is visible in the hash-checked length drop
    (every planted sequence shrinks 2→1) and the byte-exact digest
    (DuckDB nfc_normalize implements the same stable canonical
    composition)."""
    from datawarehouse_code_spark.operators.text import normalize_unicode

    docs = read_table(spark, "documents", sf_dir)
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" "),
            F.element_at(
                F.array(*[F.lit(m) for m in _NFC_MARKERS]),
                # pmod, not %: Spark's % is sign-preserving, so a
                # negative doc_id would index 0 (Spark raises, DuckDB
                # yields NULL) — the _STRATIFIED_SQL double-mod rule
                (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("int"),
            ),
        ).alias("t"),
    )
    return planted.select(
        "doc_id",
        F.length("t").cast("bigint").alias("pre_chars"),
        normalize_unicode(F.col("t")).alias("nt"),
    ).select(
        "doc_id",
        "pre_chars",
        F.length("nt").cast("bigint").alias("post_chars"),
        F.md5(F.encode(F.col("nt"), "utf-8")).alias("h"),
    )


_NFC_SQL = f"""
WITH planted AS (
  SELECT doc_id,
         text || ' ' ||
         (['{_NFC_MARKERS[0]}', '{_NFC_MARKERS[1]}',
           '{_NFC_MARKERS[2]}', '{_NFC_MARKERS[3]}'][(doc_id % 4 + 4) % 4 + 1]) AS t
  FROM documents
)
SELECT doc_id,
       CAST(length(t) AS BIGINT) AS pre_chars,
       CAST(length(nfc_normalize(t)) AS BIGINT) AS post_chars,
       md5(nfc_normalize(t)) AS h
FROM planted
"""


def _image_stats_row(d: int) -> tuple[int, str, bytes]:
    fmt = d % 3
    if fmt == 2:
        w, h = 8 + d % 17, 8 + d % 11
        jpeg = encode_gray_jpeg(
            w, h, (37 * d) % 256, restart_interval=2 if d % 2 else 0
        )
        return d, "image/jpeg", jpeg
    w, h = 4 + d % 13, 3 + d % 7
    rgb = (d % 256, (3 * d) % 256, (7 * d) % 256)
    if fmt == 0:
        return d, "image/x-ppm", encode_const_ppm(w, h, rgb)
    return d, "image/bmp", encode_const_bmp(w, h, rgb)


def _decoded_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode across all three native codec branches in one
    Arrow pipeline (r7 verdict ask #4): per doc_id, synthesize a
    constant-color payload in a distributed mapInPandas stage — PPM
    (doc_id%3=0), 24-bit BMP (=1), or BASELINE JPEG (=2: constant
    gray, all-ones quant table, odd ids add restart intervals) — then
    run operators/multimodal.decode_image inside decoded_image_stats
    and emit integer per-channel sums.  Constant payloads decode
    BIT-EXACTLY in every branch (a constant block is DC-only and the
    all-ones table quantizes losslessly), so the oracle states
    width/height/sums in closed form from doc_id alone — a header
    mis-parse, channel swap, padding bug, Huffman/IDCT error, or
    restart-marker mishandling all flip the hash."""
    return decoded_image_stats(
        _media_fixture(spark, sf_dir, _image_stats_row)
    )


_DECODED_STATS_SQL = """
SELECT doc_id AS media_id,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 8 + doc_id % 17
                 ELSE 4 + doc_id % 13 END AS INT) AS width,
       CAST(CASE WHEN doc_id % 3 = 2 THEN 8 + doc_id % 11
                 ELSE 3 + doc_id % 7 END AS INT) AS height,
       CAST(CASE WHEN doc_id % 3 = 2
                 THEN (8 + doc_id % 17) * (8 + doc_id % 11) * ((37 * doc_id) % 256)
                 ELSE (4 + doc_id % 13) * (3 + doc_id % 7) * (doc_id % 256)
            END AS BIGINT) AS sum_r,
       CAST(CASE WHEN doc_id % 3 = 2
                 THEN (8 + doc_id % 17) * (8 + doc_id % 11) * ((37 * doc_id) % 256)
                 ELSE (4 + doc_id % 13) * (3 + doc_id % 7) * ((3 * doc_id) % 256)
            END AS BIGINT) AS sum_g,
       CAST(CASE WHEN doc_id % 3 = 2
                 THEN (8 + doc_id % 17) * (8 + doc_id % 11) * ((37 * doc_id) % 256)
                 ELSE (4 + doc_id % 13) * (3 + doc_id % 7) * ((7 * doc_id) % 256)
            END AS BIGINT) AS sum_b
FROM documents
"""


def _audio_stats_row(d: int) -> tuple[int, str, bytes]:
    samples = [((d * 37 + i * 211) % 4096) - 2048 for i in range(16 + d % 48)]
    return d, "audio/wav", encode_pcm_wav(8000 + (d % 8) * 1000, [samples])


def _decoded_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV decode inside the Arrow pipeline — the audio twin of
    decoded_png_stats: per doc_id, synthesize a deterministic 16-bit
    mono PCM WAV in a distributed mapInPandas stage
    (operators/multimodal.py encode_pcm_wav; sample i =
    ((doc_id·37 + i·211) mod 4096) − 2048), then run the pure-Python
    RIFF chunk walk + PCM decode inside decoded_audio_stats.  The
    oracle restates every stat in closed form from doc_id alone
    (sum |v| and peak via a range unnest, zero crossings via lag) —
    a header mis-parse, block-align slip, sign/centering bug or
    channel interleave error all flip the hash."""
    return decoded_audio_stats(
        _media_fixture(spark, sf_dir, _audio_stats_row)
    )


_AUDIO_STATS_SQL = """
WITH f AS (
  SELECT doc_id, 8000 + (doc_id % 8) * 1000 AS sample_rate,
         16 + doc_id % 48 AS n
  FROM documents
), s AS (
  SELECT f.doc_id, f.sample_rate, f.n, g.i AS i,
         ((f.doc_id * 37 + g.i * 211) % 4096) - 2048 AS v
  FROM f, unnest(range(0, f.n)) AS g(i)
), z AS (
  SELECT doc_id, sample_rate, n, i, v,
         lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
  FROM s
)
SELECT doc_id AS media_id,
       CAST(sample_rate AS INTEGER) AS sample_rate,
       CAST(1 AS INTEGER) AS n_channels,
       CAST(n AS BIGINT) AS n_frames,
       CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
       CAST(max(abs(v)) AS INTEGER) AS peak_abs,
       CAST(sum(CASE WHEN pv IS NOT NULL AND ((v < 0) <> (pv < 0))
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross
FROM z
GROUP BY 1, 2, 3, 4
"""


def _docs_cdc_shared_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk dedup (operators/text.py
    cdc_shared_chunks — the Rabin/LBFS cut rule at word grain):
    chunks bounded by md5-hex-prefix boundary words, so a one-word
    insertion re-chunks only the edited region; the report lists
    every ≥3-word chunk text shared by ≥2 documents.  DuckDB replays
    the whole pipeline — tokenization with positions, the boundary
    predicate, the running boundary count, position-ordered chunk
    reassembly, md5, and the cross-doc aggregation."""
    from datawarehouse_code_spark.operators.text import cdc_shared_chunks

    return cdc_shared_chunks(read_table(spark, "documents", sf_dir))


_CDC_CHUNKS_CTE = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
), tok AS (
  SELECT doc_id, g.i - 1 AS pos, ws[g.i] AS word
  FROM w, unnest(range(1, len(ws) + 1)) AS g(i)
  WHERE ws[g.i] <> ''
), fl AS (
  SELECT doc_id, pos, word,
         CASE WHEN substr(md5(word), 1, 1) IN ('0', '1') THEN 1 ELSE 0 END AS b
  FROM tok
), ch AS (
  SELECT doc_id, pos, word,
         CAST(sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS chunk_idx
  FROM fl
), chunks AS (
  SELECT doc_id, chunk_idx, count(*) AS n_words,
         md5(string_agg(word, ' ' ORDER BY pos)) AS chunk_hash
  FROM ch GROUP BY 1, 2
)"""

_CDC_SHARED_SQL = f"""{_CDC_CHUNKS_CTE}
SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occurrences,
       CAST(min(n_words) AS BIGINT) AS n_words,
       min(doc_id) AS min_doc_id
FROM chunks WHERE n_words >= 3
GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2
"""


def _docs_cdc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Increment-vs-corpus CDC matching through the persisted chunk
    index (operators/text.py build_cdc_index / cdc_matches_incremental):
    corpus = doc_id % 10 != 0, increment = every 10th doc; the
    increment is chunked fresh and equi-joined against the index —
    the corpus is never re-chunked.  DuckDB replays the whole thing:
    both chunkings, the min-words filter, the hot-chunk cap, the
    equi-join and the per-pair chunk/word sums."""
    from datawarehouse_code_spark.operators.text import (
        build_cdc_index,
        cdc_matches_incremental,
    )

    docs = read_table(spark, "documents", sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    inc = docs.filter(F.col("doc_id") % 10 == 0)
    return cdc_matches_incremental(inc, build_cdc_index(corpus))


_CDC_INCR_SQL = f"""{_CDC_CHUNKS_CTE}
, filt AS (
  SELECT doc_id, chunk_hash, n_words FROM chunks WHERE n_words >= 3
), idx AS (
  SELECT doc_id, chunk_hash, n_words FROM filt WHERE doc_id % 10 <> 0
), cap AS (
  SELECT chunk_hash FROM idx
  GROUP BY chunk_hash HAVING count(DISTINCT doc_id) <= 5000
), inc AS (
  SELECT doc_id, chunk_hash, n_words FROM filt WHERE doc_id % 10 = 0
)
SELECT inc.doc_id AS d_new, i.doc_id AS d_corpus,
       count(*) AS n_shared_chunks,
       CAST(sum(inc.n_words) AS BIGINT) AS n_shared_words
FROM inc
JOIN (SELECT idx.* FROM idx JOIN cap USING (chunk_hash)) i USING (chunk_hash)
WHERE inc.doc_id <> i.doc_id
GROUP BY 1, 2
"""


def _similarity_matryoshka_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka prefix-truncation evaluation (operators/similarity.py
    matryoshka_topk_recall): top-5 by cosine over the first 16 of 64
    dims vs the exact full-dim top-5, per-query overlap counts —
    including zero-overlap queries (left join).  DuckDB replays both
    exact rankings (shared floor-6 grain and tiebreaks, the
    _SIM_BRUTE_SQL shape twice, once over v[1:16]) and the overlap
    join."""
    from datawarehouse_code_spark.operators.similarity import (
        matryoshka_topk_recall,
    )

    return matryoshka_topk_recall(
        read_table(spark, "embeddings", sf_dir), prefix_dim=16
    )


_MATRYOSHKA_SQL = """
WITH vecs AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), fullv AS (
  SELECT vec_id, v,
         1.0 / sqrt(list_sum(list_transform(v, x -> x * x))) AS inv
  FROM vecs
), truncv AS (
  SELECT vec_id, v[1:16] AS v,
         1.0 / sqrt(list_sum(list_transform(v[1:16], x -> x * x))) AS inv
  FROM vecs
), fp AS (
  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
         (list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
          * q.inv) * c.inv AS sim
  FROM fullv q JOIN fullv c ON q.vec_id < 100 AND q.vec_id <> c.vec_id
), fr AS (
  SELECT query_id, candidate_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY floor(sim * 1e6) / 1e6 DESC, candidate_id ASC) AS rk
    FROM fp
  ) WHERE rk <= 5
), tp AS (
  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
         (list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))
          * q.inv) * c.inv AS sim
  FROM truncv q JOIN truncv c ON q.vec_id < 100 AND q.vec_id <> c.vec_id
), tr AS (
  SELECT query_id, candidate_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY floor(sim * 1e6) / 1e6 DESC, candidate_id ASC) AS rk
    FROM tp
  ) WHERE rk <= 5
)
SELECT q.query_id,
       CAST(coalesce(o.n_overlap, 0) AS BIGINT) AS n_overlap,
       CAST(5 AS INTEGER) AS k
FROM (SELECT DISTINCT query_id FROM fr) q
LEFT JOIN (
  SELECT query_id, count(*) AS n_overlap
  FROM fr JOIN tr USING (query_id, candidate_id)
  GROUP BY 1
) o USING (query_id)
"""


def _docs_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup pairs (operators/text.py
    winnowing_near_dup_pairs — the MOSS fingerprint scheme): 3-gram
    md5s, window-4 minima over full windows, hot-fingerprint cap at
    50 docs, pairs sharing ≥2 selected fingerprints.  DuckDB replays
    gram hashing, the windowed minima with the full-window cutoff,
    the distinct selection, the hot cap, and the pair count."""
    from datawarehouse_code_spark.operators.text import (
        winnowing_near_dup_pairs,
    )

    return winnowing_near_dup_pairs(read_table(spark, "documents", sf_dir))


_WINNOWING_FPS_CTE = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
), g AS (
  SELECT doc_id, t.i - 1 AS pos,
         md5(ws[t.i] || ' ' || ws[t.i + 1] || ' ' || ws[t.i + 2]) AS gh
  FROM w, unnest(range(1, len(ws) - 1)) AS t(i)
), m AS (
  SELECT doc_id, pos,
         min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM g
), fps AS (
  SELECT DISTINCT doc_id, fp FROM m WHERE pos <= n - 4
)"""

_WINNOWING_SQL = f"""{_WINNOWING_FPS_CTE}
, cold AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) <= 50
), capped AS (
  SELECT doc_id, fp FROM fps JOIN cold USING (fp)
)
SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
FROM capped a JOIN capped b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2
"""


def _docs_cdc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric chunk containment (operators/text.py
    cdc_containment): directional shared-distinct-chunk-word ratios
    at the ≥3-word CDC grain, threshold 0.5 — the quote/subset
    report.  DuckDB replays the chunking, the per-doc distinct, the
    integer sums and the floor-4 ratio."""
    from datawarehouse_code_spark.operators.text import cdc_containment

    return cdc_containment(read_table(spark, "documents", sf_dir))


_CDC_CONTAIN_SQL = f"""{_CDC_CHUNKS_CTE}
, dchunks AS (
  SELECT DISTINCT doc_id, chunk_hash, n_words
  FROM chunks WHERE n_words >= 3
), totals AS (
  SELECT doc_id AS d1, CAST(sum(n_words) AS BIGINT) AS d1_words
  FROM dchunks GROUP BY 1
), shared AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         CAST(sum(a.n_words) AS BIGINT) AS shared_words
  FROM dchunks a JOIN dchunks b USING (chunk_hash)
  WHERE a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2, shared_words, d1_words,
       floor(shared_words * 1e4 / d1_words) / 1e4 AS containment_f4
FROM shared JOIN totals USING (d1)
WHERE floor(shared_words * 1e4 / d1_words) / 1e4 >= 0.5
"""


def _docs_unigram_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer end-to-end (operators/tokenizer.py
    unigram_train / unigram_encode — the SentencePiece algorithm
    family beside the BPE trainer): train a 120-piece vocabulary
    (hard-EM Viterbi, 2 rounds) on the corpus's word-frequency table,
    encode every document, report per-doc token counts.  Rows-only:
    the Viterbi DP is not SQL-expressible — the exact twin is the
    brute-force segmentation enumeration + roundtrip + cross-
    partitioning determinism pins in tests/test_unigram_tokenizer.py."""
    from datawarehouse_code_spark.operators.tokenizer import (
        unigram_encode,
        unigram_train,
    )

    docs = read_table(spark, "documents", sf_dir)
    pieces = unigram_train(
        docs, vocab_size=120, n_iters=2, max_piece_len=3, seed_size=400
    )
    return unigram_encode(docs, pieces).select(
        "doc_id", "n_tokens",
        F.size(F.array_distinct("tokens")).cast("int").alias("n_distinct"),
    )


def _docs_shard_mix_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard data-ordering diagnostic (operators/corpus.py
    shard_mix_quality): per trainer shard (knuth-hash over 8), the
    adjacent-same-language counts along the loader's doc_id read
    order.  DuckDB replays the shard hash, the per-shard lag window
    and the integer adjacency counts."""
    from datawarehouse_code_spark.operators.corpus import shard_mix_quality

    return shard_mix_quality(
        read_table(spark, "documents", sf_dir), 8, "lang"
    )


_SHARD_MIX_SQL = f"""
WITH s AS (
  SELECT doc_id, lang,
         CAST(({knuth_hash_sql('doc_id')}) % 8 AS INTEGER) AS shard_id
  FROM documents
), lagged AS (
  SELECT shard_id, lang,
         lag(lang) OVER (PARTITION BY shard_id ORDER BY doc_id) AS prev
  FROM s
)
SELECT shard_id, count(*) AS n_docs,
       count(prev) AS n_adjacent,
       CAST(sum(CASE WHEN prev = lang THEN 1 ELSE 0 END) AS BIGINT)
           AS n_same_strata
FROM lagged GROUP BY shard_id
"""


def _docs_winnowing_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing match LOCALIZATION (operators/text.py
    winnowing_match_spans — the attribution report MOSS exists for):
    per near-dup pair, the bracketing gram-position spans of the
    shared fingerprints on BOTH sides.  DuckDB replays gram hashing,
    the windowed minima, the per-(doc, fp) position brackets, the
    carrier cap and the per-pair span aggregation."""
    from datawarehouse_code_spark.operators.text import (
        winnowing_match_spans,
    )

    return winnowing_match_spans(read_table(spark, "documents", sf_dir))


_WINNOWING_SPANS_SQL = f"""
WITH w AS (
  SELECT doc_id, {_WORDS_SQL} AS ws FROM documents
), g AS (
  SELECT doc_id, t.i - 1 AS pos,
         md5(ws[t.i] || ' ' || ws[t.i + 1] || ' ' || ws[t.i + 2]) AS gh
  FROM w, unnest(range(1, len(ws) - 1)) AS t(i)
), m AS (
  SELECT doc_id, pos,
         min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY doc_id) AS n
  FROM g
), fps AS (
  SELECT doc_id, fp, CAST(min(pos) AS BIGINT) AS first_pos,
         CAST(max(pos) AS BIGINT) AS last_pos
  FROM m WHERE pos <= n - 4
  GROUP BY 1, 2
), cold AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) <= 50
), capped AS (
  SELECT f.* FROM fps f JOIN cold USING (fp)
)
SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared,
       CAST(min(a.first_pos) AS BIGINT) AS d1_first,
       CAST(max(a.last_pos) AS BIGINT) AS d1_last,
       CAST(min(b.first_pos) AS BIGINT) AS d2_first,
       CAST(max(b.last_pos) AS BIGINT) AS d2_last
FROM capped a JOIN capped b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2
"""


def _docs_winnowing_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Increment-vs-corpus winnowing through the persisted fingerprint
    index (operators/text.py build_winnowing_index /
    winnowing_matches_incremental): corpus = doc_id % 10 != 0,
    increment = every 10th doc, min_shared = 1.  DuckDB replays both
    fingerprint selections, the hot-fp cap (counted per distinct
    corpus doc) and the pair counts."""
    from datawarehouse_code_spark.operators.text import (
        build_winnowing_index,
        winnowing_matches_incremental,
    )

    docs = read_table(spark, "documents", sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    inc = docs.filter(F.col("doc_id") % 10 == 0)
    return winnowing_matches_incremental(
        inc, build_winnowing_index(corpus), min_shared=1
    )


_WINNOWING_INCR_SQL = f"""{_WINNOWING_FPS_CTE}
, idx0 AS (
  SELECT doc_id, fp FROM fps WHERE doc_id % 10 <> 0
), cold AS (
  SELECT fp FROM idx0 GROUP BY fp HAVING count(DISTINCT doc_id) <= 50
), idx AS (
  SELECT doc_id, fp FROM idx0 JOIN cold USING (fp)
), inc AS (
  SELECT doc_id, fp FROM fps WHERE doc_id % 10 = 0
)
SELECT inc.doc_id AS d_new, idx.doc_id AS d_corpus,
       count(*) AS n_shared
FROM inc JOIN idx USING (fp)
WHERE inc.doc_id <> idx.doc_id
GROUP BY 1, 2
"""


def _phash_row(d: int) -> tuple[int, str, bytes]:
    grp, mem = d // 4, d % 4
    rb = [knuth_int(grp * 8 + r) % 256 for r in range(8)]
    rb[7] ^= (1 << mem) - 1
    raster = dhash_raster(rb)
    if d % 2 == 0:
        return d, "image/pgm", encode_gray_pgm(9, 8, raster)
    pixels = bytes(v for px in raster for v in (px, px, px))
    return d, "image/ppm", b"P6\n9 8\n255\n" + pixels


def _phash_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perceptual-hash oracle fixture: per doc_id a REAL 9x8
    grayscale PGM whose dHash bits are a closed-form function of the
    id — group = doc_id//4 draws eight Knuth-hashed row bytes, member
    = doc_id%4 XORs the low `member` bits into row 7, and the raster
    walks ±1 per bit from 128 so the strict left<right comparison
    recovers exactly those bits after decode.  Four members of a group
    are planted near-duplicates at pairwise hamming |m1−m2| ≤ 3 that
    always share bands 0-2.

    Codec mix: even ids encode as P5 PGM (1-channel decode branch),
    odd ids as P6 PPM with r=g=b (3-channel branch, grayscale as the
    channel mean) — the SAME raster values through two real decoders,
    so the closed-form hash oracle is unchanged while the row
    exercises both lanes."""
    return _media_fixture(spark, sf_dir, _phash_row)


def _media_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup pairs (operators/media_dedup.py
    image_dhash + dhash_near_dup_pairs) over REAL encoded-then-decoded
    PGM payloads: banded 64-bit dHash, hot-band cap at 50 distinct
    media, exact hamming verification ≤ 6.  DuckDB replays the WHOLE
    detection from the closed-form bit construction — Knuth row
    bytes, the member flips, 16-bit band packing, the distinct-carrier
    cap, the band self-join and the per-pair exact hamming — so a
    decode slip, band mis-pack, cap-grain change or verify bug all
    flip the hash."""
    from datawarehouse_code_spark.operators.media_dedup import (
        dhash_near_dup_pairs,
        image_dhash,
    )

    return dhash_near_dup_pairs(
        image_dhash(_phash_media(spark, sf_dir)),
        max_hamming=6, band_cap=50,
    )


_PHASH_BANDS_CTE = f"""
WITH m AS (
  SELECT doc_id, doc_id // 4 AS grp, doc_id % 4 AS mem FROM documents
), rb AS (
  SELECT doc_id, g.r AS r,
         CASE WHEN g.r = 7
              THEN xor(CAST(({knuth_hash_sql('grp * 8 + g.r')}) % 256 AS INTEGER),
                       CAST((1 << mem) - 1 AS INTEGER))
              ELSE CAST(({knuth_hash_sql('grp * 8 + g.r')}) % 256 AS INTEGER)
         END AS byte
  FROM m, unnest(range(0, 8)) AS g(r)
), bands AS (
  SELECT doc_id, CAST(r // 2 AS INTEGER) AS band_idx,
         CAST(sum(byte * CASE WHEN r % 2 = 0 THEN 1 ELSE 256 END) AS INTEGER)
             AS band_val
  FROM rb GROUP BY 1, 2
), hw AS (
  SELECT doc_id,
         max(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
         max(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
         max(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
         max(CASE WHEN band_idx = 3 THEN band_val END) AS b3
  FROM bands GROUP BY doc_id
)"""

_PHASH_PAIRS_SQL = f"""{_PHASH_BANDS_CTE}
, cold AS (
  SELECT band_idx, band_val FROM bands
  GROUP BY 1, 2 HAVING count(DISTINCT doc_id) <= 50
), cb AS (
  SELECT b.doc_id, b.band_idx, b.band_val
  FROM bands b JOIN cold USING (band_idx, band_val)
), cand AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2,
         CAST(count(*) AS INTEGER) AS n_shared_bands
  FROM cb a JOIN cb b USING (band_idx, band_val)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT * FROM (
  SELECT d1, d2, n_shared_bands,
         CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
            + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
              AS INTEGER) AS hamming
  FROM cand JOIN hw x ON x.doc_id = d1 JOIN hw y ON y.doc_id = d2
) WHERE hamming <= 6
"""


def _media_phash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Increment-vs-corpus perceptual matching through the persisted
    dHash index (operators/media_dedup.py build_dhash_index /
    dhash_matches_incremental): corpus = doc_id % 10 != 0, increment =
    every 10th doc; the increment is decoded and hashed fresh and
    equi-joins the index bands — the corpus is never re-decoded.
    DuckDB replays both hashings, the read-time distinct-carrier cap
    and the per-pair exact hamming."""
    from datawarehouse_code_spark.operators.media_dedup import (
        build_dhash_index,
        dhash_matches_incremental,
    )

    media = _phash_media(spark, sf_dir)
    corpus = media.filter(F.col("media_id") % 10 != 0)
    inc = media.filter(F.col("media_id") % 10 == 0)
    # the freshly-built index feeds the read-time cap + the join; a
    # real caller reads it from parquet — materialize it once here so
    # the fixture encode+decode+hash doesn't re-run per consumer
    return dhash_matches_incremental(
        inc, cut_lineage(build_dhash_index(corpus)),
        max_hamming=6, band_cap=50,
    )


_PHASH_INCR_SQL = f"""{_PHASH_BANDS_CTE}
, idx0 AS (
  SELECT doc_id, band_idx, band_val FROM bands WHERE doc_id % 10 <> 0
), cold AS (
  SELECT band_idx, band_val FROM idx0
  GROUP BY 1, 2 HAVING count(DISTINCT doc_id) <= 50
), idx AS (
  SELECT doc_id, band_idx, band_val FROM idx0
  JOIN cold USING (band_idx, band_val)
), inc AS (
  SELECT doc_id, band_idx, band_val FROM bands WHERE doc_id % 10 = 0
), cand AS (
  SELECT inc.doc_id AS d_new, idx.doc_id AS d_corpus,
         CAST(count(*) AS INTEGER) AS n_shared_bands
  FROM inc JOIN idx USING (band_idx, band_val)
  WHERE inc.doc_id <> idx.doc_id
  GROUP BY 1, 2
)
SELECT * FROM (
  SELECT d_new, d_corpus, n_shared_bands,
         CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
            + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
              AS INTEGER) AS hamming
  FROM cand JOIN hw x ON x.doc_id = d_new JOIN hw y ON y.doc_id = d_corpus
) WHERE hamming <= 6
"""


def _phash_base_raster(grp: int, upscale: bool = False):
    """The pHash fixtures' 32×32 base raster for group `grp` (sha256
    expansion — cryptographically strong, so no periodic twin-group
    trap), optionally 2×-upscaled with every pixel doubled into a
    2×2 block.  The ONE construction _phash_dct_media and
    _phash_video_media both draw from: the salt string and the
    repeat geometry are the coupling that keeps the planted
    hamming-0 oracles true, so they live in exactly one place."""
    import hashlib

    import numpy as np

    vals = np.frombuffer(
        b"".join(
            hashlib.sha256(f"phash:{grp}:{i}".encode()).digest()
            for i in range(32)
        ),
        dtype=np.uint8,
    ).reshape(32, 32)
    if upscale:
        vals = np.repeat(np.repeat(vals, 2, axis=0), 2, axis=1)
    return vals


def _phash_dct_row(d: int) -> tuple[int, str, bytes]:
    vals = _phash_base_raster(d // 2, upscale=bool(d % 2))
    pgm = encode_gray_pgm(vals.shape[1], vals.shape[0], vals.tobytes())
    return d, "image/pgm", pgm


def _phash_dct_media(
    spark: SparkSession, sf_dir: str, parity: int | None = None
) -> DataFrame:
    """The DCT-pHash oracle fixture: per doc_id a REAL grayscale PGM —
    group doc_id//2 draws a 32×32 base raster (_phash_base_raster;
    the oracle here is OUTCOME-grain and never replays pixels),
    member 0 encodes it at 32×32 and member 1 at 64×64 with every
    pixel doubled into a 2×2 block.  Member 1 is the ORIGINAL and
    member 0 its aligned 2× box/bilinear downscale, and the downscale
    recovers the base EXACTLY, so the twins pHash identically by
    construction — the interpolated-rescale robustness dHash
    excludes — while distinct groups are unrelated rasters whose DCT
    signs differ in ~half of 63 bits.

    `parity` (0 or 1) keeps only that member."""
    where = None if parity is None else F.col("doc_id") % 2 == parity
    return _media_fixture(spark, sf_dir, _phash_dct_row, where)


def _media_phash_dct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT-pHash near-dup pairs (operators/media_dedup.py image_phash
    through the UNCHANGED dHash band machinery — same band layout, so
    dhash_near_dup_pairs runs verbatim on the pHash table): 32×32
    area downsample, orthonormal 2D DCT-II, top-left 8×8 thresholded
    at the non-DC median, banded pair join with exact hamming verify.
    Oracle grain is the planted OUTCOME: the fixture's twins (an
    original and its aligned 2× box downscale) pHash identically by
    construction and distinct groups never fall within hamming 6, so
    DuckDB states the closed-form expected pair set — (2g, 2g+1),
    4 shared bands, hamming 0 — while the DCT arithmetic itself is
    construction-pinned in tests/test_media_dedup.py (downscale
    exactness, brightness = DC-bit-only, codec parity)."""
    from datawarehouse_code_spark.operators.media_dedup import (
        dhash_near_dup_pairs,
        image_phash,
    )

    return dhash_near_dup_pairs(
        image_phash(_phash_dct_media(spark, sf_dir)),
        max_hamming=6, band_cap=50,
    )


_PHASH_DCT_PAIRS_SQL = """
WITH g AS (
  SELECT doc_id // 2 AS grp FROM documents GROUP BY 1 HAVING count(*) = 2
)
SELECT CAST(grp * 2 AS BIGINT) AS d1, CAST(grp * 2 + 1 AS BIGINT) AS d2,
       CAST(4 AS INTEGER) AS n_shared_bands, CAST(0 AS INTEGER) AS hamming
FROM g
"""


def _media_phash_dct_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Increment-vs-corpus DCT-pHash matching through the persisted
    band index — the nightly-increment shape for the rescale
    detector: the corpus side indexes the ORIGINALS (odd members,
    64×64), the increment is their 2× box downscales (even members,
    32×32), and every downscale lands on its original at hamming 0
    through the UNCHANGED dhash_matches_incremental machinery.  One
    image_phash pass feeds both sides (one lineage cut + member
    filters).  Oracle grain is the planted outcome, like the pairs
    row: twins hash identically by construction, distinct groups
    never fall within the radius."""
    from datawarehouse_code_spark.operators.media_dedup import (
        build_dhash_index,
        dhash_matches_incremental,
        image_phash,
    )

    hashes = cut_lineage(image_phash(_phash_dct_media(spark, sf_dir)))
    idx = build_dhash_index(
        None, hashes=hashes.filter(F.col("media_id") % 2 == 1)
    )
    return dhash_matches_incremental(
        None, idx, max_hamming=6, band_cap=50,
        new_hashes=hashes.filter(F.col("media_id") % 2 == 0),
    )


_PHASH_DCT_INCR_SQL = """
WITH g AS (
  SELECT doc_id // 2 AS grp FROM documents GROUP BY 1 HAVING count(*) = 2
)
SELECT CAST(grp * 2 AS BIGINT) AS d_new,
       CAST(grp * 2 + 1 AS BIGINT) AS d_corpus,
       CAST(4 AS INTEGER) AS n_shared_bands, CAST(0 AS INTEGER) AS hamming
FROM g
"""


def _phash_video_row(d: int) -> tuple[int, str, bytes]:
    grp = d // 2
    vals = _phash_base_raster(grp, upscale=True)
    pad = encode_gray_pgm(9, 8, bytes(range(128, 128 + 72)))
    frames = [encode_gray_pgm(64, 64, vals.tobytes()), pad]
    return grp, "video/vid0", encode_video(frames)


def _phash_video_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video side of the frame-pHash fixture: one VID0 per GROUP
    (media_id = g, built from the even member's doc row) whose frame
    0 is the 64×64 ORIGINAL raster of _phash_dct_media's group g and
    frame 1 a 9×8 pad below the pHash grid (exercising the skip in
    the oracle path).  The 32×32 member-0 image is frame 0's exact
    2× box downscale, so the cross-modal pHash match is closed-form:
    (image 2g, video g, frame 0, 4 bands, hamming 0)."""
    return _media_fixture(
        spark, sf_dir, _phash_video_row, F.col("doc_id") % 2 == 0
    )


def _video_frame_phash_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rescaled-image-in-video corner through the layout-generic
    band machinery (operators/video_dedup.py video_frame_phashes +
    image_video_matches): new 32×32 images vs a pHash FRAME index of
    videos whose frame 0 is each image's 64×64 original — the frame's
    dHash drifts past the radius under the rescale, its pHash lands
    exactly.  Oracle grain is the planted outcome (the DCT arithmetic
    is construction-pinned in tests): every even doc's image meets
    its group's video at frame 0, 4 bands, hamming 0; the sub-grid
    pad frame contributes nothing."""
    from datawarehouse_code_spark.operators.media_dedup import image_phash
    from datawarehouse_code_spark.operators.video_dedup import (
        build_frame_dhash_index,
        image_video_matches,
        video_frame_phashes,
    )

    fidx = cut_lineage(
        build_frame_dhash_index(
            video_frame_phashes(_phash_video_media(spark, sf_dir))
        )
    )
    new_images = _phash_dct_media(spark, sf_dir, parity=0)
    return image_video_matches(
        image_phash(new_images), fidx, max_hamming=6, band_cap=50,
    )


_VIDEO_FRAME_PHASH_SQL = """
SELECT CAST(doc_id AS BIGINT) AS image_id,
       CAST(doc_id // 2 AS BIGINT) AS video_id,
       CAST(0 AS INTEGER) AS frame_idx,
       CAST(4 AS INTEGER) AS n_shared_bands, CAST(0 AS INTEGER) AS hamming
FROM documents WHERE doc_id % 2 = 0
"""


def _audio_fp_row(d: int) -> tuple[int, str, bytes]:
    grp, off = d // 4, (d % 4) * 8
    samples = [((grp * 37 + (i + off) * 211) % 4096) - 2048 for i in range(96)]
    return d, "audio/wav", encode_pcm_wav(8000, [samples])


def _audio_fp_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The audio-fingerprint oracle fixture: per doc_id a REAL 16-bit
    PCM WAV of 96 samples where group = doc_id//4 picks the base
    signal f(g, j) = ((g·37 + j·211) mod 4096) − 2048 and member =
    doc_id%4 starts reading it `member` hops (of 8 samples) later — a
    hop-aligned shifted copy, so members share all overlapping
    fingerprint grams and the oracle can restate every energy window
    in closed form."""
    return _media_fixture(spark, sf_dir, _audio_fp_row)


def _audio_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs (operators/media_dedup.py
    audio_fingerprints + audio_near_dup_pairs) over real
    encoded-then-decoded WAVs: windowed energies (win 16, hop 8),
    coarse quantization (>>4), md5 grams of 4 consecutive values,
    hot-fp cap at 50 carriers, pairs sharing ≥ 2 grams.  DuckDB
    replays EVERYTHING — the closed-form samples, the window energy
    sums, the quantization, the gram md5s via lead(), the
    distinct-carrier cap and the pair counts — so a decode slip,
    window off-by-one, quantizer change or cap-grain drift all flip
    the hash."""
    from datawarehouse_code_spark.operators.media_dedup import (
        audio_near_dup_pairs,
    )

    return audio_near_dup_pairs(
        _audio_fp_media(spark, sf_dir), min_shared=2, hot_cap=50
    )


_AUDIO_FPS_CTE = """
WITH p AS (
  SELECT doc_id, doc_id // 4 AS grp, (doc_id % 4) * 8 AS off FROM documents
), en AS (
  SELECT doc_id, w.w AS w,
         CAST(sum(abs(((grp * 37 + (w.w * 8 + i.i + off) * 211) % 4096)
                      - 2048)) AS BIGINT) // 16 AS q
  FROM p, unnest(range(0, 11)) AS w(w), unnest(range(0, 16)) AS i(i)
  GROUP BY 1, 2
), gr AS (
  SELECT doc_id, w,
         md5(CAST(q AS VARCHAR) || ' ' ||
             CAST(lead(q, 1) OVER dw AS VARCHAR) || ' ' ||
             CAST(lead(q, 2) OVER dw AS VARCHAR) || ' ' ||
             CAST(lead(q, 3) OVER dw AS VARCHAR)) AS fp
  FROM en
  WINDOW dw AS (PARTITION BY doc_id ORDER BY w)
), fps AS (
  SELECT DISTINCT doc_id, fp FROM gr WHERE w <= 7
)"""

_AUDIO_FP_PAIRS_SQL = f"""{_AUDIO_FPS_CTE}
, cold AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) <= 50
), capped AS (
  SELECT doc_id, fp FROM fps JOIN cold USING (fp)
)
SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
FROM capped a JOIN capped b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2
"""


def _audio_fp_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Increment-vs-corpus audio matching through the persisted
    fingerprint index (operators/media_dedup.py build_audio_fp_index /
    audio_matches_incremental): corpus = doc_id % 10 != 0, increment =
    every 10th doc, min_shared = 1 — the increment is decoded and
    fingerprinted fresh, the corpus rides the index equi-join.  DuckDB
    replays both fingerprint selections, the read-time carrier cap and
    the pair counts."""
    from datawarehouse_code_spark.operators.media_dedup import (
        audio_matches_incremental,
        build_audio_fp_index,
    )

    media = _audio_fp_media(spark, sf_dir)
    corpus = media.filter(F.col("media_id") % 10 != 0)
    inc = media.filter(F.col("media_id") % 10 == 0)
    # materialize the freshly-built index once (parquet in real use)
    return audio_matches_incremental(
        inc, cut_lineage(build_audio_fp_index(corpus)),
        min_shared=1, hot_cap=50,
    )


_AUDIO_FP_INCR_SQL = f"""{_AUDIO_FPS_CTE}
, idx0 AS (
  SELECT doc_id, fp FROM fps WHERE doc_id % 10 <> 0
), cold AS (
  SELECT fp FROM idx0 GROUP BY fp HAVING count(DISTINCT doc_id) <= 50
), idx AS (
  SELECT doc_id, fp FROM idx0 JOIN cold USING (fp)
), inc AS (
  SELECT doc_id, fp FROM fps WHERE doc_id % 10 = 0
)
SELECT inc.doc_id AS d_new, idx.doc_id AS d_corpus, count(*) AS n_shared
FROM inc JOIN idx USING (fp)
WHERE inc.doc_id <> idx.doc_id
GROUP BY 1, 2
"""


def _video_fp_row(d: int) -> tuple[int, str, bytes]:
    grp, mem = d // 4, d % 4
    frames = [
        encode_gray_pgm(9, 8, dhash_raster(
            [knuth_int(grp * 256 + fidx * 8 + r) % 256 for r in range(8)]
        ))
        for fidx in range(mem, mem + 6)
    ]
    return d, "video/vid0", encode_video(frames)


def _video_fp_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video-fingerprint oracle fixture: per doc_id a REAL VID0
    container of six 9x8 PGM frames where group = doc_id//4 owns an
    (unbounded) frame sequence — frame fidx's dHash row bytes are
    knuth(grp·256 + fidx·8 + r) mod 256 via the ±1-walk raster — and
    member = doc_id%4 starts `member` frames later (a frame-trimmed
    copy), so members share all overlapping temporal grams and every
    per-frame hash is closed-form."""
    return _media_fixture(spark, sf_dir, _video_fp_row)


def _video_fp_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup pairs (operators/video_dedup.py
    video_fingerprints + video_near_dup_pairs) over real VID0
    containers: container walk, per-frame PGM decode + dHash,
    temporal grams of 2 consecutive frame-hash keys, hot-gram cap at
    50 carriers, pairs sharing ≥ 2 grams.  DuckDB replays the WHOLE
    detection — closed-form frame bands, the ':'-joined frame keys,
    the lead()-built gram md5s, the distinct-carrier cap and the pair
    counts — so a container mis-walk, frame decode slip, key render
    change or gram off-by-one all flip the hash."""
    from datawarehouse_code_spark.operators.video_dedup import (
        video_near_dup_pairs,
    )

    return video_near_dup_pairs(
        _video_fp_media(spark, sf_dir), min_shared=2, hot_cap=50
    )


_VIDEO_FPS_CTE = f"""
WITH m AS (
  SELECT doc_id, doc_id // 4 AS grp, doc_id % 4 AS mem FROM documents
), rb AS (
  SELECT doc_id, f.j AS j, k.k AS k,
         CAST(({knuth_hash_sql('grp * 256 + (mem + f.j) * 8 + 2 * k.k')})
              % 256 AS INTEGER)
         + 256 * CAST(({knuth_hash_sql(
             'grp * 256 + (mem + f.j) * 8 + 2 * k.k + 1')})
              % 256 AS INTEGER) AS band
  FROM m, unnest(range(0, 6)) AS f(j), unnest(range(0, 4)) AS k(k)
), keys AS (
  SELECT doc_id, j,
         string_agg(CAST(band AS VARCHAR), ':' ORDER BY k) AS key
  FROM rb GROUP BY 1, 2
), gr AS (
  SELECT doc_id, j,
         md5(key || ' | ' ||
             lead(key) OVER (PARTITION BY doc_id ORDER BY j)) AS fp
  FROM keys
), fps AS (
  SELECT DISTINCT doc_id, fp FROM gr WHERE j <= 4
)"""

_VIDEO_FP_PAIRS_SQL = f"""{_VIDEO_FPS_CTE}
, cold AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(DISTINCT doc_id) <= 50
), capped AS (
  SELECT doc_id, fp FROM fps JOIN cold USING (fp)
)
SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS n_shared
FROM capped a JOIN capped b USING (fp)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2
"""


def _video_fp_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Increment-vs-corpus video matching through the persisted
    fingerprint index (operators/video_dedup.py build_video_fp_index /
    video_matches_incremental): corpus = doc_id % 10 != 0, increment =
    every 10th doc, min_shared = 1.  DuckDB replays both fingerprint
    selections, the read-time carrier cap and the pair counts."""
    from datawarehouse_code_spark.operators.video_dedup import (
        build_video_fp_index,
        video_matches_incremental,
    )

    media = _video_fp_media(spark, sf_dir)
    corpus = media.filter(F.col("media_id") % 10 != 0)
    inc = media.filter(F.col("media_id") % 10 == 0)
    # materialize the freshly-built index once (parquet in real use)
    return video_matches_incremental(
        inc, cut_lineage(build_video_fp_index(corpus)),
        min_shared=1, hot_cap=50,
    )


_VIDEO_FP_INCR_SQL = f"""{_VIDEO_FPS_CTE}
, idx0 AS (
  SELECT doc_id, fp FROM fps WHERE doc_id % 10 <> 0
), cold AS (
  SELECT fp FROM idx0 GROUP BY fp HAVING count(DISTINCT doc_id) <= 50
), idx AS (
  SELECT doc_id, fp FROM idx0 JOIN cold USING (fp)
), inc AS (
  SELECT doc_id, fp FROM fps WHERE doc_id % 10 = 0
)
SELECT inc.doc_id AS d_new, idx.doc_id AS d_corpus, count(*) AS n_shared
FROM inc JOIN idx USING (fp)
WHERE inc.doc_id <> idx.doc_id
GROUP BY 1, 2
"""


def _xmodal_row_byte(grp: int, r: int) -> int:
    """Row byte of the cross-modal fixtures: an AVALANCHE-MIXED hash
    of grp·8 + r (multiply, xor-shift 16, multiply, xor-shift 13,
    bits 8-15).  Two documented fixture traps led here:
    `% 256` of the knuth hash collapses to key·177 mod 256 (group
    period 32), and the r13 fix — bits 8-15 of the bare knuth hash —
    looked aperiodic but a MULTIPLICATIVE hash is additive:
    h(k+Δ) − h(k) = Δ·A mod 2³², so whenever Δ·8·A lands near a
    multiple of 2⁸ the byte offset between groups g and g+Δ is ~0
    for EVERY row.  Measured at sf0.1 (1250 groups): Δ=350 gave
    average inter-group hamming 1.1, planting ~25k unintended
    hamming-≤6 edges that chained g→g+350→g+700→… into a
    diameter->20 component (the 11.3 s CC bill in the r13 bench) —
    invisible at sf0.01, whose 125 groups sit below the smallest bad
    Δ.  The xor-shift rounds destroy translation structure
    (measured: ZERO cross-group pairs ≤6, minimum hamming 13, no
    band bucket >3 groups at 1250 groups), so unrelated groups
    really are unrelated and the planted match set is closed-form at
    every scale factor."""
    x = knuth_int(grp * 8 + r)
    x ^= x >> 16
    x = (x * 2246822519) % 2**32
    x ^= x >> 13
    return (x >> 8) % 256


def _xmodal_raster(grp: int, mem: int) -> bytes:
    """The 9x8 ±1-walk raster whose dHash row bytes are
    _xmodal_row_byte(grp, r), with the low `mem` bits of row 7
    flipped (the member construction _phash_media pins)."""
    rb = [_xmodal_row_byte(grp, r) for r in range(8)]
    rb[7] ^= (1 << mem) - 1
    return dhash_raster(rb)


def _xmodal_image_row(d: int) -> tuple[int, str, bytes]:
    return d, "image/pgm", encode_gray_pgm(9, 8, _xmodal_raster(d // 4, d % 4))


def _xmodal_image_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image side of the cross-modal fixture: per doc_id a REAL 9x8
    PGM — group doc_id//4, member doc_id%4, aperiodic row bytes (see
    _xmodal_row_byte).  Same member geometry as _phash_media: the four
    members of a group sit at pairwise hamming ≤ 3 and share bands
    0-2."""
    return _media_fixture(spark, sf_dir, _xmodal_image_row)


def _cross_modal_video_row(id_offset: int, d: int) -> tuple[int, str, bytes]:
    frames = [
        encode_gray_pgm(9, 8, _xmodal_raster(d // 4 + j, 0)) for j in range(4)
    ]
    return d + id_offset, "video/vid0", encode_video(frames)


def _cross_modal_video_media(
    spark: SparkSession, sf_dir: str, every: int = 4, id_offset: int = 0
) -> DataFrame:
    """Video side of the cross-modal fixture: one VID0 container per
    selected doc (doc_id % `every` = 0) of four 9x8 PGM frames,
    frame j PIXEL-IDENTICAL to the member-0 image of group
    doc_id//4 + j — a still image re-used inside a video.  The
    planted matches are closed-form: frame j of video d meets the
    four member images of group d//4 + j at hamming =
    popcount((1<<mem)−1) ∈ {0,1,2,3}, sharing bands 0-2 always and
    band 3 iff mem = 0.  `id_offset` shifts the video media_ids out
    of the image id space for consumers that mix both node kinds in
    one graph (the canonical-selection row)."""
    return _media_fixture(
        spark, sf_dir, functools.partial(_cross_modal_video_row, id_offset),
        F.col("doc_id") % every == 0,
    )


def _video_image_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level CROSS-MODAL matching (operators/video_dedup.py
    video_frame_dhashes + video_image_matches): every VID0 frame is
    dHashed through the image detector's exact hash and equi-joins the
    persisted image dHash band index — a still image re-used inside a
    video is detected, the blind spot temporal grams (≥2 frames) can
    never see.  DuckDB replays the WHOLE detection from the
    closed-form constructions: the image bands with their member
    XORs, the frame bands without, the read-time distinct-carrier
    index cap, the band equi-join and the per-(video, frame, image)
    exact hamming — so a frame-walk slip, band mis-pack, cap-grain
    change or verify bug all flip the hash."""
    from datawarehouse_code_spark.operators.media_dedup import (
        build_dhash_index,
        image_dhash,
    )
    from datawarehouse_code_spark.operators.video_dedup import (
        video_frame_dhashes,
        video_image_matches,
    )

    idx = cut_lineage(
        build_dhash_index(
            None, hashes=image_dhash(_xmodal_image_media(spark, sf_dir))
        )
    )  # persisted-index stand-in, materialized once
    return video_image_matches(
        video_frame_dhashes(_cross_modal_video_media(spark, sf_dir)),
        idx, max_hamming=6, band_cap=50,
    )


def _xmodal_byte_sql(key: str) -> str:
    """_xmodal_row_byte as a DuckDB fragment — the exact twin of the
    avalanche mix (multiply, xor-shift 16, multiply, xor-shift 13,
    bits 8-15; see the additive-structure note on the Python twin).
    The second multiply rides HUGEINT: (2³²−1)·2246822519 overflows
    signed BIGINT, which DuckDB raises on rather than wrapping."""
    k1 = knuth_hash_sql(f"({key})")
    x1 = f"xor({k1}, ({k1}) // 65536)"
    x2 = f"CAST((CAST(({x1}) AS HUGEINT) * 2246822519) % 4294967296 AS BIGINT)"
    x3 = f"xor({x2}, ({x2}) // 8192)"
    return f"CAST((({x3}) // 256) % 256 AS INTEGER)"


_XMODAL_BANDS_CTE = f"""
WITH m AS (
  SELECT doc_id, doc_id // 4 AS grp, doc_id % 4 AS mem FROM documents
), rb AS (
  SELECT doc_id, g.r AS r,
         CASE WHEN g.r = 7
              THEN xor({_xmodal_byte_sql('grp * 8 + g.r')},
                       CAST((1 << mem) - 1 AS INTEGER))
              ELSE {_xmodal_byte_sql('grp * 8 + g.r')}
         END AS byte
  FROM m, unnest(range(0, 8)) AS g(r)
), bands AS (
  SELECT doc_id, CAST(r // 2 AS INTEGER) AS band_idx,
         CAST(sum(byte * CASE WHEN r % 2 = 0 THEN 1 ELSE 256 END) AS INTEGER)
             AS band_val
  FROM rb GROUP BY 1, 2
), hw AS (
  SELECT doc_id,
         max(CASE WHEN band_idx = 0 THEN band_val END) AS b0,
         max(CASE WHEN band_idx = 1 THEN band_val END) AS b1,
         max(CASE WHEN band_idx = 2 THEN band_val END) AS b2,
         max(CASE WHEN band_idx = 3 THEN band_val END) AS b3
  FROM bands GROUP BY doc_id
)"""

_VIDEO_IMAGE_MATCHES_SQL = f"""{_XMODAL_BANDS_CTE}
, vf AS (
  SELECT v.doc_id AS video_id, CAST(f.j AS INTEGER) AS frame_idx,
         CAST(k.k AS INTEGER) AS band_idx,
         {_xmodal_byte_sql('(v.doc_id // 4 + f.j) * 8 + 2 * k.k')}
         + 256 * {_xmodal_byte_sql(
             '(v.doc_id // 4 + f.j) * 8 + 2 * k.k + 1')} AS band_val
  FROM documents v, unnest(range(0, 4)) AS f(j), unnest(range(0, 4)) AS k(k)
  WHERE v.doc_id % 4 = 0
), vhw AS (
  SELECT video_id, frame_idx,
         max(CASE WHEN band_idx = 0 THEN band_val END) AS fb0,
         max(CASE WHEN band_idx = 1 THEN band_val END) AS fb1,
         max(CASE WHEN band_idx = 2 THEN band_val END) AS fb2,
         max(CASE WHEN band_idx = 3 THEN band_val END) AS fb3
  FROM vf GROUP BY 1, 2
), cold AS (
  SELECT band_idx, band_val FROM bands
  GROUP BY 1, 2 HAVING count(DISTINCT doc_id) <= 50
), idx AS (
  SELECT b.doc_id, b.band_idx, b.band_val
  FROM bands b JOIN cold USING (band_idx, band_val)
), cand AS (
  SELECT vf.video_id, vf.frame_idx, idx.doc_id AS image_id,
         CAST(count(*) AS INTEGER) AS n_shared_bands
  FROM vf JOIN idx USING (band_idx, band_val)
  GROUP BY 1, 2, 3
)
SELECT * FROM (
  SELECT c.video_id, c.frame_idx, c.image_id, c.n_shared_bands,
         CAST(bit_count(xor(v.fb0, x.b0)) + bit_count(xor(v.fb1, x.b1))
            + bit_count(xor(v.fb2, x.b2)) + bit_count(xor(v.fb3, x.b3))
              AS INTEGER) AS hamming
  FROM cand c
  JOIN vhw v ON v.video_id = c.video_id AND v.frame_idx = c.frame_idx
  JOIN hw x ON x.doc_id = c.image_id
) WHERE hamming <= 6
"""


def _image_video_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REVERSE cross-modal matching (operators/video_dedup.py
    build_frame_dhash_index + image_video_matches): still images as
    the increment vs the persisted FRAME-grain dHash index of the
    video corpus — the image arriving AFTER the video that contains
    it, so detection never depends on a crawl's arrival order.  Same
    planted fixture as video_image_matches with the roles swapped;
    the DuckDB replay swaps the cap to the frame side at
    distinct-VIDEO grain (the matcher's exact read-time cap) and
    re-derives the band join + exact hamming from the closed
    forms."""
    from datawarehouse_code_spark.operators.media_dedup import image_dhash
    from datawarehouse_code_spark.operators.video_dedup import (
        build_frame_dhash_index,
        image_video_matches,
        video_frame_dhashes,
    )

    fidx = cut_lineage(
        build_frame_dhash_index(
            video_frame_dhashes(_cross_modal_video_media(spark, sf_dir))
        )
    )  # persisted-index stand-in, materialized once
    return image_video_matches(
        image_dhash(_xmodal_image_media(spark, sf_dir)),
        fidx, max_hamming=6, band_cap=50,
    )


_IMAGE_VIDEO_MATCHES_SQL = f"""{_XMODAL_BANDS_CTE}
, vf AS (
  SELECT v.doc_id AS video_id, CAST(f.j AS INTEGER) AS frame_idx,
         CAST(k.k AS INTEGER) AS band_idx,
         {_xmodal_byte_sql('(v.doc_id // 4 + f.j) * 8 + 2 * k.k')}
         + 256 * {_xmodal_byte_sql(
             '(v.doc_id // 4 + f.j) * 8 + 2 * k.k + 1')} AS band_val
  FROM documents v, unnest(range(0, 4)) AS f(j), unnest(range(0, 4)) AS k(k)
  WHERE v.doc_id % 4 = 0
), vhw AS (
  SELECT video_id, frame_idx,
         max(CASE WHEN band_idx = 0 THEN band_val END) AS fb0,
         max(CASE WHEN band_idx = 1 THEN band_val END) AS fb1,
         max(CASE WHEN band_idx = 2 THEN band_val END) AS fb2,
         max(CASE WHEN band_idx = 3 THEN band_val END) AS fb3
  FROM vf GROUP BY 1, 2
), fcold AS (
  SELECT band_idx, band_val FROM vf
  GROUP BY 1, 2 HAVING count(DISTINCT video_id) <= 50
), fidx AS (
  SELECT vf.video_id, vf.frame_idx, vf.band_idx, vf.band_val
  FROM vf JOIN fcold USING (band_idx, band_val)
), cand AS (
  SELECT b.doc_id AS image_id, fidx.video_id, fidx.frame_idx,
         CAST(count(*) AS INTEGER) AS n_shared_bands
  FROM bands b JOIN fidx USING (band_idx, band_val)
  GROUP BY 1, 2, 3
)
SELECT * FROM (
  SELECT c.image_id, c.video_id, c.frame_idx, c.n_shared_bands,
         CAST(bit_count(xor(v.fb0, x.b0)) + bit_count(xor(v.fb1, x.b1))
            + bit_count(xor(v.fb2, x.b2)) + bit_count(xor(v.fb3, x.b3))
              AS INTEGER) AS hamming
  FROM cand c
  JOIN vhw v ON v.video_id = c.video_id AND v.frame_idx = c.frame_idx
  JOIN hw x ON x.doc_id = c.image_id
) WHERE hamming <= 6
"""


def _cross_modal_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-13 perceptual-envelope family as ONE labeled suite
    (supplementary, staged for a one-swap driver-window promotion —
    the media_dedup_suite precedent): BOTH cross-modal directions
    (video frames vs the image index; new images vs the frame index)
    and BOTH DCT-pHash legs (pairs + increment-vs-index).  Normalized
    columns: d1/d2 = (detecting, corpus) ids, f = frame_idx for the
    cross-modal legs (NULL for pHash), n1 = shared bands, n2 = exact
    hamming.

    Shared materialization (the suite doctrine): the cross-modal legs
    decode the xmodal images and walk the videos ONCE each
    (lineage-cut image_dhash and video_frame_dhashes feed both
    directions), and the pHash legs share one image_phash pass
    through the hashes= pass-throughs — leg values equal the
    standalone rows' (per-payload pure functions)."""
    from datawarehouse_code_spark.operators.media_dedup import (
        build_dhash_index,
        dhash_matches_incremental,
        dhash_near_dup_pairs,
        image_dhash,
        image_phash,
    )
    from datawarehouse_code_spark.operators.video_dedup import (
        build_frame_dhash_index,
        image_video_matches,
        video_frame_dhashes,
        video_image_matches,
    )

    ihashes = cut_lineage(image_dhash(_xmodal_image_media(spark, sf_dir)))
    frames = cut_lineage(
        video_frame_dhashes(_cross_modal_video_media(spark, sf_dir))
    )
    vi = video_image_matches(
        frames, build_dhash_index(None, hashes=ihashes),
        max_hamming=6, band_cap=50,
    ).select(
        F.lit("video_image").alias("part"),
        F.col("video_id").cast("bigint").alias("d1"),
        F.col("image_id").cast("bigint").alias("d2"),
        F.col("frame_idx").cast("bigint").alias("f"),
        F.col("n_shared_bands").cast("bigint").alias("n1"),
        F.col("hamming").cast("bigint").alias("n2"),
    )
    iv = image_video_matches(
        ihashes, build_frame_dhash_index(frames),
        max_hamming=6, band_cap=50,
    ).select(
        F.lit("image_video").alias("part"),
        F.col("image_id").cast("bigint").alias("d1"),
        F.col("video_id").cast("bigint").alias("d2"),
        F.col("frame_idx").cast("bigint").alias("f"),
        F.col("n_shared_bands").cast("bigint").alias("n1"),
        F.col("hamming").cast("bigint").alias("n2"),
    )
    phashes = cut_lineage(image_phash(_phash_dct_media(spark, sf_dir)))
    pp = dhash_near_dup_pairs(
        phashes, max_hamming=6, band_cap=50
    ).select(
        F.lit("phash").alias("part"),
        F.col("d1").cast("bigint").alias("d1"),
        F.col("d2").cast("bigint").alias("d2"),
        F.lit(None).cast("bigint").alias("f"),
        F.col("n_shared_bands").cast("bigint").alias("n1"),
        F.col("hamming").cast("bigint").alias("n2"),
    )
    pi = dhash_matches_incremental(
        None,
        build_dhash_index(
            None, hashes=phashes.filter(F.col("media_id") % 2 == 1)
        ),
        max_hamming=6, band_cap=50,
        new_hashes=phashes.filter(F.col("media_id") % 2 == 0),
    ).select(
        F.lit("phash_incr").alias("part"),
        F.col("d_new").cast("bigint").alias("d1"),
        F.col("d_corpus").cast("bigint").alias("d2"),
        F.lit(None).cast("bigint").alias("f"),
        F.col("n_shared_bands").cast("bigint").alias("n1"),
        F.col("hamming").cast("bigint").alias("n2"),
    )
    return vi.unionByName(iv).unionByName(pp).unionByName(pi)


_CROSS_MODAL_SUITE_SQL = f"""
SELECT 'video_image' AS part, CAST(video_id AS BIGINT) AS d1,
       CAST(image_id AS BIGINT) AS d2, CAST(frame_idx AS BIGINT) AS f,
       CAST(n_shared_bands AS BIGINT) AS n1, CAST(hamming AS BIGINT) AS n2
FROM ({_VIDEO_IMAGE_MATCHES_SQL})
UNION ALL
SELECT 'image_video', CAST(image_id AS BIGINT), CAST(video_id AS BIGINT),
       CAST(frame_idx AS BIGINT), CAST(n_shared_bands AS BIGINT),
       CAST(hamming AS BIGINT)
FROM ({_IMAGE_VIDEO_MATCHES_SQL})
UNION ALL
SELECT 'phash', CAST(d1 AS BIGINT), CAST(d2 AS BIGINT),
       CAST(NULL AS BIGINT), CAST(n_shared_bands AS BIGINT),
       CAST(hamming AS BIGINT)
FROM ({_PHASH_DCT_PAIRS_SQL})
UNION ALL
SELECT 'phash_incr', CAST(d_new AS BIGINT), CAST(d_corpus AS BIGINT),
       CAST(NULL AS BIGINT), CAST(n_shared_bands AS BIGINT),
       CAST(hamming AS BIGINT)
FROM ({_PHASH_DCT_INCR_SQL})
"""


_XMODAL_ID_OFFSET = 1_000_000_000


def _media_canonical_cross_modal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup carried to the DROP decision: connected
    components over the UNION graph — image↔image dHash pairs plus
    image↔video containment edges (video_image_matches) — with a
    TYPE-PRIORITY survivor rule: in a mixed component the minimum
    VIDEO id survives (the superset-content rule the unified gate
    pins: the video carries the images' content), an image-only
    component keeps its minimum image id.  Video media_ids are
    shifted out of the image id space (_XMODAL_ID_OFFSET) — mixing
    node kinds in one graph needs disjoint ids.

    Fixture: videos at doc_id % 32 = 0 cover groups 8k..8k+3, so
    components are closed-form — {video 32k} ∪ images 32k..32k+15
    (survivor: the video), and every group g with g % 8 ≥ 4 is an
    image-only component of its ≤4 members (survivor: image 4g).
    The oracle states the outcome; the pair/containment/closure
    machinery is hash-pinned by its own rows."""
    from datawarehouse_code_spark.operators.corpus import (
        near_dup_components,
    )
    from datawarehouse_code_spark.operators.media_dedup import (
        build_dhash_index,
        dhash_near_dup_pairs,
        image_dhash,
    )
    from datawarehouse_code_spark.operators.video_dedup import (
        video_frame_dhashes,
        video_image_matches,
    )

    images = _xmodal_image_media(spark, sf_dir)
    videos = _cross_modal_video_media(
        spark, sf_dir, every=32, id_offset=_XMODAL_ID_OFFSET
    )
    ihashes = cut_lineage(image_dhash(images))
    frames = cut_lineage(video_frame_dhashes(videos))
    ipairs = dhash_near_dup_pairs(
        ihashes, max_hamming=6, band_cap=50
    ).select("d1", "d2")
    xedges = (
        video_image_matches(
            frames, build_dhash_index(None, hashes=ihashes),
            max_hamming=6, band_cap=50,
        )
        .select(F.col("video_id").alias("d1"),
                F.col("image_id").alias("d2"))
        .distinct()
    )
    comp = near_dup_components(ipairs.unionByName(xedges))
    nodes = images.select("media_id").unionByName(
        videos.select("media_id")
    )
    labeled = (
        nodes.join(
            comp.withColumnRenamed("doc_id", "media_id"),
            "media_id", "left",
        )
        .select(
            "media_id",
            F.coalesce("rep", "media_id").alias("rep"),
        )
    )
    off = F.lit(_XMODAL_ID_OFFSET)
    survivors = labeled.groupBy("rep").agg(
        F.min(
            F.when(F.col("media_id") >= off, F.col("media_id"))
        ).alias("vmin"),
        F.min("media_id").alias("amin"),
    )
    sid = F.coalesce("vmin", "amin")
    return survivors.select(
        sid.alias("media_id"),
        F.when(sid >= off, F.lit("video"))
        .otherwise(F.lit("image")).alias("kind"),
    )


_MEDIA_CANONICAL_XM_SQL = f"""
SELECT CAST(doc_id + {_XMODAL_ID_OFFSET} AS BIGINT) AS media_id,
       'video' AS kind
FROM documents WHERE doc_id % 32 = 0
UNION ALL
SELECT CAST(g * 4 AS BIGINT) AS media_id, 'image' AS kind
FROM (
  SELECT DISTINCT doc_id // 4 AS g FROM documents
  WHERE (doc_id // 4) % 8 >= 4
) t
"""


def _media_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dedup carried to the DROP decision — the media twin
    of corpus_survivors: dHash near-dup pairs cluster into connected
    components (operators/corpus.py near_dup_components — the same
    smallest-label machinery every text dedup uses) and only each
    component's minimum media_id survives; unpaired media survive
    untouched.  DuckDB replays the ENTIRE pipeline: the closed-form
    planted hashes, banding, cap, exact hamming, then the transitive
    closure as a recursive CTE and the min-per-component drop rule."""
    from datawarehouse_code_spark.operators.corpus import (
        near_dup_components,
    )
    from datawarehouse_code_spark.operators.media_dedup import (
        dhash_near_dup_pairs,
        image_dhash,
    )

    media = _phash_media(spark, sf_dir)
    pairs = dhash_near_dup_pairs(
        image_dhash(media), max_hamming=6, band_cap=50
    )
    dropped = (
        near_dup_components(pairs)
        .filter(F.col("rep") != F.col("doc_id"))
        .select(F.col("doc_id").alias("media_id"))
    )
    return media.select("media_id").join(dropped, "media_id", "left_anti")


_MEDIA_CANONICAL_SQL = f"""
WITH RECURSIVE edges AS (
  SELECT d1, d2 FROM ({_PHASH_PAIRS_SQL})
), sym AS (
  SELECT d1, d2 FROM edges UNION ALL SELECT d2 AS d1, d1 AS d2 FROM edges
), reach(media_id, r) AS (
  SELECT d1, d1 FROM sym
  UNION
  SELECT s.d1, reach.r FROM sym s JOIN reach ON reach.media_id = s.d2
), dropped AS (
  SELECT media_id FROM reach GROUP BY media_id HAVING min(r) <> media_id
)
SELECT doc_id AS media_id FROM documents
WHERE doc_id NOT IN (SELECT media_id FROM dropped)
"""


def _media_dedup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The perceptual media dedup family as ONE labeled suite (built
    round 12 as a supplementary row so a future driver-window
    promotion is a single swap, the shift_robust_dedup_suite
    precedent): image dHash pairs, audio fingerprint pairs, video
    temporal-gram pairs, and one increment-vs-persisted-index leg.
    Normalized columns: d1/d2 the pair ids (d_new/d_corpus for the
    incremental leg), n1 the share count (shared bands for images,
    shared grams otherwise), n2 the exact hamming distance (image
    legs only).

    The two image legs hash the SAME fixture media, so the suite
    materializes ONE image_dhash pass and feeds both through the
    hashes=/new_hashes= pass-throughs (the shift_robust suite's
    shared-chunking pattern; hashing is a per-payload pure function,
    so leg values equal the standalone rows')."""
    from datawarehouse_code_spark.operators.media_dedup import (
        build_dhash_index,
        dhash_matches_incremental,
        dhash_near_dup_pairs,
        image_dhash,
    )

    hashes = cut_lineage(image_dhash(_phash_media(spark, sf_dir)))
    image = dhash_near_dup_pairs(hashes, max_hamming=6, band_cap=50).select(
        F.lit("image").alias("part"),
        F.col("d1").cast("bigint").alias("d1"),
        F.col("d2").cast("bigint").alias("d2"),
        F.col("n_shared_bands").cast("bigint").alias("n1"),
        F.col("hamming").cast("bigint").alias("n2"),
    )
    audio = _audio_fp_pairs(spark, sf_dir).select(
        F.lit("audio").alias("part"),
        F.col("d1").cast("bigint").alias("d1"),
        F.col("d2").cast("bigint").alias("d2"),
        F.col("n_shared").cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
    )
    video = _video_fp_pairs(spark, sf_dir).select(
        F.lit("video").alias("part"),
        F.col("d1").cast("bigint").alias("d1"),
        F.col("d2").cast("bigint").alias("d2"),
        F.col("n_shared").cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
    )
    image_incr = dhash_matches_incremental(
        None,
        build_dhash_index(
            None, hashes=hashes.filter(F.col("media_id") % 10 != 0)
        ),
        max_hamming=6, band_cap=50,
        new_hashes=hashes.filter(F.col("media_id") % 10 == 0),
    ).select(
        F.lit("image_incr").alias("part"),
        F.col("d_new").cast("bigint").alias("d1"),
        F.col("d_corpus").cast("bigint").alias("d2"),
        F.col("n_shared_bands").cast("bigint").alias("n1"),
        F.col("hamming").cast("bigint").alias("n2"),
    )
    return (
        image.unionByName(audio).unionByName(video).unionByName(image_incr)
    )


_MEDIA_DEDUP_SUITE_SQL = f"""
SELECT 'image' AS part, CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
       CAST(n_shared_bands AS BIGINT) AS n1, CAST(hamming AS BIGINT) AS n2
FROM ({_PHASH_PAIRS_SQL})
UNION ALL
SELECT 'audio', CAST(d1 AS BIGINT), CAST(d2 AS BIGINT),
       CAST(n_shared AS BIGINT), CAST(NULL AS BIGINT)
FROM ({_AUDIO_FP_PAIRS_SQL})
UNION ALL
SELECT 'video', CAST(d1 AS BIGINT), CAST(d2 AS BIGINT),
       CAST(n_shared AS BIGINT), CAST(NULL AS BIGINT)
FROM ({_VIDEO_FP_PAIRS_SQL})
UNION ALL
SELECT 'image_incr', CAST(d_new AS BIGINT), CAST(d_corpus AS BIGINT),
       CAST(n_shared_bands AS BIGINT), CAST(hamming AS BIGINT)
FROM ({_PHASH_INCR_SQL})
"""


def _shift_robust_dedup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shift-robust dedup family as ONE labeled driver row
    (consolidated round 12 per the r11 verdict): content-defined
    chunk sharing, asymmetric chunk containment, winnowing (MOSS)
    fingerprint pairs, and one increment-vs-persisted-CDC-index leg —
    the detectors that survive a one-word insertion where fixed
    k-gram spans break.  Normalized columns per the suite convention:
    k1 is the constituent's natural key rendered as a string
    (chunk_hash for 'shared', the left doc id otherwise), d2 the
    right doc id (min_doc_id for 'shared'), n1..n3 the integer
    payload, v the containment ratio.

      part='shared':   k1=chunk_hash, d2=min_doc_id, n1=n_docs,
                       n2=n_occurrences, n3=n_words
      part='contain':  k1=d1, d2=d2, n1=shared_words, n2=d1_words,
                       v=containment_f4
      part='winnow':   k1=d1, d2=d2, n1=n_shared
      part='cdc_incr': k1=d_new, d2=d_corpus, n1=n_shared_chunks,
                       n2=n_shared_words

    The three CDC legs all chunk the SAME documents table, so the
    suite materializes ONE content_defined_chunks pass (one lineage
    cut) and feeds it to every leg through the operators'
    `chunks=` pass-through — chunking is a per-doc pure function, so
    each leg's values are identical to its standalone row (the
    constituents stay registered and differential-tested unshared).
    """
    from datawarehouse_code_spark.operators.text import (
        build_cdc_index,
        cdc_containment,
        cdc_matches_incremental,
        cdc_shared_chunks,
        content_defined_chunks,
    )

    docs = read_table(spark, "documents", sf_dir)
    chunks = cut_lineage(content_defined_chunks(docs))
    shared = cdc_shared_chunks(None, chunks=chunks).select(
        F.lit("shared").alias("part"),
        F.col("chunk_hash").alias("k1"),
        F.col("min_doc_id").cast("bigint").alias("d2"),
        F.col("n_docs").cast("bigint").alias("n1"),
        F.col("n_occurrences").cast("bigint").alias("n2"),
        F.col("n_words").cast("bigint").alias("n3"),
        F.lit(None).cast("double").alias("v"),
    )
    contain = cdc_containment(None, chunks=chunks).select(
        F.lit("contain").alias("part"),
        F.col("d1").cast("string").alias("k1"),
        F.col("d2").cast("bigint").alias("d2"),
        F.col("shared_words").cast("bigint").alias("n1"),
        F.col("d1_words").cast("bigint").alias("n2"),
        F.lit(None).cast("bigint").alias("n3"),
        F.col("containment_f4").alias("v"),
    )
    winnow = _docs_winnowing_pairs(spark, sf_dir).select(
        F.lit("winnow").alias("part"),
        F.col("d1").cast("string").alias("k1"),
        F.col("d2").cast("bigint").alias("d2"),
        F.col("n_shared").cast("bigint").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.lit(None).cast("bigint").alias("n3"),
        F.lit(None).cast("double").alias("v"),
    )
    corpus_index = build_cdc_index(
        None, chunks=chunks.filter(F.col("doc_id") % 10 != 0)
    )
    cdc_incr = cdc_matches_incremental(
        None, corpus_index,
        new_chunks=chunks.filter(F.col("doc_id") % 10 == 0),
    ).select(
        F.lit("cdc_incr").alias("part"),
        F.col("d_new").cast("string").alias("k1"),
        F.col("d_corpus").cast("bigint").alias("d2"),
        F.col("n_shared_chunks").cast("bigint").alias("n1"),
        F.col("n_shared_words").cast("bigint").alias("n2"),
        F.lit(None).cast("bigint").alias("n3"),
        F.lit(None).cast("double").alias("v"),
    )
    return (
        shared.unionByName(contain).unionByName(winnow).unionByName(cdc_incr)
    )


_SHIFT_ROBUST_SQL = f"""
SELECT 'shared' AS part, chunk_hash AS k1,
       CAST(min_doc_id AS BIGINT) AS d2, CAST(n_docs AS BIGINT) AS n1,
       CAST(n_occurrences AS BIGINT) AS n2, CAST(n_words AS BIGINT) AS n3,
       CAST(NULL AS DOUBLE) AS v
FROM ({_CDC_SHARED_SQL})
UNION ALL
SELECT 'contain', CAST(d1 AS VARCHAR), CAST(d2 AS BIGINT),
       CAST(shared_words AS BIGINT), CAST(d1_words AS BIGINT),
       CAST(NULL AS BIGINT), containment_f4
FROM ({_CDC_CONTAIN_SQL})
UNION ALL
SELECT 'winnow', CAST(d1 AS VARCHAR), CAST(d2 AS BIGINT),
       CAST(n_shared AS BIGINT), CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
FROM ({_WINNOWING_SQL})
UNION ALL
SELECT 'cdc_incr', CAST(d_new AS VARCHAR), CAST(d_corpus AS BIGINT),
       CAST(n_shared_chunks AS BIGINT), CAST(n_shared_words AS BIGINT),
       CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE)
FROM ({_CDC_INCR_SQL})
"""


def _media_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every media lane as ONE labeled driver row (consolidated round
    12 per the r11 verdict: multimodal_suite's image legs + the audio
    decode lane).  Parts 'features'/'frames'/'ppm'/'png' are the
    multimodal_suite legs unchanged; part='audio' is the WAV/PCM
    decode lane (decoded_audio_stats).  The suite widens the
    normalized payload to n1..n6 because the audio leg carries six
    numbers (sample_rate, n_channels, n_frames, sum_abs, peak_abs,
    n_zero_cross); image legs put NULL in n6."""
    images = _multimodal_suite(spark, sf_dir).withColumn(
        "n6", F.lit(None).cast("bigint")
    )
    audio = _decoded_audio_stats(spark, sf_dir).select(
        F.lit("audio").alias("part"),
        "media_id",
        F.lit(None).cast("string").alias("s1"),
        F.col("sample_rate").cast("bigint").alias("n1"),
        F.col("n_channels").cast("bigint").alias("n2"),
        F.col("n_frames").cast("bigint").alias("n3"),
        F.col("sum_abs").cast("bigint").alias("n4"),
        F.col("peak_abs").cast("bigint").alias("n5"),
        F.col("n_zero_cross").cast("bigint").alias("n6"),
    )
    return images.unionByName(audio)


_MEDIA_SUITE_SQL = f"""
SELECT part, media_id, s1, n1, n2, n3, n4, n5, CAST(NULL AS BIGINT) AS n6
FROM ({_MULTIMODAL_SUITE_SQL})
UNION ALL
SELECT 'audio', media_id, CAST(NULL AS VARCHAR),
       CAST(sample_rate AS BIGINT), CAST(n_channels AS BIGINT),
       CAST(n_frames AS BIGINT), CAST(sum_abs AS BIGINT),
       CAST(peak_abs AS BIGINT), CAST(n_zero_cross AS BIGINT)
FROM ({_AUDIO_STATS_SQL})
"""


# Driver rows: the head list (defined above, before the round-12
# consolidation suites existed) plus the suites promoting the CDC/
# winnowing family and the audio lane into the driver window.  The
# demoted rows (multimodal_suite, text_token_stats) move to
# LLM_SUPPLEMENTARY below, keeping their frozen bench rows
# like-for-like.
LLM_QUERIES: list[Query] = [
    *_LLM_DRIVER_ROWS_HEAD,
    Query("shift_robust_dedup_suite", _shift_robust_dedup_suite,
          _SHIFT_ROBUST_SQL,
          "north-star: the shift-robust dedup family — CDC shared "
          "chunks + asymmetric containment + winnowing pairs + one "
          "increment-vs-persisted-index leg, labeled (consolidated "
          "round 12)"),
    Query("cross_modal_suite", _cross_modal_suite,
          _CROSS_MODAL_SUITE_SQL,
          "north-star: the perceptual-envelope family as one labeled "
          "suite — both cross-modal directions (video frames vs the "
          "image index; new images vs the frame-grain index) + both "
          "DCT pHash legs, sharing one decode per fixture table "
          "(driver row since round 14 — the one-swap promotion it "
          "was staged for; media_suite demoted like-for-like)"),
    Query("media_dedup_suite", _media_dedup_suite, _MEDIA_DEDUP_SUITE_SQL,
          "north-star: the perceptual media dedup family labeled — "
          "image dHash band pairs + exact hamming verify, audio "
          "energy-gram pairs, video temporal-gram pairs, one "
          "incremental leg (driver row since round 13 — the one-swap "
          "promotion it was staged for; docs_stratified_sample "
          "demoted like-for-like)"),
]

LLM_SUPPLEMENTARY: list[Query] = [
    Query("media_suite", _media_suite, _MEDIA_SUITE_SQL,
          "north-star: every media lane — image feature extraction + "
          "frame sampling + PPM/PNG pure-Python decode + WAV/PCM "
          "audio decode, labeled (driver row rounds 12-13, demoted "
          "round 14 to free the window slot for cross_modal_suite — "
          "the decode machinery stays driver-pinned through "
          "media_dedup_suite's hashes-over-decoded-rasters legs; "
          "keeps its frozen bench row like-for-like)"),
    Query("multimodal_suite", _multimodal_suite, _MULTIMODAL_SUITE_SQL,
          "north-star: media feature extraction + frame sampling + "
          "pure-Python PPM/PNG decode (driver row rounds 10-11, the "
          "image legs of media_suite since round 12; keeps its "
          "frozen bench row like-for-like)"),
    Query("text_token_stats", _text_token_stats, _TOKEN_STATS_SQL,
          "north-star: token counting + quality features (driver row "
          "rounds 2-11, demoted round 12 to free a window slot; "
          "keeps its frozen bench row like-for-like)"),
    Query("media_canonical_selection", _media_canonical_selection,
          _MEDIA_CANONICAL_SQL,
          "north-star: perceptual dedup carried to the drop decision "
          "— dHash pairs → connected components → min-id survivors "
          "(recursive-CTE transitive-closure oracle; supplementary, "
          "differential-tested)"),
    Query("docs_stratified_sample", _docs_stratified_sample, _STRATIFIED_SQL,
          "north-star: deterministic stratified hash-sampling (corpus "
          "rebalance; driver row rounds 3-12, demoted round 13 to "
          "free the window slot for media_dedup_suite — the sampling "
          "family keeps docs_mixture_resample as its driver row; "
          "keeps its frozen bench row like-for-like)"),
    Query("media_phash_dct_pairs", _media_phash_dct_pairs,
          _PHASH_DCT_PAIRS_SQL,
          "north-star: DCT pHash near-dup pairs — the second "
          "perceptual fingerprint beside dHash, covering interpolated "
          "rescales (a 2x box-downscaled twin hashes identically by "
          "construction); same band layout, so the pair/index/"
          "incremental machinery runs unchanged (planted-twins "
          "outcome oracle; DCT arithmetic construction-pinned in "
          "tests)"),
    Query("video_image_matches", _video_image_matches,
          _VIDEO_IMAGE_MATCHES_SQL,
          "north-star: frame-level cross-modal matching — every VID0 "
          "frame dHashed through the image detector and equi-joined "
          "against the persisted image band index, so a still image "
          "re-used inside a video is detected (the temporal-gram "
          "blind spot, closed round 13; planted image-in-video "
          "fixture, full SQL replay incl. the exact hamming verify)"),
    Query("image_video_matches", _image_video_matches,
          _IMAGE_VIDEO_MATCHES_SQL,
          "north-star: REVERSE cross-modal matching — still images as "
          "the increment vs the persisted frame-grain dHash index, so "
          "the image arriving after the video that contains it is "
          "detected too (arrival-order independence; same fixture "
          "with roles swapped, cap replayed at distinct-video grain)"),
    Query("media_phash_dct_incremental", _media_phash_dct_incremental,
          _PHASH_DCT_INCR_SQL,
          "north-star: increment-vs-corpus DCT-pHash matching through "
          "the persisted band index — each 2x box downscale lands on "
          "its original at hamming 0 through the unchanged "
          "incremental machinery (planted-twins outcome oracle)"),
    Query("media_canonical_cross_modal", _media_canonical_cross_modal,
          _MEDIA_CANONICAL_XM_SQL,
          "north-star: cross-modal dedup carried to the DROP decision "
          "— components over the union graph (image pairs + "
          "image-in-video containments) with a type-priority survivor "
          "rule (the video outranks the images it carries; image-only "
          "components keep min id) — planted-outcome oracle"),
    Query("video_frame_phash_matches", _video_frame_phash_matches,
          _VIDEO_FRAME_PHASH_SQL,
          "north-star: the rescaled-image-in-video corner — pHash "
          "frame rows through the layout-generic band machinery, so "
          "a video frame that is a rescaled copy of a corpus image "
          "is detected where frame dHash drifts past the radius "
          "(planted outcome oracle; sub-grid pad frame pins the skip)"),
    Query("video_fp_pairs", _video_fp_pairs, _VIDEO_FP_PAIRS_SQL,
          "north-star: video near-dup pairs — temporal grams of "
          "per-frame dHashes over real VID0 containers, frame-trim "
          "robust, hot-gram cap (supplementary, differential-tested)"),
    Query("video_fp_incremental", _video_fp_incremental,
          _VIDEO_FP_INCR_SQL,
          "north-star: increment-vs-corpus video matching through the "
          "persisted fingerprint index — cost ∝ increment "
          "(supplementary, differential-tested)"),
    Query("audio_fp_pairs", _audio_fp_pairs, _AUDIO_FP_PAIRS_SQL,
          "north-star: audio near-dup pairs — windowed-energy gram "
          "fingerprints over real decoded PCM, hop-shift robust, "
          "hot-fp cap (supplementary, differential-tested)"),
    Query("audio_fp_incremental", _audio_fp_incremental,
          _AUDIO_FP_INCR_SQL,
          "north-star: increment-vs-corpus audio matching through the "
          "persisted fingerprint index — cost ∝ increment "
          "(supplementary, differential-tested)"),
    Query("media_phash_pairs", _media_phash_pairs, _PHASH_PAIRS_SQL,
          "north-star: perceptual image near-dup pairs — banded 64-bit "
          "dHash over real decoded rasters, hot-band cap, exact "
          "hamming verify (supplementary, differential-tested)"),
    Query("media_phash_incremental", _media_phash_incremental,
          _PHASH_INCR_SQL,
          "north-star: increment-vs-corpus perceptual matching through "
          "the persisted dHash band index — cost ∝ increment "
          "(supplementary, differential-tested)"),
    Query("docs_cdc_shared_chunks", _docs_cdc_shared_chunks,
          _CDC_SHARED_SQL,
          "north-star: content-defined chunk dedup — shift-robust "
          "shared-boilerplate report via the Rabin/LBFS word-grain "
          "cut rule (supplementary, differential-tested)"),
    Query("docs_winnowing_pairs", _docs_winnowing_pairs,
          _WINNOWING_SQL,
          "north-star: winnowing (MOSS) fingerprint near-dup pairs — "
          "positional local fingerprints with the w+k-1 detection "
          "guarantee (supplementary, differential-tested)"),
    Query("decoded_audio_stats", _decoded_audio_stats, _AUDIO_STATS_SQL,
          "north-star: REAL pure-Python WAV/PCM decode in the Arrow "
          "pipeline — waveform stats vs a closed-form oracle "
          "(supplementary, differential-tested)"),
    Query("docs_cdc_incremental", _docs_cdc_incremental, _CDC_INCR_SQL,
          "north-star: increment-vs-corpus shared-chunk matching "
          "through the persisted CDC index — cost ∝ increment "
          "(supplementary, differential-tested)"),
    Query("similarity_matryoshka_recall", _similarity_matryoshka_recall,
          _MATRYOSHKA_SQL,
          "north-star: Matryoshka prefix-truncation retrieval recall "
          "— 16-of-64-dim top-k overlap vs exact full-dim top-k "
          "(supplementary, differential-tested)"),
    Query("docs_winnowing_spans", _docs_winnowing_spans,
          _WINNOWING_SPANS_SQL,
          "north-star: winnowing match localization — per-pair "
          "bracketing gram-position spans on both sides, the MOSS "
          "attribution report (supplementary, differential-tested)"),
    Query("docs_winnowing_incremental", _docs_winnowing_incremental,
          _WINNOWING_INCR_SQL,
          "north-star: increment-vs-corpus winnowing matches through "
          "the persisted fingerprint index — cost ∝ increment "
          "(supplementary, differential-tested)"),
    Query("docs_shard_mix_quality", _docs_shard_mix_quality,
          _SHARD_MIX_SQL,
          "north-star: shard data-ordering diagnostic — per-shard "
          "adjacent-same-language counts along the loader read order "
          "(supplementary, differential-tested)"),
    Query("docs_unigram_tokens", _docs_unigram_tokens, None,
          "north-star: unigram-LM tokenizer train + encode "
          "(rows-only; exact twin = brute-force Viterbi enumeration "
          "in tests/test_unigram_tokenizer.py)"),
    Query("docs_cdc_containment", _docs_cdc_containment,
          _CDC_CONTAIN_SQL,
          "north-star: asymmetric chunk containment — the "
          "quote/subset report symmetric scores miss "
          "(supplementary, differential-tested)"),
    Query("similarity_topk_filtered", _similarity_topk_filtered,
          _SIM_FILTERED_SQL,
          "north-star: metadata-filtered ANN — candidates restricted "
          "to lang='en' docs BEFORE ranking (filter-then-rank exact "
          "twin; supplementary, differential-tested)"),
    Query("similarity_topk_quantized", _similarity_topk_quantized,
          _SIM_QUANTIZED_SQL,
          "north-star: int8 quantized-rank + exact-rerank top-k — the "
          "compressed-index arithmetic hash-checked end to end "
          "(supplementary, differential-tested)"),
    Query("vocab_top_terms", _vocab_top_terms, _VOCAB_SQL,
          "north-star: vocabulary induction (in text_corpus_suite "
          "since round 10)"),
    Query("text_tfidf_top_terms", _tfidf_top_terms, _TFIDF_SQL,
          "north-star: tf-idf top terms per doc (in text_corpus_suite "
          "since round 10)"),
    Query("text_chunking", _text_chunking, _TEXT_CHUNK_SQL,
          "north-star: overlapping word-window chunking (in "
          "text_corpus_suite since round 10)"),
    Query("similarity_topk_bruteforce", _similarity_topk_bruteforce,
          _SIM_BRUTE_SQL,
          "north-star: exact cosine top-k (in "
          "similarity_retrieval_suite since round 10)"),
    Query("multimodal_features", _multimodal_features, _MULTIMODAL_SQL,
          "north-star: binary media feature extraction (in "
          "multimodal_suite since round 10)"),
    Query("multimodal_frame_stats", _multimodal_frame_stats,
          _FRAME_STATS_SQL,
          "north-star: frame sampling + PPM decode (in "
          "multimodal_suite since round 10)"),
    Query("docs_bm25_topk", _docs_bm25_topk, _BM25_SQL,
          "north-star: BM25 retrieval top-k per corpus-derived query "
          "term (in retrieval_bm25_suite since round 11)"),
    Query("docs_bm25_multiterm", _docs_bm25_multiterm, _BM25_MULTI_SQL,
          "north-star: multi-term BM25 — per-(query, doc) integer-"
          "micros score sums over corpus-derived 3-term bags, top-5 "
          "per query (in retrieval_bm25_suite since round 11)"),
    Query("docs_curriculum_phases", _docs_curriculum_phases,
          _CURRICULUM_SQL,
          "north-star: curriculum phase assignment — contiguous "
          "near-equal difficulty phases (in curriculum_suite since "
          "round 11)"),
    Query("docs_curriculum_boundary", _docs_curriculum_boundary,
          _CURRICULUM_SQL,
          "north-star: corpus-scale curriculum assignment — range-"
          "exchange + partition rank offsets, no single-partition "
          "sort, ≡ ntile (in curriculum_suite since round 11)"),
    Query("text_nfc_suite", _text_nfc_suite, _NFC_SQL,
          "north-star: Unicode NFC canonicalization on planted "
          "decomposed sequences (supplementary, differential-tested)"),
    Query("docs_mixture_token_budget", _docs_mixture_token_budget,
          _MIXTURE_TOKENS_SQL,
          "north-star: token-budget domain mixture (weighted "
          "mixture_resample; supplementary, differential-tested)"),
    Query("decoded_image_stats", _decoded_image_stats, _DECODED_STATS_SQL,
          "north-star: mixed PNM+BMP+baseline-JPEG decode inside the "
          "Arrow pipeline, closed-form oracle (supplementary, "
          "differential-tested)"),
    Query("decoded_png_stats", _decoded_png_stats, _PNG_STATS_SQL,
          "north-star: pure-Python PNG decode (chunk walk + CRC + "
          "bounded inflate + un-filter) inside the Arrow pipeline, "
          "closed-form oracle; also part='png' of multimodal_suite "
          "(supplementary, differential-tested)"),
    Query("lang_stats_suite", _lang_stats_suite, _LANG_STATS_SUITE_SQL,
          "north-star: discrete percentiles (expr) ⋈ applyInPandas stats "
          "(driver row until round 8, now folded into lang_suite "
          "part='stats'; supplementary, differential-tested)"),
    Query("bpe_pair_counts", _bpe_pair_counts, _BPE_PAIRS_SQL,
          "north-star: BPE merge-candidate pair counts (tokenizer "
          "training step; supplementary, differential-tested)"),
    Query("docs_boilerplate_lines", _docs_boilerplate_lines,
          _BOILERPLATE_SQL,
          "north-star: CCNet-style frequent-line boilerplate removal "
          "on planted multi-line docs (supplementary, "
          "differential-tested)"),
    Query("docs_duplicate_spans", _docs_duplicate_spans, _DUP_SPANS_SQL,
          "north-star: cross-document duplicated spans (exact-substring "
          "dedup; supplementary, differential-tested)"),
    Query("docs_group_sample", _docs_group_sample, _GROUP_SAMPLE_SQL,
          "north-star: deterministic per-group sample (reproducible "
          "eval sets; in supplementary, differential-tested)"),
    Query("dedup_exact", _dedup_exact, _DEDUP_EXACT_SQL,
          "north-star: exact content-hash dedup (in dedup_suite)"),
    Query("dedup_near_jaccard", _dedup_near_jaccard, _DEDUP_JACCARD_SQL,
          "north-star: n-gram Jaccard near-dup (in dedup_suite)"),
    Query("doc_fingerprint", _doc_fingerprint, _FINGERPRINT_SQL,
          "north-star: min-md5-shingle fingerprint (in dedup_suite)"),
    Query("lang_rollup", _lang_rollup, _LANG_ROLLUP_SQL,
          "north-star: language rollup (in lang_suite)"),
    Query("langid_markers", _langid_markers, _LANGID_SQL,
          "north-star: marker-based language ID (in lang_suite)"),
    Query("lang_percentiles", _lang_percentiles, _LANG_PCTL_SQL,
          "§2.2 exact discrete percentiles (in lang_stats_suite)"),
    Query("lang_stats_pandas", _lang_stats_pandas, _LANG_STATS_PANDAS_SQL,
          "north-star: applyInPandas stats (in lang_stats_suite)"),
    Query("tokens_packed", _tokens_packed_manifest, _TOKENS_MANIFEST_SQL,
          "north-star: packing manifest only (in tokens_packed_suite; "
          "keeps its frozen bench row like-for-like)"),
    Query("incremental_near_dup", _incremental_near_dup, _INCREMENTAL_NEAR_DUP_SQL,
          "north-star: increment-vs-corpus near-dup through the persisted "
          "LSH index (planted-recall oracle)"),
]
