"""Text-pipeline operators: normalization, shingling, MinHash, SimHash,
fingerprinting, token statistics.

Everything is built from Spark SQL higher-order functions
(`transform` / `aggregate` / `filter` over arrays) — JVM-side,
whole-stage-codegen'd, zero Python UDFs.  That is the load-bearing
scale decision: at 100 TB a per-row Python hop would dominate the
runtime; these expressions run inside Tungsten.

Design notes per operator:
- MinHash signatures use `xxhash64(shingle, seed_i)` — one pass per
  seed over the shingle array, no external library, deterministic
  across runs and partitionings.
- Banded LSH turns near-dup search into an equi-join on
  (band_index, band_hash): candidates meet only inside a bucket, so
  the join volume is O(sum of bucket sizes squared), never the
  all-pairs O(n²) that is forbidden at scale.
- The content fingerprint is min(md5(shingle)) — md5 so the DuckDB
  oracle can reproduce it exactly (xxhash64 exists only in Spark).
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from datawarehouse_code_spark.operators.iterative import cut_lineage

_MAX_LONG = (1 << 63) - 1
_WS_RE = re.compile(r"\s+")


def _hash64(s: str) -> int:
    """64-bit signed hash of a string (md5 prefix) — the Python twin of
    the shingle identity used across the dedup operators."""
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "little", signed=True)


def _py_words(text: str) -> list[str]:
    """Python twin of words(): lowercase, collapse whitespace, split."""
    return _WS_RE.sub(" ", text.lower()).strip().split(" ")


def shingle_hashes_udf(k: int = 3):
    """Distinct k-word shingle hashes per document, Arrow-batched.

    The expression-based shingles() is semantically identical but
    interpreted per element (~50µs/shingle); at 260k shingles per
    0.1 sf that is seconds per evaluation, and self-joins evaluate it
    twice.  This UDF is the hot-path twin: same normalization, same
    shingle set, hashed to int64 so downstream joins shuffle 8-byte
    keys instead of strings.
    """

    @pandas_udf("array<bigint>")
    def _sh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            ws = _py_words(t)
            if len(ws) < k:
                out.append(np.array([], dtype=np.int64))
                continue
            sh = {" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)}
            out.append(np.fromiter((_hash64(s) for s in sh), dtype=np.int64, count=len(sh)))
        return pd.Series(out)

    return _sh


def normalized_text(c: Column) -> Column:
    """Lowercase, collapse whitespace, trim — the canonical form for
    exact dedup and shingling."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def words(c: Column) -> Column:
    """Whitespace tokens of the normalized text.

    IMPORTANT: materialize this as its own projection (see
    `shingled_docs`) before using it inside array lambdas — an inlined
    words() expression re-runs the regexp+split once per lambda
    element evaluation (observed: ~50× redundant work per document).
    """
    return F.split(normalized_text(c), " ")


def shingled_docs(documents: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, sh) with the words array materialized as an attribute
    between projection steps, so the split runs once per doc and the
    shingle lambda only slices.  Repartitions first so per-doc work
    spreads beyond the parquet scan's splits."""
    w = documents.repartition("doc_id").select(
        "doc_id", words(F.col(text_col)).alias("ws")
    )
    # Filter on the word count, NOT on size(sh): a size(sh)>0 predicate
    # gets pushed below the projections with the whole shingle
    # expression re-inlined into the scan (observed 8× slowdown).
    # size(ws) >= k is equivalent (k words always yield ≥1 shingle).
    return w.filter(F.size(F.col("ws")) >= k).select(
        "doc_id", shingles(F.col("ws"), k).alias("sh")
    )


def shingles(words_col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles (the unit of near-dup similarity).

    Guarded for short docs: Spark's sequence(1, 0) yields a DESCENDING
    [1, 0], not an empty array, so docs with < k words must short-circuit
    to [] explicitly.
    """
    n = F.size(words_col)
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(words_col, i, k)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def minhash_signature(shingle_col: Column, num_hashes: int = 128) -> Column:
    """MinHash signature as a pure SQL expression: for each seed i,
    min over shingles of xxhash64(shingle, i).

    Correct but SLOW for large num_hashes: nested higher-order
    functions are interpreted (no codegen), ~5µs per hash evaluation.
    The production path is :func:`minhash_signature_udf` (Arrow-batch
    numpy, ~100× faster); this expression variant stays for
    zero-Python deployments and as the semantics reference.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.aggregate(
            shingle_col,
            F.lit(_MAX_LONG),
            lambda acc, s: F.least(acc, F.xxhash64(s, i)),
        ),
    )


def minhash_signature_udf(num_hashes: int = 128):
    """Vectorized MinHash signature over shingle HASHES (the
    shingle_hashes_udf output): `num_hashes` universal-hash
    permutations (a_i * h + b_i over uint64) minimized with one numpy
    matrix op per document.

    This is the deliberate Pandas-UDF exception to the no-UDF rule:
    the equivalent Spark SQL expression (see minhash_signature) is
    interpreted per-element and ~100× slower at 128 hashes.  The UDF
    is Arrow-batched, stateless, and deterministic (fixed seed), so
    it scales exactly like any narrow projection at 100 TB.
    """
    rng = np.random.RandomState(42)
    a = rng.randint(1, 1 << 31, size=num_hashes).astype(np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.randint(0, 1 << 31, size=num_hashes).astype(np.uint64)

    @pandas_udf("array<bigint>")
    def _sig(shingle_hash_lists: pd.Series) -> pd.Series:
        out = []
        for sh in shingle_hash_lists:
            if sh is None or len(sh) == 0:
                out.append(None)
                continue
            base = np.asarray(sh, dtype=np.int64).view(np.uint64)
            perms = a[:, None] * base[None, :] + b[:, None]  # uint64 wraparound
            out.append(perms.min(axis=1).astype(np.int64))
        return pd.Series(out)

    return _sig


def band_hashes(signature_attr: Column, bands: int, rows_per_band: int) -> Column:
    """Bucket keys: hash each contiguous band of an ALREADY-MATERIALIZED
    signature column.  Pairs agreeing on ANY band become candidates —
    the standard (b, r) S-curve: P(candidate) = 1 - (1 - j^r)^b.

    `signature_attr` must be a plain column reference (e.g. the UDF
    output), never the inline signature expression: Catalyst's project
    collapsing would re-inline the whole signature into every band —
    a bands× expression blowup observed as a multi-minute hang.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.xxhash64(
            F.slice(signature_attr, j * rows_per_band + 1, rows_per_band), j
        ),
    )


def word_hashes(words_col: Column) -> Column:
    """xxhash64 per word — materialize this as an attribute before
    passing it to simhash64 (its per-bit lambda would otherwise
    re-hash every word n_bits times)."""
    return F.transform(words_col, lambda w: F.xxhash64(w))


def simhash64(word_hashes_col: Column, n_bits: int = 60) -> Column:
    """SimHash fingerprint over word hashes: bit i is the sign of the
    sum of ±1 votes from each word's hash bit i.  60 bits so the
    packed value stays inside a signed bigint.

    `word_hashes_col` must be a materialized attribute (see
    word_hashes); shift amounts must be literals in PySpark, so bit
    extraction uses bit_get and packing a literal powers-of-two array.
    """
    pow2 = F.array(*[F.lit(1 << i) for i in range(n_bits)])
    bits_seq = F.sequence(F.lit(0), F.lit(n_bits - 1))
    bits = F.transform(
        bits_seq,
        lambda i: F.when(
            F.aggregate(
                word_hashes_col,
                F.lit(0),
                lambda acc, h: acc
                + F.when(F.bit_get(h, i) == 1, F.lit(1)).otherwise(F.lit(-1)),
            )
            > 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return F.aggregate(
        F.zip_with(
            bits,
            F.sequence(F.lit(0), F.lit(n_bits - 1)),
            lambda b, i: b.cast("long") * F.element_at(pow2, i + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def simhash_udf(n_bits: int = 60):
    """Arrow-batched SimHash: word hashes via the md5 base hash, bit
    votes as one numpy matrix op per document.  Hot-path twin of the
    expression-based simhash64 (same algorithm, different base hash;
    the expression variant remains the zero-Python reference)."""
    shifts = np.arange(n_bits, dtype=np.uint64)

    @pandas_udf("bigint")
    def _sh(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            ws = _py_words(t)
            if not ws:
                out.append(0)
                continue
            h = np.fromiter((_hash64(w) for w in ws), dtype=np.int64, count=len(ws)).view(
                np.uint64
            )
            votes = (((h[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64) * 2 - 1)
            bits = (votes.sum(axis=0) > 0).astype(np.uint64)
            out.append(int((bits << shifts).sum()))
        return pd.Series(out, dtype="int64")

    return _sh


def simhash_near_dup_pairs(
    documents: DataFrame,
    max_hamming: int = 3,
    n_bits: int = 60,
    n_bands: int = 4,
    hot_band_cap: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: candidates agree on at least one of
    `n_bands` contiguous 15-bit bands (pigeonhole: hamming ≤ 3 over 60
    bits guarantees ≥1 identical band of 4), verified with the exact
    bit_count(xor) distance.  Bucket-bounded, never all-pairs.
    Singleton band buckets (which cannot pair) are dropped before the
    self-join either way.

    `hot_band_cap` is OFF by default, unlike the MinHash-LSH cap: the
    pigeonhole guarantee promises only ONE agreeing band per
    hamming≤3 pair, so dropping a hot bucket can lose a pair outright
    (there is no "other band" fallback — and a >cap population of
    IDENTICAL fingerprints is hot in all four bands at once).  Set a
    cap only when boilerplate-heavy fingerprints are known to be
    handled upstream (run exact dedup first — it removes the
    identical-document mass that creates degenerate buckets) and
    bounded join volume matters more than guaranteed recall."""
    band_bits = n_bits // n_bands
    mask = (1 << band_bits) - 1
    sh_fn = simhash_udf(n_bits)
    fp = documents.repartition("doc_id").select(
        "doc_id", sh_fn(F.col("text")).alias("simhash")
    )
    bands = fp.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_idx"),
                        F.shiftright("simhash", j * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for j in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.band_idx"), F.col("b.band_val"))
    bands = filter_posting_keys(bands, ["band_idx", "band_val"], hot_band_cap)
    a = bands.select(
        F.col("doc_id").alias("d1"), F.col("simhash").alias("h1"),
        "band_idx", "band_val",
    )
    b = bands.select(
        F.col("doc_id").alias("d2"), F.col("simhash").alias("h2"),
        "band_idx", "band_val",
    )
    pairs = (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("d1") < F.col("d2"))
        .dropDuplicates(["d1", "d2"])
        .withColumn("hamming", F.bit_count(F.col("h1").bitwiseXOR(F.col("h2"))).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.select("d1", "d2", "hamming")


def content_fingerprint(shingle_col: Column) -> Column:
    """Deterministic document fingerprint: lexicographic min of the
    md5 hex of each shingle (a 1-permutation MinHash; md5 so DuckDB
    can verify it)."""
    return F.array_min(F.transform(shingle_col, lambda s: F.md5(s)))


def content_fingerprint_udf(k: int = 3):
    """Arrow-batched twin of content_fingerprint straight from text:
    min md5 hex over the distinct k-shingles.  Same output as the
    expression path, ~50× faster (expression shingling is interpreted
    per element)."""

    @pandas_udf("string")
    def _fp(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            ws = _py_words(t)
            if len(ws) < k:
                out.append(None)
                continue
            sh = {" ".join(ws[i : i + k]) for i in range(len(ws) - k + 1)}
            out.append(min(hashlib.md5(s.encode("utf-8")).hexdigest() for s in sh))
        return pd.Series(out)

    return _fp


QUALITY_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")


def _quality_metric_cols(text_col: str) -> dict[str, Column]:
    """The four Gopher-style metrics as named Columns — the single
    source of truth shared by quality_scores (projection form) and
    quality_filter (predicate form)."""
    ws = words(F.col(text_col))
    stop_arr = F.array(*[F.lit(s) for s in QUALITY_STOPWORDS])
    n_words = F.size(ws)
    len_sum = F.aggregate(ws, F.lit(0), lambda acc, w: acc + F.length(w))
    stop_hits = F.size(F.filter(ws, lambda w: F.array_contains(stop_arr, w)))
    lt = F.lower(F.col(text_col))
    sym_chars = F.length(F.regexp_replace(lt, r"[a-z0-9\s]", ""))
    return {
        "n_words": n_words,
        "stop_ratio_f4": F.floor(stop_hits / n_words * 10000) / 10000,
        "avg_word_len_f4": F.floor(len_sum / n_words * 10000) / 10000,
        "symbol_ratio_f4": F.when(
            F.length(lt) > 0, F.floor(sym_chars / F.length(lt) * 10000) / 10000
        ),
    }


def _quality_passes(m: dict[str, Column]) -> Column:
    return (
        (m["n_words"] >= 20)
        & (m["stop_ratio_f4"] >= 0.04)
        & (m["avg_word_len_f4"] <= 4.8)
        & (m["symbol_ratio_f4"] <= 0.1)
    )


def quality_scores(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style heuristic quality scoring: word count, stopword
    ratio, mean word length, and symbol ratio per document, plus the
    pass/fail verdict a pre-training filter would act on.  All ratios
    floor-scaled (cross-engine doctrine); the verdict compares the
    FLOORED values so both engines branch on identical numbers.
    Empty text yields a NULL symbol ratio (and a non-true verdict) on
    both engines instead of dividing by zero.  At 100 TB this is a
    stateless narrow projection — no shuffle at all; it composes with
    clean_corpus ahead of dedup."""
    m = _quality_metric_cols(text_col)
    scored = documents.select(
        "doc_id", *[c.alias(name) for name, c in m.items()]
    )
    named = {name: F.col(name) for name in m}
    return scored.withColumn("passes", _quality_passes(named))


def quality_filter(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """The rows of `documents` that pass the Gopher-style verdict,
    schema unchanged — the metrics evaluated inline as a narrow
    predicate (no join back against the metrics projection, which
    would turn a stateless filter into a shuffle)."""
    return documents.filter(_quality_passes(_quality_metric_cols(text_col)))


def contamination_check(
    train: DataFrame,
    holdout: DataFrame,
    k: int = 3,
    flag_ratio: float = 0.2,
) -> DataFrame:
    """Benchmark decontamination: for every training document, the
    number and share of its distinct k-gram shingles that appear
    anywhere in the holdout corpus, plus the flag a decontamination
    pass would act on (ratio >= `flag_ratio`).

    Scale shape: the holdout (a benchmark/eval set) is tiny relative
    to a 100 TB training corpus, so its distinct shingle-hash set is
    BROADCAST and the check is one narrow pass over the exploded train
    shingles — no shuffle of the train side at all beyond the per-doc
    re-aggregation.  Asymmetric by design: unlike near-dup detection,
    a single holdout shingle in a train doc counts, whatever the rest
    of the doc looks like.
    """
    t = shingle_table(train, k)
    h_sh = shingle_table(holdout, k).select("s").distinct()
    marked = t.join(
        F.broadcast(h_sh.withColumn("_hit", F.lit(1))), "s", "left"
    )
    per_doc = marked.groupBy("doc_id", "n_sh").agg(
        F.count("_hit").alias("shared")  # count() skips the NULL misses
    )
    ratio = F.col("shared") / F.col("n_sh")
    return per_doc.select(
        "doc_id",
        "n_sh",
        "shared",
        (F.floor(ratio * 10000) / 10000).alias("contaminated_f4"),
        (F.floor(ratio * 10000) / 10000 >= flag_ratio).alias("flagged"),
    )


def exact_dedup(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact (normalized) content dedup: one row per distinct content
    hash with the smallest doc_id as canonical and the copy count.
    Scale shape: a single hash-partitioned groupBy on a 128-bit key —
    the canonical 100 TB dedup plan."""
    return (
        documents.select(
            F.col("doc_id"), F.md5(normalized_text(F.col(text_col))).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_hash_docs(documents: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, sh: array<bigint>) — hot-path shingle sets via the
    Arrow UDF, repartitioned so the per-doc work spreads beyond the
    parquet scan's splits."""
    fn = shingle_hashes_udf(k)
    return (
        documents.repartition("doc_id")
        .select("doc_id", fn(F.col(text_col)).alias("sh"))
        .filter(F.size("sh") > 0)
    )


def shingle_table(documents: DataFrame, k: int = 3, text_col: str = "text") -> DataFrame:
    """(doc_id, n_sh, s) exploded inverted-index input: one row per
    (document, shingle-hash), plus the per-doc shingle count."""
    with_sh = shingle_hash_docs(documents, k, text_col)
    return with_sh.select("doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("s"))


def filter_posting_keys(
    df: DataFrame, keys: list[str], cap: int | None
) -> DataFrame:
    """Keep only rows whose key occurs in >= 2 documents and — when
    `cap` is set — at most `cap`, evaluated BEFORE any posting array
    exists.

    This is the 100 TB guard for every inverted-index operator here:
    filtering `size(collect_list(...)) <= cap` AFTER the aggregation
    still materializes the full posting array for a hot key first — a
    boilerplate shingle present in 10⁷ documents becomes one
    10⁷-element array in a single aggregation buffer (executor OOM),
    regardless of what the filter later discards.  A window count over
    the same key shuffles once, spills per-key groups to disk instead
    of holding an array, and leaves the data hash-partitioned by the
    key, so the downstream groupBy introduces NO second shuffle.  The
    >= 2 side of the filter also drops singleton keys (the vast
    majority) before any array is built.
    """
    w = Window.partitionBy(*keys)
    low = F.col("_kdf") >= 2
    cond = low if cap is None else low & (F.col("_kdf") <= cap)
    return (
        df.withColumn("_kdf", F.count(F.lit(1)).over(w)).filter(cond).drop("_kdf")
    )


def near_dup_pairs_exact(
    documents: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    hot_shingle_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via an inverted index.

    Shape: explode shingle hashes → drop singleton/hot shingles via a
    pre-aggregation window count (see filter_posting_keys) → group by
    shingle → expand each posting list into its in-bucket pairs →
    count shared per pair → Jaccard from |A|,|B|,|A∩B|.  This is NOT
    all-pairs: only documents sharing a shingle ever meet, and the
    shingle UDF is evaluated ONCE (a lineage self-join would recompute
    it per side).

    `hot_shingle_cap` is the 100 TB guard: a shingle appearing in more
    than `cap` documents (a boilerplate stop-phrase) contributes
    O(cap²) pairs; dropping such postings — before any posting array
    is materialized — bounds the expansion at the cost of slightly
    under-counting `shared` for pairs glued only by boilerplate.
    Default None = exact pair semantics (matches the SQL oracle); the
    scale entry point (clean_corpus) passes a cap by default.
    """
    sh = filter_posting_keys(shingle_table(documents, k), ["s"], hot_shingle_cap)
    postings = sh.groupBy("s").agg(
        F.collect_list(F.struct("doc_id", "n_sh")).alias("ds")
    )
    # in-bucket pair expansion: all (i < j) combinations of the posting
    # list, each ordered by doc_id (collect_list order is arbitrary)
    expanded = postings.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ds"),
                    lambda x, i: F.transform(
                        F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                        lambda y: F.when(
                            x["doc_id"] < y["doc_id"],
                            F.struct(x.alias("p1"), y.alias("p2")),
                        ).otherwise(F.struct(y.alias("p1"), x.alias("p2"))),
                    ),
                )
            )
        ).alias("p")
    )
    pairs = expanded.groupBy(
        F.col("p.p1.doc_id").alias("d1"),
        F.col("p.p2.doc_id").alias("d2"),
        F.col("p.p1.n_sh").alias("n1"),
        F.col("p.p2.n_sh").alias("n2"),
    ).agg(F.count(F.lit(1)).alias("shared"))
    jac = F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared"))
    return (
        pairs.filter(jac >= threshold)
        .select(
            "d1",
            "d2",
            "shared",
            "n1",
            "n2",
            (F.floor(jac * 10000) / 10000).alias("jaccard_f4"),
        )
    )


def near_dup_pairs_lsh(
    documents: DataFrame,
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
    hot_bucket_cap: int | None = 5000,
) -> DataFrame:
    """Banded MinHash-LSH near-dup pairs, verified with exact Jaccard.

    The scale path: signatures are one projection; candidate pairs
    come from an equi-join on (band, band_hash) — never all-pairs.
    Candidates are then verified against the true shingle sets, so
    precision is exact; recall follows the (b, r) S-curve
    (b=32, r=4 → ~87% at j=0.5, >99.9% at j=0.7).

    `hot_bucket_cap` (default ON — this is a scale entry point) drops
    band buckets larger than the cap before any posting array exists
    (see filter_posting_keys); a degenerate bucket (e.g. the
    all-empty-band hash of boilerplate-heavy corpora) would otherwise
    contribute O(|bucket|²) candidate pairs AND one |bucket|-element
    aggregation array.  Documents in a dropped bucket still meet in
    any of their other `bands - 1` buckets.
    """
    rows_per_band = num_hashes // bands
    docs = shingle_hash_docs(documents, k)
    sig_fn = minhash_signature_udf(num_hashes)
    sigs = docs.withColumn("sig", sig_fn("sh"))
    buckets = sigs.select(
        "doc_id",
        F.posexplode(band_hashes(F.col("sig"), bands, rows_per_band)).alias(
            "band_idx", "band_hash"
        ),
    )
    # posting-list pair expansion instead of a bucket self-join: the
    # signature UDF is evaluated once, not once per join side
    buckets = filter_posting_keys(buckets, ["band_idx", "band_hash"], hot_bucket_cap)
    postings = buckets.groupBy("band_idx", "band_hash").agg(
        F.collect_list("doc_id").alias("ds")
    )
    candidates = (
        postings.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ds"),
                        lambda x, i: F.transform(
                            F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                            lambda y: F.struct(
                                F.least(x, y).alias("d1"), F.greatest(x, y).alias("d2")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select(F.col("p.d1"), F.col("p.d2"))
        .distinct()
    )
    s1 = docs.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"))
    s2 = docs.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    verified = (
        candidates.join(s1, "d1")
        .join(s2, "d2")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh1", "sh2"))
            / F.size(F.array_union("sh1", "sh2")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select(
        "d1", "d2", (F.floor(F.col("jaccard") * 10000) / 10000).alias("jaccard_f4")
    )


def build_lsh_index(
    documents: DataFrame,
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    hot_bucket_cap: int | None = 5000,
) -> DataFrame:
    """The persisted MinHash-LSH bucket index of a corpus:
    (doc_id, band_idx, band_hash) — three fixed-width values per
    (doc, band), computed ONCE per corpus build and stored beside it.
    Increments (`near_dup_pairs_incremental`) equi-join against this
    table; they never re-shingle or re-sign the corpus.

    Shingle sets are deliberately NOT stored (32 copies of each doc's
    shingle array would dominate the index); exact verification
    re-derives shingles for the MATCHED corpus docs only — a narrow
    recompute over the candidate subset, tiny relative to the corpus.

    `hot_bucket_cap` drops degenerate buckets AT BUILD TIME (window
    count per key, no posting array — the filter_posting_keys
    rationale): a boilerplate bucket holding 10⁷ docs would otherwise
    hand every future increment |bucket| candidates per matching new
    doc.  Unlike the batch detector's filter, SINGLETON buckets are
    kept — a future new doc must be able to meet a so-far-unique
    corpus doc.  Parameters (k, num_hashes, bands) are part of the
    index contract: increments must pass the same values.
    """
    rows_per_band = num_hashes // bands
    docs = shingle_hash_docs(documents, k)
    sig_fn = minhash_signature_udf(num_hashes)
    sigs = docs.withColumn("sig", sig_fn("sh"))
    buckets = sigs.select(
        "doc_id",
        F.posexplode(band_hashes(F.col("sig"), bands, rows_per_band)).alias(
            "band_idx", "band_hash"
        ),
    )
    # NOTE (r18, r17 verdict ask #8 — tried, measured, NOT applied):
    # replacing this count window with localCheckpoint(buckets) + a
    # count aggregate of the >cap keys + a broadcast anti-join keeps
    # the row set identical and avoids the full bucket-table
    # sort-shuffle, but measured SLOWER end-to-end at sf0.1/local[32]
    # on incremental_near_dup (interleaved min-of-8: window 2.855 s vs
    # anti-join 3.491 s, rows equal) — the extra eager materialization
    # job + anti-join overhead exceeds the window's sort of the
    # fixture-sized bucket table.  Revisit only with a real-cluster
    # measurement where the bucket table's sort dominates.
    if hot_bucket_cap is not None:
        w = Window.partitionBy("band_idx", "band_hash")
        buckets = (
            buckets.withColumn("_kdf", F.count(F.lit(1)).over(w))
            .filter(F.col("_kdf") <= hot_bucket_cap)
            .drop("_kdf")
        )
    return buckets


def near_dup_pairs_incremental(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    index: DataFrame,
    k: int = 3,
    num_hashes: int = 128,
    bands: int = 32,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs between an increment and a PERSISTED corpus:
    (d_new, d_corpus, jaccard_f4) for every new doc whose exact
    Jaccard with a corpus doc meets `threshold`, with candidates from
    the stored LSH index (`build_lsh_index`) — the nightly-increment
    shape: cost scales with |increment|, not |corpus|.

    Flow: shingle+sign the NEW docs only → equi-join their band
    buckets against the index → exact-verify candidates against true
    shingle sets, where the corpus side re-shingles ONLY the matched
    docs (semi-join pushdown into the corpus scan).  Recall follows
    the same (b, r) S-curve as the batch detector; precision is exact.

    New-vs-new duplicates WITHIN the increment are out of scope by
    contract — run the batch detector (`near_dup_pairs_lsh`) over the
    increment for that; composing both is what a full nightly sweep
    does.  (k, num_hashes, bands) must match the index build.
    """
    rows_per_band = num_hashes // bands
    nd = shingle_hash_docs(new_docs, k)
    sig_fn = minhash_signature_udf(num_hashes)
    sigs = nd.withColumn("sig", sig_fn("sh"))
    new_buckets = sigs.select(
        F.col("doc_id").alias("d_new"),
        F.posexplode(band_hashes(F.col("sig"), bands, rows_per_band)).alias(
            "band_idx", "band_hash"
        ),
    )
    # NOTE (r18 — tried, measured, NOT applied): localCheckpoint-ing
    # this candidate set looks right (it feeds two consumers, and the
    # STATIC plan prints the whole index+signature subtree twice) but
    # measured SLOWER at sf0.1/local[32] (interleaved min-of-8: no
    # checkpoint 2.383 s vs checkpoint 2.974 s, rows equal) — at
    # runtime AQE's exchange/broadcast reuse already dedups the
    # repeated subtrees, so the eager materialization job is pure
    # added latency.  Same lesson as near_dup_pairs_lsh's r17
    # lineage-cut attempt.
    candidates = (
        new_buckets.join(index, ["band_idx", "band_hash"])
        .select("d_new", F.col("doc_id").alias("d_corpus"))
        .filter(F.col("d_new") != F.col("d_corpus"))
        .distinct()
    )
    corpus_matched = corpus_docs.join(
        candidates.select(F.col("d_corpus").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    )
    cs = shingle_hash_docs(corpus_matched, k).select(
        F.col("doc_id").alias("d_corpus"), F.col("sh").alias("sh_c")
    )
    ns = nd.select(F.col("doc_id").alias("d_new"), F.col("sh").alias("sh_n"))
    verified = (
        candidates.join(ns, "d_new")
        .join(cs, "d_corpus")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_n", "sh_c"))
            / F.size(F.array_union("sh_n", "sh_c")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return verified.select(
        "d_new",
        "d_corpus",
        (F.floor(F.col("jaccard") * 10000) / 10000).alias("jaccard_f4"),
    )


# PII patterns: a Java-regex/RE2-shared subset (no lookarounds, no
# backrefs) so the DuckDB oracle applies the IDENTICAL expressions.
# Dict order is the redaction order and is part of the contract.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "ip": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    "phone": (r"\b\d{3}[- ]\d{3,4}[- ]\d{4}\b", "[PHONE]"),
}


def redact_pii(
    documents: DataFrame,
    text_col: str = "text",
    patterns: dict[str, tuple[str, str]] = PII_PATTERNS,
    keep_cols: bool = False,
) -> DataFrame:
    """PII redaction for training corpora: count each pattern on the
    ORIGINAL text, then rewrite the text with every pattern replaced
    by its token, in dict order (replacement tokens contain no
    pattern-matchable characters, so ordering never cascades).

    `keep_cols=True` carries every input column through beside the
    counts and `redacted_text` — the pipeline-composition form
    (prepare_training_corpus swaps the text in place).

    Scale shape: a stateless narrow projection — regexp_count /
    regexp_replace stay inside whole-stage codegen, no shuffle, no
    Python.  Composes ahead of dedup/quality in clean_corpus-style
    pipelines (redact first: redaction changes content hashes).
    """
    counts = [
        F.regexp_count(F.col(text_col), F.lit(pat)).cast("bigint").alias(f"n_{name}")
        for name, (pat, _) in patterns.items()
    ]
    redacted = F.col(text_col)
    for _, (pat, token) in patterns.items():
        redacted = F.regexp_replace(redacted, pat, token)
    head = ["*"] if keep_cols else ["doc_id"]
    return documents.select(
        *head, *counts, redacted.alias("redacted_text")
    )


def repetition_stats(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/C4-style repetition signals per document: distinct-word
    ratio, most-frequent-word share, and duplicate word-2-gram
    fraction — the filters that catch degenerate generated/boilerplate
    text that length and stopword checks miss.

    Scale shape: the 2-gram signal is a pure array expression (narrow,
    no shuffle); the word-frequency signals use explode → two-phase
    count aggregation.  The ONE shuffle moves whole documents
    (repartition by doc_id BEFORE the explode): HashPartitioning on
    doc_id satisfies the clustering of groupBy(doc_id, term) AND of
    the per-doc rollup, so neither aggregation adds an exchange —
    and the bytes shuffled are compact doc rows, not n_words exploded
    term rows (plan-audited in tests/test_scale_mechanics.py).

    The word array is materialized as an ATTRIBUTE before any lambda
    references it (the band_hashes rule): the 2-gram transform reads
    it 2n times, and CollapseProject would otherwise re-inline the
    whole normalize+split pipeline into every element access — an
    O(n²) regex blowup (observed: 14.6 s → 1.5 s at sf0.1).
    """
    w = documents.select("doc_id", words(F.col(text_col)).alias("ws"))
    ws = F.col("ws")
    n = F.size(ws)
    grams2 = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(ws, i), F.element_at(ws, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    narrow = w.select(
        "doc_id",
        F.size(grams2).alias("n_2grams"),
        F.size(F.array_distinct(grams2)).alias("n_distinct_2grams"),
    )
    # repartition WHOLE DOCS by doc_id before the explode: the shuffle
    # moves one compact row per doc instead of n_words term rows, and
    # HashPartitioning(doc_id) satisfies the clustering of BOTH
    # aggregations below (doc_id ⊆ (doc_id, term)), so neither adds an
    # exchange.  The narrow branch stays shuffle-free (its 3-int rows
    # broadcast or exchange cheaply at the join).
    terms = (
        documents.repartition("doc_id")
        .select("doc_id", F.explode(words(F.col(text_col))).alias("term"))
        .filter(F.col("term") != "")
    )
    freq = (
        terms.groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.max("cnt").alias("top_word_count"),
        )
    )
    joined = freq.join(narrow, "doc_id")
    dup2 = F.when(
        F.col("n_2grams") > 0,
        F.floor(
            (F.col("n_2grams") - F.col("n_distinct_2grams"))
            / F.col("n_2grams") * 10000
        ) / 10000,
    )
    return joined.select(
        "doc_id",
        "n_words",
        "n_distinct_words",
        (F.floor(F.col("top_word_count") / F.col("n_words") * 10000) / 10000).alias(
            "top_word_frac_f4"
        ),
        F.col("n_2grams").cast("bigint").alias("n_2grams"),
        dup2.alias("dup_2gram_frac_f4"),
    )


def collapse_repeats(words_col: Column) -> Column:
    """Drop consecutive duplicate tokens ('a a a the the' → 'a the'):
    the cheap normalization pass ahead of token counting.  Pure array
    expression; element i survives when it differs from element i-1
    (filter's lambda index is 0-based, element_at is 1-based, so
    element_at(ws, i) IS the predecessor)."""
    return F.filter(
        words_col,
        lambda x, i: (i == 0) | (x != F.element_at(words_col, i)),
    )


def duplicate_spans(
    documents: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Cross-document duplicated SPANS — the exact-substring dedup
    family (the "remove any 50-token run that repeats across the
    corpus" pass of public training-data pipelines), one level finer
    than whole-doc near-dup: boilerplate headers, license blocks, and
    templated paragraphs repeat across otherwise-distinct documents,
    and whole-doc detectors (MinHash/SimHash, operators above) can't
    excise them.

    Mechanics: every k-word gram with its 1-based word position; a
    gram is DUPLICATED when it occurs in >= `min_docs` distinct
    documents; per document, flagged positions merge into maximal
    spans (positions i and j, i < j, overlap-or-touch iff j <= i + k)
    — classic gaps-and-islands, same shape as sessionize.  Output:
    (doc_id, span_start, span_end, n_grams), word indices inclusive.

    Scale shape: the gram table is one narrow explode (bounded at
    n_words rows per doc); duplicate detection is a distinct +
    two-phase count grouped on the gram — the same shuffle shape as
    tf-idf's term table, no posting arrays (hot boilerplate grams
    fan out join rows, never an aggregation buffer); the island merge
    is one window per doc.  At extreme scale, group on
    xxhash64(gram) instead of the string to shrink shuffle bytes and
    accept the 2⁻⁶⁴ collision rate — the string key here keeps the
    operator bit-exact against the cross-engine oracle.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    if min_docs < 2:
        raise ValueError(f"min_docs must be >= 2: {min_docs}")
    ws = documents.repartition("doc_id").select(
        "doc_id", words(F.col(text_col)).alias("ws")
    ).filter(F.size("ws") >= k)
    grams = ws.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - k + 1),
                lambda i: F.struct(
                    i.alias("i"),
                    F.concat_ws(" ", F.slice("ws", i, k)).alias("gram"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.i").alias("i"), F.col("g.gram").alias("gram"))
    # the gram table feeds TWO consumers (the duplicate-gram count and
    # the flagged semi-join probe side) — materialize it once (r17,
    # the winnowing_near_dup_pairs precedent), and generate it spread
    # across the doc key rather than the scan's splits
    grams = cut_lineage(grams)
    dup = (
        grams.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gram")
    )
    flagged = grams.join(dup, "gram", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("i")
    prev = F.lag("i").over(w)
    brk = F.when(prev.isNull() | (F.col("i") > prev + k), 1).otherwise(0)
    grp = F.sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        flagged.withColumn("_grp", grp)
        .groupBy("doc_id", "_grp")
        .agg(
            F.min("i").alias("span_start"),
            (F.max("i") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .drop("_grp")
    )


def strip_duplicate_spans(
    documents: DataFrame,
    spans: DataFrame,
    k: int,
    text_col: str = "text",
) -> DataFrame:
    """Remove the duplicated spans' words from each document:
    documents joined to their span set (left — span-free docs pass
    through), words filtered by index membership, re-joined with
    single spaces over the NORMALIZED text (the same token stream the
    spans index).  Output: doc_id, cleaned_text, n_removed_words.

    Scale shape: spans per doc collapse to one bounded array (spans
    are non-overlapping maximal islands, so there are at most
    n_words/k of them); the word filter is a narrow nested-HOF
    projection."""
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    ws = documents.select(
        "doc_id", words(F.col(text_col)).alias("ws")
    )
    joined = ws.join(per_doc, "doc_id", "left").withColumn(
        "_spans",
        F.coalesce(
            "_spans",
            F.expr(
                "CAST(array() AS "
                "ARRAY<STRUCT<span_start: BIGINT, span_end: BIGINT>>)"
            ),
        ),
    )
    keep = F.filter(
        "ws",
        lambda x, i: ~F.exists(
            F.col("_spans"),
            lambda s: (i + 1 >= s["span_start"]) & (i + 1 <= s["span_end"]),
        ),
    )
    return joined.select(
        "doc_id",
        F.concat_ws(" ", keep).alias("cleaned_text"),
        (F.size("ws") - F.size(keep)).cast("bigint").alias("n_removed_words"),
    )


def remove_frequent_lines(
    documents: DataFrame,
    max_df: int,
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style boilerplate removal (Wenzek et al. 2020): drop
    every LINE that occurs in more than `max_df` documents — cookie
    banners, nav menus, license footers repeat verbatim across a
    crawl, and page-level dedup never sees them.  Lines compare
    EXACTLY (no normalization — the oracle replays byte equality);
    empty lines are kept verbatim (they are structure, not content,
    and counting them would make every blank line 'boilerplate').

    Output: (doc_id, cleaned_text, n_removed_lines) — surviving lines
    re-joined with `sep` in original order; a document of nothing but
    boilerplate comes back with cleaned_text ''.

    Scale shape: one posexplode → distinct (doc, line) pairs →
    per-line count (the tf-idf shuffle shape — NEVER countDistinct
    inside the per-line agg, the distinct-then-count form avoids the
    expand), count table joined back to the line rows (hot
    boilerplate lines fan out join ROWS, one per occurrence — no
    aggregation buffer), order-preserving reassembly via
    sort_array over (pos, line) structs (no window needed).  At
    extreme scale group on xxhash64(line) and accept 2⁻⁶⁴ collisions
    — the string key is kept here for oracle exactness (the
    duplicate_spans precedent)."""
    import re as _re

    lines = documents.select(
        "doc_id",
        F.posexplode(
            # split takes a REGEX; escape so sep means the literal
            # separator (limit -1 keeps trailing empty lines)
            F.split(F.col(text_col), _re.escape(sep), -1)
        ).alias("pos", "line"),
    )
    df_counts = (
        lines.filter(F.col("line") != "")
        .select("doc_id", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("line_df"))
    )
    tagged = lines.join(df_counts, "line", "left")
    keep = tagged.filter(
        (F.col("line") == "") | (F.col("line_df") <= max_df)
    )
    survivors = keep.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("cleaned_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    totals = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n_lines")
    )
    return (
        totals.join(survivors, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
            (F.col("_n_lines") - F.coalesce("_n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed_lines"),
        )
    )


def content_defined_chunks(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    boundary_hexes: tuple[str, ...] = ("0", "1"),
) -> DataFrame:
    """Content-defined chunking (the Rabin/LBFS cut rule — Muthitacharoen
    et al., SOSP'01 — at word grain): a word OPENS a new chunk iff the
    first hex char of its md5 falls in `boundary_hexes` (default 2 of
    16 → expected chunk length 8 words).  The cut decision depends
    only on the word itself, never its offset, so inserting or
    deleting text re-chunks ONLY the edited region — every chunk
    outside it keeps its exact text and hash.  That shift-robustness
    is what fixed-offset span tables can't give: a one-word insertion
    moves every downstream k-gram, but moves no CDC boundary.

    Output: (id_col, chunk_idx, chunk_start, n_words, chunk_hash) —
    chunk_idx is the 0-based running boundary count, chunk_start the
    word offset, chunk_hash the md5 of the space-joined chunk text.

    Cross-engine determinism: md5 is the shared hash, the boundary
    predicate is a hex-prefix test on its text form, and the chunk
    text is reassembled in (pos) order on both engines — every value
    replays exactly on DuckDB.

    Scale shape: repartition on the doc key, one narrow posexplode,
    a per-DOC window (partitioned — never global), and one grouped
    aggregation riding the same key; output ≈ corpus words / expected
    chunk length.  No UDF anywhere."""
    toks = (
        documents.repartition(id_col)
        .select(id_col, F.posexplode(words(F.col(text_col))).alias("pos", "word"))
        .filter(F.col("word") != "")
    )
    flagged = toks.withColumn(
        "_b",
        F.when(
            F.substring(F.md5(F.col("word")), 1, 1).isin(*boundary_hexes),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    win = Window.partitionBy(id_col).orderBy("pos")
    chunked = flagged.withColumn(
        "chunk_idx", F.sum("_b").over(win).cast("bigint")
    )
    return chunked.groupBy(id_col, "chunk_idx").agg(
        F.min("pos").cast("bigint").alias("chunk_start"),
        F.count(F.lit(1)).alias("n_words"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
            )
        ).alias("chunk_hash"),
    )


def cdc_shared_chunks(
    documents: DataFrame | None,
    min_words: int = 3,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    boundary_hexes: tuple[str, ...] = ("0", "1"),
    chunks: DataFrame | None = None,
) -> DataFrame:
    """Cross-document duplicate-chunk report over content-defined
    chunks: every chunk text (≥ `min_words` words — sub-minimum
    chunks are single common words, noise not plagiarism) appearing
    in ≥ `min_docs` DISTINCT documents, with its occurrence counts
    and the smallest carrying doc id.  The CDC complement to
    duplicate_spans' fixed k-gram table: it catches the same shared
    boilerplate even when one copy has text inserted ahead of it.

    Scale shape: content_defined_chunks' narrow pipeline + ONE
    shuffle on chunk_hash; the HAVING on n_docs makes the output
    duplication-sized, not corpus-sized.

    `chunks` (a content_defined_chunks output, unfiltered) lets a
    caller running several CDC reports share ONE materialized
    chunking instead of re-chunking the corpus per report —
    chunking is a per-doc pure function, so results are identical."""
    if chunks is None:
        chunks = content_defined_chunks(
            documents, text_col=text_col, id_col=id_col,
            boundary_hexes=boundary_hexes,
        )
    return (
        chunks.filter(F.col("n_words") >= min_words)
        .groupBy("chunk_hash")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("n_words").alias("n_words"),
            F.min(id_col).alias("min_doc_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def build_cdc_index(
    documents: DataFrame | None,
    min_words: int = 3,
    hot_chunk_cap: int | None = 5000,
    text_col: str = "text",
    id_col: str = "doc_id",
    boundary_hexes: tuple[str, ...] = ("0", "1"),
    chunks: DataFrame | None = None,
) -> DataFrame:
    """The persisted content-defined-chunk index of a corpus:
    (doc_id, chunk_hash, n_words), one row per ≥ `min_words` chunk —
    computed ONCE per corpus build and stored beside it, the CDC
    sibling of build_lsh_index.  Increments (`cdc_matches_incremental`)
    equi-join against this table; they never re-chunk the corpus.

    `hot_chunk_cap` drops corpus-wide boilerplate chunks AT BUILD TIME
    (same rationale as the LSH index's hot buckets: a chunk carried by
    10⁷ docs hands every future increment |chunk| matches); SINGLETON
    chunks are kept — a future new doc must be able to meet a
    so-far-unique corpus chunk.  (min_words, boundary_hexes) are part
    of the index contract: increments must pass the same values.
    `chunks` (an unfiltered content_defined_chunks output) shares one
    materialized chunking, as in cdc_shared_chunks."""
    if chunks is None:
        chunks = content_defined_chunks(
            documents, text_col=text_col, id_col=id_col,
            boundary_hexes=boundary_hexes,
        )
    chunks = chunks.filter(F.col("n_words") >= min_words).select(
        id_col, "chunk_hash", "n_words"
    )
    if hot_chunk_cap is not None:
        chunks = cap_hot_chunks(chunks, hot_chunk_cap, id_col=id_col)
    return chunks


def cap_hot_chunks(
    index: DataFrame, cap: int, id_col: str = "doc_id"
) -> DataFrame:
    """Drop chunk hashes carried by more than `cap` DISTINCT documents
    — the boilerplate guard, shared by the batch build (applied at
    build time) and STREAM-MAINTAINED indexes (applied at read time:
    an append-only stream can only push a chunk's carrier count up, so
    capping when the index is read keeps replays idempotent while
    still bounding every increment join's per-chunk fan-out).

    Distinct-document grain (r12, matching build_winnowing_index's cap
    and the build_cdc_index docstring's rationale): one document
    repeating a chunk many times must not evict a chunk carried by few
    documents — the cap measures join fan-out across the corpus, which
    is carrier count, not occurrence count."""
    cold = (
        index.groupBy("chunk_hash")
        .agg(F.countDistinct(id_col).alias("_k"))
        .filter(F.col("_k") <= cap)
        .select("chunk_hash")
    )
    return index.join(cold, "chunk_hash", "left_semi")


def cdc_matches_incremental(
    new_docs: DataFrame | None,
    index: DataFrame,
    min_words: int = 3,
    min_shared: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
    boundary_hexes: tuple[str, ...] = ("0", "1"),
    new_chunks: DataFrame | None = None,
) -> DataFrame:
    """Shared-boilerplate matches between an increment and a PERSISTED
    corpus CDC index: (d_new, d_corpus, n_shared_chunks,
    n_shared_words) for every new doc sharing ≥ `min_shared` chunks
    with a corpus doc — the nightly-increment shape: the increment is
    chunked fresh, the corpus is never re-read beyond the index
    equi-join, so cost scales with |increment| (+ the index scan, a
    fixed-width fraction of the corpus).  Because chunk boundaries
    are content-defined, a match survives the insertion shifts that
    break fixed-offset span tables.  New-vs-new duplication within
    the increment is out of scope by contract (run cdc_shared_chunks
    over the increment for that).  Parameters must match the index
    build.  `new_chunks` (an unfiltered content_defined_chunks output
    of the increment) shares a materialized chunking, as in
    cdc_shared_chunks."""
    if new_chunks is None:
        new_chunks = content_defined_chunks(
            new_docs, text_col=text_col, id_col=id_col,
            boundary_hexes=boundary_hexes,
        )
    nc = new_chunks.filter(F.col("n_words") >= min_words).select(
        F.col(id_col).alias("d_new"), "chunk_hash", "n_words"
    )
    idx = index.select(
        F.col(id_col).alias("d_corpus"), "chunk_hash"
    )
    return (
        nc.join(idx, "chunk_hash")
        .filter(F.col("d_new") != F.col("d_corpus"))
        .groupBy("d_new", "d_corpus")
        .agg(
            F.count(F.lit(1)).alias("n_shared_chunks"),
            F.sum("n_words").alias("n_shared_words"),
        )
        .filter(F.col("n_shared_chunks") >= min_shared)
    )


def winnowing_fingerprints(
    documents: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS algorithm) at word grain: hash every k-word
    gram in position order, slide a window of `w` consecutive gram
    hashes, select each FULL window's minimum; the distinct selected
    (doc, hash) pairs are the fingerprint set.

    The guarantee (the paper's correctness property, pinned by
    property test): any shared word run of length ≥ w + k − 1 in two
    documents yields at least one shared fingerprint — while the
    expected density is only 2/(w+1) of all grams, so the fingerprint
    table is a fraction of the k-gram table.  Positional, local and
    deterministic — unlike MinHash (a global per-doc sketch), a
    winnowing match localizes WHERE the overlap is.

    Cross-engine determinism: gram hash = md5 of the space-joined
    gram (text-form min — md5 hex compares identically on both
    engines); window = ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING
    with full windows only (pos ≤ n_grams − w).

    Scale shape: narrow gram generator over the repartitioned doc
    key, ONE per-DOC ordered window (never global), one distinct.
    No UDF.  The gram count rides from size(ws) computed BEFORE the
    explode (r17): the former per-partition count window was a second
    window pass for a value the generator already knows."""
    toks = documents.repartition(id_col).select(
        id_col, words(F.col(text_col)).alias("ws")
    )
    grams = toks.filter(F.size("ws") >= k).select(
        id_col,
        (F.size("ws") - (k - 1)).alias("_n"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - (k - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("ws"), i, k))),
            )
        ).alias("pos", "gh"),
    )
    mwin = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    return (
        grams.withColumn("fp", F.min("gh").over(mwin))
        .filter(F.col("pos") <= F.col("_n") - w)
        .select(id_col, "fp")
        .distinct()
    )


def winnowing_fingerprint_positions(
    documents: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """winnowing_fingerprints WITH localization: per (doc, selected
    fingerprint) the FIRST and LAST 0-based gram window positions it
    was selected at (posexplode indexes from 0; the DuckDB oracle's
    `t.i - 1` matches) — the positional payload the distinct fingerprint
    set drops, and the thing that makes winnowing an ATTRIBUTION tool
    rather than just a detector (MOSS's whole point: show WHERE the
    overlap is).  A fingerprint selected in several places brackets
    them; window-start positions locate the match within w−1 grams.

    Output: (id_col, fp, first_pos, last_pos).  Same scale shape as
    winnowing_fingerprints — the grouped min/max replaces the
    distinct, both one aggregation on the doc-partitioned key; the
    gram count likewise rides from size(ws) instead of a second
    window pass (r17)."""
    toks = documents.repartition(id_col).select(
        id_col, words(F.col(text_col)).alias("ws")
    )
    grams = toks.filter(F.size("ws") >= k).select(
        id_col,
        (F.size("ws") - (k - 1)).alias("_n"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - (k - 1)),
                lambda i: F.md5(F.concat_ws(" ", F.slice(F.col("ws"), i, k))),
            )
        ).alias("pos", "gh"),
    )
    mwin = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    return (
        grams.withColumn("fp", F.min("gh").over(mwin))
        .filter(F.col("pos") <= F.col("_n") - w)
        .groupBy(id_col, "fp")
        .agg(
            F.min("pos").cast("bigint").alias("first_pos"),
            F.max("pos").cast("bigint").alias("last_pos"),
        )
    )


def winnowing_match_spans(
    documents: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    hot_fp_cap: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The attribution report winnowing exists for: per near-dup pair,
    WHERE the shared material sits in each document — (d1, d2,
    n_shared, d1_first, d1_last, d2_first, d2_last), the bracketing
    gram-position spans of the shared fingerprints on both sides
    (positions locate matches within w−1 grams; a pair sharing
    several separated passages brackets them all).  Same candidate
    semantics as winnowing_near_dup_pairs: hot fingerprints capped at
    `hot_fp_cap` distinct carriers BEFORE the self-join, pairs with
    ≥ `min_shared` shared fingerprints.

    Scale shape: the positions table feeds the cap + both join sides,
    so it is materialized once (the pair-join precedent); the join is
    fp-bucketed and cap-bounded, the output pair-sized."""
    fps = cut_lineage(
        winnowing_fingerprint_positions(
            documents, k=k, w=w, text_col=text_col, id_col=id_col
        )
    )
    cold = (
        fps.groupBy("fp")
        .agg(F.countDistinct(id_col).alias("_k"))
        .filter(F.col("_k") <= hot_fp_cap)
        .select("fp")
    )
    capped = fps.join(cold, "fp", "left_semi")
    a = capped.select(
        F.col(id_col).alias("d1"), "fp",
        F.col("first_pos").alias("_f1"), F.col("last_pos").alias("_l1"),
    )
    b = capped.select(
        F.col(id_col).alias("d2"), "fp",
        F.col("first_pos").alias("_f2"), F.col("last_pos").alias("_l2"),
    )
    return (
        a.join(b, "fp")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.min("_f1").alias("d1_first"),
            F.max("_l1").alias("d1_last"),
            F.min("_f2").alias("d2_first"),
            F.max("_l2").alias("d2_last"),
        )
        .filter(F.col("n_shared") >= min_shared)
    )


def cdc_containment(
    documents: DataFrame | None,
    min_words: int = 3,
    min_containment_f4: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    boundary_hexes: tuple[str, ...] = ("0", "1"),
    chunks: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC overlap — the quote/subset detector symmetric pair
    scores miss: containment(d1 in d2) = shared distinct-chunk words
    / d1's distinct-chunk words, at the ≥ `min_words` CDC chunk grain
    (shift-robust, so a quoted passage matches wherever it lands).  A
    short doc fully quoted inside a long one scores ~1.0 here but low
    Jaccard; dedup pipelines drop or attribute such subsumed docs.

    Exactness: numerator and denominator are exact integer word
    counts over DISTINCT chunk hashes per doc; the reported
    containment_f4 is floor-scaled (the engine-shared grain), and the
    integers ride along so the oracle checks them too.  Output rows:
    (d1, d2, shared_words, d1_words, containment_f4) with d1 != d2 —
    directional, both directions reported when both clear the
    threshold.

    Scale shape: content_defined_chunks + one per-doc distinct, one
    chunk_hash equi-join (duplication-sized after the threshold), one
    grouped sum — no all-pairs anywhere.

    Building the returned frame is not free: the distinct chunk table
    is cut eagerly (operators/iterative.cut_lineage), so this call
    already runs the scan and chunking jobs; actions on the result
    run only the join and sum.  The cut follows the session's
    checkpoint dir — reliable ``checkpoint()`` when one is set,
    ``localCheckpoint()`` otherwise.

    `chunks` (an unfiltered content_defined_chunks output) shares one
    materialized chunking across CDC reports, as in
    cdc_shared_chunks."""
    if chunks is None:
        chunks = content_defined_chunks(
            documents, text_col=text_col, id_col=id_col,
            boundary_hexes=boundary_hexes,
        )
    # materialize the distinct chunk table ONCE (r18, guide §1.2/§5):
    # it feeds THREE consumers (totals and both self-join sides), and
    # column pruning specializes each consumer's subtree — different
    # pruned projections below the exchange — so ReusedExchange never
    # fires and the full scan+chunking window pipeline ran three times
    # (verified in plans/r18/docs_cdc_containment_before.txt: the
    # chunk Window appears at ops 8, 23 and 44).
    chunks = cut_lineage(
        chunks.filter(F.col("n_words") >= min_words)
        .select(id_col, "chunk_hash", "n_words")
        .distinct()
    )
    totals = chunks.groupBy(id_col).agg(
        F.sum("n_words").alias("d1_words")
    )
    a = chunks.select(
        F.col(id_col).alias("d1"), "chunk_hash", "n_words"
    )
    b = chunks.select(F.col(id_col).alias("d2"), "chunk_hash")
    shared = (
        a.join(b, "chunk_hash")
        .filter(F.col("d1") != F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.sum("n_words").alias("shared_words"))
    )
    return (
        shared.join(totals.withColumnRenamed(id_col, "d1"), "d1")
        .withColumn(
            # shared*1e4 first (exact in a double for any corpus-real
            # count), then ONE division — the same literal association
            # the oracle uses, so the floor can't flip on the last ulp
            "containment_f4",
            F.floor(
                F.col("shared_words") * F.lit(1e4) / F.col("d1_words")
            ) / 1e4,
        )
        .filter(F.col("containment_f4") >= min_containment_f4)
        .select("d1", "d2", "shared_words", "d1_words", "containment_f4")
    )


def build_winnowing_index(
    documents: DataFrame,
    k: int = 3,
    w: int = 4,
    hot_fp_cap: int | None = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The persisted winnowing fingerprint index of a corpus:
    (doc_id, fp) — the selected-minima set per document, computed
    ONCE per corpus build, the winnowing sibling of build_lsh_index /
    build_cdc_index.  `hot_fp_cap` drops corpus-wide boilerplate
    fingerprints AT BUILD TIME (counted per distinct doc; singletons
    kept so a future new doc can meet a so-far-unique corpus doc).
    (k, w) are part of the index contract: increments must pass the
    same values."""
    fps = winnowing_fingerprints(
        documents, k=k, w=w, text_col=text_col, id_col=id_col
    )
    if hot_fp_cap is not None:
        wn = Window.partitionBy("fp")
        fps = (
            fps.withColumn("_nd", F.count(F.lit(1)).over(wn))
            .filter(F.col("_nd") <= hot_fp_cap)
            .drop("_nd")
        )
    return fps


def winnowing_matches_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup matches between an increment and a PERSISTED
    winnowing index: (d_new, d_corpus, n_shared) for every new doc
    sharing ≥ `min_shared` selected fingerprints with a corpus doc —
    the increment is fingerprinted fresh (cost ∝ |increment|), the
    corpus is never re-read beyond the index equi-join.  The w+k−1
    detection guarantee carries over: a new doc sharing a run that
    long with a corpus doc shares ≥ 1 fingerprint with its index
    rows (≥ min_shared tunes precision).  (k, w) must match the
    index build."""
    nf = winnowing_fingerprints(
        new_docs, k=k, w=w, text_col=text_col, id_col=id_col
    ).select(F.col(id_col).alias("d_new"), "fp")
    idx = index.select(F.col(id_col).alias("d_corpus"), "fp")
    return (
        nf.join(idx, "fp")
        .filter(F.col("d_new") != F.col("d_corpus"))
        .groupBy("d_new", "d_corpus")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def winnowing_near_dup_pairs(
    documents: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_docs_per_fp: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints:
    (d1 < d2, n_shared) for pairs sharing ≥ `min_shared` selected
    fingerprints.  Fingerprints carried by more than
    `max_docs_per_fp` distinct documents are dropped FIRST — the
    same hot-key guard every bucketed detector here applies
    (corpus-wide boilerplate phrases would otherwise fan the
    self-join quadratically; real overlap between a PAIR rides rarer
    fingerprints).

    Scale shape: fingerprint table (a 2/(w+1) fraction of the k-gram
    table) → hot-fp cap BEFORE the self-join → join fan-out bounded
    by max_docs_per_fp² per fingerprint → one (d1, d2) count."""
    # materialized once: the fingerprint table feeds THREE consumers
    # below (the cap count and both self-join sides) — without the cut
    # each one re-runs the gram/window pipeline (measured 3.8 s →
    # 2.5 s at sf0.1)
    fps = cut_lineage(
        winnowing_fingerprints(
            documents, k=k, w=w, text_col=text_col, id_col=id_col
        )
    )
    cold = (
        fps.groupBy("fp")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") <= max_docs_per_fp)
        .select("fp")
    )
    capped = fps.join(cold, "fp", "left_semi")
    a = capped.select(F.col("fp"), F.col(id_col).alias("d1"))
    b = capped.select(F.col("fp"), F.col(id_col).alias("d2"))
    return (
        a.join(b, "fp")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def normalize_unicode(col, form: str = "NFC"):
    """Unicode normalization as an Arrow-batched column expression —
    the canonicalization pass a multilingual training corpus needs
    before hashing/dedup (the same text arrives precomposed from one
    scraper and decomposed from another; without normalization the
    copies hash apart and every downstream dedup stage misses them).

    `form` is NFC (default; canonical compose — the storage/dedup
    canon), NFD, NFKC (also folds compatibility forms: ligatures,
    fullwidth digits — the aggressive pre-tokenization choice), or
    NFKD.  NULLs pass through.  Python `unicodedata` via a pandas
    UDF — the legitimate Arrow-batch slow path: no JVM expression
    does normalization, and the per-batch cost is one C-implemented
    library call per string.  Cross-engine: DuckDB's nfc_normalize
    implements the same (stable) canonical composition, which the
    text_nfc_suite oracle row pins on planted decomposed sequences.
    """
    import unicodedata

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    @pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: unicodedata.normalize(form, x) if x is not None else None
        )

    return _norm(col)


# ---------------------------------------------------------- BM25 retrieval


def top_df_terms(
    documents: DataFrame, n: int = 3,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """The n highest-document-frequency terms (ties by term asc) — a
    deterministic, corpus-derived query set for retrieval rows and
    evals (no hand-picked word list to drift from the fixture).  The
    selection compiles to TakeOrderedAndProject (per-partition top-n,
    then one n-sized merge on the driver side of the exchange) — at
    100 TB the vocabulary is 10⁸+ distinct terms, and a rank window
    over it would sort the whole df table through one partition; the
    limit form never materializes more than n rows per partition."""
    terms = (
        documents.repartition(id_col)
        .select(id_col, words(F.col(text_col)).alias("ws"))
        .select(id_col, F.explode("ws").alias("term"))
        .filter(F.col("term") != "")
    )
    df_t = terms.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    return (
        df_t.orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(n)
        .select("term")
    )


def bm25_scores(
    documents: DataFrame,
    query_terms: DataFrame | int,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 relevance of every document for each single-term query in
    `query_terms` (a one-column term DataFrame — or an INT n, meaning
    "the corpus's own top-n document-frequency terms", derived from
    the df table this function already builds, so the corpus-derived
    query set costs no second tokenization pass the way composing
    with top_df_terms would): the retrieval scorer a decontamination
    / eval-lookup pipeline runs over the corpus — tf-idf's
    ranking-grade sibling (Robertson/Spärck Jones; the same formula
    every production search engine defaults to).

    score = ln(1 + (N - df + ½)/(df + ½)) · tf·(k1+1) /
            (tf + k1·(1 − b + b·dl/avgdl))

    floored to 1e-6 grains: ln() is the one transcendental this repo
    allows across engines, because the fixed floor grain absorbs
    last-ulp libm differences (pinned by the differential row; all
    other arithmetic is rational).  N/avgdl are computed over
    documents with ≥1 token — the same population every other table
    here derives from.

    Scale shape: tf/df/dl are the tf-idf shuffles (term and doc
    keys); the query-term restriction joins BEFORE scoring (query
    sets are small — broadcast), stats is a 1-row broadcast; nothing
    materializes the full |vocab|×|docs| score space."""
    w = documents.repartition(id_col).select(
        id_col, words(F.col(text_col)).alias("ws")
    )
    terms = w.select(id_col, F.explode("ws").alias("term")).filter(
        F.col("term") != ""
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # dl and df ride the tf TABLE, not the exploded terms (r18, guide
    # §1.2): the three aggregations each re-ran the scan+words+explode
    # pipeline (different grouping keys defeat exchange reuse), but
    # dl = Σ tf per doc and df = row count per term (tf rows are
    # distinct (doc, term) pairs by construction) are the identical
    # integers off the much smaller tf frame — one tokenization pass
    # instead of three.
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_total"), F.avg("dl").alias("avgdl")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if isinstance(query_terms, int):
        # TakeOrderedAndProject, not a rank window: the df table is
        # vocabulary-sized (10⁸+ terms at 100 TB) and a global window
        # would total-sort it through one partition; orderBy().limit()
        # keeps at most `query_terms` rows per partition.
        qdf = df_t.orderBy(
            F.col("df").desc(), F.col("term").asc()
        ).limit(query_terms)
    else:
        qdf = df_t.join(query_terms.select("term"), "term")
    # literals are repr'd into the expression so the SQL twin can
    # carry the IDENTICAL text (same parse → same association order →
    # bit-equal doubles before the floor)
    score = (
        f"floor(ln(1.0 + (n_total - df + 0.5) / (df + 0.5)) "
        f"* (tf * {k1 + 1.0!r}) "
        f"/ (tf + {k1!r} * ({1.0 - b!r} + {b!r} * dl / avgdl)) "
        f"* 1e6) / 1e6"
    )
    return (
        tf.join(F.broadcast(qdf), "term")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            "term", id_col, "tf", F.expr(score).alias("score_f6"),
        )
    )


def bm25_topk(
    documents: DataFrame,
    query_terms: DataFrame | int,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k documents per query term under BM25 (ties by doc id) —
    one rank window over the scored (term, doc) pairs, which the
    query-term restriction already bounded to |queries|·|matching
    docs| rows."""
    scored = bm25_scores(
        documents, query_terms, k1=k1, b=b,
        text_col=text_col, id_col=id_col,
    )
    w = Window.partitionBy("term").orderBy(
        F.col("score_f6").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
    )


def bm25_multiterm_topk(
    documents: DataFrame,
    queries: DataFrame,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    term_col: str = "term",
) -> DataFrame:
    """Multi-term BM25 retrieval: `queries` is a (query_id, term) BAG
    — the real retrieval/decontamination shape, where a query is a
    tokenized string, not one term.  Per-(query, doc) relevance is
    the sum of the per-term BM25 scores (duplicate terms in a bag
    weight their term's score by their count, the qtf·score shape of
    the classic formula with k3→∞), then top-k docs per query.

    Exactness across engines and partitionings: the per-term score is
    floored to 1e-6 grains (bm25_scores' score_f6 contract) and then
    carried as INTEGER MICROS — a bigint — so the per-(query, doc)
    sum is exact integer arithmetic, independent of addition order.
    Summing the floored DOUBLES instead would disagree in the last
    ulp between plans that merge partials in different orders, and a
    last-ulp disagreement flips top-k tiebreaks.

    Scale shape: term scores are computed once per DISTINCT term
    across all queries (a corpus-sized tf/df/dl pipeline, the same
    shuffles tf-idf pays); the query map is query-set-sized —
    broadcast; the final rank window is partitioned by query_id,
    never global.  Output: query_id, doc_id, n_terms_matched (how
    many of the query's distinct terms the doc contains),
    score_micros (bigint, 1e-6 grains), rk.
    """
    qweights = queries.groupBy(
        F.col(query_id_col).alias(query_id_col),
        F.col(term_col).alias("term"),
    ).agg(F.count(F.lit(1)).alias("_qtf"))
    term_scores = bm25_scores(
        documents,
        qweights.select("term").distinct(),
        k1=k1, b=b, text_col=text_col, id_col=id_col,
    ).withColumn(
        # exact micros: score_f6 is floor(x*1e6)/1e6, so *1e6 is
        # within one ulp of an integer — round() recovers it exactly
        "_score_u", F.round(F.col("score_f6") * 1e6, 0).cast("bigint")
    )
    scored = (
        term_scores.join(F.broadcast(qweights), "term")
        .groupBy(query_id_col, id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms_matched"),
            F.sum(F.col("_score_u") * F.col("_qtf")).alias("score_micros"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score_micros").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= k)
    )
