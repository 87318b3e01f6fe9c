"""Byte-pair-encoding tokenizer: distributed merge training + Arrow
batch encoding.

`bpe_pair_counts` (plans/llm_queries.py) ranks ONE round of merge
candidates; this module closes the loop: learn an ordered merge list
from the corpus and apply it, which together with `pack_sequences`
(operators/corpus.py) completes the text → token-ids → packed-batches
pipeline a training-data system needs.

Scale design:
- Training runs on the WORD-FREQUENCY table, not the corpus: the
  classic BPE optimization — pair statistics are identical when each
  distinct word is counted once with its frequency, and the vocab
  table is orders of magnitude smaller than the corpus (one corpus
  aggregation builds it; every training round after that touches only
  vocab-sized data, lineage-cut like the pagerank loop so the
  plan does not grow with rounds).
- Each round is one explode + weighted pair count + TakeOrdered(1) +
  a narrow fold applying the winner.  n_merges rounds = n_merges
  small jobs: right for the hundreds-of-merges scale this engine
  tests; production vocabularies (30k+ merges) train on a sample
  (pass `vocab_cap` / pre-sample the corpus — the same trade
  sentencepiece makes), then ENCODING, the corpus-sized step, stays
  fully distributed here.
- Encoding is the measured Pandas-UDF exception (operators/text.py
  doctrine): applying an ordered merge list is per-word iteration no
  expression can unroll for real merge counts; the Arrow batch path
  memoizes word → tokens per batch (Zipf makes the hit rate high),
  and the pure-Python reference implementation in the tests pins the
  semantics.

Reference parity: none (reference is a MySQL loader,
warehouse.py:1-314); this is north-star LLM-pipeline surface.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from datawarehouse_code_spark.operators.iterative import (
    cut_lineage,
    release_checkpoint,
)
from datawarehouse_code_spark.operators.text import words

END = "</w>"


def word_frequency_table(
    documents: DataFrame, text_col: str = "text", vocab_cap: int | None = None
) -> DataFrame:
    """(word, n) over the normalized corpus — the training input.
    `vocab_cap` keeps only the most frequent words (deterministic
    tiebreak) when the long tail would slow the rounds; rare words
    contribute negligible pair mass."""
    vocab = (
        documents.select(F.explode(words(F.col(text_col))).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    if vocab_cap is not None:
        vocab = vocab.orderBy(
            F.col("n").desc(), F.col("word").asc()
        ).limit(vocab_cap)
    return vocab


def _pair_counts(sym: DataFrame) -> DataFrame:
    """Weighted adjacent-symbol pair counts over (symbols, n)."""
    k = F.greatest(F.size("symbols") - 1, F.lit(0))
    return (
        sym.select(
            "n",
            F.explode(
                F.arrays_zip(
                    F.slice("symbols", 1, k).alias("a"),
                    F.slice("symbols", 2, k).alias("b"),
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("n").alias("cnt"))
    )


def _apply_merge(symbols: F.Column, a: str, b: str) -> F.Column:
    """Left-to-right non-overlapping merge of adjacent (a, b) into
    a+b — the exact BPE application rule, as a JVM fold."""
    la, lb = F.lit(a), F.lit(b)
    return F.aggregate(
        symbols,
        F.expr("CAST(array() AS ARRAY<STRING>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == la)
            & (x == lb),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(la, lb)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    documents: DataFrame,
    n_merges: int,
    text_col: str = "text",
    vocab_cap: int | None = None,
) -> list[tuple[str, str]]:
    """Learn an ordered BPE merge list: start from characters (+ the
    `</w>` end-of-word marker), repeatedly merge the highest-count
    adjacent pair (ties broken lexicographically, so training is
    deterministic across partitionings and engines).  Stops early if
    no pair occurs twice.  Returns [(a, b), ...] in merge order —
    the artifact `bpe_encode_udf` applies.  Each round cuts lineage
    (operators/iterative.py)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1: {n_merges}")
    vocab = word_frequency_table(documents, text_col, vocab_cap)
    sym = cut_lineage(
        vocab.select(
            F.concat(
                F.split(F.col("word"), ""), F.array(F.lit(END))
            ).alias("symbols"),
            "n",
        ),
    )
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(sym)
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < 2:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        # supersedes=sym: the pre-merge symbol table's last reader is
        # this cut — its reliable checkpoint is reclaimed as soon as
        # the merged table materializes (operators/iterative.py)
        sym = cut_lineage(
            sym.select(
                _apply_merge(F.col("symbols"), a, b).alias("symbols"), "n"
            ),
            supersedes=sym,
        )
    # the return value is the merge LIST — the final symbol table is
    # dead too
    release_checkpoint(sym)
    return merges


def save_bpe_merges(spark, merges: list[tuple[str, str]], path: str) -> None:
    """Persist an ordered merge list as a (rank, a, b) table — the
    tokenizer artifact is build-once/encode-many exactly like the IVF
    index; merge ORDER is the tokenizer (applying them shuffled
    produces different segmentations), so the rank column is data,
    not decoration."""
    rows = [(i, a, b) for i, (a, b) in enumerate(merges)]
    # staged swap, not bare overwrite: encode-many consumers must
    # never catch the artifact mid-rebuild (bare overwrite deletes
    # the live table first), and a crashed save must not strand them
    # on a missing tokenizer until a retrain
    from datawarehouse_code_spark.sources.acid import _staged_overwrite

    _staged_overwrite(
        spark,
        spark.createDataFrame(
            rows, "rank int, a string, b string"
        ).coalesce(1),
        path,
    )


def load_bpe_merges(spark, path: str) -> list[tuple[str, str]]:
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [(r["a"], r["b"]) for r in rows]


def encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Pure-Python single-word BPE application — the reference
    semantics the Arrow UDF batches (and the tests pin against)."""
    syms = list(word) + [END]
    for a, b in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return syms


def bpe_encode_udf(merges: list[tuple[str, str]]):
    """Arrow-batched corpus encoder: text → array<string> of BPE
    tokens (apply per word, concatenate).  Iterator form (r18, guide
    §4.5): the word → tokens memo is built once per TASK and amortizes
    over every batch in the partition — the Zipf head repeats across
    batches, and the per-batch memo the Series form rebuilt threw
    those hits away ~12 times per million-row partition.  The merges
    list rides to the executors in the UDF closure (KBs)."""
    frozen = list(merges)

    @pandas_udf("array<string>")
    def _encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import re

        memo: dict[str, list[str]] = {}
        for texts in batches:
            out = []
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                norm = re.sub(r"\s+", " ", t.lower()).strip()
                tokens: list[str] = []
                for w in norm.split(" "):
                    if not w:
                        continue
                    if w not in memo:
                        memo[w] = encode_word(w, frozen)
                    tokens.extend(memo[w])
                out.append(tokens)
            yield pd.Series(out)

    return _encode


def bpe_encode(
    documents: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
) -> DataFrame:
    """documents + `tokens` (array<string>) + `n_tokens` — the
    corpus-sized distributed step of the tokenizer pipeline; feed
    `n_tokens` straight into pack_sequences (operators/corpus.py)."""
    enc = bpe_encode_udf(merges)
    return documents.withColumn(
        "tokens", enc(F.col(text_col))
    ).withColumn("n_tokens", F.size("tokens").cast("bigint"))


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (the SentencePiece algorithm family, Kudo 2018):
# seed-substring vocabulary + hard-EM Viterbi re-estimation + pruning.
# The deterministic hard-EM variant is documented where it diverges from
# the paper's soft EM (expected counts): Viterbi counts make every round
# integer-exact and engine/partitioning-reproducible, the property every
# trainer in this module guarantees.
# ---------------------------------------------------------------------------


def viterbi_segment(
    word: str, logp: dict, max_piece_len: int, unk_logp: float
) -> list[str]:
    """Best segmentation of `word` under piece log-probs: maximize
    total log-prob; ties break to FEWER pieces, then to the LONGER
    last piece (a locally-decomposable total rule, so the DP is
    deterministic).  Characters absent from the vocabulary segment as
    single-char pieces at `unk_logp` — every word is segmentable.
    Pure Python by design: the trainer broadcasts it in a pandas_udf
    closure, the tests call it directly as the exact reference."""
    n = len(word)
    # best[i] = (score, -n_pieces, len_last, start_of_last)
    best: list[tuple | None] = [None] * (n + 1)
    best[0] = (0.0, 0, 0, 0)
    for i in range(1, n + 1):
        cand = None
        for ln in range(1, min(max_piece_len, i) + 1):
            j = i - ln
            if best[j] is None:
                continue
            piece = word[j:i]
            lp = logp.get(piece)
            if lp is None:
                if ln > 1:
                    continue
                lp = unk_logp
            s = (best[j][0] + lp, best[j][1] - 1, ln, j)
            if cand is None or s > cand:
                cand = s
        best[i] = cand
    out, i = [], n
    while i > 0:
        _, _, ln, j = best[i]
        out.append(word[j:i])
        i = j
    return out[::-1]


def _seed_pieces(
    vocab: DataFrame, max_piece_len: int, seed_size: int
) -> DataFrame:
    """(piece, cnt): the `seed_size` highest-mass substrings of the
    word-frequency table (length ≤ max_piece_len, weighted by word
    count; ties lexicographic) UNIONED with every single character —
    chars are never pruned, so segmentability is guaranteed.  The
    substring generator is a pure array expression; selection is
    orderBy().limit() → TakeOrderedAndProject (no global window)."""
    subs = vocab.select(
        "n",
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("word")),
                    lambda i: F.transform(
                        F.sequence(
                            i,
                            F.least(
                                i + F.lit(max_piece_len - 1),
                                F.length("word"),
                            ),
                        ),
                        lambda j: F.col("word").substr(i, j - i + 1),
                    ),
                )
            )
        ).alias("piece"),
    )
    counts = subs.groupBy("piece").agg(F.sum("n").alias("cnt"))
    top = counts.filter(F.length("piece") > 1).orderBy(
        F.col("cnt").desc(), F.col("piece").asc()
    ).limit(seed_size)
    chars = counts.filter(F.length("piece") == 1)
    return top.unionByName(chars)


def unigram_train(
    documents: DataFrame,
    vocab_size: int = 200,
    n_iters: int = 3,
    max_piece_len: int = 4,
    seed_size: int = 2000,
    text_col: str = "text",
    vocab_cap: int | None = None,
) -> list[tuple[str, int]]:
    """Learn a unigram-LM piece vocabulary: seed with the
    highest-mass substrings, then `n_iters` rounds of hard EM —
    Viterbi-segment every DISTINCT word under the current piece
    probabilities (a pandas_udf over the word-frequency table, piece
    table riding the closure), re-count pieces weighted by word
    frequency, prune to the `vocab_size` highest-count pieces
    (single characters always kept).  Returns [(piece, count)] sorted
    (count desc, piece asc).

    Determinism: hard-EM integer counts + the viterbi_segment
    tiebreak rule make every round a pure function of the corpus —
    reproducible across partitionings (pinned by test).

    Scale shape: training touches the WORD-FREQUENCY table (the BPE
    optimization above), one Arrow-batched Viterbi pass + one
    vocab-sized count aggregation per round; per-round piece counts
    COLLECT to the driver (bounded by seed_size — the codebook-sized
    driver hop every trainer here uses).  Encoding (unigram_encode)
    is the corpus-sized step and stays fully distributed."""
    import math

    if vocab_size < 1 or n_iters < 1 or max_piece_len < 1:
        raise ValueError("vocab_size, n_iters, max_piece_len must be >= 1")
    # materialize the word-frequency table ONCE (r18, guide §1.2/§5):
    # it feeds the seed collect AND every EM round's Viterbi pass —
    # without the cut each consumer re-runs the corpus-sized
    # explode+aggregate (n_iters+1 full corpus passes for a
    # vocabulary-sized frame).
    vocab = cut_lineage(word_frequency_table(documents, text_col, vocab_cap))
    pieces = {
        r["piece"]: int(r["cnt"])
        for r in _seed_pieces(vocab, max_piece_len, seed_size).collect()
    }

    def _logp(counts: dict) -> tuple[dict, float]:
        total = sum(counts.values()) + len(counts) + 1
        lp = {
            p: math.log((c + 1) / total) for p, c in counts.items()
        }
        return lp, math.log(1 / total)

    for _ in range(n_iters):
        lp, unk = _logp(pieces)
        mpl = max_piece_len

        @pandas_udf("array<string>")
        def _seg(ws: pd.Series) -> pd.Series:
            return pd.Series(
                [viterbi_segment(w, lp, mpl, unk) for w in ws]
            )

        counted = (
            vocab.select("n", F.explode(_seg(F.col("word"))).alias("piece"))
            .groupBy("piece")
            .agg(F.sum("n").alias("cnt"))
            .collect()
        )
        new = {r["piece"]: int(r["cnt"]) for r in counted}
        # prune: top vocab_size by (count desc, piece asc); single
        # chars survive regardless (zero-count kept chars re-enter at
        # count 0 so segmentability never regresses)
        ranked = sorted(new.items(), key=lambda kv: (-kv[1], kv[0]))
        kept = dict(ranked[:vocab_size])
        for p in pieces:
            if len(p) == 1:
                kept.setdefault(p, new.get(p, 0))
        pieces = kept
    return sorted(pieces.items(), key=lambda kv: (-kv[1], kv[0]))


def unigram_encode_udf(pieces: list[tuple[str, int]], max_piece_len: int = 4):
    """Arrow-batched corpus encoder: text → array<string> of unigram
    pieces (Viterbi per word, concatenated; per-TASK memo — the
    bpe_encode_udf iterator shape, r18 guide §4.5: the Viterbi DP is
    the expensive per-word step, so memo hits across batches matter
    even more here than for BPE)."""
    import math

    counts = dict(pieces)
    total = sum(counts.values()) + len(counts) + 1
    lp = {p: math.log((c + 1) / total) for p, c in counts.items()}
    unk = math.log(1 / total)
    mpl = max_piece_len

    @pandas_udf("array<string>")
    def _encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import re

        memo: dict[str, list[str]] = {}
        for texts in batches:
            out = []
            for t in texts:
                if t is None:
                    out.append(None)
                    continue
                norm = re.sub(r"\s+", " ", t.lower()).strip()
                tokens: list[str] = []
                for w in norm.split(" "):
                    if not w:
                        continue
                    if w not in memo:
                        memo[w] = viterbi_segment(w, lp, mpl, unk)
                    tokens.extend(memo[w])
                out.append(tokens)
            yield pd.Series(out)

    return _encode


def unigram_encode(
    documents: DataFrame,
    pieces: list[tuple[str, int]],
    text_col: str = "text",
    max_piece_len: int = 4,
) -> DataFrame:
    """documents + `tokens` (array<string>) + `n_tokens` under the
    unigram vocabulary — drop-in beside bpe_encode for
    pack_sequences."""
    enc = unigram_encode_udf(pieces, max_piece_len)
    return documents.withColumn(
        "tokens", enc(F.col(text_col))
    ).withColumn("n_tokens", F.size("tokens").cast("bigint"))
