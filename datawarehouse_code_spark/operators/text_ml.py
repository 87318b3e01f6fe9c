"""MLlib-backed near-duplicate detection (pyspark.ml.feature.MinHashLSH).

The hand-rolled banded LSH in operators/text.py is the primary path
(full control over banding, no model state).  This module is the
stock-library twin SURVEY.md §2.2 names: HashingTF (stateless feature
hashing — deliberately NOT CountVectorizer, whose vocabulary fit is a
global pass that doesn't scale) into MinHashLSH's
approxSimilarityJoin.

Scale notes: HashingTF is a narrow map; MinHashLSH.fit only draws the
hash coefficients (no data pass); approxSimilarityJoin explodes per
hash-table buckets and joins within buckets — the same cost shape as
the custom implementation.  Distance is Jaccard distance over the
binarized feature vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datawarehouse_code_spark.operators.text import shingle_hash_docs, words


def near_dup_pairs_mllib(
    documents: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    num_hash_tables: int = 8,
    num_features: int = 1 << 18,
) -> DataFrame:
    """Near-dup pairs via pyspark.ml MinHashLSH: shingle-hash sets →
    binary HashingTF vectors → approxSimilarityJoin at Jaccard
    distance ≤ 1 - threshold.  Returns (d1, d2, jaccard_f4) like the
    custom variants (jaccard here is over hashed feature positions, so
    tiny feature collisions can nudge it — rows-only check; the exact
    inverted-index query is the hash-checked twin)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = shingle_hash_docs(documents, k).withColumn(
        "tokens", F.transform(F.col("sh"), lambda h: h.cast("string"))
    )
    tf = HashingTF(
        inputCol="tokens", outputCol="features", numFeatures=num_features, binary=True
    )
    feats = tf.transform(docs).select("doc_id", "features")
    lsh = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=num_hash_tables, seed=42
    )
    model = lsh.fit(feats)
    joined = model.approxSimilarityJoin(
        feats, feats, 1.0 - threshold, distCol="jaccard_dist"
    )
    return (
        joined.select(
            F.col("datasetA.doc_id").alias("d1"),
            F.col("datasetB.doc_id").alias("d2"),
            (F.floor((1.0 - F.col("jaccard_dist")) * 10000) / 10000).alias("jaccard_f4"),
        )
        .filter(F.col("d1") < F.col("d2"))
        .dropDuplicates(["d1", "d2"])
    )


def gibberish_twin(c) -> "F.Column":
    """Deterministic reject-class twin of a text: every word maps to
    the pseudo-word ``zq<first 2 md5 hex chars>`` — vocabulary-disjoint
    from real text, but drawn from a SHARED 256-token gibberish
    vocabulary, so a classifier trained on some twins generalizes to
    held-out ones (per-doc-unique gibberish — e.g. hashing the whole
    text — trains nothing transferable: unseen negatives would score
    at the intercept).  Used by the planted-seed registry row and the
    classifier tests; real deployments supply human-labeled seeds."""
    return F.concat_ws(
        " ",
        F.transform(
            words(c),
            lambda w: F.concat(F.lit("zq"), F.substring(F.md5(w), 1, 2)),
        ),
    )


def hashed_ngram_features(
    docs: DataFrame,
    text_col: str = "text",
    num_features: int = 1 << 16,
    out_col: str = "features",
) -> DataFrame:
    """fastText-style bag of hashed word n-grams: unigrams + adjacent
    word bigrams (joined with '_'), feature-hashed by HashingTF into a
    fixed-width sparse count vector.  Stateless — no vocabulary fit,
    no global pass — which is exactly why it scales: featurization is
    a narrow map at any corpus size, and train/score can never skew on
    a vocabulary table.

    `num_features` trades collision rate against driver memory: the
    logistic-regression coefficient vector is `num_features` doubles
    aggregated on the driver per L-BFGS iteration, so 2^16 (0.5 MB)
    is the scale-sane default and 2^22 (32 MB × history) the ceiling
    worth considering for very large seeds.
    """
    from pyspark.ml.feature import HashingTF

    base = docs.withColumn("_ws", words(F.col(text_col)))
    k = F.greatest(F.size("_ws") - 1, F.lit(0))
    toks = base.withColumn(
        "_tokens",
        F.concat(
            F.col("_ws"),
            F.transform(
                F.arrays_zip(
                    F.slice("_ws", 1, k).alias("w1"),
                    F.slice("_ws", 2, k).alias("w2"),
                ),
                lambda p: F.concat_ws("_", p["w1"], p["w2"]),
            ),
        ),
    ).drop("_ws")
    tf = HashingTF(
        inputCol="_tokens", outputCol=out_col, numFeatures=num_features
    )
    return tf.transform(toks).drop("_tokens")


def train_quality_classifier(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    num_features: int = 1 << 16,
    max_iter: int = 50,
    reg_param: float = 1e-4,
):
    """Hashed-ngram logistic regression — the ML leg of quality
    scoring beside the Gopher-style rules (operators/text.py) and the
    bigram-LM perplexity proxy above: train on a LABELED SEED
    (label 1 = keep-quality, 0 = reject) and score the whole corpus.
    This is the fastText-classifier recipe (Joulin et al. 2016,
    "Bag of Tricks for Efficient Text Classification") on Spark
    primitives: hashed n-gram features + a linear model.

    Returns the fitted pyspark.ml LogisticRegressionModel, without its
    training summary (see the note in the body); score with
    `quality_classifier_score` using the SAME num_features (feature
    hashing is position-based — a width mismatch silently scrambles
    every feature, so the scorer takes it explicitly rather than
    defaulting differently).

    Scale shape: L-BFGS over treeAggregated gradients — each
    iteration is one pass over the (usually seed-sized, not
    corpus-sized) training frame; scoring broadcasts the coefficient
    vector and is a narrow map.  Threshold guidance: on the planted
    fixture seed the classifier separates perfectly (AUC pinned >=
    0.99 in tests/test_quality_classifier.py); on real mixed-domain
    seeds pick the operating threshold from the score distribution
    (e.g. keep p_good >= 0.5 for balanced seeds, higher for
    precision-first filtering).
    """
    from pyspark.ml.classification import LogisticRegression

    feats = hashed_ngram_features(
        labeled, text_col=text_col, num_features=num_features
    ).select(F.col(label_col).cast("double").alias("label"), "features")
    lr = LogisticRegression(
        featuresCol="features", labelCol="label",
        maxIter=max_iter, regParam=reg_param,
    )
    model = lr.fit(feats)
    # Drop the training summary before anything scores with the model.
    # Scoring ships the model to the executors, and the summary holds
    # the SparkSession.  Once the session has used an Observation
    # (run_pipeline_incremental's skip reports), Spark 4.1's session no
    # longer serializes: its observationManager field is not transient.
    # Every scoring task then fails with NotSerializableException.
    # Nothing here reads the summary.
    model._java_obj.setSummary(feats.sparkSession._jvm.scala.Option.empty())
    return model


def quality_classifier_score(
    docs: DataFrame,
    model,
    num_features: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, p_good, predicted): corpus scoring under a trained quality
    classifier.  `p_good` is the class-1 probability (floats are
    engine-specific, so this is a rows-only operator with exact-twin
    pytest coverage — the planted-seed test pins perfect separation);
    `predicted` is the 0/1 argmax at the model's 0.5 threshold."""
    from pyspark.ml.functions import vector_to_array

    feats = hashed_ngram_features(
        docs, text_col=text_col, num_features=num_features
    )
    return (
        model.transform(feats)
        .select(
            id_col,
            vector_to_array(F.col("probability"))[1].alias("p_good"),
            F.col("prediction").cast("int").alias("predicted"),
        )
    )


def save_quality_classifier(model, path: str, num_features: int) -> None:
    """Persist the trained classifier: pyspark.ml native model save
    plus the feature WIDTH as a sidecar table — feature hashing is
    position-based, so scoring with a different num_features silently
    scrambles every feature; persisting the width with the
    coefficients makes the pair one artifact (the IVF-index doctrine:
    the model is build-once/score-many).

    Ordering/crash posture: everything that can fail cheaply
    (width-vs-coefficients consistency, session resolution) fails
    BEFORE the first byte is overwritten, and a crash between the two
    writes cannot scramble scoring because `load_quality_classifier`
    re-validates the sidecar against the loaded model's own
    `numFeatures` and refuses a mismatched pair."""
    if int(num_features) != int(model.numFeatures):
        raise ValueError(
            f"save_quality_classifier: num_features={num_features} but "
            f"the model was trained with {model.numFeatures} features"
        )
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            "save_quality_classifier: no active SparkSession (called "
            "from a non-inheriting thread or after session stop) — "
            "resolve the session before overwriting the artifact"
        )
    model.write().overwrite().save(f"{path}/model")
    spark.createDataFrame(
        [(int(num_features),)], "num_features int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


def load_quality_classifier(spark: SparkSession, path: str):
    """(model, num_features) — feed both to quality_classifier_score.
    Refuses a torn artifact: the sidecar width must equal the loaded
    model's own coefficient width (a crash between the two saves can
    leave a new model beside a stale sidecar or vice versa; scoring
    with the wrong hash width silently scrambles every feature, so
    mismatch is a hard error, not a warning)."""
    from pyspark.ml.classification import LogisticRegressionModel

    model = LogisticRegressionModel.load(f"{path}/model")
    nf = int(spark.read.parquet(f"{path}/meta").first()["num_features"])
    if nf != int(model.numFeatures):
        raise ValueError(
            f"load_quality_classifier: torn artifact at {path} — sidecar "
            f"num_features={nf} but the persisted model has "
            f"{model.numFeatures}; re-run save_quality_classifier"
        )
    return model, nf


def train_bigram_lm(
    ref_docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, int]:
    """Word-bigram language model from a reference corpus — the
    KenLM-style quality filter's small sibling: (bigram counts,
    unigram counts, vocabulary size).  Both tables are tf-idf-shaped
    aggregations (one shuffle each on the word keys); the model IS
    the tables — persist them like any rollup and reuse across
    scoring runs.
    """
    from datawarehouse_code_spark.operators.text import words

    ws = ref_docs.select(words(F.col(text_col)).alias("ws")).filter(
        F.size("ws") >= 2
    )
    k = F.greatest(F.size("ws") - 1, F.lit(0))
    bigrams = (
        ws.select(
            F.explode(
                F.arrays_zip(
                    F.slice("ws", 1, k).alias("w1"),
                    F.slice("ws", 2, k).alias("w2"),
                )
            ).alias("p")
        )
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n_bi"))
    )
    unigrams = (
        ref_docs.select(F.explode(words(F.col(text_col))).alias("w1"))
        .filter(F.col("w1") != "")
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("n_uni"))
    )
    n_vocab = unigrams.count()
    return bigrams, unigrams, n_vocab


def bigram_lm_score(
    docs: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    n_vocab: int,
    text_col: str = "text",
    smoothing_k: float = 0.5,
) -> DataFrame:
    """Per-document mean negative log2 probability under the bigram
    LM (add-k smoothed: P(w2|w1) = (c(w1,w2)+k) / (c(w1)+k·V)) — the
    perplexity-proxy quality score: fluent text that resembles the
    reference corpus scores LOW, gibberish and wrong-language text
    score HIGH.  Rank or threshold on it like the heuristic quality
    scores (operators/text.py) — this one is corpus-adaptive instead
    of hand-tuned.

    Output: (doc_id, n_bigrams, avg_neg_log2p) — float by nature
    (logs), so this is a rows-only operator with exact-twin pytest
    coverage, not an oracle row.

    Scale shape: explode the document bigrams once, LEFT join the
    count tables on their word keys (hash joins — the model tables
    are word-keyed aggregates, broadcast only if genuinely small),
    one per-doc aggregation.  Unseen words/bigrams hit the smoothing
    floor instead of -inf.
    """
    from datawarehouse_code_spark.operators.text import words

    ws = docs.select(
        "doc_id", words(F.col(text_col)).alias("ws")
    ).filter(F.size("ws") >= 2)
    k = F.greatest(F.size("ws") - 1, F.lit(0))
    doc_bi = ws.select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice("ws", 1, k).alias("w1"),
                F.slice("ws", 2, k).alias("w2"),
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    joined = (
        doc_bi.join(bigrams, ["w1", "w2"], "left")
        .join(unigrams, ["w1"], "left")
        .select(
            "doc_id",
            (
                -F.log2(
                    (F.coalesce("n_bi", F.lit(0)) + F.lit(smoothing_k))
                    / (
                        F.coalesce("n_uni", F.lit(0))
                        + F.lit(smoothing_k * n_vocab)
                    )
                )
            ).alias("nlp"),
        )
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("nlp").alias("avg_neg_log2p"),
    )
