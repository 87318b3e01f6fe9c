"""Hashed-ngram logistic-regression quality classifier
(operators/text_ml.py train_quality_classifier /
quality_classifier_score) — the ML leg of quality scoring beside the
Gopher rules and the bigram LM.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehouse_code_spark.plans.audit import executed_plan
from tests.conftest import SF_DIR

NF = 1 << 16


@pytest.fixture(scope="module")
def docs(spark):
    from datawarehouse_code_spark.sources.catalog import read_table

    return read_table(spark, "documents", SF_DIR)


def _planted_seed(docs):
    """Fixture docs as keep-quality positives, their gibberish twins
    (shared vocabulary-disjoint pseudo-words, text_ml.gibberish_twin)
    as reject negatives — deterministic, separable, and GENERALIZING
    (held-out twins reuse the same gibberish vocabulary)."""
    from datawarehouse_code_spark.operators.text_ml import gibberish_twin

    pos = docs.select("doc_id", "text", F.lit(1).alias("label"))
    neg = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        gibberish_twin(F.col("text")).alias("text"),
        F.lit(0).alias("label"),
    )
    return pos, neg


def test_planted_seed_separates_perfectly(spark, docs):
    """Train on half the planted seed, score the HELD-OUT half: every
    real doc must outscore every gibberish twin (AUC 1.0 >= the 0.99
    documented floor) and the 0.5-threshold predictions must be
    exact."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    from datawarehouse_code_spark.operators.text_ml import (
        hashed_ngram_features,
        quality_classifier_score,
        train_quality_classifier,
    )

    pos, neg = _planted_seed(docs)
    labeled = pos.unionByName(neg)
    train = labeled.filter(F.col("doc_id") % 2 == 0).select("text", "label")
    holdout = labeled.filter(F.col("doc_id") % 2 == 1)

    model = train_quality_classifier(train, num_features=NF, max_iter=20)

    scored = quality_classifier_score(
        holdout.select(
            F.col("doc_id"), "text", F.col("label").alias("true_label")
        ),
        model,
        num_features=NF,
    ).join(
        holdout.select("doc_id", "text", F.col("label").alias("true_label")),
        "doc_id",
    )
    rows = scored.collect()
    assert rows
    # exact separation on the held-out planted seed
    assert all(r["predicted"] == r["true_label"] for r in rows)
    worst_pos = min(r["p_good"] for r in rows if r["true_label"] == 1)
    best_neg = max(r["p_good"] for r in rows if r["true_label"] == 0)
    assert worst_pos > best_neg

    # AUC via the stock evaluator on raw scores (documented floor 0.99)
    feats = hashed_ngram_features(
        holdout.select("text", F.col("label").cast("double").alias("label")),
        num_features=NF,
    )
    auc = BinaryClassificationEvaluator(
        rawPredictionCol="rawPrediction", labelCol="label"
    ).evaluate(model.transform(feats))
    assert auc >= 0.99, auc


def test_score_is_narrow_no_shuffle(spark, docs):
    """Corpus scoring must stay a narrow map (model broadcast, no
    shuffle): the scored plan may not contain an Exchange beyond the
    scan side."""
    from datawarehouse_code_spark.operators.text_ml import (
        quality_classifier_score,
        train_quality_classifier,
    )

    pos, neg = _planted_seed(docs.limit(100))
    model = train_quality_classifier(
        pos.unionByName(neg).select("text", "label"),
        num_features=NF, max_iter=5,
    )
    scored = quality_classifier_score(docs, model, num_features=NF)
    plan = executed_plan(scored)
    assert "Exchange" not in plan, plan[:2000]
    assert scored.count() == docs.count()


def test_registry_row_runs(spark):
    from datawarehouse_code_spark.plans.llm_queries import _docs_quality_ml

    got = _docs_quality_ml(spark, SF_DIR)
    rows = got.collect()
    assert len(rows) == 500
    assert set(got.columns) == {"doc_id", "p_good", "predicted"}
    # the corpus itself is the positive distribution — the planted
    # gibberish negatives are vocabulary-disjoint, so real docs
    # (including ones outside the every-5th seed) score as keepers
    keep_rate = sum(r["predicted"] for r in rows) / len(rows)
    assert keep_rate > 0.95, keep_rate


def test_save_load_round_trip(spark, docs, tmp_path):
    """Persisted classifier scores identically to the in-memory one,
    and the feature width travels with the coefficients."""
    from datawarehouse_code_spark.operators.text_ml import (
        load_quality_classifier,
        quality_classifier_score,
        save_quality_classifier,
        train_quality_classifier,
    )

    pos, neg = _planted_seed(docs.limit(100))
    model = train_quality_classifier(
        pos.unionByName(neg).select("text", "label"),
        num_features=NF, max_iter=5,
    )
    path = str(tmp_path / "clf")
    save_quality_classifier(model, path, NF)
    loaded, nf = load_quality_classifier(spark, path)
    assert nf == NF
    a = sorted(
        map(tuple, quality_classifier_score(docs, model, NF).collect())
    )
    b = sorted(
        map(tuple, quality_classifier_score(docs, loaded, nf).collect())
    )
    assert a == b


def test_scoring_survives_an_observation_in_the_session(spark, docs):
    """An Observation (the incremental load's skip reports) leaves
    Spark 4.1's session unserializable, and a model that kept its
    training summary carries the session into every scoring task.
    The trained classifier must score in such a session."""
    from pyspark.sql import Observation

    from datawarehouse_code_spark.operators.text_ml import (
        quality_classifier_score,
        train_quality_classifier,
    )

    seen = Observation()
    spark.range(3).observe(seen, F.count(F.lit(1)).alias("n")).write.format(
        "noop"
    ).mode("overwrite").save()
    assert seen.get == {"n": 3}

    pos, neg = _planted_seed(docs.limit(50))
    model = train_quality_classifier(
        pos.unionByName(neg).select("text", "label"),
        num_features=1 << 12, max_iter=5,
    )
    rows = quality_classifier_score(docs.limit(50), model, num_features=1 << 12).collect()
    assert len(rows) == 50
