"""GPT-3-style linear quality classifier: separation on planted
vocabularies, numpy cross-check of the Catalyst scorer, determinism,
the bounded-sample guard, and the zero-shuffle scoring plan."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from clickhouse_mysql_data_reader_spark.operators import classifier as C
from clickhouse_mysql_data_reader_spark.operators.classifier import (
    quality_prob_col,
    train_quality_classifier,
)
from clickhouse_mysql_data_reader_spark.operators.text import hashed_bow_embed

QUALITY = [
    "the theorem follows from the lemma by induction on the structure of the proof",
    "we analyze the convergence of the estimator under mild regularity conditions",
    "the study reports a significant effect of treatment on the measured outcome",
    "in this chapter we derive the equations governing the motion of the fluid",
]
CRAWL = [
    "click here buy now cheap deals free shipping best price click click",
    "win win win lottery jackpot casino bonus free spins register now now",
    "cheap pills discount sale sale sale limited offer buy buy buy",
    "follow like subscribe share viral video hot singles in your area",
]


def _mk(spark, texts, start=0):
    return spark.createDataFrame(
        [(start + i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


def _score(corpus, w, b):
    return corpus.select(
        "doc_id", quality_prob_col(F.col("text"), w, b).alias("quality_prob")
    )


def test_classifier_separates_planted_domains(spark):
    pos, neg = _mk(spark, QUALITY), _mk(spark, CRAWL, start=100)
    w, b = train_quality_classifier(pos, neg, dim=128)
    # held-out docs from each vocabulary
    held = _mk(
        spark,
        [
            "the proof of the estimator convergence follows from the lemma",
            "free bonus click now cheap casino deals buy now",
        ],
        start=200,
    )
    probs = {r["doc_id"]: r["quality_prob"] for r in _score(held, w, b).collect()}
    assert probs[200] > 0.5 > probs[201]


def test_score_matches_numpy_sigmoid(spark):
    """The Catalyst zip_with/aggregate scorer must equal the driver-side
    numpy dot+sigmoid on the same hashed features."""
    pos, neg = _mk(spark, QUALITY), _mk(spark, CRAWL, start=100)
    w, b = train_quality_classifier(pos, neg, dim=64)
    corpus = _mk(spark, QUALITY[:2] + CRAWL[:2])
    emb = {
        r["doc_id"]: np.array(r["embedding"])
        for r in hashed_bow_embed(corpus, "text", "doc_id", dim=64).collect()
    }
    got = {r["doc_id"]: r["quality_prob"] for r in _score(corpus, w, b).collect()}
    for i, e in emb.items():
        want = 1.0 / (1.0 + math.exp(-(float(e @ np.array(w)) + b)))
        assert got[i] == pytest.approx(want, rel=1e-12), f"doc {i}"


def test_training_is_deterministic(spark):
    pos, neg = _mk(spark, QUALITY), _mk(spark, CRAWL, start=100)
    w1, b1 = train_quality_classifier(pos, neg, dim=64)
    w2, b2 = train_quality_classifier(pos, neg, dim=64)
    assert w1 == w2 and b1 == b2  # bit-for-bit


def test_train_sample_size_guard(spark, monkeypatch):
    monkeypatch.setattr(C, "MAX_TRAIN_ROWS", 2)
    pos, neg = _mk(spark, QUALITY), _mk(spark, CRAWL[:2], start=100)
    with pytest.raises(ValueError, match="training sample"):
        train_quality_classifier(pos, neg, dim=16)


def test_scoring_plan_is_shuffle_free(spark):
    """Weights ride as literals inside the plan; features are in-row —
    the whole scorer is scan-stage expressions with no Exchange."""
    corpus = _mk(spark, QUALITY + CRAWL)
    df = _score(corpus, [0.1] * 32, -0.5)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Exchange" not in plan


def test_inline_features_match_frame_features(spark):
    """quality_prob_col scores through text.hashed_bow_expr; its feature
    map must stay bit-identical to hashed_bow_embed (what training
    collects) — the training/scoring sync pin."""
    from clickhouse_mysql_data_reader_spark.operators.text import hashed_bow_expr

    corpus = _mk(spark, QUALITY + CRAWL + [""])
    frame = {
        r["doc_id"]: list(r["embedding"])
        for r in hashed_bow_embed(corpus, "text", "doc_id", dim=32).collect()
    }
    inline = {
        r["doc_id"]: list(r["e"])
        for r in corpus.select(
            "doc_id", hashed_bow_expr(F.col("text"), 32).alias("e")
        ).collect()
    }
    assert frame == inline  # bit-for-bit, including the empty doc
