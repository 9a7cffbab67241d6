"""Linear quality classifier over hashed bag-of-words features — the
GPT-3/PaLM-style data-quality filter: train logistic regression to
separate a SMALL high-quality reference sample from a random crawl
sample, then score the whole corpus and keep high-probability docs
(Brown et al. 2020 App. A trained exactly this shape against
WebText-vs-CommonCrawl; fastText quality filters are the same linear
model with different features).

Division of labor at 100 TB:

- TRAINING runs driver-side over the two COLLECTED sample matrices.
  This is deliberate: the samples are bounded by design (thousands of
  rows x ``dim`` floats — the same bounded-driver-metadata class as
  kmeans centroid collection), and a driver loop of full-batch
  gradient steps on a few-thousand-row matrix costs milliseconds,
  where a distributed LBFGS would spend more time in job scheduling
  than math. A size guard raises past the bound instead of silently
  collecting a corpus.
- SCORING is a pure Catalyst expression: the learned weight vector is
  inlined as an array literal, the score is one zip_with dot product +
  sigmoid per row, riding the corpus scan with zero shuffles and zero
  Python — the same inline-literals trick as kmeans/PQ assignment.

Training is deterministic: features are the deterministic
``hashed_bow_embed`` vectors, initialization is zeros, and full-batch
gradient descent has no sampling order — same inputs, same weights,
bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from clickhouse_mysql_data_reader_spark.operators.text import hashed_bow_embed

# Collected training matrices are driver memory: n_rows * dim * 8 bytes.
# 200k rows x 256 dims = ~400 MB — past any sane "sample" size.
MAX_TRAIN_ROWS = 200_000


def _collect_features(
    df: DataFrame, text_col: str, id_col: str, dim: int
) -> list[list[float]]:
    # one action: collect one row past the bound instead of a separate
    # count() job that would re-execute the sample's upstream plan
    rows = (
        hashed_bow_embed(df, text_col, id_col, dim=dim)
        .select("embedding")
        .limit(MAX_TRAIN_ROWS + 1)
        .collect()
    )
    if len(rows) > MAX_TRAIN_ROWS:
        raise ValueError(
            f"training sample exceeds {MAX_TRAIN_ROWS} rows; the "
            "classifier trains driver-side on a bounded SAMPLE by design "
            "— downsample first (sampling.sample_condition)"
        )
    return [list(r["embedding"]) for r in rows]


def train_quality_classifier(
    positive: DataFrame,
    negative: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = 256,
    n_iter: int = 200,
    lr: float = 1.0,
    l2: float = 1e-4,
) -> tuple[list[float], float]:
    """Fit logistic regression (full-batch gradient descent, zero init,
    L2 regularization) separating ``positive`` (quality reference) from
    ``negative`` (random crawl sample). Returns ``(weights, bias)`` for
    ``quality_prob_col``. Pure-python math on the bounded collected
    matrices — deterministic, no numpy dependency in the hot loop
    needed (numpy is used for the matrix ops, which are deterministic
    elementwise/dot kernels)."""
    import numpy as np

    xp = np.array(_collect_features(positive, text_col, id_col, dim))
    xn = np.array(_collect_features(negative, text_col, id_col, dim))
    if len(xp) == 0 or len(xn) == 0:
        raise ValueError("both training samples must be non-empty")
    x = np.vstack([xp, xn])
    y = np.concatenate([np.ones(len(xp)), np.zeros(len(xn))])
    w = np.zeros(dim)
    b = 0.0
    n = len(y)
    for _ in range(n_iter):
        z = x @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= lr * ((x.T @ g) / n + l2 * w)
        b -= lr * float(g.mean())
    return [float(v) for v in w], float(b)


def quality_prob_col(text: Column, weights: list[float], bias: float) -> Column:
    """``sigmoid(w . hashed_bow_features(text) + b)`` as ONE Column
    expression — the entire scorer (tokenize, md5 feature-hash, count
    fold, L2 normalize, dot, sigmoid) inlines into whatever scan
    produces ``text``: zero shuffles, zero joins, zero Python. This is
    what lets ``curate()`` gate on the classifier with a plain
    ``filter`` instead of a score-join. Features come from
    ``text.hashed_bow_expr`` — the same map ``train_quality_classifier``
    trains on (sync pinned by test), so scores mean what the training
    loss meant. NOTE an empty/whitespace doc is NOT a zero vector: it
    tokenizes to the single '' token, i.e. a unit vector on md5('')'s
    bucket, and scores ``sigmoid(w[that bucket] + b)`` — the quality
    gate upstream owns empty docs; don't rely on this gate for them."""
    from clickhouse_mysql_data_reader_spark.operators.text import hashed_bow_expr

    dim = len(weights)
    emb = hashed_bow_expr(text, dim)
    w_lit = F.array(*[F.lit(float(v)) for v in weights])
    z = (
        F.aggregate(
            F.zip_with(emb, w_lit, lambda x, wv: x * wv), F.lit(0.0), lambda a, t: a + t
        )
        + F.lit(float(bias))
    )
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
