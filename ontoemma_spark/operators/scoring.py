"""Logistic-regression pair scoring (emma/OntoEmmaLRModel.py:35-66).

Train (M1): the reference fits sklearn LogisticRegression on a SMALL
in-memory feature matrix (DictVectorizer, OntoEmmaLRModel.py:42); we fit
the same model with deterministic full-batch gradient descent in numpy on
the driver (training pair sets are tiny relative to the cluster;
inference is the scale path).

Predict (M2): predict_proba == sigmoid(w·x + b) — pure native column
math over the 32 feature columns. The weights travel in the plan as
literals, so scoring is whole-stage-codegen'd JVM work: zero Python in
the 10^12-pair hot path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ontoemma_spark.operators.features import FEATURE_NAMES


def _with_score(featurized: DataFrame, score_sql: str, out: str) -> DataFrame:
    """featurized plus the SQL expression score_sql as column ``out``,
    projected in one selectExpr; an existing ``out`` column is replaced
    in place."""
    score = f"{score_sql} AS `{out}`"
    columns = featurized.columns
    cols = [score if c == out else f"`{c}`" for c in columns]
    if out not in columns:
        cols.append(score)
    return featurized.selectExpr(*cols)


class LRModel:
    def __init__(self, weights: dict[str, float], bias: float):
        self.weights = weights
        self.bias = bias

    def score_pairs(self, featurized: DataFrame, out: str = "score") -> DataFrame:
        """featurized with ``out`` = sigmoid(b + Σ w_i * feature_i), one
        native expression built as SQL text."""
        terms = [f"{float(self.bias)!r}D"] + [
            f"{float(w)!r}D * `{name}`" for name, w in self.weights.items() if w != 0.0
        ]
        return _with_score(
            featurized, f"1.0D / (1.0D + exp(-({' + '.join(terms)})))", out
        )

    def to_dict(self) -> dict:
        return {"weights": self.weights, "bias": self.bias}

    @classmethod
    def from_dict(cls, d: dict) -> "LRModel":
        return cls(dict(d["weights"]), float(d["bias"]))


def fit_lr(
    featurized: DataFrame,
    label_col: str = "label",
    feature_names: list[str] | None = None,
    epochs: int = 300,
) -> LRModel:
    """Deterministic full-batch logistic regression (driver-side numpy),
    step size 0.5, L2 penalty 1e-3.

    Replaces sklearn fit (OntoEmmaLRModel.py:35-46). Features are
    standardized implicitly by the bounded feature ranges ([-1, 1]);
    full-batch GD with fixed epochs is reproducible bit-for-bit.
    """
    lr, l2 = 0.5, 1e-3
    feature_names = feature_names or FEATURE_NAMES
    rows = featurized.select(*feature_names, label_col).collect()
    X = np.array([[float(r[f]) for f in feature_names] for r in rows])
    y = np.array([float(r[label_col]) for r in rows])
    w = np.zeros(X.shape[1])
    b = 0.0
    n = len(y)
    for _ in range(epochs):
        z = X @ w + b
        p = 1.0 / (1.0 + np.exp(-z))
        g = p - y
        w -= lr * (X.T @ g / n + l2 * w)
        b -= lr * float(g.mean())
    return LRModel({f: float(wi) for f, wi in zip(feature_names, w)}, float(b))


# A pinned, deterministic default model for the flagship pipeline when no
# training pairs are supplied: weights chosen so that exact-name matches
# (the string-equiv regime) and near-exact alias/jaccard agreement score
# above the 0.90 threshold while disjoint pairs score near 0 — mirroring
# the reference's trained-LR decision surface on its micro fixture
# (tests/test_ontoemma.py:42-71 asserts P≥0.8/R≥0.6 under exactly that
# regime).
DEFAULT_LR_MODEL = LRModel(
    weights={
        "has_same_canonical_name": 1.2,
        "has_same_canonical_name_token_set": 0.8,
        "has_same_stemmed_name_token_set": 0.6,
        "has_same_lemmatized_name_token_set": 0.4,
        "name_char_4gram_jaccard": 1.0,
        "name_char_5gram_jaccard": 1.0,
        "has_alias_in_common": 1.0,
        "alias_token_jaccard": 0.8,
        "max_alias_token_jaccard": 1.2,
        "max_alias_4gram_jaccard": 0.8,
        "max_alias_5gram_jaccard": 0.8,
        "has_same_acronym": 0.3,
        "definition_token_jaccard": 0.5,
        "has_same_root_word": 0.3,
        "root_word_jaccard": 0.3,
    },
    bias=-6.5,
)
