"""Neural pair scorer (SURVEY §2.9 M3) — a REAL, deterministic numpy
realization of the reference's OntoEmmaNN decision network.

Reference: OntoEmmaNN (emma/allennlp_classes/ontoemma_model.py:73-164)
encodes name/alias/definition, concatenates the siamese outputs with the
engineered features and runs a decision feedforward + sigmoid; inference
happens in batches of 128 (emma/OntoEmma.py:737,766-797).

Torch/AllenNLP are not in this container, so the decision network is a
numpy MLP trained by deterministic full-batch backprop (fit_mlp, fixed
seed — reproducible bit-for-bit) over the same engineered-feature
vectors the reference concatenates into its decision layer:

    hidden = tanh(X @ W1 + b1)        score = sigmoid(hidden @ W2 + b2)

MLPModel.score_pairs projects the forward pass as one SQL expression
with literalized weights (mlp_forward_sql; tanh/exp are JVM built-ins),
so scoring stays inside whole-stage codegen: zero Python in the
10^12-pair hot path. The same text, over sql_pair_features, is the
DuckDB oracle of the nn_scores query. MLPModel.forward is the numpy
twin fit_mlp trains with; tests/test_nn_scorer.py pins score_pairs to
it within 1e-12.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ontoemma_spark.operators.scoring import _with_score


def _tanh_sql(z: str) -> str:
    """tanh via the exp identity, clamped at ±20 (tanh(±20) rounds to
    ±1.0 in doubles, so the clamp is value-preserving and prevents exp
    overflow) — the same double operations in Spark and DuckDB."""
    return f"(1.0 - 2.0 / (exp(2.0 * least(greatest({z}, -20.0), 20.0)) + 1.0))"


class MLPModel:
    """One-hidden-layer tanh MLP over pair feature columns.

    W1: (n_features, hidden); b1: (hidden,); W2: (hidden,); b2: float.
    """

    def __init__(
        self,
        feature_names: list[str],
        W1: list[list[float]],
        b1: list[float],
        W2: list[float],
        b2: float,
    ):
        self.feature_names = list(feature_names)
        self.W1 = np.asarray(W1, dtype=np.float64)
        self.b1 = np.asarray(b1, dtype=np.float64)
        self.W2 = np.asarray(W2, dtype=np.float64)
        self.b2 = float(b2)
        assert self.W1.shape == (len(self.feature_names), len(self.b1))
        assert self.W2.shape == (len(self.b1),)

    def score_pairs(self, featurized: DataFrame, out: str = "score") -> DataFrame:
        """featurized with ``out`` = the forward pass over its feature
        columns, one native expression (mlp_forward_sql)."""
        inputs = {name: f"`{name}`" for name in self.feature_names}
        return _with_score(featurized, mlp_forward_sql(self, inputs), out)

    def forward(self, X: np.ndarray) -> np.ndarray:
        h = np.tanh(X @ self.W1 + self.b1)
        z = h @ self.W2 + self.b2
        return 1.0 / (1.0 + np.exp(-z))

    # ---- (de)serialization ---------------------------------------------

    def to_dict(self) -> dict:
        return {
            "feature_names": self.feature_names,
            "W1": self.W1.tolist(),
            "b1": self.b1.tolist(),
            "W2": self.W2.tolist(),
            "b2": self.b2,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "MLPModel":
        return cls(d["feature_names"], d["W1"], d["b1"], d["W2"], d["b2"])


def fit_mlp(
    featurized: DataFrame,
    label_col: str = "label",
    feature_names: list[str] | None = None,
    hidden: int = 8,
    lr: float = 0.3,
    epochs: int = 1500,
    seed: int = 7,
) -> MLPModel:
    """Deterministic full-batch backprop on the driver (numpy).

    The reference trains its decision network with allennlp's trainer on
    a small labeled pair set (emma/OntoEmma.py:189-260); training-set
    size is KB-bounded, so driver-side numpy is the honest equivalent —
    inference is the scale path, not training. Fixed seed + full-batch
    GD → bit-reproducible weights (the basis for the pinned
    nn_weights.py used by the driver query's static SQL oracle). The L2
    penalty is 1e-4.
    """
    l2 = 1e-4
    from ontoemma_spark.operators.features import FEATURE_NAMES

    feature_names = feature_names or FEATURE_NAMES
    rows = featurized.select(*feature_names, label_col).collect()
    X = np.array([[float(r[f]) for f in feature_names] for r in rows])
    y = np.array([float(r[label_col]) for r in rows])
    rng = np.random.RandomState(seed)
    k = X.shape[1]
    W1 = rng.normal(0.0, 0.5, size=(k, hidden))
    b1 = np.zeros(hidden)
    W2 = rng.normal(0.0, 0.5, size=hidden)
    b2 = 0.0
    n = len(y)
    for _ in range(epochs):
        H = np.tanh(X @ W1 + b1)
        p = 1.0 / (1.0 + np.exp(-(H @ W2 + b2)))
        g = (p - y) / n  # dL/dz2 for BCE loss
        gW2 = H.T @ g + l2 * W2
        gb2 = g.sum()
        gH = np.outer(g, W2) * (1.0 - H * H)
        gW1 = X.T @ gH + l2 * W1
        gb1 = gH.sum(axis=0)
        W1 -= lr * gW1
        b1 -= lr * gb1
        W2 -= lr * gW2
        b2 -= lr * gb2
    return MLPModel(
        feature_names, W1.tolist(), b1.tolist(), W2.tolist(), float(b2)
    )


# ---------------------------------------------------------------------------
# SQL-twin pair features (the driver query's input vector)
# ---------------------------------------------------------------------------

# The 8 features below are the SQL-expressible core of the engineered
# set (EngineeredFeatureGenerator.py:226-338): equality flags, token/
# n-gram jaccards, acronym, and length ratios. The full 32-feature path
# (featurize_pairs) includes stem/lemma features that have no DuckDB
# twin; align(model=nn) uses that full path (pytest-pinned), while the
# driver query nn_scores uses these so the oracle can replay the exact
# forward pass.
NN_PAIR_FEATURES = [
    "f_exact",
    "f_lower_eq",
    "f_tok_jaccard",
    "f_gram_jaccard",
    "f_acronym_eq",
    "f_tok_ratio",
    "f_len_ratio",
    "f_shared_frac",
]


def nn_pair_features(s_name, t_name) -> list[Column]:
    """Native column expressions for NN_PAIR_FEATURES over two name
    columns. Mirrored 1:1 by sql_pair_features() for the DuckDB twin."""
    s = F.col(s_name) if isinstance(s_name, str) else s_name
    t = F.col(t_name) if isinstance(t_name, str) else t_name
    ls, lt = F.lower(s), F.lower(t)
    stoks = F.array_distinct(F.split(ls, " "))
    ttoks = F.array_distinct(F.split(lt, " "))
    inter = F.size(F.array_intersect(stoks, ttoks)).cast("double")
    union = F.size(F.array_union(stoks, ttoks)).cast("double")

    def grams(c):
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length(c) - F.lit(3), F.lit(1))),
                lambda i: c.substr(i, F.lit(4)),
            )
        )

    sg, tg = grams(ls), grams(lt)
    ginter = F.size(F.array_intersect(sg, tg)).cast("double")
    gunion = F.size(F.array_union(sg, tg)).cast("double")
    acro = lambda toks: F.array_join(  # noqa: E731
        F.transform(toks, lambda x: F.substring(x, 1, 1)), ""
    )
    ns = F.size(stoks).cast("double")
    nt = F.size(ttoks).cast("double")
    return [
        (s == t).cast("double").alias("f_exact"),
        (ls == lt).cast("double").alias("f_lower_eq"),
        (inter / union).alias("f_tok_jaccard"),
        (ginter / gunion).alias("f_gram_jaccard"),
        (acro(F.split(ls, " ")) == acro(F.split(lt, " "))).cast("double").alias(
            "f_acronym_eq"
        ),
        (F.least(ns, nt) / F.greatest(ns, nt)).alias("f_tok_ratio"),
        # try_divide: two empty names are 0/0 — NULL, as in the DuckDB twin
        F.try_divide(
            F.least(F.length(ls), F.length(lt)).cast("double"),
            F.greatest(F.length(ls), F.length(lt)).cast("double"),
        ).alias("f_len_ratio"),
        (inter / F.greatest(ns, nt)).alias("f_shared_frac"),
    ]


def sql_pair_features(s_expr: str, t_expr: str) -> dict[str, str]:
    """DuckDB twins of nn_pair_features, keyed by feature name. The
    4-gram list uses the same generate_series construction as the Spark
    sequence()."""
    ls, lt = f"lower({s_expr})", f"lower({t_expr})"

    def toks(c):
        return f"list_distinct(string_split({c}, ' '))"

    def grams(c):
        return (
            f"list_distinct(list_transform("
            f"generate_series(1, greatest(length({c}) - 3, 1)),"
            f" i -> substr({c}, i, 4)))"
        )

    def acro(c):
        return f"list_aggregate(list_transform(string_split({c}, ' '), x -> substr(x, 1, 1)), 'string_agg', '')"

    st, tt = toks(ls), toks(lt)
    sg, tg = grams(ls), grams(lt)
    inter = f"CAST(len(list_intersect({st}, {tt})) AS DOUBLE)"
    union = f"CAST(len(list_distinct(list_concat({st}, {tt}))) AS DOUBLE)"
    ginter = f"CAST(len(list_intersect({sg}, {tg})) AS DOUBLE)"
    gunion = f"CAST(len(list_distinct(list_concat({sg}, {tg}))) AS DOUBLE)"
    ns = f"CAST(len({st}) AS DOUBLE)"
    nt = f"CAST(len({tt}) AS DOUBLE)"
    return {
        "f_exact": f"CAST({s_expr} = {t_expr} AS DOUBLE)",
        "f_lower_eq": f"CAST({ls} = {lt} AS DOUBLE)",
        "f_tok_jaccard": f"({inter} / {union})",
        "f_gram_jaccard": f"({ginter} / {gunion})",
        "f_acronym_eq": f"CAST({acro(ls)} = {acro(lt)} AS DOUBLE)",
        "f_tok_ratio": f"(least({ns}, {nt}) / greatest({ns}, {nt}))",
        "f_len_ratio": (
            f"(CAST(least(length({ls}), length({lt})) AS DOUBLE)"
            f" / CAST(greatest(length({ls}), length({lt})) AS DOUBLE))"
        ),
        "f_shared_frac": f"({inter} / greatest({ns}, {nt}))",
    }


def mlp_forward_sql(model: MLPModel, feature_exprs: dict[str, str]) -> str:
    """The model's forward pass as one SQL scalar expression with
    literalized weights, read the same by Spark SQL and DuckDB:
    score_pairs projects it over the feature columns, and the nn_scores
    oracle over sql_pair_features."""
    hidden = []
    for j in range(len(model.b1)):
        terms = [repr(float(model.b1[j]))]
        for i, name in enumerate(model.feature_names):
            w = float(model.W1[i, j])
            if w != 0.0:
                terms.append(f"({w!r}) * {feature_exprs[name]}")
        hidden.append(_tanh_sql(" + ".join(terms)))
    out_terms = [repr(float(model.b2))]
    for j, h in enumerate(hidden):
        out_terms.append(f"({float(model.W2[j])!r}) * {h}")
    z = " + ".join(out_terms)
    return f"(1.0 / (1.0 + exp(-({z}))))"
