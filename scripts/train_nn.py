#!/usr/bin/env python
"""Train the default NN pair scorer and pin its weights.

Deterministic end-to-end: fixed input (sf0.01 part table), fixed gold
(the even→even+1 diagonal used across the demo queries), fixed seed
full-batch backprop (scoring_nn.fit_mlp). Output is committed as
ontoemma_spark/operators/nn_weights.py so both the Spark plan and the
generated DuckDB oracle (mlp_forward_sql) share one set of literals —
rerunning this script reproduces the file byte-for-byte.

Usage: PYTHONPATH=/root/repo python scripts/train_nn.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ontoemma_spark.operators.scoring_nn import (  # noqa: E402
    NN_PAIR_FEATURES,
    fit_mlp,
    nn_pair_features,
)
from ontoemma_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "ontoemma_spark",
    "operators",
    "nn_weights.py",
)


def training_pairs(spark):
    """Labeled pairs with the signal structure of real alignment data
    (the reference trains on labeled synonym/alignment pairs —
    emma/extract_training_data_from_umls.py): positives are name
    variants of the SAME part (exact, case-flipped, token-rotated,
    last-token-dropped — the alias-variation regimes), negatives are
    names of DIFFERENT parts, which still share the 16-word TPC-H name
    vocabulary and so make genuinely hard negatives."""
    part = spark.read.parquet(f"{SF_DIR}/part.parquet").select(
        "p_partkey", "p_name"
    )
    toks = F.split("p_name", " ")
    rotated = F.array_join(
        F.concat(F.slice(toks, 2, 100), F.slice(toks, 1, 1)), " "
    )
    truncated = F.array_join(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(1))), " "
    )
    base = part.select(
        F.col("p_partkey").alias("s_key"), F.col("p_name").alias("s_name"),
        rotated.alias("rot"), truncated.alias("trunc"),
    )
    pos = None
    for variant in [F.col("s_name"), F.initcap("s_name"), F.col("rot"), F.col("trunc")]:
        p = base.select(
            "s_key", F.col("s_key").alias("t_key"), "s_name",
            variant.alias("t_name"), F.lit(1.0).alias("label"),
        )
        pos = p if pos is None else pos.unionByName(p)
    t = part.select(
        F.col("p_partkey").alias("t_key"), F.col("p_name").alias("t_name")
    )
    neg = None
    for offset in [3, 5, 7]:
        p = (
            base.select("s_key", "s_name")
            .join(t, F.col("t_key") == F.col("s_key") + offset)
            .select(
                "s_key", "t_key", "s_name", "t_name", F.lit(0.0).alias("label")
            )
        )
        neg = p if neg is None else neg.unionByName(p)
    return pos.unionByName(neg)


def main() -> None:
    spark = get_spark(app_name="train-nn", master="local[8]", shuffle_partitions=8)
    try:
        pairs = training_pairs(spark)
        featurized = pairs.select(
            F.col("s_key").cast("string").alias("s_id"),
            F.col("t_key").cast("string").alias("t_id"),
            "label",
            *nn_pair_features("s_name", "t_name"),
        )
        model = fit_mlp(
            featurized,
            "label",
            feature_names=NN_PAIR_FEATURES,
            hidden=6,
            lr=0.3,
            epochs=2000,
            seed=7,
        )
        # report training-set separation
        scored = model.score_pairs(featurized).select("label", "score").collect()
        pos = [r["score"] for r in scored if r["label"] == 1.0]
        neg = [r["score"] for r in scored if r["label"] == 0.0]
        print(
            f"train pairs={len(scored)} pos_mean={sum(pos)/len(pos):.4f} "
            f"neg_mean={sum(neg)/len(neg):.4f} "
            f"pos_min={min(pos):.4f} neg_max={max(neg):.4f}"
        )
        d = model.to_dict()
        with open(OUT, "w") as f:
            f.write(
                '"""PINNED weights of the default NN pair scorer.\n\n'
                "GENERATED by scripts/train_nn.py (deterministic: fixed input,\n"
                "fixed seed, full-batch backprop) — do not edit by hand; rerun\n"
                "the script to reproduce byte-for-byte. The Spark plan\n"
                "(MLPModel.score_pairs) and the generated DuckDB oracle both\n"
                'project it as mlp_forward_sql text: one model, two engines."""\n\n'
                "from ontoemma_spark.operators.scoring_nn import MLPModel\n\n"
                f"NN_STATE = {d!r}\n\n\n"
                "def default_nn_model() -> MLPModel:\n"
                "    return MLPModel.from_dict(NN_STATE)\n"
            )
        print(f"wrote {OUT}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
