"""Alignment strategies over a scores DF (s_id, t_id, score).

Reference: emma/OntoEmma.py:542-629 (_apply_best/_all/_modh) and
emma/utils/modified_hungarian.py. BEST/ALL are pure window/filter plans;
MODH (global assignment) is inherently sequential in the reference
(randomized greedy iteration, modified_hungarian.py:8-145) — here it is
a deterministic greedy maximal matching, swept once per connected
component of the score graph. On the reference's fixture semantics
(tests/test_assignment_strategies.py) all strategies agree on count.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ontoemma_spark import config
from ontoemma_spark.operators.components import connected_components


def best_alignment(scores: DataFrame, threshold: float = config.SIM_SCORE_THRESHOLD) -> DataFrame:
    """BEST (OntoEmma.py:542-563): per source entity, the single
    highest-scoring target if its score ≥ threshold. Explicit t_id
    tiebreak for distributed determinism."""
    w = Window.partitionBy("s_id").orderBy(F.desc("score"), F.asc("t_id"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("score") >= threshold))
        .drop("rn")
    )


def all_alignment(scores: DataFrame, threshold: float = config.SIM_SCORE_THRESHOLD) -> DataFrame:
    """ALL (OntoEmma.py:565-574): every pair ≥ threshold."""
    return scores.filter(F.col("score") >= threshold)


def greedy_one_to_one_alignment(
    scores: DataFrame,
    threshold: float = config.SIM_SCORE_THRESHOLD,
) -> DataFrame:
    """MODH stand-in (OntoEmma.py:576-611): the sequential greedy 1:1
    matching over (score desc, s_id, t_id) — walk the pairs with score ≥
    threshold in that order, keeping a pair when neither endpoint is
    matched yet. The result is a maximal matching.

    Equivalence: the greedy never looks across connected components of
    the thresholded score graph, so it splits over them.
    connected_components labels the side-tagged endpoints ("s:"‖s_id,
    "t:"‖t_id: a source and a target may share an id), a Spark window
    ranks each component's pairs (Spark decides NaN placement and
    string collation), and one grouped applyInPandas sweeps each
    component in rank order — a constant number of Spark rounds.
    Mutual-best rounds (per-s_id and per-t_id windows, both restrictions
    of this order) reach the same matching but need one round per link
    of a path-shaped graph.

    Bounds: connected_components' gate, or config.CC_MAX_ITERATIONS on
    its distributed path; the largest component's thresholded pairs sit
    in one pandas frame on one task. Rows with a NULL s_id or t_id are
    dropped (align()'s entity_tokens never produces them).

    Diverges from the reference's randomized row-order greedy
    (modified_hungarian.py:113-118 shuffles rows) — documented
    deliberate determinism (SURVEY.md §7.3 hard part 2). For output
    fidelity with the reference (its iterative cost reduction and
    quirks), use operators.assignment.modified_hungarian_alignment — the
    seeded port, KB-bounded driver-side numpy, pinned in
    tests/test_modh.py. This greedy is the unbounded-input scale path.
    """
    cols = scores.columns
    kept = scores.filter(
        (F.col("score") >= threshold) & F.col("s_id").isNotNull() & F.col("t_id").isNotNull()
    )
    s_node = F.concat(F.lit("s:"), F.col("s_id").cast("string"))
    t_node = F.concat(F.lit("t:"), F.col("t_id").cast("string"))
    comps = connected_components(kept.select(s_node.alias("src"), t_node.alias("dst")))
    order = Window.partitionBy("component").orderBy(
        F.desc("score"), F.asc("s_id"), F.asc("t_id")
    )
    ranked = (
        kept.withColumn("node", s_node)
        .join(comps, "node")
        .select(*cols, "component", F.row_number().over(order).alias("_rank"))
    )

    def sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_rank")
        used_s, used_t, keep = set(), set(), []
        for s, t in zip(pdf["s_id"], pdf["t_id"]):
            keep.append(s not in used_s and t not in used_t)
            if keep[-1]:
                used_s.add(s)
                used_t.add(t)
        return pdf.loc[keep, cols]

    return ranked.groupBy("component").applyInPandas(sweep, schema=scores.schema)


def apply_alignment_strategy(
    scores: DataFrame, strategy: str = "best", threshold: float = config.SIM_SCORE_THRESHOLD
) -> DataFrame:
    """Dispatch per OntoEmma.py:613-629 (_compute_alignment)."""
    if strategy == "best":
        return best_alignment(scores, threshold)
    if strategy == "all":
        return all_alignment(scores, threshold)
    if strategy == "modh":
        return greedy_one_to_one_alignment(scores, threshold)
    raise NotImplementedError(f"Unknown alignment strategy: {strategy}")
