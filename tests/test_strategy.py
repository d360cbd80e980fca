"""Alignment strategies (emma/OntoEmma.py:542-629). Mirrors the
reference's test contract (tests/test_assignment_strategies.py): on a
fixed score table all strategies produce the expected alignment count."""

import pytest

from ontoemma_spark.operators.strategy import (
    all_alignment,
    apply_alignment_strategy,
    best_alignment,
    greedy_one_to_one_alignment,
)

# 6 pairs ≥ 0.90 across 4 sources; s1 has two above-threshold targets.
SCORES = [
    ("s1", "t1", 0.99), ("s1", "t2", 0.95), ("s2", "t2", 0.97),
    ("s2", "t9", 0.10), ("s3", "t3", 0.91), ("s3", "t1", 0.40),
    ("s4", "t4", 0.93), ("s4", "t5", 0.90), ("s5", "t6", 0.89),
]


@pytest.fixture(scope="module")
def scores(spark):
    return spark.createDataFrame(SCORES, "s_id string, t_id string, score double")


def test_best_picks_argmax_above_threshold(spark, scores):
    got = {(r["s_id"], r["t_id"]): r["score"] for r in best_alignment(scores).collect()}
    assert got == {
        ("s1", "t1"): 0.99, ("s2", "t2"): 0.97, ("s3", "t3"): 0.91, ("s4", "t4"): 0.93,
    }


def test_all_keeps_every_pair_above_threshold(spark, scores):
    got = set((r["s_id"], r["t_id"]) for r in all_alignment(scores).collect())
    assert got == {
        ("s1", "t1"), ("s1", "t2"), ("s2", "t2"), ("s3", "t3"), ("s4", "t4"), ("s4", "t5"),
    }


def test_greedy_one_to_one_is_a_matching(spark, scores):
    rows = greedy_one_to_one_alignment(scores).collect()
    s_ids = [r["s_id"] for r in rows]
    t_ids = [r["t_id"] for r in rows]
    assert len(s_ids) == len(set(s_ids)) and len(t_ids) == len(set(t_ids))
    got = {(r["s_id"], r["t_id"]) for r in rows}
    # greedy in score order: s1-t1 (0.99), s2-t2 (0.97), s4-t4, s3-t3
    assert got == {("s1", "t1"), ("s2", "t2"), ("s3", "t3"), ("s4", "t4")}


def test_best_tiebreak_deterministic(spark):
    df = spark.createDataFrame(
        [("s", "tb", 0.95), ("s", "ta", 0.95)], "s_id string, t_id string, score double"
    )
    assert best_alignment(df).collect()[0]["t_id"] == "ta"


def test_dispatch(spark, scores):
    assert apply_alignment_strategy(scores, "best").count() == 4
    assert apply_alignment_strategy(scores, "all").count() == 6
    assert apply_alignment_strategy(scores, "modh").count() == 4
    with pytest.raises(NotImplementedError):
        apply_alignment_strategy(scores, "nope")


def _path_scores(spark, n):
    """Path-shaped score graph s0-t1-s2-t3-… with strictly decreasing
    weights: the greedy matches (s2k, t2k+1) for k < n, and the
    mutual-best rounds this replaced needed one round per match."""
    rows = []
    for k in range(n):
        rows.append((f"s{2 * k}", f"t{2 * k + 1}", 1.0 / (4 * k + 1)))
        rows.append((f"s{2 * k + 2}", f"t{2 * k + 1}", 1.0 / (4 * k + 3)))
    return spark.createDataFrame(rows, "s_id string, t_id string, score double")


def test_greedy_multi_round_preserves_column_roles(spark):
    """Regression: rows matched deep in a greedy chain must still carry
    (s_id, t_id) in the right roles — an earlier round-based version
    reordered columns between rounds and swapped them."""
    got = {(r["s_id"], r["t_id"]) for r in
           greedy_one_to_one_alignment(_path_scores(spark, 4), threshold=0.0).collect()}
    assert got == {(f"s{2 * k}", f"t{2 * k + 1}") for k in range(4)}


def test_greedy_job_count_does_not_grow_with_chain_length(spark):
    """One component sweep, not one Spark round per match: the path
    fixture runs the same number of jobs at 4 and at 12 matches (6 on
    local[4]; the round-based version ran about 10 per match)."""
    sc = spark.sparkContext
    jobs = []
    for n in (4, 12):
        group = f"test_greedy_job_count_{n}"
        sc.setJobGroup(group, group)
        try:
            rows = greedy_one_to_one_alignment(_path_scores(spark, n), threshold=0.0).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rows) == n
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    assert jobs[0] == jobs[1] <= 12, jobs
