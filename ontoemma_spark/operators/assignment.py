"""Faithful MODH global assignment (G6) — the reference's modified-
Hungarian iterative cost-reduction, deterministic-seeded.

Reference: emma/utils/modified_hungarian.py:8-145 (ModifiedHungarian)
applied by emma/OntoEmma.py:577-611 (_apply_modh_alignment_strategy):
build a cost matrix (1 - score, default cost 1.0), then run up to 100
rounds of shuffled greedy row assignment with Hungarian-style cost
reduction (subtract the min remaining unassigned cost from unassigned
candidate entries, add it to assigned ones, clamp to [0, 1]) and keep
the cheapest assignment seen; stop after 11 rounds without improvement.

The cost matrix is (|s_kb| × |t_kb|) — KB-bounded, exactly the regime
the reference runs on a single node — so this runs driver-side numpy by
design. The DISTRIBUTED stand-in for unbounded score sets remains
strategy.greedy_one_to_one_alignment (one greedy sweep per connected
component of the score graph); this module
exists for output fidelity with the reference on its own fixture
(tests/test_assignment_strategies.py:23-36 → tests/test_modh.py).

Replicated quirks (deliberate, for parity — each cited):
  * modified_hungarian.py:26 `if row_sort[0][0] != 1.0`: compares the
    best-cost COLUMN INDEX against 1.0 — a row whose cheapest column is
    column 1 is dropped from assignment entirely. Suspected reference
    bug (the intent was probably the cost, row_sort[0][1]); replicated
    as written.
  * :118-137 row assignments accumulate ACROSS rounds (the list is
    never cleared), and the no-improvement counter increments on every
    round once a best cost exists (`total_cost >= lowest_cost` is true
    immediately after lowest_cost is updated), so the loop always ends
    after 11 rounds.
  * :113 uses random.shuffle (nondeterministic); here the shuffle is
    seeded (random.Random(seed)) — the ONE documented divergence, made
    so distributed reruns reproduce bit-for-bit.
"""

from __future__ import annotations

import random

import numpy as np
from pyspark.sql import DataFrame

from ontoemma_spark import config


class _ModifiedHungarian:
    """Numpy port of ModifiedHungarian (modified_hungarian.py:8-145)."""

    def __init__(self, mat: np.ndarray, seed: int = 0):
        self.best_n = config.MODH_KEEP_TOP_N_CANDIDATES
        self.transposed = False
        self.mat = np.asarray(mat, dtype=np.float64)
        self.row_num = self.mat.shape[0]
        self.col_num = self.mat.shape[1]
        self.rng = random.Random(seed)
        if self.col_num > self.row_num:
            self.transposed = True
            self.mat = self.mat.T.copy()

    def _get_bestn_per_row(self):
        keep_n = {}
        # NB: ranges use the PRE-transpose row/col counts, exactly like
        # the reference (:22-28) — zip truncation reproduces its
        # behavior on transposed inputs.
        for row_id in range(self.row_num):
            row = self.mat[row_id]
            row_sort = sorted(
                zip(range(self.col_num), row[: self.col_num]), key=lambda x: x[1]
            )
            if not row_sort:
                continue
            if row_sort[0][0] != 1.0:  # index-vs-1.0 comparison (:26)
                keep_n[row_id] = [
                    [i, True] for i, c in row_sort[: self.best_n] if c < 1.0
                ]
        return keep_n

    @staticmethod
    def _get_first_unassigned(lst):
        for i, v in enumerate(lst):
            if v[1]:
                return i
        return -1

    @staticmethod
    def _obliterate_ind(ind, ind_dict):
        for v in ind_dict.values():
            for p in v:
                if p[0] == ind:
                    p[1] = False
        return ind_dict

    def _get_min_remaining_cost(self, ind_dict):
        costs = [
            self.mat[r][p[0]]
            for r, v in ind_dict.items()
            for p in v
            if p[1]
        ]
        return min(costs) if costs else 0.0

    def _update_costs(self, min_cost, ind_dict):
        for r, v in ind_dict.items():
            for p in v:
                if p[1]:
                    self.mat[r][p[0]] -= min_cost
                else:
                    self.mat[r][p[0]] += min_cost
        np.clip(self.mat, 0.0, 1.0, out=self.mat)

    def _compute_total_cost(self, pairs):
        return float(sum(self.mat[r][c] for r, c in pairs))

    def compute(self):
        iter_unchanged = 0
        row_top_n = self._get_bestn_per_row()
        row_assignments = []
        best_assignment = set()
        lowest_cost = float(max(self.row_num, self.col_num))

        for _ in range(100):
            rand_row = list(range(self.row_num))
            self.rng.shuffle(rand_row)
            for row_ind in rand_row:
                if row_ind in row_top_n:
                    col_opts = row_top_n[row_ind]
                    assign = self._get_first_unassigned(col_opts)
                    if assign >= 0:
                        col_ind = col_opts[assign][0]
                        row_assignments.append((row_ind, col_ind))
                        row_top_n = self._obliterate_ind(col_ind, row_top_n)

            temp_assignment = set(row_assignments)
            total_cost = self._compute_total_cost(temp_assignment)
            if total_cost < lowest_cost:
                best_assignment = temp_assignment
                lowest_cost = total_cost
            if total_cost >= lowest_cost:
                iter_unchanged += 1
            if iter_unchanged > 10:
                break
            min_cost = self._get_min_remaining_cost(row_top_n)
            self._update_costs(min_cost, row_top_n)
            row_top_n = self._get_bestn_per_row()

        if self.transposed:
            return [(c, r) for (r, c) in best_assignment]
        return list(best_assignment)


def modified_hungarian_alignment(
    scores: DataFrame,
    s_order: list[str],
    t_order: list[str],
    threshold: float = config.SIM_SCORE_THRESHOLD,
    seed: int = 0,
) -> DataFrame:
    """MODH strategy with reference semantics (OntoEmma.py:577-611):
    collect the (KB-bounded) candidate scores, build the cost matrix in
    entity-list order, run the iterative cost reduction, keep assigned
    pairs scoring >= threshold. Returns (s_id, t_id, score).

    s_order/t_order are the KB entity-id lists in load order — the
    reference indexes its matrix by kb.get_entity_index (OntoEmma.py:
    594-595), so row/column order is part of the algorithm's semantics.
    """
    spark = scores.sparkSession
    s_idx = {e: i for i, e in enumerate(s_order)}
    t_idx = {e: i for i, e in enumerate(t_order)}
    rows = scores.select("s_id", "t_id", "score").collect()
    sim = {(r["s_id"], r["t_id"]): float(r["score"]) for r in rows}
    mat = np.ones((len(s_order), len(t_order)), dtype=np.float64)
    for (s, t), sc in sim.items():
        if s in s_idx and t in t_idx:
            mat[s_idx[s]][t_idx[t]] = 1.0 - sc
    indices = _ModifiedHungarian(mat, seed=seed).compute()
    out = []
    for r, c in sorted(indices):
        pair = (s_order[r], t_order[c])
        sc = sim.get(pair)
        if sc is not None and sc >= threshold:
            out.append((pair[0], pair[1], sc))
    return spark.createDataFrame(out, "s_id string, t_id string, score double")
