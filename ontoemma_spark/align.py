"""End-to-end ontology alignment (the reference's flagship entry point,
emma/OntoEmma.py:816-873 `align`) as one lazy DataFrame composition:

  1. candidate selection  (CandidateSelection)      blocking.py
  2. string-equiv fast path (OntoEmma.py:506-540)   string_equiv.py
  3. feature gen + LR scoring for the remainder     features.py/scoring.py
  4. neighborhood propagation (default 0 iters ==
     identity, matching OntoEmma.py:859)            graph.py
  5. strategy (best/all/modh) at threshold 0.90     strategy.py

The string-equiv anti-join short-circuit mirrors the reference: sources
matched exactly skip model scoring entirely (OntoEmma.py:693-715).

Two intermediates are persisted (MEMORY_AND_DISK): the candidates
(bounded by top_k × |S|) and the string-equiv pairs (a subset of them).
The candidates feed the string-equiv join and the to-score pairs; the
string-equiv pairs feed the two anti-joins that short-circuit model
scoring and the score union. Unpersisted, one action on the alignment
would run the blocking probe four times. The caller owns the cache:
AlignmentResult.release() unpersists both after the last action on the
result (run_pipeline releases in the finally around its link write). If
align() itself raises, it unpersists them before the error propagates.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontoemma_spark import config
from ontoemma_spark.operators.blocking import candidate_pairs_broadcast_index, entity_tokens
from ontoemma_spark.operators.features import entity_feature_table, featurize_pairs
from ontoemma_spark.operators.normalize import filter_named_entities, normalize_entities
from ontoemma_spark.operators.scoring import DEFAULT_LR_MODEL, LRModel
from ontoemma_spark.operators.strategy import apply_alignment_strategy
from ontoemma_spark.operators.string_equiv import string_equiv_alignment


@dataclass
class AlignmentResult:
    candidates: DataFrame  # (s_id, t_id, cand_score, rank)
    string_equiv: DataFrame  # (s_id, t_id, score=1.0)
    scores: DataFrame  # all scored pairs (s_id, t_id, score)
    alignment: DataFrame  # strategy output (s_id, t_id, score)

    def release(self) -> None:
        """Unpersist the candidates and string-equiv pairs align()
        cached. Later actions on this result recompute them."""
        self.candidates.unpersist()
        self.string_equiv.unpersist()


def align(
    s_entities: DataFrame,
    t_entities: DataFrame,
    model: LRModel | None = None,
    strategy: str = "best",
    threshold: float = config.SIM_SCORE_THRESHOLD,
) -> AlignmentResult:
    """Candidates come from candidate_pairs_broadcast_index, which runs
    the relational blocking join itself when the target index does not
    fit on the driver, keeping config.KEEP_TOP_K_CANDIDATES per source.

    Both KBs are normalized first (P1: the reference align() calls
    normalize_kb on both sides before candidate selection,
    OntoEmma.py:846-848 — tokenization is case-sensitive, so skipping it
    loses candidates on mixed-case input)."""
    model = model or DEFAULT_LR_MODEL
    s_entities = normalize_entities(s_entities)
    t_entities = normalize_entities(t_entities)
    # both corpus sizes (the blocking IDFs' N) in one job, not two
    side = F.col("_is_s")
    s_count, t_count = (
        s_entities.select(F.lit(True).alias("_is_s"))
        .unionByName(t_entities.select(F.lit(False).alias("_is_s")))
        .agg(F.count_if(side), F.count_if(~side))
        .first()
    )

    cands = candidate_pairs_broadcast_index(
        entity_tokens(s_entities), entity_tokens(t_entities), s_count, t_count,
        top_k=config.KEEP_TOP_K_CANDIDATES,
    ).persist(StorageLevel.MEMORY_AND_DISK)
    equiv = string_equiv_alignment(s_entities, t_entities, candidates=cands).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        scores = equiv.select("s_id", "t_id", "score").unionByName(
            _model_scores(s_entities, t_entities, cands, equiv, model)
        )
        alignment = apply_alignment_strategy(scores, strategy, threshold)
    except BaseException:
        cands.unpersist()
        equiv.unpersist()
        raise
    return AlignmentResult(cands, equiv, scores, alignment)


def _model_scores(
    s_entities: DataFrame,
    t_entities: DataFrame,
    cands: DataFrame,
    equiv: DataFrame,
    model,
) -> DataFrame:
    """(s_id, t_id, score) from the model for the candidates string
    equivalence left unmatched."""
    # model scoring short-circuit (OntoEmma.py:695-722 _apply_model_align):
    # skip sources AND targets already string-equiv matched, and skip
    # unnamed entities whose canonical name equals their id (P8,
    # :710-715 — unnamed OWL imports are never model-scored). The
    # featurize and name joins below are inner, so feeding them the
    # named entities alone drops the unnamed ones' pairs.
    s_entities = filter_named_entities(s_entities)
    t_entities = filter_named_entities(t_entities)
    to_score = cands.join(equiv.select("s_id"), "s_id", "left_anti").join(
        equiv.select("t_id"), "t_id", "left_anti"
    )
    from ontoemma_spark.operators.scoring_nn import NN_PAIR_FEATURES, MLPModel
    from ontoemma_spark.operators.siamese import SiameseScorer, score_pairs_siamese

    if isinstance(model, SiameseScorer):
        # full siamese BiLSTM/char-CNN scorer (reference architecture,
        # ontoemma_model.py:73-164): hydrate names/aliases/definitions
        # via broadcast (KB-sized), compute the 32 engineered features
        # natively, then run the Arrow-batched numpy forward pass — the
        # compatibility path for reference-trained weights
        # (SiameseScorer.from_allennlp_state).
        def _text_side(ents: DataFrame, p: str) -> DataFrame:
            return ents.select(
                F.col("research_entity_id").alias(f"{p}_id"),
                F.col("canonical_name").alias(f"{p}_name"),
                F.coalesce(F.col("aliases"), F.array().cast("array<string>")).alias(
                    f"{p}_aliases"
                ),
                F.coalesce(F.col("definition"), F.lit("")).alias(f"{p}_def"),
            )

        featurized = featurize_pairs(
            to_score.select("s_id", "t_id"),
            entity_feature_table(s_entities),
            entity_feature_table(t_entities),
        )
        hydrated = featurized.join(
            F.broadcast(_text_side(s_entities, "s")), "s_id"
        ).join(F.broadcast(_text_side(t_entities, "t")), "t_id")
        return score_pairs_siamese(hydrated, model)

    if isinstance(model, MLPModel) and list(model.feature_names) == NN_PAIR_FEATURES:
        # NN pair scorer (reference _align_nn, OntoEmma.py:737,766-797):
        # the MLP's features are computed from the pair's canonical
        # names, not the 32 engineered features — rehydrate names via
        # broadcast (KB-sized) and score with the SQL forward pass
        # (zero Python in the hot path).
        from ontoemma_spark.operators.scoring_nn import nn_pair_features

        s_nm = s_entities.select(
            F.col("research_entity_id").alias("s_id"),
            F.col("canonical_name").alias("s_name"),
        )
        t_nm = t_entities.select(
            F.col("research_entity_id").alias("t_id"),
            F.col("canonical_name").alias("t_name"),
        )
        featurized = (
            to_score.select("s_id", "t_id")
            .join(F.broadcast(s_nm), "s_id")
            .join(F.broadcast(t_nm), "t_id")
            .select("s_id", "t_id", *nn_pair_features("s_name", "t_name"))
        )
    else:
        featurized = featurize_pairs(
            to_score.select("s_id", "t_id"),
            entity_feature_table(s_entities),
            entity_feature_table(t_entities),
        )
    return model.score_pairs(featurized).select("s_id", "t_id", "score")
