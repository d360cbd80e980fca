"""Alignment TSV / jsonlines sources and sinks (SURVEY §2.1 S9/S10/S12/S15/S16).

Reference formats:
  TSV (S9/S12):  4 tab-separated cols (s_id, t_id, label/score, provenance),
                 no header (emma/OntoEmma.py:92-106, 952-968); output is
                 sorted by score desc with constant provenance "OntoEmma".
  jsonlines (S10/S16): per-line {"source_ent": ..., "target_ent": ...,
                 "label": 0|1} (OntoEmma.py:108-125, 179-194).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontoemma_spark.schemas import GOLD_TSV_SCHEMA


def load_alignment_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S9: gold-alignment TSV → (s_id, t_id, label, provenance)."""
    return spark.read.csv(path, sep="\t", schema=GOLD_TSV_SCHEMA, header=False)


def positive_pairs(gold: DataFrame) -> DataFrame:
    """Gold positives: label == 1 (negatives are 0 / -1, remapped at
    extract_training_data_from_umls.py:535-545)."""
    return gold.filter(F.col("label") == 1.0).select("s_id", "t_id")


def write_alignment_tsv(alignment: DataFrame, path: str) -> None:
    """S12: sorted-by-score-desc 4-col TSV (OntoEmma.py:952-968), the
    fourth column the provenance "OntoEmma".

    Note on scale: a global orderBy is a full sort; the reference output
    contract requires it, so it stays — but it runs once on the final
    (small) alignment, not on the pair table.
    """
    (
        alignment.select(
            "s_id", "t_id", F.col("score").cast("string").alias("score"),
            F.lit("OntoEmma").alias("provenance"),
        )
        .orderBy(F.desc("score"), "s_id", "t_id")
        .coalesce(1)
        .write.mode("overwrite")
        .csv(path, sep="\t", header=False)
    )


def load_alignment_jsonlines(spark: SparkSession, path: str) -> DataFrame:
    """S10: training-pair jsonlines → (s_id, t_id, label) plus the nested
    entity structs (ontoemma_dataset_reader.py:69-90 shape)."""
    raw = spark.read.json(path)
    return raw.select(
        F.col("source_ent.research_entity_id").alias("s_id"),
        F.col("target_ent.research_entity_id").alias("t_id"),
        F.col("label").cast("double").alias("label"),
        F.col("source_ent").alias("source_ent"),
        F.col("target_ent").alias("target_ent"),
    )


def write_training_jsonlines(pairs_with_entities: DataFrame, path: str) -> None:
    """S16: {label, source_ent, target_ent} per line
    (extract_training_data_from_umls.py:516-532)."""
    (
        pairs_with_entities.select(
            F.to_json(F.struct("label", "source_ent", "target_ent")).alias("value")
        )
        .write.mode("overwrite")
        .text(path)
    )
