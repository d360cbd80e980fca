"""KB normalization (SURVEY §2.2 P1/P7/P8/P9).

Reference: normalize_kb (emma/kb/kb_utils_refactor.py:201-247) lowercases/
strips canonical name, aliases, definition and the enrichment lists, and
derives par/chd/sib/syn relation name-lists by relation-type class
membership (emma/constants.py:60-63). Here the derivation is a filtered
join of the edges DF against entities (relation classes), re-nested with
collect_list — computed once per entity, not per pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontoemma_spark import config
from ontoemma_spark.functions.text import EMPTY_STRINGS, normalize_string

_REL_CLASSES = {
    "syn_relations": config.UMLS_SYNONYM_REL_LABELS,
    "par_relations": config.UMLS_PARENT_REL_LABELS,
    "chd_relations": config.UMLS_CHILD_REL_LABELS,
    "sib_relations": config.UMLS_SIBLING_REL_LABELS,
}


def normalize_entities(entities: DataFrame) -> DataFrame:
    """P1 string normalization over name/aliases/definition/contexts,
    in place (column order kept)."""
    normalized = {
        "canonical_name": normalize_string("canonical_name"),
        "aliases": f"array_distinct(transform(aliases, a -> {normalize_string('a')}))",
        "definition": normalize_string("coalesce(definition, '')"),
        "other_contexts": (
            f"transform(coalesce(other_contexts, {EMPTY_STRINGS}),"
            f" c -> {normalize_string('c')})"
        ),
    }
    return entities.selectExpr(
        *[f"{normalized[c]} AS {c}" if c in normalized else f"`{c}`" for c in entities.columns]
    )


def derive_relation_classes(entities: DataFrame, edges: DataFrame) -> DataFrame:
    """P1 relation-class derivation: per entity, the canonical NAMES of
    its par/chd/sib/syn neighbors (kb_utils_refactor.py:225-243 stores
    names, not ids — the NN reader consumes names)."""
    names = entities.select(
        F.col("research_entity_id").alias("object_id"),
        F.col("canonical_name").alias("nbr_name"),
    )
    hydrated = edges.join(F.broadcast(names), "object_id")
    out = entities
    for col_name, labels in _REL_CLASSES.items():
        cls = (
            hydrated.filter(F.col("relation_type").isin(labels))
            .groupBy(F.col("subject_id").alias("research_entity_id"))
            .agg(F.array_sort(F.collect_set("nbr_name")).alias(col_name))
        )
        out = out.join(cls, "research_entity_id", "left").withColumn(
            col_name, F.coalesce(F.col(col_name), F.array().cast("array<string>"))
        )
    return out


def filter_has_definition_or_context(entities: DataFrame) -> DataFrame:
    """P7 (scripts/filter_by_definition_or_context.py:11-14): keep
    entities with a non-empty definition or ≥1 context sentence."""
    return entities.filter(
        (F.length(F.coalesce(F.col("definition"), F.lit(""))) > 0)
        | (F.size(F.coalesce(F.col("other_contexts"), F.array().cast("array<string>"))) > 0)
    )


def filter_named_entities(entities: DataFrame) -> DataFrame:
    """P8 (OntoEmma.py:710-715): skip entities whose canonical name is
    just their id (unnamed OWL imports)."""
    return entities.filter(F.col("canonical_name") != F.col("research_entity_id"))


def sample_aliases(entities: DataFrame, max_aliases: int = 16, max_len: int = 128) -> DataFrame:
    """P9 (ontoemma_dataset_reader.py:153-176): ≤16 aliases of length
    ≤128 for NN input — deterministic prefix instead of random sample."""
    return entities.withColumn(
        "aliases",
        F.slice(
            F.filter(F.col("aliases"), lambda a: F.length(a) <= max_len),
            1,
            max_aliases,
        ),
    )
