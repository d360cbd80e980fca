"""DBpedia Turtle/N-Triples-subset parser (SURVEY §2.1 S7).

Reference: KBLoader.import_dbpedia (emma/kb/kb_load_refactor.py:87-125)
loads a turtle graph with rdflib and keeps entities with labels +
abstracts-as-definitions. rdflib is not a dependency here; DBpedia
dumps are line-oriented N-Triples in practice, so this is a
spark.read.text + regex scan — distributed, unlike the XML sources
(DBpedia dumps are multi-GB; this one actually benefits).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LABEL_PREDS = [
    "http://www.w3.org/2000/01/rdf-schema#label",
]
_ABSTRACT_PREDS = [
    "http://dbpedia.org/ontology/abstract",
    "http://www.w3.org/2000/01/rdf-schema#comment",
]

# <subj> <pred> "literal"@lang . | <subj> <pred> <obj> .
_TRIPLE_RE = r'^<([^>]+)>\s+<([^>]+)>\s+(?:"((?:[^"\\]|\\.)*)"(?:@(\w+))?|<([^>]+)>)\s*\.\s*$'


def load_dbpedia_ntriples(spark: SparkSession, path: str) -> DataFrame:
    """S7: entities with rdfs:label → canonical name and abstract →
    definition, grouped by subject URI, ids "DBP:<local name>". Only
    untagged and English (@en) literals are kept."""
    lines = spark.read.text(path)
    parsed = lines.select(
        F.regexp_extract("value", _TRIPLE_RE, 1).alias("subj"),
        F.regexp_extract("value", _TRIPLE_RE, 2).alias("pred"),
        F.regexp_extract("value", _TRIPLE_RE, 3).alias("lit"),
        F.regexp_extract("value", _TRIPLE_RE, 4).alias("lit_lang"),
    ).filter((F.col("subj") != "") & (F.col("lit") != ""))
    parsed = parsed.filter((F.col("lit_lang") == "") | (F.col("lit_lang") == "en"))

    labels = parsed.filter(F.col("pred").isin(_LABEL_PREDS)).groupBy("subj").agg(
        F.min("lit").alias("canonical_name"),
        F.array_sort(F.collect_set("lit")).alias("aliases"),
    )
    abstracts = parsed.filter(F.col("pred").isin(_ABSTRACT_PREDS)).groupBy("subj").agg(
        F.array_join(F.array_sort(F.collect_set("lit")), " ").alias("definition")
    )
    return (
        labels.join(abstracts, "subj", "left")
        .select(
            F.concat(F.lit("DBP:"), F.element_at(F.split("subj", "/"), -1)).alias(
                "research_entity_id"
            ),
            "canonical_name",
            "aliases",
            F.coalesce("definition", F.lit("")).alias("definition"),
            F.array(F.col("subj")).alias("source_urls"),
        )
    )
