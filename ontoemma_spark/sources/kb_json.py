"""KB JSON source/sink (SURVEY §2.1 S1/S2).

Reference format (emma/kb/kb_utils_refactor.py:527-598): one JSON object
{"name": ..., "entities": [...], "relations": [...]} per file. The
positional relation_ids indexes are converted to (subject_id, object_id)
foreign keys on load; relations carry entity ids directly
(kb_utils_refactor.py:437 entity_ids = [subj, obj]).

Load path: spark.read.json(multiLine) → explode into the two stage DFs.
Legacy-key patching (mesh_synonynms, kb_utils_refactor.py:217-218) is a
coalesce projection at ingest; validation (P2/P3,
kb_utils_refactor.py:278-304) is a filter + quarantine split.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontoemma_spark.schemas import EDGE_SCHEMA, ENTITY_SCHEMA


_DETAIL_KEYS = ["wiki_entities", "mesh_synonyms", "dbpedia_synonyms"]


def _additional_details_map(raw: DataFrame):
    """Rebuild the additional_details map from the inferred JSON struct:
    enrichment keys consumed by the feature generator, with the legacy
    misspelling patch (mesh_synonynms → mesh_synonyms,
    EngineeredFeatureGenerator.py:216-218) and [] defaults."""
    struct_fields: set[str] = set()
    schema = raw.schema
    if "entities" in schema.names:
        el = schema["entities"].dataType.elementType
        if hasattr(el, "names") and "additional_details" in el.names:
            ad = el["additional_details"].dataType
            if hasattr(ad, "names"):
                struct_fields = set(ad.names)

    def key_col(key: str):
        sources = []
        if key in struct_fields:
            sources.append(F.col(f"e.additional_details.{key}"))
        if key == "mesh_synonyms" and "mesh_synonynms" in struct_fields:
            sources.append(F.col("e.additional_details.mesh_synonynms"))
        sources.append(F.array().cast("array<string>"))
        return F.coalesce(*sources)

    entries = []
    for key in _DETAIL_KEYS:
        entries.extend([F.lit(key), key_col(key)])
    return F.map_from_arrays(
        F.array(*entries[0::2]), F.array(*entries[1::2])
    )


def load_kb_json(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """(entities, edges) from a whole-KB JSON file (S1)."""
    raw = spark.read.option("multiLine", "true").json(path)
    ent_el = (
        raw.schema["entities"].dataType.elementType
        if "entities" in raw.schema.names
        else None
    )
    if ent_el is None or not hasattr(ent_el, "names"):
        # empty entities list infers as array<string> — no entities
        return (
            spark.createDataFrame([], ENTITY_SCHEMA),
            spark.createDataFrame([], EDGE_SCHEMA),
        )
    # schema-on-read with the reference's defaults (KBEntity,
    # kb_utils_refactor.py:14-38): a field ABSENT from the inferred
    # struct (not just null) falls back too — form_dict(**entries)
    # tolerates missing optional keys, so must this loader.
    present = set(ent_el.names)

    def _f(name: str, default):
        if name in present:
            return F.coalesce(F.col(f"e.{name}"), default)
        return default

    empty_arr = F.array().cast("array<string>")
    ents = raw.select(F.explode("entities").alias("e")).select(
        F.col("e.research_entity_id").alias("research_entity_id"),
        F.col("e.canonical_name").alias("canonical_name"),
        _f("aliases", empty_arr).alias("aliases"),
        _f("definition", F.lit("<s>")).alias("definition"),
        _f("source_urls", empty_arr).alias("source_urls"),
        (F.col("e.category").cast("string") if "category" in present
         else F.lit(None).cast("string")).alias("category"),
        _f("other_contexts", empty_arr).alias("other_contexts"),
        _additional_details_map(raw).alias("additional_details"),
    )
    rel_el = raw.schema["relations"].dataType.elementType if "relations" in raw.schema.names else None
    if rel_el is None or not hasattr(rel_el, "names") or not (
        {"entity_ids", "relation_type"} <= set(rel_el.names)
    ):
        # empty relations list infers as array<string>; structs missing
        # the required keys carry no usable edges either — no edges
        edges = spark.createDataFrame([], EDGE_SCHEMA)
    else:
        sym = (
            F.coalesce(F.col("r.symmetric"), F.lit(False))
            if "symmetric" in rel_el.names
            else F.lit(False)
        )
        edges = raw.select(F.explode("relations").alias("r")).select(
            F.col("r.entity_ids")[0].alias("subject_id"),
            F.col("r.entity_ids")[1].alias("object_id"),
            F.col("r.relation_type").alias("relation_type"),
            sym.alias("symmetric"),
            F.lit(None).cast("array<string>").alias("labels"),
        )
    return ents, edges


def validate_entities(entities: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(valid, quarantined) per validate_entity (kb_utils_refactor.py:278-290):
    non-empty id and canonical name."""
    ok = (
        F.col("research_entity_id").isNotNull()
        & (F.length("research_entity_id") > 0)
        & F.col("canonical_name").isNotNull()
        & (F.length("canonical_name") > 0)
    )
    return entities.filter(ok), entities.filter(~ok)


def validate_edges(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Per validate_relation (kb_utils_refactor.py:292-304)."""
    ok = (
        F.col("relation_type").isNotNull()
        & F.col("subject_id").isNotNull()
        & F.col("object_id").isNotNull()
    )
    return edges.filter(ok), edges.filter(~ok)


def dump_kb_json(entities: DataFrame, edges: DataFrame, name: str, path: str) -> None:
    """S2: single-object whole-KB JSON (collect-to-driver; the reference
    format is one object — suitable for KB-sized data only; stage tables
    use parquet). Relations are re-indexed positionally for format parity."""
    ents = [r.asDict(recursive=True) for r in entities.collect()]
    rels = []
    for i, r in enumerate(edges.collect()):
        rels.append(
            {
                "relation_id": i,
                "relation_type": r["relation_type"],
                "entity_ids": [r["subject_id"], r["object_id"]],
                "symmetric": bool(r["symmetric"]) if r["symmetric"] is not None else False,
                "labels": list(r["labels"]) if r["labels"] else [],
            }
        )
    with open(path, "w") as f:
        json.dump({"name": name, "entities": ents, "relations": rels}, f, sort_keys=True)
