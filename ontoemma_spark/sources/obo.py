"""OBO and MeSH ASCII flat-file parsers (SURVEY §2.1 S4/S6).

Reference: KBLoader.import_obo_kb (emma/kb/kb_load_refactor.py:128-244,
chunker :60-83) splits the file on '[Term]' stanzas and reads
id/name/def/synonym/is_a/relationship lines; import_mesh (:246-285)
splits on '*NEWRECORD' and reads UI/MH/ENTRY/MS fields.

Spark shape: spark.read.text keeps line order per file only when the
file is read as one partition — OBO/MeSH ontologies are the SMALL side
(≤ millions of lines), so the stanza grouping runs as a single
wholeTextFiles-style pass; the resulting entity/edge DataFrames then
join against the web-scale side. (A 100 TB pipeline never ships OBO
files; they are reference data.)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from ontoemma_spark.schemas import EDGE_SCHEMA, ENTITY_SCHEMA

_SYN_RE = re.compile(r'synonym:\s*"([^"]*)"')


def _parse_obo_stanzas(text: str, kb_prefix: str) -> tuple[list, list]:
    ents, edges = [], []
    for stanza in text.split("[Term]")[1:]:
        # cut at the next stanza header ([Typedef], [Instance], ...) —
        # the reference chunker stops at the first non-Term tag
        # (kb_load_refactor.py:68-77); without this, trailing typedefs
        # merge into the last term's fields.
        next_header = re.search(r"^\[\w+\]", stanza, flags=re.MULTILINE)
        if next_header:
            stanza = stanza[: next_header.start()]
        fields: dict[str, list[str]] = {}
        for line in stanza.splitlines():
            line = line.strip()
            if not line or ":" not in line:
                continue
            key, _, val = line.partition(":")
            fields.setdefault(key.strip(), []).append(val.strip())
        if "id" not in fields or "name" not in fields:
            continue
        raw_id = fields["id"][0]
        eid = f"{kb_prefix}:{raw_id}"
        name = fields["name"][0]
        aliases = [name]
        for syn_line in fields.get("synonym", []):
            m = _SYN_RE.match("synonym: " + syn_line) or _SYN_RE.search(
                'synonym: "' + syn_line if '"' not in syn_line else "synonym: " + syn_line
            )
            if m:
                aliases.append(m.group(1))
            elif syn_line.startswith('"') and '"' in syn_line[1:]:
                aliases.append(syn_line[1:].split('"')[0])
        definition = ""
        for def_line in fields.get("def", []):
            if def_line.startswith('"') and '"' in def_line[1:]:
                definition = def_line[1:].split('"')[0]
                break
        ents.append((eid, name, aliases, definition, [], None, [], None))
        for isa in fields.get("is_a", []):
            target = isa.split("!")[0].strip()
            if target:
                edges.append((eid, f"{kb_prefix}:{target}", "is_a", False, None))
        for rel in fields.get("relationship", []):
            parts = rel.split("!")[0].split()
            if len(parts) >= 2:
                edges.append((eid, f"{kb_prefix}:{parts[1]}", parts[0], False, None))
    return ents, edges


def load_obo(spark: SparkSession, path: str, kb_prefix: str = "OBO") -> tuple[DataFrame, DataFrame]:
    """S4: OBO file → (entities, edges)."""
    with open(path) as f:
        text = f.read()
    ents, edges = _parse_obo_stanzas(text, kb_prefix)
    return (
        spark.createDataFrame(ents, ENTITY_SCHEMA),
        spark.createDataFrame(edges, EDGE_SCHEMA),
    )


def load_mesh(spark: SparkSession, path: str) -> DataFrame:
    """S6: MeSH ASCII records → entities ("MSH:" UI→id, MH→name,
    ENTRY→aliases, MS→definition), per kb_load_refactor.py:246-285."""
    with open(path) as f:
        text = f.read()
    ents = []
    for record in text.split("*NEWRECORD")[1:]:
        ui, mh, ms = None, None, ""
        entries: list[str] = []
        for line in record.splitlines():
            if " = " not in line:
                continue
            key, _, val = line.partition(" = ")
            key = key.strip()
            if key == "UI":
                ui = val.strip()
            elif key == "MH":
                mh = val.strip()
            elif key == "ENTRY":
                entries.append(val.split("|")[0].strip())
            elif key == "MS":
                ms = val.strip()
        if ui and mh:
            ents.append(
                (f"MSH:{ui}", mh, [mh] + entries, ms, [], None, [], None)
            )
    return spark.createDataFrame(ents, ENTITY_SCHEMA)
