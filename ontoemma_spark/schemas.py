"""Explicit StructType schemas for every stage table (SURVEY.md §1).

The reference models KBs as Python object graphs
(emma/kb/kb_utils_refactor.py:14-171); here a KB is the pair
(entities DF, edges DF) and every derived structure is a DataFrame.
No schema inference anywhere — schema-on-read with explicit types.
"""

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# KBEntity (kb_utils_refactor.py:14-38) → one row.
ENTITY_SCHEMA = StructType(
    [
        StructField("research_entity_id", StringType(), False),
        StructField("canonical_name", StringType(), False),
        StructField("aliases", ArrayType(StringType()), True),
        StructField("definition", StringType(), True),
        StructField("source_urls", ArrayType(StringType()), True),
        StructField("category", StringType(), True),
        StructField("other_contexts", ArrayType(StringType()), True),
        StructField("additional_details", MapType(StringType(), ArrayType(StringType())), True),
    ]
)

# KBRelation (kb_utils_refactor.py:126-158) → one row; positional
# relation_ids are replaced by (subject_id, object_id) foreign keys.
EDGE_SCHEMA = StructType(
    [
        StructField("subject_id", StringType(), False),
        StructField("object_id", StringType(), False),
        StructField("relation_type", StringType(), True),
        StructField("symmetric", BooleanType(), True),
        StructField("labels", ArrayType(StringType()), True),
    ]
)

# North-rule input pages table (BASELINE.json input_hint).
PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# Gold alignment TSV (OntoEmma.py:92-106; 4 cols, no header).
GOLD_TSV_SCHEMA = StructType(
    [
        StructField("s_id", StringType(), False),
        StructField("t_id", StringType(), False),
        StructField("label", DoubleType(), True),
        StructField("provenance", StringType(), True),
    ]
)

# UMLS MRCONSO.RRF columns (extract_training_data_from_umls.py:132-135).
MRCONSO_COLS = [
    "CUI", "LAT", "TS", "LUI", "STT", "SUI", "ISPREF", "AUI", "SAUI",
    "SCUI", "SDUI", "SAB", "TTY", "CODE", "STR", "SRL", "SUPPRESS", "CVF",
]
MRDEF_COLS = ["CUI", "AUI", "ATUI", "SATUI", "SAB", "DEF", "SUPPRESS", "CVF"]
MRREL_COLS = [
    "CUI1", "AUI1", "STYPE1", "REL", "CUI2", "AUI2", "STYPE2", "RELA",
    "RUI", "SRUI", "SAB", "SL", "RG", "DIR", "SUPPRESS", "CVF",
]
