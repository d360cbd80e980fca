"""Engineered pairwise features (emma/EngineeredFeatureGenerator.py:226-338).

Architecture (SURVEY.md §4.1 "per-entity memoization"): the reference
memoizes per-entity token work in a dict (:199-207); here that becomes a
materialized per-entity feature table computed ONCE per entity
(entity_feature_table), which candidate pairs join against (broadcast —
the KB side is small). The 32 pairwise features are then pure native
expressions over the joined row — no Python in the pair loop at all,
which is the hot path at 10^12 pairs.

Both tables are built from SQL expression text (functions/text.py),
each projected in one selectExpr. Stemming/lemmatization/parsing run
as one Arrow-batched pandas UDF (iterator-of-series form), the one
Column step, since they are per-token Python; everything else
(equality flags, jaccards, max-jaccards, overlaps, acronyms) is
JVM-side.

Known reference bug NOT replicated: _char_tokenize returns a generator
(string_utils.py:27-35 zip object) that the memoized dict entry stores;
after the first pair consumes it, later pairs see an empty set and the
4/5-gram jaccards collapse to -1.0. We materialize lists — documented
divergence (we implement the intended semantics).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ontoemma_spark.functions.stem import simple_lemmatize, snowball_stem
from ontoemma_spark.functions.text import EMPTY_STRINGS, acronym, char_ngrams, jaccard, tokenize


_DERIVED_TEXT_TYPE = StructType(
    [
        StructField("stemmed", ArrayType(StringType())),
        StructField("lemmatized", ArrayType(StringType())),
        StructField("root", StringType()),
        StructField("root_words", ArrayType(StringType())),
    ]
)


@pandas_udf(_DERIVED_TEXT_TYPE)
def _derived_text_udf(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.DataFrame]:
    """Fused per-entity Python work (F8 stem + F8 lemmatize + F9 parse)
    in ONE Arrow round trip — three separate pandas UDFs cost three
    serialize/deserialize passes over the entity table for no reason
    (they are independent per-row functions). Inputs: (name_tokens,
    canonical_name)."""
    from ontoemma_spark.functions.parse import np_parse_auto

    for toks_series, name_series in it:
        stemmed = toks_series.map(
            lambda toks: [snowball_stem(t) for t in toks] if toks is not None else None
        )
        lemmed = toks_series.map(
            lambda toks: [simple_lemmatize(t) for t in toks] if toks is not None else None
        )
        parsed = name_series.map(np_parse_auto)
        yield pd.DataFrame(
            {
                "stemmed": stemmed,
                "lemmatized": lemmed,
                "root": parsed.map(lambda p: p[0]),
                "root_words": parsed.map(lambda p: p[1]),
            }
        )


def _detail(key: str) -> str:
    """additional_details[key] with the legacy-misspelling patch
    (EngineeredFeatureGenerator.py:216-224): mesh_synonynms accepted,
    missing keys default to []."""
    col = f"element_at(additional_details, '{key}')"
    if key == "mesh_synonyms":
        col = f"coalesce({col}, element_at(additional_details, 'mesh_synonynms'))"
    return f"coalesce({col}, {EMPTY_STRINGS})"


def entity_feature_table(entities: DataFrame, id_out: str = "entity_id") -> DataFrame:
    """Per-entity precompute (EngineeredFeatureGenerator.py:175-197
    _form_dict_entry). One row per entity; joined (broadcast) into the
    candidate-pair DF by featurize_pairs. The text columns are one
    selectExpr; the fused Python pass is the one Column step."""
    aliases = f"coalesce(aliases, {EMPTY_STRINGS})"
    alias_tokens = f"transform({aliases}, a -> {tokenize('a')})"

    def each(arr: str, body: str) -> str:
        return f"transform({arr}, x -> {body})"

    text = {
        id_out: "research_entity_id",
        "canonical_name": "canonical_name",
        "aliases": aliases,
        "name_tokens": tokenize("canonical_name"),
        "name_char_4grams": f"array_distinct({char_ngrams('canonical_name', 4)})",
        "name_char_5grams": f"array_distinct({char_ngrams('canonical_name', 5)})",
        "alias_tokens": alias_tokens,
        "alias_char_4grams": each(aliases, f"array_distinct({char_ngrams('x', 4)})"),
        "alias_char_5grams": each(aliases, f"array_distinct({char_ngrams('x', 5)})"),
        "acronyms": each(alias_tokens, acronym("x")),
        "alias_token_set": each(alias_tokens, "array_sort(x)"),
        "def_tokens": tokenize("coalesce(definition, '')"),
        "wiki_entities": _detail("wiki_entities"),
        "mesh_synonyms": _detail("mesh_synonyms"),
        "dbpedia_synonyms": _detail("dbpedia_synonyms"),
        "wiki_ent_tokens": each(_detail("wiki_entities"), tokenize("x")),
        "mesh_syn_tokens": each(_detail("mesh_synonyms"), tokenize("x")),
        "dbpedia_syn_tokens": each(_detail("dbpedia_synonyms"), tokenize("x")),
    }
    df = entities.selectExpr(*[f"{e} AS `{c}`" for c, e in text.items()])
    # All per-entity Python (F8 stem/lemmatize, F9 parse root — the NP
    # head finder of functions/parse.py, golden-tested in
    # tests/test_parse_root.py) runs in ONE fused Arrow pass.
    return df.withColumn("_d", _derived_text_udf("name_tokens", "canonical_name")).selectExpr(
        *[f"`{c}`" for c in text],
        "_d.stemmed AS stemmed_name_tokens",
        "_d.lemmatized AS lemmatized_name_tokens",
        "_d.root AS parse_root",
        "_d.root_words AS root_words",
    )


def _max_jaccard(alists: str, blists: str) -> str:
    """Max pairwise jaccard over two arrays-of-token-arrays
    (EngineeredFeatureGenerator.py:149-163). Reference floor is 0.0 even
    when a pair would score -1.0 (max starts at 0.0). Native nested
    transform + array_max — no Python."""
    pairs = f"transform({alists}, x -> transform({blists}, y -> {jaccard('x', 'y')}))"
    return f"coalesce(greatest(array_max(flatten({pairs})), 0.0D), 0.0D)"


def _overlaps(a: str, b: str) -> str:
    """Non-disjoint test (EngineeredFeatureGenerator.py:165-173)."""
    return f"coalesce(arrays_overlap({a}, {b}), false)"


# Fixed feature order per the NN dataset reader
# (emma/allennlp_classes/ontoemma_dataset_reader.py:103-141).
FEATURE_NAMES = [
    "has_same_canonical_name",
    "has_same_canonical_name_tokens",
    "has_same_canonical_name_token_set",
    "has_same_stemmed_name_tokens",
    "has_same_stemmed_name_token_set",
    "has_same_lemmatized_name_tokens",
    "has_same_lemmatized_name_token_set",
    "name_char_4gram_jaccard",
    "name_char_5gram_jaccard",
    "has_alias_in_common",
    "has_alias_tokens_in_common",
    "has_alias_token_set_in_common",
    "alias_token_jaccard",
    "max_alias_token_jaccard",
    "max_alias_4gram_jaccard",
    "max_alias_5gram_jaccard",
    "has_same_acronym",
    "definition_token_jaccard",
    "has_same_wiki_entity",
    "wiki_entity_jaccard",
    "max_wiki_entity_jaccard",
    "has_same_mesh_synonym",
    "mesh_synonym_jaccard",
    "max_mesh_synonym_jaccard",
    "has_same_dbpedia_synonym",
    "dbpedia_synonym_jaccard",
    "max_dbpedia_synonym_jaccard",
    "has_overlapping_synonym",
    "all_synonym_jaccard",
    "max_all_synonym_jaccard",
    "has_same_root_word",
    "root_word_jaccard",
]


def featurize_pairs(
    pairs: DataFrame,
    s_features: DataFrame,
    t_features: DataFrame,
) -> DataFrame:
    """Candidate pairs (s_id, t_id, ...) × entity feature tables → the 32
    engineered features (EngineeredFeatureGenerator.py:226-338), all as
    native column expressions. Feature tables are broadcast (KB side is
    small; at 10^12 pairs the pair side must never move).

    The features are SQL expression strings, which Spark parses into the
    same native expressions a Column build gives, projected in one
    selectExpr: tens of py4j round trips instead of one per expression
    node. Double literals are written `…D`; a bare `-1.0` would parse as
    a decimal."""
    s_feat = F.broadcast(s_features.toDF(*[f"s_{c}" for c in s_features.columns]))
    t_feat = F.broadcast(t_features.toDF(*[f"t_{c}" for c in t_features.columns]))
    df = pairs.join(s_feat, pairs["s_id"] == s_feat["s_entity_id"]).join(
        t_feat, pairs["t_id"] == t_feat["t_entity_id"]
    )

    def both(c: str) -> tuple[str, str]:
        return f"s_{c}", f"t_{c}"

    def synonyms(p: str) -> str:
        return f"concat({p}_aliases, {p}_wiki_entities, {p}_mesh_synonyms, {p}_dbpedia_synonyms)"

    def synonym_tokens(p: str) -> str:
        return (
            f"concat({p}_alias_tokens, {p}_wiki_ent_tokens, {p}_mesh_syn_tokens,"
            f" {p}_dbpedia_syn_tokens)"
        )

    def same(c: str) -> str:
        return f"s_{c} = t_{c}"

    def same_set(c: str) -> str:
        return f"array_sort(array_distinct(s_{c})) = array_sort(array_distinct(t_{c}))"

    feats = {
        "has_same_canonical_name": same("canonical_name"),
        "has_same_canonical_name_tokens": same("name_tokens"),
        "has_same_canonical_name_token_set": same_set("name_tokens"),
        "has_same_stemmed_name_tokens": same("stemmed_name_tokens"),
        "has_same_stemmed_name_token_set": same_set("stemmed_name_tokens"),
        "has_same_lemmatized_name_tokens": same("lemmatized_name_tokens"),
        "has_same_lemmatized_name_token_set": same_set("lemmatized_name_tokens"),
        "name_char_4gram_jaccard": jaccard(*both("name_char_4grams")),
        "name_char_5gram_jaccard": jaccard(*both("name_char_5grams")),
        "has_alias_in_common": _overlaps(*both("aliases")),
        "has_alias_tokens_in_common": _overlaps(*both("alias_tokens")),
        "has_alias_token_set_in_common": _overlaps(*both("alias_token_set")),
        "alias_token_jaccard": jaccard(*both("alias_token_set")),
        "max_alias_token_jaccard": _max_jaccard(*both("alias_token_set")),
        "max_alias_4gram_jaccard": _max_jaccard(*both("alias_char_4grams")),
        "max_alias_5gram_jaccard": _max_jaccard(*both("alias_char_5grams")),
        "has_same_acronym": (
            f"({_overlaps('s_acronyms', 't_acronyms')})"
            f" OR ({_overlaps('s_acronyms', 't_aliases')})"
            f" OR ({_overlaps('s_aliases', 't_acronyms')})"
        ),
        "definition_token_jaccard": jaccard(*both("def_tokens")),
        "has_same_wiki_entity": _overlaps(*both("wiki_entities")),
        "wiki_entity_jaccard": jaccard(*both("wiki_entities")),
        "max_wiki_entity_jaccard": _max_jaccard(*both("wiki_ent_tokens")),
        "has_same_mesh_synonym": _overlaps(*both("mesh_synonyms")),
        "mesh_synonym_jaccard": jaccard(*both("mesh_synonyms")),
        "max_mesh_synonym_jaccard": _max_jaccard(*both("mesh_syn_tokens")),
        "has_same_dbpedia_synonym": _overlaps(*both("dbpedia_synonyms")),
        "dbpedia_synonym_jaccard": jaccard(*both("dbpedia_synonyms")),
        "max_dbpedia_synonym_jaccard": _max_jaccard(*both("dbpedia_syn_tokens")),
        "has_overlapping_synonym": _overlaps(synonyms("s"), synonyms("t")),
        "all_synonym_jaccard": jaccard(synonyms("s"), synonyms("t")),
        "max_all_synonym_jaccard": _max_jaccard(synonym_tokens("s"), synonym_tokens("t")),
        "has_same_root_word": same("parse_root"),
        "root_word_jaccard": jaccard(
            "array_distinct(s_root_words)", "array_distinct(t_root_words)"
        ),
    }
    return df.selectExpr(
        *[f"`{c}`" for c in pairs.columns],
        *[f"CAST(({feats[name]}) AS DOUBLE) AS {name}" for name in FEATURE_NAMES],
    )
