"""Engineered features (EngineeredFeatureGenerator.py:226-338) +
LR scoring (OntoEmmaLRModel.py:35-66)."""

import math

import pytest

from ontoemma_spark.operators.features import (
    FEATURE_NAMES,
    entity_feature_table,
    featurize_pairs,
)
from ontoemma_spark.operators.scoring import DEFAULT_LR_MODEL, LRModel, fit_lr

ENT_SCHEMA = (
    "research_entity_id string, canonical_name string, aliases array<string>,"
    " definition string, source_urls array<string>, category string,"
    " other_contexts array<string>, additional_details map<string,array<string>>"
)


@pytest.fixture(scope="module")
def pair_features(spark):
    s = spark.createDataFrame(
        [
            ("S:1", "heart attack", ["heart attack", "myocardial infarction"],
             "necrosis of heart muscle", [], None, [], {"wiki_entities": ["Myocardial_infarction"]}),
            ("S:2", "renal failure", ["renal failure"], "kidney stops working", [], None, [], {}),
        ],
        ENT_SCHEMA,
    )
    t = spark.createDataFrame(
        [
            ("T:1", "heart attack", ["heart attack", "MI"],
             "necrosis of heart muscle tissue", [], None, [], {"wiki_entities": ["Myocardial_infarction"]}),
            ("T:2", "liver failure", ["liver failure", "hepatic failure"], "", [], None, [], {}),
        ],
        ENT_SCHEMA,
    )
    pairs = spark.createDataFrame(
        [("S:1", "T:1"), ("S:1", "T:2"), ("S:2", "T:2")], "s_id string, t_id string"
    )
    feats = featurize_pairs(pairs, entity_feature_table(s), entity_feature_table(t))
    return {(r["s_id"], r["t_id"]): r for r in feats.collect()}


def test_all_32_features_present(pair_features):
    row = pair_features[("S:1", "T:1")]
    for name in FEATURE_NAMES:
        assert name in row.asDict(), name
    assert len(FEATURE_NAMES) == 32


def test_exact_match_features(pair_features):
    r = pair_features[("S:1", "T:1")]
    assert r["has_same_canonical_name"] == 1.0
    assert r["has_same_canonical_name_tokens"] == 1.0
    assert r["name_char_4gram_jaccard"] == 1.0
    assert r["has_alias_in_common"] == 1.0
    assert r["max_alias_token_jaccard"] == 1.0
    assert r["has_same_wiki_entity"] == 1.0
    assert r["wiki_entity_jaccard"] == 1.0
    # definitions differ by one token: {necrosis, heart, muscle} vs +tissue
    assert abs(r["definition_token_jaccard"] - 3 / 4) < 1e-12
    assert r["has_same_root_word"] == 1.0


def test_disjoint_pair_features(pair_features):
    r = pair_features[("S:1", "T:2")]
    assert r["has_same_canonical_name"] == 0.0
    assert r["has_alias_in_common"] == 0.0
    assert r["max_alias_token_jaccard"] == 0.0  # floor 0.0, not -1.0 (ref :156)
    # empty wiki on T:2 → jaccard -1.0 empty convention
    assert r["wiki_entity_jaccard"] == -1.0


def test_partial_overlap(pair_features):
    r = pair_features[("S:2", "T:2")]
    # "renal failure" vs "liver failure": token-set jaccard 1/3
    assert abs(r["max_alias_token_jaccard"] - 1 / 3) < 1e-12
    # overlap is over whole token-TUPLES (ref _overlaps on lists of
    # tuples, EngineeredFeatureGenerator.py:255) → disjoint here
    assert r["has_alias_tokens_in_common"] == 0.0
    assert r["has_same_root_word"] == 1.0  # shared head word "failure"


def test_lr_score_is_sigmoid(spark):
    model = LRModel(weights={"f1": 2.0, "f2": -1.0}, bias=0.5)
    df = spark.createDataFrame([(1.0, 0.5)], "f1 double, f2 double")
    got = model.score_pairs(df).collect()[0]["score"]
    assert abs(got - 1 / (1 + math.exp(-(0.5 + 2.0 - 0.5)))) < 1e-12


def test_fit_lr_separates_labels(spark):
    rows = [(float(i % 2), float(i % 2), float((i + 1) % 2)) for i in range(40)]
    df = spark.createDataFrame(rows, "label double, pos double, neg double")
    model = fit_lr(df, "label", feature_names=["pos", "neg"])
    assert model.weights["pos"] > 1.0 and model.weights["neg"] < -1.0
    scored = model.score_pairs(df).collect()
    for r in scored:
        assert (r["score"] > 0.5) == (r["label"] == 1.0)

# Fixture pairs for the identity pin below. They cover an empty alias
# list (S:2), null aliases (T:3), a null definition (S:2, T:3), null
# additional_details (S:2), an empty map (T:2) and the legacy
# mesh_synonynms key (S:3, whose mesh synonym matches T:3's).
IDENTITY_S = [
    ("S:1", "heart attack", ["heart attack", "myocardial infarction"], "necrosis of heart muscle",
     [], None, [], {"wiki_entities": ["Myocardial_infarction"],
                    "mesh_synonyms": ["Infarction, Myocardial"]}),
    ("S:2", "renal failure", [], None, [], None, [], None),
    ("S:3", "Kidney Failures", ["kidney failures", "KF"], "loss of kidney function", [], None, [],
     {"mesh_synonynms": ["Renal Insufficiency"], "dbpedia_synonyms": ["Kidney_failure"]}),
]
IDENTITY_T = [
    ("T:1", "heart attack", ["heart attack", "MI"], "necrosis of heart muscle tissue", [], None,
     [], {"wiki_entities": ["Myocardial_infarction"],
          "mesh_synonyms": ["Infarction, Myocardial", "Heart Attack"]}),
    ("T:2", "liver failure", ["liver failure", "hepatic failure"], "", [], None, [], {}),
    ("T:3", "kidney failure", None, None, [], None, [],
     {"mesh_synonyms": ["Renal Insufficiency"],
      "dbpedia_synonyms": ["Kidney_failure", "Renal_failure"]}),
]
# A model with a negative and an exponent-notation weight.
IDENTITY_LR = LRModel(
    {
        "has_same_canonical_name": 2.5,
        "wiki_entity_jaccard": -1.25,
        "max_all_synonym_jaccard": 1e-05,
    },
    -0.75,
)
# (s_id, t_id) -> the 32 features in FEATURE_NAMES order, then the
# DEFAULT_LR_MODEL score and the IDENTITY_LR score. Captured from the
# Column-builder implementation these SQL expressions replaced.
IDENTITY_EXPECTED = {
    ("S:1", "T:1"): (
        1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 1.0, 0.3333333333333333,
        1.0, 1.0, 1.0, 1.0, 0.75, 1.0, 1.0, 1.0, 1.0, 0.5, 1.0, 0.0, -1.0, 0.0, 1.0, 0.5,
        1.0, 1.0, 1.0,
        0.9789929566027891, 0.6224616812360988,
    ),
    ("S:1", "T:2"): (
        0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
        0.06451612903225806, 0.06060606060606061, 0.0, -1.0, 0.0, -1.0, 0.0, 0.0, -1.0,
        0.0, 0.0, -1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
        0.001006869139371313, 0.6224593312018546,
    ),
    ("S:1", "T:3"): (
        0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -1.0, 0.0, 0.0, 0.0,
        0.0, -1.0, 0.0, -1.0, 0.0, 0.0, 0.0, 0.0, 0.0, -1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
        0.00040956716498605043, 0.6224593312018546,
    ),
    ("S:2", "T:1"): (
        0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -1.0, 0.0, 0.0, 0.0,
        0.0, -1.0, 0.0, -1.0, 0.0, 0.0, -1.0, 0.0, 0.0, -1.0, 0.0, 0.0, -1.0, 0.0, 0.0,
        0.0,
        0.00040956716498605043, 0.6224593312018546,
    ),
    ("S:3", "T:1"): (
        0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
        0.0, 0.0, 0.0, -1.0, 0.0, 0.0, 0.0, 0.0, 0.0, -1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
        0.0015011822567369917, 0.6224593312018546,
    ),
    ("S:2", "T:2"): (
        0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.3333333333333333, 0.3076923076923077, 0.0,
        0.0, 0.0, -1.0, 0.0, 0.0, 0.0, 0.0, -1.0, 0.0, -1.0, 0.0, 0.0, -1.0, 0.0, 0.0,
        -1.0, 0.0, 0.0, -1.0, 0.0, 1.0, 1.0,
        0.0014153326401391707, 0.6224593312018546,
    ),
    ("S:2", "T:3"): (
        0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.32, 0.2962962962962963, 0.0, 0.0, 0.0, -1.0,
        0.0, 0.0, 0.0, 0.0, -1.0, 0.0, -1.0, 0.0, 0.0, -1.0, 0.0, 0.0, -1.0, 0.0, 0.0,
        -1.0, 0.0, 1.0, 1.0,
        0.0013808093485821816, 0.6224593312018546,
    ),
    ("S:3", "T:2"): (
        0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0967741935483871, 0.058823529411764705, 0.0,
        0.0, 0.0, 0.0, 0.0, 0.1724137931034483, 0.125, 0.0, -1.0, 0.0, -1.0, 0.0, 0.0,
        -1.0, 0.0, 0.0, -1.0, 0.0, 0.0, 0.0, 0.3333333333333333, 0.0, 0.0,
        0.0013497688503351275, 0.6224601145472421,
    ),
    ("S:3", "T:3"): (
        0.0, 0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 0.20689655172413793, 0.12121212121212122, 0.0,
        0.0, 0.0, -1.0, 0.0, 0.0, 0.0, 0.0, -1.0, 0.0, -1.0, 0.0, 1.0, 1.0, 1.0, 1.0, 0.5,
        1.0, 1.0, 0.4, 1.0, 0.0, 0.0,
        0.0010354415705109024, 0.6224616812360988,
    ),
}


def test_features_and_scores_match_pinned_values(spark):
    s = spark.createDataFrame(IDENTITY_S, ENT_SCHEMA)
    t = spark.createDataFrame(IDENTITY_T, ENT_SCHEMA)
    pairs = s.select("research_entity_id").crossJoin(t.select("research_entity_id")).toDF(
        "s_id", "t_id"
    )
    feats = featurize_pairs(pairs, entity_feature_table(s), entity_feature_table(t))
    scored = DEFAULT_LR_MODEL.score_pairs(feats).withColumnRenamed("score", "default_score")
    scored = IDENTITY_LR.score_pairs(scored, out="lr_score")
    assert scored.columns == ["s_id", "t_id", *FEATURE_NAMES, "default_score", "lr_score"]
    got = {
        (r["s_id"], r["t_id"]): tuple(r[c] for c in scored.columns[2:])
        for r in scored.collect()
    }
    assert got == IDENTITY_EXPECTED


def test_score_pairs_replaces_existing_column_in_place(spark):
    model = LRModel(weights={"f1": 2.0}, bias=-1.0)
    df = spark.createDataFrame([(0.25, 1.0, "x")], "score double, f1 double, tag string")
    out = model.score_pairs(df)
    assert out.columns == ["score", "f1", "tag"]
    row = out.first()
    assert abs(row["score"] - 1 / (1 + math.exp(-1.0))) < 1e-12
    assert row["tag"] == "x"
