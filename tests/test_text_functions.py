"""Unit parity tests for the string/token primitives vs hand-computed
reference semantics (emma/utils/string_utils.py)."""

import math

from pyspark.sql import functions as F

from ontoemma_spark.functions.text import (
    acronym,
    canonicalize,
    char_ngrams,
    clean,
    idf,
    jaccard,
    normalize_string,
    tokenize,
)


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_clean_and_canonicalize(spark):
    df = spark.createDataFrame([("Héllo, Wörld-42! ok",)], "s string")
    row = df.select(clean("s").alias("c"), canonicalize("s").alias("k")).collect()[0]
    # reference: CLEANER_RE = [^a-zA-Z0-9 ]+ removed (string_utils.py:6-10)
    assert row["c"] == "Hllo Wrld42 ok"
    assert row["k"] == "hllo wrld42 ok"


def test_normalize_string(spark):
    df = spark.createDataFrame([("  Some-Thing_Else  ",)], "s string")
    # strip, lower, '-' deleted, '_'→' ' (string_utils.py:87-93)
    assert df.select(normalize_string("s").alias("v")).collect()[0]["v"] == "something else"


def test_tokenize_removes_stopwords_keeps_order_and_dups(spark):
    df = spark.createDataFrame([("The cell is a cell of THE body 42",)], "s string")
    toks = df.select(tokenize("s").alias("v")).collect()[0]["v"]
    # 'The'/'THE' are not stopwords (case-sensitive match, reference
    # tokenizes THEN filters against lowercase list without lowering)
    assert toks == ["The", "cell", "cell", "body", "42", "THE"] or toks == [
        "The", "cell", "cell", "THE", "body", "42",
    ]


def test_tokenize_order(spark):
    df = spark.createDataFrame([("alpha the beta alpha",)], "s string")
    assert df.select(tokenize("s").alias("v")).collect()[0]["v"] == ["alpha", "beta", "alpha"]


def test_char_ngrams_nul_padding(spark):
    df = spark.createDataFrame([("ab",)], "s string")
    grams = df.select(char_ngrams("s", 3).alias("v")).collect()[0]["v"]
    # reference pads with n-1 NULs both sides (string_utils.py:27-35):
    # \0\0ab\0\0 → 4 trigrams
    expected = ["\x00\x00a", "\x00ab", "ab\x00", "b\x00\x00"]
    assert grams == expected


def test_char_ngrams_match_reference_py():
    # pure-python reimplementation of the reference for cross-checking
    def ref_ngrams(s, n):
        p = "\x00" * (n - 1) + s + "\x00" * (n - 1)
        return ["".join(c) for c in zip(*[p[i:] for i in range(n)])]

    assert ref_ngrams("ab", 3) == ["\x00\x00a", "\x00ab", "ab\x00", "b\x00\x00"]


def test_jaccard_with_empty_convention(spark):
    df = spark.createDataFrame(
        [(["a", "b"], ["b", "c"]), ([], ["x"]), (["x"], []), ([], [])],
        "a array<string>, b array<string>",
    )
    vals = [r["v"] for r in df.select(jaccard("a", "b").alias("v")).collect()]
    assert vals[0] == 1 / 3  # {b} / {a,b,c}
    assert vals[1:] == [-1.0, -1.0, -1.0]  # empty → -1.0 (string_utils.py:52-63)


def test_idf(spark):
    v = _one(spark, idf(100, F.lit(5.0)))
    assert abs(v - math.log(100 / 5 + 1)) < 1e-12


def test_acronym(spark):
    df = spark.createDataFrame([(["heart", "rate", "x2"],)], "t array<string>")
    assert df.select(acronym("t").alias("v")).collect()[0]["v"] == "hrx"


def test_word_lists_stay_inset_and_are_built_once(spark):
    """tokenize, the quality gate and language_id test membership in
    pinned word lists through one cached JVM literal list per gateway.
    The optimized plans keep the hash lookup: the 179-stopword IN
    becomes an InSet; the 10-word language profiles are at
    spark.sql.optimizer.inSetConversionThreshold and stay a literal IN."""
    from ontoemma_spark.functions import text
    from ontoemma_spark.functions.stopwords import ENGLISH_STOPWORDS_SORTED
    from ontoemma_spark.operators.textstats import LANG_PROFILES, language_id, quality_score_col

    docs = spark.createDataFrame([(1, "the cell of a body")], "doc_id long, text string")

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "INSET" in plan(docs.select(tokenize("text")))
    assert "INSET" in plan(docs.select(quality_score_col("text")))
    lang_plan = plan(language_id(docs))
    for words in LANG_PROFILES.values():
        assert f"IN ({','.join(words)})" in lang_plan
    cached = text._IN_LISTS[ENGLISH_STOPWORDS_SORTED][1]
    docs.select(tokenize("text"), quality_score_col("text")).collect()
    assert text._IN_LISTS[ENGLISH_STOPWORDS_SORTED][1] is cached
