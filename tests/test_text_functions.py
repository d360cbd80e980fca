"""Unit parity tests for the string/token primitives vs hand-computed
reference semantics (emma/utils/string_utils.py)."""

import math

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


def _one(spark, expr):
    return spark.range(1).selectExpr(f"{expr} AS v").collect()[0]["v"]


def test_clean_and_canonicalize(spark):
    df = spark.createDataFrame([("Héllo, Wörld-42! ok",)], "s string")
    row = df.selectExpr(f"{clean('s')} AS c", f"{canonicalize('s')} AS k").collect()[0]
    # reference: CLEANER_RE = [^a-zA-Z0-9 ]+ removed (string_utils.py:6-10)
    assert row["c"] == "Hllo Wrld42 ok"
    assert row["k"] == "hllo wrld42 ok"


def test_normalize_string(spark):
    df = spark.createDataFrame([("  Some-Thing_Else  ",)], "s string")
    # strip, lower, '-' deleted, '_'→' ' (string_utils.py:87-93)
    assert df.selectExpr(f"{normalize_string('s')} AS v").collect()[0]["v"] == "something else"


def test_tokenize_removes_stopwords_keeps_order_and_dups(spark):
    df = spark.createDataFrame([("The cell is a cell of THE body 42",)], "s string")
    toks = df.selectExpr(f"{tokenize('s')} AS v").collect()[0]["v"]
    # 'The'/'THE' are not stopwords (case-sensitive match, reference
    # tokenizes THEN filters against lowercase list without lowering)
    assert toks == ["The", "cell", "cell", "body", "42", "THE"] or toks == [
        "The", "cell", "cell", "THE", "body", "42",
    ]


def test_tokenize_order(spark):
    df = spark.createDataFrame([("alpha the beta alpha",)], "s string")
    assert df.selectExpr(f"{tokenize('s')} AS v").collect()[0]["v"] == ["alpha", "beta", "alpha"]


def test_char_ngrams_nul_padding(spark):
    df = spark.createDataFrame([("ab",)], "s string")
    grams = df.selectExpr(f"{char_ngrams('s', 3)} AS v").collect()[0]["v"]
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
    vals = [r["v"] for r in df.selectExpr(f"{jaccard('a', 'b')} AS v").collect()]
    assert vals[0] == 1 / 3  # {b} / {a,b,c}
    assert vals[1:] == [-1.0, -1.0, -1.0]  # empty → -1.0 (string_utils.py:52-63)


def test_idf(spark):
    v = _one(spark, idf(100, "5.0D"))
    assert abs(v - math.log(100 / 5 + 1)) < 1e-12


def test_acronym(spark):
    df = spark.createDataFrame([(["heart", "rate", "x2"],)], "t array<string>")
    assert df.selectExpr(f"{acronym('t')} AS v").collect()[0]["v"] == "hrx"


def test_word_lists_stay_inset(spark):
    """tokenize, the quality gate and language_id test membership in
    pinned word lists with a literal IN. The optimized plans keep the
    hash lookup: the 179-stopword IN becomes an InSet; the 10-word
    language profiles are at spark.sql.optimizer.inSetConversionThreshold
    and stay a literal IN."""
    from ontoemma_spark.operators.textstats import LANG_PROFILES, language_id, quality_score_col

    docs = spark.createDataFrame([(1, "the cell of a body")], "doc_id long, text string")

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    assert "INSET" in plan(docs.selectExpr(tokenize("text")))
    assert "INSET" in plan(docs.select(quality_score_col("text")))
    lang_plan = plan(language_id(docs))
    for words in LANG_PROFILES.values():
        assert f"IN ({','.join(words)})" in lang_plan


def test_lambdas_do_not_capture_caller_variables(spark):
    """A primitive applied to a caller's lambda variable inside a
    transform names its own lambda variables apart from it."""
    df = spark.createDataFrame([(["ab the cd", "x"],)], "s array<string>")
    row = df.selectExpr(
        f"transform(s, tok0 -> {tokenize('tok0')}) AS toks",
        f"transform(s, pos0 -> {char_ngrams('pos0', 2)}) AS grams",
    ).collect()[0]
    assert row["toks"] == [["ab", "cd"], ["x"]]
    assert row["grams"] == [["\x00a", "ab", "b ", " t", "th", "he", "e ", " c", "cd", "d\x00"],
                            ["\x00x", "x\x00"]]
