"""Golden-file parity (FIXTURES.md §8): pinned outputs for the
parity-critical primitives. These values are hand-derived from the
reference semantics and must NEVER change silently — a diff here means
tokenization/blocking behavior drift that would break alignment parity.
"""

from ontoemma_spark.functions.text import char_ngrams, normalize_string, tokenize

# (input, expected tokens) — reference tokenizer [A-Za-z\d]+ minus NLTK
# English stopwords, order/dups preserved (string_utils.py:96-105)
GOLDEN_TOKENS = [
    ("Amyotrophic Lateral Sclerosis (ALS)", ["Amyotrophic", "Lateral", "Sclerosis", "ALS"]),
    ("the cell of the body", ["cell", "body"]),
    ("5-hydroxytryptamine receptor 2A", ["5", "hydroxytryptamine", "receptor", "2A"]),
    ("TNF-alpha_induced protein", ["TNF", "alpha", "induced", "protein"]),
    ("", []),
]

# (input, n, expected) — NUL-padded n-grams (string_utils.py:27-35)
GOLDEN_NGRAMS = [
    ("abc", 2, ["\x00a", "ab", "bc", "c\x00"]),
    ("ab", 4, ["\x00\x00\x00a", "\x00\x00ab", "\x00ab\x00", "ab\x00\x00", "b\x00\x00\x00"]),
]

# (input, expected) — normalize_string (string_utils.py:87-93)
GOLDEN_NORMALIZE = [
    ("  Heart-Attack  ", "heartattack"),
    ("TNF_alpha", "tnf alpha"),
    ("A-B_C-d", "ab cd"),
]


def test_golden_tokens(spark):
    df = spark.createDataFrame([(s,) for s, _ in GOLDEN_TOKENS], "s string")
    got = [r["v"] for r in df.selectExpr(f"{tokenize('s')} AS v").collect()]
    assert got == [exp for _, exp in GOLDEN_TOKENS]


def test_golden_ngrams(spark):
    for s, n, exp in GOLDEN_NGRAMS:
        df = spark.createDataFrame([(s,)], "s string")
        got = df.selectExpr(f"{char_ngrams('s', n)} AS v").collect()[0]["v"]
        assert got == exp, (s, n)


def test_golden_normalize(spark):
    df = spark.createDataFrame([(s,) for s, _ in GOLDEN_NORMALIZE], "s string")
    got = [r["v"] for r in df.selectExpr(f"{normalize_string('s')} AS v").collect()]
    assert got == [exp for _, exp in GOLDEN_NORMALIZE]


def test_golden_candidate_top1_on_fixture_kb(spark):
    """Pinned top-1 candidates for the first 5 overlapping entities of
    the synthetic fixture KBs (datagen) — guards the whole blocking
    chain (tokens ∪ 5-grams → IDF → join → sum → rank)."""
    from ontoemma_spark.datagen import synthetic_kb
    from ontoemma_spark.operators.blocking import candidate_pairs, entity_tokens

    s_ents, _ = synthetic_kb(spark, "SRC", n_entities=40, id_offset=0)
    t_ents, _ = synthetic_kb(spark, "TGT", n_entities=40, id_offset=10)
    out = candidate_pairs(entity_tokens(s_ents), entity_tokens(t_ents), 40, 40, top_k=1)
    top1 = {r["s_id"]: r["t_id"] for r in out.collect()}
    for c in range(10, 15):
        assert top1[f"SRC:SRC:{c:07d}"] == f"TGT:TGT:{c:07d}"
