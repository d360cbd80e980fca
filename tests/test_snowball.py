"""F8 — Porter2/Snowball English stemmer parity.

NLTK's SnowballStemmer("english") (the reference's stemmer,
EngineeredFeatureGenerator.py:29) is the published Porter2 algorithm;
snowball_stem implements that spec, so parity holds by construction.
This golden list pins every exceptional form plus at least one word
per rule family (steps 0-5, R1 prefixes, Y-marking, short-word rules)
so any regression in the port surfaces as a diff against known
Snowball outputs.
"""

from ontoemma_spark.functions.stem import snowball_stem

# (word, porter2 output) — exceptional forms and one-per-rule coverage.
GOLDEN = [
    # exceptional forms (spec table)
    ("skis", "ski"), ("skies", "sky"), ("dying", "die"), ("lying", "lie"),
    ("tying", "tie"), ("idly", "idl"), ("gently", "gentl"), ("ugly", "ugli"),
    ("early", "earli"), ("only", "onli"), ("singly", "singl"),
    ("sky", "sky"), ("news", "news"), ("howe", "howe"), ("atlas", "atlas"),
    ("cosmos", "cosmos"), ("bias", "bias"), ("andes", "andes"),
    # invariants after step 1a
    ("inning", "inning"), ("outing", "outing"), ("canning", "canning"),
    ("herring", "herring"), ("earring", "earring"), ("proceed", "proceed"),
    ("exceed", "exceed"), ("succeed", "succeed"),
    # step 1a families
    ("caresses", "caress"), ("ponies", "poni"), ("ties", "tie"),
    ("cries", "cri"), ("gas", "gas"), ("gaps", "gap"), ("cats", "cat"),
    ("kiwis", "kiwi"),
    # step 1b: eed in R1, ed/ing + fixups (at/bl/iz, doubles, short-word e)
    ("agreed", "agre"), ("feed", "feed"), ("plastered", "plaster"),
    ("bled", "bled"), ("motoring", "motor"), ("sing", "sing"),
    ("conflated", "conflat"), ("troubled", "troubl"), ("sized", "size"),
    ("hopping", "hop"), ("tanned", "tan"), ("falling", "fall"),
    ("hissing", "hiss"), ("fizzed", "fizz"), ("failing", "fail"),
    ("filing", "file"), ("hoping", "hope"), ("knitting", "knit"),
    ("running", "run"),
    # step 1c
    ("happy", "happi"), ("cry", "cri"), ("say", "say"), ("by", "by"),
    # step 2
    ("relational", "relat"), ("conditional", "condit"),
    ("rational", "ration"), ("valenci", "valenc"), ("hesitanci", "hesit"),
    ("digitizer", "digit"), ("conformabli", "conform"),
    ("radicalli", "radic"), ("differentli", "differ"), ("vileli", "vile"),
    ("analogousli", "analog"), ("vietnamization", "vietnam"),
    ("predication", "predic"), ("operator", "oper"), ("feudalism", "feudal"),
    ("decisiveness", "decis"), ("hopefulness", "hope"),
    ("callousness", "callous"), ("formaliti", "formal"),
    ("sensitiviti", "sensit"), ("sensibiliti", "sensibl"),
    # step 3
    # NB "formative" → "format" (ative needs R2 in Porter2; step 4 then
    # removes ive in R2) — Porter1 gave "form"; Porter2 differs here.
    ("triplicate", "triplic"), ("formative", "format"), ("formalize", "formal"),
    ("electriciti", "electr"), ("electrical", "electr"), ("hopeful", "hope"),
    ("goodness", "good"),
    # step 4
    ("revival", "reviv"), ("allowance", "allow"), ("inference", "infer"),
    ("airliner", "airlin"), ("gyroscopic", "gyroscop"),
    ("adjustable", "adjust"), ("defensible", "defens"),
    ("irritant", "irrit"), ("replacement", "replac"),
    ("adjustment", "adjust"), ("dependent", "depend"),
    ("adoption", "adopt"), ("communism", "communism"),
    ("activate", "activ"), ("angulariti", "angular"),
    ("homologous", "homolog"), ("effective", "effect"), ("bowdlerize", "bowdler"),
    # step 5 + R1-prefix special cases
    ("generation", "generat"), ("generously", "generous"),
    ("communication", "communic"), ("arsenic", "arsenic"),
    ("cease", "ceas"), ("controll", "control"), ("roll", "roll"),
    # misc
    ("argument", "argument"), ("beautiful", "beauti"),
    ("beautifully", "beauti"), ("meeting", "meet"), ("connection", "connect"),
    ("national", "nation"), ("ability", "abil"),
]


def test_snowball_golden_parity():
    bad = [
        (w, snowball_stem(w), exp) for w, exp in GOLDEN if snowball_stem(w) != exp
    ]
    assert not bad, bad


def test_snowball_short_words_unchanged():
    for w in ["a", "at", "is", "be", "ox"]:
        assert snowball_stem(w) == w


def test_snowball_idempotent_on_fixture_vocab():
    """Stemming is deterministic and stable on the GO/HPO fixture
    vocabulary (the reference's own KBs): same input → same output."""
    import json
    import os
    import re

    fix = json.load(
        open(os.path.join(os.path.dirname(__file__), "data_modh_fixture.json"))
    )
    vocab = set()
    for sid in fix["s_ids"][:100] + fix["t_ids"]:
        vocab.update(re.findall(r"[a-z]+", sid.lower()))
    vocab.update(["hypersensitivity", "response", "inflammatory", "antigen"])
    for w in sorted(vocab):
        a, b = snowball_stem(w), snowball_stem(w)
        assert a == b
        assert isinstance(a, str) and a


# ---------------------------------------------------------------------------
# F8 second half: WordNet-morphy-style noun lemmatization, golden per
# rule family (parity target: WordNetLemmatizer().lemmatize(w) — default
# pos='n' — as called by EngineeredFeatureGenerator.py:98-104).
# ---------------------------------------------------------------------------

import pytest

from ontoemma_spark.functions.stem import simple_lemmatize


LEMMA_GOLDEN = {
    # irregular English plurals (noun.exc)
    "exceptions_english": [
        ("feet", "foot"), ("teeth", "tooth"), ("children", "child"),
        ("mice", "mouse"), ("women", "woman"), ("men", "man"),
        ("geese", "goose"), ("oxen", "ox"), ("lice", "louse"),
    ],
    # Latin/Greek plurals — the biomedical-name class (noun.exc)
    "exceptions_latin": [
        ("bacteria", "bacterium"), ("mitochondria", "mitochondrion"),
        ("nuclei", "nucleus"), ("fungi", "fungus"), ("ganglia", "ganglion"),
        ("vertebrae", "vertebra"), ("foramina", "foramen"),
        ("diagnoses", "diagnosis"), ("analyses", "analysis"),
        ("metastases", "metastasis"), ("stenoses", "stenosis"),
        ("cortices", "cortex"), ("matrices", "matrix"),
        ("appendices", "appendix"), ("alveoli", "alveolus"),
        ("bronchi", "bronchus"), ("thrombi", "thrombus"),
        ("villi", "villus"), ("atria", "atrium"), ("septa", "septum"),
        ("stimuli", "stimulus"), ("criteria", "criterion"),
    ],
    # -sses / -ches / -shes / -xes rule families
    "sibilant_rules": [
        ("classes", "class"), ("processes", "process"),
        ("abscesses", "abscess"), ("branches", "branch"),
        ("patches", "patch"), ("approaches", "approach"),
        ("dishes", "dish"), ("rashes", "rash"), ("boxes", "box"),
        ("reflexes", "reflex"),
    ],
    # -ies → -y
    "ies_rule": [
        ("bodies", "body"), ("arteries", "artery"),
        ("abnormalities", "abnormality"), ("deficiencies", "deficiency"),
        ("anomalies", "anomaly"), ("biopsies", "biopsy"),
    ],
    # -ves → -f (whitelisted stems) and via exceptions
    "ves_rule": [
        ("calves", "calf"), ("leaves", "leaf"), ("wolves", "wolf"),
        ("halves", "half"), ("nerves", "nerve"), ("curves", "curve"),
        ("valves", "valve"), ("grooves", "groove"),
    ],
    # plain -s with the index-filter guards (e-final nouns stay e-final)
    "s_rule": [
        ("cells", "cell"), ("proteins", "protein"), ("houses", "house"),
        ("causes", "cause"), ("doses", "dose"), ("responses", "response"),
        ("sizes", "size"), ("enzymes", "enzyme"), ("muscles", "muscle"),
        ("genes", "gene"), ("diseases", "disease"),
    ],
    # -us / -ss / -is lemmas are never stripped
    "invariants": [
        ("status", "status"), ("class", "class"), ("analysis", "analysis"),
        ("axis", "axis"), ("virus", "virus"), ("necrosis", "necrosis"),
        ("lens", "lens"),
    ],
    # -us plurals via the exception table (index filter effect)
    "us_plurals": [
        ("viruses", "virus"), ("fetuses", "fetus"), ("sinuses", "sinus"),
        ("statuses", "status"), ("gases", "gas"), ("lenses", "lens"),
    ],
    # -oes plurals
    "oes_rule": [("tomatoes", "tomato"), ("potatoes", "potato"), ("heroes", "hero")],
    # -men → -man
    "men_rule": [("workmen", "workman"), ("abdomen", "abdomen")],
}


@pytest.mark.parametrize("family", sorted(LEMMA_GOLDEN))
def test_lemmatize_golden_family(family):
    for word, lemma in LEMMA_GOLDEN[family]:
        assert simple_lemmatize(word) == lemma, (word, simple_lemmatize(word), lemma)


def test_lemmatize_deterministic_and_idempotent_on_lemmas():
    for fam in LEMMA_GOLDEN.values():
        for _, lemma in fam:
            # lemmatizing a lemma must not change it further (except the
            # documented 'specie' quirk which is not in the table)
            assert simple_lemmatize(simple_lemmatize(lemma)) == simple_lemmatize(lemma)
