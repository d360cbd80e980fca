"""Suffix normalization for the stemmed/lemmatized name features.

The reference uses NLTK's SnowballStemmer("english") + WordNetLemmatizer
(emma/EngineeredFeatureGenerator.py:29-30,90-104). NLTK is not in this
container, but NLTK's English Snowball stemmer IS the Porter2 algorithm
(the published snowballstem.org specification) — so snowball_stem below
implements that spec in full (R1/R2 regions with the gener/commun/arsen
prefixes, exceptional forms, steps 0-5, Y-marking), giving NLTK output
parity by construction; tests/test_golden_parity.py pins a vendored
golden list covering every exceptional form and each rule family.

The lemmatizer remains a rule-based stand-in: WordNetLemmatizer is a
DATABASE lookup (morphy over the WordNet exception lists), which cannot
be reproduced without shipping WordNet — documented divergence; both
sides of every pair go through the same lemmatizer so the pair-equality
features stay internally consistent.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# Porter2 / Snowball English (the algorithm NLTK's SnowballStemmer
# implements) — snowballstem.org published specification.
# ---------------------------------------------------------------------------

_P2_VOWELS = set("aeiouy")
_P2_DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
_P2_LI_ENDING = set("cdeghkmnrt")

_P2_EXCEPTIONS = {
    "skis": "ski", "skies": "sky",
    "dying": "die", "lying": "lie", "tying": "tie",
    "idly": "idl", "gently": "gentl", "ugly": "ugli",
    "early": "earli", "only": "onli", "singly": "singl",
    "sky": "sky", "news": "news", "howe": "howe",
    "atlas": "atlas", "cosmos": "cosmos", "bias": "bias", "andes": "andes",
}

# invariant after step 1a
_P2_EXCEPTIONS2 = {
    "inning", "outing", "canning", "herring", "earring",
    "proceed", "exceed", "succeed",
}


def _p2_is_vowel(w: str, i: int) -> bool:
    # 'Y' marks a consonant y (set during preluding)
    return w[i] in _P2_VOWELS and w[i] != "Y"


def _p2_regions(w: str) -> tuple[int, int]:
    """(R1 start, R2 start). R1 = after the first non-vowel following a
    vowel; special-cased prefixes gener/commun/arsen set R1 after the
    prefix (spec: 'define a valid R1 as...')."""
    n = len(w)
    r1 = n
    for pref in ("gener", "commun", "arsen"):
        if w.startswith(pref):
            r1 = len(pref)
            break
    else:
        for i in range(1, n):
            if not _p2_is_vowel(w, i) and _p2_is_vowel(w, i - 1):
                r1 = i + 1
                break
    r2 = n
    for i in range(r1 + 1, n):
        if not _p2_is_vowel(w, i) and _p2_is_vowel(w, i - 1):
            r2 = i + 1
            break
    return r1, r2


def _p2_ends_short_syllable(w: str) -> bool:
    n = len(w)
    if n >= 3 and _p2_is_vowel(w, n - 2) and not _p2_is_vowel(w, n - 1) \
            and w[n - 1] not in "wxY" and not _p2_is_vowel(w, n - 3):
        return True
    if n == 2 and _p2_is_vowel(w, 0) and not _p2_is_vowel(w, 1):
        return True
    return False


def _p2_is_short(w: str, r1: int) -> bool:
    return r1 >= len(w) and _p2_ends_short_syllable(w)


def snowball_stem(word: str) -> str:  # noqa: C901 - the spec is a rulebook
    """Porter2 (Snowball English) stemmer — NLTK SnowballStemmer parity
    by construction (same published algorithm). Lowercase input."""
    w = word.lower()
    if len(w) <= 2:
        return w
    if w.startswith("'"):
        w = w[1:]
    if w in _P2_EXCEPTIONS:
        return _P2_EXCEPTIONS[w]
    # mark consonant y as Y
    chars = list(w)
    if chars[0] == "y":
        chars[0] = "Y"
    for i in range(1, len(chars)):
        if chars[i] == "y" and chars[i - 1] in _P2_VOWELS and chars[i - 1] != "Y":
            chars[i] = "Y"
    w = "".join(chars)

    # Step 0: longest of ' 's 's'
    for suf in ("'s'", "'s", "'"):
        if w.endswith(suf):
            w = w[: -len(suf)]
            break

    # Step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith(("ied", "ies")):
        w = w[:-2] if len(w) - 3 > 1 else w[:-1]
    elif w.endswith(("us", "ss")):
        pass
    elif w.endswith("s"):
        if any(_p2_is_vowel(w, i) for i in range(len(w) - 2)):
            w = w[:-1]

    if w in _P2_EXCEPTIONS2:
        return w

    r1, r2 = _p2_regions(w)

    # Step 1b
    if w.endswith(("eedly", "eed")):
        suf = "eedly" if w.endswith("eedly") else "eed"
        if len(w) - len(suf) >= r1:
            w = w[: -len(suf)] + "ee"
    else:
        for suf in ("ingly", "edly", "ing", "ed"):
            if w.endswith(suf):
                stem = w[: -len(suf)]
                if any(_p2_is_vowel(stem, i) for i in range(len(stem))):
                    w = stem
                    if w.endswith(("at", "bl", "iz")):
                        w += "e"
                    elif w.endswith(_P2_DOUBLES):
                        w = w[:-1]
                    elif _p2_is_short(w, _p2_regions(w)[0]):
                        w += "e"
                    r1, r2 = _p2_regions(w)
                break

    # Step 1c: y/Y → i if preceded by a non-vowel which is not the
    # first letter of the word
    if (
        len(w) > 2
        and w[-1] in "yY"
        and not _p2_is_vowel(w, len(w) - 2)
    ):
        w = w[:-1] + "i"

    r1, r2 = _p2_regions(w)

    # Step 2 (suffix found in R1) — longest match first
    step2 = [
        ("ization", "ize"), ("ational", "ate"), ("ousness", "ous"),
        ("iveness", "ive"), ("fulness", "ful"), ("tional", "tion"),
        ("biliti", "ble"), ("lessli", "less"), ("entli", "ent"),
        ("ation", "ate"), ("alism", "al"), ("aliti", "al"),
        ("ousli", "ous"), ("iviti", "ive"), ("fulli", "ful"),
        ("enci", "ence"), ("anci", "ance"), ("abli", "able"),
        ("izer", "ize"), ("ator", "ate"), ("alli", "al"),
        ("bli", "ble"), ("ogi", None), ("li", None),
    ]
    for suf, rep in step2:
        if w.endswith(suf):
            if len(w) - len(suf) >= r1:
                if suf == "ogi":
                    if len(w) > 3 and w[-4] == "l":
                        w = w[:-1]  # ogi → og
                elif suf == "li":
                    if len(w) > 2 and w[-3] in _P2_LI_ENDING:
                        w = w[:-2]
                else:
                    w = w[: -len(suf)] + rep
            break

    r1, r2 = _p2_regions(w)

    # Step 3 (suffix found in R1)
    step3 = [
        ("ational", "ate"), ("tional", "tion"), ("alize", "al"),
        ("icate", "ic"), ("iciti", "ic"), ("ative", None),
        ("ical", "ic"), ("ness", ""), ("ful", ""),
    ]
    for suf, rep in step3:
        if w.endswith(suf):
            if len(w) - len(suf) >= r1:
                if suf == "ative":
                    if len(w) - len(suf) >= r2:
                        w = w[: -len(suf)]
                else:
                    w = w[: -len(suf)] + rep
            break

    r1, r2 = _p2_regions(w)

    # Step 4 (suffix found in R2)
    step4 = [
        "ement", "ance", "ence", "able", "ible", "ment",
        "ant", "ent", "ism", "ate", "iti", "ous", "ive", "ize",
        "ion", "al", "er", "ic",
    ]
    for suf in step4:
        if w.endswith(suf):
            if len(w) - len(suf) >= r2:
                if suf == "ion":
                    if len(w) > 3 and w[-4] in "st":
                        w = w[:-3]
                else:
                    w = w[: -len(suf)]
            break

    r1, r2 = _p2_regions(w)

    # Step 5
    if w.endswith("e"):
        stem = w[:-1]
        if len(stem) >= r2 or (
            len(stem) >= r1 and not _p2_ends_short_syllable(stem)
        ):
            w = stem
    elif w.endswith("l") and len(w) - 1 >= r2 and len(w) > 1 and w[-2] == "l":
        w = w[:-1]

    return w.replace("Y", "y")


# WordNet noun-mode lemmatization (F8 second half). The reference calls
# WordNetLemmatizer().lemmatize(token) with the DEFAULT pos='n'
# (EngineeredFeatureGenerator.py:30,98-104), so only the NOUN machinery
# matters: morphy = exception list lookup, then the noun morphological
# substitutions, filtered against the lemma index. The index is not
# embeddable, so the rules below encode its effect with guards:
# exceptions first (subset of the public WordNet noun.exc — the
# irregular English plurals plus the Latin/Greek plurals that dominate
# biomedical ontology names), then the morphy substitutions longest-
# suffix-first, with the -ves rule whitelisted (morphy's index filter
# is what stops "curves"→"curf"; the whitelist plays that role).
#
# Deliberate divergences from NLTK's pick: where noun.exc lists several
# lemmas for one form, NLTK returns the MIN-LENGTH one ("axes ax axis"
# → "ax"); this table keeps the biomedical/geometric reading instead
# ("axes"→"axis", "bases"→"basis") because ontology names are the
# workload — same class of judgment call as the "species"→"specie"
# coordination caveat below. F8 parity is therefore approximate on
# these multi-lemma forms.

_LEMMA_EXCEPTIONS = {
    # irregular English plurals (WordNet noun.exc, public data)
    "children": "child", "feet": "foot", "teeth": "tooth", "mice": "mouse",
    "geese": "goose", "men": "man", "women": "woman", "people": "person",
    "oxen": "ox", "dice": "die", "lice": "louse", "brethren": "brother",
    "pence": "penny",
    # -f/-fe irregulars that also sit in noun.exc
    "lives": "life", "wives": "wife", "knives": "knife", "leaves": "leaf",
    "loaves": "loaf", "halves": "half", "calves": "calf", "wolves": "wolf",
    "selves": "self", "shelves": "shelf", "thieves": "thief",
    "sheaves": "sheaf", "scarves": "scarf", "hooves": "hoof",
    "elves": "elf", "dwarves": "dwarf", "wharves": "wharf",
    # Latin/Greek plurals — the class that matters for biomedical names
    "bacteria": "bacterium", "mitochondria": "mitochondrion",
    "nuclei": "nucleus", "fungi": "fungus", "foci": "focus",
    "ganglia": "ganglion", "vertebrae": "vertebra", "septa": "septum",
    "corpora": "corpus", "genera": "genus", "viscera": "viscus",
    "lumina": "lumen", "foramina": "foramen", "stigmata": "stigma",
    "stomata": "stoma", "criteria": "criterion", "phenomena": "phenomenon",
    "ova": "ovum", "data": "datum", "media": "medium", "strata": "stratum",
    "curricula": "curriculum", "spectra": "spectrum", "sera": "serum",
    "cilia": "cilium", "flagella": "flagellum", "villi": "villus",
    "alveoli": "alveolus", "glomeruli": "glomerulus", "bronchi": "bronchus",
    "thrombi": "thrombus", "emboli": "embolus", "stimuli": "stimulus",
    "radii": "radius", "humeri": "humerus", "femora": "femur",
    "crura": "crus", "cortices": "cortex", "vortices": "vortex",
    "vertices": "vertex", "apices": "apex", "indices": "index",
    "matrices": "matrix", "appendices": "appendix", "cervices": "cervix",
    "varices": "varix", "calyces": "calyx", "helices": "helix",
    "testes": "testis", "analyses": "analysis", "diagnoses": "diagnosis",
    "prognoses": "prognosis", "neuroses": "neurosis", "psychoses": "psychosis",
    "stenoses": "stenosis", "thromboses": "thrombosis", "fibroses": "fibrosis",
    "necroses": "necrosis", "sclerosis": "sclerosis", "scleroses": "sclerosis",
    "metastases": "metastasis", "anastomoses": "anastomosis",
    "synapses": "synapse", "hypotheses": "hypothesis", "theses": "thesis",
    "crises": "crisis", "axes": "axis", "bases": "basis",
    "ellipses": "ellipse", "emphases": "emphasis",
    "genes": "gene",  # index filter keeps 'gene' ('genes' -s rule suffices,
    # listed to keep the -es family golden tests honest)
    "metanalyses": "metanalysis",
    "carcinomata": "carcinoma", "adenomata": "adenoma",
    "condylomata": "condyloma", "granulomata": "granuloma",
    "atria": "atrium", "epithelia": "epithelium", "endothelia": "endothelium",
    "ostia": "ostium", "labia": "labium", "ischia": "ischium",
    "crania": "cranium", "mycelia": "mycelium", "gonia": "gonion",
    "taxa": "taxon", "protozoa": "protozoan", "spermatozoa": "spermatozoon",
    "aortae": "aorta", "ulnae": "ulna", "maxillae": "maxilla",
    "patellae": "patella", "fistulae": "fistula", "bullae": "bulla",
    "conjunctivae": "conjunctiva", "sequelae": "sequela",
    # -us plurals the index filter resolves (the bare -s rule would
    # otherwise yield "viruse")
    "viruses": "virus", "fetuses": "fetus", "sinuses": "sinus",
    "statuses": "status", "bonuses": "bonus", "censuses": "census",
    "uteruses": "uterus", "anuses": "anus", "abscesses": "abscess",
    "gases": "gas", "lenses": "lens", "atlases": "atlas",
    "pelvises": "pelvis", "irises": "iris", "pubises": "pubis",
    # -che/-ie/-oe words where the longest-suffix rule overshoots but
    # the index filter keeps the e-final lemma
    "aches": "ache", "headaches": "headache", "niches": "niche",
    "mustaches": "mustache", "psyches": "psyche",
    "movies": "movie", "calories": "calorie", "cookies": "cookie",
    "species": "specie",  # faithful NLTK quirk: min-length valid form
    "toes": "toe", "shoes": "shoe", "canoes": "canoe",
    "quizzes": "quiz", "waltzes": "waltz",
    # -oes plurals (noun.exc territory)
    "tomatoes": "tomato", "potatoes": "potato", "heroes": "hero",
    "echoes": "echo", "embryoes": "embryo", "torsoes": "torso",
    # invariants morphy resolves via the index (form == lemma)
    "series": "series", "aphides": "aphid", "lens": "lens",
}

# -men words that are singular lemmas, not plurals of -man compounds —
# the index filter is what stops morphy turning "abdomen" into
# "abdoman"; this blocklist plays that role.
_MEN_SINGULARS = frozenset(
    "abdomen regimen acumen albumen bitumen lumen semen specimen stamen "
    "hymen cyclamen foramen limen omen ramen amen".split()
)

# morphy noun substitutions (nltk.corpus.reader.wordnet
# MORPHOLOGICAL_SUBSTITUTIONS['n'], public), longest suffix first —
# the stand-in for "apply all rules, keep the candidates in the lemma
# index". Rules whose unguarded application usually loses to the plain
# -s candidate under the index filter ("houses"→"house" not "hous",
# "sizes"→"size" not "siz") are narrowed: -ses/-zes only fire on
# doubled consonants (-sses/-zzes), Latin -uses live in the exception
# table, and -ves is whitelisted by stem.
_LEMMA_RULES = [
    ("sses", "ss"), ("zzes", "zz"), ("ches", "ch"), ("shes", "sh"),
    ("xes", "x"), ("ies", "y"), ("ves", "f"), ("men", "man"),
    ("oes", "o"), ("s", ""),
]

# -ves → -f is only right when the index contains the -f form; these
# stems are the productive cases not already in the exception table.
_VES_STEMS = frozenset({"cal", "hal", "lea", "loa", "shea", "thie", "wol"})


def simple_lemmatize(word: str) -> str:
    """WordNet-morphy-style noun lemmatization: exception table + noun
    substitutions (EngineeredFeatureGenerator.py:98-104 parity target;
    the reference lemmatizes with the default pos='n', so only noun
    morphy applies). Deterministic, no index: guards substitute for the
    lemma-index filter. Golden-tested per rule family in
    tests/test_snowball.py."""
    if word in _LEMMA_EXCEPTIONS:
        return _LEMMA_EXCEPTIONS[word]
    if len(word) <= 3:
        return word
    # morphy never strips a bare -s from -ss/-us/-is words ("class",
    # "status", "analysis" are index lemmas themselves)
    if word.endswith("ss") or word.endswith("us") or word.endswith("is"):
        return word
    for suf, rep in _LEMMA_RULES:
        if not word.endswith(suf):
            continue
        stem = word[: -len(suf)]
        if suf == "ves" and stem not in _VES_STEMS:
            continue  # "curves"→"curve" via the -s rule, not "curf"
        if suf == "men" and (len(word) <= 5 or word in _MEN_SINGULARS):
            continue
        if suf == "ies" and len(word) <= 4:
            continue  # "ties"→"tie" via the -s rule, not "ty"
        return stem + rep
    return word
