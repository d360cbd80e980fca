"""Deterministic noun-phrase head finder — the F9 dependency-parse
stand-in (emma/EngineeredFeatureGenerator.py:34-44).

The reference runs spaCy over each canonical name and derives
  root       = the ROOT token's text (for ontology names — noun
               phrases — the head noun),
  root_words = { token.head.text for every token } (the set of words
               that head at least one token, the ROOT included since
               spaCy makes ROOT its own head).

spaCy is not available here (and per-name NLP models are the wrong
cost model at 10^12 mentions anyway), so this module reproduces the
parse's OUTPUT on noun phrases with closed-form rules:

  1. word-tokenize ([A-Za-z\\d]+ — spaCy drops the punctuation from
     head texts the same way since heads are whole tokens);
  2. split the token stream into chunks at prepositions/subordinators
     ("X of Y", "X to Y", "X involving Y" …);
  3. root = last non-determiner token of the FIRST chunk (English NPs
     are head-final within the pre-prepositional chunk; leading
     determiners stripped);
  4. root_words = {root} ∪ {the prepositions} ∪ {last token of each
     LATER chunk that has ≥2 tokens} — mirroring which tokens actually
     head something in the spaCy parse: a one-word prepositional
     object heads nothing, but "the lower extremities" heads its
     determiner and modifier, so "extremities" lands in the set.

Verified against hand-derived spaCy parses of the reference fixture
ontology names (tests/test_parse_root.py) and, quantitatively, a
103-name public biomedical corpus (tests/test_golden_corpora.py):
root agreement 0.981, head-set agreement 0.952, with every divergence
pinned by name. Known approximation classes: coordination
("aplasia/hypoplasia …", "aggressive, impulsive or violent behavior")
heads the FIRST conjunct in spaCy while these rules keep NP-final
heads, and infinitival "to" ("failure to thrive") is a spaCy marker
(its verb heads it), not a chunk opener.
"""

from __future__ import annotations

import re

_TOKEN_RE = re.compile(r"[A-Za-z\d]+")

# prepositions/subordinators that open a post-head chunk in ontology
# noun phrases (case-insensitive; names are normalized lowercase by P1)
PREPOSITIONS = frozenset(
    "of to in on for with by from at into onto during via as involving "
    "within without towards toward".split()
)
DETERMINERS = frozenset({"the", "a", "an"})


def np_parse(name: str | None) -> tuple[str, list[str]]:
    """(root, sorted root_words) for a noun-phrase name. Empty name →
    ("", [])."""
    toks = _TOKEN_RE.findall(name or "")
    if not toks:
        return "", []
    low = [t.lower() for t in toks]
    chunks: list[list[str]] = []
    preps: list[str] = []
    cur: list[str] = []
    for t, lo in zip(toks, low):
        if lo in PREPOSITIONS:
            chunks.append(cur)
            cur = []
            preps.append(t)
        else:
            cur.append(t)
    chunks.append(cur)
    first = [t for t in chunks[0] if t.lower() not in DETERMINERS]
    if first:
        root = first[-1]
    elif preps:
        root = preps[0]
    else:
        root = toks[-1]
    heads = {root} | set(preps)
    for ch in chunks[1:]:
        non_det = [t for t in ch if t.lower() not in DETERMINERS]
        if len(ch) >= 2 and non_det:
            heads.add(non_det[-1])
    return root, sorted(heads)


# ---------------------------------------------------------------------------
# Optional REAL-spaCy executor path (r4 verdict item 8): for users who
# can ship the public model, this lifts the 0.981/0.952 golden
# agreement of the rules above to exact reference parity. Heavyweight
# init is per-EXECUTOR (module-global pipeline, loaded once per python
# worker — SURVEY §2.12's cost note), never per row.
# ---------------------------------------------------------------------------

_SPACY_NLP = None


def load_spacy():
    """Executor-side en_core_web_sm pipeline singleton. NER/lemmatizer
    disabled — the F9 feature only needs the dependency parse."""
    global _SPACY_NLP
    if _SPACY_NLP is None:
        import spacy

        _SPACY_NLP = spacy.load("en_core_web_sm", disable=["ner", "lemmatizer"])
    return _SPACY_NLP


def np_parse_spacy(name: str | None):
    """(root, sorted root_words) from a REAL spaCy dependency parse —
    the exact reference semantics (EngineeredFeatureGenerator.py:34-44:
    root = the ROOT token's text, root_words = {token.head.text} over
    all tokens). Drop-in signature twin of np_parse."""
    doc = load_spacy()(name or "")
    root = ""
    heads: set[str] = set()
    for tok in doc:
        if tok.dep_ == "ROOT":
            root = tok.text
        heads.add(tok.head.text)
    return root, sorted(heads)


def np_parse_auto(name: str | None):
    """Backend-dispatching parse used by the feature UDFs: set
    ONTOEMMA_PARSE_BACKEND=spacy (executor env, e.g. via
    spark.executorEnv.ONTOEMMA_PARSE_BACKEND) to route through the real
    parser; default stays the deterministic rules (identical output on
    ~95-98% of ontology names, zero model dependency, and the form the
    DuckDB oracles pin)."""
    import os

    if os.environ.get("ONTOEMMA_PARSE_BACKEND") == "spacy":
        return np_parse_spacy(name)
    return np_parse(name)
