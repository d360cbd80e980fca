"""Sentence split + pattern-based (subj, pred, obj) triple extraction.

Semantics anchor: the reference's text→mention machinery is
emma/utils/common.py:768-791 (spaCy sentence split + tokenize) and the
BILOU span assembly (:632-766). spaCy is not a dependency here; the
splitter is a deterministic regex specification shared by the Spark
plan and the SQL oracle, and the triple extractor is a fixed pattern
table (copular/part-of/location/employment/alias patterns — the classic
Hearst-style surface patterns).

Everything is native column work: split → posexplode → per-pattern
regexp_extract → union. At 10^12 pages this stage is embarrassingly
parallel (no shuffle at all until the sink).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Sentence boundary: ., ! or ? followed by whitespace. Lookbehind works
# identically in java.util.regex and Python re.
SENTENCE_SPLIT_PATTERN = r"(?<=[.!?]) +"

# (predicate, regex). Each regex has exactly 2 capture groups (subj, obj)
# and is anchored to the full sentence. Phrases are limited to
# alphanumerics/spaces/hyphens to keep Java/Python semantics identical.
_PHRASE = r"([A-Za-z0-9][A-Za-z0-9 \-]*?)"
TRIPLE_PATTERNS: list[tuple[str, str]] = [
    ("is_a", rf"^{_PHRASE} is an? {_PHRASE}[.!?]?$"),
    ("part_of", rf"^{_PHRASE} is part of {_PHRASE}[.!?]?$"),
    ("located_in", rf"^{_PHRASE} is located in {_PHRASE}[.!?]?$"),
    ("works_for", rf"^{_PHRASE} works for {_PHRASE}[.!?]?$"),
    ("also_known_as", rf"^{_PHRASE} is also known as {_PHRASE}[.!?]?$"),
    ("has_part", rf"^{_PHRASE} contains {_PHRASE}[.!?]?$"),
]


def split_sentences(text_col) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(c, SENTENCE_SPLIT_PATTERN), lambda s: F.length(s) > 0)


def sentences_from_pages(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """(url, sent_idx, sentence) via posexplode — narrow, no shuffle."""
    return pages.select(
        "url", F.posexplode(split_sentences(text_col)).alias("sent_idx", "sentence")
    )


def extract_triples_from_sentences(sentences: DataFrame) -> DataFrame:
    """Apply every pattern in ONE pass over the sentence stream; a
    sentence matching k patterns emits k rows, one matching none emits
    nothing.

    NOT a per-pattern union: Catalyst has no cross-branch scan dedup,
    so a union of N pattern branches re-scans the SOURCE N times — a 6x
    read amplification at 10^12 pages, and measured ~6x wall on the
    WARC volume run where each re-scan re-parses the archives in
    Python. The patterns are instead evaluated as one in-row struct
    array and exploded: single scan, identical output set, same
    per-row regex work."""
    matches = F.array(*[
        F.struct(
            F.regexp_extract("sentence", pattern, 1).alias("subj"),
            F.lit(pred).alias("pred"),
            F.regexp_extract("sentence", pattern, 2).alias("obj"),
        )
        for pred, pattern in TRIPLE_PATTERNS
    ])
    return (
        sentences.select("url", "sent_idx", F.explode(matches).alias("m"))
        .filter((F.col("m.subj") != "") & (F.col("m.obj") != ""))
        .select("url", "sent_idx", "m.subj", "m.pred", "m.obj")
    )


def extract_triples(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """pages → (url, sent_idx, subj, pred, obj)."""
    return extract_triples_from_sentences(sentences_from_pages(pages, text_col))


# Pure-Python twin of the extractor (the executable spec used by tests
# and P/R scoring vs expected triples).
def split_sentences_py(text: str) -> list[str]:
    """Python twin of split_sentences (same regex spec) — the unit the
    golden corpora measure against spaCy boundaries."""
    import re

    return [s for s in re.split(SENTENCE_SPLIT_PATTERN, text or "") if s]


def extract_triples_py(text: str) -> list[tuple[int, str, str, str]]:
    import re

    out = []
    sents = split_sentences_py(text)
    for idx, sent in enumerate(sents):
        for pred, pattern in TRIPLE_PATTERNS:
            m = re.match(pattern, sent)
            if m and m.group(1) and m.group(2):
                out.append((idx, m.group(1), pred, m.group(2)))
    return out


def split_sentences_spacy(text: str | None) -> list[str]:
    """Optional REAL-spaCy sentence boundaries (F15) for users who ship
    the public model — lifts the regex spec's 0.955 golden boundary
    agreement to reference parity. Shares the per-executor pipeline
    singleton with the F9 parse path (functions.parse.load_spacy); the
    parser component provides `doc.sents`. Twin signature of
    split_sentences_py so either can back a mapInPandas splitter."""
    from ontoemma_spark.functions.parse import load_spacy

    return [s.text for s in load_spacy()(text or "").sents]
