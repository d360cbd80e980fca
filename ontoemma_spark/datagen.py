"""Deterministic synthetic fixtures (FIXTURES.md §1, §6).

No wall-clock, no RNG state — every value is a pure function of indices,
so tests and benchmarks are reproducible bit-for-bit and expected
outputs (gold alignments, expected triples) are computable in closed
form. Shapes mirror the reference fixtures (tests/data/test_source_ont.json
≈ 172 entities; emitted KBs here default to comparable sizes) without
copying any reference data.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

from ontoemma_spark.schemas import ENTITY_SCHEMA, EDGE_SCHEMA, PAGES_SCHEMA

_ADJECTIVES = [
    "acute", "chronic", "benign", "malignant", "primary", "secondary",
    "distal", "proximal", "lateral", "medial", "anterior", "posterior",
    "cardiac", "hepatic", "renal", "neural", "dermal", "ocular",
]
_NOUNS = [
    "fibrosis", "stenosis", "atrophy", "dysplasia", "carcinoma", "lesion",
    "syndrome", "deficiency", "inflammation", "necrosis", "edema",
    "hypertrophy", "neuropathy", "embolism", "thrombosis", "sclerosis",
]
_CATEGORIES = ["disease", "finding", "procedure", "anatomy"]


def concept_name(i: int) -> str:
    return f"{_ADJECTIVES[i % len(_ADJECTIVES)]} {_NOUNS[(i // len(_ADJECTIVES)) % len(_NOUNS)]} type {i}"


def _aliases(name: str, kb_tag: str, i: int) -> list[str]:
    out = [name, name.replace(" ", "_"), name.upper()]
    if i % 3 == 0:
        out.append(f"{name} ({kb_tag})")
    return out


def synthetic_kb(
    spark: SparkSession,
    kb_name: str,
    n_entities: int = 150,
    id_offset: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """(entities, edges). Entity i's concept is concept_name(i+id_offset):
    two KBs with overlapping index ranges share concepts by construction,
    and the overlap defines the gold alignment."""
    ents, edges = [], []
    for i in range(n_entities):
        c = i + id_offset
        name = concept_name(c)
        eid = f"{kb_name}:{kb_name}:{c:07d}"
        ents.append(
            (
                eid,
                name,
                _aliases(name, kb_name, c),
                f"a {_CATEGORIES[c % len(_CATEGORIES)]} involving {name.split(' type')[0]}",
                [],
                _CATEGORIES[c % len(_CATEGORIES)],
                [f"context sentence about {name}"],
                {"wiki_entities": [f"wiki_{_NOUNS[c % len(_NOUNS)]}"]},
            )
        )
        if i > 0:
            parent = f"{kb_name}:{kb_name}:{(c - 1):07d}"
            edges.append((eid, parent, "is_a", False, None))
        if i % 5 == 0 and i + 2 < n_entities:
            part = f"{kb_name}:{kb_name}:{(c + 2):07d}"
            edges.append((eid, part, "part_of", False, None))
    return (
        spark.createDataFrame(ents, ENTITY_SCHEMA),
        spark.createDataFrame(edges, EDGE_SCHEMA),
    )


def gold_alignment(
    spark: SparkSession,
    s_name: str,
    t_name: str,
    s_count: int,
    t_offset: int,
    t_count: int,
) -> DataFrame:
    """Closed-form gold: concepts in both index ranges."""
    lo, hi = t_offset, min(s_count, t_offset + t_count)
    rows = [
        (f"{s_name}:{s_name}:{c:07d}", f"{t_name}:{t_name}:{c:07d}", 1.0, "synthetic")
        for c in range(lo, hi)
    ]
    return spark.createDataFrame(
        rows, "s_id string, t_id string, label double, provenance string"
    )


_BOILERPLATE_HEAD = (
    "<html><head><title>Page {i}</title>"
    "<style>body {{ color: black; }}</style>"
    "<script>var tracker = {i};</script></head><body>"
    "<nav>home &amp; about</nav><div class='content'>"
)
_BOILERPLATE_TAIL = "</div><footer>copyright 2026</footer></body></html>"


def page_sentences(i: int, kb_size: int) -> list[tuple[str, str, str]]:
    """Expected (subj, pred, obj) for page i — the closed-form truth the
    extractor must recover (P/R vs reference-style expected triples)."""
    a = concept_name(i % kb_size)
    b = concept_name((i + 3) % kb_size)
    cat = _CATEGORIES[(i % kb_size) % len(_CATEGORIES)]
    triples = [(a, "is_a", cat), (a, "part_of", b)]
    if i % 2 == 0:
        triples.append((b, "located_in", f"region {i % 7}"))
    if i % 3 == 0:
        triples.append((a, "also_known_as", a.replace(" type", " variant")))
    return triples


_PRED_TEMPLATES = {
    "is_a": "{s} is a {o}.",
    "part_of": "{s} is part of {o}.",
    "located_in": "{s} is located in {o}.",
    "works_for": "{s} works for {o}.",
    "also_known_as": "{s} is also known as {o}.",
    "has_part": "{s} contains {o}.",
}


def page_text(i: int, kb_size: int) -> str:
    sents = [
        _PRED_TEMPLATES[p].format(s=s, o=o) for (s, p, o) in page_sentences(i, kb_size)
    ]
    sents.append(f"Unrelated filler sentence number {i} with no pattern.")
    return " ".join(sents)


def page_html(i: int, kb_size: int) -> bytes:
    body = "<p>" + "</p> <p>".join(
        _PRED_TEMPLATES[p].format(s=s, o=o) for (s, p, o) in page_sentences(i, kb_size)
    ) + f"</p> <p>Unrelated filler sentence number {i} with no pattern.</p>"
    return (_BOILERPLATE_HEAD.format(i=i) + body + _BOILERPLATE_TAIL).encode("utf-8")


# concepts the synthetic pages mention unless a caller narrows them
PAGES_KB_SIZE = 150


def synthetic_pages(
    spark: SparkSession, n_pages: int = 200, kb_size: int = PAGES_KB_SIZE
) -> DataFrame:
    """North-rule input table (url, warc_ts, html, text, lang)."""
    epoch = datetime(2026, 1, 1, tzinfo=timezone.utc)
    rows = [
        (
            f"https://example.org/page/{i}",
            datetime.fromtimestamp(epoch.timestamp() + i, tz=timezone.utc),
            page_html(i, kb_size),
            page_text(i, kb_size),
            "en",
        )
        for i in range(n_pages)
    ]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def expected_triples(spark: SparkSession, n_pages: int) -> DataFrame:
    """The triples synthetic_pages(spark, n_pages) states."""
    rows = []
    for i in range(n_pages):
        for idx, (s, p, o) in enumerate(page_sentences(i, PAGES_KB_SIZE)):
            rows.append((f"https://example.org/page/{i}", idx, s, p, o))
    return spark.createDataFrame(
        rows, "url string, sent_idx long, subj string, pred string, obj string"
    )
