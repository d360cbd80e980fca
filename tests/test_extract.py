"""Extract stage: byte-identical text per url across both
implementations, deterministic sentence split, and triple P/R = 1.0 on
the closed-form synthetic pages."""

import pytest
from pyspark.sql import functions as F

from ontoemma_spark.datagen import expected_triples, synthetic_pages
from ontoemma_spark.extract.html_text import extract_text_col, extract_text_py
from ontoemma_spark.extract.triples import (
    extract_triples,
    extract_triples_py,
    sentences_from_pages,
)
from ontoemma_spark.operators.evaluate import precision_recall_f1

N_PAGES = 40


@pytest.fixture(scope="module")
def pages(spark):
    return synthetic_pages(spark, n_pages=N_PAGES).cache()


def test_extract_text_byte_identical_all_paths(spark, pages):
    native = {
        r["url"]: r["t"]
        for r in pages.select("url", extract_text_col("html").alias("t")).collect()
    }
    py = {r["url"]: extract_text_py(bytes(r["html"])) for r in pages.select("url", "html").collect()}
    assert native == py
    # boilerplate is gone, content text is present
    sample = native["https://example.org/page/0"]
    assert "tracker" not in sample and "copyright" not in sample
    assert "is a" in sample


def test_extracted_text_contains_page_text(spark, pages):
    """The html wraps exactly the page text in <p> blocks — extraction
    must recover it byte-for-byte (the north-rule invariant)."""
    rows = pages.select("url", "text", extract_text_col("html").alias("e")).collect()
    for r in rows:
        assert r["e"] == r["text"], r["url"]


def test_sentence_split(spark, pages):
    got = sentences_from_pages(pages).filter(F.col("url") == "https://example.org/page/0")
    sents = [r["sentence"] for r in got.orderBy("sent_idx").collect()]
    assert sents[0].endswith(".")
    assert all(s.strip() == s for s in sents)


def test_triples_exact_recovery(spark, pages):
    got = extract_triples(pages).select(
        F.concat_ws("|", "url", "subj", "pred", "obj").alias("s_id"), F.lit("x").alias("t_id")
    )
    exp = expected_triples(spark, N_PAGES).select(
        F.concat_ws("|", "url", "subj", "pred", "obj").alias("s_id"), F.lit("x").alias("t_id")
    )
    row = precision_recall_f1(got, exp).collect()[0]
    assert row["precision"] == 1.0 and row["recall"] == 1.0


def test_python_twin_agrees_with_spark(spark, pages):
    rows = pages.select("url", "text").collect()
    py_triples = set()
    for r in rows:
        for idx, s, p, o in extract_triples_py(r["text"]):
            py_triples.add((r["url"], idx, s, p, o))
    spark_triples = {
        (r["url"], r["sent_idx"], r["subj"], r["pred"], r["obj"])
        for r in extract_triples(pages).collect()
    }
    assert py_triples == spark_triples


def test_extract_text_invalid_utf8_parity(spark):
    """Malformed UTF-8 html must not kill the scan (ANSI decode throws;
    Common-Crawl is full of it) — and the native path must still match
    the Python spec byte-for-byte, U+FFFD substitutions included."""
    payloads = [
        b"\xff\xfe broken <p>but real text</p> \x80\x81",
        b"<p>truncated multibyte \xe2\x82</p>",
        b"\xc3\xa9 valid e-acute <b>bold</b>",
        b"",
    ]
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)], "i int, html binary"
    )
    got = {r["i"]: r["t"] for r in
           df.select("i", extract_text_col("html").alias("t")).collect()}
    for i, p in enumerate(payloads):
        assert got[i] == extract_text_py(p), (i, got[i], extract_text_py(p))
