"""Distributed WARC source: round-trip, gzip members, python-twin
parity, and integration with the extract stage."""

import gzip
from datetime import datetime

from pyspark.sql import functions as F

from ontoemma_spark.sources.warc import load_warc, parse_warc_bytes, write_warc

ROWS = [
    ("http://a.example/x", datetime(2026, 1, 17, 8, 51, 2),
     b"<html><body><p>Hello world from page one.</p></body></html>"),
    ("http://b.example/y", datetime(2026, 2, 3, 12, 0, 0),
     b"<html><body><div>Second page text here.</div></body></html>"),
    ("http://c.example/z", datetime(2026, 3, 5, 1, 2, 3),
     "<html><body>unicode éè page</body></html>".encode()),
]


def _write_archives(tmp_path, gzip_members):
    d = tmp_path / ("gz" if gzip_members else "plain")
    d.mkdir()
    ext = ".warc.gz" if gzip_members else ".warc"
    # two archives to prove file-level parallelism/unioning
    with open(d / f"part1{ext}", "wb") as f:
        # a warcinfo record first — must be skipped
        info = b"WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 4\r\n\r\ninfo\r\n\r\n"
        f.write(gzip.compress(info) if gzip_members else info)
        write_warc(ROWS[:2], f, gzip_members=gzip_members)
    with open(d / f"part2{ext}", "wb") as f:
        write_warc(ROWS[2:], f, gzip_members=gzip_members)
    return str(d)


def test_warc_roundtrip_plain_and_gzip(spark, tmp_path):
    for gz in (False, True):
        path = _write_archives(tmp_path, gz)
        got = {r["url"]: r for r in load_warc(spark, path).collect()}
        assert set(got) == {u for u, _, _ in ROWS}
        for url, ts, html in ROWS:
            assert bytes(got[url]["html"]) == html
            assert got[url]["warc_ts"] == ts
            assert got[url]["text"] is None and got[url]["lang"] is None


def test_warc_python_twin_parity(tmp_path):
    import io

    buf = io.BytesIO()
    write_warc(ROWS, buf, gzip_members=True)
    rows = parse_warc_bytes(buf.getvalue())
    assert [(r[0], r[1], r[2]) for r in rows] == ROWS


def test_warc_feeds_extract_stage(spark, tmp_path):
    """WARC pages slot straight into the pipeline's extract input:
    text is null, so coalesce(text, extract_text_col(html)) fills it."""
    from ontoemma_spark.extract.html_text import extract_text_col, extract_text_py

    path = _write_archives(tmp_path, True)
    pages = load_warc(spark, path)
    with_text = pages.withColumn(
        "text", F.coalesce(F.col("text"), extract_text_col("html"))
    )
    got = {r["url"]: r["text"] for r in with_text.collect()}
    for url, _, html in ROWS:
        assert got[url] == extract_text_py(html)
    assert "Hello world" in got["http://a.example/x"]


def test_warc_corrupt_archives_do_not_kill_the_scan(spark, tmp_path):
    """Truncated payloads, garbage bytes, and bad lengths: parse what
    is parseable, stop cleanly at the first malformed record."""
    import io

    d = tmp_path / "corrupt"
    d.mkdir()
    # archive 1: one good record, then garbage
    buf = io.BytesIO()
    write_warc(ROWS[:1], buf)
    (d / "a.warc").write_bytes(buf.getvalue() + b"\x00garbage not a record")
    # archive 2: record with a lying Content-Length (truncated payload)
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: http://t.example/\r\n"
           b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
           b"Content-Length: 999999\r\n\r\nshort")
    (d / "b.warc").write_bytes(rec)
    # archive 3: non-numeric length
    (d / "c.warc").write_bytes(
        b"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: NaN\r\n\r\nx")

    got = load_warc(spark, str(d)).collect()
    urls = {r["url"] for r in got}
    assert "http://a.example/x" in urls          # the good record survives
    # the truncated record yields whatever payload bytes exist (slice
    # semantics) — the scan itself must not raise
    assert all(r["url"] for r in got)


def test_host_rollup_over_warc_pages(spark, tmp_path):
    """WARC pages → host extraction → source_rollup: the per-host
    filtering path for raw webtext (no source column needed)."""
    from ontoemma_spark.operators.textstats import host_of, source_rollup

    path = _write_archives(tmp_path, True)
    pages = load_warc(spark, path)
    docs = pages.select(
        F.col("url").alias("doc_id"),
        host_of("url").alias("source"),
        F.col("html").cast("string").alias("text"),
    )
    got = {r["source"]: r for r in source_rollup(docs).collect()}
    assert set(got) == {"a.example", "b.example", "c.example"}
    assert all(r["n_docs"] == 1 and r["dup_rate"] == 0.0 for r in got.values())


def test_warc_streaming_batches_are_bounded(tmp_path):
    """A multi-member archive larger than rows_per_batch emits MULTIPLE
    bounded pandas batches — the scan never holds all rows (the ~1 GiB
    CC archive memory-shape fix)."""
    import io

    from ontoemma_spark.sources.warc import batched_pages, parse_warc_rows

    many = [
        (f"http://m.example/{i}", datetime(2026, 1, 1, 0, 0, i % 60),
         f"<html><body>page {i}</body></html>".encode())
        for i in range(25)
    ]
    buf = io.BytesIO()
    write_warc(many, buf, gzip_members=True)
    raw = buf.getvalue()

    batches = list(batched_pages(iter([raw]), rows_per_batch=10))
    assert [len(b) for b in batches] == [10, 10, 5]
    flat = [tuple(r) for b in batches for r in b[["url", "html"]].itertuples(index=False)]
    assert flat == [(u, h) for u, _, h in many]

    # and the row scanner is genuinely lazy: first row comes out without
    # consuming the archive
    gen = parse_warc_rows(raw)
    first = next(gen)
    assert first[0] == "http://m.example/0"


def test_warc_rfc2822_date_is_tz_stable(monkeypatch):
    """'-0000' RFC-2822 dates parse tz-naive; the fallback must pin UTC,
    not the executor's local zone."""
    import os
    import time

    from ontoemma_spark.sources.warc import _parse_ts

    monkeypatch.setenv("TZ", "Pacific/Kiritimati")  # UTC+14, no DST
    time.tzset()
    try:
        got = _parse_ts("Mon, 17 Aug 2026 08:00:00 -0000")
        assert got == datetime(2026, 8, 17, 8, 0, 0)
        # offset-less ISO (non-conformant archives) pins UTC too
        assert _parse_ts("2026-01-17T08:51:02") == datetime(2026, 1, 17, 8, 51, 2)
        assert _parse_ts("Mon, 17 Aug 2026 08:00:00 +0200") == datetime(
            2026, 8, 17, 6, 0, 0
        )
    finally:
        monkeypatch.delenv("TZ", raising=False)
        os.environ.pop("TZ", None)
        time.tzset()


def test_warc_oversized_archive_fails_actionably(spark, tmp_path, monkeypatch):
    """Archives over binaryFile's 2 GiB cap are rejected at listing time
    with a split-your-archives message, not a mid-scan JVM error."""
    import io

    import pytest

    import ontoemma_spark.sources.warc as w

    d = tmp_path / "big"
    d.mkdir()
    buf = io.BytesIO()
    write_warc(ROWS[:1], buf)
    (d / "a.warc").write_bytes(buf.getvalue())
    monkeypatch.setattr(w, "_BINARYFILE_MAX_BYTES", 10)  # pretend tiny cap
    with pytest.raises(ValueError, match="2 GiB per-file cap"):
        w.load_warc(spark, str(d))
