"""WARC scanner robustness (r4 verdict item 7): the wild's archives are
messier than the fixtures — truncated members, chunked
transfer-encoding bodies, records with missing/garbage Content-Length,
corrupt gzip members. Property tests: the scanner NEVER raises,
quarantines malformed spans (resync to the next preamble instead of
dropping the archive tail), and the quarantine counters say what
happened."""

import gzip
import io
from datetime import datetime

from hypothesis import given, settings
from hypothesis import strategies as st

from ontoemma_spark.sources.warc import (
    _dechunk,
    parse_warc_bytes,
    parse_warc_rows,
    write_warc,
)


def _rows(n):
    return [
        (f"http://e{i}.example/p", datetime(2026, 1, 1 + i % 27),
         f"<html><body>page {i} body text</body></html>".encode())
        for i in range(n)
    ]


def _archive(rows, gzip_members=False):
    buf = io.BytesIO()
    write_warc(rows, buf, gzip_members=gzip_members)
    return buf.getvalue()


def _chunk(payload: bytes, sizes: list[int]) -> bytes:
    """Wire-format chunked encoding of payload split at the given
    (positive) sizes; remainder becomes the final data chunk."""
    out, pos = [], 0
    for s in sizes:
        if pos >= len(payload):
            break
        piece = payload[pos: pos + s]
        out.append(f"{len(piece):x}".encode() + b"\r\n" + piece + b"\r\n")
        pos += len(piece)
    rest = payload[pos:]
    if rest:
        out.append(f"{len(rest):x}".encode() + b"\r\n" + rest + b"\r\n")
    out.append(b"0\r\n\r\n")
    return b"".join(out)


def _chunked_record(url: bytes, payload: bytes, sizes: list[int]) -> bytes:
    http = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            + _chunk(payload, sizes))
    return (b"WARC/1.0\r\nWARC-Type: response\r\n"
            b"WARC-Target-URI: " + url + b"\r\n"
            b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
            + f"Content-Length: {len(http)}\r\n\r\n".encode()
            + http + b"\r\n\r\n")


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=4096))
def test_arbitrary_bytes_never_raise(junk):
    assert isinstance(parse_warc_bytes(junk), list)


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=4096))
def test_arbitrary_bytes_after_gzip_magic_never_raise(junk):
    assert isinstance(parse_warc_bytes(b"\x1f\x8b" + junk), list)


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=0, max_value=10_000))
def test_truncation_keeps_prefix_and_never_raises(cut):
    rows = _rows(5)
    raw = _archive(rows)[:cut]
    st_ = {}
    got = list(parse_warc_rows(raw, stats=st_))
    urls = {r[0] for r in got}
    assert urls <= {u for u, _, _ in rows}
    assert st_.get("pages", 0) == len(got)
    # every whole record before the cut survives (records are uniform)
    rec_len = len(_archive(rows)) // 5
    assert len(got) >= min(5, cut // rec_len)  # prefix parse
    # truncated-mid-payload is flagged iff a partial PAYLOAD was
    # emitted. Keyed on the payload bytes themselves, not on
    # cut // rec_len arithmetic: a cut that removes only the
    # inter-record separator (e.g. cut = rec_len - 4) still yields a
    # byte-complete page, and the parser rightly flags nothing.
    orig = {u: h for u, _, h in rows}
    if any(h != orig[u] for u, _, h, *_ in got):
        assert st_.get("truncated", 0) == 1


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=1, max_size=512),
       st.integers(min_value=0, max_value=5))
def test_junk_between_records_resyncs(junk, pos):
    """Garbage spliced BETWEEN records quarantines only itself: every
    intact record still parses (pre-r5 the scanner dropped the whole
    tail), and the resync counter says a recovery happened."""
    rows = _rows(5)
    recs = [_archive([r]) for r in rows]
    # junk that itself contains a preamble line would legitimately eat
    # the following record's preamble during header parse
    if b"WARC/" in junk:
        junk = junk.replace(b"WARC/", b"wArC/")
    # newline-terminate the junk: a junk tail with no newline glues to
    # the next record's preamble line and legitimately quarantines it
    blob = b"".join(recs[:pos]) + junk + b"\r\n" + b"".join(recs[pos:])
    st_ = {}
    got = list(parse_warc_rows(blob, stats=st_))
    assert {r[0] for r in got} == {u for u, _, _ in rows}
    # junk made ONLY of blank lines (every readline segment is "\n" or
    # "\r\n") is legitimate inter-record whitespace per the WARC format
    # — the scanner skips it without a quarantine, so no resync is owed
    # (hypothesis corner: junk=b"\n")
    pieces = (junk + b"\r\n").split(b"\n")
    if all(p in (b"", b"\r") for p in pieces):
        assert st_.get("resyncs", 0) == 0
    else:
        assert st_["resyncs"] >= 1


def test_missing_content_length_quarantines_one_record():
    rows = _rows(3)
    bad = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: http://bad.example/\r\n\r\n"
           b"no length header above")
    blob = _archive(rows[:1]) + bad + b"\r\n\r\n" + _archive(rows[1:])
    st_ = {}
    got = list(parse_warc_rows(blob, stats=st_))
    assert {r[0] for r in got} == {u for u, _, _ in rows}
    assert "http://bad.example/" not in {r[0] for r in got}
    assert st_["resyncs"] >= 1


@settings(max_examples=40, deadline=None)
@given(st.lists(st.integers(min_value=1, max_value=40), max_size=6))
def test_chunked_bodies_dechunk(sizes):
    payload = b"<html><body>" + b"x" * 100 + b"</body></html>"
    rec = _chunked_record(b"http://c.example/", payload, sizes)
    got = list(parse_warc_rows(rec))
    assert len(got) == 1
    assert got[0][2] == payload


def test_dechunk_malformed_falls_back_raw():
    # non-hex size token → None → _http_payload returns raw framing
    assert _dechunk(b"zz\r\ndata\r\n0\r\n\r\n") is None
    http = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\n"
            b"zz\r\nbroken\r\n0\r\n\r\n")
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: http://m.example/\r\n"
           b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
           + f"Content-Length: {len(http)}\r\n\r\n".encode() + http)
    got = list(parse_warc_rows(rec))
    assert len(got) == 1 and got[0][2].startswith(b"zz\r\nbroken")


def test_dechunk_truncated_mid_chunk_keeps_bytes():
    # declared 20-byte chunk, only 5 bytes present → slice semantics
    assert _dechunk(b"14\r\nabcde") == b"abcde"


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=200), st.integers(0, 255))
def test_gzip_member_corruption_never_raises(pos, val):
    rows = _rows(3)
    raw = bytearray(_archive(rows, gzip_members=True))
    raw[min(pos, len(raw) - 1)] = val
    st_ = {}
    # contract: never raise, bounded output. A flip in the DEFLATE data
    # can still inflate to a parseable-but-mangled record (CRC only
    # checks at member end) — that row is downstream quality-gate food,
    # not a scanner bug, so URL equality is deliberately NOT asserted.
    got = list(parse_warc_rows(bytes(raw), stats=st_))
    assert len(got) <= len(rows)
    assert st_.get("pages", 0) == len(got)


def test_negative_content_length_resyncs_not_slurps():
    """'Content-Length: -1' must quarantine + resync like a non-numeric
    length — read(-1) would slurp the whole remaining archive into one
    record body, defeating the scanner's memory bound."""
    rows = _rows(3)
    raw = _archive(rows)
    # corrupt the FIRST record's length header to -1
    import re
    raw = re.sub(rb"Content-Length: \d+", b"Content-Length: -1", raw, count=1)
    st = {}
    got = list(parse_warc_rows(raw, stats=st))
    urls = [r[0] for r in got]
    assert urls == ["http://e1.example/p", "http://e2.example/p"]
    assert st.get("resyncs", 0) >= 1


def test_negative_chunk_size_falls_back_to_raw():
    assert _dechunk(b"-2\r\nxx\r\n0\r\n\r\n") is None


def test_out_of_range_warc_date_coerces_to_null():
    """A valid-ISO year-9999 date is outside pandas' ns range; the
    batch flush must coerce it to NaT (null ts row), never raise
    OutOfBoundsDatetime and kill the task."""
    from datetime import datetime

    from ontoemma_spark.sources.warc import _flush, _parse_ts

    dt = _parse_ts("9999-01-01T00:00:00Z")
    assert dt is not None and dt.year == 9999
    pdf = _flush([("u", dt, b"<html></html>", None, None)])
    assert pdf["warc_ts"].isna().all()


def test_load_warc_refuses_non_utc_session(spark, tmp_path):
    import pytest as _pytest

    from ontoemma_spark.sources.warc import load_warc, write_warc

    p = tmp_path / "a.warc"
    with open(p, "wb") as f:
        write_warc(_rows(1), f)
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        with _pytest.raises(ValueError, match="timeZone"):
            load_warc(spark, str(p))
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert load_warc(spark, str(p)).count() == 1
