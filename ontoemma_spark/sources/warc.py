"""Distributed WARC reader: Common-Crawl's native archive format →
the north-rule pages table (url, warc_ts, html, text, lang).

A WARC file is a sequence of records, each:

    WARC/1.0\r\n
    <header-name>: <value>\r\n ...
    \r\n
    <Content-Length bytes of payload>\r\n\r\n

Common Crawl ships ~1 GiB gzipped WARCs, ~60k per crawl; the unit of
parallelism is the FILE (one task per archive), which is exactly how
production CC pipelines shard — Spark's binaryFile source lists the
archives and each task parses its own file with a pure-python record
scanner inside mapInPandas (Arrow-batched output). Response records
with an http payload become pages rows; the html payload is kept as
opaque binary for the extract stage (extract/html_text.py) and `text`
stays null so the pipeline's `coalesce(text, extract_text_col(html))`
fills it.

Memory shape (the production constraint): a ~1 GiB gzipped CC archive
expands ~4-5×. The scanner therefore NEVER materializes the
decompressed archive: records are read through a streaming
`gzip.GzipFile` (member-by-member for CC's member-gzip layout,
single-stream for plain gzip, passthrough for uncompressed), and rows
are flushed as bounded-size Arrow batches (`rows_per_batch`) from the
`mapInPandas` iterator. Peak per-task memory is the COMPRESSED archive
(binaryFile hands the task one byte array) plus one batch of rows —
not compressed + decompressed + all rows. The remaining hard limit is
binaryFile's JVM byte-array cap (2 GiB per file); `load_warc` checks
archive sizes from the listing (column-pruned, no content read) and
fails with an actionable message instead of a mid-scan JVM error —
split oversized archives upstream (CC's own are ~1 GiB).

No reference counterpart (the reference ingests ontologies, not web
archives); this is the S-north pages-scan source materialized from
the archive format instead of parquet.
"""

from __future__ import annotations

import io
import zlib
from collections.abc import Iterator
from datetime import datetime, timezone
from email.utils import parsedate_to_datetime
import gzip

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

# Keep comfortably under the JVM's Integer.MAX_VALUE byte-array cap that
# bounds what binaryFile can hand a task as one `content` value.
_BINARYFILE_MAX_BYTES = 2_000_000_000

# Default rows per emitted Arrow batch: bounds task memory to one batch
# of pages (~2k pages × ~50 KiB html ≈ 100 MiB) regardless of archive
# size. Aligned with spark.sql.execution.arrow.maxRecordsPerBatch's
# order of magnitude.
_ROWS_PER_BATCH = 2048


def _open_stream(raw: bytes | io.IOBase):
    """File-like view of an archive: gzip-detect and wrap WITHOUT
    decompressing up front. GzipFile reads concatenated members
    incrementally — CC's record-per-member layout and plain gzip both
    stream through it member by member."""
    stream = io.BytesIO(raw) if isinstance(raw, (bytes, bytearray)) else raw
    head = stream.read(2)
    stream.seek(-len(head), io.SEEK_CUR)
    if head == b"\x1f\x8b":
        return gzip.GzipFile(fileobj=stream)
    return stream


# Bound on how far the scanner hunts for the next record preamble after
# a malformed record before declaring the rest of the archive garbage —
# keeps a corrupt 1 GiB tail from being line-scanned end to end.
_MAX_RESYNC_BYTES = 1_048_576
# readline cap: binary garbage can contain no newline for megabytes; an
# uncapped readline would materialize that span as one "line".
_MAX_LINE = 65_536


def _resync(stream, stats: dict):
    """Skip quarantined bytes until the next `WARC/` preamble line (the
    standard warcio-style recovery). Returns that line, or None when no
    preamble appears within _MAX_RESYNC_BYTES / before EOF."""
    stats["resyncs"] = stats.get("resyncs", 0) + 1
    seen = 0
    while seen < _MAX_RESYNC_BYTES:
        line = stream.readline(_MAX_LINE)
        if not line:
            return None
        seen += len(line)
        if line.startswith(b"WARC/"):
            return line
    return None


def iter_warc_records(
    stream, stats: dict | None = None
) -> Iterator[tuple[dict, bytes]]:
    """Yield (headers, payload) per WARC record from a file-like object
    of (decompressed) archive bytes, reading incrementally — at no point
    is more than one record's payload held.

    Malformed records QUARANTINE, they don't kill the archive: a
    garbage preamble or a missing/non-numeric Content-Length (the one
    header the scanner cannot parse around — without it the payload
    span is unknown) skips forward to the next `WARC/` preamble line
    (bounded hunt, `_MAX_RESYNC_BYTES`) and the scan continues; only an
    archive whose remainder contains no further preamble degrades to
    its parseable prefix. A final record truncated mid-payload IS
    yielded with the bytes present (r3 slice semantics, pinned by
    test_warc_corrupt_archives_do_not_kill_the_scan — a partially
    fetched page is still a page; downstream quality gates are the
    filter for mangled documents), then the scan stops.

    stats (optional dict) is incremented in place: records (yielded),
    resyncs (quarantine recoveries attempted), truncated (0/1)."""
    st = stats if stats is not None else {}
    pending: bytes | None = None
    while True:
        line = pending if pending is not None else stream.readline(_MAX_LINE)
        pending = None
        if not line:
            return
        if line in (b"\r\n", b"\n"):  # inter-record blank lines
            continue
        if not line.startswith(b"WARC/"):
            pending = _resync(stream, st)
            if pending is None:
                return
            continue
        headers: dict[str, str] = {}
        while True:
            line = stream.readline(_MAX_LINE)
            if not line or line in (b"\r\n", b"\n"):
                break
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.decode("ascii", "replace").strip().lower()] = (
                    v.decode("utf-8", "replace").strip()
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            length = -1
        if length < 0:
            # unknown OR negative payload span (read(-1) would slurp
            # the whole remaining archive into one record, defeating
            # the memory bound): quarantine this record, resync
            pending = _resync(stream, st)
            if pending is None:
                return
            continue
        body = stream.read(length)
        st["records"] = st.get("records", 0) + 1
        yield headers, body
        if len(body) < length:  # truncated final record
            st["truncated"] = st.get("truncated", 0) + 1
            return


def _dechunk(data: bytes) -> bytes | None:
    """Decode an HTTP/1.1 chunked body (size-in-hex CRLF chunk CRLF …
    0 CRLF). Returns None on unparseable framing (caller falls back to
    the raw bytes — quarantine, not crash); a body truncated mid-chunk
    keeps the bytes present (same slice semantics as truncated WARC
    payloads)."""
    out = []
    pos = 0
    while True:
        nl = data.find(b"\r\n", pos)
        if nl < 0:
            return None
        size_tok = data[pos:nl].split(b";")[0].strip()  # drop chunk exts
        try:
            size = int(size_tok, 16)
        except ValueError:
            return None
        if size < 0:  # '-5' parses; negative framing is corrupt
            return None
        if size == 0:
            return b"".join(out)
        start = nl + 2
        chunk = data[start : start + size]
        out.append(chunk)
        if len(chunk) < size:  # truncated mid-chunk
            return b"".join(out)
        pos = start + size + 2  # skip the chunk's trailing CRLF


def _http_payload(body: bytes) -> bytes:
    """Response-record bodies carry an HTTP message; strip its header
    block. CC stores responses RAW, so `Transfer-Encoding: chunked`
    bodies keep their wire framing — de-chunk them (warcio does the
    same); unparseable chunk framing falls back to the raw payload.
    Records without an HTTP preamble pass through unchanged."""
    if body[:5] in (b"HTTP/",):
        sep = body.find(b"\r\n\r\n")
        if sep >= 0:
            head = body[:sep].lower()
            payload = body[sep + 4 :]
            chunked = any(
                ln.startswith(b"transfer-encoding:") and b"chunked" in ln
                for ln in head.split(b"\r\n")
            )
            if chunked:
                dec = _dechunk(payload)
                if dec is not None:
                    return dec
            return payload
    return body


def _parse_ts(value: str):
    """WARC-Date is ISO-8601 (e.g. 2026-01-17T08:51:02Z). Offset-less
    dates (both ISO and RFC-2822 forms) are pinned to UTC — letting
    astimezone() interpret a naive datetime would use the executor's
    LOCAL zone, making warc_ts machine-dependent across a cluster."""
    try:
        dt = datetime.fromisoformat(value.replace("Z", "+00:00"))
        if dt.tzinfo is None:  # e.g. '2026-01-17T08:51:02' (no offset)
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.astimezone(timezone.utc).replace(tzinfo=None)
    except ValueError:
        try:
            dt = parsedate_to_datetime(value)
        except (TypeError, ValueError):
            return None
        if dt.tzinfo is None:  # e.g. '-0000' parses tz-naive
            dt = dt.replace(tzinfo=timezone.utc)
        return dt.astimezone(timezone.utc).replace(tzinfo=None)


def parse_warc_rows(
    raw: bytes | io.IOBase, stats: dict | None = None
) -> Iterator[tuple]:
    """Streaming archive → pages-row generator (the per-task kernel).
    Corrupt gzip data (bad member header, truncated stream) ends the
    scan after the rows already parsed instead of failing the task.
    stats (optional dict, see iter_warc_records) additionally gains:
    pages (rows yielded), gzip_error (0/1)."""
    st = stats if stats is not None else {}
    records = iter_warc_records(_open_stream(raw), stats=st)
    while True:
        try:
            headers, body = next(records)
        except StopIteration:
            return
        except (OSError, EOFError, zlib.error):
            st["gzip_error"] = st.get("gzip_error", 0) + 1
            return  # corrupt compressed data: keep the parseable prefix
        if headers.get("warc-type") != "response":
            continue
        url = headers.get("warc-target-uri")
        if not url:
            continue
        st["pages"] = st.get("pages", 0) + 1
        yield (url, _parse_ts(headers.get("warc-date", "")),
               _http_payload(body), None, None)


def parse_warc_bytes(raw: bytes) -> list[tuple]:
    """Pure-python archive → pages rows (the twin the tests pin the
    distributed scan against; materializes — use parse_warc_rows for
    the streaming form)."""
    return list(parse_warc_rows(raw))


_COLS = ("url", "warc_ts", "html", "text", "lang")


def _flush(rows: list[tuple]) -> pd.DataFrame:
    pdf = pd.DataFrame(rows, columns=_COLS)
    # empty/None-only ts columns infer float64, which Arrow cannot cast
    # to timestamp — coerce explicitly. errors="coerce": a valid-ISO
    # but out-of-pandas-range date (year > 2262 in a wild archive)
    # must become NaT/null, not an OutOfBoundsDatetime that kills the
    # task — the same quarantine-not-crash stance as the scanner.
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"], errors="coerce")
    return pdf


def load_warc(spark: SparkSession, path: str) -> DataFrame:
    """Pages table from a directory/glob of .warc / .warc.gz archives.

    Parallelism = one task per archive file (binaryFile source), the
    production CC sharding unit; each task streams the archive through
    the python record scanner and emits bounded Arrow batches
    (`_ROWS_PER_BATCH` pages each — see the module docstring's memory
    shape). At 10^12 pages you have ~10^5 archives per crawl — ample
    task parallelism with zero shuffle.

    Requires spark.sql.session.timeZone=UTC (asserted loudly):
    warc_ts travels as a NAIVE UTC wall-time through Arrow, and a
    session pinned to any other zone would silently reinterpret every
    instant (an 8-hour shift on a PST cluster). The project session
    (session.get_spark) pins UTC; foreign sessions must too.

    The size check runs an EAGER listing-only job (content column
    pruned, no file bytes read) so archives over binaryFile's cap fail
    here with an actionable message instead of an opaque mid-scan JVM
    error — the failure happens at scan time inside the data source, so
    it cannot be intercepted lazily.
    """
    files = spark.read.format("binaryFile").load(path)
    # binaryFile holds each file as ONE JVM byte array (2 GiB hard cap).
    oversized = (
        files.select("path", "length")
        .where(F.col("length") > _BINARYFILE_MAX_BYTES)
        .limit(3)
        .collect()
    )
    if oversized:
        names = ", ".join(r["path"] for r in oversized)
        raise ValueError(
            f"WARC archives exceed binaryFile's 2 GiB per-file cap: {names} "
            "— split them (Common Crawl's own archives are ~1 GiB; "
            "`gzip -dc big.warc.gz | split` then re-gzip, or re-shard at "
            "the crawler)."
        )

    tz = spark.conf.get("spark.sql.session.timeZone", "")
    if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
        raise ValueError(
            f"load_warc requires spark.sql.session.timeZone=UTC (got {tz!r}): "
            "warc_ts travels as a naive UTC wall-time and any other session "
            "zone silently shifts every instant"
        )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield from batched_pages(
                (bytes(c) for c in pdf["content"]), _ROWS_PER_BATCH
            )

    return files.select("content").mapInPandas(parse, schema=PAGES_SCHEMA)


def batched_pages(
    contents: Iterator[bytes], rows_per_batch: int
) -> Iterator[pd.DataFrame]:
    """The per-task body of load_warc's mapInPandas: stream archives →
    bounded-size pandas batches (exported so tests can pin the batch
    shape without a Spark job)."""
    buf: list[tuple] = []
    for content in contents:
        for row in parse_warc_rows(content):
            buf.append(row)
            if len(buf) >= rows_per_batch:
                yield _flush(buf)
                buf = []
    if buf:
        yield _flush(buf)


def write_warc(rows: list[tuple], fileobj, gzip_members: bool = False) -> None:
    """Serialize (url, ts, html_bytes) rows as WARC response records —
    the test/fixture writer (member-gzip like Common Crawl when
    gzip_members)."""
    for url, ts, html in rows:
        payload = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
        )
        ts_s = (ts or datetime(2026, 1, 1)).strftime("%Y-%m-%dT%H:%M:%SZ")
        rec = (
            b"WARC/1.0\r\n"
            b"WARC-Type: response\r\n"
            + f"WARC-Target-URI: {url}\r\n".encode()
            + f"WARC-Date: {ts_s}\r\n".encode()
            + f"Content-Length: {len(payload)}\r\n".encode()
            + b"\r\n"
            + payload
            + b"\r\n\r\n"
        )
        fileobj.write(gzip.compress(rec) if gzip_members else rec)
