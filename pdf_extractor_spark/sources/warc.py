"""WARC source: Common-Crawl-style ``*.warc`` / ``*.warc.gz`` archives
→ the canonical pages table ``(url, warc_ts, html, text, lang)``.

The north rule's input is "an Iceberg table of Common-Crawl-style web
pages"; this module is the ingest edge that builds that table from the
crawl's actual on-disk format (ISO 28500). Layout handled:

  - plain ``.warc``: concatenated records
  - ``.warc.gz``: independently-gzipped members (Common Crawl's layout,
    one member per record) AND whole-file gzip — zlib member walking
    covers both identically
  - record block of a ``response`` record = full HTTP response; the
    page payload is the HTTP body (headers stripped, chunked
    transfer-encoding de-chunked, gzip/deflate Content-Encoding
    decoded); ``resource`` records carry the payload directly

Scale shape: Spark's binaryFile source yields ONE ROW PER FILE, so a
crawl segment of ~1 GB ``warc.gz`` files gives one task per archive —
the same unit of work every public CC-on-Spark pipeline uses (each
member decompresses independently, but a member is useless without its
record header, so the file is the natural split). Memory per task is
bounded by one archive's decompressed size; at 10^12 documents you
size executors for the largest archive, not the corpus. Malformed
records degrade per-record (skipped), not per-file, and truncated
archives yield their parseable prefix — error accounting then happens
per-DOCUMENT in the extraction stage (S4 lineage), which is where a
corrupt payload should land, not at ingest.
"""

from __future__ import annotations

import gzip
import zlib
from typing import Iterator, Optional

__all__ = ["iter_warc_records", "pages_from_warc", "http_response_body"]


def _gunzip_members(data: bytes) -> bytes:
    """Decompress ALL gzip members of a buffer (CC writes one member
    per record; plain single-member files decompress identically)."""
    out = bytearray()
    while data[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        try:
            out += d.decompress(data)
            out += d.flush()
        except zlib.error:
            break  # truncated trailing member: keep what decoded
        if not d.eof:
            break
        data = d.unused_data
    return bytes(out)


def iter_warc_records(data: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield (headers, block) per WARC record. Header names are
    lower-cased; values stripped. Tolerates a truncated final record
    (yields nothing for it) and resynchronizes on the next ``WARC/``
    magic if a Content-Length lies."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    pos = 0
    n = len(data)
    while pos < n:
        start = data.find(b"WARC/", pos)
        if start < 0:
            return
        hdr_end = data.find(b"\r\n\r\n", start)
        if hdr_end < 0:
            return
        headers: dict[str, str] = {}
        for line in data[start:hdr_end].split(b"\r\n")[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower().decode("latin-1")] = v.strip().decode(
                    "latin-1", "replace"
                )
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            # unparseable length: resync on the next record magic
            pos = start + 5
            continue
        if clen < 0:
            # a negative length would move the scan position backward and
            # re-find this same record forever; treat as unparseable
            pos = start + 5
            continue
        body_start = hdr_end + 4
        body_end = body_start + clen
        if body_end > n:
            # length runs past EOF: either a truncated tail (no further
            # record follows — stop) or a lying length (drop this
            # record, resync on the next magic)
            nxt = data.find(b"WARC/", body_start)
            if nxt < 0:
                return
            pos = nxt
            continue
        if body_end != n and data[body_end : body_end + 4] != b"\r\n\r\n":
            # ISO 28500 §4: every record ends with two CRLFs. A missing
            # terminator means the length lied. If it OVERSHOT the true
            # block, the declared span swallowed the next record(s):
            # keep only up to the first in-block record boundary and
            # resync there. (An UNDERSTATED length falls through: the
            # truncated block is yielded and the outer magic-scan skips
            # the leftover body bytes.)
            inner = data.find(b"\r\nWARC/", body_start, body_end)
            if inner >= 0:
                yield headers, data[body_start:inner]
                pos = inner + 2
                continue
        yield headers, data[body_start:body_end]
        pos = body_end


def _dechunk(body: bytes) -> bytes:
    out = bytearray()
    pos = 0
    while True:
        eol = body.find(b"\r\n", pos)
        if eol < 0:
            break
        try:
            size = int(body[pos:eol].split(b";")[0], 16)
        except ValueError:
            break
        if size <= 0:
            # 0 terminates the chunk stream; a NEGATIVE size (corrupt)
            # could step pos backward onto the same size line forever
            break
        out += body[eol + 2 : eol + 2 + size]
        pos = eol + 2 + size + 2  # skip chunk + trailing CRLF
    return bytes(out)


def http_response_body(block: bytes) -> Optional[bytes]:
    """HTTP response block → payload bytes. Strips the status line +
    headers, de-chunks ``Transfer-Encoding: chunked``, and decodes
    gzip/deflate ``Content-Encoding``. Header VALUES are parsed per
    field name — a substring scan over the whole header blob would
    misfire on e.g. ``Content-Type: application/x-gzip`` or
    ``Via: 1.1 proxy (gzip)``. A block that is not an HTTP response is
    returned whole (resource-record semantics). Returns None only for
    an undecodable encoded body."""
    if not block.startswith(b"HTTP/"):
        return block
    split = block.find(b"\r\n\r\n")
    if split < 0:
        return b""
    headers: dict[bytes, bytes] = {}
    for line in block[:split].split(b"\r\n")[1:]:
        k, sep, v = line.partition(b":")
        if sep:
            headers[k.strip().lower()] = v.strip().lower()
    body = block[split + 4 :]
    if b"chunked" in headers.get(b"transfer-encoding", b""):
        body = _dechunk(body)
    enc = headers.get(b"content-encoding", b"identity")
    if b"gzip" in enc or b"x-gzip" in enc:
        try:
            body = gzip.decompress(body)
        except OSError:
            return None
    elif b"deflate" in enc:
        try:
            body = zlib.decompress(body)
        except zlib.error:
            try:
                body = zlib.decompress(body, -15)  # raw deflate
            except zlib.error:
                return None
    return body


_PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _warc_timestamps(raw: list) -> list:
    """WARC-Date header values → naive UTC Timestamps, None where the
    header is missing or unparseable. One ISO 8601 parse covers the
    whole batch; only values it cannot read (RFC 1123 dates, years past
    2262, garbage) go through pandas' much slower per-value format
    guessing."""
    import pandas as pd

    parsed = pd.to_datetime(
        pd.Series(raw, dtype=object), utc=True, errors="coerce", format="ISO8601"
    )
    out = []
    for value, ts in zip(raw, parsed):
        if ts is pd.NaT and value:
            ts = pd.to_datetime(value, errors="coerce", utc=True)
        # a record without WARC-Date must become a null, never a task
        # failure (found by the streaming kill-fuzz soak)
        out.append(None if ts is pd.NaT else ts.tz_localize(None))
    return out


def parse_content_batches(batches):
    """mapInPandas closure over binaryFile ``content`` batches — shared
    by the batch source below and streaming.stream_warc_pages so both
    edges parse records identically."""
    import pandas as pd

    from ..session import release_zip_importers

    try:
        for pdf in batches:
            urls, dates, payloads = [], [], []
            for content in pdf["content"]:
                for headers, block in iter_warc_records(bytes(content)):
                    rtype = headers.get("warc-type")
                    if rtype not in ("response", "resource"):
                        continue
                    url = headers.get("warc-target-uri")
                    if not url:
                        continue
                    payload = http_response_body(block) if rtype == "response" else block
                    if payload is None:
                        continue
                    urls.append(url)
                    dates.append(headers.get("warc-date"))
                    payloads.append(payload)
            rows = [
                {"url": u, "warc_ts": ts, "html": p, "text": None, "lang": None}
                for u, ts, p in zip(urls, _warc_timestamps(dates), payloads)
            ]
            yield pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    finally:
        release_zip_importers()


def pages_from_warc(spark, input_dir: str, glob: str = "*.warc*"):
    """Directory of WARC archives → pages DataFrame in the canonical
    input-table schema. ``response`` and ``resource`` records become
    rows (url = WARC-Target-URI, warc_ts = WARC-Date); warcinfo /
    request / metadata records are skipped. One Arrow batch per
    archive file; per-record failures drop the record, never the
    task."""
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(input_dir)
        .select("content")
    )
    return raw.mapInPandas(parse_content_batches, schema=_PAGES_SCHEMA)
