"""Pure-Python WARC / WET record codec (ISO 28500 / WARC 1.0-1.1).

Common Crawl — the corpus family the pages table models (BASELINE.json
``input_hint``: "Common-Crawl-style web pages", ``warc_ts`` column) — ships
as WARC (raw HTTP capture) and WET (extracted-text conversion records).
This module parses both from bytes with no third-party library (the
container has no ``warcio``), following the public spec:

* a record is a ``WARC/1.x`` version line, CRLF-terminated named headers,
  a blank line, exactly ``Content-Length`` octets of block content, and a
  two-CRLF trailer;
* Common Crawl's ``.warc.gz`` framing is one gzip *member per record*
  concatenated — members are split with ``zlib.decompressobj(wbits=31)``
  and its ``unused_data`` tail;
* ``response`` records carry an ``application/http`` block: status line +
  HTTP headers, then the payload after the first blank line.

Malformed input is quarantined: undecodable records are skipped, never
raised, so one corrupt capture cannot fail a 100-TB scan task.

The distributed read path lives in ``sources/warc.py``; the deterministic
generator (sandbox rule: no external data) in ``sources/warcgen.py``.
"""

from __future__ import annotations

import zlib
from typing import Iterator

GZIP_MAGIC = b"\x1f\x8b"
_MAX_HEADER_BLOCK = 1 << 20  # sanity bound: a header block beyond 1 MiB is garbage


def gunzip_members(blob: bytes) -> bytes:
    """Inflate a concatenation of gzip members (the ``.warc.gz`` framing).

    Stops at the first undecodable byte run and returns what decoded —
    quarantine, not raise."""
    out = []
    data = blob
    while data[:2] == GZIP_MAGIC:
        d = zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(data))
        except zlib.error:
            break
        data = d.unused_data
        if not d.eof:
            break
    return b"".join(out)


def _parse_header_block(block: bytes) -> tuple[str, dict[str, str]] | None:
    """(version line, {lower-name: value}) from one CRLF header block."""
    # tolerate bare-LF writers; the spec says CRLF
    lines = block.replace(b"\r\n", b"\n").split(b"\n")
    if not lines or not lines[0].startswith(b"WARC/"):
        return None
    headers: dict[str, str] = {}
    for raw in lines[1:]:
        if not raw:
            continue
        if raw[:1] in (b" ", b"\t") and headers:
            # obs-fold continuation: append to the previous value
            headers[last] += " " + raw.strip().decode("utf-8", "replace")  # noqa: F821
            continue
        name, sep, value = raw.partition(b":")
        if not sep:
            continue
        last = name.strip().decode("ascii", "replace").lower()
        headers[last] = value.strip().decode("utf-8", "replace")
    return lines[0].decode("ascii", "replace"), headers


def iter_warc_records(blob: bytes) -> Iterator[dict]:
    """Yield record dicts from a WARC byte stream (plain or per-member gzip).

    Each dict: ``version``, ``headers`` (lower-cased names), ``rec_type``,
    ``target_uri``, ``warc_date``, ``record_id``, ``content_type``,
    ``content`` (the raw block bytes, exactly Content-Length octets).
    Records with a missing/invalid Content-Length or a truncated block are
    skipped; scanning resynchronizes at the next ``WARC/`` marker."""
    if blob[:2] == GZIP_MAGIC:
        blob = gunzip_members(blob)
    pos = 0
    n = len(blob)
    while pos < n:
        start = blob.find(b"WARC/", pos)
        if start < 0:
            return
        head_end = blob.find(b"\r\n\r\n", start)
        sep_len = 4
        if head_end < 0 or head_end - start > _MAX_HEADER_BLOCK:
            head_end = blob.find(b"\n\n", start)
            sep_len = 2
            if head_end < 0 or head_end - start > _MAX_HEADER_BLOCK:
                return
        parsed = _parse_header_block(blob[start:head_end])
        if parsed is None:
            pos = start + 5
            continue
        version, headers = parsed
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError):
            pos = head_end + sep_len
            continue
        body_start = head_end + sep_len
        if length < 0 or body_start + length > n:
            pos = head_end + sep_len
            continue
        content = blob[body_start : body_start + length]
        yield {
            "version": version,
            "headers": headers,
            "rec_type": headers.get("warc-type"),
            "target_uri": headers.get("warc-target-uri"),
            "warc_date": headers.get("warc-date"),
            "record_id": headers.get("warc-record-id"),
            "content_type": headers.get("content-type"),
            "content": content,
        }
        pos = body_start + length


def split_http_payload(content: bytes) -> tuple[int | None, dict[str, str], bytes]:
    """(status, headers, payload) from an ``application/http`` block.

    Returns ``(None, {}, content)`` when the block does not start with an
    HTTP status line — WET ``conversion`` records hit this path and keep
    their whole block as the payload."""
    if not content.startswith(b"HTTP/"):
        return None, {}, content
    head_end = content.find(b"\r\n\r\n")
    sep_len = 4
    if head_end < 0:
        head_end = content.find(b"\n\n")
        sep_len = 2
        if head_end < 0:
            return None, {}, content
    lines = content[:head_end].replace(b"\r\n", b"\n").split(b"\n")
    parts = lines[0].split(None, 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, {}, content
    headers: dict[str, str] = {}
    for raw in lines[1:]:
        name, sep, value = raw.partition(b":")
        if sep:
            headers[name.strip().decode("ascii", "replace").lower()] = value.strip().decode(
                "utf-8", "replace"
            )
    return status, headers, content[head_end + sep_len :]


def parse_warc(blob: bytes) -> list[dict]:
    """Flat record list with the HTTP envelope of ``response`` records
    already split: adds ``http_status``, ``payload`` (bytes), and ``mime``
    (the payload's Content-Type — HTTP header for responses, the WARC
    ``Content-Type`` otherwise, parameters stripped)."""
    out = []
    for rec in iter_warc_records(blob):
        ctype = rec["content_type"] or ""
        if rec["rec_type"] in ("response", "revisit") and ctype.startswith("application/http"):
            status, http_headers, payload = split_http_payload(rec["content"])
            mime = http_headers.get("content-type", "")
        else:
            status, payload = None, rec["content"]
            mime = ctype
        rec["http_status"] = status
        rec["payload"] = payload
        rec["mime"] = mime.split(";")[0].strip() or None
        out.append(rec)
    return out
