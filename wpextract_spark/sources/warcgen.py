"""Deterministic WARC / WET byte generator (sandbox rule: no external data).

Inverse of ``kernel/warc.py``: synthesizes spec-shaped WARC captures and WET
conversion files from rows of the synthetic corpus, so the parse path can be
oracle-checked (construction-derived) and the distributed file reader
round-trip-tested against ``sources/synth.generate_pages``.

Every field is a pure function of the input row: record ids are md5-derived
urn:uuid strings, dates derive from ``doc_id``, and gzip members are written
with ``mtime=0`` so the bytes themselves are reproducible run-to-run.
"""

from __future__ import annotations

import gzip
import hashlib
import io

_SOFTWARE = "wpextract-spark-warcgen/1.0"


def record_id_for(uri: str, date: str) -> str:
    """Deterministic urn:uuid record id (md5 of uri+date in uuid layout)."""
    h = hashlib.md5(f"{uri}|{date}".encode()).hexdigest()
    return f"<urn:uuid:{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}>"


def warc_date_for(doc_id: int) -> str:
    """Deterministic WARC-Date: month/day/hour walk keyed by doc_id."""
    return (
        f"2024-{1 + doc_id % 12:02d}-{1 + doc_id % 28:02d}"
        f"T{doc_id % 24:02d}:00:00Z"
    )


def build_record(
    rec_type: str,
    content: bytes,
    content_type: str,
    target_uri: str | None = None,
    warc_date: str = "2024-01-01T00:00:00Z",
) -> bytes:
    """One spec-shaped WARC/1.0 record: version line, CRLF headers, blank
    line, exactly Content-Length octets, two-CRLF trailer."""
    headers = [
        ("WARC-Type", rec_type),
        ("WARC-Date", warc_date),
        ("WARC-Record-ID", record_id_for(target_uri or rec_type, warc_date)),
    ]
    if target_uri is not None:
        headers.append(("WARC-Target-URI", target_uri))
    headers += [
        ("Content-Type", content_type),
        ("Content-Length", str(len(content))),
    ]
    head = b"WARC/1.0\r\n" + b"".join(
        f"{k}: {v}\r\n".encode() for k, v in headers
    )
    return head + b"\r\n" + content + b"\r\n\r\n"


def http_response_block(body: bytes, mime: str = "text/html", status: int = 200) -> bytes:
    """An ``application/http`` response block wrapping ``body``."""
    reason = {200: "OK", 404: "Not Found", 301: "Moved Permanently"}.get(status, "OK")
    head = (
        f"HTTP/1.1 {status} {reason}\r\n"
        f"Content-Type: {mime}\r\n"
        f"Content-Length: {len(body)}\r\n"
    ).encode()
    return head + b"\r\n" + body


def warcinfo_record(filename: str, warc_date: str = "2024-01-01T00:00:00Z") -> bytes:
    info = f"software: {_SOFTWARE}\r\nisPartOf: synthetic\r\nfilename: {filename}\r\n".encode()
    return build_record("warcinfo", info, "application/warc-fields", None, warc_date)


def response_record(
    uri: str, body: bytes, warc_date: str, mime: str = "text/html", status: int = 200
) -> bytes:
    return build_record(
        "response",
        http_response_block(body, mime, status),
        'application/http; msgtype=response',
        uri,
        warc_date,
    )


def conversion_record(uri: str, text: bytes, warc_date: str) -> bytes:
    """A WET-style ``conversion`` record: extracted plain text, no HTTP."""
    return build_record("conversion", text, "text/plain", uri, warc_date)


def _gzip_member(record: bytes) -> bytes:
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(record)
    return buf.getvalue()


def frame_records(records: list[bytes], gzip_members: bool = True) -> bytes:
    """Concatenate records into one WARC stream — Common Crawl framing is
    one gzip member per record when ``gzip_members``."""
    if gzip_members:
        return b"".join(_gzip_member(r) for r in records)
    return b"".join(records)


def build_warc(pages: list[dict], filename: str = "synthetic.warc.gz", gzip_members: bool = True) -> bytes:
    """A full WARC file: warcinfo + one response record per page row.

    ``pages`` rows need ``url``, ``html`` (bytes or str), ``doc_id``."""
    records = [warcinfo_record(filename)]
    for page in pages:
        html = page["html"]
        if isinstance(html, str):
            html = html.encode("utf-8")
        records.append(
            response_record(page["url"], html, warc_date_for(int(page["doc_id"])))
        )
    return frame_records(records, gzip_members)


def build_wet(pages: list[dict], filename: str = "synthetic.wet.gz", gzip_members: bool = True) -> bytes:
    """A WET file: warcinfo + one conversion (plain text) record per page."""
    records = [warcinfo_record(filename)]
    for page in pages:
        text = page["text"]
        if isinstance(text, str):
            text = text.encode("utf-8")
        records.append(
            conversion_record(page["url"], text, warc_date_for(int(page["doc_id"])))
        )
    return frame_records(records, gzip_members)


def doc_url(doc_id: int, source: str) -> str:
    """Deterministic per-document URI (documents table has no url column);
    restated verbatim in the SQL oracle of ``q_warc_extract``."""
    return f"https://{source}.example.org/doc/{doc_id}"


def build_doc_warc(doc_id: int, source: str, text: str) -> bytes:
    """Single-document mini-WARC (warcinfo + response whose payload is the
    document text served as text/html), gzip-member framed — the inline
    per-row payload for ``q_warc_extract``."""
    date = warc_date_for(doc_id)
    records = [
        warcinfo_record(f"doc-{doc_id}.warc.gz", date),
        response_record(doc_url(doc_id, source), text.encode("utf-8"), date),
    ]
    return frame_records(records, gzip_members=True)
