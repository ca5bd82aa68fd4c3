"""Deterministic generators of minimal image payloads.

Synthesizes crawl-style binary image columns for tests/benchmarks (sandbox
rule: no external data). PNG and GIF outputs are complete, spec-valid
files (real decoders would open them; ``kernel/pngcodec.py`` does).
:func:`build_jpeg` stays marker-valid-only (SOF0 + EOI with a stub entropy
stream) because the metadata tests build 65535x65535 headers whose real
streams would be gigabytes. The inverse of ``kernel/imagemeta.py`` /
``kernel/pngcodec.py``.
"""

from __future__ import annotations

import struct
import zlib


def _png_chunk(kind: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + kind
        + body
        + struct.pack(">I", zlib.crc32(kind + body) & 0xFFFFFFFF)
    )


def build_png(width: int, height: int, gray: int = 0x7F) -> bytes:
    """Complete valid grayscale PNG of the given dimensions."""
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    row = b"\x00" + bytes([gray & 0xFF]) * width  # filter 0 + pixels
    idat = zlib.compress(row * height, 6)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def build_png_gradient(width: int, height: int, base: int) -> bytes:
    """Valid grayscale PNG whose pixel at (row r, col c) is (base+r+c) % 256.

    Deliberately filter-diverse so a decoder must really unfilter: row 0 is
    Sub-filtered (first byte = base, then deltas of 1), later rows are
    Up-filtered (delta of 1 from the row above). The pixel arithmetic is
    restatable in SQL, which makes decoded sums oracle-checkable.
    """
    rows = bytearray()
    rows += b"\x01" + bytes([base % 256]) + b"\x01" * (width - 1)
    rows += (b"\x02" + b"\x01" * width) * (height - 1)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(rows), 6))
        + _png_chunk(b"IEND", b"")
    )


def build_gradient_image(doc_id: int) -> tuple[int, int, int, bytes]:
    """Deterministic (width, height, base, payload) gradient PNG for a doc id.

    Pure arithmetic in ``doc_id`` (same convention as :func:`build_image`)
    so a SQL oracle can restate the decoded pixel sum:
    width = 16 + id % 100, height = 16 + (id * 7) % 100,
    base = (id * 37) % 256, pixel(r, c) = (base + r + c) % 256.
    """
    width = 16 + doc_id % 100
    height = 16 + (doc_id * 7) % 100
    base = (doc_id * 37) % 256
    return width, height, base, build_png_gradient(width, height, base)


def _lzw_uncompressed(indices: bytes, min_code_size: int = 8) -> bytes:
    """REAL GIF LZW stream in 'uncompressed' form: literal codes with a
    CLEAR before the decoder's table would force a code-width growth
    (2^min_code_size - 2 literals per cycle), so a spec-complete decoder
    reads it and the stream stays trivially verifiable."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    cycle_max = clear - 2  # decoder table: clear+2 + (k-1) stays < 2*clear
    codes = [clear]
    cycle = 0
    for b in indices:
        if cycle == cycle_max:
            codes.append(clear)
            cycle = 0
        codes.append(b)
        cycle += 1
    codes.append(eoi)
    width = min_code_size + 1
    bitbuf = bitcnt = 0
    out = bytearray()
    for c in codes:  # LSB-first packing (GIF89a appendix F)
        bitbuf |= c << bitcnt
        bitcnt += width
        while bitcnt >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            bitcnt -= 8
    if bitcnt:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def build_gif_gradient(width: int, height: int, base: int) -> bytes:
    """Valid GIF89a whose pixel at (row r, col c) is gray (base+r+c) % 256 —
    a real LZW-coded image (kernel/gifcodec.py decodes it), with the same
    SQL-restatable pixel arithmetic as :func:`build_png_gradient`."""
    header = b"GIF89a" + struct.pack("<HH", width, height) + b"\xf7\x00\x00"
    palette = bytes(v for i in range(256) for v in (i, i, i))
    descriptor = b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    indices = bytes(
        (base + r + c) % 256 for r in range(height) for c in range(width)
    )
    stream = _lzw_uncompressed(indices)
    blocks = bytearray([8])  # LZW minimum code size
    for i in range(0, len(stream), 255):
        chunk = stream[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)
    return header + palette + descriptor + bytes(blocks) + b"\x3b"


def build_gif(width: int, height: int) -> bytes:
    """Header-complete 2-color GIF89a of the given dimensions for metadata
    sniffing — the pixel stream is a minimal stub (metadata tests build
    65535x65535 headers; a real stream would be gigabytes). For decodable
    pixels use :func:`build_gif_gradient`."""
    header = b"GIF89a" + struct.pack("<HH", width, height) + b"\x80\x00\x00"
    palette = b"\x00\x00\x00\xff\xff\xff"
    descriptor = b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    # Minimal LZW stream: code size 2, one clear code + EOI code.
    image_data = b"\x02\x02\x44\x01\x00"
    return header + palette + descriptor + image_data + b"\x3b"


def build_jpeg(width: int, height: int) -> bytes:
    """Marker-valid JPEG (SOI, JFIF APP0, SOF0 with dimensions, SOS, EOI)."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + struct.pack(
        ">HHBB", 72, 72, 0, 0
    )
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">H", 11)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + b"\x01\x01\x11\x00"
    )
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
    return b"\xff\xd8" + app0 + sof0 + sos + b"\xff\xd9"


def build_image(doc_id: int) -> tuple[str, int, int, bytes]:
    """Deterministic (kind, width, height, payload) for a document id.

    Dimensions are pure arithmetic in ``doc_id`` so a SQL oracle can restate
    them: width = 16 + id % 100, height = 16 + (id * 7) % 100; the format
    rotates png/gif/jpeg by id % 3.
    """
    width = 16 + doc_id % 100
    height = 16 + (doc_id * 7) % 100
    kind = ("png", "gif", "jpeg")[doc_id % 3]
    builder = {"png": build_png, "gif": build_gif, "jpeg": build_jpeg}[kind]
    return kind, width, height, builder(width, height)
