"""Pure-stdlib PNG pixel codec: zlib IDAT inflate + per-row unfiltering.

Goes one step past ``kernel/imagemeta.py`` (header sniffing): for PNG
payloads, *pixel* decode is real — no codec library needed because PNG's pixel path is just DEFLATE (stdlib
``zlib``) plus the five per-row predictive filters (None/Sub/Up/Average/
Paeth, RFC 2083 §6). Supported: bit depth 8, color types 0 (gray),
2 (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA), non-interlaced — the
overwhelming majority of web PNGs. Anything else returns ``None``
(the quarantine contract of the media operators: never raise on a
corrupt/foreign payload).

Scale note: decode cost is per-payload and embarrassingly parallel — the
operators wrap this in Arrow-batched ``mapInPandas`` stages, so executors
decode their own partitions and nothing funnels through the driver. The
unfilter hot paths (None/Up/Sub) are vectorized numpy; Average/Paeth carry a
true per-pixel recurrence and fall back to a per-byte loop (rare in
generated corpora).
"""

from __future__ import annotations

import struct
import zlib
from typing import Optional, Tuple

import numpy as np

_SIGNATURE = b"\x89PNG\r\n\x1a\n"

#: color type -> samples per pixel (before palette expansion)
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}

#: channels -> color type, for the encoder
_COLOR_TYPE = {1: 0, 2: 4, 3: 2, 4: 6}


def decode_png(payload: bytes) -> Optional[Tuple[int, int, int, bytes]]:
    """(width, height, channels, row-major pixel bytes) or None.

    Palette images are expanded to RGB so callers always see raw samples.
    Never raises on truncated/garbage input.
    """
    if payload is None or len(payload) < 8 or payload[:8] != _SIGNATURE:
        return None
    ihdr = plte = None
    idat = []
    pos = 8
    n = len(payload)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        kind = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if len(body) < length:
            return None
        if kind == b"IHDR":
            ihdr = body
        elif kind == b"PLTE":
            plte = body
        elif kind == b"IDAT":
            idat.append(body)
        elif kind == b"IEND":
            break
        pos += 12 + length
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    width, height, depth, ctype, comp, filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr[:13]
    )
    ch = _CHANNELS.get(ctype)
    if (
        ch is None
        or depth != 8
        or comp != 0
        or filt != 0
        or interlace != 0
        or width == 0
        or height == 0
    ):
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    stride = width * ch
    if len(raw) != height * (stride + 1):
        return None
    scan = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    ftypes = scan[:, 0]
    if ftypes.max(initial=0) > 4:
        return None
    lines = scan[:, 1:]
    recon = np.zeros((height, stride), dtype=np.uint8)
    for r in range(height):
        f = ftypes[r]
        line = lines[r]
        prev = recon[r - 1] if r else np.zeros(stride, dtype=np.uint8)
        if f == 0:  # None
            recon[r] = line
        elif f == 2:  # Up: recon = raw + prev (mod 256) — vector add
            recon[r] = line + prev  # uint8 arithmetic wraps mod 256
        elif f == 1:  # Sub: recon[i] = raw[i] + recon[i-ch] — a cumsum
            # per byte lane (positions congruent mod ch form a chain).
            lanes = line.reshape(width, ch).astype(np.int64)
            recon[r] = (np.cumsum(lanes, axis=0) & 0xFF).astype(np.uint8).reshape(
                stride
            )
        else:  # Average (3) / Paeth (4): true per-pixel recurrence
            cur = line.astype(np.int32).copy()
            prv = prev.astype(np.int32)
            if f == 3:
                for i in range(stride):
                    left = cur[i - ch] if i >= ch else 0
                    cur[i] = (cur[i] + ((left + prv[i]) >> 1)) & 0xFF
            else:
                for i in range(stride):
                    a = cur[i - ch] if i >= ch else 0
                    b = prv[i]
                    c = prv[i - ch] if i >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    cur[i] = (cur[i] + pred) & 0xFF
            recon[r] = cur.astype(np.uint8)
    if ctype == 3:  # expand palette indices to RGB
        if plte is None or len(plte) % 3:
            return None
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idxs = recon.reshape(-1)
        if int(idxs.max(initial=0)) >= len(pal):
            return None
        return (width, height, 3, pal[idxs].tobytes())
    return (width, height, ch, recon.tobytes())


def encode_png(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 1,
    row_filters: Optional[list[int]] = None,
) -> bytes:
    """Inverse of :func:`decode_png` for gray/gray+alpha/RGB/RGBA samples.

    ``row_filters`` (one of 0..4 per row, default all-0) exists so tests can
    force every filter path through the decoder; the fast production path is
    filter 0 (vectorized).
    """
    ctype = _COLOR_TYPE[channels]
    stride = width * channels
    arr = np.frombuffer(pixels, dtype=np.uint8).reshape(height, stride)
    filters = row_filters or [0] * height
    out = bytearray()
    for r in range(height):
        f = filters[r]
        cur = arr[r].astype(np.int32)
        prev = arr[r - 1].astype(np.int32) if r else np.zeros(stride, np.int32)
        if f == 0:
            raw = cur
        elif f == 1:
            left = np.concatenate([np.zeros(channels, np.int32), cur[:-channels]])
            raw = cur - left
        elif f == 2:
            raw = cur - prev
        elif f == 3:
            left = np.concatenate([np.zeros(channels, np.int32), cur[:-channels]])
            raw = cur - ((left + prev) >> 1)
        elif f == 4:
            left = np.concatenate([np.zeros(channels, np.int32), cur[:-channels]])
            upleft = np.concatenate([np.zeros(channels, np.int32), prev[:-channels]])
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft)
            )
            raw = cur - pred
        else:
            raise ValueError(f"unknown filter {f}")
        out.append(f)
        out.extend((raw & 0xFF).astype(np.uint8).tobytes())
    ihdr = struct.pack(">IIBBBBB", width, height, 8, ctype, 0, 0, 0)
    from wpextract_spark.sources.imagegen import _png_chunk

    return (
        _SIGNATURE
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(out), 6))
        + _png_chunk(b"IEND", b"")
    )


def pixel_stats(payload: bytes) -> Optional[Tuple[int, int, int, int, int]]:
    """(width, height, channels, n_pixels, sum of all samples) or None.

    The integer sum (not a float mean) is what crosses engines: it is exact,
    so a SQL oracle can restate it without representational ambiguity.
    """
    decoded = decode_png(payload)
    if decoded is None:
        return None
    width, height, channels, pixels = decoded
    total = int(np.frombuffer(pixels, dtype=np.uint8).sum(dtype=np.int64))
    return (width, height, channels, width * height, total)


def resize_nearest(payload: bytes, new_w: int, new_h: int) -> Optional[bytes]:
    """Real nearest-neighbor resize for PNG payloads: decode, index-map,
    re-encode (filter 0). Returns None for undecodable input."""
    decoded = decode_png(payload)
    if decoded is None or new_w <= 0 or new_h <= 0:
        return None
    width, height, channels, pixels = decoded
    img = np.frombuffer(pixels, dtype=np.uint8).reshape(height, width, channels)
    rows = (np.arange(new_h) * height) // new_h
    cols = (np.arange(new_w) * width) // new_w
    resized = img[rows][:, cols]
    return encode_png(new_w, new_h, resized.tobytes(), channels)
