"""Pure-Python image metadata sniffing from header bytes.

Reads width/height/mime for PNG, GIF, and JPEG payloads without any codec
library — the container-of-bits formats put dimensions in fixed header
positions (PNG IHDR, GIF logical screen descriptor) or in a marker segment
(JPEG SOFn). Metadata decode needs no PIL, only pixel decode does.

Scale note: the sniffer touches only the first few hundred bytes of a
payload; at crawl scale, pair it with a projection that reads a payload
prefix so the scan never materializes full blobs for metadata-only queries.
"""

from __future__ import annotations

import struct
from typing import Optional, Tuple

#: JPEG start-of-frame markers that carry dimensions (all SOFn except the
#: arithmetic-tables DNL/DHP pseudo-frames C4, C8, CC).
_JPEG_SOF = {
    0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
    0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF,
}


def sniff_image(payload: bytes) -> Optional[Tuple[str, int, int]]:
    """(mime, width, height) from header bytes, or None if not a known image.

    Never raises on truncated/garbage input — returns None instead (the
    quarantine contract of the media operators).
    """
    if payload is None or len(payload) < 10:
        return None
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _sniff_png(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _sniff_gif(payload)
    if payload[:2] == b"\xff\xd8":
        return _sniff_jpeg(payload)
    return None


def _sniff_png(payload: bytes) -> Optional[Tuple[str, int, int]]:
    # First chunk must be IHDR: length(4) type(4) width(4) height(4) ...
    if len(payload) < 24 or payload[12:16] != b"IHDR":
        return None
    width, height = struct.unpack(">II", payload[16:24])
    return ("image/png", width, height)


def _sniff_gif(payload: bytes) -> Optional[Tuple[str, int, int]]:
    if len(payload) < 10:
        return None
    width, height = struct.unpack("<HH", payload[6:10])
    return ("image/gif", width, height)


def _sniff_jpeg(payload: bytes) -> Optional[Tuple[str, int, int]]:
    # Walk marker segments until a SOFn frame header: FF marker len16 ...
    # SOFn payload: precision(1) height(2) width(2).
    pos = 2
    n = len(payload)
    while pos + 4 <= n:
        if payload[pos] != 0xFF:
            return None  # desynchronized
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone markers, no length
            continue
        seg_len = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
        if seg_len < 2:
            return None
        if marker in _JPEG_SOF:
            if pos + 9 > n:
                return None
            height, width = struct.unpack(">HH", payload[pos + 5 : pos + 9])
            return ("image/jpeg", width, height)
        pos += 2 + seg_len
    return None
