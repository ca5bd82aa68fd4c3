"""Pure-Python audio metadata sniffing from header bytes.

Same no-codec pattern as ``kernel/imagemeta.py``: PCM WAV files carry sample
rate / channel / sample-count information in fixed RIFF chunk headers, so
audio *metadata* decode needs no librosa — only sample decode does.
"""

from __future__ import annotations

import struct
from typing import Optional, Tuple


def sniff_wav(payload: bytes) -> Optional[Tuple[str, int, int, int, float]]:
    """(mime, sample_rate, n_channels, n_samples, duration_s) for a PCM WAV.

    Walks RIFF chunks to the ``fmt `` and ``data`` headers; never raises on
    truncated/garbage input — returns None (quarantine contract).
    """
    if payload is None or len(payload) < 12:
        return None
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    pos = 12
    n = len(payload)
    sample_rate = n_channels = block_align = None
    data_size = None
    while pos + 8 <= n:
        chunk_id = payload[pos : pos + 4]
        (chunk_size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = pos + 8
        if chunk_id == b"fmt " and body + 16 <= n:
            audio_fmt, n_channels, sample_rate, _byte_rate, block_align = struct.unpack(
                "<HHIIH", payload[body : body + 14]
            )
            if audio_fmt not in (1, 3):
                # Not PCM / IEEE-float: data_size // block_align would be
                # wrong for compressed formats (a block encodes many
                # samples) — decline rather than report ~4x-off durations.
                return None
        elif chunk_id == b"data":
            data_size = chunk_size
        if sample_rate is not None and data_size is not None:
            break
        pos = body + chunk_size + (chunk_size & 1)  # chunks are word-aligned
    if not sample_rate or not block_align or data_size is None:
        return None
    n_samples = data_size // block_align
    return ("audio/wav", sample_rate, n_channels, n_samples, n_samples / sample_rate)
