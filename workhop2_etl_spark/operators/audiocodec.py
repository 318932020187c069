"""Real audio metadata kernels for the multimodal operators.

Same tiering as operators/imagecodec.py: the RIFF/WAVE container
layout is public and struct-parseable, so WAV payloads get their TRUE
(channels, sample_rate, bits, frames, duration) without any codec
library; anything unrecognized falls back to the deterministic stub
in operators/multimodal.py. Compressed formats (mp3/ogg/flac) fall
to the stub too.
"""

from __future__ import annotations

import struct


def wav_meta(payload: bytes) -> tuple[int, int, int, int, float] | None:
    """(channels, sample_rate, bits_per_sample, n_frames,
    duration_seconds) from a RIFF/WAVE payload, or None when the
    payload is not a parseable PCM WAV. Walks the chunk list (fmt
    can legally come after junk chunks; data length gives frames)."""
    if payload is None:
        return None
    b = bytes(payload)
    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    data_len = None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (clen,) = struct.unpack("<I", b[pos + 4 : pos + 8])
        body = b[pos + 8 : pos + 8 + clen]
        if cid == b"fmt " and len(body) >= 16:
            _, channels, rate, _, block_align, bits = struct.unpack(
                "<HHIIHH", body[:16]
            )
            if channels == 0 or rate == 0 or block_align == 0:
                return None
            fmt = (channels, rate, bits, block_align)
        elif cid == b"data":
            data_len = clen
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data_len is None:
        return None
    channels, rate, bits, block_align = fmt
    n_frames = data_len // block_align
    return (channels, rate, bits, n_frames, round(n_frames / rate, 6))


def wav_encode(
    n_frames: int, channels: int = 1, sample_rate: int = 16000, bits: int = 16
) -> bytes:
    """Minimal PCM WAV writer (silence) — fixture generator for tests
    and the m6 oracle constants; the header layout is the same one
    ``wav_meta`` parses."""
    block_align = channels * bits // 8
    data_len = n_frames * block_align
    hdr = b"RIFF" + struct.pack("<I", 36 + data_len) + b"WAVE"
    hdr += b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, channels, sample_rate,
        sample_rate * block_align, block_align, bits,
    )
    hdr += b"data" + struct.pack("<I", data_len)
    return hdr + b"\x00" * data_len
