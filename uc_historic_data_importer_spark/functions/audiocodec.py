"""Pure-stdlib WAV (RIFF PCM) codec: real audio decode with no native
dependencies, the audio twin of functions/imagecodec.py.

Scope: canonical PCM WAV — RIFF/WAVE container, fmt chunk with
format 1 (integer PCM), 16-bit samples. Everything else raises
UnsupportedAudioError so callers can fall back to stubs. Format layout
is the public Microsoft RIFF/WAVE specification (also implemented by
Python's stdlib ``wave`` module; this parser is chunk-walking ``struct``
reads so malformed containers fail with clear errors instead of
stdlib-internal ones)."""

from __future__ import annotations

import struct


class UnsupportedAudioError(ValueError):
    """Payload is not canonical 16-bit PCM WAV."""


def encode_wav(samples: list[int]) -> bytes:
    """Minimal canonical mono WAV at 8 kHz: RIFF header + fmt (PCM16) +
    data."""
    if any(not -32768 <= s <= 32767 for s in samples):
        raise ValueError("samples must fit int16")
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def sniff(payload: bytes) -> str | None:
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    return None


def decode_wav(payload: bytes) -> tuple[int, int, list[int]]:
    """(sample_rate, n_channels, samples) from canonical PCM16 WAV.

    Walks RIFF chunks (tolerating extra chunks like LIST before data,
    as real encoders emit); rejects non-PCM formats, bit depths != 16,
    and truncated data chunks."""
    if sniff(payload) != "wav":
        raise UnsupportedAudioError("not a RIFF/WAVE container")
    pos, end = 12, len(payload)
    fmt = None
    data = None
    while pos + 8 <= end:
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body_start = pos + 8
        if body_start + size > end:
            raise UnsupportedAudioError(f"truncated chunk {cid!r}")
        if cid == b"fmt ":
            if size < 16:
                raise UnsupportedAudioError("fmt chunk too short")
            fmt = struct.unpack_from("<HHIIHH", payload, body_start)
        elif cid == b"data":
            data = payload[body_start : body_start + size]
        # chunks are word-aligned: odd sizes carry a pad byte
        pos = body_start + size + (size & 1)
    if fmt is None or data is None:
        raise UnsupportedAudioError("missing fmt or data chunk")
    audio_format, n_channels, sample_rate, _rate, _align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise UnsupportedAudioError(
            f"only PCM16 supported (format={audio_format}, bits={bits})"
        )
    if n_channels == 0 or sample_rate == 0:
        raise UnsupportedAudioError("zero channels or sample rate")
    if len(data) % (2 * n_channels):
        raise UnsupportedAudioError("data chunk not frame-aligned")
    samples = list(struct.unpack(f"<{len(data) // 2}h", data))
    return sample_rate, n_channels, samples


def audio_features(
    sample_rate: int, samples: list[int]
) -> tuple[int, float, int]:
    """(duration_ms, rms, peak) — exact integer accumulation, one final
    division, so an external oracle reproduces the doubles bit-for-bit."""
    n = len(samples)
    duration_ms = (n * 1000) // sample_rate
    acc = 0
    peak = 0
    for s in samples:
        acc += s * s
        a = -s if s < 0 else s
        if a > peak:
            peak = a
    rms = (acc / n) ** 0.5 if n else 0.0
    return duration_ms, rms, peak
