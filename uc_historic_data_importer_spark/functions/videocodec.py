"""Pure-stdlib MP4 (ISO BMFF) container metadata codec — the video
member of the imagecodec/audiocodec family.

Scope: REAL container parsing (the public ISO/IEC 14496-12 box
structure): walk the box tree, read mvhd (timescale + duration) and
tkhd (track dims, 16.16 fixed point). Frame DECODE is codec territory
(H.264 et al.) and stays out of scope — at pipeline level the metadata
parse is what drives planning (frame_sample_plan);
the pixel work happens in GPU-adjacent services, not the shuffle tier.

Everything raises UnsupportedVideoError on malformed/foreign payloads
so callers can fall back to stubs."""

from __future__ import annotations

import struct


class UnsupportedVideoError(ValueError):
    """Payload is not a parseable ISO-BMFF (MP4) container."""


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def encode_mp4_meta(width: int, height: int, duration_ms: int) -> bytes:
    """Minimal valid-box-structure MP4: ftyp + moov(mvhd + trak(tkhd)).
    Carries no media data (mdat) — a metadata shell, which is exactly
    what the parser consumes and what tests need deterministic copies
    of. The movie timescale is 600 units per second."""
    duration = (duration_ms * 600) // 1000
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
    mvhd = _box(
        b"mvhd",
        struct.pack(">B3x", 0)  # version 0 + flags
        + struct.pack(">IIII", 0, 0, 600, duration)
        + struct.pack(">i", 0x00010000)  # rate 1.0
        + struct.pack(">hxx", 0x0100)  # volume 1.0 + reserved
        + b"\x00" * 8  # reserved
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24  # predefined
        + struct.pack(">I", 2),  # next track id
    )
    tkhd = _box(
        b"tkhd",
        struct.pack(">B3x", 0)
        + struct.pack(">IIIxxxxI", 0, 0, 1, duration)
        + b"\x00" * 8
        + struct.pack(">hhhxx", 0, 0, 0)
        + struct.pack(">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + struct.pack(">II", width << 16, height << 16),
    )
    trak = _box(b"trak", tkhd)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + moov


def sniff(payload: bytes) -> str | None:
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        return "mp4"
    return None


def _walk(payload: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        (size,) = struct.unpack_from(">I", payload, pos)
        btype = payload[pos + 4 : pos + 8]
        if size == 1:
            raise UnsupportedVideoError("64-bit box sizes unsupported")
        if size < 8 or pos + size > end:
            raise UnsupportedVideoError(f"malformed box {btype!r}")
        yield btype, pos + 8, pos + size
        pos += size


def parse_mp4_meta(payload: bytes) -> tuple[int, int, int]:
    """(width, height, duration_ms) from the moov box tree."""
    if sniff(payload) != "mp4":
        raise UnsupportedVideoError("no ftyp box")
    timescale = duration = None
    width = height = None
    for btype, s, e in _walk(payload, 0, len(payload)):
        if btype != b"moov":
            continue
        for inner, is_, ie in _walk(payload, s, e):
            if inner == b"mvhd":
                if ie - is_ < 20:
                    raise UnsupportedVideoError("mvhd box too short")
                version = payload[is_]
                if version != 0:
                    raise UnsupportedVideoError("mvhd v1 unsupported")
                _c, _m, timescale, duration = struct.unpack_from(
                    ">IIII", payload, is_ + 4
                )
            elif inner == b"trak":
                for t, ts_, te in _walk(payload, is_, ie):
                    if t == b"tkhd" and width is None:
                        if te - ts_ < 8:
                            raise UnsupportedVideoError("tkhd box too short")
                        # v0 tkhd: dims are the last 8 bytes, 16.16 fixed
                        w_fx, h_fx = struct.unpack_from(">II", payload, te - 8)
                        width, height = w_fx >> 16, h_fx >> 16
    if timescale in (None, 0) or duration is None or width is None:
        raise UnsupportedVideoError("missing mvhd/tkhd")
    return width, height, (duration * 1000) // timescale
