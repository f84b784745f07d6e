"""Pure-stdlib image codec: real PNG decode/encode + JPEG/GIF header dims.

The build environment has no PIL/torchvision, but PNG is fully
decodable with stdlib ``zlib`` + ``struct``: parse IHDR for geometry,
inflate the IDAT stream, reverse the per-scanline filters (None/Sub/Up/
Average/Paeth, RFC 2083 §6). This powers a GENUINE decode path for the
multimodal operators (``operators/multimodal.py``) — dims and features
come from actual pixels, not a content-hash stub — while non-PNG
formats keep the deterministic stub fallback.

Scope (raises ``UnsupportedImageError`` outside it, so callers can fall
back): 8-bit samples, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
6 (RGBA), no interlacing. Palette (type 3), 16-bit, and Adam7 are rare
in training corpora after normalization; a production cluster swaps
this module for PIL behind the same function signatures.

The encoder exists for tests and fixtures: it can emit any filter type
per scanline, so decoder unfiltering is exercised against an
independent forward implementation (encode-filter and decode-unfilter
must be exact inverses).
"""

from __future__ import annotations

import struct
import zlib

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


class UnsupportedImageError(ValueError):
    """Payload is not decodable by this codec (fall back to the stub)."""


def sniff(payload: bytes) -> str | None:
    """Best-effort container detection from magic bytes."""
    if payload.startswith(PNG_SIGNATURE):
        return "png"
    if payload.startswith(b"\xff\xd8\xff"):
        return "jpeg"
    if payload.startswith((b"GIF87a", b"GIF89a")):
        return "gif"
    return None


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a PNG payload -> (width, height, channels, raw pixels).

    Pixels are row-major, ``channels`` interleaved samples per pixel,
    8 bits per sample. Raises UnsupportedImageError for formats outside
    the supported scope and ValueError for corrupt data."""
    if not payload.startswith(PNG_SIGNATURE):
        raise UnsupportedImageError("not a PNG payload")
    pos = len(PNG_SIGNATURE)
    width = height = -1
    bit_depth = color_type = interlace = -1
    idat = bytearray()
    seen_iend = False
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length:
            raise ValueError("truncated PNG chunk")
        pos += 12 + length  # length + type + data + crc (crc not verified)
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            seen_iend = True
            break
    if width < 0:
        raise ValueError("PNG missing IHDR")
    if not seen_iend:
        raise ValueError("PNG missing IEND")
    if bit_depth != 8:
        raise UnsupportedImageError(f"unsupported bit depth {bit_depth}")
    if color_type not in _CHANNELS:
        raise UnsupportedImageError(f"unsupported color type {color_type}")
    if interlace != 0:
        raise UnsupportedImageError("interlaced PNG not supported")
    channels = _CHANNELS[color_type]
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if len(raw) != height * (stride + 1):
        raise ValueError(
            f"decompressed size {len(raw)} != expected {height * (stride + 1)}"
        )
    out = bytearray(height * stride)
    prev_start = -1
    for y in range(height):
        fpos = y * (stride + 1)
        ftype = raw[fpos]
        line = raw[fpos + 1 : fpos + 1 + stride]
        ostart = y * stride
        if ftype == 0:  # None
            out[ostart : ostart + stride] = line
        elif ftype == 1:  # Sub
            for i in range(stride):
                left = out[ostart + i - channels] if i >= channels else 0
                out[ostart + i] = (line[i] + left) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                up = out[prev_start + i] if y > 0 else 0
                out[ostart + i] = (line[i] + up) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = out[ostart + i - channels] if i >= channels else 0
                up = out[prev_start + i] if y > 0 else 0
                out[ostart + i] = (line[i] + ((left + up) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = out[ostart + i - channels] if i >= channels else 0
                up = out[prev_start + i] if y > 0 else 0
                ul = out[prev_start + i - channels] if (y > 0 and i >= channels) else 0
                out[ostart + i] = (line[i] + _paeth(left, up, ul)) & 0xFF
        else:
            raise ValueError(f"invalid PNG filter type {ftype}")
        prev_start = ostart
    return width, height, channels, bytes(out)


_COLOR_TYPE = {1: 0, 3: 2, 2: 4, 4: 6}


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(
    width: int,
    height: int,
    channels: int,
    pixels: bytes,
    filter_type: int = 0,
) -> bytes:
    """Encode raw 8-bit pixels as a valid PNG.

    ``filter_type`` selects the per-scanline filter (0-4) so tests can
    exercise every decoder unfiltering branch; 0 is the fast default."""
    if channels not in _COLOR_TYPE:
        raise ValueError(f"unsupported channel count {channels}")
    if not 0 <= filter_type <= 4:
        raise ValueError(f"invalid filter type {filter_type}")
    stride = width * channels
    if len(pixels) != height * stride:
        raise ValueError("pixel buffer does not match dimensions")
    scanlines = bytearray()
    for y in range(height):
        row = pixels[y * stride : (y + 1) * stride]
        prev = pixels[(y - 1) * stride : y * stride] if y > 0 else bytes(stride)
        scanlines.append(filter_type)
        if filter_type == 0:
            scanlines += row
        else:
            for i in range(stride):
                left = row[i - channels] if i >= channels else 0
                up = prev[i]
                ul = prev[i - channels] if i >= channels else 0
                if filter_type == 1:
                    pred = left
                elif filter_type == 2:
                    pred = up
                elif filter_type == 3:
                    pred = (left + up) >> 1
                else:
                    pred = _paeth(left, up, ul)
                scanlines.append((row[i] - pred) & 0xFF)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, _COLOR_TYPE[channels], 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(bytes(scanlines), 6))
        + _chunk(b"IEND", b"")
    )


def jpeg_dims(payload: bytes) -> tuple[int, int]:
    """(width, height) from JPEG SOF markers — header-only, no decode."""
    if not payload.startswith(b"\xff\xd8"):
        raise UnsupportedImageError("not a JPEG payload")
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            pos += 1
            continue
        marker = payload[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        # SOF0-SOF15 minus DHT(C4)/DAC(CC): frame header carries dims
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 9 > len(payload):
                break
            height, width = struct.unpack_from(">HH", payload, pos + 5)
            return width, height
        pos += 2 + seglen
    raise ValueError("JPEG frame header not found")


def gif_dims(payload: bytes) -> tuple[int, int]:
    """(width, height) from the GIF logical screen descriptor."""
    if not payload.startswith((b"GIF87a", b"GIF89a")):
        raise UnsupportedImageError("not a GIF payload")
    if len(payload) < 10:
        raise ValueError("truncated GIF header")
    width, height = struct.unpack_from("<HH", payload, 6)
    return width, height


def luminance_histogram(channels: int, pixels: bytes) -> list[float]:
    """Normalized luminance histogram — the codec-backed feature vector.

    Gray uses the sample directly; RGB(A) uses integer Rec.601 luma.
    Returns 8 bin fractions summing to ~1, each rounded to 6 places
    (deterministic across platforms: pure integer math until the final
    division)."""
    counts = [0] * 8
    n = len(pixels) // channels
    if n == 0:
        raise ValueError("empty pixel buffer")
    for p in range(0, len(pixels), channels):
        if channels <= 2:
            luma = pixels[p]
        else:
            # integer Rec.601: (299 R + 587 G + 114 B) / 1000
            luma = (
                299 * pixels[p] + 587 * pixels[p + 1] + 114 * pixels[p + 2]
            ) // 1000
        counts[luma * 8 // 256] += 1
    return [round(c / n, 6) for c in counts]


def resize_nearest(width: int, height: int, channels: int, pixels: bytes) -> bytes:
    """Nearest-neighbor resample of raw interleaved pixels to 8x8."""
    out = bytearray(64 * channels)
    for y in range(8):
        sy = y * height // 8
        srow = sy * width * channels
        orow = y * 8 * channels
        for x in range(8):
            sx = x * width // 8
            s = srow + sx * channels
            o = orow + x * channels
            out[o : o + channels] = pixels[s : s + channels]
    return bytes(out)


def ahash(width: int, height: int, channels: int, pixels: bytes) -> int:
    """64-bit average hash (aHash) of decoded pixels — the classic
    perceptual near-dup key (public technique: shrink to 8x8 luminance,
    bit i = pixel i brighter than the mean). Robust to re-encoding and
    small noise, cheap enough for corpus-wide exact groupBy; hamming
    bands layer on top the same way SimHash bands do.

    Mean comparison uses exact integer arithmetic (sum vs 64*value), so
    the hash is bit-stable across platforms.

    The result is folded into SIGNED 64-bit range: bit 63 is set
    whenever the bottom-right thumbnail pixel is brighter than the
    mean, and an unfolded value >= 2^63 does not fit Spark's LongType
    (Arrow's uint64->int64 cast raises and kills the whole job)."""
    small = resize_nearest(width, height, channels, pixels)
    if channels == 1:
        lum = list(small)
    else:
        lum = []
        for i in range(64):
            base = i * channels
            if channels >= 3:
                # integer BT.601-ish weights, denominator 1000
                lum.append(
                    (
                        299 * small[base]
                        + 587 * small[base + 1]
                        + 114 * small[base + 2]
                    )
                    // 1000
                )
            else:  # gray + alpha
                lum.append(small[base])
    total = sum(lum)
    h = 0
    for i, v in enumerate(lum):
        if v * 64 > total:
            h |= 1 << i
    return h - (1 << 64) if h >= (1 << 63) else h


# --------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81 / ISO 10918-1), pure stdlib.
#
# Decoder scope: baseline + extended sequential Huffman (SOF0/SOF1),
# 8-bit samples, 1 or 3 components with NO chroma subsampling (4:4:4),
# optional restart intervals. Progressive (SOF2), arithmetic coding,
# 12-bit, and subsampled scans raise UnsupportedImageError so callers
# fall back to header-only dims + the stub feature path.
#
# The encoder exists for tests and fixtures (grayscale, one scan). It
# writes its OWN valid canonical Huffman tables in the DHT segments —
# the decoder reads whatever tables the stream declares, so fixture
# streams remain fully standard baseline JPEGs decodable by any reader.
# All rounding is floor(x + 0.5), mirrored literally by the SQL oracles.

_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
)
# one C-level gather replacing the per-block 64-element listcomp in
# _encode_block (same values, same order)
_ZIGZAG_GET = __import__("operator").itemgetter(*_ZIGZAG)

# Annex K.1 luminance quantization table (natural order)
STD_LUM_QT = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)

import math as _math

_COS = [
    [_math.cos((2 * x + 1) * u * _math.pi / 16.0) for u in range(8)]
    for x in range(8)
]
_C = [1.0 / _math.sqrt(2.0)] + [1.0] * 7
# C(u)*C(v) product table with the DC entry pinned to EXACTLY 0.5:
# (1/sqrt2)**2 in floats is 0.5000000000000001, which pushes a uniform
# block's S00 off the exact .5 quantization boundary (floor(x+0.5)
# then rounds DOWN where exact arithmetic — and the SQL oracle — rounds
# up). With the exact 0.5, the whole DC path is power-of-two arithmetic
# and bit-exact for integer pixel sums.
_CC = [[_C[u] * _C[v] for v in range(8)] for u in range(8)]
_CC[0][0] = 0.5


def _fdct(block: list[float]) -> list[float]:
    """Forward 8x8 DCT-II (T.81 A.3.3), direct form."""
    out = [0.0] * 64
    for u in range(8):
        ccu = _CC[u]
        for v in range(8):
            s = 0.0
            for x in range(8):
                cxu = _COS[x][u]
                for y in range(8):
                    s += block[x * 8 + y] * cxu * _COS[y][v]
            out[u * 8 + v] = 0.25 * ccu[v] * s
    return out


def _idct(coef: list[float]) -> list[float]:
    """Inverse 8x8 DCT (T.81 A.3.3), direct form."""
    out = [0.0] * 64
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                cxu = _COS[x][u]
                ccu = _CC[u]
                for v in range(8):
                    s += ccu[v] * coef[u * 8 + v] * cxu * _COS[y][v]
            out[x * 8 + y] = 0.25 * s
    return out


# Optional vectorized DCT fast path. numpy is NOT required by this
# module (the scalar T.81 direct forms above are the reference and the
# fallback), but when it is importable the per-block Python loops — 86%
# of a profiled encode+decode — batch across all blocks of an image.
# BIT-IDENTICAL by construction, not by tolerance: every per-term
# multiply keeps the scalar grouping (((CC*coef)*cos_x)*cos_y), every
# accumulator adds terms in the same u-major/v-minor (IDCT) or
# x-major/y-minor (FDCT) order, and the all-zero-input skip only
# removes ±0.0 additions, which can never change an IEEE-754 sum whose
# accumulator starts at +0.0 (+0.0 + -0.0 = +0.0, and a +0.0/-0.0 add
# leaves any other value's bits untouched). Parity is pinned
# exhaustively in tests/test_imagecodec.py::TestDctVectorParity.
try:  # pragma: no cover - import guard
    import numpy as _np
except ImportError:  # pragma: no cover - numpy absent
    _np = None  # type: ignore[assignment]

if _np is not None:
    _COS_NP = _np.array(_COS)  # [x][u] (== [y][v] — same table)
    _CC_NP = _np.array(_CC)  # [u][v]
    _QUARTER_CC_NP = 0.25 * _CC_NP  # scalar folds (0.25*ccu[v]) first


def _fdct_blocks(blocks):
    """Batched _fdct: (nb, 64) float64 level-shifted samples ->
    (nb, 64) coefficients, bit-identical to looping _fdct per block."""
    nb = blocks.shape[0]
    B = blocks.reshape(nb, 8, 8)
    acc = _np.zeros((nb, 8, 8))
    if not B.any():  # all-zero plane (e.g. uniform gray 128) — acc stays 0
        return (_QUARTER_CC_NP[None, :, :] * acc).reshape(nb, 64)
    if nb >= 32:
        # large batches (r15 opt round): the t1-hoisted form below
        # allocates (nb,8,8,8) temporaries per x, which fall out of
        # cache past a few hundred blocks (measured 18 -> 71 us/block
        # from nb=512 to nb=4096). This form keeps every temporary at
        # (nb,8,8) with the SAME per-term grouping ((B*cxu)*cyv) and
        # the same x-major/y-minor accumulation order, so the sums are
        # bit-identical (parity pinned in TestDctVectorParity).
        for x in range(8):
            t1x = B[:, x, :, None] * _COS_NP[x][None, None, :]
            for y in range(8):
                acc += t1x[:, y, :, None] * _COS_NP[y][None, None, :]
        return (_QUARTER_CC_NP[None, :, :] * acc).reshape(nb, 64)
    # both multiplies hoisted out of the accumulation loop; the 64
    # per-term adds stay explicit (and x-major/y-minor) because numpy's
    # pairwise/unrolled reductions would change the summation order
    t1 = B[:, :, :, None] * _COS_NP[None, :, None, :]  # [nb,x,y,u] block*cxu
    for x in range(8):
        t2 = t1[:, x][:, :, :, None] * _COS_NP[None, :, None, :]
        # t2[nb,y,u,v] = (block*cxu)*COS[y][v]
        for y in range(8):
            acc += t2[:, y]
    return (_QUARTER_CC_NP[None, :, :] * acc).reshape(nb, 64)


def _idct_blocks(coefs):
    """Batched _idct: (nb, 64) float64 dequantized coefficients ->
    (nb, 8, 8) samples, bit-identical to looping _idct per block."""
    nb = coefs.shape[0]
    acc = _np.zeros((nb, 8, 8))
    nz = coefs.any(axis=0)  # one vectorized pre-check, not 64 .any() calls
    for u in range(8):
        cos_xu = _COS_NP[:, u]  # over x
        for v in range(8):
            if not nz[u * 8 + v]:
                continue  # ±0.0 terms — bit-safe to skip (see above)
            t1 = _CC_NP[u, v] * coefs[:, u * 8 + v]  # (ccu[v]*coef)
            t2 = t1[:, None] * cos_xu[None, :]  # *cxu, per x
            acc += t2[:, :, None] * _COS_NP[:, v][None, None, :]  # *COS[y][v]
    return 0.25 * acc


def _round_half_up(x: float) -> int:
    return int(_math.floor(x + 0.5))


# encoder Huffman tables: canonical codes, declared in the DHT segment.
# DC: the 12 size categories, all 4-bit codes (Kraft 12/16 < 1).
# AC: EOB, ZRL and every (run, size) r in 0..15, s in 1..10 — 162
# symbols, all 9-bit codes (Kraft 162/512 < 1; all-ones code unused).
_ENC_DC_BITS = [0, 0, 0, 12] + [0] * 12
_ENC_DC_VALS = list(range(12))
_ENC_AC_BITS = [0] * 8 + [162] + [0] * 7
_ENC_AC_VALS = [0x00, 0xF0] + [
    (r << 4) | s for r in range(16) for s in range(1, 11)
]


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per the T.81 C.2 canonical assignment."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


# the encoder's tables are fixed — build the code maps once, not per call
_ENC_DC_CODES = _canonical_codes(_ENC_DC_BITS, _ENC_DC_VALS)
_ENC_AC_CODES = _canonical_codes(_ENC_AC_BITS, _ENC_AC_VALS)


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._n += length
        while self._n >= 8:
            self._n -= 8
            b = (self._acc >> self._n) & 0xFF
            self.out.append(b)
            if b == 0xFF:  # byte stuffing
                self.out.append(0x00)
        self._acc &= (1 << self._n) - 1

    def flush(self) -> None:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)


def _category(v: int) -> int:
    return abs(v).bit_length()


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _quantized_blocks(
    width: int, height: int, plane: bytes, qt: tuple[int, ...]
):
    """Yield every 8x8 block of one sample plane, level-shifted, FDCT'd,
    and quantized (floor(coef/qt + 0.5)) — in by-major/bx-minor block
    order with edge blocks replicating the last row/column. A GENERATOR
    so the encoders stay O(chunk) in memory like the old streaming
    per-block loop (and the decoder's _IDCT_CHUNK): the numpy staging
    keeps only a uint8 copy of the padded plane plus one float64 chunk,
    never the whole plane's quantized coefficients. The numpy path pads
    with mode='edge' (same replication as the min() clamp) and batches
    the FDCT per chunk; values are bit-identical to the scalar fallback
    (see _fdct_blocks)."""
    if _np is not None:
        img = _np.frombuffer(plane, dtype=_np.uint8).reshape(height, width)
        img = _np.pad(
            img, ((0, (-height) % 8), (0, (-width) % 8)), mode="edge"
        )
        h8, w8 = img.shape
        # uint8 block staging (1 B/pixel); float64 + the FDCT's hoisted
        # t1 intermediate (64 B/pixel) exist only one chunk at a time
        bl_u8 = (
            img.reshape(h8 // 8, 8, w8 // 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(-1, 64)
        )
        qtv = _np.asarray(qt, dtype=_np.float64)
        for i in range(0, bl_u8.shape[0], _IDCT_CHUNK):
            blocks = bl_u8[i : i + _IDCT_CHUNK].astype(_np.float64) - 128.0
            coefs = _fdct_blocks(blocks)
            yield from (
                _np.floor(coefs / qtv[None, :] + 0.5)
                .astype(_np.int64)
                .tolist()
            )
        return
    for by in range(0, height, 8):
        for bx in range(0, width, 8):
            block = [0.0] * 64
            for x in range(8):
                sy = min(by + x, height - 1)
                for y in range(8):
                    sx = min(bx + y, width - 1)
                    block[x * 8 + y] = plane[sy * width + sx] - 128.0
            coef = _fdct(block)
            yield [_round_half_up(coef[i] / qt[i]) for i in range(64)]


def _encode_block(
    bw: "_BitWriter",
    q: list[int],
    pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    """Entropy-encode one quantized block (DC DPCM + AC run-length in
    zigzag order); returns the new DC predictor."""
    diff = q[0] - pred
    cat = _category(diff)
    code, ln = dc_codes[cat]
    bw.write(code, ln)
    if cat:
        bw.write(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
    run = 0
    zz = _ZIGZAG_GET(q)
    last_nz = 0
    for i in range(63, 0, -1):
        if zz[i]:
            last_nz = i
            break
    for i in range(1, last_nz + 1):
        v = zz[i]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, ln = ac_codes[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        cat = _category(v)
        code, ln = ac_codes[(run << 4) | cat]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << cat) - 1, cat)
        run = 0
    if last_nz < 63:
        code, ln = ac_codes[0x00]  # EOB
        bw.write(code, ln)
    return q[0]


def _wrap_gray_scan(
    width: int, height: int, qblocks, qt_zz: bytes
) -> bytes:
    """Entropy-encode pre-quantized blocks (by-major/bx-minor order) and
    wrap them in the single-component baseline headers encode_jpeg_gray
    declares."""
    bw = _BitWriter()
    pred = 0
    for q in qblocks:
        pred = _encode_block(bw, q, pred, _ENC_DC_CODES, _ENC_AC_CODES)
    bw.flush()

    out = bytearray(b"\xff\xd8")  # SOI
    out += _seg(0xDB, b"\x00" + qt_zz)  # DQT, Pq=0 Tq=0
    out += _seg(
        0xC0,
        struct.pack(">BHHB", 8, height, width, 1) + bytes((1, 0x11, 0)),
    )  # SOF0: 8-bit, 1 component, 1x1 sampling, qtable 0
    out += _seg(
        0xC4, b"\x00" + bytes(_ENC_DC_BITS) + bytes(_ENC_DC_VALS)
    )  # DHT DC class 0 id 0
    out += _seg(
        0xC4, b"\x10" + bytes(_ENC_AC_BITS) + bytes(_ENC_AC_VALS)
    )  # DHT AC class 1 id 0
    out += _seg(0xDA, bytes((1, 1, 0x00, 0, 63, 0)))  # SOS
    out += bw.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def encode_jpeg_gray(width: int, height: int, pixels: bytes) -> bytes:
    """Encode 8-bit grayscale pixels as a baseline JPEG (one scan, one
    component, declared quant + Huffman tables, byte stuffing). Edge
    blocks replicate the last row/column (a uniform image therefore
    stays uniform per block, which the SQL oracle exploits)."""
    if width <= 0 or height <= 0 or len(pixels) != width * height:
        raise ValueError("bad grayscale buffer")
    qt = STD_LUM_QT
    qt_zz = bytes(qt[_ZIGZAG[i]] for i in range(64))
    return _wrap_gray_scan(
        width, height, _quantized_blocks(width, height, pixels, qt), qt_zz
    )


# blocks per FDCT + quantize pass of encode_jpeg_gray_batch: the
# large-batch _fdct_blocks path is fastest when its (nb,8,8) temporaries
# stay cache-resident (measured 10.8 us/block at 512 vs 71 at 4096)
_FDCT_CHUNK = 512


def encode_jpeg_gray_batch(items) -> list[bytes]:
    """encode_jpeg_gray over many (width, height, pixels) images in one
    call, with one FDCT + quantize pass over the concatenated blocks of
    many images (r15 opt round): at the media fixtures' tiny dims
    (<= 4 blocks/image) the per-image cost was numpy DISPATCH — ~80
    small-array ops inside _fdct_blocks plus np.pad staging — not
    arithmetic. Batching amortizes those dispatches across every image
    of an Arrow batch. BIT-IDENTICAL to the per-image loop: edge
    replication via clamped row/column gather is the same min() rule
    np.pad(mode='edge') applies, _fdct_blocks is per-block independent
    (its all-zero shortcut only skips ±0.0 additions), and quantize is
    elementwise — so block values cannot depend on which images share a
    batch or where the chunk boundaries fall. Entropy coding stays per
    image (DC prediction resets per scan). Parity is pinned in
    tests/test_imagecodec.py.

    Memory: images are staged in passes of at most _FDCT_CHUNK blocks
    (an image with more blocks is a pass of its own), and each pass's
    quantized blocks are entropy-coded before the next is staged, so the
    peak is one pass — about 2 KB of Python ints per block — not the
    whole batch."""
    items = list(items)
    for width, height, pixels in items:
        if width <= 0 or height <= 0 or len(pixels) != width * height:
            raise ValueError("bad grayscale buffer")
    qt = STD_LUM_QT
    qt_zz = bytes(qt[_ZIGZAG[i]] for i in range(64))
    if _np is None or not items:
        return [
            _wrap_gray_scan(
                w, h, _quantized_blocks(w, h, p, qt), qt_zz
            )
            for w, h, p in items
        ]
    qtv = _np.asarray(qt, dtype=_np.float64)
    out: list[bytes] = []
    group: list = []  # (width, height, uint8 blocks) of the next pass

    def flush() -> None:
        cat = _np.concatenate([bl for _, _, bl in group])
        q: list[list[int]] = []
        for i in range(0, cat.shape[0], _FDCT_CHUNK):
            blocks = cat[i : i + _FDCT_CHUNK].astype(_np.float64) - 128.0
            coefs = _fdct_blocks(blocks)
            q.extend(
                _np.floor(coefs / qtv[None, :] + 0.5).astype(_np.int64).tolist()
            )
        pos = 0
        for width, height, bl in group:
            nb = bl.shape[0]
            out.append(_wrap_gray_scan(width, height, q[pos : pos + nb], qt_zz))
            pos += nb
        group.clear()

    staged = 0
    for width, height, pixels in items:
        img = _np.frombuffer(pixels, dtype=_np.uint8).reshape(height, width)
        if height % 8 or width % 8:
            h8, w8 = height + (-height) % 8, width + (-width) % 8
            img = img[
                _np.minimum(_np.arange(h8), height - 1)[:, None],
                _np.minimum(_np.arange(w8), width - 1)[None, :],
            ]
        else:
            h8, w8 = height, width
        bl = (
            img.reshape(h8 // 8, 8, w8 // 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(-1, 64)
        )
        if group and staged + bl.shape[0] > _FDCT_CHUNK:
            flush()
            staged = 0
        group.append((width, height, bl))
        staged += bl.shape[0]
    flush()
    return out


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; stops at any
    real marker.

    r11 rework (same contract, ~10x fewer Python ops per symbol): the
    entropy stream is pre-scanned ONE RESTART SEGMENT at a time into an
    unstuffed bytes buffer (C-level find/replace), and bits are served
    from a multi-byte accumulator window refilled 4 bytes at once.
    Error parity with the per-byte reader is exact because the window
    only ever holds bytes of the CURRENT segment: consuming past the
    segment's end raises _MarkerInData once then 'read past marker'
    (marker-terminated) or 'truncated entropy data' (EOF-terminated),
    at the same consumption points as the lazy per-byte fill did; and
    align_and_expect_rst derives the original's source-byte checks from
    the segment view (mid-segment bytes -> 'missing restart marker' for
    a data byte, 'unexpected restart marker' for a stuffed 0xFF, since
    the source there is FF 00)."""

    __slots__ = (
        "data", "pos", "marker", "_acc", "_n", "_seg", "_segpos",
        "_term_marker", "_term_eof", "_marker_seen",
    )

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos  # source position of the segment terminator
        self.marker: int | None = None
        self._acc = 0
        self._n = 0
        self._parse_segment(pos)

    def _parse_segment(self, start: int) -> None:
        """Scan from `start` to the next real marker (or EOF), unstuff
        FF00 -> FF, and load the segment buffer."""
        data = self.data
        i = start
        end = len(data)
        term_marker: int | None = None
        term_eof = False
        while True:
            j = data.find(b"\xff", i)
            if j == -1:
                term_eof = True
                j = end
                break
            if j + 1 >= end:
                # FF as the last byte: the per-byte reader set
                # marker = None and raised _MarkerInData
                term_marker = None
                break
            nxt = data[j + 1]
            if nxt == 0x00:
                i = j + 2
                continue
            term_marker = nxt
            break
        self._seg = data[start:j].replace(b"\xff\x00", b"\xff")
        self._segpos = 0
        self._term_marker = term_marker
        self._term_eof = term_eof
        self._marker_seen = False
        self.pos = j  # source index of the FF terminator (or EOF)

    def _segment_exhausted(self):
        """Raise exactly what the lazy per-byte fill raised at this
        consumption point."""
        if self._term_eof:
            raise UnsupportedImageError("truncated entropy data")
        if self._marker_seen:
            raise UnsupportedImageError("read past marker in entropy data")
        self._marker_seen = True
        self.marker = self._term_marker
        raise _MarkerInData()

    def _refill(self) -> None:
        """Pull up to 8 segment bytes into the window (no error: caller
        checks _n afterwards)."""
        seg, sp = self._seg, self._segpos
        take = len(seg) - sp
        if take > 8:
            take = 8
        if take > 0:
            # mask consumed high bits off BEFORE shifting: an unmasked
            # accumulator keeps every consumed byte alive as a growing
            # bignum — the exact quadratic-decode bug the old per-byte
            # reader fixed by replacing instead of shifting
            self._acc = (
                (self._acc & ((1 << self._n) - 1)) << (8 * take)
            ) | int.from_bytes(seg[sp : sp + take], "big")
            self._n += 8 * take
            self._segpos = sp + take

    def bit(self) -> int:
        if self._n == 0:
            self._refill()
            if self._n == 0:
                self._segment_exhausted()
        self._n -= 1
        return (self._acc >> self._n) & 1

    def bits(self, n: int) -> int:
        while self._n < n:
            before = self._n
            self._refill()
            if self._n == before:
                # fewer than n bits remain: consume what's buffered
                # (the per-byte reader consumed them before failing,
                # but the failure aborts the decode, so state after
                # the raise is unobservable) and raise at the same
                # consumption point
                self._segment_exhausted()
        self._n -= n
        return (self._acc >> self._n) & ((1 << n) - 1)

    def peek16(self) -> int:
        """Next 16 bits zero-padded past the segment end (no error —
        read_code checks the matched length against _n)."""
        if self._n < 16:
            self._refill()
        n = self._n
        if n >= 16:
            return (self._acc >> (n - 16)) & 0xFFFF
        return (self._acc << (16 - n)) & 0xFFFF

    def read_code(self, table: "_HuffTable") -> int:
        """Huffman-decode one symbol via the 16-bit fast table
        (peek16 inlined -- this runs twice per coefficient)."""
        n = self._n
        if n < 16:
            self._refill()
            n = self._n
        if n >= 16:
            idx = (self._acc >> (n - 16)) & 0xFFFF
        else:
            idx = (self._acc << (16 - n)) & 0xFFFF
        e = table.fast[idx]
        if e >= 0:
            length = e & 31
            if length <= self._n:
                self._n -= length
                return e >> 5
            # the matched code needs bits past the segment end; the
            # per-bit reader raised on the first missing bit
            self._n = 0
            self._segment_exhausted()
        # no 16-bit prefix matches any code. Two cases, same order the
        # per-bit reader checked them in: if the real (un-padded) bits
        # run out before 16, it raised marker/truncation on the missing
        # bit; only a genuine 16-bit mismatch is 'invalid Huffman code'
        if self._n < 16:
            self._n = 0
            self._segment_exhausted()
        raise UnsupportedImageError("invalid Huffman code")

    def align_and_expect_rst(self, n: int) -> None:
        """Byte-align and consume the RSTn marker at a restart point."""
        # drop the remainder of the current partial byte only (the
        # per-byte reader held at most one byte in its accumulator)
        self._n -= self._n & 7
        if self._n:
            # whole unconsumed bytes remain mid-segment: the source
            # there is a data byte (or FF 00 for an unstuffed FF) —
            # reproduce the per-byte reader's direct source checks
            nxt = (self._acc >> (self._n - 8)) & 0xFF
            self._acc = 0
            self._n = 0
            if nxt != 0xFF:
                raise UnsupportedImageError("missing restart marker")
            raise UnsupportedImageError("unexpected restart marker")
        self._acc = 0
        if self._segpos < len(self._seg):
            nxt = self._seg[self._segpos]
            if nxt != 0xFF:
                raise UnsupportedImageError("missing restart marker")
            raise UnsupportedImageError("unexpected restart marker")
        # at the segment terminator
        if self._term_eof or self._term_marker is None:
            raise UnsupportedImageError("missing restart marker")
        if self._term_marker != 0xD0 + (n & 7):
            raise UnsupportedImageError("unexpected restart marker")
        self._parse_segment(self.pos + 2)


class _MarkerInData(Exception):
    pass


# fast-table memo: baseline JPEG tables repeat across a corpus (most
# encoders ship the Annex K tables), so the 2^16-entry expansion is
# built once per distinct (bits, vals) pair, not once per image.
# FIFO-bounded so adversarial inputs with per-image tables cannot grow
# it without bound.
_HUFF_FAST_CACHE: dict[tuple[bytes, bytes], list[int]] = {}
_HUFF_FAST_CACHE_MAX = 64


def _build_fast_table(bits: bytes, vals: bytes) -> list[int]:
    """65536-entry lookup: index = next 16 bits (zero-padded), value =
    (symbol << 5) | code_length, or -1 for no match. A code of length
    L owns the 2^(16-L) entries sharing its prefix."""
    fast = [-1] * 65536
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            # CORRUPT-TABLE PARITY: a non-prefix-free (overfull) DHT can
            # (a) grow `code` past the length's bit capacity — such
            # codes were unreachable in the per-bit reader (reading
            # `length` bits can never yield >= 2^length), so skip them —
            # and (b) overlap a shorter code's slots — the per-bit
            # reader checked lengths ascending, so the SHORTEST match
            # won; keep that by never overwriting an owned block
            # (ranges are power-of-two aligned: if this block's first
            # slot is owned by a shorter code, the whole block is).
            if code < (1 << length):
                packed = (vals[k] << 5) | length
                start = code << (16 - length)
                if fast[start] == -1:
                    fast[start : start + (1 << (16 - length))] = [
                        packed
                    ] * (1 << (16 - length))
            code += 1
            k += 1
        code <<= 1
    return fast


class _HuffTable:
    def __init__(self, bits: bytes, vals: bytes) -> None:
        key = (bytes(bits[:16]), bytes(vals))
        fast = _HUFF_FAST_CACHE.get(key)
        if fast is None:
            if len(_HUFF_FAST_CACHE) >= _HUFF_FAST_CACHE_MAX:
                _HUFF_FAST_CACHE.pop(next(iter(_HUFF_FAST_CACHE)))
            fast = _build_fast_table(bits, vals)
            _HUFF_FAST_CACHE[key] = fast
        self.fast = fast

    def decode(self, br: "_BitReader") -> int:
        return br.read_code(self)


def decode_jpeg(payload: bytes) -> tuple[int, int, int, bytes]:
    """Decode a baseline JPEG -> (width, height, channels, raw pixels).

    Real entropy decode: DQT/DHT from the stream, Huffman DC/AC, DPCM
    DC prediction, dequantization, IDCT, level shift; YCbCr -> RGB for
    3-component scans (JFIF full-range Rec.601). Raises
    UnsupportedImageError for progressive/subsampled/12-bit streams."""
    if not payload.startswith(b"\xff\xd8"):
        raise UnsupportedImageError("not a JPEG payload")
    qts: dict[int, list[int]] = {}
    huffs: dict[tuple[int, int], _HuffTable] = {}
    comps: list[tuple[int, int, int, int]] = []  # id, h, v, tq
    width = height = 0
    dri = 0
    pos = 2
    data = payload
    while pos + 4 <= len(data):
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a
        # marker — skip them so JPEGs from padding encoders still parse
        while pos + 1 < len(data) and data[pos] == 0xFF and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 4 > len(data):
            # the skip consumed the outer guard's headroom: a padded
            # then truncated stream must fail as unsupported, not leak
            # IndexError/struct.error past extract_features' ValueError
            # contract
            raise UnsupportedImageError("truncated after fill bytes")
        if data[pos] != 0xFF:
            raise UnsupportedImageError("marker sync lost")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        seglen = struct.unpack_from(">H", data, pos + 2)[0]
        body = data[pos + 4 : pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT (possibly several tables)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                if pq != 0:
                    raise UnsupportedImageError("16-bit quant table")
                zz = body[i + 1 : i + 65]
                if len(zz) < 64:
                    raise UnsupportedImageError("truncated quant table")
                tab = [0] * 64
                for j in range(64):
                    tab[_ZIGZAG[j]] = zz[j]
                qts[tq] = tab
                i += 65
        elif marker == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                bits = body[i + 1 : i + 17]
                if len(bits) < 16:
                    raise UnsupportedImageError("truncated Huffman table")
                n = sum(bits)
                vals = body[i + 17 : i + 17 + n]
                if len(vals) < n:
                    raise UnsupportedImageError("truncated Huffman table")
                huffs[(tc, th)] = _HuffTable(bits, vals)
                i += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0/1: sequential Huffman
            if len(body) < 6:
                raise UnsupportedImageError("truncated SOF segment")
            prec = body[0]
            if prec != 8:
                raise UnsupportedImageError("non-8-bit precision")
            height, width = struct.unpack_from(">HH", body, 1)
            nc = body[5]
            if nc not in (1, 3):
                raise UnsupportedImageError(f"{nc}-component JPEG")
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                h, v = hv >> 4, hv & 15
                if (h, v) != (1, 1):
                    raise UnsupportedImageError("subsampled JPEG")
                comps.append((cid, h, v, tq))
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise UnsupportedImageError("non-baseline JPEG (SOF%d)" % (marker - 0xC0))
        elif marker == 0xDD:  # DRI
            dri = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if not comps or width == 0:
                raise UnsupportedImageError("SOS before SOF")
            if not body:
                raise UnsupportedImageError("empty SOS segment")
            ns = body[0]
            if len(body) < 1 + 2 * ns:
                raise UnsupportedImageError("truncated SOS segment")
            scan: list[tuple[int, _HuffTable, _HuffTable, list[int]]] = []
            for s in range(ns):
                cs, tdta = body[1 + 2 * s], body[2 + 2 * s]
                td, ta = tdta >> 4, tdta & 15
                # explicit lookup, not next(...): a SOS naming a component
                # absent from SOF would raise StopIteration, which is NOT
                # a _DECODE_ERRORS member — one corrupt-but-signature-
                # valid payload would kill the whole Spark task instead
                # of falling back to the stub
                matches = [c for c in comps if c[0] == cs]
                if not matches:
                    raise UnsupportedImageError(
                        f"SOS references unknown component {cs}"
                    )
                comp = matches[0]
                if (0, td) not in huffs or (1, ta) not in huffs:
                    raise UnsupportedImageError("missing Huffman table")
                if comp[3] not in qts:
                    raise UnsupportedImageError("missing quant table")
                scan.append((cs, huffs[(0, td)], huffs[(1, ta)], qts[comp[3]]))
            if len(scan) != len(comps):
                raise UnsupportedImageError("multi-scan JPEG")
            return _decode_scan(data, pos, width, height, scan, dri)
        # APPn / COM / others: skipped
    raise UnsupportedImageError("no scan found")


def _decode_block(
    br: "_BitReader",
    dc_t: "_HuffTable",
    ac_t: "_HuffTable",
    qt: list[int],
    preds: list[int],
    ci: int,
    out,
) -> None:
    """Entropy-decode one 8x8 block of scan component ``ci`` into
    ``out`` (64 zeroed slots, a list or an array row, natural order):
    the DC difference updates the component's predictor ``preds[ci]``
    and every coefficient is dequantized by ``qt``. read_code is called
    directly and EXTEND inlined: this loop runs twice per coefficient
    and the wrapper/call overhead measurably dominates."""
    try:
        cat = br.read_code(dc_t)
        if cat:
            v = br.bits(cat)
            diff = v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1
        else:
            diff = 0
        preds[ci] += diff
        out[0] = preds[ci] * qt[0]
        k = 1
        while k <= 63:
            rs = br.read_code(ac_t)
            r, s = rs >> 4, rs & 15
            if s == 0:
                if r == 15:
                    k += 16
                    continue
                break  # EOB
            k += r
            if k > 63:
                raise UnsupportedImageError("AC index overflow")
            v = br.bits(s)
            out[_ZIGZAG[k]] = (
                v if v >= (1 << (s - 1)) else v - (1 << s) + 1
            ) * qt[_ZIGZAG[k]]
            k += 1
    except _MarkerInData:
        raise UnsupportedImageError("marker inside MCU")


def _decode_scan(
    data: bytes,
    pos: int,
    width: int,
    height: int,
    scan: list[tuple[int, "_HuffTable", "_HuffTable", list[int]]],
    dri: int,
) -> tuple[int, int, int, bytes]:
    if _np is not None:
        return _decode_scan_np(data, pos, width, height, scan, dri)
    mcw = (width + 7) // 8
    mch = (height + 7) // 8
    nc = len(scan)
    planes = [bytearray(mcw * 8 * mch * 8) for _ in range(nc)]
    br = _BitReader(data, pos)
    preds = [0] * nc
    rst_n = 0
    mcu = 0
    for my in range(mch):
        for mx in range(mcw):
            if dri and mcu and mcu % dri == 0:
                br.align_and_expect_rst(rst_n)
                rst_n = (rst_n + 1) & 7
                preds = [0] * nc
            for ci, (_cid, dc_t, ac_t, qt) in enumerate(scan):
                coef = [0.0] * 64
                _decode_block(br, dc_t, ac_t, qt, preds, ci, coef)
                px = _idct(coef)
                plane = planes[ci]
                base_y, base_x = my * 8, mx * 8
                row_w = mcw * 8
                for x in range(8):
                    off = (base_y + x) * row_w + base_x
                    for y in range(8):
                        v = _round_half_up(px[x * 8 + y] + 128.0)
                        plane[off + y] = 0 if v < 0 else (255 if v > 255 else v)
            mcu += 1
    row_w = mcw * 8
    if nc == 1:
        out = bytearray(width * height)
        for yy in range(height):
            out[yy * width : (yy + 1) * width] = planes[0][
                yy * row_w : yy * row_w + width
            ]
        return width, height, 1, bytes(out)
    out = bytearray(width * height * 3)
    py, pcb, pcr = planes
    for yy in range(height):
        srow = yy * row_w
        orow = yy * width * 3
        for xx in range(width):
            Y = py[srow + xx]
            cb = pcb[srow + xx] - 128
            cr = pcr[srow + xx] - 128
            r = _round_half_up(Y + 1.402 * cr)
            g = _round_half_up(Y - 0.344136 * cb - 0.714136 * cr)
            b = _round_half_up(Y + 1.772 * cb)
            o = orow + xx * 3
            out[o] = 0 if r < 0 else (255 if r > 255 else r)
            out[o + 1] = 0 if g < 0 else (255 if g > 255 else g)
            out[o + 2] = 0 if b < 0 else (255 if b > 255 else b)
    return width, height, 3, bytes(out)


# batch size for the chunked IDCT: bounds the decode-side coefficient
# buffer (nc x CHUNK x 64 float64 ~ 6 MB at nc=3) so an arbitrarily
# large image never holds all of its coefficients at once — the
# entropy loop streams MCUs into the chunk and each flush is one
# batched IDCT + level shift + plane placement
_IDCT_CHUNK = 4096


def _decode_scan_np(
    data: bytes,
    pos: int,
    width: int,
    height: int,
    scan: list[tuple[int, "_HuffTable", "_HuffTable", list[int]]],
    dri: int,
) -> tuple[int, int, int, bytes]:
    """Numpy twin of the scalar scan decode. The Huffman/DPCM entropy
    loop is the scalar path's _decode_block (serial by construction —
    each code's length is only known after decoding it); dequantized
    coefficients accumulate
    into a chunk buffer and the IDCT + level shift + clamp + YCbCr
    conversion run batched. Bit-identical to the scalar path: integer
    coefficients are exact in float64, _idct_blocks preserves the
    scalar summation order, and every rounding keeps the scalar
    grouping (floor((px + 128.0) + 0.5); Y + (1.402*cr); etc.)."""
    mcw = (width + 7) // 8
    mch = (height + 7) // 8
    nc = len(scan)
    nmcu = mcw * mch
    planes = [
        _np.empty((mch * 8, mcw * 8), dtype=_np.uint8) for _ in range(nc)
    ]
    chunk = min(_IDCT_CHUNK, nmcu)
    coefs = _np.zeros((nc, chunk, 64), dtype=_np.float64)
    base = 0  # first MCU index of the current chunk
    fill = 0  # MCUs currently buffered

    def flush() -> None:
        nonlocal base, fill
        if not fill:
            return
        for ci in range(nc):
            px = _idct_blocks(coefs[ci, :fill])
            v = _np.floor((px + 128.0) + 0.5)
            v = _np.clip(v, 0.0, 255.0).astype(_np.uint8)
            plane = planes[ci]
            for j in range(fill):
                my, mx = divmod(base + j, mcw)
                plane[my * 8 : my * 8 + 8, mx * 8 : mx * 8 + 8] = v[j]
        coefs[:, :fill] = 0.0
        base += fill
        fill = 0

    br = _BitReader(data, pos)
    preds = [0] * nc
    rst_n = 0
    for mcu in range(nmcu):
        if dri and mcu and mcu % dri == 0:
            br.align_and_expect_rst(rst_n)
            rst_n = (rst_n + 1) & 7
            preds = [0] * nc
        for ci, (_cid, dc_t, ac_t, qt) in enumerate(scan):
            _decode_block(br, dc_t, ac_t, qt, preds, ci, coefs[ci, fill])
        fill += 1
        if fill == chunk:
            flush()
    flush()
    if nc == 1:
        return width, height, 1, planes[0][:height, :width].tobytes()
    yf = planes[0][:height, :width].astype(_np.float64)
    cb = planes[1][:height, :width].astype(_np.float64) - 128.0
    cr = planes[2][:height, :width].astype(_np.float64) - 128.0
    r = _np.floor((yf + 1.402 * cr) + 0.5)
    g = _np.floor(((yf - 0.344136 * cb) - 0.714136 * cr) + 0.5)
    b = _np.floor((yf + 1.772 * cb) + 0.5)
    rgb = _np.clip(_np.stack((r, g, b), axis=-1), 0.0, 255.0)
    return width, height, 3, rgb.astype(_np.uint8).tobytes()


def encode_jpeg_rgb(width: int, height: int, pixels: bytes) -> bytes:
    """Encode interleaved 8-bit RGB as a baseline 4:4:4 YCbCr JPEG (one
    interleaved scan, shared quant/Huffman tables across components) —
    exercises the decoder's multi-component MCU + color-convert path."""
    if width <= 0 or height <= 0 or len(pixels) != width * height * 3:
        raise ValueError("bad RGB buffer")
    # full-range Rec.601 forward transform, floor(x+0.5) rounding; the
    # numpy branch keeps the scalar left-to-right grouping per channel
    # so the clamped plane bytes are bit-identical to the loop below
    if _np is not None:
        px = _np.frombuffer(pixels, dtype=_np.uint8).reshape(-1, 3)
        r = px[:, 0].astype(_np.float64)
        g = px[:, 1].astype(_np.float64)
        b = px[:, 2].astype(_np.float64)
        y = _np.floor(((0.299 * r + 0.587 * g) + 0.114 * b) + 0.5)
        cb = _np.floor((((128 - 0.168736 * r) - 0.331264 * g) + 0.5 * b) + 0.5)
        cr = _np.floor((((128 + 0.5 * r) - 0.418688 * g) - 0.081312 * b) + 0.5)
        planes = [
            bytearray(_np.clip(c, 0.0, 255.0).astype(_np.uint8).tobytes())
            for c in (y, cb, cr)
        ]
    else:
        planes = [bytearray(width * height) for _ in range(3)]
        for i in range(width * height):
            r, g, b = pixels[3 * i], pixels[3 * i + 1], pixels[3 * i + 2]
            y = _round_half_up(0.299 * r + 0.587 * g + 0.114 * b)
            cb = _round_half_up(128 - 0.168736 * r - 0.331264 * g + 0.5 * b)
            cr = _round_half_up(128 + 0.5 * r - 0.418688 * g - 0.081312 * b)
            planes[0][i] = min(255, max(0, y))
            planes[1][i] = min(255, max(0, cb))
            planes[2][i] = min(255, max(0, cr))
    qt = STD_LUM_QT
    qt_zz = bytes(qt[_ZIGZAG[i]] for i in range(64))
    dc_codes = _ENC_DC_CODES
    ac_codes = _ENC_AC_CODES
    bw = _BitWriter()
    preds = [0, 0, 0]
    # three per-plane block GENERATORS zipped in MCU order: each plane's
    # chunked FDCT advances in lockstep, so the interleaved scan never
    # holds more than one chunk of quantized coefficients per component
    gens = [
        _quantized_blocks(width, height, bytes(planes[ci]), qt)
        for ci in range(3)
    ]
    for qs in zip(*gens):
        for ci in range(3):
            preds[ci] = _encode_block(
                bw, qs[ci], preds[ci], dc_codes, ac_codes
            )
    bw.flush()
    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, b"\x00" + qt_zz)
    out += _seg(
        0xC0,
        struct.pack(">BHHB", 8, height, width, 3)
        + bytes((1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0)),
    )
    out += _seg(0xC4, b"\x00" + bytes(_ENC_DC_BITS) + bytes(_ENC_DC_VALS))
    out += _seg(0xC4, b"\x10" + bytes(_ENC_AC_BITS) + bytes(_ENC_AC_VALS))
    out += _seg(0xDA, bytes((3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0)))
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)
