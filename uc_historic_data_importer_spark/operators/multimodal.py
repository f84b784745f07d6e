"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched pandas UDFs.

The Spark-side machinery — schema, partitioning, UDF signatures, batch
shapes — is real and tested. Decoding is REAL for PNG (pure-stdlib
codec, ``functions/imagecodec.py``: IHDR geometry, IDAT inflate,
scanline unfiltering) and header-real for JPEG/GIF dims; payloads
outside that scope fall back to the deterministic stub
(`_decode_image_stub`) so the plumbing stays testable without media
libraries. Swap the codec for PIL/torchvision in production; nothing
else changes.

Design for 100 TB of media:
- binary payloads stay opaque until the last possible stage (no JVM<->
  Python crossing except in the decode UDF itself);
- `mapInPandas` streams record batches, so one task never materializes
  more than spark.sql.execution.arrow.maxRecordsPerBatch payloads;
- metadata (dims, duration, codec) lives in typed columns so filters
  prune BEFORE any decode happens (predicate pushdown on the scan).
"""

from __future__ import annotations

import hashlib
import logging
import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from uc_historic_data_importer_spark.functions import imagecodec

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_sha", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


# every error a corrupt-but-signature-valid payload can raise out of the
# stdlib codecs: the Unsupported*Error classes subclass ValueError, but
# zlib.error (bad IDAT deflate), struct.error (short fixed-layout
# reads) and IndexError (short variable-layout reads, e.g. a truncated
# JPEG segment body indexed byte-by-byte) do NOT — a decode catch that
# misses them lets one corrupt row kill the whole Spark task instead of
# yielding the sentinel/stub
_DECODE_ERRORS = (ValueError, zlib.error, struct.error, IndexError)


def _decode_image_stub(payload: bytes) -> tuple[int, int, list[float]]:
    """STUB decode: deterministic fake decoder for payloads the real
    codec cannot handle (non-image bytes, palette/16-bit PNG, ...).

    Dims derived from the content hash, feature = 8 deterministic
    floats — keeps the full plumbing testable for arbitrary payloads.
    Raises on empty payload like a real decoder would."""
    if not payload:
        raise ValueError("empty media payload")
    h = hashlib.md5(payload).digest()
    width = 64 + h[0]
    height = 64 + h[1]
    feature = [round(b / 255.0, 6) for b in h[2:10]]
    return width, height, feature


# decode_status values, coarse by design so a mixed-corpus oracle can
# pin them deterministically (the exception class varies with HOW a
# payload is corrupt; the category does not):
#   real     — actual pixel decode (PNG, baseline JPEG)
#   header   — real dims from the header, stub features (GIF, JPEGs
#              outside the baseline codec's scope)
#   stub     — no known container signature; deterministic fake
#   fallback — a signature-VALID payload raised a decode error and the
#              stub was substituted. THE degradation signal: at scale,
#              a rising fallback rate means corrupt inputs (expected on
#              crawl data) or a codec bug (not expected) — either way
#              it must be observable, not silent (ADVICE r9).
_STATUS_REAL = "real"
_STATUS_HEADER = "header"
_STATUS_STUB = "stub"
_STATUS_FALLBACK = "fallback"

# fallback observability: warn with the exception class for the first
# few occurrences per worker (full detail without per-row log spam),
# then stay silent — decode_health() is the queryable path.
_FALLBACK_LOG_CAP = 5
_fallback_logged = 0


def _log_fallback(exc: BaseException) -> None:
    global _fallback_logged
    if _fallback_logged < _FALLBACK_LOG_CAP:
        _fallback_logged += 1
        logging.getLogger(__name__).warning(
            "media decode fallback -> stub (%s: %s)%s",
            type(exc).__name__,
            exc,
            " [further fallbacks suppressed; query decode_health()]"
            if _fallback_logged == _FALLBACK_LOG_CAP
            else "",
        )


def _decode_image_with_status(
    payload: bytes,
) -> tuple[int, int, list[float], str]:
    """Decode dispatcher: real PNG decode and real baseline-JPEG decode
    (dims + 8-bin luminance histogram from actual pixels — JPEG via the
    stdlib Huffman+IDCT codec in functions/imagecodec.py), header-real
    dims for GIF and for JPEGs outside the baseline scope (progressive /
    subsampled: stub features, explicit fallback), stub for everything
    else. The 4th element is the decode_status category above."""
    if not payload:
        raise ValueError("empty media payload")
    container = imagecodec.sniff(payload)
    try:
        if container == "png":
            w, h, ch, px = imagecodec.decode_png(payload)
            return (
                w, h,
                imagecodec.luminance_histogram(ch, px),
                _STATUS_REAL,
            )
        if container == "jpeg":
            try:
                w, h, ch, px = imagecodec.decode_jpeg(payload)
                return (
                    w, h,
                    imagecodec.luminance_histogram(ch, px),
                    _STATUS_REAL,
                )
            except imagecodec.UnsupportedImageError:
                # outside baseline scope — keep header-real dims
                w, h = imagecodec.jpeg_dims(payload)
                return w, h, _decode_image_stub(payload)[2], _STATUS_HEADER
        if container == "gif":
            w, h = imagecodec.gif_dims(payload)
            return w, h, _decode_image_stub(payload)[2], _STATUS_HEADER
    except _DECODE_ERRORS as exc:
        _log_fallback(exc)
        w, h, feat = _decode_image_stub(payload)
        return w, h, feat, _STATUS_FALLBACK
    w, h, feat = _decode_image_stub(payload)
    return w, h, feat, _STATUS_STUB


def _decode_image(payload: bytes) -> tuple[int, int, list[float]]:
    """3-tuple seam kept for the pluggable-decoder contract (see
    extract_features): the status-carrying dispatcher minus the status."""
    w, h, feat, _status = _decode_image_with_status(payload)
    return w, h, feat


def extract_features(media: DataFrame, decoder=None) -> DataFrame:
    """Decode + feature-extract via mapInPandas (Arrow record batches).

    Partition count is preserved; payloads never cross back to the JVM —
    only the (tiny) feature vectors and metadata do, which is the whole
    point at 100 TB of media.

    ``decoder`` is the pluggable fast-decode seam (round-5): a callable
    ``(payload: bytes) -> (width, height, feature: list[float])`` —
    trivially adapted from PIL/torchvision (``Image.open`` + histogram)
    — that replaces the default pure-stdlib dispatcher. The callable is
    cloudpickled into the Arrow workers, so it must be importable or
    self-contained. Contract: raise ValueError on an undecodable
    payload (mapped to width=height=-1, feature NULL, same as the
    default); everything else about the plan — schema, batching,
    partitioning — is unchanged, which is exactly what makes the
    production swap a one-argument change. The default stdlib path
    stays the ORACLE decoder (deterministic, dependency-free)."""
    decode = decoder if decoder is not None else _decode_image

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                payload = bytes(row.payload) if row.payload is not None else b""
                try:
                    w, h, feat = decode(payload)
                except _DECODE_ERRORS:
                    w, h, feat = -1, -1, None
                out.append(
                    {
                        "media_id": row.media_id,
                        "kind": row.kind,
                        "n_bytes": len(payload),
                        "content_sha": hashlib.sha256(payload).hexdigest(),
                        "width": w,
                        "height": h,
                        "feature": feat,
                    }
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


HEALTH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("decode_status", T.StringType()),
    ]
)


def decode_health(media: DataFrame) -> DataFrame:
    """Per-asset decode-status audit: which payloads decode for real,
    which only yield header dims, which are unrecognized stubs, and —
    the degradation signal — which carry a VALID container signature
    but raise out of the codec (decode_status='fallback'). Makes the
    extract_features stub substitution queryable instead of silent
    (ADVICE r9): at 100 TB, `decode_health(media).groupBy(
    'decode_status').count()` is the corpus-health dashboard and a
    rising fallback share flags corrupt shards or codec regressions.

    Same Arrow/mapInPandas shape as extract_features (payloads never
    return to the JVM; only 4 tiny columns do)."""

    def _audit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                payload = bytes(row.payload) if row.payload is not None else b""
                try:
                    status = _decode_image_with_status(payload)[3]
                except _DECODE_ERRORS:
                    # undecodable by contract (e.g. empty payload) —
                    # extract_features maps this to width=-1, not stub
                    status = "undecodable"
                out.append(
                    {
                        "media_id": row.media_id,
                        "kind": row.kind,
                        "n_bytes": len(payload),
                        "decode_status": status,
                    }
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(_audit, schema=HEALTH_SCHEMA)


def frame_sample_plan(media: DataFrame) -> DataFrame:
    """Video frame-sampling plan: one output row per frame to decode,
    every 5 seconds.

    Uses the typed `meta['duration_s']` column — the plan (which frames,
    from which byte ranges) is computed entirely JVM-side; only the
    decode of selected frames would touch Python. Decoding itself is the
    same stubbed hook as extract_features.

    Assets with missing or non-positive duration metadata are SKIPPED
    (no rows emitted) rather than planned as zero-length work items
    (ADVICE r1); route them through a metadata-repair pass if they must
    not be dropped silently."""
    # try_cast DOUBLE then floor, not try_cast INT: an int cast turns a
    # FRACTIONAL duration string ('12.5') into NULL and silently skips
    # media with valid positive duration — the documented skip rule
    # covers only missing/non-positive durations (the oracle floors the
    # same way). The OUTER narrowing must also be try_cast: under ANSI
    # mode a plain cast raises CAST_OVERFLOW on an out-of-int-range
    # duration string (ms-vs-s corruption) and aborts the job; try_cast
    # keeps the tolerate-corrupt-metadata contract (NULL -> 0 -> skip).
    dur = F.coalesce(
        F.floor(
            F.element_at(F.col("meta"), "duration_s").try_cast("double")
        ).try_cast("int"),
        F.lit(0),
    )
    frames = F.sequence(F.lit(0), dur - 1, F.lit(5))
    return (
        media.filter((F.col("kind") == "video") & (dur > 0))
        .select("media_id", F.explode(frames).alias("frame_ts_s"))
    )


AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.IntegerType()),
    ]
)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """REAL audio decode via mapInPandas: canonical PCM16 WAV payloads
    (functions/audiocodec.py, pure stdlib) become (sample_rate,
    n_samples, duration_ms, rms, peak); undecodable payloads yield a
    -1/null row instead of failing the batch. Same 100 TB shape as
    extract_features: payloads never return to the JVM, only scalar
    features do."""
    from uc_historic_data_importer_spark.functions import audiocodec

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                payload = bytes(row.payload) if row.payload is not None else b""
                try:
                    rate, _ch, samples = audiocodec.decode_wav(payload)
                    dur, rms, peak = audiocodec.audio_features(rate, samples)
                    out.append(
                        {
                            "media_id": row.media_id,
                            "sample_rate": rate,
                            "n_samples": len(samples),
                            "duration_ms": dur,
                            "rms": rms,
                            "peak": peak,
                        }
                    )
                except _DECODE_ERRORS:
                    out.append(
                        {
                            "media_id": row.media_id,
                            "sample_rate": -1,
                            "n_samples": -1,
                            "duration_ms": -1,
                            "rms": None,
                            "peak": -1,
                        }
                    )
            yield pd.DataFrame(out)

    return media.mapInPandas(_extract, schema=AUDIO_FEATURE_SCHEMA)


AUDIO_WINDOW_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("win_idx", T.IntegerType()),
        T.StructField("win_rms", T.DoubleType()),
        T.StructField("zero_crossings", T.IntegerType()),
    ]
)


def audio_window_features(media: DataFrame) -> DataFrame:
    """Windowed audio features from REAL PCM16 WAV decode: one row per
    full 80-sample frame with its RMS energy and zero-crossing
    count (the classic VAD/energy-gating front end). The trailing
    partial frame is dropped (fixed-size frames keep the schema dense).

    Same 100 TB shape as extract_audio_features: the payload is decoded
    once inside the Arrow batch, only (media_id, win_idx, 2 scalars)
    rows return to the JVM — a 10 ms frame at 8 kHz is 160 payload
    bytes reduced to 16 output bytes. RMS accumulates in exact integer
    arithmetic (PCM16 squares) with ONE final correctly-rounded
    division + sqrt, so an external oracle reproduces the double
    bit-for-bit; callers round with F.round (half-away, the engine-
    portable convention) before hashing. Zero crossings are counted as
    strict sign flips (negative <-> non-negative) within the frame."""
    from uc_historic_data_importer_spark.functions import audiocodec

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math as _math

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                payload = bytes(row.payload) if row.payload is not None else b""
                try:
                    _rate, _ch, samples = audiocodec.decode_wav(payload)
                except _DECODE_ERRORS:
                    continue
                for w in range(len(samples) // 80):
                    seg = samples[w * 80 : (w + 1) * 80]
                    sq = 0
                    zc = 0
                    prev_neg = seg[0] < 0
                    for s in seg:
                        sq += s * s
                        neg = s < 0
                        if neg != prev_neg:
                            zc += 1
                        prev_neg = neg
                    out.append(
                        {
                            "media_id": row.media_id,
                            "win_idx": w,
                            "win_rms": _math.sqrt(sq / 80),
                            "zero_crossings": zc,
                        }
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "win_idx", "win_rms", "zero_crossings"
                ],
            )

    return media.mapInPandas(_extract, schema=AUDIO_WINDOW_SCHEMA)


VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)


def extract_video_meta(media: DataFrame) -> DataFrame:
    """REAL MP4 container parse via mapInPandas (functions/videocodec.py
    box walking): (width, height, duration_ms) from moov/mvhd/tkhd.
    Frame decode is deliberately out of scope (codec territory) — this
    metadata is what feeds frame_sample_plan's JVM-side planning.
    Unparseable payloads yield -1 sentinels."""
    from uc_historic_data_importer_spark.functions import videocodec

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                payload = bytes(row.payload) if row.payload is not None else b""
                try:
                    w, h, dur = videocodec.parse_mp4_meta(payload)
                except _DECODE_ERRORS:
                    w, h, dur = -1, -1, -1
                out.append(
                    {
                        "media_id": row.media_id,
                        "width": w,
                        "height": h,
                        "duration_ms": dur,
                    }
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(_extract, schema=VIDEO_META_SCHEMA)


PERCEPTUAL_KEY_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("ahash", T.LongType()),
    ]
)


def perceptual_keys(media: DataFrame) -> DataFrame:
    """64-bit average-hash per image payload via mapInPandas — the
    perceptual near-dup key that survives re-encoding (the byte-level
    content_sha of extract_features catches only exact copies). Undecodable
    payloads yield -1; grouping on the hash (or on hamming bands of it,
    as with SimHash) clusters visually-identical media without any
    pairwise comparison.

    Dispatches on the sniffed container like _decode_image — every
    format the codec can FULLY decode (PNG and baseline JPEG) gets a
    real hash. A PNG-only path here would silently hand every JPEG the
    -1 sentinel, and 'group by ahash' would then cluster all JPEGs as
    one giant pseudo-duplicate while appearing to cover them."""
    from uc_historic_data_importer_spark.functions import imagecodec

    def _keys(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                payload = bytes(row.payload) if row.payload is not None else b""
                container = imagecodec.sniff(payload)
                try:
                    if container == "png":
                        w, h, ch, px = imagecodec.decode_png(payload)
                    elif container == "jpeg":
                        w, h, ch, px = imagecodec.decode_jpeg(payload)
                    else:
                        raise ValueError("no pixel decoder for payload")
                    key = imagecodec.ahash(w, h, ch, px)
                except _DECODE_ERRORS:
                    key = -1
                out.append({"media_id": row.media_id, "ahash": key})
            yield pd.DataFrame(out)

    return media.mapInPandas(_keys, schema=PERCEPTUAL_KEY_SCHEMA)
