"""Timestamp parsing / formatting with the reference's exact semantics.

The reference accepts exactly two input formats, both UTC
(HBaseWriter.kt:598-600):
    yyyy-MM-dd'T'HH:mm:ss.SSS'Z'      e.g. 2018-12-01T15:01:02.000Z
    yyyy-MM-dd'T'HH:mm:ss.SSSZZZZ     e.g. 2018-12-01T15:01:02.000+0000
and re-emits the "kafka" format (HBaseWriter.kt:523-541):
    yyyy-MM-dd'T'HH:mm:ss.SSS+0000

The 1980 epoch sentinel (FilterServiceImpl.kt:84, HBaseWriter.kt:593) is a
magic version for records with no timestamps at all; it is exempt from the
too-early filter.

These run once per record inside the record-normalization pass, and
parse_filter_bound uses the same parser for the time-range bounds.
"""

from __future__ import annotations

import re
import threading
from datetime import date

EPOCH_KAFKA = "1980-01-01T00:00:00.000+0000"
EPOCH_MILLIS = 315532800000

KAFKA_OUT_SUFFIX = "+0000"


_TS_RE = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})\.(\d{1,6})(Z|[+-]\d{4})$"
)
# Format->parse round-trip memo (r14 opt round): normalize_record
# formats a record's timestamps via kafka_date_format and then re-parses
# the PICKED string for the K3 version — the second parse re-derives a
# number kafka_date_format already held. kafka_date_format seeds
# out-string -> millis here; parse_hdi_timestamp_millis consults it
# before the regex. Entries are only ever (millis_to_kafka(m) -> m)
# pairs, and parse(millis_to_kafka(m)) == m for every m the formatter
# accepts (canonical digits, +0000 zone, year pre-checked in [1, 9999]),
# so a hit returns exactly what the full parse would. FIFO-bounded (the
# oldest entry goes first): a record formats at most a handful of
# timestamps between format and version-parse, so the newest entries
# are the ones a lookup needs.
_ROUNDTRIP_MEMO: dict[str, int] = {}
_ROUNDTRIP_MEMO_MAX = 8
_ROUNDTRIP_LOCK = threading.Lock()
_EPOCH_ORDINAL = 719163  # date(1970, 1, 1).toordinal()
_MAX_ORDINAL = 3652059  # date(9999, 12, 31).toordinal()
# Exactly the character class Java regex \s matches (Python's bare
# .strip() would also strip Unicode whitespace such as NBSP).
_ASCII_WS = " \t\n\x0b\f\r"


def parse_hdi_timestamp_millis(value: str | None) -> int | None:
    """Parse one of the two accepted formats to epoch millis (UTC).

    Returns None when unparseable — callers decide whether that is a
    record error (kafkaDateFormat raises, HBaseWriter.kt:523-531) or a
    fallback trigger (lastModifiedDateTime hierarchy, :439-471).

    Hand-rolled fixed-format parse: this runs once per record inside the
    normalization UDF, and strptime was ~50% of the whole record cost.
    Unlike lenient SimpleDateFormat we reject out-of-range fields
    (month 13 etc.) instead of rolling them over.

    Fraction digits follow the reference's lenient 'SSS' semantics: the
    digit run is an INTEGER millisecond count ('.5' = 5 ms, '.123456' =
    123456 ms rolling over into seconds), NOT a decimal fraction —
    SimpleDateFormat has no notion of sub-pattern decimal scaling, and
    scaling here would silently shift versions/filter bounds against
    the reference for any non-3-digit input.

    Padding leniency is pinned to the ASCII whitespace set Java's regex
    ``\\s`` matches (space, tab, LF, VT, FF, CR) — NOT Python's full
    Unicode ``str.strip()``: Unicode whitespace like NBSP is a
    rejection. Proleptic year 0000 is rejected (``datetime.date``
    starts at year 1). tests/test_transform_properties.py pins all of
    this against a ``datetime``-based reference.
    """
    if not value or not isinstance(value, str):
        return None
    hit = _ROUNDTRIP_MEMO.get(value)
    if hit is not None:
        return hit
    m = _TS_RE.match(value.strip(_ASCII_WS))
    if m is None:
        return None
    y, mo, d, h, mi, s, frac, tz = m.groups()
    try:
        days = date(int(y), int(mo), int(d)).toordinal() - _EPOCH_ORDINAL
    except ValueError:
        return None
    h, mi, s = int(h), int(mi), int(s)
    if h > 23 or mi > 59 or s > 59:
        return None
    millis = int(frac)
    offset_s = 0
    if tz != "Z":
        offset_s = (int(tz[1:3]) * 3600 + int(tz[3:5]) * 60) * (
            -1 if tz[0] == "-" else 1
        )
    return ((days * 86400 + h * 3600 + mi * 60 + s) - offset_s) * 1000 + millis


def kafka_date_format(value: str) -> str | None:
    """Re-format an accepted timestamp to yyyy-MM-dd'T'HH:mm:ss.SSS+0000.

    None on parse failure (reference raises; the caller of the UDF records
    the record error — F1 semantics).

    Also None when the zone-shifted instant falls outside the
    formattable year range [0001, 9999] (r14 review batch 11, probed:
    '0001-01-01T00:00:00.000+9959' and '9999-12-31T23:59:59.999-9959'
    parse — SimpleDateFormat-lenient offsets accept any hhmm digit
    pair — but date.fromordinal then raised ValueError). Blast radius
    before the fix: a DIRECT caller of this public function crashed
    mid-task; inside the normalization UDF the blanket exception
    handler caught it, but MISCLASSIFIED the record as parse_error
    instead of date_error — wrong F5 accounting for a date problem.
    """
    millis = parse_hdi_timestamp_millis(value)
    if millis is None:
        return None
    days = millis // 86400000
    if not (1 <= days + _EPOCH_ORDINAL <= _MAX_ORDINAL):
        return None
    out = millis_to_kafka(millis)
    # Executor UDF workers are single-threaded, but this helper is
    # importable from driver code where concurrent threads could race
    # the iter-then-delete of the FIFO eviction — hence the lock
    with _ROUNDTRIP_LOCK:
        if out not in _ROUNDTRIP_MEMO:
            if len(_ROUNDTRIP_MEMO) >= _ROUNDTRIP_MEMO_MAX:
                del _ROUNDTRIP_MEMO[next(iter(_ROUNDTRIP_MEMO))]
            _ROUNDTRIP_MEMO[out] = millis
    return out


def millis_to_kafka(millis: int) -> str:
    days, rem = divmod(millis, 86400000)
    d = date.fromordinal(days + _EPOCH_ORDINAL)
    h, rem = divmod(rem, 3600000)
    mi, rem = divmod(rem, 60000)
    s, ms = divmod(rem, 1000)
    return (
        f"{d.year:04d}-{d.month:02d}-{d.day:02d}T{h:02d}:{mi:02d}:{s:02d}.{ms:03d}"
        + KAFKA_OUT_SUFFIX
    )
