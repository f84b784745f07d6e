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

Python-side versions are used inside the record-normalization pandas UDF;
Catalyst column versions are provided for SQL-expressible paths.
"""

from __future__ import annotations

import re
import threading
from datetime import date

from pyspark.sql import Column
from pyspark.sql import functions as F

EPOCH_KAFKA = "1980-01-01T00:00:00.000+0000"
EPOCH_MILLIS = 315532800000

# Spark datetime patterns for the two accepted formats.
SPARK_FMT_Z_LITERAL = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
SPARK_FMT_OFFSET = "yyyy-MM-dd'T'HH:mm:ss.SSSxx"  # xx matches +0000
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
# Exactly the character class Java regex \s matches: keeps the Python
# twin's padding leniency byte-identical to the Catalyst twin's
# regexp_replace trim (Python's bare .strip() would also strip Unicode
# whitespace the Catalyst side cannot see).
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
    Unicode ``str.strip()`` — so this twin and parse_hdi_timestamp_col
    accept and reject byte-identical input sets (Unicode whitespace
    like NBSP is a rejection on both sides).
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


# Catalyst-side mirror of _TS_RE: group 1 = date-time stem, group 2 =
# fraction digit run (1-6), group 3 = zone. Java regex syntax matches
# Python's for this pattern. The (?!0000) lookahead rejects proleptic
# year 0, which try_to_timestamp would otherwise accept but the Python
# twin's datetime.date() rejects (ValueError -> None) — the one field
# where the two engines' "valid date" notions differ.
_TS_COL_PATTERN = (
    r"^(?!0000)(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})\.(\d{1,6})(Z|[+-]\d{4})$"
)


def parse_hdi_timestamp_col(col: Column) -> Column:
    """Catalyst parse of the two accepted formats -> TimestampType.

    The Spark-native twin of parse_hdi_timestamp_millis, with the SAME
    lenient fraction semantics (SimpleDateFormat 'SSS' leniency, the
    reference's behavior — HBaseWriter.kt:598-600): the 1-6-digit
    fraction run is an INTEGER millisecond count, so '.5' means 5 ms
    and '.123456' rolls 123.456 s into the seconds. Implemented by
    pre-normalization: split the string into stem/fraction/zone with
    one regex, parse the fraction-less stem+zone with to_timestamp
    (CORRECTED mode rejects rolled-over fields like month 13, matching
    the Python twin's explicit range checks), and add the integer
    millis back. Unparseable input -> NULL (the Python twin's None).

    Parity with parse_hdi_timestamp_millis is hypothesis-pinned
    (tests/test_transform_properties.py), including the two historical
    edge divergences: padding is trimmed with the Java-\\s character
    class (F.trim strips only spaces — a tab-padded input would parse
    in Python but NULL here) and proleptic year 0000 is rejected by
    the pattern (try_to_timestamp accepts it; datetime.date does not).
    Requires a UTC session timezone (prepare_session sets it)."""
    s = F.regexp_replace(col, r"^\s+|\s+$", "")
    # try_to_timestamp / the when-guarded casts keep ANSI mode (Spark 4
    # default) from throwing on unparseable input — reject means NULL
    # here, exactly the Python twin's None. The zone offset is computed
    # arithmetically from the digit groups rather than parsed by
    # java.time: SimpleDateFormat (and the Python twin) accept ANY
    # hhmm digit pair (e.g. +1801, +9959) while java.time caps
    # ZoneOffset at +-18:00.
    matched = s.rlike(_TS_COL_PATTERN)
    stem = F.regexp_extract(s, _TS_COL_PATTERN, 1)
    zone = F.regexp_extract(s, _TS_COL_PATTERN, 3)
    base = F.try_to_timestamp(stem, F.lit("yyyy-MM-dd'T'HH:mm:ss"))
    offset_s = F.when(zone == "Z", F.lit(0).cast("long")).otherwise(
        (
            F.substring(zone, 2, 2).cast("long") * 3600
            + F.substring(zone, 4, 2).cast("long") * 60
        )
        * F.when(F.substring(zone, 1, 1) == "-", -1).otherwise(1)
    )
    frac_millis = F.regexp_extract(s, _TS_COL_PATTERN, 2).cast("long")
    millis = F.when(
        matched, F.unix_millis(base) - offset_s * 1000 + frac_millis
    )
    return F.timestamp_millis(millis)


def hdi_timestamp_millis_col(col: Column) -> Column:
    """Catalyst epoch-millis of an accepted timestamp string column."""
    return F.unix_millis(parse_hdi_timestamp_col(col))
