"""Property-based tests for normalize_record: invariants that must hold
for ARBITRARY record bodies (the reference's dynamic-schema contract —
unknown keys, nulls and insertion order survive; normalization is
idempotent). The reference has no property tests (SURVEY.md §5); these
guard the corners its example-based suites cannot."""

import json
import re
from datetime import datetime, timedelta

import pytest
from hypothesis import given, settings, strategies as st

from uc_historic_data_importer_spark.functions.json_canonical import canonical_json
from uc_historic_data_importer_spark.operators.transforms import normalize_record

# JSON scalars that Gson/json round-trip deterministically
scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(2**53), max_value=2**53),
    st.text(max_size=20),
)
json_values = st.recursive(
    scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(st.text(min_size=1, max_size=10), children, max_size=4),
    ),
    max_leaves=10,
)
# field names that don't collide with the HDI special fields
safe_names = st.text(min_size=1, max_size=12).filter(
    lambda s: s not in {
        "_id", "_removed", "_archived", "_removedDateTime", "_archivedDateTime",
        "_lastModifiedDateTime", "createdDateTime", "timestamp", "@type",
    }
)
bodies = st.dictionaries(safe_names, json_values, max_size=6)

LM = {"$date": "2018-12-01T15:01:02.000Z"}


@settings(max_examples=200, deadline=None)
@given(body=bodies, id_obj=st.dictionaries(st.text(min_size=1, max_size=8), st.text(max_size=8), min_size=1, max_size=4))
def test_unknown_fields_survive_byte_for_byte(body, id_obj):
    record = {"_id": id_obj, **body, "_lastModifiedDateTime": LM}
    out = normalize_record(json.dumps(record, ensure_ascii=False))
    assert out["valid"]
    result = json.loads(out["record_json"])
    for k, v in body.items():
        assert result[k] == v
    # insertion order of unknown keys preserved
    assert [k for k in result if k in body] == list(body.keys())


@settings(max_examples=200, deadline=None)
@given(id_obj=st.dictionaries(st.text(min_size=1, max_size=8), st.text(max_size=8), min_size=1, max_size=4))
def test_canonical_id_is_order_invariant(id_obj):
    items = list(id_obj.items())
    a = normalize_record(json.dumps({"_id": dict(items), "_lastModifiedDateTime": LM}))
    b = normalize_record(json.dumps({"_id": dict(reversed(items)), "_lastModifiedDateTime": LM}))
    assert a["valid"] and b["valid"]
    assert a["canonical_id"] == b["canonical_id"] == canonical_json(id_obj)


@settings(max_examples=200, deadline=None)
@given(body=bodies)
def test_normalization_is_idempotent(body):
    record = {
        "_id": {"k": "v1", "j": "v2"},
        **body,
        "createdDateTime": {"$date": "2015-03-20T12:23:25.183Z"},
        "_lastModifiedDateTime": LM,
    }
    first = normalize_record(json.dumps(record, ensure_ascii=False))
    assert first["valid"]
    second = normalize_record(first["record_json"])
    assert second["valid"]
    assert second["record_json"] == first["record_json"]
    assert second["canonical_id"] == first["canonical_id"]
    assert second["version"] == first["version"]
    assert second["inner_type"] == first["inner_type"]


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=80))
def test_never_raises_on_garbage(garbage):
    out = normalize_record(garbage)
    assert out["valid"] in (True, False)
    if not out["valid"]:
        assert out["skip_reason"] in ("parse_error", "blank_id", "date_error")


@settings(max_examples=100, deadline=None)
@given(
    y=st.integers(min_value=1970, max_value=2100),
    mo=st.integers(min_value=1, max_value=12),
    d=st.integers(min_value=1, max_value=28),
    h=st.integers(min_value=0, max_value=23),
    mi=st.integers(min_value=0, max_value=59),
    s=st.integers(min_value=0, max_value=59),
    ms=st.integers(min_value=0, max_value=999),
)
def test_date_roundtrip_both_formats(y, mo, d, h, mi, s, ms):
    from uc_historic_data_importer_spark.functions.dates import (
        kafka_date_format,
        millis_to_kafka,
        parse_hdi_timestamp_millis,
    )

    z = f"{y:04d}-{mo:02d}-{d:02d}T{h:02d}:{mi:02d}:{s:02d}.{ms:03d}Z"
    off = z[:-1] + "+0000"
    mz, moff = parse_hdi_timestamp_millis(z), parse_hdi_timestamp_millis(off)
    assert mz == moff
    assert kafka_date_format(z) == off
    assert millis_to_kafka(mz) == off


@settings(max_examples=200, deadline=None)
@given(body=bodies, id_obj=st.dictionaries(st.text(min_size=1, max_size=8), st.text(max_size=8), min_size=1, max_size=4))
def test_orjson_fast_path_equals_stdlib(body, id_obj):
    """The orjson hot path must be byte-identical to the stdlib fallback
    for arbitrary (non-exotic-float) record bodies."""
    import uc_historic_data_importer_spark.operators.transforms as tr

    if tr.orjson is None:
        return
    record = {"_id": id_obj, **body, "_lastModifiedDateTime": LM}
    raw = json.dumps(record, ensure_ascii=False)
    fast = tr.normalize_record(raw)
    saved = tr.orjson
    try:
        tr.orjson = None
        slow = tr.normalize_record(raw)
    finally:
        tr.orjson = saved
    assert fast == slow


# ---------------------------------------------------------------------------
# Timestamp parse vs a datetime-based reference: parse_hdi_timestamp_millis
# must agree with _reference_millis on EVERY input — including the
# SimpleDateFormat-lenient 1-6-digit integer millisecond fraction ('.5' =
# 5 ms, '.123456' rolls into seconds), any +-hhmm offset, and every
# rejection mode.

_TS_PADDING = " \t\n\x0b\f\r"  # the ASCII set Java's regex \s matches
_TS_SHAPE = re.compile(
    r"(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2})\.(\d{1,6})(Z|[+-]\d{4})"
)
_UNIX_EPOCH = datetime(1970, 1, 1)


def _reference_millis(value):
    """Epoch millis by datetime arithmetic: strptime rejects out-of-range
    fields (month 13, hour 24, Feb 29 of a non-leap year, year 0000), the
    fraction digit run counts whole milliseconds, and the offset is
    subtracted as a timedelta."""
    if not isinstance(value, str):
        return None
    m = _TS_SHAPE.fullmatch(value.strip(_TS_PADDING))
    if m is None:
        return None
    stem, fraction, zone = m.groups()
    try:
        local = datetime.strptime(stem, "%Y-%m-%dT%H:%M:%S")
    except ValueError:
        return None
    offset = timedelta(0)
    if zone != "Z":
        offset = timedelta(hours=int(zone[1:3]), minutes=int(zone[3:5]))
        if zone[0] == "-":
            offset = -offset
    delta = local - _UNIX_EPOCH - offset + timedelta(milliseconds=int(fraction))
    return delta // timedelta(milliseconds=1)


_ts_fraction = st.integers(min_value=1, max_value=6).flatmap(
    lambda n: st.text(alphabet="0123456789", min_size=n, max_size=n)
)
_ts_zone = st.one_of(
    st.just("Z"),
    st.tuples(
        st.sampled_from("+-"),
        st.integers(min_value=0, max_value=23),
        st.integers(min_value=0, max_value=59),
    ).map(lambda t: f"{t[0]}{t[1]:02d}{t[2]:02d}"),
)
# Deliberately over-wide field ranges: out-of-range months/days/hours
# must be REJECTED, and pre-1970 / pre-Gregorian years must parse
# (both sides are proleptic Gregorian).
_ts_candidate = st.tuples(
    st.integers(min_value=0, max_value=2100),
    st.integers(min_value=0, max_value=13),
    st.integers(min_value=0, max_value=32),
    st.integers(min_value=0, max_value=24),
    st.integers(min_value=0, max_value=60),
    st.integers(min_value=0, max_value=60),
    _ts_fraction,
    _ts_zone,
).map(
    lambda t: f"{t[0]:04d}-{t[1]:02d}-{t[2]:02d}T{t[3]:02d}:{t[4]:02d}:{t[5]:02d}.{t[6]}{t[7]}"
)
# (input, expected millis or None, test id)
_TS_CASES = [
    ("", None, "empty"),
    ("2018-12-01T15:01:02Z", None, "no_fraction"),
    ("2018-12-01T15:01:02.1234567Z", None, "seven_digit_fraction"),
    (" 2018-12-01T15:01:02.5Z ", 1543676462005, "space_padding"),
    ("\t2018-12-01T15:01:02.5Z\n", 1543676462005, "tab_lf_padding"),
    ("\x0b2018-12-01T15:01:02.5Z\f\r", 1543676462005, "vt_ff_cr_padding"),
    ("\xa02018-12-01T15:01:02.5Z", None, "nbsp_is_not_padding"),
    ("0000-01-01T00:00:00.0Z", None, "year_0000"),
    ("2018-12-01T15:01:02.123456+0530", 1543656785456, "six_digit_fraction_offset"),
    ("2016-02-29T00:00:00.999999Z", 1456704999999, "leap_day"),
    ("2015-02-29T00:00:00.1Z", None, "non_leap_feb_29"),
]
_ts_garbage = st.one_of(
    st.text(max_size=30), st.sampled_from([case[0] for case in _TS_CASES])
)


@settings(max_examples=500, deadline=None)
@given(value=st.one_of(_ts_candidate, _ts_garbage))
def test_timestamp_parse_matches_datetime_reference(value):
    from uc_historic_data_importer_spark.functions.dates import (
        parse_hdi_timestamp_millis,
    )

    assert parse_hdi_timestamp_millis(value) == _reference_millis(value)


@pytest.mark.parametrize(
    "value,expected", [c[:2] for c in _TS_CASES], ids=[c[2] for c in _TS_CASES]
)
def test_timestamp_parse_edge_cases(value, expected):
    from uc_historic_data_importer_spark.functions.dates import (
        parse_hdi_timestamp_millis,
    )

    assert parse_hdi_timestamp_millis(value) == expected
    assert _reference_millis(value) == expected
