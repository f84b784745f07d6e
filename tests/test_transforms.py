"""Golden tests for the T1-T7/T10/K1/K3 normalization — the same cases the
reference pins in HbaseWriterTest.kt:84-146,265-674 and
MessageUtilsTest.kt, expressed over normalize_record."""

import json

import pytest

from uc_historic_data_importer_spark.functions.dates import (
    EPOCH_KAFKA,
    EPOCH_MILLIS,
    kafka_date_format,
    parse_hdi_timestamp_millis,
)
from uc_historic_data_importer_spark.functions.json_canonical import (
    canonical_json,
    canonicalize_id,
)
from uc_historic_data_importer_spark.operators.transforms import normalize_record


def N(record):
    return normalize_record(json.dumps(record))


class TestDates:
    def test_both_valid_formats_parse_to_same_millis(self):
        a = parse_hdi_timestamp_millis("2018-12-01T15:01:02.000Z")
        b = parse_hdi_timestamp_millis("2018-12-01T15:01:02.000+0000")
        assert a == b == 1543676462000

    def test_kafka_format_output(self):
        assert kafka_date_format("2018-12-01T15:01:02.345Z") == "2018-12-01T15:01:02.345+0000"

    def test_unparseable_returns_none(self):
        assert parse_hdi_timestamp_millis("2018-12-01") is None
        assert parse_hdi_timestamp_millis("") is None

    def test_epoch_sentinel(self):
        assert parse_hdi_timestamp_millis(EPOCH_KAFKA) == EPOCH_MILLIS == 315532800000

    def test_roundtrip_memo_matches_fresh_parse(self):
        """r14 opt round: kafka_date_format seeds a format->parse memo
        so the K3 version parse of the just-formatted string skips the
        regex. A memo hit must equal what a cold parse of the same
        string returns — for canonical outputs, lenient-fraction
        inputs that REFORMAT to a different canonical string, and
        zone-shifted inputs."""
        from uc_historic_data_importer_spark.functions import dates

        cases = [
            "2018-12-01T15:01:02.345Z",
            "2018-12-01T15:01:02.5+0130",  # lenient fraction + zone shift
            "2018-12-01T15:01:02.123456Z",  # fraction rolls into seconds
            EPOCH_KAFKA,
            "0001-01-01T00:00:00.000Z",
            "9999-12-31T23:59:59.999Z",
        ]
        for s in cases:
            out = kafka_date_format(s)
            assert out is not None
            warm = parse_hdi_timestamp_millis(out)
            dates._ROUNDTRIP_MEMO.clear()
            cold = parse_hdi_timestamp_millis(out)
            assert warm == cold, s
        # the memo stays FIFO-bounded
        for i in range(50):
            kafka_date_format(f"2020-01-01T00:00:{i % 60:02d}.000Z")
        assert len(dates._ROUNDTRIP_MEMO) <= dates._ROUNDTRIP_MEMO_MAX

    def test_roundtrip_memo_evicts_oldest_under_date_drift(self):
        """The memo is FIFO: after a long run of distinct dates it holds
        the NEWEST entries. A LIFO eviction keeps the first entries
        forever and evicts each newcomer's predecessor, so under date
        drift every lookup but the very last one misses."""
        from uc_historic_data_importer_spark.functions import dates

        dates._ROUNDTRIP_MEMO.clear()
        outs = [
            kafka_date_format(f"2020-01-{1 + i // 60:02d}T00:00:{i % 60:02d}.000Z")
            for i in range(200)
        ]
        assert list(dates._ROUNDTRIP_MEMO) == outs[-dates._ROUNDTRIP_MEMO_MAX :]
        # re-formatting a memoized date keeps its place in the queue
        kafka_date_format(outs[-2].replace("+0000", "Z"))
        assert list(dates._ROUNDTRIP_MEMO) == outs[-dates._ROUNDTRIP_MEMO_MAX :]

    def test_roundtrip_memo_stays_bounded_under_thread_races(self):
        """Driver threads share the memo: the eviction and insert must
        not lose the bound, raise, or store a wrong millis."""
        import sys
        import threading

        from uc_historic_data_importer_spark.functions import dates

        errors: list[BaseException] = []

        def drift(t: int) -> None:
            try:
                for i in range(400):
                    s = f"20{10 + t}-03-{1 + i // 60 % 28:02d}T01:{i % 60:02d}:00.000Z"
                    assert kafka_date_format(s) is not None
                    assert len(dates._ROUNDTRIP_MEMO) <= dates._ROUNDTRIP_MEMO_MAX
            except BaseException as ex:  # noqa: BLE001 — re-raised below
                errors.append(ex)

        saved = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=drift, args=(t,)) for t in range(16)]
            for th in threads:
                th.start()
            for th in threads:
                th.join(timeout=60)
        finally:
            sys.setswitchinterval(saved)
        assert not any(th.is_alive() for th in threads)
        assert errors == []
        assert len(dates._ROUNDTRIP_MEMO) <= dates._ROUNDTRIP_MEMO_MAX
        for out, millis in list(dates._ROUNDTRIP_MEMO.items()):
            dates._ROUNDTRIP_MEMO.clear()
            assert parse_hdi_timestamp_millis(out) == millis

    def test_year_range_rollover_is_record_error_not_crash(self):
        """r14 review batch 11 (probed): SimpleDateFormat-lenient zone
        offsets accept any hhmm digit pair, so these parse — but the
        shifted instant leaves [0001, 9999] and date.fromordinal raised
        ValueError: a direct caller of the public function crashed
        mid-task, and inside the normalization UDF the blanket handler
        misclassified the record as parse_error instead of date_error.
        Now None -> _DateError -> the date_errors count (F1
        semantics). Boundary years still format."""
        assert kafka_date_format("0001-01-01T00:00:00.000+9959") is None
        assert kafka_date_format("9999-12-31T23:59:59.999-9959") is None
        assert (
            kafka_date_format("0001-01-01T00:00:00.000Z")
            == "0001-01-01T00:00:00.000+0000"
        )
        assert (
            kafka_date_format("9999-12-31T23:59:59.999Z")
            == "9999-12-31T23:59:59.999+0000"
        )


class TestCanonicalization:
    def test_object_id_sorted_by_key(self):
        assert canonicalize_id({"b": "2", "a": "1"}) == '{"a":"1","b":"2"}'

    def test_string_id_wrapped(self):
        assert canonicalize_id("abc") == '{"id":"abc"}'

    def test_int_id_stringified(self):
        assert canonicalize_id(12345) == '{"id":"12345"}'

    def test_key_order_and_whitespace_invariance(self):
        # MessageUtilsTest.kt:305-355: same logical id -> same key
        assert canonical_json(json.loads('{"b" : 2, "a": 1}')) == canonical_json(
            json.loads('{"a":1,"b":2}')
        )

    def test_type_sensitivity(self):
        # string "1" vs int 1 canonicalize differently
        assert canonical_json({"id": "1"}) != canonical_json({"id": 1})

    def test_fast_path_matches_stdlib(self):
        """r14 opt round: flat all-simple-string dicts serialize by
        concatenation; every output must stay byte-identical to
        json.dumps(sort_keys, compact, ensure_ascii=False) — including
        the edges that must REJECT the fast path (escapes, non-string
        values, nested dicts) and the ones that must take it
        (non-ASCII text, DEL, empty dict)."""
        ref = lambda v: json.dumps(  # noqa: E731
            v, sort_keys=True, separators=(",", ":"), ensure_ascii=False
        )
        cases = [
            {},
            {"userId": "u-7-12"},
            {"b": "2", "a": "1", "c": "3"},
            {"k": 'quote " inside'},  # escaped -> fallback
            {"k": "back\\slash"},
            {"k": "ctrl\x01char", "j": "tab\there"},
            {"k": "del\x7fchar"},  # \x7f is NOT escaped -> fast path
            {"k": "日本語 ± €"},  # non-ASCII raw under ensure_ascii=False
            {"k": None},
            {"k": 1},
            {"k": 2.5},
            {"k": True},
            {"k": {"nested": "dict"}},
            {"k": ["list"]},
            {"": ""},
        ]
        for v in cases:
            assert canonical_json(v) == ref(v), v


class TestIdNormalization:
    def test_oid_flattened(self):
        r = N({"_id": {"$oid": "OID"}, "_lastModifiedDateTime": "2018-12-01T15:01:02.000Z"})
        assert r["id"] == "OID"
        assert r["id_modification"] == "FlattenedMongoId"
        assert r["id_is_string"] and r["id_was_modified"]
        assert json.loads(r["record_json"])["_id"] == "OID"
        assert r["canonical_id"] == '{"id":"OID"}'

    def test_oid_with_siblings_not_flattened(self):
        r = N({"_id": {"$oid": "OID", "x": 1}, "_lastModifiedDateTime": "2018-12-01T15:01:02.000Z"})
        assert r["id_modification"] == "UnmodifiedObjectId"

    def test_inner_date_flattened_preserving_siblings(self):
        r = N(
            {
                "_id": {"z": "v", "createdDateTime": {"$date": "2010-01-01T00:00:00.000Z"}},
                "_lastModifiedDateTime": "2018-12-01T15:01:02.000Z",
            }
        )
        assert r["id_modification"] == "FlattenedInnerDate"
        parsed = json.loads(r["id"])
        assert parsed["createdDateTime"] == "2010-01-01T00:00:00.000+0000"
        assert parsed["z"] == "v"
        # flattened field moves to end (Gson remove+add)
        assert list(parsed.keys()) == ["z", "createdDateTime"]

    def test_string_id_unmodified(self):
        r = N({"_id": "plain", "_lastModifiedDateTime": "2018-12-01T15:01:02.000Z"})
        assert r["id"] == "plain"
        assert r["id_modification"] == "UnmodifiedStringId"
        assert r["id_is_string"] and not r["id_was_modified"]

    def test_int_id_stringified(self):
        r = N({"_id": 42, "_lastModifiedDateTime": "2018-12-01T15:01:02.000Z"})
        assert r["id"] == "42"
        assert r["canonical_id"] == '{"id":"42"}'

    def test_array_id_invalid(self):
        r = N({"_id": [1, 2], "_lastModifiedDateTime": "2018-12-01T15:01:02.000Z"})
        assert not r["valid"] and r["skip_reason"] == "blank_id"

    def test_null_id_invalid(self):
        r = N({"_id": None})
        assert not r["valid"] and r["skip_reason"] == "blank_id"

    def test_missing_id_invalid(self):
        r = N({"x": 1})
        assert not r["valid"] and r["skip_reason"] == "blank_id"


class TestWrapperPromotion:
    def test_removed_promotion(self):
        r = N(
            {
                "_removed": {"_id": "A", "@type": "X", "f": 1},
                "_removedDateTime": {"$date": "2012-03-04T21:43:56.000Z"},
                "_lastModifiedDateTime": {"$date": "2018-12-01T15:01:02.000Z"},
                "timestamp": 1330897436000,
            }
        )
        assert r["valid"]
        assert r["is_removed"] and not r["is_archived"]
        assert r["inner_type"] == "MONGO_DELETE"
        body = json.loads(r["record_json"])
        assert body["@type"] == "MONGO_DELETE"  # overwritten in place
        assert body["f"] == 1
        assert body["timestamp"] == 1330897436000
        # version = removedDateTime
        assert r["version"] == parse_hdi_timestamp_millis("2012-03-04T21:43:56.000Z")

    def test_archived_promotion(self):
        r = N(
            {
                "_archived": {"_id": "A"},
                "_archivedDateTime": {"$date": "2014-03-02T12:34:56.000Z"},
                "_lastModifiedDateTime": {"$date": "2018-12-01T15:01:02.000Z"},
            }
        )
        assert r["is_archived"] and r["inner_type"] == "MONGO_DELETE"
        assert r["version"] == parse_hdi_timestamp_millis("2014-03-02T12:34:56.000Z")

    def test_delete_version_fallback_to_last_modified(self):
        # MessageUtilsTest.kt:410-473 fallback chain
        r = N(
            {
                "_removed": {"_id": "A"},
                "_lastModifiedDateTime": {"$date": "2018-12-01T15:01:02.000Z"},
            }
        )
        assert r["inner_type"] == "MONGO_DELETE"
        assert r["version"] == 1543676462000


class TestTimestampHierarchy:
    LM = "_lastModifiedDateTime"

    def test_year_rollover_counts_as_date_error_not_parse_error(self):
        """r14: the [0001,9999] rollover used to escape _kafka_or_raise
        as a bare ValueError and the blanket handler filed the record
        under parse_error — a date problem must land in date_errors."""
        r = N({"_id": "A", self.LM: {"$date": "0001-01-01T00:00:00.000+9959"}})
        assert r["valid"] is False
        assert r["skip_reason"] == "date_error"

    def test_date_wrapper_stripped(self):
        r = N({"_id": "A", self.LM: {"$date": "2018-12-01T15:01:02.000Z"}})
        assert r["last_modified"] == "2018-12-01T15:01:02.000+0000"
        assert r["timestamp_source"] == "_lastModifiedDateTimeStripped"
        # overwritten into body
        assert json.loads(r["record_json"])[self.LM] == "2018-12-01T15:01:02.000+0000"

    def test_plain_string_used_as_is(self):
        r = N({"_id": "A", self.LM: "2018-12-01T15:01:02.000Z"})
        assert r["last_modified"] == "2018-12-01T15:01:02.000Z"
        assert r["timestamp_source"] == self.LM
        # NOT rewritten into body (source field unchanged)
        assert json.loads(r["record_json"])[self.LM] == "2018-12-01T15:01:02.000Z"

    def test_fallback_to_created(self):
        r = N({"_id": "A", "createdDateTime": {"$date": "2015-03-20T12:23:25.183Z"}})
        assert r["last_modified"] == "2015-03-20T12:23:25.183+0000"
        assert r["timestamp_source"] == "createdDateTime"
        assert r["version"] == 1426854205183

    def test_fallback_to_epoch(self):
        r = N({"_id": "A"})
        assert r["last_modified"] == EPOCH_KAFKA
        assert r["timestamp_source"] == "epoch"
        assert r["version"] == EPOCH_MILLIS

    def test_object_without_date_falls_back(self):
        r = N({"_id": "A", self.LM: {"weird": 1}})
        assert r["timestamp_source"] == "epoch"

    def test_unparseable_date_wrapper_is_record_error(self):
        r = N({"_id": "A", self.LM: {"$date": "not-a-date"}})
        assert not r["valid"] and r["skip_reason"] == "date_error"

    def test_unparseable_plain_string_version_is_record_error(self):
        r = N({"_id": "A", self.LM: "not-a-date"})
        assert not r["valid"] and r["skip_reason"] == "date_error"

    def test_empty_string_lmdt_is_record_error_not_fallback(self):
        # docs/data_transformations.md:74-82 says empty values fall back to
        # createdDateTime, but the CODE path (HBaseWriter.kt:455-459 primitive
        # branch -> getTimestampAsLong("") throws) skips the record; the
        # code is authoritative (pinned by the reference's own behavior)
        r = N({"_id": "A", self.LM: "", "createdDateTime": "2015-03-20T12:23:25.183Z"})
        assert not r["valid"] and r["skip_reason"] == "date_error"


class TestOptionalDates:
    def test_created_flattened_and_overwritten(self):
        r = N(
            {
                "_id": "A",
                "createdDateTime": {"$date": "2015-03-20T12:23:25.183Z"},
                "_lastModifiedDateTime": "2018-12-01T15:01:02.000Z",
            }
        )
        assert r["created_datetime"] == "2015-03-20T12:23:25.183+0000"
        assert r["created_modified"]
        assert json.loads(r["record_json"])["createdDateTime"] == "2015-03-20T12:23:25.183+0000"

    def test_plain_string_not_modified(self):
        r = N({"_id": "A", "createdDateTime": "2015-03-20T12:23:25.183Z",
               "_lastModifiedDateTime": "x"}) if False else N(
            {"_id": "A", "createdDateTime": "2015-03-20T12:23:25.183Z",
             "_lastModifiedDateTime": "2018-12-01T15:01:02.000Z"})
        assert r["created_datetime"] == "2015-03-20T12:23:25.183Z"
        assert not r["created_modified"]

    def test_object_without_date_becomes_blank_modified(self):
        r = N({"_id": "A", "createdDateTime": {"x": 1},
               "_lastModifiedDateTime": "2018-12-01T15:01:02.000Z"})
        assert r["created_datetime"] == "" and r["created_modified"]

    def test_absent_blank_unmodified(self):
        r = N({"_id": "A", "_lastModifiedDateTime": "2018-12-01T15:01:02.000Z"})
        assert r["created_datetime"] == "" and not r["created_modified"]


class TestBodyPreservation:
    def test_nulls_and_unknown_keys_survive(self):
        rec = {
            "_id": "A",
            "unknown": {"nested": [1, 2, {"deep": None}]},
            "explicit_null": None,
            "unicode": "naïve £ ü",
            "_lastModifiedDateTime": "2018-12-01T15:01:02.000Z",
        }
        r = N(rec)
        body = json.loads(r["record_json"])
        assert body["unknown"] == {"nested": [1, 2, {"deep": None}]}
        assert "explicit_null" in body and body["explicit_null"] is None
        assert body["unicode"] == "naïve £ ü"

    def test_key_order_preserved(self):
        rec = {"_id": "A", "z": 1, "a": 2, "m": 3,
               "_lastModifiedDateTime": "2018-12-01T15:01:02.000Z"}
        r = N(rec)
        assert list(json.loads(r["record_json"]).keys()) == [
            "_id", "z", "a", "m", "_lastModifiedDateTime"
        ]

    def test_malformed_json_skipped(self):
        assert normalize_record('{"_id": {"a"')["skip_reason"] == "parse_error"
        assert normalize_record("[1,2]")["skip_reason"] == "parse_error"


class TestSerializerEquivalence:
    """The orjson fast path must be byte-identical to the stdlib fallback
    for every record shape the engine handles (operators/transforms.py
    _loads/_dumps_compact)."""

    CASES = [
        {"_id": {"$oid": "aabbccddeeff001122334455"}, "v": 1,
         "_lastModifiedDateTime": {"$date": "2020-03-01T10:00:00.000Z"}},
        {"_id": {"b": "2", "a": "1"}, "explicit_null": None,
         "unicode": "na\u00efve \u00a3 \u00fc", "nested": {"deep": [1, 2.5, None, True]},
         "createdDateTime": {"$date": "2019-01-01T00:00:00.000Z"}},
        {"_id": "plain", "_removed": {"_id": "plain", "x": 1},
         "_removedDateTime": {"$date": "2020-05-05T05:05:05.000Z"},
         "timestamp": 1588654005000},
        {"_id": {"createdDateTime": {"$date": "2017-02-02T09:01:01.000Z"},
                 "other": "k"}, "q": "r"},
    ]

    def test_orjson_and_stdlib_paths_agree(self, monkeypatch):
        import uc_historic_data_importer_spark.operators.transforms as tr
        if tr.orjson is None:
            pytest.skip("orjson not installed; only the stdlib path exists")
        for rec in self.CASES:
            raw = json.dumps(rec)
            fast = tr.normalize_record(raw)
            with monkeypatch.context() as m:
                m.setattr(tr, "orjson", None)
                slow = tr.normalize_record(raw)
            assert fast == slow, f"serializer divergence for {raw}"

    def test_exotic_floats_semantically_equal(self, monkeypatch):
        """orjson renders 1e-9/1.5e300 without zero-padding or '+' (both
        valid JSON, identical round-trip values); byte divergence is
        confined to these shapes and accepted — the reference's Gson
        rendering ('1.5E300') differs from stdlib python too."""
        import uc_historic_data_importer_spark.operators.transforms as tr
        if tr.orjson is None:
            pytest.skip("orjson not installed")
        raw = json.dumps({"_id": 42, "tiny": 1e-9, "big": 1.5e300})
        fast = tr.normalize_record(raw)
        with monkeypatch.context() as m:
            m.setattr(tr, "orjson", None)
            slow = tr.normalize_record(raw)
        assert json.loads(fast["record_json"]) == json.loads(slow["record_json"])
        assert {k: v for k, v in fast.items() if k != "record_json"} == {
            k: v for k, v in slow.items() if k != "record_json"
        }

    def test_huge_int_falls_back_to_stdlib(self):
        import uc_historic_data_importer_spark.operators.transforms as tr
        big = {"k": 2**70, "a": 1}
        assert tr._dumps_compact(big) == json.dumps(big, separators=(",", ":"))

    def test_loads_acceptance_is_environment_independent(self, monkeypatch):
        """Pinned parse acceptance (ADVICE r1): non-finite literals are
        rejected and >64-bit ints accepted IDENTICALLY with and without
        orjson — the same raw record must never parse on one cluster and
        skip as parse_error on another."""
        import uc_historic_data_importer_spark.operators.transforms as tr

        rejected = ['{"x": NaN}', '{"x": Infinity}', '{"x": -Infinity}']
        for raw in rejected:
            with pytest.raises(ValueError):
                tr._loads(raw)
            with monkeypatch.context() as m:
                m.setattr(tr, "orjson", None)
                with pytest.raises(ValueError):
                    tr._loads(raw)

        # >64-bit ints: orjson demotes to float; the stdlib path must too
        big = f'{{"x": {2**70}}}'
        v_fast = tr._loads(big)["x"]
        with monkeypatch.context() as m:
            m.setattr(tr, "orjson", None)
            v_slow = tr._loads(big)["x"]
        assert v_fast == v_slow == float(2**70)
        assert type(v_fast) is type(v_slow) is float
        # 64-bit boundary stays int in both
        edge = f'{{"x": {2**64 - 1}}}'
        assert tr._loads(edge)["x"] == 2**64 - 1
        with monkeypatch.context() as m:
            m.setattr(tr, "orjson", None)
            assert type(tr._loads(edge)["x"]) is int

    def test_exotic_literal_record_normalizes_identically(self, monkeypatch):
        """Records with bigint bodies normalize to the same values both
        ways (byte rendering of the demoted float may differ, like the
        accepted exotic-float divergence); NaN-bearing records skip as
        parse_error identically both ways."""
        import uc_historic_data_importer_spark.operators.transforms as tr

        if tr.orjson is None:
            pytest.skip("orjson not installed")
        ok = (
            f'{{"_id": {{"k": "exotic"}}, "big": {2**70},'
            ' "_lastModifiedDateTime": {"$date": "2020-01-01T00:00:00.000Z"}}'
        )
        fast = tr.normalize_record(ok)
        with monkeypatch.context() as m:
            m.setattr(tr, "orjson", None)
            slow = tr.normalize_record(ok)
        assert json.loads(fast["record_json"]) == json.loads(slow["record_json"])
        assert {k: v for k, v in fast.items() if k != "record_json"} == {
            k: v for k, v in slow.items() if k != "record_json"
        }
        assert fast.get("skip_reason") != "parse_error"

        bad = '{"_id": {"k": "exotic"}, "nan": NaN}'
        fast_bad = tr.normalize_record(bad)
        with monkeypatch.context() as m:
            m.setattr(tr, "orjson", None)
            slow_bad = tr.normalize_record(bad)
        assert fast_bad == slow_bad
        assert fast_bad.get("skip_reason") == "parse_error"
