"""Record normalization — operators T1-T7 + T10 of SURVEY.md §2.3.

One Arrow batch function, ``normalize_batch``, performs the full
per-record rewrite in a single pass over the raw JSON line, exactly
mirroring the reference's per-line sequence (HBaseWriter.kt:141-213):

    reformatRemoved (T1) -> reformatArchived (T2) -> normalisedId (T3)
    -> optionalDateTime x3 (T4) -> lastModifiedDateTime hierarchy (T5)
    -> conditional in-body overwrites (T7) -> version selection input
    [-> body encryption (T8), when given the run's data key]

Why a UDF and not Catalyst: record bodies have *unbounded dynamic schema*
(SURVEY.md §7.4.1). Every unknown key — including explicit nulls (Gson
``serializeNulls``, HBaseWriter.kt:123) and key insertion order — must
survive byte-for-byte. ``from_json``/``to_json`` round-trips require a
fixed schema and would drop/reorder fields, so the rewrite itself cannot
be expressed in Catalyst. Everything downstream of this UDF (keying,
filtering, envelope, sinks) IS pure Catalyst; encryption rides the same
pass because it needs Python too (a random IV per record).

Scale notes: the function runs once per record, Arrow-batched, no
shuffle, fully parallel across partitions, and returns a single struct
column so the JSON is parsed exactly once per record. The encrypted-dump
job calls it inside its decrypt task (sources/crypto_source.py); every
other frame reaches it through ``normalize_records``' Arrow UDF.
"""

from __future__ import annotations

import base64
import json
import os
from typing import Any

try:  # optional fast path; environment may lack it
    import orjson
except ImportError:  # pragma: no cover
    orjson = None  # type: ignore[assignment]


def _reject_nonfinite(name: str) -> float:
    raise ValueError(f"non-finite JSON literal: {name}")


def _int_orjson_semantics(s: str) -> int | float:
    # orjson parses integers inside [-2^63, 2^64) as int, demotes wider
    # ones to double, and REJECTS values that overflow the double
    # ("number is infinity when parsed as double" — verified) — mirror
    # all three, or the same record parses here and skips there.
    v = int(s)
    if -(2**63) <= v < 2**64:
        return v
    f = float(s)
    if f in (float("inf"), float("-inf")):
        raise ValueError("number is infinity when parsed as double")
    return f


def _float_orjson_semantics(s: str) -> float:
    # orjson rejects float literals that overflow a double (1e999);
    # stdlib would silently return inf, which json.dumps then renders
    # as the invalid-JSON token Infinity
    f = float(s)
    if f in (float("inf"), float("-inf")):
        raise ValueError("number is infinity when parsed as double")
    return f


def _strict_loads(raw: str) -> Any:
    """stdlib parse pinned to orjson's number semantics: NaN/Infinity
    literals rejected (also avoids orjson.dumps silently re-serializing
    non-finite floats as null), >64-bit integers demoted to double,
    double-overflowing numbers rejected."""
    return json.loads(
        raw,
        parse_constant=_reject_nonfinite,
        parse_int=_int_orjson_semantics,
        parse_float=_float_orjson_semantics,
    )


def _loads(raw: str) -> Any:
    """JSON parse on the fast path (orjson ~2x stdlib for record bodies).

    Pinned environment-independent behavior (ADVICE r1): the stdlib path
    is hooked to reject the NaN/Infinity literals orjson rejects and to
    demote >64-bit integers to float the way orjson does, so the same raw
    record parses to the same value (or skips with the same reason) with
    or without orjson installed."""
    if orjson is not None:
        return orjson.loads(raw)
    return _strict_loads(raw)


def _dumps_compact(obj: Any) -> str:
    """Compact serialization preserving key insertion order and non-ascii
    text (stdlib separators=(',', ':') / ensure_ascii=False semantics).
    orjson (~8x faster) differs only on exotic floats (1e300 renders
    without '+') and rejects >64-bit ints — fall back to stdlib there."""
    if orjson is not None:
        try:
            return orjson.dumps(obj).decode("utf-8")
        except TypeError:
            pass
    # allow_nan=False: non-finite floats cannot enter via _strict_loads,
    # but a direct caller must get a loud error, never the invalid-JSON
    # Infinity/NaN tokens
    return json.dumps(
        obj, separators=(",", ":"), ensure_ascii=False, allow_nan=False
    )

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from uc_historic_data_importer_spark.functions.dates import (
    EPOCH_KAFKA,
    kafka_date_format,
    parse_hdi_timestamp_millis,
)
from uc_historic_data_importer_spark.functions.json_canonical import (
    canonical_json,
    canonicalize_id,
)
from uc_historic_data_importer_spark.operators.envelope import aes_ctr_b64

MONGO_DELETE = "MONGO_DELETE"
MONGO_IMPORT = "MONGO_IMPORT"

LAST_MODIFIED = "_lastModifiedDateTime"
CREATED = "createdDateTime"
REMOVED_DT = "_removedDateTime"
ARCHIVED_DT = "_archivedDateTime"
KNOWN_DATE_FIELDS = (CREATED, LAST_MODIFIED, REMOVED_DT, ARCHIVED_DT)

LAST_MODIFIED_STRIPPED = "_lastModifiedDateTimeStripped"
EPOCH_FIELD = "epoch"

# Output schema of the normalization UDF. Kept flat-ish so downstream
# Catalyst expressions can prune individual fields.
NORMALIZED_SCHEMA = T.StructType(
    [
        T.StructField("valid", T.BooleanType()),
        T.StructField("skip_reason", T.StringType()),  # null | parse_error | blank_id | date_error
        T.StructField("record_json", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("id_modification", T.StringType()),
        T.StructField("id_is_string", T.BooleanType()),
        T.StructField("id_was_modified", T.BooleanType()),
        T.StructField("original_id", T.StringType()),
        T.StructField("canonical_id", T.StringType()),
        T.StructField("manifest_id", T.StringType()),
        T.StructField("created_datetime", T.StringType()),
        T.StructField("created_modified", T.BooleanType()),
        T.StructField("removed_datetime", T.StringType()),
        T.StructField("removed_modified", T.BooleanType()),
        T.StructField("archived_datetime", T.StringType()),
        T.StructField("archived_modified", T.BooleanType()),
        T.StructField("last_modified", T.StringType()),
        T.StructField("timestamp_source", T.StringType()),
        T.StructField("is_removed", T.BooleanType()),
        T.StructField("is_archived", T.BooleanType()),
        T.StructField("inner_type", T.StringType()),
        T.StructField("version", T.LongType()),
    ]
)

_EMPTY = {f.name: None for f in NORMALIZED_SCHEMA.fields}

# Output schema of the keyed (T8-fused) UDF: every normalized field plus
# the envelope's body ciphertext and its base64 IV, NULL on invalid rows.
KEYED_NORMALIZED_SCHEMA = T.StructType(
    NORMALIZED_SCHEMA.fields
    + [
        T.StructField("db_object", T.StringType()),
        T.StructField("iv", T.StringType()),
    ]
)


class _DateError(Exception):
    """Unparseable date inside a $date wrapper — record-level error
    (reference kafkaDateFormat raises, caught by the per-line try/catch
    HBaseWriter.kt:260-263)."""


def _kafka_or_raise(value: Any) -> str:
    out = kafka_date_format(value) if isinstance(value, str) else None
    if out is None:
        raise _DateError(f"Unparseable date found: '{value}'")
    return out


def _reformat_wrapper(record: dict, wrapper_field: str, date_field: str) -> tuple[dict, bool]:
    """T1/T2: promote a `_removed`/`_archived` sub-document to the root,
    copying root-level _lastModifiedDateTime, the wrapper's date field and
    `timestamp` into it (overwriting), then tagging @type=MONGO_DELETE
    (HBaseWriter.kt:338-364)."""
    wrapped = record.get(wrapper_field)
    if wrapper_field not in record or not isinstance(wrapped, dict):
        # reference getAsJsonObject would throw for non-object wrappers ->
        # record error; a missing key means "not wrapped"
        if wrapper_field in record:
            raise _DateError(f"{wrapper_field} is not an object")
        return record, False
    promoted = dict(wrapped)
    for field in (LAST_MODIFIED, date_field, "timestamp"):
        if field in record:
            promoted.pop(field, None)
            promoted[field] = record[field]
    # Gson addProperty = LinkedTreeMap.put: replaces in place when the key
    # exists (keeps position) — unlike copyField's remove+add (moves to end)
    promoted["@type"] = MONGO_DELETE
    return promoted, True


def _has_date_wrapper(obj: Any) -> bool:
    """hasDateField: value is an object with exactly one key `$date` whose
    value is a primitive (HBaseWriter.kt:435-437 area)."""
    return (
        isinstance(obj, dict)
        and len(obj) == 1
        and "$date" in obj
        and not isinstance(obj["$date"], (dict, list))
        and obj["$date"] is not None
    )


def _normalised_id(id_value: Any) -> tuple[str, str]:
    """T3 (HBaseWriter.kt:387-415). Returns (id, modification)."""
    if id_value is None:
        return "", "InvalidId"
    if isinstance(id_value, dict):
        obj = dict(id_value)
        if len(obj) == 1 and "$oid" in obj and not isinstance(obj["$oid"], (dict, list)) and obj["$oid"] is not None:
            return _primitive_str(obj["$oid"]), "FlattenedMongoId"
        if any(_has_date_wrapper(obj.get(f)) for f in KNOWN_DATE_FIELDS):
            for f in KNOWN_DATE_FIELDS:
                if _has_date_wrapper(obj.get(f)):
                    flattened = _kafka_or_raise(obj[f]["$date"])
                    obj.pop(f)
                    obj[f] = flattened
            return _dumps_compact(obj), "FlattenedInnerDate"
        return _dumps_compact(obj), "UnmodifiedObjectId"
    if isinstance(id_value, list):
        return "", "InvalidId"
    return _primitive_str(id_value), "UnmodifiedStringId"


def _primitive_str(v: Any) -> str:
    """Gson asJsonPrimitive.asString rendering: booleans lowercase, JSON
    floats keep their decimal point (Gson `2.0` -> "2.0")."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def _optional_datetime(parent: dict, name: str) -> tuple[str, bool]:
    """T4 (HBaseWriter.kt:473-502). Returns (value, was_modified)."""
    if name not in parent:
        return "", False
    incoming = parent[name]
    if isinstance(incoming, dict):
        if _has_date_wrapper(incoming):
            return _kafka_or_raise(incoming["$date"]), True
        return "", True
    if incoming is None or isinstance(incoming, list):
        return "", True
    return _primitive_str(incoming), False


def _last_modified(parent: dict, created: str) -> tuple[str, str]:
    """T5 (HBaseWriter.kt:439-471). Returns (value, source_field).

    The fallback source label is decided by BRANCH, not value equality:
    a createdDateTime that legitimately equals the 1980 epoch string
    must still report timestamp_created_from=createdDateTime (the
    reference labels by which field supplied the value)."""
    if created.strip():
        fallback, fallback_field = created, CREATED
    else:
        fallback, fallback_field = EPOCH_KAFKA, EPOCH_FIELD
    if LAST_MODIFIED not in parent:
        return fallback, fallback_field
    incoming = parent[LAST_MODIFIED]
    if isinstance(incoming, dict):
        if _has_date_wrapper(incoming):
            return _kafka_or_raise(incoming["$date"]), LAST_MODIFIED_STRIPPED
        return fallback, fallback_field
    if incoming is None or isinstance(incoming, list):
        return fallback, fallback_field
    return _primitive_str(incoming), LAST_MODIFIED


def normalize_record(raw_json: str) -> dict:
    """Full per-record normalization; pure function used by the UDF and by
    unit tests. Mirrors HBaseWriter.kt:141-213 end to end."""
    out = dict(_EMPTY)
    out["valid"] = False
    try:
        record = _loads(raw_json)
        if not isinstance(record, dict):
            out["skip_reason"] = "parse_error"
            return out
    except (ValueError, TypeError):
        out["skip_reason"] = "parse_error"
        return out

    try:
        record, is_removed = _reformat_wrapper(record, "_removed", REMOVED_DT)
        record, is_archived = _reformat_wrapper(record, "_archived", ARCHIVED_DT)

        original_id = record.get("_id")
        rec_id, id_modification = _normalised_id(original_id)
        if not rec_id.strip() or rec_id == "null":
            out["skip_reason"] = "blank_id"
            out["id_modification"] = id_modification
            return out

        created, created_mod = _optional_datetime(record, CREATED)
        removed, removed_mod = _optional_datetime(record, REMOVED_DT)
        archived, archived_mod = _optional_datetime(record, ARCHIVED_DT)
        last_modified, ts_source = _last_modified(record, created)

        # T7: conditional overwrites, preserving all other keys + order
        if id_modification == "FlattenedMongoId":
            record.pop("_id", None)
            record["_id"] = rec_id
        elif id_modification == "FlattenedInnerDate":
            record.pop("_id", None)
            record["_id"] = _loads(rec_id)
        if ts_source != LAST_MODIFIED:
            record.pop(LAST_MODIFIED, None)
            record[LAST_MODIFIED] = last_modified
        if created_mod:
            record.pop(CREATED, None)
            record[CREATED] = created
        if removed_mod:
            record.pop(REMOVED_DT, None)
            record[REMOVED_DT] = removed
        if archived_mod:
            record.pop(ARCHIVED_DT, None)
            record[ARCHIVED_DT] = archived

        # T10: inner type from the (possibly promoted) body
        body_type = record.get("@type")
        inner_type = body_type if isinstance(body_type, str) else MONGO_IMPORT

        # K3: version selection (MessageUtils.kt:43-61) + millis parse
        if inner_type == MONGO_DELETE:
            version_string = removed if removed.strip() else (
                archived if archived.strip() else last_modified
            )
        else:
            version_string = last_modified
        version = parse_hdi_timestamp_millis(version_string)
        if version is None:
            # getTimestampAsLong throws ParseException -> record error
            out["skip_reason"] = "date_error"
            return out

        id_was_modified = id_modification in ("FlattenedMongoId", "FlattenedInnerDate")
        id_is_string = id_modification in ("UnmodifiedStringId", "FlattenedMongoId")

        # K1: canonical id for the row key (MessageUtils.getId over the
        # envelope: string ids wrapped as {"id": s}, object ids sorted)
        canonical = (
            canonicalize_id(rec_id)
            if id_is_string
            else canonical_json(_loads(rec_id))
        )

        # W5: manifest id fields (HBaseWriter.kt:250-256)
        manifest_id = rec_id if id_is_string else canonical
        if id_was_modified:
            if isinstance(original_id, dict):
                original = canonical_json(original_id)
            elif original_id is None or isinstance(original_id, list):
                original = ""
            else:
                original = _primitive_str(original_id)
        else:
            original = manifest_id

        out.update(
            valid=True,
            skip_reason=None,
            record_json=_dumps_compact(record),
            id=rec_id,
            id_modification=id_modification,
            id_is_string=id_is_string,
            id_was_modified=id_was_modified,
            original_id=original,
            canonical_id=canonical,
            manifest_id=manifest_id,
            created_datetime=created,
            created_modified=created_mod,
            removed_datetime=removed,
            removed_modified=removed_mod,
            archived_datetime=archived,
            archived_modified=archived_mod,
            last_modified=last_modified,
            timestamp_source=ts_source,
            is_removed=is_removed,
            is_archived=is_archived,
            inner_type=inner_type,
            version=version,
        )
        return out
    except _DateError:
        out["skip_reason"] = "date_error"
        return out
    except Exception:
        out["skip_reason"] = "parse_error"
        return out


def _with_ciphertext(out: dict, key: bytes) -> dict:
    """T8 on one normalized record: a valid body is AES-CTR encrypted
    under the batch key with a fresh random IV; invalid rows carry
    NULL ciphertext and IV."""
    if out["valid"]:
        iv = os.urandom(16)
        out["db_object"] = aes_ctr_b64(out["record_json"], key, iv)
        out["iv"] = base64.b64encode(iv).decode("ascii")
    else:
        out["db_object"] = out["iv"] = None
    return out


def normalize_batch(lines: list[str | None], data_key_b64: str | None = None) -> pa.StructArray:
    """Normalize a batch of raw JSON lines (str or None) into
    NORMALIZED_SCHEMA, or, given the run's data key,
    KEYED_NORMALIZED_SCHEMA with each valid body encrypted."""
    if data_key_b64 is None:
        outs = [normalize_record(line) for line in lines]
        return pa.array(outs, to_arrow_type(NORMALIZED_SCHEMA))
    key = base64.b64decode(data_key_b64)
    outs = [_with_ciphertext(normalize_record(line), key) for line in lines]
    return pa.array(outs, to_arrow_type(KEYED_NORMALIZED_SCHEMA))


def normalize_records(
    df: DataFrame,
    raw_col: str = "raw_json",
    min_partitions: int | None = None,
    data_key_b64: str | None = None,
) -> DataFrame:
    """Apply the full T1-T7/T10/K1/K3 normalization to a lines DataFrame.

    Input: any DataFrame with a `raw_col` string column (plus pass-through
    context columns such as db/collection/file_number/line_no).
    Output: input columns + `norm` struct column (NORMALIZED_SCHEMA).

    `data_key_b64`: the run's batch data key (T8). With a key, the same
    Python pass also encrypts each valid body and `norm` follows
    KEYED_NORMALIZED_SCHEMA (`db_object`/`iv` added, NULL on invalid
    rows), so the job crosses into Python once per record. The key
    rides the UDF closure, never a plan literal (see encrypt_body), and
    that UDF is non-deterministic for a second reason: its IVs are
    random, so a re-evaluation would yield different ciphertext.

    `min_partitions`: the UDF's parallelism equals the input partition
    count; a compact upstream source (one small parquet file, one
    decrypted dump) serializes the whole CPU-bound stage onto one core.
    When set, inputs with fewer partitions are round-robin repartitioned
    first — the shuffle is cheap relative to per-record Python. At real
    scale the input splits already provide parallelism and this is a
    no-op."""
    if min_partitions is not None and df.rdd.getNumPartitions() < min_partitions:
        df = df.repartition(min_partitions)
    schema = NORMALIZED_SCHEMA if data_key_b64 is None else KEYED_NORMALIZED_SCHEMA

    @F.arrow_udf(schema)
    def _normalize_udf(raw: pa.Array) -> pa.Array:
        return normalize_batch(raw.to_pylist(), data_key_b64)

    # The UDF is pure, but letting Catalyst treat it as deterministic
    # allows filter-pushdown to DUPLICATE the (expensive) evaluation below
    # exchanges: a filter on norm.valid gets rewritten to a second
    # ArrowEvalPython under the shuffle while the flatten projection keeps
    # the original above it — the whole normalize pass runs twice.
    # Blocking optimizer movement costs nothing (nothing useful can be
    # pushed through a dynamic-JSON rewrite).
    udf = _normalize_udf.asNondeterministic()
    return df.withColumn("norm", udf(F.col(raw_col)))
