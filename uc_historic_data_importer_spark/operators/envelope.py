"""T8 + T9: body encryption and the HDI message envelope (SURVEY.md §2.3).

T9 (MessageProducer.produceMessage, MessageProducer.kt:19-69) is built
entirely from Catalyst string/bool expressions — a `concat` of literal
fragments and columns, JVM-side in whole-stage codegen. We cannot use
``to_json(struct(...))`` because ``message._id`` is *polymorphic*: a JSON
object rendered inline for object ids, a quoted string otherwise
(MessageProducer.kt:40 `messageId = if (idIsString) "\"$id\"" else id`).
All spliced fields are structurally safe (base64, timestamps, [\\w-]+
names) except the id, which is itself JSON.

Run constants (unitOfWorkId = one UUID per run, wall-clock timestamp,
traceId, app version — MessageProducer.kt:37-39,88-90) are injectable so
tests and oracle comparisons are deterministic (SURVEY.md §7.4.5).

T8 (AESCipherService.kt:42-55): AES/CTR/NoPadding with a fresh random
16-byte IV per record, base64 output (aes_ctr_b64). The job runs it
inside the normalize pass (transforms.normalize_batch with a data
key); encrypt_body is the standalone Arrow-batched pandas UDF over a
body column. A pass-through mode keeps the pipeline fully deterministic
for correctness oracles (FIXTURES.md §4).
"""

from __future__ import annotations

import base64
import os
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@dataclass(frozen=True)
class RunContext:
    """Injectable per-run envelope constants."""

    unit_of_work_id: str
    timestamp: str  # yyyy-MM-dd'T'HH:mm:ss.SSS wall clock
    trace_id: str
    hdi_version: str = "0.1.0"


def _b(col: Column) -> Column:
    """Render a boolean column as JSON true/false text."""
    return F.when(col, F.lit("true")).otherwise(F.lit("false"))


def _json_escape(col: Column) -> Column:
    """Escape a record-derived string for splicing inside a JSON string
    literal (backslash first, then quote, then EVERY RFC 8259-forbidden
    control character U+0000..U+001F — \\n/\\r/\\t as their short
    escapes, the rest as \\u00XX; stopping at the common three would
    leave e.g. a vertical tab raw and the envelope unparseable).
    Literal F.replace, not regexp_replace — replacement-string '$'/'\\'
    metacharacters are exactly the bug class this avoids. Valid
    timestamps contain none of these characters, so the escape is
    byte-invisible on well-formed data; on garbage input it keeps the
    envelope parseable where a raw splice (the reference's Kotlin
    string template does splice raw) would emit broken JSON."""
    out = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    out = F.replace(out, F.lit('"'), F.lit('\\"'))
    short = {0x08: "\\b", 0x09: "\\t", 0x0A: "\\n", 0x0C: "\\f", 0x0D: "\\r"}
    for code in range(0x20):
        out = F.replace(
            out,
            F.lit(chr(code)),
            F.lit(short.get(code, f"\\u{code:04x}")),
        )
    return out


def envelope_col(
    ctx: RunContext,
    body_cipher: Column,
    key_encryption_key_id: Column,
    initialisation_vector: Column,
    encrypted_encryption_key: Column,
) -> Column:
    """Build the envelope JSON string (compact, fixed key order matching
    MessageProducer.kt:41-68). Expects normalized columns in scope."""
    message_id = F.when(
        F.col("id_is_string"),
        F.concat(F.lit('"'), F.col("id"), F.lit('"')),
    ).otherwise(F.col("id"))
    # already derived in the normalization pass (body @type, default
    # MONGO_IMPORT — MessageProducer.kt:36) — avoids re-parsing the
    # JSON. Escaped like last_modified: @type is a record-derived raw
    # string (an attacker-controlled '"' inside it would otherwise
    # break the envelope out of its string literal)
    inner_type = _json_escape(F.col("inner_type"))
    lmdt_altered = _b(F.col("timestamp_source") != F.lit("_lastModifiedDateTime"))
    return F.concat(
        F.lit('{"unitOfWorkId":"' + ctx.unit_of_work_id + '",'),
        F.lit('"timestamp":"' + ctx.timestamp + '",'),
        F.lit('"traceId":"' + ctx.trace_id + '",'),
        F.lit('"@type":"HDI",'),
        F.lit('"version":"' + ctx.hdi_version + '",'),
        F.lit('"message":{'),
        F.lit('"@type":"'), inner_type, F.lit('",'),
        F.lit('"_id":'), message_id, F.lit(","),
        F.lit('"mongo_format_stripped_from_id":'), _b(F.col("id_was_modified")), F.lit(","),
        F.lit('"last_modified_date_time_was_altered":'), lmdt_altered, F.lit(","),
        F.lit('"created_date_time_was_altered":'),
        _b((F.col("created_datetime") != "") & F.col("created_modified")), F.lit(","),
        F.lit('"removed_date_time_was_altered":'),
        _b((F.col("removed_datetime") != "") & F.col("removed_modified")), F.lit(","),
        F.lit('"archived_date_time_was_altered":'),
        _b((F.col("archived_datetime") != "") & F.col("archived_modified")), F.lit(","),
        F.lit('"historic_removed_record_altered_on_import":'), _b(F.col("is_removed")), F.lit(","),
        F.lit('"historic_archived_record_altered_on_import":'), _b(F.col("is_archived")), F.lit(","),
        # last_modified is the one record-derived raw string here (a
        # plain-string _lastModifiedDateTime or createdDateTime passes
        # through unparsed on non-delete paths) — escape it; the string
        # _id splice above stays reference-faithful raw
        # (MessageProducer.kt:40)
        F.lit('"_lastModifiedDateTime":"'), _json_escape(F.col("last_modified")), F.lit('",'),
        F.lit('"timestamp_created_from":"'), F.col("timestamp_source"), F.lit('",'),
        F.lit('"collection":"'), F.col("collection_out"), F.lit('",'),
        F.lit('"db":"'), F.col("db"), F.lit('",'),
        F.lit('"dbObject":"'), body_cipher, F.lit('",'),
        F.lit('"encryption":{'),
        F.lit('"keyEncryptionKeyId":"'), key_encryption_key_id, F.lit('",'),
        F.lit('"initialisationVector":"'), initialisation_vector, F.lit('",'),
        F.lit('"encryptedEncryptionKey":"'), encrypted_encryption_key, F.lit('"}}}'),
    )


# --- T8: AES-CTR body encryption -------------------------------------------

_CRYPTO_SCHEMA = T.StructType(
    [
        T.StructField("iv", T.StringType()),
        T.StructField("ciphertext", T.StringType()),
    ]
)


def aes_ctr_b64(text: str, key: bytes, iv: bytes) -> str:
    """base64 AES/CTR/NoPadding ciphertext of ``text`` (UTF-8) under
    ``key``/``iv`` — one record body (AESCipherService.kt:42-55)."""
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    enc = Cipher(algorithms.AES(key), modes.CTR(iv)).encryptor()
    ct = enc.update(text.encode("utf-8")) + enc.finalize()
    return base64.b64encode(ct).decode("ascii")


def _encrypt_series(
    body: pd.Series, key_b64, fixed_iv: bytes | None
) -> pd.DataFrame:
    """``key_b64`` is a per-record Series OR a single str (one batch
    key captured in the UDF closure)."""
    keys = (
        [key_b64] * len(body) if isinstance(key_b64, str) else key_b64
    )
    if body.isnull().any():
        # a NULL body reaching the cipher is a pipeline bug (the valid
        # filter runs upstream); text.encode(None) would surface as an
        # opaque AttributeError deep in an executor — name it instead
        raise ValueError(
            "encrypt_body: NULL record_json in batch; filter invalid "
            "records before encryption"
        )
    ivs, cts = [], []
    for text, kb64 in zip(body, keys):
        iv = fixed_iv if fixed_iv is not None else os.urandom(16)
        cts.append(aes_ctr_b64(text, base64.b64decode(kb64), iv))
        ivs.append(base64.b64encode(iv).decode("ascii"))
    return pd.DataFrame({"iv": ivs, "ciphertext": cts})


def encrypt_body(
    df: DataFrame,
    data_key_b64_col: str | None = None,
    body_col: str = "record_json",
    deterministic_iv: bytes | None = None,
    data_key_b64: str | None = None,
) -> DataFrame:
    """Add `db_object` (base64 ciphertext) and `iv` columns.

    AES/CTR/NoPadding with a per-record random 16-byte IV, exactly the
    reference cipher (AESCipherService.kt:42-55). `deterministic_iv` is a
    test hook (reference IVs are random, SURVEY.md §7.4.5).

    The key arrives EITHER per record (``data_key_b64_col``) or as one
    batch key (``data_key_b64``). The batch form ships the key in the
    cloudpickled UDF closure, NEVER as a plan literal: an F.lit'd key
    appears verbatim in explain() output, the Spark UI SQL tab, and
    persisted event logs — handing the run's decryption key to anyone
    with UI or history-server access."""
    if (data_key_b64_col is None) == (data_key_b64 is None):
        raise ValueError(
            "pass exactly one of data_key_b64_col / data_key_b64"
        )
    if deterministic_iv is not None and len(deterministic_iv) != 16:
        # r14 review batch 10: a wrong-length IV otherwise surfaces as
        # a cryptography ValueError INSIDE the executor UDF, mid-job,
        # with a stack trace pointing at Cipher() instead of the test
        # hook that passed it
        raise ValueError(
            f"deterministic_iv must be exactly 16 bytes, got "
            f"{len(deterministic_iv)}"
        )
    if "_enc" in df.columns:
        # skew.py-style reserved-name guard (r12 review batch 4): the
        # withColumn below would silently REPLACE a user column named
        # _enc and then DROP it
        raise ValueError(
            "input column '_enc' collides with encrypt_body's internal "
            "temp name; rename it first"
        )

    if data_key_b64 is not None:

        @F.pandas_udf(_CRYPTO_SCHEMA)
        def _udf(body: pd.Series) -> pd.DataFrame:
            return _encrypt_series(body, data_key_b64, deterministic_iv)

        res = _udf(F.col(body_col))
    else:

        @F.pandas_udf(_CRYPTO_SCHEMA)
        def _udf(body: pd.Series, key: pd.Series) -> pd.DataFrame:
            return _encrypt_series(body, key, deterministic_iv)

        res = _udf(F.col(body_col), F.col(data_key_b64_col))
    return df.withColumn("_enc", res).withColumn(
        "db_object", F.col("_enc.ciphertext")
    ).withColumn("iv", F.col("_enc.iv")).drop("_enc")


def passthrough_body(df: DataFrame, body_col: str = "record_json") -> DataFrame:
    """No-crypto mode: dbObject = the plaintext body, empty IV. The body
    JSON contains quotes, so the envelope's dbObject splice uses a
    JSON-escaped copy to stay valid JSON."""
    backslash = F.lit("\\")
    escaped = F.replace(
        F.replace(F.col(body_col), backslash, F.lit("\\\\")),
        F.lit('"'),
        F.lit('\\"'),
    )
    return df.withColumn("db_object", escaped).withColumn("iv", F.lit(""))


def with_envelope(
    df: DataFrame,
    ctx: RunContext,
    key_encryption_key_id: str = "",
    encrypted_encryption_key: str = "",
    encrypted: bool = False,
) -> DataFrame:
    """T9: add the `envelope` column. Expects `db_object`/`iv` columns from
    encrypt_body or passthrough_body.

    The encryption block must describe how `dbObject` is NOW encrypted —
    the reference stamps the freshly-obtained DKS data key
    (MessageProducer.kt:63-65, `dataKeyResult.dataKeyEncryptionKeyId` /
    `ciphertextDataKey`), never the source file's key. So an explicit
    run-level key id wins, and the source-metadata column is a fallback
    ONLY for passthrough runs (``encrypted=False``) that re-announce the
    original encryption. With ``encrypted=True`` (encrypt_body was
    applied) the fallback is DISABLED: stamping the SOURCE file's key
    against a body ciphered under a DIFFERENT key would make the data
    undecryptable by its own metadata — an empty block (key not
    recorded) is recoverable, a wrong one is not."""
    if "envelope" in df.columns:
        # r14 review batch 10 (with_table_names class): the envelope is
        # derived exactly once; an input already carrying one means a
        # caller bug and withColumn would silently REPLACE it
        raise ValueError(
            "input column 'envelope' collides with with_envelope's "
            "output column; rename it first"
        )

    def pick(run_value: str, source_col: str) -> Column:
        if run_value:
            return F.lit(run_value)
        if not encrypted and source_col in df.columns:
            return F.coalesce(F.col(source_col), F.lit(""))
        return F.lit("")

    return df.withColumn(
        "envelope",
        envelope_col(
            ctx,
            F.col("db_object"),
            pick(key_encryption_key_id, "key_encryption_key_id"),
            F.col("iv"),
            pick(encrypted_encryption_key, "encrypted_encryption_key"),
        ),
    )
