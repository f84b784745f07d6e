"""S6-S7: encryption-metadata parsing and data-key resolution.

S6 (EncryptionMetadataProcessor.kt:20-47): parse the sidecar JSON, assert
the three required fields are non-blank. The sidecars are read in one
distributed scan, collected once as Arrow: validation, key resolution
and the decrypt stage all read that one driver-side table. That scan is
the only Spark job of the sources stage: the pair rows arrive as a local
frame and are read back without one.

S7 (HttpKeyService.kt:35-81 + DataKeyProcessor.kt:16-28): decrypt the
per-file data key via the DKS HTTP service, memoized per
(keyId, encryptedKey). In Spark this is driver-side work: the distinct
key pairs per run are few (one per input file at most), so we resolve
them once on the driver from the local sidecar frame and broadcast the
plaintext map — the broadcast twin of the reference's in-process cache
(SURVEY.md §2.6 "broadcast join").

The KeyService is pluggable: tests use DummyKeyService (the sidecar's
plaintextDatakey field, present in the reference's own test fixtures —
sample_data.py:53-57); a real deployment implements decrypt() against a
key service endpoint. A 400 response is a hard error; other failures are
retryable (HttpKeyService.kt:58-76).
"""

from __future__ import annotations

import re
from typing import Protocol

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

METADATA_SCHEMA = T.StructType(
    [
        T.StructField("keyEncryptionKeyId", T.StringType()),
        T.StructField("encryptedEncryptionKey", T.StringType()),
        T.StructField("initialisationVector", T.StringType()),
        T.StructField("plaintextDatakey", T.StringType()),
    ]
)

REQUIRED_FIELDS = (
    "keyEncryptionKeyId",
    "encryptedEncryptionKey",
    "initialisationVector",
)


class MetadataValidationError(Exception):
    """EncryptionMetadataProcessor.kt:28-41: blank required field."""


class KeyService(Protocol):
    def decrypt_key(self, key_encryption_key_id: str, encrypted_key: str) -> str:
        """Return the base64 plaintext data key."""


class DummyKeyService:
    """Test-environment key service: the sidecar carries the plaintext key
    (as in the reference's own integration fixtures). decrypt_key is an
    identity lookup into the metadata provided at construction."""

    def __init__(self, plaintext_by_encrypted: dict[str, str]):
        self._map = plaintext_by_encrypted

    def decrypt_key(self, key_encryption_key_id: str, encrypted_key: str) -> str:
        return self._map[encrypted_key]


_META_COLS = (
    ("keyEncryptionKeyId", "key_encryption_key_id"),
    ("encryptedEncryptionKey", "encrypted_encryption_key"),
    ("initialisationVector", "initialisation_vector"),
    ("plaintextDatakey", "plaintext_datakey"),
)


def parse_metadata(pairs: DataFrame) -> DataFrame:
    """S6: parse every sidecar in one distributed scan, collected once as
    Arrow, and return the pair rows with the sidecar fields attached as a
    LocalRelation.

    The sidecar bodies are read with a whole-file text scan + from_json
    (executor-side, one task per file split) instead of a sequential
    driver loop: at 100 TB / 2.2 GB-max files that loop is ~50k+ serial
    file opens — minutes of driver time the reference itself spends on
    pool threads (EncryptionMetadataProcessor.kt:20-47), so Spark must
    not be MORE serial than Spring Batch. One small row per file reaches
    the driver, the same order of memory as the listing it already
    holds; the pair rows are joined to it there, so key resolution and
    the decrypt stage read a local frame and never rescan a sidecar.

    Validation (blank/missing required field, malformed JSON -> null
    struct, empty sidecar -> no row) raises MetadataValidationError with
    up to 5 offending sidecar paths — same bounded-error contract as the
    pairing stage (listing.py)."""
    spark = pairs.sparkSession
    # collect, not toArrow(): on pair_files' local frame a collect runs
    # no Spark job where toArrow() runs one
    rows = pa.Table.from_pylist(
        [r.asDict() for r in pairs.collect()], schema=to_arrow_schema(pairs.schema)
    )
    meta_paths = pc.unique(rows["meta_path"]).to_pylist()
    # input_file_name() is a URI: percent-escapes need decoding, but a
    # LITERAL '+' in a filename is legal URI-path syntax and must NOT
    # become a space (url_decode applies form-encoding rules) — protect
    # it as %2B first so both '+' and pre-escaped %2B round-trip. If
    # decoding fails (malformed escape), fall back to the RAW stripped
    # path — not the protected one, whose '+' -> '%2B' rewrite would
    # never match the listing
    stripped = F.regexp_replace(F.input_file_name(), "^file:/+", "/")
    local_path = F.coalesce(
        F.try_url_decode(F.regexp_replace(stripped, r"\+", "%2B")),
        stripped,
    )
    # load() expands its paths as Hadoop globs: escape the metacharacters
    # so a directory like "batch[1]" or "batch{a}" names itself
    globbed = [re.sub(r"([\\\[\]{}*?])", r"\\\1", p) for p in meta_paths]
    sidecars = (
        spark.read.format("text")
        .option("wholetext", "true")
        .load(globbed)
        .select(
            local_path.alias("meta_path"),
            F.from_json(F.col("value"), METADATA_SCHEMA).alias("_m"),
        )
        .select(
            "meta_path",
            *[F.col(f"_m.{src}").alias(alias) for src, alias in _META_COLS],
        )
        .toArrow()
        .sort_by("meta_path")
    )
    # blank = null or spaces only (Spark's trim(): a tab is not blank)
    required = [(src, alias) for src, alias in _META_COLS if src in REQUIRED_FIELDS]
    bad = []
    for r in sidecars.to_pylist():
        blank = [src for src, alias in required if not (r[alias] or "").strip(" ")]
        if blank:
            bad.append(f"blank {blank} in {r['meta_path']}")
    if bad:
        raise MetadataValidationError(
            "Failed to parse encryption metadata: " + "; ".join(bad[:5])
        )
    # an empty sidecar yields no row at all
    missing = sorted(set(meta_paths) - set(sidecars["meta_path"].to_pylist()))
    if missing:
        raise MetadataValidationError(
            "Failed to parse encryption metadata: no parseable sidecar "
            "content in " + "; ".join(missing[:5])
        )
    at = pc.index_in(rows["meta_path"], value_set=sidecars["meta_path"])
    for _, alias in _META_COLS:
        rows = rows.append_column(alias, sidecars[alias].take(at))
    return spark.createDataFrame(rows)


def resolve_data_keys(pairs_with_meta: DataFrame, key_service: KeyService) -> dict[tuple[str, str], str]:
    """S7: resolve each distinct (keyId, encryptedKey) once on the driver.

    Returns the plaintext-key map to broadcast into the decrypt stage —
    identical dedup semantics to the reference's memoized cache
    (HttpKeyService.kt:39-41,127). On parse_metadata's local frame the
    key columns are read without a Spark job."""
    keys: dict[tuple[str, str], str] = {}
    for kid, ek in pairs_with_meta.select(
        "key_encryption_key_id", "encrypted_encryption_key"
    ).collect():
        if (kid, ek) not in keys:
            keys[kid, ek] = key_service.decrypt_key(kid, ek)
    return keys
