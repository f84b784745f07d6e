"""S5 + S8-S10: the encrypted-gzipped-JSONL stream source.

Reference pipeline per file (DecryptionProcessor.kt:26-44,
DecompressionProcessor.kt:14-29, HBaseWriter line loop :127-286):
AES/CTR/NoPadding decrypt -> gunzip -> line split, with line-resume on
stream failure. In Spark this is ONE mapPartitions-style stage over the
file-pair rows: each task decrypts + gunzips its files and emits
(db, collection, file_number, line_no, raw_json) rows. Task retry makes
the reference's line-resume machinery (S10) unnecessary — a failed task
re-runs its whole file idempotently, and the sink dedups on (key,
version).

Parallelism is per-file here (like the reference's thread pool, but
cluster-wide): one task per file, and the normalize UDF runs in that
same task, so a run's Python parallelism is its file count. Files are
streamed in 64 KB chunks — memory stays bounded regardless of file
size, like the reference's streaming readers.
"""

from __future__ import annotations

import base64
import gzip
import io
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

LINES_SCHEMA = T.StructType(
    [
        T.StructField("db", T.StringType()),
        T.StructField("collection", T.StringType()),
        T.StructField("file_number", T.IntegerType()),
        T.StructField("line_no", T.IntegerType()),
        T.StructField("raw_json", T.StringType()),
        T.StructField("data_path", T.StringType()),
        T.StructField("key_encryption_key_id", T.StringType()),
        T.StructField("encrypted_encryption_key", T.StringType()),
    ]
)

# What decrypt -> gunzip -> UTF-8 line split raises on a truncated or
# corrupt object.
_STREAM_ERRORS = (EOFError, gzip.BadGzipFile, zlib.error, UnicodeDecodeError)


def decrypt_stream(raw: io.BufferedIOBase, key_b64: str, iv_b64: str) -> io.BufferedIOBase:
    """AES-CTR decrypting wrapper (DecryptionProcessor.kt:26-44)."""
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    cipher = Cipher(
        algorithms.AES(base64.b64decode(key_b64)),
        modes.CTR(base64.b64decode(iv_b64)),
    )
    decryptor = cipher.decryptor()

    class _Reader(io.RawIOBase):
        _finalized = False

        def readable(self):
            return True

        def readinto(self, b):
            chunk = raw.read(len(b))
            if not chunk:
                # callers (gzip) may probe EOF repeatedly — finalize once
                if self._finalized:
                    return 0
                self._finalized = True
                out = decryptor.finalize()
            else:
                out = decryptor.update(chunk)
            n = len(out)
            b[:n] = out
            return n

    return io.BufferedReader(_Reader(), buffer_size=65536)


def _local_opener(path: str):
    """Default object opener: local filesystem only. Scheme-qualified
    paths (s3a://..., from Boto3Lister) need an injected opener — e.g.
    a boto3 ``get_object()["Body"]`` wrapper — because executor-side
    ``open()`` cannot resolve object-store URIs."""
    if "://" in path:
        raise ValueError(
            f"cannot open non-local path {path!r} with the default "
            "opener; pass read_encrypted_jsonl(opener=...) with an "
            "object-store client (e.g. boto3 Body stream)"
        )
    return open(path, "rb")


def read_encrypted_jsonl(
    pairs_with_meta: DataFrame,
    data_keys: dict[tuple[str, str], str],
    opener=None,
    n_files: int | None = None,
) -> DataFrame:
    """S8+S9+S10: file-pair rows -> decrypted, decompressed, line-split
    records DataFrame. `data_keys` is the driver-resolved plaintext key
    map (sources/metadata.py) — small, shipped in the task closure
    (broadcast semantics).

    ``opener`` is the pluggable object-fetch seam (S5 for non-local
    stores): a callable ``path -> binary file-like`` cloudpickled to
    the executors; the default opens local paths and REFUSES
    scheme-qualified ones with a clear message. ``n_files``
    short-circuits the repartition count (same contract as the
    similarity operators' n_rows): the caller usually knows the file
    count from the driver-resident listing, and the default
    ``files.count()`` re-executes the upstream lineage — including the
    whole-file sidecar scan — once more just to size partitions."""
    spark = pairs_with_meta.sparkSession
    open_fn = opener if opener is not None else _local_opener
    cols = [
        "data_path",
        "db",
        "collection",
        "file_number",
        "key_encryption_key_id",
        "encrypted_encryption_key",
        "initialisation_vector",
    ]
    files = pairs_with_meta.select(*cols)

    def _expand(iterator: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in iterator:
            for row in pdf.itertuples(index=False):
                kpair = (row.key_encryption_key_id, row.encrypted_encryption_key)
                if kpair not in data_keys:
                    # r14 review batch 11: a bare executor KeyError on
                    # the tuple told the operator nothing about WHICH
                    # file or what went wrong (a data_keys map resolved
                    # from a different/older pairs frame than the one
                    # being read)
                    raise ValueError(
                        f"no resolved data key for {row.data_path!r} "
                        f"(keyEncryptionKeyId={row.key_encryption_key_id!r})"
                        " — data_keys must come from resolve_data_keys "
                        "on the SAME pairs frame"
                    )
                key_b64 = data_keys[kpair]
                out_rows: list[dict] = []
                try:
                    with open_fn(row.data_path) as fh:
                        stream = decrypt_stream(fh, key_b64, row.initialisation_vector)
                        with gzip.open(stream, "rt", encoding="utf-8") as text:
                            for i, line in enumerate(text, start=1):
                                out_rows.append(
                                    {
                                        "db": row.db,
                                        "collection": row.collection,
                                        "file_number": int(row.file_number),
                                        "line_no": i,
                                        "raw_json": line.rstrip("\n"),
                                        "data_path": row.data_path,
                                        "key_encryption_key_id": row.key_encryption_key_id,
                                        "encrypted_encryption_key": row.encrypted_encryption_key,
                                    }
                                )
                                if len(out_rows) >= 10_000:
                                    yield pd.DataFrame(out_rows)
                                    out_rows = []
                except _STREAM_ERRORS as exc:
                    # a truncated or corrupt object otherwise surfaces as
                    # a bare EOFError/zlib.error that names no file
                    raise ValueError(
                        f"cannot read {row.data_path!r}: "
                        f"{type(exc).__name__}: {exc}"
                    ) from exc
                if out_rows:
                    yield pd.DataFrame(out_rows)

    # one task per file: range-partition the (tiny) file list on its
    # unique path so decrypt work spreads across the cluster exactly
    # like the reference's thread pool. Round-robin repartition(n) does
    # not hold this: each INPUT partition deals from its own random
    # offset, so files from different inputs collide on one task
    n = max(n_files if n_files is not None else files.count(), 1)
    return files.repartitionByRange(n, "data_path").mapInPandas(
        _expand, schema=LINES_SCHEMA
    )
