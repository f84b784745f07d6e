"""S5 + S8-S10: the encrypted-gzipped-JSONL stream source.

Reference pipeline per file (DecryptionProcessor.kt:26-44,
DecompressionProcessor.kt:14-29, HBaseWriter line loop :127-286):
AES/CTR/NoPadding decrypt -> gunzip -> line split, with line-resume on
stream failure. In Spark this is ONE mapInArrow stage, one task per
group of files: each task decrypts + gunzips its files and emits
(db, collection, file_number, line_no, raw_json) Arrow batches. Task
retry makes the reference's line-resume machinery (S10) unnecessary — a
failed task re-runs its whole file idempotently, and the sink dedups on
(key, version).

Files are packed into tasks the way Spark packs non-splittable files
(FilePartition): a dump at least one split in size gets a task of its
own, and small dumps share one, since every Python task pays a fixed
start-up cost whatever it reads. Under the pipeline each task also
normalizes its batches and emits ``norm`` in place of the raw line.
Files are streamed in 64 KB chunks and emitted in batches of at most
_EMIT_CHUNK lines — memory stays bounded regardless of file size.
"""

from __future__ import annotations

import base64
import gzip
import io
import zlib
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from uc_historic_data_importer_spark.operators.transforms import (
    KEYED_NORMALIZED_SCHEMA,
    NORMALIZED_SCHEMA,
    normalize_batch,
)

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

_EMIT_CHUNK = 10_000  # lines per emitted Arrow batch


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


def _pack_files(sizes: list[int], max_partition_bytes: int, open_cost: int, parallelism: int) -> list[list[int]]:
    """Group file indexes into tasks by Spark's rule for non-splittable
    files (FilePartition.maxSplitBytes + getFilePartitions): a split of
    ``min(maxPartitionBytes, max(openCost, sum(size + openCost) /
    parallelism))`` bytes, filled next-fit in decreasing size order,
    each file costing its size plus the open cost."""
    total = sum(size + open_cost for size in sizes)
    max_split = min(max_partition_bytes, max(open_cost, total // parallelism))
    tasks: list[list[int]] = []
    current: list[int] = []
    filled = 0
    # a stable sort: equal sizes keep their input (data_path) order
    for i in sorted(range(len(sizes)), key=lambda i: -sizes[i]):
        if current and filled + sizes[i] > max_split:
            tasks.append(current)
            current, filled = [], 0
        current.append(i)
        filled += sizes[i] + open_cost
    if current:
        tasks.append(current)
    return tasks


def _line_chunks(files: Iterator[dict], data_keys: dict, open_fn) -> Iterator:
    """Decrypt -> gunzip -> split the object of each file row, streamed
    as (file row, line_no of the first line, up to _EMIT_CHUNK lines)."""
    for row in files:
        path = row["data_path"]
        kpair = (row["key_encryption_key_id"], row["encrypted_encryption_key"])
        if kpair not in data_keys:
            # a bare KeyError on the tuple would name no file
            raise ValueError(
                f"no resolved data key for {path!r} (keyEncryptionKeyId={kpair[0]!r})"
                " — data_keys must come from resolve_data_keys on the SAME pairs frame"
            )
        try:
            with open_fn(path) as fh:
                stream = decrypt_stream(fh, data_keys[kpair], row["initialisation_vector"])
                with gzip.open(stream, "rt", encoding="utf-8") as text:
                    first, chunk = 1, []
                    for line in text:
                        chunk.append(line.rstrip("\n"))
                        if len(chunk) == _EMIT_CHUNK:
                            yield row, first, chunk
                            first, chunk = first + _EMIT_CHUNK, []
                    if chunk:
                        yield row, first, chunk
        except _STREAM_ERRORS as exc:
            # a truncated or corrupt object otherwise surfaces as a
            # bare EOFError/zlib.error that names no file
            raise ValueError(
                f"cannot read {path!r}: {type(exc).__name__}: {exc}"
            ) from exc


def read_encrypted_jsonl(
    pairs_with_meta: DataFrame,
    data_keys: dict[tuple[str, str], str],
    opener=None,
    n_files: int | None = None,
) -> DataFrame:
    """S8+S9+S10: file-pair rows -> decrypted, decompressed, line-split
    records DataFrame (LINES_SCHEMA). `data_keys` is the driver-resolved
    plaintext key map (sources/metadata.py) — small, shipped in the task
    closure (broadcast semantics).

    ``opener`` is the pluggable object-fetch seam (S5 for non-local
    stores): a callable ``path -> binary file-like`` cloudpickled to
    the executors; the default opens local paths and REFUSES
    scheme-qualified ones with a clear message. ``n_files``, when
    given, must equal the number of file rows.

    The file rows are read on the driver (no Spark job on
    parse_metadata's local frame) and packed into tasks by their
    ``data_size`` under the session's ``spark.sql.files.maxPartitionBytes``
    and ``openCostInBytes`` (_pack_files). The stage runs over
    ``spark.range`` with one id per partition: task ``t`` reads the file
    rows the stage closure holds for it, as it holds ``data_keys``
    (PySpark broadcasts a closure above 1 MB). No shuffle places the
    tasks, whatever the partitioning of the file rows.

    The frame carries ``_normalized(data_key_b64)``, this stage with a
    ``norm`` column (transforms.normalize_batch) in place of
    ``raw_json``, for process_lines."""
    open_fn = opener if opener is not None else _local_opener
    spark = pairs_with_meta.sparkSession
    cols = [
        "data_path",
        "db",
        "collection",
        "file_number",
        "key_encryption_key_id",
        "encrypted_encryption_key",
        "initialisation_vector",
    ]
    rows = pairs_with_meta.select(*cols, "data_size").collect()
    if n_files is not None and n_files != len(rows):
        raise ValueError(f"n_files={n_files} but the pairs frame holds {len(rows)} files")
    conf = spark._jsparkSession.sessionState().conf()
    tasks = [
        [{c: rows[i][c] for c in cols} for i in members]
        for members in _pack_files(
            [r["data_size"] for r in rows],
            conf.filesMaxPartitionBytes(),
            conf.filesOpenCostInBytes(),
            spark.sparkContext.defaultParallelism,
        )
    ]

    def stage(normalize: bool, data_key_b64: str | None = None) -> DataFrame:
        schema = LINES_SCHEMA
        if normalize:
            norm = KEYED_NORMALIZED_SCHEMA if data_key_b64 is not None else NORMALIZED_SCHEMA
            fields = [f for f in LINES_SCHEMA.fields if f.name != "raw_json"]
            schema = T.StructType(fields + [T.StructField("norm", norm)])

        def _expand(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            arrow_schema = to_arrow_schema(schema)
            files = (f for b in batches for t in b.column("id").to_pylist() for f in tasks[t])
            for row, first, chunk in _line_chunks(files, data_keys, open_fn):
                n_lines = len(chunk)
                per_line = {"line_no": range(first, first + n_lines), "raw_json": chunk}
                arrays = [
                    pa.array(
                        per_line[f.name] if f.name in per_line else [row[f.name]] * n_lines,
                        type=f.type,
                    )
                    for f in arrow_schema
                    if f.name != "norm"
                ]
                if normalize:
                    arrays.append(normalize_batch(chunk, data_key_b64))
                yield pa.RecordBatch.from_arrays(arrays, schema=arrow_schema)

        # one task id per partition: task t reads tasks[t]
        return spark.range(0, len(tasks), 1, max(len(tasks), 1)).mapInArrow(_expand, schema=schema)

    lines = stage(normalize=False)
    lines._normalized = lambda data_key_b64=None: stage(True, data_key_b64)
    return lines
