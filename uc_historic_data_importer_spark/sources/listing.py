"""S1-S4: object listing, file-pair grouping, size filters.

Reference: S3Reader.kt:30-37,62-125 (paginated listing, suffix fan-out,
zero-byte pair skip) and KeyPairGenerator.kt:10-51 (regex pairing +
validation). Here listing yields a DataFrame of object descriptors backed
by a driver-side Arrow table; pairing reads those rows back without a
Spark job and classifies, pairs and validates them in one Python loop,
as the reference does in-process. Works against any Hadoop-visible FS
(file://, s3a://, ...) — at scale the listing itself is driver-side
metadata work exactly as in the reference.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass
from typing import Protocol

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# The dump filename, matched against the WHOLE name: <stem> is
# <db>.<collection>.<NNNN>.json (S3Reader.kt:30-37, KeyPairGenerator.kt:23,
# the HBaseWriter.kt:86-88 captures), followed by .gz.enc for a data
# object (group `data`) or .encryption.json for its sidecar. \w is
# ASCII-only, as in the reference's Java patterns. A name with anything
# else (db.c.0001.json.old.gz.enc, a non-ASCII db) is dropped, as the
# reference drops unmatched names with a warning (KeyPairGenerator.kt:29-37)
# instead of importing it with missing metadata.
_FILENAME = re.compile(
    r"(?P<stem>(?P<db>[\w-]+)\.(?P<collection>[\w-]+)\.(?P<number>[0-9]+)\.json)"
    r"(?:(?P<data>\.gz\.enc)|\.encryption\.json)",
    re.ASCII,
)

LISTING_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("size", T.LongType()),
    ]
)

PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("pair_stem", T.StringType()),
        T.StructField("stem", T.StringType()),
        T.StructField("data_path", T.StringType()),
        T.StructField("data_size", T.LongType()),
        T.StructField("meta_path", T.StringType()),
        T.StructField("meta_size", T.LongType()),
        T.StructField("db", T.StringType()),
        T.StructField("collection", T.StringType()),
        T.StructField("file_number", T.IntegerType()),
    ]
)

_INT_MAX = 2**31 - 1


class MissingMetadataError(Exception):
    """KeyPairGenerator.kt:40-46: a data file without its encryption
    metadata sidecar is a hard error."""


@dataclass
class ListPage:
    """One page of an object listing: (key, size) descriptors plus the
    continuation token for the next page (None on the last page)."""

    objects: list[tuple[str, int]]
    next_token: str | None = None


class ObjectLister(Protocol):
    """Pluggable listing backend (S1).

    Mirrors the S3 ListObjectsV2 shape (S3Reader.kt:79-97: request,
    follow nextContinuationToken while truncated) without binding to a
    client library: local filesystem, boto3, or a Hadoop FS wrapper all
    fit behind this one method."""

    def list_page(
        self, prefix: str, continuation_token: str | None
    ) -> ListPage: ...


class ListingError(Exception):
    """Page fetch failed after all retries (S3Exception analogue)."""


@dataclass
class LocalFsLister:
    """Local directory walk exposed through the paginated interface,
    1000 keys a page (the ListObjectsV2 page size)."""

    root: str

    def list_page(self, prefix: str, continuation_token: str | None) -> ListPage:
        base = os.path.join(self.root, prefix) if prefix else self.root
        keys = []
        for dirpath, _dirs, files in os.walk(base):
            for f in files:
                # absolute paths: the metadata stage compares these
                # listing paths against input_file_name()'s absolute
                # URIs, and the decrypt stage open()s them from
                # executor processes whose cwd is not the driver's — a
                # relative root would make every sidecar look missing
                p = os.path.abspath(os.path.join(dirpath, f))
                keys.append((p, os.path.getsize(p)))
        keys.sort()
        start = int(continuation_token) if continuation_token else 0
        page = keys[start : start + 1000]
        nxt = start + 1000
        return ListPage(page, str(nxt) if nxt < len(keys) else None)


@dataclass
class Boto3Lister:
    """S3 backend via boto3 ListObjectsV2 (S3Reader.kt:79-97 parity).

    Import-gated: constructing it without boto3 installed raises with a
    clear message; nothing else in the module needs the dependency.

    Emitted paths are SCHEME-QUALIFIED (``uri_prefix`` + key, default
    ``s3a://<bucket>/``): downstream consumers resolve listing paths
    directly — the sidecar text scan through Spark (which reads s3a
    natively) and the decrypt stage through its pluggable ``opener``
    seam (crypto_source.read_encrypted_jsonl) — so bare keys would
    resolve against the local filesystem and fail."""

    bucket: str
    client: object | None = None
    uri_prefix: str | None = None

    def __post_init__(self):
        if self.client is None:
            try:
                import boto3  # type: ignore[import-not-found]
            except ImportError as ex:  # pragma: no cover - env-dependent
                raise ImportError(
                    "Boto3Lister requires boto3; install it or inject a client"
                ) from ex
            self.client = boto3.client("s3")
        if self.uri_prefix is None:
            self.uri_prefix = f"s3a://{self.bucket}/"

    def list_page(self, prefix: str, continuation_token: str | None) -> ListPage:
        kwargs = {"Bucket": self.bucket, "Prefix": prefix}
        if continuation_token:
            kwargs["ContinuationToken"] = continuation_token
        resp = self.client.list_objects_v2(**kwargs)  # type: ignore[attr-defined]
        objects = [
            (self.uri_prefix + o["Key"], int(o["Size"]))
            for o in resp.get("Contents", [])
        ]
        token = (
            resp.get("NextContinuationToken")
            if resp.get("IsTruncated")
            else None
        )
        return ListPage(objects, token)


# S3Helper.kt:45-49 retry policy
LIST_MAX_ATTEMPTS = 5
LIST_INITIAL_BACKOFF_S = 1.0
LIST_BACKOFF_MULTIPLIER = 2.0


def list_objects(
    spark: SparkSession,
    lister: ObjectLister,
    prefixes: list[str] | None = None,
    sleep=time.sleep,
) -> DataFrame:
    """S1: enumerate all objects via a pluggable paginated lister.

    Follows continuation tokens until exhausted per prefix
    (S3Reader.kt:90-97) and retries each page fetch with exponential
    backoff (S3Helper.kt:33-49: 5 attempts, 1 s initial, x2). Listing is
    driver-side metadata work exactly as in the reference; the result is
    a small descriptor DataFrame that everything downstream consumes.
    Each key appears once, even under overlapping prefixes."""
    rows: dict[str, int] = {}
    for prefix in prefixes if prefixes else [""]:
        token: str | None = None
        while True:
            attempt, delay = 0, LIST_INITIAL_BACKOFF_S
            while True:
                try:
                    page = lister.list_page(prefix, token)
                    break
                except Exception as ex:
                    attempt += 1
                    if attempt >= LIST_MAX_ATTEMPTS:
                        raise ListingError(
                            f"listing prefix {prefix!r} failed after "
                            f"{LIST_MAX_ATTEMPTS} attempts: {ex}"
                        ) from ex
                    sleep(delay)
                    delay *= LIST_BACKOFF_MULTIPLIER
            for key, size in page.objects:
                rows.setdefault(key, size)
            token = page.next_token
            if token is None:
                break
    # an Arrow table becomes a LocalRelation whatever the Arrow conf; a
    # row list (or pandas with Arrow off) would back the listing with a
    # Python RDD that starts a worker on every rescan
    table = pa.table(
        [pa.array(rows.keys(), pa.string()), pa.array(rows.values(), pa.int64())],
        names=LISTING_SCHEMA.names,
    )
    return spark.createDataFrame(table, LISTING_SCHEMA)


def list_local_objects(spark: SparkSession, root: str, prefixes: list[str] | None = None) -> DataFrame:
    """S1: list objects under a directory tree (LocalFsLister behind the
    same paginated interface as the S3 backend)."""
    return list_objects(spark, LocalFsLister(root), prefixes)


def pair_files(listing: DataFrame) -> DataFrame:
    """S2: group keys into (data, metadata) pairs.

    - a file classifies ONLY on a whole-filename match of _FILENAME:
      names with extra components (e.g.
      `db.c.0001.json.old.gz.enc`) are dropped, exactly as the
      reference drops unmatched names with a warning
      (KeyPairGenerator.kt:29-37) — a suffix-only check would pass them
      through with NULL file_number and crash the decrypt stage;
    - the pair key is the DIRECTORY-QUALIFIED path stem (full path with
      the kind suffix stripped), not the bare filename: identically
      named files under different prefixes must pair with their OWN
      sidecar, not cross-join with every same-named one — the reference
      pairs on the full S3 key, which is unique;
    - stem (the `<db>.<collection>.<NNNN>.json` core,
      KeyPairGenerator.kt:23) is kept as a display column;
    - metadata-without-data is dropped (:47-50);
    - data-without-metadata raises (:40-46), naming up to 5 stems;
    - a file number beyond the int range raises, naming the object.

    The listing rows are collected (no Spark job on list_objects'
    local frame) and paired in one driver loop. Returns (pair_stem,
    stem, data_path, data_size, meta_path, meta_size, db, collection,
    file_number) as a local frame sorted by data_path."""
    data: dict[str, tuple] = {}  # pair stem -> (path, size, name match)
    meta: dict[str, tuple] = {}
    for path, size in listing.select("path", "size").collect():
        name = path.rsplit("/", 1)[-1]
        m = _FILENAME.fullmatch(name)
        if m:
            pair_stem = path[: len(path) - len(name) + m.end("stem")]
            (data if m["data"] else meta).setdefault(pair_stem, (path, size, m))
    bad = sorted(stem for stem in data if stem not in meta)
    if bad:
        raise MissingMetadataError(f"data objects without metadata: {bad[:5]}")
    rows = []
    for pair_stem, (data_path, data_size, m) in sorted(data.items(), key=lambda kv: kv[1][0]):
        meta_path, meta_size, _ = meta[pair_stem]
        file_number = int(m["number"])
        if file_number > _INT_MAX:
            raise ValueError(f"file number {m['number']} of {data_path!r} overflows int")
        rows.append(
            (pair_stem, m["stem"], data_path, data_size, meta_path, meta_size,
             m["db"], m["collection"], file_number)
        )
    columns = list(zip(*rows)) if rows else [[]] * len(PAIRS_SCHEMA)
    table = pa.table(columns, schema=to_arrow_schema(PAIRS_SCHEMA))
    return listing.sparkSession.createDataFrame(table, PAIRS_SCHEMA)


def drop_zero_byte_pairs(pairs: DataFrame) -> DataFrame:
    """S3 (S3Reader.kt:111-121): both objects zero bytes -> drop pair."""
    return pairs.filter(~((F.col("data_size") == 0) & (F.col("meta_size") == 0)))


# S4 default cap in bytes (ObjectSizeFilter.kt:12-21); run.py's
# --max-object-size defaults to it
MAX_OBJECT_SIZE = 2_200_000_000


def filter_oversized(pairs: DataFrame, max_size: int = MAX_OBJECT_SIZE) -> DataFrame:
    """S4 (ObjectSizeFilter.kt:12-21): optional, config-driven."""
    return pairs.filter(F.col("data_size") <= F.lit(max_size))
