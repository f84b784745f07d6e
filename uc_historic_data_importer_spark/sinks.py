"""W1-W7: sinks (SURVEY.md §2.5).

The test environment has no HBase; the default sink is the KV-parquet
layout: one row per versioned cell `(table, key, key_hex, version, body)`,
partitioned by `table` — the direct analogue of the reference's versioned
HBase cells (HbaseClient.kt:25-41, maxVersions unbounded). A "latest-wins"
current-state view is a query over it (operators/latest.py).

Byte-bounded batching (W1, HBaseWriter.kt:214-233) is moot here: the job
writes cells as parquet (`df.write` sizes files via partitioning) and as
HFile bulk-load files (`write_hfiles`), never as put RPCs.

Manifest CSV (W5): pipe-separated, commons-text `escapeCsv` semantics
(quote only when the value contains a quote or comma; embedded quotes
doubled — StreamingManifestWriter.kt:58-63), one file per input dump file
named `db.<db>.<uncoalesced-collection>-%06d.csv` (HBaseWriter.kt:124-127).
"""

from __future__ import annotations

import contextlib
import os
import struct
import sys

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def kv_sink(df: DataFrame, path: str) -> None:
    """W2/W3 analogue: versioned-cell parquet table partitioned by `table`.

    Partitioning by table = the namespace/DDL step (W3); parquet row
    groups give the GZ-compressed cell storage. At 100 TB add bucketing on
    key_hex (saveAsTable with bucketBy) so latest-per-key and the exists
    anti-join become shuffle-free; plain path-partitioned parquet keeps
    the local test hermetic."""
    (
        df.select("table", "key", "key_hex", "version", F.col("envelope").alias("body"))
        .write.mode("append")
        .partitionBy("table")
        .parquet(path)
    )


def compact_kv(
    spark,
    path: str,
    out_path: str,
    keep_versions: int = 1,
) -> None:
    """Major compaction for the versioned-cell table: rewrite keeping only
    the newest `keep_versions` VERSIONS per (table, key_hex), one cell per
    version.

    The reference's HBase tables keep maxVersions=MAX_INT and delegate
    cleanup to HBase compactions (HbaseClient.kt:83-92); an analytics
    engine owns that lifecycle itself. Semantics per HBase's cell model:
    a (key, version) pair holds ONE cell — duplicate appends in the KV
    log collapse (deterministically: max body wins, standing in for
    last-write-wins which an append log cannot order); keep_versions
    counts distinct versions via dense_rank. Both windows share the
    (table, key_hex) hash partitioning, so the whole compaction is ONE
    skew-free shuffle (CRC-prefixed keys) + a partitioned rewrite. Run
    periodically: afterwards every latest-per-key query scans
    keep_versions cells per key instead of the full history — at 100 TB
    the difference between reading the table and reading the live set."""
    from pyspark.sql.window import Window

    kv = spark.read.parquet(path)
    by_key = Window.partitionBy("table", "key_hex")
    version_rank = F.dense_rank().over(
        by_key.orderBy(F.desc("version"))
    )
    cell_pick = F.row_number().over(
        Window.partitionBy("table", "key_hex", "version").orderBy(F.desc("body"))
    )
    compacted = (
        kv.withColumn("_vr", version_rank)
        .withColumn("_cp", cell_pick)
        .filter((F.col("_vr") <= keep_versions) & (F.col("_cp") == 1))
        .drop("_vr", "_cp")
    )
    (
        compacted.write.mode("overwrite")
        .partitionBy("table")
        .parquet(out_path)
    )


def csv_escape(col: Column) -> Column:
    """commons-text StringEscapeUtils.escapeCsv: wrap in double quotes iff
    the value contains comma, quote, CR or LF; double embedded quotes."""
    needs = col.rlike('[",\n\r]')
    escaped = F.concat(F.lit('"'), F.regexp_replace(col, '"', '""'), F.lit('"'))
    return F.when(needs, escaped).otherwise(col)


def manifest_rows(df: DataFrame) -> DataFrame:
    """W5: project normalized records to manifest rows
    (HBaseWriter.kt:250-258; column order id|timestamp|db|collection|
    source|outerType|originalId|innerType per StreamingManifestWriter.kt:58-59).

    outerType is the envelope's @type — always "HDI" for produced
    envelopes (MessageProducer.kt:45)."""
    return df.select(
        F.col("manifest_id").alias("id"),
        F.col("version").alias("timestamp"),
        F.col("db"),
        F.col("collection_out").alias("collection"),
        F.lit("IMPORT").alias("source"),
        F.lit("HDI").alias("outer_type"),
        F.col("original_id").alias("original_id"),
        F.col("inner_type").alias("inner_type"),
        F.col("collection").alias("_uncoalesced_collection"),
        F.col("file_number").alias("_file_number"),
        F.col("line_no").alias("_line_no"),
    )


def manifest_lines(df: DataFrame) -> DataFrame:
    """Render manifest rows to the exact pipe-delimited line format."""
    cols = [
        "id",
        "timestamp",
        "db",
        "collection",
        "source",
        "outer_type",
        "original_id",
        "inner_type",
    ]
    line = F.concat_ws(
        "|", *[csv_escape(F.col(c).cast("string")) for c in cols]
    )
    return df.select(
        F.col("db").alias("_db"),
        F.col("_uncoalesced_collection"),
        F.col("_file_number"),
        F.col("_line_no"),
        line.alias("line"),
    )


def _clean_owned_dir(out_dir: str, suffix: str) -> None:
    """Owned-directory pre-clean for a file sink: delete every final
    ``*<suffix>`` file and every attempt temp under ``out_dir``. File
    names are input- or partition-derived, so a re-run that writes
    fewer files would otherwise return (and upload or bulk-load) a
    previous run's leftovers as current output."""
    for dirpath, _dirs, files in os.walk(out_dir):
        for f in files:
            if f.endswith(suffix) or f"{suffix}.tmp-" in f:
                os.remove(os.path.join(dirpath, f))


def _owned_files(out_dir: str, suffix: str) -> list[str]:
    return sorted(
        os.path.join(dirpath, f)
        for dirpath, _dirs, files in os.walk(out_dir)
        for f in files
        if f.endswith(suffix)
    )


@contextlib.contextmanager
def _task_outputs(open_output):
    """The task-safe file protocol of both file sinks. The yielded
    ``output(final)`` returns the objects ``open_output(tmp)`` opened
    for ``final``, opening it under an ATTEMPT-UNIQUE temp name on first
    use (task retries and speculative attempts never share a file). On
    exit every returned object is closed, in order, even if one close
    raises (ENOSPC on flush) — a first-failure abort would leak the
    rest of the fds for the executor's lifetime — and the first close
    error is raised only when the body succeeded, never masking the
    body's own exception. Only a fully written attempt reaches the
    ``os.replace`` renames; a crashed one leaves temp orphans that
    ``_clean_owned_dir`` removes on the next run."""
    from pyspark import TaskContext

    attempt = TaskContext.get().taskAttemptId()
    outputs: dict[str, tuple[str, tuple]] = {}  # final -> (temp, objects)

    def output(final: str) -> tuple:
        if final not in outputs:
            tmp = f"{final}.tmp-{attempt}"
            outputs[final] = (tmp, open_output(tmp))
        return outputs[final][1]

    try:
        yield output
    finally:
        errs = []
        for _tmp, objects in outputs.values():
            for obj in objects:
                try:
                    obj.close()
                except Exception as e:  # noqa: BLE001 — re-raised below
                    errs.append(e)
        if errs and sys.exc_info()[0] is None:
            raise errs[0]
    for final, (tmp, _objects) in outputs.items():
        os.replace(tmp, final)


def _write_partitions(df: DataFrame, open_output, write) -> None:
    """The one Python boundary of both file sinks: ``write(rows, output)``
    runs once per partition of ``df`` under ``_task_outputs(open_output)``,
    ``rows`` being the partition's rows as dicts read from mapInArrow's
    Arrow batches (no row is pickled). The stage yields no rows."""

    def task(batches):
        with _task_outputs(open_output) as output:
            write((r for b in batches for r in b.to_pylist()), output)
        yield from ()

    df.mapInArrow(task, "written boolean").collect()


def manifest_sink(df: DataFrame, out_dir: str) -> list[str]:
    """W5/W6: write one CSV per (db, uncoalesced collection, file number),
    named `db.<db>.<collection>-%06d.csv`.

    At the reference's own scale (thousands of input files, each modest),
    a per-file single-writer is correct and parallel across files: we
    repartition by the file identity so each task writes its own manifest
    from the Arrow batches of its partition (``_write_partitions``).
    Returns written file paths.

    Each file is written to an ATTEMPT-UNIQUE temp name and atomically
    os.replace()d into place when the task's iterator is exhausted: the
    repartition guarantees one PARTITION owns a given file, but task
    RETRIES and speculative execution can run two attempts of that
    partition concurrently — a shared truncate-on-open path would let a
    zombie prior attempt interleave writes into the live attempt's
    file. With rename-on-complete each attempt builds its own complete
    temp file and the last rename wins atomically (both attempts render
    identical content — the partition is deterministic after
    sortWithinPartitions — so winner identity is irrelevant). A killed
    attempt leaves only a `.tmp-*` orphan, which the final listing
    ignores and which the NEXT run into the same out_dir deletes up
    front (``_clean_owned_dir``, shared with write_hfiles — without it
    zombie-attempt orphans accumulate forever). CONTRACT: out_dir must
    be a filesystem visible to both the
    driver and the executors (local mode, NFS, or a fuse mount) — the
    python open()/os.listdir pair does not speak Hadoop FS URIs; a
    production S3 manifest store routes through df.write.csv instead
    (see the module docstring's W6 note)."""
    os.makedirs(out_dir, exist_ok=True)
    _clean_owned_dir(out_dir, ".csv")

    def _write(rows, output):
        for r in rows:
            name = f"db.{r['_db']}.{r['_uncoalesced_collection']}-{int(r['_file_number']):06d}.csv"
            output(os.path.join(out_dir, name))[0].write(r["line"] + "\n")

    _write_partitions(
        manifest_lines(df)
        .repartition("_db", "_uncoalesced_collection", "_file_number")
        # line order within each file matches the reference's sequential
        # writer (rows appended as the stream is read)
        .sortWithinPartitions(
            "_db", "_uncoalesced_collection", "_file_number", "_line_no"
        ),
        lambda tmp: (open(tmp, "w", encoding="utf-8"),),
        _write,
    )
    return _owned_files(out_dir, ".csv")


def hbase_bulkload_layout(
    df: DataFrame,
    n_regions: int = 32,
    region_split_keys: list[bytes] | None = None,
    table: str | None = None,
) -> DataFrame:
    """W2 at bulk scale: the exact DataFrame layout HBase HFile bulk
    load requires, as a plan (no HBase needed to produce or test it).

    The reference puts cells one batch at a time through the region
    servers' write path (HbaseClient.kt:25-41, with SKIP_WAL as its
    bulk-speed concession — Config.kt:27). The idiomatic 100 TB route
    bypasses region servers entirely: write HFiles and hand them to
    LoadIncrementalHFiles, which is WAL-free by design (the reference's
    skipWal flag taken to its conclusion). That requires the input
    KeyValues TOTALLY ORDERED by (rowkey, family, qualifier, timestamp
    DESC) with partition boundaries aligned to regions. Two alignment
    modes:

    - ``region_split_keys=None`` (default): repartitionByRange(
      n_regions) on the row key — Spark SAMPLES split points, giving
      contiguous, balanced key ranges. Right for a fresh/empty table
      (create it pre-split at these boundaries).
    - ``region_split_keys=[...]`` with ``table=`` — the EXISTING
      table's region start keys (what `RegionLocator.getStartKeys()[1:]`
      returns, sorted, first region's implicit empty start key
      excluded). Each row's region id is the count of split keys <= its
      key, and the shuffle targets exactly one partition per region.
      This is the LoadIncrementalHFiles contract: a file crossing a
      region boundary triggers the load-time split slow path; aligned
      files are pure renames. Region boundaries are PER TABLE, so the
      split list needs ``table=``: bucketing table B by table A's
      boundaries would silently produce boundary-crossing files.

    ``table=`` declares "this frame holds exactly this one table": a
    lazy raise_error guard on the table column fails the job on any
    other table name. sortWithinPartitions orders cells within each
    prospective HFile. Family ``cf`` and qualifier ``record`` mirror
    Config.kt:10-11. Feed the result to ``write_hfiles`` (pure-Python
    HFile v3 container) or to any connector that wants region-sorted
    cells."""
    if region_split_keys is not None and table is None:
        raise ValueError(
            "region_split_keys are one table's region boundaries; pass "
            "table= with them"
        )
    cells = df.select(
        F.col("key"),
        F.lit("cf").alias("family"),
        F.lit("record").alias("qualifier"),
        F.col("version"),
        F.col("envelope").alias("body"),
        F.col("table"),
    )
    if table is not None:
        # a lazy map-side raise_error branch on the table column itself:
        # nothing executes at plan time, and every downstream consumer
        # of `table` (partitioning, sort, write_hfiles dirs) flows
        # through the guard.
        cells = cells.withColumn(
            "table",
            F.when(F.col("table") == F.lit(table), F.col("table")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "hbase_bulkload_layout declared for table "
                            f"{table!r} but frame holds table "
                        ),
                        F.col("table"),
                    )
                )
            ),
        )
    # `table` leads both the partitioning and the within-partition sort:
    # the kv model carries multiple HBase tables in one DataFrame, and a
    # bulk-load file must never mix tables (each table gets its own
    # LoadIncrementalHFiles directory in write_hfiles). With a
    # single-table layout the leading constant changes nothing.
    if region_split_keys is not None:
        # Region id = count of split keys <= row key, as a BALANCED
        # binary-search CASE tree: O(log n) byte comparisons per row (a
        # real 100 TB table has THOUSANDS of regions; HBase's own
        # getStartKeys() lookup is a binary search for the same reason).
        # key == split counts; NULL/empty keys land in region 0; parity
        # with the filter-count is property-pinned in tests/test_hfile.py.
        splits = sorted(region_split_keys)

        def tree(lo: int, hi: int) -> F.Column:
            # invariant: splits[:lo] <= key, splits[hi:] > key
            if lo == hi:
                return F.lit(lo)
            mid = (lo + hi) // 2
            return F.when(
                F.lit(splits[mid]) <= F.col("key"), tree(mid + 1, hi)
            ).otherwise(tree(lo, mid))

        return (
            cells.withColumn("_region_id", tree(0, len(splits)))
            # hash-partition on (table, region id): every row of a
            # region lands in ONE partition (n_partitions == n_regions
            # keeps ids collision-free in expectation; collisions only
            # co-locate two regions in one task, never split one —
            # write_hfiles splits files per (table, region))
            .repartition(len(splits) + 1, "table", "_region_id")
            .sortWithinPartitions(
                "table", "key", "family", "qualifier", F.desc("version")
            )
        )
    return cells.repartitionByRange(
        n_regions, "table", "key"
    ).sortWithinPartitions(
        "table", "key", "family", "qualifier", F.desc("version")
    )


# --- HBase KeyValue wire format (public Apache HBase cell layout) ---
# These are the exact bytes HFileOutputFormat2 writes per cell for the
# Put the reference performs in HbaseClient.kt:25-41 (addColumn(family,
# qualifier, version-as-timestamp, body)). Serializing them here makes
# the bulk-load write path testable to the byte without HBase jars:
# an HFile's cell stream is these KeyValues in CellComparator order.
KEYVALUE_TYPE_PUT = 4


def keyvalue_bytes(
    row: bytes,
    family: bytes,
    qualifier: bytes,
    timestamp: int,
    value: bytes,
) -> bytes:
    """Serialize one Put cell in the HBase KeyValue wire layout:
    keyLen(i32) valueLen(i32) | rowLen(i16) row famLen(u8) family
    qualifier ts(i64) type(u8) | value."""
    key = (
        struct.pack(">H", len(row))
        + row
        + struct.pack(">B", len(family))
        + family
        + qualifier
        + struct.pack(">q", timestamp)
        + struct.pack(">B", KEYVALUE_TYPE_PUT)
    )
    return struct.pack(">ii", len(key), len(value)) + key + value


def write_hfiles(
    layout: DataFrame,
    out_dir: str,
) -> list[str]:
    """Write ``hbase_bulkload_layout`` output as REAL HFile v3 files —
    one per (table, region) per partition, under
    ``<out_dir>/<table>/<family>/``: each ``<out_dir>/<table>`` is
    exactly the bulk-load directory LoadIncrementalHFiles expects for
    that table (bulk load is a per-table operation, so a multi-table kv
    layout must never mix tables in one file or one directory).

    The container is the pure-Python writer in hfile.py (public Apache
    block/index/trailer format, CRC32-checksummed, single-level index);
    the cells are the byte-pinned KeyValue wire layout
    (tests/test_sinks.py::TestKeyValueWireParity vs HbaseClient.kt:25-41).
    Each task streams its partition's already-CellComparator-sorted
    cells, read as Arrow batches (``_write_partitions``, shared with
    manifest_sink), straight into one file at O(block) memory — a region's HFile
    costs one pass regardless of cell count, which is the property that
    makes this the 100 TB route (region servers never see the load; the
    reference's SKIP_WAL concession taken to its conclusion).

    Files are written to attempt-unique temp names and os.replace()d on
    task completion (same speculative-execution-safe contract as
    manifest_sink; out_dir must be executor-visible — local, NFS, or
    fuse). ``out_dir`` is OWNED by this writer: stale ``*.hfile`` /
    temp files from a previous run into the same directory are removed
    up front, because file names are partition-derived — a re-run that
    produces fewer partitions would otherwise leave the extra old
    files visible in the returned listing and in the bulk load.
    On a jar-equipped cluster HFileOutputFormat2 remains the
    alternative; this writer removes that classpath dependency.
    Blocks are GZ-compressed (the reference table's column family is GZ
    for both flush and compaction, HbaseClient.kt:88-89, so bulk-loaded
    files match the table codec and skip the 3-5x rewrite IO a
    compaction re-compress would cost at 100 TB) and every file carries
    a ROW bloom (the reference table inherits HColumnDescriptor's
    BloomType.ROW default, so cluster files carry one). Returns the
    written file paths."""
    from uc_historic_data_importer_spark.hfile import COMPRESSION_GZ, HFileWriter

    _clean_owned_dir(out_dir, ".hfile")
    has_region = "_region_id" in layout.columns

    def open_hfile(tmp: str) -> tuple:
        fh = open(tmp, "wb")
        # writer first: HFileWriter.close writes the index and trailer
        return HFileWriter(fh, compression=COMPRESSION_GZ), fh

    def _write(rows, output):
        from pyspark import TaskContext

        part = TaskContext.get().partitionId()
        writers: dict[tuple, HFileWriter] = {}
        for r in rows:
            fam = r["family"]
            tbl = r["table"]
            # explicit-split layouts carry _region_id: one file PER
            # REGION even when hash partitioning co-locates two
            # regions in one task — a file must never span a region
            # boundary (LoadIncrementalHFiles' split slow path)
            region = r["_region_id"] if has_region else None
            w = writers.get((tbl, fam, region))
            if w is None:
                stem = f"part-{part:05d}" + ("" if region is None else f"-r{int(region):05d}")
                fam_dir = os.path.join(out_dir, tbl, fam)
                # executor-side mkdir at first use: a driver-side
                # distinct() over the table/family columns would
                # execute the entire upstream plan a second time
                os.makedirs(fam_dir, exist_ok=True)
                w = output(os.path.join(fam_dir, f"{stem}.hfile"))[0]
                writers[(tbl, fam, region)] = w
            w.append_keyvalue(
                keyvalue_bytes(
                    bytes(r["key"]),
                    fam.encode(),
                    r["qualifier"].encode(),
                    int(r["version"]),
                    r["body"].encode()
                    if isinstance(r["body"], str)
                    else bytes(r["body"]),
                )
            )

    _write_partitions(layout, open_hfile, _write)
    return _owned_files(out_dir, ".hfile")


# StreamingManifestWriter.kt:14-49 upload policy
MANIFEST_MAX_ATTEMPTS = 10
MANIFEST_CONTENT_TYPE = "text/plain"


def send_manifest(
    uploader,
    manifest_path: str,
    bucket: str,
    prefix: str,
    sleep=None,
) -> bool:
    """W6: upload one manifest file with the reference's exact policy
    (StreamingManifestWriter.kt:14-49): retry up to
    ``MANIFEST_MAX_ATTEMPTS`` (10, HBaseWriter.kt:54-55), skip zero-byte
    manifests entirely (no upload, no delete), content-type text/plain with an
    x-amz-meta-title user-metadata entry, and delete the local file
    only after a successful put. Exhausting attempts logs-and-gives-up
    rather than raising — the reference treats a lost manifest as
    degraded, not fatal, because the importer can re-run in
    manifest-only mode (W7).

    ``uploader`` needs one method:
    ``put_object(bucket, key, data: bytes, content_type, metadata)``
    — a boto3 adapter is two lines; tests use a counting fake.
    Returns True when the manifest was uploaded or legitimately
    skipped, False when attempts were exhausted.

    A missing local file is a PERMANENT condition (already uploaded by
    a previous call — the post-upload delete — or removed out of band):
    it returns True immediately instead of burning all ten attempts and
    mislabeling the outcome as an exhausted upload. Transient failures
    back off ``attempt`` seconds between tries (``sleep``
    injectable) rather than hammering the store back-to-back."""
    import time

    sleep = sleep if sleep is not None else time.sleep
    name = os.path.basename(manifest_path)
    attempts = 0

    def backoff() -> None:
        # single accounting point for a failed attempt (local read OR
        # upload): count it, then back off linearly if tries remain
        nonlocal attempts
        attempts += 1
        if attempts < MANIFEST_MAX_ATTEMPTS:
            sleep(1.0 * attempts)

    while attempts < MANIFEST_MAX_ATTEMPTS:
        # the missing-LOCAL-file check wraps only the local reads: a
        # FileNotFoundError raised by uploader.put_object itself (a
        # missing cert/config file on the client) must NOT be
        # mislabeled "already uploaded" — it falls through to the
        # retry loop like any other client error
        try:
            size = os.path.getsize(manifest_path)
            if size == 0:
                return True  # zero-byte manifests are never uploaded
            with open(manifest_path, "rb") as fh:
                data = fh.read()
        except FileNotFoundError:
            # already uploaded-and-deleted (or removed out of band):
            # nothing to do, and retrying cannot change that
            return True
        except Exception:  # noqa: BLE001 - EIO/ESTALE/permission races
            # any OTHER local read failure is retryable like a client
            # error (give-up-not-raise: a lost manifest is degraded,
            # not fatal — the manifest-only re-run mode recovers it)
            backoff()
            continue
        try:
            uploader.put_object(
                bucket,
                f"{prefix}/{name}",
                data,
                content_type=MANIFEST_CONTENT_TYPE,
                metadata={"x-amz-meta-title": name},
            )
            with contextlib.suppress(FileNotFoundError):
                os.remove(manifest_path)  # raced removal = already gone
            return True
        except Exception:  # noqa: BLE001 - client errors vary
            backoff()
    return False


def upload_manifests(
    paths: list[str],
    uploader,
    bucket: str,
    prefix: str,
) -> dict[str, bool]:
    """Upload every manifest written by ``manifest_sink`` (driver-side:
    manifests are per-input-file and small — the reference uploads them
    sequentially from its writer thread too). Returns path -> outcome."""
    return {
        p: send_manifest(uploader, p, bucket, prefix)
        for p in paths
    }
