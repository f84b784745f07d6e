"""Generate a deterministic bulk-load fixture for the real-HBase interop
harness: write_hfiles output (GZ + ROW bloom, the reference table's codec
— HbaseClient.kt:83-92) plus the sidecar files the in-container verifier
needs (expected cells, region split keys, table spec).

Usage (host side, repo env):
    PYTHONPATH=/root/repo python tools/hbase_interop/generate_hfiles.py \
        [--out tools/hbase_interop/out] [--n-keys 200]

Produces under --out:
    <namespace:table>/cf/*.hfile   bulk-load directory (completebulkload input)
    expected_cells.txt             rowhex|family|qualifier|ts|valuehex, sorted
    split_keys.txt                 region split keys, hex, one per line
    table_spec.txt                 namespace:table, family

The cell set deliberately exercises the interop surface: multi-versioned
rows (maxVersions=MAX_INT on the reference table), CRC32-prefixed binary
row keys spanning every region, JSON envelope values, and region-aligned
files via explicit split keys (LoadIncrementalHFiles' no-split fast path).
"""

from __future__ import annotations

import argparse
import binascii
import os
import sys

REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

TABLE = "demo:equality"  # namespace:table, created by load.rb
FAMILY = "cf"            # reference default (Config.kt:10)
QUALIFIER = "record"     # reference default (Config.kt:11)
SPLITS = [b"\x40", b"\x80", b"\xc0"]  # 4 regions over the CRC32 prefix


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(os.path.dirname(__file__), "out"))
    ap.add_argument("--n-keys", type=int, default=200)
    args = ap.parse_args(argv)
    if not 0 < args.n_keys <= 999_999:
        # the id is zero-padded to a FIXED 6 digits below; Spark's lpad
        # TRUNCATES beyond the pad width, which would silently collide
        # row keys (and break the lexicographic-vs-tuple sort agreement
        # between expected_cells.txt and verify.rb)
        raise SystemExit("--n-keys must be in 1..999999")

    from pyspark.sql import SparkSession, functions as F

    from uc_historic_data_importer_spark import sinks
    from uc_historic_data_importer_spark.functions.keys import row_key_col

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )

    # deterministic cells: every key gets version 1000, every third key a
    # second version 2000 (exercises multi-version cells under
    # maxVersions=MAX_INT), envelope is a small JSON document
    ids = spark.range(args.n_keys).select(
        F.concat(
            F.lit('{"someId":"GUID-'),
            F.lpad(F.col("id").cast("string"), 6, "0"),
            F.lit('"}'),
        ).alias("canonical_id"),
        F.col("id"),
    )
    versions = ids.select(
        "canonical_id", "id", F.lit(1000).alias("version")
    ).unionAll(
        ids.filter(F.col("id") % 3 == 0).select(
            "canonical_id", "id", F.lit(2000).alias("version")
        )
    )
    kv = versions.select(
        F.lit(TABLE).alias("table"),
        row_key_col(F.col("canonical_id")).alias("key"),
        F.col("version"),
        F.concat(
            F.lit('{"message":{"db":"demo","id":'),
            F.col("id").cast("string"),
            F.lit(',"v":'),
            F.col("version").cast("string"),
            F.lit("}}"),
        ).alias("envelope"),
    ).withColumn("key_hex", F.lower(F.hex(F.col("key"))))

    layout = sinks.hbase_bulkload_layout(
        kv, region_split_keys=SPLITS, table=TABLE,
    )
    os.makedirs(args.out, exist_ok=True)
    paths = sinks.write_hfiles(layout, args.out)  # GZ + ROW bloom defaults

    # sidecars for the in-container verifier
    cells = sorted(
        (
            r["key"].hex(), FAMILY, QUALIFIER, int(r["version"]),
            r["body"].encode().hex(),
        )
        for r in layout.collect()
    )
    with open(os.path.join(args.out, "expected_cells.txt"), "w") as fh:
        for c in cells:
            fh.write("|".join(str(x) for x in c) + "\n")
    with open(os.path.join(args.out, "split_keys.txt"), "w") as fh:
        for s in SPLITS:
            fh.write(binascii.hexlify(s).decode() + "\n")
    with open(os.path.join(args.out, "table_spec.txt"), "w") as fh:
        fh.write(f"{TABLE}\n{FAMILY}\n")

    print(f"wrote {len(paths)} hfiles, {len(cells)} cells -> {args.out}")
    for p in paths:
        print(" ", os.path.relpath(p, args.out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
