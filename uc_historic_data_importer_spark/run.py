"""Job runner — the batch-job entry point a reference user switches to.

Maps the reference's configuration surface (Spring properties /
docker-compose env, JobConfiguration.kt + docker-compose.yml:75-105) onto
the Spark pipeline:

    reference property          flag
    ------------------          ----
    s3.bucket + prefixes        --input-dir (+ repeatable --prefix)
    run mode (import/...)       --run-mode
    skip.earlier.than           --skip-earlier-than
    skip.later.than             --skip-later-than
    skip.existing.records       --existing-kv (the KV snapshot; given = on)
    perform.size.filtering      --max-object-size (0 = off)
    thread.count                --parallelism (cluster-wide, not a pool)
    data.key.service.url        --dks-url (omit -> sidecar plaintext key)
    (T8 re-encryption)          --data-key (base64 AES key; given = on)
    (output)                    --kv-path, --manifest-dir

Prints a run report (per-file F5 counters + totals, HBaseWriter.kt:309-317)
as JSON to stdout.

Usage:
    python -m uc_historic_data_importer_spark.run \
        --input-dir /data/dumps --kv-path /out/kv --manifest-dir /out/manifests \
        --skip-earlier-than 2000-01-02T12:34:56.000Z
"""

from __future__ import annotations

import argparse
import json
import sys
import uuid
from datetime import datetime, timezone


def build_parser() -> argparse.ArgumentParser:
    from uc_historic_data_importer_spark.sources.listing import MAX_OBJECT_SIZE

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--input-dir")
    p.add_argument("--prefix", action="append", default=None,
                   help="subdirectory prefix(es) to list (repeatable)")
    p.add_argument("--plain-jsonl", action="store_true",
                   help="inputs are plain .json/.json.gz files (no "
                        "encryption sidecars)")
    p.add_argument("--kv-path")
    p.add_argument("--manifest-dir")
    p.add_argument("--run-mode", default="import_and_manifest",
                   choices=["import", "manifest", "import_and_manifest"])
    p.add_argument("--skip-earlier-than", default=None)
    p.add_argument("--skip-later-than", default=None)
    p.add_argument("--existing-kv", default=None,
                   help="path of the KV snapshot; given, records already "
                        "in it are skipped (the F4 exists anti-join)")
    p.add_argument("--max-object-size", type=int, default=MAX_OBJECT_SIZE,
                   help="0 disables size filtering")
    p.add_argument("--parallelism", type=int, default=None)
    p.add_argument("--dks-url", default=None,
                   help="HTTP data-key service; omit to use the sidecar "
                        "plaintextDatakey (test env)")
    p.add_argument("--data-key", default=None,
                   help="base64 AES key; given, each record is "
                        "re-encrypted with it (T8)")
    p.add_argument("--key-encryption-key-id", default="",
                   help="KEK id recorded in the envelope encryption "
                        "block when re-encrypting (the DKS id that "
                        "wraps --data-key)")
    p.add_argument("--encrypted-data-key", default="",
                   help="base64 ciphertext of --data-key under the KEK "
                        "(envelope encryption block metadata)")
    p.add_argument("--master", default=None)
    # maintenance: versioned-KV compaction (HBase major-compaction analogue)
    p.add_argument("--compact-src", default=None,
                   help="compact this KV path instead of importing")
    p.add_argument("--compact-out", default=None)
    p.add_argument("--keep-versions", type=int, default=1)
    # maintenance: CDC changelog apply (incremental sibling of import)
    p.add_argument("--apply-changelog", default=None,
                   help="fold this changelog parquet (op P/D + seq) into "
                        "--snapshot-base instead of importing")
    p.add_argument("--snapshot-base", default=None)
    p.add_argument("--merge-keys", default="id",
                   help="comma-separated primary-key columns")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from uc_historic_data_importer_spark.session import get_spark
    from uc_historic_data_importer_spark.operators.envelope import RunContext
    from uc_historic_data_importer_spark.plans.pipeline import PipelineConfig, run
    from uc_historic_data_importer_spark.sources import listing as L
    from uc_historic_data_importer_spark.sources import metadata as M
    from uc_historic_data_importer_spark.sources.crypto_source import (
        read_encrypted_jsonl,
    )
    from uc_historic_data_importer_spark.sources.jsonl import read_jsonl_lines

    spark = get_spark(
        app_name="uc-historic-data-importer",
        master=args.master,
        shuffle_partitions=args.parallelism,
    )

    if args.compact_src:
        if not args.compact_out:
            print("--compact-out is required with --compact-src", file=sys.stderr)
            return 2
        from uc_historic_data_importer_spark import sinks

        sinks.compact_kv(
            spark, args.compact_src, args.compact_out, args.keep_versions
        )
        out = spark.read.parquet(args.compact_out)
        print(json.dumps({
            "mode": "compact",
            "kept_cells": out.count(),
            "keep_versions": args.keep_versions,
        }))
        return 0

    if args.apply_changelog:
        if not args.snapshot_base:
            print("--snapshot-base is required with --apply-changelog",
                  file=sys.stderr)
            return 2
        from uc_historic_data_importer_spark.streaming.stream_pipeline import (
            apply_changelog_batch,
            latest_snapshot_version,
        )

        changes = spark.read.parquet(args.apply_changelog)
        prev = latest_snapshot_version(spark, args.snapshot_base)
        batch_id = 0 if prev is None else prev + 1
        apply_changelog_batch(
            changes, batch_id, args.snapshot_base,
            [k.strip() for k in args.merge_keys.split(",") if k.strip()],
        )
        out = spark.read.parquet(f"{args.snapshot_base}/v={batch_id}")
        print(json.dumps({
            "mode": "apply_changelog",
            "snapshot_version": batch_id,
            "rows": out.count(),
        }))
        return 0

    if not args.input_dir:
        print("--input-dir is required for import runs", file=sys.stderr)
        return 2

    if args.plain_jsonl:
        lines = read_jsonl_lines(spark, args.input_dir)
    else:
        objects = L.list_local_objects(spark, args.input_dir, args.prefix)
        pairs = L.drop_zero_byte_pairs(L.pair_files(objects))
        if args.max_object_size:
            pairs = L.filter_oversized(pairs, args.max_object_size)
        pairs = M.parse_metadata(pairs)
        if args.dks_url:
            from uc_historic_data_importer_spark.sources.key_service import (
                HttpKeyService,
            )

            key_service: M.KeyService = HttpKeyService(args.dks_url)
        else:
            sidecars = pairs.select(
                "meta_path", "encrypted_encryption_key", "plaintext_datakey"
            ).collect()
            # without a key service the sidecar's plaintextDatakey IS the
            # data key: a sidecar lacking it fails here, naming the file,
            # not as a TypeError inside a decrypt task
            keyless = sorted(
                r["meta_path"]
                for r in sidecars
                if not (r["plaintext_datakey"] or "").strip()
            )
            if keyless:
                raise M.MetadataValidationError(
                    "no plaintextDatakey and no --dks-url to resolve the "
                    "data key: " + "; ".join(keyless[:5])
                )
            key_service = M.DummyKeyService({
                r["encrypted_encryption_key"]: r["plaintext_datakey"]
                for r in sidecars
            })
        keys = M.resolve_data_keys(pairs, key_service)
        lines = read_encrypted_jsonl(pairs, keys)

    # one clock reading: seconds and milliseconds of the same instant
    now = datetime.now(timezone.utc)
    cfg = PipelineConfig(
        run_mode=args.run_mode,
        skip_earlier_than=args.skip_earlier_than,
        skip_later_than=args.skip_later_than,
        skip_existing=args.existing_kv is not None,
        encrypt=args.data_key is not None,
        data_key_b64=args.data_key,
        key_encryption_key_id=args.key_encryption_key_id,
        encrypted_encryption_key=args.encrypted_data_key,
        run_context=RunContext(
            unit_of_work_id=str(uuid.uuid4()),
            timestamp=now.strftime("%Y-%m-%dT%H:%M:%S.")
            + f"{now.microsecond // 1000:03d}",
            trace_id=str(uuid.uuid4()),
        ),
    )
    existing = None
    if args.existing_kv:
        existing = spark.read.parquet(args.existing_kv)

    result = run(
        spark,
        lines,
        cfg,
        kv_path=args.kv_path,
        manifest_dir=args.manifest_dir,
        existing=existing,
    )
    per_file = [r.asDict() for r in result.counts.collect()]
    # every F5 counter, totalled over the files
    totals = {
        name: int(sum(r[name] or 0 for r in per_file))
        for name in result.counts.columns
        if name not in ("db", "collection", "file_number")
    }
    report = {
        "run_mode": cfg.run_mode,
        "files_processed": len(per_file),
        "records_processed": totals.pop("records_total"),
        **totals,
        "per_file": per_file,
    }
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
