#!/usr/bin/env python
"""sf1 soak extras (r8 verdict prescriptions #5 and #6): streaming
state-growth evidence and bulk-load sink throughput at 10x bench scale.

Streaming: the seven shapes are convergence-tested at fixture scale; the
100 TB risk is STATE-STORE growth. This drives the three stateful shapes
against the sf1 corpus under trigger(availableNow) with multiple real
micro-batches and records, per micro-batch, the state-operator metrics
Spark itself reports (numRowsTotal / numRowsRemoved /
numRowsDroppedByWatermark) — bounded state under watermark eviction is
then an observable artifact, not a claim.

Bulk load: hbase_bulkload_layout + write_hfiles is the import's critical
path at 100 TB; this records rows/s, bytes out and files per region for
a full sf1-events-sized KV frame (GZ blocks, ROW blooms — the cluster
defaults).

Usage: SPARK_GRAFT_SF_DIR=/tmp/hdi_sf1 python tools/soak_stream_state.py
Prints one JSON object; merge under BENCH_sf1_r09.json "extras".
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/tmp/hdi_sf1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def state_metrics(q) -> list[dict]:
    """Per-progress state-operator rows: the evidence of bounded state."""
    out = []
    for p in q.recentProgress:
        for so in p.get("stateOperators", []) or []:
            out.append(
                {
                    "batch": p.get("batchId"),
                    "operator": so.get("operatorName"),
                    "rows_total": so.get("numRowsTotal"),
                    "rows_updated": so.get("numRowsUpdated"),
                    "rows_removed": so.get("numRowsRemoved"),
                    "dropped_by_watermark": so.get("numRowsDroppedByWatermark"),
                }
            )
    return out


def main() -> None:
    from uc_historic_data_importer_spark.session import get_spark
    from uc_historic_data_importer_spark.plans.catalog_ext import (
        _parsed_event_stream,
        _stream_dump_fixture,
        _stream_events_fixture,
    )
    from uc_historic_data_importer_spark.streaming import stream_pipeline as sp

    spark = get_spark(
        app_name="hdi-sf1-soak-extras",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")
    report: dict = {"sf_dir": SF_DIR}
    works: list[str] = []

    # --- streaming_gap_sessions: watermark EVICTION is the scale story.
    # append mode + 1-file micro-batches: sessions whose end falls
    # behind the advancing watermark are emitted and their state rows
    # REMOVED between batches.
    t0 = time.time()
    work, in_dir = _stream_events_fixture(spark, SF_DIR, None, "sessions")
    works.append(work)
    stream = sp.session_counts_stream(
        _parsed_event_stream(spark, in_dir),
    )
    q = (
        stream.writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, "chk_sessions"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(900)
    q.stop()
    sess = state_metrics(q)
    report["streaming_gap_sessions"] = {
        "seconds": round(time.time() - t0, 3),
        "batches": sess,
        "final_state_rows": sess[-1]["rows_total"] if sess else None,
        "total_removed": sum(s["rows_removed"] or 0 for s in sess),
    }

    # --- streaming_latest_per_key: applyInPandasWithState. State is one
    # row per DISTINCT KEY by design (the current-state materialization
    # has no TTL — it IS the table); the scale evidence is state_rows ==
    # distinct keys, i.e. growth tracks key cardinality, not event count.
    t0 = time.time()
    work2, in_dir2 = _stream_dump_fixture(spark, SF_DIR)
    works.append(work2)
    stream2 = sp.latest_per_key_stream(
        sp.normalized_stream(sp.read_jsonl_stream(spark, in_dir2))
    )
    q2 = (
        stream2.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work2, "chk_latest"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(900)
    q2.stop()
    lat = state_metrics(q2)
    distinct_keys = (
        sp.normalized_stream_batch_keys(spark, in_dir2)
        .select("table", "key_hex").distinct().count()
    )
    n_events = None
    try:
        n_events = sum(
            1 for f in glob.glob(os.path.join(in_dir2, "*"))
            for _ in open(f)
        )
    except OSError:
        pass
    report["streaming_latest_per_key"] = {
        "seconds": round(time.time() - t0, 3),
        "batches": lat,
        "final_state_rows": lat[-1]["rows_total"] if lat else None,
        "distinct_keys": distinct_keys,
        "input_events": n_events,
    }

    # --- TTL variant (r9 verdict caveat #2): same fixture, but keys
    # idle past a business-time TTL are EVICTED once the watermark
    # passes their horizon — the evidence that executor state no longer
    # tracks total key cardinality is nonzero rows_removed and
    # final_state_rows << distinct_keys. The fixture's files are
    # hash-partitioned (not time-ordered), so the watermark races ahead
    # in batch 1 and most clamped horizons fire in the following
    # batches — the disorder regime the operator's docstring describes.
    t0 = time.time()
    stream2b = sp.latest_per_key_stream_ttl(
        sp.normalized_stream(sp.read_jsonl_stream(spark, in_dir2)),
    )
    q2b = (
        stream2b.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work2, "chk_latest_ttl"))
        .trigger(availableNow=True)
        .start()
    )
    q2b.awaitTermination(900)
    q2b.stop()
    ttl_m = state_metrics(q2b)
    report["streaming_latest_per_key_ttl"] = {
        "seconds": round(time.time() - t0, 3),
        "batches": ttl_m,
        "final_state_rows": ttl_m[-1]["rows_total"] if ttl_m else None,
        "total_removed": sum(s["rows_removed"] or 0 for s in ttl_m),
        "distinct_keys": distinct_keys,
    }

    # --- CDC merge sink: state lives in PARQUET snapshots, not executor
    # memory — the evidence is snapshot row count == distinct live keys
    # while input changes are 10x that, and executor state stays zero.
    t0 = time.time()
    work3 = tempfile.mkdtemp(prefix="hdi_sf1_cdc_")
    works.append(work3)
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).filter(
        F.col("event_id") % 20 < 4
    )
    changes_dir = os.path.join(work3, "changes")
    (
        ev.select(
            F.col("user_id").alias("k"),
            F.col("event_id").alias("seq"),
            # P/D is merge_changelog's documented vocabulary (a put
            # UPSERTS, HBase semantics). This soak emitted 'U' until
            # r13 — accepted only because pre-guard merge_changelog
            # silently treated ANY non-D op as a put; the r13
            # op-vocabulary assertion (which caught this) rejects it
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("P")).alias("op"),
            F.col("value").alias("v"),
        )
        # repartition, not coalesce: a small upstream read may have one
        # partition and coalesce cannot grow it — the soak needs >=4
        # part files so maxFilesPerTrigger=1 yields real micro-batches
        .repartition(4)
        .write.mode("overwrite").json(changes_dir)
    )
    n_changes = spark.read.json(changes_dir).count()
    ch_stream = (
        spark.readStream.format("json")
        .schema("k bigint, seq bigint, op string, v double")
        .option("maxFilesPerTrigger", 1)
        .load(changes_dir)
    )
    snap_base = os.path.join(work3, "snap")
    q3 = sp.run_changelog_merge_sink(
        ch_stream, snap_base, os.path.join(work3, "chk_cdc"),
        key_cols=["k"],
    )
    q3.awaitTermination(900)
    q3.stop()
    v = sp.latest_snapshot_version(spark, snap_base)
    snap_rows = (
        spark.read.parquet(os.path.join(snap_base, f"v={v}")).count()
        if v is not None else None
    )
    report["streaming_cdc_merge"] = {
        "seconds": round(time.time() - t0, 3),
        "input_changes": n_changes,
        "snapshot_version": v,
        "snapshot_rows": snap_rows,
        "executor_state_rows": 0,  # state is the parquet snapshot by design
    }

    # --- bulk-load throughput (prescription #6): full sf1 events as KV
    # cells through layout -> HFile v3 (GZ, ROW bloom), the W2 scale path.
    from uc_historic_data_importer_spark import sinks
    from uc_historic_data_importer_spark.functions.keys import (
        row_key_col,
        row_key_hex,
    )

    t0 = time.time()
    canonical = F.concat(
        F.lit('{"userId":"u-'), F.col("user_id"), F.lit("-"),
        (F.col("event_id") % 100000).cast("string"), F.lit('"}'),
    )
    kv = spark.read.parquet(os.path.join(SF_DIR, "events.parquet")).select(
        F.lit("events_db:soak").alias("table"),
        row_key_col(canonical).alias("key"),
        row_key_hex(canonical).alias("key_hex"),
        F.unix_millis(F.col("ts")).alias("version"),
        F.to_json(F.struct("event_id", "user_id", "event_type", "value"))
        .alias("envelope"),
    )
    n_regions = 32
    out_dir = os.path.join(work3, "hfiles")
    layout = sinks.hbase_bulkload_layout(
        kv, n_regions=n_regions, table="events_db:soak"
    )
    files = sinks.write_hfiles(layout, out_dir)
    secs = round(time.time() - t0, 3)
    n_rows = kv.count()
    bytes_out = sum(os.path.getsize(f) for f in files)
    report["bulkload_sf1"] = {
        "rows": n_rows,
        "seconds": secs,
        "rows_per_sec": round(n_rows / secs),
        "bytes_out": bytes_out,
        "files": len(files),
        "regions": n_regions,
        "files_per_region": round(len(files) / n_regions, 2),
        "compression": "gz",
        "bloom": "row",
        "mode": "sampled (repartitionByRange — fresh/empty table)",
    }

    # --- bulk load against an EXISTING table's region boundaries — the
    # dominant 100 TB mode (LoadIncrementalHFiles is a pure rename only
    # when every file fits one region). Split keys = the row-key
    # percentiles a RegionLocator would return; derived here from the
    # same kv frame, then the layout runs the size(filter(literal
    # array)) region-id expression + one hash shuffle per region.
    # percentile split keys via ntile boundaries (exact, one job; the
    # global-order window is fine for a measurement tool — production
    # split keys come from RegionLocator.getStartKeys(), not a sort).
    # Derivation is timed SEPARATELY: it is tool scaffolding, not part
    # of the write path being measured.
    from pyspark.sql import Window as _W

    t_der = time.time()
    bounds = (
        kv.select("key")
        .withColumn("_nt", F.ntile(n_regions).over(_W.orderBy("key")))
        .groupBy("_nt")
        .agg(F.min("key").alias("k"))
        .orderBy("_nt")
        .collect()
    )
    splits = [bytes(r["k"]) for r in bounds[1:]]  # first region start implicit
    split_derivation_s = round(time.time() - t_der, 3)
    t0 = time.time()
    out_dir2 = os.path.join(work3, "hfiles_aligned")
    layout2 = sinks.hbase_bulkload_layout(
        kv, region_split_keys=splits, table="events_db:soak"
    )
    files2 = sinks.write_hfiles(layout2, out_dir2)
    secs2 = round(time.time() - t0, 3)
    bytes2 = sum(os.path.getsize(f) for f in files2)
    report["bulkload_sf1_split_aligned"] = {
        "rows": n_rows,
        "seconds": secs2,
        "rows_per_sec": round(n_rows / secs2),
        "bytes_out": bytes2,
        "files": len(files2),
        "regions": len(splits) + 1,
        "files_per_region": round(len(files2) / (len(splits) + 1), 2),
        "compression": "gz",
        "bloom": "row",
        "mode": "split-key aligned (existing-table boundaries)",
        "split_derivation_s_untimed": split_derivation_s,
    }

    for w in works:
        shutil.rmtree(w, ignore_errors=True)
    print(json.dumps(report))


if __name__ == "__main__":
    main()
