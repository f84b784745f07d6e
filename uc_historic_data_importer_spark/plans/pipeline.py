"""End-to-end pipeline (SURVEY.md §3 EP1/EP2 re-expressed).

One declarative DAG per run:

    file pairs (S1-S4) -> metadata + keys (S6-S7)
      -> decrypt/gunzip/split (S8-S10), one task per packed group of
         dumps over spark.range (no shuffle places them)  [or plain JSONL]
      -> normalize (T1-T7/T10/K1/K3) + body encrypt (T8), one Arrow
         pass; without encryption the body passes through
      -> row key (K2) + table names (W4); the raw line is dropped
      -> time-range status (F3) + exists status (F4, one existence
         join against the snapshot, no dedup of it) on every row
      -> [persisted] -> envelope (T9) on the valid rows
      -> KV sink (W2) + manifest sink (W5, its writer fed Arrow
         batches) + counts report (F5, one aggregate over the
         persisted frame — no join-back)

For encrypted dumps Python runs once per record, one task per packed
group of input files: the decrypt stage normalizes (and encrypts) each
batch it emits. Any other lines frame goes through the normalize Arrow
UDF. Every Python boundary of the job is Arrow.

Run modes (W7, HBaseWriter.kt:605-606): "import", "manifest",
"import_and_manifest".
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uc_historic_data_importer_spark.operators import filters as Filt
from uc_historic_data_importer_spark.operators.envelope import (
    RunContext,
    passthrough_body,
    with_envelope,
)
from uc_historic_data_importer_spark.operators.keying import flatten_normalized
from uc_historic_data_importer_spark.operators.naming import with_table_names
from uc_historic_data_importer_spark.operators.transforms import normalize_records
from uc_historic_data_importer_spark import sinks


@dataclass
class PipelineConfig:
    run_mode: str = "import_and_manifest"
    skip_earlier_than: str | None = None
    skip_later_than: str | None = None
    skip_existing: bool = True
    encrypt: bool = False
    data_key_b64: str | None = None  # per-run batch data key (T8)
    key_encryption_key_id: str = ""
    encrypted_encryption_key: str = ""
    run_context: RunContext = field(
        default_factory=lambda: RunContext(
            unit_of_work_id="00000000-0000-0000-0000-000000000000",
            timestamp="1970-01-01T00:00:00.000",
            trace_id="00000000-0000-0000-0000-000000000000",
        )
    )


@dataclass
class PipelineResult:
    records: DataFrame  # valid rows, normalized+enveloped, with filter_status
    putable: DataFrame  # records passing F2/F3/F4 (KV-sink bound)
    manifest: DataFrame  # manifest rows (W5)
    counts: DataFrame  # F5 accounting
    # the frame process_lines(persist=True) cached — the handle
    # unpersist() releases (records/putable/... are DERIVED from it, so
    # calling .unpersist() on them would not free the cache)
    persisted: DataFrame | None = None

    def unpersist(self) -> None:
        """Release the cached normalized frame (no-op when
        process_lines ran with persist=False or already released)."""
        if self.persisted is not None:
            self.persisted.unpersist()
            self.persisted = None


RUN_MODES = ("import", "manifest", "import_and_manifest")


def process_lines(
    lines: DataFrame,
    cfg: PipelineConfig,
    existing: DataFrame | None = None,
    persist: bool = False,
) -> PipelineResult:
    """Record lines -> fully processed DataFrames. `lines` must carry
    (db, collection, file_number, line_no, raw_json). The frame
    read_encrypted_jsonl returns (not one derived from it) is
    normalized inside its decrypt stage.

    ``persist=True`` caches the normalized frame (MEMORY_AND_DISK),
    without the raw line, with its filter status and, under
    ``encrypt=True``, its ciphertext and IVs: the per-record
    normalization UDF is the dominant pipeline cost and every downstream
    branch (putable, manifest, counts) derives from it — un-persisted, a
    run that materializes all of them re-executes the UDF once per
    branch, and each re-execution mints fresh IVs. The cached frame
    rides the result as ``result.persisted``; whoever drives the actions
    owns calling ``result.unpersist()`` when the last consumer has
    materialized (run() does this in a finally — a library caller
    looping process_lines(persist=True) must do the same or cached
    frames accumulate until LRU eviction)."""
    if cfg.run_mode not in RUN_MODES:
        # same fail-loud stance as parse_filter_bound: a typo'd mode
        # ('manifests', 'Import') would otherwise silently behave as
        # import_and_manifest and write to the store the mode was
        # meant to protect
        raise ValueError(
            f"unknown run_mode {cfg.run_mode!r}; expected one of {RUN_MODES}"
        )
    if cfg.encrypt and not cfg.data_key_b64:
        raise ValueError("encrypt=True requires data_key_b64")
    # T8 rides the normalize pass: the batch key is closure-captured
    # there, NOT F.lit — a plan-literal key is visible in explain()/the
    # Spark UI/event logs
    key = cfg.data_key_b64 if cfg.encrypt else None
    fused = getattr(lines, "_normalized", None)
    norm = fused(key) if fused else normalize_records(lines, data_key_b64=key)
    # nothing downstream reads the raw line: keep it out of the cache
    norm = with_table_names(flatten_normalized(norm)).drop("raw_json")
    # F3 + F4 as a status on EVERY row, so the F5 counts aggregate this
    # one frame. Invalid rows carry no version and no key, so they read
    # DoNotFilter and never match the snapshot; put_count also requires
    # valid. F4 is a status, not a drop: put_count then counts exactly
    # the rows delivered to the KV sink and filtered_exists is reported,
    # matching the reference's accounting (HBaseWriter.kt:309-314)
    norm = Filt.with_filter_status(norm, cfg.skip_earlier_than, cfg.skip_later_than)
    if cfg.skip_existing and existing is not None:
        norm = Filt.mark_existing(norm, existing)
    if persist:
        from pyspark import StorageLevel

        norm = norm.persist(StorageLevel.MEMORY_AND_DISK)

    valid = Filt.valid_records(norm)
    if not cfg.encrypt:
        valid = passthrough_body(valid)
    valid = with_envelope(
        valid,
        cfg.run_context,
        key_encryption_key_id=cfg.key_encryption_key_id,
        encrypted_encryption_key=cfg.encrypted_encryption_key,
        encrypted=cfg.encrypt,
    )
    return PipelineResult(
        records=valid,
        putable=valid.filter(F.col("filter_status") == Filt.FILTER_NOT),
        manifest=sinks.manifest_rows(valid),
        counts=Filt.filter_counts(norm),
        persisted=norm if persist else None,
    )


def run(
    spark: SparkSession,
    lines: DataFrame,
    cfg: PipelineConfig,
    kv_path: str | None = None,
    manifest_dir: str | None = None,
    existing: DataFrame | None = None,
    manifest_uploader=None,
    manifest_bucket: str = "",
    manifest_prefix: str = "",
) -> PipelineResult:
    """Materialize the sinks according to the run mode (W7).

    When ``manifest_uploader`` is given, each written manifest is also
    uploaded with the reference's W6 policy (retry x10, zero-byte skip,
    text/plain — sinks.send_manifest, StreamingManifestWriter.kt:14-49).

    The normalized frame, ciphertext included, is persisted ONLY for
    the duration of this call: the sinks plus the F5 counts report are
    the consumers and all read the one cached copy, so the KV sink
    writes exactly the IVs minted by the single normalize pass. The
    counts rows (one per (db, collection, file)) are materialized here
    while the cache is hot and returned as a small local frame, and the
    cache is released in a finally. Repeated run() calls therefore
    leave no cached frames behind. Consequence: ``result.records``/
    ``putable``/``manifest`` are still lazy plans — consuming them
    AFTER run() returns re-executes the pipeline, and under
    ``encrypt=True`` only that re-execution re-mints the per-record
    random IVs, yielding ciphertext that DIFFERS from what the sinks
    wrote. Derive post-run artifacts (e.g. an HFile bulk-load layout)
    from the written KV store, or use process_lines(persist=True) and
    own result.unpersist() yourself."""
    # persist the normalized frame across the sink fan-out: run_mode
    # validation happens inside process_lines (fail-loud on typos)
    result = process_lines(lines, cfg, existing=existing, persist=True)
    try:
        if cfg.run_mode != "manifest" and kv_path:
            sinks.kv_sink(result.putable, kv_path)
        if cfg.run_mode != "import" and manifest_dir:
            written = sinks.manifest_sink(result.manifest, manifest_dir)
            if manifest_uploader is not None:
                sinks.upload_manifests(
                    written, manifest_uploader, manifest_bucket, manifest_prefix
                )
        # the counts report is the last consumer of the cached frame:
        # materialize it while the cache is still hot, hand back a
        # driver-local frame. Built from an Arrow table (not a row list,
        # not pandas, which falls back to rows when Arrow is off) it is a
        # LocalRelation: no scan starts a Python worker
        result.counts = spark.createDataFrame(
            result.counts.toArrow(), schema=result.counts.schema
        )
    finally:
        result.unpersist()
    return result
