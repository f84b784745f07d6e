"""The benchmark's workloads.

``JobWorkload`` runs the HDI batch job the way ``uc_historic_data_importer_spark.run``
composes it: list, pair, size-filter, count, sidecar metadata, data keys,
decrypt, then ``pipeline.run`` into the KV and manifest sinks with the F5
counts collected. ``CatalogMix`` builds a fixed list of catalog queries
and forces each with a noop write.

Each workload has these entry points the runner calls:

- ``generate(seed, work)``: write (or reuse) the seeded inputs; no Spark.
- ``prepare(spark)``: bind the session (and the re-import snapshot).
- ``iterate()`` -> ``(wall_s, outputs)`` and ``check(outputs)`` -> problems.
- ``traced(tag)`` -> ``(spans, counts, outputs)``: the layer-by-layer pass;
  every Spark job it starts is tagged with a job group ``<span>#<tag>`` so
  the event log can be folded per layer afterwards.
- ``layer_metrics(spans, counts, groups, plain_wall)``: the per-layer
  figures of one traced pass.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import shutil
import time
import zlib
from dataclasses import asdict

import fixtures as FX

_CATALOG_TABLES = {
    "latest_per_key": ("events",),
    "anti_join_existing": ("events",),
    "revenue_by_nation": ("region", "nation", "customer", "orders", "lineitem"),
    "normalize_pipeline": ("events",),
    "dedup_minhash_lsh": ("documents",),
    "dedup_apply": ("documents",),
    "semantic_decontamination_lsh": ("embeddings",),
    "ann_ivf2_build": ("embeddings",),
    "text_language_id": ("documents",),
    "bloom_anti_join_lineitem": ("lineitem", "orders"),
}
CATALOG_QUERIES = tuple(_CATALOG_TABLES)

# event-log figures reported for every layer
EVENT_FIELDS = ("tasks", "cpu_s", "shuffle_write_mb", "spill_mb", "gc_s")
# the spans whose sum mirrors one run() iteration
MIRROR_SPANS = (
    "listing",
    "metadata",
    "key_service",
    "pipeline.persist",
    "sinks.kv",
    "sinks.manifest",
    "pipeline.counts",
)


def _catalog_queries() -> dict:
    """plans.catalog.QUERIES with every catalog module registered."""
    import uc_historic_data_importer_spark.plans.catalog_classic  # noqa: F401
    import uc_historic_data_importer_spark.plans.catalog_ext  # noqa: F401
    from uc_historic_data_importer_spark.plans.catalog import QUERIES

    return QUERIES


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _reset(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


class _Spans:
    """Wall-clock spans, each tagging the Spark jobs it starts."""

    def __init__(self, spark, tag: str):
        self._sc = spark.sparkContext
        self._tag = tag
        self.seconds: dict[str, float] = {}

    def __call__(self, name: str, fn):
        self._sc.setJobGroup(f"{name}#{self._tag}", name)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.seconds[name] = time.perf_counter() - t0
            self._sc.setJobGroup("", "")


class JobWorkload:
    def __init__(self, name: str, n_files: int, records_per_file: int, encrypt: bool, snapshot: bool):
        self.name = name
        self.n_files = n_files
        self.records_per_file = records_per_file
        self.encrypt = encrypt
        self.snapshot = snapshot
        self.fx: FX.DumpFixture | None = None
        self.wrong_expectation = False

    # -- inputs ---------------------------------------------------------
    def generate(self, seed: int, work: str) -> None:
        tag = f"{self.name}-{seed}-{self.n_files}x{self.records_per_file}"
        self.dir = os.path.join(work, "fixtures", tag)
        self.out = os.path.join(work, "out", self.name)
        meta = os.path.join(self.dir, "fixture.json")
        if os.path.exists(meta):
            with open(meta) as fh:
                self.fx = FX.DumpFixture(**json.load(fh))
        else:
            _reset(self.dir)
            self.fx = FX.write_dumps(
                os.path.join(self.dir, "dumps"), zlib.crc32(tag.encode()), self.n_files, self.records_per_file
            )
            with open(meta, "w") as fh:
                json.dump(asdict(self.fx), fh)
        # the batch data key the envelope encrypts cell bodies with (T8)
        self.data_key_b64 = base64.b64encode(hashlib.sha256(tag.encode()).digest()).decode()
        self.records = self.fx.n_records
        self.sizes = {
            "files": self.fx.n_files,
            "records": self.fx.n_records,
            "encrypted_mb": round(self.fx.encrypted_mb, 3),
        }

    def prepare(self, spark) -> None:
        from uc_historic_data_importer_spark.plans import pipeline as P

        self.spark = spark
        self.cfg = P.PipelineConfig(
            run_mode="import_and_manifest",
            skip_earlier_than=FX.SKIP_EARLIER_THAN,
            skip_later_than=FX.SKIP_LATER_THAN,
            skip_existing=self.snapshot,
            encrypt=self.encrypt,
            data_key_b64=self.data_key_b64 if self.encrypt else None,
            key_encryption_key_id=FX.KEY_ENCRYPTION_KEY_ID if self.encrypt else "",
            encrypted_encryption_key=FX.WRAPPED_BATCH_KEY if self.encrypt else "",
        )
        self.existing = spark.read.parquet(self.fx.snapshot) if self.snapshot else None

    # -- the job --------------------------------------------------------
    def _sources(self, span=None):
        """run.py's import path up to the decrypt input: returns the
        metadata-joined pairs, the file count and the data-key map."""
        from uc_historic_data_importer_spark.sources import listing as L
        from uc_historic_data_importer_spark.sources import metadata as M

        span = span or (lambda _name, fn: fn())

        def listing():
            objects = L.list_local_objects(self.spark, self.fx.root)
            pairs = L.filter_oversized(L.drop_zero_byte_pairs(L.pair_files(objects)))
            return pairs, pairs.count()

        pairs, n_files = span("listing", listing)
        pairs = span("metadata", lambda: M.parse_metadata(pairs))
        keys = span(
            "key_service",
            lambda: M.resolve_data_keys(pairs, M.DummyKeyService(self.fx.plaintext_keys)),
        )
        return pairs, n_files, keys

    def _paths(self) -> tuple[str, str]:
        kv, manifest = os.path.join(self.out, "kv"), os.path.join(self.out, "manifest")
        _reset(self.out)
        return kv, manifest

    def iterate(self):
        from uc_historic_data_importer_spark.plans import pipeline as P
        from uc_historic_data_importer_spark.sources.crypto_source import read_encrypted_jsonl

        kv, manifest = self._paths()
        t0 = time.perf_counter()
        pairs, n_files, keys = self._sources()
        lines = read_encrypted_jsonl(pairs, keys, n_files=n_files)
        result = P.run(self.spark, lines, self.cfg, kv_path=kv, manifest_dir=manifest, existing=self.existing)
        rows = result.counts.collect()
        wall = time.perf_counter() - t0
        return wall, (rows, kv, manifest)

    def traced(self, tag: str):
        """Prefix spans (each layer forced with a noop write, so a layer's
        self time is its prefix minus the previous one), then a mirror of
        run(): process_lines(persist=True) with the persisted frame counted,
        the two sinks and the counts collect, each timed."""
        from uc_historic_data_importer_spark import sinks as S
        from uc_historic_data_importer_spark.operators import envelope as E
        from uc_historic_data_importer_spark.operators import filters as Filt
        from uc_historic_data_importer_spark.operators.keying import flatten_normalized
        from uc_historic_data_importer_spark.operators.naming import with_table_names
        from uc_historic_data_importer_spark.operators.transforms import normalize_records
        from uc_historic_data_importer_spark.plans import pipeline as P
        from uc_historic_data_importer_spark.sources.crypto_source import read_encrypted_jsonl

        cfg = self.cfg
        kv, manifest = self._paths()
        span = _Spans(self.spark, tag)
        pairs, n_files, keys = self._sources(span)
        lines = read_encrypted_jsonl(pairs, keys, n_files=n_files)
        span("crypto_source", lambda: _noop(lines))
        norm = with_table_names(flatten_normalized(normalize_records(lines)))
        span("transforms", lambda: _noop(norm))
        valid = Filt.valid_records(norm)
        if cfg.encrypt:
            valid = E.encrypt_body(valid, data_key_b64=cfg.data_key_b64)
        else:
            valid = E.passthrough_body(valid)
        valid = E.with_envelope(
            valid,
            cfg.run_context,
            key_encryption_key_id=cfg.key_encryption_key_id,
            encrypted_encryption_key=cfg.encrypted_encryption_key,
            encrypted=cfg.encrypt,
        )
        span("envelope", lambda: _noop(valid))
        valid = Filt.with_filter_status(valid, cfg.skip_earlier_than, cfg.skip_later_than)
        if self.existing is not None:
            valid = Filt.mark_existing(valid, self.existing)
        span("filters", lambda: _noop(valid))

        result = P.process_lines(lines, cfg, existing=self.existing, persist=True)
        try:
            span("pipeline.persist", lambda: result.persisted.count())
            span("sinks.kv", lambda: S.kv_sink(result.putable, kv))
            span("sinks.manifest", lambda: S.manifest_sink(result.manifest, manifest))
            rows = span("pipeline.counts", lambda: result.counts.collect())
        finally:
            result.unpersist()
        totals = {k: sum(int(r[k] or 0) for r in rows) for k in FX.COUNT_FIELDS}
        n_valid = totals["records_total"] - totals["parse_errors"] - totals["date_errors"] - totals["blank_ids"]
        counts = {
            "key_service.keys": len(keys),
            "crypto_source.partitions": lines.rdd.getNumPartitions(),
            "crypto_source.in_mb": self.fx.encrypted_mb,
            "crypto_source.lines": totals["records_total"],
            "transforms.valid_ratio": n_valid / max(totals["records_total"], 1),
            "filters.put_ratio": totals["put_count"] / max(n_valid, 1),
            "sinks.kv_rows": _parquet_rows(kv),
            "sinks.kv_mb": _dir_mb(kv),
            "sinks.manifest_files": sum(f.endswith(".csv") for f in os.listdir(manifest)),
        }
        return span.seconds, counts, (rows, kv, manifest)

    def layer_metrics(self, spans, counts, groups, plain_wall: float) -> dict[str, float]:
        """Per-layer figures of one traced pass. ``groups`` is the event-log
        table of that pass, keyed by span name."""
        from eventlog import FIELDS

        zero = dict.fromkeys(FIELDS, 0.0)
        ev = lambda name: groups.get(name, zero)  # noqa: E731
        minus = lambda a, b: {f: a[f] - b[f] for f in FIELDS}  # noqa: E731
        plus = lambda a, b: {f: a[f] + b[f] for f in FIELDS}  # noqa: E731
        per_layer = {
            "listing": ev("listing"),
            "metadata": ev("metadata"),
            "key_service": ev("key_service"),
            "crypto_source": ev("crypto_source"),
            # prefix layers: self = this prefix minus the previous one
            "transforms": minus(ev("transforms"), ev("crypto_source")),
            "envelope": minus(ev("envelope"), ev("transforms")),
            "filters": minus(ev("filters"), ev("envelope")),
            "pipeline": plus(ev("pipeline.persist"), ev("pipeline.counts")),
            "sinks": plus(ev("sinks.kv"), ev("sinks.manifest")),
        }
        m = {f"{layer}.{f}": row[f] for layer, row in per_layer.items() for f in EVENT_FIELDS}
        for layer in ("crypto_source", "transforms", "envelope"):
            m[f"{layer}.python_run_s"] = per_layer[layer]["python_run_s"]
        m.update(counts)
        m.update(
            {
                "listing.wall_s": spans["listing"],
                "metadata.wall_s": spans["metadata"],
                "metadata.jobs": ev("metadata")["jobs"],
                "key_service.wall_s": spans["key_service"],
                "crypto_source.wall_s": spans["crypto_source"],
                "transforms.self_s": spans["transforms"] - spans["crypto_source"],
                "envelope.self_s": spans["envelope"] - spans["transforms"],
                "filters.self_s": spans["filters"] - spans["envelope"],
                "pipeline.persist_s": spans["pipeline.persist"],
                "pipeline.counts_s": spans["pipeline.counts"],
                "pipeline.counts_shuffle_write_mb": ev("pipeline.counts")["shuffle_write_mb"],
                "sinks.kv_s": spans["sinks.kv"],
                "sinks.manifest_s": spans["sinks.manifest"],
            }
        )
        mirror = sum(spans[s] for s in MIRROR_SPANS)
        m["trace.mirror_coverage"] = mirror / plain_wall
        return m

    # -- output check ---------------------------------------------------
    def check(self, outputs) -> list[str]:
        rows, kv, manifest = outputs
        problems = []
        got = {k: sum(int(r[k] or 0) for r in rows) for k in FX.COUNT_FIELDS}
        want = self.fx.expected_totals(self.snapshot)
        if self.wrong_expectation:
            want["put_count"] += 1
        if got != want:
            problems.append(f"F5 totals {got} != expected {want}")
        n_kv = _parquet_rows(kv)
        if n_kv != got["put_count"]:
            problems.append(f"{n_kv} KV rows != put_count {got['put_count']}")
        csvs = sorted(f for f in os.listdir(manifest) if f.endswith(".csv"))
        ids = set()
        n_lines = 0
        for f in csvs:
            with open(os.path.join(manifest, f), encoding="utf-8") as fh:
                for line in fh:
                    n_lines += 1
                    ids.add(_csv_unescape(line.split("|", 1)[0]))
        if n_lines != self.fx.valid_records:
            problems.append(f"{n_lines} manifest lines != {self.fx.valid_records} valid records")
        if len(csvs) != self.fx.files_with_valid:
            problems.append(f"{len(csvs)} manifest files != {self.fx.files_with_valid}")
        for body_id in self._sample_cell_ids(kv):
            if body_id not in ids:
                problems.append(f"KV cell id {body_id!r} is not in the manifest")
        return problems

    def _sample_cell_ids(self, kv: str, n: int = 8) -> list[str]:
        """Ids of a few KV cells, decrypting ``dbObject`` with the run key
        under encrypt=True, rendered as the manifest renders them."""
        import pyarrow.dataset as ds

        table = ds.dataset(kv, format="parquet", partitioning="hive").head(n, columns=["body"])
        out = []
        for body in table.column("body").to_pylist():
            msg = json.loads(body)["message"]
            obj = msg["dbObject"]
            if self.encrypt:
                obj = _aes_ctr(
                    base64.b64decode(self.data_key_b64),
                    base64.b64decode(msg["encryption"]["initialisationVector"]),
                    base64.b64decode(obj),
                ).decode("utf-8")
            rid = json.loads(obj)["_id"]
            out.append(rid if isinstance(rid, str) else json.dumps(rid, sort_keys=True, separators=(",", ":")))
        return out


def _aes_ctr(key: bytes, iv: bytes, data: bytes) -> bytes:
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    dec = Cipher(algorithms.AES(key), modes.CTR(iv)).decryptor()
    return dec.update(data) + dec.finalize()


def _csv_unescape(field: str) -> str:
    if len(field) >= 2 and field[0] == field[-1] == '"':
        return field[1:-1].replace('""', '"')
    return field


def _parquet_rows(path: str) -> int:
    import pyarrow.dataset as ds

    if not os.path.isdir(path):
        return 0
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 2**20


class CatalogMix:
    name = "catalog_mix"

    def __init__(self, sf: float):
        self.sf = sf
        self.wrong_expectation = False

    def generate(self, seed: int, work: str) -> None:
        self.dir = os.path.join(work, "fixtures", f"catalog-{seed}-sf{self.sf}")
        meta = os.path.join(self.dir, "tables.json")
        if os.path.exists(meta):
            with open(meta) as fh:
                self.rows = json.load(fh)
        else:
            _reset(self.dir)
            self.rows = FX.write_catalog_tables(self.dir, seed, self.sf)
            with open(meta, "w") as fh:
                json.dump(self.rows, fh)
        # input rows of the tables each query scans, summed over the mix
        self.records = sum(self.rows[t] for q in CATALOG_QUERIES for t in _CATALOG_TABLES[q])
        self.sizes = {"tables": self.rows, "sf": self.sf, "records": self.records}
        # each iteration checks one query, rotating from a seed-chosen start
        self._next_check = seed % len(CATALOG_QUERIES)

    def _oracle(self, q: str) -> list:
        """(rows, value hash) of the DuckDB oracle, cached per query."""
        path = os.path.join(self.dir, f"oracle-{q}.json")
        if not os.path.exists(path):
            from check_oracle import connect_oracle, value_hash

            con = connect_oracle(self.dir)
            try:
                cur = con.execute(_catalog_queries()[q].oracle)
                cols = [d[0] for d in cur.description]
                rows = cur.fetchall()
            finally:
                con.close()
            with open(path, "w") as fh:
                json.dump([len(rows), value_hash(rows, cols)], fh)
        with open(path) as fh:
            return json.load(fh)

    def prepare(self, spark) -> None:
        self.spark = spark
        self.queries = {q: _catalog_queries()[q].fn for q in CATALOG_QUERIES}

    def iterate(self):
        t0 = time.perf_counter()
        for fn in self.queries.values():
            _noop(fn(self.spark, self.dir))
        wall = time.perf_counter() - t0
        return wall, self._to_check()

    def _to_check(self) -> tuple[str]:
        """The query the check re-runs and collects for this iteration."""
        q = CATALOG_QUERIES[self._next_check % len(CATALOG_QUERIES)]
        self._next_check += 1
        return (q,)

    def check(self, outputs) -> list[str]:
        from check_oracle import value_hash

        problems = []
        for q in outputs:
            df = self.queries[q](self.spark, self.dir)
            rows = df.collect()
            got = [len(rows), value_hash([r[:] for r in rows], df.columns)]
            want = self._oracle(q)
            if self.wrong_expectation:
                want[0] += 1
            if got != want:
                problems.append(f"{q}: rows/hash {got} != DuckDB oracle {want}")
        return problems

    def traced(self, tag: str):
        span = _Spans(self.spark, tag)
        for q, fn in self.queries.items():
            df = span(f"catalog.{q}.build", lambda: fn(self.spark, self.dir))
            span(f"catalog.{q}.exec", lambda: _noop(df))
        return span.seconds, {}, self._to_check()

    def layer_metrics(self, spans, counts, groups, plain_wall: float) -> dict[str, float]:
        from eventlog import FIELDS

        zero = dict.fromkeys(FIELDS, 0.0)
        total = dict(zero)
        m = {}
        for q in CATALOG_QUERIES:
            build, run = groups.get(f"catalog.{q}.build", zero), groups.get(f"catalog.{q}.exec", zero)
            for f in FIELDS:
                total[f] += build[f] + run[f]
            m[f"catalog.{q}.build_s"] = spans[f"catalog.{q}.build"]
            m[f"catalog.{q}.exec_s"] = spans[f"catalog.{q}.exec"]
            m[f"catalog.{q}.jobs"] = build["jobs"] + run["jobs"]
            m[f"catalog.{q}.shuffle_write_mb"] = build["shuffle_write_mb"] + run["shuffle_write_mb"]
        m.update({f"catalog.{f}": total[f] for f in EVENT_FIELDS})
        m["trace.mirror_coverage"] = sum(spans.values()) / plain_wall
        return m
