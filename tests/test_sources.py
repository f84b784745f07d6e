"""Source-layer tests: listing, pairing, metadata validation, encrypted
stream reading (S1-S10) — the cases S3ReaderTest/KeyPairGeneratorTest pin
in the reference."""

import base64
import gzip
import json
import os
import uuid

import pytest

from tests.fixtures import count_jobs as _jobs, write_encrypted_dump
from uc_historic_data_importer_spark.sources import listing as L
from uc_historic_data_importer_spark.sources import metadata as M
from uc_historic_data_importer_spark.sources.crypto_source import (
    decrypt_stream,
    read_encrypted_jsonl,
)


def _write(path: str, data: bytes = b"x") -> None:
    with open(path, "wb") as fh:
        fh.write(data)


def _drain(lines, via: str) -> None:
    """Run the decrypt stage alone, or fused with normalize under the
    pipeline."""
    if via == "lines":
        lines.collect()
    else:
        from uc_historic_data_importer_spark.plans import pipeline as P

        P.process_lines(lines, P.PipelineConfig()).counts.collect()


def _encrypt(data: bytes, key: bytes, iv: bytes) -> bytes:
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    enc = Cipher(algorithms.AES(key), modes.CTR(iv)).encryptor()
    return enc.update(data) + enc.finalize()


@pytest.fixture()
def tree(tmp_path):
    d = tmp_path / "objects"
    d.mkdir()
    return str(d)


class TestListingAndPairing:
    def test_pairing_and_name_extraction(self, spark, tree):
        _write(os.path.join(tree, "db-1.coll-a.0001.json.gz.enc"))
        _write(os.path.join(tree, "db-1.coll-a.0001.json.encryption.json"))
        pairs = L.pair_files(L.list_local_objects(spark, tree)).collect()
        assert len(pairs) == 1
        p = pairs[0]
        assert p["db"] == "db-1" and p["collection"] == "coll-a"
        assert p["file_number"] == 1

    def test_data_without_metadata_raises(self, spark, tree):
        _write(os.path.join(tree, "db.c.0001.json.gz.enc"))
        with pytest.raises(L.MissingMetadataError):
            L.pair_files(L.list_local_objects(spark, tree))

    def test_metadata_without_data_dropped(self, spark, tree):
        _write(os.path.join(tree, "db.c.0001.json.encryption.json"))
        assert L.pair_files(L.list_local_objects(spark, tree)).count() == 0

    def test_unmatched_names_dropped(self, spark, tree):
        _write(os.path.join(tree, "README.txt"))
        _write(os.path.join(tree, "db.c.x.json.gz.enc"))  # non-numeric number
        # \w is ASCII-only, as in Java's regex: a pair with a non-ASCII
        # name is dropped, not paired
        _write(os.path.join(tree, "dé.c.0001.json.gz.enc"))
        _write(os.path.join(tree, "dé.c.0001.json.encryption.json"))
        assert L.pair_files(L.list_local_objects(spark, tree)).count() == 0

    def test_pair_files_runs_no_spark_job(self, spark, tree):
        for i in range(1, 4):
            _write(os.path.join(tree, f"db.c.{i:04d}.json.gz.enc"))
            _write(os.path.join(tree, f"db.c.{i:04d}.json.encryption.json"))
        listing = L.list_local_objects(spark, tree)
        pairs, n_jobs = _jobs(spark, lambda: L.pair_files(listing))
        assert n_jobs == 0
        assert pairs.schema == L.PAIRS_SCHEMA
        assert [r["file_number"] for r in pairs.collect()] == [1, 2, 3]

    def test_zero_byte_pair_dropped_but_half_empty_kept(self, spark, tree):
        _write(os.path.join(tree, "db.c.0001.json.gz.enc"), b"")
        _write(os.path.join(tree, "db.c.0001.json.encryption.json"), b"")
        _write(os.path.join(tree, "db.c.0002.json.gz.enc"), b"data")
        _write(os.path.join(tree, "db.c.0002.json.encryption.json"), b"")
        pairs = L.drop_zero_byte_pairs(L.pair_files(L.list_local_objects(spark, tree)))
        rows = pairs.collect()
        assert len(rows) == 1 and rows[0]["file_number"] == 2

    def test_oversized_filter(self, spark, tree):
        _write(os.path.join(tree, "db.c.0001.json.gz.enc"), b"x" * 100)
        _write(os.path.join(tree, "db.c.0001.json.encryption.json"))
        pairs = L.pair_files(L.list_local_objects(spark, tree))
        assert L.filter_oversized(pairs, max_size=50).count() == 0
        assert L.filter_oversized(pairs, max_size=200).count() == 1


class TestMetadata:
    def _mk(self, tree, meta: dict, stem: str = "db.c.0001"):
        _write(os.path.join(tree, f"{stem}.json.gz.enc"), b"payload")
        with open(os.path.join(tree, f"{stem}.json.encryption.json"), "w") as fh:
            json.dump(meta, fh)

    def test_parse_ok(self, spark, tree):
        self._mk(tree, {
            "keyEncryptionKeyId": "kek", "encryptedEncryptionKey": "E",
            "initialisationVector": "IV", "plaintextDatakey": "P",
        })
        out = M.parse_metadata(L.pair_files(L.list_local_objects(spark, tree))).collect()
        assert out[0]["key_encryption_key_id"] == "kek"

    @pytest.mark.parametrize(
        "missing,how",
        [pytest.param(f, "blank", id=f) for f in M.REQUIRED_FIELDS]
        + [pytest.param(f, "omitted", id=f"{f}-omitted") for f in M.REQUIRED_FIELDS],
    )
    def test_blank_required_field_raises(self, spark, tree, missing, how):
        meta = {
            "keyEncryptionKeyId": "kek", "encryptedEncryptionKey": "E",
            "initialisationVector": "IV",
        }
        if how == "blank":
            meta[missing] = "  "
        else:
            del meta[missing]
        self._mk(tree, meta)
        with pytest.raises(M.MetadataValidationError, match=f"blank \\['{missing}'\\]"):
            M.parse_metadata(L.pair_files(L.list_local_objects(spark, tree)))

    def test_key_resolution_deduplicates(self, spark, tree):
        # two files wrapped under one key pair: one key-service call
        for i in (1, 2):
            self._mk(tree, {
                "keyEncryptionKeyId": "kek", "encryptedEncryptionKey": "E",
                "initialisationVector": f"IV{i}",
            }, stem=f"db.c.{i:04d}")
        calls = []

        class Svc:
            def decrypt_key(self, kid, ek):
                calls.append((kid, ek))
                return "PLAIN"

        pairs = M.parse_metadata(L.pair_files(L.list_local_objects(spark, tree)))
        keymap = M.resolve_data_keys(pairs, Svc())
        assert keymap == {("kek", "E"): "PLAIN"}
        assert calls == [("kek", "E")]

    def test_sources_stage_scans_sidecars_once(self, spark, tree):
        """Listing, pairing, the size filters, metadata and key resolution
        run one Spark job: the sidecar scan. Validation, key resolution
        and the returned frame all read its result."""
        key = os.urandom(32)
        for i in range(1, 9):
            write_encrypted_dump(tree, f"db.c.{i:04d}", ["{}"], key)

        def sources():
            pairs = L.pair_files(L.list_local_objects(spark, tree))
            pairs = M.parse_metadata(L.filter_oversized(L.drop_zero_byte_pairs(pairs)))
            return M.resolve_data_keys(pairs, M.DummyKeyService({"E": "P"}))

        keys, n_jobs = _jobs(spark, sources)
        assert n_jobs == 1
        assert keys == {("kek", "E"): "P"}

    def test_decrypt_stage_counts_files_without_a_job(self, spark, tree):
        """Building the decrypt stage runs no Spark job: the file rows of
        parse_metadata's local frame are read without one, and a given
        ``n_files`` must match them."""
        key = os.urandom(32)
        for i in range(1, 9):
            write_encrypted_dump(tree, f"db.c.{i:04d}", ["{}"], key)
        pairs = M.parse_metadata(L.pair_files(L.list_local_objects(spark, tree)))
        keys = {("kek", "E"): base64.b64encode(key).decode()}
        for kw in ({}, {"n_files": 8}):
            _, n_jobs = _jobs(spark, lambda: read_encrypted_jsonl(pairs, keys, **kw))
            assert n_jobs == 0, kw
        with pytest.raises(ValueError, match="n_files=7 but the pairs frame holds 8 files"):
            read_encrypted_jsonl(pairs, keys, n_files=7)

    def test_decrypt_stage_plan_reads_no_sidecar(self, spark, tree):
        """The decrypt stage's input is parse_metadata's local frame: its
        plan rescans no sidecar and rejoins nothing."""
        key = os.urandom(32)
        for i in range(1, 9):
            write_encrypted_dump(tree, f"db.c.{i:04d}", ['{"_id": "x"}'], key)
        pairs = M.parse_metadata(L.pair_files(L.list_local_objects(spark, tree)))
        lines = read_encrypted_jsonl(
            pairs, {("kek", "E"): base64.b64encode(key).decode()}, n_files=8
        )
        norm = lines._normalized()
        plan = norm._jdf.queryExecution().executedPlan().toString()
        assert "FileScan" not in plan and "Join" not in plan, plan
        assert norm.count() == 8

    @pytest.mark.parametrize("batch_dir", ["batch+1", "batch[1]", "batch{a}"])
    def test_plus_in_path_survives_uri_decode(self, spark, tree, batch_dir):
        # review regression: url_decode form-decodes '+' to space; a
        # literal '+' in the directory path must round-trip (the
        # filename itself can't contain '+' per the pairing regex, but
        # batch directories like "batch+1" can). '[', ']', '{' and '}'
        # are Hadoop glob syntax, which the sidecar load must escape
        sub = os.path.join(tree, batch_dir)
        os.makedirs(sub)
        _write(os.path.join(sub, "db.c.0001.json.gz.enc"), b"payload")
        with open(os.path.join(sub, "db.c.0001.json.encryption.json"), "w") as fh:
            json.dump({
                "keyEncryptionKeyId": "kek", "encryptedEncryptionKey": "E",
                "initialisationVector": "IV",
            }, fh)
        out = M.parse_metadata(
            L.pair_files(L.list_local_objects(spark, sub))
        ).collect()
        assert out[0]["encrypted_encryption_key"] == "E"

    def test_malformed_sidecar_json_raises(self, spark, tree):
        # malformed, or valid JSON that is not an object (array, scalar)
        _write(os.path.join(tree, "db.c.0001.json.gz.enc"), b"payload")
        ok = {
            "keyEncryptionKeyId": "kek", "encryptedEncryptionKey": "E",
            "initialisationVector": "IV",
        }
        for body in ("NOT JSON {", json.dumps([ok]), "42"):
            with open(os.path.join(tree, "db.c.0001.json.encryption.json"), "w") as fh:
                fh.write(body)
            with pytest.raises(M.MetadataValidationError):
                M.parse_metadata(L.pair_files(L.list_local_objects(spark, tree)))


class FakePaginatedLister:
    """ListObjectsV2-shaped fake: fixed page size, continuation tokens,
    optionally failing the first N calls to exercise retry."""

    def __init__(self, keys, page_size=100, fail_first=0):
        self.keys = sorted(keys)
        self.page_size = page_size
        self.fail_first = fail_first
        self.calls = 0

    def list_page(self, prefix, continuation_token):
        self.calls += 1
        if self.calls <= self.fail_first:
            raise ConnectionError("transient listing failure")
        scoped = [k for k in self.keys if k[0].startswith(prefix)]
        start = int(continuation_token) if continuation_token else 0
        page = scoped[start : start + self.page_size]
        nxt = start + self.page_size
        return L.ListPage(page, str(nxt) if nxt < len(scoped) else None)


class TestPaginatedListing:
    # 510 pairs = the reference's pagination stress fixture
    # (Makefile sample-data with -n510 exceeds one 1000-key page once
    # metadata sidecars are counted)
    KEYS = [
        (f"in/db-1.coll-{i:03d}.0001.json{suffix}", 10)
        for i in range(510)
        for suffix in (".gz.enc", ".encryption.json")
    ]

    def test_multi_page_listing_complete(self, spark):
        lister = FakePaginatedLister(self.KEYS, page_size=100)
        out = L.list_objects(spark, lister, prefixes=["in/"])
        assert out.count() == 1020
        # 1020 keys / 100 per page = 11 page fetches
        assert lister.calls == 11
        pairs = L.pair_files(out)
        assert pairs.count() == 510

    def test_retry_with_backoff_then_success(self, spark):
        lister = FakePaginatedLister(self.KEYS[:20], fail_first=3)
        delays = []
        out = L.list_objects(
            spark, lister, prefixes=["in/"], sleep=delays.append
        )
        assert out.count() == 20
        # S3Helper.kt backoff: 1 s initial, x2 per attempt
        assert delays == [1.0, 2.0, 4.0]

    def test_retry_exhaustion_raises(self, spark):
        lister = FakePaginatedLister(self.KEYS[:4], fail_first=99)
        with pytest.raises(L.ListingError, match="after 5 attempts"):
            L.list_objects(spark, lister, prefixes=["in/"], sleep=lambda _: None)
        assert lister.calls == 5

    def test_prefix_scoping(self, spark):
        keys = self.KEYS + [("other/x.y.0001.json.gz.enc", 5)]
        lister = FakePaginatedLister(keys)
        out = L.list_objects(spark, lister, prefixes=["other/"])
        assert out.count() == 1

    def test_boto3_shaped_client_adapter(self, spark):
        # verify the Boto3Lister request/response contract with a fake
        # client — keys, sizes, IsTruncated/NextContinuationToken walk
        class FakeS3Client:
            def __init__(self, keys):
                self.keys = keys

            def list_objects_v2(self, Bucket, Prefix, ContinuationToken=None):
                start = int(ContinuationToken or 0)
                page = self.keys[start : start + 2]
                truncated = start + 2 < len(self.keys)
                resp = {
                    "Contents": [
                        {"Key": k, "Size": s} for k, s in page
                    ],
                    "IsTruncated": truncated,
                }
                if truncated:
                    resp["NextContinuationToken"] = str(start + 2)
                return resp

        keys = [(f"p/db.c.{i:04d}.json.gz.enc", i) for i in range(1, 6)]
        lister = L.Boto3Lister("bucket", client=FakeS3Client(keys))
        out = L.list_objects(spark, lister, prefixes=["p/"])
        got = {(r["path"], r["size"]) for r in out.collect()}
        # paths come back SCHEME-QUALIFIED: bare keys would resolve
        # against the local filesystem in every downstream consumer
        assert got == {(f"s3a://bucket/{k}", s) for k, s in keys}
        custom = L.Boto3Lister(
            "bucket", client=FakeS3Client(keys), uri_prefix="s3://bucket/"
        )
        got2 = {
            r["path"]
            for r in L.list_objects(spark, custom, prefixes=["p/"]).collect()
        }
        assert got2 == {f"s3://bucket/{k}" for k, s in keys}


_LINES_GZ = gzip.compress(b'{"_id": "1"}\n' * 2000)
_TRUNCATED_GZ = _LINES_GZ[: len(_LINES_GZ) // 2]
_NON_UTF8_GZ = gzip.compress(b'{"_id": "1"}\n{"_id": "\xff"}\n')


class TestCryptoSource:
    def test_decrypt_stream_roundtrip(self):
        import io

        key, iv = os.urandom(32), os.urandom(16)
        plain = b"hello world" * 1000
        ct = _encrypt(plain, key, iv)
        out = decrypt_stream(
            io.BufferedReader(io.BytesIO(ct)),
            base64.b64encode(key).decode(),
            base64.b64encode(iv).decode(),
        ).read()
        assert out == plain

    def test_read_encrypted_jsonl_end_to_end(self, spark, tree):
        key, iv = os.urandom(32), os.urandom(16)
        lines = [json.dumps({"_id": str(i)}) for i in range(5)]
        payload = _encrypt(gzip.compress(("\n".join(lines) + "\n").encode()), key, iv)
        _write(os.path.join(tree, "mydb.coll.0003.json.gz.enc"), payload)
        with open(os.path.join(tree, "mydb.coll.0003.json.encryption.json"), "w") as fh:
            json.dump({
                "keyEncryptionKeyId": "kek", "encryptedEncryptionKey": "E",
                "initialisationVector": base64.b64encode(iv).decode(),
            }, fh)
        pairs = M.parse_metadata(L.pair_files(L.list_local_objects(spark, tree)))
        keymap = {("kek", "E"): base64.b64encode(key).decode()}
        out = read_encrypted_jsonl(pairs, keymap).collect()
        assert len(out) == 5
        assert [r["line_no"] for r in sorted(out, key=lambda r: r["line_no"])] == [1, 2, 3, 4, 5]
        assert all(r["db"] == "mydb" and r["file_number"] == 3 for r in out)

    def test_unresolved_key_pair_raises_named_error(self, spark, tree):
        """r14 review batch 11: a data_keys map from a DIFFERENT pairs
        frame surfaced as a bare executor KeyError on the tuple; the
        error must name the file and the fix."""
        import pytest

        key, iv = os.urandom(32), os.urandom(16)
        payload = _encrypt(gzip.compress(b'{"_id": "1"}\n'), key, iv)
        _write(os.path.join(tree, "mydb.coll.0004.json.gz.enc"), payload)
        with open(
            os.path.join(tree, "mydb.coll.0004.json.encryption.json"), "w"
        ) as fh:
            json.dump({
                "keyEncryptionKeyId": "kek", "encryptedEncryptionKey": "E2",
                "initialisationVector": base64.b64encode(iv).decode(),
            }, fh)
        pairs = M.parse_metadata(L.pair_files(L.list_local_objects(spark, tree)))
        pairs = pairs.filter("file_number = 4")
        for via in ("lines", "pipeline"):
            with pytest.raises(Exception, match="no resolved data key for '.*0004"):
                _drain(read_encrypted_jsonl(pairs, {("other", "X"): "irrelevant"}), via)

    @pytest.mark.parametrize(
        "gz, cause, via",
        [
            pytest.param(_TRUNCATED_GZ, "EOFError", "lines", id="truncated"),
            pytest.param(_NON_UTF8_GZ, "UnicodeDecodeError", "lines", id="non_utf8_line"),
            pytest.param(_TRUNCATED_GZ, "EOFError", "pipeline", id="truncated-pipeline"),
            pytest.param(_NON_UTF8_GZ, "UnicodeDecodeError", "pipeline",
                         id="non_utf8_line-pipeline"),
        ],
    )
    def test_unreadable_object_error_names_the_path(self, spark, tree, gz, cause, via):
        """A truncated object used to abort the job with a bare EOFError
        that named no file; every stream failure must name the object."""
        key, iv = os.urandom(32), os.urandom(16)
        path = os.path.join(tree, "mydb.coll.0005.json.gz.enc")
        _write(path, _encrypt(gz, key, iv))
        with open(os.path.join(tree, "mydb.coll.0005.json.encryption.json"), "w") as fh:
            json.dump({
                "keyEncryptionKeyId": "kek", "encryptedEncryptionKey": "E",
                "initialisationVector": base64.b64encode(iv).decode(),
            }, fh)
        pairs = M.parse_metadata(L.pair_files(L.list_local_objects(spark, tree)))
        keymap = {("kek", "E"): base64.b64encode(key).decode()}
        with pytest.raises(Exception) as err:
            _drain(read_encrypted_jsonl(pairs, keymap, n_files=1), via)
        assert f"cannot read {path!r}: {cause}" in str(err.value)
        assert not isinstance(err.value, EOFError)


class TestPythonBoundaries:
    """The source layer starts Python workers only where it decrypts:
    the listing never does, and the decrypt tasks are as few as Spark's
    rule for packing non-splittable files allows."""

    @pytest.mark.parametrize("arrow", ["true", "false"])
    def test_listing_lineage_has_no_python_rdd(self, spark, tree, arrow):
        """A row-list listing is a Python RDD: every rescan (pairing, the
        missing-sidecar check, counts, the sidecar join) started a Python
        worker per partition. pandas input would only help with Arrow
        on; the Arrow-table listing holds in both session modes."""
        _write(os.path.join(tree, "db.c.0001.json.gz.enc"), b"abc")
        _write(os.path.join(tree, "db.c.0001.json.encryption.json"), b"{}")
        conf = "spark.sql.execution.arrow.pyspark.enabled"
        saved = spark.conf.get(conf)
        spark.conf.set(conf, arrow)
        try:
            listing = L.list_local_objects(spark, tree)
            empty = L.list_objects(spark, L.LocalFsLister(tree), ["absent/"])
        finally:
            spark.conf.set(conf, saved)
        for df in (listing, empty):
            lineage = df._jdf.queryExecution().toRdd().toDebugString()
            assert "PythonRDD" not in lineage, lineage
        assert sorted((os.path.basename(r["path"]), r["size"]) for r in listing.collect()) == [
            ("db.c.0001.json.encryption.json", 2),
            ("db.c.0001.json.gz.enc", 3),
        ]
        assert empty.collect() == [] and empty.schema == L.LISTING_SCHEMA

    @staticmethod
    def _tasks(lines):
        """The data_path sets of the decrypt tasks, plus lines per file."""
        from pyspark.sql import functions as F

        rows = lines.select(F.spark_partition_id().alias("task"), "data_path").collect()
        tasks: dict[int, set] = {}
        per_file: dict[str, int] = {}
        for r in rows:
            tasks.setdefault(r["task"], set()).add(os.path.basename(r["data_path"]))
            per_file[r["data_path"]] = per_file.get(r["data_path"], 0) + 1
        return sorted(map(sorted, tasks.values())), per_file

    def _dumps(self, spark, tree, n_lines):
        key = os.urandom(32)
        for i, n in enumerate(n_lines, 1):
            lines = [json.dumps({"_id": uuid.uuid4().hex}) for _ in range(n)]
            write_encrypted_dump(tree, f"db.c.{i:04d}", lines, key)
        pairs = M.parse_metadata(L.pair_files(L.list_local_objects(spark, tree)))
        return pairs, {("kek", "E"): base64.b64encode(key).decode()}

    def test_small_dumps_share_decrypt_tasks(self, spark, tree):
        """Eight dumps far below the 4 MB open cost, on local[4]: each
        split holds two of them (Spark's rule for non-splittable files),
        so the decrypt stage runs 4 tasks, not 8."""
        pairs, keys = self._dumps(spark, tree, [200] * 8)
        lines = read_encrypted_jsonl(pairs, keys)
        assert lines.rdd.getNumPartitions() == 4
        tasks, per_file = self._tasks(lines)
        assert [len(t) for t in tasks] == [2, 2, 2, 2]
        assert sorted(per_file.values()) == [200] * 8

    def test_dump_of_a_full_split_runs_alone(self, spark, tree):
        """A dump at least one split in size gets a task of its own while
        the small ones share one. The split is forced below the big
        dump's size by lowering the session's file confs at runtime."""
        pairs, keys = self._dumps(spark, tree, [2000] + [5] * 6)
        sizes = {os.path.basename(r["data_path"]): r["data_size"] for r in pairs.collect()}
        big = sizes["db.c.0001.json.gz.enc"]
        confs = {"spark.sql.files.maxPartitionBytes": str(big), "spark.sql.files.openCostInBytes": "1024"}
        saved = {k: spark.conf.get(k) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            lines = read_encrypted_jsonl(pairs, keys)
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        tasks, per_file = self._tasks(lines)
        assert tasks == [["db.c.0001.json.gz.enc"], sorted(set(sizes) - {"db.c.0001.json.gz.enc"})]
        assert sorted(per_file.values()) == [5] * 6 + [2000]

    def test_decrypt_tasks_need_no_shuffle(self, spark, tree):
        """Each decrypt task is one id of spark.range, alone in its
        partition, so no exchange places the tasks; with no file rows
        the stage is an empty frame."""
        pairs, keys = self._dumps(spark, tree, [5] * 8)
        lines = read_encrypted_jsonl(pairs, keys)
        for frame in (lines, lines._normalized()):
            plan = frame._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
        empty = read_encrypted_jsonl(pairs.filter("false"), keys, n_files=0)
        assert empty.collect() == [] and empty._normalized().collect() == []

    @pytest.mark.parametrize("layout", ["local", "rows", "shuffled", "one_partition"])
    def test_every_file_lands_in_one_task(self, spark, tree, layout):
        """However the file rows are partitioned (a large listing's are
        spread over several partitions, where round-robin dealing once
        collided files), each file is read by exactly one task, and the
        tasks are the ones the packing rule makes."""
        from uc_historic_data_importer_spark.sources.crypto_source import _pack_files

        pairs, keys = self._dumps(spark, tree, [40, 3, 3, 3, 3, 3, 3, 3, 3, 3, 3])
        if layout == "rows":
            pairs = spark.createDataFrame(pairs.collect(), pairs.schema)
            assert pairs.rdd.getNumPartitions() > 1
        elif layout == "shuffled":
            pairs = pairs.repartition(3)
        elif layout == "one_partition":
            pairs = pairs.coalesce(1)
        lines = read_encrypted_jsonl(pairs, keys)
        tasks, per_file = self._tasks(lines)
        names = [os.path.basename(r["data_path"]) for r in pairs.collect()]
        assert sorted(n for t in tasks for n in t) == sorted(names)
        assert sorted(per_file.values()) == [3] * 10 + [40]
        files = pairs.select("data_path", "data_size").collect()
        expected = _pack_files(
            [r["data_size"] for r in files],
            128 * 1024 * 1024,
            4 * 1024 * 1024,
            spark.sparkContext.defaultParallelism,
        )
        assert len(tasks) == len(expected) == 4
        assert sorted(map(len, tasks)) == sorted(map(len, expected))


class TestSourcesReviewFixes:
    """Round-7 sources review pass: cross-prefix pairing, anchored
    filename contracts, relative-root normalization, the object-opener
    seam, and the repartition count short-circuit."""

    def test_same_filename_under_two_prefixes_pairs_within_directory(
        self, spark, tmp_path
    ):
        """Identically named files in different prefixes must pair with
        their OWN sidecar — a filename-only stem cross-joins them (4
        pairs, each decrypting with the other prefix's key)."""
        for sub in ("2020", "2021"):
            d = tmp_path / sub
            d.mkdir()
            (d / "db.c.0001.json.gz.enc").write_bytes(b"x")
            (d / "db.c.0001.json.encryption.json").write_bytes(b"{}")
        pairs = L.pair_files(
            L.list_local_objects(spark, str(tmp_path))
        ).collect()
        assert len(pairs) == 2
        for r in pairs:
            import os

            assert os.path.dirname(r["data_path"]) == os.path.dirname(
                r["meta_path"]
            )

    def test_extra_name_components_are_dropped_not_misparsed(
        self, spark, tmp_path
    ):
        """db.c.0001.json.old.gz.enc matches the old suffix-only check
        but not the anchored contract: it must be dropped (reference
        drops unmatched names with a warning), not paired with NULL
        file_number."""
        (tmp_path / "db.c.0001.json.old.gz.enc").write_bytes(b"x")
        (tmp_path / "db.c.0001.json.encryption.json").write_bytes(b"{}")
        (tmp_path / "db.c.0002.json.gz.enc").write_bytes(b"x")
        (tmp_path / "db.c.0002.json.encryption.json").write_bytes(b"{}")
        pairs = L.pair_files(
            L.list_local_objects(spark, str(tmp_path))
        ).collect()
        assert len(pairs) == 1
        assert pairs[0]["file_number"] == 2

    def test_file_number_beyond_int_raises_naming_the_object(self, spark, tmp_path):
        """A file number that overflows int fails on the driver naming
        the object, not as an anonymous cast error in a task."""
        (tmp_path / "db.c.99999999999.json.gz.enc").write_bytes(b"x")
        (tmp_path / "db.c.99999999999.json.encryption.json").write_bytes(b"{}")
        with pytest.raises(ValueError, match="db.c.99999999999.json.gz.enc"):
            L.pair_files(L.list_local_objects(spark, str(tmp_path)))

    def test_relative_root_listing_is_absolute(self, spark, tmp_path, monkeypatch):
        """A relative --input-dir must still produce paths that match
        input_file_name()'s absolute URIs (and that executor-side
        open() can resolve)."""
        d = tmp_path / "dumps"
        d.mkdir()
        (d / "db.c.0001.json.gz.enc").write_bytes(b"x")
        monkeypatch.chdir(tmp_path)
        rows = L.list_local_objects(spark, "dumps").collect()
        assert rows and all(r["path"].startswith("/") for r in rows)

    def test_default_opener_refuses_object_store_uris(self):
        from uc_historic_data_importer_spark.sources.crypto_source import (
            _local_opener,
        )

        with pytest.raises(ValueError, match="opener"):
            _local_opener("s3a://bucket/db.c.0001.json.gz.enc")

    def test_injected_opener_drives_the_decrypt_stage(self, spark, tmp_path):
        """The S5 seam: a fake object-store opener (path -> BytesIO)
        must carry the whole decrypt/gunzip/line-split path."""
        import base64
        import gzip as gz
        import io
        import os

        from cryptography.hazmat.primitives.ciphers import (
            Cipher,
            algorithms,
            modes,
        )

        key, iv = os.urandom(32), os.urandom(16)
        enc = Cipher(algorithms.AES(key), modes.CTR(iv)).encryptor()
        payload = enc.update(gz.compress(b'{"a":1}\n{"a":2}\n')) + enc.finalize()
        store = {"s3a://bkt/db.c.0001.json.gz.enc": payload}
        pairs = spark.createDataFrame(
            [(
                "s3a://bkt/db.c.0001.json.gz.enc", len(payload), "db", "c", 1,
                "kek", "eek", base64.b64encode(iv).decode(),
            )],
            "data_path string, data_size bigint, db string, collection string, "
            "file_number int, key_encryption_key_id string, "
            "encrypted_encryption_key string, initialisation_vector string",
        )
        out = read_encrypted_jsonl(
            pairs,
            {("kek", "eek"): base64.b64encode(key).decode()},
            opener=lambda p: io.BytesIO(store[p]),
            n_files=1,
        ).collect()
        assert [r["raw_json"] for r in out] == ['{"a":1}', '{"a":2}']
        assert [r["line_no"] for r in out] == [1, 2]

    def test_read_jsonl_lines_skips_stray_files(self, spark, tmp_path):
        (tmp_path / "db.c.0001.json").write_text('{"_id": "x"}\n')
        (tmp_path / "README.txt").write_text("not a dump\n")
        (tmp_path / "db.c.0002.json.bak").write_text('{"_id": "y"}\n')
        from uc_historic_data_importer_spark.sources.jsonl import (
            read_jsonl_lines,
        )

        rows = read_jsonl_lines(spark, str(tmp_path)).collect()
        assert len(rows) == 1
        assert rows[0]["db"] == "db" and rows[0]["file_number"] == 1


class TestMetadataProbeBounded:
    """The validation error paths keep their shape: the blank-field
    detail names up to 5 offenders in path order, and an empty sidecar
    is reported as missing content."""

    def _mk(self, tree, stem, meta):
        _write(os.path.join(tree, f"{stem}.json.gz.enc"), b"payload")
        with open(os.path.join(tree, f"{stem}.json.encryption.json"), "w") as fh:
            fh.write(meta)

    def test_blank_error_names_offenders_sorted(self, spark, tree):
        good = json.dumps({
            "keyEncryptionKeyId": "kek", "encryptedEncryptionKey": "E",
            "initialisationVector": "IV",
        })
        bad = json.dumps({
            "keyEncryptionKeyId": " ", "encryptedEncryptionKey": "E",
            "initialisationVector": "IV",
        })
        self._mk(tree, "db.c.0001", bad)
        self._mk(tree, "db.c.0002", good)
        self._mk(tree, "db.c.0003", bad)
        with pytest.raises(M.MetadataValidationError) as ei:
            M.parse_metadata(L.pair_files(L.list_local_objects(spark, tree)))
        msg = str(ei.value)
        assert "keyEncryptionKeyId" in msg
        assert "0001" in msg and "0003" in msg and "0002" not in msg

    def test_empty_sidecar_reports_missing_content(self, spark, tree):
        good = json.dumps({
            "keyEncryptionKeyId": "kek", "encryptedEncryptionKey": "E",
            "initialisationVector": "IV",
        })
        self._mk(tree, "db.c.0001", good)
        self._mk(tree, "db.c.0002", "")
        with pytest.raises(M.MetadataValidationError) as ei:
            M.parse_metadata(L.pair_files(L.list_local_objects(spark, tree)))
        msg = str(ei.value)
        assert "no parseable sidecar content" in msg and "0002" in msg
