"""Sink-layer tests: CSV escaping parity, KV compaction, manifest upload,
HBase bulk-load layout and HFile writing."""

import os

import pytest
from pyspark.sql import functions as F

from uc_historic_data_importer_spark import sinks


class TestCsvEscape:
    @pytest.mark.parametrize(
        "value,expected",
        [
            ("plain", "plain"),
            ("with,comma", '"with,comma"'),
            ('with"quote', '"with""quote"'),
            ('{"a":"1","b":"2"}', '"{""a"":""1"",""b"":""2""}"'),
            ("pipe|kept", "pipe|kept"),  # escapeCsv does NOT quote pipes
        ],
    )
    def test_escape_matches_commons_text(self, spark, value, expected):
        # StringEscapeUtils.escapeCsv (StreamingManifestWriter.kt:63)
        out = (
            spark.range(1)
            .select(sinks.csv_escape(F.lit(value)).alias("v"))
            .collect()[0]["v"]
        )
        assert out == expected


class TestCompaction:
    def test_compact_keeps_newest_versions_and_collapses_cells(self, spark, tmp_path):
        rows = [
            # key A: 3 versions, v3 duplicated with two bodies (cell overwrite)
            ("t1:c", b"\x01", "aa", 1, "bodyA1"),
            ("t1:c", b"\x01", "aa", 2, "bodyA2"),
            ("t1:c", b"\x01", "aa", 3, "bodyA3-early"),
            ("t1:c", b"\x01", "aa", 3, "bodyA3-late"),
            # key B: 1 version
            ("t1:c", b"\x02", "bb", 7, "bodyB7"),
            # second table
            ("t2:c", b"\x03", "cc", 5, "bodyC5"),
        ]
        df = spark.createDataFrame(
            rows, "table string, key binary, key_hex string, version long, body string"
        )
        src = str(tmp_path / "kv")
        out = str(tmp_path / "kv_compacted")
        df.write.partitionBy("table").parquet(src)

        sinks.compact_kv(spark, src, out, keep_versions=2)
        got = {
            (r["table"], r["key_hex"], r["version"]): r["body"]
            for r in spark.read.parquet(out).collect()
        }
        # keep_versions=2 -> versions 3 and 2 for key A; duplicate v3 cells
        # collapse deterministically (max body)
        assert got[("t1:c", "aa", 3)] == "bodyA3-late"
        assert ("t1:c", "aa", 2) in got
        assert ("t1:c", "aa", 1) not in got
        assert got[("t1:c", "bb", 7)] == "bodyB7"
        assert got[("t2:c", "cc", 5)] == "bodyC5"
        assert len(got) == 4

    def test_compact_single_shuffle(self, spark, tmp_path):
        df = spark.range(100).select(
            F.lit("t:c").alias("table"),
            F.lit(b"\x00").alias("key"),
            (F.col("id") % 10).cast("string").alias("key_hex"),
            (F.col("id")).alias("version"),
            F.col("id").cast("string").alias("body"),
        )
        src = str(tmp_path / "kv2")
        df.write.partitionBy("table").parquet(src)
        kv = spark.read.parquet(src)
        from pyspark.sql.window import Window

        by_key = Window.partitionBy("table", "key_hex")
        cell = Window.partitionBy("table", "key_hex", "version").orderBy(F.desc("body"))
        plan = (
            kv.withColumn("_vr", F.dense_rank().over(by_key.orderBy(F.desc("version"))))
            .withColumn("_cp", F.row_number().over(cell))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # both windows run off the same (table, key_hex) exchange
        assert plan.count("Exchange hashpartitioning") == 1


class TestSchemaEvolution:
    def test_kv_read_spans_old_and_new_cell_schemas(self, spark, tmp_path):
        """A corpus written over months gains columns: cells written
        before the change must stay readable next to new ones
        (mergeSchema), with the added column NULL on old rows — and
        latest_per_key must still collapse versions across the schema
        boundary."""
        from uc_historic_data_importer_spark import sinks
        from uc_historic_data_importer_spark.operators.latest import latest_per_key

        path = str(tmp_path / "kv")
        old = spark.createDataFrame(
            [("t1", "k1", "aa", 1, "body-v1")],
            "table string, key string, key_hex string, version long, envelope string",
        )
        sinks.kv_sink(old, path)
        new = spark.createDataFrame(
            [("t1", "k1", "aa", 2, "body-v2", "eu-west-1")],
            "table string, key string, key_hex string, version long, "
            "envelope string, region string",
        )
        (
            new.select("table", "key", "key_hex", "version",
                       F.col("envelope").alias("body"), "region")
            .write.mode("append").partitionBy("table").parquet(path)
        )
        kv = spark.read.option("mergeSchema", "true").parquet(path)
        assert "region" in kv.columns and kv.count() == 2
        old_row = kv.filter(F.col("version") == 1).first()
        assert old_row["region"] is None
        latest = latest_per_key(
            kv.withColumn("record_json", F.to_json(F.struct("body", "region")))
        ).collect()
        assert len(latest) == 1
        assert latest[0]["record_json"] == (
            '{"body":"body-v2","region":"eu-west-1"}'
        )


class _CountingUploader:
    """Fake S3 client: records every put, can fail the first N calls."""

    def __init__(self, fail_first: int = 0):
        self.fail_first = fail_first
        self.calls = 0
        self.objects: dict[tuple[str, str], tuple[bytes, str, dict]] = {}

    def put_object(self, bucket, key, data, content_type, metadata):
        self.calls += 1
        if self.calls <= self.fail_first:
            raise OSError("transient put failure")
        self.objects[(bucket, key)] = (data, content_type, metadata)


class TestManifestUpload:
    """W6 parity with StreamingManifestWriter.kt:14-49: retry x10,
    zero-byte skip, text/plain content-type + title metadata, local
    delete only after success, give-up (not raise) on exhaustion."""

    def _manifest(self, tmp_path, content=b"a|b|c\n"):
        p = tmp_path / "db.mydb.coll-000001.csv"
        p.write_bytes(content)
        return str(p)

    def test_upload_retries_then_succeeds_and_deletes(self, tmp_path):
        from uc_historic_data_importer_spark import sinks

        path = self._manifest(tmp_path)
        up = _CountingUploader(fail_first=3)
        ok = sinks.send_manifest(up, path, "bkt", "manifests")
        assert ok and up.calls == 4  # 3 failures + 1 success
        key = ("bkt", "manifests/db.mydb.coll-000001.csv")
        data, ctype, meta = up.objects[key]
        assert data == b"a|b|c\n"
        assert ctype == "text/plain"
        assert meta["x-amz-meta-title"] == "db.mydb.coll-000001.csv"
        assert not os.path.exists(path)  # deleted only after success

    def test_zero_byte_manifest_skipped_not_deleted(self, tmp_path):
        from uc_historic_data_importer_spark import sinks

        path = self._manifest(tmp_path, content=b"")
        up = _CountingUploader()
        ok = sinks.send_manifest(up, path, "bkt", "manifests")
        assert ok and up.calls == 0  # never uploaded
        assert os.path.exists(path)  # and never deleted

    def test_gives_up_after_max_attempts_without_raising(self, tmp_path):
        from uc_historic_data_importer_spark import sinks

        path = self._manifest(tmp_path)
        up = _CountingUploader(fail_first=10_000)
        ok = sinks.send_manifest(up, path, "bkt", "m", sleep=lambda _s: None)
        assert not ok and up.calls == 10  # exactly the reference's x10
        assert os.path.exists(path)  # file kept for a manual re-run

    def test_upload_manifests_batch(self, tmp_path):
        from uc_historic_data_importer_spark import sinks

        good = self._manifest(tmp_path)
        empty = str(tmp_path / "db.mydb.coll-000002.csv")
        open(empty, "wb").close()
        up = _CountingUploader()
        out = sinks.upload_manifests([good, empty], up, "bkt", "m")
        assert out == {good: True, empty: True}
        assert len(up.objects) == 1


class TestHbaseBulkload:
    """W2 bulk-load path (HbaseClient.kt:25-41 done the 100 TB way):
    the HFile layout contract — total order on (rowkey, family,
    qualifier, version DESC) with range-partitioned key boundaries —
    is produced and verified without any HBase dependency."""

    def _kv(self, spark):
        import random

        random.seed(7)
        rows = [
            (
                "t1",
                bytearray(random.randbytes(8)),
                f"{i:02x}",
                v,
                f"body-{i}-{v}",
            )
            for i in range(50)
            for v in (1, 2)
        ]
        return spark.createDataFrame(
            rows,
            "table string, key binary, key_hex string, version long, "
            "envelope string",
        )

    def test_layout_is_region_sorted(self, spark):
        from uc_historic_data_importer_spark import sinks

        layout = sinks.hbase_bulkload_layout(self._kv(spark), n_regions=4)
        assert layout.rdd.getNumPartitions() == 4

        def _partition_keys(it):
            yield [(bytes(r["key"]), -r["version"]) for r in it]

        per_part = layout.rdd.mapPartitions(_partition_keys).collect()
        # within each prospective HFile: sorted by (rowkey, ts DESC)
        for keys in per_part:
            assert keys == sorted(keys)
        # across partitions: contiguous, disjoint key ranges
        # (region alignment), i.e. concatenation is globally sorted
        flat = [k for keys in per_part for k in keys]
        assert flat == sorted(flat)

    def test_write_hfiles_produces_parseable_region_files(self, spark, tmp_path):
        """write_hfiles is no longer classpath-gated: the pure-Python
        HFile v3 container (hfile.py) writes one file per region
        partition. Deep structural coverage lives in test_hfile.py;
        this pins the sink-level contract (file-per-region under the
        family dir, every input cell present)."""
        from uc_historic_data_importer_spark import sinks
        from uc_historic_data_importer_spark.hfile import read_hfile

        layout = sinks.hbase_bulkload_layout(self._kv(spark), n_regions=2)
        paths = sinks.write_hfiles(layout, str(tmp_path / "bulk"))
        assert 1 <= len(paths) <= 2
        total = sum(read_hfile(p).entry_count for p in paths)
        assert total == 100  # 50 rows x 2 versions


class TestKeyValueWireParity:
    """Byte-level parity with the public HBase KeyValue layout — the
    cells HFileOutputFormat2 writes for the reference's Put
    (HbaseClient.kt:25-41: addColumn(family, qualifier,
    version-as-timestamp, body))."""

    def test_known_vector(self):
        from uc_historic_data_importer_spark import sinks

        kv = sinks.keyvalue_bytes(
            b"r1", b"cf", b"record", 1577836800000, b"v"
        )
        # hand-assembled: keyLen=22, valueLen=1, rowLen=2 'r1',
        # famLen=2 'cf', 'record', ts 0x0000016f5e66e800, type=Put(4)
        expected = bytes.fromhex(
            "00000016" "00000001"
            "0002" "7231" "02" "6366" "7265636f7264"
            "0000016f5e66e800" "04" "76"
        )
        assert kv == expected

    def test_roundtrip_fields(self):
        import struct as st

        from uc_historic_data_importer_spark import sinks

        kv = sinks.keyvalue_bytes(
            b"rowkey", b"cf", b"record", 42, b"the-body"
        )
        klen, vlen = st.unpack_from(">ii", kv, 0)
        assert vlen == 8 and kv[-vlen:] == b"the-body"
        rlen = st.unpack_from(">H", kv, 8)[0]
        assert kv[10 : 10 + rlen] == b"rowkey"
        ts = st.unpack_from(">q", kv, 8 + klen - 9)[0]
        assert ts == 42
        assert kv[8 + klen - 1] == sinks.KEYVALUE_TYPE_PUT

    def test_layout_order_is_cellcomparator_order(self, spark):
        """The bulk-load layout's partition-local sort must equal
        HBase's CellComparator order on the serialized cells — this is
        the property HFileOutputFormat2 hard-fails on (and where a
        signed/unsigned byte comparison mismatch would hide)."""
        import random

        from uc_historic_data_importer_spark import sinks
        from uc_historic_data_importer_spark.hfile import cell_order_key

        random.seed(13)
        # include 0x00/0xFF-leading keys to exercise unsigned compare
        rows = [
            (
                "t1",
                bytearray(bytes([b]) + random.randbytes(4)),
                f"{i:02x}",
                v,
                f"body-{i}-{v}",
            )
            for i, b in enumerate([0, 255, 127, 128, 1, 254] * 8)
            for v in (1, 2)
        ]
        kv = spark.createDataFrame(
            rows,
            "table string, key binary, key_hex string, version long, "
            "envelope string",
        )
        layout = sinks.hbase_bulkload_layout(kv, n_regions=3)

        def _partition_cells(it):
            yield [
                (
                    # an empty value leaves the 8-byte length header
                    # followed by exactly the KEY portion
                    cell_order_key(
                        sinks.keyvalue_bytes(
                            bytes(r["key"]),
                            r["family"].encode(),
                            r["qualifier"].encode(),
                            r["version"],
                            b"",
                        )[8:]
                    ),
                    bytes(r["key"]),
                    r["version"],
                )
                for r in it
            ]

        per_part = layout.rdd.mapPartitions(_partition_cells).collect()
        for cells in per_part:
            assert [c[0] for c in cells] == sorted(c[0] for c in cells)
        flat = [c[0] for cells in per_part for c in cells]
        assert flat == sorted(flat)  # regions are contiguous + disjoint
        # same row key at two versions: newest first
        by_row = {}
        for sk, key, ver in [c for cells in per_part for c in cells]:
            by_row.setdefault(key, []).append(ver)
        assert all(vs == sorted(vs, reverse=True) for vs in by_row.values())


class TestSinksReviewFixes:
    """Round-7 sinks/envelope review pass regressions."""

    def test_encrypt_mode_never_stamps_source_key_metadata(self, spark):
        """Re-encrypted bodies must not carry the SOURCE file's key ids
        (a consumer decrypting per the envelope metadata would get
        garbage and the true key would be recorded nowhere)."""
        import json

        from uc_historic_data_importer_spark.operators.envelope import (
            RunContext,
            with_envelope,
        )

        ctx = RunContext(unit_of_work_id="u", timestamp="t", trace_id="tr")
        df = spark.createDataFrame(
            [(
                "rec", "", "_lastModifiedDateTime", "", False, "", False,
                "", False, False, False, "a", True, False, "c", "db",
                "MONGO_IMPORT", "CT", "IV",
                "SOURCE_KEK", "SOURCE_EEK",
            )],
            "record_json string, x string, timestamp_source string, "
            "created_datetime string, created_modified boolean, "
            "removed_datetime string, removed_modified boolean, "
            "archived_datetime string, archived_modified boolean, "
            "is_removed boolean, is_archived boolean, id string, "
            "id_is_string boolean, id_was_modified boolean, "
            "collection_out string, db string, inner_type string, "
            "db_object string, iv string, "
            "key_encryption_key_id string, encrypted_encryption_key string",
        ).withColumn("last_modified", F.lit("2020-01-01T00:00:00.000"))
        # passthrough (encrypted=False): source fallback is correct
        env_pass = json.loads(
            with_envelope(df, ctx).collect()[0]["envelope"]
        )
        assert env_pass["message"]["encryption"]["keyEncryptionKeyId"] == "SOURCE_KEK"
        # encrypted=True with no run-level ids: fallback DISABLED
        env_enc = json.loads(
            with_envelope(df, ctx, encrypted=True).collect()[0]["envelope"]
        )
        assert env_enc["message"]["encryption"]["keyEncryptionKeyId"] == ""
        assert env_enc["message"]["encryption"]["encryptedEncryptionKey"] == ""
        # run-level ids always win
        env_run = json.loads(
            with_envelope(
                df, ctx, key_encryption_key_id="RUN_KEK",
                encrypted_encryption_key="RUN_EEK", encrypted=True,
            ).collect()[0]["envelope"]
        )
        assert env_run["message"]["encryption"]["keyEncryptionKeyId"] == "RUN_KEK"

    def test_envelope_survives_hostile_type_and_control_chars(self, spark):
        """inner_type and last_modified are record-derived: quotes and
        ANY control character must leave the envelope parseable."""
        import json

        from uc_historic_data_importer_spark.operators.envelope import (
            RunContext,
            with_envelope,
        )

        ctx = RunContext(unit_of_work_id="u", timestamp="t", trace_id="tr")
        hostile_type = 'x"y\x0bz'
        hostile_lm = "a\x00b\x1fc\td"
        df = spark.createDataFrame(
            [(
                "a", True, False, "", "_lastModifiedDateTime", "",
                False, "", False, "", False, False, False, "c", "db",
                hostile_type, "CT", "IV", hostile_lm,
            )],
            "id string, id_is_string boolean, id_was_modified boolean, "
            "x string, timestamp_source string, "
            "created_datetime string, created_modified boolean, "
            "removed_datetime string, removed_modified boolean, "
            "archived_datetime string, archived_modified boolean, "
            "is_removed boolean, is_archived boolean, "
            "collection_out string, db string, inner_type string, "
            "db_object string, iv string, last_modified string",
        )
        env = with_envelope(df, ctx).collect()[0]["envelope"]
        parsed = json.loads(env)  # must not raise
        assert parsed["message"]["@type"] == hostile_type
        assert parsed["message"]["_lastModifiedDateTime"] == hostile_lm

    def test_manifest_rerun_leaves_no_stale_final_csvs(self, spark, tmp_path):
        import os

        out = str(tmp_path / "m")
        os.makedirs(out)
        # a previous run's leftover manifest
        stale = os.path.join(out, "db.old.coll-000099.csv")
        open(stale, "w").write("stale|row\n")
        df = spark.createDataFrame(
            [('"x"', 1500000000000, "db", "c", "IMPORT", "HDI",
              '{"someId":"x"}', "TYPE", "c", 1, 1)],
            "id string, timestamp long, db string, collection string, "
            "source string, outer_type string, original_id string, "
            "inner_type string, _uncoalesced_collection string, "
            "_file_number int, _line_no int",
        )
        written = sinks.manifest_sink(df, out)
        on_disk = sorted(
            f for f in os.listdir(out) if f.endswith(".csv")
        )
        assert os.path.basename(stale) not in on_disk
        assert on_disk == sorted(os.path.basename(p) for p in written)

    def test_split_keys_require_table(self, spark):
        # split keys are one table's region boundaries: without table=
        # the layout refuses at plan build, before any Spark job
        kv = spark.createDataFrame(
            [("a", bytearray(b"\x01"), "01", 1, "b"),
             ("b", bytearray(b"\x02"), "02", 1, "b")],
            "table string, key binary, key_hex string, version long, "
            "envelope string",
        )
        with pytest.raises(ValueError, match="table="):
            sinks.hbase_bulkload_layout(kv, region_split_keys=[b"\x80"])

    def test_send_manifest_missing_file_is_permanent_skip(self, tmp_path):
        class Uploader:
            def __init__(self):
                self.calls = 0

            def put_object(self, *a, **kw):
                self.calls += 1

        up = Uploader()
        ok = sinks.send_manifest(
            up, str(tmp_path / "gone.csv"), "b", "p", sleep=lambda _s: None
        )
        assert ok is True and up.calls == 0  # no 10-attempt hammering

    def test_send_manifest_transient_failures_back_off(self, tmp_path):
        p = tmp_path / "m.csv"
        p.write_text("row|1\n")
        delays = []

        class FlakyUploader:
            def __init__(self):
                self.calls = 0

            def put_object(self, *a, **kw):
                self.calls += 1
                if self.calls <= 2:
                    raise ConnectionError("transient")

        ok = sinks.send_manifest(
            FlakyUploader(), str(p), "b", "p", sleep=delays.append
        )
        assert ok is True
        assert delays == [1.0, 2.0]  # spaced, not back-to-back

    def test_send_manifest_uploader_fnf_is_not_success(self, tmp_path):
        """A FileNotFoundError raised by the UPLOADER (missing client
        cert/config) is a client error to retry — not 'manifest already
        uploaded'. Only a missing LOCAL manifest is the permanent-skip
        condition."""
        p = tmp_path / "m.csv"
        p.write_text("row|1\n")

        class BrokenClient:
            def __init__(self):
                self.calls = 0

            def put_object(self, *a, **kw):
                self.calls += 1
                raise FileNotFoundError("/etc/certs/client.pem")

        up = BrokenClient()
        ok = sinks.send_manifest(
            up, str(p), "b", "p", sleep=lambda _s: None
        )
        assert ok is False  # exhausted, reported as failure
        assert up.calls == 10  # it retried like any client error
        assert p.exists()  # the local manifest was never deleted

    def test_send_manifest_local_read_errors_retry_not_raise(self, tmp_path):
        """A manifest path that exists but cannot be read (permission
        change, transient NFS EIO — here an IsADirectoryError, which
        also defeats a root test runner that ignores chmod 000) must
        stay inside the give-up-not-raise contract: retried as
        attempts, False when exhausted — never an exception escaping
        into the pipeline after the KV sink wrote."""
        p = tmp_path / "m.csv"
        p.mkdir()  # exists, getsize > 0, open() -> IsADirectoryError

        class CountingUploader:
            def __init__(self):
                self.calls = 0

            def put_object(self, *a, **kw):
                self.calls += 1

        up = CountingUploader()
        delays = []
        ok = sinks.send_manifest(
            up, str(p), "b", "p", sleep=delays.append
        )
        assert ok is False  # degraded, not fatal
        assert up.calls == 0  # never reached the uploader
        assert delays == [float(i) for i in range(1, 10)]  # backed off
        assert p.exists()  # path untouched for the manifest-only re-run
