"""End-to-end pipeline tests over the FIXTURES.md variant matrix — the
Spark twin of the reference's integration spec
(UCHistoricDataImporterSpec.kt:57-238)."""

import base64
import json
import os
import re
import zlib

import pytest
from pyspark.sql import functions as F

from tests.fixtures import (
    SKIP_EARLIER_THAN,
    SKIP_LATER_THAN,
    base_record,
    count_jobs,
    variant_lines,
    write_dump_file,
    write_encrypted_dump,
)
from uc_historic_data_importer_spark.plans import pipeline as P
from uc_historic_data_importer_spark.plans.pipeline import (
    PipelineConfig,
    process_lines,
    run,
)
from uc_historic_data_importer_spark.sources.jsonl import read_jsonl_lines


@pytest.fixture(scope="module")
def dump_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("dumps")
    write_dump_file(str(d / "database-1.collection-1.0001.json"))
    write_dump_file(str(d / "database-1.collection-two.0001.json"))
    write_dump_file(str(d / "agent-core.agentToDoArchive.0002.json"))
    return str(d)


@pytest.fixture(scope="module")
def result(spark, dump_dir):
    lines = read_jsonl_lines(spark, dump_dir)
    cfg = PipelineConfig(
        skip_earlier_than=SKIP_EARLIER_THAN,
        skip_later_than=SKIP_LATER_THAN,
        skip_existing=False,
    )
    return process_lines(lines, cfg)


# more lines than one emit chunk of the decrypt stage (10,000)
N_LONG = 10_050


@pytest.fixture(scope="module")
def enc_source(spark, tmp_path_factory):
    """read_encrypted_jsonl over the variant matrix as three encrypted
    dumps plus one N_LONG-line dump."""
    from uc_historic_data_importer_spark.sources import listing as L
    from uc_historic_data_importer_spark.sources import metadata as M
    from uc_historic_data_importer_spark.sources.crypto_source import read_encrypted_jsonl

    d = str(tmp_path_factory.mktemp("enc_dumps"))
    key = os.urandom(32)
    variants = [line for _, line in variant_lines()]
    for stem in ("database-1.collection-1.0001", "database-1.collection-two.0001",
                 "agent-core.agentToDoArchive.0002"):
        write_encrypted_dump(d, stem, variants, key)
    write_encrypted_dump(
        d, "db-long.coll.0003", [json.dumps(base_record(k, k % 1000)) for k in range(N_LONG)], key
    )
    pairs = M.parse_metadata(L.pair_files(L.list_local_objects(spark, d)))
    return read_encrypted_jsonl(pairs, {("kek", "E"): base64.b64encode(key).decode()}, n_files=4)


@pytest.fixture(scope="module")
def enc_snapshot(spark, enc_source, tmp_path_factory):
    """KV snapshot holding the putable rows of enc_source with even line_no."""
    snap = str(tmp_path_factory.mktemp("enc_snapshot") / "kv")
    putable = process_lines(enc_source, _cfg(skip_existing=False)).putable
    putable.filter(F.col("line_no") % 2 == 0).select("table", "key_hex", "version").write.parquet(snap)
    return spark.read.parquet(snap)


N_VARIANTS = len(variant_lines())  # 13 lines/file
# valid records = all minus malformed, no_id
N_VALID = N_VARIANTS - 2
# putable = valid minus too_early, too_late
N_PUTABLE = N_VALID - 2


def test_line_extraction(spark, dump_dir):
    lines = read_jsonl_lines(spark, dump_dir)
    assert lines.count() == 3 * N_VARIANTS
    one = lines.filter(F.col("db") == "agent-core").limit(1).collect()[0]
    assert one["collection"] == "agentToDoArchive"
    assert one["file_number"] == 2


def test_valid_and_putable_counts(result):
    assert result.records.count() == 3 * N_VALID
    assert result.putable.count() == 3 * N_PUTABLE


def test_filter_statuses(result):
    rows = result.records.groupBy("filter_status").count().collect()
    status = {r["filter_status"]: r["count"] for r in rows}
    assert status["FilterTooEarly"] == 3
    assert status["FilterTooLate"] == 3
    assert status["DoNotFilter"] == 3 * N_PUTABLE


def test_epoch_exempt_from_too_early(result):
    # no_timestamps -> version == 1980 epoch, must NOT be filtered
    epoch_rows = result.records.filter(F.col("version") == 315532800000)
    assert epoch_rows.count() == 3
    assert epoch_rows.filter(F.col("filter_status") == "DoNotFilter").count() == 3


def test_table_naming(result):
    tables = {r["table"] for r in result.records.select("table").distinct().collect()}
    # collection-two coalesces to collection; agentToDoArchive maps to agentToDo
    assert tables == {
        "database_1:collection_1",
        "database_1:collection",
        "agent_core:agentToDo",
    }


def test_row_key_matches_crc32_spec(result):
    r = result.records.filter(
        (F.col("db") == "database-1")
        & (F.col("collection") == "collection-1")
        & F.col("id_is_string")
    ).limit(1).collect()[0]
    canonical = r["canonical_id"].encode("utf-8")
    crc = zlib.crc32(canonical)
    expected = crc.to_bytes(4, "big") + canonical
    assert bytes(r["key"]) == expected
    assert r["key_hex"] == expected.hex()


def test_envelope_is_valid_json_with_fixed_shape(result):
    env = json.loads(result.records.limit(1).collect()[0]["envelope"])
    assert env["@type"] == "HDI"
    msg = env["message"]
    for f in (
        "@type", "_id", "mongo_format_stripped_from_id",
        "last_modified_date_time_was_altered", "created_date_time_was_altered",
        "removed_date_time_was_altered", "archived_date_time_was_altered",
        "historic_removed_record_altered_on_import",
        "historic_archived_record_altered_on_import",
        "_lastModifiedDateTime", "timestamp_created_from", "collection",
        "db", "dbObject", "encryption",
    ):
        assert f in msg, f
    assert set(msg["encryption"].keys()) == {
        "keyEncryptionKeyId", "initialisationVector", "encryptedEncryptionKey"
    }


def test_envelope_id_polymorphism(result):
    rows = result.records.select("id_is_string", "envelope").collect()
    for r in rows:
        _id = json.loads(r["envelope"])["message"]["_id"]
        if r["id_is_string"]:
            assert isinstance(_id, str)
        else:
            assert isinstance(_id, dict)


def test_envelope_dbobject_roundtrip_in_passthrough(result):
    row = result.records.limit(1).collect()[0]
    env = json.loads(row["envelope"])
    assert env["message"]["dbObject"] == row["record_json"]


def test_removed_version_pinned(result):
    removed = result.records.filter(F.col("is_removed")).limit(1).collect()[0]
    assert removed["inner_type"] == "MONGO_DELETE"
    assert removed["version"] == 1330897436000


def test_counts_report(result):
    counts = {
        (r["db"], r["collection"]): r
        for r in result.counts.collect()
    }
    row = counts[("database-1", "collection-1")]
    assert row["records_total"] == N_VARIANTS
    assert row["parse_errors"] == 1
    assert row["blank_ids"] == 1
    assert row["put_count"] == N_PUTABLE
    assert row["filtered_too_early"] == 1
    assert row["filtered_too_late"] == 1


def test_sinks_roundtrip(spark, dump_dir, tmp_path):
    lines = read_jsonl_lines(spark, dump_dir)
    cfg = PipelineConfig(
        skip_earlier_than=SKIP_EARLIER_THAN,
        skip_later_than=SKIP_LATER_THAN,
        skip_existing=False,
    )
    kv_path = str(tmp_path / "kv")
    manifest_dir = str(tmp_path / "manifests")
    run(spark, lines, cfg, kv_path=kv_path, manifest_dir=manifest_dir)

    kv = spark.read.parquet(kv_path)
    assert kv.count() == 3 * N_PUTABLE
    assert set(kv.columns) == {"table", "key", "key_hex", "version", "body"}

    files = sorted(os.listdir(manifest_dir))
    assert files == [
        "db.agent-core.agentToDoArchive-000002.csv",
        "db.database-1.collection-1-000001.csv",
        "db.database-1.collection-two-000001.csv",
    ]
    with open(os.path.join(manifest_dir, files[1]), encoding="utf-8") as fh:
        rows = [l.split("|") for l in fh.read().splitlines()]
    assert len(rows) == N_VALID  # manifest includes too_early/too_late
    assert all(len(r) == 8 for r in rows)
    assert all(r[4] == "IMPORT" and r[5] == "HDI" for r in rows)
    # canonical sorted-object id appears in manifest for object ids
    obj_ids = [r for r in rows if r[0].startswith("{")]
    assert all(json.loads(r[0]) for r in obj_ids)


def test_exists_anti_join(spark, dump_dir):
    lines = read_jsonl_lines(spark, dump_dir)
    cfg = PipelineConfig(
        skip_earlier_than=SKIP_EARLIER_THAN,
        skip_later_than=SKIP_LATER_THAN,
        skip_existing=True,
    )
    first = process_lines(lines, cfg)
    existing = first.putable.select("table", "key_hex", "version")
    second = process_lines(lines, cfg, existing=existing)
    assert second.putable.count() == 0


def test_latest_per_key(result):
    from uc_historic_data_importer_spark.operators.latest import (
        latest_per_key,
        latest_per_key_window,
    )

    latest = latest_per_key(result.records)
    latest_w = latest_per_key_window(result.records)
    n_keys = result.records.select("table", "key_hex").distinct().count()
    assert latest.count() == n_keys
    assert latest_w.count() == n_keys
    joined = latest.select("table", "key_hex", "version").exceptAll(
        latest_w.select("table", "key_hex", "version")
    )
    assert joined.count() == 0


def test_put_count_excludes_existing_and_reports_filtered_exists(spark):
    # review regression: the reference's put counter only counts records
    # actually written after the exists check (HBaseWriter.kt:309-314);
    # previously put_count included F4-dropped rows and FilterExists was
    # a dead constant
    from uc_historic_data_importer_spark.plans import pipeline as P

    lines = spark.createDataFrame(
        [
            ("db1", "c", 1, i,
             '{"_id":{"id":"r-%d"},"_lastModifiedDateTime":'
             '{"$date":"2020-01-0%dT00:00:00.000Z"}}' % (i, i))
            for i in range(1, 6)
        ],
        ["db", "collection", "file_number", "line_no", "raw_json"],
    )
    cfg = P.PipelineConfig()
    first = P.process_lines(lines, cfg)
    snapshot = first.putable.select("table", "key_hex", "version")
    rerun = P.process_lines(lines, cfg, existing=snapshot)
    assert rerun.putable.count() == 0
    row = rerun.counts.first()
    assert row["put_count"] == 0
    assert row["filtered_exists"] == 5
    # and a partial snapshot splits the counts exactly
    partial = snapshot.limit(2)
    half = P.process_lines(lines, cfg, existing=partial)
    c = half.counts.first()
    assert c["put_count"] == 3 and c["filtered_exists"] == 2
    assert half.putable.count() == 3


def test_mark_existing_null_keys_match_nothing(spark):
    """F4 compares (table, key_hex, version) by SQL equality: a NULL on
    either side matches nothing, duplicate snapshot cells mark a row
    once, and only a DoNotFilter row becomes FilterExists."""
    from uc_historic_data_importer_spark.operators import filters as Filt

    keys = "table string, key_hex string, version long"
    rows = [
        ("t", "k1", 1, "DoNotFilter"),
        ("t", "k1", 1, "FilterTooEarly"),
        ("t", "k2", 2, "DoNotFilter"),
        (None, "k3", 3, "DoNotFilter"),
        ("t", None, 4, "DoNotFilter"),
        ("t", "k5", None, "DoNotFilter"),
        (None, None, None, "DoNotFilter"),
    ]
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)], f"id int, {keys}, filter_status string"
    )
    existing = spark.createDataFrame(
        [("t", "k1", 1), ("t", "k1", 1), (None, "k3", 3), ("t", None, 4),
         ("t", "k5", None), (None, None, None)],
        keys,
    )
    out = Filt.mark_existing(df, existing)
    assert sorted(out.columns) == sorted(df.columns)
    assert sorted((r["id"], r["filter_status"]) for r in out.collect()) == [
        (0, "FilterExists"),
        (1, "FilterTooEarly"),
        (2, "DoNotFilter"),
        (3, "DoNotFilter"),
        (4, "DoNotFilter"),
        (5, "DoNotFilter"),
        (6, "DoNotFilter"),
    ]


def test_unparseable_filter_bound_raises(spark):
    import pytest as _pytest

    from uc_historic_data_importer_spark.operators import filters as Filt

    assert Filt.parse_filter_bound(None) is None
    assert Filt.parse_filter_bound("  ") is None
    with _pytest.raises(ValueError):
        Filt.parse_filter_bound("2020-01-01T00:00:00Z")  # no millis
    with _pytest.raises(ValueError):
        Filt.parse_filter_bound("not a timestamp")


class TestPipelineSpineReviewFixes:
    """Round-7 pipeline-spine review pass regressions."""

    def test_data_key_never_appears_in_query_plan(self, spark, enc_source):
        """The batch AES key must ship in the UDF closure, not as a
        Catalyst literal — a plan-literal key is readable in explain()
        output, the Spark UI SQL tab, and persisted event logs."""
        from uc_historic_data_importer_spark.operators.envelope import (
            encrypt_body,
        )

        key_b64 = "c2VjcmV0LWtleS1tYXRlcmlhbC0zMmJ5dGVzISEh"
        df = spark.createDataFrame(
            [("body",)], "record_json string"
        )
        out = encrypt_body(df, data_key_b64=key_b64)
        plan = out._jdf.queryExecution().toString()
        assert key_b64 not in plan
        # the job's path: the key rides the normalize UDF's closure
        lines = spark.createDataFrame(
            [("db", "c", 1, 1, '{"_id": "a"}')],
            "db string, collection string, file_number int, line_no int, "
            "raw_json string",
        )
        res = P.process_lines(
            lines, P.PipelineConfig(encrypt=True, data_key_b64=key_b64)
        )
        for frame in (res.records, res.putable, res.counts):
            assert key_b64 not in frame._jdf.queryExecution().toString()
        # encrypted dumps: the key rides the fused decrypt stage's closure
        fused = P.process_lines(
            enc_source, P.PipelineConfig(encrypt=True, data_key_b64=key_b64)
        )
        for frame in (fused.records, fused.putable, fused.manifest, fused.counts):
            plan = frame._jdf.queryExecution().toString()
            assert "MapInArrow" in plan and key_b64 not in plan

    def test_encrypt_body_cells_decrypt_with_their_own_iv(self, spark):
        """encrypt_body ciphers each body under the batch key with a
        fresh IV per row; the body comes back with that row's IV."""
        from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

        from uc_historic_data_importer_spark.operators.envelope import (
            encrypt_body,
        )

        bodies = ['{"_id":"a"}', '{"_id":"b","x":"\u00e9"}', '{"_id":"a"}']
        df = spark.createDataFrame([(b,) for b in bodies], "record_json string")
        rows = encrypt_body(df, data_key_b64=KEY_B64).collect()
        assert [r["record_json"] for r in rows] == bodies
        key = base64.b64decode(KEY_B64)
        for r in rows:
            iv = base64.b64decode(r["iv"])
            assert len(iv) == 16
            dec = Cipher(algorithms.AES(key), modes.CTR(iv)).decryptor()
            text = dec.update(base64.b64decode(r["db_object"])) + dec.finalize()
            assert text.decode("utf-8") == r["record_json"]
        assert len({r["iv"] for r in rows}) == len(rows)

    def test_unknown_run_mode_fails_loudly(self, spark):
        lines = spark.createDataFrame(
            [("db", "c", 1, 1, "{}")],
            "db string, collection string, file_number int, line_no int, "
            "raw_json string",
        )
        with pytest.raises(ValueError, match="run_mode"):
            P.process_lines(lines, P.PipelineConfig(run_mode="manifests"))

    def test_offset_format_filter_bound_accepted(self):
        from uc_historic_data_importer_spark.operators.filters import (
            parse_filter_bound,
        )

        z = parse_filter_bound("2020-01-01T00:00:00.000Z")
        off = parse_filter_bound("2020-01-01T00:00:00.000+0000")
        assert z == off
        with pytest.raises(ValueError):
            parse_filter_bound("not-a-time")

    def test_latest_per_key_handles_dotted_column_names(self, spark):
        from uc_historic_data_importer_spark.operators.latest import (
            latest_per_key,
        )

        # extra columns (a dotted name included) do not disturb the pick
        df = spark.createDataFrame(
            [("t", "k", 1, "old", "x"), ("t", "k", 2, "new", "y")],
            ["table", "key_hex", "version", "record_json", "payload.v1"],
        )
        out = latest_per_key(df).collect()
        assert len(out) == 1 and out[0]["record_json"] == "new"

    def test_scd2_duplicate_versions_collapse_deterministically(self, spark):
        from uc_historic_data_importer_spark.operators.latest import (
            scd2_intervals,
        )

        df = spark.createDataFrame(
            [("k", 100, "bodyA"), ("k", 100, "bodyB"), ("k", 200, "bodyC")],
            "user_id string, version long, body string",
        )
        rows = sorted(
            (r["version"], r["body"], r["valid_to"], r["is_current"])
            for r in scd2_intervals(df).collect()
        )
        # one interval per VERSION (no zero-width duplicates), max body
        # wins the tie (compact_kv's rule), intervals chain correctly
        assert rows == [
            (100, "bodyB", 200, False),
            (200, "bodyC", None, True),
        ]

    def test_run_persists_normalized_frame_across_sinks(self, spark):
        lines = spark.createDataFrame(
            [("db", "c", 1, 1,
              '{"_id": {"someId": "a"}, "_lastModifiedDateTime":'
              ' {"$date": "2018-12-01T15:01:02.000Z"}}')],
            "db string, collection string, file_number int, line_no int, "
            "raw_json string",
        )
        result = P.process_lines(lines, P.PipelineConfig(), persist=True)
        plan = result.putable._jdf.queryExecution().toString()
        assert "InMemoryRelation" in plan  # the normalize UDF runs once
        # nothing downstream reads the raw line, so the cache holds none
        assert "raw_json" not in result.persisted.columns
        result.unpersist()

    def test_run_releases_persisted_frame(self, spark, tmp_path):
        """Repeated run() calls must not accumulate cached frames: the
        normalized frame is persisted only for the duration of the sink
        fan-out + counts report and released in a finally (the r7 leak:
        persist with no unpersist, a library caller looping run() over
        many collections piled caches up until LRU eviction)."""
        lines = spark.createDataFrame(
            [("db", "c", 1, 1,
              '{"_id": {"someId": "a"}, "_lastModifiedDateTime":'
              ' {"$date": "2018-12-01T15:01:02.000Z"}}'),
             ("db", "c", 1, 2, "not json")],
            "db string, collection string, file_number int, line_no int, "
            "raw_json string",
        )
        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        for i in range(2):
            result = P.run(
                spark, lines, P.PipelineConfig(),
                kv_path=str(tmp_path / f"kv{i}"),
                manifest_dir=str(tmp_path / f"mf{i}"),
            )
            assert result.persisted is None
            # counts came back as a materialized local frame (usable
            # after the cache is gone, without re-running the pipeline)
            rows = result.counts.collect()
            assert len(rows) == 1
            assert rows[0]["records_total"] == 2
            assert rows[0]["parse_errors"] == 1
        after = spark.sparkContext._jsc.getPersistentRDDs().size()
        assert after == before  # nothing leaked across the two runs


KEY_B64 = base64.b64encode(bytes(range(32))).decode()


def _cfg(**kw) -> PipelineConfig:
    return PipelineConfig(
        skip_earlier_than=SKIP_EARLIER_THAN, skip_later_than=SKIP_LATER_THAN, **kw
    )


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestPythonBoundaries:
    """The job crosses into Python once per record for normalize +
    encrypt, the counts never re-enter Python, and the F5 report is one
    aggregate over the normalized frame (no join-back)."""

    def test_counts_plan_joins_only_the_snapshot_marker(self, spark, dump_dir, tmp_path):
        lines = read_jsonl_lines(spark, dump_dir)
        first = process_lines(lines, _cfg(skip_existing=False))
        snap = str(tmp_path / "snapshot")
        first.putable.select("table", "key_hex", "version").write.parquet(snap)
        existing = spark.read.parquet(snap)
        rerun = process_lines(lines, _cfg(), existing=existing)
        joins = lambda df: re.findall(r"^[\s:+-]*(\w*Join)\b", _physical_plan(df), re.M)  # noqa: E731
        assert joins(first.counts) == []
        assert joins(rerun.counts) == ["BroadcastHashJoin"]
        # F4 is an existence join: each row comes out once, so the
        # snapshot is not deduplicated by an aggregate first
        plan = _physical_plan(rerun.counts)
        assert "ExistenceJoin" in plan and plan.count("HashAggregate") == 2, plan
        totals = rerun.counts.agg(
            F.sum("put_count").alias("put"), F.sum("filtered_exists").alias("exists")
        ).first()
        assert (totals["put"], totals["exists"]) == (0, 3 * N_PUTABLE)
        # encrypt + snapshot: every branch holds exactly one Python eval,
        # the fused normalize + encrypt UDF
        enc = process_lines(
            lines, _cfg(encrypt=True, data_key_b64=KEY_B64), existing=existing
        )
        for frame in (enc.records, enc.putable, enc.manifest, enc.counts):
            plan = _physical_plan(frame)
            assert plan.count("ArrowEvalPython") == 1, plan
            assert "BatchEvalPython" not in plan

    @pytest.mark.parametrize("arrow", ["true", "false"])
    def test_run_counts_lineage_has_no_python_rdd(self, spark, dump_dir, tmp_path, arrow):
        """run() hands back a driver-local counts frame; built from a
        row list it was a Python RDD that started a worker per
        partition on every scan. Arrow off is how a bare session (the
        verify drive's) runs."""
        lines = read_jsonl_lines(spark, dump_dir)
        conf = "spark.sql.execution.arrow.pyspark.enabled"
        saved = spark.conf.get(conf)
        spark.conf.set(conf, arrow)
        try:
            result = run(
                spark, lines, _cfg(skip_existing=False),
                kv_path=str(tmp_path / "kv"), manifest_dir=str(tmp_path / "mf"),
            )
        finally:
            spark.conf.set(conf, saved)
        lineage = result.counts._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in lineage, lineage
        expected = process_lines(lines, _cfg(skip_existing=False)).counts
        assert sorted(result.counts.collect()) == sorted(expected.collect())

    def test_kv_cells_decrypt_to_their_record_json(self, spark, dump_dir, tmp_path):
        """Every cell run() writes decrypts, with the run key and its own
        IV, to the normalized body of its row; IVs are per record."""
        from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

        lines = read_jsonl_lines(spark, dump_dir)
        kv = str(tmp_path / "kv")
        run(
            spark, lines,
            _cfg(skip_existing=False, encrypt=True, data_key_b64=KEY_B64,
                 key_encryption_key_id="kek", encrypted_encryption_key="E"),
            kv_path=kv,
        )
        bodies: dict[tuple, set] = {}
        plain = process_lines(lines, _cfg(skip_existing=False)).putable
        for r in plain.select("table", "key_hex", "version", "record_json").collect():
            bodies.setdefault((r["table"], r["key_hex"], r["version"]), set()).add(
                r["record_json"]
            )
        cells = spark.read.parquet(kv).collect()
        assert len(cells) == 3 * N_PUTABLE
        key, ivs = base64.b64decode(KEY_B64), set()
        for c in cells:
            message = json.loads(c["body"])["message"]
            assert message["encryption"]["keyEncryptionKeyId"] == "kek"
            iv = base64.b64decode(message["encryption"]["initialisationVector"])
            ivs.add(iv)
            dec = Cipher(algorithms.AES(key), modes.CTR(iv)).decryptor()
            text = dec.update(base64.b64decode(message["dbObject"])) + dec.finalize()
            assert text.decode("utf-8") in bodies[(c["table"], c["key_hex"], c["version"])]
        assert len(ivs) == len(cells)

    def test_source_frame_branches_hold_one_map_in_arrow(self, enc_source, enc_snapshot):
        """Encrypted dumps cross into Python once per record: decrypt,
        normalize and encrypt share one mapInArrow on every branch."""
        enc = process_lines(
            enc_source, _cfg(encrypt=True, data_key_b64=KEY_B64), existing=enc_snapshot
        )
        for frame in (enc.records, enc.putable, enc.manifest, enc.counts):
            plan = _physical_plan(frame)
            assert plan.count("MapInArrow") == 1, plan
            for node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
                assert node not in plan, plan

    def test_run_jobs_per_sink(self, spark, enc_source, enc_snapshot, tmp_path, monkeypatch):
        """One run() over encrypted dumps with a snapshot runs 7 Spark
        jobs: 3 in the KV sink, 2 in the manifest sink (its shuffle and
        its writer) and 2 for the counts. Neither the decrypt tasks nor
        the exists check adds a job of its own."""
        from uc_historic_data_importer_spark import sinks

        jobs = {}

        def counted(name):
            sink = getattr(sinks, name)

            def wrapper(*args):
                out, jobs[name] = count_jobs(spark, lambda: sink(*args))
                return out

            return wrapper

        for name in ("kv_sink", "manifest_sink"):
            monkeypatch.setattr(sinks, name, counted(name))
        _, jobs["counts"] = count_jobs(spark, lambda: run(
            spark, enc_source, _cfg(encrypt=True, data_key_b64=KEY_B64),
            kv_path=str(tmp_path / "kv"), manifest_dir=str(tmp_path / "mf"),
            existing=enc_snapshot,
        ))
        assert jobs == {"kv_sink": 3, "manifest_sink": 2, "counts": 2}

    def test_fused_stage_caches_no_raw_line(self, enc_source):
        """The decrypt stage emits ``norm`` in place of the raw line, so
        the persisted frame does not hold the decompressed dump."""
        assert "raw_json" not in enc_source._normalized().columns
        result = process_lines(enc_source, _cfg(), persist=True)
        try:
            assert "raw_json" not in result.persisted.columns
        finally:
            result.unpersist()

    def test_fused_source_matches_the_frame_path(self, spark, enc_source, enc_snapshot, tmp_path):
        """The source frame, normalized in its decrypt stage, and the same
        frame behind a projection, normalized by the Arrow UDF, give the
        same counts, manifests, KV cells and record schema."""
        from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

        cfg = _cfg(encrypt=True, data_key_b64=KEY_B64)
        key = base64.b64decode(KEY_B64)
        outputs = {}
        for name, lines in (("fused", enc_source), ("frame", enc_source.select("*"))):
            records = process_lines(lines, cfg, existing=enc_snapshot).records
            assert ("ArrowEvalPython" in _physical_plan(records)) == (name == "frame")
            kv, mf = str(tmp_path / name / "kv"), str(tmp_path / name / "mf")
            result = run(spark, lines, cfg, kv_path=kv, manifest_dir=mf, existing=enc_snapshot)
            manifests = {}
            for f in os.listdir(mf):
                with open(os.path.join(mf, f), "rb") as fh:
                    manifests[f] = fh.read()
            cells = []
            for c in spark.read.parquet(kv).collect():
                message = json.loads(c["body"])["message"]
                iv = base64.b64decode(message["encryption"]["initialisationVector"])
                dec = Cipher(algorithms.AES(key), modes.CTR(iv)).decryptor()
                body = dec.update(base64.b64decode(message["dbObject"])) + dec.finalize()
                cells.append((c["table"], c["key_hex"], c["version"], body.decode("utf-8")))
            outputs[name] = (
                sorted(result.counts.collect()), manifests, sorted(cells), records.schema
            )
        counts, manifests, cells, schema = outputs["fused"]
        assert counts == outputs["frame"][0]
        assert manifests == outputs["frame"][1]
        assert cells == outputs["frame"][2]
        assert schema == outputs["frame"][3]
        assert sum(r["put_count"] for r in counts) == len(cells) > 0
        assert sum(r["filtered_exists"] for r in counts) > 0
        assert len(manifests) == 4
        # line numbers run 1..N across the file's emit chunks
        long_rows = process_lines(enc_source, _cfg(skip_existing=False)).records
        line_nos = [r["line_no"] for r in long_rows.filter(F.col("db") == "db-long").collect()]
        assert sorted(line_nos) == list(range(1, N_LONG + 1))

    def test_keyed_normalize_schema_and_invalid_rows(self, spark, dump_dir):
        from uc_historic_data_importer_spark.operators.transforms import (
            KEYED_NORMALIZED_SCHEMA,
            NORMALIZED_SCHEMA,
            normalize_records,
        )

        lines = read_jsonl_lines(spark, dump_dir)
        # the catalog / streaming path: no key, the unchanged schema
        assert normalize_records(lines).schema["norm"].dataType == NORMALIZED_SCHEMA
        assert "db_object" not in NORMALIZED_SCHEMA.names
        keyed = normalize_records(lines, data_key_b64=KEY_B64)
        assert keyed.schema["norm"].dataType == KEYED_NORMALIZED_SCHEMA
        assert KEYED_NORMALIZED_SCHEMA.names == NORMALIZED_SCHEMA.names + ["db_object", "iv"]
        rows = keyed.select("norm.valid", "norm.db_object", "norm.iv").collect()
        invalid = [r for r in rows if not r["valid"]]
        assert len(invalid) == 3 * (N_VARIANTS - N_VALID)
        assert all(r["db_object"] is None and r["iv"] is None for r in invalid)
        valid = [r for r in rows if r["valid"]]
        assert len(valid) == 3 * N_VALID
        assert all(r["db_object"] and len(base64.b64decode(r["iv"])) == 16 for r in valid)
