"""CLI runner (run.py) coverage: plain-JSONL mode end to end with the
variant fixture, plus filter/run-mode flags."""

import json
import os

from tests.fixtures import SKIP_EARLIER_THAN, SKIP_LATER_THAN, write_dump_file
from uc_historic_data_importer_spark.run import main


def test_runner_plain_jsonl(spark, tmp_path, capsys):
    inp = tmp_path / "in"
    inp.mkdir()
    n = write_dump_file(str(inp / "database-1.collection-1.0001.json"))
    kv = str(tmp_path / "kv")
    manifests = str(tmp_path / "manifests")

    rc = main([
        "--input-dir", str(inp),
        "--plain-jsonl",
        "--kv-path", kv,
        "--manifest-dir", manifests,
        "--skip-earlier-than", SKIP_EARLIER_THAN,
        "--skip-later-than", SKIP_LATER_THAN,
        "--master", "local[4]",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["files_processed"] == 1
    assert report["records_processed"] == n
    assert report["put_count"] == n - 4  # malformed, no_id, too_early, too_late
    assert report["filtered_too_early"] == 1
    assert report["filtered_too_late"] == 1
    assert report["parse_errors"] == 1
    assert os.path.exists(kv)
    assert os.listdir(manifests) == ["db.database-1.collection-1-000001.csv"]


def test_runner_report_totals_every_counter(spark, tmp_path, capsys):
    """The totals cover every F5 counter, so a re-run over an existing-KV
    snapshot with a bad date adds up to records_processed."""
    first, second = tmp_path / "first", tmp_path / "second"
    first.mkdir()
    second.mkdir()
    write_dump_file(str(first / "db.c.0001.json"))
    write_dump_file(str(second / "db.c.0001.json"))
    with open(second / "db.d.0002.json", "w", encoding="utf-8") as fh:
        fh.write(json.dumps({"_id": "bad-date", "_lastModifiedDateTime": {"$date": "not a date"}}) + "\n")
        fh.write(json.dumps({"_id": "new", "createdDateTime": "2018-12-01T15:01:02.000Z"}) + "\n")
    kv = str(tmp_path / "kv")
    assert main(["--input-dir", str(first), "--plain-jsonl", "--run-mode", "import",
                 "--kv-path", kv, "--master", "local[4]"]) == 0
    capsys.readouterr()
    assert main(["--input-dir", str(second), "--plain-jsonl", "--run-mode", "import",
                 "--kv-path", str(tmp_path / "kv2"), "--skip-existing", "--existing-kv", kv,
                 "--master", "local[4]"]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    per_file = report["per_file"]
    counters = [k for k in per_file[0] if k not in ("db", "collection", "file_number")]
    assert len(counters) == 8
    for name in counters:
        total = report["records_processed" if name == "records_total" else name]
        assert total == sum(r[name] for r in per_file), name
    assert report["date_errors"] == 1 and report["filtered_exists"] > 0 and report["put_count"] == 1
    outcomes = ("parse_errors", "date_errors", "blank_ids", "put_count",
                "filtered_too_early", "filtered_too_late", "filtered_exists")
    assert sum(report[k] for k in outcomes) == report["records_processed"]


def test_runner_manifest_only_mode(spark, tmp_path, capsys):
    inp = tmp_path / "in2"
    inp.mkdir()
    write_dump_file(str(inp / "db-2.coll.0001.json"))
    kv = str(tmp_path / "kv2")
    manifests = str(tmp_path / "manifests2")
    rc = main([
        "--input-dir", str(inp),
        "--plain-jsonl",
        "--run-mode", "manifest",
        "--kv-path", kv,
        "--manifest-dir", manifests,
        "--master", "local[4]",
    ])
    assert rc == 0
    assert not os.path.exists(kv)  # import sink gated off
    assert len(os.listdir(manifests)) == 1


def test_runner_compact_mode(spark, tmp_path, capsys):
    inp = tmp_path / "in3"
    inp.mkdir()
    write_dump_file(str(inp / "db-3.coll.0001.json"))
    kv = str(tmp_path / "kv3")
    rc = main([
        "--input-dir", str(inp), "--plain-jsonl",
        "--run-mode", "import", "--kv-path", kv,
        "--master", "local[4]",
    ])
    assert rc == 0
    capsys.readouterr()
    out = str(tmp_path / "kv3_compacted")
    rc = main([
        "--compact-src", kv, "--compact-out", out,
        "--keep-versions", "1", "--master", "local[4]",
    ])
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["mode"] == "compact"
    # compaction keeps exactly one cell per live key
    distinct_keys = (
        spark.read.parquet(kv).select("table", "key_hex").distinct().count()
    )
    assert report["kept_cells"] == distinct_keys


def test_apply_changelog_mode(spark, tmp_path):
    from uc_historic_data_importer_spark import run as runner

    log1 = tmp_path / "log1"
    spark.createDataFrame(
        [(1, 1, "P", 10.0), (2, 1, "P", 20.0)],
        "id BIGINT, seq BIGINT, op STRING, score DOUBLE",
    ).write.parquet(str(log1))
    log2 = tmp_path / "log2"
    spark.createDataFrame(
        [(2, 2, "D", None), (3, 2, "P", 30.0)],
        "id BIGINT, seq BIGINT, op STRING, score DOUBLE",
    ).write.parquet(str(log2))
    base = str(tmp_path / "snap")

    assert runner.main([
        "--apply-changelog", str(log1), "--snapshot-base", base,
        "--merge-keys", "id", "--master", "local[2]",
    ]) == 0
    assert runner.main([
        "--apply-changelog", str(log2), "--snapshot-base", base,
        "--merge-keys", "id", "--master", "local[2]",
    ]) == 0
    final = {r["id"]: r["score"]
             for r in spark.read.parquet(f"{base}/v=1").collect()}
    assert final == {1: 10.0, 3: 30.0}
