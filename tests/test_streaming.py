"""Structured Streaming pipeline tests (availableNow micro-batch runs)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.fixtures import write_dump_file
from uc_historic_data_importer_spark.streaming import stream_pipeline as sp


@pytest.fixture(scope="module")
def stream_dirs(tmp_path_factory):
    d = tmp_path_factory.mktemp("stream")
    inp = d / "in"
    inp.mkdir()
    write_dump_file(str(inp / "database-1.collection-1.0001.json"))
    write_dump_file(str(inp / "database-1.collection-1.0002.json"))
    return {
        "input": str(inp),
        "chk2": str(d / "chk2"),
        "chk3": str(d / "chk3"),
    }


def _run(query, timeout=120):
    query.awaitTermination(timeout)
    query.stop()


def test_windowed_counts(spark, stream_dirs):
    lines = sp.read_jsonl_stream(spark, stream_dirs["input"])
    counts = sp.windowed_counts(sp.normalized_stream(lines))
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", stream_dirs["chk2"])
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    rows = spark.table("win_counts").collect()
    # append mode emits only watermark-closed windows; the fixture spans
    # multiple years so all but the max-event-time window close
    assert sum(r["n"] for r in rows) > 0
    assert all(r["table"] == "database_1:collection_1" for r in rows)


def test_stateful_latest_per_key(spark, stream_dirs):
    lines = sp.read_jsonl_stream(spark, stream_dirs["input"])
    latest = sp.latest_per_key_stream(sp.normalized_stream(lines))
    q = (
        latest.writeStream.format("memory")
        .queryName("latest_stream")
        .outputMode("update")
        .option("checkpointLocation", stream_dirs["chk3"])
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    out = spark.table("latest_stream")
    # final state: one row per key with the max version seen
    final = out.groupBy("table", "key_hex").agg(F.max("version").alias("version"))
    batch_keys = sp.normalized_stream_batch_keys(spark, stream_dirs["input"])
    assert final.count() == batch_keys.count()
    mismatch = final.join(batch_keys, ["table", "key_hex", "version"], "left_anti")
    assert mismatch.count() == 0


def _ttl_record(some_id: str, iso_ts: str) -> str:
    return json.dumps(
        {
            "_id": {"someId": some_id},
            "payload": f"{some_id}@{iso_ts}",
            "_lastModifiedDateTime": {"$date": iso_ts},
        }
    )


def test_latest_per_key_ttl_evicts_idle_keys_and_converges(spark, tmp_path):
    """The TTL variant's contract: a key idle past its business-time
    horizon is evicted ONCE (final=true, carrying its last state) when
    the watermark passes; still-active keys keep their state; the last
    emission per key (final or not) equals the batch ground truth."""
    inp = tmp_path / "in"
    inp.mkdir()
    # key A lives only in file 1 (Jan 1); key B advances through Jan 10
    # across four files -> four micro-batches with maxFilesPerTrigger=1,
    # so the watermark (max event time - 1 hour) passes A's horizon
    # (Jan 1 + the 6-hour TTL) while data is still flowing.
    days = ["2020-01-01", "2020-01-04", "2020-01-07", "2020-01-10"]
    for i, day in enumerate(days, start=1):
        lines = [_ttl_record("B", f"{day}T00:00:00.000Z")]
        if i == 1:
            lines.append(_ttl_record("A", f"{day}T00:05:00.000Z"))
        p = inp / f"database-1.collection-1.{i:04d}.json"
        p.write_text("\n".join(lines) + "\n")
        # the file source orders micro-batches by MODIFICATION TIME, not
        # filename — pin ascending mtimes so the watermark advances in
        # business-time order (equal mtimes let file 4 lead, the
        # watermark jumps to Jan 10 first, and A enters as
        # already-past-horizon data whose clamped timeout can never
        # fire: the disorder case the docstring routes to batch/CDC)
        os.utime(p, (1_000_000_000 + i * 1000, 1_000_000_000 + i * 1000))
    lines_df = sp.read_jsonl_stream(spark, str(inp), max_files_per_trigger=1)
    latest = sp.latest_per_key_stream_ttl(sp.normalized_stream(lines_df))
    q = (
        latest.writeStream.format("memory")
        .queryName("latest_ttl")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    out = spark.table("latest_ttl").collect()
    by_key = {}
    finals = []
    for r in out:
        by_key.setdefault(r["key_hex"], []).append(r)
        if r["final"]:
            finals.append(r)
    batch = {
        r["key_hex"]: r["version"]
        for r in sp.normalized_stream_batch_keys(spark, str(inp)).collect()
    }
    assert len(batch) == 2
    key_a = next(k for k, v in batch.items() if min(batch.values()) == v)
    key_b = next(k for k in batch if k != key_a)
    # A was evicted exactly once, carrying its final state
    assert [r["key_hex"] for r in finals] == [key_a]
    assert finals[0]["version"] == batch[key_a]
    assert finals[0]["record_json"] is not None
    # B stayed live (its horizon outruns the final watermark): no final
    assert all(not r["final"] for r in by_key[key_b])
    # convergence: last emission per key == batch max version
    for k, v in batch.items():
        assert max(r["version"] for r in by_key[k]) == v



def test_session_window_stream_matches_batch(spark, tmp_path):
    from uc_historic_data_importer_spark.operators import sessions

    inp = tmp_path / "events_in"
    inp.mkdir()
    # user 1: two sessions (40-min gap); user 2: one session
    rows = [
        (1, 1, "2021-01-01T10:00:00"),
        (2, 1, "2021-01-01T10:10:00"),
        (3, 1, "2021-01-01T10:50:01"),  # >30min after prev -> new session
        (4, 1, "2021-01-01T11:00:00"),
        (5, 2, "2021-01-01T09:00:00"),
        (6, 2, "2021-01-01T09:20:00"),
    ]
    with open(inp / "events.json", "w") as f:
        for eid, uid, ts in rows:
            f.write(
                json.dumps({"event_id": eid, "user_id": uid, "ts": ts}) + "\n"
            )
    schema = "event_id LONG, user_id LONG, ts STRING"
    stream = (
        spark.readStream.schema(schema)
        .json(str(inp))
        .withColumn("event_time", F.to_timestamp("ts"))
    )
    out = sp.session_counts_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "chk_sess"))
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    got = sorted(
        (r["user_id"], r["n_events"])
        for r in spark.table("sess_stream").collect()
    )
    batch = (
        spark.read.schema(schema)
        .json(str(inp))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    want = sorted(
        (r["user_id"], r["n"])
        for r in sessions.sessionize(batch, gap_ms=30 * 60 * 1000)
        .groupBy("user_id", "session_idx")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert got == want == [(1, 2), (1, 2), (2, 2)]


def test_streaming_hll_registers_converge_to_batch(spark, tmp_path):
    from uc_historic_data_importer_spark.operators import sketches

    inp = tmp_path / "hll_in"
    inp.mkdir()
    # two files -> two micro-batches; duplicated users across files
    for fname, lo, hi in (("a.json", 0, 400), ("b.json", 200, 600)):
        with open(inp / fname, "w") as f:
            for i in range(lo, hi):
                f.write(json.dumps({"user_id": i % 350}) + "\n")
    schema = "user_id LONG"
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).json(str(inp))
    # the batch register builder IS the streaming one: groupBy + max is
    # a supported streaming aggregation; state = 2^p registers
    regs = sketches.hll_registers(stream)
    q = (
        regs.writeStream.format("memory")
        .queryName("hll_regs")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "chk_hll"))
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    streamed = sketches.hll_estimate(spark.table("hll_regs")).collect()[0]
    batch_df = spark.read.schema(schema).json(str(inp))
    direct = sketches.hll_distinct(
        batch_df.withColumn("event_type", F.lit("t"))
    ).collect()[0]
    assert streamed["hll_distinct"] == direct["hll_distinct"]


def test_changelog_merge_sink_converges_to_batch_merge(spark, tmp_path):
    """Two change files streamed one-per-batch through the CDC merge sink
    must leave the same final snapshot as one batch merge of the full
    ordered log — puts upsert, tombstones delete, later batches override
    earlier ones."""
    from uc_historic_data_importer_spark.operators import cdc

    in_dir = tmp_path / "changes"
    in_dir.mkdir()
    schema = "id BIGINT, seq BIGINT, op STRING, score DOUBLE"
    epoch1 = spark.createDataFrame(
        [(1, 1, "P", 10.0), (2, 1, "P", 20.0), (3, 1, "P", 30.0),
         (2, 2, "D", None)],
        schema,
    )
    epoch2 = spark.createDataFrame(
        [(1, 3, "P", 11.0),   # update key 1
         (2, 3, "P", 22.0),   # resurrect key 2
         (3, 3, "D", None),   # delete key 3
         (4, 3, "P", 40.0)],  # insert key 4
        schema,
    )
    epoch1.coalesce(1).write.parquet(str(in_dir / "e1"))
    epoch2.coalesce(1).write.parquet(str(in_dir / "e2"))

    changes = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*"))
    )
    snap_base = str(tmp_path / "snap")
    q = sp.run_changelog_merge_sink(
        changes, snap_base, str(tmp_path / "chk"), key_cols=("id",)
    )
    _run(q)

    latest = sp.latest_snapshot_version(spark, snap_base)
    assert latest is not None
    got = {
        (r["id"], r["score"])
        for r in spark.read.parquet(f"{snap_base}/v={latest}").collect()
    }

    # batch ground truth: fold the full ordered log from empty
    empty = spark.createDataFrame([], "id BIGINT, score DOUBLE")
    want_df = cdc.merge_changelog(
        cdc.merge_changelog(empty, epoch1, ("id",)), epoch2, ("id",)
    )
    want = {(r["id"], r["score"]) for r in want_df.collect()}
    assert got == want == {(1, 11.0), (2, 22.0), (4, 40.0)}


def test_changelog_sink_kill_and_resume_replays_idempotently(spark, tmp_path):
    """Forced crash-recovery drill for the CDC merge sink: run two
    micro-batches, then simulate a crash in the exactly-once danger
    window — AFTER the snapshot write started but BEFORE the checkpoint
    commit — by deleting the last commit marker and leaving ``v=1``
    half-written (no _SUCCESS, a data file missing). A restart from the
    same checkpoint must replay batch 1 against the same input version,
    rewrite ``v=1`` completely, then continue into new input; the final
    state must equal the batch fold of the full ordered log."""
    from uc_historic_data_importer_spark.operators import cdc

    in_dir = tmp_path / "changes"
    in_dir.mkdir()
    schema = "id BIGINT, seq BIGINT, op STRING, score DOUBLE"
    epoch1 = spark.createDataFrame(
        [(1, 1, "P", 10.0), (2, 1, "P", 20.0), (3, 1, "P", 30.0)], schema
    )
    epoch2 = spark.createDataFrame(
        [(2, 2, "D", None), (4, 2, "P", 40.0)], schema
    )
    epoch3 = spark.createDataFrame(
        [(1, 3, "P", 11.0), (3, 3, "D", None)], schema
    )
    epoch1.coalesce(1).write.parquet(str(in_dir / "e1"))
    epoch2.coalesce(1).write.parquet(str(in_dir / "e2"))

    def start():
        changes = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(in_dir / "*"))
        )
        return sp.run_changelog_merge_sink(
            changes, snap_base, chk, key_cols=("id",)
        )

    def run_drained(q):
        # the checkpoint registry releases on FULL stop; a back-to-back
        # restart on the same location needs the first query gone
        import time

        _run(q)
        for _ in range(100):
            if not q.isActive and not spark.streams.active:
                return
            time.sleep(0.1)
        raise AssertionError("streaming query did not release")

    snap_base, chk = str(tmp_path / "snap"), str(tmp_path / "chk")
    run_drained(start())
    v1 = sp.latest_snapshot_version(spark, snap_base)
    assert v1 == 1
    want_v1 = {
        (r["id"], r["score"])
        for r in spark.read.parquet(f"{snap_base}/v=1").collect()
    }
    assert want_v1 == {(1, 10.0), (3, 30.0), (4, 40.0)}

    # --- simulated crash between snapshot write and checkpoint commit:
    # the commit marker for batch 1 never landed, and v=1 is a torn
    # write (no _SUCCESS, one data file gone)
    def rm(*parts):
        # remove a file plus its local-FS checksum sidecar, as a real
        # (Hadoop-mediated) delete would
        p = os.path.join(*parts)
        os.remove(p)
        crc = os.path.join(os.path.dirname(p), f".{os.path.basename(p)}.crc")
        if os.path.exists(crc):
            os.remove(crc)

    rm(chk, "commits", "1")
    rm(snap_base, "v=1", "_SUCCESS")
    for f in os.listdir(os.path.join(snap_base, "v=1")):
        if f.endswith(".parquet"):
            rm(snap_base, "v=1", f)
            break
    # the torn v=1 is invisible to readers (no _SUCCESS) — recovery
    # reads v=0, exactly what the replayed fold will do
    assert sp.latest_snapshot_version(spark, snap_base) == 0

    # more input arrives while "down"
    epoch3.coalesce(1).write.parquet(str(in_dir / "e3"))

    # --- restart from the same checkpoint: batch 1 must replay
    # (same input file, same prev snapshot v=0), then batch 2 folds e3
    run_drained(start())
    assert sp.latest_snapshot_version(spark, snap_base) == 2
    got_v1 = {
        (r["id"], r["score"])
        for r in spark.read.parquet(f"{snap_base}/v=1").collect()
    }
    assert got_v1 == want_v1  # idempotent replay rebuilt the torn write

    got = {
        (r["id"], r["score"])
        for r in spark.read.parquet(f"{snap_base}/v=2").collect()
    }
    empty = spark.createDataFrame([], "id BIGINT, score DOUBLE")
    want_df = cdc.merge_changelog(
        cdc.merge_changelog(
            cdc.merge_changelog(empty, epoch1, ("id",)), epoch2, ("id",)
        ),
        epoch3,
        ("id",),
    )
    want = {(r["id"], r["score"]) for r in want_df.collect()}
    assert got == want == {(1, 11.0), (4, 40.0)}


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (clicks -> errors of the
    same user within [1 ms, 24 h]) must produce exactly the pairs a
    batch join with the same predicate finds."""
    base = 1_700_000_000_000  # ms
    clicks = [
        (1, base + 0),
        (1, base + 300_000),
        (2, base + 0),
    ]
    errors = [
        (1, base + 60_000),    # within 24 h of click@0
        (1, base + 540_000),   # within of click@0 AND click@300k
        (2, base + 90_000_000),  # 25 h after click@0 -> no match
        (3, base + 60_000),    # no click for user 3
    ]
    cdir, edir = tmp_path / "clicks", tmp_path / "errors"
    spark.createDataFrame(clicks, "user_id long, l_ms long").select(
        "user_id", F.timestamp_millis(F.col("l_ms")).alias("l_ts")
    ).coalesce(1).write.parquet(str(cdir))
    spark.createDataFrame(errors, "user_id long, r_ms long").select(
        "user_id", F.timestamp_millis(F.col("r_ms")).alias("r_ts")
    ).coalesce(1).write.parquet(str(edir))

    ls = spark.readStream.schema("user_id BIGINT, l_ts TIMESTAMP").parquet(str(cdir))
    rs = spark.readStream.schema("user_id BIGINT, r_ts TIMESTAMP").parquet(str(edir))
    joined = sp.interval_join_stream(ls, rs).select(
        F.col("l.user_id").alias("user_id"), "l.l_ts", "r.r_ts"
    )
    out_dir, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", chk)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    got = {
        (r["user_id"], r["l_ts"], r["r_ts"])
        for r in spark.read.parquet(out_dir).collect()
    }

    lb = spark.read.parquet(str(cdir))
    rb = spark.read.parquet(str(edir))
    lag = F.unix_millis("r_ts") - F.unix_millis("l_ts")
    want_df = lb.join(rb, "user_id").filter(lag.between(1, 86_400_000))
    want = {
        (r["user_id"], r["l_ts"], r["r_ts"]) for r in want_df.collect()
    }
    assert got == want
    assert len(got) == 3


def test_incomplete_snapshot_version_is_invisible(spark, tmp_path):
    # a v=N directory without _SUCCESS is an in-flight (or crashed)
    # write: readers must not pick it
    base = tmp_path / "snap"
    for v, complete in ((0, True), (1, True), (2, False)):
        d = base / f"v={v}"
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"x")
        if complete:
            (d / "_SUCCESS").write_bytes(b"")
    assert sp.latest_snapshot_version(spark, str(base)) == 1


def test_changelog_batch_replay_is_idempotent(spark, tmp_path):
    """A batch replayed after a crash-between-write-and-commit must
    re-read the same input version and overwrite its own output —
    byte-identical final state, no double-application."""
    base = str(tmp_path / "snap")
    schema = "id BIGINT, seq BIGINT, op STRING, score DOUBLE"
    b0 = spark.createDataFrame([(1, 1, "P", 10.0), (2, 1, "P", 20.0)], schema)
    b1 = spark.createDataFrame([(1, 2, "P", 11.0), (2, 2, "D", None)], schema)

    sp.apply_changelog_batch(b0, 0, base, ("id",))
    sp.apply_changelog_batch(b1, 1, base, ("id",))
    first = sorted(
        (r["id"], r["score"])
        for r in spark.read.parquet(f"{base}/v=1").collect()
    )
    # replay batch 1 (same id): must read v=0 again, not v=1
    sp.apply_changelog_batch(b1, 1, base, ("id",))
    second = sorted(
        (r["id"], r["score"])
        for r in spark.read.parquet(f"{base}/v=1").collect()
    )
    assert first == second == [(1, 11.0)]


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join: each micro-batch enriches against a static
    dimension (broadcast — no stateful join, no watermark needed)."""
    from pyspark.sql import functions as F2

    src = tmp_path / "ev"
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "region_id long, value double"
    ).coalesce(1).write.parquet(str(src))
    dim = F2.broadcast(
        spark.createDataFrame(
            [(1, "emea"), (2, "amer")], "region_id long, region string"
        )
    )
    stream = spark.readStream.schema("region_id BIGINT, value DOUBLE").parquet(
        str(src)
    )
    out_dir, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    q = (
        stream.join(dim, "region_id", "left")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    rows = {r["region_id"]: r["region"]
            for r in spark.read.parquet(out_dir).collect()}
    assert rows == {1: "emea", 2: "amer", 3: None}


def test_segment_clean_is_stream_safe(spark, tmp_path):
    """The boilerplate cleaning pass is map-only (literal removal list),
    so the SAME operator must produce identical output as a streaming
    query over the same files — no state, no watermark, no re-shuffle."""
    from uc_historic_data_importer_spark.operators.text import (
        segment_clean_docs,
    )

    src = tmp_path / "docs"
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra words here"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa unique tail"),
        (3, "entirely different content with no shared segments at all"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.parquet(str(src))
    bp = ["alpha beta gamma delta epsilon zeta eta theta iota kappa"]

    batch = {
        r["doc_id"]: (r["n_segments"], r["n_removed"], r["cleaned_text"])
        for r in segment_clean_docs(
            spark.read.parquet(str(src)), bp
        ).collect()
    }
    assert batch[1][1] == 1 and batch[2][1] == 1 and batch[3][1] == 0
    assert not batch[1][2].startswith("alpha")

    stream = spark.readStream.schema("doc_id BIGINT, text STRING").parquet(
        str(src)
    )
    out_dir, chk = str(tmp_path / "out"), str(tmp_path / "chk")
    q = (
        segment_clean_docs(stream, bp)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    streamed = {
        r["doc_id"]: (r["n_segments"], r["n_removed"], r["cleaned_text"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert streamed == batch


class TestStreamingReviewFixes:
    """Round-7 streaming review pass: checkpoint/snapshot mismatch
    guard, deterministic state tie-breaks, batch/stream guard parity,
    schema hygiene."""

    def test_cdc_sink_refuses_foreign_newer_snapshots(self, spark, tmp_path):
        """A fresh checkpoint restarting batch ids at 0 against an old
        run's snapshots must fail loudly, not rebuild from empty."""
        base = tmp_path / "snap"
        d = base / "v=5"
        d.mkdir(parents=True)
        schema = "id BIGINT, seq BIGINT, op STRING, score DOUBLE"
        spark.createDataFrame([(1, 1, "P", 1.0)], schema).drop(
            "seq", "op"
        ).write.mode("overwrite").parquet(str(d))
        b0 = spark.createDataFrame([(9, 1, "P", 9.0)], schema)
        with pytest.raises(ValueError, match="checkpoint/snapshot mismatch"):
            sp.apply_changelog_batch(b0, 0, str(base), ("id",))

    def test_latest_state_fn_version_ties_break_deterministically(self):
        """Same (key, version) with different bodies: the max body wins
        regardless of arrival order (the cdc.latest_changes rule), so a
        replayed batch persists/emits identical state."""
        import pandas as pd

        class FakeState:
            def __init__(self):
                self.exists = False
                self._v = None

            @property
            def get(self):
                return self._v

            def update(self, v):
                self._v = v
                self.exists = True

        def run(chunks):
            st = FakeState()
            out = list(
                sp._latest_state_fn(("t", "k"), iter(chunks), st)
            )
            return st._v, out

        a = pd.DataFrame({"version": [5], "record_json": ["aaa"]})
        b = pd.DataFrame({"version": [5], "record_json": ["zzz"]})
        state_ab, _ = run([a, b])
        state_ba, _ = run([b, a])
        assert state_ab == state_ba == (5, "zzz")
        # and a lower-version later chunk never wins
        c = pd.DataFrame({"version": [4], "record_json": ["~~~"]})
        state_abc, _ = run([a, b, c])
        assert state_abc == (5, "zzz")

    def test_degenerate_stream_params_raise_at_plan_build(self, spark):
        """r14 review batch 9: maxFilesPerTrigger<1 failed only
        asynchronously at stream start; it must raise ValueError naming
        the parameter at plan-build."""
        with pytest.raises(ValueError, match="max_files_per_trigger"):
            sp.read_jsonl_stream(spark, "/tmp/nowhere", max_files_per_trigger=0)
        with pytest.raises(ValueError, match="max_files_per_trigger"):
            sp.read_jsonl_stream(spark, "/tmp/nowhere", max_files_per_trigger=-4)

    def test_batch_and_stream_filename_projection_share_one_definition(
        self, spark, tmp_path
    ):
        from uc_historic_data_importer_spark.sources.jsonl import (
            read_jsonl_lines,
        )

        src = tmp_path / "in"
        src.mkdir()
        (src / "mydb.mycoll.0042.json").write_text('{"_id": "x"}\n')
        batch = read_jsonl_lines(spark, str(src)).select(
            "db", "collection", "file_number"
        ).collect()[0]
        out = tmp_path / "out"
        q = (
            sp.read_jsonl_stream(spark, str(src))
            .writeStream.format("memory")
            .queryName("fname_parity")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        stream = spark.table("fname_parity").select(
            "db", "collection", "file_number"
        ).collect()[0]
        assert tuple(batch) == tuple(stream) == ("mydb", "mycoll", 42)


def test_latest_per_key_ttl_reappearance_semantics(spark, tmp_path):
    """Executable contract for keys reappearing AFTER TTL eviction
    (r10 verdict item 7). The watermark late-filter bounds what a
    reappearance can do:

    (a) a record older than the watermark is DROPPED even when it is
        newer than the evicted version — the one reachable divergence
        vs batch (batch counts it, the stream's last word for the key
        stays the final=true eviction row);
    (b) a record newer than the watermark reaches fresh state and is
        necessarily newer than the evicted version (at eviction the
        watermark already exceeded version + ttl), so the stream
        converges with batch.

    The docstring's old 'first new record wins even if the evicted
    version was higher' case is UNREACHABLE: any record surviving the
    late-filter post-eviction is newer than the evicted version."""
    inp = tmp_path / "in"
    inp.mkdir()
    files = [
        # A and C start at Jan 1; B carries the watermark forward
        [_ttl_record("A", "2020-01-01T00:00:00.000Z"),
         _ttl_record("C", "2020-01-01T00:00:00.000Z"),
         _ttl_record("B", "2020-01-01T00:00:00.000Z")],
        # watermark -> ~Jan 7: A's and C's horizons (Jan 1 + 6h) pass
        [_ttl_record("B", "2020-01-07T00:00:00.000Z")],
        [_ttl_record("B", "2020-01-08T00:00:00.000Z")],
        # (a) A reappears at Jan 3: newer than its evicted Jan 1 state,
        #     older than the watermark -> dropped.
        # (b) C reappears at Jan 9: newer than the watermark -> fresh
        #     state, final=false emission, converges with batch.
        [_ttl_record("A", "2020-01-03T00:00:00.000Z"),
         _ttl_record("C", "2020-01-09T00:00:00.000Z"),
         _ttl_record("B", "2020-01-08T00:01:00.000Z")],
    ]
    for i, lines in enumerate(files, start=1):
        p = inp / f"database-1.collection-1.{i:04d}.json"
        p.write_text("\n".join(lines) + "\n")
        os.utime(p, (1_000_000_000 + i * 1000, 1_000_000_000 + i * 1000))
    lines_df = sp.read_jsonl_stream(spark, str(inp), max_files_per_trigger=1)
    latest = sp.latest_per_key_stream_ttl(sp.normalized_stream(lines_df))
    q = (
        latest.writeStream.format("memory")
        .queryName("latest_ttl_reappear")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    _run(q)
    out = spark.table("latest_ttl_reappear").collect()
    batch = {
        r["key_hex"]: r["version"]
        for r in sp.normalized_stream_batch_keys(spark, str(inp)).collect()
    }
    jan = {d: 1577836800000 + (d - 1) * 86400000 for d in (1, 3, 7, 9)}
    key_a = next(k for k, v in batch.items() if v == jan[3])
    key_c = next(k for k, v in batch.items() if v == jan[9])
    by_key = {}
    for r in out:
        by_key.setdefault(r["key_hex"], []).append(r)
    # (a) A: evicted once at Jan 1; the Jan 3 reappearance was dropped
    # by the late-filter — the stream's last word for A stays the
    # eviction row, DIVERGING from batch (which says Jan 3)
    a_rows = by_key[key_a]
    assert [r["version"] for r in a_rows] == [jan[1], jan[1]]
    assert [r["final"] for r in a_rows] == [False, True]
    assert batch[key_a] == jan[3]  # the divergence, pinned
    # (b) C: evicted at Jan 1, then fresh state at Jan 9 — converges
    c_rows = sorted(by_key[key_c], key=lambda r: (r["version"], r["final"]))
    assert [(r["version"], r["final"]) for r in c_rows] == [
        (jan[1], False), (jan[1], True), (jan[9], False)
    ]
    assert max(r["version"] for r in c_rows) == batch[key_c] == jan[9]
