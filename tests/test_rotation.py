"""Rotation-invariant pin (r8 verdict prescription #4).

The driver records exactly the first 50 entries of queries() each round.
__spark_entry__._ordered_queries() derives that order from the committed
CORRECTNESS_rNN.json records, the round number and the modified tuple.
These tests pin the current order byte for byte and check the invariants
the rotation exists for: every query has a driver row, modified and
never-recorded queries re-record this round, and no query's latest
record falls more than _MAX_STALENESS_ROUNDS behind.

No SparkSession needed: ordering only imports the catalog registry.
"""

import hashlib
import importlib.util
import json
import os
import subprocess
import sys

import __spark_entry__ as entry

WINDOW = 50
REPO = os.path.join(os.path.dirname(__file__), "..")
# sha256 of "\n".join(queries() names) for round 14. Re-pin it only when
# the round advances or the modified tuple changes.
ORDER_SHA256 = (
    "9c0415539cd0f64080f6b1fe3c94d149fe59bf0b7f6ecdece1e91e3306b6f630"
)


def _registered():
    import uc_historic_data_importer_spark.plans.catalog_ext  # noqa: F401 - registers queries
    import uc_historic_data_importer_spark.plans.catalog_classic  # noqa: F401 - registers queries
    from uc_historic_data_importer_spark.plans.catalog import QUERIES

    return set(QUERIES)


def _ordered():
    return [n for n, _ in entry._ordered_queries()]


def test_order_is_pinned():
    """Computed in a fresh interpreter, as the driver imports it: the
    registration order, and with it the tie-breaks, depends on which
    catalog module a process imports first."""
    names = subprocess.run(
        [sys.executable, "-c",
         "import __spark_entry__ as e; print('\\n'.join(e.queries()))"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.rstrip("\n")
    assert hashlib.sha256(names.encode()).hexdigest() == ORDER_SHA256


def test_correctness_records_hold_50_registered_names():
    """A renamed or deleted query would otherwise silently re-enter the
    rotation as never recorded."""
    registered = _registered()
    for rnd in range(1, entry._ROTATION_ROUND):
        path = os.path.join(REPO, f"CORRECTNESS_r{rnd:02d}.json")
        with open(path) as fh:
            names = set(json.load(fh))
        assert len(names) == WINDOW, path
        assert names <= registered, (path, sorted(names - registered))


def test_window_is_exactly_50_and_names_are_registered():
    ordered = _ordered()
    assert len(ordered) == len(set(ordered)), "duplicate query names"
    assert len(ordered) >= WINDOW
    assert set(ordered) == _registered()


def test_slipped_and_modified_blocks_resolve_to_real_queries():
    """The slipped block (latest record below the staleness floor) sorts
    first, by name; every modified name is a registered query."""
    last = entry._last_recorded()
    floor = entry._ROTATION_ROUND - entry._MAX_STALENESS_ROUNDS
    slipped = sorted(n for n, rnd in last.items() if rnd < floor)
    assert _ordered()[: len(slipped)] == slipped
    missing = set(entry._MODIFIED_SINCE_RECORD) - _registered()
    assert missing == set(), f"modified-block names not in catalog: {missing}"


def test_modified_block_lands_inside_the_window():
    """Re-record doctrine: a query whose call path changed this round
    must re-record this round — i.e. appear inside the first 50."""
    window = set(_ordered()[:WINDOW])
    missing = [n for n in entry._MODIFIED_SINCE_RECORD if n not in window]
    assert missing == [], (
        f"modified-since-record queries pushed past the window: {missing}"
    )


def test_never_recorded_queries_land_inside_the_window():
    last = entry._last_recorded()
    ordered = _ordered()
    window = set(ordered[:WINDOW])
    outside = [n for n in ordered if n not in last and n not in window]
    assert outside == [], f"never-recorded queries outside window: {outside}"


def test_post_round_staleness_bound():
    """After this round's window is recorded, every query's latest
    record is within _MAX_STALENESS_ROUNDS of _ROTATION_ROUND."""
    last = entry._last_recorded()
    ordered = _ordered()
    window = set(ordered[:WINDOW])
    floor = entry._ROTATION_ROUND - entry._MAX_STALENESS_ROUNDS
    violations = {}
    for n in ordered:
        latest = entry._ROTATION_ROUND if n in window else last.get(n)
        assert latest is not None, f"query would never be recorded: {n}"
        if latest < floor:
            violations[n] = latest
    assert violations == {}, (
        f"queries whose latest record would predate r{floor:02d}: {violations}"
    )


def test_modified_queries_tool_follows_indirect_calls():
    """tools/modified_queries.py produces _MODIFIED_SINCE_RECORD. A
    change to sessions.sessionize must reach event_sessionization through
    session_stats (the r13 precedent in the tool's docstring), and a
    function called through an import alias in a query's oracle SQL must
    reach that query: diff.encoded_value_sql (imported as _enc_sql) and
    layout.zorder_key_sql (imported as _zsql). A module-level function
    passed as a value must reach the queries of the function that
    passes it: _latest_state_fn (applyInPandasWithState's state
    function) and _float_orjson_semantics (json.loads' parse_float)."""
    spec = importlib.util.spec_from_file_location(
        "modified_queries", os.path.join(REPO, "tools", "modified_queries.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    calls, _qualified, queries = mod.build_graph()
    hit = mod.reach(calls, {"sessionize"})
    fn = queries["event_sessionization"]
    assert hit[fn] == [fn, "session_stats", "sessionize"]
    for changed, query in (
        ("encoded_value_sql", "snapshot_diff_orders"),
        ("zorder_key_sql", "zorder_stats_lineitem"),
    ):
        fn = queries[query]
        assert mod.reach(calls, {changed}).get(fn) == [fn, changed], query
    for changed, query in (
        ("_latest_state_fn", "streaming_latest_per_key"),
        ("_float_orjson_semantics", "entry_counts"),
    ):
        path = mod.reach(calls, {changed}).get(queries[query])
        assert path and path[-1] == changed, query


def test_soak_tool_state_metrics_shape():
    """tools/soak_stream_state.py's metric extraction: one row per
    (progress, state operator), tolerating absent/None stateOperators —
    the shape BENCH_sf1_r09's streaming_state_soak evidence relies on."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "soak_stream_state",
        os.path.join(os.path.dirname(__file__), "..", "tools",
                     "soak_stream_state.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    class FakeQ:
        recentProgress = [
            {"batchId": 0, "stateOperators": [
                {"operatorName": "sessionWindow", "numRowsTotal": 10,
                 "numRowsUpdated": 10, "numRowsRemoved": 0,
                 "numRowsDroppedByWatermark": 0}]},
            {"batchId": 1, "stateOperators": None},
            {"batchId": 2},
            {"batchId": 3, "stateOperators": [
                {"operatorName": "sessionWindow", "numRowsTotal": 2,
                 "numRowsUpdated": 1, "numRowsRemoved": 9,
                 "numRowsDroppedByWatermark": 4}]},
        ]

    rows = mod.state_metrics(FakeQ())
    assert [r["batch"] for r in rows] == [0, 3]
    assert rows[1]["rows_removed"] == 9
    assert rows[1]["dropped_by_watermark"] == 4


def test_bench_calibration_skips_when_sf01_absent():
    """ADVICE r12: a box without /root/testdata/sf0.1 must still emit
    the headline bench record — run_calibration returns {} instead of
    crashing on the hardcoded path (the caller then omits the
    calibration/normalized fields)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench_mod",
        os.path.join(os.path.dirname(__file__), "..", "bench.py"),
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    assert bench.run_calibration({}, None, "/nonexistent/sf0.1") == {}
