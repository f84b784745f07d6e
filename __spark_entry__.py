"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: run the full HDI pipeline (normalize -> key ->
                version -> latest-per-key) over dump-record JSON built
                from the sf0.001 events table.
queries()     — one entry per implemented operator (SURVEY.md §2);
                callables (spark, sf_dir) -> DataFrame.
oracle_sql()  — DuckDB-equivalent SQL per query (same column names).
"""

from __future__ import annotations

import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: events -> dump-record
    JSONL -> full normalization pipeline -> latest-version-per-key ->
    per-type counts. Exercises T1-T7/T10, K1-K3, W4 and the latest
    operator end to end.

    Delegates to the `entry_counts` catalog query (r11 verdict item 5)
    so the flagship is value-hash-checked against a DuckDB oracle by
    the same driver gate as every other operator — the smoke check and
    the oracle check exercise THE SAME code path."""
    from uc_historic_data_importer_spark.session import prepare_session
    from uc_historic_data_importer_spark.shipping import ensure_shipped

    import uc_historic_data_importer_spark.plans.catalog_ext  # noqa: F401
    import uc_historic_data_importer_spark.plans.catalog_classic  # noqa: F401
    from uc_historic_data_importer_spark.plans.catalog import QUERIES

    ensure_shipped(spark)
    prepare_session(spark)
    return QUERIES["entry_counts"].fn(spark, "/root/testdata/sf0.001")


# The driver records exactly the first 50 entries of queries() each round
# and the result is committed as CORRECTNESS_rNN.json. The order is derived
# from those records, so the only per-round state kept here is the round
# number and the modified tuple (README "Re-record doctrine").
_ROTATION_ROUND = 14
# After a round's window is recorded, no query's latest driver record may
# be more than this many rounds old.
_MAX_STALENESS_ROUNDS = 3

# Queries whose call-path code changed after their latest driver record;
# they must re-record this round. Produced by
#   python3 tools/modified_queries.py sketches.log_bucket \
#     sketches.hist_counts sketches.hist_quantiles sketches.hist_quantiles_sql \
#     multimodal.audio_window_features dedup.shingle_coverage_stats \
#     skew.salted_agg skew.salted_join \
#     stream_pipeline.read_jsonl_stream stream_pipeline.session_counts_stream \
#     stream_pipeline.windowed_counts keying.with_row_key \
#     catalog_ext.bloom_anti_join_q
# minus normalize_pipeline, which the staleness rule already sorts first.
_MODIFIED_SINCE_RECORD = (
    "entry_counts",
    "hist_quantile_prices",
    "percentile_prices_approx",
    "doc_length_outliers",
    "doc_length_outliers_approx",
    "shingle_coverage_documents",
    "media_wav_features",
    "salted_agg_counts",
    "salted_join_priority_revenue",
    "streaming_gap_sessions",
    "streaming_latest_per_key",
    "streaming_latest_per_key_ttl",
    "streaming_windowed_counts",
    "bloom_anti_join_lineitem",
)


def _last_recorded() -> dict[str, int]:
    """Query name -> newest round before _ROTATION_ROUND whose committed
    CORRECTNESS record holds it. Red rows count as recorded; a missing
    record file raises."""
    last = {}
    for rnd in range(1, _ROTATION_ROUND):
        with open(os.path.join(_REPO, f"CORRECTNESS_r{rnd:02d}.json")) as fh:
            for name in json.load(fh):
                last[name] = rnd
    return last


def _ordered_queries():
    """Round ordering: (a) queries whose latest record would break the
    staleness bound after this round, by name; (b) never-recorded
    queries, in registration order; (c) _MODIFIED_SINCE_RECORD, in tuple
    order; (d) everything else stalest-first, then by registration.
    Every query pushed past index 50 already has a driver row and is
    re-verified each round by tests/test_oracle_regression.py."""
    import uc_historic_data_importer_spark.plans.catalog_ext  # noqa: F401 — registers extension queries
    import uc_historic_data_importer_spark.plans.catalog_classic  # noqa: F401
    from uc_historic_data_importer_spark.plans.catalog import QUERIES

    last = _last_recorded()
    modified_rank = {n: i for i, n in enumerate(_MODIFIED_SINCE_RECORD)}
    reg_index = {n: i for i, n in enumerate(QUERIES)}
    floor = _ROTATION_ROUND - _MAX_STALENESS_ROUNDS

    def sort_key(name):
        rnd = last.get(name)
        if rnd is not None and rnd < floor:
            return (0, name)
        if rnd is None:
            return (1, reg_index[name])
        if name in modified_rank:
            return (2, modified_rank[name])
        return (3, rnd, reg_index[name])

    order = sorted(QUERIES, key=sort_key)
    return [(n, QUERIES[n]) for n in order]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from uc_historic_data_importer_spark.session import prepare_session
    from uc_historic_data_importer_spark.shipping import ensure_shipped

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_shipped(spark)
            prepare_session(spark)
            return fn(spark, sf_dir)

        return run

    return {name: wrap(spec.fn) for name, spec in _ordered_queries()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle
        for name, spec in _ordered_queries()
        if spec.oracle is not None
    }
