#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is forced end-to-end with a noop write (full computation, no
driver collect skew). `pipeline_e2e` additionally runs the flagship HDI
normalization pipeline (the reference's whole job) over dump-record JSON
built from the events table at the bench scale factor.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# headline set: every operator family — normalize UDF, window, anti-join,
# multi-join agg, groupBy, dedup/similarity extensions.
# Membership FROZEN (unchanged since round 1) so round-over-round totals
# stay apples-to-apples; the reference TABLE was re-frozen to BENCH_r04's
# numbers in round 5 (BASELINE.md reset provision — the r1 table had
# drifted 1.6x looser than reality). Bench new operators under "extras"
# until the next deliberate reset.
HEADLINE = [
    "latest_per_key",
    "anti_join_existing",
    "time_range_filter",
    "version_selection",
    "manifest_projection",
    "rowkey_crc32",
    "pricing_summary",
    "top_orders_by_revenue",
    "revenue_by_nation",
    "tumbling_window_agg",
    "asof_join_last_event",
    "event_sessionization",
    "dedup_exact",
    "dedup_fingerprint",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "text_token_counts",
    "text_quality_scores",
    "text_language_id",
    "normalize_pipeline",
    "brand_revenue",
    "window_running_totals",
    "salted_agg_counts",
    "salted_distinct_users",
    "hll_distinct_users",
    "bloom_anti_join_lineitem",
    "hist_quantile_prices",
    "text_tfidf_top_terms",
    "corpus_curation",
    "split_decontamination",
    "funnel_view_click_purchase",
    "scd2_user_intervals",
    "resample_daily_fill",
    "customer_spend_segments",
    "cube_pricing",
    "salted_join_priority_revenue",
    "embedding_label_centroids",
    "embedding_norms",
    "media_feature_extract",
    "hll_incremental_daily",
    "snapshot_diff_orders",
    "hash_sample_documents",
    "split_assign_documents",
    "stratified_sample_documents",
    "rollup_pricing",
    "percentile_prices",
    "pivot_order_status",
    "range_join_error_after_click",
]


def force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


# Box-speed calibration (r11 verdict task 3): a FIXED workload measured
# min-of-5 at the bench scale, recorded in every bench/soak JSON so
# cross-round totals normalize by division instead of a session-opening
# noise investigation. The reference value was pinned from the round-12
# measurement on the round-12 box (BASELINE.md "Calibration rule");
# normalized_value = value * (CAL_REF / calibration) estimates what this
# run's total would read on the reference box. Queries chosen for
# plan-shape diversity (window/top-1, multi-join agg, LSH CPU) and
# >=0.2 s each so task-dispatch noise stays proportionally small.
CALIBRATION_QUERIES = (
    "latest_per_key",
    "revenue_by_nation",
    "dedup_minhash_lsh",
)
CALIBRATION_TRIES = 5
# sum of min-of-5 seconds for CALIBRATION_QUERIES at sf0.1 on the
# round-12 box (the first box measured under this protocol):
# latest_per_key 0.197 + revenue_by_nation 0.863 + dedup_minhash_lsh
# 1.225 (r12 in-round run). See BASELINE.md "Calibration rule".
CAL_REF_SF01 = 2.285


def run_calibration(queries, spark, sf_dir) -> dict:
    """Empty dict when the fixed sf0.1 calibration data is absent
    (ADVICE r12): the headline record must still be emitted on a box
    without /root/testdata/sf0.1 — it just carries no calibration /
    normalized fields (cal_total 0 disables them downstream)."""
    if not os.path.isdir(sf_dir):
        return {}
    cal: dict[str, float] = {}
    for name in CALIBRATION_QUERIES:
        best = float("inf")
        for _ in range(CALIBRATION_TRIES):
            t0 = time.time()
            force(queries[name].fn(spark, sf_dir))
            best = min(best, time.time() - t0)
        cal[name] = round(best, 3)
    return cal


def main() -> None:
    from uc_historic_data_importer_spark.session import get_spark
    import uc_historic_data_importer_spark.plans.catalog_ext  # noqa: F401
    import uc_historic_data_importer_spark.plans.catalog_classic  # noqa: F401
    from uc_historic_data_importer_spark.plans.catalog import QUERIES, t
    import __spark_entry__ as entry_mod

    spark = get_spark(
        app_name="hdi-spark-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    from uc_historic_data_importer_spark.shipping import ensure_shipped

    ensure_shipped(spark)

    # Warm-up: JVM JIT, whole-stage-codegen compilation, parquet footers and
    # the Python UDF worker pool. Running every headline plan once at
    # sf0.001 compiles the exact codegen units the measured runs use, so the
    # timings below reflect steady-state throughput (what a long-running
    # cluster job sees) instead of first-query compile cost.
    t(spark, SF_DIR, "events").count()
    t(spark, SF_DIR, "lineitem").count()
    warm_dir = "/root/testdata/sf0.001"
    for name in QUERIES:
        if name.startswith("streaming_"):
            continue
        try:
            force(QUERIES[name].fn(spark, warm_dir))
        except Exception:
            pass
    # ANN index fits (k-means centroids, PQ codebooks) are BUILD-time
    # artifacts — at 100 TB they're produced once and reused by every
    # search. Populate the per-(sf_dir, params) fit memo at the bench
    # scale now so the timed extras measure steady-state SEARCH cost,
    # not a one-off build that no production query path re-pays.
    # The first call per memo key IS the cold build, so time it here and
    # report it as its own metric — the build cost stays visible in the
    # record instead of silently vanishing from the extras timings.
    # semdedup_embeddings consumes the SAME scaled-k fit memo as
    # ann_ivf_build (shared _ivf_fit), so its build cost is already the
    # ann_ivf_build entry — timing it here again would record a warm
    # full-query run and double-count it with the extras number
    # calibration runs FIRST among the measured legs (after warmup, before
    # the cold ANN builds) so its value reflects the same box state the
    # headline timings see. It ALWAYS measures at sf0.1 — one fixed
    # workload at one fixed scale is what makes box_speed comparable
    # across bench legs AND sf1 soaks (BASELINE.md "Calibration rule").
    calibration = run_calibration(QUERIES, spark, "/root/testdata/sf0.1")
    cal_total = round(sum(calibration.values()), 3)

    ann_builds: dict[str, float] = {}
    for name in ("ann_ivf_build", "ann_pq_topk", "ann_ivf2_topk"):
        t0 = time.time()
        try:
            force(QUERIES[name].fn(spark, SF_DIR))
            ann_builds[name] = round(time.time() - t0, 3)
        except Exception:
            ann_builds[name] = -1.0
    # flagship end-to-end pipeline (normalize UDF included), as a function of
    # scale dir so the warm-up pass compiles/forks the same UDF stage
    from pyspark.sql import functions as F
    from uc_historic_data_importer_spark.operators.frames import ensure_parallel
    from uc_historic_data_importer_spark.operators.keying import flatten_normalized
    from uc_historic_data_importer_spark.operators.latest import latest_per_key
    from uc_historic_data_importer_spark.operators.naming import with_table_names
    from uc_historic_data_importer_spark.operators.transforms import normalize_records

    def pipeline_e2e(sf_dir: str):
        ev = t(spark, sf_dir, "events")
        raw = ev.select(
            F.lit("events-db").alias("db"),
            F.col("event_type").alias("collection"),
            F.lit(1).alias("file_number"),
            F.col("event_id").cast("int").alias("line_no"),
            F.concat(
                F.lit('{"_id":{"userId":"u-'),
                F.col("user_id"),
                F.lit('-'),
                F.col("event_id") % 1000,
                F.lit('"},"value":'),
                F.col("value"),
                F.lit(',"_lastModifiedDateTime":{"$date":"'),
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
                F.lit('"}}'),
            ).alias("raw_json"),
        )
        norm = with_table_names(
            flatten_normalized(normalize_records(ensure_parallel(raw)))
        )
        return latest_per_key(
            norm.filter(F.col("valid")),
        )

    force(pipeline_e2e(warm_dir))

    # Each query is timed TRIES times and the minimum wins: queries are
    # deterministic, so min is the steady-state estimate least polluted by
    # co-tenant CPU noise on a shared host (observed: random 3-5x spikes
    # on CPU-heavy stages that vanish under repetition; with 2 tries a
    # single noisy pair still leaked a 2x outlier into the record, so
    # the default is 3).
    tries = int(os.environ.get("SPARK_GRAFT_BENCH_TRIES", "3"))

    def timed(mk) -> float:
        best = float("inf")
        for _ in range(tries):
            t0 = time.time()
            force(mk())
            best = min(best, time.time() - t0)
        return round(best, 3)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        if name not in QUERIES:
            continue
        timings[name] = timed(lambda: QUERIES[name].fn(spark, SF_DIR))

    timings["pipeline_e2e"] = timed(lambda: pipeline_e2e(SF_DIR))

    # Non-headline queries are timed too (single try) and reported under
    # "extras" — visibility for operators added after the round-1 freeze
    # WITHOUT moving the frozen headline total. Streaming queries are
    # excluded by the SAME startswith predicate the warmup uses (they
    # build their own file fixtures and measure convergence, not
    # throughput — and an unwarmed streaming query would otherwise have
    # its fixture build timed as throughput).
    extras: dict[str, float] = {}
    for name in sorted(set(QUERIES) - set(HEADLINE)):
        if name.startswith("streaming_"):
            continue
        t0 = time.time()
        try:
            force(QUERIES[name].fn(spark, SF_DIR))
            extras[name] = round(time.time() - t0, 3)
        except Exception:
            extras[name] = -1.0

    # End-of-run calibration re-measure (r14 verdict item 1): a
    # contention event AFTER the start-of-run calibration silently
    # poisons every later query while box_speed still reads clean.
    # Re-running the same fixed workload at the END and recording
    # start/end drift makes a contaminated leg flag itself:
    # cal_drift > ~1.3 means the box slowed down mid-run and the late
    # queries' numbers are not trustworthy.
    calibration_end = run_calibration(QUERIES, spark, "/root/testdata/sf0.1")
    cal_end_total = round(sum(calibration_end.values()), 3)

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Truncation-proof record: the driver keeps only a bounded tail of
    # stdout, so print in ascending importance — the full extras detail
    # first (may be head-truncated), then the ANN build-cost metric,
    # then a compact hottest-extras line, then the spec-compliant
    # headline line LAST so it always survives.
    cal_ref = CAL_REF_SF01  # calibration is always the sf0.1 workload
    headline_rec = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
    }
    if calibration:
        headline_rec["calibration"] = cal_total
    if calibration_end:
        headline_rec["calibration_end"] = cal_end_total
        if cal_total > 0:
            headline_rec["cal_drift"] = round(cal_end_total / cal_total, 3)
    if cal_ref and cal_total > 0:
        # what this total would read on the reference box
        headline_rec["normalized_value"] = round(
            total * (cal_ref / cal_total), 3
        )
        headline_rec["box_speed"] = round(cal_total / cal_ref, 3)
    headline = json.dumps(headline_rec)
    if calibration:
        print(
            json.dumps(
                {
                    "metric": "calibration",
                    "value": cal_total,
                    "unit": "sec",
                    "queries": calibration,
                    "ref": cal_ref,
                }
            ),
            flush=True,
        )
    by_time = dict(sorted(extras.items(), key=lambda kv: -kv[1]))
    print(json.dumps({"metric": "extras_detail", "extras": by_time}), flush=True)
    print(
        json.dumps(
            {
                "metric": "ann_build_total",
                "value": round(sum(v for v in ann_builds.values() if v > 0), 3),
                "unit": "sec",
                "builds": ann_builds,
            }
        ),
        flush=True,
    )
    top8 = dict(list(by_time.items())[:8])
    print(json.dumps({"metric": "extras_top", "extras": top8}), flush=True)
    print(headline, flush=True)


if __name__ == "__main__":
    main()
