"""Physical-plan regression guards: the properties PLANS.md documents must
survive future changes. Each assertion is a scale property — losing it
would be invisible at test scale and disastrous at 100 TB."""

import re

import pytest

import uc_historic_data_importer_spark.plans.catalog_classic  # noqa: F401 - registers queries
import uc_historic_data_importer_spark.plans.catalog_ext  # noqa: F401 - registers queries
from uc_historic_data_importer_spark.plans.catalog import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def catalog_plans(spark) -> dict[str, str]:
    """Executed plan of every registered query, built once for the
    catalog-wide lint and the PLAN_REPORT.md check."""
    return {name: plan_of(spark, name) for name in QUERIES}


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = plan_of(spark, "pricing_summary")
    # the shipdate predicate must reach the parquet scan...
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # ...and the scan must not read columns the query never touches
    assert "l_comment" not in plan
    assert "l_partkey" not in plan


def test_snowflake_join_broadcasts_dimensions(spark):
    plan = plan_of(spark, "revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    # the dims are hinted broadcast: no sort-merge join may appear at any
    # scale for region/nation/customer sides
    assert plan.count("BroadcastExchange") >= 3


def test_top_k_never_global_sorts(spark):
    plan = plan_of(spark, "top_orders_by_revenue")
    assert "TakeOrderedAndProject" in plan


def test_range_join_is_equi_join(spark):
    plan = plan_of(spark, "range_join_error_after_click")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_normalize_udf_evaluated_once(spark):
    plan = plan_of(spark, "normalize_pipeline")
    assert plan.count("ArrowEvalPython") == 1


def test_anti_join_stays_anti(spark):
    plan = plan_of(spark, "anti_join_existing")
    assert "LeftAnti" in plan


def test_exists_filter_broadcasts_key_side(spark):
    """bloom_anti_join_lineitem carries no broadcast hint: the finished-
    order key side is broadcast because it fits the session's
    autoBroadcastJoinThreshold. A conf change that loses the broadcast
    would plan a sort-merge anti-join that shuffles every lineitem row
    (at sf0.1 the broadcast plan ran in 0.40 s, a shuffled anti-join
    plan in 1.16 s)."""
    plan = plan_of(spark, "bloom_anti_join_lineitem")
    assert len(re.findall(r"BroadcastHashJoin .*LeftAnti", plan)) == 1, plan
    assert plan.count("SortMergeJoin") == 0, plan
    assert plan.count("Scan parquet") == 2, plan
    assert not re.search(r"ArrowEvalPython|BatchEvalPython|MapInPandas", plan), plan


def test_sessionization_single_shuffle(spark):
    # window (lag + running sum) and the per-session rollup must all ride
    # ONE hash exchange on user_id: HashPartitioning(user_id) satisfies
    # the groupBy(user_id, session_idx) clustering requirement
    plan = plan_of(spark, "event_sessionization")
    assert plan.count("Exchange hashpartitioning") == 1


def test_ivf_cell_assignment_no_join(spark):
    # nearest-centroid assignment is a pure projection: any join in the
    # plan means the centroids stopped being literals
    plan = plan_of(spark, "ann_ivf_build")
    assert "Join" not in plan


def test_hash_sample_is_map_only_scan(spark):
    plan = plan_of(spark, "hash_sample_documents")
    # hash-range selection is a pure filter over the scan: no exchange
    assert "Exchange" not in plan
    # and projection pruning holds: text is never read
    assert "text" not in plan.split("ReadSchema")[-1]


def test_hll_single_aggregation_pass(spark):
    # register build + estimate: one exchange for the (group, bucket)
    # agg, one for the per-group rollup — never a per-value shuffle
    plan = plan_of(spark, "hll_distinct_users")
    assert plan.count("Exchange hashpartitioning") <= 2


def test_hist_quantiles_state_stays_sketch_sized(spark):
    plan = plan_of(spark, "hist_quantile_prices")
    # no global sort anywhere: the quantile comes from bucket state
    assert "Sort [l_extendedprice" not in plan
    assert "rangepartitioning(l_extendedprice" not in plan


def test_tfidf_single_corpus_scan(spark):
    # tf and document-frequency both derive from one explode: exactly
    # one scan reads real columns (the N-docs count scan is
    # metadata-only, ReadSchema: struct<>)
    plan = plan_of(spark, "text_tfidf_top_terms")
    assert plan.count("ReadSchema: struct<doc_id:bigint,text:string>") == 1


def test_no_query_plans_scale_antipatterns(catalog_plans):
    """Catalog-wide plan lint: NO query may plan a cartesian product, a
    row-at-a-time Python UDF, or a nested-loop join. These are the three
    silent 100 TB killers — invisible at test scale, each turns a
    linear job quadratic or single-threaded."""
    offenders = {}
    for name, plan in catalog_plans.items():
        bad = [
            marker
            for marker in (
                "CartesianProduct",
                "BatchEvalPython",  # row-at-a-time Python UDF
            )
            if marker in plan
        ]
        # BroadcastNestedLoopJoin is tolerable ONLY where the broadcast
        # side is small by construction: tfidf broadcasts a 1-row count
        # aggregate; brute-force ANN broadcasts the (small) query set
        # against the corpus — the intended all-pairs baseline, which is
        # embarrassingly parallel and shuffle-free (ivf_topk is the
        # pruned scale path)
        if (
            "BroadcastNestedLoopJoin" in plan
            and name
            not in (
                "text_tfidf_top_terms",
                "ann_cosine_topk",
                # recall audit composes the brute-force baseline (its
                # ground-truth side) — same broadcast-query-set shape
                "ann_recall_audit",
                # broadcasts a 1-row corpus-stats aggregate (tfidf shape)
                "bm25_retrieval",
                # broadcasts the benchmark-sized eval set against the
                # train scan (ann_cosine_topk shape; LSH-bucket route
                # documented for oversized eval sets)
                "semantic_decontamination",
                # broadcasts the distinct set-key frame (|event types|
                # rows) against the 2^p-row register artifact under a
                # != predicate — both sides bounded by construction
                "hll_intersection_users",
                # broadcasts the 1-row vocabulary-total aggregate onto
                # the vocab frame (tfidf shape)
                "unigram_logprob_quality",
                # exact re-rank stage of search-then-rerank: broadcasts
                # the single probe query against the candidate-
                # restricted corpus (ann_cosine_topk shape, bounded by
                # the PQ candidate budget)
                "ann_pq_rerank",
                # broadcasts the 1-row max(fine)+1 bucket-stride
                # aggregate onto the assignment (tfidf shape)
                "ann_ivf2_build",
                # same ivf2_assign bucket-stride 1-row broadcast, then
                # the within-bucket equi-join search
                "ann_ivf2_topk",
            )
        ):
            bad.append("BroadcastNestedLoopJoin")
        if bad:
            offenders[name] = bad
    assert not offenders, offenders


def test_cell_argmax_never_cloned_into_filters(spark):
    """The k x dim nearest-centroid argmax must be evaluated exactly
    once per row. A nullable cell column lets equi-joins inject an
    isnotnull(cell) null-filter whose pushdown clones the whole argmax
    tree into the Filter — doubling per-row cost and (at k=4, dim=64)
    blowing the fused stage past Janino's 64 KB method limit into
    silent interpreted fallback. assign_cells defends with a
    non-nullable coalesce; this pins that no Filter ever contains the
    argmax again."""
    for name in ("semdedup_embeddings", "ann_ivf_build"):
        plan = plan_of(spark, name)
        offending = [
            ln
            for ln in plan.splitlines()
            if "Filter" in ln and "array_position" in ln
        ]
        assert not offending, (name, offending[:1])


def test_round2_text_vector_ops_are_map_only(spark):
    """PII scrub, repetition scores, int8 quantization, and LSH bucket
    assignment are pure per-row column expressions — any Exchange that
    sneaks in means a 100 TB scan suddenly shuffles 100 TB."""
    for name in (
        "pii_redaction",
        "text_repetition_scores",
        "embedding_quantize_int8",
        "embedding_lsh_buckets",
    ):
        plan = plan_of(spark, name)
        assert "Exchange" not in plan, name


def test_pack_sequences_single_sharded_window_shuffle(spark):
    """Packing's prefix sum must partition by shard (independent
    reducers), never a global single-partition window."""
    plan = plan_of(spark, "pack_sequences")
    assert plan.count("Exchange hashpartitioning(shard") == 1
    assert "Exchange SinglePartition" not in plan


def test_ngram_decontamination_broadcasts_test_side(spark):
    """The corpus-side sweep must be a map-side BroadcastHashJoin of the
    (small, bounded) eval-set gram hashes — a SortMergeJoin here would
    shuffle every gram of the full corpus."""
    plan = plan_of(spark, "ngram_decontamination")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_mixture_and_chunking_are_map_only(spark):
    """Mixture construction and RAG chunking are explode fan-outs that
    stay inside the scan stage — no Exchange may appear."""
    for name in ("mixture_sample_documents", "chunk_spans_documents"):
        plan = plan_of(spark, name)
        assert "Exchange" not in plan, name


def test_cdc_merge_log_compacts_before_join(spark):
    """The changelog must partial-aggregate map-side (struct max), ride
    ONE hash exchange, and feed the full-outer join WITHOUT a second
    exchange — the aggregation's hashpartitioning(o_orderkey) satisfies
    the join's clustering. Snapshot + log = exactly two exchanges."""
    plan = plan_of(spark, "cdc_merge_orders")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "CartesianProduct" not in plan
    # partial + final aggregation pair proves the map-side compaction
    assert plan.count("SortAggregate") + plan.count("HashAggregate") >= 2


def test_zorder_key_is_map_only(spark):
    """The Morton key is pure bit arithmetic: the only exchange allowed
    is the final stats groupBy; the key computation itself must stay in
    the scan stage."""
    plan = plan_of(spark, "zorder_stats_lineitem")
    assert plan.count("Exchange hashpartitioning") == 1


def test_session_scale_confs_pinned(spark):
    """The scale posture lives in the session factory; losing any of
    these silently changes every plan in the catalog."""
    want = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    }
    for k, v in want.items():
        assert spark.conf.get(k) == v, k


def test_segment_dedup_no_cartesian_and_pruned_scan(spark):
    plan = plan_of(spark, "segment_dup_ratio")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the segment explode needs only (doc_id, text) — lang/source/n_chars
    # must be pruned from the scan
    assert "ReadSchema" in plan
    assert "n_chars" not in plan and "lang" not in plan


def test_boilerplate_is_aggregation_only_no_join(spark):
    plan = plan_of(spark, "boilerplate_segments")
    assert "Join" not in plan
    # count(distinct doc_id) plans as the standard two-phase distinct
    # aggregation: (segment, doc_id) dedup exchange + segment rollup
    # exchange — and nothing else (no extra shuffle, no join)
    assert plan.count("Exchange hashpartitioning") == 2


def test_relative_quality_window_is_partitioned(spark):
    # a global (unpartitioned) window would serialize the corpus onto one
    # task at 100 TB; the rank must partition by source
    plan = plan_of(spark, "relative_quality_filter")
    assert "percent_rank" in plan
    assert "partitionBy=[source" in plan.replace(" ", "") or "hashpartitioning(source" in plan


def test_best_representative_windows_share_cluster_shuffle(spark):
    # both window functions partition on fingerprint — one exchange, not two
    plan = plan_of(spark, "dedup_best_representative")
    assert plan.count("Exchange hashpartitioning") == 1


def test_substring_spans_no_cartesian_partitioned_window(spark):
    plan = plan_of(spark, "substring_dup_spans")
    # pair discovery is an equi-join on the gram key — never all-pairs
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the island window must partition by doc_id (a global window would
    # serialize the corpus onto one task at 100 TB)
    squished = plan.replace(" ", "")
    assert "partitionBy=[doc_id" in squished or "hashpartitioning(doc_id" in squished
    # the window explode needs only (doc_id, text)
    assert "n_chars" not in plan and "lang" not in plan


def test_substring_apply_no_cartesian_pruned(spark):
    plan = plan_of(spark, "substring_dedup_apply")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "n_chars" not in plan and "lang" not in plan


def test_shard_assign_two_level_prefix_sum(spark):
    plan = plan_of(spark, "shard_assign_tokens")
    # the data-scale running sum must ride the bucket partitioning; the
    # offsets side joins back as a broadcast (no data-scale sort-merge)
    assert "hashpartitioning(_bucket" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_bm25_stats_broadcast_no_explode(spark):
    plan = plan_of(spark, "bm25_retrieval")
    # corpus stats join back as a broadcast 1-row frame; the per-doc tf
    # is array-HOF work — no explode/generate and no data-scale shuffle
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Generate" not in plan
    assert "TakeOrderedAndProject" in plan


def test_maponly_text_ops_have_no_shuffle(spark):
    """indoc segment dedup, content-defined chunking, and winnowing are
    pure per-row array-HOF work + a local explode: their plans must
    contain NO data-dependent exchange — the property that makes them
    streaming-safe and free at 100 TB. winnowing (r12) additionally
    carries the single-file-input guard (frames.ensure_parallel), which
    plans ONE round-robin repartition at test scale (input partitions <
    defaultParallelism) and is a no-op on a real corpus's thousands of
    splits — so for it the lint forbids hash/range/single-partition
    exchanges specifically, not the guard."""
    for name in ("indoc_segment_dedup", "content_defined_chunks"):
        plan = plan_of(spark, name)
        assert "Exchange" not in plan, name
        assert "Join" not in plan, name
    plan = plan_of(spark, "winnowing_fingerprints")
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "Join" not in plan
    assert plan.count("Exchange roundrobin") <= 1


def test_ivf2_search_reads_checkpointed_assignment_once(spark):
    """r12: ann_ivf2_topk's fit and final assignment share ONE
    localCheckpointed coarse assignment, which collapses the search
    plan from 9 exchanges / 5 joins (every branch recomputing the fit
    chain) to ~3 exchanges / 1 join over LogicalRDD scans. Regressing
    to the recomputed shape would be invisible at test scale and pay
    the whole corpus-scan chain several times at 100 TB."""
    plan = plan_of(spark, "ann_ivf2_topk")
    # the search self-join reads the checkpointed assignment, not the
    # parquet scan + fit chain
    assert "Scan ExistingRDD" in plan
    # count shuffle exchanges precisely — "Exchange" alone also matches
    # BroadcastExchange (the bucket-stride one-row broadcast)
    n_shuffles = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    assert n_shuffles <= 3, n_shuffles
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan


def test_entry_counts_single_python_stage(spark):
    """the flagship plans exactly one Python boundary (the normalize
    UDF); keying, naming, latest-per-key and the final aggregate stay
    JVM-side."""
    plan = plan_of(spark, "entry_counts")
    assert plan.count("ArrowEvalPython") + plan.count("BatchEvalPython") == 1


def test_plan_report_covers_live_catalog(catalog_plans):
    """PLAN_REPORT.md must hold exactly the live catalog's queries, each
    with the figures its live plan has now: a stale row (a query whose
    scans or joins changed since the last regeneration) fails here, not
    only a missing one. The tool and this test compute rows with the
    same function. Regenerate with `python tools/plan_report.py`."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from plan_report import plan_row

    path = os.path.join(os.path.dirname(__file__), "..", "PLAN_REPORT.md")
    committed = {}
    with open(path) as f:
        for line in f:
            if re.match(r"\| \w+ \|", line) and not line.startswith("| query |"):
                cells = tuple(c.strip() for c in line.strip().strip("|").split("|"))
                committed[cells[0]] = cells
    live = set(QUERIES)
    assert set(committed) == live, (
        f"PLAN_REPORT.md is stale: missing {sorted(live - set(committed))}, "
        f"extra {sorted(set(committed) - live)} — rerun python tools/plan_report.py"
    )
    stale = {
        name: (committed[name], row)
        for name, plan in sorted(catalog_plans.items())
        if (row := plan_row(name, plan)) != committed[name]
    }
    assert stale == {}, (
        f"PLAN_REPORT.md rows differ from the live plans (committed, live): {stale}"
        " — rerun python tools/plan_report.py"
    )


# The ten queries of perfbench's catalog_mix workload, in its order.
CATALOG_MIX = (
    "latest_per_key",
    "anti_join_existing",
    "revenue_by_nation",
    "normalize_pipeline",
    "dedup_minhash_lsh",
    "dedup_apply",
    "semantic_decontamination_lsh",
    "ann_ivf2_build",
    "text_language_id",
    "bloom_anti_join_lineitem",
)


def test_warm_catalog_mix_compiles_no_class(spark):
    """Spark compiles each whole-stage and projection class with Janino
    and keeps it in an LRU cache. One pass over the mix needs about 224
    classes, and the queries repeat in the same order, so a cache smaller
    than that (Spark's default is 100) evicts every class before its next
    use and a warm pass recompiles all of them. session.get_spark sizes
    the cache to the whole catalog: after two passes (the first also fills
    the ANN fit memo) a third compiles nothing."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_mix():
        for name in CATALOG_MIX:
            QUERIES[name].fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    run_mix()
    run_mix()
    before = metric.getCount()
    run_mix()
    assert metric.getCount() - before == 0
