"""Additional classical-operator queries completing the SURVEY.md §2.6
checklist surface: semi-joins, set operations, rollup aggregates, scalar
string/hash functions, general window functions, and the part/supplier
side of the star schema."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uc_historic_data_importer_spark.plans.catalog import register, t


@register(
    "brand_revenue",
    """
    SELECT p_brand,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM part JOIN lineitem ON p_partkey = l_partkey
              JOIN supplier ON s_suppkey = l_suppkey
    WHERE s_acctbal > 1000
    GROUP BY p_brand
    """,
    doc="fact-to-two-dimension join over the part/supplier arm of the "
    "star schema (broadcast dims, single fact shuffle).",
)
def brand_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = F.broadcast(t(spark, sf_dir, "part"))
    supp = F.broadcast(
        t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") > 1000)
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("p_brand")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "semi_join_discounted",
    """
    SELECT o_orderkey, o_orderpriority
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey AND l_discount > 0.09
    )
    """,
    doc="left-semi join (EXISTS) — the positive twin of the F4 anti-join.",
)
def semi_join_discounted_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.09)
    return orders.join(
        li, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    ).select("o_orderkey", "o_orderpriority")


@register(
    "set_ops_customers",
    """
    SELECT c_custkey FROM (
      SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    )
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="set operations (INTERSECT / EXCEPT) — engine extension beyond "
    "the reference's union-only surface (S3Reader.kt:67-72).",
)
def set_ops_customers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    low = orders.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_custkey").alias("c_custkey")
    )
    failed = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return urgent.intersect(low).exceptAll(failed.distinct())


@register(
    "rollup_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 2) AS sum_price,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="rollup / grouping-sets aggregate — subtotal hierarchy in one "
    "pass (engine extension; absent in reference).",
)
def rollup_pricing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "scalar_string_functions",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           regexp_extract(c_name, '([0-9]+)$', 1) AS cust_num,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
           replace(c_mktsegment, 'B', 'X') AS seg_replaced,
           md5(c_name) AS name_md5,
           length(c_name) AS name_len
    FROM customer
    """,
    doc="scalar string/hash surface (SURVEY §2.6: regexp_extract, "
    "replace, pad, md5, length — HBaseWriter.kt:87-116 idioms).",
)
def scalar_string_functions_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.regexp_extract("c_name", "([0-9]+)$", 1).alias("cust_num"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
        F.replace(F.col("c_mktsegment"), F.lit("B"), F.lit("X")).alias(
            "seg_replaced"
        ),
        F.md5(F.encode(F.col("c_name"), "UTF-8")).alias("name_md5"),
        F.length("c_name").alias("name_len"),
    )


@register(
    "salted_agg_counts",
    """
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value,
           round(max(value), 2) AS max_value
    FROM events GROUP BY event_type
    """,
    doc="skew-safe two-phase salted aggregation (operators/skew.py): the "
    "oracle is the PLAIN group-by — salting must be result-identical.",
)
def salted_agg_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uc_historic_data_importer_spark.operators.skew import salted_agg

    ev = t(spark, sf_dir, "events")
    out = salted_agg(
        ev,
    )
    return out.select(
        "event_type",
        "n",
        F.round("total_value", 2).alias("total_value"),
        F.round("max_value", 2).alias("max_value"),
    )


@register(
    "salted_distinct_users",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
             AS n_distinct_user_id
    FROM events GROUP BY event_type
    """,
    doc="skew-safe exact distinct count: value-hash salting (each "
    "distinct value lands in one bucket) -> bucket dedup -> sum.",
)
def salted_distinct_users_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uc_historic_data_importer_spark.operators.skew import (
        salted_distinct_count,
    )

    ev = t(spark, sf_dir, "events")
    return salted_distinct_count(ev)


@register(
    "window_running_totals",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_total,
           CAST(rank() OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
             AS INT) AS price_rank,
           lag(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
             AS prev_orderkey
    FROM orders
    """,
    doc="general window surface: running sum, rank, lag with "
    "deterministic ordering.",
)
def window_running_totals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    order_w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rank_w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(running), 2).alias("running_total"),
        F.rank().over(rank_w).alias("price_rank"),
        F.lag("o_orderkey").over(order_w).alias("prev_orderkey"),
    )


@register(
    "percentile_prices",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           round(quantile_cont(l_discount, 0.50), 4) AS median_discount
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="ordered-set aggregate surface: exact interpolated percentiles "
    "(Spark `percentile` == DuckDB `quantile_cont`, both linear "
    "interpolation). The exact form buffers per-group values "
    "(ObjectHashAggregate); the 100 TB path swaps in approx_percentile "
    "(t-digest sketch, fixed-size partial agg) — same query shape, "
    "bounded memory, mergeable map-side.",
)
def percentile_prices_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    # one buffered aggregation for all three price percentiles (array of
    # fractions shares a single sorted buffer) instead of three
    qs = F.percentile(
        "l_extendedprice", F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75))
    )
    return (
        li.groupBy("l_returnflag")
        .agg(
            qs.alias("_q"),
            F.percentile("l_discount", F.lit(0.50)).alias("_md"),
        )
        .select(
            "l_returnflag",
            F.round(F.element_at("_q", 1), 4).alias("p25"),
            F.round(F.element_at("_q", 2), 4).alias("p50"),
            F.round(F.element_at("_q", 3), 4).alias("p75"),
            F.round("_md", 4).alias("median_discount"),
        )
    )


def _hist_q_subquery(value_expr: str, qs: tuple[float, ...]) -> str:
    from uc_historic_data_importer_spark.operators import sketches

    return sketches.hist_quantiles_sql(value_expr, qs=qs)


@register(
    "percentile_prices_approx",
    f"""
    WITH p AS (SELECT * FROM (
      {_hist_q_subquery("l_extendedprice", (0.25, 0.5, 0.75))}
    )),
    d AS (SELECT * FROM (
      {_hist_q_subquery("l_discount", (0.5,))}
    ))
    SELECT p.l_returnflag, p.p25, p.p5 AS p50, p.p75,
           d.p5 AS median_discount
    FROM p JOIN d USING (l_returnflag)
    """,
    doc="the 100 TB swap for percentile_prices: identical output shape "
    "(p25/p50/p75 extended price + median discount per return flag) "
    "but every quantile routed through the mergeable log-histogram "
    "sketch (sketches.hist_counts/hist_quantiles, DDSketch bucket "
    "rule) — fixed-size map-side-combined state instead of the exact "
    "form's per-group value buffering (ObjectHashAggregate), so a hot "
    "group can never OOM a task. Deterministic bucket rule -> the "
    "DuckDB oracle replays it bit-for-bit.",
)
def percentile_prices_approx_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uc_historic_data_importer_spark.operators import sketches

    li = t(spark, sf_dir, "lineitem")
    pc = sketches.hist_quantiles(
        sketches.hist_counts(li, "l_extendedprice", group_cols=("l_returnflag",)),
        qs=(0.25, 0.5, 0.75),
        group_cols=("l_returnflag",),
    ).select(
        "l_returnflag", "p25", F.col("p5").alias("p50"), "p75"
    )
    dc = sketches.hist_quantiles(
        sketches.hist_counts(li, "l_discount", group_cols=("l_returnflag",)),
        qs=(0.5,),
        group_cols=("l_returnflag",),
    ).select("l_returnflag", F.col("p5").alias("median_discount"))
    return pc.join(dc, "l_returnflag")


@register(
    "pivot_order_status",
    """
    SELECT o_orderpriority,
           count(*) FILTER (o_orderstatus = 'F') AS F,
           count(*) FILTER (o_orderstatus = 'O') AS O,
           count(*) FILTER (o_orderstatus = 'P') AS P
    FROM orders GROUP BY o_orderpriority
    """,
    doc="pivot / crosstab surface: explicit pivot values keep the output "
    "schema static (no extra values-discovery pass over the fact table, "
    "which `.pivot(col)` without values would need) and the rotation is "
    "one partial-agg shuffle — the same cost as the flat group-by.",
)
def pivot_order_status_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return piv.select(
        "o_orderpriority",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("F", "O", "P")],
    )


@register(
    "rolling_window_revenue",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY epoch(o_orderdate)::BIGINT
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 2)
             AS trailing_7d_revenue,
           count(*) OVER (
             PARTITION BY o_custkey ORDER BY epoch(o_orderdate)::BIGINT
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
             AS n_orders_7d
    FROM orders
    """,
    doc="range-interval window (RANGE BETWEEN time PRECEDING): trailing "
    "7-day revenue + order count per customer. The frame is defined by "
    "TIME values, not row offsets, so equal-timestamp peers always "
    "aggregate together — deterministic without a total tiebreak. One "
    "shuffle on the (uniform) customer key.",
)
def rolling_window_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-604800, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_7d_revenue"),
        F.count(F.lit(1)).over(w).alias("n_orders_7d"),
    )


@register(
    "stat_aggregates_events",
    """
    WITH e AS (
      SELECT event_type, value,
             date_diff('day', DATE '2024-01-01', ts)::DOUBLE AS x
      FROM events
    )
    SELECT event_type,
           count(*) AS n,
           round(avg(value), 4) AS mean_value,
           round(stddev_samp(value), 4) AS sd_value,
           round(corr(value, x), 4) AS corr_value_time,
           round(covar_samp(value, x), 4) AS covar_value_time,
           round(regr_slope(value, x), 4) AS slope,
           round(regr_intercept(value, x), 4) AS intercept
    FROM e
    GROUP BY event_type
    """,
    doc="statistical aggregate surface: stddev / correlation / "
    "covariance / least-squares regression per group, all single-pass "
    "mergeable moment aggregates (sum, sum of squares, cross products) "
    "— one map-side-combined shuffle regardless of group sizes. "
    "Results rounded before hashing: moment accumulation order differs "
    "across engines at the last bits.",
)
def stat_aggregates_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    # small integer day offsets, not epoch seconds: large-magnitude x
    # turns the co-moment cancellation into engine-visible noise
    x = F.datediff(F.col("ts"), F.lit("2024-01-01").cast("date")).cast("double")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("mean_value"),
        F.round(F.stddev_samp("value"), 4).alias("sd_value"),
        F.round(F.corr(F.col("value"), x), 4).alias("corr_value_time"),
        F.round(F.covar_samp(F.col("value"), x), 4).alias("covar_value_time"),
        F.round(F.regr_slope(F.col("value"), x), 4).alias("slope"),
        F.round(F.regr_intercept(F.col("value"), x), 4).alias("intercept"),
    )


@register(
    "null_safe_join_events",
    """
    WITH l AS (
      SELECT nullif(CAST(json_extract_string(props, '$.k') AS INT) % 7, 3)
               AS grp,
             count(*) AS n_all
      FROM events GROUP BY 1
    ),
    r AS (
      SELECT nullif(CAST(json_extract_string(props, '$.k') AS INT) % 7, 3)
               AS grp,
             count(*) AS n_high
      FROM events WHERE value > 50 GROUP BY 1
    )
    SELECT l.grp, l.n_all, r.n_high
    FROM l JOIN r ON l.grp IS NOT DISTINCT FROM r.grp
    """,
    doc="null-safe equi-join (<=> / IS NOT DISTINCT FROM): the NULL "
    "bucket on both sides joins to itself instead of silently dropping "
    "— the semantics plain equality loses exactly when dirty keys "
    "matter most. Still a hash-partitionable equi-join (NULL is one "
    "more key value), not a filter-after-outer-join workaround.",
)
def null_safe_join_events_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    grp = F.nullif(
        F.get_json_object("props", "$.k").cast("int") % 7, F.lit(3)
    ).alias("grp")
    l = ev.select(grp).groupBy("grp").agg(F.count(F.lit(1)).alias("n_all"))
    r = (
        ev.filter(F.col("value") > 50)
        .select(grp)
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_high"))
    )
    return (
        l.alias("l")
        .join(r.alias("r"), F.col("l.grp").eqNullSafe(F.col("r.grp")))
        .select(F.col("l.grp").alias("grp"), "n_all", "n_high")
    )


@register(
    "histogram_prices",
    """
    SELECT CAST(floor(o_totalprice / 20000) AS INT) AS bucket,
           CAST(floor(o_totalprice / 20000) AS INT) * 20000 AS bucket_lo,
           count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders GROUP BY 1
    """,
    doc="equi-width histogram (the profiling complement of the "
    "log-histogram sketch): bucket = floor(price / width) — integer "
    "arithmetic both engines compute identically, one map-side-combined "
    "groupBy on a small bucket domain. The sketch family replaces this "
    "when the domain is unbounded; equi-width wins when the x-axis must "
    "be linear (dashboards, SLO bands).",
)
def histogram_prices_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 20000).cast("int")
    return (
        orders.select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            (F.col("bucket") * 20000).alias("bucket_lo"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "grouping_sets_pricing",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="GROUPING SETS aggregate (the general form rollup/cube "
    "specialize): per-returnflag, per-linestatus, and grand-total "
    "revenue in ONE pass — Spark plans it as a single Expand + "
    "aggregate (rows multiplied by the number of sets map-side, one "
    "shuffle) instead of three scans + union. NULL dimension values "
    "from the expansion are labeled 'ALL' portably (flags are "
    "non-null in the data, so coalesce is unambiguous).",
)
def grouping_sets_pricing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               count(*) AS n_items
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "user_retention_cohorts",
    """
    WITH act AS (
      SELECT DISTINCT user_id,
             strftime(date_trunc('week', ts), '%Y-%m-%d') AS activity_week
      FROM events
    ),
    cohort AS (
      SELECT user_id, min(activity_week) AS cohort_week FROM act GROUP BY user_id
    )
    SELECT c.cohort_week, a.activity_week,
           CAST(count(*) AS BIGINT) AS n_users
    FROM act a JOIN cohort c USING (user_id)
    GROUP BY c.cohort_week, a.activity_week
    """,
    doc="weekly retention-cohort matrix over the event stream (the "
    "standard product-analytics triangle): cohort = first active ISO "
    "week per user, one row per (cohort week, activity week) with "
    "distinct active users. Two aggregates over one distinct "
    "(user, week) frame — the cohort side is a per-user min that "
    "broadcast-joins back; weeks rendered as ISO date strings so both "
    "engines hash identically.",
)
def user_retention_cohorts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    act = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias(
                "activity_week"
            ),
        )
        .distinct()
    )
    cohort = act.groupBy("user_id").agg(
        F.min("activity_week").alias("cohort_week")
    )
    return (
        act.join(F.broadcast(cohort), "user_id")
        .groupBy("cohort_week", "activity_week")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
