"""Gap-based sessionization over an event stream.

Classic training-/clickstream-pipeline operator the reference lacks
(engine extension, same class as the as-of join): events of one key are
grouped into sessions whenever the gap to the previous event exceeds
`gap_ms`.

Plan shape: ONE shuffle on the key; the lag flag and the running sum
share the same (partition, order) spec so Catalyst plans a single
exchange + sort with two Window nodes on top — no second shuffle. At
100 TB this is the per-user timeline partitioning; per-key state is a
single row (previous timestamp), so skewed users cost sort time, not
memory.

Timestamps are compared as epoch millis (`unix_millis`) so results are
session-timezone-proof (matches the catalog convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from uc_historic_data_importer_spark.operators.frames import check_reserved

DEFAULT_GAP_MS = 30 * 60 * 1000  # the classic 30-minute web-session gap


def sessionize(events: DataFrame, gap_ms: int = DEFAULT_GAP_MS) -> DataFrame:
    """Append `session_idx` (1-based per `user_id`) to each event.

    A session starts at the first event of a user and whenever
    ts - prev_ts > gap_ms. Ordering ties break on `event_id` so the
    assignment is deterministic.

    NULL-timestamp events are EXCLUDED (dropped from the output): a
    gap has no meaning against an unknown time. Left in, NULLs sort
    first and the `prev IS NULL` first-event test fires for every row
    adjacent to one — each NULL fragments into its own singleton
    session and the first real event always opens a fresh session
    regardless of gap, silently inflating session counts on dirty
    data. Route NULL-ts events through a timestamp-repair pass (or
    constraint_audit them) if they must not be dropped silently."""
    if gap_ms < 0:
        # pre-guard (r13 review): ts - prev > negative is true for every
        # consecutive pair, so EVERY event silently opened its own
        # session (probed) — counts inflated with no error. gap_ms = 0
        # stays legal: "split on any strictly positive gap".
        raise ValueError(f"gap_ms must be >= 0 (got {gap_ms})")
    check_reserved(events.columns, {"session_idx"}, "sessionize")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_ms = F.unix_millis(F.col("ts"))
    prev = F.lag(ts_ms).over(w)
    new_flag = F.when(
        prev.isNull() | ((ts_ms - prev) > F.lit(gap_ms)), F.lit(1)
    ).otherwise(F.lit(0))
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return events.filter(F.col("ts").isNotNull()).withColumn(
        "session_idx", F.sum(new_flag).over(running).cast("int")
    )


def session_stats(
    events: DataFrame,
) -> DataFrame:
    """Per-session rollup: bounds, event count, value total.

    The groupBy reuses the sessionize shuffle's (key, session) grouping;
    AQE coalesces the tiny post-window aggregation. `total_value` is
    rounded after the sum (float add order is engine-dependent)."""
    sess = sessionize(events, DEFAULT_GAP_MS)
    ts_ms = F.unix_millis(F.col("ts"))
    return sess.groupBy("user_id", "session_idx").agg(
        F.min(ts_ms).alias("session_start_ms"),
        F.max(ts_ms).alias("session_end_ms"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )


FUNNEL_STEPS = ("view", "click", "purchase")


def funnel_counts(events: DataFrame) -> DataFrame:
    """Ordered-funnel conversion over FUNNEL_STEPS: users whose FIRST
    qualifying occurrence of each step strictly follows the previous
    step's.

    t_1 = min ts of step 1; t_i = min ts of step i with ts > t_{i-1}
    (the first step-i event after the funnel got there — NOT
    min(step_i) > t_{i-1}, which would miss users whose early step-i
    events precede step 1). Returns one row: n_<step> = users reaching
    each step.

    Plan shape: partitionBy-only windows need a hash exchange but NO
    sort, and all i levels share the one exchange on the key; the final
    count is a scalar agg. Per-key state is i timestamps — skew-proof."""
    steps = FUNNEL_STEPS
    check_reserved(
        events.columns,
        {"_ts"} | {f"_t{i}" for i in range(len(steps))},
        "funnel_counts",
    )
    w = Window.partitionBy("user_id")
    df = events.withColumn("_ts", F.unix_millis(F.col("ts")))
    prev = None
    for i, s in enumerate(steps):
        cond = F.col("event_type") == s
        if prev is not None:
            cond = cond & (F.col("_ts") > F.col(prev))
        cur = f"_t{i}"
        df = df.withColumn(
            cur, F.min(F.when(cond, F.col("_ts"))).over(w)
        )
        prev = cur
    per_user = df.groupBy("user_id").agg(
        *[F.min(f"_t{i}").alias(f"_t{i}") for i in range(len(steps))]
    )
    return per_user.agg(
        *[
            F.count(F.col(f"_t{i}")).alias(f"n_{s}")
            for i, s in enumerate(steps)
        ]
    )
