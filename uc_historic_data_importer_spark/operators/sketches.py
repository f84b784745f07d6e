"""Deterministic distinct-count sketch (HyperLogLog) — engine-portable.

Spark's `approx_count_distinct` and DuckDB's `approx_count_distinct`
use different hash functions and register encodings, so their estimates
can never hash-match. This HLL is built on the repo's shared `md5_i64`
hash (functions/hashes.py) with exact integer bit-slicing, so the
DuckDB oracle reproduces the registers — and therefore the estimate —
bit-for-bit. That turns "approximate" into "deterministic approximate":
the estimator error is real HLL error, but any two engines agree on the
answer.

Why a sketch at all: at 100 TB, `count(distinct x)` shuffles every
distinct value; the HLL register table is 2^p rows per group (p=8 →
256), the per-bucket `max` combines map-side, and register tables MERGE
(max per bucket) — the streaming/cube-friendly cardinality path.

Layout of the 60-bit hash (p index bits, 60-p remainder bits):
    bucket = h >> (60-p)          — register index, 0..2^p-1
    w      = h & (2^(60-p) - 1)   — remainder
    rho    = leading zeros of w within (60-p) bits, + 1  (w=0 → 61-p)
`rho` uses a chained integer-threshold CASE (no floating log2), so it
is exact in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from uc_historic_data_importer_spark.functions.hashes import md5_i64, md5_i64_sql
from uc_historic_data_importer_spark.operators.frames import check_reserved

HASH_BITS = 60
# HLL: 2^HLL_P registers, estimates rounded at HLL_ROUND_DP decimals.
# Count-min: CMS_D rows of CMS_W counters, each row a disjoint
# log2(CMS_W)-bit window of the hash. The operators and their DuckDB
# oracles read the same constants.
HLL_P = 8
HLL_ROUND_DP = 4
CMS_D = 4
CMS_W = 256
_CMS_BITS = (CMS_W - 1).bit_length()
# log-bucket histograms: bucket = floor(ln(1 + value) * HIST_SCALE),
# quantiles rounded at HIST_ROUND_DP decimals
HIST_SCALE = 100
HIST_ROUND_DP = 4


def _alpha(m: int) -> float:
    # the standard HLL bias constant; embedded at full precision in both
    # the Spark plan and the SQL oracle so the engines share the double
    return 0.7213 / (1.0 + 1.079 / m)


def _rho_sql(w_sql: str, rem_bits: int) -> str:
    """SQL text of the rho when-chain: position of the highest set bit
    in the rem_bits-wide window, 1-based from the top; all-zero window
    -> rem_bits + 1.

    One parsed expression instead of rem_bits chained ``F.when`` calls
    (r14 opt round): the 56-arm chain cost ~2,000 py4j round-trips —
    0.3-0.5 s of DRIVER time per sketch build before any job ran (the
    PQ/LSH builder disease, cured the same way). The parsed AST is the
    same descending-threshold CaseWhen the Column form produced:
    w >= 2^(rem_bits-1) -> 1, ... w >= 1 -> rem_bits, ELSE rem_bits+1.
    """
    arms = " ".join(
        f"WHEN {w_sql} >= {1 << (rem_bits - r)} THEN {r}"
        for r in range(1, rem_bits + 1)
    )
    return f"(CASE {arms} ELSE {rem_bits + 1} END)"


def hll_registers(
    df: DataFrame,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Mergeable HLL state: one row per (group, bucket) with the max rho.

    This is the sketch you persist / union / re-aggregate: merging two
    register tables is groupBy(bucket).max(rho) again."""
    check_reserved(group_cols, {"_h", "bucket", "rho", "max_rho"},
                   "hll_registers")
    rem_bits = HASH_BITS - HLL_P
    # NULL values must not sketch: md5_i64(NULL) is NULL, and the
    # (bucket=NULL, rho=rem_bits+1) phantom register it would create
    # counts toward _nonempty — inflating past m corrupts both the
    # raw estimator's denominator and the linear-counting V (the
    # approx_count_distinct this replaces ignores NULLs; so do we,
    # and so does every oracle twin)
    # md5_i64 / shiftright / & emitted as SQL text alongside the rho
    # chain — parsed ASTs node-for-node the old Column-built trees
    # (plan-identity pinned by test_hll_registers_sql_matches_column)
    h_sql = (
        "CAST(conv(substring(md5(CAST(`user_id` AS STRING)), 1, 15), 16, 10) "
        "AS BIGINT)"
    )
    hashed = df.select(
        *group_cols, F.expr(h_sql).alias("_h")
    ).filter(F.col("_h").isNotNull())
    bucket = F.expr(f"shiftright(_h, {rem_bits})").alias("bucket")
    w_sql = f"(_h & {(1 << rem_bits) - 1})"
    rho = F.expr(_rho_sql(w_sql, rem_bits)).alias("rho")
    return (
        hashed.select(*group_cols, bucket, rho)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(
    regs: DataFrame,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Estimate from a register table (as built by hll_registers, or the
    max-merge of several) — the read side of incremental maintenance.

    Standard estimator with the small-range (linear counting)
    correction: raw = alpha * m^2 / sum(2^-M_j) (empty registers
    contribute 2^0 = 1); if raw <= 2.5m and V empty registers remain,
    estimate = m * ln(m / V)."""
    check_reserved(group_cols, {"_present_pow", "_nonempty", "hll_distinct"},
                   "hll_estimate")
    m = 1 << HLL_P
    agg = regs.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("_present_pow"),
        F.count(F.lit(1)).alias("_nonempty"),
    )
    denom = F.col("_present_pow") + (F.lit(m) - F.col("_nonempty"))
    v_zero = F.lit(m) - F.col("_nonempty")
    raw = F.lit(_alpha(m)) * F.lit(float(m * m)) / denom
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v_zero > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero),
    ).otherwise(raw)
    return agg.select(
        *group_cols, F.round(est, HLL_ROUND_DP).alias("hll_distinct")
    )


def hll_distinct(df: DataFrame) -> DataFrame:
    """Per-event_type HLL estimate of distinct user_id (column
    `hll_distinct`): register build + estimator in one plan."""
    return hll_estimate(hll_registers(df, ("event_type",)), ("event_type",))


def hll_sql() -> str:
    """DuckDB SQL reproducing hll_distinct over `events` exactly (shared
    constants, same integer slicing, same double arithmetic)."""
    m = 1 << HLL_P
    rem_bits = HASH_BITS - HLL_P
    mask = (1 << rem_bits) - 1
    cases = " ".join(
        f"WHEN w >= {1 << (rem_bits - r)} THEN {r}"
        for r in range(1, rem_bits + 1)
    )
    gsel = "event_type, "
    gby_regs = "event_type, bucket"
    gby_clause = "GROUP BY event_type"
    return f"""
    WITH hashed AS (
      SELECT {gsel}{md5_i64_sql('CAST(user_id AS VARCHAR)')} AS full_h FROM events
      WHERE (CAST(user_id AS VARCHAR)) IS NOT NULL
    ),
    sliced AS (
      SELECT {gsel}(full_h >> {rem_bits}) AS bucket,
             (full_h & {mask}) AS w
      FROM hashed
    ),
    h AS (
      SELECT {gsel}bucket, CASE {cases} ELSE {rem_bits + 1} END AS rho
      FROM sliced
    ),
    regs AS (
      SELECT {gsel}bucket, max(rho) AS max_rho FROM h GROUP BY {gby_regs}
    ),
    agg AS (
      SELECT {gsel}sum(power(2.0, -max_rho)) AS present_pow,
             count(*) AS nonempty
      FROM regs {gby_clause}
    )
    SELECT {gsel}round(
      CASE WHEN {_alpha(m)!r}::DOUBLE * {float(m * m)!r}::DOUBLE /
                  (present_pow + ({m} - nonempty)) <= {2.5 * m!r}::DOUBLE
             AND ({m} - nonempty) > 0
           THEN {float(m)!r}::DOUBLE *
                  ln({float(m)!r}::DOUBLE / ({m} - nonempty))
           ELSE {_alpha(m)!r}::DOUBLE * {float(m * m)!r}::DOUBLE /
                  (present_pow + ({m} - nonempty))
      END, {HLL_ROUND_DP}) AS hll_distinct
    FROM agg
    """


# ---------------------------------------------------------------------------
# Count-min sketch (heavy hitters)
# ---------------------------------------------------------------------------

def _cms_bucket_structs(h: Column) -> list[Column]:
    return [
        F.struct(
            F.lit(j).alias("row_idx"),
            F.shiftright(h, j * _CMS_BITS)
            .bitwiseAND(F.lit(CMS_W - 1))
            .alias("bucket"),
        )
        for j in range(CMS_D)
    ]


def cms_counters(df: DataFrame) -> DataFrame:
    """Count-min counter table of user_id: (row_idx, bucket, cnt), d*w
    cells total.

    One scan: each value explodes into its d (row, bucket) cells — a
    single shuffle of (row_idx, bucket) partial counts, state d*w
    regardless of input size. Like the HLL register table, counter
    tables MERGE: union + groupBy(row_idx, bucket).sum.

    Row j's bucket is a DISJOINT log2(w)-bit window of the shared 60-bit
    md5 hash. The small-multiplier permutation family used for MinHash
    is wrong here: (a*h+b) mod w preserves low-bit differences, so two
    values with equal low bits would collide in EVERY row and the min
    could never shake the collision out. Disjoint md5 windows make
    all-row collisions ~w^-d."""
    hashed = df.select(
        md5_i64(F.col("user_id").cast("string")).alias("_h")
    ).filter(F.col("_h").isNotNull())  # NULLs don't sketch (HLL rule)
    entries = F.array(*_cms_bucket_structs(F.col("_h")))
    return (
        hashed.select(F.explode(entries).alias("e"))
        .select("e.row_idx", "e.bucket")
        .groupBy("row_idx", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(counters: DataFrame, candidates: DataFrame) -> DataFrame:
    """Point-query the sketch: min over the d counters each candidate
    ``user_val`` hashes to.

    `candidates` is small by construction (the values you suspect are
    heavy), so the join broadcasts it against the d*w counter table.
    CMS guarantees cms_n >= true count (collisions only inflate)."""
    check_reserved(candidates.columns,
                   {"_h", "e", "row_idx", "bucket", "cnt", "cms_n"},
                   "cms_estimate")
    hashed = candidates.withColumn("_h", md5_i64(F.col("user_val").cast("string")))
    entries = F.array(*_cms_bucket_structs(F.col("_h")))
    keep = [c for c in candidates.columns]
    cells = hashed.select(*keep, F.explode(entries).alias("e")).select(
        *keep, "e.row_idx", "e.bucket"
    )
    return (
        cells
        # LEFT join + coalesce-to-0: an absent counter cell means NO
        # sketched value hashed there — the point query's min over the
        # d counters must see that 0 (an inner join would drop empty
        # cells and return the min of only the collision-inflated ones,
        # or no row at all for a candidate absent from every cell).
        # The broadcast moves to the RIGHT side: a left-outer join
        # cannot broadcast its left, and `counters` is the bounded
        # d x w table anyway
        .join(F.broadcast(counters), ["row_idx", "bucket"], "left")
        .groupBy(*keep)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_n"))
    )


def cms_sql() -> str:
    """DuckDB SQL reproducing the heavy-hitter query over `events`: the
    exact top-10 user_id values with their CMS estimates (same hash
    windows, same counters)."""
    bits = _CMS_BITS
    h = md5_i64_sql("CAST(user_id AS VARCHAR)")
    # LEFT JOIN + coalesce below mirrors cms_estimate's documented rule:
    # a candidate whose cells are absent from every counter (a NULL
    # heavy hitter — NULL never sketches, its hash is NULL) estimates
    # cms_n = 0 instead of silently vanishing from the inner join
    counter_rows = " UNION ALL ".join(
        f"SELECT {j} AS row_idx, ((h >> {j * bits}) & {CMS_W - 1}) AS bucket "
        f"FROM hashed"
        for j in range(CMS_D)
    )
    cand_rows = " UNION ALL ".join(
        f"SELECT user_val, exact_n, {j} AS row_idx, "
        f"((h >> {j * bits}) & {CMS_W - 1}) AS bucket FROM cand"
        for j in range(CMS_D)
    )
    return f"""
    WITH hashed AS (
      SELECT {h} AS h FROM events WHERE (user_id) IS NOT NULL
    ),
    counters AS (
      SELECT row_idx, bucket, count(*) AS cnt
      FROM ({counter_rows}) GROUP BY row_idx, bucket
    ),
    exact AS (
      SELECT user_id AS user_val, count(*) AS exact_n
      FROM events GROUP BY 1
      ORDER BY exact_n DESC, user_val LIMIT 10
    ),
    cand AS (SELECT user_val, exact_n,
                    {md5_i64_sql("CAST(user_val AS VARCHAR)")} AS h
             FROM exact)
    SELECT user_val, exact_n, min(coalesce(cnt, 0)) AS cms_n
    FROM ({cand_rows}) c LEFT JOIN counters USING (row_idx, bucket)
    GROUP BY user_val, exact_n
    """


# ---------------------------------------------------------------------------
# Log-histogram quantile sketch (mergeable percentiles)
# ---------------------------------------------------------------------------


def _check_qs(qs, op: str) -> None:
    """Each q must lie in (0, 1] (r13 read-only audit, fixed r14):
    q > 1 makes `cum >= q * total` unsatisfiable, so the pick min()
    aggregates over zero WHEN-matches and the quantile column is
    silently NULL; q <= 0 matches the FIRST bucket unconditionally
    (0 * total) and silently reports the minimum. Empty qs would emit
    a quantile-free frame that downstream consumers misread as
    all-quantiles-present."""
    if not qs:
        raise ValueError(f"{op}: qs must be non-empty")
    bad = [q for q in qs if not (0.0 < q <= 1.0)]
    if bad:
        raise ValueError(
            f"{op}: every q must be in (0, 1], got {bad} — q > 1 would "
            "emit silent NULL quantile columns, q <= 0 silently reports "
            "the minimum"
        )


def log_bucket(value: Column) -> Column:
    """THE sketch bucket rule — floor(ln(1 + value) * HIST_SCALE) — as one
    shared expression. hist_counts builds its state with it and
    consumers that compare a row against a sketch bucket (e.g.
    text.length_outliers' degenerate-MAD rule) MUST derive the row's
    bucket through this same function: a drifted inline copy of the
    rule would silently break bucket-equality comparisons. The DuckDB
    twin lives in hist_quantiles_sql's `floor(ln(1.0 + x) * HIST_SCALE)`
    string — oracle SQL is textual by nature, so that copy is pinned
    by the oracle gate instead."""
    return F.floor(
        F.log(F.lit(1.0) + value.cast("double")) * F.lit(HIST_SCALE)
    )


def hist_counts(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Mergeable quantile state: log-bucket counts per group.

    bucket = floor(ln(1 + value) * HIST_SCALE) for value >= 0 — relative
    bucket width e^(1/100) - 1 (~1% relative error),
    ~100 * ln(max_value) buckets total. Exact percentiles need a
    global sort (operators surface `percentile_prices`); this is the
    100 TB path: one map-side-combined shuffle into tiny fixed state
    that MERGES (union + groupBy.sum) across partitions, days, or
    streaming micro-batches. DDSketch's bucket rule, kept to pure
    ln/floor so any engine reproduces it bit-for-bit.
    """
    check_reserved(group_cols, {"bucket", "cnt"}, "hist_counts")
    bucket = log_bucket(F.col(value_col)).alias("bucket")
    # a NULL bucket (NULL value, or value <= -1 outside ln's domain)
    # must not become sketch state: Spark's cumulative window sorts
    # NULL buckets FIRST while DuckDB's sorts them LAST, so a NULL
    # bucket row would shift every quantile pick differently per
    # engine — and skew Spark's quantiles even alone
    return (
        df.select(*group_cols, bucket)
        .filter(F.col("bucket").isNotNull())
        .groupBy(*group_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_quantiles(
    counts: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    group_cols: tuple[str, ...] = (),
    emit_buckets: bool = False,
) -> DataFrame:
    """Quantile estimates from the bucket table: for each q, the lower
    edge of the first bucket whose cumulative count reaches q * total.
    The counts table is sketch-sized, so the window pass is cheap.

    ``emit_buckets`` additionally surfaces the picked bucket id per q
    (column ``b{q}``) — consumers that need bucket-granularity equality
    (e.g. length_outliers' degenerate-MAD rule under the sketch) compare
    ids instead of re-deriving them from the rounded edge, which would
    be ulp-fragile."""
    from pyspark.sql import Window

    check_reserved(
        group_cols,
        {"bucket", "cnt", "cum", "total"}
        | {f"_b{i}" for i in range(len(qs))},
        "hist_quantiles",
    )

    _check_qs(qs, "hist_quantiles")
    w_cum = (
        Window.partitionBy(*[F.col(c) for c in group_cols])
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*[F.col(c) for c in group_cols])
    # one select instead of two withColumns: each DataFrame op is a py4j
    # round-trip plus an analysis pass, and this builder runs inside
    # several query builds (r15 opt round, same driver-cost cure as the
    # HLL register chain)
    cum = counts.select(
        "*",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("total"),
    )
    picks = [
        F.min(
            F.when(
                F.col("cum") >= F.lit(q) * F.col("total"), F.col("bucket")
            )
        ).alias(f"_b{i}")
        for i, q in enumerate(qs)
    ]
    agg = cum.groupBy(*group_cols).agg(*picks)
    edge = lambda b: F.round(  # noqa: E731 — bucket lower edge, inverse of the rule
        F.exp(b.cast("double") / F.lit(HIST_SCALE)) - F.lit(1.0), HIST_ROUND_DP
    )
    qcols = [
        edge(F.col(f"_b{i}")).alias(f"p{str(q).replace('0.', '')}")
        for i, q in enumerate(qs)
    ]
    if emit_buckets:
        qcols += [
            F.col(f"_b{i}").alias(f"b{str(q).replace('0.', '')}")
            for i, q in enumerate(qs)
        ]
    return agg.select(*group_cols, *qcols)


def hist_quantiles_sql(
    value_expr: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> str:
    """DuckDB SQL reproducing hist_counts + hist_quantiles exactly."""

    _check_qs(qs, "hist_quantiles_sql")
    gsel = "l_returnflag, "
    gby_b = "l_returnflag, bucket"
    gby_clause = "GROUP BY l_returnflag"
    part = "PARTITION BY l_returnflag"
    picks = ", ".join(
        f"min(CASE WHEN cum >= {q!r} * total THEN bucket END) AS b{i}"
        for i, q in enumerate(qs)
    )
    outs = ", ".join(
        f"round(exp(b{i}::DOUBLE / {HIST_SCALE}) - 1.0, {HIST_ROUND_DP}) "
        f"AS p{str(q).replace('0.', '')}"
        for i, q in enumerate(qs)
    )
    return f"""
    WITH counts AS (
      SELECT {gsel}floor(ln(1.0 + ({value_expr})::DOUBLE) * {HIST_SCALE}) AS bucket,
             count(*) AS cnt
      FROM lineitem
      WHERE ({value_expr}) IS NOT NULL AND (1.0 + ({value_expr})::DOUBLE) > 0
      GROUP BY {gby_b}
    ),
    cum AS (
      SELECT {gsel}bucket, cnt,
             sum(cnt) OVER ({part} ORDER BY bucket
                            ROWS UNBOUNDED PRECEDING) AS cum,
             sum(cnt) OVER ({part}) AS total
      FROM counts
    ),
    agg AS (SELECT {gsel}{picks} FROM cum {gby_clause})
    SELECT {gsel}{outs} FROM agg
    """


def hll_pairwise_intersection(df: DataFrame) -> DataFrame:
    """Sketch-algebra distinct-user_id intersection: for every pair of
    event types (a < b), estimate |A ∩ B| by inclusion–exclusion
    over HLL registers — est(A) + est(B) − est(A ∪ B), where the union
    estimate comes from MAX-MERGING the two sets' register tables
    (registers are mergeable; intersections are not, so this is THE way
    to get them from sketches). Clamped at 0 since inclusion–exclusion
    on estimates can go slightly negative.

    Output: (type_a, type_b, est_a, est_b, est_union,
    est_intersection), one row per unordered pair.

    Scale shape: raw data is scanned ONCE (the register build); all
    pair algebra runs on register tables of 2^p rows per set — bounded
    artifacts. The pair fan-out is |sets|² × 2^p rows, fine for the
    low-cardinality set keys this targets (event types, sources,
    days); the per-set estimate sides broadcast. At 100 TB the same
    register tables answer membership-overlap questions all quarter —
    persist them, re-merge at will."""
    regs = hll_registers(df, ("event_type",))
    # Distinct set keys come from the REGISTER table (2^p rows per set),
    # not from df — a df.select("event_type").distinct() here would be a
    # second full scan of the raw input. Deriving from regs keeps the
    # one-scan claim true: this branch shares the regs aggregate's
    # exchange (ReusedExchange) with the pair/singles branches.
    others = F.broadcast(regs.select(F.col("event_type").alias("_other")).distinct())
    pair_regs = (
        regs.join(others, F.col("event_type") != F.col("_other"))
        .select(
            F.least(F.col("event_type"), F.col("_other")).alias("type_a"),
            F.greatest(F.col("event_type"), F.col("_other")).alias("type_b"),
            "bucket",
            "max_rho",
        )
        .groupBy("type_a", "type_b", "bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    est_union = hll_estimate(
        pair_regs, ("type_a", "type_b")
    ).withColumnRenamed("hll_distinct", "est_union")
    singles = hll_estimate(regs, ("event_type",))
    a = F.broadcast(
        singles.select(
            F.col("event_type").alias("type_a"),
            F.col("hll_distinct").alias("est_a"),
        )
    )
    b = F.broadcast(
        singles.select(
            F.col("event_type").alias("type_b"),
            F.col("hll_distinct").alias("est_b"),
        )
    )
    return (
        est_union.join(a, "type_a")
        .join(b, "type_b")
        .select(
            "type_a",
            "type_b",
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.greatest(
                    F.col("est_a") + F.col("est_b") - F.col("est_union"),
                    F.lit(0.0),
                ),
                HLL_ROUND_DP,
            ).alias("est_intersection"),
        )
    )


def hll_intersection_sql() -> str:
    """DuckDB SQL reproducing hll_pairwise_intersection exactly (same
    register build as hll_sql, same inclusion–exclusion double
    arithmetic, rounded at the same points)."""
    m = 1 << HLL_P
    rem_bits = HASH_BITS - HLL_P
    mask = (1 << rem_bits) - 1
    cases = " ".join(
        f"WHEN w >= {1 << (rem_bits - r)} THEN {r}"
        for r in range(1, rem_bits + 1)
    )

    def est(prefix: str) -> str:
        raw = (
            f"{_alpha(m)!r}::DOUBLE * {float(m * m)!r}::DOUBLE / "
            f"({prefix}present_pow + ({m} - {prefix}nonempty))"
        )
        return (
            f"round(CASE WHEN {raw} <= {2.5 * m!r}::DOUBLE "
            f"AND ({m} - {prefix}nonempty) > 0 "
            f"THEN {float(m)!r}::DOUBLE * "
            f"ln({float(m)!r}::DOUBLE / ({m} - {prefix}nonempty)) "
            f"ELSE {raw} END, {HLL_ROUND_DP})"
        )

    return f"""
    WITH hashed AS (
      SELECT event_type, {md5_i64_sql('CAST(user_id AS VARCHAR)')} AS full_h FROM events
      WHERE (CAST(user_id AS VARCHAR)) IS NOT NULL
    ),
    h AS (
      SELECT event_type, (full_h >> {rem_bits}) AS bucket,
             CASE {cases} ELSE {rem_bits + 1} END AS rho
      FROM (SELECT event_type, full_h, (full_h & {mask}) AS w FROM hashed)
    ),
    regs AS (
      SELECT event_type, bucket, max(rho) AS max_rho
      FROM h GROUP BY event_type, bucket
    ),
    types AS (SELECT DISTINCT event_type FROM regs),
    pair_regs AS (
      SELECT least(r.event_type, t.event_type) AS type_a,
             greatest(r.event_type, t.event_type) AS type_b,
             r.bucket, max(r.max_rho) AS max_rho
      FROM regs r JOIN types t ON t.event_type != r.event_type
      GROUP BY 1, 2, r.bucket
    ),
    pair_agg AS (
      SELECT type_a, type_b,
             sum(power(2.0, -max_rho)) AS present_pow,
             count(*) AS nonempty
      FROM pair_regs GROUP BY type_a, type_b
    ),
    single_agg AS (
      SELECT event_type,
             sum(power(2.0, -max_rho)) AS present_pow,
             count(*) AS nonempty
      FROM regs GROUP BY event_type
    ),
    singles AS (
      SELECT event_type, {est("")} AS hll_distinct FROM single_agg
    ),
    unions AS (
      SELECT type_a, type_b, {est("")} AS est_union FROM pair_agg
    )
    SELECT u.type_a, u.type_b, a.hll_distinct AS est_a,
           b.hll_distinct AS est_b, u.est_union,
           round(greatest(a.hll_distinct + b.hll_distinct - u.est_union,
                          0.0), {HLL_ROUND_DP}) AS est_intersection
    FROM unions u
    JOIN singles a ON a.event_type = u.type_a
    JOIN singles b ON b.event_type = u.type_b
    """


# bottom-k size of kmv_distinct (its oracle reads it too)
KMV_K = 64


def kmv_distinct(df: DataFrame) -> DataFrame:
    """KMV (k-minimum-values / bottom-k, the theta-sketch core) distinct
    user_id estimate per event_type: keep the KMV_K smallest distinct
    md5_i64 hashes; if
    the sketch is not full the count IS exact, else estimate
    (k-1) / R where R = kth_min / 2^60 (Bar-Yossef et al. 2002).

    Why alongside HLL: bottom-k sketches are trivially mergeable by
    union+re-trim AND support set operations (intersection via the
    union sketch's theta) — at 100 TB this is the sketch families'
    workhorse for 'distinct users in A AND B' style questions where
    HLL needs inclusion-exclusion. Two exchanges, not one: the corpus
    dedups on (group, h) — map-side partial agg bounds what the first
    shuffle carries — then the DISTINCT hash stream re-clusters on
    group alone for the bottom-k rank window. The second exchange
    moves only distinct hashes (worst case all-unique = corpus-sized;
    typical distinct-counting workloads are far below), which is the
    honest cost of an exact bottom-k without a fixed-size aggregation
    buffer per group.

    The estimate divides two exact integers inside one double division
    + floor, so DuckDB replays it bit-for-bit. Output: (event_type,
    n_kept, kth_min_hash, kmv_estimate)."""
    from pyspark.sql.window import Window

    # NULL values don't sketch (HLL rule), and NULL would also break
    # engine parity: Spark's window sorts NULLS FIRST (consuming a
    # bottom-k slot), DuckDB's ORDER BY defaults NULLS LAST
    hashed = (
        df.select("event_type", md5_i64(F.col("user_id").cast("string")).alias("_h"))
        .filter(F.col("_h").isNotNull())
        .dropDuplicates(["event_type", "_h"])
    )
    w = Window.partitionBy("event_type").orderBy("_h")
    kept = hashed.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= KMV_K
    )
    agg = kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("_h").alias("kth_min_hash"),
    )
    full = F.col("n_kept") >= KMV_K
    est = F.floor(
        F.lit(float(KMV_K - 1)) * F.lit(float(1 << HASH_BITS)) / F.col("kth_min_hash")
    ).cast("long")
    return agg.select(
        "event_type",
        "n_kept",
        "kth_min_hash",
        F.when(full, est).otherwise(F.col("n_kept")).alias("kmv_estimate"),
    )
