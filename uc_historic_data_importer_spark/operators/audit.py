"""Data-quality auditing: constraint checks and column profiles.

The reference validates per-record (malformed JSON, blank ids, missing
metadata — F1/F2/S6) and accounts for what it dropped (F5). At corpus
scale the same idea generalizes to declarative table-level expectations
(the Deequ/Great-Expectations shape, public pattern): express every
constraint as a Catalyst predicate and compute ALL violation counts in
ONE scan — a single aggregate of conditional sums, no per-constraint
passes, no shuffle beyond the final 1-row reduce.

Used before a training run the same way F5 is used after an import: a
cheap, single-pass gate that fails loudly instead of training on broken
data.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def constraint_audit(df: DataFrame, constraints: Mapping[str, Column]) -> DataFrame:
    """One row: total row count + one violation count per constraint.

    ``constraints`` maps name -> predicate that GOOD rows satisfy; NULL
    predicate results count as violations (a null check result means the
    check could not pass). All counts come from one aggregate over one
    scan — adding a constraint never adds a pass. A constraint named
    ``row_count`` is rejected: it would emit a duplicate output column
    and `row[name]` would silently read the total instead of the
    violation count — a gate passing vacuously."""
    if "row_count" in constraints:
        raise ValueError(
            "constraint name 'row_count' collides with the total-count "
            "output column; rename the constraint"
        )
    aggs = [F.count(F.lit(1)).alias("row_count")]
    for name, pred in constraints.items():
        aggs.append(
            # coalesce: sum() over ZERO rows is NULL, and a gate doing
            # `row[name] > 0` on an empty upstream (itself an incident)
            # must read 0 violations, not crash on None
            F.coalesce(
                F.sum(
                    F.when(pred.isNull() | ~pred, F.lit(1)).otherwise(F.lit(0))
                ),
                F.lit(0),
            ).alias(name)
        )
    return df.agg(*aggs)


def column_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Long-format per-column profile: nulls, exact distincts, min/max
    (as strings, so heterogeneous column types share one schema).

    One aggregate computes every column's stats in a single scan;
    count(DISTINCT x) for multiple columns expands per-column but stays
    one logical pass (Spark rewrites multi-distinct via expand — the
    row multiplier is len(cols), the standard cost of exact multi-column
    profiling; swap in HLL sketches (operators/sketches.py) when
    approximate distincts suffice at the very largest tables)."""
    if not cols:
        # pre-guard (r13 review): the empty pairs array crashed as
        # `AnalysisException: Can only star expand struct data types`
        # — an analyzer internal, not a usable message
        raise ValueError("cols must be non-empty")
    aggs: list[Column] = [F.count(F.lit(1)).alias("row_count")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.countDistinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    pairs = []
    for c in cols:
        pairs.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"{c}__nulls").cast("long").alias("n_nulls"),
                F.col(f"{c}__distinct").cast("long").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_str"),
                F.col(f"{c}__max").alias("max_str"),
                F.col("row_count").cast("long").alias("row_count"),
            )
        )
    return wide.select(F.explode(F.array(*pairs)).alias("p")).select("p.*")


def referential_orphans(child: DataFrame, parent: DataFrame) -> DataFrame:
    """Child rows whose NON-NULL ``l_orderkey`` has no parent
    ``o_orderkey`` — foreign-key audit
    as a left_anti join (same scale shape as the F4 exists filter).
    SQL FK semantics: a NULL foreign key SATISFIES the
    constraint (there is nothing to reference), so NULL-keyed child
    rows are excluded up front — an unfiltered anti join would flag
    every one of them, failing the audit gate on legitimately nullable
    FKs. Audit NULL keys separately with constraint_audit
    (`col.isNotNull()`) when the column is supposed to be mandatory."""
    return child.filter(F.col("l_orderkey").isNotNull()).join(
        parent.select(F.col("o_orderkey").alias("l_orderkey")).distinct(),
        on="l_orderkey",
        how="left_anti",
    )


# quasi-identifiers of the customer audits: nation and market segment
QUASI_COLS = ["c_nationkey", "c_mktsegment"]


def k_anonymity_audit(df: DataFrame) -> DataFrame:
    """QUASI_COLS combinations with fewer than 8 rows — the
    re-identification risk audit run before releasing or training on
    user-adjacent data (public k-anonymity notion, Sweeney 2002).

    Returns (quasi columns..., group_size) for every violating group.
    One map-side-combined groupBy on
    the quasi columns; NULLs form their own group (a null quasi value is
    still a linkable value). Pair with text.pii_scrub for the content
    side of the same governance gate."""
    return (
        df.groupBy(*QUASI_COLS)
        .agg(F.count(F.lit(1)).alias("group_size"))
        .filter(F.col("group_size") < 8)
    )


def l_diversity_audit(df: DataFrame) -> DataFrame:
    """QUASI_COLS combinations whose SENSITIVE attribute ``bal_band``
    takes fewer than 8 distinct values — the homogeneity-attack
    audit that k-anonymity misses (Machanavasjhala et al. 2007:
    a group can be k-large yet reveal everyone's salary if all k share
    it). Returns (quasi columns..., group_size, distinct_sensitive) for
    every violating group.

    One groupBy on the quasi columns with count + count(distinct
    sensitive) — Spark plans the distinct via partial sets (expand +
    two-phase agg), map-side combined; NULL sensitive values count as a
    distinct value (a linkable fact like any other). The NULL is
    carried as a (is_null, value) STRUCT inside the collect_set, not an
    in-band string sentinel: struct(true, null) can never collide with
    any legitimate value, and the paired oracle mirrors the rule as
    count(DISTINCT x) + (1 if any NULL) — see l_diversity_customers.
    Complements k_anonymity_audit on the same governance gate."""
    s = F.col("bal_band")
    # countDistinct over the struct, NOT size(collect_set(...)): the
    # struct itself is never NULL (only its fields are), so countDistinct
    # counts the NULL-carrying entry identically — but plans as bounded
    # two-phase partial aggregation instead of buffering every group's
    # full distinct set in memory (a high-diversity group, exactly the
    # kind that PASSES the audit, could hold millions of values)
    return (
        df.groupBy(*QUASI_COLS)
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.countDistinct(
                F.struct(
                    s.isNull().alias("n"), s.cast("string").alias("v")
                )
            ).cast("long").alias("distinct_sensitive"),
        )
        .filter(F.col("distinct_sensitive") < 8)
    )


# the orders columns profile_drift compares (its oracle reads them too)
DRIFT_COLS = ["o_orderstatus", "o_custkey", "o_totalprice"]


def profile_drift(old: DataFrame, new: DataFrame) -> DataFrame:
    """DRIFT_COLS profile drift between two snapshots of orders —
    the monitoring primitive that catches silent upstream changes
    (null-rate spikes, cardinality collapse, range shifts) before they
    poison a training run.

    Both sides are single-scan column_profile aggregates (a handful of
    rows each), joined on the column name: the join is trivially
    broadcast and the whole report costs two scans regardless of table
    size. Deltas are integer-rendered (basis points / counts) for
    engine-portable comparison."""
    po = column_profile(old, DRIFT_COLS).select(
        F.col("column"),
        F.col("row_count").alias("old_rows"),
        F.col("n_nulls").alias("old_nulls"),
        F.col("n_distinct").alias("old_distinct"),
        F.col("min_str").alias("old_min"),
        F.col("max_str").alias("old_max"),
    )
    pn = column_profile(new, DRIFT_COLS).select(
        F.col("column"),
        F.col("row_count").alias("new_rows"),
        F.col("n_nulls").alias("new_nulls"),
        F.col("n_distinct").alias("new_distinct"),
        F.col("min_str").alias("new_min"),
        F.col("max_str").alias("new_max"),
    )
    # an EMPTY snapshot side must still report (sum() over zero rows is
    # NULL in every engine; min/max are NULL): zero-fill the counts and
    # compare ranges null-safely so a vanished partition reads as drift,
    # not as a NULL row
    null_bp = lambda n, r: F.floor(  # noqa: E731
        F.lit(10000)
        * F.coalesce(F.col(n), F.lit(0))
        / F.greatest(F.col(r), F.lit(1))
    )
    return po.join(pn, "column").select(
        "column",
        (F.col("new_rows") - F.col("old_rows")).alias("row_delta"),
        (null_bp("new_nulls", "new_rows") - null_bp("old_nulls", "old_rows"))
        .cast("long")
        .alias("null_rate_delta_bp"),
        (
            F.coalesce(F.col("new_distinct"), F.lit(0))
            - F.coalesce(F.col("old_distinct"), F.lit(0))
        ).alias("distinct_delta"),
        (
            ~F.col("new_min").eqNullSafe(F.col("old_min"))
            | ~F.col("new_max").eqNullSafe(F.col("old_max"))
        )
        .cast("int")
        .alias("range_changed"),
    )
