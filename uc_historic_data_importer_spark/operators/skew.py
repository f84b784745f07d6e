"""Skew-handling utilities for hot keys at scale.

AQE's skew-join splitting (enabled in session.py) covers joins; these
cover the aggregation side: a handful of hot keys (one giant collection,
one pathological document id) can pin a single reducer. Salting splits
each hot key across several reducers with a two-phase aggregation —
results are EXACTLY those of the direct aggregation (the salted query is
oracle-checked against a plain GROUP BY in the catalog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from uc_historic_data_importer_spark.operators.frames import check_reserved


def _contains_map(dt: T.DataType) -> bool:
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def _row_salt_hash(df: DataFrame) -> F.Column:
    """Deterministic per-row salt source: xxhash64 over the partition id
    and every HASHABLE column. xxhash64 rejects MapType (anywhere in the
    type, incl. inside arrays/structs) at analysis time, so map-bearing
    columns are excluded — with the partition id always mixed in, rows
    that collide on the remaining columns still spread across their map
    partitions, which is all the salt needs."""
    hashable = [
        F.col(f.name)
        for f in df.schema.fields
        if not _contains_map(f.dataType)
    ]
    return F.xxhash64(F.spark_partition_id(), *hashable)


def salted_agg(df: DataFrame) -> DataFrame:
    """Two-phase salted aggregation per ``event_type``: ``n`` (rows),
    ``total_value`` (sum of value) and ``max_value`` (max of value) —
    each a DECOMPOSABLE aggregate whose phase-2 combiner (sum, sum, max)
    merges the salt-bucket partials exactly (avg or a distinct count
    over the partials would silently mis-merge; see
    salted_distinct_count for the latter).

    Phase 1 groups on (event_type, salt) so a hot key spreads over 16
    reducers; phase 2 combines the 16 partials per key. Spark's own
    map-side partial aggregation already covers simple cases; explicit
    salting is for the ones it can't — high-cardinality intermediate
    state, collect-like aggregates, or single-key skew where one
    reducer's combine step is itself too large.

    The salt is DETERMINISTIC (partition id + a row hash), never
    F.rand: a rand salt makes the phase-1 map output indeterminate, and
    a fetch failure during phase 2 then needs a whole-stage rollback
    Spark often cannot perform ("cannot rollback ShuffleMapStage" job
    abort) — recomputed rows would carry different salts than the
    partials already fetched. Mixing spark_partition_id into the hash
    keeps identical duplicate rows spread across (at worst) their map
    partitions, so an undeduplicated hot key still fans out.
    """
    check_reserved(
        df.columns, {"_salt", "_p_n", "_p_total_value", "_p_max_value"}, "salted_agg"
    )
    salt = F.pmod(_row_salt_hash(df), F.lit(16))
    phase1 = df.withColumn("_salt", salt).groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("_p_n"),
        F.sum(F.col("value")).alias("_p_total_value"),
        F.max(F.col("value")).alias("_p_max_value"),
    )
    return phase1.groupBy("event_type").agg(
        F.sum(F.col("_p_n")).alias("n"),
        F.sum(F.col("_p_total_value")).alias("total_value"),
        F.max(F.col("_p_max_value")).alias("max_value"),
    )


def salted_distinct_count(df: DataFrame) -> DataFrame:
    """Exact distinct ``user_id`` count per ``event_type`` under skew:
    salt by the VALUE hash so each distinct value lands in exactly one
    of 16 salt buckets (no double counting), dedup within buckets, then
    sum bucket cardinalities.

    NULL values are excluded BEFORE the dedup — count(DISTINCT x)
    semantics (and the paired SQL oracle) ignore NULLs, but the
    (key, salt, NULL) group would otherwise survive dropDuplicates and
    count(lit(1)) would count it as a distinct value."""
    check_reserved(df.columns, {"_salt", "_n"}, "salted_distinct_count")
    salt = F.pmod(F.hash(F.col("user_id")), F.lit(16))
    per_bucket = (
        df.filter(F.col("user_id").isNotNull())
        .withColumn("_salt", salt)
        .select("event_type", "_salt", "user_id")
        .dropDuplicates(["event_type", "_salt", "user_id"])
        .groupBy("event_type", "_salt")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return per_bucket.groupBy("event_type").agg(F.sum("_n").alias("n_distinct_user_id"))


def salted_join(fact: DataFrame, dim: DataFrame) -> DataFrame:
    """Big-big equi-join on ``k`` with a salted hot-key side.

    When the dim side is too large to broadcast AND fact keys are
    skewed, a plain shuffle join pins the hot key's reducer. Salting
    spreads each fact key over 8 reducers and replicates the dim
    rows 8-fold (dim pays 8 x its size in shuffle — use on
    the smaller side). Result is EXACTLY the plain join (the catalog
    oracle-checks it against one).

    The fact salt is the whole-row hash (hashing the key itself would
    put one hot key entirely in one bucket again) MIXED with the
    partition id — without the mix, a hot key whose rows
    are exact duplicates (an undeduplicated record stream) hashes every
    replica to ONE salt bucket, recreating the single-reducer skew
    while still paying the dim side's 8-fold replication. With
    the mix, identical rows spread across their map partitions.
    AQE's skew-join splitting covers sort-merge joins adaptively — this
    explicit form is for when you must pin the strategy (e.g. a skewed
    key feeding a downstream co-partitioned stage).
    """
    check_reserved(fact.columns, {"_salt"}, "salted_join")
    check_reserved(dim.columns, {"_salt"}, "salted_join")
    f = fact.withColumn("_salt", F.pmod(_row_salt_hash(fact), F.lit(8)))
    d = dim.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(7))))
    return f.join(d, ["k", "_salt"]).drop("_salt")
