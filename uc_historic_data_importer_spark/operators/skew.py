"""Skew-handling utilities for hot keys at scale.

AQE's skew-join splitting (enabled in session.py) covers joins; these
cover the aggregation side: a handful of hot keys (one giant collection,
one pathological document id) can pin a single reducer. Salting splits
each hot key across `n_salts` reducers with a two-phase aggregation —
results are EXACTLY those of the direct aggregation (the salted query is
oracle-checked against a plain GROUP BY in the catalog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


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


def _check_reserved(df: DataFrame, reserved: set[str], op: str) -> None:
    """interval_join-style reserved-name guard: withColumn would
    SILENTLY OVERWRITE an input column named like an internal temp —
    worst case an aggs source column named `_salt` aggregates the salt
    values instead of the user's data. Raise with a rename hint."""
    taken = reserved & set(df.columns)
    if taken:
        raise ValueError(
            f"input columns {sorted(taken)} collide with {op}'s internal "
            "temp names; rename them first"
        )


# phase1 -> required phase2 combiner. Two-phase salting is only exact
# for DECOMPOSABLE aggregates; avg/stddev/percentile/count_distinct over
# salt-bucket partials are the textbook silent-corruption case (probed
# r14: avg/avg over a skewed group returned 25.75 vs exact 13.375).
# Non-decomposable needs: avg -> salted sum + count then divide;
# count distinct -> salted_distinct_count; percentiles -> sketches.py.
_COMBINER = {
    "count": "sum",
    "sum": "sum",
    "min": "min",
    "max": "max",
    "bit_and": "bit_and",
    "bit_or": "bit_or",
    "bit_xor": "bit_xor",
    "bool_and": "bool_and",
    "bool_or": "bool_or",
}


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str, str | None]],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation.

    aggs: output_name -> (phase1_fn, phase2_fn, source_col), e.g.
        {"n":     ("count", "sum", None),
         "total": ("sum",   "sum", "value"),
         "mx":    ("max",   "max", "value")}
    phase2 must be phase1's combiner (count -> sum; sum/min/max ->
    themselves). source_col None means count over the rows.

    Phase 1 groups on (keys..., salt) so a hot key spreads over n_salts
    reducers; phase 2 combines the n_salts partials per key. Spark's own
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
    if n_salts < 1:
        # pmod(h, 0) is NULL: every row lands in one NULL salt bucket —
        # silently un-salted (and salted_join with the same input is
        # outright data loss, see below)
        raise ValueError(f"n_salts must be >= 1: {n_salts}")
    if not aggs:
        # Spark's groupBy().agg() raises a bare internal AssertionError
        # ("exprs should not be empty") — name the caller's bug instead
        raise ValueError("salted_agg: aggs must be non-empty")
    # r14 review batch 9: the decomposability contract was documented
    # but unenforced — a non-combinable pair (avg/avg, stddev, ...)
    # returned silently WRONG numbers whenever group sizes differed
    # across salt buckets; a wrong-but-combinable pair (count -> max)
    # is the same class
    for out, (fn1, fn2, _src) in aggs.items():
        want = _COMBINER.get(fn1)
        if want is None:
            raise ValueError(
                f"salted_agg: phase-1 aggregate {fn1!r} (output {out!r}) "
                "is not decomposable over salt buckets; supported: "
                f"{sorted(_COMBINER)} (avg = salted sum+count then "
                "divide; distinct counts -> salted_distinct_count)"
            )
        if fn2 != want:
            raise ValueError(
                f"salted_agg: phase-2 for {fn1!r} must be {want!r}, got "
                f"{fn2!r} (output {out!r}) — any other combiner "
                "mis-merges the salt-bucket partials"
            )
    _check_reserved(
        df, {"_salt", *(f"_p_{out}" for out in aggs)}, "salted_agg"
    )
    salt = F.pmod(_row_salt_hash(df), F.lit(n_salts))
    phase1 = df.withColumn("_salt", salt).groupBy(*keys, "_salt").agg(
        *[
            getattr(F, fn1)(F.col(src) if src else F.lit(1)).alias(f"_p_{out}")
            for out, (fn1, _fn2, src) in aggs.items()
        ]
    )
    return phase1.groupBy(*keys).agg(
        *[
            getattr(F, fn2)(F.col(f"_p_{out}")).alias(out)
            for out, (_fn1, fn2, _src) in aggs.items()
        ]
    )


def salted_distinct_count(
    df: DataFrame, keys: list[str], value_col: str, n_salts: int = 16
) -> DataFrame:
    """Exact distinct count per key under skew: salt by the VALUE hash so
    each distinct value lands in exactly one salt bucket (no double
    counting), dedup within buckets, then sum bucket cardinalities.

    NULL values are excluded BEFORE the dedup — count(DISTINCT x)
    semantics (and the paired SQL oracle) ignore NULLs, but the
    (key, salt, NULL) group would otherwise survive dropDuplicates and
    count(lit(1)) would count it as a distinct value."""
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1: {n_salts}")
    _check_reserved(df, {"_salt", "_n"}, "salted_distinct_count")
    salt = F.pmod(F.hash(F.col(value_col)), F.lit(n_salts))
    per_bucket = (
        df.filter(F.col(value_col).isNotNull())
        .withColumn("_salt", salt)
        .select(*keys, "_salt", value_col)
        .dropDuplicates([*keys, "_salt", value_col])
        .groupBy(*keys, "_salt")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return per_bucket.groupBy(*keys).agg(
        F.sum("_n").alias(f"n_distinct_{value_col}")
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 8,
) -> DataFrame:
    """Big-big equi-join with a salted hot-key side.

    When the dim side is too large to broadcast AND fact keys are
    skewed, a plain shuffle join pins the hot key's reducer. Salting
    spreads each fact key over n_salts reducers and replicates the dim
    rows n_salts-fold (dim pays n_salts x its size in shuffle — use on
    the smaller side). Result is EXACTLY the plain join (the catalog
    oracle-checks it against one).

    The fact salt is the whole-row hash (hashing the key itself would
    put one hot key entirely in one bucket again) MIXED with the
    partition id — without the mix, a hot key whose rows
    are exact duplicates (an undeduplicated record stream) hashes every
    replica to ONE salt bucket, recreating the single-reducer skew
    while still paying the dim side's n_salts-fold replication. With
    the mix, identical rows spread across their map partitions.
    AQE's skew-join splitting covers sort-merge joins adaptively — this
    explicit form is for when you must pin the strategy (e.g. a skewed
    key feeding a downstream co-partitioned stage).
    """
    if n_salts < 1:
        # fact pmod(h, 0) is NULL while the dim side's sequence(0, -1)
        # DESCENDS to [0, -1] (it does not return empty): the join keys
        # can never match and the result is silently EMPTY — total data
        # loss from a configuration typo
        raise ValueError(f"n_salts must be >= 1: {n_salts}")
    _check_reserved(fact, {"_salt"}, "salted_join")
    _check_reserved(dim, {"_salt"}, "salted_join")
    f = fact.withColumn("_salt", F.pmod(_row_salt_hash(fact), F.lit(n_salts)))
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return f.join(d, [key, "_salt"]).drop("_salt")
