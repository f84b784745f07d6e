"""Range (interval) join — the band-join companion to the as-of join.

Semantics: pair (l, r) where r.ts is inside [l.ts + lower_ms, l.ts +
upper_ms] (bounds inclusive; set lower_ms=1 for strictly-after).

Scale shape: Spark's default plan for a pure inequality join is a
broadcast-nested-loop (or cartesian) — O(|L| x |R|) and undistributable.
This operator turns it into an equi-join by time binning: each left row
is exploded to the (at most ceil(window/width) + 1) buckets its window
overlaps, the right side gets floor(ts/width), and the join runs on
the bucket followed by the exact range filter. Cost is one
shuffle of each side on a uniform bucket key plus output-proportional
work — the standard interval-bucketing band join (as used by interval
joins in stream processors and range-join optimizations in warehouse
engines).

The bucket width is the window span (at least 1 ms), so each left row
explodes to at most 2 buckets. Bucket keys are uniform by construction
(time is), so the shuffle is skew-free; a hot wall-clock burst
localizes to one bucket and AQE's skew-join split handles it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: str,
    right_ts: str,
    lower_ms: int,
    upper_ms: int,
) -> DataFrame:
    """All (left, right) pairs with unix_millis(right.ts) within
    [unix_millis(left.ts) + lower_ms, unix_millis(left.ts) + upper_ms].

    Output columns: left columns, then right columns; ambiguous names on
    the right are suffixed `_r`.

    Reserved names: inputs may not carry the internal temp columns
    (`_ms_l`, `_ms_r`, `_bucket`) — withColumn would overwrite them and
    the final drop would silently remove the USER's column — nor may the
    left side already hold `<c>_r` for an overlapping right column `c`
    (the rename would create the same name on both sides and any later
    select of it would be ambiguous). Both collisions raise up front.
    """
    if upper_ms < lower_ms:
        raise ValueError("upper_ms must be >= lower_ms")
    reserved = {"_ms_l", "_ms_r", "_bucket"}
    taken = reserved & (set(left.columns) | set(right.columns))
    if taken:
        raise ValueError(
            f"input columns {sorted(taken)} collide with interval_join's "
            "internal temp names; rename them first"
        )
    width = max(upper_ms - lower_ms, 1)

    l_ms = F.unix_millis(F.col(left_ts))
    r_ms = F.unix_millis(F.col(right_ts))

    overlap = [c for c in right.columns if c in left.columns]
    suffix_clash = [c for c in overlap if f"{c}_r" in left.columns]
    if suffix_clash:
        raise ValueError(
            f"left already has {[c + '_r' for c in suffix_clash]} while the "
            f"right columns {suffix_clash} need that suffix; rename one side"
        )
    r = right
    for c in overlap:
        r = r.withColumnRenamed(c, f"{c}_r")
    right_ts_out = f"{right_ts}_r" if right_ts in overlap else right_ts

    lo_bucket = F.floor((l_ms + F.lit(lower_ms)) / F.lit(width))
    hi_bucket = F.floor((l_ms + F.lit(upper_ms)) / F.lit(width))
    lb = left.withColumn("_ms_l", l_ms).withColumn(
        "_bucket", F.explode(F.sequence(lo_bucket, hi_bucket))
    )
    rb = r.withColumn("_ms_r", F.unix_millis(F.col(right_ts_out))).withColumn(
        "_bucket", F.floor(F.col("_ms_r") / F.lit(width))
    )

    joined = lb.join(rb, ["_bucket"]).filter(
        (F.col("_ms_r") >= F.col("_ms_l") + F.lit(lower_ms))
        & (F.col("_ms_r") <= F.col("_ms_l") + F.lit(upper_ms))
    )
    return joined.drop("_bucket", "_ms_l", "_ms_r")
