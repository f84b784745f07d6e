"""Range (interval) join — the band-join companion to the as-of join.

Semantics: pair (l, r) where r.ts is inside [l.ts + LOWER_MS, l.ts +
UPPER_MS] (bounds inclusive; LOWER_MS = 1 makes it strictly-after).

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

from uc_historic_data_importer_spark.operators.frames import check_reserved


# the band: right.ts within [left.ts + 1 ms, left.ts + 60 s]
LOWER_MS = 1
UPPER_MS = 60_000


def interval_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """All (left, right) pairs with unix_millis(right.ts) within
    [unix_millis(left.ts) + LOWER_MS, unix_millis(left.ts) + UPPER_MS].

    Output columns: left columns, then right columns; ambiguous names on
    the right are suffixed `_r` (so the right side's ``ts`` reads
    ``ts_r``).

    Reserved names: inputs may not carry the internal temp columns
    (`_ms_l`, `_ms_r`, `_bucket`) — withColumn would overwrite them and
    the final drop would silently remove the USER's column — nor may the
    left side already hold `<c>_r` for an overlapping right column `c`
    (the rename would create the same name on both sides and any later
    select of it would be ambiguous). Both collisions raise up front.
    """
    check_reserved(
        [*left.columns, *right.columns], {"_ms_l", "_ms_r", "_bucket"},
        "interval_join",
    )
    width = UPPER_MS - LOWER_MS
    l_ms = F.unix_millis(F.col("ts"))

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

    lo_bucket = F.floor((l_ms + F.lit(LOWER_MS)) / F.lit(width))
    hi_bucket = F.floor((l_ms + F.lit(UPPER_MS)) / F.lit(width))
    lb = left.withColumn("_ms_l", l_ms).withColumn(
        "_bucket", F.explode(F.sequence(lo_bucket, hi_bucket))
    )
    rb = r.withColumn("_ms_r", F.unix_millis(F.col("ts_r"))).withColumn(
        "_bucket", F.floor(F.col("_ms_r") / F.lit(width))
    )

    joined = lb.join(rb, ["_bucket"]).filter(
        (F.col("_ms_r") >= F.col("_ms_l") + F.lit(LOWER_MS))
        & (F.col("_ms_r") <= F.col("_ms_l") + F.lit(UPPER_MS))
    )
    return joined.drop("_bucket", "_ms_l", "_ms_r")
