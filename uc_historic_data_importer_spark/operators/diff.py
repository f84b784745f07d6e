"""Snapshot reconciliation: keyed diff between two table versions.

The operational twin of the exists-filter (F4): after a backfill, a
migration, or an idempotent re-import (reference semantics: re-running
the job must not change the sink — `HbaseClient.kt:43-52` existsAll),
you want to PROVE two snapshots agree, and if not, see exactly how they
differ. This computes, per key: added / removed / changed / unchanged.

Shape at 100 TB: each side reduces to (key, row_hash) map-side — the
full-width rows never shuffle, only 16-byte hashes do — then ONE
full-outer join on the key. Co-partitioned (bucketed) snapshots join
without any exchange at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _encoded_value(c: str) -> Column:
    """Collision-free string encoding of one value for the row hash:
    ``n`` for NULL, else ``<char-length>:<value>``. The length prefix
    makes the concatenation a prefix code — a value CONTAINING the
    separator (or equal to any sentinel) can no longer collide with a
    different row that concatenates to the same bytes (the r8 review's
    in-band-separator finding: ('a\\x1fb','c') vs ('a','b\\x1fc') hashed
    identically under plain concat_ws). 'n' is unambiguous because every
    non-NULL encoding starts with a digit."""
    s = F.col(c).cast("string")
    return F.when(s.isNull(), F.lit("n")).otherwise(
        F.concat(F.length(s).cast("string"), F.lit(":"), s)
    )


def encoded_value_sql(expr: str) -> str:
    """DuckDB expression mirroring ``_encoded_value`` (oracle parity)."""
    v = f"CAST(({expr}) AS VARCHAR)"
    return (
        f"CASE WHEN {v} IS NULL THEN 'n' "
        f"ELSE CAST(length({v}) AS VARCHAR) || ':' || {v} END"
    )


def _keyed_hash(df: DataFrame, side: str, value_cols: list[str]) -> DataFrame:
    # md5 over the length-prefixed value encodings: engine-portable (the
    # oracle mirrors encoded_value_sql). value_cols comes from the
    # CALLER in one fixed order — deriving it from each side's own
    # df.columns would flag every key 'changed' after a harmless column
    # reorder
    payload = F.concat_ws("\x1f", *[_encoded_value(c) for c in value_cols])
    return df.select("o_orderkey", F.md5(payload).alias(f"hash_{side}"))


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-``o_orderkey`` diff status between two orders snapshots with
    identical schemas.

    Returns (o_orderkey, status) with status in
    {'added', 'removed', 'changed', 'unchanged'}.

    Value columns are hashed in OLD's column order on both sides (a
    column reorder between snapshots is a no-op, not a 100%-changed
    report); a genuine schema difference raises instead of silently
    mis-hashing. The key join is null-safe: a NULL key is a key like
    any other — a plain equi-join would double-report the same
    (NULL-keyed) row as added AND removed, a false reconciliation
    failure on byte-identical snapshots."""
    value_cols = [c for c in old.columns if c != "o_orderkey"]
    if set(new.columns) != set(old.columns):
        raise ValueError(
            "snapshot schemas differ: "
            f"old-only={sorted(set(old.columns) - set(new.columns))}, "
            f"new-only={sorted(set(new.columns) - set(old.columns))}"
        )
    o = _keyed_hash(old, "old", value_cols)
    n = _keyed_hash(new, "new", value_cols).withColumnRenamed(
        "o_orderkey", "_new_o_orderkey"
    )
    joined = o.join(n, o["o_orderkey"].eqNullSafe(n["_new_o_orderkey"]), "full_outer")
    status = (
        F.when(F.col("hash_old").isNull(), F.lit("added"))
        .when(F.col("hash_new").isNull(), F.lit("removed"))
        .when(F.col("hash_old") == F.col("hash_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select(
        F.coalesce(o["o_orderkey"], n["_new_o_orderkey"]).alias("o_orderkey"),
        status.alias("status"),
    )


def snapshot_diff_summary(old: DataFrame, new: DataFrame) -> DataFrame:
    """Reconciliation report over two orders snapshots: row counts per
    diff status, keyed by ``o_orderkey``."""
    return (
        snapshot_diff(old, new)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )
