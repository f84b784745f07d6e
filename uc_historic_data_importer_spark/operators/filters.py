"""F1-F5: record filtering (SURVEY.md §2.2) — pure Catalyst predicates and
one join.

The reference applies these per record / per batch with RPCs
(FilterServiceImpl.kt:15-37, HbaseClient.kt:43-52); here they are
declarative predicates Catalyst can push down, and the exists-check is an
existence join against the sink snapshot that marks each row's
status — the scalable form of the batched existsAll GETs (never per-row
RPC; at 100 TB AQE picks broadcast vs shuffle side automatically).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from uc_historic_data_importer_spark.functions.dates import (
    EPOCH_MILLIS,
    parse_hdi_timestamp_millis,
)

FILTER_NOT = "DoNotFilter"
FILTER_EXISTS = "FilterExists"
FILTER_TOO_EARLY = "FilterTooEarly"
FILTER_TOO_LATE = "FilterTooLate"


def parse_filter_bound(value: str | None) -> int | None:
    """Parse a skip.earlier.than / skip.later.than config value.

    The reference accepts the Z-suffixed format and a no-zone format
    interpreted in the JVM default zone (FilterServiceImpl.kt:44-70,82-83);
    we pin UTC. Blank -> None (unbounded). A NON-BLANK value that does
    not parse raises — the reference's ParseException equivalent: a
    typo'd bound must fail the run, not silently disable the filter
    and import everything."""
    if not value or not value.strip():
        return None
    v = value.strip()
    # parse as-is FIRST: the shared parser also accepts the '+0000'
    # offset format, and unconditionally appending 'Z' would turn that
    # well-formed bound into '...+0000Z' and reject it
    millis = parse_hdi_timestamp_millis(v)
    if millis is None and not v.endswith("Z"):
        millis = parse_hdi_timestamp_millis(v + "Z")
    if millis is None:
        raise ValueError(
            f"unparseable time-range filter bound: {value!r} "
            "(expected yyyy-MM-dd'T'HH:mm:ss.SSS['Z'])"
        )
    return millis


def filter_status_col(
    version: Column,
    earlier_than_millis: int | None,
    later_than_millis: int | None,
) -> Column:
    """FilterServiceImpl.filterStatus (:24-37): strict bounds; the 1980
    epoch sentinel is exempt from the too-early filter (no-timestamp
    records may in fact be recent)."""
    lo, hi = earlier_than_millis, later_than_millis
    status = F.lit(FILTER_NOT)
    if hi is not None:
        status = F.when(version > F.lit(hi), F.lit(FILTER_TOO_LATE)).otherwise(status)
    if lo is not None:
        status = F.when(
            (version < F.lit(lo)) & (version != F.lit(EPOCH_MILLIS)),
            F.lit(FILTER_TOO_EARLY),
        ).otherwise(status)
    return status


def with_filter_status(
    df: DataFrame,
    earlier_than: str | None = None,
    later_than: str | None = None,
) -> DataFrame:
    """F3: add `filter_status` column from the configured bounds."""
    return df.withColumn(
        "filter_status",
        filter_status_col(
            F.col("version"),
            parse_filter_bound(earlier_than),
            parse_filter_bound(later_than),
        ),
    )


def mark_existing(df: DataFrame, existing: DataFrame) -> DataFrame:
    """F4 as a STATUS, not a drop: rows whose (table, key_hex, version)
    already exists in the sink snapshot get filter_status=FilterExists
    (only where the time-range filter passed them — the reference's
    exists check runs after the range gate, HBaseWriter.kt:549-552), so
    the F5 accounting can report filtered_exists and put_count matches
    the rows actually delivered to the sink. The check is one correlated
    EXISTS, planned as an existence join: each row comes out once however
    many snapshot cells match it, so the snapshot needs no dedup, and a
    NULL key matches nothing. Hash keys are uniformly distributed
    (CRC-prefixed), so a shuffled join is skew-free; when the snapshot is
    small Catalyst broadcasts it. The aliases qualify the outer columns:
    unqualified, ``Column.outer`` would resolve to the snapshot's own
    same-named columns and mark every row."""
    d, e = df.alias("_d"), existing.alias("_e")
    exists = e.where(
        (F.col("_e.table") == F.col("_d.table").outer())
        & (F.col("_e.key_hex") == F.col("_d.key_hex").outer())
        & (F.col("_e.version") == F.col("_d.version").outer())
    ).exists()
    status = F.when(
        (F.col("filter_status") == FILTER_NOT) & exists, F.lit(FILTER_EXISTS)
    ).otherwise(F.col("filter_status"))
    return d.withColumn("filter_status", status)


def valid_records(df: DataFrame) -> DataFrame:
    """F1+F2: keep parseable records with usable ids."""
    return df.filter(F.col("valid"))


def filter_counts(df: DataFrame) -> DataFrame:
    """F5: per-file accounting of put/filtered counts
    (HBaseWriter.kt:309-314) — one aggregation over the whole run instead
    of per-file mutable counters."""
    return (
        df.groupBy("db", "collection", "file_number")
        .agg(
            F.count(F.lit(1)).alias("records_total"),
            F.count_if(F.col("skip_reason") == "parse_error").alias("parse_errors"),
            F.count_if(F.col("skip_reason") == "date_error").alias("date_errors"),
            F.count_if(F.col("skip_reason") == "blank_id").alias("blank_ids"),
            F.count_if(
                F.col("valid") & (F.col("filter_status") == FILTER_NOT)
            ).alias("put_count"),
            F.count_if(F.col("filter_status") == FILTER_TOO_EARLY).alias(
                "filtered_too_early"
            ),
            F.count_if(F.col("filter_status") == FILTER_TOO_LATE).alias(
                "filtered_too_late"
            ),
            F.count_if(F.col("filter_status") == FILTER_EXISTS).alias(
                "filtered_exists"
            ),
        )
    )
