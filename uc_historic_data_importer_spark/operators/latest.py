"""Latest-version-per-key — the core analytical operator over the
versioned-KV model (SURVEY.md §1.4).

The reference stores every version as an HBase cell (maxVersions=MAX_INT,
HbaseClient.kt:83-92); "current state" = the latest cell per row key. In
Spark that is a single hash-shuffle on the (uniformly distributed,
CRC-prefixed) key followed by a per-partition top-1:

- `latest_per_key` uses max_by-style aggregation (partial aggregation
  map-side, smallest shuffle payload) — preferred at scale.
- `latest_per_key_window` uses row_number() — kept for parity with the
  classical formulation and for returning full rows without re-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from uc_historic_data_importer_spark.operators.frames import check_reserved, qcol


# the row key of a normalized record: (table, key_hex)
KEY_COLS = ("table", "key_hex")


def latest_per_key(df: DataFrame) -> DataFrame:
    """max_by aggregation: one shuffle, map-side partial aggregation.

    Returns the latest ``version`` and its ``record_json`` per
    KEY_COLS. Ties on version resolve to an arbitrary-but-SINGLE row
    (HBase cells at the same timestamp overwrite each other — same
    semantics)."""
    picked = F.max_by(
        F.struct(qcol("record_json").alias("record_json")), qcol("version")
    ).alias("_picked")
    agg = df.groupBy(*[qcol(c) for c in KEY_COLS]).agg(
        F.max(qcol("version")).alias("version"), picked
    )
    return agg.select(
        *[qcol(c) for c in KEY_COLS],
        qcol("version"),
        F.col("_picked").getField("record_json").alias("record_json"),
    )


def latest_per_key_window(df: DataFrame) -> DataFrame:
    """row_number() formulation returning entire rows, one per KEY_COLS.

    Ties on version pick an arbitrary row; AQE handles key skew
    (not expected here thanks to the CRC prefix)."""
    check_reserved(df.columns, {"_rn"}, "latest_per_key_window")
    w = Window.partitionBy(*[qcol(c) for c in KEY_COLS]).orderBy(
        qcol("version").desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def scd2_intervals(df: DataFrame) -> DataFrame:
    """Versioned cells keyed by ``user_id`` -> SCD-2 validity intervals.

    The KV sink keeps every version of a key (the reference's HBase
    maxVersions=MAX_INT model, SURVEY.md §1.4); this derives the
    temporal-table view: each version is valid from its own timestamp
    until the next version's (`valid_to`), the current version staying
    open (NULL). `is_current` marks the row the
    latest-per-key operator would pick — making latest_per_key a
    degenerate read of this view.

    One shuffle on the key (lead shares the latest-per-key window
    spec); at 100 TB this is the same per-key timeline partitioning as
    sessionization.

    Duplicate (key, version) cells — which the append-only KV log can
    hold (sinks.compact_kv's documented reality) — are collapsed FIRST
    with the same deterministic rule compact_kv uses (max over the
    remaining columns): without the collapse, lead() over a non-unique
    version ordering emits zero-width intervals that as-of queries can
    never match and marks an arbitrary duplicate is_current.
    """
    # valid_to / is_current are OUTPUT columns: an input column with
    # either name (e.g. re-running scd2 over its own output) would be
    # silently overwritten, not extended
    check_reserved(
        df.columns, {"_dup", "valid_to", "is_current"}, "scd2_intervals"
    )
    payload = [c for c in df.columns if c not in ("user_id", "version")]
    # qcol throughout: dotted/backticked column names must resolve as
    # flat columns here exactly as they do in latest_per_key
    dup_w = Window.partitionBy(qcol("user_id"), qcol("version")).orderBy(
        *([qcol(c).desc() for c in payload] or [F.lit(1)])
    )
    d = (
        df.withColumn("_dup", F.row_number().over(dup_w))
        .filter(F.col("_dup") == 1)
        .drop("_dup")
    )
    w = Window.partitionBy(qcol("user_id")).orderBy(
        qcol("version").asc()
    )
    nxt = F.lead(qcol("version")).over(w)
    return d.withColumn(
        "valid_to",
        F.coalesce(nxt, F.lit(None).cast("long")),
    ).withColumn("is_current", nxt.isNull())
