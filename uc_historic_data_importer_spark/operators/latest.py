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

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _qcol(name: str) -> Column:
    """Column reference by EXACT name: backtick-quoted so '.'/'`' in a
    column name are not parsed as nested-field access."""
    return F.col("`" + name.replace("`", "``") + "`")


def _check_reserved(df: DataFrame, reserved: set[str], op: str) -> None:
    """skew.py-style reserved-name guard (r9 review class): withColumn /
    an agg alias would SILENTLY capture an input column named like an
    internal temp — latest_per_key_window(df_with_a_'_rn'_column) would
    overwrite and then DROP the user's column. Raise with a rename
    hint instead."""
    taken = reserved & set(df.columns)
    if taken:
        raise ValueError(
            f"input columns {sorted(taken)} collide with {op}'s internal "
            "temp names; rename them first"
        )


def latest_per_key(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("table", "key_hex"),
    payload_cols: tuple[str, ...] = ("envelope",),
) -> DataFrame:
    """max_by aggregation: one shuffle, map-side partial aggregation.

    Ties on version resolve to an arbitrary-but-SINGLE row (HBase cells
    at the same timestamp overwrite each other — same semantics). The
    payload columns ride ONE max_by over a combined struct, not one
    max_by per column: independent max_by calls give no cross-aggregate
    consistency under ties, so a key with two rows at the same max
    version could return a TORN row mixing column values from different
    source rows — a row that never existed. One struct aggregate
    guarantees atomicity. Column references are backtick-quoted and the
    payload is extracted with getField (literal name resolution), so
    names containing '.' or '`' — which a bare F.col would parse as
    nested-field access — work end to end."""
    # only the grouping columns collide: the agg output is
    # key_cols + "version" + the internal "_picked" struct, so a key
    # column literally named _picked would alias-clash;
    # a PAYLOAD column named _picked is fine (it lives inside the
    # struct and is re-aliased on the way out).
    if "_picked" in key_cols:
        raise ValueError(
            "key column '_picked' collides with latest_per_key's "
            "internal aggregate name; rename it first"
        )
    picked = F.max_by(
        F.struct(*[_qcol(c).alias(c) for c in payload_cols]),
        _qcol("version"),
    ).alias("_picked")
    agg = df.groupBy(*[_qcol(c) for c in key_cols]).agg(
        F.max(_qcol("version")).alias("version"), picked
    )
    return agg.select(
        *[_qcol(c) for c in key_cols],
        _qcol("version"),
        *[F.col("_picked").getField(c).alias(c) for c in payload_cols],
    )


def latest_per_key_window(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("table", "key_hex"),
) -> DataFrame:
    """row_number() formulation returning entire rows.

    Ties on version pick an arbitrary row; AQE handles key skew
    (not expected here thanks to the CRC prefix). Column references are
    backtick-quoted (_qcol) like latest_per_key's: a bare F.col would
    parse a name containing '.' as nested-field access."""
    _check_reserved(df, {"_rn"}, "latest_per_key_window")
    w = Window.partitionBy(*[_qcol(c) for c in key_cols]).orderBy(
        _qcol("version").desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def scd2_intervals(
    df: DataFrame,
    key_cols: tuple[str, ...] = ("table", "key_hex"),
) -> DataFrame:
    """Versioned cells -> SCD-2 validity intervals.

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
    _check_reserved(df, {"_dup", "valid_to", "is_current"}, "scd2_intervals")
    payload = [c for c in df.columns if c not in key_cols and c != "version"]
    # _qcol throughout: dotted/backticked column names must resolve as
    # flat columns here exactly as they do in latest_per_key
    dup_w = Window.partitionBy(
        *[_qcol(c) for c in key_cols], _qcol("version")
    ).orderBy(*([_qcol(c).desc() for c in payload] or [F.lit(1)]))
    d = (
        df.withColumn("_dup", F.row_number().over(dup_w))
        .filter(F.col("_dup") == 1)
        .drop("_dup")
    )
    w = Window.partitionBy(*[_qcol(c) for c in key_cols]).orderBy(
        _qcol("version").asc()
    )
    nxt = F.lead(_qcol("version")).over(w)
    return d.withColumn(
        "valid_to",
        F.coalesce(nxt, F.lit(None).cast("long")),
    ).withColumn("is_current", nxt.isNull())
