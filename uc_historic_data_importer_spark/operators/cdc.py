"""Changelog merge (CDC apply): fold an ordered put/delete change stream
into a snapshot table.

The reference is the HISTORIC side of a CDC pair: it bulk-loads a Mongo
dump into versioned KV cells, and its production sibling then applies
incremental Kafka updates to the same table (SURVEY.md §1.1 — the
`k2hb`-style companion the manifest reconciles against). This operator is
that incremental apply re-expressed relationally: given

    snapshot(key, payload...)                 — the imported table
    changes(key, seq, op, payload...)         — ordered log, op in (P, D)

produce the post-log table: for every key the latest change (max seq)
wins — a ``P`` (put) upserts its payload, a ``D`` (delete tombstone)
removes the key; keys with no change keep their snapshot row. This is
exactly HBase-put/delete semantics (reference `HBaseWriter.kt` puts with
version timestamps; deletes are tombstone versions), and Delta/Iceberg
``MERGE INTO`` semantics for the relational world.

Scale shape: one shuffle to reduce the log to latest-per-key (map-side
partial ``max(struct(seq, ...))`` — the log compacts before it moves),
then one equi-join with the snapshot on the same key. The join reuses
the aggregation's hash partitioning (no second shuffle of the change
side); a snapshot bucketed/partitioned on the key joins without moving
at all. No windows, no skew-prone keys (primary keys are unique), no
driver state — at 100 TB the cost is one pass over the log plus one
co-partitioned join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from uc_historic_data_importer_spark.operators.frames import check_reserved, qcol

OP_PUT = "P"
OP_DELETE = "D"


def latest_changes(
    changes: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """Compact the changelog to one winning row per key.

    The winner is the max-``seq`` change; ties (same seq for one key —
    an upstream bug, but determinism must survive it) break on
    (op, payload...) lexicographically via the struct ordering, so the
    result is stable across retries and partitionings. One groupBy with
    map-side partial aggregation: the shuffle moves one struct per
    (partition, key), not the raw log."""
    keys = list(key_cols)
    if not keys:
        # pre-guard (r13 review): empty keys crashed as a bare
        # IndexError deep in the join instead of naming the
        # misconfiguration (and a keyless "merge" has no meaning —
        # every change would target the same single row)
        raise ValueError("key_cols must be non-empty")
    payload = [c for c in changes.columns if c not in (*keys, "seq", "op")]
    # qcol/getField throughout (r10 review — the latest_per_key rule):
    # dotted/backticked column names must resolve as FLAT columns, not
    # nested-field paths, both when packing the struct and when
    # unpacking it; and a key column literally named _w would
    # alias-clash with the internal aggregate
    check_reserved(keys, {"_w"}, "latest_changes")
    packed = F.max(
        F.struct(
            qcol("seq").alias("seq"),
            qcol("op").alias("op"),
            *[qcol(c).alias(c) for c in payload],
        )
    ).alias("_w")
    w = F.col("_w")
    return changes.groupBy(*[qcol(k) for k in keys]).agg(packed).select(
        *[qcol(k) for k in keys],
        w.getField("seq").alias("seq"),
        w.getField("op").alias("op"),
        *[w.getField(c).alias(c) for c in payload],
    )


def merge_changelog(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """Apply the changelog to the snapshot (MERGE INTO semantics).

    Output columns = snapshot columns. For payload columns present in
    the changelog, the winning put's value replaces the snapshot value
    (including explicit NULLs — the ``op`` discriminator, never
    ``coalesce``, decides which side wins, so a put may null a field).
    Snapshot columns absent from the changelog pass through (NULL on
    inserted keys). Deletes drop the key even if it was inserted and
    re-deleted purely inside the log; a put after a delete resurrects.

    .. note:: **Breaking contract change (r13).** Before r13 any op
       outside {'P', 'D'} was silently treated as a put (this repo's
       own streaming soak fed op='U' for months without an error). The
       op vocabulary is now ASSERTED at execution time — pipelines
       whose source emits other codes (Debezium 'c'/'u'/'r'/'d',
       'I'/'U' upsert logs, ...) must map them to 'P'/'D' before
       calling merge_changelog. See README "Round-13 session summary"
       / migration note.
    """
    keys = list(key_cols)
    latest = latest_changes(changes, keys)
    # op-vocabulary assertion on the COMPACTED log (r13 review): after
    # the full-outer join a NULL op legitimately means "no change for
    # this key", so a NULL (or unknown) op IN THE LOG is
    # indistinguishable from absence and was silently mis-merged —
    # probed: a change-only key with op=NULL emitted a GHOST row with
    # all-NULL payload, and op='X' silently upserted like a put. The
    # check is one CASE expression over the compacted winners (cheap;
    # never touches the raw log) and raises at execution time like the
    # envelope NULL-body guard.
    op_ok = qcol("op").isin(OP_PUT, OP_DELETE)  # NULL -> NULL -> raise
    latest = latest.withColumn(
        "op",
        F.when(op_ok, qcol("op")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "merge_changelog: op must be "
                        f"'{OP_PUT}' or '{OP_DELETE}', got "
                    ),
                    F.coalesce(qcol("op"), F.lit("NULL")),
                )
            )
        ),
    )
    change_payload = {c for c in latest.columns if c not in (*keys, "seq", "op")}

    def side(alias: str, name: str) -> Column:
        # alias-qualified EXACT reference: "c.`a.b`" resolves the flat
        # column `a.b` on side c, never a nested-field path (r10 review)
        return F.col(f"{alias}.`" + name.replace("`", "``") + "`")

    joined = snapshot.alias("s").join(latest.alias("c"), on=keys, how="full_outer")
    live = joined.filter(side("c", "op").isNull() | (side("c", "op") != OP_DELETE))
    out = []
    for c in snapshot.columns:
        if c in keys:
            out.append(qcol(c))
        elif c in change_payload:
            out.append(
                F.when(side("c", "op").isNotNull(), side("c", c))
                .otherwise(side("s", c))
                .alias(c)
            )
        else:
            out.append(side("s", c).alias(c))
    return live.select(*out)
