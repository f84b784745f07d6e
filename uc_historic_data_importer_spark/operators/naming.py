"""W4: table-name derivation + collection coalescing — pure Catalyst.

Reference semantics (HBaseWriter.kt:103-117,325-336,601 and
docs/data_transformations.md:251-271):

1. The split-collection suffix ``-(one|two|...|thirtytwo|archived)`` is
   stripped from the collection name ("coalescing").
2. table = "<db>:<coalesced collection>" with every "-" -> "_".
3. One special mapping: agent_core:agentToDoArchive -> agent_core:agentToDo
   (and the collection is renamed accordingly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from uc_historic_data_importer_spark.operators.frames import check_reserved

# HBaseWriter.kt:601 — COALESCED_COLLECTION regex, verbatim alternation
COALESCED_SUFFIX = (
    "-(archived|eight|eighteen|eleven|fifteen|five|four|fourteen|nine|"
    "nineteen|one|seven|seventeen|six|sixteen|ten|thirteen|thirty|"
    "thirtyone|thirtytwo|three|twelve|twenty|twentyeight|twentyfive|"
    "twentyfour|twentynine|twentyone|twentyseven|twentysix|twentythree|"
    "twentytwo|two)$"
)

_ARCHIVE_MAP = {"agent_core:agentToDoArchive": "agent_core:agentToDo"}


def coalesced_collection(collection: Column) -> Column:
    """Strip the split-collection suffix (HBaseWriter.kt:325-331)."""
    return F.regexp_replace(collection, COALESCED_SUFFIX, "")


def _base_table(db: Column, collection: Column) -> Column:
    """Pre-archive-map table name — ONE definition shared by table_name
    and with_table_names (a duplicated expression edited in only one
    place would silently desynchronize archive detection, which
    compares against exactly this form)."""
    return F.regexp_replace(
        F.concat(db, F.lit(":"), coalesced_collection(collection)), "-", "_"
    )


def table_name(db: Column, collection: Column) -> Column:
    """Derive the final table name including the archive special case."""
    base = _base_table(db, collection)
    out = base
    for src, dst in _ARCHIVE_MAP.items():
        out = F.when(base == src, F.lit(dst)).otherwise(out)
    return out


def with_table_names(df: DataFrame) -> DataFrame:
    """Add `table` and the final `collection_out` column.

    `collection_out` is the coalesced collection (dashes preserved) unless
    the archive mapping rewrote the table, in which case it comes from the
    mapped table name (HBaseWriter.kt:111-117: collection is only
    re-derived from tableName when coalescedArchive changed it). The
    `collection` input stays untouched because the manifest FILE name keeps
    the uncoalesced collection (HBaseWriter.kt:124-127) while the manifest
    ROW uses the coalesced one. Archive detection tests the map
    directly on the shared base expression — not a re-derived copy
    compared for inequality."""
    # the pipeline derives these exactly once; an input frame already
    # carrying them means a caller bug, and withColumn would silently
    # REPLACE the existing values
    check_reserved(df.columns, {"table", "collection_out"}, "with_table_names")
    base = _base_table(F.col("db"), F.col("collection"))
    tbl = base
    archived = F.lit(False)
    for src, dst in _ARCHIVE_MAP.items():
        hit = base == src
        tbl = F.when(hit, F.lit(dst)).otherwise(tbl)
        archived = archived | hit
    coll_out = F.when(
        archived, F.regexp_extract(tbl, "^[^:]+:(.*)$", 1)
    ).otherwise(coalesced_collection(F.col("collection")))
    return df.withColumn("table", tbl).withColumn("collection_out", coll_out)
