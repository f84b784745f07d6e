"""K1-K3: row-key + version derivation (SURVEY.md §2.4) — Catalyst-native.

The canonical id (K1) and version millis (K3) are produced by the
normalization UDF (they require the same dynamic-JSON pass); this module
adds the binary row key (K2, reference MessageUtils.kt:120-149) and flat
projections, all JVM-side inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uc_historic_data_importer_spark.functions.keys import row_key_col, row_key_hex
from uc_historic_data_importer_spark.operators.frames import check_reserved


def with_row_key(df: DataFrame) -> DataFrame:
    """Add `key` (BinaryType) and `key_hex` columns.

    key = 4-byte big-endian CRC32(canonical_id) || utf8(canonical_id).
    The CRC prefix uniformly distributes keys — the same property the
    reference relies on for HBase region spread gives us skew-free
    shuffle partitioning on `key` at scale.
    """
    # the pipeline derives these exactly once; an input frame already
    # carrying them means a caller bug, and withColumn would silently
    # REPLACE the existing values
    check_reserved(df.columns, {"key", "key_hex"}, "with_row_key")
    c = F.col("canonical_id")
    return df.withColumn("key", row_key_col(c)).withColumn("key_hex", row_key_hex(c))


def flatten_normalized(df: DataFrame) -> DataFrame:
    """Project the `norm` struct to top-level columns + row key.

    Keeps only valid records' context columns plus every normalized field;
    invalid rows retain skip_reason for the F5 accounting stage.
    """
    flat = df.select(
        *[c for c in df.columns if c != "norm"],
        F.col("norm.*"),
    )
    return with_row_key(flat)
