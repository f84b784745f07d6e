"""Plain JSONL source: the unencrypted entry path for record lines.

The reference only ever reads `.json.gz.enc`; for correctness testing the
same record semantics must run over plain JSONL / parquet fixtures
(SURVEY.md §7.2 step 7 — fixtures enter as JSONL until the crypto source
lands). `spark.read.text` handles `.gz` natively and in parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

# capture groups of a PLAIN dump filename `<db>.<collection>.<NNNN>.json`
# (listing.py's _FILENAME matches the encrypted objects and sidecars).
# ONE definition shared by the batch source and the streaming source —
# a format change updated in only one of them would silently break
# batch/stream parity via regexp_extract's empty-string no-match.
DUMP_FILENAME_RE = r"([\w-]+)\.([\w-]+)\.([0-9]+)\.json"


def filename_meta_cols(path_col):
    """db / collection / file_number projection from a dump file path —
    ONE definition shared by the batch source below and the streaming
    source (streaming/stream_pipeline.read_jsonl_stream). The regex was
    already shared, but the projection (path split, group numbering,
    int cast) was duplicated; a change applied to only one copy would
    silently desynchronize batch/stream parity, which is the exact
    failure the shared-regex comment above exists to prevent."""
    fname = F.element_at(F.split(path_col, "/"), -1)
    g = DUMP_FILENAME_RE
    return [
        F.regexp_extract(fname, g, 1).alias("db"),
        F.regexp_extract(fname, g, 2).alias("collection"),
        F.regexp_extract(fname, g, 3).cast("int").alias("file_number"),
    ]


def read_jsonl_lines(spark: SparkSession, paths: list[str] | str) -> DataFrame:
    """Read dump files as (db, collection, file_number, line_no, raw_json).

    db/collection/file_number come from the filename exactly as in the
    reference (HBaseWriter.kt:86-88,103-112); filenames must look like
    `<db>.<collection>.<NNNN>.json[.gz]`. line_no is the 1-based position
    within its file (manifest ordering parity, SURVEY.md §2.1 S10)."""
    df = (
        spark.read.text(paths)
        .withColumn("data_path", F.input_file_name())
        .withColumn(
            "line_no",
            F.row_number().over(
                Window.partitionBy("data_path").orderBy(F.monotonically_increasing_id())
            ),
        )
    )
    fname = F.element_at(F.split(F.col("data_path"), "/"), -1)
    return (
        df
        # anchored whole-name contract: stray files (README, notes.txt,
        # db.c.0001.json.bak) would otherwise flow in with db='' and
        # NULL file_number — the reference drops unmatched filenames
        # with a warning (KeyPairGenerator.kt:29-37), so drop them here
        .filter(fname.rlike(rf"^{DUMP_FILENAME_RE}(\.gz)?$"))
        .select(
            *filename_meta_cols(F.col("data_path")),
            F.col("line_no"),
            F.col("value").alias("raw_json"),
            F.col("data_path"),
        )
    )
