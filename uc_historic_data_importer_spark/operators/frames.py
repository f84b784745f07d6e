"""Column and partitioning helpers every operator module shares."""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def qcol(name: str) -> Column:
    """Column reference by EXACT name: backtick-quoted so '.'/'`' in a
    column name are not parsed as nested-field access."""
    return F.col("`" + name.replace("`", "``") + "`")


def check_reserved(cols: Iterable[str], reserved: set[str], op: str) -> None:
    """Reserved-name guard: withColumn, a select or an agg alias would
    SILENTLY overwrite or shadow an input column named like an
    operator's internal temp or documented output —
    latest_per_key_window(df_with_a_'_rn'_column) would overwrite and
    then DROP the user's column, a sketch group column named `bucket`
    would group by the register index. Raise with a rename hint
    instead.

    Callers pass the columns that can collide: usually ``df.columns``;
    the sketches pass only their group/candidate columns, because a
    value column is consumed by name inside an expression and never
    rides next to the temps."""
    taken = reserved & set(cols)
    if taken:
        raise ValueError(
            f"input columns {sorted(taken)} collide with {op}'s internal "
            "temp names or output columns; rename them first"
        )


def ensure_parallel(df: DataFrame) -> DataFrame:
    """Single-file-input guard for the CPU-heavy map stages (shingling,
    hashing, dot products, tokenizing): their parallelism equals input
    partitions, and a compact source (the one-file sf1 documents table)
    would run the whole map phase on one core (r12: winnowing 13.1 s ->
    3.0 s repartitioned). A round-robin repartition when under the
    session's default parallelism; a no-op at real scale where the
    input already has thousands of splits. Not for map-only contract
    operators: their zero-Exchange plans are a pinned property
    (tests/test_plans.py) and a streaming-safety feature."""
    n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df
