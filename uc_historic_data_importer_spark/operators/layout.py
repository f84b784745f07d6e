"""Multi-dimensional data layout: Z-order (Morton) keys for
data-skipping writes.

At 100 TB the cheapest predicate is the one that never reads a file:
parquet row-group/file min-max stats prune scans, but only if the write
layout clusters each filter column. Sorting by one column clusters that
column alone; interleaving the bits of k columns into one Morton key and
range-partitioning + sorting by it clusters ALL k at once — every file
covers a small hyper-rectangle of the key space, so min-max pruning
works for predicates on any interleaved dimension (the Delta/Iceberg
``OPTIMIZE ZORDER BY`` layout, public technique from Morton 1966 /
Databricks docs).

The key is a pure Catalyst bit expression (whole-stage codegen,
map-only); a clustered write is ``repartitionByRange`` on it (range
exchange with sampled bounds — the only shuffle) + an in-partition sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key(cols: Sequence[Column]) -> Column:
    """Morton key: interleave the low 16 bits of each column.

    Callers pre-scale values into [0, 2^16) — ranks, bucketized
    floats, or ``x % 2^16`` for already-uniform ids. k * 16 must fit
    a signed long (k <= 3; k=2 -> 32-bit keys). Bit j of column i lands
    at position j*k + i, so high bits of every dimension dominate
    equally — locality in the key implies locality in every
    dimension."""
    k = len(cols)
    if not 1 <= k <= 3:
        # zero columns made the key the CONSTANT 0 for every row — the
        # range partitioner then puts the whole table in one partition,
        # silently defeating the data-skipping layout this key exists for
        raise ValueError(f"need 1 to 3 columns for 16-bit lanes, got {k}")
    z = F.lit(0).cast("long")
    for j in range(16):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), j).bitwiseAND(F.lit(1).cast("long"))
            z = z + F.shiftleft(bit, j * k + i)
    return z


def zorder_key_sql() -> str:
    """DuckDB SQL computing the same Morton key over the low 16 bits of
    (l_partkey, l_suppkey) — oracle parity for zorder_stats_lineitem."""
    exprs = ["(l_partkey & 65535)", "(l_suppkey & 65535)"]
    # every term fully parenthesized: SQL `<<` binds looser than `+`,
    # so an unparenthesized `a << 3 + b << 5` re-associates the shifts.
    # Each expr is CAST to BIGINT to match the Spark side's .cast
    # ("long"): an INTEGER-typed expr would make DuckDB raise
    # 'Overflow in left shift' at bit positions >= 31 (verified live)
    terms = [
        f"((((CAST(({e}) AS BIGINT)) >> {j}) & 1) << {j * 2 + i})"
        for j in range(16)
        for i, e in enumerate(exprs)
    ]
    return "(" + " + ".join(terms) + ")"
