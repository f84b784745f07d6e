"""Engine-portable deterministic hashing for the scale extensions.

The dedup / similarity operators (MinHash, SimHash, LSH) need a hash that
(a) runs JVM-side in Spark (no Python in the hot path) and (b) can be
reproduced by the DuckDB oracle in plain SQL. ``xxhash64`` seeds differ
between engines, and DuckDB has no ``crc32``; md5 is bit-identical in both.

    Spark : conv(substring(md5(x), 1, 15), 16, 10) :: long
    DuckDB: ('0x' || substring(md5(x), 1, 15)) :: BIGINT

15 hex chars = 60 bits -> always a non-negative int64 in both engines.

For MinHash permutations we derive k universal-hash functions
h_j(x) = (a_j * md5_i64(x) + b_j) mod p with fixed constants — pure integer
arithmetic, identical in any engine. p = 2^61 - 1 (Mersenne prime) exceeds
the 60-bit hash range. NOTE: a_j * x can overflow int64 in Spark/DuckDB's
BIGINT; both wrap identically ONLY if overflow semantics match — they do
not (Spark ANSI may raise). We therefore keep a_j small enough that
a_j * x + b_j stays within int64: a_j < 8 means a*x < 2^63. With a in
[1, 7] and distinct b_j the permutations are weaker but portable; we use
(a, b) pairs derived below and additionally re-hash per band.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_61 = (1 << 61) - 1

# (a, b) pairs for portable universal hashing. a in [1,7] keeps
# a * h60 + b < 2^63 for h60 < 2^60 (7 * 2^60 + b < 2^63). Deterministic,
# shared with the DuckDB oracle builders in __spark_entry__.py.
def perm_constants(num_perms: int) -> list[tuple[int, int]]:
    consts = []
    for j in range(num_perms):
        a = (j % 7) + 1
        b = 1_000_003 * (j + 1) + 12_345
        consts.append((a, b))
    return consts


def md5_i64(col: Column) -> Column:
    """Deterministic non-negative int64 hash of a string column (60 bits)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_i64_sql(expr: str) -> str:
    """DuckDB SQL text computing the same value as md5_i64."""
    return f"(('0x' || substring(md5({expr}), 1, 15))::BIGINT)"


def perm_hash_sql(a: int, b: int) -> str:
    """h_j = (a * h + b) mod (2^61 - 1) over a precomputed md5_i64 column h,
    as SQL text valid in BOTH DuckDB and Spark SQL (the r14 opt round
    routes minhash builders through F.expr of this text: one parse
    instead of a py4j call per Column operator)."""
    return f"((h * {a} + {b}) % {MERSENNE_61})"
