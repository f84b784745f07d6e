"""Property tests for the engine-portable hash/sketch fragments.

The driver's correctness gate proves Spark == DuckDB on real tables;
these properties close the triangle with a THIRD, independent
implementation (pure Python) over arbitrary inputs: the DuckDB SQL
fragments emitted by functions/hashes.py and operators/sketches.py must
agree with hashlib/bit-arithmetic ground truth for any string / any
register value — so a future edit that breaks portability fails here on
corners the parquet fixtures never contain (astral unicode, empty
strings, boundary register values).
"""

import hashlib

import duckdb
from hypothesis import given, settings, strategies as st

from uc_historic_data_importer_spark.functions.hashes import (
    MERSENNE_61,
    md5_i64_sql,
    perm_constants,
    perm_hash_sql,
)
from uc_historic_data_importer_spark.operators.sketches import HASH_BITS


def py_md5_i64(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


# exclude NUL (rejected by duckdb varchar) and lone surrogates
texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    max_size=40,
)


@settings(max_examples=150, deadline=None)
@given(s=texts)
def test_md5_i64_sql_matches_hashlib(s):
    (got,) = duckdb.execute(
        f"SELECT {md5_i64_sql('?')}", [s]
    ).fetchone()
    assert got == py_md5_i64(s)
    assert 0 <= got < (1 << 60)


@settings(max_examples=100, deadline=None)
@given(s=texts, j=st.integers(min_value=0, max_value=15))
def test_perm_hash_sql_matches_python(s, j):
    a, b = perm_constants(16)[j]
    h = py_md5_i64(s)
    (got,) = duckdb.execute(
        f"SELECT {perm_hash_sql(a, b)} FROM (SELECT {md5_i64_sql('?')} AS h)",
        [s],
    ).fetchone()
    assert got == (a * h + b) % MERSENNE_61


@settings(max_examples=150, deadline=None)
@given(h=st.integers(min_value=0, max_value=(1 << 60) - 1))
def test_hll_bucket_rho_slicing_matches_python(h):
    """The CASE-chain rho in hll_sql == Python bit arithmetic for any
    60-bit hash (p=8)."""
    p, rem_bits = 8, HASH_BITS - 8
    mask = (1 << rem_bits) - 1
    cases = " ".join(
        f"WHEN ({h} & {mask}) >= {1 << (rem_bits - r)} THEN {r}"
        for r in range(1, rem_bits + 1)
    )
    (bucket, rho) = duckdb.execute(
        f"SELECT ({h} >> {rem_bits}), "
        f"CASE {cases} ELSE {rem_bits + 1} END"
    ).fetchone()
    w = h & mask
    assert bucket == h >> rem_bits
    assert rho == (rem_bits - w.bit_length() + 1 if w else rem_bits + 1)
