"""Deterministic Bloom filter — the scale path for the exists-filter (F4).

The reference checks record existence with batched HBase ``existsAll``
RPCs (reference ``app/batch/HbaseClient.kt:43-52``, applied per put batch
at ``app/batch/HBaseWriter.kt:549-552``). The rebuild's exact operator is
a join against the sink snapshot (``operators/filters.py::mark_existing``
in the job, a plain ``left_anti`` join in the catalog's exists-filter
query), but at 100 TB that join shuffles the FULL record stream on the
key. This module adds the standard pre-shuffle accelerator: build a
Bloom filter over the existing-key snapshot, embed it in the plan as a
constant array (m = 2^16 bits = 8 KB), and reject definitely-new records
MAP-SIDE, so only the maybe-existing sliver (true positives + ~2% false
positives) pays the exact anti-join shuffle.

Unlike the sketches in ``operators/sketches.py`` (whose ESTIMATES must
hash-match the DuckDB oracle, forcing the shared engine-portable md5),
the Bloom stage is hash-invariant in the result: any hash yields zero
false negatives, so ``bloom_anti_join`` equals a plain SQL ANTI JOIN
bit-for-bit regardless — which is exactly what the driver's value-hash
compare proves. That frees the hot path to use ``xxhash64``, the
cheapest JVM-side hash (measured ~5x cheaper than one md5+conv at
sf0.1; the md5 chain cost ~0.6 s per probe conjunct on 600 k rows
because codegen does not CSE across filter conjuncts — three md5
evaluations, not one).

Why not Spark's built-in ``DataFrameStatFunctions.bloomFilter``: it
returns an opaque JVM object, not a plan-visible constant the word-merge
/ probe tests (and a future DataFrame-persisted filter) can reason
about.

Layout: k disjoint log2(m)-bit windows of the 64-bit xxhash (same
disjoint-window trick as the count-min sketch — a small-multiplier
permutation family would preserve low-bit collisions across all k
probes). Windows are taken with an unsigned shift (xxhash64 is signed);
words are 32-bit so ``1 << bit`` never touches the int64 sign bit.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

WORD_BITS = 32
# k hash probes into an m-bit table; k * log2(m) = 48 bits of the
# 64-bit hash, and m / WORD_BITS = 2048 words
BLOOM_K = 3
BLOOM_M = 1 << 16
_BLOOM_BITS = (BLOOM_M - 1).bit_length()


def _hash64(value: Column) -> Column:
    # cast to string so build and probe sides hash the same bytes for
    # the same value (xxhash64 hashes ints and strings differently).
    # CONTRACT: both sides must be the SAME TYPE — different numeric
    # types can render differently ('1' vs '1.50' for values an
    # equi-join would compare EQUAL under implicit casts), which would
    # be a Bloom false NEGATIVE; bloom_anti_join enforces the type
    # equality up front
    return F.xxhash64(value.cast("string"))


def _positions(h: Column) -> list[Column]:
    return [
        F.shiftrightunsigned(h, j * _BLOOM_BITS).bitwiseAND(F.lit(BLOOM_M - 1))
        for j in range(BLOOM_K)
    ]


def bloom_build(existing: DataFrame) -> list[int]:
    """Build the filter of existing.o_orderkey driver-side: a dense list of
    m/32 words.

    One scan of the existing snapshot, one map-side-combined shuffle of
    at most m/32 = 2048 (word_idx, partial-or) groups, then a 2048-row
    collect. The result is small enough (8 KB) to inline into the probe
    plan as a literal — the probe stage then needs no join at all. Word
    tables MERGE across snapshots with elementwise OR.
    """
    h = _hash64(F.col("o_orderkey"))
    pos = F.explode(F.array(*_positions(h))).alias("pos")
    words = (
        existing.select(pos)
        .select(
            # log2(WORD_BITS) derived, not a magic 5: a future word-size
            # change must move build and probe addressing TOGETHER
            F.shiftright(F.col("pos"), WORD_BITS.bit_length() - 1).alias("word_idx"),
            # python-side shiftleft only takes a literal shift; the SQL
            # builtin accepts a column
            F.call_function(
                "shiftleft",
                F.lit(1),
                F.col("pos").bitwiseAND(F.lit(WORD_BITS - 1)).cast("int"),
            ).alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    dense = [0] * (BLOOM_M // WORD_BITS)
    for r in words:
        dense[r["word_idx"]] = r["word"]
    return dense


def pack_bitmap(words: list[int]) -> bytes:
    """Little-endian byte packing: global bit b lives at byte b//8,
    in-byte position b%8 — so a 32-bit word's bits land contiguously."""
    # words arrive as signed 32-bit ints (bit 31 = sign bit in the agg)
    mask = (1 << WORD_BITS) - 1
    return b"".join(
        (w & mask).to_bytes(WORD_BITS // 8, "little") for w in words
    )


def maybe_contains(value: Column, words: list[int]) -> Column:
    """Boolean column: value possibly in the set (never a false negative).

    Pure whole-stage-codegen expression over a SINGLE binary literal —
    the 100 TB probe is map-only: no shuffle, no join, no Python. (A
    2048-element ``array(lit, ...)`` expression tree works too but costs
    seconds of analysis + codegen per query; one 8 KB BinaryType literal
    is one plan node.)
    """
    if len(words) != BLOOM_M // WORD_BITS:
        # a short word list indexes past the bitmap: substring
        # returns empty binary, conv('') is NULL, and the NULL
        # conjunction silently drops rows from BOTH bloom_anti_join
        # branches — data loss with no exception
        raise ValueError(
            f"bitmap has {len(words)} words but m={BLOOM_M} needs "
            f"{BLOOM_M // WORD_BITS}: build and probe must share m"
        )
    bitmap = F.lit(bytearray(pack_bitmap(words)))
    h = _hash64(value)
    cond = None
    for p in _positions(h):
        byte = F.conv(
            F.hex(F.substring(bitmap, (F.shiftright(p, 3) + 1).cast("int"), 1)),
            16,
            10,
        ).cast("int")
        # python-side shiftright/getbit only take literal positions; the
        # SQL builtin accepts a column
        bit_set = F.call_function(
            "shiftright", byte, p.bitwiseAND(F.lit(7)).cast("int")
        ).bitwiseAND(F.lit(1)) == F.lit(1)
        cond = bit_set if cond is None else (cond & bit_set)
    return cond


_BUILD_CACHE: dict[str, list[int]] = {}
_BUILD_CACHE_MAX = 32


def _snapshot_fingerprint(df: DataFrame) -> str:
    """Cheap content fingerprint of the files backing a DataFrame: the
    sorted input-file listing (parquet/ORC files are immutable once
    written, so the listing names the snapshot). Falls back to empty for
    non-file-backed frames (in-memory test data), where the caller's
    explicit key is the only identity."""
    try:
        files = df.inputFiles()
    except Exception:  # pragma: no cover - defensive; API is stable
        return ""
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(f.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()[:16]


def bloom_build_cached(
    existing: DataFrame,
    cache_key: str,
) -> list[int]:
    """bloom_build memoized by snapshot key + backing-file fingerprint.

    A filter describes an immutable existing-keys snapshot; production
    builds it once per snapshot and reuses it across every import run
    against that snapshot (rebuilding per query would charge the full
    build scan to each of them). The caller names the snapshot
    (path + predicate) via cache_key; the input-file fingerprint guards
    against the snapshot under the same name changing within a driver
    process (ADVICE r1) — a grown snapshot re-keys and rebuilds instead
    of serving a stale filter that would pass new keys as definitely-new.
    The cache is FIFO-bounded so long-lived drivers cannot leak filters.
    """
    kk = f"{cache_key}|{_snapshot_fingerprint(existing)}|o_orderkey"
    if kk not in _BUILD_CACHE:
        if len(_BUILD_CACHE) >= _BUILD_CACHE_MAX:
            _BUILD_CACHE.pop(next(iter(_BUILD_CACHE)))
        _BUILD_CACHE[kk] = bloom_build(existing)
    return _BUILD_CACHE[kk]


def bloom_anti_join(
    records: DataFrame,
    existing: DataFrame,
    cache_key: str | None = None,
    n_existing: int | None = None,
    broadcast_max_existing: int = 4_000_000,
) -> DataFrame:
    """Exact anti-join of ``records.l_orderkey`` against
    ``existing.o_orderkey`` with a Bloom pre-filter on the records side.

    Result is IDENTICAL to ``records.join(existing, ..., "left_anti")``
    (Bloom filters have no false negatives): definitely-new rows pass
    map-side; only maybe-existing rows (true hits + ~(1-e^{-kn/m})^k
    false positives, k = BLOOM_K, m = BLOOM_M) reach the shuffle for the
    exact check.

    DETERMINISM PRECONDITION: the two output branches are independent
    scans of ``records`` — a NON-deterministic records plan (sample(),
    rand()-derived columns, a directory mutating between scans) can
    lose or duplicate rows across the branches, which a single-scan
    left_anti cannot. Persist ``records`` first (or pass a
    deterministic plan) when that applies; the pipeline's caller does
    (the F4 path probes the persisted normalized frame).

    Cost honesty: the two filter branches are independent subtrees
    under the union, so an UNCACHED records input is SCANNED TWICE.
    The win is avoiding the anti-join SHUFFLE of the definitely-new
    majority — for shuffle-bound pipelines (wide rows, most records
    new) that dominates; for a scan-bound narrow input, cache/persist
    the records first or use the plain left_anti. Key columns must be
    the same type on both sides (see _hash64) — enforced here.

    Size dispatch (r15 opt round, guide §3.1 — pick the strategy
    deliberately): when the caller declares the existing side small
    enough to broadcast (``n_existing`` <= ``broadcast_max_existing``,
    default 4M keys ~ 32 MB of longs), the Bloom filter buys nothing —
    a broadcast anti-join already shuffles zero records bytes, and the
    per-row hash-table lookup costs about what the k-probe does, while
    scanning records ONCE instead of twice (measured 1.16 -> 0.40 s on
    the 600k-row catalog query). The Bloom two-branch shape remains the
    route for existing sides past broadcast size — the regime it
    exists for (guide §3.2). Both routes return the same rows (Bloom
    filters have no false negatives and the branch union IS the
    anti-join); pinned by the dispatch-equality test.

    ``n_existing`` is an upper bound on the existing side's key count,
    not an exact count: a caller may pass the row count of the table
    before its filters. An over-count can only route a broadcast-sized
    side to the Bloom path, never broadcast more keys than declared.
    """
    rt = records.schema["l_orderkey"].dataType
    et = existing.schema["o_orderkey"].dataType
    if rt != et:
        raise ValueError(
            "bloom_anti_join key types must match: records.l_orderkey "
            f"is {rt.simpleString()}, existing.o_orderkey is {et.simpleString()} "
            "— different types can string-render the same value "
            "differently and turn a Bloom hit into a false negative"
        )
    if n_existing is not None and int(n_existing) <= int(
        broadcast_max_existing
    ):
        return records.join(
            F.broadcast(
                existing.select(F.col("o_orderkey").alias("l_orderkey")).distinct()
            ),
            on="l_orderkey",
            how="left_anti",
        )
    if cache_key is not None:
        words = bloom_build_cached(existing, cache_key)
    else:
        words = bloom_build(existing)
    maybe = maybe_contains(F.col("l_orderkey"), words)
    definite_new = records.filter(~maybe)
    needs_check = records.filter(maybe).join(
        existing.select(F.col("o_orderkey").alias("l_orderkey")).distinct(),
        on="l_orderkey",
        how="left_anti",
    )
    return definite_new.unionByName(needs_check)
