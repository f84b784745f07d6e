"""Similarity search over embedding columns (array<float>).

- `cosine_topk`: brute-force exact top-k — the correctness baseline.
  Query side is broadcast (it's the small side by construction), so the
  plan is a broadcast nested-loop + per-query top-k: no shuffle of the
  corpus, scales linearly with corpus size per query.
- `ivf_topk`: IVF-style partitioned search — candidates restricted to the
  query's cell (here the precomputed `label` column stands in for the
  coarse quantizer's assignment; at 100 TB the cell id comes from a
  k-means fit and the corpus is PARTITIONED BY cell on disk, so a probe
  reads only its cells' files — partition pruning does the work).
- `hyperplane_lsh_buckets`: random-hyperplane LSH bucketing with
  deterministic pseudo-planes derived from the shared md5 hash — the
  shuffle-free approximate path when no index exists.

Dot products run through `F.aggregate`/`zip_with` on DOUBLE — JVM-side,
sequential summation (bit-identical to the DuckDB oracle's
list_inner_product over DOUBLE[]).

Size dispatch. Seven operators keep a numpy "matmul seam" beside their
exact Catalyst path: the cell assignment (`_cell_column`), `kmeans_fit`,
`ivf2_fit` and `ivf2_assign` (which share one), `ivf_topk`, `semdedup`
and `cosine_neardup_pairs`. One rule picks the path (`_past_oracle`): the
seam runs only when the caller passes ``n_rows`` and it exceeds
EXACT_MAX_ROWS. An undeclared size takes the exact path; no operator
counts its input to decide. The exact path is the one the DuckDB
oracles check at sf0.001/sf0.01; the seams are checked against the
oracles at sf0.1 and against the exact path by parity tests. At those
scales the per-pair HOF dot re-enters the interpreter per element,
while a seam scores a whole cell or batch in one BLAS call.

The seams share one numpy kernel: valid rows stacked per vector length
(`_stack_valid`, `_by_length` — a cross-length pair has a NULL dot on
the Catalyst path, because zip_with pads the shorter side), the
|0| -> 1 norm guard (`_safe_norms`, safe_norm_col's rule) and
round-half-away-from-zero at 6 dp (`_round6`, F.round's rule). What
still separates them from Catalyst is measure-zero on real corpora:
BLAS sums in a different order (last ulp, collapsed by the rounding
unless it lands on a tie), `_round6` rounds the binary double where
F.round rounds its shortest decimal repr, a NaN score crosses Arrow as
NULL and a NULL vector element reads as NaN.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from uc_historic_data_importer_spark.operators.frames import ensure_parallel


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def safe_norm_col(a: Column) -> Column:
    """norm with the |0| -> 1 guard (cos vs a zero vector = 0, never
    0/0 = NaN — Spark orders NaN greatest, so an unguarded NaN
    similarity would PASS any >= threshold filter). Matches
    _safe_norms' guard and the oracles' CASE WHEN sqrt(..) = 0
    convention."""
    n = norm_col(a)
    return F.when(n == 0.0, F.lit(1.0)).otherwise(n)


# corpus rows past which a size-dispatched operator takes its numpy seam
EXACT_MAX_ROWS = 1000


def _past_oracle(n_rows: int | None) -> bool:
    """The one dispatch rule (module docstring): the seam runs only for
    a declared corpus larger than EXACT_MAX_ROWS."""
    return n_rows is not None and n_rows > EXACT_MAX_ROWS


def _stack_valid(vals: list, dim: int):
    """(positions, V): the rows of ``vals`` that are vectors of length
    ``dim``, stacked as float64. NULL and other-length rows are left
    out; the Catalyst paths give them the -1 cell or a NULL similarity.
    V is None when no row qualifies."""
    import numpy as np

    ok = np.flatnonzero([v is not None and len(v) == dim for v in vals])
    if not len(ok):
        return ok, None
    return ok, np.asarray([np.asarray(vals[i], dtype=np.float64) for i in ok])


def _by_length(vals: list):
    """_stack_valid for each distinct length of the non-NULL vectors,
    shortest first: one matmul per length."""
    for d in sorted({len(v) for v in vals if v is not None}):
        yield _stack_valid(vals, d)


def _safe_norms(M):
    """Row norms of M with the |0| -> 1 guard."""
    import numpy as np

    n = np.sqrt((M * M).sum(axis=1))
    n[n == 0.0] = 1.0
    return n


def _round6(a):
    """_round_away's rule at 6 dp over a numpy array: ties go away from
    zero, as in F.round and DuckDB's round (numpy's own rounding goes to
    the even digit)."""
    import numpy as np

    return np.copysign(np.floor(np.abs(a) * 1e6 + 0.5), a) / 1e6


def _cell_keys(V, C):
    """_cell_expr's key of every (row of V, centroid of C) pair:
    round6(dot(v, c) / |c|) with the |0| -> 1 guard."""
    return _round6((V @ C.T) / _safe_norms(C))


def _unit_gram(V):
    """Every pairwise cosine of V's rows, unrounded: one matmul of the
    guarded unit rows."""
    U = V / _safe_norms(V)[:, None]
    return U @ U.T


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
) -> DataFrame:
    """Exact brute-force top-k: (query_id, neighbor_id, cos_sim, rank).

    Norms are precomputed per side BEFORE the join (1 dot product per
    pair instead of 3 — same double values, sqrt is deterministic).
    Similarity is rounded BEFORE ranking so cross-engine float noise
    cannot flip ranks; ties break on neighbor id ascending."""
    q = F.broadcast(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
            norm_col(F.col("embedding")).alias("q_norm"),
        )
    )
    c = ensure_parallel(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        norm_col(F.col("embedding")).alias("c_norm"),
    )
    sims = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot_col(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _ivf_topk_arrow(
    corpus: DataFrame,
    cell_col: str,
) -> DataFrame:
    """ivf_topk's seam: one applyInPandas group per cell scores every
    within-cell cosine with one matmul per vector length and ranks
    in-process (profiled: the pair-join's HOF dot cost 10+ CPU-seconds
    per sf0.1 search).

    Rank semantics replicate the exact path: cos desc with NaN FIRST
    (Spark orders NaN greatest), NULL sims (a NULL, empty or
    other-length vector on either side) LAST, ties by neighbor id
    ascending, rank 1 only. Unlike the other seams the cosine divides by
    the raw norms, as the exact path does: where that path divides by a
    zero norm, this one scores NaN. A NaN cos_sim value crosses Arrow as
    NULL; its rank is still the exact path's."""
    import numpy as np
    import pandas as pd

    sel = (
        ensure_parallel(corpus)
        .select(
            F.col("vec_id").alias("vec_id"),
            F.col("embedding").cast("array<double>").alias("_v"),
            F.col(cell_col).alias(
            "cell"
        ),
        )
        # the exact path's inner equi-join on cell drops NULL-cell rows;
        # groupBy would form a NULL group and emit pairs among them
        .filter(F.col("cell").isNotNull())
    )
    id_t = sel.schema["vec_id"].dataType.simpleString()
    cell_t = sel.schema["cell"].dataType.simpleString()
    schema = (
        f"query_id {id_t}, cell {cell_t}, neighbor_id {id_t}, "
        "cos_sim double, rank int"
    )

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame(
                {"query_id": [], "cell": [], "neighbor_id": [],
                 "cos_sim": [], "rank": []}
            )
        # id order makes argmax's first max the lowest neighbor id
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        S = np.full((m, m), np.nan)  # NaN crosses Arrow as NULL
        # ordering key under desc: a NaN cosine first, a NULL one last
        K = np.full((m, m), -np.inf)
        for ok, V in _by_length(list(pdf["_v"])):
            if V.shape[1] == 0:
                continue  # 0/0 on the exact path: a NULL similarity
            n = np.sqrt((V * V).sum(axis=1))
            s = _round6((V @ V.T) / np.outer(n, n))
            S[np.ix_(ok, ok)] = s
            K[np.ix_(ok, ok)] = np.where(np.isnan(s), np.inf, s)
        np.fill_diagonal(K, -np.inf)  # self-pair excluded
        best = K.argmax(axis=1)
        if best[0] == 0:  # row 0 with only NULL candidates
            best[0] = 1
        return pd.DataFrame(
            {
                "query_id": ids,
                "cell": pdf["cell"].iloc[0],
                "neighbor_id": ids[best],
                "cos_sim": S[np.arange(m), best],
                "rank": 1,
            }
        )

    return sel.groupBy("cell").applyInPandas(per_cell, schema=schema)


def ivf_topk(
    corpus: DataFrame,
    cell_col: str = "label",
    n_rows: int | None = None,
) -> DataFrame:
    """IVF search: each vector's nearest neighbor within its quantizer cell.

    The equi-join on cell id replaces the cross join — each cell's
    candidate set is independent, so the shuffle is on the (uniform)
    cell id and partition pruning applies when the corpus is stored
    partitioned by cell. Size-dispatched on ``n_rows`` (module
    docstring); the seam is _ivf_topk_arrow."""
    if _past_oracle(n_rows):
        return _ivf_topk_arrow(corpus, cell_col)
    corpus = ensure_parallel(corpus)
    a = corpus.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        norm_col(F.col("embedding")).alias("q_norm"),
        F.col(cell_col).alias("cell"),
    )
    b = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        norm_col(F.col("embedding")).alias("c_norm"),
        F.col(cell_col).alias("cell"),
    )
    sims = (
        a.join(b, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "cell",
            "neighbor_id",
            F.round(
                dot_col(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 1)


# hyperplanes of the sign-LSH bucket; the embedding_lsh_buckets oracle
# unrolls the same count
LSH_PLANES = 8


def _md5_coeff(key: str) -> float:
    """((md5 of key) % 1000)/1000 - 0.5: a deterministic plane
    coefficient in [-0.5, 0.5); the DuckDB oracles interpolate the same
    floats as literals."""
    h = int(hashlib.md5(key.encode()).hexdigest()[:15], 16)
    return (h % 1000) / 1000.0 - 0.5


def hyperplane_coeffs(dim: int) -> list[list[float]]:
    """hyperplane_lsh_buckets' LSH_PLANES planes over ``dim``
    elements: coeff(p, i) = _md5_coeff("p:i")."""
    return [[_md5_coeff(f"{p}:{i}") for i in range(dim)] for p in range(LSH_PLANES)]


def hyperplane_lsh_buckets(corpus: DataFrame) -> DataFrame:
    """Sign-LSH bucket id per vector: bit p = (dot(v, plane_p) > 0) for
    LSH_PLANES planes.

    Pseudo-random plane coefficients are deterministic integer-derived
    values in [-0.5, 0.5): coeff(p, i) = ((md5_i64 of "p:i") % 1000)/1000
    - 0.5 — reproducible in any engine, no RNG state to ship. Vectors in
    the same bucket are near-duplicate candidates (cos-LSH property)."""
    dim_probe = corpus.select(F.size(F.col("embedding")).alias("d")).first()
    if dim_probe is None:
        # r9 review: an empty corpus crashed with TypeError int(None);
        # bucketing nothing is well-defined — return the empty
        # (vec_id, bucket) frame with the normal schema
        return corpus.select(
            F.col("vec_id").alias("vec_id"),
            F.lit(0).cast("long").alias("bucket"),
        ).limit(0)
    if dim_probe["d"] is None or dim_probe["d"] < 0:
        raise ValueError(
            "hyperplane_lsh_buckets: cannot infer embedding dim from "
            "'embedding' (NULL first embedding)"
        )
    planes = hyperplane_coeffs(int(dim_probe["d"]))
    # SQL-text bucket expression over a pre-cast alias — one parse
    # instead of LSH_PLANES * dim Column operators (see _plane_dot_sql)
    return corpus.select(
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("_E"),
    ).select("vec_id", _lsh_bucket_expr(planes).alias("bucket"))


def _cell_expr(centroids: list[list[float]]) -> Column:
    """Nearest-centroid argmax as a pure column expression (no join).

    The comparison key is dot(v, c) / |c| — NOT the full cosine: |v| is
    a positive constant across centroids, so dropping it changes no
    argmax result and removes the per-centroid interpreted self-dot.
    The dot itself is UNROLLED into element_at multiply-adds rather
    than a HOF aggregate (a lambda re-enters the interpreter per
    ELEMENT; the flat literal chain evaluates as one expression tree
    and, in a plain Project, compiles — measured round 6: 0 codegen
    fallbacks through 1,024 terms in Project, WITH or without the size
    guard seed). Keys are rounded BEFORE the argmax and ties break to
    the LOWEST cell id (array_position finds the FIRST max); the
    oracle rounds the identical key, so the assignment is bit-stable
    across engines.

    Codegen reality, measured (round 6, Spark 4.1):
    - plain Project (the assign_cells shape): compiles to >= 1,024
      terms — whole-stage codegen splits the flat Add chains into
      sub-methods.
    - Project + any predicate on the computed column WITHOUT a
      Generate barrier: pushdown clones the tree into the Filter and
      the fused stage blows Janino's 64 KB method limit from ~640
      terms — the pathology assign_cells' non-nullable coalesce and
      semdedup's explode barrier exist to prevent.
    - INSIDE a Generate (the explode(array(cell)) barrier shape):
      never compiles — Generate cannot split a single consume method,
      so every size from 128 terms up falls back to interpreted
      evaluation. The barrier trades a compiled Project for an
      interpreted Generate; that trade is confined to dispatch paths
      bounded at EXACT_MAX_ROWS, where interpreted eval
      of ~640 terms over <= 1k rows is milliseconds.

    The argmax is array_position(scores, array_max(scores)), NOT a
    chain of nested when(score > best)-folds: the fold duplicates the
    whole accumulated score tree at every step (O(2^k) expression
    size), which overwhelms even interpreted evaluation. The array
    form keeps each score expression exactly once, so k x dim stays
    linear.

    A vector whose length differs from the centroid dim — in EITHER
    direction — yields NULL (the -1 sentinel after assign_cells'
    coalesce). Short vectors already did via try_element_at's NULL
    terms; over-length vectors previously got a real cell from their
    first `dim` elements while the numpy path (_stack_valid's
    len == dim filter) rejected them. The guard is the ACCUMULATOR SEED
    of each dot chain — `when(size(v) = dim, 0.0)` (NULL otherwise)
    poisons every score, so array_max and array_position go NULL and
    the sentinel falls out — NOT an outer CASE WHEN around the argmax:
    codegen cannot split expressions inside a conditional branch, so
    wrapping the whole k x dim tree in one CASE pushes the single
    generated method past Janino's 64 KB limit and silently drops the
    stage to interpreted mode (observed: ann_ivf_topk 1 s -> 12 s at
    sf0.01 with the wrapper). The seed form adds k two-node whens and
    keeps the flat Add chains splittable."""
    v = F.col("embedding").cast("array<double>")
    dim = len(centroids[0])
    size_guard = F.when(F.size(v) == dim, F.lit(0.0))
    scores: list[Column] = []
    for c in centroids:
        cn = math.sqrt(sum(float(x) * float(x) for x in c)) or 1.0
        dot: Column = size_guard
        for i, x in enumerate(c):
            # try_element_at, not element_at: a short/null vector must
            # yield NULL scores -> the -1 sentinel, not an ANSI-mode
            # ArrayIndexOutOfBounds that kills the stage (same contract
            # as pq._dot_lit)
            dot = dot + F.try_element_at(v, F.lit(i + 1)) * F.lit(float(x))
        scores.append(F.round(dot / F.lit(cn), 6))
    arr = F.array(*scores)
    return (F.array_position(arr, F.array_max(arr)) - 1).cast("int")


# the unrolled-argmax term budget. Its job is twofold: (a) keep every
# driver-oracle scale (sf0.01: k=10 x 64 = 640) on the bit-exact
# expression path, (b) bound the cost of that path where it runs
# interpreted — under the explode barrier (semdedup's small branch)
# Generate cannot split the expression and evaluation is interpreted
# at EVERY size (see _cell_expr), and in a plain Project the compiled
# evaluation still costs O(k x dim) per row (observed: k=40 x dim=64
# = 2,560 terms ran a 2k-row assignment in ~15 s vs ~1 s vectorized;
# k=400 OOMed the JVM on repeated giant codegen). Past the budget the
# assignment switches to the Arrow-vectorized matmul path, one BLAS
# call per batch regardless of k.
_CELL_EXPR_MAX_TERMS = 1024


def _cell_udf_column(centroids: list[list[float]]) -> Column:
    """Nearest-centroid assignment as an Arrow-batched numpy matmul —
    the LARGE-k scale path (FAISS's shape: scores = V @ C.T / |c|,
    argmax per row). One broadcast k x dim float64 matrix rides the
    cloudpickled UDF; per batch the whole assignment is one BLAS call,
    so cost is linear in rows regardless of k. Key rounding and the
    first-max tie-break are _cell_expr's; malformed (wrong-dim/null)
    vectors get the same -1 sentinel as assign_cells."""
    import numpy as np
    import pandas as pd  # noqa: F401 — pandas_udf batch type

    C = np.asarray(centroids, dtype=np.float64)
    dim = C.shape[1]

    @F.pandas_udf("int")
    def assign(vecs):  # pd.Series of list[float]
        out = np.full(len(vecs), -1, dtype=np.int32)
        ok, V = _stack_valid(list(vecs), dim)
        if V is not None:
            out[ok] = _cell_keys(V, C).argmax(axis=1)  # first max
        return pd.Series(out)

    return assign(F.col("embedding").cast("array<double>"))


def _cell_column(
    centroids: list[list[float]],
    n_rows: int | None = None,
) -> Column:
    """Dispatch the cell assignment: the unrolled literal argmax
    (whole-stage codegen, oracle-exact) while k x dim fits the codegen
    budget and the corpus is not declared past oracle scale, the Arrow
    matmul otherwise. Both are non-nullable (-1 sentinel) so pushdown
    never clones the tree into a Filter (see assign_cells).

    The size rule applies even when k x dim fits the budget because the
    ivf2 build's cost was DRIVER ANALYSIS, not evaluation: a k*dim
    literal argmax tree embedded in every join branch of the fine fit
    re-analyzes per localCheckpoint (at k1=10 x dim=64, ~10 s of the
    15 s ann_ivf2_topk build); the UDF node is O(1) tree size."""
    terms = len(centroids) * len(centroids[0])
    if terms <= _CELL_EXPR_MAX_TERMS and not _past_oracle(n_rows):
        return F.coalesce(_cell_expr(centroids), F.lit(-1))
    return F.coalesce(_cell_udf_column(centroids), F.lit(-1))


def assign_cells(
    corpus: DataFrame,
    centroids: list[list[float]],
    keep_cols: tuple[str, ...] = (),
    n_rows: int | None = None,
) -> DataFrame:
    """IVF coarse-quantizer assignment: nearest centroid by cosine.

    Centroids ship as literal arrays (the broadcast-small side — K x dim
    doubles), so assignment is a single narrow map over the corpus: no
    join, no shuffle, trivially parallel at any corpus size. At 100 TB
    this is the write-path `PARTITIONED BY (cell)` column that makes
    `ivf_topk` partition-pruned.

    The cell is coalesce(argmax, -1), which matters for PLAN shape,
    not values: a nullable cell makes every downstream equi-join
    inject an isnotnull(cell) null-filter, and predicate pushdown
    clones the whole k x dim argmax tree into that filter — doubling
    the per-row cost and (at k=4, dim=64) pushing the fused
    Project+Filter stage past Janino's 64 KB method limit into
    interpreted fallback. The non-nullable coalesce means Catalyst
    never generates the isnotnull at all, so the expression is
    evaluated exactly once and the stage compiles. -1 can only appear
    for a malformed (short/null) vector that the old path would have
    silently dropped at the join; fixed-dim corpora never produce
    it.

    ``keep_cols`` carries extra columns (e.g. the vector itself)
    through the assignment so a downstream within-cell search does not
    need a join back onto the corpus. ``n_rows`` (optional, declared
    by the caller) routes past-oracle-scale corpora to the Arrow
    matmul even under the codegen term budget — see _cell_column."""
    return corpus.select(
        F.col("vec_id").alias("vec_id"),
        _cell_column(centroids, n_rows=n_rows).alias("cell"),
        *[F.col(c) for c in keep_cols],
    )


# Driver/broadcast ceiling for the quantizer fit + assignment: the fit's
# per-iteration collect folds k*dim (cell, dim, sum, n) rows on the
# driver, and _cell_column ships k*dim centroid doubles into every task
# as a broadcast literal. Both are linear in k*dim and independent of
# corpus size — fine at thousands of cells, prohibitive at millions
# (billions of vectors want k ~ sqrt(N)). 4M doubles = ~32 MB of
# centroid payload, comfortably under Spark's broadcast/codegen
# thresholds; past it, use ivf2_fit — a two-level quantizer whose fine
# centroids stay distributed, the declared extreme-scale route (r9
# verdict).
KMEANS_MAX_DRIVER_FLOATS = 4_000_000

# kmeans_fit runs its dim-probe job (budget check BEFORE the take(k)
# init collect) only when k exceeds this: at or under it, take(k) is
# bounded by _PROBE_FREE_K vectors, and any single vector big enough to
# blow the budget within that bound would blow the probe's own take(1)
# identically — so the probe adds a Spark job without adding safety
# (ADVICE r11).
_PROBE_FREE_K = 64


def _fit_partials_np(
    corpus: DataFrame,
    centroids: list[list[float]],
) -> DataFrame:
    """One fit iteration's (cell, dim, sx, n) partials via an
    Arrow-batched mapInPandas matmul — kmeans_fit's seam, in place of
    the _cell_column + posexplode shape. Assignment is _cell_keys'
    argmax: ties to the LOWEST cell (the array_position rule), malformed
    rows (None / wrong dim) excluded — they fold into the ignored -1
    sentinel cell on the Catalyst side. Per batch the emitted state is
    k x dim rows, so the downstream groupBy moves partials, never the
    corpus; and no k*dim expression tree ever reaches the analyzer (at
    k=400 x dim=64 the Catalyst tree's per-job ANALYSIS, not
    evaluation, dominated the fit)."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    k_n, dim = C.shape

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            _, V = _stack_valid(pdf["embedding"].tolist(), dim)
            if V is None:
                continue
            cells = _cell_keys(V, C).argmax(axis=1)
            sums = np.zeros((k_n, dim), dtype=np.float64)
            np.add.at(sums, cells, V)
            counts = np.bincount(cells, minlength=k_n)
            live = np.flatnonzero(counts)
            yield pd.DataFrame(
                {
                    "cell": np.repeat(live, dim).astype("int32"),
                    "dim": np.tile(np.arange(dim, dtype="int32"), len(live)),
                    "sx": sums[live].reshape(-1),
                    "n": np.repeat(counts[live], dim).astype("int64"),
                }
            )

    return corpus.select("embedding").mapInPandas(
        fn, schema="cell int, dim int, sx double, n long"
    )


def kmeans_fit(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 3,
    max_driver_floats: int = KMEANS_MAX_DRIVER_FLOATS,
    n_rows: int | None = None,
) -> list[list[float]]:
    """Deterministic spherical k-means fit for the IVF quantizer.

    Init = the k lowest-id vectors (deterministic, no RNG to ship); each
    round is one narrow map (cell argmax inline — no self-join) feeding
    one shuffle of (cell, dim, partial sums) via posexplode + groupBy —
    driver state is K x dim regardless of corpus size. Per-dim means are
    rounded half-away-from-zero at 12 dp so an external oracle
    can reproduce the exact centroid doubles (Spark partial-agg sum
    order is nondeterministic at the last bits; the round collapses it).
    Empty / all-zero cells keep their previous centroid. `iters` is
    small and fixed: the quantizer needs balanced-ish cells, not
    convergence proofs.

    k CEILING: the driver fold and the assignment's broadcast-literal
    dispatch are k*dim-sized; requesting k*dim beyond
    ``max_driver_floats`` raises rather than silently building an
    OOM-scale plan — use ivf2_fit (a small coarse kmeans_fit plus
    distributed fine centroids) for corpora that want more cells than
    the budget allows.

    Size-dispatched on ``n_rows`` (module docstring): past oracle scale
    each round's partials come from _fit_partials_np instead of the
    k*dim _cell_column tree, whose per-job ANALYSIS (k=400 x dim=64 =
    25,600 terms, re-analyzed every round because the centroid literals
    change) dominated the sf1 fit. The 12 dp rounding of the means
    collapses the seam's different sum order, as it already must for
    Spark's own partial-agg order."""
    # probe dim with a single take(1) and enforce the budget BEFORE
    # take(k) executes (ADVICE r10): in the exact regime the guard
    # targets (k*dim >> budget) the k-row collect itself is the OOM,
    # so raising after it would be raising too late. GATED on k
    # (ADVICE r11): for k <= _PROBE_FREE_K the take(k) collect is at
    # most _PROBE_FREE_K vectors — within that bound the only way
    # k*dim blows the budget is a single vector of ~budget/k floats,
    # which the probe's own take(1) would collect just as fatally, so
    # the probe buys no safety and only costs every tiny fit (the
    # oracle-scale k1=10 coarse fits) an extra Spark job. The
    # post-take(k) re-check below still enforces the budget exactly.
    if k > _PROBE_FREE_K:
        probe = corpus.select("embedding").first()
        if probe is None:
            raise ValueError("kmeans_fit: empty corpus")
        pv = probe["embedding"]
        if pv is None:
            raise ValueError(
                "kmeans_fit: first embedding is NULL; filter null "
                "embedding rows before fitting"
            )
        if k * len(pv) > max_driver_floats:
            raise ValueError(
                f"k*dim = {k}*{len(pv)} exceeds the driver/broadcast "
                f"budget of {max_driver_floats} floats; use ivf2_fit "
                "(two-level quantizer, distributed fine centroids)"
            )
    init_rows = corpus.select("embedding", "vec_id").orderBy("vec_id").take(k)
    if not init_rows:
        # a clear contract error instead of an opaque IndexError on
        # centroids[0] (ADVICE r11)
        raise ValueError("kmeans_fit: empty corpus")
    if any(r["embedding"] is None for r in init_rows):
        raise ValueError(
            "kmeans_fit: NULL embedding among the k lowest-id init "
            "vectors; filter null embedding rows before fitting"
        )
    first = [[float(x) for x in r["embedding"]] for r in init_rows]
    if first and k * len(first[0]) > max_driver_floats:
        # mixed-dim corpora: the lowest-id row may be wider than the
        # probed row; re-check on the materialized init vectors too
        raise ValueError(
            f"k*dim = {k}*{len(first[0])} exceeds the driver/broadcast "
            f"budget of {max_driver_floats} floats; use ivf2_fit "
            "(two-level quantizer, distributed fine centroids)"
        )
    centroids = [_unit(c) for c in first]
    # a single-file corpus scans as ONE partition; the per-iteration
    # explode+aggregate is CPU-bound and must parallelize
    corpus = ensure_parallel(corpus)
    for _ in range(iters):
        if _past_oracle(n_rows):
            sums = (
                _fit_partials_np(corpus, centroids)
                .groupBy("cell", "dim")
                .agg(F.sum("sx").alias("sx"), F.sum("n").alias("n"))
                .collect()
            )
        else:
            sums = (
                corpus.select(
                    _cell_column(centroids).alias("cell"),
                    F.posexplode(F.col("embedding")).alias("dim", "x"),
                )
                .groupBy("cell", "dim")
                .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
        dim = len(centroids[0])
        acc: dict[int, list[float]] = {}
        for r in sums:
            acc.setdefault(int(r["cell"]), [0.0] * dim)[int(r["dim"])] = (
                _round_away(float(r["sx"]) / int(r["n"]))
            )
        centroids = [
            _unit(acc[j]) if j in acc and any(acc[j]) else centroids[j]
            for j in range(k)
        ]
    return centroids


def _fine_members_arrow(assigned: DataFrame, cents: DataFrame) -> DataFrame:
    """assign_fine's winner selection as a per-cell cogrouped numpy
    matmul — the seam of ivf2_fit and ivf2_assign. Scoring and tie
    semantics replicate the exact path: key = _cell_keys (one matmul
    per centroid length); winner = max key with ties to the LOWEST fine
    id (argmax's first max after sorting centroids by fine); NaN keys
    rank greatest (Spark's NaN ordering, encoded as +inf); invalid pairs
    (NULL vector or centroid, length mismatch -> NULL key on the exact
    path) rank last (encoded as -inf, so an all-invalid row takes the
    lowest fine — exactly where the exact path's all-NULL desc ordering
    puts it). Output is (vec_id, cell, fine) ONLY — the caller rejoins
    the member vectors JVM-side, because a vector element routed back
    THROUGH Arrow loses NaN-vs-NULL identity (pandas NaN-as-missing),
    which would silently clean the NaN-poisoned means the exact path
    produces. A true ±inf key is indistinguishable from the NaN/invalid
    sentinels."""
    import numpy as np
    import pandas as pd

    mem = assigned.select(
        "vec_id", "cell", F.col("embedding").cast("array<double>").alias("_v")
    )
    cen = cents.select(
        "cell", "fine", F.col("centroid").cast("array<double>").alias("_c")
    )
    id_t = mem.schema["vec_id"].dataType.simpleString()
    cell_t = mem.schema["cell"].dataType.simpleString()
    schema = f"vec_id {id_t}, cell {cell_t}, fine int"

    def per_cell(mdf: pd.DataFrame, cdf: pd.DataFrame) -> pd.DataFrame:
        if len(mdf) == 0 or len(cdf) == 0:
            return pd.DataFrame({"vec_id": [], "cell": [], "fine": []})
        cdf = cdf.sort_values("fine")
        mvals = list(mdf["_v"])
        K = np.full((len(mvals), len(cdf)), -np.inf)
        for cj, C in _by_length(list(cdf["_c"])):
            mi, V = _stack_valid(mvals, C.shape[1])
            if V is not None:
                K[np.ix_(mi, cj)] = _cell_keys(V, C)
        best = np.where(np.isnan(K), np.inf, K).argmax(axis=1)
        return pd.DataFrame(
            {
                "vec_id": mdf["vec_id"].to_numpy(),
                "cell": mdf["cell"].to_numpy(),
                "fine": cdf["fine"].to_numpy()[best].astype("int32"),
            }
        )

    return (
        mem.groupBy("cell")
        .cogroup(cen.groupBy("cell"))
        .applyInPandas(lambda mdf, cdf: per_cell(mdf, cdf), schema=schema)
    )


def ivf2_fit(
    corpus: DataFrame,
    coarse_centroids: list[list[float]],
    k2: int = 8,
    iters: int = 2,
    assigned: DataFrame | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Two-level IVF fine-quantizer fit with DISTRIBUTED centroids —
    the declared route past kmeans_fit's k*dim driver/broadcast
    ceiling (r9 verdict caveat #1).

    Level 1 (caller-provided ``coarse_centroids``, from kmeans_fit)
    stays a broadcast literal — k1 is small by design. Level 2 trains
    k1*k2 sub-centroids WITHOUT ever collecting them: centroids live in
    the returned DataFrame (cell, fine, centroid array<double>), each
    iteration is one distributed job for ALL cells at once (members
    join their cell's fine centroids →
    argmax → posexplode → per-(cell, fine, dim) means), and lineage is
    localCheckpoint-truncated per round. Total quantizer size k1*k2
    can exceed any driver budget because nothing k1*k2-sized ever
    crosses to the driver or into a broadcast.

    Math is BIT-IDENTICAL to kmeans_fit run per cell: init = the k2
    lowest-id member vectors of each cell (unit-normalized), the
    assignment key is round(dot(v, c) / |c|, 6) with ties to
    the lowest fine id (the _cell_expr rule), means round
    half-away-from-zero at 12 dp (F.round == DuckDB round ==
    _round_away), and empty / all-zero sub-cells keep their previous
    centroid. With k1=1 the fine fit IS kmeans_fit of the whole corpus
    — pinned against the same unrolled-SQL oracle as ann_ivf_build
    (ann_ivf2_build) and by TestIvf2's reduction test.

    Scale shape: each iteration shuffles (a) the member->centroid
    score join on the uniform cell key with k2-fold fan-out and (b)
    one posexplode aggregate of the winners — both linear in corpus
    size, state bounded by k1*k2*dim ROWS of a DataFrame, never a
    literal. iters is small and fixed, like kmeans_fit's.

    ``assigned`` (optional) is a precomputed coarse assignment —
    columns (vec_id, cell, embedding) from assign_cells with
    keep_cols=("embedding",) — so a caller that also runs ivf2_assign
    computes (and can persist / localCheckpoint) the corpus-sized
    coarse pass ONCE instead of once per stage (r11 verdict item 2:
    at 100 TB the coarse assignment is the expensive scan; in the
    bench build it was also re-analyzed per checkpoint round).
    ``n_rows`` threads the past-oracle-scale dispatch to
    assign_cells (see _cell_column)."""
    if k2 < 1 or iters < 0:
        raise ValueError("k2 must be >= 1 and iters >= 0")
    if assigned is None:
        assigned = assign_cells(
            corpus, coarse_centroids, keep_cols=("embedding",), n_rows=n_rows,
        )
    assigned = ensure_parallel(assigned)

    def unit_arr(c: Column) -> Column:
        n = F.sqrt(F.aggregate(c, F.lit(0.0), lambda a, x: a + x * x))
        n = F.when(n == 0.0, F.lit(1.0)).otherwise(n)
        return F.transform(c, lambda x: x / n)

    w_init = Window.partitionBy("cell").orderBy("vec_id")
    fine = (
        assigned.withColumn("_rn", F.row_number().over(w_init))
        .filter(F.col("_rn") <= k2)
        .select(
            "cell",
            (F.col("_rn") - 1).cast("int").alias("fine"),
            unit_arr(F.col("embedding")).alias("centroid"),
        )
        .localCheckpoint(eager=False)
    )

    def assign_fine(cents: DataFrame) -> DataFrame:
        c_norm = F.sqrt(
            F.aggregate(F.col("centroid"), F.lit(0.0), lambda a, x: a + x * x)
        )
        scored = assigned.join(cents, "cell").select(
            "vec_id",
            "cell",
            "fine",
            F.col("embedding"),
            F.round(
                dot_col(F.col("embedding"), F.col("centroid"))
                / F.when(c_norm == 0.0, F.lit(1.0)).otherwise(c_norm),
                6,
            ).alias("_score"),
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.desc("_score"), F.asc("fine")
        )
        return (
            scored.withColumn("_best", F.row_number().over(w))
            .filter(F.col("_best") == 1)
            .select("vec_id", "cell", "fine", "embedding")
        )

    # size-dispatched (module docstring): the exact join+window path's
    # per-pair HOF dot made ~2M lambda re-entries per round at sf0.1
    for _ in range(iters):
        if _past_oracle(n_rows):
            # winners from the matmul seam, vectors rejoined JVM-side
            # (never routed through Arrow — see _fine_members_arrow)
            members = _fine_members_arrow(
                assigned, fine
            ).join(assigned.select("vec_id", "embedding"), "vec_id")
        else:
            members = assign_fine(fine)
        sums = (
            members.select(
                "cell", "fine", F.posexplode(F.col("embedding")).alias("dim", "x")
            )
            .groupBy("cell", "fine", "dim")
            .agg(
                F.round(
                    F.sum("x") / F.count(F.lit(1)), 12
                ).alias("mx")
            )
            .groupBy("cell", "fine")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "mx"))),
                    lambda s: s["mx"],
                ).alias("_mean")
            )
        )
        fine = (
            fine.join(sums, ["cell", "fine"], "left")
            .select(
                "cell",
                "fine",
                F.when(
                    F.col("_mean").isNull()
                    | ~F.exists(F.col("_mean"), lambda x: x != 0.0),
                    F.col("centroid"),
                )
                .otherwise(unit_arr(F.col("_mean")))
                .alias("centroid"),
            )
            .localCheckpoint(eager=False)
        )
    return fine


def ivf2_assign(
    corpus: DataFrame,
    coarse_centroids: list[list[float]],
    fine: DataFrame,
    keep_cols: tuple[str, ...] = (),
    assigned: DataFrame | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Two-level assignment: coarse cell by broadcast argmax (k1 small),
    fine id by a JOIN against the distributed centroid table — per
    vector the probe cost is k1 + k2 comparisons, not k1*k2, and the
    centroids never materialize driver-side. ``bucket`` = the composite
    (cell, fine) id as one long — feed it to ivf_topk(cell_col=
    'bucket') for two-level IVF search (partition-prune the corpus on
    it at 100 TB). Ties break (score desc, fine asc), the _cell_expr
    rule.

    ``assigned``/``n_rows``: same contract as ivf2_fit — pass the one
    shared coarse assignment (it must carry ``embedding`` plus every
    keep_cols column) so fit + assign pay the corpus-sized coarse pass
    once."""
    if assigned is None:
        assigned = assign_cells(
            corpus, coarse_centroids, keep_cols=("embedding",) + tuple(keep_cols),
            n_rows=n_rows,
        )
    # bucket stride = max fine id + 1, a broadcast one-row aggregate
    # (the repo's standing crossJoin pattern) — NOT a global window,
    # which would funnel every row through one partition
    k2n = F.broadcast(fine.agg((F.max("fine") + 1).alias("_k2n")))
    # size-dispatched (module docstring): winners from the per-cell
    # matmul, LEFT-rejoined from `assigned` so a vector whose coarse
    # cell has no fine centroids keeps its row with the fine = -1 /
    # bucket = -1 sentinel (the cogroup emits winners only for cells
    # with centroids)
    if _past_oracle(n_rows):
        winners = _fine_members_arrow(assigned, fine)
        return (
            assigned.join(winners.select("vec_id", "fine"), "vec_id", "left")
            .crossJoin(k2n)
            .select(
                "vec_id",
                "cell",
                F.coalesce(F.col("fine"), F.lit(-1)).alias("fine"),
                F.when(F.col("fine").isNull(), F.lit(-1).cast("long"))
                .otherwise(
                    F.col("cell").cast("long") * F.col("_k2n") + F.col("fine")
                )
                .alias("bucket"),
                *[F.col(c) for c in keep_cols],
            )
        )
    c_norm = F.sqrt(
        F.aggregate(F.col("centroid"), F.lit(0.0), lambda a, x: a + x * x)
    )
    # LEFT join: a vector assigned (outside the fit corpus) to a coarse
    # cell that was empty at fit time has no fine centroids — an inner
    # join would silently DROP it, breaking "assignment never drops
    # rows" (ADVICE r10). It keeps one row with fine = -1 / bucket = -1,
    # the assign_cells malformed-vector sentinel convention.
    scored = assigned.join(fine, "cell", "left").select(
        "vec_id",
        "cell",
        "fine",
        *[F.col(c) for c in keep_cols],
        F.round(
            dot_col(F.col("embedding"), F.col("centroid"))
            / F.when(c_norm == 0.0, F.lit(1.0)).otherwise(c_norm),
            6,
        ).alias("_score"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("_score"), F.asc("fine"))
    return (
        scored.withColumn("_best", F.row_number().over(w))
        .filter(F.col("_best") == 1)
        .crossJoin(k2n)
        .select(
            "vec_id",
            "cell",
            F.coalesce(F.col("fine"), F.lit(-1)).alias("fine"),
            F.when(F.col("fine").isNull(), F.lit(-1).cast("long"))
            .otherwise(
                F.col("cell").cast("long") * F.col("_k2n") + F.col("fine")
            )
            .alias("bucket"),
            *[F.col(c) for c in keep_cols],
        )
    )


def _round_away(x: float) -> float:
    """round-half-away-from-zero — matches Spark/DuckDB `round()`;
    Python's builtin rounds half-even and would diverge from the
    oracle on exact-half values."""
    m = 10.0**12
    return math.copysign(math.floor(abs(x) * m + 0.5), x) / m


def _unit(v: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


def group_centroids(
    df: DataFrame,
) -> DataFrame:
    """Element-wise centroid per group, long format (group, dim, centroid).

    The building block of IVF retraining, cluster-drift monitors, and
    class prototypes: posexplode -> ONE map-side-combined shuffle of
    (group, dim, partial sum/count) — state is |groups| x dim no matter
    the corpus size, and partials merge, so the same shape serves
    incremental refresh. Long format keeps the result oracle-hashable
    (array columns would hash float formatting, not math).
    """
    return (
        df.select("label", F.posexplode(F.col("embedding")).alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            F.round(F.avg("x"), 6).alias("centroid"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


def quantize_int8(
    df: DataFrame,
) -> DataFrame:
    """Symmetric per-vector int8 quantization, long format
    (vec_id, dim, q_val, scale_r).

    scale = max|x| / 127; q = floor(x / scale + 0.5) — round-half-up
    spelled as floor so every engine computes the identical integer (no
    dependence on an engine's round() tie mode), which makes the quantized
    codes an EXACT oracle target. 4x memory cut for ANN shortlists: the
    IVF/LSH probe scans int8 codes and only re-ranks the top candidates
    against float vectors. Map-only, zero shuffle; long format keeps the
    result hashable (int codes, not float-array formatting).
    Degenerate all-zero vectors quantize to 0 with scale 0.
    """
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = max_abs / F.lit(127.0)
    ex = df.select(
        F.col("vec_id").alias("vec_id"),
        scale.alias("scale"),
        F.posexplode(v).alias("dim", "x"),
    )
    q_val = F.when(
        F.col("scale") > 0,
        F.floor(F.col("x") / F.col("scale") + F.lit(0.5)).cast("int"),
    ).otherwise(F.lit(0))
    return ex.select(
        "vec_id",
        "dim",
        q_val.alias("q_val"),
        F.round(F.col("scale"), 6).alias("scale_r"),
    )


def semantic_decontamination(
    train: DataFrame,
    test: DataFrame,
) -> DataFrame:
    """Embedding-space decontamination: flag every train vector whose
    cosine similarity to ANY held-out/eval vector reaches 0.5 —
    the semantic complement of n-gram decontamination (paraphrased or
    re-tokenized benchmark leakage that exact n-grams miss).

    Returns (id, max_test_sim, contaminated 0/1) for EVERY train row,
    so the caller chooses filter vs audit. The eval set is broadcast
    (it is benchmark-sized by definition — thousands, not billions);
    the train side is scanned once, never shuffled: crossJoin against
    the broadcast side then a partial-agg max per train id. Similarity
    is rounded before max/threshold so engines agree at the boundary.
    At 100 TB the same plan holds — cost is one linear scan x |eval|
    dot products; for very large eval sets, pre-bucket both sides with
    hyperplane_lsh_buckets and equi-join on the bucket instead."""
    if test.isEmpty():
        # An empty eval set means nothing can be contaminated; without
        # this guard the crossJoin below returns an EMPTY frame and a
        # caller keeping contaminated == 0 rows would silently drop the
        # whole corpus. (Cheap: isEmpty is a limit-1 probe on the
        # benchmark-sized eval side, not the train scan.)
        return ensure_parallel(train).select(
            F.col("vec_id"),
            F.lit(None).cast("double").alias("max_test_sim"),
            F.lit(0).alias("contaminated"),
        )
    q = F.broadcast(
        test.select(
            F.col("embedding").alias("t_vec"),
            norm_col(F.col("embedding")).alias("t_norm"),
        )
    )
    c = ensure_parallel(train).select(
        F.col("vec_id"),
        F.col("embedding").alias("c_vec"),
        norm_col(F.col("embedding")).alias("c_norm"),
    )
    # coalesce: a zero-norm vector on either side yields a null cosine
    # (0/0); treat it as similarity 0 so the per-id max — and therefore
    # the contaminated flag — is never null.
    sims = c.crossJoin(q).select(
        "vec_id",
        F.coalesce(
            F.round(
                dot_col(F.col("c_vec"), F.col("t_vec"))
                / (F.col("c_norm") * F.col("t_norm")),
                6,
            ),
            F.lit(0.0),
        ).alias("sim"),
    )
    return (
        sims.groupBy("vec_id")
        .agg(F.max("sim").alias("max_test_sim"))
        .select(
            "vec_id",
            "max_test_sim",
            (F.col("max_test_sim") >= 0.5).cast("int").alias("contaminated"),
        )
    )


# the LSH decontamination route: flag threshold, sign planes per table
# and independent tables; the DuckDB oracle replays the same values
SDL_THRESHOLD, SDL_PLANES, SDL_TABLES = 0.3, 4, 4


def lsh_plane_coeffs(dim: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplane coefficients for one LSH
    table of SDL_PLANES planes: coeff(p, i) = _md5_coeff("seed:p:i"),
    values in [-0.5, 0.5). Engine-portable (no RNG state): the DuckDB oracle
    interpolates the SAME floats as literals, so both engines compute
    identical buckets. Seed separates independent tables."""
    return [
        [_md5_coeff(f"{seed}:{p}:{i}") for i in range(dim)]
        for p in range(SDL_PLANES)
    ]


def _plane_dot_sql(plane: list[float]) -> str:
    """dot(vector, literal plane) as SQL text over a pre-cast
    ARRAY<DOUBLE> reference — flat try_element_at multiply-adds with
    the zip_with length contract preserved: the former HOF dot
    (aggregate over zip_with) pads the SHORTER side with NULL, so the
    sum is non-NULL only when len(v) == len(plane) exactly. Short
    vectors self-poison through try_element_at's NULLs; the CASE seed
    poisons over-LONG vectors (and NULL arrays, where size() is NULL).
    Left-associated + matches the sequential aggregate fold, so the
    double is bit-identical and the oracle's list_inner_product
    replays it.

    Emitted as text for F.expr (one parse) instead of a Column fold:
    each Column operator is a py4j round-trip and the per-element
    fold dominated the LSH queries' driver-side build time at bench
    scale (r14 opt round); the flat madd chain also whole-stage-
    codegen compiles where the HOF lambda re-entered the interpreter
    per element."""
    dim = len(plane)
    seed = f"CASE WHEN size(_E) <= {dim} THEN 0.0D END"
    terms = "".join(
        f" + (try_element_at(_E, {i + 1}) * {repr(float(c))}D)"
        for i, c in enumerate(plane)
    )
    return f"(({seed}){terms})"


def _lsh_bucket_expr(planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id from literal plane coefficients: bit p set iff
    dot(v, plane_p) > 0. ``vec_ref`` must name a pre-cast ARRAY<DOUBLE>
    column (see _plane_dot_sql for the SQL-text rationale)."""
    bits = "".join(
        f" + (CASE WHEN {_plane_dot_sql(plane)} > 0"
        f" THEN CAST({1 << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for p, plane in enumerate(planes)
    )
    return F.expr(f"(CAST(0 AS BIGINT){bits})")


def semantic_decontamination_lsh(train: DataFrame, test: DataFrame) -> DataFrame:
    """LSH-bucketed semantic decontamination — the LARGE-eval-set route
    promised by semantic_decontamination's docstring: when the eval set
    is too big to broadcast as raw vectors, candidate pairs come from an
    EQUI-JOIN on (table, sign-LSH bucket) instead of a crossJoin, and
    exact cosine runs only on candidates.

    Returns (id, max_cand_sim, contaminated) for EVERY train row:
    max_cand_sim is the max exact similarity over LSH candidates (a
    lower bound of the true max — NULL when a row had no candidate in
    any table) and contaminated flags max_cand_sim >= SDL_THRESHOLD. No
    false positives relative to the exact path (candidate sims ARE
    exact); recall is the standard sign-LSH tradeoff, boosted by
    SDL_TABLES independent tables (miss prob per pair = prod over
    tables of 1 - p^SDL_PLANES, p = 1 - angle/pi).

    Scale shape: each side is scanned once — norms computed per row,
    then a map-only x SDL_TABLES posexplode of bucket ids; the candidate
    join is a plain equi-join on (table, bucket) that AQE broadcasts
    when the eval side happens to be small and shuffles (hash-partition
    on near-uniform sign buckets) when it is not — the whole point of
    this route. Duplicate candidate pairs across tables are NOT deduped:
    the per-train-id max absorbs them, saving a shuffle. The final
    left-join restores never-candidate train rows."""
    first = train.select(F.size(F.col("embedding")).alias("d")).first()
    if first is None:  # empty train frame — nothing to flag
        # same dtypes as the normal path (contaminated is INT 0/1, not
        # boolean) so unions/appends across the two branches line up
        return train.select(
            F.col("vec_id"),
            F.lit(None).cast("double").alias("max_cand_sim"),
            F.lit(0).cast("int").alias("contaminated"),
        )
    dim = int(first["d"])
    tables = [lsh_plane_coeffs(dim, l) for l in range(SDL_TABLES)]
    # bucket expressions reference a short pre-cast alias so the
    # generated SQL text stays small (parse cost scales with length)
    buckets = F.array(*[_lsh_bucket_expr(pl) for pl in tables])

    def side(df, prefix):
        pre = df.select(
            F.col("vec_id").alias(f"{prefix}_id"),
            F.col("embedding").alias(f"{prefix}_vec"),
            F.col("embedding").cast("array<double>").alias("_E"),
        )
        # the bucket array materializes in a Project BEFORE the
        # explode (expressions inside a Generate never whole-stage-
        # compile — see _cell_expr's codegen matrix), and the explode
        # is the OUTER variant: a non-outer Generate makes the
        # optimizer infer `size(_buckets) > 0` and clone the whole
        # SDL_TABLES x SDL_PLANES x dim bucket tree into a scan-side
        # Filter, where it re-evaluates per row interpreted (measured:
        # the clone tripled this operator's wall time). The array is a
        # literal SDL_TABLES-element CreateArray — never NULL, never
        # empty — so outer vs inner emit identical rows and the
        # inference simply disappears.
        withb = pre.select(
            f"{prefix}_id",
            f"{prefix}_vec",
            norm_col(F.col(f"{prefix}_vec")).alias(f"{prefix}_norm"),
            buckets.alias("_buckets"),
        )
        return withb.select(
            f"{prefix}_id",
            f"{prefix}_vec",
            f"{prefix}_norm",
            F.posexplode_outer(F.col("_buckets")).alias("tbl", "bucket"),
        )

    c = side(ensure_parallel(train), "c")
    q = side(test, "t").withColumnsRenamed(
        {"tbl": "t_tbl", "bucket": "t_bucket"}
    )
    sims = c.join(
        q,
        (F.col("tbl") == F.col("t_tbl")) & (F.col("bucket") == F.col("t_bucket")),
    ).select(
        F.col("c_id").alias("vec_id"),
        F.coalesce(
            F.round(
                dot_col(F.col("c_vec"), F.col("t_vec"))
                / (F.col("c_norm") * F.col("t_norm")),
                6,
            ),
            F.lit(0.0),
        ).alias("sim"),
    )
    agg = sims.groupBy("vec_id").agg(F.max("sim").alias("max_cand_sim"))
    return (
        train.select("vec_id")
        .join(agg, "vec_id", "left")
        .select(
            "vec_id",
            "max_cand_sim",
            (
                F.coalesce(F.col("max_cand_sim"), F.lit(-1.0)) >= SDL_THRESHOLD
            ).cast("int").alias("contaminated"),
        )
    )


def semdedup(
    df: DataFrame,
    centroids: list[list[float]],
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv 2303.09540 — public technique):
    semantic near-duplicate PRUNING via clustering + within-cluster
    pairwise cosine. Embeddings are assigned to their k-means cell
    (map-only against literal centroids), pairwise similarity runs ONLY
    inside a cell, and of any near-duplicate pair the LOWEST id is kept
    — so a vector is dropped iff some same-cell vector with a smaller
    id is >= 0.4 cosine-similar (deterministic keep-first rule; the
    paper keeps one representative per duplicate group, rule choice is
    an implementation detail).

    Returns (vec_id, cell, kept 0/1) for every input row.

    Scale shape — the whole point of the clustering: pairwise cost is
    sum over cells of |cell|^2, not N^2; the cell equi-join shuffles on
    the cell id. Balanced cells keep the quadratic term bounded (k
    scales with corpus so |cell| stays ~constant); a skewed mega-cell
    is the known failure mode — cap it by splitting on a secondary LSH
    bucket if observed. Threshold is corpus-dependent: ~0.4 separates
    this synthetic corpus; the paper uses 0.9+ on web data.

    cell, vec, and norm come out of ONE projection over a single scan
    — no self-join of the corpus with its own assignment (the obvious
    assign-then-join-on-id composition shuffles the whole corpus once
    for nothing). The cell column is the same non-nullable
    coalesce(argmax, -1) as assign_cells, so the pair equi-join
    never injects an isnotnull that would clone the argmax tree (see
    assign_cells).

    Size-dispatched on ``n_rows`` (module docstring): the seam runs the
    within-cell pair scan as one matmul per cell (applyInPandas; same
    rounded-similarity >= threshold rule, any-smaller-id reduction on
    the upper triangle) — the interpreted per-pair HOF dot was 44 s at
    the sf1 soak."""
    if _past_oracle(n_rows):
        import numpy as np
        import pandas as pd

        def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("vec_id")
            # malformed (null/ragged) vectors can't be near-duplicates:
            # they stay kept=1, exactly like the Catalyst path (which
            # excludes the -1 sentinel cell from pairing)
            kept = np.ones(len(pdf), dtype=np.int32)
            cell = pdf["cell"].iloc[0]
            ok, V = _stack_valid(list(pdf["embedding"]), len(centroids[0]))
            if cell != -1 and V is not None:
                near = np.triu(_round6(_unit_gram(V)) >= 0.4, k=1)
                kept[ok] = ~near.any(axis=0)
            return pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "cell": cell, "kept": kept}
            )

        assigned = assign_cells(df, centroids,
                                keep_cols=("embedding",))
        return assigned.groupBy("cell").applyInPandas(
            per_cell, schema="vec_id long, cell int, kept int"
        )
    # cell surfaces through a single-element explode (Generate
    # barrier): the -1-sentinel filter below is a real predicate on a
    # computed column, and without the barrier predicate pushdown would
    # clone the whole k x dim argmax tree into a Filter — the exact
    # pathology test_cell_argmax_never_cloned_into_filters pins. The
    # barrier's cost: Generate can't split the expression, so this
    # branch evaluates the argmax interpreted at every size (see
    # _cell_expr) — bounded by EXACT_MAX_ROWS, where it's milliseconds
    v = ensure_parallel(df).select(
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("vec"),
        safe_norm_col(F.col("embedding")).alias("nrm"),
        F.explode(F.array(_cell_column(centroids))).alias("cell"),
    )
    cells = v.select("vec_id", "cell")
    # the -1 sentinel cell holds malformed vectors — they are never
    # near-duplicates of anything, so they pair with nothing (both
    # dispatch branches agree; without this the HOF path would compare
    # equal-length malformed vectors among themselves)
    pairable = v.filter(F.col("cell") != -1)
    a = pairable.select(
        F.col("vec_id").alias("a_id"),
        F.col("vec").alias("a_vec"),
        F.col("nrm").alias("a_nrm"),
        "cell",
    )
    b = pairable.select(
        F.col("vec_id").alias("b_id"),
        F.col("vec").alias("b_vec"),
        F.col("nrm").alias("b_nrm"),
        F.col("cell").alias("b_cell"),
    )
    sim = F.round(
        dot_col(F.col("a_vec"), F.col("b_vec"))
        / (F.col("a_nrm") * F.col("b_nrm")),
        6,
    )
    dropped = (
        a.join(
            b,
            (F.col("cell") == F.col("b_cell"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .filter(sim >= 0.4)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    return (
        cells.join(
            dropped.withColumn("_drop", F.lit(1)), "vec_id", "left"
        )
        .select(
            "vec_id",
            "cell",
            F.when(F.col("_drop").isNull(), 1).otherwise(0).alias("kept"),
        )
    )


def cosine_neardup_pairs(
    df: DataFrame,
    n_rows: int | None = None,
) -> DataFrame:
    """Exact within-cell cosine near-duplicate pairs
    (vec_a < vec_b, cos >= 0.4) — the audit-path baseline whose
    scale companions are semdedup / LSH buckets / MinHash.

    Size-dispatched on ``n_rows`` (module docstring):

    - exact: the pure-Catalyst shape (norms per side, per-pair HOF dot
      behind a single-element Generate barrier so pushdown cannot clone
      the dot into the Filter). Bit-exact vs the sequential-summation
      SQL oracle.
    - seam: applyInPandas per cell — one matmul of the cell's guarded
      unit rows (_unit_gram) produces every pairwise cosine, then the
      upper-triangle mask and threshold, so only surviving pairs cross
      back over Arrow. The interpreted per-pair HOF dot was the sf1
      soak's worst constant (162 s for ~4M pairs). Cell size must fit
      one task (c x dim floats + c x c scores) — the quantizer
      occupancy bounds it by design.

    Degenerate inputs behave identically on BOTH branches: zero-norm
    vectors divide by the |0| -> 1 guard (cos 0, never NaN — Spark
    orders NaN greatest so an unguarded 0/0 would pass the threshold),
    NULL-cell rows pair with nothing (the seam filters them to mirror
    the equi-join's null semantics), and RAGGED cells pair each
    equal-length subgroup separately (_by_length). EMPTY vectors are
    their own length-0 subgroup: the Catalyst path scores empty-vs-empty
    as cos 0.0 (zip_with over nothing -> the 0.0 aggregate seed, |0| ->
    1 norm guard), and so does the (k, 0) matmul.
    """
    if not _past_oracle(n_rows):
        a = df.select(
            F.col("vec_id").alias("vec_a"),
            F.col("label").alias("_cell"),
            F.col("embedding").alias("va"),
            safe_norm_col(F.col("embedding")).alias("na"),
        )
        b = df.select(
            F.col("vec_id").alias("vec_b"),
            F.col("label").alias("_cell"),
            F.col("embedding").alias("vb"),
            safe_norm_col(F.col("embedding")).alias("nb"),
        )
        cos = dot_col(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        return (
            a.join(b, "_cell")
            .filter(F.col("vec_a") < F.col("vec_b"))
            .select("vec_a", "vec_b", F.explode(F.array(cos)).alias("_cos"))
            .filter(F.col("_cos") >= 0.4)
            .select(
                "vec_a", "vec_b", F.round(F.col("_cos"), 6).alias("cos_sim")
            )
        )

    import numpy as np
    import pandas as pd

    def per_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        outs = []
        for ok, V in _by_length(list(pdf["embedding"])):
            if len(ok) < 2:
                continue
            iu, ju = np.triu_indices(len(ok), k=1)
            g = _unit_gram(V)[iu, ju]
            keep = g >= 0.4
            outs.append(
                pd.DataFrame(
                    {
                        "vec_a": ids[ok[iu[keep]]],
                        "vec_b": ids[ok[ju[keep]]],
                        "cos_sim": _round6(g[keep]),
                    }
                )
            )
        if not outs:
            return pd.DataFrame(
                {"vec_a": [], "vec_b": [], "cos_sim": []}
            ).astype({"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"})
        return pd.concat(outs, ignore_index=True)

    return (
        df.select("vec_id", "label", "embedding")
        .filter(F.col("label").isNotNull())  # equi-join null semantics
        .groupBy("label")
        .applyInPandas(per_cell, schema="vec_a long, vec_b long, cos_sim double")
    )
