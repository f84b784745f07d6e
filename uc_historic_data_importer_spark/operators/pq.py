"""Product quantization (PQ) for embedding search at corpus scale.

The 100 TB ANN standard (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011; the IVF-PQ layout of FAISS): split
each d-dim vector into ``m`` subvectors, learn a tiny per-subspace
codebook (k centroids each), store each vector as ``m`` small codes
(here m bytes — a 64-dim float vector compresses 64x), and answer
queries with asymmetric distance computation (ADC): per subspace a
k-entry lookup table of exact query-to-centroid distances, so the
approximate distance of every stored vector is ``m`` table lookups —
no float vector is ever read at search time.

Spark shape:
- fit: per subspace, deterministic L2 k-means — assignment is an inline
  argmin column expression (no join), the update is one map-side-
  combined shuffle of (code, dim, partial sums); driver state is
  m * k * (d/m) doubles = one codebook, regardless of corpus size.
- encode: pure map — m argmin expressions over literal codebooks; the
  output (vec_id, code_0..code_{m-1}) is the compact table you persist
  (PARTITIONED BY an IVF cell at real scale).
- search: pure map over the codes table — ADC score = sum of m
  element_at lookups into literal LUT arrays — then TakeOrdered k.
  Scoring shuffles nothing and reads only the codes.

Determinism discipline (shared with similarity.kmeans_fit): distances
are rounded at 6 dp BEFORE every argmin with ties to the lowest
code; centroid means are rounded half-away-from-zero at 12 dp;
init is the k lowest-id subvectors. Every float the oracle must
reproduce passes through an explicit round, so DuckDB replays the fit,
the codes, and the ADC ranking bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from uc_historic_data_importer_spark.operators.frames import ensure_parallel
from uc_historic_data_importer_spark.operators.similarity import _round_away

# m subspaces, k codes per subspace, k-means rounds; the DuckDB oracle
# replays the fit with the same values
PQ_M, PQ_K, PQ_ITERS = 4, 4, 1
# the query vector's id, excluded from its own neighbours
QUERY_ID = 0


def _fmt_d(x: float) -> str:
    """SQL double literal: repr() is the shortest round-trip decimal and
    Double.parseDouble resolves it to the identical IEEE-754 bits; the
    D suffix keeps the parser off the DECIMAL type. Non-finite values
    have no bare-literal spelling — repr() would emit nan/inf, which the
    parser resolves as a column reference — so they go through a string
    CAST, which Spark and DuckDB both accept for NaN/Infinity."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        sign = "-" if x < 0 else ""
        return f"CAST('{sign}Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _dot_lit_sql(base: int, cent: list[float]) -> str:
    """sub · literal centroid, UNROLLED into element_at multiply-adds —
    as SQL TEXT over absolute positions ``base+1..base+len`` of the
    cast vector column ``_E``.

    The higher-order-function dot (aggregate over zip_with) re-enters
    the interpreter per ELEMENT — hoisting the centroid to literals
    turns the whole product into one flat scalar-arithmetic tree (~10x
    on the encode path; in a plain Project it also whole-stage-codegen
    compiles at PQ's small per-subspace term counts — see
    similarity._cell_expr for the measured compile/fallback matrix).
    Left-associated sum (SQL + is left-associative) = the same
    association as a sequential accumulate, so DuckDB's
    list_inner_product reproduces the double bit-for-bit.

    Built as ONE SQL string parsed by F.expr rather than a Column
    fold: each Column operator is a py4j round-trip, and the m*k*dim
    of them dominated the ANN queries' wall time at bench scale
    (r14 opt round: 1.5-2.7 s of pure driver-side tree construction
    per query; the parsed AST is node-for-node the old tree, so
    executed plans and results are bit-identical). Absolute indexing
    replaces the per-subspace slice() — try_element_at(v, base+i) ==
    try_element_at(slice(v, base+1, n), i) for every vector length,
    incl. short/NULL vectors where both yield NULL.

    try_element_at (not element_at, which THROWS under ANSI mode) so a
    malformed/short vector yields NULL — _code_expr_sql's coalesce
    then maps it to the -1 sentinel instead of failing the stage."""
    if not cent:
        return "0.0D"
    return " + ".join(
        f"(try_element_at(_E, {base + i + 1}) * {_fmt_d(x)})"
        for i, x in enumerate(cent)
    )


def _code_expr_sql(j: int, sub_dim: int, codebook: list[list[float]]) -> str:
    """argmin code for one subspace as SQL text: comparison keys
    rounded to 6 dp before the argmin, ties to the LOWEST code.

    The key is (cent.cent - 2*sub.cent), NOT the full ||sub-cent||^2:
    sub.sub is constant across codes, so dropping it changes no argmin
    result and removes k interpreted self-dots per row. The oracle
    rounds the identical key, so tie behavior stays engine-portable.

    Argmin = array_position(keys, array_min(keys)) — first occurrence
    of the min, i.e. ties to the lowest code — rather than a nested
    when(d < best)-fold, whose duplicated accumulator tree grows
    O(2^k) and can push the generated stage past Janino's method
    limit into interpreted fallback (see similarity._cell_expr).

    array_position yields NULL (not a code) when a null/short
    subvector makes every key NULL — coalesce to -1 (same non-null
    sentinel contract as similarity.assign_cells) so a malformed
    vector can never propagate NULL codes into downstream joins or
    partition columns."""
    keys: list[str] = []
    for cent in codebook:
        cc = 0.0
        for x in cent:
            cc += float(x) * float(x)
        dot = _dot_lit_sql(j * sub_dim, cent)
        keys.append(f"round({_fmt_d(cc)} - (2.0D * ({dot})), 6)")
    arr = "array(" + ", ".join(keys) + ")"
    return (
        f"coalesce(CAST(array_position({arr}, array_min({arr})) - 1 AS INT),"
        " -1)"
    )


def _with_vec_ref(corpus: DataFrame, *keep: Column) -> DataFrame:
    """Project the cast ``embedding`` under the short internal name
    ``_E`` the SQL text references (keeps the generated text small — the
    parse cost of the unrolled expressions scales with string length)."""
    return corpus.select(*keep, F.col("embedding").cast("array<double>").alias("_E"))


def pq_fit(corpus: DataFrame) -> list[list[list[float]]]:
    """Deterministic per-subspace L2 k-means: returns
    codebooks[PQ_M][PQ_K][d/PQ_M] after PQ_ITERS rounds.

    Init = subvectors of the k lowest-id vectors. Each round runs m
    small aggregation jobs (one per subspace): inline argmin assignment
    feeding a (code, dim) groupBy of partial sums — the shuffle carries
    k * sub_dim partials per map partition. Codes that capture no
    vectors keep their previous centroid (mirrored in the oracle with a
    coalesce join)."""
    dim_row = corpus.select(F.size(F.col("embedding")).alias("d")).first()
    if dim_row is None or dim_row["d"] is None or dim_row["d"] < 0:
        # r9 review: an empty corpus (first() -> None) or a NULL first
        # embedding (d NULL; size() of NULL is -1 under legacy conf)
        # crashed with TypeError int(None) — a fit over nothing is a
        # caller error, fail naming it
        raise ValueError(
            "pq_fit: cannot infer embedding dim from 'embedding' "
            "(empty corpus or NULL first embedding)"
        )
    m, k = PQ_M, PQ_K
    dim = int(dim_row["d"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub_dim = dim // m

    first = [
        [float(x) for x in r["embedding"]]
        for r in corpus.select("embedding", "vec_id").orderBy("vec_id").take(k)
    ]
    books = [
        [v[j * sub_dim : (j + 1) * sub_dim] for v in first] for j in range(m)
    ]
    # single-file corpora scan as ONE partition; the iteration's
    # explode+aggregate is CPU-bound and must parallelize
    corpus = ensure_parallel(corpus)
    for _ in range(PQ_ITERS):
        # ONE corpus scan + ONE shuffle per iteration for all m
        # subspaces: the per-subspace argmin codes ride along as an
        # array column; posexplode of the full vector recovers
        # (subspace, dim) from the position. Group count = m * k *
        # sub_dim — driver state stays one codebook.
        codes = F.array(
            *[
                F.expr(_code_expr_sql(j, sub_dim, books[j]))
                for j in range(m)
            ]
        )
        sums = (
            _with_vec_ref(corpus).select(
                codes.alias("_codes"),
                F.posexplode(F.col("_E")).alias("pos", "x"),
            )
            .select(
                F.expr(f"CAST(pos div {sub_dim} AS INT)").alias("j"),
                F.element_at(
                    F.col("_codes"),
                    F.expr(f"CAST((pos div {sub_dim}) + 1 AS INT)"),
                ).alias("code"),
                F.expr(f"pos % {sub_dim}").alias("dim"),
                "x",
            )
            .groupBy("j", "code", "dim")
            .agg(F.sum("x").alias("sx"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        accs: list[dict[int, list[float]]] = [{} for _ in range(m)]
        for r in sums:
            j = int(r["j"])
            accs[j].setdefault(int(r["code"]), [0.0] * sub_dim)[
                int(r["dim"])
            ] = _round_away(float(r["sx"]) / int(r["n"]))
        books = [
            [accs[j].get(c, books[j][c]) for c in range(k)] for j in range(m)
        ]
    return books


def pq_encode(corpus: DataFrame, codebooks: list[list[list[float]]]) -> DataFrame:
    """(vec_id, code_0..code_{m-1}): the persisted compact index — pure
    map over the corpus, no shuffle."""
    sub_dim = len(codebooks[0][0])
    base = _with_vec_ref(ensure_parallel(corpus), F.col("vec_id").alias("vec_id"))
    return base.select(
        "vec_id",
        *[
            F.expr(_code_expr_sql(j, sub_dim, codebooks[j])).alias(f"code_{j}")
            for j in range(len(codebooks))
        ],
    )


def pq_topk(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """ADC top-k: (neighbor_id, approx_dist, rank), nearest first, the
    query vector itself (QUERY_ID) excluded.

    The LUTs (m arrays of k exact query-to-centroid distances) are
    computed driver-side — m*k doubles — and shipped as literals; the
    per-vector score is m element_at lookups added in subspace order,
    rounded before ranking with ties to the lowest id. TakeOrdered
    replaces any global sort."""
    m = len(codebooks)
    luts: list[list[float]] = []
    sub_dim = len(codebooks[0][0])
    for j in range(m):
        q_sub = [float(x) for x in query_vec[j * sub_dim : (j + 1) * sub_dim]]
        qq = 0.0
        for x in q_sub:
            qq += x * x
        row = []
        for cent in codebooks[j]:
            cc = 0.0
            qc = 0.0
            for a, b in zip(q_sub, cent):
                cc_term = float(b) * float(b)
                cc += cc_term
                qc += a * float(b)
            row.append((qq + cc) - 2.0 * qc)
        luts.append(row)

    codes = pq_encode(corpus, codebooks)
    score: Column = F.lit(0.0)
    for j in range(m):
        lut = F.array(*[F.lit(float(d)) for d in luts[j]])
        score = score + F.element_at(lut, F.col(f"code_{j}") + 1)
    scored = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        F.round(score, 6).alias("approx_dist"),
    )
    scored = scored.filter(F.col("neighbor_id") != QUERY_ID)
    from pyspark.sql import Window

    # orderBy + limit compiles to TakeOrderedAndProject (no global sort,
    # no exchange of the full corpus); the rank window then runs over k
    # rows only
    top = scored.orderBy(F.asc("approx_dist"), F.asc("neighbor_id")).limit(k)
    w = Window.orderBy(F.asc("approx_dist"), F.asc("neighbor_id"))
    return top.withColumn("rank", F.row_number().over(w))
