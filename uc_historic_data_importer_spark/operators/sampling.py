"""Deterministic sampling / split assignment for training-data pipelines.

A 100 TB corpus pipeline needs samples and splits that are (a) stable
across reruns and cluster sizes — no RNG, no partition-order dependence
(``df.sample`` gives neither: its seed interacts with partitioning), and
(b) pure map-side — no shuffle just to pick a subset. Everything here
keys off the shared engine-portable ``md5_i64`` hash of a stable id
(functions/hashes.py), so the DuckDB oracle reproduces every selection
bit-for-bit and a rerun on different hardware picks the same rows.

The reference has no sampling operators (its job is a full import); this
module is part of the training-data extension surface alongside dedup /
similarity / text (build brief), reusing its hash conventions.

Three operators:

- ``hash_sample``: Bernoulli-style p-fraction sample. bucket =
  h mod D; keep bucket < p*D. Map-only, scales to any size.
- ``split_assign``: train/val/test labels from disjoint hash ranges —
  a document can never migrate between splits when the corpus grows,
  because its label depends only on its own id.
- ``stratified_sample``: exactly n per stratum, rows ranked by hash
  within the stratum — deterministic "random" without an RNG. This one
  shuffles (per-group ranking is a real global operation); the rank
  window partitions by stratum so it is one shuffle of the strata keys.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from uc_historic_data_importer_spark.functions.hashes import md5_i64
from uc_historic_data_importer_spark.operators.frames import check_reserved

# hash buckets for fraction selection: p is quantized to 1/DENOM steps
DENOM = 1_000_000
# decimals shared by the samplers and their DuckDB oracles: the weight a
# domain missing from a mixture's weights gets, the decimals the
# temperature rates and the A-ES keys round at before they are compared
MIXTURE_DEFAULT_WEIGHT = 1.0
TEMPERATURE_RATE_DP = 9
WEIGHTED_KEY_DP = 8
# the catalog's sampling settings, read by each sampler and its oracle:
# hash_sample's fraction, split_assign's val/test fractions, the domain
# weights of mixture_sample, per-group picks of stratified_sample (per
# lang) and weighted_sample (per source), token_budget_sample's budget
# per source, kfold_assign's fold count, and the total draw and the
# temperature of temperature_mixture_sample
SAMPLE_FRACTION = 0.1
VAL_FRACTION = TEST_FRACTION = 0.05
MIXTURE_WEIGHTS = {"src0": 2.5, "src1": 0.25, "src2": 0.0}
STRATUM_N = 20
WEIGHTED_N = 5
TOKEN_BUDGET = 900
N_FOLDS = 5
TEMP_TARGET, TEMP_TAU = 200, 0.5


def _bucket():
    return md5_i64(F.col("doc_id").cast("string")) % F.lit(DENOM)


def _mixture_levels(w: float) -> tuple[int, int]:
    """Weight -> (n_full_copies, fractional 1/DENOM threshold) — THE
    float-to-int split both mixture_sample and its DuckDB twin
    mixture_sql must share: a drifted copy (round vs floor on the
    fractional part) would silently diverge the engines at weight
    boundaries."""
    n_full = int(math.floor(w))
    return n_full, int(round((w - n_full) * DENOM))


def hash_sample(df: DataFrame) -> DataFrame:
    """Keep ~SAMPLE_FRACTION of rows, chosen by doc_id hash — map-only,
    rerun-stable."""
    return df.filter(_bucket() < F.lit(int(SAMPLE_FRACTION * DENOM)))


def split_assign(df: DataFrame) -> DataFrame:
    """Label each row train/val/test by disjoint hash ranges of its
    doc_id (VAL_FRACTION val, TEST_FRACTION test).

    Membership is a pure function of the id: adding or removing other
    rows never moves a document across the val/test boundary (the
    train-test contamination guarantee a growing corpus needs).
    """
    check_reserved(df.columns, {"split"}, "split_assign")
    b = _bucket()
    val_hi = int(VAL_FRACTION * DENOM)
    test_hi = val_hi + int(TEST_FRACTION * DENOM)
    return df.withColumn(
        "split",
        F.when(b < val_hi, F.lit("val"))
        .when(b < test_hi, F.lit("test"))
        .otherwise(F.lit("train")),
    )


def stratified_sample(df: DataFrame) -> DataFrame:
    """Exactly min(STRATUM_N, stratum size) rows per ``lang`` stratum,
    picked by doc_id hash rank.

    The hash is the sort key, so the picked set is a deterministic
    pseudo-random subset; the id tiebreak makes rank total even on the
    (improbable) hash collision. One shuffle, partitioned by stratum —
    skewed strata are bounded by the same salting approach as
    operators/skew.py if a stratum outgrows an executor.
    """
    check_reserved(df.columns, {"_rk"}, "stratified_sample")
    w = Window.partitionBy("lang").orderBy(
        md5_i64(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= STRATUM_N)
        .drop("_rk")
    )


def sample_sql() -> str:
    """DuckDB predicate matching hash_sample's selection."""
    from uc_historic_data_importer_spark.functions.hashes import md5_i64_sql

    h = md5_i64_sql("CAST(doc_id AS VARCHAR)")
    return f"({h} % {DENOM}) < {int(SAMPLE_FRACTION * DENOM)}"


def split_sql() -> str:
    """DuckDB CASE expression matching split_assign's labels."""
    from uc_historic_data_importer_spark.functions.hashes import md5_i64_sql

    h = md5_i64_sql("CAST(doc_id AS VARCHAR)")
    val_hi = int(VAL_FRACTION * DENOM)
    test_hi = val_hi + int(TEST_FRACTION * DENOM)
    return (
        f"CASE WHEN ({h} % {DENOM}) < {val_hi} THEN 'val' "
        f"WHEN ({h} % {DENOM}) < {test_hi} THEN 'test' "
        f"ELSE 'train' END"
    )


def mixture_sample(df: DataFrame) -> DataFrame:
    """Domain-mixture construction (DoReMi-style reweighting): emit each
    row round(weight) times deterministically, weights per ``source``
    from MIXTURE_WEIGHTS — weight 2.5 yields 2 full
    copies plus a third kept for half the ids; weight 0.25 keeps a
    quarter of the domain; weight 0 drops it.

    Fractional membership keys off md5_i64(id:copy), so the mixture is
    rerun-stable, growth-stable, and engine-portable like every sampler
    here. Map-only with bounded fan-out (ceil(max weight) copies); the
    epoch/copy index is returned so downstream packing can interleave
    copies instead of clustering them. Weights are resolved to integer
    thresholds at plan build — no float comparison at runtime (float to
    int casts round in some engines and truncate in others).
    """
    check_reserved(
        df.columns, {"_n_full", "_thresh", "copy_idx"}, "mixture_sample"
    )

    levels = _mixture_levels

    n_full_col = F.lit(levels(MIXTURE_DEFAULT_WEIGHT)[0])
    thresh_col = F.lit(levels(MIXTURE_DEFAULT_WEIGHT)[1])
    for dom, w in sorted(MIXTURE_WEIGHTS.items()):
        nf, th = levels(w)
        cond = F.col("source") == dom
        n_full_col = F.when(cond, F.lit(nf)).otherwise(n_full_col)
        thresh_col = F.when(cond, F.lit(th)).otherwise(thresh_col)

    out = df.withColumn("_n_full", n_full_col).withColumn("_thresh", thresh_col)
    # fan-out exactly n_full copies plus ONE fractional candidate only
    # when there is a fractional part (_thresh > 0): an exact-integer
    # weight (incl. the default 1.0) must not explode an extra
    # always-filtered row per document. The empty-array guard covers
    # weight 0 (n_full = 0, thresh = 0): sequence(0, -1) DESCENDS in
    # Spark rather than returning empty, and exploding the empty array
    # drops the row outright — same result as the old filter, one row
    # cheaper
    upper = F.col("_n_full") - F.when(F.col("_thresh") > 0, 0).otherwise(1)
    out = out.withColumn(
        "copy_idx",
        F.explode(
            F.when(upper >= 0, F.sequence(F.lit(0), upper)).otherwise(
                F.array().cast("array<int>")
            )
        ),
    )
    frac_key = (
        md5_i64(
            F.concat_ws(":", F.col("doc_id").cast("string"), F.col("copy_idx"))
        )
        % F.lit(DENOM)
    )
    return (
        out.filter(
            (F.col("copy_idx") < F.col("_n_full")) | (frac_key < F.col("_thresh"))
        )
        .drop("_n_full", "_thresh")
    )


def mixture_sql() -> str:
    """DuckDB fragment reproducing mixture_sample over `documents`:
    returns (CTE body, WHERE predicate) as a single SELECT."""
    from uc_historic_data_importer_spark.functions.hashes import md5_i64_sql

    levels = _mixture_levels

    dnf, dth = levels(MIXTURE_DEFAULT_WEIGHT)
    nf_case = "CASE source "
    th_case = "CASE source "
    for dom, w in sorted(MIXTURE_WEIGHTS.items()):
        nf, th = levels(w)
        nf_case += f"WHEN '{dom}' THEN {nf} "
        th_case += f"WHEN '{dom}' THEN {th} "
    nf_case += f"ELSE {dnf} END"
    th_case += f"ELSE {dth} END"
    h = md5_i64_sql(
        "(CAST(doc_id AS VARCHAR) || ':' || CAST(copy_idx AS VARCHAR))"
    )
    # range() upper bound mirrors mixture_sample's explode: n_full
    # copies plus one fractional candidate only when _thresh > 0
    # (range(0, 0) is empty in DuckDB, so weight-0 rows vanish here the
    # same way the empty-array explode drops them in Spark)
    return f"""
      SELECT * EXCLUDE (_n_full, _thresh)
      FROM (
        SELECT *, {nf_case} AS _n_full, {th_case} AS _thresh,
               unnest(range(0, ({nf_case})
                 + CASE WHEN ({th_case}) > 0 THEN 1 ELSE 0 END)) AS copy_idx
        FROM documents
      )
      WHERE copy_idx < _n_full OR ({h} % {DENOM}) < _thresh
    """


def weighted_sample(df: DataFrame) -> DataFrame:
    """Weighted sample without replacement, deterministic (A-ES scheme,
    Efraimidis & Spirakis 2006): each row gets key = ln(u) / w with w its
    ``n_chars`` and u a hash-derived uniform in (0, 1], and the
    WEIGHTED_N top keys per ``source`` win — selection
    probability proportional to weight, no RNG, rerun- and
    partitioning-stable.

    The key is rounded at ``WEIGHTED_KEY_DP`` BEFORE ranking (libm ``ln`` may
    differ in the last ulp across engines; the round + id tiebreak make
    the pick order total and oracle-reproducible). Non-positive weights
    are excluded — a zero-weight row must never be sampled and ln(u)/0
    is undefined. One shuffle, partitioned by source.

    u must be strictly INSIDE (0, 1): at u = 1.0 the key is ln(1)/w = 0
    — the global maximum REGARDLESS of weight — so the ~1/DENOM of rows
    hashing to the top bucket would win weight-independently (round-6
    review fix: the denominator is DENOM + 1, putting u in
    [1/(DENOM+1), DENOM/(DENOM+1)]).

    NaN weights are excluded like non-positive ones (r13 review batch
    7): Spark's ordering puts NaN ABOVE every number, so `NaN > 0`
    passes the positivity filter and the NaN key then sorts as the
    GLOBAL MAXIMUM — probed: a NaN-weight row beat a weight-5.0 row.
    A +inf weight needs no special case: its key is -0.0, the
    legitimate top of the all-negative key range (P proportional to
    an infinite weight SHOULD always win).
    """
    check_reserved(df.columns, {"_wkey", "_rk"}, "weighted_sample")
    u = (_bucket() + 1).cast("double") / F.lit(float(DENOM + 1))
    wcol = F.col("n_chars").cast("double")
    key = F.round(F.log(u) / wcol, WEIGHTED_KEY_DP)
    cand = df.filter((wcol > 0) & ~F.isnan(wcol)).withColumn("_wkey", key)
    w = Window.partitionBy("source").orderBy(F.desc("_wkey"), F.col("doc_id"))
    return (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= WEIGHTED_N)
        .drop("_wkey", "_rk")
    )


def weighted_key_sql() -> str:
    """DuckDB expression matching weighted_sample's ranking key
    (including its strictly-interior u: denominator DENOM + 1)."""
    from uc_historic_data_importer_spark.functions.hashes import md5_i64_sql

    h = md5_i64_sql("CAST(doc_id AS VARCHAR)")
    return (
        f"round(ln((({h} % {DENOM}) + 1)::DOUBLE / {DENOM + 1}) / "
        f"(n_chars)::DOUBLE, {WEIGHTED_KEY_DP})"
    )


def token_budget_sample(df: DataFrame) -> DataFrame:
    """Deterministic per-source token quota: walk each source's documents
    in hash order and keep the prefix whose cumulative ``n_tokens`` stays
    within TOKEN_BUDGET — the 'take N tokens per domain' primitive
    of training-mix construction, with no RNG (rerun- and cluster-size-
    stable order, same property as the other samplers here).

    Prefix semantics: a document that would cross the budget is dropped
    along with everything after it in hash order, so the sample can
    undershoot but never overshoots. One shuffle: the per-group running
    sum rides a single hash exchange on the group key.

    The running total is part of the sampler's contract (callers report
    'how many tokens did each domain actually get'), so it is exposed
    under the documented ``cum_tokens`` name — unlike the sibling
    samplers' `_wkey`/`_rk`, which are internal ranks and are dropped."""
    check_reserved(df.columns, {"cum_tokens"}, "token_budget_sample")
    w = (
        Window.partitionBy("source")
        .orderBy(md5_i64(F.col("doc_id").cast("string")), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET)
    )


def temperature_mixture_sample(df: DataFrame) -> DataFrame:
    """Temperature-scaled domain mixture (the multilingual-LM sampling
    rule, Conneau & Lample style): domain s gets probability mass
    p_s = n_s^tau / sum(n^tau) — tau < 1 UP-samples the tail domains
    relative to raw proportions, tau = 1 is proportional, tau = 0 is
    uniform-by-domain; tau is TEMP_TAU. Per-row accept rate = min(1,
    TEMP_TARGET * p_s / n_s), hash-thresholded like every sampler here
    (rerun-stable, map-only after one tiny per-domain aggregate).

    The rate is rounded to ``TEMPERATURE_RATE_DP`` before quantization to the
    1/DENOM integer threshold so libm pow() ulp noise can never flip a
    row across engines. The per-domain frame is bounded by the domain
    count (broadcast side). Two passes over the input by construction
    (the counts aggregate, then the filter probe) — but the aggregate
    scan is column-pruned to ``source`` alone, so at 100 TB the
    extra pass reads one column, not the corpus. A NULL domain is a
    domain like any other: it is counted, gets a rate, and its rows
    are kept at that rate (null-safe join — a plain equi-join would
    silently drop NULL-domain rows while still deflating every other
    domain's rate through the denominator)."""
    # an input frame already carrying one of the internal temp columns
    # would otherwise fail with an opaque ambiguous-reference
    # AnalysisException (or worse, the final drop would remove the
    # USER's column)
    check_reserved(
        df.columns, {"_dom", "_thresh", "_n"}, "temperature_mixture_sample"
    )
    counts = df.groupBy("source").agg(F.count(F.lit(1)).alias("_n"))
    denom = F.sum(F.pow(F.col("_n").cast("double"), F.lit(TEMP_TAU))).over(
        Window.partitionBy()
    )
    rates = counts.select(
        "source",
        F.floor(
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(float(TEMP_TARGET))
                    * F.pow(F.col("_n").cast("double"), F.lit(TEMP_TAU))
                    / denom
                    / F.col("_n").cast("double"),
                ),
                TEMPERATURE_RATE_DP,
            )
            * DENOM
        ).cast("long").alias("_thresh"),
    )
    return (
        df.join(
            F.broadcast(rates.withColumnRenamed("source", "_dom")),
            F.col("source").eqNullSafe(F.col("_dom")),
        )
        .drop("_dom")
        .filter(_bucket() < F.col("_thresh"))
        .drop("_thresh")
    )


def temperature_mixture_sql() -> str:
    """DuckDB query reproducing temperature_mixture_sample over
    `documents`."""
    from uc_historic_data_importer_spark.functions.hashes import md5_i64_sql

    h = md5_i64_sql("CAST(doc_id AS VARCHAR)")
    return f"""
      WITH counts AS (
        SELECT source, count(*) AS n FROM documents GROUP BY source
      ),
      rates AS (
        SELECT source,
               CAST(floor(round(least(1.0,
                 {float(TEMP_TARGET)} * pow(n::DOUBLE, {TEMP_TAU})
                 / (sum(pow(n::DOUBLE, {TEMP_TAU})) OVER ())
                 / n::DOUBLE), {TEMPERATURE_RATE_DP}) * {DENOM}) AS BIGINT) AS thresh
        FROM counts
      )
      SELECT t.* FROM documents t
      JOIN rates r ON t.source IS NOT DISTINCT FROM r.source
      WHERE ({h} % {DENOM}) < r.thresh
    """


def kfold_assign(df: DataFrame) -> DataFrame:
    """Stratified N_FOLDS-fold cross-validation assignment: within each
    stratum, rows are ranked by id hash (deterministic shuffle) and
    dealt round-robin into folds — every stratum contributes to every
    fold within +-1 row (exact balance, unlike independent hashing's
    binomial wobble). One shuffle partitioned by stratum; the fold of a
    row depends on the stratum's membership (by construction — balance
    requires it), so use split_assign when growth-stability matters
    more than balance. The stratum is ``source``, the id ``doc_id``."""
    check_reserved(df.columns, {"fold"}, "kfold_assign")
    w = Window.partitionBy("source").orderBy(
        md5_i64(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return df.withColumn(
        "fold",
        ((F.row_number().over(w) - 1) % N_FOLDS).cast("int"),
    )
