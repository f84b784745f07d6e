"""Deduplication operators for large-scale training-data pipelines.

Four families, all engine-portable (shared md5-based hashing so DuckDB
oracles reproduce them bit-for-bit) and all JVM-side Catalyst expressions
— no Python UDFs anywhere:

- exact: hash-groupBy on a content hash (one shuffle on a uniform key).
- n-gram Jaccard: shingle explode + equi-join on shingle + group — the
  exact similarity, quadratic only within shingle buckets.
- MinHash + LSH: signature = min over permuted shingle hashes; band
  buckets -> candidate pairs via a self-join on (band_idx, band_sig).
  At 100 TB this is THE scalable path: cost is linear in corpus size +
  output pairs, never all-pairs.
- SimHash: 64-bit sign-vector of token-hash bit votes; exact-bucket or
  hamming-band grouping.

Scale notes: every join key here (content hash, shingle hash, band
signature) is uniformly distributed by construction, so shuffles are
skew-free; AQE coalesces the small side. For corpora where single hot
shingles explode (stop-shingles), `jaccard_pairs` applies the
MAX_SHINGLE_FREQ cut — the standard df-cut that bounds join fan-out.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from uc_historic_data_importer_spark.functions.hashes import (
    md5_i64,
    perm_constants,
    perm_hash_sql,
)
from uc_historic_data_importer_spark.operators.frames import ensure_parallel
from uc_historic_data_importer_spark.operators.text import tokens_col

# MinHash permutations and LSH bands (rows per band = 16 / 4)
NUM_PERMS, BANDS = 16, 4
# jaccard_pairs' df-cut: shingles shared by more docs are dropped
MAX_SHINGLE_FREQ = 64
SIMHASH_BITS = 32


def exact_dup_groups(df: DataFrame) -> DataFrame:
    """Exact dedup: md5(content) groups with >1 member.

    Returns (text_hash, dup_count, keep_id) where keep_id is the smallest
    id — the deterministic survivor."""
    return (
        df.select(F.md5(F.col("text")).alias("text_hash"), F.col("doc_id"))
        .groupBy("text_hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the tokenized text.

    Documents shorter than n tokens yield an EMPTY shingle set. The
    size guard is load-bearing: Spark's sequence(0, -1) DESCENDS
    ([0, -1]) instead of returning empty, and the -1 index would make
    element_at throw under ANSI mode — a crash that only a sub-n-token
    document triggers, i.e. invisible until real-corpus stragglers hit
    it at scale."""
    if n < 1:
        # n = 0 emits the EMPTY gram ("") at every position -> after
        # array_distinct EVERY document shares the single "" shingle:
        # jaccard_pairs reports jaccard=1.0 for all C(N,2) pairs and the
        # minhash/LSH family puts the whole corpus in one bucket — a
        # silent all-pairs fan-out (probed r13; the token_ngram_topk
        # n=0 class). This guard covers the entire shingle family:
        # doc_shingle_hashes, jaccard_*, minhash_*, lsh_*,
        # ngram_contamination, source_minhash_overlap all route here.
        raise ValueError(f"n must be >= 1 (got {n})")

    # Gram construction is zip_with over n shifted slices of the token
    # array, with the tokenization bound ONCE per row through a
    # single-element transform (lambda variables are evaluated values;
    # plain nested expressions are not CSE'd inside higher-order
    # lambdas). The former sequence+transform+element_at form inlined
    # `tokens_col` into every element_at, re-tokenizing the document
    # once per (gram, position) — the exact O(n_tokens^2) regex
    # pathology token_ngram_topk documents — and profiled ~2x slower
    # even after that (r14 opt round: 0.74 s -> 0.42 s for the shingle
    # stage at sf0.1, identical output bit-for-bit incl. NULL text and
    # sub-n-token docs, pinned by test_shingles_col_edge_cases).
    def _grams_of(tk: Column) -> Column:
        m = F.size(tk) - (n - 1)
        acc = F.slice(tk, 1, m)
        for j in range(1, n):
            acc = F.zip_with(
                acc,
                F.slice(tk, 1 + j, m),
                lambda x, y: F.concat(x, F.lit(" "), y),
            )
        # size < n (incl. NULL text, where size is -1) -> EMPTY set; the
        # when-guard also keeps slice from seeing a negative length
        return F.when(F.size(tk) >= n, acc).otherwise(
            F.expr("CAST(array() AS ARRAY<STRING>)")
        )

    bound = F.transform(F.array(tokens_col(text)), _grams_of)
    return F.array_distinct(F.element_at(bound, 1))


def doc_shingle_hashes(
    df: DataFrame, n: int = 3
) -> DataFrame:
    """(doc_id, shingle_hash) exploded pairs, distinct per doc."""
    return ensure_parallel(df).select(
        F.col("doc_id").alias("doc_id"),
        F.explode(shingles_col(F.col("text"), n)).alias("shingle"),
    ).select("doc_id", md5_i64(F.col("shingle")).alias("h"))


def shingle_coverage_stats(df: DataFrame) -> DataFrame:
    """No-silent-drops accounting for the shingle family: documents
    shorter than 3 tokens produce an EMPTY shingle set and appear
    in NO signature / LSH bucket / jaccard pair — by construction, but
    invisibly. One row (n_docs, n_unshingled_docs, coverage) so a
    pipeline can observe what fraction of the corpus the n-gram dedup
    family actually covered (the short-doc twin of
    jaccard_bucket_stats; route sub-n documents
    through exact_dup_groups, which hashes whole content and covers
    every doc).

    Probes ``size(tokens) < n`` instead of materializing the shingle
    array (r14, verdict item 5): ``size(shingles_col(text, n)) == 0``
    is TRUE iff the document has fewer than n tokens (shingles_col's
    own size guard), but building the full nested-``transform`` gram
    array just to test emptiness cost ~11 s at sf0.1 vs ~0.4 s for the
    token-size probe — identical one-row output, 25x cheaper, and the
    DuckDB oracle (`len(w) < 3`) already used the token-count form."""
    empty = (F.size(tokens_col(F.col("text"))) < 3).cast("long")
    return df.select(F.col("doc_id"), empty.alias("_e")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_e").alias("n_unshingled_docs"),
        F.round(
            1.0 - F.sum("_e") / F.count(F.lit(1)), 6
        ).alias("coverage"),
    )


def _expand_sorted_pairs(buckets: DataFrame) -> DataFrame:
    """All (doc_a < doc_b) pair rows from a frame carrying a SORTED
    id-array column `_ids`. THE shared pair-expansion used by both
    _bucket_pairs and jaccard_pairs — the slice arithmetic must stay
    bit-identical between them, so it lives in exactly one place.

    Two chained generators (posexplode, then explode of the strictly-
    later slice) instead of the former nested transform/flatten/filter
    HOF expression (r15 opt round): Generate nodes run under
    whole-stage codegen, while the nested-lambda HOF tree re-enters the
    expression interpreter per element and per pair struct — measured
    1.61 -> 1.24 s on dedup_ngram_jaccard's 1.27M-pair expansion at
    sf0.1, identical output multiset (the filter keeps dropping the
    doc_a == doc_b rows duplicate ids in `_ids` would produce; later
    slice elements of a sorted array can never be smaller)."""
    step = buckets.select("_ids", F.posexplode("_ids").alias("_i", "doc_a"))
    return step.select(
        "doc_a",
        F.explode(
            F.slice(
                F.col("_ids"),
                (F.col("_i") + F.lit(2)).cast("int"),
                F.greatest(
                    F.size(F.col("_ids")) - F.col("_i") - 1, F.lit(0)
                ).cast("int"),
            )
        ).alias("doc_b"),
    ).filter(F.col("doc_a") < F.col("doc_b"))


def _bucket_pairs(df: DataFrame, *bucket_cols: str) -> DataFrame:
    """(doc_a, doc_b) pairs of docs sharing a bucket, generated JVM-side:
    groupBy bucket -> sorted id array -> all (i < j) combinations via
    nested array transforms. One shuffle of the bucketed rows; fan-out is
    bounded by bucket sizes alone (no cap: see minhash_lsh_pairs)."""
    ids = F.array_sort(F.collect_list("doc_id"))
    return _expand_sorted_pairs(
        df.groupBy(*bucket_cols)
        .agg(ids.alias("_ids"))
        .filter(F.size("_ids") > 1)
    )


def jaccard_pairs(df: DataFrame) -> DataFrame:
    """Exact 3-gram Jaccard similarity pairs (a < b, jaccard >= 0.5).

    |A ∩ B| via shared-shingle buckets; |A|,|B| via per-doc counts over the
    kept shingles; jaccard = common / (na + nb - common). MAX_SHINGLE_FREQ
    drops ultra-common shingles (df-cut, from numerator AND denominator) —
    at corpus scale a shingle shared by k docs costs k^2 pair rows.

    Single-scan shape: the corpus is tokenized/shingled/hashed ONCE, shuffled
    on the shingle hash ONCE into (h -> sorted doc list) buckets; the df-cut,
    the per-doc sizes, and the pair expansion are all derived from that one
    aggregate. The two consumers share an identical Exchange subtree, so
    Spark's ReuseExchange runs the expensive scan+explode exactly once —
    the previous join-based form scanned the corpus 6x.

    The threshold compares against the 6-dp ROUNDED jaccard —
    DELIBERATE, not an oversight: membership must be decided on a value
    both engines reproduce bit-for-bit, and the raw division differs in
    the last ulp across engines (the repo-wide round-before-rank
    convention). A pair whose true jaccard sits within 5e-7 of the
    threshold may therefore land on either side — but it lands on the
    SAME side in Spark and the oracle, which is the property that
    matters."""
    from pyspark.sql.window import Window

    # df-cut BEFORE the list aggregation: a hot shingle's doc list
    # must never materialize (a shingle shared by 10M docs would be
    # a 10M-element aggregation buffer — the OOM the cap exists to
    # prevent). The window and the groupBy share the hash partition
    # on h, so this adds no extra Exchange.
    gram_df = F.count(F.lit(1)).over(Window.partitionBy("h"))
    sh = (
        doc_shingle_hashes(df)
        .withColumn("_df", gram_df)
        .filter(F.col("_df") <= MAX_SHINGLE_FREQ)
        .drop("_df")
    )
    buckets = sh.groupBy("h").agg(F.array_sort(F.collect_list("doc_id")).alias("_ids"))
    # post-cut per-doc shingle counts, computed from the bucket aggregate
    # (cheap: re-runs only the agg over the reused shuffle, not the scan)
    sizes = (
        buckets.select(F.explode("_ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
    )
    common = (
        _expand_sorted_pairs(buckets.filter(F.size("_ids") > 1))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    return (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("common") / (F.col("na") + F.col("nb") - F.col("common")), 6
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_bucket_stats(df: DataFrame) -> DataFrame:
    """No-silent-caps accounting for `jaccard_pairs`'s df-cut: one row
    (kept_buckets, dropped_buckets, dropped_pair_fanout, max_bucket_docs)
    where dropped_pair_fanout = sum over dropped buckets of C(df, 2) —
    the exact number of candidate pairs the cap avoided enumerating.

    The cap is what bounds the audit path's worst case: a pathological
    corpus where every doc is identical puts every shingle in one
    n-doc bucket, so an uncapped run enumerates C(n_docs, 2) pairs per
    shingle. With the cap those buckets are dropped (from numerator AND
    denominator — surviving-shingle Jaccard stays exact) and this frame
    makes the drop observable instead of silent."""
    bs = doc_shingle_hashes(df).groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    dropped = F.col("df") > F.lit(MAX_SHINGLE_FREQ)
    return bs.agg(
        F.count_if(~dropped).alias("kept_buckets"),
        F.count_if(dropped).alias("dropped_buckets"),
        F.coalesce(
            F.sum(F.when(dropped, F.col("df") * (F.col("df") - 1) / 2)),
            F.lit(0.0),
        ).cast("long").alias("dropped_pair_fanout"),
        F.max("df").alias("max_bucket_docs"),
    )


def minhash_signatures(df: DataFrame) -> DataFrame:
    """MinHash signature per doc over its 3-gram shingles: sig_j = min
    over shingles of (a_j * h + b_j) mod (2^61 - 1). One groupBy over
    the exploded shingle hashes; all NUM_PERMS mins computed in the same
    aggregation (map-side partial agg keeps shuffle payload = NUM_PERMS
    longs/doc)."""
    sh = doc_shingle_hashes(df)
    # one F.expr per permutation instead of a Column-operator fold:
    # each Column op is a py4j round-trip and the fold dominated the
    # minhash queries' driver-side build time at bench scale (r14 opt
    # round). perm_hash_sql's text is valid in BOTH engines, so the
    # Spark expression and the DuckDB oracle share one formatter; the
    # parsed AST is node-for-node the old (h*a+b)%p tree.
    aggs = [
        F.expr(f"min({perm_hash_sql(a, b)})").alias(f"mh{j}")
        for j, (a, b) in enumerate(perm_constants(NUM_PERMS))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(df: DataFrame) -> DataFrame:
    """LSH candidate pairs (a < b): docs sharing at least one band.

    band signature = md5 of the band's rows joined — uniform join key.
    Self-join per (band_idx, band_sig) bucket; distinct pairs across
    bands. Cost is linear in docs + bucket collisions, never all-pairs
    — PROBABILISTICALLY: a pathological corpus (mass-identical docs)
    collapses a band bucket to the whole corpus."""
    banded = minhash_band_signatures(df)
    # bucket-local pair expansion (one pass) instead of a banded self-join
    # (two passes over the signature computation + a shuffle join)
    return _bucket_pairs(banded, "band_idx", "band_sig").distinct()


def minhash_band_signatures(df: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_sig): the persistable LSH index rows.

    This is what a production corpus stores (PARTITIONED BY band_idx,
    bucketed by band_sig): incoming batches compute THEIR bands with the
    same constants and equi-join — dedup-against-corpus without ever
    re-reading corpus text (see lsh_join_incremental)."""
    # The banding expression lives in ONE place (_band_signatures_of_sig,
    # r13 unification of the r12 TODO; the former twin implementations
    # were equality-pinned by test_band_signature_paths_agree, which
    # still pins the contract).
    return _band_signatures_of_sig(minhash_signatures(df))


def lsh_join_incremental(new_df: DataFrame, corpus_df: DataFrame) -> DataFrame:
    """(new_id, corpus_id) near-dup candidates of an INCOMING batch
    against an EXISTING corpus — the incremental form of
    minhash_lsh_pairs, and the dedup operation a growing training corpus
    actually runs every day: hash only the new batch, equi-join its band
    signatures against the corpus's stored signature table on the
    uniform (band_idx, band_sig) key. Cost is linear in the batch +
    matches; the corpus text is never re-read (its bands are the
    persisted index), and a batch-side broadcast applies when the daily
    increment is small."""
    nb = minhash_band_signatures(new_df)
    cb = minhash_band_signatures(corpus_df)
    return (
        nb.alias("n")
        .join(cb.alias("c"), ["band_idx", "band_sig"])
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("c.doc_id").alias("corpus_id"),
        )
        .distinct()
    )


def simhash(df: DataFrame) -> DataFrame:
    """SimHash per doc: for each bit position, sum ±1 votes of the
    distinct-token hashes; bit set iff the vote is positive.

    One explode + one groupBy computing all SIMHASH_BITS votes in the
    same aggregation (map-side partial agg; shuffle payload = 32
    ints/doc). The token hash is the shared md5_i64 (60 usable bits).
    Returns (doc_id, simhash)."""
    bits = SIMHASH_BITS
    tok = ensure_parallel(df).select(
        F.col("doc_id").alias("doc_id"),
        F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("w"),
    ).select("doc_id", md5_i64(F.col("w")).alias("h"))
    # The ±1 vote is aggregated as a plain BIT-COUNT: with c = number of
    # set bits and t = token count, vote = c - (t - c) = 2c - t, so
    # "vote > 0" is exactly "2c > t" (ties — 2c = t — stay unset in both
    # forms). Summing the raw bit drops the per-row per-bit when/±1
    # branch from the aggregate loop: 1.6x faster at sf0.1 (2.7 s ->
    # 1.7 s for the signature stage, r14 opt round), bit-identical
    # output (pinned by test_simhash_vote_count_equivalence).
    # Both expression families emitted as parsed SQL text (r14 opt
    # round, the PQ/LSH/HLL builder pattern): the Column-built forms
    # cost ~5,000 py4j round-trips — >1 s of driver time per query
    # before any job ran. Parsed ASTs are node-for-node the old trees
    # (pinned by test_simhash_sql_matches_column).
    counts = [
        F.expr(f"sum(shiftright(h, {b}) & 1)").alias(f"c{b}")
        for b in range(bits)
    ]
    sig = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("t"), *counts)
    acc_sql = " + ".join(
        ["CAST(0 AS BIGINT)"]
        + [
            f"(CASE WHEN ((c{b} * 2) > t) THEN CAST({1 << b} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END)"
            for b in range(bits)
        ]
    )
    return sig.select("doc_id", F.expr(acc_sql).alias("simhash"))


def simhash_buckets(df: DataFrame) -> DataFrame:
    """(simhash, dup_count, keep_id) for buckets with >1 member — exact
    SimHash-collision dedup; hamming-distance banding layers on top the
    same way MinHash-LSH bands do."""
    return (
        simhash(df)
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("dup_count") > 1)
    )


def connected_components(
    pairs: DataFrame,
) -> DataFrame:
    """Collapse near-dup pairs into clusters: (doc_id, component) where
    component = the smallest doc_id reachable through the pair graph —
    the canonical keep-id of the cluster.

    Min-label propagation to fixpoint: each round every node takes the
    min of its own label and its neighbors' labels (one equi-join on the
    edge list + one groupBy — two shuffles per round), and the driver
    stops when a round changes nothing. Rounds needed = graph diameter;
    near-dup graphs are clique-like (LSH links most pair combinations
    directly), so this converges in 2-3 rounds where a general graph
    would want large-star/small-star contraction. `localCheckpoint`
    truncates the per-round lineage so the plan does not grow
    quadratically with rounds.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # Round 1 folded into initialization (r14 opt round): with identity
    # labels, the first join against `labels` is an identity mapping, so
    # comp after round 1 is just least(id, min(neighbor id)) — ONE
    # groupBy over the symmetrized edges instead of join+groupBy+join.
    # The edge list is symmetric, so distinct(dst) == the node set.
    # `_changed` (did this round lower the label?) rides the SAME
    # checkpointed projection: counting it is a scan of the materialized
    # round output, where the former new-vs-old join paid one extra
    # shuffle join per round just to detect convergence. Labels after
    # every round are value-identical to the former code's; only the
    # number of Spark jobs per round changed.
    labels = (
        edges.groupBy(F.col("dst").alias("id"))
        .agg(F.min("src").alias("_nbr"))
        .select(
            "id",
            F.least(F.col("id"), F.col("_nbr")).alias("comp"),
            (F.col("_nbr") < F.col("id")).alias("_changed"),
        )
        .localCheckpoint(eager=True)
    )
    changed = labels.filter("_changed").count()
    labels = labels.drop("_changed")
    for _ in range(19):
        if changed == 0:
            break
        nbr_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.dst, "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                ).alias("comp"),
                (
                    F.coalesce("nbr_comp", F.col("comp")) < F.col("comp")
                ).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("_changed").count()
        labels = new_labels.drop("_changed")
    if changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in 20 rounds "
            f"({changed} labels still changing): the pair graph's diameter "
            "exceeds the round budget. Use connected_components_star "
            "(O(log n) rounds on any graph shape)."
        )
    return labels.select(
        F.col("id").alias("doc_id"), F.col("comp").alias("component")
    )


def connected_components_star(
    pairs: DataFrame,
) -> DataFrame:
    """(doc_id, component) via alternating large-star/small-star edge
    contraction — O(log n) rounds on ANY graph shape, vs. O(diameter)
    for min-label propagation. Use this when dup graphs may be chains
    (transitive near-dup links) rather than LSH-style cliques.

    Each round: large-star points every neighbor v > u at the minimum m
    of N(u) ∪ {u}; small-star points every neighbor v ≤ u (and u) at m.
    Both are one groupBy + one broadcast-free equi-join per step; edges
    monotonically contract toward (node, component-min) stars, and the
    round count is logarithmic in component size (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SOCC'14).
    `localCheckpoint` truncates lineage per round as in
    connected_components.
    """
    from pyspark.sql.window import Window

    # canonical (high, low) edge list, self-loop-free
    edges = (
        pairs.select(
            F.greatest(F.col("doc_a"), F.col("doc_b")).alias("u"),
            F.least(F.col("doc_a"), F.col("doc_b")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("u").alias("doc_id"))
        .union(edges.select("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    # Both stars compute per-u neighborhood minima as WINDOW functions
    # instead of groupBy + join-back (r15 opt round): the join form cost
    # one aggregate exchange plus a join stage per star — and because
    # Catalyst plans a DataFrame referenced twice as recomputation,
    # _small_star's m-aggregate subtree (the whole large-star chain
    # below it) executed TWICE per round, once for `moved` and once for
    # `self_edge`. The window form is one linear chain per round: each
    # star is a single u-partitioned exchange, and small-star emits the
    # moved edge and the self edge from the same row via explode (the
    # duplicate self edges per u are absorbed by the round's final
    # distinct, which already existed). Round outputs are set-identical:
    # min-over-window == the joined groupBy min, and the final distinct
    # makes per-row multiplicity invisible.
    def _large_star(e: DataFrame) -> DataFrame:
        # symmetrized neighborhoods: every strictly-greater neighbor v of
        # u points at m(u) = min(N(u) ∪ {u})
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
        return (
            sym.withColumn("m", m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # edges arrive (high, low); every low neighbor (and u itself)
        # points at the neighborhood minimum
        m = F.min("v").over(Window.partitionBy("u"))
        return (
            e.withColumn("m", m)
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("v").alias("u"), F.col("m").alias("v")
                        ),
                        F.struct(
                            F.col("u").alias("u"), F.col("m").alias("v")
                        ),
                    )
                ).alias("_e")
            )
            .select("_e.u", "_e.v")
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    n_edges = edges.count()
    for _ in range(50):
        contracted = _small_star(_large_star(edges))
        contracted = contracted.localCheckpoint(eager=True)
        # Set-equality test for two DISTINCT edge sets, one anti-join
        # cheaper than the former symmetric pair (r14 opt round):
        # contracted ⊆ edges AND |contracted| == |edges| ⟺ equal. The
        # counts are scans of checkpointed frames; only the subset probe
        # pays a join — and it runs ONLY when the counts agree
        # (different counts already prove the sets differ), which skips
        # the join job in every round but the final one.
        n_contracted = contracted.count()
        if n_contracted == n_edges:
            changed = contracted.join(
                edges, ["u", "v"], "left_anti"
            ).count()
        else:
            changed = 1
        edges = contracted
        n_edges = n_contracted
        if changed == 0:
            break
    else:
        raise RuntimeError(
            "connected_components_star did not converge in 50 "
            "rounds — this should not happen (round count is logarithmic "
            "in component size); inspect the edge list for pathologies."
        )
    # fixpoint edges are (node, component-min) stars; isolated minima
    # label themselves
    comp = edges.select(F.col("u").alias("doc_id"), F.col("v").alias("component"))
    return (
        nodes.join(comp, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
        )
    )


def ngram_contamination(train: DataFrame, test: DataFrame) -> DataFrame:
    """Benchmark-decontamination sweep: train documents sharing any word
    4-gram with the held-out set, with the shared-gram count.

    The canonical eval-leakage check (PaLM/GPT-style n-gram overlap),
    complementing the exact-fingerprint audit in split_decontamination:
    a train document is flagged if ANY of its n-grams appears in ANY
    test document. Plan shape at 100 TB: the test side is an eval
    benchmark — bounded and small by construction — so its distinct gram
    hashes BROADCAST and the sweep over train is a map-side
    BroadcastHashJoin + one (doc, partial-count) aggregation; the
    full-corpus side is never shuffled on the gram key.

    Returns (doc_id, n_contaminated_grams) for flagged train docs only.
    """
    test_grams = doc_shingle_hashes(test, 4).select("h").distinct()
    train_grams = doc_shingle_hashes(train, 4)
    return (
        train_grams.join(F.broadcast(test_grams), "h", "inner")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )


def source_minhash_overlap(df: DataFrame) -> DataFrame:
    """Cross-source overlap matrix: estimated shingle-set Jaccard
    between every pair of sources, from per-source MinHash signatures.

    The governance query behind mixture design ("how much of source A
    is already in source B?") and cross-source contamination audits —
    the corpus-level generalization of the per-document MinHash dedup
    above, using the same engine-portable perm constants.

    Scale shape: ONE scan of the corpus feeding a (source x perm)
    aggregation whose state is NUM_PERMS longs per source — min() is
    duplicate-insensitive, so no DISTINCT materialization of the
    shingle sets is needed. Pair expansion then runs over the LONG
    signature layout (source, perm, min-hash) as an equi-join keyed on
    (perm, min-hash): only agreeing perms ever join (never an
    all-pairs product over sources), and the estimate is
    agreements/NUM_PERMS. Pairs agreeing on zero perms are omitted —
    their estimate is 0.

    Returns (source_a, source_b, agreeing_perms, jaccard_e4) with
    source_a < source_b; jaccard_e4 is the integer-scaled estimate
    (exact, as NUM_PERMS divides 10000)."""
    num_perms = NUM_PERMS
    sh = ensure_parallel(df).select(
        F.col("source").alias("grp"),
        F.explode(shingles_col(F.col("text"), 3)).alias("shingle"),
    ).select("grp", md5_i64(F.col("shingle")).alias("h"))
    # F.expr per permutation — see minhash_signatures for why
    aggs = [
        F.expr(f"min({perm_hash_sql(a, b)})").alias(f"mh{j}")
        for j, (a, b) in enumerate(perm_constants(num_perms))
    ]
    sig = sh.groupBy("grp").agg(*aggs)
    lng = sig.select(
        "grp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), F.col(f"mh{j}").alias("mh")
                    )
                    for j in range(num_perms)
                ]
            )
        ).alias("p"),
    ).select("grp", "p.j", "p.mh")
    a = lng.select(
        F.col("grp").alias("source_a"), F.col("j"), F.col("mh")
    )
    b = lng.select(
        F.col("grp").alias("source_b"), F.col("j"), F.col("mh")
    )
    return (
        a.join(b, ["j", "mh"])
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("agreeing_perms"))
        .select(
            "source_a",
            "source_b",
            F.col("agreeing_perms").cast("long").alias("agreeing_perms"),
            (F.col("agreeing_perms") * F.lit(10000 // num_perms))
            .cast("long")
            .alias("jaccard_e4"),
        )
    )


def best_representative(
    df: DataFrame,
) -> DataFrame:
    """Quality-aware canonical-document selection: group documents by
    canonical fingerprint (sorted distinct token set) and, for every
    cluster with >1 member, pick the highest-quality member (max
    n_chars, ties to the smallest doc_id) as the keeper. Production
    dedup keeps the BEST duplicate, not an arbitrary one — min-id
    selection (dedup_apply) discards longer/cleaner variants.

    Shape: map-side fingerprint -> one shuffle on the fingerprint key
    -> per-cluster row_number window on the same partitioning (no
    second exchange). Cluster keys are content-hash-uniform, so no
    skew; scales linearly."""
    from pyspark.sql import Window

    from uc_historic_data_importer_spark.operators.text import tokens_col

    fp = F.md5(
        F.concat_ws(
            " ", F.array_sort(F.array_distinct(tokens_col(F.col("text"))))
        )
    )
    d = df.withColumn("fingerprint", fp)
    w = Window.partitionBy("fingerprint").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("fingerprint")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count(F.lit(1)).over(wc))
        .filter((F.col("rn") == 1) & (F.col("cluster_size") > 1))
        .select(
            "fingerprint",
            F.col("doc_id").alias("rep_doc_id"),
            "cluster_size",
            F.col("n_chars").alias("rep_quality"),
        )
    )


def _band_signatures_of_sig(sig: DataFrame) -> DataFrame:
    """Band an EXISTING signature frame (doc_id, mh0..mh{n-1}) into
    (doc_id, band_idx, band_sig) rows — the banding half of
    minhash_band_signatures, for callers that already hold (and may
    have checkpointed) the signatures.

    THE single banding implementation since r13 —
    minhash_band_signatures delegates here, so the bit contract (band b
    covers rows [b*rows_per_band, (b+1)*rows_per_band), sig = md5 of
    the comma-joined decimal strings) lives in exactly one place;
    test_band_signature_paths_agree still pins the two entry points
    equal on a fixture."""
    bands = BANDS
    rows_per_band = NUM_PERMS // BANDS
    # one parsed expression per band (py4j-chatter economy, r14 opt
    # round) — the AST matches the former struct(lit, md5(concat_ws))
    # Column fold exactly
    band_cols = []
    for b in range(bands):
        casts = ", ".join(
            f"CAST(mh{b * rows_per_band + r} AS STRING)"
            for r in range(rows_per_band)
        )
        band_cols.append(
            F.expr(
                f"struct({b} AS band_idx, "
                f"md5(concat_ws(',', {casts})) AS band_sig)"
            )
        )
    return sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_sig")


def minhash_jaccard_estimates(df: DataFrame) -> DataFrame:
    """LSH candidate pairs WITH their MinHash Jaccard estimate —
    matching signature components / num_perms (the Broder estimator,
    what production LSH dedup thresholds on before any text re-read).

    The signatures are computed ONCE and consumed twice (banded pair
    generation + component comparison) via a self-join of the
    signature frame on the candidate ids: signature rows are
    num_perms longs per doc, so both joins stay narrow and the corpus
    text is never re-shingled. est_bp is integer basis points —
    exact integer arithmetic, no float hashing concerns.

    Output: (doc_a, doc_b, matches, est_bp), a < b."""
    # localCheckpoint: every consumer below — the banded pair
    # generation AND both signature-join sides — reads the ONE
    # materialized num_perms-longs-per-doc frame instead of replanning
    # the shingle+hash+min chain (Catalyst plans each differently-
    # aliased projection as a full recomputation; pre-r12 this query
    # computed the signature chain three times, 13.7 s of which the
    # chain was ~2x5.8 s at sf1). At 100 TB the signature table is the
    # persisted LSH index anyway (minhash_band_signatures doc).
    num_perms = NUM_PERMS
    sig = minhash_signatures(df).localCheckpoint(eager=False)
    pairs = _bucket_pairs(
        _band_signatures_of_sig(sig),
        "band_idx",
        "band_sig",
    ).distinct()
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(num_perms)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(num_perms)],
    )
    # one parsed CASE-WHEN chain instead of a 16-term Column fold
    # (py4j-chatter economy, r14 opt round; AST unchanged)
    matches_sql = " + ".join(
        f"(CASE WHEN a{j} = b{j} THEN 1 ELSE 0 END)"
        for j in range(num_perms)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(f"CAST(({matches_sql}) AS INT)").alias("matches"),
            # floor-div in BOTH engines: Spark's int cast truncates but
            # DuckDB's rounds, so the floor must be explicit
            F.expr(
                f"CAST(floor((({matches_sql}) * 10000) / {num_perms})"
                " AS INT)"
            ).alias("est_bp"),
        )
    )
