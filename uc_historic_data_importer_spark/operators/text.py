"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure Catalyst expressions (JVM-side, whole-stage
codegen) over the `documents` table shape (doc_id, text, lang, source,
n_chars) — no Python in the hot path. Tokenization is a shared,
engine-portable convention (lower + split on non-alphanumeric) so DuckDB
oracles reproduce results exactly.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from uc_historic_data_importer_spark.functions.hashes import md5_i64
from uc_historic_data_importer_spark.operators.frames import (
    check_reserved,
    ensure_parallel,
)

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# small deterministic stopword list shared with oracles
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

# marker words per language for the n-gram/marker language-ID heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "et", "les", "des"),
}


def tokens_col(text: Column) -> Column:
    """lowercased alphanumeric tokens, empties removed."""
    return F.array_remove(F.split(F.lower(text), TOKEN_SPLIT_RE), "")


# tokens_col over `text` as DuckDB SQL (the catalog oracles' tokenizer)
TOKENS_SQL = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x != '')"
)


# word-segment width (tokens) of the segment dedup operators, and the
# stride-1 window width of exact substring dedup
SEGMENT_K = 10
SPAN_K = 8
# read by each operator and its DuckDB oracle: bm25_topk's term
# saturation k1, length normalization b and result count;
# fuzzy_match_pairs' Levenshtein bound, gram width and gram df-cut;
# winnowing_fingerprints' gram width (tokens) and window (hashes)
BM25_K1, BM25_B, BM25_TOPK = 1.2, 0.75, 10
FUZZY_MAX_DIST, FUZZY_Q, FUZZY_MAX_GRAM_DF = 3, 3, 200
WINNOW_K, WINNOW_W = 4, 5


def with_tokens(df: DataFrame) -> DataFrame:
    """Append ``tokens`` / ``n_tokens`` derived from ``text``.

    HARD-ERROR CONTRACT (r12 guard, disposition recorded per ADVICE
    r12): an input that ALREADY has tokens/n_tokens columns raises,
    even though recomputing from text would be value-identical for
    frames this function itself produced. Chained callers (e.g. feeding
    a with_tokens-derived frame into token_counts/quality_scores, which
    call with_tokens internally) must drop tokens/n_tokens first. The
    uniform raise is deliberate: exempting this one guard would make
    "collides with internal names" mean two different things across the
    text operators, and a caller whose tokens column came from ANOTHER
    tokenizer would be silently re-tokenized instead of told."""
    check_reserved(df.columns, {"tokens", "n_tokens"}, "with_tokens")
    return df.withColumn("tokens", tokens_col(F.col("text"))).withColumn(
        "n_tokens", F.size("tokens")
    )


def token_counts(df: DataFrame) -> DataFrame:
    """Whitespace/regex token counting rolled up per group — the unit-economics
    query of a training-data pipeline (tokens per source/shard)."""
    toks = with_tokens(df)
    return toks.groupBy("source").agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
    )


def quality_scores(df: DataFrame) -> DataFrame:
    """Heuristic document-quality features: length, mean token length,
    stopword ratio, non-alphanumeric (punct/space) ratio. Deterministic,
    SQL-expressible; the composite score is a simple monotone blend."""
    d = with_tokens(df)
    text = F.col("text")
    n_chars = F.length(text)
    alnum_chars = F.length(F.regexp_replace(F.lower(text), TOKEN_SPLIT_RE, ""))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter("tokens", lambda w: F.array_contains(stop_arr, w)))
    stop_ratio = F.round(n_stop / F.greatest(F.col("n_tokens"), F.lit(1)), 6)
    punct_ratio = F.round((n_chars - alnum_chars) / F.greatest(n_chars, F.lit(1)), 6)
    mean_tok_len = F.round(
        alnum_chars / F.greatest(F.col("n_tokens"), F.lit(1)), 6
    )
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        F.col("n_tokens"),
        stop_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        mean_tok_len.alias("mean_token_len"),
    )


def language_id(df: DataFrame) -> DataFrame:
    """Marker-word language ID: score = count of language-marker tokens;
    argmax with deterministic tiebreak (higher score, then language code
    ascending); all-zero -> 'und'."""
    d = with_tokens(df)
    scores = []
    for lang, markers in sorted(LANG_MARKERS.items()):
        arr = F.array(*[F.lit(m) for m in markers])
        score = F.size(F.filter("tokens", lambda w: F.array_contains(arr, w)))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    # greatest over (score, lang) structs compares lexicographically:
    # highest score wins; ties break to the alphabetically-LAST lang code
    # (deterministic, mirrored in the DuckDB oracle's CASE order)
    best = F.greatest(*scores)
    pred = F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))
    return d.select("doc_id", pred.alias("predicted_lang"))


def tf_idf_top_terms(df: DataFrame) -> DataFrame:
    """Top-3 characteristic terms per document by smoothed TF-IDF.

    idf = ln((N+1)/(df+1)) + 1 (sklearn-style smoothing: never zero,
    never divides by zero). Ranking uses the ROUNDED score plus a token
    tiebreak so the cut at 3 is deterministic across engines.

    Plan shape at scale: one explode + (doc,token) partial-agg shuffle;
    document frequency is a count-over-token WINDOW on that same
    aggregate — not a second groupBy whose lineage would re-scan the
    corpus (Catalyst plans DataFrame reuse as recomputation unless the
    exchange happens to be reused). The corpus parquet is read once
    with real columns, plus one metadata-only count scan for N.
    """
    from pyspark.sql import Window

    toks = with_tokens(ensure_parallel(df))
    tf = (
        toks.select("doc_id", F.explode("tokens").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("token"))
    scored = (
        tf.withColumn("df", dfreq)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1.0))
                        / (F.col("df") + F.lit(1.0))
                    )
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("token")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "tfidf", F.col("rk").alias("term_rank"))
    )


# PII patterns restricted to syntax shared by Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repetition, \b word boundary.
# No lookaround — RE2 has none.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
}

# redaction order is part of the contract: email first (an address may
# contain digits that would otherwise half-match the numeric patterns),
# then ipv4, then phone
PII_ORDER = ("email", "ipv4", "phone")


def pii_scrub(df: DataFrame) -> DataFrame:
    """Count and redact PII spans (email / IPv4 / NANP phone) — the
    mandatory scrub pass of a training-data pipeline.

    Pure JVM regexp expressions (regexp_count + regexp_replace chain),
    map-only, whole-stage codegen; patterns are dialect-portable so the
    DuckDB oracle reproduces counts and redacted text byte-for-byte.
    Adds n_<kind> count columns and a `redacted` column; original text
    column is preserved for audit."""
    check_reserved(
        df.columns, {f"n_{k}" for k in PII_ORDER} | {"redacted"}, "pii_scrub"
    )
    out = df
    red = F.col("text")
    for kind in PII_ORDER:
        pat = PII_PATTERNS[kind]
        out = out.withColumn(
            f"n_{kind}", F.regexp_count(F.col("text"), F.lit(pat))
        )
        red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
    return out.withColumn("redacted", red)


def repetition_scores(df: DataFrame) -> DataFrame:
    """Within-document repetition metrics: distinct-token ratio and
    duplicate-bigram ratio (Gopher-style repetition signals).

    Zero shuffle: bigrams are built with array higher-order functions
    (sequence + transform + element_at) and deduplicated with
    array_distinct — all inside whole-stage codegen, no explode, no
    (doc, ngram) blow-up row count. The size(w) >= 2 guard matters:
    Spark's sequence(1, 0) DESCENDS ([1, 0]) rather than returning
    empty, so short documents must bypass the bigram build."""
    d = with_tokens(df)
    w = F.col("tokens")
    n = F.col("n_tokens")
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(w, i), F.element_at(w, i + 1)
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    d = d.withColumn("bigrams", bigrams)
    nb = F.size("bigrams")
    ndb = F.size(F.array_distinct(F.col("bigrams")))
    token_div = F.round(
        F.size(F.array_distinct(w)) / F.greatest(n, F.lit(1)), 6
    )
    big_rep = F.when(
        nb > 0, F.round(F.lit(1.0) - ndb / nb, 6)
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        nb.alias("n_bigrams"),
        token_div.alias("distinct_token_ratio"),
        big_rep.alias("dup_bigram_ratio"),
    )


def fingerprints(df: DataFrame) -> DataFrame:
    """Document fingerprint: md5 over the sorted distinct token set — the
    canonical-form dedup key (word-order- and repetition-insensitive)."""
    d = with_tokens(df)
    fp = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(F.col("tokens")))))
    return d.select("doc_id", fp.alias("fingerprint"))


# GPT-2-style pretokenizer (public pattern family: contraction suffixes,
# space-prefixed letter runs / digit runs / punctuation runs, whitespace).
# Expressed with constructs RE2 (DuckDB) and java.util.regex (Spark)
# evaluate identically — leftmost-first alternation, ASCII classes — so
# the oracle reproduces piece boundaries exactly.
BPE_SPLIT_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_pieces_col(text: Column) -> Column:
    """BPE-ish pretokenizer pieces of the raw (case-preserved) text,
    whitespace-only pieces removed (ALL whitespace — `trim` strips
    spaces only and would let a tab-run count as a token) — the
    standard proxy for 'how many tokens will the tokenizer emit' when
    the merge table isn't in play. Pure codegen `regexp_extract_all`;
    no Python, no shuffle."""
    return F.filter(
        F.regexp_extract_all(text, F.lit(BPE_SPLIT_RE), F.lit(0)),
        lambda p: ~p.rlike(r"^\s*$"),
    )


def encoded_ids_udf(encode):
    """Wrap a tiktoken/HF-shaped ``encode: str -> list[int]`` callable
    into an Arrow-batched pandas UDF returning ``array<long>`` token
    ids — the REAL-tokenizer injection point for the token family (the
    text twin of multimodal.extract_features' ``decoder`` seam).

    ``encode`` is cloudpickled into the Arrow workers, so it must be
    importable or self-contained; for tiktoken pass
    ``tiktoken.get_encoding("cl100k_base").encode`` (or the HF
    equivalent ``tok.encode``) wrapped in a module-level function.
    Contract: NULL text maps to NULL ids; everything else about the
    consuming plans — schema, partitioning, aggregation shape — is
    unchanged, which is what makes the production swap a one-argument
    change. The BPE-ish regex default stays the ORACLE tokenizer
    (deterministic, engine-portable, SQL-replayable)."""

    @F.pandas_udf("array<long>")
    def _ids(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: [int(i) for i in encode(t)] if t is not None else None
        )

    return _ids


def token_count_col(text: Column, encode=None) -> Column:
    """Token count of ``text``: under the injected real tokenizer when
    ``encode`` is given (Arrow-batched), else the BPE-ish pretokenizer
    (pure codegen, the oracle default)."""
    if encode is None:
        return F.size(bpe_pieces_col(text))
    return F.size(encoded_ids_udf(encode)(text))


def bpe_token_stats(
    df: DataFrame, encode=None
) -> DataFrame:
    """Per-group BPE-piece vs whitespace-token unit economics: total
    pieces, total whitespace tokens, and the mean per-doc pieces/word
    blowup ratio (the fertility estimate that sizes a training run).
    Map-only tokenization + one groupBy on the (low-cardinality) group
    key. ``encode`` injects a real tokenizer (encoded_ids_udf seam);
    the default stays the codegen BPE-ish pretokenizer."""
    ws = tokens_col(F.col("text"))
    base = df.select(
        F.col("source"),
        token_count_col(F.col("text"), encode).alias("n_bpe"),
        F.size(ws).alias("n_ws"),
    )
    return base.groupBy("source").agg(
        F.sum("n_bpe").alias("total_bpe_tokens"),
        F.sum("n_ws").alias("total_ws_tokens"),
        # Fertility is reported as an integer-scaled value (mean * 1e4,
        # rounded) rather than a rounded DOUBLE: BIGINT renders
        # identically across engines, while a rounded double's last ulp
        # can differ between Spark and an external oracle.
        F.round(
            F.avg(
                F.when(
                    F.col("n_ws") > 0,
                    F.col("n_bpe").cast("double") / F.col("n_ws"),
                )
            )
            * 10000
        )
        .cast("long")
        .alias("avg_fertility_e4"),
    )


def _segments() -> Column:
    """The consecutive non-overlapping SEGMENT_K-token windows of the
    ``tokens`` column (``n_tokens`` long), each joined by spaces; the
    trailing short window is kept."""
    k = SEGMENT_K
    nseg = F.ceil(F.col("n_tokens") / F.lit(float(k))).cast("int")
    # guard: sequence(0, -1) DESCENDS in Spark rather than returning
    # empty, so zero-token documents must bypass the window build
    return F.when(
        nseg > 0,
        F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda i: F.concat_ws(" ", F.slice("tokens", i * k + 1, F.lit(k))),
        ),
    ).otherwise(F.array().cast("array<string>"))


def word_segments(df: DataFrame) -> DataFrame:
    """(id, seg_no, segment): consecutive non-overlapping SEGMENT_K-token windows
    of the normalized token stream — the corpus's "line" analogue for
    line/paragraph-level dedup (RefinedWeb/CCNet-style) when documents
    carry no newline structure. The trailing short window is kept.

    Pure codegen segmentation (sequence + transform + slice) followed by
    one posexplode; output rows ≈ tokens/k, so the blow-up is bounded
    and linear in corpus size."""
    return with_tokens(df).select(
        "doc_id", F.posexplode(_segments()).alias("seg_no", "segment")
    )


def segment_dup_stats(df: DataFrame) -> DataFrame:
    """Per-document cross-document segment duplication: n_segments,
    dup_segments (positions whose SEGMENT_K-token segment also appears in at
    least one OTHER document), and dup_ratio in basis points (floor of
    10000*dup/n — integer-rendered, engine-portable).

    Plan shape at scale: explode -> partial-agg groupBy(segment) for
    distinct-doc counts -> shuffle join back on the uniform segment key
    -> groupBy(id). Every key is content-hash-uniform; nothing is
    all-pairs. This is the standard two-pass line-dedup shape used on
    web-scale corpora."""
    segs = word_segments(df)
    per_seg = segs.groupBy("segment").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    joined = segs.join(per_seg, "segment")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias(
            "dup_segments"
        ),
    ).select(
        "doc_id",
        "n_segments",
        "dup_segments",
        F.floor(
            F.lit(10000) * F.col("dup_segments") / F.col("n_segments")
        ).alias("dup_ratio_bp"),
    )


def boilerplate_segments(df: DataFrame, top_n: int | None = None) -> DataFrame:
    """Boilerplate mining: SEGMENT_K-token segments appearing in >= 3
    distinct documents (headers/footers/nav chrome in a real corpus),
    with distinct-doc and total-occurrence counts. The output is the
    removal list a cleaning pass anti-joins against — tiny relative to
    the corpus, so the apply side is a broadcast anti-join.

    ``top_n`` caps the list at the N most widespread segments
    (n_docs DESC, n_occurrences DESC, segment ASC — deterministic), via
    TakeOrdered, no global sort. Callers that COLLECT the list (to
    inline it as a literal) must pass it: an
    absolute distinct-document threshold is unbounded on a high-duplication
    corpus (a 90%-duplicate corpus makes nearly every segment
    'boilerplate'), and the sf1 soak showed exactly that blow-up.

    Single groupBy on the content-uniform segment key; no joins."""
    if top_n is not None and top_n < 1:
        raise ValueError(f"boilerplate_segments: top_n must be >= 1, got {top_n}")
    segs = word_segments(df)
    out = (
        segs.groupBy("segment")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 3)
    )
    if top_n is not None:
        out = out.orderBy(
            F.desc("n_docs"), F.desc("n_occurrences"), F.asc("segment")
        ).limit(top_n)
    return out


def relative_quality_filter(df: DataFrame) -> DataFrame:
    """Per-source RELATIVE quality gate (Gopher-style): within each
    source, drop the bottom quarter of documents by token count, reporting kept/dropped counts per source. Absolute
    thresholds misfire when sources have different length profiles;
    ranking within the source is the standard fix.

    percent_rank over (source; score, id) — deterministic tiebreak by
    id so the cut is reproducible across engines. One shuffle on the
    low-cardinality source key; rank is computed per partition group.
    At 100 TB the same shape works because the window key is the
    source shard, not the document."""
    from pyspark.sql import Window

    check_reserved(df.columns, {"pr"}, "relative_quality_filter")
    d = with_tokens(df)
    w = Window.partitionBy("source").orderBy(F.col("n_tokens"), F.col("doc_id"))
    ranked = d.withColumn("pr", F.percent_rank().over(w))
    kept = F.when(F.col("pr") >= 0.25, 1).otherwise(0)
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept).alias("n_kept"),
        (F.count(F.lit(1)) - F.sum(kept)).alias("n_dropped"),
    )


def segment_clean_docs(df: DataFrame, boilerplate: list[str]) -> DataFrame:
    """Remove boilerplate SEGMENT_K-token segments from each document and
    reassemble the cleaned text — MAP-ONLY, so it runs unchanged under
    Structured Streaming (no stateful agg, no watermark: the removal
    list is a build-time artifact like a PQ codebook, inlined as a
    literal array).

    For removal lists too large to inline (>~10^5 segments at 100 TB),
    the batch shape is explode -> broadcast anti-join -> re-agg; the
    streaming shape swaps the literal for a Bloom filter of the list.
    Adds n_segments / n_removed / cleaned_text; empty cleaned docs get
    ''.

    Membership dispatch:

    - small lists (<= 64) stay a PLAIN array_contains over the string
      literal array — pure codegen, no Python round trip to amortize.
    - larger lists route through an Arrow-batched pandas UDF over a
      precompiled frozenset: O(1) hash probe per segment instead of
      up-to-5000 codegen string compares; the list ships once per
      worker in the closure, like a broadcast. Measured round 7 at the
      sf1 soak (5000-entry list, 50k docs, ~750k segments, min-of-3;
      HISTORY.md, round 7, "segment_cleaned_corpus: 16x"): 22.9 s
      literal vs 1.4 s set — 16x. Results are IDENTICAL (membership is
      exact either way), so
      the dispatch is purely a cost choice and the DuckDB oracle
      replays both branches bit-for-bit.

    In-plan alternatives measured and rejected round 6 (same soak):
    md5-hash + long-array scan + string confirm 1.5x slower than the
    literal, F.aggregate-folded binary search 1.3x slower — don't
    re-litigate those; for removal lists past ~10^5 the broadcast
    anti-join above remains the real upgrade."""
    # the output re-selects *df.columns, so a collision here EMITS the
    # internal temp under the user's column name (probed r12)
    check_reserved(df.columns, {"_segs", "_kept"}, "segment_clean_docs")
    toks = with_tokens(df)
    if len(set(boilerplate)) > 64:
        bset = frozenset(boilerplate)

        @F.pandas_udf("array<string>")
        def _keep(col: pd.Series) -> pd.Series:
            return col.map(
                lambda ss: None
                if ss is None
                else [s for s in ss if s not in bset]
            )

        kept = _keep(F.col("_segs"))
    else:
        bp = F.array(*[F.lit(s) for s in sorted(set(boilerplate))])
        kept = F.filter("_segs", lambda s: ~F.array_contains(bp, s))
    d = toks.withColumn("_segs", _segments()).withColumn("_kept", kept)
    return d.select(
        *df.columns,
        F.size("_segs").alias("n_segments"),
        (F.size("_segs") - F.size("_kept")).alias("n_removed"),
        F.concat_ws(" ", F.col("_kept")).alias("cleaned_text"),
    )


def sliding_windows(df: DataFrame) -> DataFrame:
    """(id, pos, gram): every stride-1 SPAN_K-token sliding window of the
    normalized token stream (pos = 0-based start token index). The
    substring-dedup analogue of `word_segments` (which strides by its
    width): stride 1 is what makes duplicate detection EXACT at k-token
    granularity rather than alignment-dependent.

    Output rows ~= n_tokens per document (linear blow-up); each gram is
    k joined tokens, kept as text so external oracles replay exact
    semantics."""
    k = SPAN_K
    toks = with_tokens(ensure_parallel(df))
    nwin = F.col("n_tokens") - F.lit(k) + 1

    def gram_of(i):
        return F.concat_ws(" ", F.slice("tokens", i + 1, F.lit(k)))

    # guard: sequence(0, -1) DESCENDS in Spark rather than returning
    # empty, so short documents must bypass the window build
    wins = F.when(
        nwin > 0,
        F.transform(F.sequence(F.lit(0), nwin - 1), gram_of),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select("doc_id", F.posexplode(wins).alias("pos", "gram"))


def duplicate_spans(df: DataFrame) -> DataFrame:
    """Exact substring-level duplicate spans (the ExactSubstr dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): every MAXIMAL token run whose stride-1 k-token windows
    each occur at least twice corpus-wide (counting all
    occurrences, including within the same document). Returns one row
    per maximal span: (id, span_start, span_end, span_len) with
    span_end exclusive; overlapping duplicated windows are merged by a
    gaps-and-islands pass, so spans never overlap and a duplicated run
    of any length >= k is reported once.

    Plan shape at scale (r10 rework): linear explode -> ONE shuffle on
    the content-uniform gram key with a partition-count window
    (count(*) OVER (PARTITION BY gram)) -> filter -> one window +
    groupBy per (doc, island) on the doc_id partitioning. The previous
    groupBy(gram)+join-back shape computed AND shuffled the exploded
    window relation twice (the aggregate branch and the probe branch
    are different subtrees, so ReuseExchange cannot merge them);
    the window form halved the sf1 wall clock (17.2 -> 9.6 s,
    local[32], min-of-1 on a like-for-like box). Nothing is all-pairs:
    a gram's window group is its true occurrence list, and a
    degenerate hot gram (one window text repeated across the corpus)
    sorts/spills inside one partition — the same key-locality the old
    join had. This is the suffix-array dedup's distributed
    approximation — at k-token window resolution the detected spans
    are exactly the suffix-array duplicates of length >= k."""
    from pyspark.sql import Window

    k = SPAN_K
    wins = sliding_windows(df)
    n_occ = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    dwin = (
        wins.withColumn("_n_occ", n_occ)
        .filter(F.col("_n_occ") >= 2)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    # stride-1 windows sorted by pos: the covered prefix ends at
    # lag(pos)+k, so a new span starts exactly when pos > lag(pos)+k
    # (NULL lag -> otherwise(0): the first window opens island 0)
    isl = F.sum(
        F.when(F.col("pos") > F.lag("pos").over(w) + k, 1).otherwise(0)
    ).over(w)
    return (
        dwin.withColumn("_island", isl)
        .groupBy("doc_id", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k)).alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"),
        )
    )


def remove_duplicate_spans(df: DataFrame) -> DataFrame:
    """Apply side of exact substring dedup: cut every duplicated span
    (from `duplicate_spans`) out of every document and reassemble the
    kept text. Policy: ALL occurrences are removed (conservative
    over-removal — the standard choice when the cut material is
    boilerplate/contamination; keeping one canonical occurrence would
    need a global first-occurrence rank per gram, which the span merge
    makes ill-defined across partially-overlapping runs).

    Per doc: n_tokens, dup_tokens (sum of span lengths — spans are
    disjoint by construction, so this is exact), kept_tokens, and the
    reassembled kept_text. The span list per document is tiny (bounded
    by n_tokens/k), so the reconstruction is an array-HOF filter over
    token positions — pure codegen, no Python, no extra shuffle beyond
    the span aggregation's doc_id exchange (reused by the join)."""
    check_reserved(
        df.columns, {"_spans", "_dup", "_kept_idx"}, "remove_duplicate_spans"
    )
    spans = duplicate_spans(df)
    agg = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans"),
        F.sum("span_len").alias("_dup"),
    )
    toks = with_tokens(df)
    j = toks.join(agg, "doc_id", "left")
    idx = F.when(
        F.col("n_tokens") > 0,
        F.sequence(F.lit(0), F.col("n_tokens") - 1),
    ).otherwise(F.array().cast("array<int>"))
    kept_idx = F.when(F.col("_spans").isNull(), idx).otherwise(
        F.filter(
            idx,
            lambda i: ~F.exists(
                F.col("_spans"),
                lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
            ),
        )
    )
    d = j.withColumn("_kept_idx", kept_idx)
    return d.select(
        "doc_id",
        F.col("n_tokens"),
        F.coalesce(F.col("_dup"), F.lit(0)).alias("dup_tokens"),
        F.size("_kept_idx").alias("kept_tokens"),
        F.concat_ws(
            " ",
            F.transform("_kept_idx", lambda i: F.element_at("tokens", i + 1)),
        ).alias("kept_text"),
    )


def bm25_topk(df: DataFrame, query_terms: list[str]) -> DataFrame:
    """BM25 ranked keyword retrieval (Robertson/Sparck Jones; the Lucene
    scoring shape): score(d) = sum_t idf(t) * tf*(k1+1) / (tf + k1*((1-b)
    + b*dl/avgdl)), idf = ln((N - df + 0.5)/(df + 0.5) + 1). Returns the
    top BM25_TOPK (id, bm25) with score rounded to 6 dp BEFORE ranking (ties
    break on id) so libm ln() ulp noise cannot flip ranks cross-engine.

    Plan shape: corpus statistics (N, avgdl, per-term df) are ONE
    aggregate over one scan, broadcast back as a 1-row frame — never a
    driver collect; per-document tf is an array-HOF count (map-only, no
    explode, no shuffle); the final top-k is TakeOrderedAndProject. Two
    scans total regardless of query length; at 100 TB the stats frame
    is the per-query bounded artifact (|terms|+2 numbers), the same
    pattern as the PQ codebooks."""
    terms = list(dict.fromkeys(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    # Terms must already be in token form (the tokenizer emits lowercase
    # alphanumerics): an uppercase/punctuated term can never match a
    # token and would silently score 0 everywhere.
    bad = [x for x in terms if not re.fullmatch(r"[a-z0-9]+", x)]
    if bad:
        raise ValueError(
            f"query terms must match [a-z0-9]+ (tokenizer output form): {bad}"
        )
    toks = with_tokens(ensure_parallel(df))
    aggs = [
        F.count(F.lit(1)).cast("double").alias("_N"),
        F.avg("n_tokens").alias("_avgdl"),
    ]
    for i, term in enumerate(terms):
        aggs.append(
            F.sum(F.array_contains("tokens", term).cast("int"))
            .cast("double")
            .alias(f"_df_{i}")
        )
    stats = toks.agg(*aggs)
    j = toks.crossJoin(F.broadcast(stats))
    score = None
    for i, term in enumerate(terms):
        tf = F.size(
            F.filter("tokens", lambda x: x == F.lit(term))
        ).cast("double")
        dfi = F.col(f"_df_{i}")
        idf = F.log(
            (F.col("_N") - dfi + F.lit(0.5)) / (dfi + F.lit(0.5)) + F.lit(1.0)
        )
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B)
            + (F.lit(BM25_B) * F.col("n_tokens")) / F.col("_avgdl")
        )
        s = idf * tf * F.lit(BM25_K1 + 1.0) / denom
        score = s if score is None else score + s
    out = j.select("doc_id", F.round(score, 6).alias("bm25"))
    return (
        out.filter(F.col("bm25") > 0)
        .orderBy(F.desc("bm25"), F.col("doc_id"))
        .limit(BM25_TOPK)
    )


def dedup_segments_within_doc(df: DataFrame) -> DataFrame:
    """WITHIN-document repeated-segment removal (the CCNet/RefinedWeb
    in-doc cleaning step — scraped pages repeat nav blocks and list
    items inside one document): keep the FIRST occurrence of each
    SEGMENT_K-token segment, drop later repeats, reassemble the cleaned text.

    Entirely map-only — segmentation, first-occurrence filter
    (array_position == own index), and reassembly are array HOFs on the
    row itself, so there is NO shuffle and the operator runs unchanged
    under Structured Streaming (same property as segment_clean_docs,
    whose removal list is corpus-mined instead of intra-doc). The
    cross-document complement is segment_dup_stats / boilerplate.
    Per-doc cost is O(n_segments²) comparisons inside codegen — bounded
    by (tokens/SEGMENT_K)², negligible against the scan."""
    d = with_tokens(df).withColumn("_segs", _segments()).withColumn(
        "_kept",
        F.filter(
            "_segs",
            lambda s, i: F.array_position(F.col("_segs"), s) == i + 1,
        ),
    )
    return d.select(
        "doc_id",
        F.size("_segs").alias("n_segments"),
        (F.size("_segs") - F.size("_kept")).alias("n_removed"),
        F.concat_ws(" ", F.col("_kept")).alias("cleaned_text"),
    )


def winnowing_fingerprints(df: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-token gram (k =
    WINNOW_K), slide a w-hash window (w = WINNOW_W), select each
    window's minimum hash (leftmost position on ties — a fixed rule so
    engines agree), and emit the DISTINCT
    (position, fingerprint) pairs per document. Guarantee: any match of
    length >= w + k - 1 tokens between two documents shares at least
    one fingerprint — the bounded-density local sampling that beats
    both full-gram sets (too big) and modulo sampling (no guarantee).

    Documents shorter than one window still fingerprint (one window
    over all their grams); empty/sub-k documents emit nothing.

    Entirely map-only: gram hashing, the window-min selection, and
    dedup are array HOFs on the row; the only fan-out is the final
    posexplode (<= one row per gram, typically ~2/w of that). Downstream
    groupBy(fingerprint) is the plagiarism/overlap join key."""
    k, w = WINNOW_K, WINNOW_W
    toks = with_tokens(ensure_parallel(df))
    m = F.col("n_tokens") - F.lit(k) + 1  # gram count
    grams = F.when(
        m > 0,
        F.transform(
            F.sequence(F.lit(0), m - 1),
            lambda i: md5_i64(
                F.array_join(F.slice("tokens", i + 1, F.lit(k)), " ")
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
    # Filter on the CHEAP token count, not size(_h) — a size(_h) > 0
    # predicate would re-evaluate the entire md5 gram array once for
    # the filter and once for the projection (profiled 6x slower;
    # filter predicates don't share subexpressions with project HOFs).
    # n_tokens >= k <=> m > 0 <=> size(_h) > 0.
    g = toks.filter(F.col("n_tokens") >= k).withColumn("_h", grams)
    # Sliding-window min over the PRIMITIVE hash array — array<bigint>
    # stays Tungsten-specialized (UnsafeArrayData), which profiling
    # showed is the whole game: the previous array<struct<fp,pos>>
    # formulation spent ~4.4 of 4.9 s just materializing boxed struct
    # arrays. Sparse-table doubling gives O(m log w) instead of the
    # naive O(m*w): after P passes _st[i] = min(_h[i .. i+2^P-1])
    # (truncated at the array end), each pass one O(m) zip_with against
    # the array shifted by 2^(P-1); a w-window is then the min of two
    # overlapping power-of-2 ranges. F.least skips the null padding
    # zip_with introduces past the shifted end.
    st = g.withColumn("_st", F.col("_h"))
    shift = 1
    while shift * 2 <= w:
        st = st.withColumn(
            "_st",
            F.zip_with(
                "_st",
                F.slice("_st", shift + 1, F.size("_st")),
                lambda a, b: F.least(a, b),
            ),
        )
        shift *= 2
    comb = w - shift  # second-range offset; 0 when w is a power of 2

    def win_pos(j):
        v = F.least(
            F.element_at(F.col("_st"), j + 1),
            F.element_at(
                F.col("_st"), F.least(j + 1 + F.lit(comb), F.size("_st"))
            ),
        )
        # leftmost position of the window min — first match in the
        # window slice IS the tie rule (slice truncates on short docs,
        # so a sub-window doc yields one window over all its grams)
        return (j + F.array_position(F.slice("_h", j + 1, F.lit(w)), v) - 1).cast(
            "int"
        )

    # window starts 0..max(m-w, 0); distinct POSITIONS are distinct
    # (pos, fingerprint) pairs since fp is a function of pos, so dedup
    # happens on a primitive int array and structs are only built for
    # the ~2m/w survivors.
    sel = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_h") - w, F.lit(0))),
        win_pos,
    )
    fps = F.transform(
        F.array_distinct(sel),
        lambda p: F.struct(
            p.alias("pos"), F.element_at("_h", p + 1).alias("fp")
        ),
    )
    ex = st.select("doc_id", F.explode(fps).alias("_s"))
    return ex.select(
        "doc_id",
        F.col("_s.pos").alias("pos"),
        F.col("_s.fp").alias("fingerprint"),
    )


def fuzzy_match_pairs(df: DataFrame) -> DataFrame:
    """String-similarity (fuzzy entity-matching) self-join: all
    ``doc_id`` pairs whose ``head`` keys are within Levenshtein distance
    max_dist = FUZZY_MAX_DIST, via q-gram blocking (q = FUZZY_Q) — the
    classic ED-Join/PassJoin-family shape, composed from
    DataFrame ops:

    1. BLOCK: explode each key's distinct q-grams (with their positional
       multiplicity carried as a count column); candidate pairs must
       share >= 1 gram (an edit can destroy at most q grams, so any
       pair within max_dist shares grams whenever
       len >= q + q*max_dist). Equi-join on the gram — never all-pairs.
    2. COUNT FILTER: the POSITIONAL shared-gram count — the q-gram bag
       intersection sum(min(cnt_a, cnt_b)) — must reach
       min_len - q + 1 - q*max_dist (Gravano et al. pigeonhole bound;
       clamped at 1). The bound only holds for positional grams: a key
       of repeated characters has few DISTINCT grams but many
       positional ones, so counting distinct shared grams would
       silently prune true matches (e.g. 'aaaa...' keys). Computed
       from the SAME join's group-by, no extra scan. Multiplicities
       are derived array-side (size(filter(...)) per distinct gram —
       O(m^2) expression work on short entity keys, no extra shuffle).
    3. VERIFY: exact levenshtein() (JVM-side, same classic DP both
       engines) on the surviving candidates only.

    The df-cut drops grams occurring in more than FUZZY_MAX_GRAM_DF
    keys before the join; it bounds hot-gram fan-out at scale (same
    pattern as dedup_ngram_jaccard): candidate cost becomes
    sum(df^2) over SURVIVING grams. Pairs whose every shared gram is
    hot are missed — a documented approximation, mirrored exactly in
    the oracle. Keys shorter than q block on the whole key.

    Output: (id_a, id_b, dist), id_a < id_b, dist <= max_dist."""
    from pyspark.sql.window import Window

    q, max_dist = FUZZY_Q, FUZZY_MAX_DIST
    keys = ensure_parallel(df).select(
        F.col("doc_id").alias("_id"),
        F.col("head").alias("_k"),
        F.length("head").alias("_len"),
    )
    n_grams = F.greatest(F.col("_len") - q + 1, F.lit(1))
    grams_all = F.transform(
        F.sequence(F.lit(0), n_grams - 1),
        lambda i: F.substring(F.col("_k"), i + 1, q),
    )
    # one row per DISTINCT gram per key, carrying its positional
    # multiplicity — the join stays duplicate-free per (pair, gram)
    # while the count filter sees the full q-gram bag
    gram_counts = F.transform(
        F.array_distinct(grams_all),
        lambda gm: F.struct(
            gm.alias("gram"),
            F.size(F.filter(grams_all, lambda x: x == gm)).alias("cnt"),
        ),
    )
    # The blocking pipeline shuffles IDS AND COUNTS ONLY (guide-§8
    # shape, r14 opt round): the former form carried both key STRINGS
    # through the df-cut window shuffle, the gram self-join and the
    # pair groupBy (via first() aggregates) — the keys were most of the
    # candidate shuffle's bytes, and every decision below needs only
    # (id, len, gram, cnt). Survivors of the count filter are decorated
    # with their keys by two id-equi-joins against the tiny per-key
    # frame (broadcast locally; at corpus scale the candidate set after
    # the pigeonhole cut is the small side by construction), and only
    # then pay levenshtein. Output rows are identical.
    g = keys.select(
        "_id", "_len", F.explode(gram_counts).alias("_g")
    ).select("_id", "_len", F.col("_g.gram").alias("gram"), F.col("_g.cnt").alias("cnt"))
    gram_df = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    g = g.withColumn("_df", gram_df).filter(
        F.col("_df") <= FUZZY_MAX_GRAM_DF
    ).drop("_df")
    a = g.select(
        F.col("_id").alias("id_a"),
        F.col("_len").alias("len_a"),
        "gram",
        F.col("cnt").alias("cnt_a"),
    )
    b = g.select(
        F.col("_id").alias("id_b"),
        F.col("_len").alias("len_b"),
        F.col("gram").alias("gram_b"),
        F.col("cnt").alias("cnt_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("gram") == F.col("gram_b"))
            & (F.col("id_a") < F.col("id_b"))
            & (
                F.abs(F.col("len_a") - F.col("len_b")) <= max_dist
            ),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.first("len_a").alias("len_a"),
            F.first("len_b").alias("len_b"),
            F.sum(F.least("cnt_a", "cnt_b")).alias("shared"),
        )
        .filter(
            F.col("shared")
            >= F.greatest(
                F.least(F.col("len_a"), F.col("len_b"))
                - q + 1 - q * max_dist,
                F.lit(1),
            )
        )
    )
    ka = keys.select(F.col("_id").alias("id_a"), F.col("_k").alias("k_a"))
    kb = keys.select(F.col("_id").alias("id_b"), F.col("_k").alias("k_b"))
    return (
        cand.join(ka, "id_a")
        .join(kb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("k_a", "k_b").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def unigram_logprob_scores(
    df: DataFrame,
) -> DataFrame:
    """Corpus-unigram language-model quality score per document — the
    classic perplexity-proxy filter (CCNet/Gopher style, with the
    corpus itself as the LM): avg over the doc's tokens of
    log10 P(token), P from corpus-wide token frequencies. Documents of
    rare/garbage tokens score very negative; boilerplate scores high.

    Two shuffles total: one token-count aggregate (the "LM fit", a
    vocabulary-sized frame usable as a broadcast side) and one per-doc
    aggregate over the exploded tokens joined to it. Per-token logs are
    scaled to nano-log INTEGERS before the sum: integer summation is
    exact and order-free, so Spark's nondeterministic partial-agg
    ordering can never wobble the average's last bits into a
    value-hash flip (a rounded-double sum is almost-always stable;
    "almost" is not a contract). One double division at the end.

    Output: (doc_id, n_tokens, avg_logprob)."""
    toks = ensure_parallel(df).select(
        F.col("doc_id").alias("doc_id"),
        F.explode(tokens_col(F.col("text"))).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_c"))
    total = vocab.select(F.sum("_c").alias("_t"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(
            F.log10(F.col("_c").cast("double") / F.col("_t").cast("double"))
            * F.lit(1e9),
            0,
        ).cast("long").alias("_lp_nano"),
    )
    scale = 1e9
    return (
        toks.join(F.broadcast(lp), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum("_lp_nano").cast("double")
                / F.lit(scale)
                / F.count(F.lit(1)),
                6,
            ).alias("avg_logprob"),
        )
    )


def token_ngram_topk(df: DataFrame) -> DataFrame:
    """Corpus-wide top-20 word bigrams WITH multiplicity (unlike the
    dedup shingles, which are distinct-per-doc): the exact
    heavy-hitters answer the CMS sketch approximates, used for
    boilerplate phrase mining and contamination probes. One explode +
    one count aggregate + TakeOrdered; ties broken by gram asc so the
    cut is total. Output: (gram, n_occurrences, rank).

    The token array is materialized as a column BEFORE the gram
    transform: inlining tokens_col into each element_at would
    re-tokenize the document once per (gram, position) — O(n_tokens^2)
    regex work per doc that profiled at 7 s where the materialized
    form runs in well under 1 s at bench scale."""
    n = 2
    df = ensure_parallel(df)
    toks = F.col("_toks")
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.expr("CAST(array() AS ARRAY<INT>)"))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
        ),
    )
    from pyspark.sql import Window

    counted = (
        df.select(tokens_col(F.col("text")).alias("_toks"))
        .select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("gram"))
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 20)
    )


def length_outliers(df: DataFrame, exact: bool = True) -> DataFrame:
    """Robust (median/MAD) length-outlier detection per group — the
    truncation/concatenation-artifact screen a pretraining corpus runs
    before length-based filtering, immune to the outliers it hunts
    (unlike mean/stddev z-scores). robust_z = (x - median) /
    (1.4826 * MAD); rows beyond +-1.5 are flagged.

    ``exact=True`` (default, the oracle path) uses two grouped
    exact-percentile aggregates (median, then MAD) — these BUFFER each
    group's values (ObjectHashAggregate), so a hot source group is a
    task-OOM risk at 100 TB. ``exact=False`` is the scale path: both
    medians route through the mergeable log-histogram quantile sketch
    (operators/sketches.py hist_counts/hist_quantiles, DDSketch bucket
    rule, ~1% relative error at scale=100) — fixed-size map-side state,
    no buffering, same output contract, and still deterministic enough
    for a DuckDB oracle to replay bit-for-bit
    (`doc_length_outliers_approx`).

    Groups where MAD = 0 (over half the docs share one length —
    fixed-width exports, caps) flag EVERY value different from the
    median with a NULL robust_z: dropping such groups would silently
    miss exactly the truncation artifacts the screen exists for. Under
    the sketch, "different from the median" is bucket-granular (the
    row's bucket vs the median's PICKED BUCKET id, not the rounded
    edge, which would flag the modal value itself). Output: flagged
    rows (id, group, value, robust_z) — robust_z rounded, sign
    preserved, NULL in degenerate groups."""
    from uc_historic_data_importer_spark.operators import sketches

    check_reserved(
        df.columns,
        {"_med", "_mad", "_adev", "robust_z", "_med_bucket"},
        "length_outliers",
    )
    x = F.col("n_chars").cast("double")
    if exact:
        med = df.groupBy("source").agg(
            F.percentile(x, F.lit(0.5)).alias("_med")
        )
    else:
        med = sketches.hist_quantiles(
            sketches.hist_counts(
                df, "n_chars", group_cols=("source",)
            ),
            qs=(0.5,),
            group_cols=("source",),
            emit_buckets=True,
        ).select(
            "source",
            F.col("p5").alias("_med"),
            F.col("b5").alias("_med_bucket"),
        )
    dev = df.join(med, "source").withColumn("_adev", F.abs(x - F.col("_med")))
    if exact:
        mad = dev.groupBy("source").agg(
            F.percentile(F.col("_adev"), F.lit(0.5)).alias("_mad")
        )
    else:
        mad = sketches.hist_quantiles(
            sketches.hist_counts(
                dev, "_adev", group_cols=("source",)
            ),
            qs=(0.5,),
            group_cols=("source",),
        ).select("source", F.col("p5").alias("_mad"))
    scale = F.lit(1.4826) * F.col("_mad")
    z = F.when(F.col("_mad") > 0, F.round((x - F.col("_med")) / scale, 4))
    if exact:
        degenerate = x != F.col("_med")
    else:
        # the row's bucket MUST come from the same shared rule that
        # built the sketch state (sketches.log_bucket) — an inline copy
        # could drift and silently break the bucket-equality comparison
        degenerate = (
            sketches.log_bucket(x) != F.col("_med_bucket")
        )
    flagged = F.when(
        F.col("_mad") > 0, F.abs(F.col("robust_z")) > 1.5
    ).otherwise(degenerate)
    return (
        dev.join(F.broadcast(mad), "source")
        .withColumn("robust_z", z)
        .filter(flagged)
        .select(
            F.col("doc_id"),
            F.col("source"),
            F.col("n_chars"),
            "robust_z",
        )
    )
