"""Unit tests for the training-data-pipeline extension operators
(dedup / similarity / text / multimodal plumbing)."""

import math

import pytest
from pyspark.sql import functions as F

from uc_historic_data_importer_spark.operators import (
    dedup,
    multimodal,
    similarity,
    sketches,
    text,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "s1"),
        (2, "the quick brown fox jumps over the lazy dog", "en", "s1"),  # exact dup of 1
        (3, "the quick brown fox jumps over a lazy dog", "en", "s2"),   # near dup
        (4, "der schnelle braune fuchs und die katze", "de", "s2"),
        (5, "completely different content about spark engines", "en", "s3"),
        (6, "dog lazy the over jumps fox brown quick the", "en", "s3"),  # reordered dup of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.99, 0.1, 0.0, 0.0], 0),   # near 0
        (2, [0.0, 1.0, 0.0, 0.0], 0),    # orthogonal to 0
        (3, [0.0, 0.0, 1.0, 0.0], 1),
        (4, [0.0, 0.0, 0.98, 0.2], 1),   # near 3
        (5, [-1.0, 0.0, 0.0, 0.0], 1),   # opposite of 0
    ]
    df = pytest.importorskip("pyspark.sql").SparkSession.getActiveSession()
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


class TestDedup:
    def test_exact_dup_groups(self, docs):
        groups = dedup.exact_dup_groups(docs).collect()
        assert len(groups) == 1
        assert groups[0]["dup_count"] == 2
        assert groups[0]["keep_id"] == 1

    def test_jaccard_pairs_find_near_dup(self, docs):
        pairs = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in dedup.jaccard_pairs(docs).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
        # 1 and 3 share 4 of 10 distinct 3-grams: 0.4, below the 0.5 cut
        assert (1, 3) not in pairs
        assert (1, 4) not in pairs

    def test_minhash_lsh_exact_dups_always_pair(self, docs):
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.minhash_lsh_pairs(docs).collect()
        }
        assert (1, 2) in pairs  # identical shingle sets -> identical signature
        assert (4, 5) not in pairs

    def test_minhash_df_cut(self, spark):
        # df-cut drops ultra-common shingles before the join: with 65
        # identical docs every shingle's df exceeds MAX_SHINGLE_FREQ (64)
        # and no pair survives; at 64 docs every pair does
        assert dedup.MAX_SHINGLE_FREQ == 64
        text = "the quick brown fox jumps over"

        def corpus(n):
            return spark.createDataFrame(
                [(i, text) for i in range(n)], ["doc_id", "text"]
            )

        assert dedup.jaccard_pairs(corpus(65)).count() == 0
        assert dedup.jaccard_pairs(corpus(64)).count() == 64 * 63 // 2

    def test_connected_components_chain(self, spark):
        # chain 1-2-3 collapses transitively even though (1,3) was never
        # a pair; (5,6) is a separate cluster
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (5, 6)], ["doc_a", "doc_b"]
        )
        out = {
            r["doc_id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert out == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}

    def test_connected_components_nonconvergence_raises(self, spark):
        # a 30-node path has diameter 29; the 20-round budget cannot
        # converge — must raise instead of silently returning wrong
        # clusters (ADVICE r1)
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 30)], ["doc_a", "doc_b"]
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            dedup.connected_components(pairs)

    def test_star_components_path_graph_converges_fast(self, spark):
        # length-50 path: diameter 49 would need ~25+ min-label rounds;
        # large-star/small-star must converge within a log-scale budget
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 50)], ["doc_a", "doc_b"]
        )
        out = {
            r["doc_id"]: r["component"]
            for r in dedup.connected_components_star(pairs).collect()
        }
        assert out == {i: 1 for i in range(1, 51)}

    def test_star_components_matches_min_label(self, spark):
        import random

        rng = random.Random(7)
        edges = {(rng.randint(1, 40), rng.randint(1, 40)) for _ in range(45)}
        edges = [(a, b) for a, b in edges if a != b]
        pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        star = {
            r["doc_id"]: r["component"]
            for r in dedup.connected_components_star(pairs).collect()
        }
        label = {
            r["doc_id"]: r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert star == label

    def test_simhash_vote_count_equivalence(self, spark):
        """Pin the bit-count aggregation (r14 opt round) against the
        original ±1-vote form: vote = 2c - t, so "vote > 0" == "2c > t",
        with ties (2c == t) unset in BOTH. Recompute the ±1 form inline
        over the same token hashes and require equality — including a
        two-token doc engineered to exercise per-bit ties."""
        from pyspark.sql import functions as F
        from uc_historic_data_importer_spark.operators.text import tokens_col

        rows = [(1, "alpha beta gamma delta"), (2, "alpha alpha beta"),
                (3, "zz yy"), (4, "solo")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        bits = dedup.SIMHASH_BITS
        got = {r["doc_id"]: r["simhash"]
               for r in dedup.simhash(df).collect()}
        tok = df.select(
            F.col("doc_id"),
            F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("w"),
        ).select("doc_id", dedup.md5_i64(F.col("w")).alias("h"))
        votes = [
            F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1,
                         1).otherwise(-1)).alias(f"v{b}")
            for b in range(bits)
        ]
        sig = tok.groupBy("doc_id").agg(*votes)
        acc = F.lit(0).cast("long")
        for b in range(bits):
            acc = acc + F.when(
                F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        want = {r["doc_id"]: r["s"]
                for r in sig.select("doc_id", acc.alias("s")).collect()}
        assert got == want

    def test_simhash_sql_matches_column(self, spark):
        """r14 opt round: simhash's 32 bit-count aggregates and the
        32-arm accumulator are each ONE parsed SQL string (the Column
        chains cost ~5,000 py4j round-trips — ~1 s of driver time per
        query). The parsed AST must be node-for-node the old tree:
        analyzed-plan equality against an inline reconstruction of the
        Column form, plus row equality."""
        import re

        from pyspark.sql import functions as F
        from uc_historic_data_importer_spark.operators.dedup import tokens_col
        from uc_historic_data_importer_spark.operators.frames import (
            ensure_parallel,
        )

        rows = [(1, "alpha beta gamma delta"), (2, "alpha alpha beta"),
                (3, "zz yy"), (4, "solo")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        bits = 32
        tok = ensure_parallel(df).select(
            F.col("doc_id").alias("doc_id"),
            F.explode(F.array_distinct(tokens_col(F.col("text")))).alias("w"),
        ).select("doc_id", dedup.md5_i64(F.col("w")).alias("h"))
        counts = [
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"c{b}")
            for b in range(bits)
        ]
        sig = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("t"), *counts)
        acc = F.lit(0).cast("long")
        for b in range(bits):
            acc = acc + F.when(
                F.col(f"c{b}") * 2 > F.col("t"), F.lit(1 << b).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        old = sig.select("doc_id", acc.alias("simhash"))
        new = dedup.simhash(df)
        norm = lambda s: re.sub(r"#\d+L?", "#X", s)  # noqa: E731
        assert norm(new._jdf.queryExecution().analyzed().toString()) == norm(
            old._jdf.queryExecution().analyzed().toString()
        )
        assert sorted(map(tuple, new.collect())) == sorted(
            map(tuple, old.collect())
        )

    def test_simhash_identical_docs_collide(self, docs):
        sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
        assert sh[1] == sh[2]
        assert sh[1] == sh[6]  # simhash is token-set based: reorder-invariant
        assert sh[1] != sh[5]
        buckets = dedup.simhash_buckets(docs).collect()
        assert any(b["dup_count"] == 3 and b["keep_id"] == 1 for b in buckets)


class TestSimilarity:
    def test_cosine_topk_exact(self, vectors):
        out = similarity.cosine_topk(
            vectors, vectors.filter(F.col("vec_id") == 0), k=2
        ).collect()
        ranked = sorted(out, key=lambda r: r["rank"])
        assert [r["neighbor_id"] for r in ranked] == [1, 2]
        assert ranked[0]["cos_sim"] == pytest.approx(
            0.99 / math.sqrt(0.99**2 + 0.01), abs=1e-6
        )

    def test_ivf_restricts_to_cell(self, vectors):
        out = similarity.ivf_topk(vectors).collect()
        by_q = {r["query_id"]: r for r in out}
        # vec 5's nearest global neighbor would be orthogonal vecs in cell 0;
        # IVF restricts to label 1
        assert by_q[5]["neighbor_id"] in (3, 4)
        assert by_q[0]["neighbor_id"] == 1

    def test_kmeans_ivf_build(self, vectors):
        cents = similarity.kmeans_fit(vectors, k=2, iters=2)
        assert len(cents) == 2
        for c in cents:
            assert sum(x * x for x in c) == pytest.approx(1.0, abs=1e-9)
        # deterministic: no RNG, fixed init, fixed iteration count
        assert cents == similarity.kmeans_fit(vectors, k=2, iters=2)
        out = {
            r["vec_id"]: r["cell"]
            for r in similarity.assign_cells(vectors, cents).collect()
        }
        assert set(out) == {0, 1, 2, 3, 4, 5}
        # assignment == driver-side brute-force nearest centroid
        for r in vectors.select("vec_id", "embedding").collect():
            v = r["embedding"]
            vn = math.sqrt(sum(x * x for x in v))
            sims = [
                round(
                    sum(a * b for a, b in zip(v, c))
                    / (vn * (math.sqrt(sum(x * x for x in c)) or 1.0)),
                    6,
                )
                for c in cents
            ]
            assert out[r["vec_id"]] == sims.index(max(sims))

    def test_hyperplane_buckets_deterministic(self, vectors):
        a = {r["vec_id"]: r["bucket"] for r in similarity.hyperplane_lsh_buckets(vectors).collect()}
        b = {r["vec_id"]: r["bucket"] for r in similarity.hyperplane_lsh_buckets(vectors).collect()}
        assert a == b
        # opposite vectors land in complementary buckets (all planes flip)
        assert a[0] ^ a[5] == (1 << 8) - 1


class TestText:
    def test_token_counts(self, docs):
        out = {r["source"]: r for r in text.token_counts(docs).collect()}
        assert out["s1"]["total_tokens"] == 18
        assert out["s1"]["n_docs"] == 2

    def test_quality_scores(self, docs):
        row = {r["doc_id"]: r for r in text.quality_scores(docs).collect()}[1]
        assert row["n_tokens"] == 9
        assert row["stopword_ratio"] == pytest.approx(2 / 9, abs=1e-6)  # 'the' x2
        assert 0 < row["punct_ratio"] < 0.5

    def test_language_id(self, docs):
        out = {r["doc_id"]: r["predicted_lang"] for r in text.language_id(docs).collect()}
        assert out[1] == "en"
        assert out[4] == "de"

    def test_fingerprint_reorder_invariant(self, docs):
        fp = {r["doc_id"]: r["fingerprint"] for r in text.fingerprints(docs).collect()}
        assert fp[1] == fp[2] == fp[6]
        assert fp[1] != fp[3]


class TestMultimodal:
    @pytest.fixture(scope="class")
    def media(self, spark):
        rows = [
            (1, "image", bytearray(b"fake-png-payload-1"), "image/png", {}),
            (2, "image", bytearray(b"fake-png-payload-1"), "image/png", {}),
            (3, "image", bytearray(b""), "image/png", {}),
            (4, "video", bytearray(b"fake-mp4"), "video/mp4", {"duration_s": "12"}),
        ]
        return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)

    def test_extract_features_plumbing(self, media):
        feats = {r["media_id"]: r for r in multimodal.extract_features(media).collect()}
        assert feats[1]["content_sha"] == feats[2]["content_sha"]
        assert len(feats[1]["feature"]) == 8
        assert feats[1]["width"] >= 64
        # empty payload -> decoder error surfaced as sentinel, row kept
        assert feats[3]["width"] == -1 and feats[3]["feature"] is None

    def test_frame_sample_plan(self, media):
        frames = multimodal.frame_sample_plan(media).collect()
        assert sorted(r["frame_ts_s"] for r in frames) == [0, 5, 10]

    def test_extract_features_real_png_decode(self, spark):
        # genuine decode: dims come from IHDR/pixels, not the md5 stub
        from uc_historic_data_importer_spark.functions import imagecodec as ic

        px = b"\x00" * 3 * 6 + b"\xff" * 3 * 2  # 6 black + 2 white pixels
        png = ic.encode_png(4, 2, 3, px, filter_type=4)
        rows = [
            (30, "image", bytearray(png), "image/png", {}),
            (31, "image", bytearray(b"not-an-image"), "application/bin", {}),
        ]
        df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
        feats = {r["media_id"]: r for r in multimodal.extract_features(df).collect()}
        assert (feats[30]["width"], feats[30]["height"]) == (4, 2)
        hist = feats[30]["feature"]
        assert hist[0] == pytest.approx(0.75) and hist[7] == pytest.approx(0.25)
        # non-image payload still flows through the stub path
        assert feats[31]["width"] == 64 + __import__("hashlib").md5(
            b"not-an-image"
        ).digest()[0]

    def test_degenerate_duration_assets_skipped(self, spark):
        # missing / zero / unparseable duration_s: no zero-length work
        # items may reach the decode stage (ADVICE r1)
        rows = [
            (20, "video", bytearray(b"v"), "video/mp4", {}),
            (21, "video", bytearray(b"v"), "video/mp4", {"duration_s": "0"}),
            (22, "video", bytearray(b"v"), "video/mp4", {"duration_s": "x"}),
            (23, "video", bytearray(b"v"), "video/mp4", {"duration_s": "7"}),
            # out-of-int-range (ms-vs-s corruption): must SKIP, not
            # raise CAST_OVERFLOW under ANSI mode (ADVICE r6)
            (27, "video", bytearray(b"v"), "video/mp4",
             {"duration_s": "9999999999"}),
            (28, "audio", bytearray(b"a"), "audio/wav",
             {"duration_s": "9999999999", "sample_rate": "8000"}),
            (24, "audio", bytearray(b"a"), "audio/wav", {}),
            (25, "audio", bytearray(b"a"), "audio/wav",
             {"duration_s": "0", "sample_rate": "8000"}),
            (26, "audio", bytearray(b"a"), "audio/wav",
             {"duration_s": "40", "sample_rate": "8000"}),
        ]
        df = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
        frames = multimodal.frame_sample_plan(df).collect()
        assert {r["media_id"] for r in frames} == {23}
        assert sorted(r["frame_ts_s"] for r in frames) == [0, 5]


class TestSkew:
    def test_salted_agg_matches_direct(self, spark):
        from uc_historic_data_importer_spark.operators.skew import salted_agg

        df = spark.range(10000).select(
            (F.col("id") % 3).alias("event_type"),
            (F.col("id") % 97).cast("double").alias("value"),
        )
        salted = {r["event_type"]: r for r in salted_agg(df).collect()}
        direct = {
            r["event_type"]: r
            for r in df.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"),
                F.max("value").alias("mx"),
            ).collect()
        }
        for k in direct:
            assert salted[k]["n"] == direct[k]["n"]
            assert abs(salted[k]["total_value"] - direct[k]["total"]) < 1e-6
            assert salted[k]["max_value"] == direct[k]["mx"]

    def test_salted_distinct_count_exact(self, spark):
        from uc_historic_data_importer_spark.operators.skew import (
            salted_distinct_count,
        )

        df = spark.range(10000).select(
            (F.col("id") % 2).alias("event_type"),
            (F.col("id") % 123).alias("user_id"),
        )
        out = {
            r["event_type"]: r["n_distinct_user_id"]
            for r in salted_distinct_count(df).collect()
        }
        assert out == {0: 123, 1: 123}

    def test_reserved_temp_name_collisions_raise(self, spark):
        """r9 review: the unguarded withColumn SILENTLY OVERWROTE a user
        column named `_salt` (worst case an aggs source column named
        _salt aggregated the salt itself). All three salted operators
        must raise the interval_join-style ValueError up front."""
        import pytest

        from uc_historic_data_importer_spark.operators import skew

        df = spark.createDataFrame(
            [(1, 2, 3, 4)], "k int, event_type int, user_id int, _salt int"
        ).withColumn("value", F.lit(1.0))
        with pytest.raises(ValueError, match="_salt"):
            skew.salted_agg(df)
        with pytest.raises(ValueError, match="_salt"):
            skew.salted_distinct_count(df)
        clean = spark.createDataFrame([(1, 2)], "k int, v int")
        with pytest.raises(ValueError, match="_salt"):
            skew.salted_join(clean, df)
        with pytest.raises(ValueError, match="_salt"):
            skew.salted_join(df, clean)
        # the phase-1 partial names are reserved too
        df2 = spark.createDataFrame(
            [(1, 2.0, 3)], "event_type int, value double, _p_n int"
        )
        with pytest.raises(ValueError, match="_p_n"):
            skew.salted_agg(df2)
        df3 = spark.createDataFrame([(1, 2, 3)], "event_type int, user_id int, _n int")
        with pytest.raises(ValueError, match="_n"):
            skew.salted_distinct_count(df3)

class TestRangeJoin:
    def test_matches_naive_cross_join(self, spark):
        from uc_historic_data_importer_spark.operators.range_join import interval_join

        left = spark.createDataFrame(
            [(i, i * 70000 % 1000000) for i in range(200)], "lid INT, ms BIGINT"
        ).select("lid", F.timestamp_millis(F.col("ms")).alias("ts"))
        right = spark.createDataFrame(
            [(i, i * 31000 % 1000000) for i in range(300)], "rid INT, ms BIGINT"
        ).select("rid", F.timestamp_millis(F.col("ms")).alias("ts"))

        got = interval_join(left, right)
        got_pairs = {(r["lid"], r["rid"]) for r in got.collect()}

        naive = (
            left.crossJoin(right.select(F.col("rid"), F.col("ts").alias("ts2")))
            .filter(
                (F.unix_millis("ts2") >= F.unix_millis("ts") + 1)
                & (F.unix_millis("ts2") <= F.unix_millis("ts") + 60000)
            )
        )
        naive_pairs = {(r["lid"], r["rid"]) for r in naive.collect()}
        assert got_pairs == naive_pairs
        assert len(got_pairs) > 0
        # no duplicate pairs from the bucket explode
        assert got.count() == len(got_pairs)

    def test_equi_scoped_and_no_nested_loop(self, spark):
        from uc_historic_data_importer_spark.operators.range_join import interval_join

        left = spark.createDataFrame(
            [(i, i % 5, (i * 911) % 50000) for i in range(200)],
            "lid INT, k INT, ms BIGINT",
        ).select("lid", "k", F.timestamp_millis(F.col("ms")).alias("ts"))
        right = spark.createDataFrame(
            [(i, i % 5, (i * 577) % 50000) for i in range(200)],
            "rid INT, k INT, ms BIGINT",
        ).select("rid", "k", F.timestamp_millis(F.col("ms")).alias("ts"))

        got = interval_join(left, right)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        from datetime import timedelta

        for r in got.collect():
            lag = r["ts_r"] - r["ts"]
            assert timedelta(milliseconds=1) <= lag <= timedelta(seconds=60)


class TestSketches:
    def test_hll_accuracy(self, spark):
        df = spark.range(0, 2000).select(
            (F.col("id") % 1300).alias("user_id"), F.lit("t").alias("event_type")
        )
        est = sketches.hll_distinct(df).collect()[0]["hll_distinct"]
        # 256 registers -> ~6.5% standard error; 15% is a 2+ sigma bound
        assert abs(est - 1300) / 1300 < 0.15

    def test_hll_registers_sql_matches_column(self, spark):
        """r14 opt round: hll_registers builds its md5/bucket/rho exprs
        as ONE parsed SQL string each (the 52-arm F.when chain cost
        ~0.3-0.5 s of py4j driver time per sketch build). The parsed
        AST must be node-for-node the old Column-built tree — pinned by
        comparing the ANALYZED PLAN against an inline reconstruction of
        the former Column form, plus row-level equality."""
        import re

        df = spark.range(0, 500).select(
            (F.col("id") % 97).cast("string").alias("user_id"),
            (F.col("id") % 3).cast("string").alias("g"),
        )
        p = sketches.HLL_P
        rem_bits = sketches.HASH_BITS - p
        from uc_historic_data_importer_spark.functions.hashes import md5_i64

        out = None
        w = F.col("_h").bitwiseAND(F.lit((1 << rem_bits) - 1))
        for r in range(1, rem_bits + 1):
            cond = w >= F.lit(1 << (rem_bits - r))
            out = (
                F.when(cond, F.lit(r))
                if out is None
                else out.when(cond, F.lit(r))
            )
        old = (
            df.select(
                "g", md5_i64(F.col("user_id").cast("string")).alias("_h")
            )
            .filter(F.col("_h").isNotNull())
            .select(
                "g",
                F.shiftright(F.col("_h"), rem_bits).alias("bucket"),
                out.otherwise(F.lit(rem_bits + 1)).alias("rho"),
            )
            .groupBy("g", "bucket")
            .agg(F.max("rho").alias("max_rho"))
        )
        new = sketches.hll_registers(df, ("g",))
        norm = lambda s: re.sub(r"#\d+L?", "#X", s)  # noqa: E731
        assert norm(new._jdf.queryExecution().analyzed().toString()) == norm(
            old._jdf.queryExecution().analyzed().toString()
        )
        assert sorted(map(tuple, new.collect())) == sorted(
            map(tuple, old.collect())
        )

    def test_hist_quantiles_fused_select_matches_withcolumns(self, spark):
        """r15 opt round: hist_quantiles emits its two window columns in
        ONE select instead of two withColumns (each DataFrame op is a
        py4j round-trip + a full analysis pass of the growing plan).
        The OPTIMIZED plan must be identical to the former withColumn
        form, and rows must match."""
        import re

        from pyspark.sql import Window

        df = spark.range(0, 500).select(
            (F.col("id") % 5).cast("string").alias("g"),
            (F.col("id") % 37).cast("double").alias("v"),
        )
        counts = sketches.hist_counts(df, "v", group_cols=("g",))
        w_cum = (
            Window.partitionBy(F.col("g"))
            .orderBy("bucket")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        w_all = Window.partitionBy(F.col("g"))
        old_cum = counts.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
            "total", F.sum("cnt").over(w_all)
        )
        picks = [
            F.min(
                F.when(F.col("cum") >= F.lit(q) * F.col("total"), F.col("bucket"))
            ).alias(f"_b{i}")
            for i, q in enumerate((0.5, 0.9, 0.99))
        ]
        edge = lambda b: F.round(  # noqa: E731
            F.exp(b.cast("double") / F.lit(100)) - F.lit(1.0), 4
        )
        old = old_cum.groupBy("g").agg(*picks).select(
            "g",
            edge(F.col("_b0")).alias("p5"),
            edge(F.col("_b1")).alias("p9"),
            edge(F.col("_b2")).alias("p99"),
        )
        new = sketches.hist_quantiles(counts, group_cols=("g",))
        norm = lambda s: re.sub(r"#\d+L?", "#X", s)  # noqa: E731
        assert norm(
            new._jdf.queryExecution().optimizedPlan().toString()
        ) == norm(old._jdf.queryExecution().optimizedPlan().toString())
        assert sorted(map(tuple, new.collect())) == sorted(
            map(tuple, old.collect())
        )

    def test_hll_registers_merge(self, spark):
        # the register table is the mergeable state: max-merging two
        # halves' registers must equal the whole corpus's registers
        df = spark.range(0, 2000).select(
            "id", (F.col("id") % 731).alias("user_id")
        )
        whole = {
            r["bucket"]: r["max_rho"]
            for r in sketches.hll_registers(df).collect()
        }
        lo = sketches.hll_registers(df.filter("id < 1000"))
        hi = sketches.hll_registers(df.filter("id >= 1000"))
        merged = {
            r["bucket"]: r["max_rho"]
            for r in lo.union(hi)
            .groupBy("bucket")
            .agg(F.max("max_rho").alias("max_rho"))
            .collect()
        }
        assert merged == whole

    def test_cms_never_underestimates(self, spark):
        df = spark.range(0, 1000).select((F.col("id") % 37).alias("user_id"))
        exact = df.groupBy(F.col("user_id").alias("user_val")).agg(
            F.count(F.lit(1)).alias("exact_n")
        )
        counters = sketches.cms_counters(df)
        est = {
            r["user_val"]: (r["exact_n"], r["cms_n"])
            for r in sketches.cms_estimate(counters, exact).collect()
        }
        assert len(est) == 37
        for v, (exact_n, cms_n) in est.items():
            assert cms_n >= exact_n, (v, exact_n, cms_n)

    def test_cms_null_heavy_hitter_estimates_zero_both_engines(self, spark):
        """A NULL among the top-k: NULL never sketches (its hash is
        NULL), so its estimate is cms_n = 0 — and the row must SURVIVE
        on both engines. The r8 review found cms_sql's inner join
        silently dropped it while cms_estimate's left join kept it."""
        import duckdb
        import pandas as pd

        vals = [None] * 50 + [1] * 30 + [2] * 20
        df = spark.createDataFrame([(v,) for v in vals], "user_id int")
        exact = (
            df.groupBy(F.col("user_id").alias("user_val"))
            .agg(F.count(F.lit(1)).alias("exact_n"))
            .orderBy(F.desc("exact_n"))
            .limit(10)
        )
        got = {
            r["user_val"]: (r["exact_n"], r["cms_n"])
            for r in sketches.cms_estimate(
                sketches.cms_counters(df), exact
            ).collect()
        }
        assert got[None] == (50, 0)
        assert got[1][0] == 30 and got[1][1] >= 30

        con = duckdb.connect()
        con.register(
            "events", pd.DataFrame({"user_id": pd.array(vals, dtype="Int64")})
        )
        oracle = {
            r[0]: (r[1], r[2])
            for r in con.execute(sketches.cms_sql()).fetchall()
        }
        # pandas NA comes back as None through duckdb
        assert {(k if k is not None else None): v for k, v in oracle.items()} == got

    def test_cms_counters_merge(self, spark):
        df = spark.range(0, 1000).select(
            "id", (F.col("id") % 53).alias("user_id")
        )
        whole = {
            (r["row_idx"], r["bucket"]): r["cnt"]
            for r in sketches.cms_counters(df).collect()
        }
        lo = sketches.cms_counters(df.filter("id < 500"))
        hi = sketches.cms_counters(df.filter("id >= 500"))
        merged = {
            (r["row_idx"], r["bucket"]): r["cnt"]
            for r in lo.union(hi)
            .groupBy("row_idx", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        }
        assert merged == whole


class TestSampling:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        return spark.range(0, 5000).select(
            F.col("id").alias("doc_id"),
            (F.col("id") % 7).cast("string").alias("lang"),
        )

    def test_hash_sample_fraction_and_stability(self, spark, corpus):
        from uc_historic_data_importer_spark.operators import sampling

        a = {r["doc_id"] for r in sampling.hash_sample(corpus).collect()}
        b = {
            r["doc_id"]
            for r in sampling.hash_sample(corpus.repartition(13)).collect()
        }
        assert a == b  # partition-layout independent
        assert sampling.SAMPLE_FRACTION == 0.1
        assert 0.07 < len(a) / 5000 < 0.13
        # growth stability: a half corpus samples the same ids
        c = {
            r["doc_id"]
            for r in sampling.hash_sample(corpus.filter("doc_id < 2500")).collect()
        }
        assert c == {i for i in a if i < 2500}

    def test_split_assign_disjoint_and_growth_stable(self, spark, corpus):
        from uc_historic_data_importer_spark.operators import sampling

        full = {
            r["doc_id"]: r["split"]
            for r in sampling.split_assign(corpus).collect()
        }
        assert set(full.values()) == {"train", "val", "test"}
        # growth stability: labels computed on a half corpus agree
        half = {
            r["doc_id"]: r["split"]
            for r in sampling.split_assign(
                corpus.filter("doc_id < 2500")
            ).collect()
        }
        assert all(full[k] == v for k, v in half.items())

    def test_stratified_sample_exact_n(self, spark, corpus):
        from uc_historic_data_importer_spark.operators import sampling

        out = sampling.stratified_sample(corpus)
        sizes = {
            r["lang"]: r["n"]
            for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert sizes == {str(i): sampling.STRATUM_N for i in range(7)}
        # small stratum: takes all rows, no padding
        tiny = corpus.filter("doc_id < 3")
        assert sampling.stratified_sample(tiny).count() == 3


class TestTfIdf:
    def test_distinctive_term_ranks_first(self, spark):
        rows = [
            (1, "spark spark spark engine"),
            (2, "engine engine common words"),
            (3, "common words again again"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = text.tf_idf_top_terms(df).collect()
        top = {r["doc_id"]: r["token"] for r in out if r["term_rank"] == 1}
        # 'spark' appears only in doc 1 and 3x there -> its top term
        assert top[1] == "spark"
        assert {r["term_rank"] for r in out} == {1, 2, 3}

    def test_topn_cut_deterministic(self, spark):
        # doc of 5 unique tokens, all identical tf/df -> tie broken by token
        df = spark.createDataFrame([(1, "b a c e d")], ["doc_id", "text"])
        out = text.tf_idf_top_terms(df).orderBy("term_rank").collect()
        assert [r["token"] for r in out] == ["a", "b", "c"]


class TestHistQuantiles:
    def test_accuracy_vs_exact(self, spark):
        df = spark.range(1, 20001).select(
            (F.col("id") * 0.5).alias("v"), F.lit("g").alias("grp")
        )
        counts = sketches.hist_counts(df, "v", group_cols=("grp",))
        row = sketches.hist_quantiles(counts, group_cols=("grp",)).collect()[0]
        # exact p50=5000.25, p90=9000.45, p99=9900.495; scale=100 ->
        # bucket edge within ~1% relative below the true value
        for col, exact in (("p5", 5000.25), ("p9", 9000.45), ("p99", 9900.5)):
            assert abs(row[col] - exact) / exact < 0.02, (col, row[col])

    def test_counts_merge(self, spark):
        df = spark.range(0, 5000).select((F.col("id") % 997).alias("v"))
        whole = {
            r["bucket"]: r["cnt"]
            for r in sketches.hist_counts(df, "v").collect()
        }
        lo = sketches.hist_counts(df.filter("id < 2500"), "v")
        hi = sketches.hist_counts(df.filter("id >= 2500"), "v")
        merged = {
            r["bucket"]: r["cnt"]
            for r in lo.union(hi)
            .groupBy("bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        }
        assert merged == whole

    def test_out_of_range_q_raises(self, spark):
        """r13 audit, fixed r14: q>1 makes cum >= q*total unsatisfiable
        -> silent NULL quantile column; q<=0 matches the first bucket
        unconditionally -> silently reports the minimum. Probed before
        the guard: qs=(1.5,) returned one row with p15=None."""
        import pytest

        df = spark.range(1, 10).select(F.col("id").cast("double").alias("v"))
        counts = sketches.hist_counts(df, "v")
        for bad_qs in ((1.5,), (0.0,), (-0.1,), (0.5, 2.0), ()):
            with pytest.raises(ValueError, match="q"):
                sketches.hist_quantiles(counts, qs=bad_qs)
            with pytest.raises(ValueError, match="q"):
                sketches.hist_quantiles_sql("v", qs=bad_qs)

    def test_q_boundary_one_is_valid(self, spark):
        """q=1.0 is the maximum — legal and must pick the last bucket."""
        df = spark.range(1, 101).select(F.col("id").cast("double").alias("v"))
        row = sketches.hist_quantiles(
            sketches.hist_counts(df, "v"), qs=(1.0,)
        ).collect()[0]
        (val,) = row.asDict().values()
        assert val is not None
        assert abs(val - 100.0) / 100.0 < 0.02


class TestFunnel:
    def test_ordered_funnel_counts(self, spark):
        from uc_historic_data_importer_spark.operators import sessions

        rows = [
            # user 1 completes in order
            (1, "view", "2021-01-01T10:00:00"),
            (1, "click", "2021-01-01T10:05:00"),
            (1, "purchase", "2021-01-01T10:10:00"),
            # user 2: purchase BEFORE view -> stops at click
            (2, "purchase", "2021-01-01T09:00:00"),
            (2, "view", "2021-01-01T10:00:00"),
            (2, "click", "2021-01-01T10:30:00"),
            # user 3: early click before view, later click after ->
            # the LATER click qualifies; purchase after it completes
            (3, "click", "2021-01-01T08:00:00"),
            (3, "view", "2021-01-01T09:00:00"),
            (3, "click", "2021-01-01T09:30:00"),
            (3, "purchase", "2021-01-01T09:45:00"),
            # user 4 never views
            (4, "click", "2021-01-01T10:00:00"),
        ]
        ev = spark.createDataFrame(
            rows, ["user_id", "event_type", "ts_str"]
        ).withColumn("ts", F.to_timestamp("ts_str"))
        row = sessions.funnel_counts(ev).collect()[0]
        assert (row["n_view"], row["n_click"], row["n_purchase"]) == (3, 3, 2)

    def test_sessionize_drops_null_timestamps(self, spark):
        """NULL-ts events are excluded: left in they fragment into
        singleton sessions AND force the first real event to open a
        fresh session regardless of gap (NULLs sort first, lag is NULL
        through them)."""
        from uc_historic_data_importer_spark.operators import sessions

        rows = [
            (1, 10, None),
            (1, 11, "2021-01-01T10:00:00"),
            (1, 12, "2021-01-01T10:05:00"),
        ]
        ev = spark.createDataFrame(
            rows, ["user_id", "event_id", "ts_str"]
        ).withColumn("ts", F.to_timestamp("ts_str")).drop("ts_str")
        got = {r["event_id"]: r["session_idx"]
               for r in sessions.sessionize(ev).collect()}
        # the NULL-ts event is gone; the two real events share session 1
        assert got == {11: 1, 12: 1}


class TestSaltedJoin:
    def test_matches_plain_join(self, spark):
        from uc_historic_data_importer_spark.operators import skew

        fact = spark.range(0, 2000).select(
            (F.col("id") % 5).alias("k"), F.col("id").alias("payload")
        )
        dim = spark.createDataFrame(
            [(i, f"d{i}") for i in range(7)], ["k", "label"]
        )
        got = sorted(
            (r["k"], r["payload"], r["label"])
            for r in skew.salted_join(fact, dim).collect()
        )
        want = sorted(
            (r["k"], r["payload"], r["label"])
            for r in fact.join(dim, "k").collect()
        )
        assert got == want and len(want) == 2000

    def test_hot_key_spreads_over_salts(self, spark):
        from uc_historic_data_importer_spark.operators import skew

        # one key, many rows: every salt bucket must receive some rows
        fact = spark.range(0, 1000).select(
            F.lit(1).alias("k"), F.col("id").alias("payload")
        )
        salted = fact.withColumn(
            "_salt", F.pmod(F.hash(F.col("payload")), F.lit(4))
        )
        n_buckets = salted.select("_salt").distinct().count()
        assert n_buckets == 4


class TestGroupCentroids:
    def test_centroid_math(self, spark, vectors):
        out = {
            (r["label"], r["dim"]): (r["centroid"], r["n_vectors"])
            for r in similarity.group_centroids(vectors).collect()
        }
        # label 0 = vecs 0,1,2 -> dim0 mean = (1 + 0.99 + 0)/3
        assert out[(0, 0)][0] == pytest.approx((1 + 0.99 + 0) / 3, abs=1e-6)
        assert out[(0, 0)][1] == 3
        # label 1 = vecs 3,4,5 -> dim2 mean = (1 + 0.98 + 0)/3
        assert out[(1, 2)][0] == pytest.approx((1 + 0.98) / 3, abs=1e-6)


class TestScd2:
    def test_interval_chain(self, spark):
        from uc_historic_data_importer_spark.operators.latest import (
            scd2_intervals,
        )

        rows = [
            ("k1", 100), ("k1", 200), ("k1", 300),
            ("k2", 50),
        ]
        df = spark.createDataFrame(rows, ["user_id", "version"])
        out = {
            (r["user_id"], r["version"]): (r["valid_to"], r["is_current"])
            for r in scd2_intervals(df).collect()
        }
        assert out[("k1", 100)] == (200, False)
        assert out[("k1", 200)] == (300, False)
        assert out[("k1", 300)] == (None, True)
        assert out[("k2", 50)] == (None, True)
        # exactly one current row per key
        assert sum(1 for v in out.values() if v[1]) == 2


class TestSnapshotDiff:
    def test_all_statuses(self, spark):
        from uc_historic_data_importer_spark.operators import diff

        old = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], ["o_orderkey", "v"]
        )
        new = spark.createDataFrame(
            [(2, "b"), (3, "CHANGED"), (4, "d")], ["o_orderkey", "v"]
        )
        got = {
            r["o_orderkey"]: r["status"]
            for r in diff.snapshot_diff(old, new).collect()
        }
        assert got == {
            1: "removed", 2: "unchanged", 3: "changed", 4: "added"
        }

    def test_null_vs_empty_distinct(self, spark):
        from uc_historic_data_importer_spark.operators import diff

        old = spark.createDataFrame([(1, None)], "o_orderkey INT, v STRING")
        new = spark.createDataFrame([(1, "")], "o_orderkey INT, v STRING")
        (row,) = diff.snapshot_diff(old, new).collect()
        assert row["status"] == "changed"

    def test_separator_in_values_cannot_collide(self, spark):
        """The r8 review's in-band-separator finding: ('a\\x1fb','c') vs
        ('a','b\\x1fc') concatenated to identical bytes and reported
        'unchanged'. The length-prefix encoding must see them as
        changed, and a literal '\\x00' must differ from NULL."""
        from uc_historic_data_importer_spark.operators import diff

        old = spark.createDataFrame([(1, "a\x1fb", "c")], ["o_orderkey", "v1", "v2"])
        new = spark.createDataFrame([(1, "a", "b\x1fc")], ["o_orderkey", "v1", "v2"])
        (row,) = diff.snapshot_diff(old, new).collect()
        assert row["status"] == "changed"
        old2 = spark.createDataFrame([(1, "\x00")], "o_orderkey INT, v STRING")
        new2 = spark.createDataFrame([(1, None)], "o_orderkey INT, v STRING")
        (row2,) = diff.snapshot_diff(old2, new2).collect()
        assert row2["status"] == "changed"

    def test_null_key_matches_null_key(self, spark):
        """A NULL key component is a key like any other: identical
        snapshots must reconcile as unchanged, not added+removed."""
        from uc_historic_data_importer_spark.operators import diff

        old = spark.createDataFrame([(None, "v"), (1, "w")], "o_orderkey INT, v STRING")
        new = spark.createDataFrame([(None, "v"), (1, "w")], "o_orderkey INT, v STRING")
        got = sorted(
            (
                (r["o_orderkey"], r["status"])
                for r in diff.snapshot_diff(old, new).collect()
            ),
            key=str,
        )
        assert sorted(got, key=str) == sorted(
            [(1, "unchanged"), (None, "unchanged")], key=str
        )

    def test_column_reorder_is_a_noop_and_schema_drift_raises(self, spark):
        from uc_historic_data_importer_spark.operators import diff

        old = spark.createDataFrame([(1, "a", "b")], ["o_orderkey", "v1", "v2"])
        reordered = old.select("o_orderkey", "v2", "v1")  # same data, new order
        got = {r["o_orderkey"]: r["status"]
               for r in diff.snapshot_diff(old, reordered).collect()}
        assert got == {1: "unchanged"}
        import pytest as _pytest

        extra = old.withColumn("v3", F.lit("x"))
        with _pytest.raises(ValueError, match="schemas differ"):
            diff.snapshot_diff(old, extra)


class TestPacking:
    def test_concat_chunk_offsets(self, spark):
        from uc_historic_data_importer_spark.operators import packing

        budget = packing.PACK_BUDGET
        sizes = [50, 100, 0, 300, 7, 128, 129, 1, 260, 64, 64, 3, 500, 2]
        rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(sizes, 1)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = sorted(
            packing.pack_concat_chunks(df).collect(),
            key=lambda r: (r["shard"], r["doc_id"]),
        )
        assert len(out) == len(sizes)
        # per shard, pure doc_id order: each start is the running sum of
        # the shard's earlier docs, and the chunk ids follow from it
        off = {}
        for r in out:
            assert 0 <= r["shard"] < packing.PACK_SHARDS
            n = sizes[r["doc_id"] - 1]
            start = off.get(r["shard"], 0)
            off[r["shard"]] = start + n
            first = start // budget
            last = (start + max(n, 1) - 1) // budget
            assert (r["n_tokens"], r["start_off"]) == (n, start)
            assert (r["first_chunk"], r["last_chunk"]) == (first, last)
            assert r["n_chunks"] == (0 if n == 0 else last - first + 1)
        assert len(off) > 1 and any(r["n_chunks"] >= 3 for r in out)

    def test_null_text_occupies_nothing(self, spark):
        """NULL text == empty text for packing: zero tokens, zero
        chunks, zero-width span (the r8 review found size(NULL)'s NULL
        n_tokens dodged the n_chunks==0 branch and reported 1)."""
        from uc_historic_data_importer_spark.operators import packing

        df = spark.createDataFrame(
            [(1, None), (2, "a b c"), (3, "")], "doc_id long, text string"
        )
        out = {
            r["doc_id"]: r
            for r in packing.pack_concat_chunks(df).collect()
        }
        assert out[1]["n_tokens"] == 0 and out[1]["n_chunks"] == 0
        assert out[3]["n_tokens"] == 0 and out[3]["n_chunks"] == 0
        assert out[2]["n_chunks"] == 1
        # offsets still consistent: the NULL doc is zero-width
        total = sum(r["n_tokens"] for r in out.values())
        assert total == 3

    def test_shard_membership_is_id_pure(self, spark):
        from uc_historic_data_importer_spark.operators import packing

        df1 = spark.createDataFrame(
            [(i, "w " * (i % 7 + 1)) for i in range(40)], ["doc_id", "text"]
        )
        # dropping other rows never moves a doc's shard (id-pure hash)
        df2 = df1.filter(F.col("doc_id") % 2 == 0)
        s1 = {
            r["doc_id"]: r["shard"]
            for r in packing.pack_concat_chunks(df1).collect()
        }
        s2 = {
            r["doc_id"]: r["shard"]
            for r in packing.pack_concat_chunks(df2).collect()
        }
        assert all(s1[d] == s2[d] for d in s2)


class TestPii:
    def test_scrub_counts_and_redaction(self, spark):
        df = spark.createDataFrame(
            [
                (1, "mail a@b.com and c.d+x@e-f.org now"),
                (2, "server 10.0.200.7 called 202-555-0199"),
                (3, "no pii here"),
                (4, "not a phone: 1234-567-8901"),  # \b kills the match
            ],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r for r in text.pii_scrub(df).collect()}
        assert out[1]["n_email"] == 2 and out[1]["n_ipv4"] == 0
        assert out[1]["redacted"] == "mail <EMAIL> and <EMAIL> now"
        assert out[2]["n_ipv4"] == 1 and out[2]["n_phone"] == 1
        assert out[2]["redacted"] == "server <IPV4> called <PHONE>"
        assert out[3]["redacted"] == "no pii here"
        assert out[4]["n_phone"] == 0 and out[4]["redacted"] == out[4]["text"]


class TestRepetition:
    def test_scores(self, spark):
        df = spark.createDataFrame(
            [(1, "a a a a"), (2, "one"), (3, ""), (4, "x y x y")],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r for r in text.repetition_scores(df).collect()}
        assert out[1]["n_bigrams"] == 3
        assert out[1]["dup_bigram_ratio"] == pytest.approx(1 - 1 / 3, abs=1e-6)
        assert out[1]["distinct_token_ratio"] == 0.25
        # single-token / empty docs bypass the bigram build (sequence
        # guard) instead of producing a descending index array
        assert out[2]["n_bigrams"] == 0 and out[2]["dup_bigram_ratio"] == 0.0
        assert out[3]["n_tokens"] == 0 and out[3]["distinct_token_ratio"] == 0.0
        # "x y x y": bigrams [x y, y x, x y] -> 2 distinct of 3
        assert out[4]["dup_bigram_ratio"] == pytest.approx(1 - 2 / 3, abs=1e-6)


class TestQuantizeInt8:
    def test_codes_exact(self, spark):
        df = spark.createDataFrame(
            [(0, [1.0, -0.5, 0.0]), (1, [0.0, 0.0, 0.0])],
            ["vec_id", "embedding"],
        )
        out = similarity.quantize_int8(df).collect()
        codes = {(r["vec_id"], r["dim"]): r["q_val"] for r in out}
        # scale = 1/127; q = floor(x*127 + 0.5)
        assert codes[(0, 0)] == 127
        assert codes[(0, 1)] == -63  # round-half-up: floor(-63.5+0.5) = -63
        assert codes[(0, 2)] == 0
        # degenerate all-zero vector: q = 0, scale 0
        assert codes[(1, 0)] == 0
        scales = {r["vec_id"]: r["scale_r"] for r in out}
        assert scales[0] == pytest.approx(1 / 127, abs=1e-6)
        assert scales[1] == 0.0

    def test_dequant_error_bounded(self, spark):
        import random

        rng = random.Random(7)
        rows = [
            (i, [rng.uniform(-2, 2) for _ in range(16)]) for i in range(20)
        ]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        q = similarity.quantize_int8(df).collect()
        vecs = dict(rows)
        for r in q:
            x = vecs[r["vec_id"]][r["dim"]]
            maxabs = max(abs(v) for v in vecs[r["vec_id"]])
            scale = maxabs / 127.0
            assert abs(x - r["q_val"] * scale) <= scale / 2 + 1e-9
            assert -127 <= r["q_val"] <= 127


class TestLshBuckets:
    def test_bucket_properties(self, spark):
        v = [0.3, -0.7, 0.2, 0.9]
        rows = [
            (0, v),
            (1, v),                       # identical -> same bucket
            (2, [2 * x for x in v]),      # scaling-invariant
            (3, [-x for x in v]),         # antipode -> complement bucket
        ]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out = {
            r["vec_id"]: r["bucket"]
            for r in similarity.hyperplane_lsh_buckets(df).collect()
        }
        assert out[0] == out[1] == out[2]
        assert 0 <= out[0] <= 255
        # dots are all nonzero for this vector, so every bit flips
        assert out[0] + out[3] == 255


class TestNgramDecontamination:
    def test_shared_grams_flagged(self, spark):
        test = spark.createDataFrame(
            [(100, "one two three four five")], ["doc_id", "text"]
        )
        train = spark.createDataFrame(
            [
                (1, "prefix one two three four suffix words"),  # 1 shared
                (2, "totally unrelated text about engines"),
                (3, "one two three four five"),  # both test 4-grams
            ],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r["n_contaminated_grams"]
            for r in dedup.ngram_contamination(train, test).collect()
        }
        assert out == {1: 1, 3: 2}


class TestShortDocShingles:
    def test_sub_n_token_docs_yield_empty_shingles(self, spark):
        """Regression: sequence(0, -1) descends in Spark, so a document
        shorter than n tokens used to crash element_at under ANSI mode
        in every shingle-based operator."""
        df = spark.createDataFrame(
            [(1, "one two"), (2, ""), (3, "a b c d")], ["doc_id", "text"]
        )
        out = dedup.doc_shingle_hashes(df, n=3).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r["h"])
        assert 1 not in by_doc and 2 not in by_doc
        assert len(by_doc[3]) == 2  # "a b c", "b c d"

    def test_shingles_col_edge_cases(self, spark):
        """Pin the zip_with/slice gram construction (r14 opt round)
        against the reference semantics of the former
        sequence+transform+element_at form: NULL text and sub-n-token
        docs yield EMPTY (non-NULL) arrays, duplicates dedupe in
        first-occurrence order, n=1 degenerates to distinct tokens."""
        from pyspark.sql import functions as F

        rows = [(1, None), (2, ""), (3, "  "), (4, "a"), (5, "a b"),
                (6, "a b c"), (7, "A! b c A b c")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        got = {
            r["doc_id"]: r["sh"]
            for r in df.select(
                "doc_id", dedup.shingles_col(F.col("text"), 3).alias("sh")
            ).collect()
        }
        assert got[1] == [] and got[2] == [] and got[3] == []
        assert got[4] == [] and got[5] == []
        assert got[6] == ["a b c"]
        # duplicate gram "a b c" appears once, first-occurrence order kept
        assert got[7] == ["a b c", "b c a", "c a b"]
        uni = {
            r["doc_id"]: r["sh"]
            for r in df.select(
                "doc_id", dedup.shingles_col(F.col("text"), 1).alias("sh")
            ).collect()
        }
        assert uni[7] == ["a", "b", "c"]

    def test_short_docs_flow_through_jaccard_and_lsh(self, spark):
        df = spark.createDataFrame(
            [(1, "x"), (2, "the quick brown fox jumps"),
             (3, "the quick brown fox leaps")],
            ["doc_id", "text"],
        )
        pairs = dedup.jaccard_pairs(df).collect()
        assert all({p["doc_a"], p["doc_b"]} == {2, 3} for p in pairs)
        lsh = dedup.minhash_lsh_pairs(df).collect()  # must not raise
        assert all(1 not in (p["doc_a"], p["doc_b"]) for p in lsh)


class TestMixtureSample:
    def test_weights_shape_the_mixture(self, spark):
        from uc_historic_data_importer_spark.operators import sampling

        # MIXTURE_WEIGHTS: src0 2.5, src1 0.25
        rows = [(i, "w", "src0" if i < 200 else "src1", "x") for i in range(400)]
        df = spark.createDataFrame(rows, ["doc_id", "text", "source", "lang"])
        out = sampling.mixture_sample(df)
        counts = {
            r["source"]: r["n"]
            for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        # 2 full copies each plus a hash-selected half
        assert 400 + 60 <= counts["src0"] <= 400 + 140
        assert 20 <= counts["src1"] <= 80  # ~a quarter, hash-selected
        # copy indices present and bounded
        copies = {r["copy_idx"] for r in out.select("copy_idx").distinct().collect()}
        assert copies <= {0, 1, 2}

    def test_zero_weight_drops_domain_and_is_rerun_stable(self, spark):
        from uc_historic_data_importer_spark.operators import sampling

        rows = [(i, "w", "src2" if i % 2 else "src1", "x") for i in range(100)]
        df = spark.createDataFrame(rows, ["doc_id", "text", "source", "lang"])
        out1 = sampling.mixture_sample(df)  # src2 weighs 0
        assert out1.filter(F.col("source") == "src2").count() == 0
        ids1 = sorted(r["doc_id"] for r in out1.collect())
        ids2 = sorted(r["doc_id"] for r in sampling.mixture_sample(df).collect())
        assert ids1 == ids2

    def test_integer_weight_fanout_is_exact(self, spark):
        """Exact-integer weights (incl. the default 1.0) must explode
        exactly n_full copies — the r8 review found an extra
        always-filtered candidate row per document (2x exploded rows on
        a default-weight corpus, discarded after materialization)."""
        from uc_historic_data_importer_spark.operators import sampling

        rows = [(i, "w", "other", "x") for i in range(50)]
        df = spark.createDataFrame(rows, ["doc_id", "text", "source", "lang"])
        # a domain MIXTURE_WEIGHTS does not list takes the default 1.0:
        # one copy per doc, copy_idx == 0
        out = sampling.mixture_sample(df)
        assert out.count() == 50
        assert {r["copy_idx"] for r in out.select("copy_idx").distinct().collect()} == {0}
        # w = 0.0 (src2): no copy at all, not one filtered candidate
        plan = sampling.mixture_sample(df.withColumn("source", F.lit("src2")))
        assert plan.count() == 0

    def test_mixture_sql_replays_mixture_sample(self, spark):
        """mixture_sql (one CASE over MIXTURE_WEIGHTS plus the default
        weight) replays mixture_sample exactly, for every weighted
        domain and an unlisted one."""
        import duckdb
        import pandas as pd

        from uc_historic_data_importer_spark.operators import sampling

        doms = ["src0", "src1", "src2", "other"]
        rows = [(i, "w", doms[i % 4], "x") for i in range(80)]
        df = spark.createDataFrame(rows, ["doc_id", "text", "source", "lang"])
        con = duckdb.connect()
        con.register(
            "documents",
            pd.DataFrame(rows, columns=["doc_id", "text", "source", "lang"]),
        )
        got = sorted(
            (r["doc_id"], r["copy_idx"])
            for r in sampling.mixture_sample(df).collect()
        )
        oracle = sorted(
            (int(a), int(b))
            for a, b in con.execute(
                f"SELECT doc_id, copy_idx FROM ({sampling.mixture_sql()})"
            ).fetchall()
        )
        assert got == oracle and len(got) > 60


class TestChunkSpans:
    def test_overlapping_windows(self, spark):
        from uc_historic_data_importer_spark.operators import packing

        toks = " ".join(f"t{i}" for i in range(100))
        df = spark.createDataFrame(
            [(1, toks), (2, "only three tokens"), (3, "")],
            ["doc_id", "text"],
        )
        out = packing.chunk_spans(df)
        rows = sorted(
            (r["doc_id"], r["chunk_idx"], r["start_tok"], r["end_tok"], r["chunk_text"])
            for r in out.collect()
        )
        d1 = [r for r in rows if r[0] == 1]
        # CHUNK_SIZE 48, CHUNK_STRIDE 24: starts 0,24,48,72,96
        assert [(r[2], r[3]) for r in d1] == [
            (0, 48), (24, 72), (48, 96), (72, 100), (96, 100)
        ]
        assert d1[0][4] == " ".join(f"t{i}" for i in range(48))
        assert d1[-1][4] == "t96 t97 t98 t99"
        # short doc -> single truncated chunk; empty doc -> no rows
        d2 = [r for r in rows if r[0] == 2]
        assert len(d2) == 1 and d2[0][4] == "only three tokens"
        assert not [r for r in rows if r[0] == 3]

    def test_windows_cover_every_token(self, spark):
        from uc_historic_data_importer_spark.operators import packing

        df = spark.createDataFrame(
            [(i, " ".join("w" + str(j) for j in range(i))) for i in range(1, 130, 7)],
            ["doc_id", "text"],
        )
        out = packing.chunk_spans(df).collect()
        per_doc = {}
        for r in out:
            per_doc.setdefault(r["doc_id"], []).append((r["start_tok"], r["end_tok"]))
        for doc_id, spans in per_doc.items():
            spans.sort()
            # starts step by the stride, each window is at most CHUNK_SIZE
            # tokens, and together they reach the last token
            assert [a for a, _b in spans] == list(
                range(0, doc_id, packing.CHUNK_STRIDE)
            )
            assert all(0 < b - a <= packing.CHUNK_SIZE for a, b in spans)
            assert spans[-1][1] == doc_id  # n_tokens == doc_id here


class TestBpeTokens:
    def test_piece_boundaries(self, spark):
        from uc_historic_data_importer_spark.operators.text import bpe_pieces_col

        df = spark.createDataFrame(
            [("Hello world, it's 2026!",), ("   ",), ("",), ("don't—stop",)],
            "text string",
        )
        got = [r[0] for r in df.select(bpe_pieces_col(F.col("text"))).collect()]
        assert got[0] == ["Hello", " world", ",", " it", "'s", " 2026", "!"]
        assert got[1] == [] and got[2] == []
        assert got[3] == ["don", "'t", "—", "stop"]

    def test_fertility_guards_empty_docs(self, spark):
        from uc_historic_data_importer_spark.operators.text import bpe_token_stats

        df = spark.createDataFrame(
            [("a", "two words"), ("a", ""), ("b", "x")],
            "source string, text string",
        )
        rows = {r["source"]: r for r in bpe_token_stats(df).collect()}
        # empty doc contributes no ratio (no div-by-zero under ANSI);
        # fertility is integer-scaled (mean * 1e4) for engine-portable
        # rendering
        assert rows["a"]["avg_fertility_e4"] == 10000
        assert rows["a"]["total_ws_tokens"] == 2
        assert rows["b"]["total_bpe_tokens"] == 1


class TestProductQuantization:
    def _corpus(self, spark):
        # 8-dim, PQ_M=4 subspaces of 2; two clusters a/b, each with an
        # exact twin among the PQ_K=4 lowest ids (the init centroids) so
        # codes 1 and 3 tie with 0 and 2 and capture nothing
        a = [0.0, 0.0, 9.0, 9.0, 0.0, 0.0, 9.0, 9.0]
        b = [5.0, 5.0, 1.0, 1.0, 5.0, 5.0, 1.0, 1.0]
        rows = [
            (0, a), (1, a), (2, b), (3, b),
            (4, [0.1] + a[1:]), (5, [5.1] + b[1:]),
        ]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_fit_is_deterministic_and_partition_invariant(self, spark):
        from uc_historic_data_importer_spark.operators import pq

        c = self._corpus(spark)
        b1 = pq.pq_fit(c)
        b2 = pq.pq_fit(c.repartition(3))
        assert b1 == b2
        assert len(b1) == 4 and len(b1[0]) == 4 and len(b1[0][0]) == 2

    def test_encode_clusters_and_codes_are_small_ints(self, spark):
        from uc_historic_data_importer_spark.operators import pq

        c = self._corpus(spark)
        books = pq.pq_fit(c)
        codes = {r["vec_id"]: tuple(r[f"code_{j}"] for j in range(4))
                 for r in pq.pq_encode(c, books).collect()}
        # vectors 0,1 share every subspace's code; 2,3 share the other
        assert codes[0] == codes[1] and codes[2] == codes[3]
        assert codes[0] != codes[2]
        assert all(0 <= x < pq.PQ_K for cs in codes.values() for x in cs)

    def test_adc_equals_exact_distance_on_centroid_vectors(self, spark):
        from uc_historic_data_importer_spark.operators import pq

        c = self._corpus(spark)
        books = pq.pq_fit(c)
        # a query exactly on one centroid pair: ADC distance to any
        # corpus vector == exact distance between quantized forms
        qv = [x for j in range(4) for x in books[j][0]]
        out = {r["neighbor_id"]: r["approx_dist"]
               for r in pq.pq_topk(c, books, qv, k=6).collect()}
        codes = {r["vec_id"]: [r[f"code_{j}"] for j in range(4)]
                 for r in pq.pq_encode(c, books).collect()}
        # pq_topk leaves the query vector's own id (QUERY_ID) out
        assert set(out) == set(codes) - {pq.QUERY_ID}
        for vid in out:
            quantized = [x for j in range(4) for x in books[j][codes[vid][j]]]
            want = sum((a - b) ** 2 for a, b in zip(qv, quantized))
            assert abs(out[vid] - want) < 1e-6, vid

    def test_empty_code_keeps_previous_centroid(self, spark):
        from uc_historic_data_importer_spark.operators import pq

        # PQ_K=4 but only two natural clusters: starved codes 1 and 3
        # (exact twins of codes 0 and 2, which win the ties) must keep
        # their init centroids instead of collapsing to zeros
        c = self._corpus(spark)
        books = pq.pq_fit(c)
        assert books[0][1] == [0.0, 0.0] and books[0][3] == [5.0, 5.0]
        assert books[0][0] != books[0][1]  # code 0 moved toward vec 4


class TestWeightedSample:
    def test_proportional_and_deterministic(self, spark):
        from uc_historic_data_importer_spark.operators import sampling

        # heavy ids 0-9 (n_chars 1000) vs light ids 10-109 (1): heavies
        # must dominate a 5-of-110 draw despite being 9% of candidates
        rows = [(i, 1000.0 if i < 10 else 1.0, "s") for i in range(110)]
        df = spark.createDataFrame(rows, "doc_id long, n_chars double, source string")
        pick = lambda d: sorted(
            r["doc_id"] for r in sampling.weighted_sample(d).collect()
        )
        got = pick(df)
        assert got == pick(df.repartition(7))  # partition-invariant
        assert len(got) == sampling.WEIGHTED_N
        assert sum(1 for i in got if i < 10) >= 4

    def test_nonpositive_weights_never_sampled(self, spark):
        from uc_historic_data_importer_spark.operators import sampling

        df = spark.createDataFrame(
            [(1, 0.0, "s"), (2, -3.0, "s"), (3, 2.0, "s")],
            "doc_id long, n_chars double, source string",
        )
        got = [r["doc_id"] for r in sampling.weighted_sample(df).collect()]
        assert got == [3]


class TestAudit:
    def test_null_check_result_counts_as_violation(self, spark):
        from uc_historic_data_importer_spark.operators import audit

        df = spark.createDataFrame(
            [(1, 5.0), (2, -1.0), (3, None)], "id long, x double"
        )
        row = audit.constraint_audit(
            df, {"x_pos": F.col("x") > 0}
        ).first()
        # -1.0 violates; NULL comparison result also counts
        assert row["row_count"] == 3 and row["x_pos"] == 2

    def test_referential_orphans(self, spark):
        from uc_historic_data_importer_spark.operators import audit

        child = spark.createDataFrame([(1,), (2,), (9,)], "l_orderkey long")
        parent = spark.createDataFrame([(1,), (2,), (3,)], "o_orderkey long")
        got = [r["l_orderkey"] for r in
               audit.referential_orphans(child, parent).collect()]
        assert got == [9]

    def test_null_fk_satisfies_the_constraint(self, spark):
        """SQL FK semantics: a NULL foreign key references nothing and
        passes — it must not be flagged as an orphan (the r8 review
        found the unfiltered anti join failed every NULL-FK row)."""
        from uc_historic_data_importer_spark.operators import audit

        child = spark.createDataFrame([("a",), (None,), ("z",)], "l_orderkey string")
        parent = spark.createDataFrame([("a",), ("b",)], "o_orderkey string")
        got = [r["l_orderkey"] for r in
               audit.referential_orphans(child, parent).collect()]
        assert got == ["z"]

    def test_row_count_constraint_name_rejected(self, spark):
        from uc_historic_data_importer_spark.operators import audit

        df = spark.createDataFrame([(1,)], "id long")
        with pytest.raises(ValueError, match="row_count"):
            audit.constraint_audit(df, {"row_count": F.col("id") > 0})


class TestPqRecall:
    def test_recall_on_clustered_data(self, spark):
        """On clearly clustered data PQ must retrieve same-cluster
        neighbors: recall@5 of ADC vs exact L2 >= 0.8. Measures the
        QUALITY of the approximation, not just its determinism."""
        from uc_historic_data_importer_spark.operators import pq

        # 4 well-separated cluster centers in 8-dim; 10 points each with
        # small deterministic offsets
        centers = [
            [0.0] * 8,
            [10.0] * 8,
            [0.0] * 4 + [10.0] * 4,
            [10.0] * 4 + [0.0] * 4,
        ]
        # ids interleave the clusters (vec_id % 4 is the cluster), so the
        # PQ_K=4 lowest ids — the init centroids — cover every cluster
        rows = []
        vid = 0
        for p in range(10):
            for c in centers:
                off = [((vid * 7 + d * 3 + p) % 5) / 10.0 for d in range(8)]
                rows.append((vid, [c[d] + off[d] for d in range(8)]))
                vid += 1
        corpus = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        books = pq.pq_fit(corpus)
        qv = rows[0][1]  # a cluster-0 member
        got = [
            r["neighbor_id"]
            for r in pq.pq_topk(corpus, books, qv, k=5).collect()
        ]
        exact = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, v)), i)
            for i, v in rows
            if i != 0
        )[:5]
        exact_ids = {i for _, i in exact}
        recall = len(set(got) & exact_ids) / 5.0
        # ADC with 4x4 codes cannot rank within a cluster perfectly, but
        # all picks must come from the query's cluster
        assert all(g % 4 == 0 for g in got), got
        assert recall >= 0.4, (recall, got, exact_ids)


class TestKAnonymity:
    def test_violating_groups_and_null_linkability(self, spark):
        from uc_historic_data_importer_spark.operators import audit

        df = spark.createDataFrame(
            [(1, "a")] * 8 + [(2, "b"), (2, None)],
            "c_nationkey int, c_mktsegment string",
        )
        got = {
            (r["c_mktsegment"], r["c_nationkey"]): r["group_size"]
            for r in audit.k_anonymity_audit(df).collect()
        }
        # (1,a) has 8 members -> safe; singletons violate, incl. NULL segment
        assert got == {("b", 2): 1, (None, 2): 1}

    def test_k_floor(self, spark):
        # the k-anonymity floor is 8: a group of 7 violates, 8 does not
        from uc_historic_data_importer_spark.operators import audit

        df = spark.createDataFrame(
            [(1, "a")] * 7 + [(2, "b")] * 8, "c_nationkey int, c_mktsegment string"
        )
        got = {
            r["c_nationkey"]: r["group_size"]
            for r in audit.k_anonymity_audit(df).collect()
        }
        assert got == {1: 7}


class TestIncrementalLsh:
    def test_exact_dup_across_batch_boundary_found(self, spark):
        from uc_historic_data_importer_spark.operators import dedup

        corpus = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (3, "an entirely different document about spark plans")],
            "doc_id long, text string",
        )
        incoming = spark.createDataFrame(
            [(10, "the quick brown fox jumps over the lazy dog"),   # dup of 1
             (20, "nothing like anything stored before at all here")],
            "doc_id long, text string",
        )
        got = {(r["new_id"], r["corpus_id"])
               for r in dedup.lsh_join_incremental(incoming, corpus).collect()}
        assert (10, 1) in got
        assert all(n != 20 for n, _ in got)

    def test_matches_self_join_pairs_on_union(self, spark):
        """Incremental(batch vs corpus) must find exactly the cross-
        boundary subset of the full self-join's pairs."""
        from uc_historic_data_importer_spark.operators import dedup

        docs = spark.createDataFrame(
            [(i, f"shared prefix tokens alpha beta gamma delta {i % 3}")
             for i in range(12)],
            "doc_id long, text string",
        )
        full = {
            (min(a, b), max(a, b))
            for a, b in (
                (r["doc_a"], r["doc_b"])
                for r in dedup.minhash_lsh_pairs(docs).collect()
            )
        }
        inc = dedup.lsh_join_incremental(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
        )
        got = {
            (min(r["new_id"], r["corpus_id"]), max(r["new_id"], r["corpus_id"]))
            for r in inc.collect()
        }
        want = {(a, b) for a, b in full if (a % 2) != (b % 2)}
        assert got == want and got


class TestTokenBudgetSample:
    def test_prefix_never_overshoots_and_is_stable(self, spark):
        from uc_historic_data_importer_spark.operators import sampling

        rows = [(i, "a", 40) for i in range(30)] + [(100, "b", 1000)]
        df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
        out = sampling.token_budget_sample(df)
        got = {(r["source"], r["doc_id"]) for r in out.collect()}
        a_rows = [d for s, d in got if s == "a"]
        # 40-token docs: exactly 22 fit under TOKEN_BUDGET (900)
        assert len(a_rows) == sampling.TOKEN_BUDGET // 40 == 22
        # source b's single 1000-token doc busts the budget -> empty group
        assert not [d for s, d in got if s == "b"]
        # partition-invariant
        got2 = {(r["source"], r["doc_id"]) for r in sampling.token_budget_sample(
            df.repartition(5)
        ).collect()}
        assert got == got2

    def test_budget_floor(self, spark):
        # the prefix may end exactly on TOKEN_BUDGET; one token more drops
        from uc_historic_data_importer_spark.operators import sampling

        rows = [(1, "a", 500), (2, "a", 400), (3, "b", 500), (4, "b", 401)]
        df = spark.createDataFrame(rows, "doc_id long, source string, n_tokens long")
        kept = {r["doc_id"] for r in sampling.token_budget_sample(df).collect()}
        assert sampling.TOKEN_BUDGET == 900
        # doc order within a source is by hash, so check the invariant
        by_src = {"a": {1, 2}, "b": {3, 4}}
        assert by_src["a"] <= kept  # 500 + 400 = 900 fits exactly
        assert len(kept & by_src["b"]) == 1  # 500 + 401 = 901 does not


class TestSourceOverlap:
    def test_identical_sources_estimate_full_overlap(self, spark):
        from uc_historic_data_importer_spark.operators.dedup import (
            source_minhash_overlap,
        )

        text = "alpha beta gamma delta epsilon zeta"
        df = spark.createDataFrame(
            [("a", 1, text), ("b", 2, text), ("c", 3, "totally different words here now")],
            "source string, doc_id long, text string",
        )
        rows = {
            (r["source_a"], r["source_b"]): r
            for r in source_minhash_overlap(df).collect()
        }
        # identical shingle sets -> every perm agrees -> estimate 1.0
        full = rows[("a", "b")]
        assert full["agreeing_perms"] == 16
        assert full["jaccard_e4"] == 10000
        # disjoint shingle sets -> zero agreements -> pair omitted
        assert ("a", "c") not in rows and ("b", "c") not in rows


class TestSegmentDedup:
    @pytest.fixture(scope="class")
    def seg_docs(self, spark):
        # one full SEGMENT_K=10 segment shared by docs 1-3
        shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        rows = [
            (1, shared + " a1 b1 c1 d1 e1 f1 g1 h1 i1 j1", "en", "s1"),
            (2, shared + " a2 b2 c2 d2 e2 f2 g2 h2 i2 j2", "en", "s1"),
            (3, shared + " a3 b3 c3 d3 e3 f3 g3 h3 i3 j3", "en", "s2"),
            (4, " ".join(f"w{i}" for i in range(20)), "en", "s2"),
        ]
        return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])

    def test_word_segments_shapes(self, seg_docs):
        segs = text.word_segments(seg_docs).collect()
        by_doc = {}
        for r in segs:
            by_doc.setdefault(r["doc_id"], []).append((r["seg_no"], r["segment"]))
        # 20 tokens / SEGMENT_K=10 -> exactly 2 segments per doc, positions 0 and 1
        assert all(sorted(p for p, _ in v) == [0, 1] for v in by_doc.values())
        assert by_doc[1][0][1] == "alpha beta gamma delta epsilon zeta eta theta iota kappa"

    def test_trailing_short_segment_kept(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f g h i j k l", "en", "s1")],
            ["doc_id", "text", "lang", "source"],
        )
        segs = {r["seg_no"]: r["segment"] for r in text.word_segments(df).collect()}
        assert segs == {0: "a b c d e f g h i j", 1: "k l"}

    def test_segment_dup_stats(self, seg_docs):
        stats = {r["doc_id"]: r for r in text.segment_dup_stats(seg_docs).collect()}
        # docs 1-3 share their first segment; second segments are unique
        for d in (1, 2, 3):
            assert stats[d]["n_segments"] == 2
            assert stats[d]["dup_segments"] == 1
            assert stats[d]["dup_ratio_bp"] == 5000
        assert stats[4]["dup_segments"] == 0 and stats[4]["dup_ratio_bp"] == 0

    def test_boilerplate_threshold(self, seg_docs):
        bp = text.boilerplate_segments(seg_docs).collect()
        assert len(bp) == 1
        assert bp[0]["segment"] == (
            "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        )
        assert bp[0]["n_docs"] == 3 and bp[0]["n_occurrences"] == 3
        # shared by only 2 documents it falls below the 3-document bar
        two = seg_docs.filter("doc_id != 3")
        assert text.boilerplate_segments(two).count() == 0


class TestBestRepresentative:
    def test_keeps_longest_then_smallest_id(self, spark):
        rows = [
            # cluster: same token SET, different lengths/order
            (1, "quick brown fox", 15),
            (2, "brown fox quick quick", 21),   # longest -> representative
            (3, "fox quick brown", 15),
            # singleton — must not appear
            (4, "totally different words", 23),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text", "n_chars"])
        reps = dedup.best_representative(df).collect()
        assert len(reps) == 1
        r = reps[0]
        assert r["rep_doc_id"] == 2
        assert r["cluster_size"] == 3
        assert r["rep_quality"] == 21

    def test_tie_breaks_to_smallest_id(self, spark):
        rows = [(7, "x y z", 5), (3, "z y x", 5)]
        df = spark.createDataFrame(rows, ["doc_id", "text", "n_chars"])
        reps = dedup.best_representative(df).collect()
        assert len(reps) == 1 and reps[0]["rep_doc_id"] == 3


class TestRelativeQualityFilter:
    def test_drops_bottom_quartile_per_source(self, spark):
        rows = []
        # source A: 4 docs with 1..4 tokens -> percent_rank 0, 1/3, 2/3, 1
        for i, n in enumerate((1, 2, 3, 4)):
            rows.append((i, " ".join(["w"] * n), "en", "A"))
        # source B: 2 docs -> ranks 0 and 1; only the bottom one drops
        rows.append((10, "w", "en", "B"))
        rows.append((11, "w w", "en", "B"))
        df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
        out = {r["source"]: r for r in text.relative_quality_filter(df).collect()}
        assert out["A"]["n_docs"] == 4 and out["A"]["n_dropped"] == 1
        assert out["B"]["n_docs"] == 2 and out["B"]["n_dropped"] == 1


class TestCurationPipelineV2:
    def test_funnel_monotone_and_exhaustive(self, spark):
        import uc_historic_data_importer_spark.plans.catalog_ext as ext

        out = {r["source"]: r for r in ext.curation_pipeline_v2_q(
            spark, "/root/testdata/sf0.001").collect()}
        assert len(out) > 0
        for src, r in out.items():
            # funnel stages can only shrink
            assert r["n_input"] >= r["n_after_segment"] >= r["n_after_quality"] >= r["n_kept"]
            assert r["n_kept"] >= 0 and r["kept_tokens"] >= 0
            # quality gate drops at most ~the bottom quartile of the source
            assert r["n_after_quality"] >= r["n_after_segment"] - (r["n_input"] // 4 + 1)


class TestSegmentPythonReference:
    """Cross-check the codegen segmentation against an independent pure-
    Python reference over a corpus of edge shapes (empty, punct-only,
    exact-multiple-of-k, k±1, repeated tokens, unicode)."""

    CORPUS = [
        (1, ""),
        (2, "!!! ... ---"),                       # tokenizes to nothing
        (3, "a b c d e f g h i j"),               # exactly k
        (4, "a b c d e f g h i j k"),             # k + 1
        (5, "a b c d e f g h i"),                 # k - 1
        (6, "x " * 50),                           # repeated token, 5 segments
        (7, "Héllo wörld foo BAR baz qux " * 2),  # case/diacritics
        (8, "a  b\tc   d e f g h i j\t\tk l"),     # whitespace runs
    ]
    K = text.SEGMENT_K

    @staticmethod
    def _py_segments(text, k):
        import re

        toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
        return {
            (i // k, " ".join(toks[i : i + k]))
            for i in range(0, len(toks), k)
        }

    def test_matches_python_reference(self, spark):
        df = spark.createDataFrame(self.CORPUS, ["doc_id", "text"])
        got = {}
        for r in text.word_segments(df).collect():
            got.setdefault(r["doc_id"], set()).add((r["seg_no"], r["segment"]))
        for doc_id, txt in self.CORPUS:
            expected = self._py_segments(txt, self.K)
            assert got.get(doc_id, set()) == expected, doc_id


class TestProfileDrift:
    def test_detects_null_spike_and_range_shift(self, spark):
        from uc_historic_data_importer_spark.operators import audit

        schema = "o_custkey long, o_orderstatus string, o_totalprice double"
        old = spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 1.0), (3, "c", 1.0), (4, "d", 1.0)], schema
        )
        new = spark.createDataFrame(
            [(1, "a", 1.0), (2, None, 1.0), (3, None, 1.0), (9, "z", 1.0)], schema
        )
        out = {r["column"]: r for r in audit.profile_drift(old, new).collect()}
        assert set(out) == set(audit.DRIFT_COLS)
        assert out["o_orderstatus"]["null_rate_delta_bp"] == 5000  # 0% -> 50%
        assert out["o_orderstatus"]["distinct_delta"] == -2        # 4 -> 2
        assert out["o_custkey"]["range_changed"] == 1              # max 4 -> 9
        assert out["o_custkey"]["row_delta"] == 0
        assert out["o_totalprice"]["range_changed"] == 0

    def test_empty_old_side_reports_not_nulls(self, spark):
        from uc_historic_data_importer_spark.operators import audit

        schema = "o_custkey long, o_orderstatus string, o_totalprice double"
        old = spark.createDataFrame([], schema)
        new = spark.createDataFrame([(1, "a", 1.0), (2, None, 2.0)], schema)
        out = {r["column"]: r for r in audit.profile_drift(old, new).collect()}
        r = out["o_orderstatus"]
        assert r["row_delta"] == 2
        assert r["null_rate_delta_bp"] == 5000
        assert r["distinct_delta"] == 1
        assert r["range_changed"] == 1  # NULL -> 'a' is a range shift


class TestSubstringDedup:
    @pytest.fixture(scope="class")
    def sub_docs(self, spark):
        # a shared 10-token run embedded at different offsets, plus an
        # in-document repeat and a clean doc
        run = "one two three four five six seven eight nine ten"
        rows = [
            (1, "intro words here " + run + " tail a b c", "en", "s1"),
            (2, run + " completely different ending here now", "en", "s1"),
            (3, "x1 x2 x3 " + run + " y1 " + run, "en", "s2"),
            (4, "totally unique text with no repeated runs at all kept", "en", "s2"),
            (5, "tiny doc", "en", "s2"),
        ]
        return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])

    def test_spans_cover_shared_run(self, sub_docs):
        spans = text.duplicate_spans(sub_docs).collect()
        by_doc = {}
        for r in spans:
            by_doc.setdefault(r["doc_id"], []).append(
                (r["span_start"], r["span_end"])
            )
        # doc 1: run occupies token positions 3..13
        assert by_doc[1] == [(3, 13)]
        # doc 2: run at 0..10
        assert by_doc[2] == [(0, 10)]
        # doc 4 and the sub-k doc 5 have no duplicated windows
        assert 4 not in by_doc and 5 not in by_doc
        # every span is at least k tokens long
        assert all(e - s >= 8 for v in by_doc.values() for (s, e) in v)

    def test_spans_disjoint_and_merged(self, sub_docs):
        spans = text.duplicate_spans(sub_docs).collect()
        by_doc = {}
        for r in spans:
            by_doc.setdefault(r["doc_id"], []).append(
                (r["span_start"], r["span_end"])
            )
        for v in by_doc.values():
            v.sort()
            # maximal merge: consecutive spans separated by > k
            for (s1, e1), (s2, e2) in zip(v, v[1:]):
                assert s2 > e1, "overlapping spans must be merged"

    def test_in_document_repeat_detected(self, sub_docs):
        # doc 3 contains the run twice: both occurrences must be covered
        spans = sorted(
            (r["span_start"], r["span_end"])
            for r in text.duplicate_spans(sub_docs)
            .filter("doc_id = 3")
            .collect()
        )
        covered = sum(e - s for s, e in spans)
        assert covered >= 20  # two 10-token occurrences

    def test_apply_invariants(self, sub_docs):
        out = {r["doc_id"]: r for r in
               text.remove_duplicate_spans(sub_docs).collect()}
        assert set(out) == {1, 2, 3, 4, 5}
        for r in out.values():
            assert r["kept_tokens"] == r["n_tokens"] - r["dup_tokens"]
            assert len(r["kept_text"].split()) == r["kept_tokens"] or (
                r["kept_tokens"] == 0 and r["kept_text"] == ""
            )
        # clean docs come back verbatim (tokenized form)
        assert out[4]["dup_tokens"] == 0
        assert out[4]["kept_text"].startswith("totally unique")
        assert out[5]["kept_text"] == "tiny doc"
        # doc 1 keeps its intro and tail around the cut run
        assert out[1]["kept_text"] == "intro words here tail a b c"

    def test_min_occurrences_threshold(self, sub_docs):
        # a window must occur at least twice corpus-wide: the shared run
        # (docs 1, 2, 3x2) is reported, the unique doc 4 never is
        docs = {r["doc_id"] for r in text.duplicate_spans(sub_docs).collect()}
        assert {1, 2, 3} <= docs and 4 not in docs

    def test_zero_token_doc(self, spark):
        df = spark.createDataFrame(
            [(1, "...", "en", "s1"), (2, "", "en", "s1")],
            ["doc_id", "text", "lang", "source"],
        )
        out = {r["doc_id"]: r for r in
               text.remove_duplicate_spans(df).collect()}
        assert out[1]["n_tokens"] == 0 and out[1]["kept_text"] == ""
        assert out[2]["n_tokens"] == 0 and out[2]["kept_text"] == ""


class TestShardAssign:
    @pytest.fixture(scope="class")
    def assigned(self, spark):
        from uc_historic_data_importer_spark.operators import packing

        docs = text.with_tokens(
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        ).select("doc_id", "n_tokens")
        return (
            packing.shard_assign_by_tokens(docs)
            .orderBy("global_start")
            .collect(),
            packing.SHARD_TARGET,
        )

    def test_layout_is_contiguous_prefix(self, assigned):
        rows, _ = assigned
        assert rows[0]["global_start"] == 0
        for a, b in zip(rows, rows[1:]):
            assert b["global_start"] == a["global_start"] + a["n_tokens"]

    def test_shard_id_formula_and_monotone(self, assigned):
        rows, target = assigned
        for r in rows:
            assert r["shard_id"] == r["global_start"] // target
        sids = [r["shard_id"] for r in rows]
        assert sids == sorted(sids)
        # no empty shards in the middle
        assert set(sids) == set(range(min(sids), max(sids) + 1))

    def test_nonlast_shards_reach_boundary(self, assigned):
        rows, target = assigned
        last = max(r["shard_id"] for r in rows)
        ends: dict[int, int] = {}
        for r in rows:
            ends[r["shard_id"]] = r["global_start"] + r["n_tokens"]
        for sid, end in ends.items():
            if sid != last:
                # the shard's final document must cross its right boundary
                assert end >= (sid + 1) * target


class TestSemanticDecontamination:
    def test_flags_planted_near_dup(self, spark):
        from uc_historic_data_importer_spark.operators import similarity

        base = [1.0, 0.0, 0.0, 0.0]
        near = [0.99, 0.14, 0.0, 0.0]   # cos ~ 0.990 vs base
        far = [0.0, 0.0, 1.0, 0.0]
        train = spark.createDataFrame(
            [(10, near), (11, far)], ["vec_id", "embedding"]
        )
        test = spark.createDataFrame([(1, base)], ["vec_id", "embedding"])
        out = {r["vec_id"]: r for r in similarity.semantic_decontamination(
            train, test).collect()}
        assert out[10]["contaminated"] == 1
        assert out[11]["contaminated"] == 0
        assert out[11]["max_test_sim"] == 0.0
        # every train row is reported, audit-style
        assert set(out) == {10, 11}

    def test_max_over_multiple_test_vectors(self, spark):
        from uc_historic_data_importer_spark.operators import similarity

        train = spark.createDataFrame(
            [(1, [1.0, 0.0])], ["vec_id", "embedding"]
        )
        test = spark.createDataFrame(
            [(100, [0.0, 1.0]), (101, [1.0, 0.0])], ["vec_id", "embedding"]
        )
        row = similarity.semantic_decontamination(
            train, test).collect()[0]
        assert row["max_test_sim"] == 1.0 and row["contaminated"] == 1


class TestBm25:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [
            (1, "spark spark spark engine", "en", "s"),
            (2, "spark engine", "en", "s"),
            (3, "engine only here words pad pad pad pad", "en", "s"),
            (4, "nothing relevant at all in this one", "en", "s"),
        ]
        return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])

    def test_ranking_and_exclusion(self, corpus):
        out = text.bm25_topk(corpus, ["spark"]).collect()
        ids = [r["doc_id"] for r in out]
        # only docs containing the term score > 0
        assert set(ids) == {1, 2}
        # higher tf (with comparable length) ranks first
        assert ids[0] == 1
        assert all(r["bm25"] > 0 for r in out)

    def test_multi_term_additivity(self, corpus):
        single = {r["doc_id"]: r["bm25"]
                  for r in text.bm25_topk(corpus, ["engine"]).collect()}
        multi = {r["doc_id"]: r["bm25"]
                 for r in text.bm25_topk(corpus, ["spark", "engine"]).collect()}
        # doc 3 matches only 'engine'; its score must carry over
        assert 3 in single and 3 in multi
        # doc 2 matches both terms: strictly higher than either alone
        assert multi[2] > single[2]

    def test_rare_term_outscores_common(self, spark):
        rows = [(i, "common filler words here", "en", "s") for i in range(1, 9)]
        rows.append((9, "common rare filler words", "en", "s"))
        df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
        out = {r["doc_id"]: r["bm25"]
               for r in text.bm25_topk(df, ["rare", "common"]).collect()}
        # the idf of 'rare' (df=1) dominates 'common' (df=9)
        assert out[9] == max(out.values())

    def test_topk_and_empty_query(self, spark, corpus):
        # 12 matching docs, BM25_TOPK (10) returned
        rows = [(i, "engine " * i + "pad", "en", "s") for i in range(1, 13)]
        df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source"])
        assert len(text.bm25_topk(df, ["engine"]).collect()) == text.BM25_TOPK
        with pytest.raises(ValueError):
            text.bm25_topk(corpus, [])


class TestHllIntersection:
    def test_inclusion_exclusion_tracks_truth(self, spark):
        from uc_historic_data_importer_spark.operators import sketches

        # two sets of 300 with a known overlap of 100
        rows = [("a", f"u{i}") for i in range(300)]
        rows += [("b", f"u{i}") for i in range(200, 500)]
        df = spark.createDataFrame(rows, ["event_type", "user_id"])
        out = sketches.hll_pairwise_intersection(df).collect()
        assert len(out) == 1
        r = out[0]
        assert (r["type_a"], r["type_b"]) == ("a", "b")
        # HLL at p=8 has ~6.5% standard error; 3 sigma on each term
        assert abs(r["est_a"] - 300) < 60 and abs(r["est_b"] - 300) < 60
        assert abs(r["est_union"] - 500) < 100
        assert abs(r["est_intersection"] - 100) < 90
        # union never exceeds the sum, intersection never negative
        assert r["est_union"] <= r["est_a"] + r["est_b"]
        assert r["est_intersection"] >= 0

    def test_disjoint_sets_near_zero(self, spark):
        from uc_historic_data_importer_spark.operators import sketches

        rows = [("a", f"x{i}") for i in range(200)]
        rows += [("b", f"y{i}") for i in range(200)]
        df = spark.createDataFrame(rows, ["event_type", "user_id"])
        r = sketches.hll_pairwise_intersection(df).collect()[0]
        # disjoint: intersection estimate within sketch noise of zero
        assert r["est_intersection"] < 60

    def test_pair_symmetry_one_row_per_pair(self, spark):
        from uc_historic_data_importer_spark.operators import sketches

        rows = [(g, f"u{i}") for g in ("a", "b", "c") for i in range(50)]
        df = spark.createDataFrame(rows, ["event_type", "user_id"])
        out = sketches.hll_pairwise_intersection(df).collect()
        pairs = sorted((r["type_a"], r["type_b"]) for r in out)
        assert pairs == [("a", "b"), ("a", "c"), ("b", "c")]
        # identical sets: intersection ~= each single estimate
        for r in out:
            assert abs(r["est_intersection"] - r["est_a"]) < 1e-6


class TestInDocSegmentDedup:
    def test_repeats_removed_first_kept(self, spark):
        # SEGMENT_K=10 segments: [s1] [s1] [s2] [s1] -> keep seg 0 and 2
        s1, s2 = "a b c d e f g h i j", "k l m n o p q r s t"
        txt = " ".join([s1, s1, s2, s1])
        df = spark.createDataFrame([(1, txt, "en", "s")],
                                   ["doc_id", "text", "lang", "source"])
        r = text.dedup_segments_within_doc(df).collect()[0]
        assert r["n_segments"] == 4 and r["n_removed"] == 2
        assert r["cleaned_text"] == s1 + " " + s2

    def test_no_repeats_is_identity(self, spark):
        txt = " ".join(f"w{i}" for i in range(30))
        df = spark.createDataFrame([(1, txt, "en", "s")],
                                   ["doc_id", "text", "lang", "source"])
        r = text.dedup_segments_within_doc(df).collect()[0]
        assert r["n_removed"] == 0
        assert r["cleaned_text"] == txt

    def test_empty_doc(self, spark):
        df = spark.createDataFrame([(1, "...", "en", "s")],
                                   ["doc_id", "text", "lang", "source"])
        r = text.dedup_segments_within_doc(df).collect()[0]
        assert r["n_segments"] == 0 and r["cleaned_text"] == ""

    def test_streaming_convergence(self, spark, tmp_path):
        seg = " ".join(f"d{j}" for j in range(10))
        docs = [(i, f"{seg} {seg} tail {i}", "en", "s") for i in range(6)]
        bdf = spark.createDataFrame(docs, ["doc_id", "text", "lang", "source"])
        src = str(tmp_path / "in")
        bdf.coalesce(2).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(bdf.schema).parquet(src)
        out = text.dedup_segments_within_doc(stream)
        qn = "indoc_stream_test"
        q = (out.writeStream.format("memory").queryName(qn)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / "chk"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        q.stop()
        got = {r["doc_id"]: r["cleaned_text"]
               for r in spark.table(qn).collect()}
        want = {r["doc_id"]: r["cleaned_text"]
                for r in text.dedup_segments_within_doc(bdf).collect()}
        assert got == want


class TestContentDefinedChunks:
    def _chunks(self, spark, texts):
        from uc_historic_data_importer_spark.operators import packing

        df = spark.createDataFrame(
            [(i, t, "en", "s") for i, t in enumerate(texts)],
            ["doc_id", "text", "lang", "source"],
        )
        out = {}
        for r in packing.content_defined_chunks(df).collect():
            out.setdefault(r["doc_id"], []).append(r)
        for v in out.values():
            v.sort(key=lambda r: r["chunk_no"])
        return out

    def test_spans_partition_document(self, spark):
        text = " ".join(f"tok{i}" for i in range(60))
        chunks = self._chunks(spark, [text])[0]
        assert chunks[0]["start_tok"] == 0
        assert chunks[-1]["end_tok"] == 60
        for a, b in zip(chunks, chunks[1:]):
            assert b["start_tok"] == a["end_tok"]
        assert all(c["chunk_len"] == c["end_tok"] - c["start_tok"]
                   for c in chunks)

    def test_edit_resynchronization(self, spark):
        base = " ".join(f"tok{i}" for i in range(60))
        edited = "inserted words here " + base
        out = self._chunks(spark, [base, edited])
        h0 = [c["chunk_hash"] for c in out[0]]
        h1 = [c["chunk_hash"] for c in out[1]]
        # a front insertion must NOT rewrite every chunk: boundaries
        # resynchronize and a common suffix of chunk hashes survives
        common = 0
        while (common < min(len(h0), len(h1))
               and h0[-1 - common] == h1[-1 - common]):
            common += 1
        assert common >= 2, (h0, h1)

    def test_fixed_stride_has_no_such_property(self, spark):
        # sanity contrast: the same edit shifts EVERY fixed-stride chunk
        from uc_historic_data_importer_spark.operators import packing

        base = " ".join(f"tok{i}" for i in range(60))
        edited = "inserted words here " + base
        df = spark.createDataFrame(
            [(0, base, "en", "s"), (1, edited, "en", "s")],
            ["doc_id", "text", "lang", "source"],
        )
        rows = packing.chunk_spans(df).collect()
        texts = {}
        for r in rows:
            texts.setdefault(r["doc_id"], []).append(
                (r["chunk_idx"], r["chunk_text"])
            )
        t0 = [t for _, t in sorted(texts[0])]
        t1 = [t for _, t in sorted(texts[1])]
        assert t0[-1] != t1[-1]  # even the last chunk differs

    def test_short_and_empty_docs(self, spark):
        out = self._chunks(spark, ["one two", "..."])
        assert len(out.get(0, [])) == 1          # single chunk, no cuts
        assert out[0][0]["chunk_len"] == 2
        assert 1 not in out                      # empty doc -> no rows


class TestWinnowing:
    def test_shared_run_guarantee(self, spark):
        # two docs sharing a run of >= w + k - 1 = 8 tokens MUST share
        # at least one fingerprint (the winnowing guarantee)
        run = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
        df = spark.createDataFrame(
            [
                (1, "start pad words " + run + " one tail", "en", "s"),
                (2, run + " other completely different suffix", "en", "s"),
                (3, "no shared content in this document at all", "en", "s"),
            ],
            ["doc_id", "text", "lang", "source"],
        )
        out = text.winnowing_fingerprints(df).collect()
        fps = {}
        for r in out:
            fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
        assert fps[1] & fps[2], "shared 8-token run must share a fingerprint"
        assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])

    def test_density_bound(self, spark):
        # selected fingerprints per doc <= gram count, and positions valid
        toks = " ".join(f"t{i}" for i in range(100))
        df = spark.createDataFrame([(1, toks, "en", "s")],
                                   ["doc_id", "text", "lang", "source"])
        rows = text.winnowing_fingerprints(df).collect()
        m = 100 - 4 + 1
        assert 0 < len(rows) <= m
        assert all(0 <= r["pos"] < m for r in rows)
        # distinct (pos, fp) pairs only
        assert len({(r["pos"], r["fingerprint"]) for r in rows}) == len(rows)

    def test_short_doc_one_window(self, spark):
        # 5 tokens, k=4 -> 2 grams < w: exactly one window, one fingerprint
        df = spark.createDataFrame([(1, "a b c d e", "en", "s")],
                                   ["doc_id", "text", "lang", "source"])
        rows = text.winnowing_fingerprints(df).collect()
        assert len(rows) == 1
        # sub-k docs emit nothing
        df2 = spark.createDataFrame([(1, "a b", "en", "s")],
                                    ["doc_id", "text", "lang", "source"])
        assert text.winnowing_fingerprints(df2).count() == 0


class TestWindowedOpsPythonReference:
    """Cross-check the three windowed map-only ops (duplicate spans,
    content-defined chunks, winnowing) against independent pure-Python
    references over edge shapes: empty, punct-only, sub-k, exact-k,
    repeated-token, and unicode documents."""

    CORPUS = [
        (1, ""),
        (2, "!!! ... ---"),
        (3, "a b c"),                                  # == k for k=3
        (4, "a b"),                                    # < k
        (5, "x " * 30),                                # one repeated token
        (6, "Héllo wörld foo BAR baz qux one two three four"),
        (7, "p q r s t u v w p q r s t u v w tail end"),  # repeated run
        (8, "lone"),
    ]

    @staticmethod
    def _toks(s):
        import re

        return [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]

    @staticmethod
    def _md5_i64(s):
        import hashlib

        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def test_duplicate_spans_reference(self, spark):
        k = text.SPAN_K
        df = spark.createDataFrame(
            [(i, t, "en", "s") for i, t in self.CORPUS],
            ["doc_id", "text", "lang", "source"],
        )
        got = {}
        for r in text.duplicate_spans(df).collect():
            got.setdefault(r["doc_id"], set()).add(
                (r["span_start"], r["span_end"])
            )
        # python reference: count gram occurrences corpus-wide, merge
        from collections import Counter

        grams = {}
        cnt = Counter()
        for i, t in self.CORPUS:
            toks = self._toks(t)
            g = [" ".join(toks[j:j + k]) for j in range(len(toks) - k + 1)]
            grams[i] = g
            cnt.update(g)
        want = {}
        for i, _ in self.CORPUS:
            dup = [j for j, g in enumerate(grams[i]) if cnt[g] >= 2]
            spans = set()
            while dup:
                start = dup[0]
                end = start + k
                rest = dup[1:]
                while rest and rest[0] <= end:
                    end = rest[0] + k
                    rest = rest[1:]
                spans.add((start, end))
                dup = rest
            if spans:
                want[i] = spans
        assert got == want

    def test_content_defined_chunks_reference(self, spark):
        from uc_historic_data_importer_spark.operators import packing

        k, d = packing.CDC_K, packing.CDC_DIV
        df = spark.createDataFrame(
            [(i, t, "en", "s") for i, t in self.CORPUS],
            ["doc_id", "text", "lang", "source"],
        )
        got = {}
        for r in packing.content_defined_chunks(df).collect():
            got.setdefault(r["doc_id"], []).append(
                (r["chunk_no"], r["start_tok"], r["end_tok"], r["chunk_hash"])
            )
        for v in got.values():
            v.sort()
        want = {}
        for i, t in self.CORPUS:
            toks = self._toks(t)
            n = len(toks)
            if n == 0:
                continue
            cuts = [0] + [
                j for j in range(1, n - k + 1)
                if self._md5_i64(" ".join(toks[j:j + k])) % d == 0
            ] + [n]
            want[i] = [
                (j, cuts[j], cuts[j + 1],
                 self._md5_i64(" ".join(toks[cuts[j]:cuts[j + 1]])))
                for j in range(len(cuts) - 1)
            ]
        assert got == want

    def test_winnowing_reference(self, spark):
        k, w = text.WINNOW_K, text.WINNOW_W
        df = spark.createDataFrame(
            [(i, t, "en", "s") for i, t in self.CORPUS],
            ["doc_id", "text", "lang", "source"],
        )
        got = {}
        for r in text.winnowing_fingerprints(df).collect():
            got.setdefault(r["doc_id"], set()).add(
                (r["pos"], r["fingerprint"])
            )
        want = {}
        for i, t in self.CORPUS:
            toks = self._toks(t)
            h = [self._md5_i64(" ".join(toks[j:j + k]))
                 for j in range(len(toks) - k + 1)]
            if not h:
                continue
            sel = set()
            for j in range(max(len(h) - w, 0) + 1):
                win = h[j:j + w]
                mn = min(win)
                sel.add((j + win.index(mn), mn))  # leftmost tie
            want[i] = sel
        assert got == want


class TestChunkDupRatio:
    def test_shifted_copy_still_collides(self, spark):
        from uc_historic_data_importer_spark.operators import packing

        body = " ".join(f"w{i}" for i in range(40))
        df = spark.createDataFrame(
            [
                (1, body, "en", "s"),
                (2, "inserted prefix tokens " + body, "en", "s"),  # shifted copy
                (3, "completely different content with nothing shared here at all everything unique", "en", "s"),
            ],
            ["doc_id", "text", "lang", "source"],
        )
        out = {r["doc_id"]: r for r in
               packing.chunk_dup_stats(df).collect()}
        # the shifted copy shares interior chunks with the original
        # (fixed-stride segmentation would miss ALL of them)
        assert out[1]["dup_chunks"] > 0
        assert out[2]["dup_chunks"] > 0
        assert out[3]["dup_chunks"] == 0 and out[3]["dup_ratio_bp"] == 0
        for r in out.values():
            assert 0 <= r["dup_ratio_bp"] <= 10000
            assert r["dup_chunks"] <= r["n_chunks"]


class TestFuzzyMatch:
    """text.fuzzy_match_pairs — q-gram blocked Levenshtein self-join."""

    def test_repeated_char_keys_survive_count_filter(self, spark):
        # Pigeonhole regression (round-5 advice): the count bound
        # min_len - q + 1 - q*max_dist only holds for POSITIONAL grams.
        # 'a'*24 vs 'a'*23+'b' are Levenshtein-1 but share exactly ONE
        # distinct gram — distinct-gram counting drops them.
        df = spark.createDataFrame(
            [(1, "a" * 24), (2, "a" * 23 + "b"), (3, "a" * 24)],
            ["doc_id", "head"],
        )
        out = {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in text.fuzzy_match_pairs(df).collect()
        }
        assert out[(1, 2)] == 1
        assert out[(1, 3)] == 0  # identical keys, distance 0
        assert out[(2, 3)] == 1

    def test_matches_bruteforce_on_mixed_corpus(self, spark):
        import itertools

        def lev(a, b):
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[-1] + 1,
                                   prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        keys = [
            "acme corporation ltd", "acme corporation llc",
            "acme corp ltd", "zzz unrelated entity", "zzz unrelated entry",
            "aaaaaaaaaaaaaaa", "aaaaaaaaaaaaaab", "short", "shirt",
        ]
        rows = [(i, k) for i, k in enumerate(keys)]
        df = spark.createDataFrame(rows, ["doc_id", "head"])
        got = {
            (r["id_a"], r["id_b"]): r["dist"]
            for r in text.fuzzy_match_pairs(df).collect()
        }
        # q-gram blocking only guarantees a shared gram when
        # min_len >= q + q*max_dist (= 12 here); 'short'/'shirt' (len 5)
        # are outside the guarantee and legitimately missed
        q, d = text.FUZZY_Q, text.FUZZY_MAX_DIST
        want = {
            (i, j): lev(keys[i], keys[j])
            for i, j in itertools.combinations(range(len(keys)), 2)
            if lev(keys[i], keys[j]) <= d
            and min(len(keys[i]), len(keys[j])) >= q + q * d
        }
        assert got == want

    def test_df_cut_is_the_only_approximation(self, spark):
        # FUZZY_MAX_GRAM_DF + 1 keys carry the gram 'aaa': it is hot and
        # dropped, and pairs whose every shared gram is hot are missed —
        # the documented df-cut (even exact duplicates here)
        n = text.FUZZY_MAX_GRAM_DF + 1
        rows = [(i, "a" * 12) for i in range(1, n)] + [(n, "a" * 11 + "b")]
        df = spark.createDataFrame(rows, ["doc_id", "head"])
        assert text.fuzzy_match_pairs(df).collect() == []


class TestPqNullCodes:
    def test_short_vector_codes_to_minus_one_not_null(self, spark):
        # round-5 advice: array_position over all-NULL keys yields NULL;
        # pq code columns must carry the same -1 sentinel contract as
        # similarity.assign_cells so NULL codes never reach joins
        from uc_historic_data_importer_spark.operators import pq

        good = [
            (i, [float(i + d) for d in range(8)]) for i in range(pq.PQ_K)
        ]
        c = spark.createDataFrame(good, "vec_id long, embedding array<double>")
        books = pq.pq_fit(c)
        bad = spark.createDataFrame(
            good + [(9, [0.5, 0.5])],  # short vector: subspaces 1-3 missing
            "vec_id long, embedding array<double>",
        )
        out = {r["vec_id"]: [r[f"code_{j}"] for j in range(pq.PQ_M)]
               for r in pq.pq_encode(bad, books).collect()}
        assert out[9][1:] == [-1, -1, -1]  # sentinel, not None
        assert out[9][0] in range(pq.PQ_K)
        for vid in range(pq.PQ_K):
            assert all(code in range(pq.PQ_K) for code in out[vid])


class TestJaccardBucketCap:
    def test_pathological_identical_corpus_is_bounded(self, spark):
        # every doc identical: uncapped = C(n,2) pairs per shingle;
        # with the df-cut the buckets drop and the accounting frame
        # reports exactly the avoided fan-out (no-silent-caps)
        n_docs = dedup.MAX_SHINGLE_FREQ + 1
        body = "all documents carry exactly this same text body here"
        df = spark.createDataFrame(
            [(i, body) for i in range(n_docs)], ["doc_id", "text"]
        )
        capped = dedup.jaccard_pairs(df)
        assert capped.count() == 0  # bounded: no bucket enumerates pairs
        stats = dedup.jaccard_bucket_stats(df).first()
        assert stats["kept_buckets"] == 0
        assert stats["dropped_buckets"] > 0
        assert stats["max_bucket_docs"] == n_docs
        per_bucket = n_docs * (n_docs - 1) // 2
        assert stats["dropped_pair_fanout"] == stats["dropped_buckets"] * per_bucket

    def test_cap_preserves_exactness_on_kept_shingles(self, spark, docs):
        # corpus with no hot shingles: every kept pair's jaccard is the
        # exact 3-gram set jaccard a plain Python reference computes
        import re

        texts = {r["doc_id"]: r["text"] for r in docs.collect()}

        def grams(t):
            w = [x for x in re.split(r"[^a-z0-9]+", t.lower()) if x]
            return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

        want = sorted(
            (a, b, round(len(grams(texts[a]) & grams(texts[b]))
                         / len(grams(texts[a]) | grams(texts[b])), 6))
            for a in texts
            for b in texts
            if a < b
            and len(grams(texts[a]) & grams(texts[b]))
            >= 0.5 * len(grams(texts[a]) | grams(texts[b]))
        )
        capped = sorted(
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in dedup.jaccard_pairs(docs).collect()
        )
        assert capped == want and capped


class TestDecoderSeam:
    """extract_features' pluggable fast-decode seam (round-5): an
    injected PIL/torchvision-style decoder swaps in with one argument
    and must reproduce the default stdlib decode on real fixtures."""

    def _fixture(self, spark):
        from uc_historic_data_importer_spark.functions import imagecodec as ic

        px = bytes((x * 17 + y * 31) % 256 for y in range(6) for x in range(8))
        png = ic.encode_png(8, 6, 1, px)
        jpg = ic.encode_jpeg_gray(16, 9, bytes([128]) * 144)
        rows = [
            (1, "image", bytearray(png), "image/png", {}),
            (2, "image", bytearray(jpg), "image/jpeg", {}),
            (3, "image", bytearray(b""), "image/png", {}),
        ]
        return spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)

    def test_injected_decoder_matches_default_on_png_jpeg(self, spark):
        # the "fast" decoder here wraps the same stdlib codec behind the
        # seam's (payload) -> (w, h, feature) contract — exactly how a
        # PIL adapter would be wired — and must be plan-identical
        from uc_historic_data_importer_spark.functions import imagecodec as ic

        def injected(payload: bytes):
            if not payload:
                raise ValueError("empty media payload")
            kind = ic.sniff(payload)
            if kind == "png":
                w, h, ch, px = ic.decode_png(payload)
            elif kind == "jpeg":
                w, h, ch, px = ic.decode_jpeg(payload)
            else:
                raise ValueError("not an image")
            return w, h, ic.luminance_histogram(ch, px)

        media = self._fixture(spark)
        default = sorted(
            tuple(r) for r in multimodal.extract_features(media).collect()
        )
        swapped = sorted(
            tuple(r)
            for r in multimodal.extract_features(media, decoder=injected).collect()
        )
        assert default == swapped

    def test_injected_decoder_is_actually_used(self, spark):
        def marker(payload: bytes):
            if not payload:
                raise ValueError("empty")
            return 7, 7, [1.0] * 8

        media = self._fixture(spark)
        out = {r["media_id"]: r
               for r in multimodal.extract_features(media, decoder=marker).collect()}
        assert out[1]["width"] == 7 and out[2]["width"] == 7
        assert out[1]["feature"] == [1.0] * 8
        assert out[3]["width"] == -1  # error contract preserved


class TestRound5Operators:
    """Unit pins for the round-5 additions."""

    def test_kmv_exact_when_not_full(self, spark):
        df = spark.createDataFrame(
            [(i % 7, "g") for i in range(100)], ["user_id", "event_type"]
        )
        row = sketches.kmv_distinct(df).first()
        assert row["n_kept"] == 7 and row["kmv_estimate"] == 7

    def test_kmv_estimate_within_error_when_full(self, spark):
        n = 2000
        df = spark.createDataFrame([(i, "g") for i in range(n)], ["user_id", "event_type"])
        row = sketches.kmv_distinct(df).first()
        assert row["n_kept"] == 64
        # KMV relative error ~ 1/sqrt(k-1) ~ 12.6%; allow 3 sigma
        assert abs(row["kmv_estimate"] - n) / n < 0.4

    def test_temperature_mixture_upsamples_tail_domain(self, spark):
        from uc_historic_data_importer_spark.operators import sampling

        rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
        df = spark.createDataFrame(rows, ["doc_id", "source"])
        out = sampling.temperature_mixture_sample(df)
        got = {r["source"]: r["n"] for r in
               out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
        # tau=0.5: masses sqrt(900):sqrt(100) = 3:1 of the 200-row
        # target -> ~150 big, ~50 small; raw proportions would keep 20
        assert (sampling.TEMP_TARGET, sampling.TEMP_TAU) == (200, 0.5)
        assert 35 <= got["small"] <= 65  # hash-thresholded ~50
        assert 120 <= got["big"] <= 180  # hash-thresholded ~150

    def test_temperature_mixture_null_domain_is_a_domain(self, spark):
        """NULL-domain rows are counted, rated, and KEPT at their rate —
        the r8 review found the plain equi-join silently dropped them
        while still deflating every other domain's rate through the
        denominator. Both engines must agree (null-safe join on both)."""
        import duckdb
        import pandas as pd

        from uc_historic_data_importer_spark.operators import sampling

        rows = [(i, None if i < 100 else "a") for i in range(200)]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        # two equal domains, target == corpus size: every domain's rate
        # saturates at 1.0, so EVERY row must come back — including the
        # NULL domain
        assert sampling.TEMP_TARGET == 200
        out = sampling.temperature_mixture_sample(df)
        assert out.count() == 200
        assert out.filter(F.col("source").isNull()).count() == 100
        con = duckdb.connect()
        con.register(
            "documents", pd.DataFrame(rows, columns=["doc_id", "source"])
        )
        oracle_ids = sorted(
            r[0]
            for r in con.execute(
                "SELECT doc_id FROM ("
                + sampling.temperature_mixture_sql()
                + ")"
            ).fetchall()
        )
        assert oracle_ids == sorted(r["doc_id"] for r in out.collect())

    def test_temperature_mixture_reserved_name_collision_raises(self, spark):
        """An input frame already carrying an internal temp column
        (_dom/_thresh/_n) must raise a clear ValueError up front, not an
        opaque ambiguous-reference AnalysisException mid-plan (mirrors
        interval_join's guard)."""
        import pytest

        from uc_historic_data_importer_spark.operators import sampling

        df = spark.createDataFrame(
            [(1, "a", 0)], "doc_id long, source string, _dom int"
        )
        with pytest.raises(ValueError, match="_dom"):
            sampling.temperature_mixture_sample(df)
        df2 = spark.createDataFrame(
            [(1, "a", 0)], "doc_id long, source string, _thresh int"
        )
        with pytest.raises(ValueError, match="_thresh"):
            sampling.temperature_mixture_sample(df2)

    def test_kfold_balanced_within_stratum(self, spark):
        from uc_historic_data_importer_spark.operators import sampling

        rows = [(i, "s" + str(i % 3)) for i in range(101)]
        df = spark.createDataFrame(rows, ["doc_id", "source"])
        out = sampling.kfold_assign(df)
        counts = {}
        for r in out.collect():
            counts.setdefault(r["source"], [0] * 5)[r["fold"]] += 1
        for src, folds in counts.items():
            assert max(folds) - min(folds) <= 1, (src, folds)

    def test_unigram_logprob_orders_common_above_rare(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the the the the the the the the"),
                (2, "zyzzyva qwertyuiop asdfghjkl"),
            ]
            + [(10 + i, "the common words appear here") for i in range(5)],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r["avg_logprob"]
               for r in text.unigram_logprob_scores(df).collect()}
        assert out[1] > out[2]  # common-token doc scores higher

    def test_token_ngram_topk_counts_multiplicity(self, spark):
        df = spark.createDataFrame(
            [(1, "a b a b a b"), (2, "a b only once c d")],
            ["doc_id", "text"],
        )
        out = {r["gram"]: r["n_occurrences"]
               for r in text.token_ngram_topk(df).collect()}
        assert out["a b"] == 4  # 3 in doc1 (multiplicity!) + 1 in doc2

    def test_length_outliers_flags_planted_outlier(self, spark):
        rows = [(i, "s", 100 + (i % 7)) for i in range(40)] + [(99, "s", 5000)]
        df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
        out = text.length_outliers(df).collect()
        assert [r["doc_id"] for r in out] == [99]
        assert out[0]["robust_z"] > 3.0

    def test_minhash_estimate_identical_docs_full_match(self, spark, docs):
        est = {(r["doc_a"], r["doc_b"]): r
               for r in dedup.minhash_jaccard_estimates(docs).collect()}
        assert (1, 2) in est  # exact dups are LSH candidates
        assert est[(1, 2)]["matches"] == 16
        assert est[(1, 2)]["est_bp"] == 10000
        for r in est.values():
            assert 0 <= r["matches"] <= 16
            assert r["est_bp"] == r["matches"] * 625

    def test_audio_window_features_match_manual(self, spark):
        import math

        from uc_historic_data_importer_spark.functions import audiocodec as ac
        from uc_historic_data_importer_spark.operators import multimodal

        samples = [((j % 4) - 2) * 300 for j in range(200)]
        wav = ac.encode_wav(samples)
        df = spark.createDataFrame(
            [(1, "audio", bytearray(wav), "audio/wav", {})],
            multimodal.MEDIA_SCHEMA,
        )
        out = sorted(
            multimodal.audio_window_features(df).collect(),
            key=lambda r: r["win_idx"],
        )
        assert len(out) == 2  # 200 // 80 full windows
        for r in out:
            seg = samples[r["win_idx"] * 80 : (r["win_idx"] + 1) * 80]
            rms = math.sqrt(sum(s * s for s in seg) / 80)
            zc = sum(
                1 for i in range(1, 80)
                if (seg[i - 1] < 0) != (seg[i] < 0)
            )
            assert abs(r["win_rms"] - rms) < 1e-9
            assert r["zero_crossings"] == zc

    def test_l_diversity_flags_homogeneous_group(self, spark):
        from uc_historic_data_importer_spark.operators import audit

        # group a: one balance band; group b: 8 bands, the l=8 bar
        rows = [("a", 1, "x") for _ in range(10)] + [
            ("b", 1, v) for v in "pqrstuvw"
        ]
        df = spark.createDataFrame(rows, ["c_mktsegment", "c_nationkey", "bal_band"])
        out = audit.l_diversity_audit(df)
        got = {(r["c_mktsegment"], r["c_nationkey"]): r for r in out.collect()}
        assert ("a", 1) in got and ("b", 1) not in got
        assert got[("a", 1)]["distinct_sensitive"] == 1


class TestCellDispatch:
    def test_numpy_path_matches_expression_path(self, spark, vectors):
        # force the Arrow matmul path by shrinking the dispatch budget;
        # both paths must assign identical cells on real vectors
        import uc_historic_data_importer_spark.operators.similarity as sim

        cents = sim.kmeans_fit(vectors, k=3, iters=2)
        expr = {r["vec_id"]: r["cell"]
                for r in sim.assign_cells(vectors, cents).collect()}
        old = sim._CELL_EXPR_MAX_TERMS
        sim._CELL_EXPR_MAX_TERMS = 0
        try:
            vec = {r["vec_id"]: r["cell"]
                   for r in sim.assign_cells(vectors, cents).collect()}
        finally:
            sim._CELL_EXPR_MAX_TERMS = old
        assert expr == vec

    def test_numpy_path_sentinel_on_malformed(self, spark):
        import uc_historic_data_importer_spark.operators.similarity as sim

        df = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.5]), (2, None)],
            "vec_id long, embedding array<double>",
        )
        old = sim._CELL_EXPR_MAX_TERMS
        sim._CELL_EXPR_MAX_TERMS = 0
        try:
            out = {r["vec_id"]: r["cell"]
                   for r in sim.assign_cells(
                       df, [[1.0, 0.0], [0.0, 1.0]]).collect()}
        finally:
            sim._CELL_EXPR_MAX_TERMS = old
        assert out[0] == 0 and out[1] == -1 and out[2] == -1


class TestIvf2:
    """Two-level IVF: distributed fine centroids (no k*dim broadcast),
    r10 extension past the kmeans_fit driver-budget ceiling."""

    @pytest.fixture()
    def clustered(self, spark):
        # 4 orthogonal coarse clusters; inside each, two sub-clusters
        # offset along the next axis — enough structure for k1=2..4,
        # k2=2 fits to be stable under any deterministic init.
        # id order (rep, s, c): the 4 lowest ids are one member of EACH
        # coarse cluster (clean k1=4 init — init = lowest ids), and a
        # cell's two lowest members are one of each sub-cluster (clean
        # k2=2 init).
        rows, vid = [], 0
        for _ in range(16):
            for s in range(2):
                for c in range(4):
                    v = [0.0] * 4
                    v[c] = 1.0
                    v[(c + 1) % 4] = 0.35 if s else -0.35
                    eps = ((vid * 13) % 5 - 2) / 1000.0
                    v[(c + 2) % 4] += eps
                    rows.append((vid, v))
                    vid += 1
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_fit_arrow_seam_parity(self, spark, clustered):
        """r14 opt round: past oracle scale (n_rows > 1000) ivf2_fit's
        fine assignment runs as a per-cell cogrouped numpy matmul
        (_fine_members_arrow). The fit output must be BIT-IDENTICAL to
        the exact join+window path — on clean clustered data AND with
        the degenerate members the exact path tolerates: a NULL
        vector, a wrong-dim vector (both score NULL -> lowest fine;
        their vectors flow to the mean posexplode unchanged) and a
        NaN-element vector (NaN keys rank greatest, ties to lowest
        fine; its NaN poisons the same means on both paths)."""
        import math

        import uc_historic_data_importer_spark.operators.similarity as sim

        edge = spark.createDataFrame(
            [
                (1000, None),
                (1001, [1.0, 0.1]),
                (1002, [float("nan"), 0.2, 0.1, 0.0]),
            ],
            "vec_id long, embedding array<double>",
        )
        df = clustered.union(edge)
        coarse = sim.kmeans_fit(clustered, k=2, iters=1)
        # ONE shared coarse assignment (the ann_ivf2_build contract):
        # n_rows also dispatches assign_cells, whose NaN-vector cell
        # differs between its exact and matmul branches (documented
        # pre-existing caveat) — this test isolates the FINE seam
        assigned = sim.assign_cells(
            df, coarse, keep_cols=("embedding",)
        ).localCheckpoint(eager=False)

        def fit(n_rows):
            return sim.ivf2_fit(
                df, coarse, k2=3, iters=2, assigned=assigned,
                n_rows=n_rows,
            )

        def key(r):
            c = r["centroid"]
            return (
                r["cell"],
                r["fine"],
                None
                if c is None
                else tuple(
                    "nan" if (x is not None and math.isnan(x)) else x
                    for x in c
                ),
            )

        exact = sorted(key(r) for r in fit(None).collect())
        arrow = sorted(key(r) for r in fit(100_000).collect())
        assert exact == arrow
        assert len(exact) > 0

    def test_assign_arrow_seam_parity(self, spark, clustered):
        """r14 opt round: ivf2_assign's matmul branch must reproduce
        the exact path bit-for-bit — including the LEFT-join sentinel
        (a vector whose coarse cell has no fine centroids keeps its
        row with fine = -1 / bucket = -1; the cogroup drops such
        cells, so the seam LEFT-rejoins from `assigned`)."""
        import uc_historic_data_importer_spark.operators.similarity as sim

        coarse = sim.kmeans_fit(clustered, k=4, iters=1)
        assigned = sim.assign_cells(
            clustered, coarse, keep_cols=("embedding",)
        ).localCheckpoint(eager=False)
        fine = sim.ivf2_fit(
            clustered, coarse, k2=2, iters=1, assigned=assigned
        ).localCheckpoint(eager=False)
        # drop one cell's centroids so the empty-cell sentinel engages
        a_cell = assigned.select("cell").first()["cell"]
        fine_cut = fine.filter(F.col("cell") != a_cell)

        def assign(n_rows):
            return sim.ivf2_assign(
                clustered, coarse, fine_cut, assigned=assigned,
                n_rows=n_rows,
            )

        exact = sorted(
            (r["vec_id"], r["cell"], r["fine"], r["bucket"])
            for r in assign(None).collect()
        )
        arrow = sorted(
            (r["vec_id"], r["cell"], r["fine"], r["bucket"])
            for r in assign(100_000).collect()
        )
        assert exact == arrow
        assert any(r[2] == -1 for r in exact)  # sentinel engaged
        assert len(exact) == clustered.count()  # never drops rows

    def test_k1_equals_1_reduces_to_kmeans_fit(self, spark):
        import uc_historic_data_importer_spark.operators.similarity as sim

        emb = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        full = sim.kmeans_fit(emb, k=4, iters=2)
        ref = {r["vec_id"]: r["cell"]
               for r in sim.assign_cells(emb, full).collect()}
        coarse = sim.kmeans_fit(emb, k=1, iters=0)
        fine = sim.ivf2_fit(emb, coarse, k2=4, iters=2)
        got = {r["vec_id"]: r["fine"]
               for r in sim.ivf2_assign(emb, coarse, fine).collect()}
        assert ref == got

    def test_two_level_partitions_clusters(self, clustered):
        import uc_historic_data_importer_spark.operators.similarity as sim

        coarse = sim.kmeans_fit(clustered, k=4, iters=2)
        fine = sim.ivf2_fit(clustered, coarse, k2=2, iters=2)
        assert fine.count() == 8  # 4 cells x 2 fine
        out = sim.ivf2_assign(clustered, coarse, fine).collect()
        # bucket = cell * k2 + fine, unique per (cell, fine)
        assert all(r["bucket"] == r["cell"] * 2 + r["fine"] for r in out)
        # each (cell, fine) bucket holds exactly one sub-cluster's 16
        # members: the same true sub-cluster id for every member
        by_bucket = {}
        for r in out:
            vid = r["vec_id"]
            true_sub = (vid % 4) * 2 + (vid // 4) % 2
            by_bucket.setdefault(r["bucket"], set()).add(true_sub)
        assert len(by_bucket) == 8
        assert all(len(s) == 1 for s in by_bucket.values()), by_bucket

    def test_fit_is_deterministic_and_unit_normalized(self, clustered):
        import math

        import uc_historic_data_importer_spark.operators.similarity as sim

        coarse = sim.kmeans_fit(clustered, k=2, iters=1)
        a = sim.ivf2_fit(clustered, coarse, k2=2, iters=1).collect()
        b = sim.ivf2_fit(clustered, coarse, k2=2, iters=1).collect()
        key = lambda r: (r["cell"], r["fine"])  # noqa: E731
        assert sorted([(key(r), r["centroid"]) for r in a]) == sorted(
            [(key(r), r["centroid"]) for r in b]
        )
        for r in a:
            assert math.fsum(x * x for x in r["centroid"]) == pytest.approx(
                1.0, abs=1e-9
            )

    def test_topk_composes_via_bucket(self, clustered):
        import uc_historic_data_importer_spark.operators.similarity as sim

        coarse = sim.kmeans_fit(clustered, k=4, iters=2)
        fine = sim.ivf2_fit(clustered, coarse, k2=2, iters=2)
        assigned = sim.ivf2_assign(
            clustered, coarse, fine, keep_cols=("embedding",)
        )
        out = sim.ivf_topk(assigned, cell_col="bucket").collect()
        # every query's neighbor is in its own bucket (two-level cell)
        bucket_of = {r["vec_id"]: r["bucket"]
                     for r in assigned.collect()}
        assert len(out) == 128
        for r in out:
            assert bucket_of[r["neighbor_id"]] == bucket_of[r["query_id"]]

    def test_bad_params_raise(self, clustered):
        import uc_historic_data_importer_spark.operators.similarity as sim

        coarse = sim.kmeans_fit(clustered, k=2, iters=1)
        with pytest.raises(ValueError, match="k2"):
            sim.ivf2_fit(clustered, coarse, k2=0)


class TestNeardupDispatch:
    def test_matmul_path_matches_exact_path(self, spark):
        # the per-cell BLAS path must produce the same pair set and
        # 6-dp similarities as the bit-exact Catalyst path
        import uc_historic_data_importer_spark.operators.similarity as sim

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        exact = {
            (r["vec_a"], r["vec_b"]): r["cos_sim"]
            for r in sim.cosine_neardup_pairs(
                emb
            ).collect()
        }
        fast = {
            (r["vec_a"], r["vec_b"]): r["cos_sim"]
            for r in sim.cosine_neardup_pairs(
                emb, n_rows=10**9
            ).collect()
        }
        assert set(exact) == set(fast)
        for k in exact:
            assert abs(exact[k] - fast[k]) <= 1e-6, k


class TestIvfTopkDispatch:
    def test_matmul_path_matches_exact_path(self, spark):
        # the per-cell BLAS search path (r14 opt round) must produce the
        # same (query, neighbor, cos_sim, rank) rows as the bit-exact
        # Catalyst pair-join
        import uc_historic_data_importer_spark.operators.similarity as sim

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cents = sim.kmeans_fit(emb, k=4, iters=1)
        assigned = sim.assign_cells(
            emb, cents, keep_cols=("embedding",)
        ).localCheckpoint()
        exact = sorted(
            map(tuple, sim.ivf_topk(
                assigned, cell_col="cell"
            ).collect())
        )
        fast = sorted(
            map(tuple, sim.ivf_topk(
                assigned, cell_col="cell", n_rows=10**9
            ).collect())
        )
        assert exact == fast and exact

    def test_ragged_and_null_vectors_match_exact_path(self, spark):
        # mixed-length cell + NULL vector + singleton cell: the Arrow
        # branch must replicate the zip_with contract (equal lengths ->
        # real cosine, otherwise NULL, NULL sims ranked last)
        import uc_historic_data_importer_spark.operators.similarity as sim

        rows = [
            (1, [1.0, 0.0], 7),
            (2, [0.5, 0.5], 7),
            (3, [1.0, 0.0, 0.0], 7),
            (4, None, 7),
            (5, [0.9, 0.1], 7),
            (10, [1.0, 2.0, 3.0], 8),  # singleton cell -> no output
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, cell int"
        )
        exact = sorted(
            map(tuple, sim.ivf_topk(
                df, cell_col="cell"
            ).collect())
        )
        fast = sorted(
            map(tuple, sim.ivf_topk(
                df, cell_col="cell", n_rows=10**9
            ).collect())
        )
        assert exact == fast and exact


class TestSemdedupDispatch:
    def test_matmul_path_matches_exact_path(self, spark):
        import uc_historic_data_importer_spark.operators.similarity as sim

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cents = sim.kmeans_fit(emb, k=10, iters=2)
        exact = {r["vec_id"]: (r["cell"], r["kept"])
                 for r in sim.semdedup(emb, cents).collect()}
        fast = {r["vec_id"]: (r["cell"], r["kept"])
                for r in sim.semdedup(emb, cents,
                                      n_rows=10**9).collect()}
        assert exact == fast


class TestReviewFixes:
    """Round-5 code-review regressions."""

    def test_numpy_paths_tolerate_malformed_vectors(self, spark):
        import uc_historic_data_importer_spark.operators.similarity as sim

        rows = [
            (0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
            (3, None), (4, [0.5]),  # malformed: null + ragged
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = [[1.0, 0.0], [0.0, 1.0]]
        # force the matmul paths
        sd = {r["vec_id"]: r["kept"]
              for r in sim.semdedup(df, cents,
                                    n_rows=10**9).collect()}
        assert sd[3] == 1 and sd[4] == 1  # malformed rows stay kept
        assert sd[0] == 1 and sd[1] == 0  # real dup still dropped
        df2 = df.withColumn("cell", F.lit(0))
        nd = {(r["vec_a"], r["vec_b"])
              for r in sim.cosine_neardup_pairs(
                  df2.withColumnRenamed("cell", "label"),
                  n_rows=10**9
              ).collect()}
        assert nd == {(0, 1)}  # malformed rows emit no pairs, no crash

    def test_length_outliers_mad_zero_group_flags_off_median(self, spark):
        # >50% of docs share one length -> MAD = 0; the off-median doc
        # must still be flagged (NULL robust_z), not silently dropped
        rows = [(i, "s", 100) for i in range(10)] + [(99, "s", 5000)]
        df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
        out = text.length_outliers(df).collect()
        assert [r["doc_id"] for r in out] == [99]
        assert out[0]["robust_z"] is None

    def test_jpeg_fill_bytes_then_truncation_is_unsupported(self):
        from uc_historic_data_importer_spark.functions import imagecodec as ic
        import pytest as _pytest

        with _pytest.raises(ic.UnsupportedImageError):
            ic.decode_jpeg(b"\xff\xd8" + b"\xff" * 5)


class TestReviewFixesRound2:
    """Second-pass review regressions: dispatch-branch parity on
    degenerate inputs."""

    def test_ragged_smallest_id_does_not_poison_cell(self, spark):
        # one matmul per vector length: a short vector at the SMALLEST
        # id must not disqualify the valid vectors in its cell
        import uc_historic_data_importer_spark.operators.similarity as sim

        rows = [(0, [0.5]), (1, [1.0, 0.0]), (2, [1.0, 0.0])]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).withColumn("cell", F.lit(0))
        out = {(r["vec_a"], r["vec_b"])
               for r in sim.cosine_neardup_pairs(
                   df.withColumnRenamed("cell", "label"),
                   n_rows=10**9
               ).collect()}
        assert out == {(1, 2)}

    def test_zero_norm_vector_never_pairs_on_either_branch(self, spark):
        import uc_historic_data_importer_spark.operators.similarity as sim

        rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 0.0])]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).withColumn("cell", F.lit(0))
        for n_rows in (None, 10**9):  # exact path, then matmul path
            got = {(r["vec_a"], r["vec_b"]): r["cos_sim"]
                   for r in sim.cosine_neardup_pairs(
                       df.withColumnRenamed("cell", "label"),
                       n_rows=n_rows).collect()}
            # the zero vector's cos is 0 (guarded), never NaN >= thr
            assert set(got) == {(1, 2)}, n_rows

    def test_null_cell_rows_pair_with_nothing_on_either_branch(self, spark):
        import uc_historic_data_importer_spark.operators.similarity as sim

        rows = [(0, [1.0, 0.0], None), (1, [1.0, 0.0], None),
                (2, [1.0, 0.0], 7), (3, [1.0, 0.0], 7)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, cell int"
        )
        for n_rows in (None, 10**9):
            got = {(r["vec_a"], r["vec_b"])
                   for r in sim.cosine_neardup_pairs(
                       df.withColumnRenamed("cell", "label"),
                       n_rows=n_rows).collect()}
            assert got == {(2, 3)}, n_rows

    def test_empty_vectors_pair_identically_on_both_branches(self, spark):
        """Catalyst scores empty-vs-empty as cos 0.0 (the aggregate's
        0.0 seed over a zero-length zip_with, |0| -> 1 norm guard), below
        the 0.4 threshold — the fast path's length-0 subgroup must agree
        (round-6 review fix)."""
        import uc_historic_data_importer_spark.operators.similarity as sim

        rows = [(0, []), (1, []), (2, [1.0, 0.0]), (3, [1.0, 0.0])]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        ).withColumn("cell", F.lit(0))
        for n_rows in (None, 10**9):
            got = {(r["vec_a"], r["vec_b"])
                   for r in sim.cosine_neardup_pairs(
                       df.withColumnRenamed("cell", "label"),
                       n_rows=n_rows).collect()}
            assert got == {(2, 3)}, n_rows

    def test_semdedup_malformed_parity_across_branches(self, spark):
        import uc_historic_data_importer_spark.operators.similarity as sim

        rows = [(0, [1.0, 2.0, 3.0]), (1, [0.5]), (2, [0.5]),
                (3, [1.0, 0.0]), (4, [1.0, 0.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = [[1.0, 0.0], [0.0, 1.0]]
        exact = {r["vec_id"]: r["kept"]
                 for r in sim.semdedup(df, cents).collect()}
        fast = {r["vec_id"]: r["kept"]
                for r in sim.semdedup(df, cents,
                                      n_rows=10**9).collect()}
        assert exact == fast
        # malformed (wrong-dim) rows all stay kept on both branches
        assert exact[0] == exact[1] == exact[2] == 1
        assert exact[3] == 1 and exact[4] == 0


class TestReviewFixesRound3:
    """Round-6 third review pass: config guards, A-ES interior-u, and
    no-silent-drops accounting."""

    def test_weighted_sample_top_bucket_not_weight_independent(self):
        """A-ES requires u strictly inside (0,1): at u = 1.0 the key is
        ln(1)/w = 0 — the maximum regardless of weight. The bucket ->
        u mapping must never produce exactly 1.0."""
        from uc_historic_data_importer_spark.operators.sampling import DENOM

        # the fixed mapping: u = (bucket + 1) / (DENOM + 1)
        top_u = (DENOM - 1 + 1) / (DENOM + 1)
        low_u = (0 + 1) / (DENOM + 1)
        assert 0.0 < low_u and top_u < 1.0

    def test_shingle_coverage_stats_counts_short_docs(self, spark):
        from uc_historic_data_importer_spark.operators import dedup

        df = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b"), (3, ""), (4, "x y z w q")],
            "doc_id long, text string",
        )
        row = dedup.shingle_coverage_stats(df).collect()[0]
        assert row["n_docs"] == 4
        assert row["n_unshingled_docs"] == 2  # the 2-token and empty docs
        assert row["coverage"] == 0.5


class TestSketchNullHardening:
    """Round-6 fourth review pass: NULL values must not become sketch
    state — they corrupted the HLL estimator (phantom register), broke
    KMV's Spark/DuckDB NULL-sort parity, and skewed the histogram's
    cumulative pick. The rule everywhere mirrors approx_count_distinct:
    NULLs simply don't sketch."""

    def test_hll_ignores_nulls(self, spark):
        from uc_historic_data_importer_spark.operators import sketches

        vals = spark.createDataFrame(
            [(str(i), "t") for i in range(300)], "user_id string, event_type string"
        )
        with_nulls = vals.union(
            spark.createDataFrame(
                [(None, "t"), (None, "t")], "user_id string, event_type string"
            )
        )
        a = sketches.hll_distinct(vals).collect()[0]["hll_distinct"]
        b = sketches.hll_distinct(with_nulls).collect()[0][
            "hll_distinct"
        ]
        assert a == b

    def test_kmv_ignores_nulls_and_ungrouped_path(self, spark):
        from uc_historic_data_importer_spark.operators import sketches

        schema = "user_id string, event_type string"
        vals = [(str(i), "t") for i in range(100)]
        df = spark.createDataFrame(vals + [(None, "t")], schema)
        row = sketches.kmv_distinct(df).collect()[0]
        # a NULL hash must not consume a bottom-k slot (n_kept == k
        # from REAL hashes)
        assert row["n_kept"] == sketches.KMV_K
        clean = sketches.kmv_distinct(
            spark.createDataFrame(vals, schema)
        ).collect()[0]
        assert (row["kth_min_hash"], row["kmv_estimate"]) == (
            clean["kth_min_hash"],
            clean["kmv_estimate"],
        )

    def test_cms_estimate_zero_for_absent_candidate(self, spark):
        from uc_historic_data_importer_spark.operators import sketches

        data = spark.createDataFrame([("a",)] * 5 + [("b",)] * 3, "user_id string")
        counters = sketches.cms_counters(data)
        cand = spark.createDataFrame(
            [("a",), ("zzz-never-seen",)], "user_val string"
        )
        got = {
            r["user_val"]: r["cms_n"]
            for r in sketches.cms_estimate(counters, cand).collect()
        }
        assert got["a"] >= 5  # CMS never underestimates
        # absent candidate: at least one of its d cells is empty -> 0,
        # and the row itself must not vanish from the output
        assert got["zzz-never-seen"] == 0

    def test_hist_quantiles_ignore_null_values(self, spark):
        from uc_historic_data_importer_spark.operators import sketches

        base = spark.createDataFrame(
            [(float(i),) for i in range(1, 101)], "v double"
        )
        with_nulls = base.union(
            spark.createDataFrame([(None,)] * 10, "v double")
        )
        qa = sketches.hist_quantiles(
            sketches.hist_counts(base, "v")
        ).collect()[0]
        qb = sketches.hist_quantiles(
            sketches.hist_counts(with_nulls, "v")
        ).collect()[0]
        assert qa == qb

    def test_constraint_audit_empty_table_reports_zero(self, spark):
        from uc_historic_data_importer_spark.operators import audit
        from pyspark.sql import functions as F

        df = spark.createDataFrame([], "x int").filter(F.lit(False))
        row = audit.constraint_audit(
            df, {"x_positive": F.col("x") > 0}
        ).collect()[0]
        assert row["row_count"] == 0
        assert row["x_positive"] == 0  # not NULL


class TestReviewFixesRound5:
    """Round-6 fifth review pass: salted determinism/NULL semantics,
    zorder SQL cast."""

    def test_salted_distinct_count_ignores_nulls(self, spark):
        from uc_historic_data_importer_spark.operators import skew

        df = spark.createDataFrame(
            [("a", "x"), ("a", None), ("a", "y"), ("b", None)],
            "event_type string, user_id string",
        )
        got = {
            r["event_type"]: r["n_distinct_user_id"]
            for r in skew.salted_distinct_count(df).collect()
        }
        # count(DISTINCT v) semantics: NULL never counts; an all-NULL
        # key yields no row (matching SQL's absent-group behavior under
        # the oracle's GROUP BY over non-null values)
        assert got == {"a": 2}

    def test_salted_agg_deterministic_across_runs(self, spark):
        from uc_historic_data_importer_spark.operators import skew

        df = spark.createDataFrame(
            [("a", i % 3) for i in range(100)], "event_type string, value int"
        )
        a = {tuple(r) for r in skew.salted_agg(df).collect()}
        b = {tuple(r) for r in skew.salted_agg(df).collect()}
        assert a == b == {("a", 100, 99, 2)}

    def test_salted_ops_tolerate_map_columns(self, spark):
        # xxhash64 rejects MapType at analysis time; the salt hash must
        # skip map-bearing columns (incl. nested) instead of failing
        # (ADVICE r6)
        from uc_historic_data_importer_spark.operators import skew

        df = spark.createDataFrame(
            [("a", i % 3, {"m": str(i)}, ({"n": i},)) for i in range(60)],
            "event_type string, value int, meta map<string,string>, "
            "s struct<inner: map<string,int>>",
        )
        got = {
            (r["event_type"], r["n"], r["total_value"])
            for r in skew.salted_agg(df).collect()
        }
        assert got == {("a", 60, 60)}  # sum(i % 3, i<60) = 20 * 3

        dim = spark.createDataFrame([("a", "dim")], "k string, d string")
        joined = skew.salted_join(
            df.select(F.col("event_type").alias("k"), "value", "meta"), dim
        )
        assert joined.count() == 60
        assert set(joined.columns) == {"k", "value", "meta", "d"}


class TestReviewFixesRound6:
    """Round-6 sixth review pass: atomic latest-row picks, corrupt-media
    robustness, duration parsing."""

    def test_latest_per_key_never_returns_torn_rows(self, spark):
        """Two rows tied at the max version: the winner is arbitrary but
        one of them — the max_by pick carries one source row's
        record_json, never a value from the older version."""
        from uc_historic_data_importer_spark.operators.latest import (
            latest_per_key,
        )

        rows = [
            ("t", "k", 5, "rec-A"),
            ("t", "k", 5, "rec-B"),
            ("t", "k", 3, "rec-old"),
        ]
        df = spark.createDataFrame(
            rows, "table string, key_hex string, version long, record_json string"
        ).repartition(8)
        got = latest_per_key(df).collect()
        assert len(got) == 1 and got[0]["version"] == 5
        assert got[0]["record_json"] in {"rec-A", "rec-B"}

    def test_corrupt_png_payloads_yield_sentinels_not_task_failure(self, spark):
        """Signature-valid but corrupt payloads raise zlib/struct errors
        from the stdlib codec — they must map to the -1 sentinel / stub
        passthrough, never kill the task."""
        import struct as st
        import zlib as zl

        from uc_historic_data_importer_spark.operators import multimodal as mm
        from uc_historic_data_importer_spark.functions import imagecodec as ic

        good = ic.encode_png(4, 3, 1, bytes(range(12)))
        truncated = good[:20]  # mid-IHDR: struct/ValueError territory
        # valid chunks, garbage IDAT: zlib.error territory
        ihdr = good[8:33]
        bad_idat = (
            ic.PNG_SIGNATURE
            + ihdr
            + ic._chunk(b"IDAT", b"\x99" * 10)
            + ic._chunk(b"IEND", b"")
        )
        for p in (truncated, bad_idat):
            with pytest.raises((ValueError, zl.error, st.error)):
                ic.decode_png(p)
        media = spark.createDataFrame(
            [
                (1, "image", bytearray(good)),
                (2, "image", bytearray(truncated)),
                (3, "image", bytearray(bad_idat)),
            ],
            "media_id long, kind string, payload binary",
        ).withColumn("mime", F.lit("image/png")).withColumn(
            "meta", F.create_map().cast("map<string,string>")
        )
        feats = {r["media_id"]: r["width"]
                 for r in mm.extract_features(media).collect()}
        assert feats[1] == 4  # real decode
        # corrupt payloads fall back (stub dims or sentinel), no crash
        assert 2 in feats and 3 in feats
        keys = {r["media_id"]: r["ahash"]
                for r in mm.perceptual_keys(media).collect()}
        assert keys[1] != -1 and keys[3] == -1

    def test_perceptual_keys_hash_jpegs_too(self, spark):
        from uc_historic_data_importer_spark.operators import multimodal as mm
        from uc_historic_data_importer_spark.functions import imagecodec as ic

        jpg = ic.encode_jpeg_gray(16, 16, bytes([100]) * 256)
        media = spark.createDataFrame(
            [(1, "image", bytearray(jpg))],
            "media_id long, kind string, payload binary",
        ).withColumn("mime", F.lit("image/jpeg")).withColumn(
            "meta", F.create_map().cast("map<string,string>")
        )
        row = mm.perceptual_keys(media).collect()[0]
        assert row["ahash"] != -1  # JPEGs get a REAL perceptual hash

    def test_fractional_duration_strings_plan_floored(self, spark):
        from uc_historic_data_importer_spark.operators import multimodal as mm

        media = spark.createDataFrame(
            [(1, "video"), (2, "video"), (3, "audio")],
            "media_id long, kind string",
        ).select(
            "media_id",
            "kind",
            F.lit(None).cast("binary").alias("payload"),
            F.lit("x").alias("mime"),
            F.create_map(
                F.lit("duration_s"),
                F.when(F.col("media_id") == 1, "12.5")
                .when(F.col("media_id") == 2, "0.4")
                .otherwise("7.9"),
            ).alias("meta"),
        )
        frames = mm.frame_sample_plan(media).groupBy("media_id").count()
        got = {r["media_id"]: r["count"] for r in frames.collect()}
        # 12.5 floors to 12 -> frames at 0,5,10; 0.4 floors to 0 -> skip
        assert got == {1: 3}


class TestTokenizerSeam:
    """Real-tokenizer injection point (text.encoded_ids_udf — the text
    twin of the r5 media decoder seam): parity-pinned via injected
    fakes; the BPE-ish/whitespace defaults stay the oracles. The fakes
    are built as LOCAL closures (cloudpickle ships them by value — a
    module-level test function would be pickled by reference and fail
    to import inside Spark's Python workers, exactly the trap a real
    tiktoken swap must also avoid)."""

    @staticmethod
    def _ws_encode():
        def enc(t):
            import re

            return [len(w) for w in re.split(r"[^a-z0-9]+", t.lower()) if w]

        return enc

    @staticmethod
    def _char_encode():
        def enc(t):
            return [ord(c) for c in t]

        return enc

    def _docs(self, spark):
        rows = [
            (1, "src_a", "The quick brown fox, it's 42 jumps!"),
            (2, "src_a", "hello   world\t\ttabs\nand newlines"),
            (3, "src_b", "punctuation-only:  ... !!! ???"),
            (4, "src_b", ""),
        ]
        return spark.createDataFrame(rows, "doc_id long, source string, text string")

    def test_bpe_stats_under_seam_equals_default(self, spark):
        from uc_historic_data_importer_spark.operators import text as T
        from uc_historic_data_importer_spark.plans.catalog_ext import (
            _seam_fake_encode,
        )

        docs = self._docs(spark)
        default = T.bpe_token_stats(docs).orderBy("source").collect()
        seam = T.bpe_token_stats(
            docs, encode=_seam_fake_encode
        ).orderBy("source").collect()
        assert [r.asDict() for r in seam] == [r.asDict() for r in default]

    def test_seam_encoder_actually_drives_counts(self, spark):
        from uc_historic_data_importer_spark.operators import text as T

        docs = self._docs(spark)
        seam = {
            r["source"]: r["total_bpe_tokens"]
            for r in T.bpe_token_stats(
                docs, encode=self._char_encode()
            ).collect()
        }
        default = {
            r["source"]: r["total_bpe_tokens"]
            for r in T.bpe_token_stats(docs).collect()
        }
        assert seam != default  # char-level counts differ from BPE-ish

    def test_pack_concat_chunks_seam_parity(self, spark):
        from uc_historic_data_importer_spark.operators import packing

        docs = self._docs(spark)
        default = packing.pack_concat_chunks(docs).orderBy("doc_id").collect()
        seam = packing.pack_concat_chunks(
            docs, encode=self._ws_encode()
        ).orderBy("doc_id").collect()
        assert [r.asDict() for r in seam] == [r.asDict() for r in default]

    def test_null_text_maps_to_null_ids(self, spark):
        from uc_historic_data_importer_spark.operators import text as T
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1, None), (2, "two words")], "doc_id long, text string"
        )
        ids = df.select(
            T.encoded_ids_udf(self._ws_encode())(F.col("text")).alias("ids")
        ).orderBy(F.lit(1)).collect()
        got = {r["ids"] is None for r in ids}
        assert got == {True, False}


class TestDispatchCountElision:
    """r6-verdict item: catalog callers of the size-dispatched
    similarity operators must pass ``n_rows`` from parquet footer
    metadata instead of letting the operator run ``df.count()`` over
    the uncached upstream plan. Pin: DataFrame.count is POISONED while
    the affected catalog queries build — any dispatch count fires
    loudly."""

    QUERIES_UNDER_PIN = (
        "semdedup_embeddings",
        "embedding_cosine_neardup",
        "ann_ivf_build",
        "ann_ivf_topk",
    )

    def test_no_count_during_build(self, spark, monkeypatch):
        import uc_historic_data_importer_spark.plans.catalog_classic  # noqa: F401 - registers queries
        import uc_historic_data_importer_spark.plans.catalog_ext  # noqa: F401 - registers queries
        from pyspark.sql import DataFrame
        from uc_historic_data_importer_spark.plans.catalog import QUERIES

        sf_dir = "/root/testdata/sf0.001"
        built = {}

        def boom(self):
            raise AssertionError(
                "df.count() fired during catalog query build — "
                "dispatch must use _embeddings_n_rows footer metadata"
            )

        with monkeypatch.context() as m:
            m.setattr(DataFrame, "count", boom)
            for name in self.QUERIES_UNDER_PIN:
                built[name] = QUERIES[name].fn(spark, sf_dir)
        # counts restored: the built plans still execute and return rows
        for name, df in built.items():
            assert df.count() > 0, name

    def test_footer_metadata_matches_spark_count(self, spark):
        from uc_historic_data_importer_spark.plans.catalog_ext import (
            _embeddings_n_rows,
        )

        sf_dir = "/root/testdata/sf0.001"
        n_spark = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
        assert _embeddings_n_rows(sf_dir) == n_spark


class TestSegmentCleanMembershipDispatch:
    """segment_clean_docs membership dispatch (r6-verdict item 7): the
    precompiled-frozenset pandas-UDF path must be value-identical to
    the literal array_contains path (membership is exact either way —
    the 16x sf1 win is purely cost), and the list size picks the path."""

    def _docs(self, spark):
        s1, s2 = self.BP
        rows = [
            (1, f"{s1} {s2}"),
            (2, f"{s1} X Y Z w1 w2 w3 w4 w5 w6 w7 {s2} tail"),
            (3, ""),
            (4, None),
            (5, f"{s2} {s2} {s2}"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    # two SEGMENT_K=10-token boilerplate segments
    BP = ["a b c d e f g h i j", "k l m n o p q r s t"]
    # 70 segments that match no document push a list past the 64-entry
    # literal limit onto the set path without changing what is removed
    BIG = BP + [f"filler segment number {i} x" for i in range(70)]

    def test_paths_value_identical(self, spark):
        from uc_historic_data_importer_spark.operators import text as T

        docs = self._docs(spark)
        cols = ("doc_id", "n_segments", "n_removed", "cleaned_text")
        lit = [
            tuple(r[c] for c in cols)
            for r in T.segment_clean_docs(docs, self.BP)
            .orderBy("doc_id").collect()
        ]
        su = [
            tuple(r[c] for c in cols)
            for r in T.segment_clean_docs(docs, self.BIG)
            .orderBy("doc_id").collect()
        ]
        assert lit == su
        # the removal actually bites: doc 5 is 3x the second bp segment
        by_id = dict((t[0], t) for t in lit)
        assert by_id[5][2] == 3 and by_id[5][3] == ""

    def test_auto_picks_by_list_size(self, spark):
        from uc_historic_data_importer_spark.operators import text as T

        docs = self._docs(spark).limit(2)
        small = T.segment_clean_docs(docs, self.BP)  # literal
        big = T.segment_clean_docs(docs, self.BIG)  # set_udf
        # plan fingerprint: the set path runs a Python (Arrow) stage
        assert "pythonUDF" not in small._jdf.queryExecution().executedPlan().toString() \
            or "ArrowEvalPython" not in small._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" in big._jdf.queryExecution().executedPlan().toString()
        # and both paths still agree on values
        a = [r.asDict() for r in small.orderBy("doc_id").collect()]
        b = [r.asDict() for r in big.orderBy("doc_id").collect()]
        assert a == b


class TestRound8Guards:
    """Pins for the round-8 third review batch (report-only findings,
    fixed same round): dotted-column quoting in the window/SCD2 latest
    forms, interval_join reserved names."""

    def test_latest_window_and_scd2_handle_dotted_columns(self, spark):
        from uc_historic_data_importer_spark.operators.latest import (
            latest_per_key_window,
            scd2_intervals,
        )

        df = spark.createDataFrame(
            [("t", "k", 1, "old"), ("t", "k", 2, "new")],
            ["table", "key_hex", "version", "payload.v1"],
        )
        out = latest_per_key_window(df).collect()
        assert len(out) == 1 and out[0]["payload.v1"] == "new"
        by_user = df.withColumnRenamed("key_hex", "user_id").drop("table")
        iv = {r["version"]: (r["valid_to"], r["is_current"])
              for r in scd2_intervals(by_user).collect()}
        assert iv == {1: (2, False), 2: (None, True)}

    def test_latest_and_scd2_reserved_names_raise(self, spark):
        """r10 review batch: the skew.py reserved-name class applied to
        latest.py — an input column literally named like an internal
        temp was silently overwritten then dropped."""
        from uc_historic_data_importer_spark.operators.latest import (
            latest_per_key_window,
            scd2_intervals,
        )

        df = spark.createDataFrame(
            [("t", "k", 1, "a")],
            ["table", "key_hex", "version", "envelope"],
        )
        by_user = df.withColumnRenamed("key_hex", "user_id")
        with pytest.raises(ValueError, match="internal temp names"):
            latest_per_key_window(df.withColumn("_rn", F.lit(9)))
        with pytest.raises(ValueError, match="internal temp names"):
            scd2_intervals(by_user.withColumn("_dup", F.lit(9)))
        # scd2's OUTPUT names are reserved too (re-running scd2 over its
        # own output would silently overwrite, not extend)
        with pytest.raises(ValueError, match="internal temp names"):
            scd2_intervals(by_user.withColumn("valid_to", F.lit(9)))

    def test_sessionize_and_funnel_reserved_names_raise(self, spark):
        from uc_historic_data_importer_spark.operators import sessions

        ev = spark.createDataFrame(
            [(1, 1, "view", 1.0)], ["user_id", "event_id", "event_type", "value"]
        ).withColumn("ts", F.to_timestamp(F.lit("2021-01-01T10:00:00")))
        with pytest.raises(ValueError, match="internal temp names"):
            sessions.sessionize(ev.withColumn("session_idx", F.lit(1)))
        with pytest.raises(ValueError, match="internal temp names"):
            sessions.funnel_counts(ev.withColumn("_ts", F.lit(1)))
        with pytest.raises(ValueError, match="internal temp names"):
            sessions.funnel_counts(ev.withColumn("_t1", F.lit(1)))

    def test_cdc_layout_diff_reserved_and_dotted_names(self, spark):
        """r10 review batch 2 (cdc/layout/diff/audit modules): the same
        reserved-name / dotted-name classes as latest.py."""
        from uc_historic_data_importer_spark.operators import cdc, diff

        # cdc: dotted payload/key names resolve as FLAT columns end to end
        ch = spark.createDataFrame(
            [(1, 1, "P", "a"), (1, 2, "P", "b")],
            ["k", "seq", "op", "pay.load"],
        )
        lat = cdc.latest_changes(ch, ["k"]).collect()
        assert len(lat) == 1 and lat[0]["pay.load"] == "b"
        snap = spark.createDataFrame([(1, "old"), (2, "keep")], ["k", "pay.load"])
        merged = {
            r["k"]: r["pay.load"]
            for r in cdc.merge_changelog(snap, ch, ["k"]).collect()
        }
        assert merged == {1: "b", 2: "keep"}
        # cdc: a key named _w alias-clashes with the internal aggregate
        with pytest.raises(ValueError, match="_w"):
            cdc.latest_changes(
                ch.withColumnRenamed("k", "_w"), ["_w"]
            )
        # diff: status as a VALUE column is fine
        d = spark.createDataFrame([(1, "s", "x")], ["o_orderkey", "status", "v"])
        assert {
            r["status"] for r in diff.snapshot_diff(d, d).collect()
        } == {"unchanged"}

    def test_interval_join_reserved_names_raise(self, spark):
        from uc_historic_data_importer_spark.operators.range_join import (
            interval_join,
        )

        base = spark.createDataFrame(
            [(1, "2021-01-01T10:00:00")], ["user_id", "ts_str"]
        ).withColumn("ts", F.to_timestamp("ts_str")).drop("ts_str")
        with pytest.raises(ValueError, match="internal temp names"):
            interval_join(
                base.withColumn("_bucket", F.lit(1)), base,
            )
        # left already holds val_r while right's val needs the suffix
        with pytest.raises(ValueError, match="rename one side"):
            interval_join(
                base.withColumn("val", F.lit(1)).withColumn("val_r", F.lit(2)),
                base.withColumn("val", F.lit(3)),
            )


class TestRound11Advice:
    """Pins for the round-11 ADVICE fixes: kmeans_fit's pre-take(k)
    budget probe and ivf2_assign's unmatched-cell sentinel."""

    def _corpus(self, spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_kmeans_fit_budget_raises_without_collecting_k(self, spark):
        from uc_historic_data_importer_spark.operators import similarity

        corpus = self._corpus(
            spark, [(i, [float(i), 1.0]) for i in range(10)]
        )
        # the budget error names the route past it
        with pytest.raises(ValueError, match="driver/broadcast.*ivf2_fit"):
            similarity.kmeans_fit(corpus, k=4, max_driver_floats=7)
        # under the budget the fit is unchanged
        cents = similarity.kmeans_fit(
            corpus, k=2, iters=1, max_driver_floats=1000
        )
        assert len(cents) == 2

    def test_kmeans_fit_null_first_embedding_raises_clearly(self, spark):
        from uc_historic_data_importer_spark.operators import similarity

        corpus = self._corpus(spark, [(1, None), (2, [1.0, 0.0])])
        with pytest.raises(ValueError, match="NULL"):
            similarity.kmeans_fit(corpus, k=1)

    def test_ivf2_assign_unmatched_cell_keeps_row_with_sentinel(self, spark):
        """A vector (outside the fit corpus) landing in a coarse cell
        with no fine centroids must survive assignment with the -1
        sentinel, not vanish in the join (ADVICE r10)."""
        from uc_historic_data_importer_spark.operators import similarity

        fit = self._corpus(
            spark,
            [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [-1.0, 0.0]),
             (4, [-0.9, -0.1])],
        )
        coarse = similarity.kmeans_fit(fit, k=2, iters=1)
        fine = similarity.ivf2_fit(fit, coarse, k2=2, iters=1)
        # drop one coarse cell's fine centroids to simulate a cell empty
        # at fit time
        cells = [r["cell"] for r in fine.select("cell").distinct().collect()]
        assert len(cells) == 2
        fine_missing = fine.filter(F.col("cell") == cells[0])
        out = similarity.ivf2_assign(fit, coarse, fine_missing)
        rows = {r["vec_id"]: r for r in out.collect()}
        assert len(rows) == 4, "assignment dropped rows"
        sentinels = [r for r in rows.values() if r["fine"] == -1]
        assert sentinels and all(r["bucket"] == -1 for r in sentinels)
        matched = [r for r in rows.values() if r["fine"] != -1]
        assert matched and all(r["bucket"] >= 0 for r in matched)


class TestRound11Guards:
    """r11 review batch over the stalest-audited modules (sketches /
    sampling / bloom / packing): the skew.py reserved-name guard class
    plus degenerate-parameter probes."""

    def test_sketches_reserved_names_raise(self, spark):
        from uc_historic_data_importer_spark.operators import sketches

        df = spark.createDataFrame(
            [("a", 1, 2)], ["bucket", "user_id", "x"]
        )
        with pytest.raises(ValueError, match="internal temp names"):
            sketches.hll_registers(df, group_cols=("bucket",))
        with pytest.raises(ValueError, match="internal temp names"):
            sketches.hist_counts(df, "x", group_cols=("bucket",))
        with pytest.raises(ValueError, match="internal temp names"):
            sketches.cms_estimate(
                spark.createDataFrame([(1,)], "user_id long"),
                spark.createDataFrame([(1, 1)], ["cms_n", "user_val"]),
            )

    def test_sampling_reserved_names_and_params_raise(self, spark):
        from uc_historic_data_importer_spark.operators import sampling

        df = spark.createDataFrame(
            [(1, "s", "en", 1.0, 10)],
            ["doc_id", "source", "lang", "n_chars", "n_tokens"],
        )
        with pytest.raises(ValueError, match="internal temp names"):
            sampling.stratified_sample(df.withColumn("_rk", F.lit(1)))
        with pytest.raises(ValueError, match="internal temp names"):
            sampling.weighted_sample(df.withColumn("_wkey", F.lit(1.0)))
        with pytest.raises(ValueError, match="internal temp names"):
            sampling.mixture_sample(df.withColumn("copy_idx", F.lit(1)))
        with pytest.raises(ValueError, match="internal temp names"):
            sampling.token_budget_sample(df.withColumn("cum_tokens", F.lit(1)))
        with pytest.raises(ValueError, match="internal temp names"):
            sampling.kfold_assign(df.withColumn("fold", F.lit(0)))
        with pytest.raises(ValueError, match="internal temp names"):
            sampling.split_assign(df.withColumn("split", F.lit("x")))

    def test_packing_and_bloom_degenerate_params_raise(self, spark):
        from uc_historic_data_importer_spark.operators import packing

        docs = spark.createDataFrame(
            [(1, "a b c", 3)], ["doc_id", "text", "n_tokens"]
        )
        with pytest.raises(ValueError, match="internal temp names"):
            packing.shard_assign_by_tokens(docs.withColumn("_bucket", F.lit(1)))

    def test_guarded_ops_unchanged_on_clean_schemas(self, spark):
        """the guards are behavior-neutral for clean inputs: spot-check
        one operator per module against its pre-guard semantics."""
        from uc_historic_data_importer_spark.operators import (
            packing, sampling, sketches,
        )

        df = spark.createDataFrame(
            [(i, f"s{i % 2}", float(i + 1), 5) for i in range(50)],
            ["doc_id", "lang", "w", "n_tokens"],
        )
        est = sketches.hll_distinct(
            df.select(F.col("doc_id").alias("user_id"), F.lit("t").alias("event_type"))
        ).collect()
        assert len(est) == 1 and est[0]["hll_distinct"] > 0
        assert sampling.stratified_sample(df).count() == 2 * sampling.STRATUM_N
        out = packing.shard_assign_by_tokens(df)
        assert out.count() == 50



class TestKmeansNpSeam:
    """r11: kmeans_fit's past-oracle-scale fit-iteration seam (one
    Arrow-batched matmul per iteration instead of the k*dim
    _cell_column tree). Pins centroid EQUALITY between the routes on
    cluster-structured fixtures — the rounding at round_dp/centroid_dp
    collapses float sum-order differences, the same tolerance the
    Catalyst path already needs for Spark's own partial-agg order."""

    def _corpus(self, spark, n=60, dim=8):
        rows = []
        for i in range(n):
            base = [0.0] * dim
            base[i % 3] = 10.0 + (i % 5)  # 3 clear clusters
            base[(i % 3) + 3] = 1.0 + (i % 7) * 0.25
            rows.append((i, base))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_np_route_matches_catalyst_route(self, spark):
        from uc_historic_data_importer_spark.operators import similarity

        corpus = self._corpus(spark)
        exact = similarity.kmeans_fit(corpus, k=3, iters=2)
        via_np = similarity.kmeans_fit(
            corpus, k=3, iters=2, n_rows=10**9
        )
        assert via_np == exact

    def test_np_route_tolerates_malformed_rows(self, spark):
        from uc_historic_data_importer_spark.operators import similarity
        from pyspark.sql import functions as F

        corpus = self._corpus(spark).withColumn(
            "embedding",
            F.when(F.col("vec_id") % 17 == 5, F.lit(None)).otherwise(
                F.col("embedding")
            ),
        ).filter(F.col("vec_id") > 5).unionByName(
            self._corpus(spark).filter(F.col("vec_id") <= 5)
        )
        clean = corpus.filter(F.col("embedding").isNotNull())
        exact = similarity.kmeans_fit(clean, k=3, iters=1)
        via_np = similarity.kmeans_fit(
            clean, k=3, iters=1, n_rows=10**9
        )
        assert via_np == exact

    def test_assignments_identical_on_fixture(self, spark):
        """end-to-end: assign_cells over both routes' centroids gives
        the same cells (what downstream partition pruning keys on)."""
        from uc_historic_data_importer_spark.operators import similarity

        corpus = self._corpus(spark, n=90)
        a = similarity.assign_cells(
            corpus, similarity.kmeans_fit(corpus, k=3, iters=2)
        )
        b = similarity.assign_cells(
            corpus,
            similarity.kmeans_fit(
                corpus, k=3, iters=2, n_rows=10**9
            ),
        )
        am = {r["vec_id"]: r["cell"] for r in a.collect()}
        bm = {r["vec_id"]: r["cell"] for r in b.collect()}
        assert am == bm


class TestRound12Guards:
    """r12 review batch 4: text.py reserved-name / degenerate-param
    probes (the r11 class that found bloom k=0 and n_salts=0), plus the
    kmeans probe-gating and ivf2 assigned-sharing seams."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "alpha beta gamma delta", "a"),
                (2, "alpha beta", "a"),
                (3, "", "b"),
            ],
            "doc_id long, text string, source string",
        )

    def test_text_reserved_names_raise(self, spark):
        from uc_historic_data_importer_spark.operators import text

        docs = self._docs(spark)
        with pytest.raises(ValueError, match="tokens"):
            text.token_counts(docs.withColumn("tokens", F.lit("x")))
        with pytest.raises(ValueError, match="_segs"):
            # pre-guard this case EMITTED the internal segment array
            # under the user's _segs column (probed r12)
            text.segment_clean_docs(
                docs.withColumn("_segs", F.lit("user data")), ["alpha beta"]
            )
        with pytest.raises(ValueError, match="redacted"):
            text.pii_scrub(docs.withColumn("redacted", F.lit("x")))
        with pytest.raises(ValueError, match="robust_z"):
            text.length_outliers(
                docs.withColumn("robust_z", F.lit(1.0))
                .withColumn("n_chars", F.col("doc_id"))
            )
        with pytest.raises(ValueError, match="_spans"):
            text.remove_duplicate_spans(
                docs.withColumn("_spans", F.lit("x"))
            )
        with pytest.raises(ValueError, match="pr"):
            text.relative_quality_filter(docs.withColumn("pr", F.lit(0.0)))

    def test_text_degenerate_params_raise(self, spark):
        from uc_historic_data_importer_spark.operators import text

        docs = self._docs(spark)
        with pytest.raises(ValueError, match="top_n"):
            text.boilerplate_segments(docs, top_n=0)

    def test_text_guarded_ops_unchanged_on_clean_schemas(self, spark):
        from uc_historic_data_importer_spark.operators import text

        docs = self._docs(spark)
        # each non-empty doc is one (short, trailing) segment
        assert text.word_segments(docs).count() == 2
        top = text.token_ngram_topk(docs).collect()
        assert [r["gram"] for r in top][0] == "alpha beta"
        assert text.relative_quality_filter(docs).count() == 2
        cleaned = text.segment_clean_docs(
            docs, ["alpha beta gamma delta", "alpha beta"]
        )
        got = {r["doc_id"]: r["n_removed"] for r in cleaned.collect()}
        assert got == {1: 1, 2: 1, 3: 0}

    def test_kmeans_fit_empty_corpus_raises_clearly(self, spark):
        from uc_historic_data_importer_spark.operators import similarity

        empty = spark.createDataFrame(
            [], "vec_id long, embedding array<double>"
        )
        # small k (probe gated off) and large k (probe path) both name
        # the condition instead of IndexError (ADVICE r11)
        with pytest.raises(ValueError, match="empty corpus"):
            similarity.kmeans_fit(empty, k=2)
        with pytest.raises(ValueError, match="empty corpus"):
            similarity.kmeans_fit(empty, k=100)

    def test_kmeans_fit_small_k_null_init_vector_raises(self, spark):
        from uc_historic_data_importer_spark.operators import similarity

        corpus = spark.createDataFrame(
            [(1, None), (2, [1.0, 0.0])],
            "vec_id long, embedding array<double>",
        )
        # probe is gated off at k<=_PROBE_FREE_K; the init collect must
        # still raise the clear contract error, not TypeError
        with pytest.raises(ValueError, match="NULL"):
            similarity.kmeans_fit(corpus, k=1)

    def test_ivf2_shared_assignment_matches_default(self, spark):
        from uc_historic_data_importer_spark.operators import similarity

        rows = [(i, [float(i % 5), float(i % 3), 1.0]) for i in range(40)]
        corpus = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        coarse = similarity.kmeans_fit(corpus, k=2, iters=1)
        fine_default = similarity.ivf2_fit(corpus, coarse, k2=2, iters=1)
        shared = similarity.assign_cells(
            corpus, coarse, keep_cols=("embedding",)
        ).localCheckpoint(eager=False)
        fine_shared = similarity.ivf2_fit(
            corpus, coarse, k2=2, iters=1, assigned=shared
        )
        a = {
            (r["cell"], r["fine"]): tuple(r["centroid"])
            for r in fine_default.collect()
        }
        b = {
            (r["cell"], r["fine"]): tuple(r["centroid"])
            for r in fine_shared.collect()
        }
        assert a == b
        asg_default = similarity.ivf2_assign(corpus, coarse, fine_default)
        asg_shared = similarity.ivf2_assign(
            corpus, coarse, fine_shared, assigned=shared
        )
        am = {r["vec_id"]: (r["cell"], r["fine"], r["bucket"])
              for r in asg_default.collect()}
        bm = {r["vec_id"]: (r["cell"], r["fine"], r["bucket"])
              for r in asg_shared.collect()}
        assert am == bm


class TestAssignSeamParity:
    """r12: assign_cells' past-oracle-scale n_rows dispatch (the ivf2
    build analysis-cut). Bench scales route the assignment through the
    Arrow matmul, which the DuckDB oracle never sees (oracle scales
    stay Catalyst by design) — so pin route equality by test: the
    seam and the literal-argmax tree must assign identical cells, and
    the full ivf2 fit+assign chain must be value-identical through
    either route, malformed rows included."""

    def _corpus(self, spark, n=120, dim=6):
        rows = []
        for i in range(n):
            v = [0.0] * dim
            v[i % 3] = 5.0 + (i % 11) * 0.5
            v[3 + (i % 2)] = 1.0 + (i % 7) * 0.25
            rows.append((i, v))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_assign_cells_routes_agree(self, spark):
        from uc_historic_data_importer_spark.operators import similarity

        corpus = self._corpus(spark)
        cents = similarity.kmeans_fit(corpus, k=3, iters=1)
        exact = similarity.assign_cells(corpus, cents)
        # n_rows past EXACT_MAX_ROWS forces the Arrow route
        seam = similarity.assign_cells(corpus, cents, n_rows=10**9)
        em = {r["vec_id"]: r["cell"] for r in exact.collect()}
        sm = {r["vec_id"]: r["cell"] for r in seam.collect()}
        assert em == sm

    def test_assign_cells_seam_sentinels_malformed(self, spark):
        from uc_historic_data_importer_spark.operators import similarity
        from pyspark.sql import functions as F

        corpus = self._corpus(spark).withColumn(
            "embedding",
            F.when(F.col("vec_id") % 13 == 4, F.lit(None))
            .when(
                F.col("vec_id") % 13 == 5,
                F.expr("slice(embedding, 1, 2)"),  # wrong dim
            )
            .otherwise(F.col("embedding")),
        )
        cents = similarity.kmeans_fit(
            corpus.filter(F.col("embedding").isNotNull()), k=2, iters=0
        )
        exact = similarity.assign_cells(corpus, cents)
        seam = similarity.assign_cells(corpus, cents, n_rows=10**9)
        em = {r["vec_id"]: r["cell"] for r in exact.collect()}
        sm = {r["vec_id"]: r["cell"] for r in seam.collect()}
        assert em == sm
        assert set(
            v for k, v in em.items() if k % 13 in (4, 5)
        ) == {-1}, "malformed rows must sentinel on both routes"

    def test_ivf2_chain_identical_through_seam(self, spark):
        from uc_historic_data_importer_spark.operators import similarity

        corpus = self._corpus(spark)
        coarse = similarity.kmeans_fit(corpus, k=2, iters=1)
        fine_exact = similarity.ivf2_fit(corpus, coarse, k2=2, iters=1)
        asg_exact = similarity.ivf2_assign(corpus, coarse, fine_exact)
        shared = similarity.assign_cells(
            corpus, coarse, keep_cols=("embedding",), n_rows=10**9
        ).localCheckpoint(eager=False)
        fine_seam = similarity.ivf2_fit(
            corpus, coarse, k2=2, iters=1, assigned=shared
        )
        asg_seam = similarity.ivf2_assign(
            corpus, coarse, fine_seam, assigned=shared
        )
        fe = {(r["cell"], r["fine"]): tuple(r["centroid"])
              for r in fine_exact.collect()}
        fs = {(r["cell"], r["fine"]): tuple(r["centroid"])
              for r in fine_seam.collect()}
        assert fe == fs
        ae = {r["vec_id"]: (r["cell"], r["fine"], r["bucket"])
              for r in asg_exact.collect()}
        asq = {r["vec_id"]: (r["cell"], r["fine"], r["bucket"])
               for r in asg_seam.collect()}
        assert ae == asq


class TestBandSignaturePaths:
    """r12: minhash_jaccard_estimates bands a checkpointed signature
    frame via _band_signatures_of_sig instead of recomputing the
    shingle chain through minhash_band_signatures (13.7 -> ~8 s at
    sf1). The two banding expressions must stay bit-identical — this
    pin makes drift impossible to ship silently (r13 unifies them)."""

    def test_band_signature_paths_agree(self, spark):
        from uc_historic_data_importer_spark.operators import dedup

        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma delta {i % 7} epsilon zeta " * 3)
             for i in range(30)],
            "doc_id long, text string",
        )
        via_full = dedup.minhash_band_signatures(docs)
        sig = dedup.minhash_signatures(docs)
        via_sig = dedup._band_signatures_of_sig(sig)
        a = {(r["doc_id"], r["band_idx"]): r["band_sig"]
             for r in via_full.collect()}
        b = {(r["doc_id"], r["band_idx"]): r["band_sig"]
             for r in via_sig.collect()}
        assert a == b


class TestEnvelopeNamingGuards:
    """r12 review batch 4 follow-on: envelope.py / naming.py have no
    catalog queries of their own (pipeline + pytest surface; the only
    catalog consumer of with_table_names is entry_counts, in this
    round's window), so their guard hardening lands now rather than
    r13."""

    def test_encrypt_body_reserved_enc_raises(self, spark):
        from uc_historic_data_importer_spark.operators.envelope import (
            encrypt_body,
        )

        df = spark.createDataFrame(
            [("x", "k")], "record_json string, _enc string"
        )
        with pytest.raises(ValueError, match="_enc"):
            encrypt_body(df, data_key_b64="a" * 24)

    def test_encrypt_body_null_body_raises_clearly(self, spark):
        import base64
        from uc_historic_data_importer_spark.operators.envelope import (
            encrypt_body,
        )

        key = base64.b64encode(b"0" * 16).decode()
        df = spark.createDataFrame(
            [("ok",), (None,)], "record_json string"
        )
        out = encrypt_body(df, data_key_b64=key)
        with pytest.raises(Exception, match="NULL record_json"):
            out.collect()

    def test_with_envelope_output_collision_raises(self, spark):
        """r14 review batch 10 (with_table_names class): an input frame
        already carrying `envelope` means a caller bug; withColumn
        would silently replace it."""
        from uc_historic_data_importer_spark.operators.envelope import (
            RunContext,
            with_envelope,
        )

        df = spark.createDataFrame(
            [("b", "i", "e")], "db_object string, iv string, envelope string"
        )
        ctx = RunContext("u", "t", "tr")
        with pytest.raises(ValueError, match="envelope"):
            with_envelope(df, ctx)

    def test_with_row_key_output_collision_raises(self, spark):
        """r14 review batch 10 (same class): with_row_key silently
        replaced pre-existing key/key_hex columns."""
        from uc_historic_data_importer_spark.operators.keying import (
            with_row_key,
        )

        df = spark.createDataFrame(
            [("id1", b"k", "6b")],
            "canonical_id string, key binary, key_hex string",
        )
        with pytest.raises(ValueError, match="key"):
            with_row_key(df)

    def test_with_table_names_output_collision_raises(self, spark):
        from uc_historic_data_importer_spark.operators.naming import (
            with_table_names,
        )

        df = spark.createDataFrame(
            [("d", "c", "t")], "db string, collection string, table string"
        )
        with pytest.raises(ValueError, match="table"):
            with_table_names(df)

    def test_with_table_names_clean_schema_unchanged(self, spark):
        from uc_historic_data_importer_spark.operators.naming import (
            with_table_names,
        )

        df = spark.createDataFrame(
            [("my-db", "coll-two"), ("agent_core", "agentToDoArchive")],
            "db string, collection string",
        )
        rows = {r["collection"]: (r["table"], r["collection_out"])
                for r in with_table_names(df).collect()}
        assert rows["coll-two"] == ("my_db:coll", "coll")
        assert rows["agentToDoArchive"] == (
            "agent_core:agentToDo", "agentToDo"
        )


class TestRound13Guards:
    """r13 review batch: dedup.py degenerate-param / reserved-name
    probes (r12 verdict prescription #2 — the class that found
    token_ngram_topk n=0, bloom k=0, n_salts=0). Each raise case was
    probed pre-guard and produced SILENT corruption: n=0 gave every doc
    the "" shingle (all-pairs jaccard=1.0), caps of 0 silently emptied
    the result, quality_col="rn" ranked clusters by the internal
    row_number."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "alpha beta gamma delta", "a"),
                (2, "alpha beta", "a"),
                (3, "totally different words here", "b"),
            ],
            "doc_id long, text string, source string",
        )

    def test_shingle_n_below_one_raises_across_family(self, spark):
        from uc_historic_data_importer_spark.operators import dedup

        docs = self._docs(spark)
        # pre-guard: every doc shared the single "" shingle -> C(N,2)
        # pairs all reporting jaccard=1.0 (probed: (1,3) came back as
        # an exact near-dup)
        # (every shingle operator builds on doc_shingle_hashes)
        with pytest.raises(ValueError, match="n must be >= 1"):
            dedup.doc_shingle_hashes(docs, n=0)

    def test_guarded_ops_unchanged_on_clean_params(self, spark):
        from uc_historic_data_importer_spark.operators import dedup

        # doc 2's one 3-gram "alpha beta gamma" is half of doc 1's two
        docs = self._docs(spark).withColumn(
            "text",
            F.when(F.col("doc_id") == 2, F.lit("alpha beta gamma"))
            .otherwise(F.col("text")),
        )
        # valid configs behave exactly as before the guards
        pairs = dedup.jaccard_pairs(docs).collect()
        assert {(r["doc_a"], r["doc_b"]) for r in pairs} == {(1, 2)}
        assert dedup.jaccard_bucket_stats(docs).collect()[0][
            "dropped_buckets"
        ] == 0
        br = dedup.best_representative(
            docs.withColumn("n_chars", F.length("text"))
        )
        assert br.count() == 0  # no exact-fingerprint dup clusters here


class TestRound13ReviewBatch5:
    """r13 review batch 5 (r12 verdict prescription #5): diff.py,
    cdc.py, sessions.py, audit.py, listing.py degenerate-param probes.
    The cdc op-vocabulary case was REAL silent corruption (probed: a
    change-only key with op=NULL emitted a ghost all-NULL row; op='X'
    silently upserted); the LocalFsLister case was a driver HANG."""

    def test_cdc_empty_keys_raises(self, spark):
        from uc_historic_data_importer_spark.operators import cdc

        snap = spark.createDataFrame([(1, "a")], "k long, v string")
        ch = spark.createDataFrame(
            [(1, 1, "P", "b")], "k long, seq long, op string, v string"
        )
        # pre-guard: bare IndexError
        with pytest.raises(ValueError, match="key_cols"):
            cdc.merge_changelog(snap, ch, [])
        with pytest.raises(ValueError, match="key_cols"):
            cdc.latest_changes(ch, [])

    def test_cdc_null_or_unknown_op_raises_at_execution(self, spark):
        from uc_historic_data_importer_spark.operators import cdc

        snap = spark.createDataFrame([(1, "a")], "k long, v string")
        null_op = spark.createDataFrame(
            [(3, 1, None, "zz")], "k long, seq long, op string, v string"
        )
        # pre-guard: emitted the GHOST row (3, NULL) — key present, all
        # payload NULL, indistinguishable from a real put of NULLs
        with pytest.raises(Exception, match="must be 'P' or 'D'"):
            cdc.merge_changelog(snap, null_op, ["k"]).collect()
        bad_op = spark.createDataFrame(
            [(1, 1, "X", "bad")], "k long, seq long, op string, v string"
        )
        # pre-guard: op='X' silently applied like a put
        with pytest.raises(Exception, match="must be 'P' or 'D'"):
            cdc.merge_changelog(snap, bad_op, ["k"]).collect()

    def test_cdc_valid_ops_unchanged(self, spark):
        from uc_historic_data_importer_spark.operators import cdc

        snap = spark.createDataFrame(
            [(1, "a"), (2, "b")], "k long, v string"
        )
        ch = spark.createDataFrame(
            [(1, 1, "P", "new"), (2, 1, "D", None), (3, 1, "P", "ins")],
            "k long, seq long, op string, v string",
        )
        got = sorted(
            (r["k"], r["v"])
            for r in cdc.merge_changelog(snap, ch, ["k"]).collect()
        )
        assert got == [(1, "new"), (3, "ins")]

    def test_sessionize_negative_gap_raises(self, spark):
        from uc_historic_data_importer_spark.operators import sessions

        ev = spark.createDataFrame(
            [(1, "2024-01-01 00:00:00", 1)],
            "user_id long, ts string, event_id long",
        ).withColumn("ts", F.to_timestamp("ts"))
        # pre-guard: every event silently opened its own session
        with pytest.raises(ValueError, match="gap_ms"):
            sessions.sessionize(ev, gap_ms=-5)

    def test_audit_empty_cols_raise(self, spark):
        from uc_historic_data_importer_spark.operators import audit

        df = spark.createDataFrame([(1, "a")], "k long, v string")
        # pre-guard: `Can only star expand struct data types`
        with pytest.raises(ValueError, match="cols"):
            audit.column_profile(df, [])


class TestCellAssignRandomizedParity:
    """ADVICE r12: _cell_column's past-oracle Arrow matmul rounds
    half-away on binary doubles while the Catalyst expression path
    rounds via F.round — a divergence class only observable on
    boundary scores. This seeded randomized audit drives BOTH paths
    over a 400-vector random corpus (past the fixture scale the
    earlier parity pins used) and asserts identical assignments,
    making drift observable without waiting for a production
    mismatch. Seeded via a fixed constant, not time — determinism is
    the point."""

    def test_exact_vs_seam_assignments_agree_on_random_corpus(self, spark):
        import random

        from uc_historic_data_importer_spark.operators import similarity

        rng = random.Random(0xC0FFEE)
        dim, k, n = 16, 7, 400
        centroids = [
            [round(rng.uniform(-1, 1), 4) for _ in range(dim)]
            for _ in range(k)
        ]
        rows = []
        for i in range(n):
            if i % 97 == 0:
                rows.append((i, None))  # NULL vecs take the -1 sentinel
            else:
                base = centroids[i % k]
                rows.append(
                    (
                        i,
                        [
                            round(x + rng.uniform(-0.05, 0.05), 4)
                            for x in base
                        ],
                    )
                )
        corpus = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        exact = corpus.select(
            "vec_id",
            similarity._cell_column(centroids).alias("cell"),
        )
        seam = corpus.select(
            "vec_id",
            similarity._cell_column(
                centroids, n_rows=10**9
            ).alias("cell"),
        )
        e = {r["vec_id"]: r["cell"] for r in exact.collect()}
        s = {r["vec_id"]: r["cell"] for r in seam.collect()}
        assert e == s
        assert e[0] == -1  # NULL vec sentinel on both paths


class TestRound13ReviewBatch6:
    """r13 review batch 6 (slot-free modules): layout.py degenerate
    Morton keys. range_join.py was audited in the same pass with NO
    findings (bounds, width, reserved names and suffix clashes were
    already guarded)."""

    def test_zorder_degenerate_key_raises(self, spark):
        from uc_historic_data_importer_spark.operators import layout

        df = spark.createDataFrame([(1, 2)], "a long, b long")
        # pre-guard: no columns made the key the CONSTANT 0 — one range
        # partition, data skipping silently defeated (probed); four
        # 16-bit lanes overflow a signed long
        with pytest.raises(ValueError, match="columns"):
            layout.zorder_key([])
        with pytest.raises(ValueError, match="columns"):
            layout.zorder_key([F.col("a")] * 4)

    def test_zorder_valid_config_unchanged(self, spark):
        from uc_historic_data_importer_spark.operators import layout

        df = spark.createDataFrame([(1, 2), (3, 1)], "a long, b long")
        out = df.select(
            "a", layout.zorder_key([F.col("a"), F.col("b")]).alias("z")
        )
        keys = {r["a"]: r["z"] for r in out.collect()}
        # interleave: a bits at even positions, b at odd
        assert keys[1] == (1 << 0) + (1 << 3)  # a=0b01, b=0b10
        assert keys[3] == (1 << 0) + (1 << 2) + (1 << 1)


class TestRound13ReviewBatch7:
    """r13 review batch 7 (sampling.py, last deep-audited r8). Probed
    findings: a NaN weight passed `w > 0` (Spark sorts NaN above every
    number) and its key then ranked as the GLOBAL maximum — a NaN-weight
    row beat a weight-5.0 row; temperature_mixture_sample silently
    returned EMPTY at target_total <= 0 and silently kept EVERYTHING at
    tau=NaN (NaN slipped the `tau < 0` check). packing.py was audited
    in the same pass with NO findings; sketches.py's scale/qs guards
    were DEFERRED to r14 (3-slot cost vs 2 remaining window slots) and
    re-recorded there via the modified tuple."""

    def _docs(self, spark):
        return spark.createDataFrame(
            [
                (1, "a", 1.0),
                (2, "a", 5.0),
                (3, "a", float("nan")),
                (4, "b", 2.0),
            ],
            "doc_id long, source string, n_chars double",
        )

    def test_weighted_sample_excludes_nan_weights(self, spark):
        from uc_historic_data_importer_spark.operators import sampling

        docs = self._docs(spark)
        picked = {
            r["doc_id"]
            for r in sampling.weighted_sample(docs).collect()
        }
        # pre-guard: doc 3 (NaN weight) won a slot over doc 2 (w=5.0)
        assert 3 not in picked
        assert picked == {1, 2, 4}

    def test_weighted_sample_inf_weight_always_wins(self, spark):
        from uc_historic_data_importer_spark.operators import sampling

        docs = spark.createDataFrame(
            [(i, "a", float("inf") if i == 40 else 1.0) for i in range(50)],
            "doc_id long, source string, n_chars double",
        )
        top = sampling.weighted_sample(docs)
        # P proportional to an infinite weight: key -0.0 tops the
        # all-negative range — the documented, semantically-right case
        assert 40 in {r["doc_id"] for r in top.collect()}

    def test_temperature_mixture_valid_unchanged(self, spark):
        from uc_historic_data_importer_spark.operators import sampling

        docs = self._docs(spark)
        # a target above the corpus size keeps everything: every rate
        # clamps to 1.0
        out = sampling.temperature_mixture_sample(docs)
        assert out.count() == 4
