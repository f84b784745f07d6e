"""CDC changelog merge (operators/cdc.py) and Z-order layout
(operators/layout.py) semantics."""

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from uc_historic_data_importer_spark.operators import cdc, layout


class TestMergeChangelog:
    def _snapshot(self, spark):
        return spark.createDataFrame(
            [
                (1, "alice", 10.0),
                (2, "bob", 20.0),
                (3, "carol", 30.0),
                (4, "dave", 40.0),
            ],
            "id long, name string, score double",
        )

    def test_put_delete_insert_passthrough(self, spark):
        # change payload covers only `score`; `name` must pass through
        changes = spark.createDataFrame(
            [
                (2, 1, "P", 21.0),   # update existing
                (3, 1, "D", None),   # delete existing
                (9, 1, "P", 90.0),   # insert brand-new key
            ],
            "id long, seq long, op string, score double",
        )
        out = cdc.merge_changelog(
            self._snapshot(spark), changes, key_cols=("id",)
        )
        rows = {r["id"]: r for r in out.collect()}
        assert set(rows) == {1, 2, 4, 9}
        assert rows[1]["score"] == 10.0 and rows[1]["name"] == "alice"
        assert rows[2]["score"] == 21.0 and rows[2]["name"] == "bob"
        assert rows[9]["score"] == 90.0 and rows[9]["name"] is None

    def test_latest_seq_wins_and_resurrection(self, spark):
        changes = spark.createDataFrame(
            [
                (1, 1, "P", 11.0),
                (1, 2, "P", 12.0),   # latest put wins
                (2, 1, "D", None),
                (2, 2, "P", 22.0),   # put after tombstone resurrects
                (4, 1, "P", 44.0),
                (4, 2, "D", None),   # tombstone after put deletes
            ],
            "id long, seq long, op string, score double",
        )
        out = cdc.merge_changelog(
            self._snapshot(spark), changes, key_cols=("id",)
        )
        rows = {r["id"]: r["score"] for r in out.collect()}
        assert rows == {1: 12.0, 2: 22.0, 3: 30.0}

    def test_put_may_null_a_field(self, spark):
        # the op discriminator (not coalesce) picks the side: an explicit
        # NULL in a winning put must null the snapshot value
        changes = spark.createDataFrame(
            [(1, 1, "P", None)], "id long, seq long, op string, score double"
        )
        out = cdc.merge_changelog(
            self._snapshot(spark), changes, key_cols=("id",)
        )
        row = {r["id"]: r for r in out.collect()}[1]
        assert row["score"] is None and row["name"] == "alice"

    def test_delete_of_absent_key_is_noop(self, spark):
        changes = spark.createDataFrame(
            [(77, 1, "D", None)], "id long, seq long, op string, score double"
        )
        out = cdc.merge_changelog(
            self._snapshot(spark), changes, key_cols=("id",)
        )
        assert sorted(r["id"] for r in out.collect()) == [1, 2, 3, 4]

    def test_seq_tie_is_deterministic(self, spark):
        # same seq twice (upstream bug): struct ordering breaks the tie
        # on (op, payload) — 'P' > 'D', then higher score — identically
        # on every run/partitioning
        changes = spark.createDataFrame(
            [(1, 1, "P", 5.0), (1, 1, "P", 7.0), (1, 1, "D", None)],
            "id long, seq long, op string, score double",
        )
        expected = None
        for _ in range(3):
            out = cdc.merge_changelog(
                self._snapshot(spark).repartition(3),
                changes.repartition(2),
                key_cols=("id",),
            )
            got = sorted((r["id"], r["score"]) for r in out.collect())
            if expected is None:
                expected = got
            assert got == expected
        assert (1, 7.0) in expected  # 'P' beats 'D', 7.0 beats 5.0


class TestZorder:
    def _z_py(self, a: int, b: int, bits: int = 16) -> int:
        z = 0
        for j in range(bits):
            z |= ((a >> j) & 1) << (2 * j)
            z |= ((b >> j) & 1) << (2 * j + 1)
        return z

    def test_key_matches_python_reference(self, spark):
        vals = [(0, 0), (1, 0), (0, 1), (65535, 65535), (1234, 4321), (7, 56)]
        df = spark.createDataFrame(vals, "a long, b long")
        got = df.select(
            "a", "b", layout.zorder_key([F.col("a"), F.col("b")]).alias("z")
        ).collect()
        for r in got:
            assert r["z"] == self._z_py(r["a"], r["b"]), (r["a"], r["b"])

    def test_sql_oracle_matches_spark(self, spark):
        import duckdb

        vals = [(i * 37 % 65536, i * 101 % 65536) for i in range(200)]
        df = spark.createDataFrame(vals, "a long, b long")
        got = {
            (r["a"], r["b"]): r["z"]
            for r in df.select(
                "a", "b", layout.zorder_key([F.col("a"), F.col("b")]).alias("z")
            ).collect()
        }
        con = duckdb.connect()
        zsql = layout.zorder_key_sql()  # over (l_partkey, l_suppkey)
        for (a, b), z in got.items():
            (zd,) = con.execute(
                f"SELECT {zsql} FROM "
                f"(SELECT {a}::BIGINT l_partkey, {b}::BIGINT l_suppkey)"
            ).fetchone()
            assert zd == z

    def test_overflow_guard(self):
        with pytest.raises(ValueError):
            layout.zorder_key([F.lit(1)] * 4)

    def test_layout_write_tightens_minmax_spans(self, spark, tmp_path):
        # the point of the layout: per-file min-max spans shrink in BOTH
        # dimensions vs an unclustered write, so parquet stats pruning
        # can skip files for predicates on either column
        n, files = 4096, 8
        df = spark.range(n).select(
            (F.col("id") * 2654435761 % 1024).alias("x"),
            (F.col("id") * 40503 % 1024).alias("y"),
        )
        plain_dir, z_dir = str(tmp_path / "plain"), str(tmp_path / "zord")
        df.repartition(files).write.parquet(plain_dir)
        z = layout.zorder_key([F.col("x"), F.col("y")])
        df.repartitionByRange(files, z).sortWithinPartitions(z).write.parquet(
            z_dir
        )

        def _stat(md, i, col):
            rg = md.row_group(i)
            for c in range(rg.num_columns):
                cc = rg.column(c)
                if cc.path_in_schema == col:
                    return cc.statistics.min, cc.statistics.max
            raise KeyError(col)

        def spans(d: str, col: str) -> int:
            total = 0
            for f in glob.glob(os.path.join(d, "*.parquet")):
                md = pq.ParquetFile(f).metadata
                los, his = [], []
                for i in range(md.num_row_groups):
                    lo, hi = _stat(md, i, col)
                    los.append(lo)
                    his.append(hi)
                total += max(his) - min(los)
            return total

        for col in ("x", "y"):
            plain, zord = spans(plain_dir, col), spans(z_dir, col)
            # random layout: every file spans ~the full domain. With f
            # files over 2 interleaved dims each file covers ~1/sqrt(f)
            # of EACH domain (f=8 -> ~0.35x + boundary slack), so a 25%
            # summed-span cut per dim is the conservative bound — the
            # point is both dims tighten at once, which no single-column
            # sort achieves
            assert zord < plain * 0.75, (col, plain, zord)


class TestMergeChangelogProperty:
    def test_many_random_logs_match_python_fold(self, spark):
        """50 randomized (snapshot, log) cases folded in ONE Spark merge
        (log_id joins the key) must each match the obvious Python dict
        fold. Seeded, unique seq per (log, key) — the documented
        determinism contract."""
        import random

        rng = random.Random(42)
        snap_rows, change_rows = [], []
        expected = {}
        for log_id in range(50):
            keys = list(range(rng.randint(1, 8)))
            snap = {k: round(rng.uniform(0, 100), 3)
                    for k in keys if rng.random() < 0.7}
            n_changes = rng.randint(0, 12)
            log = []
            seqs = rng.sample(range(100), n_changes)
            for i in range(n_changes):
                k = rng.choice(keys + [99])  # 99 = possibly-new key
                op = "D" if rng.random() < 0.3 else "P"
                val = round(rng.uniform(0, 100), 3) if op == "P" else None
                log.append((k, seqs[i], op, val))
            # python fold
            state = dict(snap)
            winners = {}
            for k, seq, op, val in log:
                if k not in winners or seq > winners[k][0]:
                    winners[k] = (seq, op, val)
            for k, (seq, op, val) in winners.items():
                if op == "D":
                    state.pop(k, None)
                else:
                    state[k] = val
            expected[log_id] = state
            snap_rows += [(log_id, k, v) for k, v in snap.items()]
            change_rows += [(log_id, k, s, o, v) for k, s, o, v in log]

        from uc_historic_data_importer_spark.operators import cdc

        snap_df = spark.createDataFrame(
            snap_rows, "log_id long, id long, score double"
        )
        chg_df = spark.createDataFrame(
            change_rows, "log_id long, id long, seq long, op string, score double"
        )
        out = cdc.merge_changelog(
            snap_df, chg_df, key_cols=("log_id", "id")
        ).collect()
        got = {}
        for r in out:
            got.setdefault(r["log_id"], {})[r["id"]] = r["score"]
        for log_id, want in expected.items():
            assert got.get(log_id, {}) == want, log_id


class TestZorder3Col:
    def test_three_column_interleave_parity(self, spark):
        from uc_historic_data_importer_spark.operators import layout

        vals = [(i * 37 % 1024, i * 101 % 1024, i * 211 % 1024)
                for i in range(100)]
        df = spark.createDataFrame(vals, "a long, b long, c long")
        got = {
            (r["a"], r["b"], r["c"]): r["z"]
            for r in df.select(
                "a", "b", "c",
                layout.zorder_key([F.col("a"), F.col("b"), F.col("c")]).alias("z"),
            ).collect()
        }
        # reference: bit j of column i lands at position 3j + i
        for vs, z in got.items():
            want = sum(
                ((v >> j) & 1) << (3 * j + i)
                for j in range(16)
                for i, v in enumerate(vs)
            )
            assert z == want
        # interleave is a bijection on the masked domain
        assert len(set(got.values())) == len(got)
