"""Driver-contract guard: entry() smoke + a fast oracle-comparison subset
(the full sweep lives in tools/check_oracle.py)."""

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"

SUBSET = [
    "latest_per_key",
    "time_range_filter",
    "normalize_pipeline",
    "pricing_summary",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "salted_agg_counts",
    "event_sessionization",
    "ann_ivf_build",
]

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for tbl in TABLES:
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM read_parquet('{SF_DIR}/{tbl}.parquet')"
        )
    return con


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"collection", "n_current_keys", "max_version"}


def test_every_query_has_callable_and_most_have_oracles():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert len(qs) >= 40
    missing = set(oracles) - set(qs)
    assert not missing  # no orphan oracle
    rows_only = set(qs) - set(oracles)
    assert rows_only == set()  # every query is value-hash oracle-checked


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle_at_sf0001(spark, duck, name):
    import math

    qs = entry_mod.queries()
    sdf = qs[name](spark, SF_DIR)
    srows = sdf.collect()
    cur = duck.execute(entry_mod.oracle_sql()[name])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    assert len(srows) == len(orows), name
    assert sorted(sdf.columns) == sorted(ocols), name

    def norm(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = []
        for r in rows:
            cells = []
            for i in order:
                v = r[i]
                if isinstance(v, float):
                    v = "NaN" if math.isnan(v) else repr(round(v, 9))
                cells.append(str(v))
            out.append("|".join(cells))
        return sorted(out)

    assert norm([tuple(r) for r in srows], sdf.columns) == norm(orows, ocols), name


def test_table_rewritten_in_place_is_read_with_its_new_schema(spark, tmp_path):
    """catalog.t() memoizes each table's inferred schema. A table
    rewritten under the same sf_dir with another column must be read
    with the new schema, not through the memoized old one (which would
    drop the new column from every scan)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from uc_historic_data_importer_spark.plans.catalog import t

    path = str(tmp_path / "events.parquet")
    pq.write_table(pa.table({"event_id": [1, 2]}), path)
    assert t(spark, str(tmp_path), "events").columns == ["event_id"]
    pq.write_table(pa.table({"event_id": [1, 2], "user_id": [7, 8]}), path)
    df = t(spark, str(tmp_path), "events")
    assert df.columns == ["event_id", "user_id"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 7), (2, 8)]


def test_rewritten_table_releases_its_checkpointed_value(spark, tmp_path):
    """A localCheckpointed frame memoized for a table (the IVF2 coarse
    assignments are one) is released when a rewrite of the table
    replaces it: a session that rewrites a table keeps one checkpoint."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from uc_historic_data_importer_spark.plans.catalog import file_memo, t

    sf_dir, path = str(tmp_path), str(tmp_path / "events.parquet")
    cached = spark.sparkContext._jsc.getPersistentRDDs
    before = cached().size()
    for n in (2, 3):
        pq.write_table(pa.table({"event_id": list(range(n))}), path)
        frame = file_memo(
            sf_dir, "events", ("ids",),
            lambda: t(spark, sf_dir, "events").localCheckpoint(eager=True),
        )
        assert frame.count() == n
    assert cached().size() == before + 1


def test_embeddings_rewritten_in_place_refresh_size_and_fit(spark, tmp_path):
    """The embeddings memos (the footer row count that picks a similarity
    operator's dispatch branch, and the quantizer fit) are keyed on the
    table file like catalog.t()'s schema memo: an embeddings table
    rewritten under the same sf_dir with another row count must not be
    read through the old count or the old fit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from uc_historic_data_importer_spark.plans import catalog
    from uc_historic_data_importer_spark.plans import catalog_ext as ce

    path = str(tmp_path / "embeddings.parquet")

    def write(vecs):
        pq.write_table(
            pa.table({
                "vec_id": pa.array(range(len(vecs)), pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float64())),
            }),
            path,
        )
        return ce._embeddings_n_rows(str(tmp_path)), ce._ivf_fit(
            spark, str(tmp_path)
        )[1]

    n1, fit1 = write([[1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [1.0, -1.0]])
    n2, fit2 = write([[0.0, 1.0], [1.0, 0.0], [-1.0, 1.0], [1.0, 1.0],
                      [2.0, 1.0], [1.0, 2.0]])
    assert (n1, n2) == (4, 6)
    assert fit2 != fit1
    assert fit2[:2] == [[0.0, 1.0], [1.0, 0.0]]
    # the rewrite replaced the table's entries instead of adding to them
    held = [slot[1] for slot in catalog._FILE_MEMO if slot[0] == path]
    assert sorted(held) == ["kmeans_fit", "n_rows", "schema"]
