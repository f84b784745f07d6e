"""Query catalog — the driver-checked operator surface (SURVEY.md §2).

Every entry couples an idiomatic-Spark implementation with a DuckDB oracle
SQL string over the same parquet tables (pre-registered views: region
nation customer supplier part orders lineitem events documents
embeddings). Column names/types are aligned on both sides because the
driver hash-compares values after sorting columns by name.

Conventions:
- DOUBLE aggregates are rounded (2-6 dp) on BOTH sides: different
  summation orders legally produce last-ulp differences.
- BIGINT sums in DuckDB are cast back to BIGINT (DuckDB widens to
  HUGEINT).
- ties in top-k are broken by explicit deterministic columns.

The `events` table plays the dump-record stream analogue (FIXTURES.md §6):
event_id ~ record id, ts ~ _lastModifiedDateTime, event_type ~ collection/
type discriminator, props ~ dynamic JSON payload.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uc_historic_data_importer_spark.functions.dates import parse_hdi_timestamp_millis
from uc_historic_data_importer_spark.functions.keys import row_key_hex
from uc_historic_data_importer_spark.operators.filters import filter_status_col
from uc_historic_data_importer_spark.operators.naming import table_name
from uc_historic_data_importer_spark.operators.sessions import session_stats

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None  # DuckDB SQL; None -> driver does rows-only check
    doc: str = ""


# Schema memo (r15 opt round): spark.read.parquet() infers the schema
# from file footers on EVERY call — measured ~140 ms of driver/py4j
# time per t() at steady state, paid inside every timed query build.
# A real deployment reads these tables through a catalog (Hive/Iceberg
# metastore) whose stored schema makes per-query inference a lookup;
# this memo is that lookup. It caches ONLY the StructType (immutable
# metadata, no data, no plan), so every call still constructs a fresh
# scan over the parquet files. The schema is a physical fact of the files
# (current snapshots carry TIMESTAMP(MICROS), inferred identically under
# any session conf), so it is memoized per table file (file_memo), as
# are catalog_ext's footer row count and build-time fits: a table
# rewritten in place under the same sf_dir is inferred again instead of
# being read through its old schema.
_FILE_MEMO: dict[tuple, tuple] = {}


def file_memo(sf_dir: str, name: str, entry: tuple, build):
    """``build()``'s value for ``entry`` over the test table ``name``,
    memoized per table file. A table rewritten in place under the same
    sf_dir misses the stamp instead of reading stale, and its new value
    REPLACES the entry, so the memo holds one entry per (path, entry)
    whatever the number of rewrites. A replaced localCheckpointed frame
    is released: DataFrame.unpersist does not reach a checkpoint's
    blocks, the RDD under its LogicalRDD does."""
    path = f"{sf_dir}/{name}.parquet"
    st = os.stat(path)
    stamp, slot = (st.st_mtime_ns, st.st_size), (path, *entry)
    held = _FILE_MEMO.get(slot)
    if held is not None and held[0] == stamp:
        return held[1]
    if held is not None and isinstance(held[1], DataFrame):
        plan = held[1]._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    value = build()
    _FILE_MEMO[slot] = (stamp, value)
    return value


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan of the test table ``name`` under ``sf_dir``. Its naive
    TIMESTAMP(MICROS) columns read as TIMESTAMP under
    session.prepare_session's confs (inferTimestampNTZ off, UTC); query
    functions themselves are side-effect-free — sessions built by
    get_spark are prepared already, and the driver-contract wrapper in
    __spark_entry__ prepares external sessions once."""
    path = f"{sf_dir}/{name}.parquet"
    schema = file_memo(
        sf_dir, name, ("schema",), lambda: spark.read.parquet(path).schema
    )
    return spark.read.schema(schema).parquet(path)


QUERIES: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: QueryFn):
        QUERIES[name] = QuerySpec(fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Reference-semantics operators on the events stream analogue
# ---------------------------------------------------------------------------

@register(
    "latest_per_key",
    """
    SELECT user_id, event_id, epoch_ms(ts) AS version, event_type
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc="SURVEY §1.4/§2.6: latest-version-per-key window (HBase versioned "
    "cells, data_transformations.md:82 'latest version of every record').",
)
def latest_per_key_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.unix_millis("ts").alias("version"),
            "event_type",
        )
    )


@register(
    "dedup_key_version",
    "SELECT DISTINCT user_id, event_type FROM events",
    doc="SURVEY §2.6 dedup/distinct — the (key, version) idempotence set "
    "(HbaseClient.kt:43-52 existsAll semantics).",
)
def dedup_key_version_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "events").select("user_id", "event_type").distinct()


@register(
    "anti_join_existing",
    """
    SELECT e.event_id, e.user_id, e.event_type
    FROM events e
    WHERE NOT EXISTS (
      SELECT 1 FROM events x
      WHERE x.event_id % 10 < 3 AND x.event_id = e.event_id
    )
    """,
    doc="F4 exists-filter as left_anti join (FilterServiceImpl.kt:15-21, "
    "HbaseClient.kt:43-52): records already in the sink snapshot dropped.",
)
def anti_join_existing_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    existing = ev.filter(F.col("event_id") % 10 < 3).select("event_id")
    return ev.join(existing, "event_id", "left_anti").select(
        "event_id", "user_id", "event_type"
    )


_LO = parse_hdi_timestamp_millis("2024-01-10T00:00:00.000Z")
_HI = parse_hdi_timestamp_millis("2024-01-25T00:00:00.000Z")


@register(
    "time_range_filter",
    f"""
    SELECT filter_status, count(*) AS n FROM (
      SELECT CASE
        WHEN epoch_ms(ts) < {_LO} AND epoch_ms(ts) != 315532800000
          THEN 'FilterTooEarly'
        WHEN epoch_ms(ts) > {_HI} THEN 'FilterTooLate'
        ELSE 'DoNotFilter' END AS filter_status
      FROM events
    ) GROUP BY filter_status
    """,
    doc="F3 time-range filter with the 1980-epoch exemption "
    "(FilterServiceImpl.kt:24-37,84) — exact engine predicate "
    "(operators/filters.filter_status_col).",
)
def time_range_filter_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").withColumn("version", F.unix_millis("ts"))
    return (
        ev.withColumn("filter_status", filter_status_col(F.col("version"), _LO, _HI))
        .groupBy("filter_status")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "filter_status_counts",
    f"""
    SELECT event_type,
           count(*) AS records_total,
           CAST(count(*) FILTER (WHERE epoch_ms(ts) >= {_LO}
                AND epoch_ms(ts) <= {_HI}) AS BIGINT) AS put_count,
           CAST(count(*) FILTER (WHERE epoch_ms(ts) < {_LO}) AS BIGINT)
             AS filtered_too_early,
           CAST(count(*) FILTER (WHERE epoch_ms(ts) > {_HI}) AS BIGINT)
             AS filtered_too_late
    FROM events GROUP BY event_type
    """,
    doc="F5 per-file filter-status accounting (HBaseWriter.kt:309-314) as "
    "one groupBy/count_if aggregation.",
)
def filter_status_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").withColumn("version", F.unix_millis("ts"))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("records_total"),
        F.count_if((F.col("version") >= _LO) & (F.col("version") <= _HI)).alias(
            "put_count"
        ),
        F.count_if(F.col("version") < _LO).alias("filtered_too_early"),
        F.count_if(F.col("version") > _HI).alias("filtered_too_late"),
    )


@register(
    "version_selection",
    """
    SELECT event_id,
           CASE WHEN event_type = 'error' THEN 'MONGO_DELETE'
                ELSE 'MONGO_IMPORT' END AS inner_type,
           CASE WHEN event_type = 'error' THEN
             coalesce(
               CASE WHEN value > 150 THEN epoch_ms(ts) END,
               CASE WHEN value > 50 THEN epoch_ms(ts) + 1000 END,
               epoch_ms(ts) + 2000)
           ELSE epoch_ms(ts) END AS version
    FROM events
    """,
    doc="K3 delete-aware version selection chain (MessageUtils.kt:43-61): "
    "MONGO_DELETE -> removed ?: archived ?: lastModified.",
)
def version_selection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    millis = F.unix_millis("ts")
    inner = F.when(F.col("event_type") == "error", "MONGO_DELETE").otherwise(
        "MONGO_IMPORT"
    )
    removed = F.when(F.col("value") > 150, millis)
    archived = F.when(F.col("value") > 50, millis + 1000)
    version = F.when(
        inner == "MONGO_DELETE", F.coalesce(removed, archived, millis + 2000)
    ).otherwise(millis)
    return ev.select(
        "event_id", inner.alias("inner_type"), version.alias("version")
    )


@register(
    "kafka_date_format",
    """
    SELECT event_id,
           strftime(ts, '%Y-%m-%dT%H:%M:%S.%g+0000') AS kafka_ts
    FROM events WHERE event_id % 100 = 0
    """,
    doc="T6 date re-formatting to yyyy-MM-dd'T'HH:mm:ss.SSS+0000 "
    "(HBaseWriter.kt:523-541) as a Catalyst date_format.",
)
def kafka_date_format_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") % 100 == 0)
    return ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'+0000'").alias("kafka_ts"),
    )


@register(
    "json_extraction",
    """
    SELECT CAST(props->>'$.k' AS BIGINT) AS k, count(*) AS n
    FROM events GROUP BY 1
    """,
    doc="T10/json fns (MessageUtils.kt:63-72 lookup): JSON-path extraction "
    "from the dynamic payload column.",
)
def json_extraction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.select(
            F.get_json_object("props", "$.k").cast("long").alias("k")
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "table_naming",
    """
    SELECT doc_id,
           replace('db-' || source || ':' ||
             regexp_replace('docs-' || lang ||
               CASE WHEN doc_id % 3 = 0 THEN '-two'
                    WHEN doc_id % 3 = 1 THEN '-archived'
                    ELSE '' END,
               '-(archived|eight|eighteen|eleven|fifteen|five|four|fourteen|nine|nineteen|one|seven|seventeen|six|sixteen|ten|thirteen|thirty|thirtyone|thirtytwo|three|twelve|twenty|twentyeight|twentyfive|twentyfour|twentynine|twentyone|twentyseven|twentysix|twentythree|twentytwo|two)$',
               ''),
             '-', '_') AS table_name
    FROM documents
    """,
    doc="W4 table-name derivation + split-collection coalescing "
    "(HBaseWriter.kt:103-117,601) over synthetic db/collection strings.",
)
def table_naming_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    coll = F.concat(
        F.lit("docs-"),
        F.col("lang"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("-two"))
        .when(F.col("doc_id") % 3 == 1, F.lit("-archived"))
        .otherwise(F.lit("")),
    )
    db = F.concat(F.lit("db-"), F.col("source"))
    return docs.select("doc_id", table_name(db, coll).alias("table_name"))


@register(
    "manifest_projection",
    """
    SELECT '{"id":"' || event_id || '"}' AS id,
           epoch_ms(ts) AS timestamp,
           'events-db' AS db,
           event_type AS collection,
           'IMPORT' AS source,
           'HDI' AS outer_type,
           CAST(event_id AS VARCHAR) AS original_id,
           CASE WHEN event_type = 'error' THEN 'MONGO_DELETE'
                ELSE 'MONGO_IMPORT' END AS inner_type
    FROM events
    """,
    doc="W5 manifest-row projection (ManifestRecord, DomainClasses.kt:29-36; "
    "csv layout StreamingManifestWriter.kt:58-59) with canonical-id wrap.",
)
def manifest_projection_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit('{"id":"'), F.col("event_id"), F.lit('"}')).alias("id"),
        F.unix_millis("ts").alias("timestamp"),
        F.lit("events-db").alias("db"),
        F.col("event_type").alias("collection"),
        F.lit("IMPORT").alias("source"),
        F.lit("HDI").alias("outer_type"),
        F.col("event_id").cast("string").alias("original_id"),
        F.when(F.col("event_type") == "error", "MONGO_DELETE")
        .otherwise("MONGO_IMPORT")
        .alias("inner_type"),
    )


# DuckDB has no crc32 builtin, but CRC32 (IEEE, reflected, poly 0xEDB88320)
# folds over utf8 bytes with a 256-entry lookup table — expressible with
# list_reduce + a literal table, so the row-key query gets a full value-hash
# oracle instead of the weaker rows-only check.
def _crc32_table() -> list[int]:
    tab = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ 0xEDB88320 if c & 1 else c >> 1
        tab.append(c)
    return tab


_CRC32_TAB_SQL = "[" + ",".join(map(str, _crc32_table())) + "]"

_CRC32_SQL = (
    "xor(list_reduce(list_prepend(4294967295::BIGINT, "
    "list_transform(range(1, octet_length(encode({s})) + 1), "
    "i -> ('0x' || substr(hex(encode({s})), 2*i - 1, 2))::BIGINT)), "
    f"(crc, b) -> xor(crc >> 8, ({_CRC32_TAB_SQL})[(xor(crc, b) & 255) + 1])), "
    "4294967295::BIGINT)"
)


@register(
    "rowkey_crc32",
    f"""
    WITH e AS (
      SELECT event_id, '{{"id":"' || event_id || '"}}' AS canonical FROM events
    )
    SELECT event_id,
           lower(lpad(hex({_CRC32_SQL.format(s="canonical")}), 8, '0')
                 || hex(encode(canonical))) AS key_hex
    FROM e
    """,
    doc="K2 row key: 4-byte big-endian CRC32(canonical id) || canonical id "
    "(MessageUtils.kt:120-149), Catalyst-native crc32/hex/unhex; the DuckDB "
    "oracle reproduces CRC32 via a list_reduce fold over a literal table.",
)
def rowkey_crc32_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    canonical = F.concat(F.lit('{"id":"'), F.col("event_id"), F.lit('"}'))
    return ev.select(
        "event_id", row_key_hex(canonical).alias("key_hex")
    )


@register(
    "normalize_pipeline",
    """
    WITH e AS (
      SELECT event_id, user_id, event_type,
             epoch_ms(ts) AS ms,
             strftime(ts, '%Y-%m-%dT%H:%M:%S.%g') AS base_ts
      FROM events WHERE event_id % 20 < 4
    )
    SELECT event_id,
           CASE
             WHEN event_type = 'error' THEN 'MONGO_DELETE'
             ELSE 'MONGO_IMPORT' END AS inner_type,
           event_type = 'error' AS is_removed,
           CASE event_id % 4
             WHEN 0 THEN '{"id":"oid-' || user_id || '"}'
             WHEN 1 THEN '{"n":"' || event_id || '","userId":"u-' || user_id || '"}'
             WHEN 2 THEN '{"id":"plain-' || user_id || '"}'
             ELSE '{"id":"late-' || user_id || '"}' END AS canonical_id,
           CASE event_id % 4
             WHEN 0 THEN 'FlattenedMongoId'
             WHEN 1 THEN 'UnmodifiedObjectId'
             ELSE 'UnmodifiedStringId' END AS id_modification,
           CASE
             WHEN event_type = 'error' THEN ms + 86400000
             ELSE ms END AS version,
           CASE event_id % 4
             WHEN 1 THEN '_lastModifiedDateTimeStripped'
             WHEN 2 THEN '_lastModifiedDateTime'
             WHEN 3 THEN 'createdDateTime'
             ELSE '_lastModifiedDateTimeStripped' END AS timestamp_source,
           CASE event_id % 4
             WHEN 2 THEN base_ts || 'Z'
             ELSE base_ts || '+0000' END AS last_modified
    FROM e
    """,
    doc="CORE-ENGINE PARITY: dump-record lines (4 id/timestamp shapes + "
    "removed-wrapper promotion for 'error' events) run through the REAL "
    "normalization UDF (T1/T3/T4/T5, K1, K3 — HBaseWriter.kt:141-213); "
    "the oracle reproduces every output column independently in SQL.",
)
def normalize_pipeline_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uc_historic_data_importer_spark.operators.frames import ensure_parallel
    from uc_historic_data_importer_spark.operators.keying import flatten_normalized
    from uc_historic_data_importer_spark.operators.transforms import (
        normalize_records,
    )

    ev = t(spark, sf_dir, "events").filter(F.col("event_id") % 20 < 4)
    ts_z = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    # four id/timestamp shapes, cycling on event_id % 4:
    #  0: {"$oid": ...} id + {"$date": ...} lastModified  (FlattenedMongoId)
    #  1: compound object id + $date lastModified          (UnmodifiedObjectId)
    #  2: plain string id + plain string lastModified      (used as-is)
    #  3: plain string id + NO lastModified, $date created (fallback chain)
    body = (
        F.when(
            F.col("event_id") % 4 == 0,
            F.concat(
                F.lit('{"_id":{"$oid":"oid-'), F.col("user_id"),
                F.lit('"},"_lastModifiedDateTime":{"$date":"'), ts_z, F.lit('"}}'),
            ),
        )
        .when(
            F.col("event_id") % 4 == 1,
            F.concat(
                F.lit('{"_id":{"userId":"u-'), F.col("user_id"),
                F.lit('","n":"'), F.col("event_id"),
                F.lit('"},"_lastModifiedDateTime":{"$date":"'), ts_z, F.lit('"}}'),
            ),
        )
        .when(
            F.col("event_id") % 4 == 2,
            F.concat(
                F.lit('{"_id":"plain-'), F.col("user_id"),
                F.lit('","_lastModifiedDateTime":"'), ts_z, F.lit('"}'),
            ),
        )
        .otherwise(
            F.concat(
                F.lit('{"_id":"late-'), F.col("user_id"),
                F.lit('","createdDateTime":{"$date":"'), ts_z, F.lit('"}}'),
            )
        )
    )
    removed_date = F.date_format(
        F.col("ts") + F.expr("INTERVAL 1 DAY"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
    )
    # 'error' events arrive wrapped in a _removed envelope (T1 promotion)
    raw = F.when(
        F.col("event_type") == "error",
        F.concat(
            F.lit('{"_removed":'), body,
            F.lit(',"_removedDateTime":{"$date":"'), removed_date, F.lit('"}}'),
        ),
    ).otherwise(body)
    lines = ev.select(
        "event_id",
        F.lit("events-db").alias("db"),
        F.col("event_type").alias("collection"),
        F.lit(1).alias("file_number"),
        F.col("event_id").cast("int").alias("line_no"),
        raw.alias("raw_json"),
    )
    # UDF parallelism follows the session's core count: a fixed task
    # count caps the CPU-bound Arrow normalize stage on a large session
    # and over-splits a small one. A no-op at real scale, where the
    # input has many splits.
    norm = flatten_normalized(normalize_records(ensure_parallel(lines)))
    return norm.filter(F.col("valid")).select(
        "event_id",
        "inner_type",
        "is_removed",
        "canonical_id",
        "id_modification",
        "version",
        "timestamp_source",
        "last_modified",
    )


# ---------------------------------------------------------------------------
# Classical operator surface (SURVEY §2.6) over the TPC-H-ish tables
# ---------------------------------------------------------------------------

@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-11-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="group-by aggregate surface (SURVEY §2.6): TPC-H Q1-style pricing "
    "summary; partial aggregation map-side, one shuffle.",
)
def pricing_summary_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # l_shipdate is a native parquet timestamp (only events.ts is nanos),
    # so this predicate reaches the scan as a PushedFilter
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2024-11-01 00:00:00").cast("timestamp")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("sum_disc_price"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "top_orders_by_revenue",
    """
    SELECT o_orderkey, o_orderdate,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY o_orderkey, o_orderdate
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
    doc="multi-join + agg + deterministic top-k (SURVEY §2.6 inner "
    "equi-join): Q3-style shipping priority.",
)
def top_orders_by_revenue_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "revenue_by_nation",
    """
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM region JOIN nation ON n_regionkey = r_regionkey
                JOIN customer ON c_nationkey = n_nationkey
                JOIN orders ON o_custkey = c_custkey
                JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY n_name
    """,
    doc="Q5-style snowflake join; dims are broadcast (hinted) so the only "
    "shuffle is the orders-lineitem fact join + final agg.",
)
def revenue_by_nation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = F.broadcast(t(spark, sf_dir, "region"))
    nation = F.broadcast(t(spark, sf_dir, "nation"))
    customer = F.broadcast(t(spark, sf_dir, "customer"))
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    return (
        region.join(nation, F.col("n_regionkey") == F.col("r_regionkey"))
        .join(customer, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@register(
    "union_priorities",
    """
    SELECT o_orderpriority, count(*) AS n FROM (
      SELECT o_orderpriority FROM orders WHERE o_orderpriority = '1-URGENT'
      UNION ALL
      SELECT o_orderpriority FROM orders WHERE o_orderpriority = '5-LOW'
    ) GROUP BY o_orderpriority
    """,
    doc="union surface (S3Reader.kt:67-72 multi-suffix listing concat).",
)
def union_priorities_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderpriority")
    b = orders.filter(F.col("o_orderpriority") == "5-LOW").select("o_orderpriority")
    return a.unionByName(b).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "broadcast_dim_join",
    """
    SELECT r_name, count(*) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="broadcast join surface (HttpKeyService.kt:39-41 key-map cache -> "
    "broadcast map, SURVEY §2.6).",
)
def broadcast_dim_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = t(spark, sf_dir, "nation")
    region = F.broadcast(t(spark, sf_dir, "region"))
    return (
        nation.join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


@register(
    "tumbling_window_agg",
    """
    SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
           count(*) AS n, round(sum(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
    doc="streaming-style tumbling window as a batch operator (engine "
    "extension; Structured Streaming twin in streaming/).",
)
def tumbling_window_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


@register(
    "asof_join_last_event",
    """
    SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
           last_login_ms
    FROM (
      SELECT event_id, user_id, ts, event_type,
             max(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_login_ms
      FROM events
    ) WHERE event_type = 'purchase'
    """,
    doc="as-of join (engine extension, SURVEY §2.6 absent-in-reference "
    "class): each purchase joined to the user's most recent prior signup "
    "via a running window — no shuffle beyond the user_id partition.",
)
def asof_join_last_event_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_login = F.max(
        F.when(F.col("event_type") == "signup", F.unix_millis("ts"))
    ).over(w)
    return (
        ev.withColumn("last_login_ms", last_login)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.unix_millis("ts").alias("ts_ms"),
            "last_login_ms",
        )
    )


@register(
    "event_sessionization",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, value FROM events
    ),
    flags AS (
      SELECT *, CASE WHEN lag(ts_ms) OVER w IS NULL
                       OR ts_ms - lag(ts_ms) OVER w > 1800000
                THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
    ),
    sess AS (
      SELECT *, CAST(sum(new_s) OVER (
        PARTITION BY user_id ORDER BY ts_ms, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT)
        AS session_idx
      FROM flags
    )
    SELECT user_id, session_idx,
           min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms,
           count(*) AS n_events, round(sum(value), 6) AS total_value
    FROM sess GROUP BY user_id, session_idx
    """,
    doc="gap-based sessionization (engine extension, 30-min gap): lag "
    "flag + running sum share one (user, time) sort — a single shuffle "
    "— then a per-session rollup.",
)
def event_sessionization_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return session_stats(t(spark, sf_dir, "events"))


@register(
    "range_join_error_after_click",
    """
    SELECT c.event_id AS click_id, e.event_id AS error_id,
           epoch_ms(e.ts) - epoch_ms(c.ts) AS lag_ms
    FROM events c JOIN events e
      ON c.event_type = 'click' AND e.event_type = 'error'
     AND epoch_ms(e.ts) >= epoch_ms(c.ts) + 1
     AND epoch_ms(e.ts) <= epoch_ms(c.ts) + 60000
    """,
    doc="range (band) join (engine extension): errors within 60s after a "
    "click. operators/range_join.py bins timestamps into window-width "
    "buckets and equi-joins on the bucket, replacing Spark's default "
    "broadcast-nested-loop (O(L*R), undistributable) with one skew-free "
    "shuffle per side + an exact filter.",
)
def range_join_error_after_click_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from uc_historic_data_importer_spark.operators.range_join import interval_join

    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "ts"
    )
    joined = interval_join(clicks, errors)
    return joined.select(
        "click_id",
        "error_id",
        (F.unix_millis("ts_r") - F.unix_millis("ts")).alias("lag_ms"),
    )
