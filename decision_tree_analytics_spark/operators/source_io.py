"""Source-format queries — CSV and JSON ingestion under the driver's
oracle gate.

The reference's pipeline source is file-based CSV (SURVEY §2.1 O1 —
reference `src/main/java/co/cask/hydrator/plugin/SparkMLTrainer.java`
consumes the host platform's file source); these queries prove the
same data arrives bit-identical through this engine's CSV and JSON
readers (`sources/formats.py`), not just through parquet.  Each query
round-trips a derived slice (written once per testdata generation,
keyed by the source parquet's identity) and aggregates the read-back
rows; the DuckDB oracle computes the same aggregate straight from the
parquet table, so any reader/writer drift (type inference, double
rendering, null handling) breaks the hash.

Round-trip safety: only BIGINT/DOUBLE/VARCHAR columns are exchanged —
Java's shortest-round-trip double rendering re-parses exactly in
Spark's CSV/JSON readers, and timestamps are excluded per CLAUDE.md
rule 2.  Scale: the write is a one-time fixture; the read is a plain
distributed file scan with an explicit schema (no inference pass over
100 TB), and each aggregate is one mergeable-partial shuffle.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from decision_tree_analytics_spark.operators._rules import round6
from decision_tree_analytics_spark.sources.formats import read_csv, read_json, read_orc
from decision_tree_analytics_spark.sources.snapshots import CHECKOUT_WAREHOUSE
from decision_tree_analytics_spark.sources.tables import (
    load_table,
    parquet_footer_tag,
)

_IO_ROOT_ENV = "SPARK_GRAFT_IO_CACHE_DIR"
_IO_ROOT_DEFAULT = os.path.join(CHECKOUT_WAREHOUSE, "io_cache")


def _fixture_dir(sf_dir: str, table: str, fmt: str) -> str:
    # Content-derived identity (parquet footer md5) — the same
    # object-storage-safe key component_labels_snapshot uses; a
    # regenerated corpus always misses, a byte-identical rewrite at a
    # new path/mtime keeps its fixture.
    tag = parquet_footer_tag(os.path.join(sf_dir, f"{table}.parquet"))
    root = os.environ.get(_IO_ROOT_ENV, _IO_ROOT_DEFAULT)
    return os.path.join(root, f"{table}_{fmt}_{tag}")


def _build_once(path: str, write: Callable[[str], None]) -> str:
    """Return ``path``, first building it with ``write`` if absent.

    ``write(tmp)`` fills a unique temporary sibling, which is renamed
    into place, so a fixture directory only ever appears complete.  Of
    concurrent builders (other threads, other checkouts' runs) the
    first rename wins: renaming onto a non-empty directory fails, and
    the loser deletes its copy and reads the winner's."""
    if not os.path.isdir(path):
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        try:
            write(tmp)
            try:
                os.rename(tmp, path)
            except OSError:
                if not os.path.isdir(path):
                    raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return path


_ORDERS_CSV_SCHEMA = StructType(
    [
        StructField("o_orderkey", LongType()),
        StructField("o_orderpriority", StringType()),
        StructField("o_totalprice", DoubleType()),
    ]
)

_EVENTS_JSON_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def src_csv_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders through the CSV reader: write the 3-column slice once,
    read it back with an explicit schema (header on, no inference),
    aggregate per priority."""
    path = _build_once(
        _fixture_dir(sf_dir, "orders", "csv"),
        lambda tmp: load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.option("header", "true")
        .csv(tmp),
    )
    df = read_csv(spark, path, _ORDERS_CSV_SCHEMA, header=True)
    return df.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        (F.floor(F.sum("o_totalprice") * 1e4 + 0.5) / 1e4).alias("sum_price"),
        F.min("o_orderkey").cast("long").alias("min_key"),
        F.max("o_orderkey").cast("long").alias("max_key"),
    )


def src_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events through the JSON-lines reader: same write-once /
    schema-pinned read-back shape as src_csv_orders."""
    path = _build_once(
        _fixture_dir(sf_dir, "events", "json"),
        lambda tmp: load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .write.json(tmp),
    )
    df = read_json(spark, path, _EVENTS_JSON_SCHEMA)
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.count("value").cast("long").alias("n_valued"),
        round6(F.sum("value")).alias("sum_value"),
    )


def src_orc_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lineitem through the ORC reader — the third interchange format
    under the oracle gate (parquet is the native path, Avro is absent
    from this container; see CLAUDE.md).  ORC carries real types in
    the file footer, so the read needs no pinned schema — drift would
    surface as a hash mismatch on the aggregate."""
    path = _build_once(
        _fixture_dir(sf_dir, "lineitem", "orc"),
        lambda tmp: load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
        .write.orc(tmp),
    )
    df = read_orc(spark, path)
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        (F.floor(F.sum("l_extendedprice") * 1e4 + 0.5) / 1e4).alias("sum_price"),
        F.min("l_orderkey").cast("long").alias("min_key"),
    )


_BUCKETS = 8


def _bucketed_fixture(
    spark: SparkSession, sf_dir: str, table: str, key: str, cols: list[str]
) -> tuple[str, str]:
    """Write a bucketed-parquet slice of ``table`` once per corpus
    generation; return (location, catalog-safe tag).

    The write goes through ``bucketBy(...).sortBy(...)`` after a
    single-partition repartition so each bucket lands in exactly one
    sorted file — the layout that lets a later sorted-bucket
    sort-merge join skip both the exchange AND the sort.  (At 100 TB
    you keep many files per bucket and pay the sort but still never
    the shuffle.)  The temporary catalog entry used by the writer is
    dropped immediately; the FILES carry the bucket ids in their
    names, so any later session can re-attach them with a
    CLUSTERED BY DDL."""
    tag = parquet_footer_tag(os.path.join(sf_dir, f"{table}.parquet"))
    root = os.environ.get(_IO_ROOT_ENV, _IO_ROOT_DEFAULT)

    def write(tmp: str) -> None:
        writer = f"tmp_bucket_writer_{uuid.uuid4().hex}"
        (
            load_table(spark, sf_dir, table)
            .select(*cols)
            .repartition(1)
            .write.bucketBy(_BUCKETS, key)
            .sortBy(key)
            .option("path", tmp)
            .saveAsTable(writer)
        )
        spark.sql(f"DROP TABLE IF EXISTS {writer}")  # keep the files

    return _build_once(os.path.join(root, f"{table}_bucketed_{tag}"), write), tag


def bucketed_join_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer bucket-to-bucket: ensure both bucketed
    fixtures exist, re-attach them to THIS session's catalog via
    CLUSTERED BY DDL (metadata-only — the bucket ids live in the file
    names), and return the shuffle-free join (plan-locked in
    tests/test_plans.py)."""
    o_path, o_tag = _bucketed_fixture(
        spark, sf_dir, "orders", "o_custkey", ["o_custkey", "o_totalprice"]
    )
    c_path, c_tag = _bucketed_fixture(
        spark, sf_dir, "customer", "c_custkey", ["c_custkey", "c_mktsegment"]
    )
    o_name = f"bkt_orders_{o_tag}"
    c_name = f"bkt_customer_{c_tag}"
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {o_name}"
        " (o_custkey BIGINT, o_totalprice DOUBLE) USING PARQUET"
        f" CLUSTERED BY (o_custkey) SORTED BY (o_custkey)"
        f" INTO {_BUCKETS} BUCKETS LOCATION '{o_path}'"
    )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {c_name}"
        " (c_custkey BIGINT, c_mktsegment STRING) USING PARQUET"
        f" CLUSTERED BY (c_custkey) SORTED BY (c_custkey)"
        f" INTO {_BUCKETS} BUCKETS LOCATION '{c_path}'"
    )
    return spark.table(o_name).join(
        spark.table(c_name),
        F.col("o_custkey") == F.col("c_custkey"),
    )


def src_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join over BUCKETED tables — the layout move that
    deletes the shuffle from a 100 TB fact-dim join: both sides are
    written bucketed on the join key (fixture, once per corpus
    generation), re-attached to any session's catalog with a
    CLUSTERED BY DDL, and joined bucket-to-bucket.  The physical plan
    has ZERO Exchange nodes on the join (locked in tests/
    test_plans.py with auto-broadcast disabled); a plain parquet join
    of the same tables shuffles both sides.

    This is how a production pipeline co-locates repeatedly-joined
    tables: pay one bucketed write, then every subsequent join of any
    two tables bucketed on the same key count is map-side.  The
    readout aggregates orders per market segment so the driver's
    oracle checks the join's CONTENT, not just its shape."""
    j = bucketed_join_frame(spark, sf_dir)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        # Sum integer CENTS, not raw doubles: a raw-order float sum can
        # round differently across engines at a .005 boundary (rule 9;
        # ADVICE r5).  floor() is LONG in Spark / integral DOUBLE in
        # DuckDB; the per-row value is exact so the sum is order-free.
        (F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)) / 100.0)
        .alias("revenue"),
    )


PRUNE_PRIORITY = "1-URGENT"


def partitioned_orders_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned orders fixture (partitionBy o_orderpriority,
    written once per corpus generation) read back as a partition-aware
    parquet source."""
    path = _build_once(
        _fixture_dir(sf_dir, "orders", "partitioned"),
        lambda tmp: load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
        .write.partitionBy("o_orderpriority")
        .parquet(tmp),
    )
    return spark.read.parquet(path)


def src_partitioned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan over a hive-partitioned layout — the
    second physical-layout pillar next to src_bucketed_join: where
    bucketing deletes the JOIN shuffle, directory partitioning
    deletes the SCAN itself for filtered loads.  Orders are written
    once partitionBy(o_orderpriority) (5 directories); the query
    filters one priority and the FileSourceScan's PartitionFilters
    prune 4/5 of the files before any IO is scheduled — at 100 TB
    that is the difference between reading 20 TB and 100 TB.  Plan-
    locked in tests/test_plans.py (PartitionFilters carries the
    equality; the row-group data filters do NOT see the partition
    column, it exists only in directory names).  The readout
    aggregates the surviving partition by status, cents-summed
    (rule 9), so the driver's oracle checks the pruned scan's
    CONTENT against an unpartitioned DuckDB filter."""
    df = partitioned_orders_frame(spark, sf_dir)
    return (
        df.filter(F.col("o_orderpriority") == PRUNE_PRIORITY)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            (F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)) / 100.0).alias(
                "revenue"
            ),
            F.min("o_orderkey").cast("long").alias("min_key"),
            F.max("o_orderkey").cast("long").alias("max_key"),
        )
    )


QUERIES = {
    "src_csv_orders": src_csv_orders,
    "src_json_events": src_json_events,
    "src_orc_lineitem": src_orc_lineitem,
    "src_bucketed_join": src_bucketed_join,
    "src_partitioned_scan": src_partitioned_scan,
}

ORACLES = {
    "src_orc_lineitem": (
        "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,"
        " CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,"
        " floor(sum(l_extendedprice) * 1e4 + 0.5) / 1e4 AS sum_price,"
        " CAST(min(l_orderkey) AS BIGINT) AS min_key"
        " FROM lineitem GROUP BY l_returnflag"
    ),
    "src_csv_orders": (
        "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,"
        " floor(sum(o_totalprice) * 1e4 + 0.5) / 1e4 AS sum_price,"
        " CAST(min(o_orderkey) AS BIGINT) AS min_key,"
        " CAST(max(o_orderkey) AS BIGINT) AS max_key"
        " FROM orders GROUP BY o_orderpriority"
    ),
    "src_json_events": (
        "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,"
        " CAST(count(value) AS BIGINT) AS n_valued,"
        " floor(sum(value) * 1e6 + 0.5) / 1e6 AS sum_value"
        " FROM events GROUP BY event_type"
    ),
    "src_bucketed_join": (
        "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,"
        " CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,"
        " CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))"
        "      AS DOUBLE) / 100.0 AS revenue"
        " FROM orders JOIN customer ON o_custkey = c_custkey"
        " GROUP BY c_mktsegment"
    ),
    "src_partitioned_scan": (
        "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,"
        " CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))"
        "      AS DOUBLE) / 100.0 AS revenue,"
        " CAST(min(o_orderkey) AS BIGINT) AS min_key,"
        " CAST(max(o_orderkey) AS BIGINT) AS max_key"
        f" FROM orders WHERE o_orderpriority = '{PRUNE_PRIORITY}'"
        " GROUP BY o_orderstatus"
    ),
}


def src_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet generations of the customer
    table — v1 written BEFORE the c_mktsegment column existed (even
    custkeys), v2 written after (odd custkeys) — read together with
    ``mergeSchema``, so v1 rows surface the evolved column as NULL.
    This is the 100 TB reality of any long-lived dataset (old and new
    writer fleets coexist in one directory tree); the oracle rebuilds
    the same world from the base table with a CASE, so a reader that
    dropped, misordered, or backfilled the evolved column wrong breaks
    the hash.

    mergeSchema is a FOOTER-ONLY pass (one ranged read per file, the
    same metadata parquet readers already fetch) — no data scan to
    reconcile schemas.  The fixture is written once per testdata
    generation (footer-tag identity, built aside and renamed into place);
    the read is a plain schema-merged scan + one mergeable aggregate."""

    def write(tmp: str) -> None:
        c = load_table(spark, sf_dir, "customer")
        c.filter(F.col("c_custkey") % 2 == 0).select(
            "c_custkey", "c_acctbal"
        ).write.parquet(os.path.join(tmp, "v1"))
        c.filter(F.col("c_custkey") % 2 == 1).select(
            "c_custkey", "c_acctbal", "c_mktsegment"
        ).write.parquet(os.path.join(tmp, "v2"))

    base = _build_once(_fixture_dir(sf_dir, "customer", "evo"), write)
    v1, v2 = os.path.join(base, "v1"), os.path.join(base, "v2")
    df = spark.read.option("mergeSchema", "true").parquet(v1, v2)
    return (
        df.select(
            F.coalesce(F.col("c_mktsegment"), F.lit("<pre-evolution>")).alias(
                "segment"
            ),
            "c_custkey",
            F.floor(F.col("c_acctbal") * 100 + 0.5).alias("bal_cents"),
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("bal_cents").cast("long").alias("sum_bal_cents"),
            F.min("c_custkey").cast("long").alias("min_key"),
            F.max("c_custkey").cast("long").alias("max_key"),
        )
    )


QUERIES["src_schema_merge"] = src_schema_merge
ORACLES["src_schema_merge"] = (
    "SELECT CASE WHEN c_custkey % 2 = 0 THEN '<pre-evolution>'"
    "   ELSE c_mktsegment END AS segment,"
    " CAST(count(*) AS BIGINT) AS n_customers,"
    " CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT)"
    "   AS sum_bal_cents,"
    " CAST(min(c_custkey) AS BIGINT) AS min_key,"
    " CAST(max(c_custkey) AS BIGINT) AS max_key"
    " FROM customer GROUP BY 1"
)


N_MALFORMED = 25

_MALFORMED_SCHEMA = StructType(
    [
        StructField("o_orderkey", LongType()),
        StructField("o_orderpriority", StringType()),
        StructField("o_totalprice", DoubleType()),
        StructField("_corrupt_record", StringType()),
    ]
)


def src_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bad-row tolerance through the CSV reader: the fixture is the
    orders slice plus N_MALFORMED planted type-violating lines in a
    side file; the read runs PERMISSIVE (the 100 TB reality — a feed
    with a handful of broken lines must load, not abort) with a
    declared ``_corrupt_record`` column, and the query audits
    good/corrupt counts plus an aggregate over the GOOD rows only.
    The oracle rebuilds the same world from the base table plus the
    planted count as a literal — a reader that silently dropped,
    null-coerced, or double-counted bad lines breaks the hash.

    Scale: write-once fixture; the read is a schema-pinned parallel
    scan, corruption detection is per-row (no extra pass), and the
    audit is one mergeable aggregate."""

    def write(tmp: str) -> None:
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        ).write.csv(os.path.join(tmp, "good"))
        with open(os.path.join(tmp, "bad.csv"), "w") as f:
            for i in range(N_MALFORMED):
                f.write(f"corrupt{i},BROKEN-PRIORITY,not_a_number_{i}\n")

    base = _build_once(_fixture_dir(sf_dir, "orders", "badcsv"), write)
    good_dir = os.path.join(base, "good")
    bad_file = os.path.join(base, "bad.csv")
    df = (
        spark.read.schema(_MALFORMED_SCHEMA)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv([good_dir, bad_file])
    )
    good = F.col("_corrupt_record").isNull()
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(good.cast("long")).cast("long").alias("n_good"),
        F.sum((~good).cast("long")).cast("long").alias("n_corrupt"),
        F.sum(
            F.when(good, F.floor(F.col("o_totalprice") * 100 + 0.5)).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("good_price_cents"),
        F.min(F.when(good, F.col("o_orderkey"))).cast("long").alias("min_key"),
        F.max(F.when(good, F.col("o_orderkey"))).cast("long").alias("max_key"),
    )


QUERIES["src_csv_malformed"] = src_csv_malformed
ORACLES["src_csv_malformed"] = (
    f"SELECT CAST(count(*) + {N_MALFORMED} AS BIGINT) AS n_rows,"
    " CAST(count(*) AS BIGINT) AS n_good,"
    f" CAST({N_MALFORMED} AS BIGINT) AS n_corrupt,"
    " CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)"
    "   AS good_price_cents,"
    " CAST(min(o_orderkey) AS BIGINT) AS min_key,"
    " CAST(max(o_orderkey) AS BIGINT) AS max_key"
    " FROM orders"
)


PYDS_PARTITIONS = 8
PYDS_ROWS_PER_PART = 2000


def _pyds_row(trade_id: int):
    """One synthetic trade — md5-derived so DuckDB reproduces it
    verbatim (rule 6).  Shared by the reader and the pytest replay."""
    import hashlib

    h = hashlib.md5(f"trade-{trade_id}".encode()).hexdigest()
    amount_cents = int(h[:8], 16) % 1_000_000
    tag = "TAG_" + str(int(h[8:10], 16) % 4)
    return (trade_id, trade_id // PYDS_ROWS_PER_PART, amount_cents, tag)


def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's Python DataSource API under the oracle gate: a custom
    partition-parallel source (``DataSourceReader.partitions`` +
    per-partition ``read``) generating deterministic synthetic trades,
    aggregated per tag.  This is the extension point for reading
    systems Spark has no built-in connector for (internal services,
    bespoke formats) — the contract that matters at 100 TB is that
    ``partitions()`` declares independent slices and each executor
    reads ONLY its slice (no driver funnel), which is exactly what the
    planner is handed here.

    Rows derive from md5(trade_id) (rule 6), so the DuckDB oracle
    regenerates the identical table from range() + md5 — a reader that
    dropped a partition, duplicated a slice, or mangled types breaks
    the hash.  The source is registered per session (the driver's
    vanilla session included); registration is idempotent."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _TradesReader(DataSourceReader):
        def partitions(self):
            return [InputPartition(i) for i in range(PYDS_PARTITIONS)]

        def read(self, partition):
            # Yield ONE Arrow RecordBatch per partition — the API's
            # vectorized lane.  Yielding tuples instead pays per-row
            # pickling (measured 8.2 s vs ~0.6 s for 16k rows): the
            # repo's Python-only-via-Arrow rule applies to custom
            # sources too.
            import pyarrow as pa

            base = partition.value * PYDS_ROWS_PER_PART
            rows = [_pyds_row(base + i) for i in range(PYDS_ROWS_PER_PART)]
            cols = list(zip(*rows))
            yield pa.record_batch(
                [
                    pa.array(cols[0], pa.int64()),
                    pa.array(cols[1], pa.int64()),
                    pa.array(cols[2], pa.int64()),
                    pa.array(cols[3], pa.string()),
                ],
                names=["trade_id", "part_id", "amount_cents", "tag"],
            )

    class SyntheticTradesDataSource(DataSource):
        @classmethod
        def name(cls):
            return "synthetic_trades"

        def schema(self):
            return (
                "trade_id bigint, part_id bigint,"
                " amount_cents bigint, tag string"
            )

        def reader(self, schema):
            return _TradesReader()

    spark.dataSource.register(SyntheticTradesDataSource)
    df = spark.read.format("synthetic_trades").load()
    return df.groupBy("tag").agg(
        F.count(F.lit(1)).cast("long").alias("n_trades"),
        F.countDistinct("part_id").cast("long").alias("n_parts"),
        F.sum("amount_cents").cast("long").alias("sum_cents"),
        F.min("trade_id").cast("long").alias("min_id"),
        F.max("trade_id").cast("long").alias("max_id"),
    )


QUERIES["src_python_datasource"] = src_python_datasource
ORACLES["src_python_datasource"] = f"""
WITH t AS (
  SELECT r.trade_id,
    r.trade_id // {PYDS_ROWS_PER_PART} AS part_id,
    ('0x' || substr(md5('trade-' || CAST(r.trade_id AS VARCHAR)), 1, 8))
      ::BIGINT % 1000000 AS amount_cents,
    'TAG_' || CAST(('0x' || substr(md5('trade-'
      || CAST(r.trade_id AS VARCHAR)), 9, 2))::BIGINT % 4 AS VARCHAR) AS tag
  FROM range({PYDS_PARTITIONS * PYDS_ROWS_PER_PART}) r(trade_id))
SELECT tag, CAST(count(*) AS BIGINT) AS n_trades,
  CAST(count(DISTINCT part_id) AS BIGINT) AS n_parts,
  CAST(sum(amount_cents) AS BIGINT) AS sum_cents,
  CAST(min(trade_id) AS BIGINT) AS min_id,
  CAST(max(trade_id) AS BIGINT) AS max_id
FROM t GROUP BY tag
"""
