"""Canonical readers for the testdata star schema.

Tables (one parquet file per table, see /root/repo/TESTDATA.md):
``region nation customer supplier part orders lineitem events
documents embeddings``.

Scale notes
-----------
* Readers are ``spark.read.parquet`` — predicate pushdown and column
  pruning reach the scan for free (verify with
  ``df.explain('formatted')`` → ``PushedFilters`` / ``ReadSchema``).
  A schema-less read starts a one-task Spark job to infer the schema
  from the footer (36-56 ms per read on a 4-core host), so each
  single-file table's inferred schema is pinned under its footer
  digest (``parquet_footer_tag``) and the session's inference confs:
  the first read of a footer infers as usual, every later read passes
  the recorded schema and launches no job.  The pin is exact, not a
  heuristic — a parquet schema lives in its footer, so an equal
  digest under equal confs infers an equal schema, and a file
  rewritten at the same path gets a new digest.  At 100 TB the same
  tables would be directories of many files, partitioned (e.g. orders
  by month); directories keep the plain inferring read, and nothing
  here assumes a single file.
* ``events.ts`` is a parquet INT64 timestamp whose *unit has changed
  across testdata generations* (TIMESTAMP(NANOS) originally, now
  TIMESTAMP(MICROS)); Spark 4.1 also dropped the
  ``nanosAsLong`` legacy read.  The reader therefore pins an explicit
  int64 schema for the ``ts`` column (parquet INT64 physical reads
  directly as BIGINT regardless of the timestamp logical annotation)
  and normalizes it to **epoch nanoseconds** by the footer-declared
  unit.  All engine time arithmetic on events keeps the original
  contract: integer epoch-microseconds via ``ts_us()``, which is
  exactly DuckDB's ``epoch_us(ts)`` after its own →µs truncation — a
  timezone-free, engine-portable contract immune to both the file's
  unit and Spark's timestamp type politics.
"""

from __future__ import annotations

import glob as _glob
import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from decision_tree_analytics_spark.session import prepare_session

# Explicit read schema for events: ts pinned to BIGINT so the INT64
# physical column arrives as a raw integer in the file's native unit
# (scaled to ns below) instead of a lossy TIMESTAMP_NTZ.
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

_NS_PER_UNIT = {"ns": 1, "us": 1_000, "ms": 1_000_000, "s": 1_000_000_000}


def events_ts_scale(sf_dir: str) -> int:
    """ns-per-stored-unit multiplier for ``events.ts``, read from one
    parquet footer (a metadata-only read — O(KB) even when the table
    is a 100 TB directory of files; all files share the unit)."""
    try:
        import pyarrow.parquet as pq
        import pyarrow.types as pat
    except ImportError:
        # No footer access (pyarrow absent): current testdata
        # generation writes TIMESTAMP(MICROS).  This is the ONLY
        # silent fallback — any readable-but-unexpected footer below
        # raises instead of guessing, because a wrong guess shifts
        # every event time key by 1000x with no diagnostic signal.
        return 1_000
    path = os.path.join(sf_dir, "events.parquet")
    if not os.path.isfile(path):
        path = sorted(_glob.glob(os.path.join(path, "*.parquet")))[0]
    ts_type = pq.read_schema(path).field("ts").type
    if not pat.is_timestamp(ts_type):
        raise ValueError(
            f"events.ts in {path} is {ts_type}, not a parquet TIMESTAMP - "
            "cannot infer the epoch unit; update events_ts_scale for the "
            "new testdata generation"
        )
    return _NS_PER_UNIT[ts_type.unit]


def parquet_footer_tag(path: str) -> str:
    """Content-derived cache identity for a parquet file: md5 of the
    FOOTER thrift blob (the serialized schema, row-group manifest,
    offsets and column statistics).  Equal bytes → equal tag at any
    path or mtime; any data change perturbs row-group stats/offsets →
    new tag.  The DESIGN is object-storage-safe — the footer is the
    one ranged tail-read every parquet reader already performs, with
    no mtime/inode dependence — though this helper reads via the
    local filesystem API (swap ``open`` for the store's ranged GET
    when pointing at a real object store).  Raises ValueError for
    anything that is not a well-formed parquet file (truncated, bad
    magic, or a footer length exceeding the file)."""
    import hashlib

    size = os.path.getsize(path)
    with open(path, "rb") as f:
        if size < 12:  # 4-byte header magic + footer length + tail magic
            raise ValueError(f"not a parquet file (too short): {path}")
        f.seek(-8, os.SEEK_END)
        tail = f.read(8)
        if tail[4:] != b"PAR1":
            raise ValueError(f"not a parquet file (bad magic): {path}")
        flen = int.from_bytes(tail[:4], "little")
        if flen <= 0 or flen > size - 8:
            raise ValueError(
                f"not a parquet file (footer length {flen} vs size {size}):"
                f" {path}"
            )
        f.seek(-(8 + flen), os.SEEK_END)
        footer = f.read(flen)
    return hashlib.md5(footer).hexdigest()[:12]


# The ten base tables of one testdata generation, in the order the
# generation tag hashes them.  The ORDER is part of the tag encoding:
# it matches the original scale_probe stamp order, so every .base_tag
# already on disk stays valid.
BASE_TABLES = (
    "documents", "embeddings", "customer", "orders", "lineitem",
    "events", "supplier", "nation", "region", "part",
)


def corpus_generation_tag(sf_dir: str) -> str:
    """Content identity of one testdata GENERATION: md5 hex over the
    footer tags of every base table in ``sf_dir``.  The ONE
    definition shared by bench.py (the ``corpus`` stamp on bench
    records) and scale_probe.py (the ``.base_tag`` staleness stamp on
    derived corpora): two hand-maintained copies of the table list
    could drift and make the two consumers disagree about whether two
    runs saw the same generation — the silent-mixing failure the tag
    exists to prevent."""
    import hashlib

    tags = [
        parquet_footer_tag(os.path.join(sf_dir, t + ".parquet"))
        for t in BASE_TABLES
    ]
    return hashlib.md5("|".join(tags).encode()).hexdigest()


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = spark.read.schema(EVENTS_SCHEMA).parquet(
        os.path.join(sf_dir, "events.parquet")
    )
    scale = events_ts_scale(sf_dir)
    if scale != 1:
        df = df.withColumn("ts", (F.col("ts") * F.lit(scale)).cast("long"))
    return df

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The generation tag must cover EXACTLY the load registry: an
# eleventh table added to one tuple but not the other would let a
# rotation of the new table produce an UNCHANGED tag — bench records
# would read as same-generation and the derived-corpus staleness
# check would never fire (the silent-mixing failure the tag exists
# to prevent).  Membership is tied here; only the hash ORDER is
# allowed to differ (it is part of the tag encoding).
assert frozenset(BASE_TABLES) == frozenset(TABLES)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# The session confs Spark 4.1.2's parquet schema inference reads
# (ParquetFileFormat.mergeSchemasInParallel builds its
# ParquetToSparkSchemaConverter from exactly these); everything else
# it reads is the footer.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
)
_PINNED_MAX = 256
# (footer tag, *inference conf values) -> inferred schema, LRU order.
_pinned: OrderedDict[tuple, StructType] = OrderedDict()
_pinned_lock = threading.Lock()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with a single file's schema
    pinned by footer digest so only its first read runs the
    schema-inference job (see the module docstring)."""
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    key = (parquet_footer_tag(path), *(spark.conf.get(k, None) for k in _INFERENCE_CONFS))
    with _pinned_lock:
        schema = _pinned.get(key)
        if schema is not None:
            _pinned.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _pinned_lock:
        _pinned[key] = df.schema
        if len(_pinned) > _PINNED_MAX:
            _pinned.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table of the star schema as a DataFrame."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    prepare_session(spark)
    if name == "events":
        return _load_events(spark, sf_dir)
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    return tuple(load_table(spark, sf_dir, n) for n in names)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL entry point)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
