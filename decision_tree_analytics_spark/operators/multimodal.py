"""Multimodal-column plumbing — images/audio/video as opaque binary
columns with typed metadata.

The container has no codec libraries, so actual decoding is stubbed
(``MultimodalDecoder.decode`` raises ``NotImplementedError``); what is
real — and tested/oracle-checked — is the Spark-side machinery a 100 TB
media pipeline needs:

* binary payload column + deterministic per-item metadata,
* Arrow-batched ``mapInPandas`` with a stable output schema (the
  exact shape a real decode/resize/frame-sample UDF plugs into),
* partition-size awareness: binary payloads dominate memory, so the
  batch size is bounded via ``maxRecordsPerBatch`` rather than row
  count heuristics.

``mm_binary_meta`` derives the payload from ``documents.text``
(utf-8 bytes) so the whole path — binary column → pandas batch →
hashlib → metadata — is verifiable against DuckDB's ``encode``/
``octet_length``/``md5``.  A real deployment swaps the payload source
for image bytes and the fake decode for PIL/ffmpeg; nothing else
changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from decision_tree_analytics_spark.operators._parts import spread
from decision_tree_analytics_spark.operators._round import round6
from decision_tree_analytics_spark.sources.tables import load_table

META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("content_md5", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("channels", LongType()),
    ]
)


class MultimodalDecoder:
    """Decode stub: deterministic fake metadata from the content hash.

    ``decode`` is the integration point for a real codec (PIL, ffmpeg,
    torchaudio…) — it raises until one is installed, per the design
    rule that media libs are absent in this environment.
    """

    def decode(self, payload: bytes):
        raise NotImplementedError(
            "media codecs are not available in this environment; "
            "use fake_metadata() for deterministic pipeline testing"
        )

    @staticmethod
    def fake_metadata(payload: bytes) -> tuple[int, str, int, int, int]:
        digest = hashlib.md5(payload).hexdigest()
        b0 = int(digest[0:2], 16)
        b1 = int(digest[2:4], 16)
        return (
            len(payload),
            digest,
            64 + b0 % 192,  # width
            64 + b1 % 192,  # height
            3,  # channels
        )


def _meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    dec = MultimodalDecoder()
    for pdf in batches:
        metas = [dec.fake_metadata(p) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "n_bytes": [m[0] for m in metas],
                "content_md5": [m[1] for m in metas],
                "width": [m[2] for m in metas],
                "height": [m[3] for m in metas],
                "channels": [m[4] for m in metas],
            }
        )


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the opaque binary column (utf-8 bytes of the text here;
    real pipelines read media files instead)."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8").cast(BinaryType()))


def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = with_binary_payload(load_table(spark, sf_dir, "documents"))
    return d.select("doc_id", "payload").mapInPandas(_meta_batches, META_SCHEMA)


_BYTE_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("mean_byte", DoubleType()),
        StructField("min_byte", LongType()),
        StructField("max_byte", LongType()),
        StructField("n_distinct_bytes", LongType()),
    ]
)


def _byte_stats_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            arr = np.frombuffer(payload, dtype=np.uint8)
            if arr.size == 0:
                # No bytes → no stats row (the oracle's per-byte unnest
                # likewise emits nothing for an empty payload).
                continue
            rows.append(
                (
                    int(doc_id),
                    int(arr.size),
                    # exact integer sum then one division — identical
                    # across engines (no float-accumulation order).
                    float(int(arr.sum(dtype=np.int64))) / arr.size,
                    int(arr.min()),
                    int(arr.max()),
                    int(np.unique(arr).size),
                )
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "doc_id",
                "n_bytes",
                "mean_byte",
                "min_byte",
                "max_byte",
                "n_distinct_bytes",
            ],
        )


def mm_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-level feature extraction over the opaque binary column —
    the codec-free stage of media feature pipelines (magic-byte
    screening, corruption detection, compression-ratio proxies).

    Vectorized numpy over Arrow batches; works on arbitrary binary
    payloads (real image/audio bytes included).  The oracle exploits
    that the test payloads are ASCII text bytes, so DuckDB can
    recompute the same statistics from codepoints."""
    d = with_binary_payload(load_table(spark, sf_dir, "documents"))
    d = spread(d, "doc_id")
    return d.select("doc_id", "payload").mapInPandas(
        _byte_stats_batches, _BYTE_STATS_SCHEMA
    )


def mm_header_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-layout container-header parsing entirely JVM-side — the
    metadata-extraction path that must NOT need Python at 100 TB
    (magic/dimensions/length live in the first bytes; only actual
    pixel decode needs a codec).

    The query synthesizes a 10-byte header (2-byte magic '4D4D' +
    big-endian u32 width/height derived from doc_id) in front of the
    text payload, then parses it back with binary substring + hex +
    conv — build and parse are independent expression trees, so a
    parse bug breaks the oracle match.  Pure codegen projection: no
    shuffle, no Python, streams with the scan."""
    d = with_binary_payload(load_table(spark, sf_dir, "documents"))
    width = F.pmod(F.col("doc_id"), F.lit(192)) + 64
    height = F.pmod(F.col("doc_id") * 7, F.lit(192)) + 64
    be_u32 = lambda c: F.unhex(F.lpad(F.hex(c), 8, "0"))  # noqa: E731
    framed = d.select(
        "doc_id",
        F.concat(
            F.unhex(F.lit("4D4D")), be_u32(width), be_u32(height), F.col("payload")
        ).alias("framed"),
    )
    return framed.select(
        "doc_id",
        F.hex(F.expr("substring(framed, 1, 2)")).alias("magic"),
        F.conv(F.hex(F.expr("substring(framed, 3, 4)")), 16, 10)
        .cast("long")
        .alias("width"),
        F.conv(F.hex(F.expr("substring(framed, 7, 4)")), 16, 10)
        .cast("long")
        .alias("height"),
        (F.octet_length("framed") - 10).cast("long").alias("body_bytes"),
    )


SHARD_TARGET_BYTES = 64 * 1024
SHARD_BUCKET_DOCS = 1000


def mm_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style training-shard packing: assign each document
    to a size-bounded shard and emit the shard manifest (doc span,
    doc count, byte total) a sharded tar/parquet writer would
    consume.

    Packing = running byte total within a doc_id bucket: a shard
    boundary falls wherever the cumulative payload size crosses a
    64 KiB multiple.  The running sum windows over ``doc_id div
    1000`` buckets — bounded rows per window, every bucket
    independent, so packing parallelizes instead of serializing on
    one global cumsum (global packing order is a non-goal: training
    shards only need bounded size and stable membership)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.octet_length("text").cast("long").alias("n_bytes")
    )
    bucket = F.expr(f"doc_id div {SHARD_BUCKET_DOCS}")
    w = (
        Window.partitionBy(bucket)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_bytes").over(w) - F.col("n_bytes")  # shard-start offset
    assigned = d.select(
        "doc_id", "n_bytes", bucket.alias("bucket"), start.alias("start_off")
    ).select(
        "doc_id",
        "n_bytes",
        (
            F.col("bucket") * 100000
            + F.expr(f"start_off div {SHARD_TARGET_BYTES}")
        ).alias("shard_id"),
    )
    return (
        assigned.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bytes").cast("long").alias("shard_bytes"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
        .select(
            F.col("shard_id").cast("long").alias("shard_id"),
            "n_docs",
            "shard_bytes",
            "first_doc",
            "last_doc",
        )
    )


PATCH = 32


def mm_patch_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch manifest from the parsed container header: for
    each image (width/height as in mm_header_parse, both ≥ 64 so the
    32-px grid is never empty), emit one row per non-overlapping
    32×32 patch with its grid position, pixel offset, and byte offset
    into a row-major RGB plane after the 10-byte header.

    This is the pre-decode work-plan a multimodal loader fans out to
    GPU workers: pure codegen arithmetic + one explode — no shuffle,
    no Python, no codec; only the per-patch pixel decode (the
    documented stub) needs the actual bytes."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    width = F.pmod(F.col("doc_id"), F.lit(192)) + 64
    height = F.pmod(F.col("doc_id") * 7, F.lit(192)) + 64
    g = d.select(
        "doc_id",
        width.alias("width"),
        height.alias("height"),
        F.floor(width / PATCH).cast("long").alias("nx"),
        F.floor(height / PATCH).cast("long").alias("ny"),
    )
    p = g.select(
        "doc_id",
        "nx",
        "width",
        F.explode(F.sequence(F.lit(0), (F.col("nx") * F.col("ny")) - 1)).alias(
            "patch_id"
        ),
    )
    px = F.pmod(F.col("patch_id"), F.col("nx"))
    py = F.floor(F.col("patch_id") / F.col("nx"))
    return p.select(
        "doc_id",
        F.col("patch_id").cast("long").alias("patch_id"),
        px.cast("long").alias("px"),
        py.cast("long").alias("py"),
        (px * PATCH).cast("long").alias("x_off"),
        (py * PATCH).cast("long").alias("y_off"),
        (10 + (py * PATCH * F.col("width") + px * PATCH) * 3)
        .cast("long")
        .alias("byte_off"),
    )


CHUNK_CHARS = 32  # fuzzy-hash block size
CHUNK_MAX_FREQ = 32  # stop-chunk cap: ignore blocks this common


def mm_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-hash near-dup detection for opaque payloads: split each
    payload into fixed ``CHUNK_CHARS`` blocks, md5 each block, and
    pair documents that share >= 2 block hashes — the
    ssdeep/CDC-style dedup that works on media bytes where token- or
    shingle-based text dedup cannot (no tokens to shingle).  Output:
    (id_a, id_b, n_shared, overlap) with overlap = block-level
    Jaccard.

    The payload proxy is the text column (as in mm_binary_meta);
    blocks are carved on characters so Spark ``substr`` and DuckDB
    ``substr`` agree for any encoding — on real binary the same plan
    carves with byte offsets.

    Scale: candidate generation is an equi-join on the block hash, so
    the quadratic stage is bounded per bucket, and ``CHUNK_MAX_FREQ``
    drops degenerate buckets (boilerplate blocks shared by thousands
    of payloads) the way stopword filtering bounds shingle joins —
    without the cap one hot block is a |bucket|² blowup.  Singleton
    hashes are pruned before the self-join (freq >= 2), the pair
    aggregate shuffles on (id_a, id_b), and the denominator
    n_a + n_b - shared >= max(n_a, n_b) >= 1 is provably nonzero
    under ANSI."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = spread(d, "doc_id")
    return chunk_pairs(d)


def chunk_pairs(d: DataFrame) -> DataFrame:
    """Core of mm_chunk_dedup over any (doc_id, text) frame — split
    out so behavior tests can feed synthetic near-dup payloads."""
    n_blocks = F.ceil(F.length("text") / F.lit(float(CHUNK_CHARS))).cast("int")
    chunks = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.lit(1), n_blocks)),
                lambda i: F.md5(
                    F.substr(
                        F.col("text"),
                        (i - F.lit(1)) * F.lit(CHUNK_CHARS) + F.lit(1),
                        F.lit(CHUNK_CHARS),
                    )
                ),
            )
        ).alias("h"),
    ).distinct()
    sizes = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    freq = chunks.groupBy("h").agg(F.count(F.lit(1)).alias("nf"))
    keep = chunks.join(
        freq.filter((F.col("nf") >= 2) & (F.col("nf") <= CHUNK_MAX_FREQ)), "h"
    )
    a = keep.select(F.col("doc_id").alias("id_a"), "h")
    b = keep.select(F.col("doc_id").alias("id_b"), "h")
    pairs = (
        a.join(b, ["h"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_chunks").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_chunks").alias("nb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            round6(
                F.col("n_shared") / (F.col("na") + F.col("nb") - F.col("n_shared"))
            ).alias("overlap"),
        )
    )


QUERIES = {
    "mm_chunk_dedup": mm_chunk_dedup,
    "mm_patch_manifest": mm_patch_manifest,
    "mm_binary_meta": mm_binary_meta,
    "mm_byte_stats": mm_byte_stats,
    "mm_header_parse": mm_header_parse,
    "mm_shard_assign": mm_shard_assign,
}

# DuckDB replicates the deterministic fake-decode arithmetic: hex
# pair k of md5 → byte value via strpos arithmetic.
_B = (
    "((strpos('0123456789abcdef', substr(md5(text), {a}, 1)) - 1) * 16"
    " + strpos('0123456789abcdef', substr(md5(text), {b}, 1)) - 1)"
)

_CHUNK_SQL = f"""
WITH chunks AS (
  SELECT DISTINCT doc_id,
    md5(substr(text, (i - 1) * {CHUNK_CHARS} + 1, {CHUNK_CHARS})) AS h
  FROM (SELECT doc_id, text,
          unnest(generate_series(1, greatest(1,
            CAST(ceil(length(text) / {CHUNK_CHARS}.0) AS BIGINT)))) AS i
        FROM documents)),
freq AS (SELECT h, count(*) AS nf FROM chunks GROUP BY 1),
keep AS (SELECT c.doc_id, c.h FROM chunks c JOIN freq f USING (h)
  WHERE f.nf BETWEEN 2 AND {CHUNK_MAX_FREQ}),
sizes AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY 1),
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT p.id_a, p.id_b, CAST(p.n_shared AS BIGINT) AS n_shared,
  floor(p.n_shared / (sa.n_chunks + sb.n_chunks - p.n_shared) * 1e6 + 0.5)
    / 1e6 AS overlap
FROM pairs p JOIN sizes sa ON p.id_a = sa.doc_id
JOIN sizes sb ON p.id_b = sb.doc_id
WHERE p.n_shared >= 2
"""

ORACLES = {
    "mm_chunk_dedup": _CHUNK_SQL,
    "mm_patch_manifest": (
        "WITH g AS (SELECT doc_id,"
        "   doc_id % 192 + 64 AS width, (doc_id * 7) % 192 + 64 AS height"
        "   FROM documents),"
        " n AS (SELECT doc_id, width,"
        f"   CAST(floor(width / {PATCH}) AS BIGINT) AS nx,"
        f"   CAST(floor(height / {PATCH}) AS BIGINT) AS ny FROM g),"
        " p AS (SELECT doc_id, width, nx,"
        "   unnest(range(nx * ny)) AS patch_id FROM n)"
        " SELECT doc_id, CAST(patch_id AS BIGINT) AS patch_id,"
        " CAST(patch_id % nx AS BIGINT) AS px,"
        " CAST(patch_id // nx AS BIGINT) AS py,"
        f" CAST((patch_id % nx) * {PATCH} AS BIGINT) AS x_off,"
        f" CAST((patch_id // nx) * {PATCH} AS BIGINT) AS y_off,"
        f" CAST(10 + ((patch_id // nx) * {PATCH} * width"
        f"   + (patch_id % nx) * {PATCH}) * 3 AS BIGINT) AS byte_off"
        " FROM p"
    ),
    "mm_binary_meta": (
        "SELECT doc_id,"
        " CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,"
        " md5(text) AS content_md5,"
        f" CAST(64 + {_B.format(a=1, b=2)} % 192 AS BIGINT) AS width,"
        f" CAST(64 + {_B.format(a=3, b=4)} % 192 AS BIGINT) AS height,"
        " CAST(3 AS BIGINT) AS channels"
        " FROM documents"
    ),
    # Payload bytes are the text's ASCII codepoints in the test data,
    # so byte value i == ascii(substr(text, i, 1)).
    "mm_byte_stats": (
        "WITH idx AS (SELECT doc_id, text,"
        "   unnest(range(length(text))) AS i FROM documents),"
        " b AS (SELECT doc_id,"
        "   ascii(substr(text, CAST(i AS INT) + 1, 1)) AS byte FROM idx)"
        " SELECT doc_id,"
        " CAST(COUNT(*) AS BIGINT) AS n_bytes,"
        " CAST(SUM(byte) AS DOUBLE) / COUNT(*) AS mean_byte,"
        " CAST(MIN(byte) AS BIGINT) AS min_byte,"
        " CAST(MAX(byte) AS BIGINT) AS max_byte,"
        " CAST(COUNT(DISTINCT byte) AS BIGINT) AS n_distinct_bytes"
        " FROM b GROUP BY doc_id"
    ),
    "mm_shard_assign": (
        "WITH d AS (SELECT doc_id,"
        "   CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,"
        f"   doc_id // {SHARD_BUCKET_DOCS} AS bucket FROM documents),"
        " a AS (SELECT doc_id, n_bytes,"
        "   bucket * 100000 +"
        "   (sum(n_bytes) OVER (PARTITION BY bucket ORDER BY doc_id"
        "     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_bytes)"
        f"     // {SHARD_TARGET_BYTES} AS shard_id"
        "   FROM d)"
        " SELECT CAST(shard_id AS BIGINT) AS shard_id,"
        " CAST(count(*) AS BIGINT) AS n_docs,"
        " CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,"
        " CAST(min(doc_id) AS BIGINT) AS first_doc,"
        " CAST(max(doc_id) AS BIGINT) AS last_doc"
        " FROM a GROUP BY 1"
    ),
    # Independent arithmetic (no binary round-trip): if the Spark-side
    # parse misreads an offset or endianness, this mismatches.
    "mm_header_parse": (
        "SELECT doc_id, '4D4D' AS magic,"
        " CAST(doc_id % 192 + 64 AS BIGINT) AS width,"
        " CAST((doc_id * 7) % 192 + 64 AS BIGINT) AS height,"
        " CAST(octet_length(encode(text)) AS BIGINT) AS body_bytes"
        " FROM documents"
    ),
}


def mm_shard_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard content checksums for dataset DISTRIBUTION — the
    integrity manifest shipped next to the shards themselves
    (WebDataset/HF-style releases publish one checksum per shard so a
    consumer can verify a transfer without re-reading the source corpus):
    the same size-bounded shard assignment as mm_shard_assign, plus
    an order-independent (count, sum, xor) row-hash fingerprint per
    shard — rel_table_fingerprint's recipe applied per shard, so
    per-shard fingerprints also COMBINE associatively into the
    release-level checksum.

    One window for the assignment (bounded per-bucket rows), one
    mergeable aggregate per shard; content hashes derive from the
    payload string via md5 — engine-portable, byte-change-sensitive."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.octet_length("text").cast("long").alias("n_bytes"),
        F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10)
        .cast("long")
        .alias("h"),
    )
    bucket = F.expr(f"doc_id div {SHARD_BUCKET_DOCS}")
    w = (
        Window.partitionBy(bucket)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_bytes").over(w) - F.col("n_bytes")
    assigned = d.select(
        "doc_id",
        "n_bytes",
        "h",
        bucket.alias("bucket"),
        start.alias("start_off"),
    ).select(
        "doc_id",
        "n_bytes",
        "h",
        (
            F.col("bucket") * 100000
            + F.expr(f"start_off div {SHARD_TARGET_BYTES}")
        ).alias("shard_id"),
    )
    g = assigned.groupBy("shard_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("shard_bytes"),
        F.sum("h").cast("long").alias("sum_hash"),
        F.expr("bit_xor(h)").cast("long").alias("xor_hash"),
    )
    return g.select(
        F.col("shard_id").cast("long").alias("shard_id"),
        "n_docs",
        "shard_bytes",
        F.md5(
            F.concat_ws("|", "n_docs", "sum_hash", "xor_hash")
        ).alias("checksum"),
    )


QUERIES["mm_shard_checksums"] = mm_shard_checksums
ORACLES["mm_shard_checksums"] = f"""
WITH d AS (SELECT doc_id,
    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
    ('0x' || substr(md5(text), 1, 8))::BIGINT AS h,
    doc_id // {SHARD_BUCKET_DOCS} AS bucket FROM documents),
a AS (SELECT doc_id, n_bytes, h,
    bucket * 100000 +
    (sum(n_bytes) OVER (PARTITION BY bucket ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_bytes)
    // {SHARD_TARGET_BYTES} AS shard_id
  FROM d),
g AS (SELECT CAST(shard_id AS BIGINT) AS shard_id,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
    CAST(sum(h) AS BIGINT) AS sum_hash,
    CAST(bit_xor(h) AS BIGINT) AS xor_hash
  FROM a GROUP BY 1)
SELECT shard_id, n_docs, shard_bytes,
  md5(CAST(n_docs AS VARCHAR) || '|' || CAST(sum_hash AS VARCHAR)
    || '|' || CAST(xor_hash AS VARCHAR)) AS checksum
FROM g
"""


AUDIO_HEADER_BYTES = 44  # WAV-style header preceding 16-bit mono PCM
AUDIO_CHUNK_S = 1  # chunk length (seconds)
AUDIO_HOP_S_NUM, AUDIO_HOP_S_DEN = 1, 2  # 0.5 s hop (50% overlap)


def mm_audio_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunking work-plan — mm_patch_manifest's shape on the time
    axis: per clip (synthetic metadata: sample rate 8/16/24 kHz and
    1-10 s duration derived from doc_id), one row per 1-second chunk
    at 0.5-second hop (50 % overlap, the standard ASR/embedding
    windowing) with sample offsets and byte ranges into the 16-bit
    mono PCM stream after a 44-byte WAV-style header.

    This is the fan-out a speech loader ships to decode workers: pure
    integer codegen + one explode — no shuffle, no Python, no codec;
    only the per-chunk PCM decode (the documented stub boundary,
    multimodal.py:64) needs actual bytes.  Tail chunks clamp to the
    clip end (is_last flags them); every quantity is exact integer
    sample arithmetic, identical in both engines."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    sr = (F.lit(8000) * (F.pmod(F.col("doc_id"), F.lit(3)) + 1)).cast("long")
    n_samples = ((F.pmod(F.col("doc_id"), F.lit(10)) + 1) * sr).cast("long")
    hop = F.expr(
        f"sr * {AUDIO_HOP_S_NUM} div {AUDIO_HOP_S_DEN}"
    ).cast("long")
    chunk = (F.col("sr") * AUDIO_CHUNK_S).cast("long")
    g = d.select("doc_id", sr.alias("sr"), n_samples.alias("n_samples"))
    g = g.select(
        "doc_id",
        "sr",
        "n_samples",
        hop.alias("hop"),
        chunk.alias("chunk"),
    )
    # chunks start at k*hop while start < n_samples - hop (the final
    # half-window folds into the previous chunk's tail clamp)
    g = g.select(
        "*",
        (
            F.expr("(n_samples - chunk) div hop") + 1
        ).cast("long").alias("n_chunks"),
    )
    c = g.select(
        "doc_id",
        "sr",
        "n_samples",
        "hop",
        "chunk",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias("chunk_id"),
    )
    start = (F.col("chunk_id") * F.col("hop")).cast("long")
    end = F.least(start + F.col("chunk"), F.col("n_samples"))
    return c.select(
        "doc_id",
        "sr",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        start.alias("start_sample"),
        (end - start).cast("long").alias("n_samp"),
        (F.lit(AUDIO_HEADER_BYTES) + start * 2).cast("long").alias("byte_off"),
        ((end - start) * 2).cast("long").alias("byte_len"),
        (end == F.col("n_samples")).cast("long").alias("is_last"),
    )


QUERIES["mm_audio_chunk_plan"] = mm_audio_chunk_plan
ORACLES["mm_audio_chunk_plan"] = f"""
WITH g AS (SELECT doc_id,
    CAST(8000 * (doc_id % 3 + 1) AS BIGINT) AS sr,
    CAST((doc_id % 10 + 1) * 8000 * (doc_id % 3 + 1) AS BIGINT) AS n_samples
  FROM documents),
h AS (SELECT doc_id, sr, n_samples,
    sr * {AUDIO_HOP_S_NUM} // {AUDIO_HOP_S_DEN} AS hop,
    sr * {AUDIO_CHUNK_S} AS chunk,
    (n_samples - sr * {AUDIO_CHUNK_S})
      // (sr * {AUDIO_HOP_S_NUM} // {AUDIO_HOP_S_DEN}) + 1 AS n_chunks
  FROM g),
c AS (SELECT doc_id, sr, n_samples, hop, chunk,
    unnest(range(n_chunks)) AS chunk_id
  FROM h)
SELECT doc_id, sr, CAST(chunk_id AS BIGINT) AS chunk_id,
  CAST(chunk_id * hop AS BIGINT) AS start_sample,
  CAST(least(chunk_id * hop + chunk, n_samples) - chunk_id * hop AS BIGINT)
    AS n_samp,
  CAST({AUDIO_HEADER_BYTES} + chunk_id * hop * 2 AS BIGINT) AS byte_off,
  CAST((least(chunk_id * hop + chunk, n_samples) - chunk_id * hop) * 2
    AS BIGINT) AS byte_len,
  CAST(CASE WHEN least(chunk_id * hop + chunk, n_samples) = n_samples
    THEN 1 ELSE 0 END AS BIGINT) AS is_last
FROM c
"""


# ---------------------------------------------------------------------------
# mm_video_frame_plan — keyframe/GOP extraction manifest
# ---------------------------------------------------------------------------

VIDEO_HEADER_BYTES = 512  # modeled container header


def mm_video_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video keyframe-extraction work-plan — mm_audio_chunk_plan's
    shape on the GOP axis: per clip (synthetic metadata derived from
    doc_id: fps 24/25/30, duration 2-20 s, two resolution tiers, GOP
    12 or 15 frames), one row per GOP with the keyframe index, its
    integer-µs timestamp, the exact byte offset into the modeled
    stream (I-frames and P-frames have different modeled sizes, so
    the offset is header + #I-before*i_bytes + #P-before*p_bytes —
    all closed-form BIGINT), and the tail-clamped GOP length.

    This is the fan-out a video loader ships to decode workers (the
    actual frame decode is the documented stub boundary,
    multimodal.py:64): pure integer codegen + one explode — no
    shuffle, no Python, no codec.  Every quantity is exact integer
    arithmetic, identical in both engines (the ts division truncates
    identically on non-negative µs)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    g = d.select(
        "doc_id",
        (24 + F.pmod("doc_id", F.lit(3)) * 3).cast("long").alias("fps"),
        (F.pmod("doc_id", F.lit(19)) + 2).cast("long").alias("dur_s"),
        (12 + F.pmod("doc_id", F.lit(2)) * 3).cast("long").alias("gop"),
        F.when(F.pmod("doc_id", F.lit(2)) == 0, 1280 * 720)
        .otherwise(640 * 360)
        .cast("long")
        .alias("pixels"),
    ).select(
        "*",
        (F.col("fps") * F.col("dur_s")).alias("n_frames"),
        F.expr("pixels div 2").alias("i_bytes"),
        F.expr("pixels div 10").alias("p_bytes"),
    )
    g = g.select("*", F.expr("(n_frames - 1) div gop + 1").alias("n_gops"))
    k = g.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.col("n_gops") - 1)).alias("k"),
    )
    return k.select(
        "doc_id",
        "fps",
        "gop",
        "n_frames",
        "k",
        (F.col("k") * F.col("gop")).alias("frame_idx"),
        F.expr("k * gop * 1000000 div fps").alias("ts_us"),
        F.least(F.col("gop"), F.col("n_frames") - F.col("k") * F.col("gop"))
        .cast("long")
        .alias("gop_len"),
        F.when(F.col("k") == F.col("n_gops") - 1, 1)
        .otherwise(0)
        .cast("long")
        .alias("is_last"),
        (
            F.lit(VIDEO_HEADER_BYTES)
            + F.col("k") * F.col("i_bytes")
            + (F.col("k") * F.col("gop") - F.col("k")) * F.col("p_bytes")
        )
        .cast("long")
        .alias("byte_offset"),
        "i_bytes",
    )


_VIDEO_ORACLE = f"""
WITH g AS (SELECT doc_id,
    CAST(24 + (doc_id % 3) * 3 AS BIGINT) AS fps,
    CAST(doc_id % 19 + 2 AS BIGINT) AS dur_s,
    CAST(12 + (doc_id % 2) * 3 AS BIGINT) AS gop,
    CAST(CASE WHEN doc_id % 2 = 0 THEN 1280 * 720
         ELSE 640 * 360 END AS BIGINT) AS pixels
  FROM documents),
m AS (SELECT *, fps * dur_s AS n_frames, pixels // 2 AS i_bytes,
    pixels // 10 AS p_bytes, (fps * dur_s - 1) // gop + 1 AS n_gops
  FROM g),
k AS (SELECT *, unnest(range(n_gops)) AS k FROM m)
SELECT doc_id, fps, gop, n_frames, CAST(k AS BIGINT) AS k,
  CAST(k * gop AS BIGINT) AS frame_idx,
  CAST(k * gop * 1000000 // fps AS BIGINT) AS ts_us,
  CAST(least(gop, n_frames - k * gop) AS BIGINT) AS gop_len,
  CAST(CASE WHEN k = n_gops - 1 THEN 1 ELSE 0 END AS BIGINT) AS is_last,
  CAST({VIDEO_HEADER_BYTES} + k * i_bytes + (k * gop - k) * p_bytes
    AS BIGINT) AS byte_offset,
  i_bytes
FROM k
"""


QUERIES["mm_video_frame_plan"] = mm_video_frame_plan
ORACLES["mm_video_frame_plan"] = _VIDEO_ORACLE
