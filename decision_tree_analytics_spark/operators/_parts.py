"""The one place an operator decides how many partitions a stage uses.

A table stored as one parquet file arrives as one partition, so a
CPU-bound stage over it runs on one core unless the operator spreads it
first.  The size rules read a table's on-disk bytes (an object store's
listing carries the same field), so no data is read to pick a count.
Write-side file counts size output files, not tasks, and stay with
their writers.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame


def _on_disk_bytes(sf_dir: str, table: str) -> int:
    path = os.path.join(sf_dir, f"{table}.parquet")
    files = [path]
    if os.path.isdir(path):
        files = glob.glob(os.path.join(path, "*.parquet"))
    return sum(os.path.getsize(f) for f in files)


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """``df`` hash-partitioned on ``keys`` into one partition per core,
    before a CPU-bound stage (hashing, explodes, regex or stopword
    gates): on a single-file input a cheap exchange puts every core to
    work.  The count is the core count whatever the input size, so a
    scan that arrives in more partitions than cores is merged down and
    each task grows with the data.  Three Arrow lanes
    (udf_batch_inference, udf_heavy_hitters, mm_byte_stats) use this
    rather than ``arrow_parts``; moving them would change their plans."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)


def arrow_parts(sf_dir: str, table: str) -> int:
    """Partition count for a Python (Arrow) stage over ``table``: one
    per 2 MB on disk, at least 1.  Every Arrow task pays a fixed worker
    round-trip (30-90 ms measured), so spreading 1.5 MB of text over 32
    cores made that overhead the whole wall time; a size-derived count
    keeps small inputs to a few tasks and grows with the data."""
    return max(1, -(-_on_disk_bytes(sf_dir, table) // (2 << 20)))


def label_parts(sf_dir: str, table: str) -> int:
    """Checkpoint width of a connected-components label loop over
    ``table``: one partition per 32 MB on disk, at least 8, so the
    width follows the corpus instead of a core count and a small
    corpus's rounds still run in parallel."""
    return max(8, -(-_on_disk_bytes(sf_dir, table) // (32 << 20)))
