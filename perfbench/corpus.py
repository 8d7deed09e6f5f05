"""The benchmark's input tables.

A run reads nothing outside its checkout, so ``perfbench/data`` holds a
committed slice of the engine's sf0.1 test corpus, the one ``bench.py``
reads.  It was cut with

    python3 perfbench/corpus.py --from <sf0.1 dir>

and keeps a quarter of the fact rows by key, so every per-key fan-out
and every column distribution of sf0.1 stays as it is:

* every 4th customer (``c_custkey % 4 == 0``), their orders, and those
  orders' lineitems: about 3.75k customers, 37.4k orders and 150k
  lineitems, with sf0.1's orders per customer and lineitems per order;
* every 4th user's events (``user_id % 4 == 0``): 25k events, with
  sf0.1's events per user and gaps between them;
* every 4th embedding (``vec_id % 4 == 0``), which no workload reads;
* ``region``, ``nation``, ``supplier``, ``part`` and ``documents``
  whole, so near-duplicate documents keep their partners.

``materialise`` writes a run copy whose rows are in a ``--seed``-chosen
order, so a query whose result depends on input row order fails its
check.  The copy is stamped with the slice's ``corpus_generation_tag``
(a digest of the parquet footers) and the seed, and rewritten when
either changes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Table -> key column whose value mod SLICE selects the rows kept.
# orders and lineitem follow the kept customers through their keys.
SLICE = 4
_KEYED = {"customer": "c_custkey", "events": "user_id", "embeddings": "vec_id"}


def _every_nth(column: pa.ChunkedArray) -> pa.ChunkedArray:
    return pc.equal(pc.bit_wise_and(column, SLICE - 1), 0)


def slice_tables(tables: dict[str, pa.Table]) -> dict[str, pa.Table]:
    """The benchmark's slice of a full corpus (see the module docstring)."""
    out = dict(tables)
    for name, key in _KEYED.items():
        out[name] = tables[name].filter(_every_nth(tables[name][key]))
    orders = tables["orders"]
    out["orders"] = orders.filter(_every_nth(orders["o_custkey"]))
    lineitem = tables["lineitem"]
    out["lineitem"] = lineitem.filter(pc.is_in(lineitem["l_orderkey"], out["orders"]["o_orderkey"]))
    return out


def tag(data_dir: str = DATA) -> str:
    """Content identity of the tables in ``data_dir``."""
    from decision_tree_analytics_spark.sources.tables import corpus_generation_tag

    return corpus_generation_tag(data_dir)


def permuted(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    """``table`` with its rows in a seed-chosen order."""
    return table.take(pa.array(rng.permutation(table.num_rows)))


def materialise(work_dir: str, seed: int, data_dir: str = DATA) -> str:
    """Write the run corpus for ``seed`` under ``work_dir`` and return its
    directory.  An existing copy is reused when its stamp (data tag,
    seed) is the one asked for."""
    if not all(os.path.exists(os.path.join(data_dir, f"{t}.parquet")) for t in TABLES):
        raise FileNotFoundError(f"the benchmark's tables are missing from {data_dir}")
    stamp = {"corpus": tag(data_dir), "seed": seed}
    run_dir = os.path.join(work_dir, "run")
    stamp_path = os.path.join(run_dir, "_STAMP.json")
    if os.path.exists(stamp_path):
        with open(stamp_path) as fh:
            if json.load(fh) == stamp:
                return run_dir
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    rng = np.random.default_rng(seed)
    for name in TABLES:
        table = pq.read_table(os.path.join(data_dir, f"{name}.parquet"))
        pq.write_table(permuted(table, rng), os.path.join(run_dir, f"{name}.parquet"))
    with open(stamp_path, "w") as fh:
        json.dump(stamp, fh)
    return run_dir


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description="Cut the benchmark's slice of a corpus into perfbench/data.")
    p.add_argument("--from", dest="src", required=True, help="directory of the full corpus")
    args = p.parse_args(argv)
    tables = {t: pq.read_table(os.path.join(args.src, f"{t}.parquet")) for t in TABLES}
    os.makedirs(DATA, exist_ok=True)
    for name, table in slice_tables(tables).items():
        pq.write_table(
            table, os.path.join(DATA, f"{name}.parquet"), compression="zstd", compression_level=19
        )
        print(f"{name}: {table.num_rows} of {tables[name].num_rows} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
