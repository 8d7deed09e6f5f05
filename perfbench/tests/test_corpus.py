import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import corpus


def test_permutation_keeps_rows_and_depends_on_seed():
    table = pa.table({"k": list(range(100))})
    a = corpus.permuted(table, np.random.default_rng(1))
    b = corpus.permuted(table, np.random.default_rng(2))
    assert sorted(a["k"].to_pylist()) == list(range(100))
    assert a["k"].to_pylist() != b["k"].to_pylist()
    assert a.equals(corpus.permuted(table, np.random.default_rng(1)))


def test_slice_follows_kept_customers_through_their_keys():
    tables = {t: pa.table({"x": [1]}) for t in corpus.TABLES}
    tables["customer"] = pa.table({"c_custkey": list(range(8))})
    tables["orders"] = pa.table({"o_orderkey": [10, 11, 12, 13], "o_custkey": [0, 1, 4, 4]})
    tables["lineitem"] = pa.table({"l_orderkey": [10, 10, 11, 12, 13, 13, 99]})
    tables["events"] = pa.table({"user_id": [0, 1, 2, 3, 4, 8, 8]})
    tables["embeddings"] = pa.table({"vec_id": list(range(6))})
    got = corpus.slice_tables(tables)
    assert got["customer"]["c_custkey"].to_pylist() == [0, 4]
    assert got["orders"]["o_orderkey"].to_pylist() == [10, 12, 13]
    assert got["lineitem"]["l_orderkey"].to_pylist() == [10, 10, 12, 13, 13]
    assert got["events"]["user_id"].to_pylist() == [0, 4, 8, 8]
    assert got["embeddings"]["vec_id"].to_pylist() == [0, 4]
    assert got["region"].equals(tables["region"])


def test_materialise_stamps_with_the_data_tag_and_reuses(tmp_path):
    work = str(tmp_path)
    run_dir = corpus.materialise(work, 5)
    stamp = json.loads((tmp_path / "run" / "_STAMP.json").read_text())
    assert stamp == {"corpus": corpus.tag(), "seed": 5}
    first = pq.read_table(f"{run_dir}/nation.parquet")
    assert corpus.materialise(work, 5) == run_dir
    corpus.materialise(work, 6)
    again = pq.read_table(f"{corpus.materialise(work, 5)}/nation.parquet")
    assert first.equals(again)
    base = pq.read_table(f"{corpus.DATA}/lineitem.parquet")
    assert base.num_rows == pq.read_table(f"{run_dir}/lineitem.parquet").num_rows


def test_materialise_refuses_a_missing_data_dir(tmp_path):
    with pytest.raises(FileNotFoundError):
        corpus.materialise(str(tmp_path / "work"), 1, data_dir=str(tmp_path / "nothing"))
