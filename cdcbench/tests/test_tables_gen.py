"""The query_mix tables are a pure function of the seed, one row group each."""

import pyarrow.parquet as pq

from tables_gen import write_tables

SIZES = {"n_orders": 200, "n_docs": 50, "n_vecs": 20}


def _tables(path, seed):
    write_tables(path, seed, **SIZES)
    return {t: pq.read_table(path / f"{t}.parquet")
            for t in ("orders", "lineitem", "documents", "embeddings")}


def test_same_seed_same_tables(tmp_path):
    a = _tables(tmp_path / "a", 3)
    b = _tables(tmp_path / "b", 3)
    assert all(a[t].equals(b[t]) for t in a)


def test_other_seed_other_tables(tmp_path):
    a = _tables(tmp_path / "a", 3)
    b = _tables(tmp_path / "b", 4)
    assert not any(a[t].equals(b[t]) for t in a)


def test_one_file_one_row_group(tmp_path):
    _tables(tmp_path, 1)
    for f in tmp_path.glob("*.parquet"):
        assert pq.ParquetFile(f).metadata.num_row_groups == 1
