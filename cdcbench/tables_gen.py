"""Seeded inputs for the ``query_mix`` workload.

Writes the registry's table layout (same names, columns and physical types as
the TPC-H-ish star schema of the repository's test data, see TESTDATA.md),
each table as ONE parquet file with ONE row group: the ``fan_out`` gate keys on
that single-split layout, so the benchmark keeps it. Value distributions
follow the reference test data (uniform keys, a 31-word vocabulary for the
document corpus, unit-norm 64-d embeddings); rows are emitted in a seeded
permutation.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in microseconds


def _write(tbl: pa.Table, path: Path) -> None:
    pq.write_table(tbl, path, row_group_size=max(1, tbl.num_rows))


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(EPOCH_1995 + days.astype(np.int64) * DAY_US, type=pa.timestamp("us"))


def write_tables(out: Path, seed: int, n_orders: int, n_docs: int, n_vecs: int) -> dict[str, int]:
    """Write ``orders``, ``lineitem``, ``documents`` and ``embeddings`` under
    ``out`` as ``<name>.parquet``; returns row counts per table."""
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)

    n = n_orders
    perm = rng.permutation(n)
    orders = pa.table({
        "o_orderkey": pa.array(perm, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(1, n // 10), n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": _ts(rng.integers(0, 2404, n)),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)),
    })
    _write(orders, out / "orders.parquet")

    m = 4 * n
    qty = rng.integers(1, 51, m).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n, m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(1, n * 2 // 15), m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, m), 2)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], m)),
        "l_shipdate": _ts(rng.integers(1, 2499, m)),
    })
    _write(lineitem, out / "lineitem.parquet")

    words = np.array(VOCAB)
    lens = rng.integers(10, 100, n_docs)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # near-duplicates: every 10th doc copies an earlier doc with a few words
    # replaced, so the dedup and substring queries find real pairs
    for i in range(10, n_docs, 10):
        toks = texts[int(rng.integers(0, i))].split()
        for j in rng.integers(0, len(toks), 2):
            toks[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts[i] = " ".join(toks)
    doc_perm = rng.permutation(n_docs)
    documents = pa.table({
        "doc_id": pa.array(doc_perm, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write(documents, out / "documents.parquet")

    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(rng.permutation(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    _write(embeddings, out / "embeddings.parquet")
    return {"orders": n, "lineitem": m, "documents": n_docs, "embeddings": n_vecs}
