"""Seeded generators: the same seed gives byte-identical inputs, another
seed different ones; the planted near-duplicates are there."""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from perfbench import gen


def _window(n: int = 500) -> pa.Table:
    rng = np.random.default_rng(0)
    return pa.table({
        "o_orderkey": np.arange(n, dtype="int64"),
        "o_custkey": rng.integers(0, 50, n),
        "o_orderstatus": ["O"] * n,
        "o_totalprice": rng.integers(100, 10_000, n) / 100.0,
        "o_orderdate": pa.array(np.full(n, 10**15, dtype="int64")).cast(pa.timestamp("us")),
        "o_orderpriority": ["1-URGENT"] * n,
    })


def _inputs(seed: int, tmp_path) -> list[bytes]:
    rng = np.random.default_rng(seed)
    tables = {
        "docs": gen.docs_only(gen.corpus(rng, 300)),
        "vecs": gen.embeddings(rng, 100),
        "orders": gen.orders_extract(rng, _window(), 10_000, 50, 20, 20),
        "later_docs": gen.docs_only(gen.corpus(rng, 100, 300)),
    }
    out = []
    for name, table in tables.items():
        path = tmp_path / f"{seed}-{name}.parquet"
        gen.write(table, str(path))
        out.append(path.read_bytes())
    return out


def test_same_seed_same_bytes_new_seed_new_bytes(tmp_path):
    first, again, other = _inputs(7, tmp_path / "a"), _inputs(7, tmp_path / "b"), _inputs(8, tmp_path / "c")
    assert first == again
    assert all(x != y for x, y in zip(first, other))


def test_orders_extract_keys_unique_and_mixed():
    ext = gen.orders_extract(np.random.default_rng(1), _window(), 10_000, 50, 20, 20)
    keys = ext.column("o_orderkey").to_pylist()
    assert len(keys) == len(set(keys)) == 90
    assert sum(k >= 10_000 for k in keys) == 20
    assert ext.schema == gen.ORDERS_SCHEMA


def test_corpus_plants_near_duplicates_of_earlier_docs():
    rng = np.random.default_rng(3)
    first = gen.corpus(rng, 400)
    pool = [np.asarray(t) for t in first.column("_tokens").to_pylist()]
    later = gen.corpus(rng, 200, 400, pool)
    assert later.column("doc_id").to_pylist() == list(range(400, 600))
    seen = {" ".join(map(str, t)) for t in pool}
    near = 0
    for t in later.column("_tokens").to_pylist():
        near += " ".join(map(str, t[:-1])) in seen or " ".join(map(str, t)) in seen
    assert near >= int(200 * gen.NEAR_DUP_SHARE) // 2
