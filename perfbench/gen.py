"""Input generators for the benchmark.

Every table has the fixture schema the engine's catalog and the DuckDB
oracles expect (FIXTURES.md). Two kinds of input:

* the BI base tables (``write_base``): one fixed generator seed, so the
  sf1 upsample built from them is the same in every run and can be built
  once per checkout;
* the per-run inputs (``corpus``, ``embeddings``, ``orders_extract``):
  drawn from the run's ``--seed``.

The document corpus mimics the fixture corpus: 10-100 tokens from a
31-word vocabulary, 3-gram Jaccard between unrelated documents below
~0.05, and a fixed share of planted near-duplicates (a >= 50-token
source document with one token appended, Jaccard >= 0.98) plus a few
exact copies. Embeddings are unit-normalised Gaussian vectors, as in the
fixture.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

VOCAB = (
    "a agg batch big column customer data fast filter group hash index join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

#: planted near-duplicate and exact-copy shares of every generated corpus
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.002

ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")),
    ("o_orderpriority", pa.string()),
])

_US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Money values with exactly two decimals."""
    return rng.integers(lo, hi, n) / 100.0


def _pick(rng: np.random.Generator, domain, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(domain, dtype=object)[rng.choice(len(domain), n, p=p)], pa.string())


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


# --------------------------------------------------------------- BI tables


def base_tables(n_orders: int = 150_000, seed: int = BASE_SEED) -> dict[str, pa.Table]:
    """The sf0.1-shaped star schema plus events, documents and embeddings
    (``tools/make_benchdata.build`` upsamples all of them 10x)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = n_orders // 10, n_orders // 150, n_orders * 2 // 15
    n_line, n_events, n_users = n_orders * 4, n_orders * 2 // 3, n_orders // 100
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -99_999, 1_000_000, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -99_999, 1_000_000, n_supp),
    })
    adj, noun = ("large", "hot", "blue", "red", "small"), ("ring", "bolt", "nut", "pipe", "gear")
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{adj[i % 5]} {noun[(i // 5) % 5]}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    lo, hi = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 1)
    odate = lo + rng.integers(0, (hi - lo) // _US_PER_DAY + 1, n_orders) * _US_PER_DAY
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_orders),
        "o_totalprice": _cents(rng, 100_000, 50_000_000, n_orders),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })
    lkey = np.sort(rng.integers(0, n_orders, n_line))
    first = np.searchsorted(lkey, lkey, side="left")
    out["lineitem"] = pa.table({
        "l_orderkey": lkey,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(np.arange(n_line) - first + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _cents(rng, 90_000, 10_500_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _ts(odate[lkey] + rng.integers(1, 96, n_line) * _US_PER_DAY),
    })
    ev_lo = _epoch_us(2024, 1, 1)
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(np.sort(ev_lo + rng.integers(0, 30 * _US_PER_DAY, n_events))),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": _pick(rng, EVENT_TYPES, n_events),
        "value": _cents(rng, 0, 56_022, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    out["documents"] = docs_only(corpus(rng, n_orders // 30))
    out["embeddings"] = embeddings(rng, n_orders // 75)
    return out


def write_base(dst: str) -> None:
    for name, table in base_tables().items():
        write(table, os.path.join(dst, f"{name}.parquet"))


# ------------------------------------------------------------ LLM corpus


def _texts(rng: np.random.Generator, n: int, pool: list[np.ndarray]) -> list[np.ndarray]:
    """``n`` token arrays; a NEAR_DUP_SHARE of them are a long (>= 50
    token) earlier text with one token appended (3-gram Jaccard >= 48/49,
    the fixture's near-dup shape) and an EXACT_DUP_SHARE exact copies. The
    sources are drawn from ``pool`` (texts of earlier calls) or this
    call's own earlier texts."""
    vocab = len(VOCAB)
    docs = [rng.integers(0, vocab, int(k)) for k in rng.integers(10, 101, n)]
    long_pool = [t for t in pool if len(t) >= 50]
    n_near, n_exact = int(n * NEAR_DUP_SHARE), max(1, int(n * EXACT_DUP_SHARE))
    targets = np.sort(rng.choice(np.arange(1, n), n_near + n_exact, replace=False))
    exact = set(rng.choice(targets, n_exact, replace=False).tolist())
    for j in targets.tolist():
        cands = long_pool + [t for t in docs[:j] if len(t) >= 50]
        if cands:
            src = cands[rng.integers(0, len(cands))]
            docs[j] = src.copy() if j in exact else np.append(src, rng.integers(0, vocab))
    return docs


def corpus(
    rng: np.random.Generator, n: int, id_base: int = 0, pool: list[np.ndarray] | None = None
) -> pa.Table:
    """A documents table of ``n`` rows with ids ``id_base ..``. Near-dups
    always come after their source, so the id order is seniority order."""
    docs = _texts(rng, n, pool or [])
    words = np.asarray(VOCAB, dtype=object)
    text = [" ".join(words[t]) for t in docs]
    ids = np.arange(id_base, id_base + n, dtype="int64")
    return pa.table({
        "doc_id": ids,
        "text": pa.array(text, pa.string()),
        "lang": _pick(rng, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": np.array([len(s) for s in text], dtype="int64"),
        "_tokens": pa.array([t.tolist() for t in docs], pa.list_(pa.int64())),
    })


def docs_only(table: pa.Table) -> pa.Table:
    """Drop the generator's token column (kept so later extracts can plant
    near-duplicates of earlier ones)."""
    return table.drop_columns(["_tokens"])


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


# --------------------------------------------------------- hourly extracts


def orders_extract(
    rng: np.random.Generator,
    window: pa.Table,
    next_key: int,
    n_update: int,
    n_new: int,
    n_late: int,
) -> pa.Table:
    """One hourly orders extract over the current live table's trailing
    3-month ``window`` rows: ``n_update`` rows rewritten (new price and
    status), ``n_late`` rows re-staged unchanged, and ``n_new`` new keys
    ``next_key ..`` dated inside the window. Keys are unique in the
    extract, so last-writer-wins is well defined."""
    pick = rng.choice(window.num_rows, n_update + n_late, replace=False)
    upd = window.take(pa.array(pick[:n_update])).to_pydict()
    late = window.take(pa.array(pick[n_update:]))
    upd["o_totalprice"] = list(_cents(rng, 100_000, 50_000_000, n_update))
    upd["o_orderstatus"] = _pick(rng, ("F", "O", "P"), n_update).to_pylist()
    dates = window.column("o_orderdate").cast(pa.int64()).to_numpy()
    new = {
        "o_orderkey": np.arange(next_key, next_key + n_new, dtype="int64"),
        "o_custkey": window.column("o_custkey").to_numpy()[rng.integers(0, len(dates), n_new)],
        "o_orderstatus": _pick(rng, ("O", "P"), n_new),
        "o_totalprice": _cents(rng, 100_000, 50_000_000, n_new),
        "o_orderdate": _ts(dates[rng.integers(0, len(dates), n_new)]),
        "o_orderpriority": _pick(rng, PRIORITIES, n_new),
    }
    return pa.concat_tables([
        pa.table(upd, schema=ORDERS_SCHEMA),
        late.cast(ORDERS_SCHEMA),
        pa.table(new, schema=ORDERS_SCHEMA),
    ])
