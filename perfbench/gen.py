"""Seeded input generator for the benchmark (numpy + pyarrow, no Spark).

Every table mirrors the schema and value distributions of the driver's
parquet testdata (documents, events, embeddings and the TPC-H-ish star):
the 10-100 word texts over the same 30-word vocabulary, the same language
mix, ~67 events per user, unit-norm 64-d embeddings. Generation runs
before the Spark session starts, so it never warms the JVM under test.

Planted structure:

- documents: exact copies and ``<text> dup`` near copies of earlier
  documents, with the copied original drawn Zipf-skewed (a few hot
  originals are copied many times).
- embeddings: perturbed copies of earlier vectors (near duplicates).

Each table is written as ``<name>.parquet/part-*.parquet`` with at least
``2 * cores`` files, so a scan gets enough tasks to fill every core.
"""

from __future__ import annotations

import hashlib
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array([
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
])
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PART_TYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
PART_ADJ = np.array(["red", "blue", "hot", "old", "small", "large"])
PART_NOUN = np.array(["plate", "ring", "rod", "bolt", "gizmo", "widget", "gear"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400 * 1_000_000


def _zipf_index(rng: np.random.Generator, n_items: int, size: int, a: float = 1.3) -> np.ndarray:
    """Zipf-distributed indices in [0, n_items): index 0 is the hottest."""
    return (rng.zipf(a, size) - 1) % n_items


def documents(rng: np.random.Generator, n: int, n_sources: int = 20,
              exact_frac: float = 0.01, near_frac: float = 0.05) -> pa.Table:
    """10-100 word texts over the testdata vocabulary; testdata lang mix;
    sources round-robin; planted exact and ``dup``-suffixed near copies."""
    lengths = rng.integers(10, 101, n)
    words = VOCAB[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < exact_frac + near_frac:
            j = int(_zipf_index(rng, i, 1)[0])
            texts[i] = texts[j] if kind[i] < exact_frac else texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % n_sources}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def events(rng: np.random.Generator, n: int, days: int = 30) -> pa.Table:
    """Event stream sorted by ts (event_id order), ~67 events per user,
    unique (user_id, ts), exponential values rounded to cents."""
    off = np.sort(rng.integers(0, days * _DAY_US, n))
    off = off + np.arange(n)  # strictly increasing: (user_id, ts) unique
    n_users = max(n * 3 // 200, 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(_EPOCH_2024 + off.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int = 64,
               near_frac: float = 0.02) -> pa.Table:
    """Unit-norm float32 vectors, 10 labels, planted near-duplicate vectors."""
    v = rng.standard_normal((n, dim))
    for i in np.nonzero(rng.random(n) < near_frac)[0]:
        if i > 0:
            v[i] = v[rng.integers(0, i)] + 0.01 * rng.standard_normal(dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> pa.Array:
    d0, d1 = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, int((d1 - d0).astype(int)) + 1, n)
    return pa.array((d0 + days.astype("timedelta64[D]")).astype("datetime64[us]"),
                    pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int, nd: int = 2) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), nd)


def tpch(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    """region, nation, customer, orders, lineitem and part at scale ``sf``."""
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_li, n_part = int(6_000_000 * sf), int(200_000 * sf)
    i32 = np.int32
    return {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=i32)),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({"n_nationkey": pa.array(np.arange(25, dtype=i32)),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)]),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-07-31"),
            "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)]),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 100, n_li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(i32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04"),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                PART_ADJ[rng.integers(0, 6, n_part)], PART_NOUN[rng.integers(0, 7, n_part)])]),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(PART_TYPES[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
            "p_retailprice": pa.array(_money(rng, 900.0, 1000.0, n_part, 1)),
        }),
    }


def write_table(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` parquet parts under directory ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:05d}.parquet"))


def table_digest(table: pa.Table) -> str:
    """Content digest of a table (schema + values), independent of chunking."""
    h = hashlib.sha256(table.schema.to_string().encode())
    for batch in table.combine_chunks().to_batches():
        for col in batch.columns:
            for buf in col.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()[:16]


def generate(spec: dict[str, dict], seed: int) -> dict[str, pa.Table]:
    """Build every table ``spec`` names; ``spec`` maps a table to its size
    parameters (``n`` rows, or ``sf`` for the TPC-H group). Each table draws
    from its own stream keyed by (seed, table name), so adding a table
    never shifts another."""
    makers = {"documents": documents, "events": events, "embeddings": embeddings}
    out: dict[str, pa.Table] = {}
    for name, params in spec.items():
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        if name == "tpch":
            out.update(tpch(rng, **params))
        else:
            out[name] = makers[name](rng, **params)
    return out
