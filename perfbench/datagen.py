"""Seeded generator for the benchmark's input tables.

Writes the same ten parquet tables the engine's ``load_table`` reads
(TPC-H-shaped star schema plus ``events``, ``documents`` and
``embeddings``) with the column names, types and value domains of the
repository's reference test data, at a size set by ``Sizes``. The same
seed and sizes give byte-identical tables, so every run of a workload
sees the same inputs and the queries' DuckDB oracles can check the
outputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
WORDS = (
    "query row stream the spark line small fast group customer batch sort "
    "value hash filter big data part column order scan a slow agg key "
    "window table merge vector join"
).split()

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


@dataclass(frozen=True)
class Sizes:
    """Row counts per table; the reference sf0.1 data is ``Sizes()``
    scaled by ``tpch=1.0``."""

    tpch: float = 1.0  # multiplies customer/supplier/part/orders/lineitem
    events: int = 100_000
    documents: int = 5_000
    embeddings: int = 2_000


def _ts(base: np.datetime64, offsets_us: np.ndarray) -> pa.Array:
    return pa.array(base + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _write(root: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def generate(
    root: str, seed: int, sizes: Sizes = Sizes(), tables: tuple[str, ...] = ALL_TABLES
) -> None:
    """Write ``tables`` under ``root`` (created if missing). Each table
    draws from its own seeded stream, so a subset is identical to the
    same tables of a full generation."""
    os.makedirs(root, exist_ok=True)
    for name in tables:
        _write(root, name, _TABLES[name](seed, sizes))


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, ALL_TABLES.index(table)])


def _counts(sizes: Sizes) -> dict[str, int]:
    return {
        "customer": max(int(15_000 * sizes.tpch), 50),
        "supplier": max(int(1_000 * sizes.tpch), 10),
        "part": max(int(20_000 * sizes.tpch), 64),
        "orders": max(int(150_000 * sizes.tpch), 100),
    }


def _region(seed: int, sizes: Sizes) -> dict[str, pa.Array]:
    return {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    }


def _nation(seed: int, sizes: Sizes) -> dict[str, pa.Array]:
    return {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    }


def _customer(seed: int, sizes: Sizes) -> dict[str, pa.Array]:
    rng, n = _rng(seed, "customer"), _counts(sizes)["customer"]
    ck = np.arange(n, dtype=np.int64)
    return {
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    }


def _supplier(seed: int, sizes: Sizes) -> dict[str, pa.Array]:
    rng, n = _rng(seed, "supplier"), _counts(sizes)["supplier"]
    sk = np.arange(n, dtype=np.int64)
    return {
        "s_suppkey": pa.array(sk),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    }


def _part(seed: int, sizes: Sizes) -> dict[str, pa.Array]:
    rng, n = _rng(seed, "part"), _counts(sizes)["part"]
    pk = np.arange(n, dtype=np.int64)
    adj, noun = rng.integers(0, 8, n), rng.integers(0, 8, n)
    return {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n)]),
        "p_size": pa.array(rng.integers(1, 51, n, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
    }


def _order_days(seed: int, sizes: Sizes) -> np.ndarray:
    """Order dates as days after 1995-01-01 (up to 2001-08-01); shared
    by ``orders`` and the ship dates of ``lineitem``."""
    n = _counts(sizes)["orders"]
    return np.random.default_rng([seed, len(ALL_TABLES)]).integers(0, 2405, n)


def _orders(seed: int, sizes: Sizes) -> dict[str, pa.Array]:
    rng, c = _rng(seed, "orders"), _counts(sizes)
    n = c["orders"]
    return {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n)),
        "o_orderdate": _ts(_EPOCH_1995, _order_days(seed, sizes) * _DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    }


def _lineitem(seed: int, sizes: Sizes) -> dict[str, pa.Array]:
    rng, c = _rng(seed, "lineitem"), _counts(sizes)
    days = _order_days(seed, sizes)
    lines_per = rng.integers(1, 8, len(days))
    l_ok = np.repeat(np.arange(len(days), dtype=np.int64), lines_per)
    n = len(l_ok)
    starts = np.repeat(np.cumsum(lines_per) - lines_per, lines_per)
    ship = np.repeat(days, lines_per) + rng.integers(1, 122, n)
    return {
        "l_orderkey": pa.array(l_ok),
        "l_partkey": pa.array(rng.integers(0, c["part"], n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(n) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(_EPOCH_1995, ship * _DAY_US),
    }


def _events(seed: int, sizes: Sizes) -> dict[str, pa.Array]:
    rng, n = _rng(seed, "events"), sizes.events
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(_EPOCH_2024, np.sort(rng.integers(0, 30 * _DAY_US, n))),
        "user_id": pa.array(rng.integers(0, 1500, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(seed: int, sizes: Sizes) -> dict[str, pa.Array]:
    """Word-salad documents, 10-100 tokens each; 5 % are a copy of an
    earlier document plus the token ``dup`` (near-duplicates) and a few
    are exact copies, so the dedup and near-dup queries have work."""
    rng, n = _rng(seed, "documents"), sizes.documents
    words = np.array(WORDS)
    texts: list[str] = []
    lengths = rng.integers(10, 101, n)
    kinds = rng.random(n)
    for i in range(n):
        if i > 10 and kinds[i] < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and kinds[i] < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), lengths[i])]))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(seed: int, sizes: Sizes, dim: int = 64) -> dict[str, pa.Array]:
    """Unit vectors with a weak pull towards one of 10 centres (the
    ``label``): like the reference data, nearly isotropic, so the number
    of pairs above a cosine threshold hardly depends on the seed."""
    rng, n = _rng(seed, "embeddings"), sizes.embeddings
    centres = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n).astype(np.int32)
    vecs = 0.07 * centres[labels] + rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat
        ),
        "label": pa.array(labels),
    }


_TABLES = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}
