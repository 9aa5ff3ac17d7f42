"""Seeded input generation for the lifecycle benchmark.

Everything the benchmark feeds the engine is made here from one integer
seed with NumPy's PCG64 generator, so the same seed gives byte-identical
Parquet files and another seed gives different values drawn from the same
size distributions. The tables follow the TPC-H-ish star schema plus the
`events`, `documents` and `embeddings` tables that the operator registry
in `__spark_entry__.py` reads, with the same column names and types.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
PART_ADJ = ["small", "red", "blue", "hot", "cold", "large", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "anvil", "gizmo"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "zh", "es", "fr", "de"]

EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _days(rng: np.random.Generator, n: int, lo: int, hi: int) -> np.ndarray:
    return EPOCH_1995 + rng.integers(lo, hi, n) * np.timedelta64(1, "D").astype(
        "timedelta64[us]"
    )


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def orders_table(rng: np.random.Generator, n: int, n_cust: int, key0: int = 0) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(key0, key0 + n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
            "o_totalprice": pa.array(_money(rng, n, 1000.0, 500000.0)),
            "o_orderdate": pa.array(_days(rng, n, 0, 2404)),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
        }
    )


def lineitem_table(rng: np.random.Generator, n_orders: int, n_part: int, n_supp: int) -> pa.Table:
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    linenumber = np.concatenate([np.arange(1, k + 1, dtype=np.int32) for k in lines])
    n = len(okey)
    perm = rng.permutation(n)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": pa.array(okey[perm]),
            "l_partkey": pa.array(rng.integers(0, n_part, n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
            "l_linenumber": pa.array(linenumber[perm]),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": pa.array(_days(rng, n, 1, 2499)),
        }
    )


def events_table(rng: np.random.Generator, n: int, n_users: int, id0: int = 0, t0=EPOCH_2024) -> pa.Table:
    gaps = rng.exponential(26_000_000, n).astype(np.int64)
    return pa.table(
        {
            "event_id": pa.array(np.arange(id0, id0 + n, dtype=np.int64)),
            "ts": pa.array(t0 + np.cumsum(gaps).astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            # near duplicate of an earlier document, tagged like the corpus
            src = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(src), 2):
                src[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(src[: max(8, len(src) - 2)]) + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(_text(rng, int(rng.integers(8, 100))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, n).astype(np.int32)
    vec = centers[label] + rng.normal(0.0, 1.0, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(label),
        }
    )


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor `sf` (sf 0.1 ≈ 150k orders)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_orders = int(1_500_000 * sf)
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
                "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
                "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": pa.array(
                    [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))]
                ),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": pa.array(
                    rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part)
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
                "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)),
            }
        ),
        "orders": orders_table(rng, n_orders, n_cust),
        "lineitem": lineitem_table(rng, n_orders, n_part, n_supp),
        "events": events_table(rng, int(1_000_000 * sf), max(n_cust // 10, 10)),
        "documents": documents_table(rng, int(50_000 * sf)),
        "embeddings": embeddings_table(rng, int(20_000 * sf)),
    }


def write_parquet(table: pa.Table, path: str) -> str:
    """Write one snappy Parquet file; returns its sha256."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return file_sha256(path)


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def digest(checksums: dict[str, str]) -> str:
    """One sha256 over named file checksums, stable under dict order."""
    h = hashlib.sha256()
    for name in sorted(checksums):
        h.update(f"{name}={checksums[name]}\n".encode())
    return h.hexdigest()

