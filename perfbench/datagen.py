"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine's gates read (region nation customer
supplier part orders lineitem events documents embeddings), one parquet
file each, with the same schemas and value domains as the engine's test
data. Row counts follow a TPC-H-style scale factor. The same seed and
scale give byte-identical parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data part column order scan a slow agg "
         "key window table merge vector join").split()
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "small", "red")
PART_NOUN = ("anvil", "bolt", "ring", "rod", "widget", "gear", "nut", "pipe")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

#: order/ship dates span 1995-01-01 .. 2001-08-01 (days since epoch)
_D0 = int(np.datetime64("1995-01-01", "D").astype(np.int64))
_D1 = int(np.datetime64("2001-08-01", "D").astype(np.int64))
_DAY_US = 86_400 * 1_000_000


def _days_to_ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents; every eighth one is a near-duplicate of the
    document three before it with trailing ``dup`` tokens, so dedup and
    graph operators have real work of the same size for every seed."""
    texts: list[str] = []
    for i in range(n):
        if i % 8 == 0 and i >= 8:
            texts.append(texts[i - 3] + " dup" * (1 + (i // 8) % 3))
        else:
            k = int(rng.integers(10, 90))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 0.8, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n + 1) * dim, dim), pa.int32()), flat),
        "label": pa.array(labels.astype(np.int32)),
    })


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write all tables under ``out_dir``; returns table → row count."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = 4 * n_ord
    n_evt = max(int(1_000_000 * sf), 1_000)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)

    nk = np.arange(25)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(list(REGIONS))}),
        "nation": pa.table({
            "n_nationkey": pa.array(nk, pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in nk]),
            "n_regionkey": pa.array(nk % 5, pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(
                [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
                    rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
            "p_brand": pa.array(
                [f"Brand#{j}" for j in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(
                [PART_TYPES[j] for j in rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2))}),
    }
    odate = rng.integers(_D0, _D1, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(
            [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000, 500_000, n_ord)),
        "o_orderdate": _days_to_ts(odate),
        "o_orderpriority": pa.array(
            [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]),
    })
    lok = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900, 2100, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(
            [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(
            [("F", "O")[j] for j in rng.integers(0, 2, n_line)]),
        "l_shipdate": _days_to_ts(odate[lok] + rng.integers(1, 122, n_line)),
    })
    t0_ns = int(np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64))
    ts = np.sort(rng.integers(0, 30 * 86_400 * 10**9, n_evt)) + t0_ns
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        # nanosecond timestamps, as the engine's loader expects
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(n_evt // 66, 10), n_evt), pa.int64()),
        "event_type": pa.array(
            [EVENT_TYPES[j] for j in rng.integers(0, 5, n_evt)]),
        "value": pa.array(np.round(rng.exponential(60.0, n_evt), 2)),
        "props": pa.array(
            [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_evt)]),
    })
    tables["documents"] = _documents(rng, n_doc)
    tables["embeddings"] = _embeddings(rng, n_emb)

    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                       coerce_timestamps=None, allow_truncated_timestamps=False)
    return {name: tbl.num_rows for name, tbl in tables.items()}
