"""Deterministic sf0.1 input tables for the benchmark.

Writes the ten tables the contract registry reads (``region`` ...
``embeddings``) as single-row-group parquet files, with the schemas and
value distributions of the repository's sf0.1 test tables (FIXTURES.md
part B). The tables are a pure function of ``DATA_SEED``; the expected
output digests in ``digests.json`` were made from exactly these bytes,
and ``run.fingerprint`` lets the benchmark refuse data that drifted.

    python3 perfbench/gen_data.py OUT_DIR
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.1
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "small", "hot", "cold", "red", "blue", "old", "new"]
_PART_NOUN = ["ring", "bolt", "plate", "rod", "gear", "widget", "gizmo", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(rng, start: str, n_days: int, size: int) -> np.ndarray:
    day0 = np.datetime64(start, "us")
    offs = rng.integers(0, n_days + 1, size).astype("timedelta64[D]")
    return day0 + offs.astype("timedelta64[us]")


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def make_tables(seed: int = DATA_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * SF), int(10_000 * SF), int(200_000 * SF)
    n_ord, n_li = int(1_500_000 * SF), int(6_000_000 * SF)
    n_ev, n_doc, n_emb = 100_000, 5_000, 2_000
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    })
    span_us = 30 * 86_400 * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": np.datetime64("2024-01-01", "us")
        + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(rng.choice(_WORDS, n)) for n in lens]
    # 5% near-duplicates: a copy of another document plus one marker word
    for dst, src in zip(rng.choice(n_doc, 250, replace=False), rng.integers(0, n_doc, 250)):
        texts[dst] = texts[src] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], i64),
    })
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_emb)
    vecs = centers[label] + rng.normal(scale=0.8, size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, i32),
    })
    return t


def write_tables(out_dir: str, seed: int = DATA_SEED) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=table.num_rows)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: gen_data.py OUT_DIR")
    write_tables(sys.argv[1])
