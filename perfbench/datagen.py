"""Seeded generator for the benchmark's input tables.

Writes one parquet file per table (``<name>.parquet``) with the schemas
and value domains of the repo's test star schema: region, nation,
customer, supplier, part, orders, lineitem, events, documents and
embeddings. The same ``--seed`` and ``--sf`` always give byte-identical
values, so a run can be repeated exactly.

    python3 perfbench/datagen.py --seed 7 --sf 0.01 --out DIR
"""

from __future__ import annotations

import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "big", "green", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64


def _days(rng, n, start, end):
    """``n`` midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _table(cols: dict, types: dict) -> pa.Table:
    return pa.table({k: pa.array(v, type=types[k]) for k, v in cols.items()})


def generate(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = _table(
        {"r_regionkey": np.arange(5), "r_name": REGIONS},
        {"r_regionkey": i32, "r_name": s},
    )
    out["nation"] = _table(
        {
            "n_nationkey": np.arange(25),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": rng.integers(0, 5, 25),
        },
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32},
    )
    out["customer"] = _table(
        {
            "c_custkey": np.arange(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        },
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64,
         "c_mktsegment": s},
    )
    out["supplier"] = _table(
        {
            "s_suppkey": np.arange(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        },
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64},
    )
    keys = np.arange(n_part)
    out["part"] = _table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        },
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32,
         "p_retailprice": f64},
    )
    out["orders"] = _table(
        {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        },
        {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s,
         "o_totalprice": f64, "o_orderdate": ts, "o_orderpriority": s},
    )
    out["lineitem"] = _table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            # full precision: a rounded sum of price x (1 - discount) then
            # never sits on a .xx5 tie that two engines may round apart
            "l_extendedprice": rng.uniform(900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        },
        {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32,
         "l_quantity": f64, "l_extendedprice": f64, "l_discount": f64, "l_tax": f64,
         "l_returnflag": s, "l_linestatus": s, "l_shipdate": ts},
    )
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    out["events"] = _table(
        {
            "event_id": np.arange(n_ev),
            "ts": start + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
        {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s, "value": f64,
         "props": s},
    )
    texts = [
        " ".join(rng.choice(WORDS, int(n)))
        for n in rng.integers(10, 101, n_docs)
    ]
    # ~5% near-duplicates: an earlier document's text plus one marker word
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = _table(
        {
            "doc_id": np.arange(n_docs),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": [len(t) for t in texts],
        },
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64},
    )
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(size=(10, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.15 * centers[labels] + rng.normal(size=(n_vec, EMBED_DIM)) / 8.0
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec), type=i64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels, type=i32),
        }
    )
    return out


def write(seed: int, sf: float, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    write(args.seed, args.sf, args.out)


if __name__ == "__main__":
    main()
