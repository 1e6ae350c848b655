"""Seeded generator for the llm_session tables.

Writes documents, embeddings, lineitem, orders and part as one parquet file
each, in the shapes the registry's queries read (FIXTURES.md section 4):
documents are bags of words over a 30-word vocabulary with 5% planted
near-duplicates (a copy of an earlier document plus one word), embeddings
are unit-norm 64-d float vectors, and the star-schema tables follow the
TPC-H-like key ranges. numpy's PCG64 stream is the same on every platform,
so one (seed, scale) pair always yields the same rows.

Usage: python3 gen_llm.py --seed N --scale S --out DIR
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the spark window merge table column vector stream value data "
         "small join filter big group hash customer sort order slow line "
         "part fast row agg key query scan batch").split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
COLORS = "red blue green black white small large steel plastic paper".split()
THINGS = "ring widget bolt fan bag cable case lamp cup box".split()
TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z


def documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def part(rng, n):
    return pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array([f"{COLORS[a]} {THINGS[b]}" for a, b in
                            zip(rng.integers(0, 10, n), rng.integers(0, 10, n))]),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n)]),
        "p_type": pa.array([TYPES[j] for j in rng.integers(0, len(TYPES), n)]),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n) % 1000) / 10.0),
    })


def orders(rng, n, customers):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, customers, n).astype(np.int64)),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": pa.array(EPOCH_1995_US + rng.integers(0, 2400, n) * DAY_US,
                                type=pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n)]),
    })


def lineitem(rng, n, n_orders, n_parts, n_supp):
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_parts, n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(EPOCH_1995_US + rng.integers(0, 2500, n) * DAY_US,
                               type=pa.timestamp("us")),
    })


def generate(seed, scale, out):
    rng = np.random.Generator(np.random.PCG64(seed))
    n_orders = int(1_500_000 * scale)
    n_parts = int(200_000 * scale)
    tables = {
        "documents": documents(rng, int(50_000 * scale)),
        "embeddings": embeddings(rng, int(20_000 * scale)),
        "part": part(rng, n_parts),
        "orders": orders(rng, n_orders, int(150_000 * scale)),
        "lineitem": lineitem(rng, int(6_000_000 * scale), n_orders, n_parts,
                             int(10_000 * scale)),
    }
    os.makedirs(out, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.scale, a.out)
