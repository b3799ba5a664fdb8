"""Synthetic parquet tables for the `register_floor` workload.

Writes `customer`, `orders`, `lineitem` and `documents` -- the four tables
the benchmarked register queries read -- with the schemas and value ranges
of the TPC-H-style test data the register is written against:

- key ranges scale with `sf` as in TPC-H (150k customers, 1.5M orders, 6M
  line items, 10k suppliers and 200k parts per unit of scale);
- `documents.text` is word soup over a 31-word vocabulary, 10-99 words per
  document; a share of the documents are near-copies of earlier ones (a few
  words replaced), so the similarity joins have pairs to find.

The data seed is fixed by the caller; a given (seed, sf, docs) always
produces the same rows, so each query's result hash can be pinned.

    python3 perfbench/gen_tables.py --out tables --sf 0.02 --docs 2000
"""

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data table row column key value hash join merge sort scan "
         "filter group agg order line part customer query batch stream "
         "window spark vector fast slow big small dup").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en"] * 3 + ["zh", "de", "fr", "es"]
NEAR_DUP_SHARE = 0.15
DAY_US = 86_400_000_000
EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _write(table, out_dir, name):
    path = os.path.join(out_dir, name + ".parquet")
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _ts(days):
    return pa.array(days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            words = texts[rng.integers(0, i)].split(" ")
            for k in rng.choice(len(words), size=max(1, len(words) // 20), replace=False):
                words[k] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), rng.integers(10, 100))]
        texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), n)]),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir, sf, docs, seed=42):
    """Write the four tables under `out_dir`; return their sizes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_supp, n_part = max(10, int(10_000 * sf)), max(200, int(200_000 * sf))

    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_cust)]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array([SEGMENTS[k] for k in rng.integers(0, 5, n_cust)]),
    })
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pa.array([("O", "F", "P")[k] for k in rng.integers(0, 3, n_ord)]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(EPOCH_1995 + odays),
        "o_orderpriority": pa.array([PRIORITIES[k] for k in rng.integers(0, 5, n_ord)]),
    })
    l_order = np.sort(rng.integers(0, n_ord, n_li)).astype(np.int64)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array([("A", "N", "R")[k] for k in rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[k] for k in rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts(EPOCH_1995 + odays[l_order] + rng.integers(1, 96, n_li)),
    })
    sizes = {name: _write(t, out_dir, name) for name, t in
             [("customer", customer), ("orders", orders), ("lineitem", lineitem),
              ("documents", documents(rng, docs))]}
    return {"bytes": sum(sizes.values()), "tables": sizes,
            "rows": {"customer": n_cust, "orders": n_ord, "lineitem": n_li,
                     "documents": docs}}


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    print(json.dumps(generate(a.out, a.sf, a.docs, a.seed)))
