#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
single-row-group parquet file each, with the fixture schemas the engine
is written against (TPC-H-ish star schema, an events stream, and the
LLM-pipeline documents/embeddings tables).

The table CONTENT is a pure function of the scale and a fixed content
seed, so every benchmark seed sees the same row multiset and the same
query answers. The benchmark seed only permutes the row order of every
table: it varies physical layout, not results.

Usage:
  python3 perfbench/gen.py OUT_DIR --seed N

A finished directory carries a `_GEN_OK` stamp naming its parameters and
is reused as-is by later calls with the same parameters.
"""
import argparse
import datetime
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42

# Row counts: the sf0.01 shape of the reference fixtures. Per-query time
# at this size is mostly planning, codegen and scheduling, so a pass of a
# workload fits several times into one run.
ROWS = dict(customer=1500, supplier=100, part=2000, orders=15000,
            lineitem=60000, events=10000, users=150,
            documents=500, embeddings=500)

VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
ADJ = "blue hot small old cold red new large".split()
NOUN = "bolt gear anvil widget rod plate ring gizmo".split()


def _ts_us(start, offsets_us):
    base = int(start.replace(tzinfo=datetime.timezone.utc).timestamp() * 1e6)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _days(rng, n, lo, hi):
    """Midnight timestamps uniformly between two dates."""
    span = (hi - lo).days
    return _ts_us(datetime.datetime(lo.year, lo.month, lo.day),
                  rng.integers(0, span + 1, n) * 86_400_000_000)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def content():
    """The tables as pyarrow Tables, in key order."""
    c = ROWS
    rng = np.random.default_rng(CONTENT_SEED)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    n = c["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, n, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n)})

    n = c["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, n, -999.99, 9999.99)})

    n = c["part"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10.0, 2)})

    n = c["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n, datetime.date(1995, 1, 1),
                             datetime.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n)})

    n = c["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, c["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, c["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, n, datetime.date(1995, 1, 2),
                            datetime.date(2001, 11, 4))})

    n = c["events"]
    gaps = rng.exponential(30 * 86_400e6 / n, n).astype(np.int64) + 1
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts_us(datetime.datetime(2024, 1, 1), np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, c["users"], n), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n),
        "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})

    # ~5% of documents are near-duplicates: an earlier document's text
    # with " dup" appended (once or twice), the shape the dedup and
    # near-dup detectors are built to find.
    n = c["documents"]
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))]
                         + " dup" * int(rng.integers(1, 3)))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})

    n = c["embeddings"]
    vecs = rng.normal(0.0, 0.125, (n, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})
    return t


def generate(out, seed):
    """Write (or reuse) the permuted tables for one seed; returns out."""
    stamp = os.path.join(out, "_GEN_OK")
    want = {"seed": seed, "rows": ROWS, "content_seed": CONTENT_SEED}
    if os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f) == want:
                return out
    shutil.rmtree(out, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(seed % 2**63)
    for name, table in content().items():
        perm = rng.permutation(table.num_rows)
        shuffled = table.take(pa.array(perm))
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(shuffled, path, row_group_size=max(1, table.num_rows))
        back = pq.read_table(path)
        if back.schema != table.schema or back.num_rows != table.num_rows:
            raise SystemExit(f"gen: {name} did not round-trip "
                             f"({back.schema} / {back.num_rows} rows)")
    with open(os.path.join(tmp, "_GEN_OK"), "w") as f:
        json.dump(want, f)
    os.rename(tmp, out)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    print(generate(a.out, a.seed))


if __name__ == "__main__":
    sys.exit(main())
