#!/usr/bin/env python3
"""Seeded analytics corpus and its DuckDB oracle hashes, for the `query`
workload.

    corpus.py gen --seed <n> --out <dir>
        Writes region, nation, customer, supplier, part, orders, lineitem,
        events, documents and embeddings as one parquet file each, in the
        shape the engine's queries are declared over: 120,000 lineitem
        rows, 30,000 orders, 20,000 events, 500 documents and 500
        embeddings. The same seed gives the same tables. The seed
        draws values only: row counts, lines per order, document lengths,
        which documents are near-duplicates and the label of each vector do
        not depend on it, so the work a query does varies little between
        seeds.

    corpus.py oracle --dir <corpus> --sql <name->sql json> --out <json>
        Runs each oracle query in DuckDB and writes {name: {rows, hash}}.
        The hash is over the result with columns in name order and rows in
        result order; every value is encoded exactly (doubles by their
        IEEE-754 bits), the same encoding perfbench.ResultHash applies to
        the engine's rows.
"""
import argparse
import datetime as dt
import hashlib
import json
import os
import struct
import sys
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small big query customer "
         "order group filter stream vector").split()
ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
NOUN = ["bolt", "gear", "widget", "ring", "anvil", "plate", "rod", "gizmo"]
EPOCH = dt.datetime(1970, 1, 1)


def day_ts(days):
    """Days since 1995-01-01 -> timestamp[us] array."""
    base = np.datetime64("1995-01-01T00:00:00", "us")
    return pa.array(base + days.astype("timedelta64[D]"), type=pa.timestamp("us"))


def cents(x):
    return (x / 100.0).astype("float64")


def generate(seed, out):
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 3000, 200, 4000
    n_ord, n_evt, n_doc, n_vec = 30000, 20000, 500, 500
    os.makedirs(out, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": cents(rng.integers(-99999, 1000000, n_cust)),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": cents(rng.integers(-99999, 1000000, n_supp))})
    keys = np.arange(n_part, dtype=np.int64)
    write("part", {
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": cents(90000 + (keys % 1000) * 10)})
    odate = rng.integers(0, 2404, n_ord)
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": cents(rng.integers(101370, 49997860, n_ord)),
        "o_orderdate": day_ts(odate),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    lines = 1 + (np.arange(n_ord) * 5) % 7
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    l_num = np.concatenate([np.arange(1, n + 1) for n in lines]).astype(np.int32)
    n_li = len(l_ord)
    write("lineitem", {
        "l_orderkey": l_ord, "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64), "l_linenumber": l_num,
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": cents(rng.integers(90182, 10499789, n_li)),
        "l_discount": cents(rng.integers(0, 11, n_li)), "l_tax": cents(rng.integers(0, 9, n_li)),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": day_ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li))})
    ts = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_evt))
    write("events", {
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n_evt).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_evt),
        "value": cents(rng.integers(1, 49003, n_evt)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = []
    for i in range(n_doc):
        if i >= 10 and i % 5 == 0:  # near-duplicate of an earlier doc, two words changed
            words = texts[i - 5].split()
            for p in rng.choice(len(words), 2, replace=False):
                words[p] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), 10 + (i * 37) % 71)]
        texts.append(" ".join(words))
    langs = ["en"] * 44 + ["zh"] * 15 + ["de"] * 14 + ["fr"] * 13 + ["es"] * 14
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
        "lang": [langs[(i * 37) % 100] for i in range(n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centroids = rng.normal(0, 1, (10, 64))
    labels = np.arange(n_vec) % 10
    vecs = centroids[labels] + 0.5 * rng.normal(0, 1, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array([v.tolist() for v in vecs], type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


def enc(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return f"I{v}"
    if isinstance(v, float):
        return "D" + struct.pack(">d", v).hex()
    if isinstance(v, str):
        return "S" + v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return f"M{(v - EPOCH) // dt.timedelta(microseconds=1)}"
    if isinstance(v, dt.date):
        return f"E{(v - dt.date(1970, 1, 1)).days}"
    if isinstance(v, Decimal):
        return "X" + format(v.normalize(), "f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(enc(x) for x in v) + "]"
    raise TypeError(f"no encoding for {type(v).__name__}")


def result_hash(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    h = hashlib.sha256()
    for r in rows:
        h.update(("\x01".join(enc(r[i]) for i in order) + "\n").encode())
    return h.hexdigest()[:32]


def oracle(corpus, sql_file, out):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
    res = {}
    for name, sql in sorted(json.load(open(sql_file)).items()):
        cur = con.execute(sql)
        names = [d[0] for d in cur.description]
        rows = cur.fetchall()
        res[name] = {"rows": len(rows), "hash": result_hash(names, rows)}
    with open(out, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    g = sub.add_parser("gen")
    g.add_argument("--seed", type=int, required=True)
    g.add_argument("--out", required=True)
    o = sub.add_parser("oracle")
    o.add_argument("--dir", required=True)
    o.add_argument("--sql", required=True)
    o.add_argument("--out", required=True)
    a = ap.parse_args()
    if a.cmd == "gen":
        generate(a.seed, a.out)
    else:
        oracle(a.dir, a.sql, a.out)


if __name__ == "__main__":
    sys.exit(main())
