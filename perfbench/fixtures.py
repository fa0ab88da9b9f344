"""Seeded input tables for the `analytics` workload.

The tables have the schemas of the catalog's parquet fixtures (FIXTURES.md
part B): a TPC-H-like star (region, nation, customer, supplier, part,
orders, lineitem), an `events` stream, `documents` and `embeddings`, one
parquet file each.  Row counts are `SCALE` times the sf1 counts.  The same
seed always gives the same files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.002
VOCAB = ("the a fast slow big small key order sort table scan merge part window hash "
         "join batch stream spark dup group query row data filter customer line agg "
         "value column vector").split()


def generate(out_dir, seed, scale=SCALE):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    def n(base):
        return max(5, int(base * scale))

    def pick(values, size):
        return [values[i] for i in rng.integers(0, len(values), size)]

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start, span, size):
        t0 = np.datetime64(start, "us")
        return t0 + rng.integers(0, span, size).astype("timedelta64[D]").astype("timedelta64[us]")

    def write(name, cols, schema):
        pq.write_table(pa.table(cols, schema=pa.schema(schema)),
                       os.path.join(out_dir, f"{name}.parquet"))

    customers, orders, lines = n(150000), n(1500000), n(6000000)
    parts, suppliers, docs, events = n(200000), n(10000), n(500000), n(1000000)
    users = n(15000)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    write("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
          [("r_regionkey", i32), ("r_name", s)])
    write("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": np.arange(25, dtype=np.int32) % 5},
          [("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)])
    write("customer", {
        "c_custkey": np.arange(customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": rng.integers(0, 25, customers, dtype=np.int32),
        "c_acctbal": money(-999.99, 9999.99, customers),
        "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                             customers)},
        [("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64),
         ("c_mktsegment", s)])
    write("supplier", {
        "s_suppkey": np.arange(suppliers, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        "s_nationkey": rng.integers(0, 25, suppliers, dtype=np.int32),
        "s_acctbal": money(-999.99, 9999.99, suppliers)},
        [("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)])
    adjectives = ["cold", "small", "blue", "big", "red", "shiny", "old"]
    nouns = ["widget", "anvil", "gear", "bolt", "spring", "valve", "lever", "pipe", "nut"]
    write("part", {
        "p_partkey": np.arange(parts, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(pick(adjectives, parts), pick(nouns, parts))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, parts)],
        "p_type": pick(["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"], parts),
        "p_size": rng.integers(1, 51, parts, dtype=np.int32),
        "p_retailprice": 900.0 + (np.arange(parts) % 200) / 10.0},
        [("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s), ("p_size", i32),
         ("p_retailprice", f64)])
    write("orders", {
        "o_orderkey": np.arange(orders, dtype=np.int64),
        "o_custkey": rng.integers(0, customers, orders, dtype=np.int64),
        "o_orderstatus": pick(["F", "O", "P"], orders),
        "o_totalprice": money(1000.0, 500000.0, orders),
        "o_orderdate": days("1995-01-01", 2404, orders),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                orders)},
        [("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s), ("o_totalprice", f64),
         ("o_orderdate", ts), ("o_orderpriority", s)])
    write("lineitem", {
        "l_orderkey": rng.integers(0, orders, lines, dtype=np.int64),
        "l_partkey": rng.integers(0, parts, lines, dtype=np.int64),
        "l_suppkey": rng.integers(0, suppliers, lines, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, lines, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, lines).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, lines),
        "l_discount": rng.integers(0, 11, lines) / 100.0,
        "l_tax": rng.integers(0, 9, lines) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], lines),
        "l_linestatus": pick(["F", "O"], lines),
        "l_shipdate": days("1995-01-02", 2498, lines)},
        [("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
         ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
         ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)])
    write("events", {
        "event_id": np.arange(events, dtype=np.int64),
        "ts": np.sort(np.datetime64("2024-01-01", "us")
                      + rng.integers(0, 30 * 86400 * 10**6, events).astype("timedelta64[us]")),
        "user_id": rng.integers(0, users, events, dtype=np.int64),
        "event_type": pick(["view", "click", "signup", "purchase", "error"], events),
        "value": money(0.01, 330.0, events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, events)]},
        [("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s), ("value", f64),
         ("props", s)])
    # every tenth document is a one-token edit of its predecessor, so the
    # near-duplicate queries have candidates to verify
    texts = []
    for i in range(docs):
        if i % 10 == 1:
            toks = texts[-1].split()
            toks[min(2, len(toks) - 1)] = "edited"
        else:
            toks = pick(VOCAB, int(rng.integers(8, 68)))
        texts.append(" ".join(toks))
    write("documents", {
        "doc_id": np.arange(docs, dtype=np.int64), "text": texts,
        "lang": pick(["en", "es", "zh", "de", "fr"], docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        [("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)])
    # embeddings: ten label centroids plus noise, unit length
    labels = rng.integers(0, 10, docs, dtype=np.int32)
    centroids = rng.uniform(-0.5, 0.5, (10, 64))
    vecs = centroids[labels] + 0.6 * rng.uniform(-0.5, 0.5, (docs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(docs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels},
        [("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)])
