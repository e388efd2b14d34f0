"""Synthetic tables in the layout graft's `Tables` loaders read.

Writes `<dir>/<table>.parquet` for region, nation, customer, supplier,
part, orders, lineitem, events, documents and embeddings: the TPC-H-like
star schema plus the events/documents/embeddings tables the engine's
query families read, in the shape of the engine's seed-42 test tables
(one row group per file, timezone-less microsecond timestamps). Row
counts, key ranges, value domains, physical types and value frequencies
were matched to those tables column by column with
`perfbench/fidelity.py`; the README records the comparison. The same
(seed, sf) always gives byte-identical tables. The benchmark always
uses seed 42, so its tables do not change from run to run.

    python3 perfbench/gen.py <out_dir> <sf> [seed]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def rng(seed, salt):
    return np.random.default_rng([seed, salt])


def strs(values):
    return pa.array(values, type=pa.string())


def ts_us(base, micros):
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(np.asarray(micros, dtype=np.int64) + epoch, type=pa.timestamp("us"))


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 30)


def generate(out, sf, seed):
    os.makedirs(out, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    day = 86_400_000_000

    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": strs(REGIONS)})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": strs([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng(seed, 1)
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": strs([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": strs(np.array(SEGMENTS)[r.integers(0, 5, n_cust)])})

    r = rng(seed, 2)
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": strs([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(money(r, -999.99, 9999.99, n_supp))})

    r = rng(seed, 3)
    keys = np.arange(n_part)
    names = [f"{ADJ[a]} {NOUN[b]}" for a, b in
             zip(r.integers(0, len(ADJ), n_part), r.integers(0, len(NOUN), n_part))]
    write(out, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": strs(names),
        "p_brand": strs([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": strs(np.array(PTYPES)[r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1))})

    r = rng(seed, 4)
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": strs(np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(money(r, 1000.0, 500000.0, n_ord)),
        "o_orderdate": ts_us(dt.datetime(1995, 1, 1), r.integers(0, 2405, n_ord) * day),
        "o_orderpriority": strs(np.array(PRIORITIES)[r.integers(0, 5, n_ord)])})

    r = rng(seed, 5)
    write(out, "lineitem", {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(money(r, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(np.round(r.uniform(0.0, 0.10, n_li), 2)),
        "l_tax": pa.array(np.round(r.uniform(0.0, 0.08, n_li), 2)),
        "l_returnflag": strs(np.array(["A", "N", "R"])[r.integers(0, 3, n_li)]),
        "l_linestatus": strs(np.array(["F", "O"])[r.integers(0, 2, n_li)]),
        "l_shipdate": ts_us(dt.datetime(1995, 1, 2), r.integers(0, 2499, n_li) * day)})

    r = rng(seed, 6)
    n_users = max(15, int(15_000 * sf))
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": ts_us(dt.datetime(2024, 1, 1), np.sort(r.integers(0, 30 * day, n_ev))),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": strs(np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(r.exponential(50.0, n_ev), 2)),
        "props": strs([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)])})

    # documents: 5 % are a copy of another document plus " dup" (the
    # near-duplicate signal the dedup families look for), 0.16 % are
    # exact copies
    r = rng(seed, 7)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[r.integers(0, len(VOCAB), int(k))])
             for k in r.integers(10, 101, n_doc)]
    near = r.choice(n_doc, n_doc // 20 + n_doc * 16 // 10000, replace=False)
    src = r.choice(np.setdiff1d(np.arange(n_doc), near), len(near), replace=False)
    for k, (i, j) in enumerate(zip(near, src)):
        texts[i] = texts[j] + " dup" if k < n_doc // 20 else texts[j]
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": strs(texts),
        "lang": strs(np.array(LANGS)[r.choice(5, n_doc, p=LANG_P)]),
        "source": strs([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = rng(seed, 8)
    v = r.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]) if len(sys.argv) > 3 else 42)
