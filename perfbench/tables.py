"""Seeded input tables for the inventory workload.

Same schema as the repository's test tables (TPC-H-like star schema plus
`events`, `documents` and `embeddings`), drawn from `numpy` with a fixed
seed, so the sweep reads only what the benchmark made. Full size
matches the 0.01 scale factor (60k lineitems, 10k events, 500 documents),
with 250 embeddings (the DBSCAN oracle query grows steeply with them).
A tenth of the documents are
near-copies of another document (one word replaced), so the near-duplicate
operators find real pairs.
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("the a fast slow big small hot cold data table row column key value "
         "hash join merge sort scan filter group agg window order line part "
         "customer query spark stream batch vector").split()
ADJ = "red hot cold old small big fast green".split()
NOUN = "plate widget ring rod bolt gear pipe valve".split()


def _ts(rng, lo: str, hi: str, n: int, midnight: bool) -> pa.Array:
    a = np.datetime64(lo, "us").astype(np.int64)
    b = np.datetime64(hi, "us").astype(np.int64)
    v = rng.integers(a, b, n)
    if midnight:
        day = 86_400_000_000
        v = v - v % day
    return pa.array(v, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


# The tables are the same for every run, so expected results can be
# captured once; the workload seed only shuffles the query order.
DATA_SEED = 20241017


def generate(out: Path) -> None:
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = 1500, 100, 2000
    n_ord, n_line, n_ev = 15000, 60000, 10000
    n_doc, n_emb, n_users = 500, 250, 150
    out.mkdir(parents=True, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), out / f"{name}.parquet")

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    write("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    price = 900.0 + (pk % 1000) / 10.0
    write("part", {
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{a}{b}" for a, b in
                    zip(rng.integers(1, 6, n_part), rng.integers(1, 6, n_part))],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": price})
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(rng, "1995-01-01", "2001-08-02", n_ord, True),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lpart = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": lpart,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[lpart], 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _ts(rng, "1995-01-02", "2001-11-05", n_line, True)})
    ts = np.sort(_ts(rng, "2024-01-01", "2024-01-31", n_ev, False).to_numpy(zero_copy_only=False))
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev),
        "value": _money(rng, 0.01, 490.02, n_ev),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.1:
            w = texts[int(rng.integers(0, i))].split()
            w[int(rng.integers(0, len(w)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            w = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(w))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{v}" for v in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    # mostly spread-out unit vectors with a weak label direction (like the
    # repository's test tables), plus a tenth near-copies for the
    # near-duplicate and DBSCAN operators to find
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    noise = rng.normal(0, 1, (n_emb, 64))
    vecs = 0.15 * centers[labels] + noise / np.linalg.norm(noise, axis=1, keepdims=True)
    for i in range(10, n_emb):
        if rng.random() < 0.1:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0, 0.02, 64)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
