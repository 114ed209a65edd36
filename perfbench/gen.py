"""Seeded generator for the benchmark's input tables.

Writes the ten parquet tables the query registries read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
with the column names, types and value domains of the project's synthetic
test data: a TPC-H-like star schema with independent uniform columns, a
30-day event stream, a word-salad document corpus in which 5% of the
documents are near duplicates of another one, and unit-norm 64-d
embeddings. The same (scale, seed) always gives the same bytes.

Usage: python3 perfbench/gen.py <out-dir> <scale> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
DAY_US = 86_400_000_000


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, n_days, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, n_days + 1, n) * DAY_US, pa.timestamp("us"))


def documents(rng, n):
    """Word-salad texts of 10-100 words; 5% copy another text and append
    the token `dup`, so near-duplicate detection has pairs to find."""
    texts = [" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 101))])
             for _ in range(n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[rng.integers(0, n)] + " dup"
    return texts


def generate(out, scale, seed):
    rng = np.random.default_rng(seed)
    rows = lambda n: max(1, int(round(n * scale)))
    n_cust, n_supp, n_part = rows(150_000), rows(10_000), rows(200_000)
    n_ord, n_line, n_ev = rows(1_500_000), rows(6_000_000), rows(1_000_000)
    n_doc, n_emb = max(500, rows(50_000)), max(500, rows(20_000))
    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": pa.array(REGIONS)},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pick(rng, SEGMENTS, n_cust)},
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp))},
        "part": {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array([f"{ADJECTIVES[a]} {NOUNS[b]}" for a, b in
                                rng.integers(0, 8, (n_part, 2))]),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1))},
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(money(rng, 1000, 500_000, n_ord)),
            "o_orderdate": days(rng, "1995-01-01", 2403, n_ord),
            "o_orderpriority": pick(rng, PRIORITIES, n_ord)},
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(money(rng, 900, 105_000, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": pick(rng, ["F", "O"], n_line),
            "l_shipdate": days(rng, "1995-01-02", 2498, n_line)},
        "events": {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(np.sort(np.datetime64("2024-01-01", "us").astype(np.int64)
                                   + rng.integers(0, 30 * DAY_US, n_ev)),
                           pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, rows(15_000), n_ev, dtype=np.int64)),
            "event_type": pick(rng, EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])},
    }
    texts = documents(rng, n_doc)
    tables["documents"] = {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pick(rng, LANGS, n_doc, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32))}
    os.makedirs(out, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), f"{out}/{name}.parquet")


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
