"""Deterministic synthetic tables for the benchmark workloads.

The schema is the repo's test schema (TPC-H-ish star schema, an `events`
stream, a `documents` corpus and an `embeddings` table); every column
follows the generative structure of the test data: independent uniforms
over the same value grids and date windows, a five-language corpus over
a 30-word vocabulary with ~5% near-duplicates (an earlier text plus
" dup") and a few exact duplicates, and unit embeddings around ten
label clusters.

The tables depend only on the sizes and a fixed data seed, never on the
benchmark's workload seed: that seed picks operation order and query
inputs, so two seeds measure the same data.

    python3 perfbench/gen_data.py <out_dir> [docs] [vecs] [relational 0|1]
"""
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
DAY_US = 86400000000
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [702, 2059, 744, 742, 753]


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, n, lo, hi):
    span = int((np.datetime64(hi) - np.datetime64(lo)).astype("timedelta64[D]").astype(int))
    return (np.datetime64(lo) + rng.integers(0, span + 1, n).astype("timedelta64[D]")
            ).astype("datetime64[us]")


def cat(rng, n, values):
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def relational(rng, scale=0.1):
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_ord, n_line = int(1500000 * scale), int(6000000 * scale)
    n_evt, n_users = int(1000000 * scale), int(15000 * scale)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, n_cust, -1000, 10000),
        "c_mktsegment": cat(rng, n_cust, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                          "HOUSEHOLD", "MACHINERY"])})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, n_supp, -1000, 10000)})
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": cat(rng, n_part, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                    "SMALL", "STANDARD"]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": cat(rng, n_ord, ["F", "O", "P"]),
        "o_totalprice": money(rng, n_ord, 1000, 500000),
        "o_orderdate": pa.array(days(rng, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": cat(rng, n_ord, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                            "4-NOT SPECIFIED", "5-LOW"])})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, n_line, 900, 105000),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": cat(rng, n_line, ["A", "N", "R"]),
        "l_linestatus": cat(rng, n_line, ["F", "O"]),
        "l_shipdate": pa.array(days(rng, n_line, "1995-01-02", "2001-11-04"))})
    ts_lo = np.datetime64("2024-01-01T00:00:00").astype("datetime64[us]").astype(np.int64)
    ts = np.sort(rng.integers(ts_lo, ts_lo + 30 * DAY_US, n_evt))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": cat(rng, n_evt, ["click", "error", "purchase", "signup", "view"]),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    return t


def documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.array(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - l:e]) for e, l in zip(ends, lens)]
    p = np.array(LANG_WEIGHTS, dtype=float)
    langs = list(np.array(LANGS)[rng.choice(len(LANGS), n, p=p / p.sum())])
    # ~5% near-duplicates (another doc's text plus one word), ~0.16% exact
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in range(624, n, 625):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, n, dim=64, clusters=10):
    centers = rng.normal(0, 1, (clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, clusters, n)
    v = centers[labels] + rng.normal(0, 0.6, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def main():
    out = sys.argv[1]
    n_docs = int(sys.argv[2]) if len(sys.argv) > 2 else 5000
    n_vecs = int(sys.argv[3]) if len(sys.argv) > 3 else 2000
    with_rel = len(sys.argv) <= 4 or sys.argv[4] == "1"
    tmp = out + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    # independent generators per block, so one table's size never
    # perturbs another's content
    tables = {}
    if with_rel:
        tables.update(relational(np.random.default_rng(DATA_SEED)))
    tables["documents"] = documents(np.random.default_rng(DATA_SEED + 1), n_docs)
    tables["embeddings"] = embeddings(np.random.default_rng(DATA_SEED + 2), n_vecs)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp(n_docs, n_vecs, with_rel))
    os.rename(tmp, out)


def stamp(n_docs, n_vecs, with_rel):
    """Identity of a generated data set: its sizes and this generator."""
    with open(__file__, "rb") as f:
        src = hashlib.sha256(f.read()).hexdigest()[:16]
    return f"docs={n_docs} vecs={n_vecs} relational={int(with_rel)} gen={src}"


if __name__ == "__main__":
    main()
