#!/usr/bin/env python3
"""Generate the SECOND synthetic decade (sf10 = 100x sf0.1 = 10x sf1)
for the cross-scale regime-transition test (r14 VERDICT item 2).

BENCHNOTES r14 made a falsifiable prediction: the >12x bytes-per-decade
keys in records/SHUFFLE_r14 vs records/SHUFFLE_sf1_r14 are the partial-aggregation
keys-bound -> rows-bound transition, so the sf1 -> sf10 ratio should
DECAY back toward ~10x once both scales sit in the rows-bound regime.
This script synthesizes exactly the tables behind those keys at 10x the
gen_sf1.py row counts with the SAME measured generative structure
(independent uniforms; key spaces scale 10x so join fan-outs hold at
~10 orders/customer, ~30 lineitems/part; events keep the 30-day window
at 10x traffic; embeddings keep the 10-cluster unit-norm structure):

  customer 1.5M, supplier 100k, part 2M, orders 15M, lineitem 60M,
  events 10M, embeddings 200k (+ region/nation copied).

documents graduated to its own decade in r16 — tools/gen_sf10_docs.py
writes 500k docs (10x gen_sf1) on an independent seed stream, closing
the r15 VERDICT gap (the LLM-pipeline family's largest measured point
was sf1). embeddings_aniso remains NOT scaled (no flagged key reads
it); its sf10 slot is absent entirely, which any accidental read
notices loudly.

Measurement-only data: ShuffleAudit / Bench read it; the DuckDB oracle
gate stays at sf0.01/sf0.1/sf1 (a 60M-row DuckDB replay adds no new
information about the transition — the byte table is the artifact).

Deterministic: numpy generator seeded 424 (distinct from gen_sf1's
streams so neither perturbs the other on regeneration). Output:
target/testdata/sf10/*.parquet — never under /root/testdata.
"""
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "target", "testdata", "sf10")
SEED, DIM = 424, 64
N_CUST, N_SUPP, N_PART = 1500000, 100000, 2000000
N_ORD, N_LINE, N_EVT, N_USERS = 15000000, 60000000, 10000000, 150000
N_VECS = 200000
DAY_US = 86400000000

os.makedirs(OUT, exist_ok=True)
nrng = np.random.default_rng(SEED)


def write(name, table):
    path = os.path.join(OUT, name)
    if os.path.islink(path):
        os.remove(path)
    pq.write_table(table, path)


def money(n, lo, hi):
    return np.round(nrng.uniform(lo, hi, n), 2)


def days(n, lo, hi):
    d = (np.datetime64(hi) - np.datetime64(lo)).astype("timedelta64[D]")
    return (np.datetime64(lo) + nrng.integers(0, d.astype(int) + 1, n)
            .astype("timedelta64[D]")).astype("datetime64[us]")


def cat(n, values):
    return pa.array(np.array(values)[nrng.integers(0, len(values), n)])


for t in ["region", "nation"]:
    write(f"{t}.parquet", pq.read_table(f"{SRC}/{t}.parquet"))

write("customer.parquet", pa.table({
    "c_custkey": pa.array(np.arange(N_CUST), pa.int64()),
    "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUST)]),
    "c_nationkey": pa.array(nrng.integers(0, 25, N_CUST), pa.int32()),
    "c_acctbal": pa.array(money(N_CUST, -1000, 10000)),
    "c_mktsegment": cat(N_CUST, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                 "HOUSEHOLD", "MACHINERY"]),
}))

write("supplier.parquet", pa.table({
    "s_suppkey": pa.array(np.arange(N_SUPP), pa.int64()),
    "s_name": pa.array([f"Supplier#{i:09d}" for i in range(N_SUPP)]),
    "s_nationkey": pa.array(nrng.integers(0, 25, N_SUPP), pa.int32()),
    "s_acctbal": pa.array(money(N_SUPP, -1000, 10000)),
}))

adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
pk = np.arange(N_PART)
write("part.parquet", pa.table({
    "p_partkey": pa.array(pk, pa.int64()),
    "p_name": pa.array([f"{adjs[a]} {nouns[b]}" for a, b in
                        zip(nrng.integers(0, 8, N_PART),
                            nrng.integers(0, 8, N_PART))]),
    "p_brand": pa.array([f"Brand#{b}" for b in nrng.integers(1, 26, N_PART)]),
    "p_type": cat(N_PART, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                           "SMALL", "STANDARD"]),
    "p_size": pa.array(nrng.integers(1, 51, N_PART), pa.int32()),
    "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
}))

write("orders.parquet", pa.table({
    "o_orderkey": pa.array(np.arange(N_ORD), pa.int64()),
    "o_custkey": pa.array(nrng.integers(0, N_CUST, N_ORD), pa.int64()),
    "o_orderstatus": cat(N_ORD, ["F", "O", "P"]),
    "o_totalprice": pa.array(money(N_ORD, 1000, 500000)),
    "o_orderdate": pa.array(days(N_ORD, "1995-01-01", "2001-08-01")),
    "o_orderpriority": cat(N_ORD, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                   "4-NOT SPECIFIED", "5-LOW"]),
}))

write("lineitem.parquet", pa.table({
    "l_orderkey": pa.array(nrng.integers(0, N_ORD, N_LINE), pa.int64()),
    "l_partkey": pa.array(nrng.integers(0, N_PART, N_LINE), pa.int64()),
    "l_suppkey": pa.array(nrng.integers(0, N_SUPP, N_LINE), pa.int64()),
    "l_linenumber": pa.array(nrng.integers(1, 8, N_LINE), pa.int32()),
    "l_quantity": pa.array(nrng.integers(1, 51, N_LINE).astype(np.float64)),
    "l_extendedprice": pa.array(money(N_LINE, 900, 105000)),
    "l_discount": pa.array(nrng.integers(0, 11, N_LINE) / 100.0),
    "l_tax": pa.array(nrng.integers(0, 9, N_LINE) / 100.0),
    "l_returnflag": cat(N_LINE, ["A", "N", "R"]),
    "l_linestatus": cat(N_LINE, ["F", "O"]),
    "l_shipdate": pa.array(days(N_LINE, "1995-01-02", "2001-11-04")),
}))

ts_lo = np.datetime64("2024-01-01T00:00:00").astype("datetime64[us]").astype(np.int64)
ts = np.sort(nrng.integers(ts_lo, ts_lo + 30 * DAY_US, N_EVT))
write("events.parquet", pa.table({
    "event_id": pa.array(np.arange(N_EVT), pa.int64()),
    "ts": pa.array(ts.astype("datetime64[us]")),
    "user_id": pa.array(nrng.integers(0, N_USERS, N_EVT), pa.int64()),
    "event_type": cat(N_EVT, ["click", "error", "purchase", "signup", "view"]),
    "value": pa.array(np.round(nrng.exponential(50.0, N_EVT), 2)),
    "props": pa.array([f'{{"k": {k}}}' for k in nrng.integers(0, 100, N_EVT)]),
}))

# embeddings: vectorized form of gen_sf1's 10-cluster unit-norm draw
centers = nrng.normal(0, 1, (10, DIM))
centers /= np.linalg.norm(centers, axis=1, keepdims=True)
labels = nrng.integers(0, 10, N_VECS)
vecs = centers[labels] + nrng.normal(0, 0.6, (N_VECS, DIM))
vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
write("embeddings.parquet", pa.table({
    "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
    "embedding": pa.array(vecs.astype(np.float32).tolist(),
                          pa.list_(pa.float32())),
    "label": pa.array(labels.astype(np.int32), pa.int32()),
}))

print(f"wrote {OUT}: customer={N_CUST} supplier={N_SUPP} part={N_PART} "
      f"orders={N_ORD} lineitem={N_LINE} events={N_EVT} "
      f"embeddings={N_VECS}")
