#!/usr/bin/env python3
"""Seeded generator for the harness tables the declared queries read.

Writes the ten parquet tables (region nation customer supplier part orders
lineitem events documents embeddings) with the schemas listed in
FIXTURES.md and distributions modelled on them:

  - TPC-H-ish star schema: customer 150k*sf, supplier 10k*sf, part 200k*sf,
    orders 1.5M*sf, lineitem 6M*sf rows; keys 0..n-1, foreign keys uniform,
    dates at midnight, prices rounded to cents
  - events: 1M*sf rows, ids in timestamp order over January 2024,
    15k*sf users, exponential values (mean 50), props '{"k": 0..99}'
  - documents: max(500, 50k*sf) rows of 10-99 tokens over the fixture's
    30-word vocabulary; 5% are an earlier doc plus the token "dup"
    (near-duplicates) and 0.16% are exact copies. These are the rates
    measured in the fixture tables themselves: in the sf0.1 documents
    250 of 5000 texts (5%) end in " dup" and 243 of those have their base
    text in the table, 8 are exact copies (4992 distinct texts), texts
    have 10-100 tokens (44-577 chars) and 31 distinct tokens, "dup"
    among them; sf0.001 has 25 " dup" texts of 500. The documents of
    scripts/gen_scale_corpus.py follow other rules (100-500 chars, 0.2%
    one-token edits) and its harness vocabulary is read from the fixture
    files, so they are not reused here.
  - embeddings: max(500, 20k*sf) unit-norm 64-dim float32 vectors

Usage: gen_tables.py <sf> <outDir> [--seed=N]
Deterministic for a given (sf, seed).
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PTYPES = ["PROMO", "ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

DAY_US = 86_400_000_000


def _days(start, end):
    """Microseconds since the epoch of each midnight in [start, end]."""
    d = np.arange(np.datetime64(start), np.datetime64(end) + 1)
    return d.astype("datetime64[us]").astype(np.int64)


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(sf, out, seed=42):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1))})
    order_days = _days("1995-01-01", "2001-08-01")
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _ts(rng.choice(order_days, n_ord)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    ship_days = _days("1995-01-02", "2001-11-04")
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(rng.choice(ship_days, n_line))})
    t0 = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    ts = np.sort(rng.integers(t0, t0 + 30 * DAY_US, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100))))
             for _ in range(n_docs)]
    for _ in range(int(round(n_docs * 0.05))):
        dst = int(rng.integers(1, n_docs))
        texts[dst] = texts[int(rng.integers(0, dst))] + " dup"
    for _ in range(max(1, int(round(n_docs * 0.0016)))):
        dst = int(rng.integers(1, n_docs))
        texts[dst] = texts[int(rng.integers(0, dst))]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})


def main():
    if len(sys.argv) < 3:
        sys.exit("usage: gen_tables.py <sf> <outDir> [--seed=N]")
    seed = 42
    for a in sys.argv[3:]:
        if a.startswith("--seed="):
            seed = int(a.split("=", 1)[1])
    generate(float(sys.argv[1]), sys.argv[2], seed)


if __name__ == "__main__":
    main()
