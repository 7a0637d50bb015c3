"""Synthetic input tables for the benchmark.

Writes the ten tables the program reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one parquet file each)
with the schemas and value distributions of the project's fixture tables
(FIXTURES.md): uniform keys and categories, TPC-H-like price and date
ranges, an exponential event stream over 30 days, word-salad documents of
which 5% are near-duplicates (a copy of another document plus " dup"), and
unit-norm 64-d float embeddings.

The tables depend only on the scale factor and a fixed generator seed, so
every benchmark run and every commit sees identical inputs; the benchmark's
`--seed` permutes query order instead."""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 42
VERSION = "g1"

COLORS = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
US_PER_DAY = 86_400_000_000


def _days(rng, n, first, last):
    """Timestamps at midnight, uniform over the inclusive day range."""
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * US_PER_DAY, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, n, values):
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def tables(sf):
    rng = np.random.default_rng(GENERATOR_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, n_cust, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                            "HOUSEHOLD", "MACHINERY"])})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array([f"{COLORS[a]} {NOUNS[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, n_part, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                      "SMALL", "STANDARD"]),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, n_ord, ["O", "F", "P"]),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, n_ord, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"])})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": _pick(rng, n_line, ["A", "N", "R"]),
        "l_linestatus": _pick(rng, n_line, ["F", "O"]),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})

    # Event stream: exponential inter-arrival times over 30 days, so
    # timestamps are strictly increasing with event_id.
    span_us = 30 * US_PER_DAY
    gaps = rng.exponential(span_us / (n_ev + 1), n_ev)
    ts = np.datetime64("2024-01-01", "us").astype(np.int64) + np.floor(np.cumsum(gaps)).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _pick(rng, n_ev, ["signup", "click", "error", "view", "purchase"]),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(np.array(WORDS, dtype=object)[rng.integers(0, len(WORDS), m)]) for m in lens]
    dup = rng.random(n_doc) < 0.05
    originals = np.flatnonzero(~dup)
    for i in np.flatnonzero(dup):
        texts[i] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    langs = np.array(["en", "de", "es", "fr", "zh"], dtype=object)[
        rng.choice(5, n_doc, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    v = rng.standard_normal((n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32)})
    return out


def ensure(root, sf):
    """Generate the tables under `root` unless a complete set is there."""
    done = os.path.join(root, "_done")
    if os.path.exists(done):
        return root
    os.makedirs(root, exist_ok=True)
    for name, t in tables(sf).items():
        pq.write_table(t, os.path.join(root, f"{name}.parquet"),
                       compression="snappy", row_group_size=max(1, t.num_rows))
    with open(done, "w") as f:
        f.write(f"{VERSION} sf={sf} seed={GENERATOR_SEED}\n")
    return root
