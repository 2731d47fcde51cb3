"""Seeded generator for the benchmark's input tables.

Writes the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`, one parquet file
each) with the value domains, key ranges and physical types of the
repository's TPC-H-ish test data (TESTDATA.md), so every declared
query, the copilot templates and the DQ rules run on them unchanged.
The same seed and scale always produce the same bytes of data.

    python3 perfbench/gen.py OUT_DIR SEED SCALE
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "big"]
NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
DAY_US = 86_400_000_000
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def days(rng, lo, hi, n):
    """Midnight timestamps uniform over [lo, hi] (ISO dates)."""
    span = (np.datetime64(hi) - np.datetime64(lo)).astype(int)
    d = rng.integers(0, span + 1, n)
    return np.datetime64(lo, "us") + d.astype("timedelta64[D]").astype("timedelta64[us]")


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def documents(rng, n):
    """Random 10-100 word texts over a 30-word vocabulary; 5% are a
    near-duplicate (another document's text plus one word)."""
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def generate(out, seed, scale, tables=None):
    """Write `tables` (default: all ten) for `seed` at TPC-H scale
    `scale`. Each table draws from its own seeded stream, so a subset
    holds the same rows as the full set."""
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = max(6_000, int(6_000_000 * scale))
    n_evt = max(1_000, int(1_000_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_vec = max(500, int(20_000 * scale))
    i32, i64 = np.int32, np.int64
    makers = {}

    def table(name):
        def register(f):
            makers[name] = f
            return f
        return register

    @table("region")
    def _(rng):
        return {"r_regionkey": np.arange(5, dtype=i32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}

    @table("nation")
    def _(rng):
        return {"n_nationkey": np.arange(25, dtype=i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": np.arange(25, dtype=i32) % 5}

    @table("customer")
    def _(rng):
        return {"c_custkey": np.arange(n_cust, dtype=i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
                "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust)}

    @table("supplier")
    def _(rng):
        return {"s_suppkey": np.arange(n_supp, dtype=i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
                "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}

    @table("part")
    def _(rng):
        pk = np.arange(n_part, dtype=i64)
        return {"p_partkey": pk,
                "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                           zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(i32),
                "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)}

    @table("orders")
    def _(rng):
        return {"o_orderkey": np.arange(n_ord, dtype=i64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": days(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord)}

    @table("lineitem")
    def _(rng):
        return {"l_orderkey": rng.integers(0, n_ord, n_line).astype(i64),
                "l_partkey": rng.integers(0, n_part, n_line).astype(i64),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype(i64),
                "l_linenumber": rng.integers(1, 8, n_line).astype(i32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": money(rng, 900.0, 105000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": days(rng, "1995-01-02", "2001-11-04", n_line)}

    @table("events")
    def _(rng):
        gaps = rng.exponential(30 * DAY_US / n_evt, n_evt).astype(i64)
        ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
        return {"event_id": np.arange(n_evt, dtype=i64),
                "ts": ts,
                "user_id": rng.integers(0, max(150, int(15_000 * scale)), n_evt).astype(i64),
                "event_type": rng.choice(EVENT_TYPES, n_evt),
                "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}

    @table("documents")
    def _(rng):
        return documents(rng, n_doc)

    @table("embeddings")
    def _(rng):
        v = rng.standard_normal((n_vec, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        return {"vec_id": np.arange(n_vec, dtype=i64),
                "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
                "label": rng.integers(0, 10, n_vec).astype(i32)}

    for i, name in enumerate(TABLES):
        if tables is None or name in tables:
            write(out, name, makers[name](np.random.default_rng([seed, i])))


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
