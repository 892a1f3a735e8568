"""Seeded generator for the benchmark's fixture tables.

Writes the ten tables the declared queries read (`region` … `embeddings`)
as one parquet file each, with the column names and physical types of the
fixture tables described in FIXTURES.md §B, at the sf0.01 row counts.
The same seed always produces byte-identical tables.

The distributions follow a profile of the sf0.01 fixture: 10–99 words
per document drawn uniformly from a 30-word vocabulary (p10/p50/p90 of
21/56/88 words in the fixture); 5% of the documents (25 at sf0.01) are
a copy of another document, sometimes itself a copy, plus the word "dup",
at a random position, and no two texts are equal; foreign keys are
uniform (fixture: 1–13 lineitems per order, 14–49 per part, 541–663 per
supplier, 1–25 orders per customer, 49–86 events per user, 257 orders
without lineitems); event values are exponential with mean 50; the
embeddings are unit-norm Gaussian vectors with no relation to the
documents or labels, as in the fixture (nearest-neighbour cosine p50
0.37, max 0.51).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {  # sf0.01 row counts (FIXTURES.md §B)
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_ADJ = ["small", "new", "blue", "old", "red", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.43, 0.15, 0.13, 0.15]
VOCAB = ("row the query stream value hash batch sort data big filter fast "
         "spark line small customer group key agg scan slow table part a "
         "merge window order column join vector").split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days + 1, n).astype("timedelta64[D]")


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _documents(rng, n):
    texts, copied = [], set()
    copies = set(rng.choice(np.arange(1, n), n // 20, replace=False).tolist())
    for i in range(n):
        if i in copies:
            # near-duplicate: a copy of an earlier doc plus one marker word;
            # no doc is copied twice, so no two texts are equal
            src = int(rng.integers(0, i))
            while src in copied:
                src = int(rng.integers(0, i))
            copied.add(src)
            texts.append(texts[src] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    # a copy may come before or after its source
    texts = [texts[j] for j in rng.permutation(n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n):
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(out, seed):
    """Write every table for `seed` into directory `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    r = ROWS
    _write(out, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    n = r["customer"]
    _write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n)}))
    n = r["supplier"]
    _write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)}))
    n = r["part"]
    _write(out, "part", pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1)}))
    n = r["orders"]
    _write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, r["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n), pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n)}))
    n = r["lineitem"]
    _write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, r["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, r["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, r["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n), pa.timestamp("us"))}))
    n = r["events"]
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    _write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}))
    _write(out, "documents", _documents(rng, r["documents"]))
    _write(out, "embeddings", _embeddings(rng, r["embeddings"]))


if __name__ == "__main__":
    import sys
    generate(sys.argv[1], int(sys.argv[2]))
