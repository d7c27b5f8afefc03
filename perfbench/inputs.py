"""Seeded input generator for the benchmark.

Writes the ten tables the program reads (a TPC-H-like star schema, an
``events`` stream table and the ``documents``/``embeddings`` tables of the
LLM-pipeline operators), one parquet file each, with the schemas of the
repository's test fixtures and the value distributions measured on their
sf0.01 and sf0.1 files (the figures are in README.md, "Inputs"). The row
counts are fixed; the seed decides every value and the row order of every
file, so the same seed gives byte-identical files and the file count never
changes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Row counts of the generated tables: the fixture's sf0.01 sizes.
ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
# Measured on the fixtures (README.md, "Inputs"): language shares; tokens
# per document, uniform over [DOC_TOKENS_LO, DOC_TOKENS_HI); the share of
# documents that are exact token copies of another document with " dup"
# appended. The fixtures' vectors have no near copies (the highest cosine
# between two of them is 0.60), so the vectors are independent.
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DOC_TOKENS_LO, DOC_TOKENS_HI = 10, 100
DOC_COPY_SHARE = 0.05
DIM = 64

US_PER_DAY = 86_400_000_000


def _days(rng, n, first, last):
    lo = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - lo).astype(int) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng):
    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": np.arange(25, dtype=np.int32) % 5}
    n = ROWS["customer"]
    t["customer"] = {"c_custkey": np.arange(n, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n)],
                     "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
                     "c_acctbal": _money(rng, n, -999.99, 9999.99),
                     "c_mktsegment": rng.choice(SEGMENTS, n)}
    n = ROWS["supplier"]
    t["supplier"] = {"s_suppkey": np.arange(n, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                     "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
                     "s_acctbal": _money(rng, n, -999.99, 9999.99)}
    n = ROWS["part"]
    t["part"] = {"p_partkey": np.arange(n, dtype=np.int64),
                 "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n),
                                                       rng.choice(PART_NOUN, n))],
                 "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
                 "p_type": rng.choice(PART_TYPES, n),
                 "p_size": rng.integers(1, 51, n).astype(np.int32),
                 "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 1)}
    n = ROWS["orders"]
    t["orders"] = {"o_orderkey": np.arange(n, dtype=np.int64),
                   "o_custkey": rng.integers(0, ROWS["customer"], n),
                   "o_orderstatus": rng.choice(["F", "O", "P"], n),
                   "o_totalprice": _money(rng, n, 1000, 500000),
                   "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
                   "o_orderpriority": rng.choice(PRIORITIES, n)}
    n = ROWS["lineitem"]
    t["lineitem"] = {"l_orderkey": np.sort(rng.integers(0, ROWS["orders"], n)),
                     "l_partkey": rng.integers(0, ROWS["part"], n),
                     "l_suppkey": rng.integers(0, ROWS["supplier"], n),
                     "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
                     "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                     "l_extendedprice": _money(rng, n, 900, 105000),
                     "l_discount": rng.integers(0, 11, n) / 100.0,
                     "l_tax": rng.integers(0, 9, n) / 100.0,
                     "l_returnflag": rng.choice(["A", "N", "R"], n),
                     "l_linestatus": rng.choice(["F", "O"], n),
                     "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04")}
    n = ROWS["events"]
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n)) + start
    t["events"] = {"event_id": np.arange(n, dtype=np.int64),
                   "ts": ts.astype("datetime64[us]"),
                   "user_id": rng.integers(0, max(1, n * 3 // 200), n),
                   "event_type": rng.choice(EVENT_TYPES, n),
                   "value": np.round(rng.exponential(50.0, n), 2),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}
    t["documents"] = _documents(rng, ROWS["documents"])
    t["embeddings"] = _embeddings(rng, ROWS["embeddings"])
    return t


def _documents(rng, n):
    texts = [" ".join(rng.choice(WORDS, rng.integers(DOC_TOKENS_LO, DOC_TOKENS_HI)))
             for _ in range(n)]
    copies = rng.choice(n, round(DOC_COPY_SHARE * n), replace=False)
    originals = np.setdiff1d(np.arange(n), copies)
    for i, src in zip(copies, rng.choice(originals, len(copies))):
        texts[i] = texts[src] + " dup"
    return {"doc_id": np.arange(n, dtype=np.int64), "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64)}


def _embeddings(rng, n):
    v = rng.standard_normal((n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32),
                                   pa.array(v.reshape(-1), pa.float32()))
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": emb,
            "label": rng.integers(0, 10, n).astype(np.int32)}


def generate(seed, out_dir):
    """Writes every table for `seed` into `out_dir` (created if missing)."""
    rng = np.random.default_rng(seed % 2**64)
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in _tables(rng).items():
        table = pa.table(cols)
        table = table.take(rng.permutation(table.num_rows))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
