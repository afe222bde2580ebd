"""Seeded generator for the batch workloads' parquet tables.

Writes the ten tables every declared query reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the schemas and value domains of the harness fixtures
(FIXTURES.md section B). `scale=1.0` is the sf0.1 shape; row counts scale
linearly. The same (seed, scale) always writes byte-identical data.

Planted structure, so the dedup and clustering queries have work to do:
about one document in 625 is an exact copy of an earlier one and about
one in 20 is an earlier one with a single token replaced by "dup".
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
ADJ = ["blue", "red", "old", "new", "hot", "cold", "large", "small"]
NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "case", "drum"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400_000_000


def _epoch_us(y, m, d):
    return int((datetime.datetime(y, m, d) -
                datetime.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _days(rng, start, n_days, n):
    us = _epoch_us(*start) + rng.integers(0, n_days, n) * US_PER_DAY
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)].tolist(), pa.string())


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.0016:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and r < 0.05:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = "dup"
            texts.append(" ".join(toks))
        else:
            length = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in
                                  rng.integers(0, len(VOCAB), length)))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n):
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def _events(rng, n, users):
    span = 30 * US_PER_DAY
    ts = _epoch_us(2024, 1, 1) + np.sort(rng.integers(0, span, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    }


def tables(seed, scale):
    """Yield (name, column dict) for every table at `scale` × sf0.1."""
    rng = np.random.default_rng(seed)

    def count(base, floor):
        return max(floor, int(round(base * scale)))

    n_cust, n_supp = count(15000, 50), count(1000, 10)
    n_part, n_ord = count(20000, 50), count(150000, 200)
    n_line, n_ev = count(600000, 800), count(100000, 200)
    n_doc, n_vec = count(5000, 100), count(2000, 100)
    yield "region", {"r_regionkey": np.arange(5, dtype=np.int32),
                     "r_name": pa.array(REGIONS, pa.string())}
    yield "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    yield "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)}
    yield "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -1000, 10000, n_supp)}
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    yield "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)], pa.string()),
        "p_type": _pick(rng, TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(rng, 900, 1000, n_part)}
    yield "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, (1995, 1, 1), 2400, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)}
    yield "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, (1995, 1, 2), 2500, n_line)}
    yield "events", _events(rng, n_ev, count(1500, 10))
    yield "documents", _documents(rng, n_doc)
    yield "embeddings", _embeddings(rng, n_vec)


def generate(out_dir, seed, scale):
    """Write every table as `<out_dir>/<name>.parquet` (one file each)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables(seed, scale):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
