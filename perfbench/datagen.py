"""Seeded generators for the benchmark's parquet fixtures.

The tables mirror the layout of the project's TPC-H-ish test data
(column names, parquet physical types, value domains) so the declared
queries and their DuckDB oracles run unchanged on them. Every value comes
from numpy's PCG64 seeded with the run's seed: one seed, one fixture.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data spark table column row query scan filter join group agg "
         "sort order key value hash window stream batch merge line part "
         "customer vector big small fast slow").split()
# The corpus parameters below are measured from the project's `documents`
# test tables (500 docs at sf0.01, 5,000 at sf0.1; the shares are sf0.1's).
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.4118, 0.1506, 0.1488, 0.1484, 0.1404]
NEAR_DUP_SHARE = 0.05            # 25 of 500 and 250 of 5,000 docs
DUP_TOKENS_P = [0.984, 0.012, 0.004]  # 1, 2 or 3 trailing " dup" tokens


def _write(dir_, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))


def _days(rng, n, start, end):
    """Midnight timestamps uniformly in [start, end] as timestamp[us]."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(dir_, seed, sf):
    """region, nation, customer, orders, lineitem and events at scale sf
    (sf=0.01: 1,500 customers, 15,000 orders, 60,000 lineitems)."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_ord, n_ev = int(150_000 * sf), int(1_500_000 * sf), int(1_000_000 * sf)
    n_li, n_part, n_supp = 4 * n_ord, int(200_000 * sf), max(10, int(10_000 * sf))

    _write(dir_, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(dir_, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(dir_, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(dir_, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(dir_, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(_days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
                               pa.timestamp("us"))})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(dir_, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust), n_ev).astype(np.int64)),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


def documents(dir_, seed, n_docs):
    """The `documents` corpus, shaped like the project's test tables: each
    doc is 10-100 words drawn uniformly from the 30-word vocabulary; 5% of
    the docs, at random positions, are near-duplicates (another,
    original doc plus one to three " dup" tokens; two near-duplicates of
    one original make the corpus's only exact copies, 8 pairs in 5,000);
    sources round-robin over 20; languages drawn with the measured mix."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))) for _ in range(n_docs)]
    near = rng.choice(n_docs, int(n_docs * NEAR_DUP_SHARE), replace=False)
    originals = np.setdiff1d(np.arange(n_docs), near)
    for i in near:
        k = 1 + int(rng.choice(3, p=DUP_TOKENS_P))
        texts[i] = texts[rng.choice(originals)] + " dup" * k
    _write(dir_, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
