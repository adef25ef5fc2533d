"""Seeded curation tables for the curate_suite workload.

Writes the ten tables the `SparkEntry.queries` leaves read (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
as parquet, with the schemas and value ranges of the TPC-H-like star schema
the queries are written against. Row counts scale with `sf` (lineitem is
6M x sf) and document lengths are fixed; the seed draws the values. The same
(seed, sf) always gives the same tables.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query big "
         "order stream group filter vector").split()
LANGS = (["en", "zh", "de", "es", "fr"], [0.44, 0.14, 0.14, 0.14, 0.14])


def _days(rng, n, start, ndays):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, ndays, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(out, name, df):
    df.to_parquet(os.path.join(out, f"{name}.parquet"), index=False)


def write_tables(out, seed, sf):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc = int(1000000 * sf), int(50000 * sf)

    _write(out, "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    _write(out, "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32")}))
    _write(out, "customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)}))
    _write(out, "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    colors = ["small", "red", "blue", "green", "large", "steel", "brass"]
    nouns = ["ring", "widget", "bolt", "gear", "valve", "spring"]
    _write(out, "part", pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, len(colors), n_part), rng.integers(0, len(nouns), n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)}))
    _write(out, "orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)}))
    _write(out, "lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", 2498)}))
    ev_ts = np.datetime64("2024-01-01", "us") + \
        rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")
    _write(out, "events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": np.sort(ev_ts),
        "user_id": rng.integers(0, 150, n_ev).astype("int64"),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))
    # word counts 8..99 in a fixed spread: the seed changes the words, not
    # the corpus size, so size-driven leaf costs do not move with the seed
    texts = [" ".join(rng.choice(WORDS, 8 + (i * 37) % 92)) for i in range(n_doc)]
    _write(out, "documents", pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": rng.choice(LANGS[0], n_doc, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")}))
    emb = rng.normal(0.0, 0.1, (n_doc, 64)).astype("float32")
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_doc, dtype="int64")),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc).astype("int32"))}),
        os.path.join(out, "embeddings.parquet"))
