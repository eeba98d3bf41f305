"""Deterministic synthetic lake with the sf0.1 shape of the klepto testdata.

Ten parquet tables (`<dir>/<table>.parquet`, one file each) with the same
schemas, row counts and value domains as the TPC-H-ish testdata the repo's
oracle suite uses: region, nation, customer (5 market segments), supplier,
part, orders, lineitem (non-unique (l_orderkey, l_linenumber)), events,
documents and embeddings. The generator seed is fixed, so every checkout
builds byte-identical inputs; the benchmark's --seed picks what to do with
them (segment, secret, visit order), not the data itself.

Each table is also written as CSV for Derby's bulk import
(`<dir>/csv/<table>.csv`, no header, timestamps as `yyyy-mm-dd hh:mm:ss.ffffff`).

Run: python3 stealbench/lake.py <dir> [scale]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

GEN_SEED = 42
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
WORDS = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter query big key window the customer "
         "stream table join data vector").split()
ADJ = ["large", "hot", "blue", "small", "red", "cold", "green", "bright"]
NOUN = ["ring", "bolt", "gear", "pipe", "nut", "valve", "spring", "plate"]

# Spark-side DDL for the Derby fixture: strings are VARCHAR (Spark's default
# CLOB mapping makes Derby reject `=` on the pushed-down segment filter).
SCHEMAS = {
    "region": [("r_regionkey", "int"), ("r_name", "str")],
    "nation": [("n_nationkey", "int"), ("n_name", "str"),
               ("n_regionkey", "int")],
    "customer": [("c_custkey", "long"), ("c_name", "str"),
                 ("c_nationkey", "int"), ("c_acctbal", "double"),
                 ("c_mktsegment", "str")],
    "supplier": [("s_suppkey", "long"), ("s_name", "str"),
                 ("s_nationkey", "int"), ("s_acctbal", "double")],
    "part": [("p_partkey", "long"), ("p_name", "str"), ("p_brand", "str"),
             ("p_type", "str"), ("p_size", "int"),
             ("p_retailprice", "double")],
    "orders": [("o_orderkey", "long"), ("o_custkey", "long"),
               ("o_orderstatus", "str"), ("o_totalprice", "double"),
               ("o_orderdate", "ts"), ("o_orderpriority", "str")],
    "lineitem": [("l_orderkey", "long"), ("l_partkey", "long"),
                 ("l_suppkey", "long"), ("l_linenumber", "int"),
                 ("l_quantity", "double"), ("l_extendedprice", "double"),
                 ("l_discount", "double"), ("l_tax", "double"),
                 ("l_returnflag", "str"), ("l_linestatus", "str"),
                 ("l_shipdate", "ts")],
    "events": [("event_id", "long"), ("ts", "ts"), ("user_id", "long"),
               ("event_type", "str"), ("value", "double"), ("props", "str")],
    "documents": [("doc_id", "long"), ("text", "str"), ("lang", "str"),
                  ("source", "str"), ("n_chars", "long")],
    "embeddings": [("vec_id", "long"), ("embedding", "vec"),
                   ("label", "int")],
}
TABLES = list(SCHEMAS)
# tables the Derby fixture holds (documents/embeddings stay lake-only)
DB_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, n, start="1992-01-01", span_days=3650):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def build(scale=1.0):
    """All tables as pyarrow Tables (scale 1.0 = the sf0.1 row counts)."""
    rng = np.random.default_rng(GEN_SEED)
    n_cust, n_supp, n_part = int(15000 * scale), int(1000 * scale), int(20000 * scale)
    n_ord, n_li = int(150000 * scale), int(600000 * scale)
    n_ev, n_doc, n_emb = int(100000 * scale), int(5000 * scale), int(2000 * scale)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj, noun = rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM",
                    "PROMO"][i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 2000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("O", "F", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 900, 500000, n_ord),
        "o_orderdate": pa.array(_days(rng, n_ord), pa.timestamp("us")),
        "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM",
                             "4-NOT SPECIFIED", "5-LOW")[i]
                            for i in rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li), pa.timestamp("us"))})
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(
        rng.integers(1, 60_000_000, n_ev)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 2000, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": _money(rng, 0, 200, n_ev),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)]})
    lens = rng.integers(5, 80, n_doc)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    texts, at = [], 0
    for n in lens:
        texts.append(" ".join(WORDS[w] for w in words[at:at + n]))
        at += n
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [("en", "de", "fr", "zh", "es")[i] for i in rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 10, n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def write(out_dir, scale=1.0):
    """Write the lake and the Derby import CSVs; a `_DONE` marker last."""
    os.makedirs(os.path.join(out_dir, "csv"), exist_ok=True)
    for name, table in build(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        if name in DB_TABLES:
            cols = [c.cast(pa.string()) if pa.types.is_timestamp(c.type) else c
                    for c in table.columns]
            pacsv.write_csv(pa.table(cols, names=table.column_names),
                            os.path.join(out_dir, "csv", f"{name}.csv"),
                            pacsv.WriteOptions(include_header=False))
    open(os.path.join(out_dir, "_DONE"), "w").close()


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 1.0)
