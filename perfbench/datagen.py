"""Synthetic inputs for the benchmark, shaped like the program's fixture tables.

The program reads ten parquet tables from one directory (`<table>.parquet`,
one file with one row group each): a TPC-H-like star schema, an `events`
stream table and a text/embedding corpus. This module writes them at a given
scale factor from a seed, with numpy only, so two calls with the same
(scale, seed) write identical files.

Sizes follow the fixture convention: `events` has 1e6 x sf rows spread evenly
over 2024-01-01..2024-01-30, users and customers 1.5e5 x sf, and the corpus
has max(500, 5e4 x sf) documents and max(500, 2e4 x sf) vectors. Five percent
of the documents are a copy of another document plus the word "dup", the
near-duplicate mass the dedup operators look for.

Run as a script to write one directory: `python3 datagen.py <dir> <sf> [seed]`.
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

EVENT_START = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()


def _pick(rng, choices, n, p=None):
    idx = rng.choice(len(choices), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx.astype(np.int32)),
                                          pa.array(choices)).cast(pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first, last, n):
    """Midnight timestamps (µs) uniformly between two dates, inclusive."""
    d0 = np.datetime64(first, "D")
    span = (np.datetime64(last, "D") - d0).astype(int) + 1
    return (d0 + rng.integers(0, span, n)).astype("datetime64[us]")


def _keyed_names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tables(sf, seed):
    """All ten tables as {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(round(150_000 * sf)))
    n_supp = max(10, int(round(10_000 * sf)))
    n_part = max(200, int(round(200_000 * sf)))
    n_ord = max(1_500, int(round(1_500_000 * sf)))
    n_li = max(6_000, int(round(6_000_000 * sf)))
    n_ev = max(1_000, int(round(1_000_000 * sf)))
    n_doc = max(500, int(round(50_000 * sf)))
    n_emb = max(500, int(round(20_000 * sf)))
    n_user = max(15, int(round(15_000 * sf)))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _keyed_names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _keyed_names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = [f"{a} {b}" for a in adjectives for b in nouns]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO",
                              "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li)})
    span_us = EVENT_DAYS * 86_400_000_000
    ts = np.datetime64(EVENT_START, "us") + rng.integers(0, span_us, n_ev)
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    lengths = rng.integers(10, 101, n_doc)
    word_idx = rng.integers(0, len(WORDS), int(lengths.sum()))
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    text = [" ".join(WORDS[j] for j in word_idx[bounds[i]:bounds[i + 1]])
            for i in range(n_doc)]
    for i in rng.choice(n_doc, size=n_doc // 20, replace=False):
        text[i] = text[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": pa.array(text),
        "lang": _pick(rng, ["en", "zh", "de", "fr", "es"], n_doc,
                      p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
    vec = rng.standard_normal((n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_emb * 64 + 1, 64, dtype=np.int32)),
            pa.array(vec.reshape(-1))),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return out


def write(tables_by_name, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables_by_name.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))


def generate(out_dir, sf, seed):
    write(tables(sf, seed), out_dir)


def day_snapshots(sf_dir, out_root, days):
    """Day-aligned cuts of `sf_dir` for the daily cron run.

    Snapshot d holds the events with ts < EVENT_START + d days; every other
    table is hard-linked unchanged. Cuts sit on midnight because the
    program's price dimension is a per-day average: a mid-day cut would
    freeze a partial-day price into the sink.
    """
    events = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = events.column("ts").to_numpy()
    dirs = []
    for d in range(1, days + 1):
        snap = os.path.join(out_root, f"day{d:02d}")
        os.makedirs(snap, exist_ok=True)
        cut = np.datetime64(EVENT_START + dt.timedelta(days=d), "us")
        pq.write_table(events.filter(pa.array(ts < cut)),
                       os.path.join(snap, "events.parquet"),
                       row_group_size=max(1, events.num_rows))
        for t in TABLES:
            if t != "events":
                os.link(os.path.join(sf_dir, f"{t}.parquet"),
                        os.path.join(snap, f"{t}.parquet"))
        dirs.append(snap)
    return dirs


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]),
             int(sys.argv[3]) if len(sys.argv) > 3 else 42)
