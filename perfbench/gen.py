"""Seeded generator for graft's ten parquet input tables.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings with the schemas of FIXTURES.md and the value
distributions measured on the sf0.1 fixture that graft's bench and DuckDB
oracles use (600 k lineitem, 100 k events, 5 k documents, 2 k embeddings):

- documents: 10 to 99 words per text, uniform (median 54), drawn
  uniformly from a 30-word vocabulary; 5% of the documents (250 of 5 000)
  are near-duplicates, each another document's text with " dup" appended,
  at uniform positions and from uniformly chosen sources (8 exact-duplicate
  pairs arise where two near-duplicates share a source); lang is en about 40%
  and de/es/fr/zh about 15% each; source cycles over 20 values;
- events: user_id uniform over 1.5% as many users as events (1 500 for
  100 k, 45 to 99 events each), five event types uniform, value
  exponential with mean 50, ts uniform over 30 days from 2024-01-01,
  sorted, in microseconds;
- embeddings: 64-d unit-norm float vectors, ten uniform labels;
- TPC-H-like tables: independent uniform columns with the fixture's
  ranges and key-consistent joins, dates as microsecond timestamps.

The same seed and sizes always give byte-identical tables.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
COLORS = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def sizes(lineitem, events, documents, embeddings):
    """Row counts for every table; the TPC-H-like ones in the fixture's
    ratios to lineitem."""
    return {
        "customer": lineitem // 40, "supplier": max(10, lineitem // 600),
        "part": lineitem // 30, "orders": lineitem // 4, "lineitem": lineitem,
        "events": events, "documents": documents, "embeddings": embeddings,
    }


def _midnights(rng, n, start, end):
    """Midnight timestamps uniform over [start, end] (inclusive days)."""
    days = (end - start).days
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _documents(rng, n):
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))])
             for _ in range(n)]
    # applied in order, so a source may itself already be a near-duplicate
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def _events(rng, n):
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ts = np.sort(start + rng.integers(0, span, n))
    users = max(2, int(n * 0.015))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, users, n).astype(np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })


def generate(out_dir, seed, lineitem=600_000, events=100_000, documents=5_000,
             embeddings=2_000):
    """Write the ten tables under out_dir; return {table: rows}."""
    rng = np.random.default_rng(seed)
    n = sizes(lineitem, events, documents, embeddings)
    d0, d1 = datetime.date(1995, 1, 1), datetime.date(2001, 8, 1)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n["customer"])]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, n["customer"], -999.99, 9999.99)),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"])}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n["supplier"])]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, n["supplier"], -999.99, 9999.99))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"], dtype=np.int64)),
            "p_name": pa.array([f"{COLORS[c]} {NOUNS[w]}" for c, w in zip(
                rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))]),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n["part"]),
            "p_type": _pick(rng, TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
            "p_retailprice": pa.array(np.round(
                900 + (np.arange(n["part"]) % 1000) / 10.0, 1))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"])),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": pa.array(_money(rng, n["orders"], 1000.0, 500000.0)),
            "o_orderdate": pa.array(_midnights(rng, n["orders"], d0, d1)),
            "o_orderpriority": _pick(rng, PRIORITIES, n["orders"])}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], lineitem)),
            "l_partkey": pa.array(rng.integers(0, n["part"], lineitem)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], lineitem)),
            "l_linenumber": pa.array(rng.integers(1, 8, lineitem).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, lineitem).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, lineitem, 900.0, 105000.0)),
            "l_discount": pa.array(rng.integers(0, 11, lineitem) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, lineitem) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], lineitem),
            "l_linestatus": _pick(rng, ["F", "O"], lineitem),
            "l_shipdate": pa.array(_midnights(rng, lineitem, datetime.date(1995, 1, 2),
                                             datetime.date(2001, 11, 4)))}),
        "events": _events(rng, n["events"]),
        "documents": _documents(rng, documents),
        "embeddings": _embeddings(rng, embeddings),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
    return {name: table.num_rows for name, table in tables.items()}

