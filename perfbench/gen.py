"""Seeded input generators for the benchmark.

Two kinds of input:
  * ingestion files: one top-level JSON array per client, nested records
    (objects 2-3 deep, arrays, fractional decimals, nulls, escaped and
    non-ASCII strings, heavy-tailed string lengths);
  * the query corpus: the ten parquet tables the engine's queries read
    (region, nation, customer, supplier, part, orders, lineitem, events,
    documents, embeddings), at 1/100 of the TPC-H scale-1 row counts
    (about 60k lineitem rows, 15k orders, 10k events; 500 documents and 500
    embeddings). The corpus uses one fixed seed so its oracle hashes can be
    pinned (see oracle_pins.json); the workload seed only reorders queries.

The same seed always gives byte-identical files.
"""
import datetime
import hashlib
import json
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 20261017

_WORDS = ("key agg row scan slow fast table value part hash merge batch spark "
          "the a line sort window data column join small customer query order "
          "group filter stream big vector").split()
_NON_ASCII = ["Zürich", "São Paulo", "Kraków", "東京", "Ελλάδα", "naïve", "Ωmega",
              "€uro", "Ærø", "İstanbul"]
_ESCAPES = ['"', "\\", "\n", "\t", "/", "\u0001"]
_COLORS = ["red", "green", "blue", "black", "white", None]
_UNITS = ["cm", "mm", "in"]


def _heavy_str(rng, median_len, cap):
    """A string whose length follows a capped log-normal (heavy right tail),
    with occasional escapes and non-ASCII words mixed in."""
    n = min(cap, max(1, int(rng.lognormvariate(math.log(median_len), 1.0))))
    out, size = [], 0
    while size < n:
        r = rng.random()
        if r < 0.04:
            w = rng.choice(_ESCAPES)
        elif r < 0.12:
            w = rng.choice(_NON_ASCII)
        else:
            w = rng.choice(_WORDS)
        out.append(w)
        size += len(w) + 1
    return " ".join(out)[:n]


def ingest_record(rng, i):
    variants = []
    for v in range(rng.randint(0, 3)):
        variants.append({
            "code": f"V{v}",
            "qty": rng.randint(0, 500),
            "attrs": {"color": rng.choice(_COLORS),
                      "size": None if rng.random() < 0.3 else rng.randint(1, 60)},
        })
    return {
        "id": i,
        "sku": f"SKU-{i:08d}",
        "name": _heavy_str(rng, 8, 200),
        "description": None if rng.random() < 0.2 else _heavy_str(rng, 12, 600),
        "price": round(rng.uniform(0.5, 9999.0), 2),
        "discount": None if rng.random() < 0.5 else round(rng.uniform(0.0, 0.35), 3),
        "active": rng.random() < 0.8,
        "tags": [rng.choice(_WORDS) for _ in range(rng.randint(0, 4))],
        "dims": {"w": round(rng.uniform(0.1, 200.0), 2),
                 "h": round(rng.uniform(0.1, 200.0), 2),
                 "unit": rng.choice(_UNITS)},
        "vendor": {"id": rng.randint(1, 5000),
                   "rating": None if rng.random() < 0.1 else round(rng.uniform(1, 5), 1),
                   "address": {"city": rng.choice(_NON_ASCII + _WORDS),
                               "zip": f"{rng.randint(1000, 99999)}",
                               "geo": [round(rng.uniform(-90, 90), 4),
                                       round(rng.uniform(-180, 180), 4)]}},
        "variants": variants,
    }


def write_ingest_file(path, seed, n_records):
    """Write one top-level JSON array of `n_records` seeded records; returns
    the file's SHA-256 hex digest."""
    rng = random.Random(seed)
    parts = ["["]
    for i in range(n_records):
        if i:
            parts.append(",\n")
        parts.append(json.dumps(ingest_record(rng, i), ensure_ascii=False))
    parts.append("]\n")
    data = "".join(parts).encode("utf-8")
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)
    return hashlib.sha256(data).hexdigest()


def _ts(values_us):
    return pa.array(values_us, type=pa.timestamp("us"))


def write_corpus(out_dir, scale=0.01, seed=CORPUS_SEED):
    """Write the ten query tables into `out_dir`; returns {file: sha256}."""
    rs = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * scale), int(10000 * scale), int(200000 * scale)
    n_orders, n_events = int(1500000 * scale), int(1000000 * scale)
    n_docs, n_emb = max(500, int(50000 * scale)), max(500, int(20000 * scale))
    day_us = 86400 * 1000000
    epoch = datetime.datetime(1970, 1, 1)
    d95 = int((datetime.datetime(1995, 1, 1) - epoch).total_seconds()) * 1000000
    d24 = int((datetime.datetime(2024, 1, 1) - epoch).total_seconds()) * 1000000
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rs.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rs.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(segs[rs.integers(0, 5, n_cust)])})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rs.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rs.uniform(-999.99, 9999.99, n_supp), 2))})
    adj = np.array(["small", "red", "large", "blue", "steel", "green", "shiny", "tiny"])
    noun = np.array(["ring", "widget", "bolt", "gear", "panel", "valve", "spring"])
    types = np.array(["ECONOMY", "STANDARD", "PROMO", "LARGE", "MEDIUM", "SMALL"])
    price = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(adj[rs.integers(0, len(adj), n_part)], " "),
                                       noun[rs.integers(0, len(noun), n_part)])),
        "p_brand": pa.array(np.char.add("Brand#", rs.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(types[rs.integers(0, len(types), n_part)]),
        "p_size": pa.array(rs.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(price)})
    odate = d95 + rs.integers(0, 2404, n_orders) * day_us
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rs.integers(0, n_cust, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rs.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rs.uniform(1000, 500000, n_orders), 2)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"])[rs.integers(0, 5, n_orders)])})
    lines = rs.integers(1, 8, n_orders)
    lok = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(lok)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    lpk = rs.integers(0, n_part, n_li).astype(np.int64)
    qty = rs.integers(1, 51, n_li).astype(np.float64)
    perm = rs.permutation(n_li)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok[perm]),
        "l_partkey": pa.array(lpk[perm]),
        "l_suppkey": pa.array(rs.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(lnum[perm]),
        "l_quantity": pa.array(qty[perm]),
        "l_extendedprice": pa.array(np.round(qty * price[lpk], 2)[perm]),
        "l_discount": pa.array(rs.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rs.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rs.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rs.integers(0, 2, n_li)]),
        "l_shipdate": _ts((odate[lok] + rs.integers(1, 122, n_li) * day_us)[perm])})
    ets = np.sort(d24 + rs.integers(0, 30 * day_us, n_events))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts(ets),
        "user_id": pa.array(rs.integers(0, 150, n_events).astype(np.int64)),
        "event_type": pa.array(np.array(["click", "view", "purchase", "signup", "error"])
                               [rs.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rs.uniform(0.01, 500.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rs.integers(0, 100, n_events)]})
    words = np.array(_WORDS)
    texts = [" ".join(words[rs.integers(0, len(words), int(rs.integers(8, 90)))])
             for _ in range(n_docs)]
    langs = np.array(["en", "en", "en", "zh", "de", "fr", "es"])[rs.integers(0, 7, n_docs)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(langs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    emb = rs.normal(0, 1, (n_emb, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rs.integers(0, 10, n_emb).astype(np.int32))})
    digests = {}
    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path + ".tmp")
        os.replace(path + ".tmp", path)
        with open(path, "rb") as f:
            digests[f"{name}.parquet"] = hashlib.sha256(f.read()).hexdigest()
    return digests
