#!/usr/bin/env python3
"""Seeded input generator for the benchmark workloads.

Writes one table directory per (workload, seed) with the ten tables the
program reads (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings), schema-identical to the repository's
synthetic test data: same column names, types and parquet encodings, and
value distributions modelled on its sf0.1 tables (a 30-word vocabulary,
five languages, 64-dim unit embeddings, 30 days of events, TPC-H-style
keys). Every table is generated from the seed alone, so a run needs no
file outside its checkout.

Each workload varies the property it is about:
  ingest_dup   documents + embeddings where a seeded share of rows are
               exact or near-duplicate copies of earlier rows (dup-heavy)
  stream_state events whose user ids are a seeded permutation drawn with
               Zipf key skew
  llm_batch    documents + embeddings that are distinct-heavy, with rare
               seeded near-duplicates
  sql_surface  a seeded subset of the orders with all their lineitems

Usage: python3 gen.py <workload> <seed> <out_dir> [--scale sf0.001|sf0.01|sf0.1]
Prints the input properties as one JSON object.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "new", "hot", "small", "large", "old", "blue", "green"]
PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01 in epoch microseconds

# Row counts per scale factor, equal to the repository's synthetic test
# data at that scale (TESTDATA.md; events per user are 66.7 at every
# scale). The benchmark measures sf0.01; sf0.001 is the self-test's input;
# sf0.1, the repository's bench scale, is there to compare the cost split
# of the measured input with it.
SIZES = {
    "sf0.001": dict(docs=500, vecs=500, events=1000, users=15, orders=1500,
                    customers=150, parts=200, suppliers=10),
    "sf0.01": dict(docs=500, vecs=500, events=10000, users=150, orders=15000,
                   customers=1500, parts=2000, suppliers=100),
    "sf0.1": dict(docs=5000, vecs=2000, events=100000, users=1500,
                  orders=150000, customers=15000, parts=20000, suppliers=1000),
}
DEFAULT_SCALE = "sf0.01"

# The knobs each workload varies. The test data itself has almost no
# duplicate documents (0.16 % exact at sf0.1) and uniform user ids (the top
# user has 0.1 % of the events at sf0.1); these values make the property a
# workload is about dominant instead.
# Duplicate shares (exact, near) per document/embedding regime.
DUP_HEAVY = (0.30, 0.15)
DISTINCT_HEAVY = (0.0, 0.02)
# Zipf exponent of the stream_state user ids: over sf0.01's 150 users the
# top user gets ~22 % of the events and the top ten ~59 %.
KEY_SKEW = 1.1


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def documents(rng, n, exact, near):
    """Documents whose later ids copy earlier ones: an `exact` share
    verbatim, a `near` share with one word replaced."""
    texts = []
    kinds = rng.choice(3, size=n, p=[1 - exact - near, exact, near])
    for i in range(n):
        if i > 0 and kinds[i] == 1:
            texts.append(texts[rng.integers(i)])
        elif i > 0 and kinds[i] == 2:
            words = texts[rng.integers(i)].split()
            words[rng.integers(len(words))] = "dup"
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, size=k)))
    table = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    dup_rows = int(np.count_nonzero(kinds[1:] != 0))
    return table, dup_rows / n


def embeddings(rng, n, exact, near):
    """64-dim unit vectors; later ids copy earlier ones exactly or with a
    small perturbation (cosine ~0.995)."""
    x = rng.standard_normal((n, 64)).astype(np.float32)
    kinds = rng.choice(3, size=n, p=[1 - exact - near, exact, near])
    for i in range(1, n):
        if kinds[i] == 1:
            x[i] = x[rng.integers(i)]
        elif kinds[i] == 2:
            src = x[rng.integers(i)]
            x[i] = src + 0.1 * rng.standard_normal(64).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    table = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n), pa.int32()),
    })
    dup_rows = int(np.count_nonzero(kinds[1:] != 0))
    return table, dup_rows / n


def events(rng, n, users, zipf_s):
    """30 days of events in time order. User ids are a seeded permutation
    of 0..users-1 drawn with Zipf weight rank^-zipf_s (0 = uniform)."""
    gaps = rng.exponential(1.0, size=n)
    ts = EPOCH_2024 + (np.cumsum(gaps) / gaps.sum() * 30 * DAY_US * 0.999
                       ).astype(np.int64)
    w = 1.0 / np.arange(1, users + 1) ** zipf_s
    ranks = rng.choice(users, size=n, p=w / w.sum())
    user_ids = rng.permutation(users)[ranks]
    table = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(user_ids, pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })
    top_share = np.bincount(ranks, minlength=users).max() / n
    return table, float(top_share)


def tpch(rng, s, order_frac):
    """TPC-H-style star schema. Orders are generated in full, then a seeded
    `order_frac` subset is kept together with every lineitem of the kept
    orders; customer, part and supplier stay whole, so all keys resolve."""
    nc, np_, ns, no = s["customers"], s["parts"], s["suppliers"], s["orders"]
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": pa.array(REGIONS, pa.string())})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), pa.string())})
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": pa.array(rng.choice(names, np_), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
        "p_type": pa.array(rng.choice(PART_TYPES, np_), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(np_) % 1000) / 10,
                                           1))})
    odate = EPOCH_1995 + rng.integers(0, 2405, no) * DAY_US
    nlines = rng.integers(1, 8, no)
    keep = np.sort(rng.choice(no, size=int(no * order_frac), replace=False))
    orders = pa.table({
        "o_orderkey": pa.array(keep, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no)[keep], pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["P", "O", "F"], no)[keep]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)
                                 [keep]),
        "o_orderdate": _ts(odate[keep]),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no)[keep])})
    lk = np.repeat(keep, nlines[keep])
    nl = len(lk)
    lnum = np.concatenate([np.arange(1, k + 1) for k in nlines[keep]])
    qty = rng.integers(1, 51, nl).astype(np.float64)
    perm = rng.permutation(nl)  # lineitem is not stored in key order
    odate_by_key = odate[lk]
    lineitem = pa.table({
        "l_orderkey": pa.array(lk[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl)[perm], pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl)[perm], pa.int64()),
        "l_linenumber": pa.array(lnum[perm], pa.int32()),
        "l_quantity": pa.array(qty[perm]),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, nl),
                                             2)[perm]),
        "l_discount": pa.array(rng.integers(0, 11, nl)[perm] / 100),
        "l_tax": pa.array(rng.integers(0, 9, nl)[perm] / 100),
        "l_returnflag": pa.array(rng.choice(["N", "R", "A"], nl)[perm]),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)[perm]),
        "l_shipdate": _ts((odate_by_key + rng.integers(1, 122, nl) * DAY_US)
                          [perm])})
    return dict(region=region, nation=nation, customer=customer,
                supplier=supplier, part=part, orders=orders,
                lineitem=lineitem)


def generate(workload, seed, out_dir, scale=DEFAULT_SCALE):
    """Write the workload's tables for `seed` under out_dir; return the
    input properties (rows and bytes per table plus the varied knobs)."""
    if workload not in ("ingest_dup", "stream_state", "llm_batch",
                        "sql_surface"):
        raise ValueError(f"unknown workload {workload}")
    s = SIZES[scale]
    # One independent stream per table, so changing one table's recipe
    # leaves the others byte-identical for the same seed.
    seq = np.random.SeedSequence([seed, 20261017])
    rd, re_, rv, rt = (np.random.default_rng(c) for c in seq.spawn(4))
    dups = DUP_HEAVY if workload == "ingest_dup" else DISTINCT_HEAVY
    props = {"workload": workload, "seed": seed, "scale": scale}
    tables = tpch(rt, s, 0.5 if workload == "sql_surface" else 1.0)
    tables["documents"], props["doc_dup_share"] = documents(rd, s["docs"],
                                                            *dups)
    tables["embeddings"], props["vec_dup_share"] = embeddings(rv, s["vecs"],
                                                              *dups)
    tables["events"], props["top_user_share"] = events(
        re_, s["events"], s["users"], KEY_SKEW if workload == "stream_state" else 0.0)
    props["order_subset"] = 0.5 if workload == "sql_surface" else 1.0
    os.makedirs(out_dir, exist_ok=True)
    rows, size = {}, {}
    for name, t in sorted(tables.items()):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        rows[name], size[name] = t.num_rows, os.path.getsize(path)
    props["rows"], props["bytes"] = rows, size
    return props


if __name__ == "__main__":
    args = sys.argv[1:]
    scale = DEFAULT_SCALE
    if "--scale" in args:
        i = args.index("--scale")
        scale = args[i + 1]
        del args[i:i + 2]
    wl, seed, out = args
    print(json.dumps(generate(wl, int(seed), out, scale), sort_keys=True))
