"""Seeded generator for the catalog tables the benchmark queries read.

Writes `<out>/<table>.parquet` for the ten tables of
`graft.sources.CanonicalSchema` (a TPC-H-like star schema plus events,
documents and embeddings). Column types, value domains and row counts per
scale factor follow the corpus the catalog's DuckDB oracle was validated
on; values are uniform draws from a numpy generator seeded by `seed`, so
the same (seed, sf) gives byte-identical files.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def tables(seed, sf):
    """Yield (name, pyarrow.Table) for every catalog table at scale `sf`."""
    rng = iter(np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(8))
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_evt = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(min(2_000, 50_000 * sf))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})

    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = next(rng)
    yield "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)})

    r = next(rng)
    yield "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99)})

    r = next(rng)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    yield "part", pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(r, names, n_part),
        "p_brand": np.asarray([f"Brand#{i}" for i in range(1, 26)],
                              dtype=object)[r.integers(0, 25, n_part)],
        "p_type": _pick(r, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})

    r = next(rng)
    yield "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(r, n_ord, 1000, 500_000),
        "o_orderdate": _days(r, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)})

    r = next(rng)
    yield "lineitem", pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line),
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, n_line, 900, 105_000),
        "l_discount": np.round(r.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(r.uniform(0, 0.08, n_line), 2),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": _days(r, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})

    r = next(rng)
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, month_us, n_evt))
    yield "events", pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": r.integers(0, int(15_000 * sf), n_evt),
        "event_type": _pick(r, ["click", "error", "purchase", "signup", "view"], n_evt),
        "value": np.maximum(np.round(r.exponential(50.0, n_evt), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)]})

    r = next(rng)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[r.integers(0, len(WORDS), r.integers(10, 100))])
             for _ in range(n_doc)]
    # 5% near-duplicates (an earlier document's prefix plus a marker word)
    # and a few exact copies give the dedup and similarity queries matches
    for i in np.flatnonzero(r.random(n_doc) < 0.05):
        if i > 0:
            src = texts[r.integers(0, i)].split(" ")
            texts[i] = " ".join(src[:max(10, len(src) - r.integers(0, 5))] + ["dup"])
    for i in np.flatnonzero(r.random(n_doc) < 0.002):
        if i > 0:
            texts[i] = texts[r.integers(0, i)]
    yield "documents", pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": r.choice(["de", "en", "es", "fr", "zh"], n_doc,
                         p=[0.14, 0.42, 0.15, 0.14, 0.15]).astype(object),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64)})

    r = next(rng)
    label = r.integers(0, 10, n_emb)
    centres = r.normal(0, 0.5, (10, 64))
    x = r.normal(0, 1, (n_emb, 64)) + centres[label]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": label.astype(np.int32)})


def write(out_dir, seed, sf):
    """Write every table to `out_dir`; returns {table: bytes}."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {}
    for name, tbl in tables(seed, sf):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        sizes[name] = os.path.getsize(path)
    return sizes


def row_count(out_dir):
    """Total rows over the tables in `out_dir`."""
    return sum(pq.ParquetFile(os.path.join(out_dir, f)).metadata.num_rows
               for f in os.listdir(out_dir) if f.endswith(".parquet"))
