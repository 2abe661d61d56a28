#!/usr/bin/env python3
"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables every `SparkEntry` query reads
(region nation customer supplier part orders lineitem events
documents embeddings) into one scale-factor directory. It reproduces
the project's reference test data (seed 42): one numpy generator drawn
in a fixed order, one pandas `to_parquet` file per table with one row
group. `python3 perfbench/datagen.py --compare <ref_sf_dir>` checks the
reproduction against a reference directory, value by value and byte by
byte (README "Data").

Usage: python3 perfbench/datagen.py <out_dir> <sf> [seed]
       python3 perfbench/datagen.py --compare <ref_sf_dir>
"""
import hashlib
import os
import sys
import tempfile

import numpy as np
import pandas as pd

# List orders matter: a column is `LIST[rng.integers(0, len(LIST), n)]`.
VOCAB = ("the a spark query table join group filter window data order "
         "customer part line fast slow big small hash sort merge scan agg "
         "stream batch vector key value row column").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PTYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    return np.datetime64(start, "s") + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _write(out_dir, name, cols):
    tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
    pd.DataFrame(cols).to_parquet(tmp, index=False, coerce_timestamps="us",
                                  allow_truncated_timestamps=True)
    os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir, sf, seed=42):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj, noun = _pick(rng, ADJ, n_part), _pick(rng, NOUN, n_part)
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": _money(rng, 0.0, 0.1, n_li),
        "l_tax": _money(rng, 0.0, 0.08, n_li),
        "l_returnflag": _pick(rng, ["R", "A", "N"], n_li),
        "l_linestatus": _pick(rng, ["O", "F"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li)})
    # Sorted uniform seconds over 30 days, kept in ns; the parquet
    # write truncates them to microseconds.
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev),
        "ts": np.datetime64("2024-01-01", "ns") + (secs * 1e9).astype("timedelta64[ns]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(_pick(rng, VOCAB, int(rng.integers(10, 100))))
             for _ in range(n_docs)]
    # 5 % near-duplicates: a document's text replaced by another's plus
    # " dup", applied in draw order (a copy of a copy gets " dup dup").
    dst = rng.choice(n_docs, n_docs // 20, replace=False)
    src = rng.integers(0, n_docs, n_docs // 20)
    for d, s in zip(dst, src):
        texts[d] = texts[s] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs),
        "text": texts,
        "lang": _pick(rng, LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    # Unit vectors; the labels are drawn independently of them.
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


def _sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def compare(ref_dir):
    """Regenerate `ref_dir`'s scale factor and report, per table, whether
    the values and the file bytes equal the reference. Returns 0 when every
    table's values match."""
    import pyarrow.parquet as pq
    sf = float(os.path.basename(os.path.normpath(ref_dir)).removeprefix("sf"))
    bad = 0
    with tempfile.TemporaryDirectory() as out:
        generate(out, sf)
        for t in TABLES:
            a, b = (os.path.join(d, f"{t}.parquet") for d in (ref_dir, out))
            fa, fb = pq.ParquetFile(a), pq.ParquetFile(b)
            same = fa.read().equals(fb.read())
            bad += not same
            print(f"sf{sf:g} {t:<10} rows {fa.metadata.num_rows:>7}"
                  f" row_groups {fa.num_row_groups}/{fb.num_row_groups}"
                  f" bytes {os.path.getsize(a):>9}/{os.path.getsize(b):<9}"
                  f" values {'equal' if same else 'DIFFER'}"
                  f" file {'identical' if _sha(a) == _sha(b) else 'differs'}")
    return 1 if bad else 0


if __name__ == "__main__":
    if sys.argv[1] == "--compare":
        sys.exit(max(compare(d) for d in sys.argv[2:]))
    generate(sys.argv[1], float(sys.argv[2]),
             int(sys.argv[3]) if len(sys.argv) > 3 else 42)
