"""Deterministic synthetic lake for the benchmark.

Writes the ten parquet tables the engine's queries read (TPC-H-like star
schema plus `events`, `documents` and `embeddings`), one single-row-group
file per table, with the same schemas, key ranges and value shapes as the
engine's sf fixtures:

  - naive `timestamp[us]` columns (read as TIMESTAMP by a UTC session);
  - foreign keys drawn uniformly from the referenced key range;
  - `documents`: 10..100 words from a 30-word vocabulary, 5% planted
    near-duplicates (another document's text plus " dup");
  - `embeddings`: 64-dim unit-norm float32 vectors with a 0..9 label.

Row counts scale with `sf` like TPC-H (lineitem = 6M x sf). The same
(sf, seed) always writes the same bytes.

Usage: gen_lake.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
ADJ = "blue cold hot red small new old large".split()
NOUN = "ring plate gear rod bolt anvil widget gizmo".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
US_PER_DAY = 86_400 * 1_000_000


def _days(start, rng, lo_day, hi_day, n):
    base = np.datetime64(start, "us")
    d = rng.integers(lo_day, hi_day + 1, n).astype("timedelta64[D]")
    return base + d.astype("timedelta64[us]")


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def generate(out, sf, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    n_users = max(10, int(15_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(_pick(rng, SEGMENTS, n_cust), pa.string())})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    pkeys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(pkeys),
        "p_name": pa.array(_pick(rng, names, n_part), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(_pick(rng, PTYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pkeys % 1000) * 0.1, 1))})
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(_pick(rng, ["O", "F", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(money(1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days("1995-01-01", rng, 0, 2404, n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(_pick(rng, PRIORITIES, n_ord), pa.string())})
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(money(900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(_pick(rng, ["A", "N", "R"], n_li), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ["O", "F"], n_li), pa.string()),
        "l_shipdate": pa.array(_days("1995-01-02", rng, 0, 2498, n_li),
                               pa.timestamp("us"))})

    offs = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    ts = np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(_pick(rng, EVENT_TYPES, n_ev), pa.string()),
        "value": pa.array(np.round(rng.exponential(60.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})

    vocab = np.asarray(VOCAB, dtype=object)
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), n)]) for n in lens]
    dups = rng.choice(np.arange(1, n_doc), size=n_doc // 20, replace=False)
    for i in np.sort(dups):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(_pick(rng, LANGS, n_doc, p=LANG_P), pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
