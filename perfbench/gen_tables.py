"""Seeded generator for the star-schema tables the catalog queries read.

The tables have the schema, physical parquet types and value distributions
of the engine's synthetic test tables (TPC-H-like dimensions and facts plus
an `events` stream, a `documents` corpus and an `embeddings` table), so the
catalog plans see the same shapes. Row counts scale like TPC-H: `sf=0.1`
gives 600,000 lineitem rows. The same (sf, seed) always writes the same
bytes.

    python3 perfbench/gen_tables.py <out_dir> <sf> <seed>
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join a value fast column sort scan small customer merge hash line "
         "spark part batch slow group row filter query key big window table "
         "stream order data vector agg the").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _days(start, end):
    """Epoch microseconds of midnight for every day in [start, end]."""
    d0 = np.datetime64(start, "D")
    n = int((np.datetime64(end, "D") - d0).astype(int)) + 1
    return (d0 + np.arange(n)).astype("datetime64[us]").astype(np.int64)


def _ts(micros):
    return pa.array(micros, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), out / f"{name}.parquet",
                   compression="snappy", row_group_size=1 << 30)


def generate(out_dir, sf, seed):
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    n_users = max(10, int(15000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})

    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2)})

    order_days = _days("1995-01-01", "2001-08-01")
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _ts(order_days[rng.integers(0, len(order_days), n_ord)]),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})

    ship_days = _days("1995-01-02", "2001-11-04")
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.uniform(0, 10, n_line)) / 100,
        "l_tax": np.round(rng.uniform(0, 8, n_line)) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(ship_days[rng.integers(0, len(ship_days), n_line)])})

    t0 = int(np.datetime64("2024-01-01", "us").astype(np.int64))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")})

    # Plain documents, then two kinds of duplicate the dedup queries look
    # for: every 20th document is an earlier one plus a trailing "dup" word,
    # and a handful are exact copies.
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(n_doc)]
    used = set()
    for i in range(11, n_doc, 20):
        j = int(rng.integers(0, i))
        while j in used:  # one near duplicate per source, so no two collide
            j = int(rng.integers(0, i))
        used.add(j)
        texts[i] = texts[j] + " dup"
    for i in rng.choice(np.arange(n_doc // 2, n_doc), size=max(1, n_doc // 600), replace=False):
        texts[int(i)] = texts[int(rng.integers(0, n_doc // 2))]
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32)})


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
