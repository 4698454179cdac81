"""Seeded generator for the fixture tables the registry queries read.

Writes the ten tables (`region nation customer supplier part orders
lineitem events documents embeddings`) as one parquet file each, with
the schemas, key domains, value distributions and near-duplicate
structure of the project's synthetic fixtures (see FIXTURES.md):
uniform keys and categories, money rounded to cents, dates at midnight,
an exponential `events.value`, a 30-word document vocabulary with 5%
near-duplicates (another document's text plus " dup"), and isotropic
unit-norm 64-wide embeddings whose labels carry no structure. Timestamps
use the parquet units FIXTURES.md gives: nanoseconds for `events.ts`,
milliseconds for `o_orderdate` and `l_shipdate`.

Usage: python3 perfbench/gen.py <outDir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
DAY_US = 86_400_000_000


def days_us(start, end, rng, n):
    """Uniform midnight timestamps in [start, end] as epoch microseconds."""
    d0 = np.datetime64(start, "D").astype(np.int64)
    d1 = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(d0, d1 + 1, n) * DAY_US


def ts_col(us, unit):
    """Epoch microseconds as a timestamp column stored in `unit`."""
    values = {"ms": us // 1000, "us": us, "ns": us * 1000}[unit]
    return pa.array(values, type=pa.timestamp(unit))


def cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(sf, seed):
    rng = np.random.default_rng(seed)
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_user = max(1, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": cents(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(pick(rng, ADJ, n_part),
                                              pick(rng, NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(rng, PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts_col(days_us("1995-01-01", "2001-08-01", rng, n_ord), "ms"),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": cents(rng, 900.0, 105000.0, n_line),
        "l_discount": cents(rng, 0.0, 0.1, n_line),
        "l_tax": cents(rng, 0.0, 0.08, n_line),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["F", "O"], n_line),
        "l_shipdate": ts_col(days_us("1995-01-02", "2001-11-04", rng, n_line), "ms")})
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = t0 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts_col(ts, "ns"),
        "user_id": rng.integers(0, n_user, n_ev, dtype=np.int64),
        "event_type": pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(pick(rng, VOCAB, int(w)))
             for w in rng.integers(10, 101, n_doc)]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))].removesuffix(" dup") + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(rng, LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb, dtype=np.int32)
    x = rng.normal(0.0, 1.0, (n_emb, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": labels})
    return out


def main():
    out_dir, sf, seed = sys.argv[1], float(sys.argv[2]), int(sys.argv[3])
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf, seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main()
