"""Synthetic corpus for the benchmark, one parquet file per table.

    python3 opbench/datagen.py <out_dir> <scale>

Writes the ten tables graft.Tables loads (region ... embeddings) with
the schemas, value domains and row counts of the graded corpus at that
scale factor (FIXTURES.md, section A). The content is a fixed function
of the scale: the checksum pins in pins.json are taken on it, so it
must not change with the benchmark's --seed (that only reorders the
operators).
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = ("scan column window order sort part agg value line key join merge group "
         "query a vector hash slow stream filter fast the batch spark table small "
         "data big customer row").split()


def rows(scale, base, floor=0):
    return max(floor, int(round(base * scale)))


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist(),
                    pa.string())


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, end, n):
    """Midnight timestamps (µs) uniform over [start, end]."""
    d0, d1 = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = d0 + rng.integers(0, int((d1 - d0).astype(int)) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def tables(scale):
    rng = lambda salt: np.random.default_rng([DATA_SEED, salt])
    n_cust, n_supp, n_part = rows(scale, 150000), rows(scale, 10000), rows(scale, 200000)
    n_ord, n_li, n_ev = rows(scale, 1500000), rows(scale, 6000000), rows(scale, 1000000)
    n_doc, n_emb = rows(scale, 50000, 500), rows(scale, 20000, 500)

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32())})

    r = rng(1)
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                 "MACHINERY"], n_cust)})
    r = rng(2)
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(r, -999.99, 9999.99, n_supp)})
    r = rng(3)
    adj = "blue new hot cold red large old small".split()
    noun = "rod gear anvil ring bolt widget plate gizmo".split()
    keys = np.arange(n_part)
    yield "part", pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": pick(r, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1)})
    r = rng(4)
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": money(r, 1000, 500000, n_ord),
        "o_orderdate": days(r, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                    "5-LOW"], n_ord)})
    r = rng(5)
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(r, 900, 105000, n_li),
        "l_discount": money(r, 0, 0.1, n_li),
        "l_tax": money(r, 0, 0.08, n_li),
        "l_returnflag": pick(r, ["A", "N", "R"], n_li),
        "l_linestatus": pick(r, ["F", "O"], n_li),
        "l_shipdate": days(r, "1995-01-02", "2001-11-04", n_li)})
    r = rng(6)
    span_us = 30 * 86400 * 10**6
    ts = np.sort(r.choice(span_us, n_ev, replace=False))
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array((np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(1, int(n_ev * 0.015)), n_ev), pa.int64()),
        "event_type": pick(r, ["signup", "click", "error", "view", "purchase"], n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    r = rng(7)
    texts = []
    for i in range(n_doc):
        if i > 0 and r.random() < 0.05:
            # planted near-duplicate: an earlier document plus a marker
            texts.append(texts[r.integers(0, i)] + " dup" * int(r.integers(1, 3)))
        else:
            texts.append(" ".join(np.asarray(VOCAB)[r.integers(0, len(VOCAB),
                                                                 r.integers(10, 101))]))
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": pick(r, ["en", "zh", "fr", "es", "de"], n_doc,
                     p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    r = rng(8)
    v = r.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32())})


def main():
    out, scale = sys.argv[1], float(sys.argv[2])
    os.makedirs(out, exist_ok=True)
    for name, t in tables(scale):
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main()
