"""Deterministic input tables for the benchmark.

`base(out, sf)` writes the star schema plus `events`, `documents` and
`embeddings` in the shape graft's queries are written against (one
parquet file per table, the schemas listed in FIXTURES.md). The content
depends only on `sf` and GEN_SEED, never on the benchmark's `--seed`, so
the committed reference digests (refs.json) stay valid.

Planted structure the checks rely on:
- documents: 5% of docs are "<text of another doc> dup" copies and 1%
  exact copies. Every copy has the opposite doc_id parity to its
  original and lies within 1000 ids of it, so the even/odd corpus split
  of the ingest stream and the 1-hour dedup watermark over its ingest
  clock (one doc_id per second) see every copy, wherever a stream is
  cut. An exact copy also has its original's lang and source.
  doc_ids below 25 are never a copy or an original (q_minhash_lsh
  plants its own copies of them).
- embeddings: isotropic random unit vectors.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 20261017
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
ADJ = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]


def _write(df, path, schema):
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, compression="snappy")


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    # plant copies: a copy and its original differ in parity and lie
    # within 1000 ids of each other; each id takes part in one pair
    # which of two exact copies a dedup keeps changes no per-source total
    lang = np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)]
    source = np.array([f"src{i % 20}" for i in range(n)])
    used = set(range(25))
    n_near, n_exact = n // 20, n // 100
    for i in range(n_near + n_exact):
        while True:
            dst = int(rng.integers(25, n))
            src = dst + int(rng.choice([-1, 1])) * (2 * int(rng.integers(0, 500)) + 1)
            if 25 <= src < n and src not in used and dst not in used:
                break
        used.update((src, dst))
        if i < n_near:
            texts[dst] = texts[src] + " dup"
        else:
            texts[dst], lang[dst], source[dst] = texts[src], lang[src], source[src]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": source,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def base(out, sf):
    """Writes the ten base tables for scale factor `sf` under `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([GEN_SEED, int(round(sf * 1000))])
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line = int(1500000 * sf), int(6000000 * sf)
    n_ev, n_doc, n_emb = int(1000000 * sf), int(50000 * sf), int(20000 * sf)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts, f32 = pa.timestamp("us"), pa.float32()
    sch = lambda *cols: pa.schema(list(cols))

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet", sch(("r_regionkey", i32), ("r_name", s)))
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5}),
        f"{out}/nation.parquet",
        sch(("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)))
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet",
        sch(("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
            ("c_acctbal", f64), ("c_mktsegment", s)))
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}),
        f"{out}/supplier.parquet",
        sch(("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
            ("s_acctbal", f64)))
    pk = np.arange(n_part, dtype=np.int64)
    _write(pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)}),
        f"{out}/part.parquet",
        sch(("p_partkey", i64), ("p_name", s), ("p_brand", s),
            ("p_type", s), ("p_size", i32), ("p_retailprice", f64)))
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet",
        sch(("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
            ("o_totalprice", f64), ("o_orderdate", ts),
            ("o_orderpriority", s)))
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["R", "N", "A"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")}),
        f"{out}/lineitem.parquet",
        sch(("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
            ("l_linenumber", i32), ("l_quantity", f64),
            ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
            ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)))
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    _write(pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, int(15000 * sf), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet",
        sch(("event_id", i64), ("ts", ts), ("user_id", i64),
            ("event_type", s), ("value", f64), ("props", s)))
    _write(_documents(rng, n_doc), f"{out}/documents.parquet",
           sch(("doc_id", i64), ("text", s), ("lang", s), ("source", s),
               ("n_chars", i64)))
    v = rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)}),
        f"{out}/embeddings.parquet",
        sch(("vec_id", i64), ("embedding", pa.list_(f32)), ("label", i32)))
