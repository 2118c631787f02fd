"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-ish star schema plus the events, documents and
embeddings tables graft's loaders read (`graft.core.Tables`), one
single-row-group parquet file per table, with the same column names,
types and value domains as the project's test data (TESTDATA.md). The same
seed and scale factor always give byte-identical files.

    python3 perfbench/gen.py --seed 7 --sf 0.1 --out /tmp/in
"""
import argparse
import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the data spark query table row column key value join group agg "
         "sort hash scan filter merge order part line customer batch stream "
         "window vector fast slow big small").split()


def _days(rng, lo, hi, n):
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int)
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, sf, doc_sf=None, factor=1):
    """Yield (name, DataFrame) for every table at scale factor `sf`;
    `doc_sf` scales documents/embeddings separately (defaults to sf), and
    `factor` > 1 expands them the way `graft.ScaleUp.ensureText` does."""
    doc_sf = sf if doc_sf is None else doc_sf
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150000 * sf))
    n_supp = max(10, int(10000 * sf))
    n_part = max(200, int(200000 * sf))
    n_ord = max(1500, int(1500000 * sf))
    n_line = max(6000, int(6000000 * sf))
    n_ev = max(1000, int(1000000 * sf))
    n_users = max(15, int(15000 * sf))
    n_docs = max(500, int(50000 * doc_sf))
    n_vec = max(500, int(20000 * doc_sf))

    yield "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    yield "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    yield "customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    yield "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    yield "part", pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJ, n_part),
                                             rng.choice(NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    odate = _days(rng, "1995-01-01", "2001-08-01", n_ord)
    yield "orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lok = rng.integers(0, n_ord, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = odate[lok] + rng.integers(1, 96, n_line).astype("timedelta64[D]")
    yield "lineitem", pd.DataFrame({
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": ship.astype("datetime64[us]")})
    # events arrive in id order over 30 days, microsecond timestamps
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + \
        np.minimum(np.cumsum(gaps), 30 * 86400e6 - 1).astype("timedelta64[us]")
    yield "events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.exponential(60.0, n_ev), 560.21), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    docs, vecs = _documents(rng, n_docs), _embeddings(rng, n_vec)
    if factor > 1:
        docs, vecs = expand_text(docs, vecs, factor)
    yield "documents", docs
    yield "embeddings", vecs


# key shift per copy, as graft.ScaleUp.Offset
OFFSET = 1000000000


def expand_text(docs, vecs, factor):
    """`factor` id-shifted copies of the corpus; copy k > 0 tags every
    token with `~k` (n_chars is carried over unchanged), embeddings
    repeat verbatim — the semantics of graft.ScaleUp.ensureText, written
    as single files so every Tables reader and layout fingerprint sees
    the single-file layout the test data has."""
    out = []
    for k in range(factor):
        d = docs.copy()
        d["doc_id"] = d["doc_id"] + k * OFFSET
        if k:
            d["text"] = [" ".join(t + f"~{k}" for t in x.split(" ")) for x in d["text"]]
        out.append(d)
    ids = vecs.column("vec_id").to_numpy()
    return (pd.concat(out, ignore_index=True),
            pa.concat_tables([vecs.set_column(0, "vec_id", pa.array(ids + k * OFFSET))
                              for k in range(factor)]))


def _documents(rng, n):
    """Random-word documents with near-duplicate families: ~15% of the
    docs copy an earlier doc and mutate a few tokens, ~0.2% copy one
    verbatim, so the dedup operators have real work to find."""
    words = np.array(WORDS)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.15:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(toks), max(1, len(toks) // 20)):
                toks[j] = words[rng.integers(0, len(words))]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     int(rng.integers(8, 100)))]))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(rng, n, dim=64, k=10):
    centers = rng.normal(0.0, 0.12, (k, dim))
    label = rng.integers(0, k, n)
    vecs = (centers[label] + rng.normal(0.0, 0.06, (n, dim))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})


def write(seed, sf, out, doc_sf=None, factor=1):
    """Write every table under `out` and return {table: {rows, bytes,
    md5}} — the input census a result records."""
    os.makedirs(out, exist_ok=True)
    census = {}
    for name, df in tables(seed, sf, doc_sf, factor):
        t = df if isinstance(df, pa.Table) else \
            pa.Table.from_pandas(df, preserve_index=False)
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(t, path, row_group_size=max(1, t.num_rows),
                       coerce_timestamps="us")
        with open(path, "rb") as f:
            digest = hashlib.md5(f.read()).hexdigest()
        census[name] = {"rows": t.num_rows, "bytes": os.path.getsize(path),
                        "md5": digest}
    return census


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--doc-sf", type=float, default=None)
    ap.add_argument("--factor", type=int, default=1)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(write(a.seed, a.sf, a.out, a.doc_sf, a.factor), indent=1))
