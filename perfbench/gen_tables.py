"""Seeded generator of the engine's query corpus for the llm_queries workload.

Writes one Parquet file per table (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) with the schemas
and value domains the engine's `graft.Tables` loaders and registered
queries expect: a TPC-H-like star schema, an `events` stream, a
`documents` corpus with exact and near duplicates, and clustered unit
`embeddings`. Row counts scale with `sf` as the engine's test corpus
does (lineitem = 6M x sf).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOC_WORDS = ["query", "row", "stream", "the", "spark", "line", "small", "fast",
             "group", "customer", "batch", "sort", "value", "hash", "filter",
             "big", "data", "part", "column", "order", "scan", "a", "slow",
             "agg", "key", "window", "table", "merge", "vector", "join"]
COLORS = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
THINGS = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _days(start, rng, lo, hi, n):
    base = np.datetime64(start, "us")
    return base + (rng.integers(lo, hi, n) * 86_400_000_000).astype("timedelta64[us]")


def tables(seed, sf):
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = 500 if sf <= 0.01 else 5000
    n_emb = 500 if sf <= 0.01 else 2000
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{COLORS[a]} {THINGS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    odate = _days("1995-01-01", rng, 0, 2404, n_ord)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lok = np.sort(rng.integers(0, n_ord, n_line))
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": pa.array(odate[lok] + (rng.integers(1, 95, n_line) * 86_400_000_000)
                               .astype("timedelta64[us]"), pa.timestamp("us"))})
    gaps = rng.integers(1, int(2 * 30 * 86_400_000_000 / n_ev), n_ev)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.04:                      # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.12:                    # near duplicate
            w = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                w[int(rng.integers(0, len(w)))] = DOC_WORDS[int(rng.integers(0, 30))]
            texts.append(" ".join(w + ["dup"]))
        else:
            texts.append(" ".join(_pick(rng, DOC_WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": _pick(rng, ["en", "en", "en", "de", "es", "fr", "zh"], n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centroids = rng.normal(size=(10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    label = rng.integers(0, 10, n_emb)
    vec = rng.normal(size=(n_emb, 64)) + 1.17 * centroids[label]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return out


def generate(seed, out_dir, sf):
    """Write the corpus at scale `sf` into `out_dir`; returns its byte size."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, t in tables(seed, sf).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        total += os.path.getsize(path)
    return total
