"""Output checks, made after the timed passes and outside every metric.

wiki_*:      every pass's Parquet tree, read back with pyarrow, must hold
             exactly the rows the generator computed with the reference's
             greedy walk (title, timestamp, month partition, text digest).
llm_queries: every result of the check pass must match the query's
             registered oracle SQL run in DuckDB on the same tables, by row
             count, column names and a hash over sorted normalised rows
             (the normalisation of the repository's oracle compare).
"""
import datetime
import hashlib
import json
import math
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DAY_US = 86_400 * 1_000_000


def wiki_rows(out_dir, meta):
    """The check-key rows of one written snapshot/index tree."""
    t = pq.read_table(out_dir)
    ts = pc.cast(pc.cast(t.column("timestamp"), pa.timestamp("us")), pa.int64()).to_pylist()
    title = t.column("title").to_pylist()
    month = [str(m) for m in t.column("month").to_pylist()]
    wiki = {str(w) for w in t.column("wiki").to_pylist()}
    if t.num_rows and wiki != {meta["wiki"]}:
        raise ValueError(f"wiki partition {sorted(wiki)} != {meta['wiki']}")
    if meta["with_text"]:
        ns = set(t.column("namespace").to_pylist())
        if t.num_rows and ns != {"0"}:
            raise ValueError(f"namespaces {sorted(ns)} in a namespace-0 snapshot")
        digest = [hashlib.md5((x or "").encode()).hexdigest() for x in t.column("text").to_pylist()]
    else:
        days = pc.cast(t.column("day"), pa.int32()).to_pylist()
        if any(d != u // DAY_US for d, u in zip(days, ts)):
            raise ValueError("day column disagrees with timestamp")
        digest = [""] * t.num_rows
    return sorted([a, b, c, d] for a, b, c, d in zip(title, ts, month, digest))


def check_wiki(out_dir, meta, expected):
    """None if `out_dir` holds exactly the expected rows, else a reason."""
    try:
        got = wiki_rows(out_dir, meta)
    except Exception as e:  # unreadable output is a failed check
        return f"unreadable output: {e}"
    if got == expected:
        return None
    missing = [r for r in expected if r not in got][:1]
    extra = [r for r in got if r not in expected][:1]
    return (f"{len(got)} rows, expected {len(expected)}; "
            f"first missing {missing[:1]} first extra {extra[:1]}")[:300]


def _norm(v):
    if v is None:
        return "NULL"
    try:
        if v != v:  # NaN / NaT
            return "NULL"
    except Exception:
        pass
    if isinstance(v, (datetime.date, datetime.datetime)):
        import pandas as pd
        return str(pd.Timestamp(v))
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def check_queries(check_dir, plan):
    """{query: None or failure reason} for the check pass's results.
    `plan` maps each query to the table directory it ran on."""
    oracles = json.load(open(os.path.join(check_dir, "oracle_sql.json")))
    cons = {}
    for tables in set(plan.values()):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        cons[tables] = con

    def one(name):
        try:
            sdf = pq.read_table(os.path.join(check_dir, name)).to_pandas()
            if name not in oracles:
                raise ValueError("no oracle registered")
            ddf = cons[plan[name]].cursor().execute(oracles[name]).df()
        except Exception as e:
            return str(e)[:300]
        s_cols, d_cols = list(sdf.columns), list(ddf.columns)
        s_rows = [tuple(r) for r in sdf.itertuples(index=False, name=None)]
        d_rows = [tuple(r) for r in ddf.itertuples(index=False, name=None)]
        if sorted(s_cols) != sorted(d_cols):
            return f"columns {sorted(s_cols)} != oracle {sorted(d_cols)}"
        if len(s_rows) != len(d_rows):
            return f"{len(s_rows)} rows != oracle {len(d_rows)}"
        if _digest(s_cols, s_rows) != _digest(d_cols, d_rows):
            return f"hash mismatch over {len(s_rows)} rows"
        return None

    # oracles run concurrently: several (recursive CTEs) use one core each
    with ThreadPoolExecutor(max_workers=min(4, os.cpu_count() or 1)) as pool:
        out = dict(zip(plan, pool.map(one, plan)))
    for con in cons.values():
        con.close()
    return out


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))
