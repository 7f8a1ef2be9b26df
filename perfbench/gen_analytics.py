"""Seeded input tables for the analytics_mix workload.

Writes `events`, `documents`, `embeddings` and `lineitem` parquet files with
the schemas and value distributions of the repository's synthetic test
tables (measured against them; see `analytics_input` in layers.json): a
30-word vocabulary, 10-99 words per document, 5 % near-duplicate documents
(a copy plus " dup") and no exact copies, unit-norm 64-dim embeddings with
10 labels, a month of events from 1.5 % as many users as events, and
TPC-H-shaped line items. The same seed gives the same files. Results are
compared with the canonical hash of `tools/verify_local.py`.
"""
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from verify_local import canon, frame_hash  # noqa: E402

VOCAB = ("a the data spark table column row value key query scan filter join "
         "agg group order sort hash merge window stream batch vector part "
         "line customer big small fast slow").split()
LANGS = ["en", "fr", "es", "zh", "de"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


def sizes(scale):
    """Row counts at `scale` (1.0 = the 0.01 scale factor of the test data)."""
    return {
        "events": int(10_000 * scale),
        "documents": int(500 * scale),
        "embeddings": int(500 * scale),
        "lineitem": int(60_000 * scale),
    }


def events(rng, n):
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    users = max(1, int(n * 0.015))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n):
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
             for _ in range(n)]
    # 5 % near-duplicates: a copy of another document plus one token
    for i in rng.choice(n, size=max(1, n // 20), replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    lang = np.array(LANGS)[rng.choice(5, size=n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def lineitem(rng, n):
    # keys from 0, orders of about 4 lines, 2000 parts and 100 suppliers
    # per 60k lines; price independent of quantity; ships 1995-01-02 on
    ship0 = np.datetime64("1995-01-01", "us")
    days = rng.integers(1, 2500, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(1, n // 4), n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, max(1, n // 30), n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(1, n // 600), n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.10, n), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n), 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship0 + days, pa.timestamp("us")),
    })


def generate(out_dir, seed, scale):
    """Write the four tables and `meta.json` (row counts, bytes) to out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(scale)
    makers = {"events": events, "documents": documents,
              "embeddings": embeddings, "lineitem": lineitem}
    meta = {"rows": {}, "bytes": {}}
    for k, name in enumerate(sorted(makers)):
        rng = np.random.default_rng([seed, k])
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(makers[name](rng, n[name]), path)
        meta["rows"][name] = n[name]
        meta["bytes"][name] = os.path.getsize(path)
    with open(os.path.join(out_dir, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


def read_result(path):
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    frames = [pd.read_parquet(os.path.join(path, f)) for f in files]
    if not frames:
        return pd.DataFrame()
    return pd.concat(frames, ignore_index=True)


def check(data_dir, result_dir, oracle):
    """Compare each query's cold result with its oracle SQL run by DuckDB,
    and its warm result with its cold result, by canonical hash.
    Returns {query: problem} for every query that does not match."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET temp_directory='{os.path.join(result_dir, 'duckdb-tmp')}'")
    for t in ("events", "documents", "embeddings", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
    problems = {}
    for q, sql in oracle["sql"].items():
        if q in oracle["broken"]:
            problems[q] = "query failed"
            continue
        try:
            cold = canon(read_result(os.path.join(result_dir, "cold", q)))
            warm = canon(read_result(os.path.join(result_dir, "warm", q)))
            if not sql:
                problems[q] = "no oracle SQL"
                continue
            want = canon(con.execute(sql).df())
        except Exception as e:  # a check that cannot run is a failed check
            problems[q] = f"check error: {e}"[:300]
            continue
        hc = frame_hash(cold)
        if list(cold.columns) != list(want.columns) or hc != frame_hash(want):
            problems[q] = (f"oracle mismatch: rows {len(cold)}/{len(want)} "
                           f"cols {list(cold.columns)}/{list(want.columns)}")
        elif frame_hash(warm) != hc:
            problems[q] = "warm result differs from cold result"
    return problems
