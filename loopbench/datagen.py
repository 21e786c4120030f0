"""Fixture-shaped input tables for the benchmark.

Writes the ten tables the engine's catalog expects (``region`` ...
``embeddings``, one parquet file each) with the schemas, row counts and
value distributions of the engine's TPC-H-ish fixture files at a given
scale factor. Where ``FIXTURES.md`` and the files differ, the files win:
every timestamp is stored in microseconds, and exact duplicate texts number
``n_documents // 600`` (none at sf0.01). ``README.md`` lists what was
compared. The tables depend only on ``sf``: a fixed generator seed makes
every run read byte-identical inputs, so timing differences between runs
and seeds come from the program, not from the data. The run seed chooses
request parameters and call order instead (see ``workloads.py``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Generator seed of the tables (the run seed never reaches the data).
DATA_SEED = 42

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
ADJECTIVES = "small red blue hot cold big green dark".split()
NOUNS = "ring widget bolt gear plate valve spring pipe".split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _cents(lo: float, hi: float, n: int, rng) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(values, n: int, rng, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def sizes(sf: float) -> dict[str, int]:
    """Row counts of scale ``sf`` (``users``: distinct ``events.user_id``)."""
    n = {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }
    n["users"] = max(15, n["customer"] // 10)
    return n


def tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = sizes(sf)
    n_cust, n_supp, n_part = n["customer"], n["supplier"], n["part"]
    n_ord, n_li, n_ev = n["orders"], n["lineitem"], n["events"]
    n_doc, n_emb = n["documents"], n["embeddings"]
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _cents(-999.99, 9999.99, n_cust, rng),
            "c_mktsegment": _pick(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n_cust,
                rng,
            ),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _cents(-999.99, 9999.99, n_supp, rng),
        }
    )
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": _pick(names, n_part, rng),
            "p_brand": _pick([f"Brand#{i}" for i in range(1, 26)], n_part, rng),
            "p_type": _pick(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part, rng
            ),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(["F", "O", "P"], n_ord, rng),
            "o_totalprice": _cents(1000, 500_000, n_ord, rng),
            "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
            "o_orderpriority": _pick(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord, rng
            ),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(900, 105_000, n_li, rng),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(["A", "N", "R"], n_li, rng),
            "l_linestatus": _pick(["F", "O"], n_li, rng),
            "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, rng),
        }
    )
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us").astype(
        np.int64
    )
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": pa.array(rng.integers(0, n["users"], n_ev), i64),
            "event_type": _pick(["click", "error", "purchase", "signup", "view"], n_ev, rng),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = []
    for _ in range(n_doc):
        words = np.asarray(WORDS, dtype=object)[rng.integers(0, len(WORDS), rng.integers(10, 101))]
        if rng.random() < 0.05:
            words[rng.integers(0, len(words))] = "dup"
        texts.append(" ".join(words))
    for i in rng.choice(n_doc, n_doc // 600, replace=False):  # planted exact duplicates
        texts[i] = texts[(i + 1) % n_doc]
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": _pick(LANGS, n_doc, rng, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32),
        }
    )
    return out


def write(sf: float, out_dir: str) -> str:
    """Write every table of scale ``sf`` to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
