"""Seeded inputs for the benchmark workloads.

Every input is a pure function of (seed, scale): the same seed gives
byte-identical tables and sheets. The tables have the column names,
types and value domains of the engine's TPC-H-like test schema
(region nation customer supplier part orders lineitem events
documents embeddings), so every registered query and its DuckDB oracle
run on them unchanged. Row counts follow the usual scale rule
(lineitem = 6M x scale).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400 * 1_000_000


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per table, so adding a table never shifts another
    return np.random.default_rng([seed, sum(map(ord, table)), len(table)])


def _days(start: str, end: str, n: int, rng: np.random.Generator) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def customer_names(n: int) -> list[str]:
    return [f"Customer#{i:09d}" for i in range(n)]


def tables(seed: int, scale: float) -> dict[str, pa.Table]:
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_line = int(6_000_000 * scale)
    n_ev = int(1_000_000 * scale)
    n_doc = max(500, int(50_000 * scale))
    n_vec = max(500, int(20_000 * scale))
    n_users = max(15, int(15_000 * scale))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r = _rng(seed, "customer")
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": customer_names(n_cust),
            "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
        }
    )

    r = _rng(seed, "supplier")
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )

    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
            "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
            "p_size": r.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )

    r = _rng(seed, "orders")
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, r),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)],
        }
    )

    r = _rng(seed, "lineitem")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": r.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": r.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": r.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
            "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, r),
        }
    )

    r = _rng(seed, "events")
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(r.integers(start, start + 30 * _DAY_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": r.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
            "value": np.round(r.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )

    r = _rng(seed, "documents")
    lengths = r.integers(10, 101, n_doc)
    texts = [" ".join(np.array(WORDS)[r.integers(0, len(WORDS), k)]) for k in lengths]
    # near-duplicates (a copy with one appended token) and exact copies,
    # so the dedup operators have work to find
    for i in r.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[int(r.integers(0, i))] + " dup"
    for i in r.choice(np.arange(1, n_doc), max(1, n_doc // 600), replace=False):
        texts[i] = texts[int(r.integers(0, i))]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[r.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    r = _rng(seed, "embeddings")
    vecs = r.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": r.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return out


def write_tables(seed: int, scale: float, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; return out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def website(name: str) -> str:
    """The companies sheet's website for a company name: the same slug
    rule the engine's ``companies_frame`` derives from ``c_name``."""
    import re

    return "https://" + re.sub(r"[^a-z0-9]+", "-", name.lower()) + ".example.com"


def upload_batches(seed: int, pool: int, size: int, count: int) -> list[list[list[str]]]:
    """``count`` uploads of ``size`` companies each, sampled without
    replacement within an upload from the first ``pool`` customers."""
    names = customer_names(pool)
    rng = np.random.default_rng([seed, 11])
    return [
        [[names[i], website(names[i])] for i in rng.choice(pool, size, replace=False)]
        for _ in range(count)
    ]
