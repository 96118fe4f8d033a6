"""Seeded inputs for the benchmark workloads.

``write_testdata`` writes the ten tables the query registry reads
(``schemas.TESTDATA_TABLES``), with the column names, parquet types and
value domains of the project's deterministic test data: fixed two-decimal
money columns, day-granular order/ship timestamps, a 30-day event stream
with JSON props, short-vocabulary documents with appended near-duplicates,
and unit-norm 64-d embeddings clustered around ten labels. Row counts
follow the ``sf`` scale factor (sf=0.001 gives 6,000 lineitem rows).

``city_names`` picks the medallion workload's cities.

Only numpy's seeded generator is used, never ``hash()``, so one seed gives
byte-identical inputs in every process.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PART_ADJ = ["cold", "small", "large", "red", "blue", "green", "dark", "light"]
_PART_NOUN = ["widget", "bolt", "gear", "spring", "valve", "panel", "screw", "nut"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "the a data row column table scan filter join agg group sort merge hash "
    "key value line part order customer query spark batch stream window "
    "vector big small fast slow"
).split()
_CITIES = [
    "Delhi", "London", "NewYork", "Tokyo", "Paris", "Berlin", "Madrid",
    "Rome", "Cairo", "Lagos", "Nairobi", "Lima", "Bogota", "Santiago",
    "Toronto", "Chicago", "Denver", "Seattle", "Mumbai", "Chennai",
    "Jakarta", "Manila", "Seoul", "Osaka", "Sydney", "Perth", "Auckland",
    "Oslo", "Helsinki", "Warsaw", "Prague", "Vienna", "Lisbon", "Dublin",
]

_DAY_US = 86_400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform values with exactly two decimals (integer cents / 100)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _days_from(base: str, offsets: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _documents(rng: np.random.Generator, n: int) -> dict[str, pa.Array]:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.12:
            # near-duplicate of an earlier document: same body, a few
            # trailing "dup" tokens (what the dedup queries look for)
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 4)))
        else:
            words = rng.choice(_VOCAB, int(rng.integers(8, 100)))
            texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P).tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict[str, pa.Array]:
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(scale=0.8, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    }


def write_testdata(out_dir: str, seed: int, sf: float = 0.001) -> dict[str, int]:
    """Write every registry input table under ``out_dir``; returns row
    counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, round(150_000 * sf))
    n_supp = max(5, round(10_000 * sf))
    n_part = max(20, round(200_000 * sf))
    n_ord = max(100, round(1_500_000 * sf))
    n_line = max(400, round(6_000_000 * sf))
    n_evt = max(100, round(1_000_000 * sf))
    n_doc = max(100, round(500_000 * sf))
    n_users = max(5, round(15_000 * sf))
    rows: dict[str, int] = {}
    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust).tolist()),
    })
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(
                rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part)
            )]
        ),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part).tolist()),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 200) / 10.0),
    })
    rows["orders"] = _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _days_from("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord).tolist()),
    })
    rows["lineitem"] = _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist()),
        "l_shipdate": _days_from("1995-01-02", rng.integers(0, 2498, n_line)),
    })
    ts_us = np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    rows["events"] = _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us").astype(np.int64) + ts_us,
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_evt).astype(np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_evt).tolist()),
        "value": pa.array(_money(rng, 0.01, 330.0, n_evt)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    rows["documents"] = _write(out_dir, "documents", _documents(rng, n_doc))
    rows["embeddings"] = _write(out_dir, "embeddings", _embeddings(rng, n_doc))
    return rows


def city_names(seed: int, n: int) -> list[str]:
    """``n`` distinct city names drawn by ``seed``."""
    rng = np.random.default_rng(seed)
    return [str(c) for c in rng.choice(_CITIES, n, replace=False)]
