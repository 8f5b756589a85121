"""Seeded input generators for the benchmark.

Everything the program reads is made here from the run's seed: the
analytic tables (a TPC-H-like star schema plus events, documents and
embeddings, in the column layout `open_tlm_spark.session.load_tables`
expects) and the telemetry series the serve workload ingests. The same
seed gives byte-identical inputs.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ------------------------------------------------------------ telemetry
# 10 Hz series, the reference's design point.
HZ = 10
STEP_US = 1_000_000 // HZ
T0 = dt.datetime(2024, 1, 1)
T0_US = int((T0 - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def series_ids(n_series: int) -> list[str]:
    return [f"sys.host{i:02d}.cpu" for i in range(n_series)]


def series_values(rng: np.random.Generator, n: int) -> np.ndarray:
    """A bounded random walk around 50, rounded to 3 decimals so the
    JSON round trip is exact."""
    walk = np.cumsum(rng.normal(0.0, 0.5, n))
    return np.round(50.0 + 20.0 * np.tanh(walk / 40.0), 3)


def write_points(path: str, seed: int, n_series: int, n_points: int) -> None:
    """The initial store contents: n_series x n_points at 10 Hz from T0."""
    rng = np.random.default_rng(seed)
    ids = np.repeat(np.array(series_ids(n_series), dtype=object), n_points)
    us = np.tile(T0_US + np.arange(n_points, dtype=np.int64) * STEP_US, n_series)
    vals = np.concatenate([series_values(rng, n_points) for _ in range(n_series)])
    pq.write_table(
        pa.table(
            {
                "dataset_id": pa.array(ids, pa.string()),
                "ts": pa.array(us, pa.timestamp("us")),
                "value": pa.array(vals, pa.float64()),
            }
        ),
        path,
    )


# ------------------------------------------------------------- analytic
_WORDS = (
    "scan column window order sort part agg value line key join merge "
    "group query a vector hash slow stream filter fast the batch spark "
    "table small data big customer row"
).split()
_ADJ = "cold small large blue new red hot old green shiny".split()
_NOUN = "widget bolt rod gear anvil ring".split()


def _ts_us(rng, lo: dt.datetime, hi: dt.datetime, n: int, whole_days: bool):
    lo_us = int((lo - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    hi_us = int((hi - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    if whole_days:
        day = 86_400_000_000
        return lo_us + rng.integers(0, (hi_us - lo_us) // day + 1, n) * day
    return rng.integers(lo_us, hi_us, n)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten analytic tables at scale factor sf (lineitem has
    about 6M x sf rows; documents and embeddings have a 500-row floor)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(5, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()
    ts_us = pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    segs = np.array(["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"])
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)].tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
    })
    types = np.array(["PROMO", "ECONOMY", "MEDIUM", "SMALL", "LARGE", "STANDARD"])
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, len(_ADJ), n_part), rng.integers(0, len(_NOUN), n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 2000) / 10, 2), f64),
    })
    status = np.array(["O", "F", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": status[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord), f64),
        "o_orderdate": pa.array(
            _ts_us(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), n_ord, True), ts_us
        ),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)].tolist(),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_line)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)].tolist(),
        "l_shipdate": pa.array(
            _ts_us(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), n_line, True), ts_us
        ),
    })
    kinds = np.array(["click", "purchase", "error", "signup", "view"])
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(
            np.sort(_ts_us(rng, dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 31), n_ev, False)),
            ts_us,
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": kinds[rng.integers(0, 5, n_ev)].tolist(),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 100))
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), n_words)))
    langs = np.array(["en", "fr", "es", "zh", "de"])
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": langs[rng.integers(0, 5, n_docs)].tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] * 0.15 + rng.normal(0.0, 1.0, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
