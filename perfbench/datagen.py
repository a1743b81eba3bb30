"""Deterministic synthetic tables for the benchmark.

The benchmark reads nothing outside its checkout, so it generates the
parquet tables the chosen statements and registry queries read, with the
same column names, types and value ranges as TESTDATA.md's sf0.1 fixtures.
``events`` is sf0.1's size (100k rows over 30 days, about 3.3k per day),
since the serve statements are sized by it.  The registry-only tables are
smaller than sf0.1, so a run with its cold warm-up pass fits the
benchmark's time budget: ``orders`` 75k rows (sf0.1: 150k), ``lineitem``
100k (600k) and ``embeddings`` 2k x 64 floats (as sf0.1).  The tables are
fixed by ``DATA_SEED``; the workload seed only chooses the requests.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = ("events", "orders", "lineitem", "embeddings")

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
N_EVENTS = 100_000
N_USERS = 1_500

_US_PER_DAY = 86_400_000_000


def _ts(start: dt.datetime, offsets_us: np.ndarray) -> pa.Array:
    base = int((start - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _events(rng: np.random.Generator) -> pa.Table:
    # distinct microsecond offsets, so ORDER BY timestamp has one answer
    offs = np.sort(rng.choice(EVENTS_DAYS * _US_PER_DAY, N_EVENTS, replace=False))
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": _ts(EVENTS_START, offs),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS)),
            "value": pa.array(np.round(rng.gamma(2.0, 50.0, N_EVENTS), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        }
    )


def _orders(rng: np.random.Generator) -> pa.Table:
    n = 75_000
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, 7_500, n, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
            "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, n), 2)),
            "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2_404, n) * _US_PER_DAY),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)
            ),
        }
    )


def _lineitem(rng: np.random.Generator) -> pa.Table:
    n = 100_000
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, 75_000, n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, 20_000, n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, 1_000, n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2_498, n) * _US_PER_DAY),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    n, dim = 2_000, 64
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.05, (10, dim))
    vecs = (centers[labels] + rng.normal(0.0, 0.12, (n, dim))).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def ensure_tables(sf_dir: Path) -> None:
    """Write every table under ``sf_dir`` unless a complete set is there.

    The set is written to a sibling directory and renamed into place, so an
    interrupted run never leaves a partial set that later runs would trust."""
    if all((sf_dir / f"{t}.parquet").is_file() for t in TABLES):
        return
    tmp = sf_dir.with_name(sf_dir.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    rng = np.random.default_rng(DATA_SEED)
    for name, make in (
        ("events", _events),
        ("orders", _orders),
        ("lineitem", _lineitem),
        ("embeddings", _embeddings),
    ):
        pq.write_table(make(rng), tmp / f"{name}.parquet")
    shutil.rmtree(sf_dir, ignore_errors=True)
    tmp.rename(sf_dir)
