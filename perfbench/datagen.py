"""Deterministic synthetic tables for the benchmark.

Writes the ten parquet tables the engine reads (`io.TABLES`) with the
column names, types and value distributions of the star-schema test
data the registry queries were written against: TPC-H-like dimension
and fact tables, an `events` stream, a `documents` corpus in which 5%
of the documents are near-duplicates of an earlier one, and unit-norm
64-d `embeddings`. Row counts scale with `sf` the same way
(`lineitem` = 6M x sf).

The tables depend only on `sf` and `seed`, so a directory written once
can be reused by later runs; `ensure()` writes into a temporary
directory and renames it into place, so a half-written directory is
never mistaken for a finished one.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EPOCH = dt.datetime(1970, 1, 1)


def _days(d: dt.date) -> int:
    return (d - _EPOCH.date()).days


def _day_stamps(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    """Midnight timestamps uniform over [lo, hi] (microseconds, naive)."""
    days = rng.integers(_days(lo), _days(hi) + 1, n)
    return pa.array(days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def build_tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    """Every table at scale `sf`; the same (sf, seed) gives the same bytes."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1_500, round(1_500_000 * sf))
    n_line = max(6_000, round(6_000_000 * sf))
    n_ev = max(1_000, round(1_000_000 * sf))
    n_users = max(15, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)
            ),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, n_ord, 1_000.0, 500_000.0)),
            "o_orderdate": _day_stamps(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105_000.0)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _day_stamps(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    # Event times: a Poisson stream over January 2024 (30 days).
    month_us = 30 * 86_400_000_000
    gaps = rng.exponential(month_us / n_ev, n_ev)
    ts = np.minimum(np.cumsum(gaps), month_us - 1).astype(np.int64)
    start_us = (dt.datetime(2024, 1, 1) - _EPOCH) // dt.timedelta(microseconds=1)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(ts + start_us, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(_VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n_docs, p=_LANG_WEIGHTS),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )
    return out


def ensure(root: str, sf: float, seed: int = 42) -> str:
    """Directory holding the tables for (sf, seed) under `root`; writes
    it on first use."""
    final = os.path.join(root, f"sf{sf:g}-seed{seed}")
    if os.path.isdir(final):
        return final
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".datagen-", dir=root)
    try:
        for name, table in build_tables(sf, seed).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        os.rename(tmp, final)
    except OSError:
        # Another run finished the same directory first.
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isdir(final):
            raise
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return final
