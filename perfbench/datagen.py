"""Deterministic synthetic input tables for the benchmark.

Writes the TPC-H-ish star schema plus ``events`` and ``documents`` (the
tables the benchmark's workloads read) as one parquet file each, with the
column names, types and value domains of the engine's conformance data
(``TESTDATA.md``). Every column is drawn independently and uniformly over
its domain, as in that data. The data seed is fixed, so the stored expected
results stay valid; the workload seed only orders the operations.

Usage::

    python3 perfbench/datagen.py OUT_DIR SF
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bumped whenever the generator's output changes; stored expected results
#: name the version they were computed on.
VERSION = 1
DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _days(rng, n, start, end):
    span = (end - start).days + 1
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _tables(sf: float):
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_li = max(int(6_000_000 * sf), 10)
    n_ev = max(int(1_000_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 500)
    i32, i64 = pa.int32(), pa.int64()

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    yield "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, _TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n_ev), i64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 101, n_doc)]
    # about one document in twenty repeats an earlier one plus a marker word
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })


def generate(out_dir: str, sf: float) -> None:
    """Write every table under ``out_dir``; a ``READY`` marker written last
    names the generator version, so a partial directory is never reused."""
    marker = os.path.join(out_dir, "READY")
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read().strip() == str(VERSION):
                return
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(sf):
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as fh:
        fh.write(str(VERSION))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
