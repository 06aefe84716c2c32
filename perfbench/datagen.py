"""Deterministic base tables for the benchmark (the engine's sf0.1 schema).

The benchmark may not read data from outside its checkout, so it writes its
own copy of the ten tables the engine's catalog knows
(`duckdb_parachute_spark.catalog.TABLES`), with the column names, types and
value domains of the synthetic TPC-H-style star schema the workload
registry is written against. Generation is numpy + pyarrow only: no Spark,
so it costs seconds and is input preparation, never part of a timed phase.

The tables depend only on ``DATA_SEED``: read fingerprints recorded in
``expected/`` hold for every run. The workload ``--seed`` never reaches
this module; it orders operations and generates write inputs (run.py).
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

DATA_SEED = 42

#: rows per table at sf0.1
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
EMBED_DIM = 64
NEAR_DUPS = 250

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _days(start: str, end: str, n: int, rng) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int)) + 1
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(out: str) -> None:
    """Write all ten tables under ``out`` (replacing it). The directory is
    assembled under a temporary name and renamed last, so a killed run
    never leaves a half-written data set at ``out``."""
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(DATA_SEED)
    i32, i64 = pa.int32(), pa.int64()

    _write(tmp, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    })
    _write(tmp, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })

    n = ROWS["customer"]
    _write(tmp, "customer", {
        "c_custkey": pa.array(np.arange(n), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })
    n = ROWS["supplier"]
    _write(tmp, "supplier", {
        "s_suppkey": pa.array(np.arange(n), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = ROWS["part"]
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, len(PART_ADJ), n)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, len(PART_NOUN), n)]
    _write(tmp, "part", {
        "p_partkey": pa.array(np.arange(n), i64),
        "p_name": pa.array(adj + " " + noun, pa.string()),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) / 10.0, 2),
    })

    n_orders = ROWS["orders"]
    _write(tmp, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders), i64),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n_orders), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": pa.array(_days("1995-01-01", "2001-08-01", n_orders, rng), pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, n_orders),
    })
    n = ROWS["lineitem"]
    _write(tmp, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), i64),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), i64),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": pa.array(_days("1995-01-02", "2001-11-04", n, rng), pa.timestamp("us")),
    })

    n = ROWS["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = _EPOCH + (np.datetime64("2024-01-01", "us") - _EPOCH) + np.sort(
        rng.integers(0, month_us, n)
    ).astype("timedelta64[us]")
    _write(tmp, "events", {
        "event_id": pa.array(np.arange(n), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), i64),
        "event_type": _pick(rng, EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })

    n = ROWS["documents"]
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 101, n)]
    # near-duplicates: a copy of another document with one word appended
    dup_ids = rng.choice(n, NEAR_DUPS, replace=False)
    for i in dup_ids:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    _write(tmp, "documents", {
        "doc_id": pa.array(np.arange(n), i64),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })

    n = ROWS["embeddings"]
    vec = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(tmp, "embeddings", {
        "vec_id": pa.array(np.arange(n), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), i32),
    })

    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def row_counts(data_dir: str) -> dict[str, int]:
    """Row count of each table from the parquet footers (a file or a
    directory of part files), or -1 when a table is missing or unreadable."""
    out = {}
    for t in ["region", "nation", *ROWS]:
        path = os.path.join(data_dir, f"{t}.parquet")
        try:
            out[t] = ds.dataset(path, format="parquet").count_rows()
        except Exception:  # noqa: BLE001 - any unreadable table means "regenerate"
            out[t] = -1
    return out


def ensure_base(data_dir: str) -> bool:
    """Generate the base tables unless a complete copy is present.
    Returns True when it had to generate."""
    want = {"region": 5, "nation": 25, **ROWS}
    if row_counts(data_dir) == want:
        return False
    generate(data_dir)
    return True
