"""Seeded generator for the benchmark's input tables.

Writes the star schema the suite reads (region, nation, customer,
supplier, part, orders, lineitem, events) plus ``documents`` and
``embeddings``, with the column names, types and value domains of the
tables described in TESTDATA.md. Every table is one parquet file
holding one row group, as those tables are, so the scans keep the same
single-reader shape.

The seed picks the values only: row counts and distributions are the
same for every seed. ``documents`` carries near-duplicates (a copy of
another document's text plus one marker token) and a few exact
duplicates; ``embeddings`` are 64-dimensional unit vectors.

A data set is written once per (generator version, seed) under the
given root and published with one atomic directory rename, so a
crashed or concurrent writer never leaves a half-written set visible.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated values change for a given seed.
GEN_VERSION = 1

# Row counts of the TESTDATA.md tables at sf0.01.
ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "users": 150,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DIM = 64


def dataset_dir(root: str, seed: int) -> str:
    return os.path.join(root, f"v{GEN_VERSION}-seed{seed}")


def _days(rng, n: int, first: dt.date, last: dt.date) -> np.ndarray:
    span = (last - first).days + 1
    base = np.datetime64(first, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _keys(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng) -> pa.Table:
    n = ROWS["documents"]
    texts = [
        " ".join(rng.choice(VOCAB, rng.integers(10, 101)).tolist()) for _ in range(n)
    ]
    # 5% near-duplicates of an earlier document, 0.4% exact duplicates
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, n), max(1, n // 250), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    return pa.table(
        {
            "doc_id": _keys(n),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng) -> pa.Table:
    n = ROWS["embeddings"]
    x = rng.standard_normal((n, DIM)).astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": _keys(n),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)), flat
            ),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def generate(seed: int) -> dict[str, pa.Table]:
    """Every table as an Arrow table; the same seed gives the same values."""
    rng = np.random.default_rng(seed)
    r = ROWS
    i32 = lambda a: pa.array(np.asarray(a, dtype=np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype=np.int64))  # noqa: E731
    t = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(range(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32([i % 5 for i in range(25)]),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": _keys(r["customer"]),
            "c_name": _names("Customer", r["customer"]),
            "c_nationkey": i32(rng.integers(0, 25, r["customer"])),
            "c_acctbal": pa.array(_money(rng, r["customer"], -999.99, 9999.99)),
            "c_mktsegment": _pick(rng, SEGMENTS, r["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": _keys(r["supplier"]),
            "s_name": _names("Supplier", r["supplier"]),
            "s_nationkey": i32(rng.integers(0, 25, r["supplier"])),
            "s_acctbal": pa.array(_money(rng, r["supplier"], -999.99, 9999.99)),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    n = r["part"]
    t["part"] = pa.table(
        {
            "p_partkey": _keys(n),
            "p_name": _pick(rng, names, n),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": _pick(rng, PART_TYPES, n),
            "p_size": i32(rng.integers(1, 51, n)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n) % 1000) / 10, 1)),
        }
    )
    n = r["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": _keys(n),
            "o_custkey": i64(rng.integers(0, r["customer"], n)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(_money(rng, n, 1000, 500000)),
            "o_orderdate": pa.array(_days(rng, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1))),
            "o_orderpriority": _pick(rng, PRIORITIES, n),
        }
    )
    n = r["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, r["orders"], n)),
            "l_partkey": i64(rng.integers(0, r["part"], n)),
            "l_suppkey": i64(rng.integers(0, r["supplier"], n)),
            "l_linenumber": i32(rng.integers(1, 8, n)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, n, 900, 105000)),
            "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n), 2)),
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": pa.array(_days(rng, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4))),
        }
    )
    n = r["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": _keys(n),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": i64(rng.integers(0, r["users"], n)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def ensure_dataset(root: str, seed: int) -> tuple[str, bool]:
    """The data set directory for `seed`, written if absent. Returns
    (directory, generated_now)."""
    final = dataset_dir(root, seed)
    if os.path.isdir(final):
        return final, False
    os.makedirs(root, exist_ok=True)
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        for name, table in generate(seed).items():
            pq.write_table(
                table, os.path.join(tmp, f"{name}.parquet"), row_group_size=table.num_rows
            )
        try:
            os.rename(tmp, final)
        except OSError:
            if not os.path.isdir(final):  # not a lost race with a twin writer
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final, True
