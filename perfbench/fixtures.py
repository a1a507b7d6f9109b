"""Benchmark input tables: a fixed synthetic sf0.1 catalog plus seeded staging.

The ten tables follow the fixture schemas the engine's queries are written
for (FIXTURES.md) at the sf0.1 row counts. They are generated from a fixed
generator seed, so every checkout with the same numpy builds the same base
tables and the expected outputs in ``expected.json`` hold for all of them.
The run seed only permutes row order while staging; no query output depends
on row order.
"""

from __future__ import annotations

import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Bump when the generator changes: it invalidates cached base tables and
#: means ``expected.json`` must be regenerated (``python3 perfbench/expect.py``).
GENERATOR_VERSION = "1"
_GEN_SEED = 20240101

_WORDS = (
    "spark line small fast group customer query row stream the part column order "
    "scan a slow agg key window table merge vector join batch sort value hash "
    "filter big data dup"
).split()


def _day_stamps(rng, lo: str, hi: str, n: int) -> pa.Array:
    """Date-valued microsecond timestamps, uniform over [lo, hi]."""
    lo_d = np.datetime64(lo, "D")
    days = (np.datetime64(hi, "D") - lo_d).astype(int)
    return pa.array(lo_d + rng.integers(0, days + 1, n), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    """Word-soup documents; about one in twenty is a light edit of an
    earlier document, so the near-duplicate operators find real work."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(words) // 25)):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[k] for k in rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), type=pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(["en", "de", "fr", "es", "zh"], n)),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centers[label] + 0.8 * rng.normal(size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), type=pa.int64()),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(label, type=pa.int32()),
        }
    )


def generate(out_dir: str) -> None:
    """Write the ten base tables (sf0.1 row counts) into ``out_dir``."""
    rng = np.random.default_rng(_GEN_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_ord, n_line, n_ev = 15_000, 1_000, 20_000, 150_000, 600_000, 100_000
    i32 = pa.int32()
    tables = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), type=i32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), type=i32),
                "n_name": [f"NATION_{k}" for k in range(25)],
                "n_regionkey": pa.array([k % 5 for k in range(25)], type=i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
                "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"], n_cust
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
                "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), type=i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(["blue", "old", "large", "hot", "cold", "red", "small", "new"], n_part),
                        rng.choice(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"], n_part),
                    )
                ],
                "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), type=i32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), type=pa.int64()),
                "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _day_stamps(rng, "1995-01-01", "2001-08-01", n_ord),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), type=pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), type=pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), type=pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), type=i32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["O", "F"], n_line),
                "l_shipdate": _day_stamps(rng, "1995-01-02", "2001-11-04", n_line),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
                "ts": pa.array(
                    np.datetime64(datetime(2024, 1, 1), "us")
                    + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)),
                    type=pa.timestamp("us"),
                ),
                "user_id": pa.array(rng.integers(0, 1500, n_ev), type=pa.int64()),
                "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
                "value": np.round(rng.exponential(60.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, 5_000),
        "embeddings": _embeddings(rng, 2_000),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def base_dir(data_root: str) -> str:
    """The cached base tables, generated on first use in this checkout."""
    out = os.path.join(data_root, f"base-v{GENERATOR_VERSION}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        generate(out)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def stage(data_root: str, seed: int) -> str:
    """Copy the base tables with every table's rows in a seed-determined
    order; returns the staged directory (reused when the seed repeats)."""
    base = base_dir(data_root)
    out = os.path.join(data_root, "staged")
    marker = os.path.join(out, f"_SEED_{GENERATOR_VERSION}_{seed}")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    rng = np.random.default_rng(seed)
    for name in TABLES:
        table = pq.read_table(os.path.join(base, f"{name}.parquet"))
        pq.write_table(
            table.take(rng.permutation(table.num_rows)), os.path.join(out, f"{name}.parquet")
        )
    open(marker, "w").close()
    return out
