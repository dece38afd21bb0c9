"""Seeded TPC-H-shaped tables for the benchmark.

Same tables, columns and types as the repository's TPC-H-ish fixtures
(``region nation customer supplier part orders lineitem``), generated
from a seed with NumPy so that a benchmark run needs nothing outside its
own checkout. Row counts follow TPC-H's per-scale-factor ratios:
150k customers, 10k suppliers, 200k parts, 1.5M orders and ~4 lines per
order at sf=1. Keys are dense and 0-based, as in the fixtures.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# TPC-H's 25 nations with their region keys.
NATIONS = [
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1),
]
COLOURS = ["red", "blue", "green", "small", "large", "black", "white", "shiny"]
THINGS = ["widget", "bolt", "ring", "gear", "valve", "panel", "spring", "cable"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def row_counts(sf: float) -> dict[str, int]:
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(50, int(1_500_000 * sf)),
    }


def _ts(rng, n, lo="1992-01-01", days=2400):
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def generate(out_dir: str, sf: float, seed: int) -> str:
    """Write the seven tables as ``<out_dir>/<table>.parquet`` and return
    *out_dir*. The same (sf, seed) always yields the same bytes of data."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    os.makedirs(out_dir, exist_ok=True)

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [nm for nm, _ in NATIONS],
        "n_regionkey": pa.array([r for _, r in NATIONS], pa.int32()),
    })
    nc = n["customer"]
    write("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    write("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    npart = n["part"]
    colour = rng.integers(0, len(COLOURS), npart)
    thing = rng.integers(0, len(THINGS), npart)
    write("part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{COLOURS[c]} {THINGS[t]}" for c, t in zip(colour, thing)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": [["ECONOMY", "STANDARD", "SMALL", "LARGE"][t] for t in rng.integers(0, 4, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900 + np.arange(npart) * 0.1, 2),
    })
    no = n["orders"]
    write("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": [["F", "O", "P"][s] for s in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(800, 500_000, no), 2),
        "o_orderdate": _ts(rng, no),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, no)],
    })
    lines = rng.integers(1, 8, no)  # 1..7 lines per order, mean 4
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    linenum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2000, nl), 2)
    write("lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": linenum,
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": [["A", "N", "R"][f] for f in rng.integers(0, 3, nl)],
        "l_linestatus": [["F", "O"][f] for f in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(rng, nl, lo="1992-01-02"),
    })
    return out_dir
