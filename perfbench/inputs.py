"""Seeded input generators. The same seed gives the same files; the
program under test only ever sees the generated tables."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# TPC-H-shaped lineitem for the co-purchase graph. Orders carry 15 lines
# on average (TPC-H: 4) so that, after tpch_graphs' l_quantity >= 44
# filter, the co-purchase graph has ~87k directed edge rows over ~5k parts.
# Its label-propagation depth still varies with the seed (4-6 rounds over
# 100 seeds), so a planted chain of CHAIN parts, bought pairwise in
# dedicated orders and holding the smallest ids, fixes the depth at
# CHAIN - 1 = 6. WCC, which votes every second round, then runs 8 rounds
# for every seed, and wcc's time follows the code rather than the seed.
LINEITEM_ROWS = 300_000
ORDERS = 20_000
PARTS = 5_000
CHAIN = 7

# bench.py's hub-skewed generator: V = E / 8, and 20% of the edges point
# at the lowest 1% of vertex ids. 1M edges is the smallest graph on which
# the join engines' skew sensor runs (operators.skew.SKEW_SENSOR_MIN_EDGES).
SYNTH_EDGES = 1_000_000
HUB_SHARE = 0.2


def lineitem(seed: int, out_dir: str) -> str:
    """Write ``lineitem.parquet`` (l_orderkey, l_partkey, l_quantity)
    under ``out_dir`` and return ``out_dir``."""
    rng = np.random.default_rng([seed, 1])
    n = LINEITEM_ROWS
    orders = rng.integers(0, ORDERS, n, dtype=np.int64)
    parts = rng.integers(CHAIN, CHAIN + PARTS, n, dtype=np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    # chain order k buys parts k and k + 1
    links = np.arange(CHAIN - 1, dtype=np.int64)
    table = pa.table({
        "l_orderkey": np.concatenate((orders, ORDERS + links, ORDERS + links)),
        "l_partkey": np.concatenate((parts, links, links + 1)),
        "l_quantity": np.concatenate((qty, np.full(2 * links.size, 50.0))),
    })
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "lineitem.parquet"))
    return out_dir


def hub_skewed_edges(seed: int, n_edges: int = SYNTH_EDGES
                     ) -> tuple[np.ndarray, np.ndarray]:
    """Directed multigraph edges (duplicates and self-loops kept, as the
    generator in bench.py keeps them)."""
    rng = np.random.default_rng([seed, 2])
    nv = n_edges // 8
    src = rng.integers(0, nv, n_edges, dtype=np.int64)
    hub = rng.random(n_edges) < HUB_SHARE
    dst = np.where(hub, rng.integers(0, nv // 100 + 1, n_edges),
                   rng.integers(0, nv, n_edges)).astype(np.int64)
    return src, dst


def write_edges(src: np.ndarray, dst: np.ndarray, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "edges.parquet")
    pq.write_table(pa.table({"src": src, "dst": dst}), path)
    return path
