"""Seeded input generation for the benchmark.

The engine reads one parquet file per table from a scale-factor
directory. This module writes such a directory from a seed, with the
same column names, types and value domains as the engine's TPC-H-like
test tables, so the benchmark never depends on data outside its own
checkout. Only the tables the benchmark's keys read are written:
region, nation, customer, supplier, part, orders, lineitem and events.

It also generates the request-serving workload's graphs and request
stream: small undirected trees, written by the workload in the
reference's adjacency-matrix file format, and a seq-numbered mix of
add/modify writes and BFS/DFS reads.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts(days_from: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us")
    return pa.array(base + (days * 86_400_000_000).astype("timedelta64[us]"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the TPC-H-like tables at scale factor `sf` from `seed`.

    Returns the row count of each table written."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    n_ev = int(1_000_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part)
    price = np.round(900.0 + (pk % 1000) * 0.1, 2)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, i64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": price,
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(l_part, i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[l_part] * rng.uniform(1.0, 2.2, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line)),
    })
    ev_ts = np.sort(rng.uniform(0.0, 30.0, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": _ts("2024-01-01", ev_ts),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), i64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(np.maximum(0.01, rng.exponential(50.0, n_ev)), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_line, "events": n_ev,
    }


# ---------------------------------------------------------------- serving


@dataclass(frozen=True)
class Request:
    """One client request. op 1 adds a new graph, op 2 replaces an
    existing graph's edges, op 3 asks for the DFS terminal vertices and
    op 4 for the BFS order, both from vertex 1."""

    seq: int
    op: int
    graph: str
    n: int = 0
    edges: tuple[tuple[int, int], ...] = ()


def random_tree(rng: random.Random, n: int, depth: int) -> tuple[tuple[int, int], ...]:
    """An undirected tree on vertices 1..n (n > depth) whose BFS from
    vertex 1 has exactly `depth` + 1 levels: vertices 2..depth+1 form a
    path from vertex 1, and every later vertex hangs off a uniformly
    chosen earlier vertex above the last level. The depth is fixed so
    that a traversal runs the same number of rounds on every seed."""
    level = {1: 0}
    edges = []
    for v in range(2, n + 1):
        if v <= depth + 1:
            u = v - 1
        else:
            u = rng.choice([x for x in level if level[x] < depth])
        level[v] = level[u] + 1
        edges.append((u, v))
    return tuple(edges)


def serve_stream(
    seed: int, n_graphs: int, max_n: int, depth: int, block: str, length: int
) -> tuple[dict[str, tuple[int, tuple]], list[Request]]:
    """Initial graphs plus a seq-ordered request stream.

    The stream repeats `block`, a template of writes (`W`) and reads
    (`3` or `4`, the op code), so every stretch of it has the same mix
    and the same pattern of seq parities; the seed draws the graph each
    request names and the shape of every graph written. The first
    `n_graphs // 2` graphs exist before the first request; a write adds
    the next graph (op 1) with probability 0.3 while fewer than
    `n_graphs` exist and otherwise replaces an existing graph (op 2);
    reads name any graph that exists at their seq."""
    rng = random.Random(seed)
    initial: dict[str, tuple[int, tuple]] = {}
    for i in range(1, n_graphs // 2 + 1):
        n = rng.randint(max_n // 2, max_n)
        initial[f"G{i}"] = (n, random_tree(rng, n, depth))
    existing = list(initial)
    reqs: list[Request] = []
    while len(reqs) < length:
        for slot in block:
            seq = len(reqs) + 1
            if slot != "W":
                reqs.append(Request(seq, int(slot), rng.choice(existing)))
                continue
            if len(existing) < n_graphs and rng.random() < 0.3:
                existing.append(f"G{len(existing) + 1}")
                op, gid = 1, existing[-1]
            else:
                op, gid = 2, rng.choice(existing)
            n = rng.randint(max_n // 2, max_n)
            reqs.append(Request(seq, op, gid, n, random_tree(rng, n, depth)))
    return initial, reqs
