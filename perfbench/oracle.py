"""Correctness gate: every answer the benchmark times is checked here.

Key mixes are compared with their DuckDB twin from the engine's
``oracles.ORACLE_SQL`` through an order-insensitive canonical hash;
keys without a twin must return rows. Serve reads are compared with a
pure-Python BFS order or DFS terminal-vertex set computed over the
graph state the read is defined to see.
"""

from __future__ import annotations

import hashlib
import os
from collections import deque

import duckdb
import pandas as pd

from tests.oracle_harness import _canon


def canonical_hash(pdf: pd.DataFrame) -> str:
    """Hash a result independent of row and column order, over the
    canonical form of the repository's own differential check."""
    out = _canon(pdf)
    h = hashlib.sha256()
    h.update("\x1f".join(out.columns).encode())
    for row in out.itertuples(index=False):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return h.hexdigest()


class KeyOracle:
    """Expected answer per key, computed once per run by DuckDB over
    the same parquet tables the engine reads. The views cover only the
    tables present: ``oracle_harness.run_duckdb`` expects all of
    ``catalog.TABLES``, and the benchmark generates only those its keys
    read."""

    def __init__(self, sf_dir: str, oracle_sql: dict[str, str | None]):
        self._sql = oracle_sql
        self._con = duckdb.connect()
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(sf_dir, f)
                self._con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )
        self._want: dict[str, str | None] = {}

    def expected(self, key: str) -> str | None:
        """Canonical hash of the twin's answer, or None for a key
        checked by rows only."""
        if key not in self._want:
            sql = self._sql.get(key)
            self._want[key] = (
                None if sql is None
                else canonical_hash(self._con.execute(sql).fetchdf())
            )
        return self._want[key]

    def check(self, key: str, got: pd.DataFrame) -> str | None:
        """None when `got` is a correct answer for `key`, else why not."""
        want = self.expected(key)
        if want is None:
            return None if len(got) > 0 else "no rows"
        have = canonical_hash(got)
        return None if have == want else f"hash {have[:12]} != oracle {want[:12]}"

    def close(self) -> None:
        self._con.close()


def _levels(n: int, edges, start: int) -> dict[int, int]:
    adj: dict[int, set[int]] = {v: set() for v in range(1, n + 1)}
    for s, d in edges:
        adj[s].add(d)
        adj[d].add(s)
    level = {start: 0}
    todo = deque([start])
    while todo:
        v = todo.popleft()
        for u in adj[v]:
            if u not in level:
                level[u] = level[v] + 1
                todo.append(u)
    return level


def bfs_order(n: int, edges, start: int = 1) -> str:
    """Reachable vertices ordered by (level, vid), space-separated."""
    lv = _levels(n, edges, start)
    return " ".join(str(v) for v in sorted(lv, key=lambda v: (lv[v], v)))


def dfs_terminals(n: int, edges, start: int = 1) -> list[int]:
    """Terminal vertices of the deterministic traversal tree: each
    reached vertex's parent is its smallest neighbour one level up;
    terminals are reached vertices that parent no one."""
    lv = _levels(n, edges, start)
    nbrs: dict[int, set[int]] = {v: set() for v in lv}
    for s, d in edges:
        if s in lv:
            nbrs[s].add(d)
            nbrs[d].add(s)
    parents = {
        min(u for u in nbrs[v] if lv.get(u) == lv[v] - 1)
        for v in lv if v != start
    }
    return sorted(set(lv) - parents)
