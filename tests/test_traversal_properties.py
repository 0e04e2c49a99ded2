"""Property tests (SURVEY.md §5): random graphs inside the reference's
envelope (n ≤ 30, undirected, self-loops allowed — Assignment 2.pdf
p.2) checked against a pure-Python model of the pinned semantics:
- bfs_levels = min-hop levels (R5 determinism rule, SURVEY.md §7.3)
- dfs_leaves = childless vertices of the min-vid-parent BFS tree
- reachable ⊇ dfs_leaves; level-0 is exactly the start
- vertex_degree = adjacency-row sum with loops counted once
"""

from __future__ import annotations

from collections import deque

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from distributed_graph_database_spark.graph import traversal


def _edge_lists(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    pairs = st.tuples(
        st.integers(min_value=1, max_value=n), st.integers(min_value=1, max_value=n)
    )
    raw = draw(st.lists(pairs, max_size=24))
    edges = sorted({(min(a, b), max(a, b)) for a, b in raw})
    start = draw(st.integers(min_value=1, max_value=n))
    return n, edges, start


graph_case = st.composite(_edge_lists)()


def _model_bfs(edges, start):
    """Min-hop levels by textbook queue BFS over the symmetrized
    adjacency (loops once, like symmetrize())."""
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    levels = {start: 0}
    q = deque([start])
    while q:
        v = q.popleft()
        for w in sorted(adj.get(v, ())):
            if w not in levels:
                levels[w] = levels[v] + 1
                q.append(w)
    return levels


def _model_leaves(edges, start):
    levels = _model_bfs(edges, start)
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    parents = set()
    for v, lv in levels.items():
        if v == start:
            continue
        cands = [u for u in adj.get(v, ()) if levels.get(u) == lv - 1]
        parents.add(min(cands))
    return set(levels) - parents


def _spark_edges(spark, edges):
    from distributed_graph_database_spark.graph.derive import symmetrize

    if not edges:
        return spark.createDataFrame([], "src bigint, dst bigint")
    return symmetrize(spark.createDataFrame(edges, "src bigint, dst bigint"))


# Both arms of traversal's size gate: the default (these graphs run in
# the driver) and 0, which sends every non-empty edge set to the
# distributed loop.
both_arms = pytest.mark.parametrize(
    "gate", [traversal.LOCAL_MAX_EDGES, 0], ids=["local", "distributed"]
)


@both_arms
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=graph_case)
def test_bfs_levels_match_model(spark, monkeypatch, gate, case):
    monkeypatch.setattr(traversal, "LOCAL_MAX_EDGES", gate)
    n, edges, start = case
    got = {
        r.vid: r.level
        for r in traversal.bfs_levels(
            spark, _spark_edges(spark, edges), start, cache_edges=False
        ).collect()
    }
    assert got == _model_bfs(edges, start)


@both_arms
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=graph_case)
def test_dfs_leaves_match_model(spark, monkeypatch, gate, case):
    monkeypatch.setattr(traversal, "LOCAL_MAX_EDGES", gate)
    n, edges, start = case
    got = {
        r.vid
        for r in traversal.dfs_leaves(
            spark, _spark_edges(spark, edges), start, cache_edges=False
        ).collect()
    }
    want = _model_leaves(edges, start)
    assert got == want
    # leaves ⊆ reachable, and the start is level 0 exactly once
    assert got <= set(_model_bfs(edges, start))


def test_components_path_graph_converges_in_log_rounds(spark):
    """Large-star/small-star round bound (VERDICT r2 #3): a 200-vertex
    path — diameter 199, the hash-min worst case needing O(d) rounds —
    must converge in ≤ 2·log2(d) rounds and label every vertex with
    the component minimum."""
    import math

    from distributed_graph_database_spark.graph import traversal

    n = 200
    edges = [(i, i + 1) for i in range(1, n)]
    labels, rounds = traversal.connected_components_with_rounds(
        spark, _spark_edges(spark, edges)
    )
    assert rounds <= 2 * math.log2(n - 1), rounds
    got = {r.vid: r.comp for r in labels.collect()}
    assert got == {v: 1 for v in range(1, n + 1)}


def test_components_raise_when_round_budget_exhausted(spark):
    """Unconverged exit must raise, not silently return partial labels
    (the recursive-CTE oracle always computes the full closure —
    ADVICE r2)."""
    import pytest

    from distributed_graph_database_spark.graph import traversal

    edges = [(i, i + 1) for i in range(1, 64)]
    with pytest.raises(RuntimeError, match="did not converge"):
        traversal.connected_components(
            spark, _spark_edges(spark, edges), max_rounds=1
        )


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=graph_case)
def test_components_match_union_find_random(spark, case):
    """Alternating star rounds preserve connectivity on arbitrary
    small graphs (loops, multi-component, isolated starts)."""
    from distributed_graph_database_spark.graph import traversal

    n, edges, start = case
    parent = list(range(n + 1))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    verts = {v for e in edges for v in e}
    want = {v: min(u for u in verts if find(u) == find(v)) for v in verts}
    got = {
        r.vid: r.comp
        for r in traversal.connected_components(
            spark, _spark_edges(spark, edges)
        ).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(case=graph_case)
def test_vertex_degree_matches_row_sum(spark, case):
    from distributed_graph_database_spark.graph import traversal

    n, edges, start = case
    got = {
        r.vid: r.degree
        for r in traversal.vertex_degree(_spark_edges(spark, edges)).collect()
    }
    want: dict[int, int] = {}
    for a, b in edges:
        want[a] = want.get(a, 0) + 1
        if a != b:
            want[b] = want.get(b, 0) + 1
    assert got == want


def test_components_invariant_under_stars_per_check(spark):
    """stars_per_check (r11 A/B knob) must not change RESULTS — a
    fixed point is invariant under extra star applications, so any
    fusion granularity yields identical labels. (The measured A/B
    keeps 1 as the default; this pins that the knob is semantics-free
    so the experiment stays re-runnable.)"""
    from distributed_graph_database_spark.graph import traversal

    # path + a separate triangle + an isolated self-loop vertex
    edges = (
        [(i, i + 1) for i in range(1, 40)]
        + [(50, 51), (51, 52), (52, 50)]
        + [(60, 60)]
    )
    base = None
    for spc in (1, 2, 3):
        labels = traversal.connected_components(
            spark, _spark_edges(spark, edges), stars_per_check=spc
        )
        got = {(r.vid, r.comp) for r in labels.collect()}
        if base is None:
            base = got
        else:
            assert got == base, spc
