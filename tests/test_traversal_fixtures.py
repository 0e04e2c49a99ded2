"""Golden-output tests on the reference's fixture graphs G1–G6.

Expected values come from FIXTURES.md (derived from the reference's
traversal semantics, Assignment 2.pdf p.5 / dfs_bfs.h) — this closes
the reference's missing-golden-outputs gap (SURVEY.md §5).
"""

from __future__ import annotations

import pytest

from distributed_graph_database_spark import fixtures
from distributed_graph_database_spark.graph import traversal
from distributed_graph_database_spark.graph.derive import symmetrize


def graph_edges_sym(spark, gid):
    _, edges = fixtures.FIXTURE_GRAPHS[gid]
    if not edges:
        return spark.createDataFrame([], "src bigint, dst bigint")
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    return symmetrize(df)


BFS_GOLDEN = {
    ("G1", 1): {(1, 0), (2, 1), (4, 1), (3, 2)},
    ("G1", 3): {(3, 0), (2, 1), (1, 2), (4, 3)},
    ("G2", 1): {(1, 0), (2, 1)},
    ("G3", 1): {(1, 0), (2, 1), (3, 1)},
    ("G3", 2): {(2, 0), (1, 1), (3, 2)},
    ("G5", 1): {(1, 0), (2, 1), (3, 1), (4, 1), (5, 2)},
    ("G5", 5): {(5, 0), (3, 1), (1, 2), (2, 3), (4, 3)},
    ("G6", 1): {(1, 0)},
    ("G8", 1): {(1, 0), (2, 1)},   # self-loop must not revisit 1
}

BFS_ORDER_GOLDEN = {
    ("G1", 1): "1 2 4 3",
    ("G1", 3): "3 2 1 4",
    ("G2", 1): "1 2",
    ("G3", 1): "1 2 3",
    ("G3", 2): "2 1 3",
    ("G5", 1): "1 2 3 4 5",
    ("G5", 5): "5 3 1 2 4",
    ("G6", 1): "1",
    ("G8", 1): "1 2",
}

DFS_LEAVES_GOLDEN = {
    ("G1", 1): {3, 4},
    ("G1", 3): {4},
    ("G2", 1): {2},
    ("G3", 1): {2, 3},
    ("G3", 2): {3},
    ("G5", 1): {2, 4, 5},
    ("G5", 5): {2, 4},
    ("G6", 1): {1},
    ("G8", 1): {2},
}

REACHABLE_GOLDEN = {
    ("G1", 1): {1, 2, 3, 4},
    ("G1", 3): {1, 2, 3, 4},
    ("G2", 1): {1, 2},
    ("G3", 1): {1, 2, 3},
    ("G3", 2): {1, 2, 3},
    ("G5", 1): {1, 2, 3, 4, 5},
    ("G5", 5): {1, 2, 3, 4, 5},
    ("G6", 1): {1},
    ("G8", 1): {1, 2},
}


@pytest.mark.parametrize("gid,start", sorted(BFS_GOLDEN))
def test_bfs_levels(spark, gid, start):
    got = {
        (r.vid, r.level)
        for r in traversal.bfs_levels(
            spark, graph_edges_sym(spark, gid), start
        ).collect()
    }
    assert got == BFS_GOLDEN[(gid, start)]


@pytest.mark.parametrize("gid,start", sorted(BFS_ORDER_GOLDEN))
def test_bfs_order(spark, gid, start):
    got = traversal.bfs_order(spark, graph_edges_sym(spark, gid), start).first()[0]
    assert got == BFS_ORDER_GOLDEN[(gid, start)]


@pytest.mark.parametrize("gid,start", sorted(DFS_LEAVES_GOLDEN))
def test_dfs_leaves(spark, gid, start):
    got = {
        r.vid
        for r in traversal.dfs_leaves(
            spark, graph_edges_sym(spark, gid), start
        ).collect()
    }
    assert got == DFS_LEAVES_GOLDEN[(gid, start)]


@pytest.mark.parametrize("gid,start", sorted(REACHABLE_GOLDEN))
def test_reachable(spark, gid, start):
    got = {
        r.vid
        for r in traversal.reachable_vertices(
            spark, graph_edges_sym(spark, gid), start
        ).collect()
    }
    assert got == REACHABLE_GOLDEN[(gid, start)]


def test_start_validation_empty_graph(spark):
    """G4 (n=0): 'Starting vertex not present in graph'
    (secondary_server.c:187-188)."""
    verts = fixtures.fixture_vertices_df(spark).filter("graph_id = 'G4'").select("vid")
    assert traversal.validate_start(verts, 1) is False
    g1 = fixtures.fixture_vertices_df(spark).filter("graph_id = 'G1'").select("vid")
    assert traversal.validate_start(g1, 1) is True


def test_bfs_validate_rejects_unknown_start(spark):
    """R10 wired into the traversal entry point: bogus start raises
    the reference's error string (secondary_server.c:187-188)."""
    edges = graph_edges_sym(spark, "G1")
    with pytest.raises(ValueError, match="Starting vertex not present"):
        traversal.bfs_levels(spark, edges, 99, validate=True)
    # valid start with validate on still works
    got = {(r.vid, r.level)
           for r in traversal.bfs_levels(spark, edges, 1, validate=True).collect()}
    assert got == BFS_GOLDEN[("G1", 1)]


def test_bfs_order_plan_is_bounded(spark, monkeypatch):
    """The formatter aggregates over orderBy+limit (per-partition
    heaps), not an unbounded single-task collect (VERDICT r1 #2).
    Pinned on the distributed arm (gate 0), where that hazard exists;
    the local arm's bound is the gate, pinned by the next test."""
    monkeypatch.setattr(traversal, "LOCAL_MAX_EDGES", 0)
    plan = (
        traversal.bfs_order(spark, graph_edges_sym(spark, "G1"), 1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_bfs_order_local_arm_input_is_bounded_by_gate(spark, monkeypatch):
    """The local arm formats in the driver, so the gate is its bound:
    levels come back as a LocalRelation only when the edge set fits
    LOCAL_MAX_EDGES rows, and then hold at most one row per edge row
    plus the root. One row over the gate sends the read to the
    distributed formatter pinned above."""
    edges = graph_edges_sym(spark, "G5")
    n_rows = edges.count()
    monkeypatch.setattr(traversal, "LOCAL_MAX_EDGES", n_rows)
    lv = traversal.bfs_levels(spark, edges, 1)
    assert lv.isLocal() and lv.count() <= n_rows + 1
    order = traversal.bfs_order_from_levels(lv)
    assert "LocalTableScan" in order._jdf.queryExecution().executedPlan().toString()
    assert order.first()[0] == BFS_ORDER_GOLDEN[("G5", 1)]

    monkeypatch.setattr(traversal, "LOCAL_MAX_EDGES", n_rows - 1)
    assert not traversal.bfs_levels(spark, edges, 1).isLocal()


def test_small_graph_read_runs_constant_jobs(spark, tmp_path):
    """A read over a stored 30-vertex graph (the reference's largest,
    ingested from its matrix file) runs at most 8 Spark jobs, for op 4
    (bfs_order) and for op 3 (bfs_levels then dfs_leaves_from_levels);
    the superstep loop ran ~44."""
    from distributed_graph_database_spark.sources import matrix

    n = 30
    # Heap-shaped tree: parent(v) = v // 2, so BFS from 1 visits 1..n
    # in order and the leaves are the vertices without a child.
    (tmp_path / "G1.txt").write_text(
        matrix.matrix_text(n, [(v // 2, v) for v in range(2, n + 1)])
    )
    sc = spark.sparkContext

    def jobs_and_result(group, read):
        sc.setJobGroup(group, group)
        try:
            sym = symmetrize(matrix.parse_matrix_dir(spark, str(tmp_path)))
            result = read(sym)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group)), result

    jobs, order = jobs_and_result(
        "read-op4", lambda sym: traversal.bfs_order(spark, sym, 1).first()[0]
    )
    assert order == " ".join(map(str, range(1, n + 1)))
    assert jobs <= 8, jobs

    jobs, leaves = jobs_and_result(
        "read-op3",
        lambda sym: {
            r.vid
            for r in traversal.dfs_leaves_from_levels(
                traversal.bfs_levels(spark, sym, 1), sym
            ).collect()
        },
    )
    assert leaves == set(range(n // 2 + 1, n + 1))
    assert jobs <= 8, jobs


def test_orderkey_unique_guards_no_distinct_derivation(spark, sf_oracle):
    """derive.derived_edges skips DISTINCT on the strength of
    o_orderkey uniqueness — assert that property on the testdata."""
    from distributed_graph_database_spark.catalog import table

    o = table(spark, sf_oracle, "orders")
    assert o.count() == o.select("o_orderkey").distinct().count()


@pytest.mark.parametrize("gid", sorted(fixtures.FIXTURE_GRAPHS))
def test_connected_components_match_union_find(spark, gid):
    """Hash-min label propagation equals a python union-find on every
    fixture graph (comp = min vid of the component)."""
    n, edges = fixtures.FIXTURE_GRAPHS[gid]
    if not edges:
        return  # empty graph: no vertices with edges, nothing to label
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for s, d in edges:
        union(s, d)
    expect = {v: find(v) for v in parent}
    got = {
        r.vid: r.comp
        for r in traversal.connected_components(
            spark, graph_edges_sym(spark, gid)
        ).collect()
    }
    assert got == expect, (gid, got, expect)


def test_vertex_degree_goldens(spark):
    got = {
        r.vid: r.degree
        for r in traversal.vertex_degree(graph_edges_sym(spark, "G1")).collect()
    }
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}
    got5 = {
        r.vid: r.degree
        for r in traversal.vertex_degree(graph_edges_sym(spark, "G5")).collect()
    }
    assert got5 == {1: 3, 2: 1, 3: 2, 4: 1, 5: 1}
    # G8: the self-loop at 1 counts ONCE (matrix diagonal row-sum
    # semantics); isolated vertex 3 has no row.
    got8 = {
        r.vid: r.degree
        for r in traversal.vertex_degree(graph_edges_sym(spark, "G8")).collect()
    }
    assert got8 == {1: 2, 2: 1}


def test_graph_stats_goldens(spark):
    graph_ids = spark.createDataFrame(
        [(g,) for g in fixtures.existing_graph_ids()], "graph_id string"
    )
    got = {
        r.graph_id: (r.n_vertices, r.n_edges)
        for r in traversal.graph_stats(
            graph_ids,
            fixtures.fixture_vertices_df(spark),
            fixtures.fixture_edges_df(spark),
        ).collect()
    }
    assert got == {
        "G1": (4, 3),
        "G2": (2, 1),
        "G3": (3, 2),
        "G4": (0, 0),
        "G5": (5, 4),
        "G6": (2, 0),
        "G8": (3, 2),
    }
